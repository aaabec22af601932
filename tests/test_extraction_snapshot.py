"""Every committed sf0.01 turn extracts to its committed snapshot row, with
no Spark.

`data/synth/sf0.01/expected_extraction.parquet` holds all 23 columns of
this repo's own extractor output for each of the 1,711 turns of
`transcripts.parquet`, written by `snacktory_spark.data.synth`. So it is a
regression guard: it catches any change to what the extractor emits (the
formatter, metadata cascades, dates, links, images), not a divergence from
the reference. The reference-derived assertions are in `expected.parquet`
(tests/test_golden.py).
"""

import os

import pandas as pd

from snacktory_spark.data.synth import extraction_row
from snacktory_spark.udf import extract_row

SF = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                  "data", "synth", "sf0.01")


def test_extract_row_matches_committed_snapshot():
    turns = pd.read_parquet(os.path.join(SF, "transcripts.parquet"),
                            columns=["conv_id", "turn_idx", "text"])
    expected = pd.read_parquet(os.path.join(SF, "expected_extraction.parquet"))
    assert len(turns) == len(expected) == 1711
    assert list(expected.columns) == ["conv_id", "turn_idx",
                                      *extraction_row(None)]
    want = expected.set_index(["conv_id", "turn_idx"]).to_dict("index")
    diffs = []
    for cid, ti, text in turns.itertuples(index=False):
        res = extract_row(text, "")
        got = extraction_row(res if res["extract_ok"] else None)
        row = want[(cid, ti)]
        diffs += [(cid, ti, f, got[f], row[f]) for f in got if got[f] != row[f]]
    assert not diffs, f"{len(diffs)} fields differ, first: {diffs[:3]}"
