"""Arrow-vectorized extraction UDFs (SURVEY.md §1.2, §3 EP1 Spark mapping).

The whole reference library is one scalar ``String html → JResult`` function;
here it becomes a single vectorized mapInPandas stage: Arrow
batch in → per-row pure-python extraction (module-level compiled regex/rule
tables, warm per worker like the reference's static Patterns) → Arrow batch
out. No per-row Python dispatch from the JVM.

Rows reach `extract(text, "")` with no url, so a tag-free turn (plain chat
text) takes extract's exact shortcut: the empty result plus the regex
date, with no DOM cascade. What such a row still costs here is the Arrow
hop and this adapter, not extraction.

Failure policy for web-scale runs: a row that throws yields an empty result
with extract_ok=false + extract_error, never a task failure.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd

# DOM text/serialize walks recurse to the document depth; adversarial pages
# nest thousands of levels (the 500KB input cap bounds depth to ~100k).
# Deeper than this still degrades safely to extract_ok=false.
if sys.getrecursionlimit() < 30_000:
    sys.setrecursionlimit(30_000)

# The DOM carries parent<->child reference cycles, so every parsed document
# is reclaimed by the cyclic GC; default gen-0 threshold (700) triggers
# collections mid-parse constantly. Wider thresholds = +5-10% throughput
# (measured), bounded retention (a few documents between sweeps).
import gc as _gc  # noqa: E402

_gc.set_threshold(50_000, 500, 1_000)

from .extractor import empty_result, extract
from .schema import EXTRACT_SCHEMA

_RESULT_FIELDS = [f.name for f in EXTRACT_SCHEMA.fields]


def extract_row(text: str | None, url: str | None) -> dict:
    """Extract one row; never raises."""
    if not text:
        res = empty_result(url or "")
        res["extract_ok"] = False
        res["extract_error"] = "empty text"
        return res
    try:
        res = extract(text, url or "")
        res["extract_ok"] = True
        res["extract_error"] = None
        return res
    except Exception as e:  # noqa: BLE001 — robustness over a 10^12-row table
        res = empty_result(url or "")
        res["extract_ok"] = False
        res["extract_error"] = f"{type(e).__name__}: {e}"[:500]
        return res


def _results_to_frame(results: list[dict]) -> pd.DataFrame:
    cols: dict[str, list] = {name: [] for name in _RESULT_FIELDS}
    for res in results:
        for name in _RESULT_FIELDS:
            cols[name].append(res.get(name))
    frame = pd.DataFrame(cols)
    # TimestampType wants datetime64; dates are tz-aware UTC python datetimes
    frame["date"] = pd.to_datetime(frame["date"], utc=True, errors="coerce")
    return frame


def _utf8_sizes(texts) -> list[int]:
    return [len(t.encode("utf-8")) if isinstance(t, str) else 0
            for t in texts]


def extract_map_in_pandas(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The one mapInPandas stage: batches with a `text` column → one row
    per input row with the extraction result.

    Every input column but `text` and `input_file` passes through first
    (the transcript keys conv_id, turn_idx, role, tool, ts; or the content
    hash h on the dedup path), then the EXTRACT_SCHEMA fields, then the
    lineage columns: exact input/output byte sizes and the source file
    (NULL when the batch has no input_file), so manifests derive from a
    column-pruned scan of the written output alone.
    """
    for pdf in iterator:
        pdf = pdf.reset_index(drop=True)
        out = _results_to_frame([extract_row(t, "") for t in pdf["text"]])
        out["input_bytes"] = _utf8_sizes(pdf["text"])
        out["output_bytes"] = _utf8_sizes(out["text"])
        out["input_file"] = pdf.get("input_file")
        keys = pdf.drop(columns=["text", "input_file"], errors="ignore")
        yield pd.concat([keys, out], axis=1)
