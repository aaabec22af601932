"""Correctness check of a run's outputs, independent of Spark.

For every timed pass:
* extraction is 1 row in, 1 row out: each input (conv_id, turn_idx)
  appears exactly once in the written output and nothing else does;
* the run's reported counts agree with the output.

On the last pass, in full:
* every sampled markup turn meets its golden assertions from
  ``expected.parquet`` (the q_golden_equality booleans: title, text
  start/end/contains/full, author, date);
* every row's ``input_bytes`` equals the UTF-8 size of its input text;
* a seeded sample of rows (all rows when the input is small) equals the
  program's single-node ``extract_row`` on the same text, field by field.

For corpus_prep, the attrition counts and an order-independent digest of
``packed/`` must repeat exactly across the passes of a run and across runs
of the same seed (a ledger in the run directory's parent keeps them).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

REFERENCE_ROWS = 200
COMPARED = ("title", "text", "description", "canonical_url", "author_name",
            "extract_ok")
COUNTS = ("gate_rows", "dedup_rows", "clean_rows", "n_sequences",
          "n_tokens_packed")


def read_output(path: str, columns: list[str]) -> pa.Table:
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table(columns=columns)


def _keys(t: pa.Table) -> pa.Array:
    return pc.binary_join_element_wise(
        t.column("conv_id"), pc.cast(t.column("turn_idx"), pa.string()), "#")


def key_problems(inp: pa.Table, out: pa.Table) -> list[str]:
    problems = []
    k_in, k_out = _keys(inp), _keys(out)
    if out.num_rows != inp.num_rows:
        problems.append(f"{inp.num_rows} rows in, {out.num_rows} rows out")
    if pc.count_distinct(k_out).as_py() != out.num_rows:
        problems.append("a (conv_id, turn_idx) appears more than once")
    missing = pc.sum(pc.invert(pc.is_in(k_in, value_set=k_out))).as_py()
    extra = pc.sum(pc.invert(pc.is_in(k_out, value_set=k_in))).as_py()
    if missing or extra:
        problems.append(f"{missing} input keys missing, {extra} unknown "
                        "keys in output")
    return problems


def _date_str(v) -> str | None:
    if v is None:
        return None
    if v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v.strftime("%Y-%m-%d %H:%M:%S")


def golden_problems(out: dict, expected: pa.Table) -> list[str]:
    """The q_golden_equality assertions; a null expectation passes."""
    problems = []
    for e in expected.to_pylist():
        key = (e["conv_id"], e["turn_idx"])
        row = out.get(key)
        if row is None:
            continue   # reported by key_problems
        text = row["text"] or ""
        checks = {
            "title": lambda v: row["title"] == v,
            "text_start": text.startswith,
            "text_end": text.endswith,
            "text_contains": lambda v: v in text,
            "text_full": lambda v: text == v,
            "author": lambda v: row["author_name"] == v,
            "date": lambda v: _date_str(row["date"]) == v,
        }
        for name, ok in checks.items():
            want = e[f"exp_{name}"]
            if want is not None and not ok(want):
                problems.append(f"{key}: golden {name} assertion fails")
    return problems


def reference_problems(inp: pa.Table, out: dict, seed_rows: np.ndarray
                       ) -> list[str]:
    from snacktory_spark.udf import extract_row
    problems = []
    for i in seed_rows:
        r = inp.slice(int(i), 1).to_pylist()[0]
        key = (r["conv_id"], r["turn_idx"])
        got = out.get(key)
        if got is None:
            continue
        want = extract_row(r["text"], "")
        for f in COMPARED:
            if got[f] != want[f]:
                problems.append(f"{key}: {f} differs from extract_row")
        if _date_str(got["date"]) != _date_str(want["date"]):
            problems.append(f"{key}: date differs from extract_row")
    return problems


def packed_digest(path: str) -> str:
    t = pq.read_table(path)
    rows = sorted(json.dumps(r, sort_keys=True, default=str)
                  for r in t.to_pylist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_run(workload: str, work: str, passes: list[dict],
              ledger_path: str | None = None, seed: int = 0) -> dict:
    """Returns {"problems": [...], "attempted": n, "failed": n}."""
    inp = pq.read_table(os.path.join(work, "input", "transcripts.parquet"))
    problems: list[str] = []
    failed = 0
    digests, counts = [], []
    for p in passes:
        extracted = os.path.join(p["out"], "extracted")
        out = read_output(extracted, ["conv_id", "turn_idx", "extract_ok"])
        found = key_problems(inp, out)
        problems += [f"{os.path.basename(p['out'])}: {m}" for m in found]
        lost = max(0, inp.num_rows - out.num_rows)
        bad = pc.sum(pc.invert(out.column("extract_ok"))).as_py() or 0
        failed += lost + bad
        m = p["metrics"]
        ex = m["extract"] if workload == "corpus_prep" else m
        if ex.get("output_rows") != out.num_rows:
            problems.append(f"{os.path.basename(p['out'])}: reported "
                            f"{ex.get('output_rows')} output rows, found "
                            f"{out.num_rows}")
        if workload == "corpus_prep":
            counts.append({k: m[k] for k in COUNTS})
            digests.append(packed_digest(os.path.join(p["out"], "packed")))

    last = os.path.join(passes[-1]["out"], "extracted")
    cols = ["conv_id", "turn_idx", "input_bytes", "date", *COMPARED]
    out_t = read_output(last, cols)
    out = {(r["conv_id"], r["turn_idx"]): r for r in out_t.to_pylist()}
    expected = pq.read_table(os.path.join(work, "input", "expected.parquet"))
    problems += golden_problems(out, expected)
    size = {(c, t): len(x.encode("utf-8")) for c, t, x in zip(
        inp.column("conv_id").to_pylist(), inp.column("turn_idx").to_pylist(),
        inp.column("text").to_pylist())}
    wrong_size = sum(1 for k, r in out.items()
                     if k in size and r["input_bytes"] != size[k])
    if wrong_size:
        problems.append(f"{wrong_size} rows carry a wrong input_bytes")
    rng = np.random.default_rng([seed, 99])
    pick = rng.permutation(inp.num_rows)[:REFERENCE_ROWS]
    problems += reference_problems(inp, out, pick)

    if workload == "corpus_prep":
        if any(c != counts[0] for c in counts) or len(set(digests)) > 1:
            problems.append("corpus_prep counts or packed/ digest differ "
                            "between passes of one run")
        if counts[0]["clean_rows"] >= counts[0]["dedup_rows"]:
            problems.append("decontamination dropped no row")
        if ledger_path:
            key = f"{workload}:seed={seed}:rows={inp.num_rows}"
            problems += _ledger(ledger_path, key,
                                {"counts": counts[0], "packed": digests[0]})
    return {"problems": problems, "failed": failed,
            "attempted": inp.num_rows * len(passes),
            "corpus_counts": counts[0] if counts else None,
            "packed_digest": digests[0] if digests else None}


def _ledger(path: str, key: str, rec: dict) -> list[str]:
    """Compare with the record of an earlier run of the same seed, or
    store this one."""
    book = {}
    if os.path.exists(path):
        with open(path) as f:
            book = json.load(f)
    if key in book:
        return ([] if book[key] == rec else
                [f"corpus_prep result differs from an earlier run of {key}"])
    book[key] = rec
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(book, f)
    os.replace(tmp, path)
    return []
