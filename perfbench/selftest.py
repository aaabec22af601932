"""Self-test of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py

It checks that
* ``BENCHMARK.json`` and ``layers.py`` list the same workloads and metrics;
* every workload runs on a tiny seeded input, traced and untraced, passes
  the correctness check and prints every metric by name with its unit;
* the correctness check rejects an output with one dropped row and one
  with one altered ``text``;
* in a directory holding only ``BENCHMARK.json`` and the benchmark's own
  files, the benchmark exits non-zero without printing a result.

Exits 0 when all hold; prints each failure otherwise. Takes a few minutes.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import layers  # noqa: E402
import run  # noqa: E402
from check import REFERENCE_ROWS, check_run  # noqa: E402

TINY = 24          # turns per timed pass
SEED = 7


def spec_problems() -> list[str]:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    problems = []
    names = [w["name"] for w in bench["workloads"]]
    if names != list(layers.WORKLOADS):
        problems.append(f"workloads {names} != {list(layers.WORKLOADS)}")
    for m in bench["end_to_end"]:
        spec = layers.END_TO_END.get(m["name"])
        if spec is None or (m["unit"], m["better"], m["bound"]) != spec[:3]:
            problems.append(f"end_to_end {m['name']} disagrees with layers.py")
    if {m["name"] for m in bench["end_to_end"]} != set(layers.END_TO_END):
        problems.append("end_to_end names disagree with layers.py")
    for m in bench["per_layer"]:
        spec = layers.PER_LAYER.get(m["name"])
        if spec is None or (m["unit"], m["better"]) != spec[:2]:
            problems.append(f"per_layer {m['name']} disagrees with layers.py")
    if {m["name"] for m in bench["per_layer"]} != set(layers.PER_LAYER):
        problems.append("per_layer names disagree with layers.py")
    return problems


def metric_problems(result: dict, expected: dict, label: str) -> list[str]:
    problems = []
    if not result["correct"]:
        problems.append(f"{label}: correctness check failed")
    got = result["metrics"]
    for name, spec in expected.items():
        m = got.get(name)
        if m is None:
            problems.append(f"{label}: metric {name} missing")
        elif m["unit"] != spec[0]:
            problems.append(f"{label}: {name} unit {m['unit']} != {spec[0]}")
        elif not (isinstance(m["value"], (int, float))
                  and math.isfinite(m["value"])):
            problems.append(f"{label}: {name} value {m['value']!r}")
    extra = set(got) - set(expected)
    if extra:
        problems.append(f"{label}: unexpected metrics {sorted(extra)}")
    return problems


def _rewrite_first_file(extracted: str, change) -> tuple[str, bytes]:
    path = sorted(glob.glob(os.path.join(extracted, "bucket=*", "*.parquet"))
                  )[0]
    with open(path, "rb") as f:
        original = f.read()
    pq.write_table(change(pq.read_table(path)), path)
    return path, original


def corruption_problems(workload: str, work: str, passes: list[dict]
                        ) -> list[str]:
    """The check must reject one dropped row and one altered text."""
    extracted = os.path.join(passes[-1]["out"], "extracted")

    def drop_row(t):
        return t.slice(1)

    def alter_text(t):
        field = t.schema.field("text")
        text = t.column("text").to_pylist()
        text[0] = (text[0] or "") + " altered"
        return t.set_column(t.schema.get_field_index("text"), field,
                            pa.array(text, field.type))

    problems = []
    for label, change in (("dropped row", drop_row),
                          ("altered text", alter_text)):
        path, original = _rewrite_first_file(extracted, change)
        try:
            found = check_run(workload, work, passes[-1:])["problems"]
        finally:
            with open(path, "wb") as f:
                f.write(original)
        if not found:
            problems.append(f"{workload}: check accepted an output with "
                            f"one {label}")
    return problems


def bare_directory_problems() -> list[str]:
    bare = os.path.abspath(os.path.join(run.RUN_ROOT, "selftest-bare"))
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "chat_turns",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=170)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    problems = []
    if p.returncode == 0:
        problems.append("bare directory: exit code 0")
    if '"correct"' in p.stdout:
        problems.append("bare directory: printed a result")
    return problems


def main() -> int:
    problems = spec_problems()
    os.makedirs(run.RUN_ROOT, exist_ok=True)
    for workload in layers.WORKLOADS:
        for trace in (0, 1):
            label = f"{workload} trace={trace}"
            work = os.path.abspath(os.path.join(
                run.RUN_ROOT, f"selftest-{workload}-t{trace}"))
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            try:
                record, result, child = run.execute(
                    workload, SEED, 1, trace, TINY, work)
                print(label, json.dumps(result)[:300], flush=True)
                expected = layers.PER_LAYER if trace else layers.END_TO_END
                problems += metric_problems(result, expected, label)
                if trace == 0:
                    if record["shares"]["rows"] > REFERENCE_ROWS:
                        problems.append(f"{label}: tiny input too large for "
                                        "a full reference comparison")
                    problems += corruption_problems(workload, work,
                                                    child["passes"])
            finally:
                shutil.rmtree(work, ignore_errors=True)
    problems += bare_directory_problems()
    for m in problems:
        print("FAIL", m)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
