"""Benchmark of the snacktory_spark pipeline through its public entry
points, ``run_extract`` and ``run_corpus_prep``.

    python3 perfbench/run.py --workload chat_turns --seed 1 \\
        --seconds 3 --trace 0

Run it from the root of a checkout. It generates the workload's input from
the seed (a sample of the committed ``data/synth/sf1.0`` transcripts),
starts the program in a child process with its default session
(``build_session`` on ``local[<cores>]``), warms up with one untimed pass,
runs timed passes until ``--seconds`` have passed (at least one), checks
the outputs and prints, as the last line of standard output, one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see ``layers.py``). The line before it is a record of
the run: the input's traffic shares, the host-speed diagnostic and every
pass. A run whose outputs fail the check prints no metrics and reports
``"correct": false``. Everything the run writes goes under
``.perfbench_run/`` in the checkout; a traced run leaves its spans there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())   # the checkout root holds snacktory_spark

import layers  # noqa: E402
import proctree  # noqa: E402

RUN_ROOT = ".perfbench_run"
SIZES = {"chat_turns": 12000, "corpus_prep": 1500}   # turns per pass
DEADLINE_S = 165          # the measured child is stopped past this point
REQUIRED = ("snacktory_spark/pipeline/extract_job.py",
            "snacktory_spark/pipeline/corpus_prep_job.py",
            "data/synth/sf1.0/transcripts.parquet",
            "data/synth/sf1.0/expected.parquet")


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session `sid`."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getsid(int(name)) != sid:
                    continue
            except OSError:
                continue
            fields = proctree._stat_fields(int(name))
            if fields is not None and fields[0] != "Z":
                out.append(int(name))
    return out


def stop_session(sid: int) -> None:
    """Stop every process of a child's session and wait until all have
    ended. A session, not a process group: the Python daemon Spark starts
    moves itself and its workers into a process group of their own."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                continue
        end = time.time() + 10
        while pids and time.time() < end:
            time.sleep(0.1)
            pids = _session_pids(sid)
        if not pids:
            return


def run_child(args: list[str], env: dict, log: str, timeout: float) -> None:
    with open(log, "ab") as f:
        proc = subprocess.Popen(args, stdout=f, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
    code = None
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        stop_session(proc.pid)
        proc.wait()
    if code != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{os.path.basename(args[1])} failed "
                           f"(exit {code}):\n{tail}")


def session_child(work: str, env: dict, args: list[str],
                  timeout: float) -> dict:
    """Run session.py in a session of its own and return its figures.
    Temporary files of the driver, the JVM and Spark go to the run
    directory; a fresh one per run also means the py-files zip is built
    every time, as on a first run."""
    result = os.path.join(work, "session.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(env, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    run_child([sys.executable, os.path.join(HERE, "session.py"),
               "--spawned-at", repr(time.time()), "--result", result,
               *args], env, os.path.join(work, "session.log"), timeout)
    with open(result) as f:
        return json.load(f)


def end_to_end(child: dict, check: dict) -> dict:
    passes = child["passes"]
    rows = check["attempted"] / len(passes)
    values = {
        "turns_per_s": statistics.median(p["turns_per_s"] for p in passes),
        "cpu_s_per_kturn": statistics.median(
            p["cpu_s"] / rows * 1e3 for p in passes),
        "python_peak_rss_mb": statistics.median(
            p["peak_rss_mb"]["python"] for p in passes),
        "setup_s": child["setup_s"],
        "ok_turn_share": 1 - check["failed"] / check["attempted"],
    }
    return {k: {"value": v, "unit": layers.END_TO_END[k][0]}
            for k, v in values.items()}


def per_layer(child: dict) -> dict:
    got = child["layers"]
    return {k: {"value": got[k], "unit": spec[0]}
            for k, spec in layers.PER_LAYER.items()}


def execute(workload: str, seed: int, seconds: float, trace: int,
            size: int, work: str) -> tuple[dict, dict, dict]:
    """Generate, measure and check one run inside `work`. Returns the
    record, the result line and the child's raw figures."""
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
    phases = {}
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "workloads.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--size", str(size),
                    "--out", os.path.join(work, "input")],
                   env=env, check=True, stdout=subprocess.DEVNULL,
                   timeout=120)
    with open(os.path.join(work, "input", "shares.json")) as f:
        shares = json.load(f)
    phases["generate_s"] = time.perf_counter() - t0
    child = session_child(
        work, env, ["--workload", workload, "--work", work,
                    "--seconds", str(seconds), "--trace", str(trace)],
        DEADLINE_S - (time.perf_counter() - t0))
    phases["session_s"] = time.perf_counter() - t0

    from check import check_run
    check = check_run(workload, work, child["passes"],
                      os.path.join(os.path.dirname(work), "ledger.json"),
                      seed)
    correct = not check["problems"]
    phases["check_s"] = time.perf_counter() - t0
    record = {
        "workload": workload, "seed": seed, "trace": trace,
        "why": layers.WORKLOADS[workload], "shares": shares,
        "phases_s": phases,
        "setup_s": child["setup_s"], "warmup_s": child["warmup_s"],
        "timed_s": child["timed_s"],
        "passes": [{k: v for k, v in q.items() if k != "out"}
                   for q in child["passes"]],
        "host_speed_ms": [(q["host_before_ms"], q["host_after_ms"])
                          for q in child["passes"]],
        "corpus_counts": check["corpus_counts"],
        "packed_digest": check["packed_digest"],
        "problems": check["problems"][:20],
    }
    metrics = {}
    if correct:
        metrics = (per_layer(child) if trace
                   else end_to_end(child, check))
    result = {"correct": correct, "attempted": check["attempted"],
              "failed": check["failed"] if correct else check["attempted"],
              "metrics": metrics}
    return record, result, child


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=list(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    # turn SIGTERM into SystemExit so the finally clauses stop the
    # measured process group and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [f for f in REQUIRED if not os.path.exists(f)]
    if missing:
        print(f"not a checkout of the program: missing {missing}",
              file=sys.stderr)
        return 2
    os.makedirs(RUN_ROOT, exist_ok=True)
    work = os.path.abspath(os.path.join(
        RUN_ROOT, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    os.makedirs(work)
    try:
        record, result, _ = execute(a.workload, a.seed, a.seconds, a.trace,
                                    SIZES[a.workload], work)
        spans = os.path.join(work, "spans.jsonl.gz")
        if os.path.exists(spans):
            record["spans"] = f"{work}.spans.jsonl.gz"
            os.replace(spans, record["spans"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    for m in record["problems"]:
        print(f"correctness: {m}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
