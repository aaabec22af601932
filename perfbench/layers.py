"""The layer map: why each workload exists, every metric with its unit, and
which end-to-end metric on which workload each per-layer metric should
move. A performance change names its layer here, and the workload on which
it predicts no change.

``BENCHMARK.json`` lists the same workloads and metrics; the self-test
(``selftest.py``) checks that the two agree. ``python3 perfbench/layers.py``
prints the map as markdown tables.
"""

from __future__ import annotations

WORKLOADS = {
    "chat_turns": (
        "plain-text turns only through run_extract: per-row overhead "
        "(scan, exchange, Arrow hop, sink, manifests); little DOM work"),
    "corpus_prep": (
        "every turn of sampled conversations (~55% markup) through "
        "run_corpus_prep: DOM extraction plus the JVM gate, dedup, "
        "decontamination and pack stages"),
}

# name -> (unit, better, bound, definition)
END_TO_END = {
    "turns_per_s": (
        "1/s", "higher", 0.25,
        "input turns / wall time of one entry-point call; median over the "
        "timed passes"),
    "cpu_s_per_kturn": (
        "s", "lower", 0.25,
        "CPU seconds of the whole process tree (driver, JVM, Python "
        "workers) per 1000 input turns; median over the timed passes"),
    "python_peak_rss_mb": (
        "MB", "lower", 0.2,
        "peak of the summed resident memory of the driver and the Python "
        "workers during a pass; median over the timed passes. The JVM is "
        "left out here (see jvm.peak_rss_mb): G1 grows its heap towards "
        "-Xmx at random, 2.5-5.9 GB on one input"),
    "setup_s": (
        "s", "lower", 0.25,
        "process start to a ready session: py-files zip built, one Python "
        "worker per core started; input generation excluded"),
    "ok_turn_share": (
        "share", "higher", 0.01,
        "1 - failed_turn_share: failed turns are rows with "
        "extract_ok=false plus input rows missing from the output, over "
        "all timed passes"),
}

# name -> (unit, better, source, should move, on)
PER_LAYER = {
    "extract_job.scan_s": (
        "s", "lower", "REST: wall time of the scan+exchange-write stages",
        "turns_per_s", "chat_turns"),
    "extract_job.shuffle_write_mb": (
        "MB", "lower", "REST: stage shuffle write bytes",
        "turns_per_s", "chat_turns"),
    "extract_job.spark_jobs": (
        "count", "lower", "REST: jobs of the traced call",
        "turns_per_s", "chat_turns"),
    "extract_job.tasks": (
        "count", "lower", "REST: tasks of the traced call",
        "turns_per_s", "chat_turns"),
    "extract_job.arrow_sent_mb": (
        "MB", "lower", "SQL metric: data sent to Python workers",
        "turns_per_s, python_peak_rss_mb", "chat_turns, corpus_prep"),
    "extract_job.arrow_received_mb": (
        "MB", "lower", "SQL metric: data returned from Python workers",
        "turns_per_s, python_peak_rss_mb", "chat_turns, corpus_prep"),
    "extract_job.python_s": (
        "s", "lower", "SQL metric: time to run Python workers",
        "cpu_s_per_kturn", "corpus_prep"),
    "extract_job.python_start_s": (
        "s", "lower", "SQL metric: time to start + initialize Python workers",
        "setup_s, turns_per_s", "all"),
    "extract_job.udf_task_skew": (
        "ratio", "lower", "REST: sum of max / sum of median task run time "
                          "over the UDF stages",
        "turns_per_s", "corpus_prep"),
    "extract_job.sink_s": (
        "s", "lower", "REST: manifest read-back executions + job commit",
        "turns_per_s", "chat_turns"),
    "extract_job.output_mb": (
        "MB", "lower", "REST: stage output bytes",
        "turns_per_s", "chat_turns"),
    "extract_job.gc_s": (
        "s", "lower", "REST: JVM GC time of the stages",
        "turns_per_s", "all"),
    "extract_job.spill_mb": (
        "MB", "lower", "REST: disk bytes spilled",
        "turns_per_s", "all"),
    "extract_job.failed_tasks": (
        "count", "lower", "REST: failed tasks",
        "ok_turn_share", "all"),
    "udf.adapter_ms_per_kturn": (
        "ms", "lower", "replay: extract_map_in_pandas over 512-row batches "
                       "minus extract_row over the same rows",
        "turns_per_s", "chat_turns"),
    "dom.parse_ms_p50": (
        "ms", "lower", "replay: dom.parse time per document",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep (not chat_turns)"),
    "dom.parse_ms_p99": (
        "ms", "lower", "replay: dom.parse time per document",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep (not chat_turns)"),
    "dom.select_calls_per_doc": (
        "count", "lower", "replay: dom.select calls per document",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep (not chat_turns)"),
    "dom.select_s": (
        "s", "lower", "replay: outermost dom.select spans",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep (not chat_turns)"),
    "extractor.doc_ms_p50": (
        "ms", "lower", "replay: extract_row time per document",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep"),
    "extractor.doc_ms_p99": (
        "ms", "lower", "replay: extract_row time per document",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep"),
    "extractor.doc_ms_max": (
        "ms", "lower", "replay: extract_row time per document",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep"),
    "extractor.top1pct_share": (
        "share", "lower", "replay: share of time in the slowest 1% of docs",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep"),
    "metadata.self_s": (
        "s", "lower", "replay: self time of the metadata cascades",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep"),
    "author.self_s": (
        "s", "lower", "replay: self time of author name/description",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep"),
    "dates.self_s": (
        "s", "lower", "replay: self time of date parsing",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep"),
    "formatter.self_s": (
        "s", "lower", "replay: self time of OutputFormatter",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep"),
    "heuristics.self_s": (
        "s", "lower", "replay: self time of candidate scoring and "
                      "boilerplate stripping (weights.py under the "
                      "heuristics patterns)",
        "turns_per_s, cpu_s_per_kturn", "corpus_prep"),
    "corpus_prep.extract_s": (
        "s", "lower", "REST: SQL executions on extracted/",
        "turns_per_s", "corpus_prep"),
    "corpus_prep.survivors_s": (
        "s", "lower", "REST: SQL executions on survivors/ and the gram table",
        "turns_per_s", "corpus_prep"),
    "corpus_prep.pack_s": (
        "s", "lower", "REST: SQL executions on packed/",
        "turns_per_s", "corpus_prep"),
    "corpus_prep.shuffle_write_mb": (
        "MB", "lower", "REST: shuffle write of the survivors and pack stages",
        "turns_per_s", "corpus_prep"),
    "corpus_prep.gate_rows": (
        "count", "higher", "run_corpus_prep's returned metrics",
        "correctness; attrition", "corpus_prep"),
    "corpus_prep.dedup_rows": (
        "count", "higher", "run_corpus_prep's returned metrics",
        "correctness; attrition", "corpus_prep"),
    "corpus_prep.clean_rows": (
        "count", "higher", "run_corpus_prep's returned metrics",
        "correctness; attrition", "corpus_prep"),
    "corpus_prep.n_sequences": (
        "count", "higher", "run_corpus_prep's returned metrics",
        "correctness; attrition", "corpus_prep"),
    "total.peak_rss_mb": (
        "MB", "lower", "peak summed resident memory of the whole process "
                       "tree (JVM included) during a pass, median of passes",
        "memory of a run; too noisy to bound", "all"),
    "jvm.peak_rss_mb": (
        "MB", "lower", "peak resident memory of the JVM during a pass, "
                       "median of passes",
        "memory of a run; too noisy to bound", "all"),
    "traced.turns_per_s": (
        "1/s", "higher", "turns_per_s of the traced passes",
        "tracing overhead", "all"),
    "untraced.turns_per_s": (
        "1/s", "higher", "turns_per_s of the untraced passes of the same run",
        "tracing overhead", "all"),
    "tracing.overhead_share": (
        "share", "lower", "1 - traced / untraced turns_per_s",
        "tracing overhead", "all"),
}

# Per-layer figures that do not apply to a workload read 0: the
# survivors/pack figures and the attrition counts on chat_turns, whose one
# run_extract call counts as the corpus_prep.extract_s stage.


def print_map() -> None:
    """The layer map as a markdown table."""
    print("| workload | why |\n|---|---|")
    for name, why in WORKLOADS.items():
        print(f"| {name} | {why} |")
    print("\n| end-to-end metric | unit | better | bound | definition |")
    print("|---|---|---|---|---|")
    for name, (unit, better, bound, what) in END_TO_END.items():
        print(f"| {name} | {unit} | {better} | {bound} | {what} |")
    print("\n| layer metric | unit | source | should move | on |")
    print("|---|---|---|---|---|")
    for name, (unit, _better, source, moves, on) in PER_LAYER.items():
        print(f"| {name} | {unit} | {source} | {moves} | {on} |")


if __name__ == "__main__":
    print_map()
