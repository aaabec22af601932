"""Per-layer figures for a traced run.

Two sources, both observed from outside the program:

* The Spark status REST API of the running session (``localhost``): every
  job of a traced pass carries the pass's job description, so its SQL
  executions, jobs and stages can be picked out and attributed to a stage
  of the pipeline by the ``extracted/``, ``survivors/`` or ``packed/`` path
  in their plans.
* A driver-side replay of a seeded turn sample through the extraction
  functions, with timing wrappers installed on the functions each layer
  exposes to the one above it. Each wrapped call records a span (name,
  start, end, parent); a layer's self time is its spans' duration minus
  the part covered by their direct child spans.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


class Tracer:
    """In-memory span recorder. A span is [name, start, end, parent]."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield f"perfbench:{name}:{idx}"
        finally:
            self._close(idx)

    def _open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent])
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)
        return traced

    def self_times(self, first: int = 0) -> dict[str, float]:
        """Seconds of self time per span name, over spans[first:]."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent in self.spans[first:]:
            if parent >= first:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for i in range(first, len(self.spans)):
            name, t0, t1, _ = self.spans[i]
            out[name] = out.get(name, 0.0) + (t1 - t0) - child[i]
        return out

    def write(self, path: str) -> None:
        with gzip.open(path, "wt") as f:
            for name, t0, t1, parent in self.spans:
                f.write(json.dumps([name, t0, t1, parent]) + "\n")


# ---------------------------------------------------------------- REST API

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)?")


def parse_sql_metric(value: str) -> float:
    """A SQL UI metric string in base units (bytes or seconds). Sums are
    printed as 'total (min, med, max ...)\\n<total> (...)'."""
    line = value.split("\n")[-1]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class StatusApi:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{sc.applicationId}/")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)


def _ms(stamp: str) -> float:
    """REST timestamps look like 2026-01-01T10:06:42.478GMT."""
    import datetime as dt
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


def _stage_of(plan: str) -> str:
    for stage, mark in (("pack", "/packed"), ("survivors", "/survivors"),
                        ("extract", "/extracted")):
        if mark in plan:
            return stage
    return "survivors" if "grams.parquet" in plan else "other"


def spark_layers(api: StatusApi, desc: str) -> dict[str, float]:
    """Layer figures of the SQL executions tagged `desc`."""
    execs = [e for e in api.get("sql?details=true&planDescription=true"
                                "&length=100000")
             if e.get("description") == desc]
    jobs = {j["jobId"]: j for j in api.get("jobs")}
    stages = {(s["stageId"], s["attemptId"]): s
              for s in api.get("stages")
              if s["status"] in ("COMPLETE", "FAILED")}
    by_stage_id: dict[int, list[dict]] = {}
    for s in stages.values():
        by_stage_id.setdefault(s["stageId"], []).append(s)

    out = {k: 0.0 for k in (
        "extract_job.scan_s", "extract_job.shuffle_write_mb",
        "extract_job.spark_jobs", "extract_job.tasks",
        "extract_job.arrow_sent_mb", "extract_job.arrow_received_mb",
        "extract_job.python_s", "extract_job.python_start_s",
        "extract_job.sink_s", "extract_job.output_mb", "extract_job.gc_s",
        "extract_job.spill_mb", "extract_job.failed_tasks",
        "corpus_prep.extract_s", "corpus_prep.survivors_s",
        "corpus_prep.pack_s", "corpus_prep.shuffle_write_mb")}
    skew_max = skew_med = 0.0
    for e in execs:
        stage_kind = _stage_of(e.get("planDescription", ""))
        dur_s = e.get("duration", 0) / 1e3
        if stage_kind in ("extract", "survivors", "pack"):
            out[f"corpus_prep.{stage_kind}_s"] += dur_s
        job_ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
        ran = [s for j in job_ids for sid in jobs[j]["stageIds"]
               for s in by_stage_id.get(sid, ())]
        if stage_kind in ("survivors", "pack"):
            out["corpus_prep.shuffle_write_mb"] += sum(
                s["shuffleWriteBytes"] for s in ran) / 1e6
        if stage_kind != "extract":
            continue
        nodes = {n["nodeName"]: n for n in e.get("nodes", [])}
        writes = "Execute InsertIntoHadoopFsRelationCommand" in nodes
        out["extract_job.spark_jobs"] += len(job_ids)
        for s in ran:
            out["extract_job.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            out["extract_job.failed_tasks"] += s["numFailedTasks"]
            out["extract_job.shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
            out["extract_job.output_mb"] += s["outputBytes"] / 1e6
            out["extract_job.gc_s"] += s["jvmGcTime"] / 1e3
            out["extract_job.spill_mb"] += s["diskBytesSpilled"] / 1e6
            if not writes:
                continue
            if s["inputBytes"] > 0 and s["shuffleWriteBytes"] > 0:
                out["extract_job.scan_s"] += (
                    _ms(s["completionTime"]) - _ms(s["firstTaskLaunchedTime"]))
            elif s["outputBytes"] > 0:
                runs = [t["taskMetrics"]["executorRunTime"] for t in api.get(
                    f"stages/{s['stageId']}/{s['attemptId']}/taskList"
                    "?length=100000") if "taskMetrics" in t]
                if runs:
                    skew_max += max(runs)
                    skew_med += statistics.median(runs)
        if writes:
            write = nodes["Execute InsertIntoHadoopFsRelationCommand"]
            for m in write["metrics"]:
                if m["name"] == "job commit time":
                    out["extract_job.sink_s"] += parse_sql_metric(m["value"])
        else:
            out["extract_job.sink_s"] += dur_s
        for m in nodes.get("MapInPandas", {}).get("metrics", []):
            v = parse_sql_metric(m["value"])
            if m["name"] == "data sent to Python workers":
                out["extract_job.arrow_sent_mb"] += v / 1e6
            elif m["name"] == "data returned from Python workers":
                out["extract_job.arrow_received_mb"] += v / 1e6
            elif m["name"] == "time to run Python workers":
                out["extract_job.python_s"] += v
            elif m["name"] in ("time to start Python workers",
                               "time to initialize Python workers"):
                out["extract_job.python_start_s"] += v
    out["extract_job.udf_task_skew"] = skew_max / skew_med if skew_med else 0.0
    return out


# ------------------------------------------------------------------ replay

def _install(tracer: Tracer) -> list[tuple]:
    """Timing wrappers on the calls each layer receives from the layer
    above. Returns what to restore."""
    from snacktory_spark import author, dom, extractor, formatter, metadata
    patches = [(extractor, "dom_parse", "dom.parse"),
               (formatter, "dom_parse", "dom.parse"),
               (dom, "select", "dom.select"),
               (metadata, "parse_date", "dates"),
               (metadata, "extract_date_using_regex", "dates"),
               (formatter.OutputFormatter, "get_formatted_text", "formatter"),
               (author, "get_best_match_element", "heuristics")]
    for name in ("extract_title", "extract_description",
                 "extract_canonical_url", "extract_type", "extract_sitename",
                 "extract_language", "extract_date_from_document",
                 "extract_image_url", "extract_rss_url", "extract_video_url",
                 "extract_favicon_url", "extract_keywords"):
        patches.append((extractor, name, "metadata"))
    for name in ("extract_author_name", "author_cleanup",
                 "extract_author_description"):
        patches.append((extractor, name, "author"))
    for name in ("remove_scripts_and_styles", "strip_unlikely_candidates",
                 "remove_nodes_per_domain", "get_nodes",
                 "get_best_match_elements"):
        patches.append((extractor, name, "heuristics"))
    saved = []
    for owner, attr, span in patches:
        fn = getattr(owner, attr)
        saved.append((owner, attr, fn))
        setattr(owner, attr, tracer.wrap(fn, span))
    return saved


def replay_layers(tracer: Tracer, texts: list[str]) -> dict[str, float]:
    """Extract every text once on the driver with the layer wrappers in
    place; per-document and per-layer figures."""
    from snacktory_spark.udf import extract_row
    first = len(tracer.spans)
    saved = _install(tracer)
    docs = []
    try:
        for text in texts:
            docs.append(len(tracer.spans))
            with tracer.span("extractor.extract"):
                extract_row(text, "")
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
    spans = tracer.spans
    doc_of = {}
    for i in range(first, len(spans)):
        p = spans[i][3]
        doc_of[i] = i if spans[i][0] == "extractor.extract" else doc_of.get(p)
    parse = {d: 0.0 for d in docs}
    selects = {d: 0 for d in docs}
    select_s = 0.0
    for i in range(first, len(spans)):
        name, t0, t1, parent = spans[i]
        if name == "dom.parse":
            parse[doc_of[i]] += t1 - t0
        elif name == "dom.select":
            selects[doc_of[i]] += 1
            if spans[parent][0] != "dom.select":
                select_s += t1 - t0
    doc_ms = np.array([(spans[d][2] - spans[d][1]) * 1e3 for d in docs])
    parse_ms = np.array([parse[d] * 1e3 for d in docs])
    top = np.sort(doc_ms)[::-1][:max(1, len(docs) // 100)]
    self_s = tracer.self_times(first)
    return {
        "dom.parse_ms_p50": float(np.percentile(parse_ms, 50)),
        "dom.parse_ms_p99": float(np.percentile(parse_ms, 99)),
        "dom.select_calls_per_doc": sum(selects.values()) / len(docs),
        "dom.select_s": select_s,
        "extractor.doc_ms_p50": float(np.percentile(doc_ms, 50)),
        "extractor.doc_ms_p99": float(np.percentile(doc_ms, 99)),
        "extractor.doc_ms_max": float(doc_ms.max()),
        "extractor.top1pct_share": float(top.sum() / doc_ms.sum()),
        "metadata.self_s": self_s.get("metadata", 0.0),
        "author.self_s": self_s.get("author", 0.0),
        "dates.self_s": self_s.get("dates", 0.0),
        "formatter.self_s": self_s.get("formatter", 0.0),
        "heuristics.self_s": self_s.get("heuristics", 0.0),
    }


def adapter_ms_per_kturn(rows: pd.DataFrame, reps: int = 3) -> float:
    """Cost of the mapInPandas adapter around extract_row: the UDF over
    512-row batches minus extract_row alone over the same rows, per 1000
    rows. Both sides run alternately on each batch; each batch keeps the
    best of `reps` for either side."""
    from snacktory_spark.udf import extract_map_in_pandas, extract_row
    total = 0.0
    for i in range(0, len(rows), 512):
        batch = rows.iloc[i:i + 512].reset_index(drop=True)
        texts = list(batch["text"])
        adapter, bare = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            for t in texts:
                extract_row(t, "")
            bare.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            for _out in extract_map_in_pandas(iter([batch])):
                pass
            adapter.append(time.perf_counter() - t0)
        total += min(adapter) - min(bare)
    return total / len(rows) * 1e6


def layer_metrics(spark, work: str, passes: list[dict],
                  tracer: Tracer) -> dict[str, float]:
    """Every per-layer figure of a traced run (see layers.PER_LAYER)."""
    api = StatusApi(spark)
    traced = [p for p in passes if p["traced"]]
    per_pass = [spark_layers(api, p["description"]) for p in traced]
    out = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
    for k in ("gate_rows", "dedup_rows", "clean_rows", "n_sequences"):
        # run_extract (chat_turns) returns no attrition counts: they read 0
        out[f"corpus_prep.{k}"] = traced[-1]["metrics"].get(k, 0)
    rows = pq.read_table(os.path.join(work, "input", "replay.parquet")
                         ).to_pandas()
    out.update(replay_layers(tracer, list(rows["text"])))
    out["udf.adapter_ms_per_kturn"] = adapter_ms_per_kturn(rows)
    for part in ("total", "jvm"):
        out[f"{part}.peak_rss_mb"] = statistics.median(
            p["peak_rss_mb"][part] for p in passes)
    traced_tps = [p["turns_per_s"] for p in traced]
    plain_tps = [p["turns_per_s"] for p in passes if not p["traced"]]
    out["traced.turns_per_s"] = statistics.median(traced_tps)
    out["untraced.turns_per_s"] = statistics.median(plain_tps)
    out["tracing.overhead_share"] = (1 - out["traced.turns_per_s"]
                                     / out["untraced.turns_per_s"])
    tracer.write(os.path.join(work, "spans.jsonl.gz"))
    return out
