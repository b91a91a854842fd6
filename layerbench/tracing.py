"""Outside-in tracing: spans recorded around the benchmark's calls into
the package, Spark job labels that tie event-log records to those spans,
the event-log reader, noop-sink layer probes and the single-process
kernel probe. Nothing here edits the package; it only wraps what the
package exposes.

Worker processes import this module to run the probe UDFs, so its
top-level imports stay light.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from typing import Iterator

import pandas as pd


class Tracer:
    """In-memory spans of one traced pass. Each span also sets the Spark
    job description to ``<prefix><span name>``, so every job the call
    launches is attributed to that span in the event log."""

    def __init__(self, sc):
        self.sc = sc
        self.prefix = ""
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        self.sc.setJobDescription(self.prefix + name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append({"pass": self.prefix, "name": name, "parent": parent,
                               "start": t0 - self._t0, "end": t1 - self._t0,
                               "s": t1 - t0})
            self.sc.setJobDescription(self.prefix + parent if parent else None)

    def totals(self, prefix: str) -> dict[str, float]:
        """Summed span durations of one pass, by span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["pass"] == prefix:
                out[s["name"]] = out.get(s["name"], 0.0) + s["s"]
        return out


class TimedSink:
    """Delegating ``ParquetMarkerSink``: one span per commit step of
    ``ExtractionRun.commit_one`` and per read of the committed lineage
    (the resume gate); everything else passes through."""

    STEPS = ("write_extracted", "read_back", "write_lineage",
             "write_metrics", "finalize", "read_committed_lineage")

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.inner = None

    def bind(self, run) -> None:
        from extract_ocr_spark.pipeline import ParquetMarkerSink

        self.inner = ParquetMarkerSink(run)

    def __getattr__(self, name):
        inner = self.__dict__.get("inner")
        attr = getattr(inner, name)
        if name not in self.STEPS:
            return attr

        def timed(*args):
            with self.tracer.span(f"sink.{name}"):
                return attr(*args)
        return timed


# Driver-side planning calls ExtractionRun.commit_one makes outside the
# sink: span name → pipeline function it wraps.
PLAN_SPANS = {"boundary.plan": "extract_df", "staging.plan": "salted_repartition"}


@contextmanager
def planning_spans(tracer: Tracer):
    """Time the ``pipeline`` functions in ``PLAN_SPANS`` (extract_df builds
    the ``mapInPandas`` boundary and calls salted_repartition to plan the
    staging exchange) under the names ``commit_one`` looks them up by."""
    from extract_ocr_spark import pipeline

    def timed(span, inner):
        def call(*args, **kwargs):
            with tracer.span(span):
                return inner(*args, **kwargs)
        return call

    saved = {attr: getattr(pipeline, attr) for attr in PLAN_SPANS.values()}
    try:
        for span, attr in PLAN_SPANS.items():
            setattr(pipeline, attr, timed(span, saved[attr]))
        yield
    finally:
        for attr, fn in saved.items():
            setattr(pipeline, attr, fn)


# -- event log ---------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(path: str) -> dict:
    """Jobs (description, SQL execution, stages), per-stage task records
    and SQL physical plans from one uncompressed event-log file."""
    jobs, tasks, plans = {}, {}, {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description") or "",
                    "exec": props.get("spark.sql.execution.id"),
                    "stages": e["Stage IDs"]}
            elif ev == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                acc = {a.get("Name"): a.get("Update")
                       for a in info.get("Accumulables", [])}
                tasks.setdefault(e["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "py_sent": int(acc.get(PY_SENT) or 0),
                    "py_returned": int(acc.get(PY_RETURNED) or 0),
                    "python": PY_SENT in acc})
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                plans[str(e["executionId"])] = e.get("physicalPlanDescription", "")
    return {"jobs": jobs, "tasks": tasks, "plans": plans}


def _scan_schemas(plan: str) -> list[str]:
    """ReadSchema of each parquet scan node in a formatted physical plan."""
    out, in_scan = [], False
    for line in plan.splitlines():
        if re.match(r"\(\d+\) Scan parquet", line):
            in_scan = True
            out.append("")
        elif not line.strip():
            in_scan = False
        elif in_scan and line.startswith("ReadSchema:"):
            out[-1] = line
    return out


# The corpus is the only input whose rows carry the input span struct.
CORPUS_SCHEMA_MARK = "offset:int"


def pass_counts(log: dict, prefix: str, extract_spans: set[str]) -> dict:
    """Event-log counts for one pass: staging shuffle, the Arrow boundary
    and extraction tasks of the spans in ``extract_spans``, and parquet
    scans of the corpus and of the written batch."""
    out = {"staging.shuffle_bytes": 0, "staging.tasks": 0,
           "boundary.bytes_in": 0, "boundary.bytes_out": 0,
           "extract.tasks": 0, "corpus_scans": 0, "readback_scans": 0}
    task_ms: list[int] = []
    execs: dict[str, str] = {}
    for job in log["jobs"].values():
        if not job["desc"].startswith(prefix):
            continue
        span = job["desc"][len(prefix):]
        if job["exec"] is not None:
            execs[job["exec"]] = span
        if span not in extract_spans:
            continue
        for sid in job["stages"]:
            recs = log["tasks"].get(sid, [])
            shuffle = sum(t["shuffle_bytes"] for t in recs)
            if shuffle:
                out["staging.shuffle_bytes"] += shuffle
                out["staging.tasks"] += len(recs)
            py = [t for t in recs if t["python"]]
            out["boundary.bytes_in"] += sum(t["py_sent"] for t in py)
            out["boundary.bytes_out"] += sum(t["py_returned"] for t in py)
            out["extract.tasks"] += len(py)
            task_ms.extend(t["run_ms"] for t in py)
    for ex, span in execs.items():
        scans = _scan_schemas(log["plans"].get(ex, ""))
        out["corpus_scans"] += sum(CORPUS_SCHEMA_MARK in s for s in scans)
        if span in ("sink.write_lineage", "sink.write_metrics"):
            # the written batch is the only parquet these steps read
            out["readback_scans"] += len(scans)
    task_ms.sort()
    med = task_ms[len(task_ms) // 2] if task_ms else 0
    out["extract.task_skew"] = task_ms[-1] / med if med else 0.0
    return out


# -- noop-sink layer probes ----------------------------------------------------

def _noop_extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The extraction UDF's boundary work without the kernel: decode each
    doc's spans and re-emit them as output spans (the same payload)."""
    for pdf in batches:
        spans_col = [list(s) if s is not None else [] for s in pdf["spans"]]
        outs = [[{"kind": sp["kind"], "text": sp["text"],
                  "media_ref": sp["media_ref"], "order": i}
                 for i, sp in enumerate(spans)] for spans in spans_col]
        yield pd.DataFrame({"doc_id": pdf["doc_id"].tolist(), "out_spans": outs,
                            "spans_in": [len(s) for s in spans_col]})


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def layer_probes(chunks: list) -> dict[str, float]:
    """Wall of four noop-sink jobs per input chunk, each one layer deeper
    than the last: scan; + ``salted_repartition`` staging; + the Arrow
    boundary (a ``mapInPandas`` that runs no kernel); + the kernel (the
    real ``extract_df``). Differences give each layer's share of the
    extraction stage; ``extract_stage_s`` is the deepest probe's wall."""
    from pyspark.sql import types as T

    from extract_ocr_spark.pipeline import extract_df, salted_repartition
    from extract_ocr_spark.schemas import EXTRACTED_SCHEMA

    schema = T.StructType([*EXTRACTED_SCHEMA.fields,
                           T.StructField("spans_in", T.IntegerType(), False)])
    walls = {"scan": 0.0, "staged": 0.0, "boundary": 0.0, "extract": 0.0}
    for chunk in chunks:
        spark = chunk.sparkSession
        # the partition count extract_df defaults to
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        staged = salted_repartition(chunk, parts)
        walls["scan"] += _noop(chunk)
        walls["staged"] += _noop(staged)
        walls["boundary"] += _noop(staged.mapInPandas(_noop_extract, schema=schema))
        walls["extract"] += _noop(extract_df(chunk, with_stats=True))
    return {"scan.s": walls["scan"],
            "staging.s": walls["staged"] - walls["scan"],
            "boundary.s": walls["boundary"] - walls["staged"],
            "kernel.s": walls["extract"] - walls["boundary"],
            "extract_stage_s": walls["extract"]}


# -- single-process kernel probe ---------------------------------------------

# kind → the names kernels.extract dispatches through (module, attribute)
KERNEL_KINDS = {
    "html": [("extract", "html_to_markdown")],
    "html_parse": [("htmlkit", "parse_html")],
    "pdf": [("extract", "extract_pdf_text")],
    "ocr": [("extract", "normalize_ocr_text")],
    "textops": [("extract", "pretty_json"), ("extract", "pretty_xml"),
                ("extract", "plain_text")],
    "waf": [("extract", "is_waf_challenge_html_text")],
}


def kernel_probe(docs: list[dict], sample: list[tuple[int, float]]) -> dict:
    """Time ``extract_doc`` in this process over ``sample`` — (doc index,
    weight) pairs whose weights extrapolate to the whole corpus. A first
    loop gives per-doc times and CPU; a second, with each per-kind kernel
    wrapped under the name ``kernels.extract`` calls it by, gives each
    kind's self time (nested kernel time subtracted), calls and bytes."""
    from extract_ocr_spark.kernels import extract as kx
    from extract_ocr_spark.kernels import htmlkit

    times, cpu = [], 0.0
    for i, w in sample:
        d = docs[i]
        c0, t0 = time.thread_time(), time.perf_counter()
        kx.extract_doc(d["doc_id"], d["spans"])
        times.append(((time.perf_counter() - t0) * 1e6, w))
        cpu += (time.thread_time() - c0) * w

    modules = {"extract": kx, "htmlkit": htmlkit}
    acc = {k: {"s": 0.0, "calls": 0.0, "bytes_in": 0.0, "bytes_out": 0.0}
           for k in KERNEL_KINDS}
    weight = [0.0]
    stack: list[float] = []

    def wrap(fn, a):
        def timed(text, *args, **kwargs):
            stack.append(0.0)
            t0 = time.perf_counter()
            try:
                out = fn(text, *args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dt
                a["s"] += (dt - child) * weight[0]
            a["calls"] += weight[0]
            a["bytes_in"] += len(text or "") * weight[0]
            a["bytes_out"] += (len(out) if isinstance(out, str) else 0) * weight[0]
            return out
        return timed

    saved = []
    try:
        for kind, names in KERNEL_KINDS.items():
            for mod, attr in names:
                fn = getattr(modules[mod], attr)
                saved.append((modules[mod], attr, fn))
                setattr(modules[mod], attr, wrap(fn, acc[kind]))
        for i, w in sample:
            weight[0] = w
            kx.extract_doc(docs[i]["doc_id"], docs[i]["spans"])
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)

    out = {"kernel.cpu_s": cpu,
           "kernel.doc_us_p50": _weighted_quantile(times, 0.5),
           "kernel.doc_us_p99": _weighted_quantile(times, 0.99)}
    for kind, a in acc.items():
        out[f"kernel.{kind}.s"] = a["s"]
        for k in ("calls", "bytes_in", "bytes_out"):
            out[f"kernel.{kind}.{k}"] = a[k]
    return out


def _weighted_quantile(pairs: list[tuple[float, float]], q: float) -> float:
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    run = 0.0
    for v, w in pairs:
        run += w
        if run >= q * total:
            return v
    return pairs[-1][0]
