"""Layered benchmark of extract_ocr_spark.

    python3 layerbench/run.py --workload fresh_sink --seed 1 --seconds 8 --trace 0

One closed-loop client in one Spark driver process on ``local[4]`` drives a
workload through the package's public entry points: it generates the
inputs from ``--seed``, starts the session in a fresh JVM (``setup_s``),
warms up, then runs timed passes until ``--seconds`` of pass time have
been measured. Every pass's outputs are checked. The last stdout line
is one JSON object: ``--trace 0`` reports the end-to-end metrics (medians
over passes), ``--trace 1`` the per-layer metrics, from a second session
with Spark's event log on and job labels set around each call. The exit
code is non-zero when any output is wrong.

Workloads (why each was chosen is recorded in BENCHMARK.json):

- ``fresh_sink``: ``ExtractionRun.run`` over the headline corpus into an
  empty output root, in micro-batches — the production commit path.
- ``curation_similarity``: kmeans_clusters, ann_topk_pq, ann_topk_ivfpq and
  semdedup from ``operators.similarity``, collected and checked against
  their DuckDB oracles.

``write_amp`` is (input bytes + bytes under the run's output root) / input
bytes, so a run that writes nothing reads 1.0. Everything a run writes
stays under ``.layerbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PIN_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")
MASTER = "local[4]"
# Pinned outputs are those of datagen's default seed.
PIN_SEED = 42
SIMILARITY_OPS = ("kmeans_clusters", "ann_topk_pq", "ann_topk_ivfpq", "semdedup")
KERNEL_KINDS = ("html", "html_parse", "pdf", "ocr", "textops", "waf")

END_TO_END = {"wall_s": "s", "rows_per_s": "1/s", "cpu_s": "s",
              "peak_rss_mb": "MB", "setup_s": "s", "write_amp": "ratio"}
PER_LAYER = {
    "scan.s": "s", "staging.s": "s", "staging.shuffle_bytes": "bytes",
    "staging.tasks": "count", "staging.plan_s": "s",
    "boundary.s": "s", "boundary.plan_s": "s", "boundary.bytes_in": "bytes",
    "boundary.bytes_out": "bytes", "kernel.s": "s", "extract.tasks": "count",
    "extract.task_skew": "ratio",
    "kernel.doc_us_p50": "us", "kernel.doc_us_p99": "us", "kernel.cpu_s": "s",
    **{f"kernel.{k}.{m}": u for k in KERNEL_KINDS
       for m, u in (("s", "s"), ("calls", "count"), ("bytes_in", "bytes"),
                    ("bytes_out", "bytes"))},
    "kernel_realistic.doc_us_p50": "us", "kernel_realistic.doc_us_p99": "us",
    "kernel_realistic.cpu_s": "s", "kernel_realistic.html.s": "s",
    "kernel_realistic.html_parse.s": "s",
    "sink.write_extracted.s": "s", "sink.read_back.s": "s",
    "sink.write_lineage.s": "s", "sink.write_metrics.s": "s",
    "sink.finalize.s": "s", "sink.bytes_written": "bytes",
    "sink.files_written": "count", "sink.readback_scans": "count",
    "resume.pending.s": "s", "resume.lineage.s": "s", "resume.rerun_s": "s",
    "resume.corpus_scans": "count", "resume.useful_share": "ratio",
    **{f"similarity.{op}.{m}": u for op in SIMILARITY_OPS
       for m, u in (("s", "s"), ("plan_chars", "count"))},
    "error_share": "ratio",
    "corpus.html_markup_share": "ratio", "corpus.oversized_share": "ratio",
    "corpus_realistic.html_markup_share": "ratio",
    "host.steal": "ratio", "host.foreign_busy": "ratio", "host.calib_s": "s",
    "unattributed.s": "s", "trace_overhead_s": "s",
}
# Layer self times; in a traced pass they sum to the pass wall time
# less ``unattributed.s``.
SELF_TIMES = ("resume.lineage.s", "scan.s", "staging.s", "staging.plan_s",
              "boundary.s", "boundary.plan_s", "kernel.s",
              "sink.write_extracted.s", "sink.read_back.s",
              "sink.write_lineage.s", "sink.write_metrics.s", "sink.finalize.s",
              *(f"similarity.{op}.s" for op in SIMILARITY_OPS))
SIZES = {
    "full": {"docs": 1000, "batches": 3, "emb_rows": 1000, "pin_rows": 300,
             "pin_docs": 200, "probe_docs": 200},
    "tiny": {"docs": 120, "batches": 2, "emb_rows": 60, "pin_rows": 40,
             "pin_docs": 40, "probe_docs": 40},
}


def _sample(docs, k: int):
    """About 1/k of the docs, for warm-up."""
    from pyspark.sql import functions as F

    return docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(k)) == 0)


def _pins() -> dict:
    with open(PIN_FILE) as f:
        return json.load(f)


class FreshSink:
    """``ExtractionRun.run`` over the headline corpus into an empty output
    root in ``batches`` micro-batches, through the default
    ``ParquetMarkerSink`` (a delegating one when traced)."""

    name = "fresh_sink"

    def __init__(self, seed: int, size: dict, work: str):
        self.seed, self.size, self.work = seed, size, work
        self.batches = size["batches"]
        self._outs = 0

    def prepare_inputs(self) -> list[str]:
        """Generates the corpus and its single-process reference outputs;
        returns failures of the pinned-output check."""
        from layerbench.corpus import (
            corpus_shares, dir_bytes, generate, pin_digest, write_docs)

        n, pin, probe = (self.size[k] for k in ("docs", "pin_docs", "probe_docs"))
        docs, refs = generate("headline", self.seed, n)
        self.dir = os.path.join(self.work, "corpus")
        write_docs(docs, self.dir)
        self.docs_list = docs
        self.realistic = generate("realistic", self.seed, probe)[0]
        self.reference = {d["doc_id"]: r for d, r in zip(docs, refs)}
        self.rows, self.input_bytes = len(docs), dir_bytes(self.dir)[0]
        shares = corpus_shares(docs)
        self.layer_const = {
            "corpus.html_markup_share": shares["html_markup_share"],
            "corpus.oversized_share": shares["oversized_share"],
            "corpus_realistic.html_markup_share":
                corpus_shares(self.realistic)["html_markup_share"]}
        failures = []
        if self.size is SIZES["full"]:
            for kind in ("headline", "realistic"):
                got = pin_digest(generate(kind, PIN_SEED, pin)[1])
                if got != _pins()[kind]:
                    failures.append(
                        f"single-process extract_doc output of the pinned {kind} "
                        f"docs (seed {PIN_SEED}) drifted: {got} != {_pins()[kind]}")
        return failures

    def bind(self, spark) -> None:
        self.docs = spark.read.parquet(self.dir)

    def _out(self) -> str:
        self._outs += 1
        return os.path.join(self.work, f"out{self._outs}")

    def _run(self, spark, docs, out, tracer=None):
        from extract_ocr_spark.pipeline import ExtractionRun
        from layerbench.tracing import TimedSink, planning_spans

        if tracer is None:
            run = ExtractionRun(spark, out)
            run.run(docs, micro_batches=self.batches)
            return run
        sink = TimedSink(tracer)
        run = ExtractionRun(spark, out, sink=sink)
        sink.bind(run)
        with planning_spans(tracer):
            run.run(docs, micro_batches=self.batches)
        return run

    def warmup(self, spark, full: bool) -> list[str]:
        """Two runs over the corpus (``full``: pass times of a fresh JVM
        settle from about the third run on) or one over 1/8 of it (a warm
        JVM's new session only has to start its Python workers)."""
        for docs in [self.docs, self.docs] if full else [_sample(self.docs, 8)]:
            out = self._out()
            self._run(spark, docs, out)
            shutil.rmtree(out)
        return []

    def run_pass(self, spark, tracer):
        out = self._out()
        return {"run": self._run(spark, self.docs, out, tracer), "out": out}

    def check_pass(self, spark, res) -> tuple[list[str], dict]:
        from layerbench.check import check_committed
        from layerbench.corpus import dir_bytes

        out_bytes, out_files = dir_bytes(res["out"])
        failures, stats = check_committed(res["run"], self.docs, self.reference)
        return failures, {"out_bytes": out_bytes, "out_files": out_files, **stats}

    def discard(self, res) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)

    def probes(self, spark, last) -> tuple[dict, list[str]]:
        from pyspark.sql import functions as F

        from extract_ocr_spark.pipeline import ExtractionRun
        from layerbench.check import check_committed
        from layerbench.tracing import layer_probes

        # ExtractionRun.run's micro-batch split, so the probes scan, stage
        # and cross the boundary as often as a pass does
        chunks = [self.docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(self.batches)) == b)
                  for b in range(self.batches)]
        out = layer_probes(chunks)
        run = ExtractionRun(spark, last["out"])
        t0 = time.perf_counter()
        pending = run.pending(self.docs).count()
        out["resume.pending.s"] = time.perf_counter() - t0
        # a rerun over the committed output must extract and commit nothing
        t0 = time.perf_counter()
        rerun = self._run(spark, self.docs, last["out"])
        out["resume.rerun_s"] = time.perf_counter() - t0
        failures, _ = check_committed(rerun, self.docs, self.reference)
        if pending:
            failures.append(f"{pending} docs still pending after a complete run")
        out.update(self._kernel_probes())
        return out, failures

    def _kernel_probes(self) -> dict:
        from extract_ocr_spark.kernels.extract import doc_size_bytes
        from extract_ocr_spark.pipeline import BIG_DOC_BYTES
        from layerbench.tracing import kernel_probe

        # every oversized doc plus an even spread of the rest, weighted to
        # extrapolate to the whole corpus
        docs = self.docs_list
        big = [i for i, d in enumerate(docs) if doc_size_bytes(d["spans"]) > BIG_DOC_BYTES]
        rest = sorted(set(range(len(docs))) - set(big))
        picked = rest[::max(1, len(rest) // self.size["probe_docs"])]
        out = kernel_probe(docs, [(i, 1.0) for i in big]
                           + [(i, len(rest) / len(picked)) for i in picked])
        real = kernel_probe(self.realistic, [(i, 1.0) for i in range(len(self.realistic))])
        for k in ("doc_us_p50", "doc_us_p99", "cpu_s", "html.s", "html_parse.s"):
            out[f"kernel_realistic.{k}"] = real[f"kernel.{k}"]
        return out

    def pass_layers(self, tracer, p: dict, counts: dict, probes: dict) -> dict:
        spans = tracer.totals(p["prefix"])
        out = {f"{k}.s": v for k, v in spans.items()}
        out["resume.lineage.s"] = spans.get("sink.read_committed_lineage", 0.0)
        out["staging.plan_s"] = spans.get("staging.plan", 0.0)
        out["boundary.plan_s"] = (spans.get("boundary.plan", 0.0)
                                  - out["staging.plan_s"])
        # the write_extracted call runs the whole extraction stage; its
        # self time is what the probes' deepest layer does not explain
        out["sink.write_extracted.s"] = (spans.get("sink.write_extracted", 0.0)
                                         - probes["extract_stage_s"])
        out["sink.bytes_written"] = p["out_bytes"]
        out["sink.files_written"] = p["out_files"]
        out["sink.readback_scans"] = counts["readback_scans"] / self.batches
        out["resume.corpus_scans"] = counts["corpus_scans"]
        # every doc is pending on an empty root
        out["resume.useful_share"] = self.rows / p["committed_rows"]
        out["error_share"] = p["error_rows"] / self.rows
        return out


class CurationSimilarity:
    """The four ``operators.similarity`` queries, collected, over a seeded
    embeddings table, each checked against its DuckDB oracle. A second,
    smaller table drawn with the pinned seed warms every query up before
    timing; its oracle results are pinned."""

    name = "curation_similarity"

    def __init__(self, seed: int, size: dict, work: str):
        self.seed, self.size, self.work = seed, size, work
        self.dir = os.path.join(work, "emb")
        self.pin_dir = os.path.join(work, "emb_pin")
        self.layer_const = {"corpus.html_markup_share": 0.0,
                            "corpus.oversized_share": 0.0,
                            "corpus_realistic.html_markup_share": 0.0}

    def prepare_inputs(self) -> list[str]:
        """Writes both tables and computes their oracle results; returns
        failures of the pinned-oracle check."""
        from extract_ocr_spark.operators import all_queries
        from layerbench.check import rows_digest
        from layerbench.corpus import write_embeddings

        self.rows = self.size["emb_rows"]
        self.input_bytes = write_embeddings(self.rows, self.seed, self.dir)
        write_embeddings(self.size["pin_rows"], PIN_SEED, self.pin_dir)
        queries, oracles = all_queries()
        self.queries = {op: queries[op] for op in SIMILARITY_OPS}
        self.expected = _oracle_results(oracles, self.dir)
        self.pin_expected = _oracle_results(oracles, self.pin_dir)
        if self.size is SIZES["full"]:
            got = {op: rows_digest(v) for op, v in self.pin_expected.items()}
            if got != _pins()["similarity"]:
                bad = sorted(op for op in got if got[op] != _pins()["similarity"][op])
                return [f"oracle results of {bad} on the pinned table "
                        f"(seed {PIN_SEED}) differ from the pin"]
        return []

    def bind(self, spark) -> None:
        pass

    def warmup(self, spark, full: bool) -> list[str]:
        """The four queries over the pinned table, side by side (``full``:
        each query's first call in a fresh JVM is its slowest, mostly
        planning and code generation; a new session in a warm JVM needs
        none). Returns failures of their oracle check."""
        if not full:
            return []
        with ThreadPoolExecutor(len(self.queries)) as pool:
            res = dict(zip(self.queries, pool.map(
                lambda op: self._query(spark, op, self.pin_dir, None), self.queries)))
        return self.check_pass(spark, res, self.pin_expected)[0]

    def run_pass(self, spark, tracer):
        return {op: self._query(spark, op, self.dir, tracer) for op in self.queries}

    def _query(self, spark, op, path, tracer):
        with tracer.span(f"similarity.{op}") if tracer else nullcontext():
            df = self.queries[op](spark, path)
            rows = df.collect()
        chars = (len(df._jdf.queryExecution().optimizedPlan().toString())
                 if tracer else None)
        return rows, df.columns, chars

    def check_pass(self, spark, res, expected=None) -> tuple[list[str], dict]:
        from layerbench.check import normalize

        expected = expected or self.expected
        failures = [f"{op}: result differs from its DuckDB oracle"
                    for op, (rows, cols, _) in res.items()
                    if normalize(rows, cols) != expected[op]]
        return failures, {"out_bytes": 0}

    def discard(self, res) -> None:
        pass

    def probes(self, spark, last) -> tuple[dict, list[str]]:
        return {}, []

    def pass_layers(self, tracer, p: dict, counts: dict, probes: dict) -> dict:
        out = {f"{k}.s": v for k, v in tracer.totals(p["prefix"]).items()}
        for op, (_, _, chars) in p["res"].items():
            out[f"similarity.{op}.plan_chars"] = chars
        return out


def _oracle_results(oracles: dict, path: str) -> dict[str, list[tuple]]:
    """The normalised DuckDB oracle result of each similarity query over
    the embeddings table under ``path``."""
    import duckdb

    from layerbench.check import normalize

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/embeddings.parquet'")
        out = {}
        for op in SIMILARITY_OPS:
            res = con.sql(oracles[op])
            out[op] = normalize(res.fetchall(), res.columns)
        return out
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (FreshSink, CurationSimilarity)}


# -- sessions ---------------------------------------------------------------

def _start_session():
    from extract_ocr_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(MASTER, app_name="layerbench")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def _restart(spark, event_log: str):
    """Stop the session and start a new one in the same JVM whose context
    writes Spark's event log to ``event_log``: the settings go in as JVM
    system properties, which every new SparkConf loads — the route
    ``--conf`` in PYSPARK_SUBMIT_ARGS takes at launch."""
    system = spark._jvm.java.lang.System
    for k, v in {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + event_log,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}.items():
        system.setProperty(k, v)
    spark.stop()
    return _start_session()


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # get_spark's 16g default lets the heap grow instead of collect:
        # peak RSS then rises pass after pass of the same work (2.3 to
        # 3.2 GB on consecutive 1500-doc passes on 4 cores) and tracks
        # the run's length, not the program's need; 1g holds it level
        # (1.5-1.8 GB over 1000-doc passes).
        "SPARK_DRIVER_MEMORY": "1g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.driver.extraJavaOptions="
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# -- the run ----------------------------------------------------------------

class Run:
    """Timed passes of one workload, each checked after its timer stops."""

    def __init__(self, wl, seconds: float):
        self.wl, self.seconds = wl, seconds
        self.failures: list[str] = []
        self.passes: list[dict] = []
        self.attempted = self.failed = 0

    def loop(self, spark, tracer=None) -> list[dict]:
        """Passes until ``seconds`` of pass time are measured (at least
        one); a pass that raises ends the loop."""
        from layerbench.host import PassMeter

        done, measured = [], 0.0
        while measured < self.seconds or not done:
            prefix = f"p{len(done)}/"
            if tracer is not None:
                tracer.prefix = prefix
            self.attempted += 1
            try:
                with PassMeter() as m:
                    res = self.wl.run_pass(spark, tracer)
                _log(f"pass {m.wall_s:.2f}s")
                failures, extra = self.wl.check_pass(spark, res)
            except Exception:  # noqa: BLE001 - a crashed pass is a failed pass
                traceback.print_exc()
                self.failed += 1
                self.failures.append("a pass raised")
                break
            measured += m.wall_s
            if failures:
                self.failed += 1
                self.failures += failures
            if done:
                self.wl.discard(done[-1]["res"])
            done.append({"meter": m, "res": res, "prefix": prefix, **extra})
        self.passes += done
        return done


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl, passes: list[dict], setup: float) -> dict:
    return {
        "wall_s": _median([p["meter"].wall_s for p in passes]),
        "rows_per_s": _median([wl.rows / p["meter"].wall_s for p in passes]),
        "cpu_s": _median([p["meter"].cpu_s for p in passes]),
        "peak_rss_mb": _median([p["meter"].peak_rss_mb for p in passes]),
        "setup_s": setup,
        "write_amp": _median([(wl.input_bytes + p["out_bytes"]) / wl.input_bytes
                              for p in passes]),
    }


def per_layer(wl, tracer, log, passes, probes, untraced_wall, calib) -> dict:
    from layerbench.tracing import pass_counts

    rows = []
    for p in passes:
        counts = pass_counts(log, p["prefix"], {"sink.write_extracted"})
        layers = {k: probes.get(k, 0.0) for k in PER_LAYER}
        layers.update({k: v for k, v in counts.items() if k in PER_LAYER})
        layers.update(wl.pass_layers(tracer, p, counts, probes))
        wall = p["meter"].wall_s
        layers["unattributed.s"] = wall - sum(layers[k] for k in SELF_TIMES)
        layers["trace_overhead_s"] = wall - untraced_wall
        layers["host.steal"] = p["meter"].steal
        layers["host.foreign_busy"] = p["meter"].foreign_busy
        rows.append(layers)
    out = {k: _median([r[k] for r in rows]) for k in PER_LAYER}
    out.update(wl.layer_const)
    out["host.calib_s"] = calib
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    # import from the checkout root, not this script's directory
    sys.path[0] = ROOT
    try:
        import bench  # noqa: F401 - the shared tick/steal helpers
        import extract_ocr_spark  # noqa: F401
    except ImportError as exc:
        print(f"layerbench: the program under test is missing: {exc}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".layerbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        return _bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it


def _bench(args, work: str) -> int:
    from layerbench.host import calibrate, stop_spark
    from layerbench.tracing import Tracer, read_event_log

    _environment(work)
    wl = WORKLOADS[args.workload](args.seed, SIZES[args.size], work)
    run = Run(wl, args.seconds)
    run.failures += wl.prepare_inputs()
    _log("inputs ready")
    spark, setup = _start_session()
    try:
        _log(f"session start {setup:.2f}s")
        wl.bind(spark)
        run.failures += wl.warmup(spark, full=True)
        calib = calibrate()
        _log(f"warm; host calibration loop {calib:.3f}s")
        passes = run.loop(spark)
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            spark, _ = _restart(spark, event_log=log_dir)
            app = spark.sparkContext.applicationId
            wl.bind(spark)
            run.failures += wl.warmup(spark, full=False)
            tracer = Tracer(spark.sparkContext)
            traced = run.loop(spark, tracer)
            probes, failures = wl.probes(spark, traced[-1]["res"]) if traced else ({}, [])
            run.failures += failures
            _log("probes done")
            stop_spark(spark)
            spark = None
            log = read_event_log(os.path.join(log_dir, app))
            untraced_wall = _median([p["meter"].wall_s for p in passes])
            metrics = per_layer(wl, tracer, log, traced, probes, untraced_wall, calib)
            print("trace " + json.dumps(tracer.spans), file=sys.stderr)
            units = PER_LAYER
        else:
            metrics = end_to_end(wl, passes, setup)
            units = END_TO_END
    finally:
        if spark is not None:
            stop_spark(spark)
    _log("stopped")
    for p in run.passes:
        m = p["meter"]
        print(f"pass wall={m.wall_s:.3f}s cpu={m.cpu_s:.2f}s "
              f"rss={m.peak_rss_mb:.0f}MB steal={m.steal:.4f} "
              f"foreign_busy={m.foreign_busy:.4f}", file=sys.stderr)
    for f in run.failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    ok = not run.failures and bool(run.passes)
    print(json.dumps({
        "correct": ok, "attempted": run.attempted,
        "failed": max(run.failed, 0 if ok else 1),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
