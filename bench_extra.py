#!/usr/bin/env python
"""Registry sweep harness: time every registry query at the bench SF.

NOT part of the frozen driver bench. Each query runs once as a warm-up,
then best-of-2 into a noop sink, with the hypervisor steal of the kept
run recorded. The per-layer split of the extraction path (scan / staging
/ Python boundary / kernel) lives in ``layerbench.tracing.layer_probes``.

Usage: python bench_extra.py sweep [query ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_scaling import _stat, _steal_fraction  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sweep_registry(only: list[str] | None = None):
    """Time every registry query (or those named in ``only``). Output:
    one JSON line per query to stdout — the r6 optimization checklist's
    measurement source."""
    import __spark_entry__ as entry

    from extract_ocr_spark.session import get_spark

    spark = get_spark(f"local[{CPUS}]", app_name="bench_extra_sweep",
                      shuffle_partitions=max(8, CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        try:
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
            best, steal = 9e9, 1.0
            for _ in range(2):
                s0 = _stat()
                t0 = time.monotonic()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                w = time.monotonic() - t0
                if w < best:
                    best, steal = w, _steal_fraction(s0, _stat())
            results[name] = (round(best, 3), round(steal, 4))
            print(json.dumps({"q": name, "sec": round(best, 3),
                              "steal": round(steal, 4)}), flush=True)
        except Exception as exc:  # pragma: no cover - sweep robustness
            results[name] = (None, None)
            print(json.dumps({"q": name, "err": str(exc)[:200]}), flush=True)
        spark.sparkContext.setJobDescription(None)
    total = sum(v[0] for v in results.values() if v[0] is not None)
    print(json.dumps({"sweep_total_sec": round(total, 2),
                      "n": len(results)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) < 2 or sys.argv[1] != "sweep":
        sys.exit(__doc__)
    sweep_registry(sys.argv[2:] or None)
