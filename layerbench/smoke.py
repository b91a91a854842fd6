"""Smoke test of the benchmark at tiny size.

    python3 layerbench/smoke.py

1. Runs every workload once untraced and once traced (``--size tiny``) and
   requires exit code 0, a correct result, and exactly the metric names
   and units BENCHMARK.json declares.
2. Commits a tiny ``fresh_sink`` output, copies it, alters one doc's text
   in the copy, and requires the output check to pass on the original and
   fail on the copy.

Exits non-zero when any step fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run_workloads(spec: dict) -> list[str]:
    problems = []
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", wl["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=300)
            what = f"{wl['name']} --trace {trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{what}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{what}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{what}: outputs reported wrong")
            if got != want:
                problems.append(f"{what}: metrics {sorted(set(got) ^ set(want))} "
                                f"missing, extra or with another unit")
            print(f"ok  {what}: {len(got)} metrics", flush=True)
    return problems


def _alter_one_text(out_dir: str) -> str:
    """Append a character to the first span text of the first doc in one
    committed parquet file; return that doc's id."""
    import pyarrow.parquet as pq

    batch = os.path.join(out_dir, "extracted", "batch_id=0")
    name = sorted(f for f in os.listdir(batch) if f.endswith(".parquet"))[0]
    path = os.path.join(batch, name)
    table = pq.read_table(path)
    rows = table.to_pylist()
    row = next(r for r in rows if any(s["text"] for s in r["out_spans"]))
    span = next(s for s in row["out_spans"] if s["text"])
    span["text"] += "x"
    pq.write_table(type(table).from_pylist(rows, schema=table.schema), path)
    crc = os.path.join(batch, f".{name}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # Hadoop's local FS verifies it on read
    return row["doc_id"]


def _mutation_check() -> list[str]:
    sys.path[0] = ROOT  # import from the checkout root
    from extract_ocr_spark.pipeline import ExtractionRun
    from layerbench.host import stop_spark
    from layerbench.run import SIZES, FreshSink, _environment, _start_session

    work = os.path.join(ROOT, ".layerbench_work", f"smoke{os.getpid()}")
    os.makedirs(work)
    _environment(work)
    wl = FreshSink(1, SIZES["tiny"], work)
    wl.prepare_inputs()
    spark, _ = _start_session()
    try:
        wl.bind(spark)
        res = wl.run_pass(spark, None)
        problems = [f"unaltered output: {f}" for f in wl.check_pass(spark, res)[0]]
        copy = os.path.join(work, "altered")
        shutil.copytree(res["out"], copy)
        doc = _alter_one_text(copy)
        failures, _ = wl.check_pass(spark, {"run": ExtractionRun(spark, copy), "out": copy})
        if not any(doc in f for f in failures):
            problems.append(f"altering {doc}'s text did not fail the check: {failures}")
        else:
            print(f"ok  altered text of {doc} fails the output check", flush=True)
        return problems
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = _mutation_check() + _run_workloads(spec)
    for p in problems:
        print(f"FAIL {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
