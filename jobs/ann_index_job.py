#!/usr/bin/env python
"""ANN index job — materialize the IVF-PQ index once, serve queries from
it many times (the production shape ``ann_topk_pq``'s one-pass query
folds together for oracle visibility):

    zip -r extract_ocr_spark.zip extract_ocr_spark
    # build: embeddings -> cell-partitioned PQ codes + codebook sidecar
    spark-submit --py-files extract_ocr_spark.zip jobs/ann_index_job.py \
        --mode build --embeddings <embeddings parquet> --index <dir>
    # query: probe cells, ADC-score codes, top-k
    spark-submit --py-files extract_ocr_spark.zip jobs/ann_index_job.py \
        --mode query --embeddings <embeddings parquet> --index <dir> \
        --vec-id 0 [--probes 2] [--k 10]

Why a materialized index: the inline ``ann_topk_ivfpq`` query re-encodes
the corpus per query — right for an oracle-checkable one-shot, wrong for
a serving workload. At 10^12 vectors the build is one map-only pass
(encode = literal-codebook argmin; no shuffle except the partitioned
write), and each query then reads ONLY the probed cells' files (the
``cell`` partition column turns probe pruning into real partition
pruning — `PartitionFilters` in the scan, files never opened) and ONLY
the code columns (4 BIGINTs/vector, the 64× working-set reduction vs
raw float32 vectors).

Index layout:
- ``<index>/codes``     (vec_id, label, c0..c3) partitioned by ``cell``
- ``<index>/codebooks`` (m, j, codeword array<long>) — the sidecar the
  serve side loads so the index can never be scored against codebooks
  re-derived from a DIFFERENT corpus state than the one it encoded.

Parity contract (pinned by tests/test_jobs.py): build+query over the
same embeddings equals the inline ``ann_topk_ivfpq`` row-for-row.

Reference analog: none — the reference has no vector surface; this job
exists because a 100 TB corpus's similarity workloads are served from
an index, not a scan.
"""

from __future__ import annotations

import argparse
import json


def build(spark, embeddings_path: str, index_dir: str) -> dict:
    """Encode every vector (PQ codes + IVF cell) and write the
    cell-partitioned index + codebook sidecar. Returns the stats dict
    main() prints."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.similarity import (
        _PQ_K, _PQ_M, _cell_expr, _pq_codebooks, _pq_encode,
        _quantize_expr)

    emb = spark.read.parquet(embeddings_path)
    base = emb.select(
        "vec_id", "label",
        _quantize_expr("embedding").alias("q"),
        _cell_expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("cell"))
    qv = emb.select("vec_id", _quantize_expr("embedding").alias("q"))
    cb = _pq_codebooks(qv)

    # stats ride the write itself (Observation) — no read-back scan of
    # the index just to count what the encode pass already saw
    obs = Observation("ann_index_build")
    coded = (_pq_encode(base, cb).drop("q")
             .observe(obs, F.count(F.lit(1)).alias("n_vectors")))
    (coded.write.mode("overwrite").partitionBy("cell")
          .parquet(f"{index_dir}/codes"))

    cb_rows = [(m, j, cb[m][j]) for m in range(_PQ_M) for j in range(_PQ_K)]
    (spark.createDataFrame(cb_rows, "m int, j int, codeword array<bigint>")
          .coalesce(1).write.mode("overwrite")
          .parquet(f"{index_dir}/codebooks"))

    # cell count from the partition directories — metadata, not data
    jvm = spark._jvm
    cpath = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/codes")
    fs = cpath.getFileSystem(spark._jsc.hadoopConfiguration())
    n_cells = sum(1 for st in fs.listStatus(cpath)
                  if st.isDirectory()
                  and st.getPath().getName().startswith("cell="))
    return {
        "mode": "build",
        "n_vectors": obs.get["n_vectors"],
        "n_cells": n_cells,
        "codebook_entries": len(cb_rows),
    }


def query(spark, embeddings_path: str, index_dir: str, *,
          vec_id: int = 0, probes: int | None = None, k: int = 10):
    """Serve one query from the materialized index: probe the query's
    nearest cells (partition pruning on disk), ADC-score the probed
    codes against the sidecar codebooks, return the top-k DataFrame."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.similarity import (
        _IVF_PROBES, _PQ_K, _PQ_M, _adc_expr, _pq_lut, _probe_cells,
        _quantize_expr)

    cb = [[None] * _PQ_K for _ in range(_PQ_M)]
    for r in spark.read.parquet(f"{index_dir}/codebooks").collect():
        if not (0 <= r["m"] < _PQ_M and 0 <= r["j"] < _PQ_K):
            raise ValueError(
                f"codebook entry (m={r['m']}, j={r['j']}) out of range "
                f"for M={_PQ_M}, K={_PQ_K} — index at {index_dir} was "
                "built with different PQ constants")
        cb[r["m"]][r["j"]] = [int(v) for v in r["codeword"]]
    missing = [(m, j) for m in range(_PQ_M) for j in range(_PQ_K)
               if cb[m][j] is None]
    if missing:
        raise ValueError(
            f"codebooks sidecar at {index_dir} is incomplete: "
            f"{len(missing)}/{_PQ_M * _PQ_K} entries missing "
            f"(first: {missing[0]})")

    qrow = (spark.read.parquet(embeddings_path)
            .filter(F.col("vec_id") == vec_id)
            .select(_quantize_expr("embedding").alias("q"),
                    F.col("embedding").cast("array<double>").alias("emb"))
            .first())
    if qrow is None:
        raise ValueError(
            f"vec_id {vec_id} not found in {embeddings_path}")
    lut = _pq_lut([int(v) for v in qrow["q"]], cb)
    probe_cells = _probe_cells(
        list(qrow["emb"]),
        _IVF_PROBES if probes is None else probes)

    codes = (spark.read.parquet(f"{index_dir}/codes")
             .filter(F.col("cell").isin(probe_cells))
             .filter(F.col("vec_id") != vec_id))
    return (codes.select("vec_id", "label",
                         _adc_expr(lut).alias("approx_d2"))
            .orderBy("approx_d2", "vec_id").limit(k)
            .orderBy("approx_d2", "vec_id"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", required=True, choices=("build", "query"))
    ap.add_argument("--embeddings", required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--vec-id", type=int, default=0)
    # default None → query() resolves the shared _IVF_PROBES constant,
    # keeping CLI runs on the same probe count as the inline query
    ap.add_argument("--probes", type=int, default=None)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(
        "extract_ocr_spark-ann-index").getOrCreate()
    if args.mode == "build":
        print(json.dumps(build(spark, args.embeddings, args.index)))
    else:
        rows = query(spark, args.embeddings, args.index,
                     vec_id=args.vec_id, probes=args.probes,
                     k=args.k).collect()
        print(json.dumps({
            "mode": "query", "vec_id": args.vec_id,
            "results": [[r["vec_id"], r["label"], r["approx_d2"]]
                        for r in rows]}))
    spark.stop()


if __name__ == "__main__":
    main()
