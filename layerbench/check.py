"""Output checks. Each returns failure messages; none means the outputs
are right.

Worker processes import this module to run ``out_spans_sha``.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from layerbench.corpus import spans_digest


def _spans_sha(col: pd.Series) -> pd.Series:
    return col.map(lambda spans: spans_digest([] if spans is None else spans))


def out_spans_sha(col):
    """Per-row digest of an out_spans column. A new UDF per call: a UDF
    object binds to the SparkContext that first runs it, and the
    benchmark restarts contexts."""
    return pandas_udf(_spans_sha, StringType())(col)


def compare_digests(got: dict[str, str], reference: dict[str, str],
                    what: str) -> list[str]:
    """Per-doc output digests against the single-process reference."""
    bad = [d for d, sha in reference.items() if got.get(d) != sha]
    extra = set(got) - set(reference)
    out = []
    if bad:
        out.append(f"{what}: {len(bad)} docs differ from the single-process "
                   f"extract_doc output, e.g. {bad[0]}")
    if extra:
        out.append(f"{what}: {len(extra)} unexpected doc ids, e.g. {min(extra)}")
    return out


def check_committed(run, docs, reference: dict[str, str]) -> tuple[list[str], dict]:
    """A finished ``ExtractionRun``: every doc committed exactly once, with
    no error and the reference spans, and ``lineage_audit.audit_run``
    reports ok. Returns (failures, {committed_rows, error_rows}), where
    error_rows counts lineage error events."""
    from extract_ocr_spark.lineage_audit import audit_run

    rows = (run.sink.read_committed_extracted()
            .select("doc_id", "error", out_spans_sha("out_spans").alias("sha"))
            .collect())
    failures = []
    seen: dict[str, str] = {}
    dup = []
    for r in rows:
        if r["doc_id"] in seen:
            dup.append(r["doc_id"])
        seen[r["doc_id"]] = r["sha"]
    if dup:
        failures.append(f"{len(dup)} docs committed more than once, e.g. {dup[0]}")
    errors = [r["doc_id"] for r in rows if r["error"] is not None]
    if errors:
        failures.append(f"{len(errors)} committed docs carry an error, e.g. {errors[0]}")
    failures += compare_digests(seen, reference, "committed output")
    audit = audit_run(docs, run.lineage(), run.extracted())
    if not audit["ok"]:
        failures.append(f"lineage audit failed: missing_lineage="
                        f"{audit['missing_lineage']} missing_output="
                        f"{audit['missing_output']}")
    return failures, {"committed_rows": len(rows),
                      "error_rows": int(audit["event_kind_histogram"].get("error", 0))}


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return v


def normalize(rows, cols) -> list[tuple]:
    """Order-insensitive, column-order-insensitive rows with floats at six
    decimals — the normalisation tests/test_entry_oracles.py applies."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)


def rows_digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()
