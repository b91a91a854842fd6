"""Scale-invariance spot check: a representative subset of oracle queries
must also match DuckDB at sf0.001 (guards against thresholds or ties that
only happen to work at the driver's sf0.01)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.test_entry_oracles import TABLES, _normalize

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
SUBSET = [
    "pricing_summary", "minhash_lsh_pairs", "ngram_jaccard_pairs",
    "embedding_neardup_pairs", "ann_topk", "extract_html_markdown",
    "split_assign", "contamination_check", "robots_gate",
    # r2 additions: the formerly rows-only scale paths + new operators
    "simhash_pairs", "ann_topk_lsh", "ann_topk_ivf", "embedding_neardup_lsh",
    "extract_synthetic_spans", "neardup_clusters", "quality_filter_apply",
    "markdown_link_rewrite", "media_features", "top_terms_per_source",
    "lang_id_pred", "doc_fingerprints", "citations_csl", "ext_guess",
    "path_key_report",
    # r3 additions
    "resize_media", "frame_sample", "apis_report_markdown", "resp_md_pick",
    "pack_sequences", "stratified_sample", "repetition_metrics",
    "dup_ngram_spans", "session_counts",
    # r4 additions: re-seeded resume gate, join-variant rewrite, zip pick,
    # LM quality scoring, sitemap discovery
    "anti_join_resume", "markdown_link_rewrite_join", "zip_member_pick",
    "lm_nll_scores", "sitemap_discovery",
    # r5 addition: iterative BFS frontier vs recursive-CTE oracle
    "bfs_frontier",
    # r5 final session: exact binned ROC-AUC (tie/degenerate branches
    # differ across sf) + NDCG of the ANN path (hit pattern differs)
    "classifier_auc", "ndcg_eval", "pr_curve", "rrf_fusion",
    "calibration_bins", "ks_drift",
    # HDR bucket boundaries and ceil-rank cells shift with the corpus
    "hdr_quantiles",
    # contingency margins and cube rollup cells follow the corpus
    "chi2_drift", "cube_report",
    # r5 additions: budget window, bloom membership, signature estimate,
    # PMI top-k, int8 ANN (threshold/tie/top-k boundaries all differ at
    # this sf)
    "token_budget_sample", "ccnet_buckets", "bloom_url_seen",
    "inverted_index", "minhash_est_pairs", "pmi_collocations",
    "ann_topk_int8", "vocab_coverage", "ngram_novelty", "source_overlap",
    "cluster_canonical",
    # continuation session: PQ-ADC ANN and its IVF composition
    # (codebooks/LUTs/probed cells all derive from the corpus, so every
    # literal differs across sf)
    "ann_topk_pq", "ann_topk_ivfpq",
    # final session: calendar densification (gap/island lengths differ
    # per sf) and the self-BLEU clip (top-2-per-bigram ties differ)
    "gap_fill_daily", "self_bleu",
    # trained-NB confusion (class-conditional counts and prior argmax
    # both follow the corpus)
    "nb_lang_confusion",
    # 1-hop neighbor means follow the graph (bridges differ per n)
    "neighbor_agg",
    # hit/miss pattern of the true-NN probe differs per corpus
    "mrr_eval",
    # global HDR cells and the per-source bp grid follow the corpus
    "quantile_normalize",
    # confusion counts follow the corpus's boundary pairs
    "dedup_pr_eval",
    # which near-dup pairs straddle a split follows the content hashes
    "split_leakage_check",
    # r5 tenth session: interleaved structure, norm tails, host rollup,
    # and the three custom temporal joins (tie/branch behavior is
    # data-dependent, so both scales matter)
    "caption_pairs", "interleave_stats", "embedding_norm_outliers",
    "host_reputation", "asof_join", "range_join_bins", "hypertable_rollup",
    "event_funnel", "anchor_text_agg", "kmeans_clusters",
    "skipgram_pairs",
    # r5 thirteenth session: graph cohesion/community + the two classic
    # mergeable sketches (register/bucket layouts are hash-layout-
    # sensitive, so both scales matter)
    "triangle_count", "label_propagation", "hll_distinct",
    "cms_heavy_hitters",
    # iterative linear algebra + embedding decontamination (fold-order
    # and argmax-near-tie behavior are data-dependent)
    "pca_top_component", "contamination_embedding",
    # cohort grid and wedge-join candidates shift with the data
    "cohort_retention", "link_prediction",
    # lag-window adjacency stats: tie order and gap values are
    # timestamp-resolution-dependent
    "markov_transitions", "dwell_times",
    # float->exact-cents rounding boundaries and the data-derived label
    # cut both shift with scale
    "top_orders_revenue", "churn_labels",
    # r5 fourteenth session: semi-join existence, disjunctive branch
    # ranges, and salt-invariance are all value-distribution-dependent
    "order_priority_counts", "disjunctive_pricing", "salted_skew_join",
    # A-Res top-k boundary and RFM tercile cuts shift with corpus size
    "weighted_sample", "rfm_segments",
    # log-odds top-5 boundary and the blocked pair set shift with scale
    "log_odds_terms", "edit_distance_pairs",
    # hash-seeded mask spans and the unpivot row set follow the corpus
    "span_corruption_plan", "metrics_unpivot",
    # dim-join rollups and the calibrated anomaly threshold
    "regional_revenue", "promo_revenue_share", "daily_anomalies",
    # RANGE-frame boundary behavior and the qty HAVING cut
    "trailing_hour_counts", "large_orders",
    # lossless prefix filtering must reproduce the brute force exactly
    "prefix_filter_pairs",
    # peeling fixpoint membership and trigram tie order shift with data
    "k_core", "path_trigrams",
    # the pivot's explicit-values schema contract
    "user_event_pivot",
    # the calibrated conversion cut and 2-row lift window
    "ab_lift",
    # all three incremental-dedup statuses + cap boundary
    "incremental_dedup",
    # 6h direct-vs-touch branch, struct-max tie-breaks, NULL first touch
    "attribution_last_touch",
    # conditional numerator must be non-degenerate at both scales
    "market_share",
    # r5 fifteenth session: every op here is scale-calibrated — the
    # packing's oversized-atomic branch, k-anonymity's risk split, the
    # mean-relative Q11 gate, the SSSP fixpoint round count, BPE merge
    # ranks, MMR's rounded candidate cut, SCD2 change collapse, vocab
    # id layout, media fingerprint collision groups, and the TPC-H
    # tie/threshold blocks all shift with corpus size
    "bpe_encode", "interleave_pack", "media_dedup_groups",
    "dictionary_encode", "mmr_rerank", "scd2_intervals",
    "shortest_paths", "k_anonymity", "revenue_delta", "top_supplier",
    "product_profit", "min_cost_supplier", "important_parts",
    "parts_supplier_counts",
    # r5 sixteenth session: the Q12 late/priority split and the Q20
    # majority-share gate are value-distribution-dependent; HITS
    # fold-order parity and the sup-norm argmax shift with graph size
    "late_ship_priority", "dominant_suppliers", "hits_scores",
    # bucket-collision layout and the seeded fold length both shift
    # with corpus size
    "js_divergence", "ema_value",
    # hash-parity branch mix and per-lang token sums shift with scale
    "fim_plan", "tokenizer_fertility",
    # the df>=3 boilerplate set is entirely corpus-dependent
    "boilerplate_lines",
    # r5 closing sessions: bit-interleave/recurrence keys over the full
    # id domain, the median-relative salt factors, and the LOO nulls
    # (single-member categories) all shift with scale
    "zorder_key", "hilbert_key", "partition_skew_report",
    "target_encode_loo",
    # window membership, n-way splits, and the direct/credited mix all
    # shift with event density
    "attribution_linear",
]


@pytest.fixture(scope="module")
def duck001():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle_sf001(spark, duck001, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    oracle = entrymod.oracle_sql()[name]
    res = duck001.sql(oracle)
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck_rows = res.fetchall()
    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    a = _normalize(spark_rows, sdf.columns)
    b = _normalize(duck_rows, list(res.columns))
    assert a == b, f"{name}: value mismatch at sf0.001"


def test_ann_topk_int8_recall_vs_exact(spark):
    """The quantized scan must recover (nearly) the exact float top-10:
    int8 keeps ~2.4 decimal digits per component, which at _DIM=64
    perturbs cosines by ~1e-3 — far under the neighbor gaps here.
    recall@10 >= 9 guards the quantizer against sign/rounding bugs that
    an internally-consistent oracle pair would not catch."""
    from extract_ocr_spark.operators.similarity import ann_topk, ann_topk_int8

    exact = {r["vec_id"] for r in ann_topk(spark, SF_DIR).collect()}
    quant = {r["vec_id"] for r in ann_topk_int8(spark, SF_DIR).collect()}
    assert len(quant) == 10
    assert len(exact & quant) >= 9, (exact, quant)


def test_ann_topk_pq_seed_vectors_score_exact(spark):
    """PQ's algebraic anchor: a codebook member's subvectors ARE
    codewords, so its encode is lossless and its ADC distance equals
    the exact integer d² to the query — for every seed vector, at a
    scale where the top-10 cut would hide them. This is the property
    that catches slicing/indexing/LUT bugs that an internally-
    consistent oracle pair cannot (both sides would be wrong alike).
    (No recall floor is pinned: the synthetic embeddings are i.i.d.
    uniform — the known worst case for PQ with an untrained 16-word
    codebook stand-in — so recall here measures the fixture, not the
    operator; the oracle + this exactness property pin the math.)"""
    from extract_ocr_spark.operators.similarity import (
        _PQ_K, _pq_scored, _quantize_expr)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = emb.select("vec_id", _quantize_expr("embedding").alias("q"))
    qq = qv.filter(F.col("vec_id") == 0).first()["q"]
    qlit = F.array(*[F.lit(int(v)).cast("long") for v in qq])
    exact = {
        r["vec_id"]: r["d2"]
        for r in qv.filter(F.col("vec_id") != 0).select(
            "vec_id",
            F.aggregate(
                F.zip_with("q", qlit, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, x: acc + x).alias("d2")
        ).collect()}
    scored = {r["vec_id"]: r["approx_d2"]
              for r in _pq_scored(spark, SF_DIR).collect()}
    seeds = [r["vec_id"]
             for r in qv.orderBy("vec_id").limit(_PQ_K).collect()]
    assert len(seeds) == _PQ_K
    for v in seeds:
        if v == 0:
            continue
        assert scored[v] == exact[v], (v, scored[v], exact[v])


def test_ann_topk_ivfpq_pruning_never_rescores(spark):
    """The IVF×PQ composition invariant: probe pruning decides WHICH
    candidates are scanned, never how one is scored — every row ivfpq
    returns carries exactly the approx_d2 the global PQ scan assigns
    that vec_id (global codebooks/LUTs), and ivfpq's result set is the
    top-10 of the global scored frame RESTRICTED to the probed cells."""
    from extract_ocr_spark.operators.similarity import (
        _cell_expr, _pq_scored, _probe_cells, _query_vector,
        ann_topk_ivfpq)

    got = [(r["vec_id"], r["approx_d2"])
           for r in ann_topk_ivfpq(spark, SF_DIR).collect()]
    assert len(got) == 10

    global_scores = {r["vec_id"]: r["approx_d2"]
                     for r in _pq_scored(spark, SF_DIR).collect()}
    for vid, d2 in got:
        assert global_scores[vid] == d2, (vid, d2, global_scores[vid])

    # the production probe rule itself — deriving the set with a second
    # (argsort-based) rule here let an ulp-near tie disagree with what
    # ivfpq actually probes
    probe = set(_probe_cells(_query_vector(spark, SF_DIR)))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    kept = {r["vec_id"] for r in emb.select(
        "vec_id",
        _cell_expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("cell"))
        .filter(F.col("cell").isin(list(probe))).collect()}
    want = sorted(((global_scores[v], v) for v in kept if v != 0))[:10]
    assert [(v, d) for d, v in want] == got


@pytest.mark.parametrize("qname", ["ann_topk_pq", "ann_topk_ivfpq"])
def test_ann_topk_pq_plan_map_only_takeordered(spark, qname):
    """The PQ scan's scale contract: codebooks + LUTs (and for ivfpq the
    probe-cell filter) are plan literals, encode+ADC is one projection
    over the scan — ZERO exchanges, no Python eval, top-k via
    TakeOrderedAndProject (per-partition heaps)."""
    from extract_ocr_spark.operators import similarity

    plan = (getattr(similarity, qname)(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 0, plan
    assert "EvalPython" not in plan


def test_probe_cells_tie_break_matches_oracle_order():
    """``_probe_cells`` is the ONE probe rule (inline IVF queries + the
    serving job): a fully tied query (zero vector → every centroid dot
    is 0.0) must resolve by the oracle's exact ``DESC, cell`` tie-break
    — lowest cell ids first — which np.argsort (unstable, no secondary
    key) never guaranteed."""
    from extract_ocr_spark.operators.similarity import (
        _IVF_PROBES, _N_CELLS, _probe_cells)

    assert _probe_cells([0.0] * 64) == list(range(_IVF_PROBES))
    assert _probe_cells([0.0] * 64, _N_CELLS) == list(range(_N_CELLS))
