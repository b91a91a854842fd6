"""SemDeDup (cluster-then-pairwise-cosine dedup) vs a from-scratch numpy
oracle: same centroid assignment, same lower-triangle removal rule."""

from __future__ import annotations

import numpy as np

from extract_ocr_spark.operators.similarity import (
    _DIM,
    _centroids,
    semdedup_df,
)


def _python_oracle(vecs: dict[int, np.ndarray], tau: float):
    cents = _centroids()
    cells = {i: int(np.argmax(cents @ v)) for i, v in vecs.items()}
    removed = {}
    ids = sorted(vecs)
    for j, b in enumerate(ids):
        for a in ids[:j]:
            if cells[a] != cells[b]:
                continue
            va, vb = vecs[a], vecs[b]
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if cos >= tau and b not in removed:
                removed[b] = (cells[b], a, round(cos, 6))
    return removed


def test_semdedup_matches_python_oracle(spark):
    rng = np.random.RandomState(42)
    vecs = {i: rng.randn(_DIM) for i in range(30)}
    # plant near-duplicates: 100/101 of 0, 102 of 7 (tiny perturbations
    # keep them in the same cell with cosine ~1)
    vecs[100] = vecs[0] + 0.01 * rng.randn(_DIM)
    vecs[101] = vecs[0] + 0.01 * rng.randn(_DIM)
    vecs[102] = vecs[7] + 0.01 * rng.randn(_DIM)

    expected = _python_oracle(vecs, tau=0.9)
    planted = {100, 101, 102}
    assert planted <= set(expected), "planted dupes must be detectable"

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())],
        "vec_id long, emb array<double>")
    got = {r["vec_id"]: (r["cell"], r["dup_of"], r["cosine"])
           for r in semdedup_df(emb, tau=0.9).collect()}

    assert set(got) == set(expected)
    for vid, (cell, dup_of, cos) in expected.items():
        gcell, gdup, gcos = got[vid]
        assert (gcell, gdup) == (cell, dup_of)
        assert abs(gcos - cos) < 1e-9


def test_semdedup_is_cluster_scoped(spark):
    """A near-identical pair split across cells is NOT flagged — the
    published algorithm only compares within a cluster (that is the
    whole scale trick). Pin that semantic explicitly."""
    cents = _centroids()
    # midway between two centroids, nudged to opposite sides
    mid = cents[0] + cents[1]
    a = mid + 0.05 * cents[0]
    b = mid + 0.05 * cents[1]
    assert int(np.argmax(cents @ a)) != int(np.argmax(cents @ b))
    cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert cos > 0.99

    emb = spark.createDataFrame(
        [(1, [float(x) for x in a]), (2, [float(x) for x in b])],
        "vec_id long, emb array<double>")
    assert semdedup_df(emb, tau=0.9).count() == 0


def test_semdedup_witness_chain(spark):
    """Paper semantics pin: removal uses the LOWER-TRIANGLE rule, so a
    removed vector can still act as the witness for a later one. With
    cos(1,2) >= tau, cos(2,3) >= tau, cos(1,3) < tau: both 2 AND 3 are
    removed, and 3's dup_of is 2 even though 2 is itself removed."""
    import numpy as np

    from extract_ocr_spark.operators.similarity import _centroids, semdedup_df

    cents = _centroids()
    c = cents[5]
    u = np.zeros_like(c)
    u[0] = 1.0
    u = u - (u @ c) * c
    u /= np.linalg.norm(u)
    theta = np.deg2rad(25)
    v1 = np.cos(theta) * c - np.sin(theta) * u
    v2 = c.copy()
    v3 = np.cos(theta) * c + np.sin(theta) * u
    # preconditions: one shared cell; pairwise cosines bracket tau=0.8
    for v in (v1, v2, v3):
        assert int(np.argmax(cents @ v)) == 5
    assert v1 @ v2 > 0.8 and v2 @ v3 > 0.8 and v1 @ v3 < 0.8

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in ((1, v1), (2, v2), (3, v3))],
        "vec_id long, emb array<double>")
    got = {r["vec_id"]: r["dup_of"] for r in semdedup_df(emb, tau=0.8).collect()}
    assert got == {2: 1, 3: 2}


def test_semdedup_refuses_oversized_fixed_cell_input(spark):
    """The 16-cell registry query guards average cell size — a corpus
    that would make the within-cell join quadratic refuses loudly with
    a pointer to scaling the cluster count, instead of hanging."""
    import pytest

    from extract_ocr_spark.operators import similarity as S

    emb = spark.range(S.MAX_SEMDEDUP_CELL_ROWS * S._N_CELLS + 1).selectExpr(
        "id AS vec_id", "array(1.0d, 2.0d) AS emb")
    with pytest.raises(ValueError, match="quadratic in cell size"):
        S.semdedup_df(emb)


# -- literal vectors and the scoring sites built from them ------------------------


def test_lit_sql_round_trips_every_bit(spark):
    """The one literal-vector helper must embed each double bit-for-bit
    (a last-ulp drift would move a centroid and break oracle parity),
    BIGINTs exactly, and refuse non-finite values up front."""
    import struct

    import pytest
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.similarity import _hyperplanes, _lit_sql

    awkward = [5e-324, -5e-324, 1e-300, -0.0, 0.0, 1.7976931348623157e308,
               -1.7976931348623157e308, 0.1, 2 / 3, 1e16, 1e22]
    vals = awkward + [float(x) for x in _centroids().ravel()] + \
        [float(x) for x in _hyperplanes().ravel()]
    longs = [2 ** 62, -(2 ** 62), 0, 7]
    row = spark.range(1).select(
        F.expr(_lit_sql(vals)).alias("d"),
        F.expr(_lit_sql(longs, long=True)).alias("i")).first()
    assert [struct.pack("<d", v) for v in row["d"]] == \
        [struct.pack("<d", v) for v in vals]
    assert row["i"] == longs
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="non-finite"):
            _lit_sql([0.5, bad])


def test_scoring_sites_keep_edge_case_results(spark):
    """Null, short (2), long (65) and null-bearing vectors, all-zero
    vectors, ties and BIGINT overflow score exactly as the per-element
    ``F.lit`` and Column-lambda construction did: cell → null; an argmin
    → index 0 with a null d; all-zero → cell 0, bucket 0, int8 zeros and a
    DIVIDE_BY_ZERO cosine; ties → lowest index; overflow raises. The
    unrolled ``dim`` fold is bit-identical to the HOF fold, falling back
    to it off length (the 65-long sum of squares is 65 terms)."""
    import struct

    import pytest
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators import cosine_sql, dot_sql, sq_sql
    from extract_ocr_spark.operators.similarity import (
        _argmin_d2_sql,
        _bucket_expr,
        _cell_expr,
        _cosine_to_lit,
        _int8_quant,
        _lit_sql,
        _pq_encode,
        _quantize_py,
    )

    c5 = [float(x) for x in _centroids()[5]]
    emb = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0]), (2, [0.5] * 65),
         (3, [0.1] * 63 + [None]), (4, [0.0] * 64), (5, c5),
         (6, c5[:63] + [None])], "id long, emb array<double>")
    assert {r["id"]: r["c"] for r in emb.select(
        "id", _cell_expr("emb").alias("c")).collect()} == \
        {0: None, 1: None, 2: None, 3: None, 4: 0, 5: 5, 6: None}

    # every other site over the same vectors, against c5 reversed
    emb = emb.withColumn("o", F.expr(_lit_sql(c5[::-1])))
    q5 = _quantize_py(c5)[0]
    folds = {"sq": sq_sql("emb"), "sq64": sq_sql("emb", 64),
             "dot": dot_sql("emb", "o"), "dot64": dot_sql("emb", "o", 64)}
    rows = {r["id"]: r for r in _int8_quant(emb, "emb", "q").select(
        "id", "q", _bucket_expr("emb").alias("b"),
        *[F.expr(e).alias(n) for n, e in folds.items()]).collect()}
    assert {i: r["b"] for i, r in rows.items()} == \
        {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 240, 6: 0}
    assert {i: r["q"] for i, r in rows.items()} == {
        0: None, 1: [64, 127], 2: [127] * 65, 3: [127] * 63 + [None],
        4: [0] * 64, 5: q5, 6: q5[:63] + [None]}
    assert {i: (r["sq"], r["dot"]) for i, r in rows.items()} == {
        0: (None, None), 1: (5.0, None), 2: (16.25, None), 3: (None, None),
        4: (0.0, 0.0), 5: (0.9999999999999999, 0.025122901090593935),
        6: (None, None)}

    def bits(v):
        return None if v is None else struct.pack("<d", v)

    for r in rows.values():
        assert (bits(r["sq"]), bits(r["dot"])) == \
            (bits(r["sq64"]), bits(r["dot64"])), r
    cos = (_cosine_to_lit("emb", c5[::-1]), F.expr(cosine_sql("emb", "o")),
           F.expr(cosine_sql("emb", "o", dim=64)))
    got = {r[0]: tuple(map(bits, r[1:])) for r in emb.filter("id != 4")
           .select("id", *cos).collect()}
    c = bits(0.025122901090593938)
    assert got == {0: (None,) * 3, 1: (None,) * 3, 2: (None,) * 3,
                   3: (None,) * 3, 5: (c,) * 3, 6: (None,) * 3}
    for col in cos:
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            emb.filter("id = 4").select(col).collect()

    cents = [[1] * 64, [5] * 64, [1] * 64]          # 0 and 2 tie
    q = spark.createDataFrame(
        [(0, None), (1, [1, 2]), (2, [3] * 65), (3, [1] * 63 + [None]),
         (4, [1] * 64), (5, [3] * 64), (6, [5] * 64),
         (7, [5] * 63 + [None]), (8, [7] * 64)], "id long, q array<bigint>")
    best = F.expr(_argmin_d2_sql("q", cents, "cid"))
    assert {r["id"]: (r["b"]["d"], r["b"]["cid"]) for r in q.select(
        "id", best.alias("b")).collect()} == {
        0: (None, 0), 1: (None, 0), 2: (None, 0), 3: (None, 0), 4: (0, 0),
        5: (256, 0), 6: (0, 1), 7: (None, 0), 8: (256, 1)}

    cb = [[[1] * 16, [5] * 16, [1] * 16] + [[7] * 16] * 13] * 4
    assert {r["id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
            for r in _pq_encode(q, cb).collect()} == {
        **{i: (0, 0, 0, 0) for i in range(6)},
        6: (1, 1, 1, 1), 7: (1, 1, 1, 0), 8: (3, 3, 3, 3)}

    big = spark.createDataFrame([(0, [2 ** 62] + [0] * 63)],
                                "id long, q array<bigint>")
    for frame in (big.select(best), _pq_encode(big, cb)):
        with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
            frame.collect()


# -- trained k-means --------------------------------------------------------------


def _lloyd_mirror(emb_rows, k, iters, scale):
    """Exact python-int Lloyd's: quantize, assign to argmin (dist2, cid),
    truncating integer centroid mean, empty clusters keep their centroid."""
    import math

    from extract_ocr_spark.operators.similarity import _trunc_div

    q = {int(vid): [int(math.floor(float(x) * scale + 0.5)) for x in vec]
         for vid, vec in emb_rows}
    dim = len(next(iter(q.values())))
    cent = {i: q[vid][:]
            for i, vid in enumerate(sorted(q)[:k])}  # K lowest vec_ids

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    asg = {}
    for it in range(iters):
        asg = {v: min((d2(qq, c), cid) for cid, c in cent.items())
               for v, qq in q.items()}
        if it == iters - 1:
            break
        members: dict[int, list[list[int]]] = {}
        for v, (_, cid) in asg.items():
            members.setdefault(cid, []).append(q[v])
        for cid, ms in members.items():
            cent[cid] = [_trunc_div(sum(m[j] for m in ms), len(ms))
                         for j in range(dim)]
    return asg, cent


def test_kmeans_matches_python_lloyd(spark):
    """Every (cluster, dist2) at sf0.001 equals the exact python-int
    Lloyd's mirror — bit-for-bit, because every number is BIGINT."""
    from extract_ocr_spark.operators.similarity import (
        _KMEANS_ITERS,
        _KMEANS_K,
        _KMEANS_SCALE,
        kmeans_clusters,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    asg, cent = _lloyd_mirror(
        [(r["vec_id"], r["embedding"]) for r in emb],
        _KMEANS_K, _KMEANS_ITERS, _KMEANS_SCALE)

    got = {int(r["vec_id"]): (int(r["cluster"]), int(r["dist2"]))
           for r in kmeans_clusters(spark, sf).collect()}
    want = {v: (cid, d) for v, (d, cid) in asg.items()}
    assert got == want

    # the iteration is load-bearing: trained centroids must differ from
    # the init (vec_id < K) and some vector must have switched cluster
    # relative to the nearest-init assignment
    asg0, cent0 = _lloyd_mirror(
        [(r["vec_id"], r["embedding"]) for r in emb],
        _KMEANS_K, 1, _KMEANS_SCALE)
    assert cent != cent0
    assert any(asg[v][1] != asg0[v][1] for v in asg)
    assert len({cid for _, cid in asg.values()}) > 1


def test_kmeans_init_robust_to_gapped_vec_ids(spark, tmp_path):
    """Init is the K LOWEST vec_ids, not `vec_id < K`: a table whose ids
    start above K must still train and match the mirror."""
    import numpy as np

    from extract_ocr_spark.operators.similarity import (
        _KMEANS_ITERS,
        _KMEANS_K,
        _KMEANS_SCALE,
        kmeans_clusters,
    )

    rng = np.random.default_rng(7)
    rows = [(int(100 + 3 * i),
             [float(x) for x in rng.normal(0, 0.15, 64).astype(np.float32)],
             int(i % 4))
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {int(r["vec_id"]): (int(r["cluster"]), int(r["dist2"]))
           for r in kmeans_clusters(spark, str(tmp_path)).collect()}
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet")).collect()
    asg, _ = _lloyd_mirror([(r["vec_id"], r["embedding"]) for r in emb],
                           _KMEANS_K, _KMEANS_ITERS, _KMEANS_SCALE)
    assert got == {v: (cid, d) for v, (d, cid) in asg.items()}
    assert len(got) == 60


def test_pca_top_component_aligns_with_true_eigenvector(spark):
    """External-truth guard: an internally-consistent oracle pair could
    still compute the wrong matrix or a non-converging iteration. The
    returned direction must align with numpy's top eigenvector of the
    same quantized gram matrix (>= 0.9 after 40 iterations on this
    flat-spectrum corpus) and the eigenvalue estimate must be within 2%
    of numpy's lambda_1."""
    import math

    import numpy as np

    from extract_ocr_spark.operators.similarity import (
        _PCA_SCALE,
        pca_top_component,
    )

    out = pca_top_component(spark, "/root/testdata/sf0.001").collect()
    v = np.array([r["loading"] for r in sorted(out, key=lambda r: r["dim"])])
    lam = out[0]["eigenvalue"]

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").collect()
    qs = np.array([[math.floor(float(x) * _PCA_SCALE + 0.5)
                    for x in r["embedding"]] for r in emb], dtype=float)
    gram = qs.T @ qs
    w, vecs = np.linalg.eigh(gram)
    assert abs(float(np.dot(vecs[:, -1], v))) >= 0.9
    assert abs(lam - w[-1]) / w[-1] <= 0.02
    # 64 loadings each rounded to 6 decimals can deflect the norm by up
    # to ~sqrt(64)*5e-7 = 4e-6 first-order; 5e-6 matches the guarantee
    assert abs(float(np.linalg.norm(v)) - 1.0) < 5e-6


def test_contamination_embedding_flags_and_margins(spark):
    """The flag channel must be non-degenerate at test scale (some rows
    flagged, most not), eval vectors must be excluded from the corpus
    side, and every flagged cosine must clear the threshold that every
    unflagged cosine stays under."""
    from extract_ocr_spark.operators.similarity import (
        CONTAM_EVAL_MOD,
        CONTAM_TAU,
        contamination_embedding,
    )

    rows = contamination_embedding(spark, "/root/testdata/sf0.001").collect()
    assert all(r["vec_id"] % CONTAM_EVAL_MOD != 0 for r in rows)
    assert all(r["best_eval_id"] % CONTAM_EVAL_MOD == 0 for r in rows)
    flagged = [r for r in rows if r["contaminated"]]
    assert 0 < len(flagged) < len(rows)
    # the cosine column is rounded to 6 decimals while the flag uses the
    # raw value, so boundary comparisons need a half-ulp-of-rounding slack
    assert all(r["cosine"] >= CONTAM_TAU - 5e-7 for r in flagged)
    assert all(r["cosine"] < CONTAM_TAU + 5e-7
               for r in rows if not r["contaminated"])


def test_ndcg_eval_matches_numpy_reference(spark):
    """External truth for the NDCG machinery: an independent numpy
    implementation (numpy cosines, python sorts, the same ppm discount
    table) reproduces every (hits, dcg_ppm, ndcg) row at sf0.001 —
    neither engine's fold/window idioms are in the loop."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from extract_ocr_spark.operators.similarity import (
        _NDCG_DISC, _NDCG_IDCG, _hyperplanes, NDCG_NQ, TOP_K, ndcg_eval)

    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    ids = t["vec_id"].to_pylist()
    embs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    planes = _hyperplanes()
    bucket = {
        vid: sum(1 << p for p in range(8)
                 if float(np.dot(planes[p], v)) > 0)
        for vid, v in zip(ids, embs)
    }
    emap = dict(zip(ids, embs))

    expected = {}
    for qid in range(NDCG_NQ):
        qv, qb = emap[qid], bucket[qid]
        sims = [
            (vid, float(np.dot(qv, emap[vid])
                        / (np.linalg.norm(qv) * np.linalg.norm(emap[vid]))))
            for vid in ids if vid != qid
        ]
        exact = sorted(sims, key=lambda s: (-s[1], s[0]))[:TOP_K]
        rel = {vid: TOP_K + 1 - i for i, (vid, _) in enumerate(exact, 1)}
        cand = [(vid, c) for vid, c in sims
                if bin(bucket[vid] ^ qb).count("1") <= 1]
        approx = sorted(cand, key=lambda s: (-s[1], s[0]))[:TOP_K]
        dcg = sum(rel.get(vid, 0) * _NDCG_DISC[i - 1]
                  for i, (vid, _) in enumerate(approx, 1))
        hits = sum(1 for vid, _ in approx if vid in rel)
        expected[qid] = (hits, dcg, round(dcg / _NDCG_IDCG, 6))

    got = {r["qid"]: (r["hits"], r["dcg_ppm"], r["ndcg"])
           for r in ndcg_eval(spark, "/root/testdata/sf0.001").collect()}
    assert got == expected
    # the metric is live on this corpus: not every query scores 0
    assert any(v[0] > 0 for v in got.values())
    assert all(0.0 <= v[2] <= 1.0 for v in got.values())
    # IDCG is the perfect-ranking constant over the same table
    assert _NDCG_IDCG == sum(
        (TOP_K + 1 - i) * round(1_000_000 / math.log2(i + 1))
        for i in range(1, TOP_K + 1))


def test_rrf_fusion_replays_component_rankings(spark):
    """Rebuild both component rankings independently (bm25_search_df for
    lexical, a numpy cosine scan for vector), fuse them in python with
    the ppm weight table, and require rrf_fusion's output to be exactly
    the python fusion's top-10 — ranks, weights, and tie-breaks."""
    import numpy as np
    import pyarrow.parquet as pq

    from extract_ocr_spark.operators.similarity import (
        _RRF_PPM, BM25_TOPK, QUERY_VEC_ID, RRF_K, RRF_TOPK,
        bm25_search_df, rrf_fusion)

    sf = "/root/testdata/sf0.01"
    assert all(_RRF_PPM[r - 1] == round(1_000_000 / (RRF_K + r))
               for r in range(1, BM25_TOPK + 1))

    lex = bm25_search_df(spark.read.parquet(f"{sf}/documents.parquet"))
    lex_rows = sorted(((r["score"], r["doc_id"]) for r in lex.collect()),
                      key=lambda s: (-s[0], s[1]))
    rank_lex = {doc: i for i, (_, doc) in enumerate(lex_rows, 1)}

    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = t["vec_id"].to_pylist()
    embs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    emap = dict(zip(ids, embs))
    qv = emap[QUERY_VEC_ID]
    sims = sorted(
        ((round(float(np.dot(qv, emap[v])
                      / (np.linalg.norm(qv) * np.linalg.norm(emap[v]))), 6),
          v) for v in ids if v != QUERY_VEC_ID),
        key=lambda s: (-s[0], s[1]))[:BM25_TOPK]
    rank_vec = {doc: i for i, (_, doc) in enumerate(sims, 1)}

    fused = {}
    for doc in set(rank_lex) | set(rank_vec):
        w = (_RRF_PPM[rank_lex[doc] - 1] if doc in rank_lex else 0) \
            + (_RRF_PPM[rank_vec[doc] - 1] if doc in rank_vec else 0)
        fused[doc] = w
    expect = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:RRF_TOPK]

    got = rrf_fusion(spark, sf).collect()
    assert [(r["doc_id"], r["rrf_ppm"]) for r in got] == expect
    for r in got:
        assert r["rank_lex"] == rank_lex.get(r["doc_id"])
        assert r["rank_vec"] == rank_vec.get(r["doc_id"])
    # the fusion is live at this sf: some doc appears in BOTH rankings
    assert any(r["rank_lex"] is not None and r["rank_vec"] is not None
               for r in got)


def _py_cos(a, b):
    """Sequential-left-fold cosine — the accumulation order BOTH engines
    use (F.aggregate / list folds), so a last-ulp near-tie can never
    diverge between this reference and the operator (np.dot's pairwise
    summation could)."""
    import math

    num = 0.0
    for x, y in zip(a, b):
        num += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return num / (math.sqrt(na) * math.sqrt(nb))


def _py_int8(v):
    """The ann_topk_int8 quantizer chain, replayed in python."""
    import math

    from extract_ocr_spark.operators.similarity import INT8_LEVELS

    m = max(abs(x) for x in v)
    if m == 0:
        return [0] * len(v)
    s = m / INT8_LEVELS
    return [math.floor(x / s + 0.5) for x in v]


def _py_mrr_expected(ids, emap, bucket):
    """Python replay of mrr_eval's full rule chain: exact top-1 defines
    the target; the LSH-probed set ranked by int8 cosine defines the
    list; rr from the shared ppm table."""
    from extract_ocr_spark.operators.similarity import (
        _MRR_RR, NDCG_NQ, TOP_K)

    expected = {}
    for qid in range(NDCG_NQ):
        qv, qb = emap[qid], bucket[qid]
        others = [vid for vid in ids if vid != qid]
        exact = sorted(
            ((vid, _py_cos(emap[vid], qv)) for vid in others),
            key=lambda s: (-s[1], s[0]))
        best = exact[0][0]
        qq = _py_int8(qv)
        cand = [(vid, _py_cos(_py_int8(emap[vid]), qq))
                for vid in others
                if bin(bucket[vid] ^ qb).count("1") <= 1]
        approx = [vid for vid, _ in
                  sorted(cand, key=lambda s: (-s[1], s[0]))[:TOP_K]]
        pos = approx.index(best) + 1 if best in approx else None
        expected[qid] = (best, pos is not None,
                         _MRR_RR[pos - 1] if pos else 0)
    return expected


def test_mrr_eval_matches_python_reference(spark):
    """External truth for MRR at sf0.001: an independent python replay
    (sequential-fold cosines matching both engines' accumulation order,
    the int8 quantizer chain, the same ppm table) reproduces every
    (best_vec, found, rr_ppm) row — including that misses are 0, which
    under ANSI mode guards the element_at(NULL)-is-last-element hazard
    (a coalesce around element_at scores every miss as RR[K]; verified
    against this session's Spark 4.1.2 with ansi=true, the session
    default)."""
    import numpy as np
    import pyarrow.parquet as pq

    from extract_ocr_spark.operators.similarity import (
        _MRR_RR, _hyperplanes, TOP_K, mrr_eval)

    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    ids = t["vec_id"].to_pylist()
    embs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    planes = _hyperplanes()

    def _bucket(v):
        return sum(1 << p for p in range(8)
                   if sum(planes[p][i] * v[i] for i in range(len(v))) > 0)

    emap = {vid: embs[i].tolist() for i, vid in enumerate(ids)}
    bucket = {vid: _bucket(emap[vid]) for vid in ids}
    expected = _py_mrr_expected(ids, emap, bucket)

    got = {r["qid"]: (r["best_vec"], r["found"], r["rr_ppm"])
           for r in mrr_eval(spark, "/root/testdata/sf0.001").collect()}
    assert got == expected
    # both branches live: at least one hit and at least one miss
    assert any(v[1] for v in got.values())
    assert any(not v[1] for v in got.values())
    assert all(v[2] == 0 for v in got.values() if not v[1])
    assert _MRR_RR == [round(1_000_000 / i) for i in range(1, TOP_K + 1)]


def test_mrr_eval_int8_ranking_demotes_true_nn(spark, tmp_path):
    """The reason MRR is not a hit rate: a crafted corpus where the
    int8-quantized ranking FLIPS the exact top-2 — the true nearest
    neighbor is probed but ranks pos=2 in the approximate list, so
    rr_ppm = 500000 (not 0, not 1000000). The flip pair is found by a
    deterministic search over seeded perturbations of a shared base
    vector (same bucket by construction), and the expectation comes
    from the same python replay as the sf0.001 reference test."""
    import numpy as np

    from extract_ocr_spark.operators.similarity import (
        _hyperplanes, NDCG_NQ, mrr_eval)

    planes = _hyperplanes()

    def _bucket(v):
        return sum(1 << p for p in range(8)
                   if sum(planes[p][i] * v[i] for i in range(64)) > 0)

    rng = np.random.default_rng(7)
    base = rng.normal(size=64) * 10
    bq = _bucket(base.tolist())
    flip = None
    for _ in range(4000):
        ea = rng.normal(size=64) * 0.05
        eb = rng.normal(size=64) * 0.05
        A = (base + ea).tolist()
        B = (base + eb).tolist()
        q = base.tolist()
        if _bucket(A) != bq or _bucket(B) != bq:
            continue
        ca, cb = _py_cos(A, q), _py_cos(B, q)
        qq = _py_int8(q)
        c8a = _py_cos(_py_int8(A), qq)
        c8b = _py_cos(_py_int8(B), qq)
        if ca > cb and c8b > c8a:
            flip = (A, B)
            break
        if cb > ca and c8a > c8b:
            flip = (B, A)
            break
    assert flip is not None, "no exact-vs-int8 flip in 4000 seeded trials"
    A, B = flip  # A = exact winner, B = int8 winner

    # corpus: qid 0 = base; qids 1..7 = remote junk (scaled away from
    # base so they never contest the top-2); candidates 100 = A, 101 = B
    rows = [(0, [float(x) for x in base])]
    for j in range(1, NDCG_NQ):
        v = rng.normal(size=64) * 10
        rows.append((j, [float(x) for x in v]))
    rows += [(100, [float(x) for x in A]), (101, [float(x) for x in B])]
    emb_df = spark.createDataFrame(
        [(vid, v, "x") for vid, v in rows],
        "vec_id long, embedding array<double>, label string")
    emb_df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    ids = [vid for vid, _ in rows]
    emap = {vid: v for vid, v in rows}
    bucket = {vid: _bucket(emap[vid]) for vid in ids}
    expected = _py_mrr_expected(ids, emap, bucket)
    got = {r["qid"]: (r["best_vec"], r["found"], r["rr_ppm"])
           for r in mrr_eval(spark, str(tmp_path)).collect()}
    assert got == expected
    # the discriminating row: true NN probed but demoted to pos 2
    assert got[0] == (100, True, 500000)
