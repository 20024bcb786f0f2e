"""Similarity-search queries over the embeddings table + DuckDB oracles.

The hyperplanes are deterministic Python literals inlined into BOTH the
Spark expressions and the oracle SQL, so bucket assignments are
verifiable value-by-value.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.operators import similarity as S
from ocr_spark.queries import QuerySpec, load

QUERIES: list[QuerySpec] = []

# Production plane count (VERDICT r2 #4): 12 planes = 4096 buckets, the
# regime where single-probe recall actually collapses and the two
# production compensators are load-bearing — Hamming<=2 multiprobe for
# the ANN queries, banding (N_BANDS x 6 planes) for near-dup pairing.
# r1/r2 ran a toy 4-plane config whose 16 buckets made every probe look
# easy. Since r5 the banding comes from the SIZING POLICY
# (similarity.lsh_params — S-curve recall x bounded candidate cost),
# pinned at the registry's design scale: the oracle SQL inlines the
# identical planes, so the registered spelling must be one fixed
# config; production paths size dynamically per corpus
# (embedding_near_dup_pairs_auto / minhash_lsh_pairs_auto).
_DESIGN_N_DOCS = 2000  # the sf0.001-0.01 testdata scale
N_PLANES, N_BANDS, _POLICY_R = S.lsh_params(
    _DESIGN_N_DOCS, dup_cos=0.99, recall=0.9, max_cand_per_doc=64)
assert (N_PLANES, N_BANDS) == (12, 2), "policy drift would silently " \
    "change every registered LSH spelling and oracle"
PROBE_HAMMING = 2
DIM = 64
PLANES = S.hyperplanes(N_PLANES, DIM, seed=123)


def _sql_vec(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _sql_dot(vec_expr: str, vals) -> str:
    return f"list_dot_product(CAST({vec_expr} AS DOUBLE[]), {_sql_vec(vals)})"


def _query_vec(spark, sf):
    row = (load(spark, sf, "embeddings")
           .where(F.col("vec_id") == 0).select("embedding").first())
    return [float(x) for x in row["embedding"]]


def q(name, sql, note=""):
    def deco(fn):
        QUERIES.append(QuerySpec(name, fn, sql, note))
        return fn
    return deco


@q("sim_cosine_topk",
   "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings "
   "WHERE vec_id = 0) "
   "SELECT vec_id, ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
   "(SELECT qe FROM q)) / (sqrt(list_dot_product(CAST(embedding AS "
   "DOUBLE[]), CAST(embedding AS DOUBLE[]))) * sqrt((SELECT "
   "list_dot_product(qe, qe) FROM q))), 4) AS cos "
   "FROM embeddings WHERE vec_id <> 0 "
   "ORDER BY cos DESC, vec_id LIMIT 10",
   "brute-force cosine top-k (TakeOrderedAndProject: per-partition heap, "
   "no global sort)")
def cosine_topk(spark, sf):
    qv = _query_vec(spark, sf)
    emb = load(spark, sf, "embeddings").where(F.col("vec_id") != 0)
    return S.cosine_topk(emb, "vec_id", "embedding", qv, k=10)


@q("sim_lsh_bucket_histogram",
   "SELECT (" + " + ".join(
       f"(CASE WHEN {_sql_dot('embedding', p)} >= 0 "
       f"THEN {1 << j} ELSE 0 END)" for j, p in enumerate(PLANES))
   + ") AS bucket, count(*) AS cnt FROM embeddings GROUP BY 1",
   "random-hyperplane LSH bucketing (scale path for ANN)")
def lsh_histogram(spark, sf):
    emb = load(spark, sf, "embeddings")
    buckets = S.lsh_buckets(emb, "vec_id", "embedding", PLANES)
    return (buckets.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def _ann_spark(spark, sf):
    qv = _query_vec(spark, sf)
    emb = load(spark, sf, "embeddings")
    return S.ann_search(emb, "vec_id", "embedding", qv, PLANES, k=5)


def _make_ann_spec() -> QuerySpec:
    # The query vector comes from vec_id=0 of the same sf dir; embed it in
    # SQL via a scalar subquery so ONE sql string works for every sf tier.
    bucket_expr = " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', p)} >= 0 "
        f"THEN {1 << j} ELSE 0 END)" for j, p in enumerate(PLANES))
    qbucket_expr = " + ".join(
        f"(CASE WHEN {_sql_dot('(SELECT embedding FROM embeddings WHERE vec_id = 0)', p)} >= 0 "
        f"THEN {1 << j} ELSE 0 END)" for j, p in enumerate(PLANES))
    sql = (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe "
        "FROM embeddings WHERE vec_id = 0), "
        f"b AS (SELECT vec_id, embedding, ({bucket_expr}) AS bucket "
        "FROM embeddings) "
        "SELECT vec_id, ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "(SELECT qe FROM q)) / (sqrt(list_dot_product(CAST(embedding AS "
        "DOUBLE[]), CAST(embedding AS DOUBLE[]))) * sqrt((SELECT "
        "list_dot_product(qe, qe) FROM q))), 4) AS cos "
        f"FROM b WHERE bucket = ({qbucket_expr}) "
        "ORDER BY cos DESC, vec_id LIMIT 5")
    return QuerySpec("sim_ann_lsh_query", _ann_spark, sql,
                     "ANN: exact ranking restricted to the query's LSH "
                     "bucket")


QUERIES.append(_make_ann_spec())


def _make_multiprobe_spec() -> QuerySpec:
    bucket_expr = " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', p)} >= 0 "
        f"THEN {1 << j} ELSE 0 END)" for j, p in enumerate(PLANES))
    qbucket_expr = " + ".join(
        f"(CASE WHEN {_sql_dot('(SELECT embedding FROM embeddings WHERE vec_id = 0)', p)} >= 0 "
        f"THEN {1 << j} ELSE 0 END)" for j, p in enumerate(PLANES))
    sql = (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe "
        "FROM embeddings WHERE vec_id = 0), "
        f"b AS (SELECT vec_id, embedding, ({bucket_expr}) AS bucket "
        "FROM embeddings) "
        "SELECT vec_id, ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "(SELECT qe FROM q)) / (sqrt(list_dot_product(CAST(embedding AS "
        "DOUBLE[]), CAST(embedding AS DOUBLE[]))) * sqrt((SELECT "
        "list_dot_product(qe, qe) FROM q))), 4) AS cos "
        f"FROM b WHERE bit_count(CAST(xor(bucket, ({qbucket_expr})) "
        f"AS BIGINT)) <= {PROBE_HAMMING} "
        "ORDER BY cos DESC, vec_id LIMIT 5")

    def spark_fn(spark, sf):
        qv = _query_vec(spark, sf)
        emb = load(spark, sf, "embeddings")
        return S.ann_search_multiprobe(emb, "vec_id", "embedding", qv,
                                       PLANES, k=5,
                                       probe_hamming=PROBE_HAMMING)

    return QuerySpec(
        "sim_ann_multiprobe", spark_fn, sql,
        "multi-probe LSH ANN at the production plane count: rank inside "
        f"all buckets within Hamming {PROBE_HAMMING} of the query bucket "
        f"(1+{N_PLANES}+{N_PLANES * (N_PLANES - 1) // 2} of "
        f"2^{N_PLANES} buckets, ~2% of the table) — recovers the recall "
        "single-probe loses when a neighbor falls on the wrong side of "
        "one or two hyperplanes; still join-free (scan -> Filter -> "
        "TakeOrderedAndProject)")


QUERIES.append(_make_multiprobe_spec())


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer = 4 centroids taken from fixed
# vec_ids (deterministic, no training step), nprobe=1. Same sf dir on both
# sides via scalar subqueries.
# ---------------------------------------------------------------------------

N_CENTROIDS = 4

_V = "CAST(embedding AS DOUBLE[])"


def _sql_cvec(j: int) -> str:
    return (f"(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings "
            f"WHERE vec_id = {j})")


def _sql_cos(v: str, c: str) -> str:
    return (f"(list_dot_product({v}, {c}) / (sqrt(list_dot_product({v}, {v}))"
            f" * sqrt(list_dot_product({c}, {c}))))")


def _sql_centroid_of(v: str) -> str:
    # ROUND before the argmax mirrors similarity.ARGMAX_ROUND: float64
    # accumulation order differs between engines, so near-equidistant
    # vectors would otherwise be assigned to different cells.
    cs = "[" + ", ".join(
        f"ROUND({_sql_cos(v, _sql_cvec(j))}, {S.ARGMAX_ROUND})"
        for j in range(1, N_CENTROIDS + 1)) + "]"
    return f"CAST(list_position({cs}, list_max({cs})) AS INT)"


def _centroids(spark, sf) -> list[list[float]]:
    rows = (load(spark, sf, "embeddings")
            .where(F.col("vec_id").isin(list(range(1, N_CENTROIDS + 1))))
            .orderBy("vec_id").select("embedding").collect())
    return [[float(x) for x in r["embedding"]] for r in rows]


# SemDeDup removal threshold for the fold below: the synthetic
# embeddings are near-orthogonal, so the paper's 0.99+ would remove
# nothing — 0.4 yields a few removals per cell at every test SF.
SEMDEDUP_THRESHOLD = 0.4


@q("sim_ivf_assign_histogram",
   "WITH a AS (SELECT vec_id, " + _V + " AS v, " + _sql_centroid_of(_V)
   + " AS centroid FROM embeddings), "
   "rm AS (SELECT y.centroid, y.vec_id FROM a x JOIN a y "
   "ON x.centroid = y.centroid AND x.vec_id < y.vec_id "
   "WHERE ROUND(list_dot_product(x.v, y.v) / "
   "(sqrt(list_dot_product(x.v, x.v)) * "
   "sqrt(list_dot_product(y.v, y.v))), 4) >= "
   f"{SEMDEDUP_THRESHOLD} GROUP BY y.centroid, y.vec_id), "
   "r AS (SELECT centroid, count(*) AS n_semdup FROM rm "
   "GROUP BY centroid) "
   "SELECT h.centroid, h.cnt, COALESCE(r.n_semdup, 0) AS n_semdup "
   "FROM (SELECT centroid, count(*) AS cnt FROM a GROUP BY centroid) h "
   "LEFT JOIN r USING (centroid)",
   "IVF coarse quantizer: nearest-centroid assignment (cell histogram); "
   "narrow map, ties -> lowest index on both engines. Folded: SemDeDup "
   "(Abbas et al. 2023) per-cell semantic-duplicate removals (n_semdup "
   "= vectors with a lower-id cluster-mate at cosine >= "
   f"{SEMDEDUP_THRESHOLD}; within-cluster pairs only, never O(N^2))")
def ivf_histogram(spark, sf):
    emb = load(spark, sf, "embeddings")
    sd = S.semdedup(emb, "vec_id", "embedding", _centroids(spark, sf),
                    SEMDEDUP_THRESHOLD)
    return sd.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.when(~F.col("keep"), 1)).alias("n_semdup"))


@q("sim_ivf_topk",
   "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings "
   "WHERE vec_id = 0), "
   "a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
   + _sql_centroid_of(_V) + " AS centroid FROM embeddings), "
   "qc AS (SELECT " + _sql_centroid_of("(SELECT qe FROM q)")
   + " AS centroid) "
   "SELECT vec_id, ROUND(list_dot_product(v, (SELECT qe FROM q)) / "
   "(sqrt(list_dot_product(v, v)) * sqrt((SELECT list_dot_product(qe, qe) "
   "FROM q))), 4) AS cos "
   "FROM a WHERE centroid = (SELECT centroid FROM qc) "
   "ORDER BY cos DESC, vec_id LIMIT 5",
   "IVF ANN (nprobe=1): exact ranking inside the query's centroid cell — "
   "scan prunes to ~N/n_centroids before ranking")
def ivf_topk(spark, sf):
    qv = _query_vec(spark, sf)
    emb = load(spark, sf, "embeddings")
    return S.ivf_search(emb, "vec_id", "embedding", qv,
                        _centroids(spark, sf), k=5)


# Stand-in PQ codebook (m=8 subspaces x ksub=16 codewords x dsub=8 dims
# for the 64-dim embeddings): deterministic md5-derived values in
# [-1, 1], inlined identically as SQL VALUES so DuckDB mirrors encode +
# ADC value-for-value. Production swaps in codebooks TRAINED per
# subspace (the kmeans_fit loop over F.slice'd vectors); the mechanism
# under test — broadcast codebook Arrow encode, per-query LUT, compressed-
# domain ranking — is identical (same stand-in-model pattern as the
# model_quality_scores vocabulary).
PQ_M, PQ_KSUB, PQ_DSUB = 8, 16, 8


def _pq_codebook() -> list[list[list[float]]]:
    import hashlib

    def val(s, c, d):
        h = int(hashlib.md5(f"pq|{s}|{c}|{d}".encode()).hexdigest()[:15],
                16)
        return (h % 2001 - 1000) / 1000.0

    return [[[val(s, c, d) for d in range(PQ_DSUB)]
             for c in range(PQ_KSUB)] for s in range(PQ_M)]


_PQ_CB = _pq_codebook()


def _sql_pq_values() -> str:
    rows = []
    for s in range(PQ_M):
        for c in range(PQ_KSUB):
            cw = "[" + ", ".join(repr(v) for v in _PQ_CB[s][c]) + "]"
            rows.append(f"({s + 1}, {c}, {cw})")
    return "cb(s, c, cw) AS (VALUES " + ", ".join(rows) + ")"


def _make_ivf_nprobe_spec() -> QuerySpec:
    n_probe = 2
    qcs = "[" + ", ".join(
        f"ROUND({_sql_cos('(SELECT qe FROM q)', _sql_cvec(j))}, "
        f"{S.ARGMAX_ROUND})" for j in range(1, N_CENTROIDS + 1)) + "]"
    sub = f"list_sum(list_transform(range(1, {PQ_DSUB + 1}), "
    sql = (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM "
        "embeddings WHERE vec_id = 0), "
        f"qcs AS (SELECT {qcs} AS cs), "
        "qcells AS (SELECT list_transform(list_sort(list_transform("
        f"range(1, {N_CENTROIDS + 1}), j -> {{'c': -cs[j], 'j': j}})), "
        f"s -> CAST(s.j AS INT))[1:{n_probe}] AS cells FROM qcs), "
        "a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        + _sql_centroid_of(_V) + " AS centroid FROM embeddings), "
        "ivfr AS (SELECT vec_id, cos, CAST(row_number() OVER "
        "(ORDER BY cos DESC, vec_id) AS INT) AS rank FROM "
        "(SELECT vec_id, ROUND(list_dot_product(v, (SELECT qe FROM q)) / "
        "(sqrt(list_dot_product(v, v)) * sqrt((SELECT "
        "list_dot_product(qe, qe) FROM q))), 4) AS cos "
        "FROM a WHERE list_contains((SELECT cells FROM qcells), centroid)"
        ") ORDER BY rank LIMIT 5), "
        + _sql_pq_values() + ", "
        f"lutt AS (SELECT s, c, ROUND({sub}"
        f"d -> (qe[(s-1)*{PQ_DSUB} + d] - cw[d])^2)), "
        f"{S.ARGMAX_ROUND}) AS dist FROM cb, q), "
        "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve "
        "FROM embeddings WHERE vec_id <> 0), "
        f"dists AS (SELECT vec_id, s, c, ROUND({sub}"
        f"d -> (ve[(s-1)*{PQ_DSUB} + d] - cw[d])^2)), "
        f"{S.ARGMAX_ROUND}) AS dist FROM ev, cb), "
        "cd AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, "
        "row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) "
        "AS rn FROM dists) WHERE rn = 1), "
        "adc AS (SELECT vec_id, ROUND(list_sum(list(l.dist ORDER BY "
        "l.s)), 4) AS pq_adc FROM cd JOIN lutt l USING (s, c) "
        "GROUP BY vec_id), "
        "pqr AS (SELECT vec_id AS pq_vec_id, pq_adc, CAST(row_number() "
        "OVER (ORDER BY pq_adc, vec_id) AS INT) AS rank FROM adc "
        "ORDER BY rank LIMIT 5), "
        # IVFADC fold (Jégou 2011 §IV): PQ codes of the RESIDUAL
        # v - centroid[cell], ranked by a PER-CELL query-residual LUT
        # inside the probed cells only — mirrors ivf_pq_encode/_search.
        "cvs AS (SELECT vec_id AS j, CAST(embedding AS DOUBLE[]) AS cv "
        f"FROM embeddings WHERE vec_id BETWEEN 1 AND {N_CENTROIDS}), "
        "rsd AS (SELECT a.vec_id, a.centroid, "
        f"list_transform(range(1, {PQ_M * PQ_DSUB + 1}), "
        "d -> a.v[d] - cvs.cv[d]) AS rv "
        "FROM a JOIN cvs ON a.centroid = cvs.j WHERE a.vec_id <> 0 "
        "AND list_contains((SELECT cells FROM qcells), a.centroid)), "
        f"rdists AS (SELECT vec_id, centroid, s, c, ROUND({sub}"
        f"d -> (rv[(s-1)*{PQ_DSUB} + d] - cw[d])^2)), "
        f"{S.ARGMAX_ROUND}) AS dist FROM rsd, cb), "
        "rcd AS (SELECT vec_id, centroid, s, c FROM (SELECT vec_id, "
        "centroid, s, c, row_number() OVER (PARTITION BY vec_id, s "
        "ORDER BY dist, c) AS rn FROM rdists) WHERE rn = 1), "
        "qres AS (SELECT cvs.j AS cell, "
        f"list_transform(range(1, {PQ_M * PQ_DSUB + 1}), "
        "d -> qe[d] - cv[d]) AS qrv FROM cvs, q "
        "WHERE list_contains((SELECT cells FROM qcells), cvs.j)), "
        f"lutr AS (SELECT qres.cell, s, c, ROUND({sub}"
        f"d -> (qrv[(s-1)*{PQ_DSUB} + d] - cw[d])^2)), "
        f"{S.ARGMAX_ROUND}) AS dist FROM qres, cb), "
        "adcr AS (SELECT vec_id, ROUND(list_sum(list(l.dist ORDER BY "
        "l.s)), 4) AS ivfpq_adc FROM rcd JOIN lutr l "
        "ON rcd.centroid = l.cell AND rcd.s = l.s AND rcd.c = l.c "
        "GROUP BY vec_id), "
        "ipr AS (SELECT vec_id AS ivfpq_vec_id, ivfpq_adc, "
        "CAST(row_number() OVER (ORDER BY ivfpq_adc, vec_id) AS INT) "
        "AS rank FROM adcr ORDER BY rank LIMIT 5) "
        "SELECT rank, vec_id, cos, pq_vec_id, pq_adc, "
        "ivfpq_vec_id, ivfpq_adc "
        "FROM ivfr JOIN pqr USING (rank) JOIN ipr USING (rank)")

    def spark_fn(spark, sf):
        from pyspark.sql import Window
        qv = _query_vec(spark, sf)
        emb = load(spark, sf, "embeddings")
        ivf = S.ivf_search_nprobe(emb, "vec_id", "embedding", qv,
                                  _centroids(spark, sf), k=5,
                                  nprobe=n_probe)
        # rank windows run over the already-top-5 results (driver-scale)
        wi = Window.orderBy(F.col("cos").desc(), F.col("vec_id"))
        ivf_r = ivf.withColumn("rank", F.row_number().over(wi))
        enc = S.pq_encode(emb.where(F.col("vec_id") != 0),
                          "vec_id", "embedding", _PQ_CB)
        pq = S.pq_adc_topk(enc, "vec_id", "codes",
                           S.pq_adc_lut(qv, _PQ_CB), k=5)
        wp = Window.orderBy(F.col("pq_adc").asc(), F.col("vec_id"))
        pq_r = (pq.withColumn("rank", F.row_number().over(wp))
                .select(F.col("vec_id").alias("pq_vec_id"),
                        "pq_adc", "rank"))
        cents = _centroids(spark, sf)
        enc2 = S.ivf_pq_encode(emb.where(F.col("vec_id") != 0),
                               "vec_id", "embedding", cents, _PQ_CB)
        ivfpq = S.ivf_pq_search(enc2, "vec_id", qv, cents, _PQ_CB,
                                k=5, nprobe=n_probe)
        wq = Window.orderBy(F.col("ivfpq_adc").asc(), F.col("vec_id"))
        ivfpq_r = (ivfpq.withColumn("rank", F.row_number().over(wq))
                   .select(F.col("vec_id").alias("ivfpq_vec_id"),
                           "ivfpq_adc", "rank"))
        return (ivf_r.join(pq_r, "rank").join(ivfpq_r, "rank")
                .select("rank", "vec_id", "cos", "pq_vec_id", "pq_adc",
                        "ivfpq_vec_id", "ivfpq_adc"))

    return QuerySpec(
        "sim_ivf_topk_nprobe2", spark_fn, sql,
        "IVF ANN with nprobe=2: exact ranking inside the query's two "
        "nearest cells — recovers boundary-neighbor recall that fixed "
        "nprobe=1 loses, scanning nprobe/n_centroids of the table; "
        "cell list tie-breaks toward the lowest index on both engines. "
        "r3 folds in product quantization (Jegou et al. 2011): "
        "pq_vec_id/pq_adc are the compressed-domain top-5 by asymmetric "
        "distance over 8x16x8 codes (rank-joined) — broadcast-codebook "
        "Arrow encode, per-query LUT, codes 32x smaller than vectors. "
        "r4 folds in IVFADC (Jegou 2011 §IV): ivfpq_vec_id/ivfpq_adc "
        "rank RESIDUAL codes (v - centroid[cell]) by per-cell "
        "query-residual LUTs inside the nprobe probed cells — one "
        "Arrow pass computes cell + residual codes, search is "
        "scan -> cell filter -> narrow ADC fold, zero Exchange")


QUERIES.append(_make_ivf_nprobe_spec())


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: the embedding analog of MinHash-LSH dedup —
# candidate pairs restricted to the same hyperplane bucket (never the
# O(N^2) cross join), exact cosine filter >= threshold.
# ---------------------------------------------------------------------------

def _kmeans_spark(spark, sf):
    emb = load(spark, sf, "embeddings")
    cents = S.kmeans_fit(emb, "vec_id", "embedding",
                         init_ids=[1, 2, 3, 4], n_iters=3)
    rows = [(c + 1, d, round(float(v), 6))
            for c, vec in enumerate(cents) for d, v in enumerate(vec)]
    return spark.createDataFrame(
        rows, "centroid int, dim int, value double")


QUERIES.append(QuerySpec(
    "sim_ivf_kmeans_centroids", _kmeans_spark, None,
    "IVF coarse-quantizer TRAINING (spherical k-means, 3 Lloyd "
    "iterations): iterative driver-loop algorithm — the sanctioned "
    "non-SQL-expressible category, rows-only driver check; the exact "
    "oracle is the numpy Lloyd mirror in tests/test_operators.py::"
    "test_kmeans_fit_matches_numpy_oracle"))


NEAR_DUP_THRESHOLD = 0.3

_PER_BAND = N_PLANES // N_BANDS


def _band_expr(i: int) -> str:
    sl = PLANES[i * _PER_BAND:(i + 1) * _PER_BAND]
    return " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', p)} >= 0 "
        f"THEN {1 << j} ELSE 0 END)" for j, p in enumerate(sl))


def _banded_near_dup_sql() -> str:
    bands = ", ".join(f"({_band_expr(i)}) AS b{i}" for i in range(N_BANDS))
    cand = " UNION ".join(
        f"SELECT a.vec_id AS id_a, c.vec_id AS id_b FROM b a JOIN b c "
        f"ON a.b{i} = c.b{i} AND a.vec_id < c.vec_id"
        for i in range(N_BANDS))
    return (
        f"WITH b AS (SELECT vec_id, {_V} AS v, {bands} FROM embeddings), "
        f"cand AS ({cand}) "
        "SELECT * FROM (SELECT id_a, id_b, "
        "ROUND(list_dot_product(x.v, y.v) / "
        "(sqrt(list_dot_product(x.v, x.v)) * "
        "sqrt(list_dot_product(y.v, y.v))), 4) AS cos "
        "FROM cand JOIN b x ON x.vec_id = cand.id_a "
        "JOIN b y ON y.vec_id = cand.id_b) "
        f"WHERE cos >= {NEAR_DUP_THRESHOLD}")


@q("dedup_embedding_cosine",
   _banded_near_dup_sql(),
   f"embedding-cosine near-dup pairs via BANDED hyperplane LSH "
   f"({N_BANDS} bands x {_PER_BAND} planes): candidate = same bucket in "
   "ANY band (the MinHash-LSH S-curve applied to hyperplanes — a single "
   f"{N_PLANES}-plane band would lose most near-dup recall), exact "
   "cosine filter after; never the O(N^2) cross join")
def embedding_near_dup(spark, sf):
    emb = load(spark, sf, "embeddings")
    return S.embedding_near_dup_pairs_banded(
        emb, "vec_id", "embedding", PLANES, N_BANDS, NEAR_DUP_THRESHOLD)
