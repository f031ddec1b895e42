"""Vector aggregation + IVF-style ANN (SURVEY.md §2 B52 scale path).

- ``b_llm_centroids``: per-class mean vector via posexplode → groupBy
  (label, position) — the distributed way to average vectors: the
  shuffle carries |labels|×dim partial sums, never the vectors
  themselves, so it is constant-size regardless of corpus size.
- ``b_llm_ann_ivf``: inverted-file ANN. The coarse quantizer is the
  seeded k-means of ``b_llm_kmeans`` (deterministic: seeded init,
  fixed iterations, per-iteration rounding); every corpus vector is
  assigned to its nearest centroid cell, and a query scans ONLY its
  NPROBE nearest cells — O(N·nprobe/cells) instead of O(N) per query.
  At 100 TB the corpus is stored partitioned by cell id so a probe is
  a partition-pruned scan, and the quantizer is a precomputed stored
  artifact. Recall is approximate → rows-only check here, but
  ``b_llm_ann_recall`` pins it as a tested contract (>= 0.7/query).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stellarsql_spark.artifacts import materialize
from stellarsql_spark.catalog import load_table
from stellarsql_spark.pipeline.similarity import (
    _EMBDUP_ORACLE,
    COSINE_NEARDUP_THRESHOLD,
    N_QUERIES,
    TOP_K,
    b_llm_cosine_topk,
    dot,
    norm,
)
from stellarsql_spark.registry import register

_CENTROID_ORACLE = """
SELECT label, CAST(pos AS INT) AS pos,
       ROUND(AVG(v), 6) AS centroid_val
FROM (
  SELECT label,
         unnest(range(0, len(embedding))) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
) exploded
GROUP BY label, pos
"""


@register("b_llm_centroids", oracle=_CENTROID_ORACLE, tags=("pipeline", "vectors", "agg"))
def b_llm_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, exploded to (label, pos, value) rows.
    Rounded to 6 dp so float summation order cannot flip the hash."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


K_CLUSTERS = 8
KMEANS_ITERS = 3


def _assign_to_cells(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k-row centroid table
    and pick argmax cosine via a per-vector row_number window. Map-side
    only — the corpus never shuffles, the k-row probe table does."""
    # hoist both norm folds out of the k-way cross join: the vector
    # norm is computed once per row (not once per (row, centroid))
    # and the centroid norm once per centroid — same float ops.
    en = e.withColumn("vn", norm(F.col("embedding")))
    cn = cents.withColumn("cn", norm(F.col("cvec")))
    sim = F.round(
        dot(F.col("embedding"), F.col("cvec")) / (F.col("vn") * F.col("cn")), 6
    )
    pick = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cluster")
    return (
        en.crossJoin(F.broadcast(cn))
        .select("vec_id", "embedding", "cluster", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "cluster", "sim")
    )


def _recompute_centroids(assigned: DataFrame) -> DataFrame:
    """Mean vector per cluster via posexplode → groupBy(cluster, pos):
    the shuffle carries k×dim partial sums, never the vectors. Rounded
    to 6 dp so float summation order cannot perturb assignments."""
    return (
        assigned.select("cluster", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s.cv
            ).alias("cvec")
        )
    )


def _seed_centroids(e: DataFrame, k: int = K_CLUSTERS) -> DataFrame:
    return (
        e.where(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cluster"), F.col("embedding").alias("cvec"))
        .select(
            "cluster",
            F.transform("cvec", lambda x: F.round(x.cast("double"), 6)).alias("cvec"),
        )
    )


def _kmeans_quantizer(e: DataFrame, k: int = K_CLUSTERS, iters: int = KMEANS_ITERS) -> DataFrame:
    """Seeded Lloyd's-refined coarse quantizer (cluster, cvec). Unlike
    per-label means (labels are metadata, not cluster structure), the
    refined centroids partition the corpus by actual vector geometry,
    which is what makes a small NPROBE recover most true neighbors."""
    cents = _seed_centroids(e, k)
    for _ in range(iters):
        cents = _recompute_centroids(_assign_to_cells(e, cents))
    return cents


NPROBE = 3


@register("b_llm_ann_ivf", oracle=None, tags=("pipeline", "similarity", "approx"))
def b_llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign corpus vectors to their nearest centroid cell
    (broadcast the tiny centroid table, pick argmin via row_number),
    then each query probes its NPROBE nearest cells for cosine top-k —
    scanning NPROBE/cells of the corpus instead of all of it. The
    coarse quantizer is the seeded k-means of ``b_llm_kmeans`` — real
    cluster structure, measured recall ≥ 0.6 per query on the test
    corpora (b_llm_ann_recall asserts it)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # The coarse quantizer (k × dim) is persisted: r01's real double
    # pass was the two full-corpus centroid aggregations hiding under
    # both the assignment and the probe branch. At 100 TB the
    # quantizer is a precomputed stored artifact anyway — caching the
    # k-row table is the single-job equivalent.
    cents = _kmeans_quantizer(e).persist()

    # the full corpus is ranked against the broadcast quantizer
    # exactly once (assignment); the probe side ranks only the
    # N_QUERIES query vectors, so nothing corpus-sized runs twice.
    # Norm folds are hoisted per-row (see _assign_to_cells).
    assigned = _assign_to_cells(e, cents).select(
        "vec_id",
        "embedding",
        F.col("cluster").alias("cell"),
        norm(F.col("embedding")).alias("cn"),
    )
    # queries probe their NPROBE nearest cells (recall knob, like
    # faiss's nprobe)
    qn = e.where(F.col("vec_id") < N_QUERIES).withColumn("vn", norm(F.col("embedding")))
    ccn = cents.withColumn("ccn", norm(F.col("cvec")))
    cell_sim = F.round(
        dot(F.col("embedding"), F.col("cvec")) / (F.col("vn") * F.col("ccn")), 6
    )
    pick = Window.partitionBy("vec_id").orderBy(F.col("cell_sim").desc(), "cluster")
    queries = (
        qn.crossJoin(F.broadcast(ccn))
        .select("vec_id", "embedding", "vn", "cluster", cell_sim.alias("cell_sim"))
        .withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") <= NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("vn").alias("qnorm"),
            F.col("cluster").alias("qcell"),
        )
    )
    scored = (
        assigned.join(F.broadcast(queries), F.col("cell") == F.col("qcell"))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qe"), F.col("embedding")) / (F.col("qnorm") * F.col("cn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= TOP_K)


@register("b_llm_embed_gemm", oracle=_EMBDUP_ORACLE, tags=("pipeline", "dedup", "embedding", "vectorized"))
def b_llm_embed_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via bucketed matrix multiply: vectors
    are fanned out to their LSH (band, sig) buckets, and each bucket
    computes its members' pairwise similarities with ONE numpy GEMM
    inside applyInPandas. Fully distributed — no driver-side collect,
    no corpus broadcast, no all-pairs join: the only shuffles are the
    groupBy on (band, sig) and the final structural pair dedup.
    At 100 TB each bucket is a bounded block (bands add more, smaller
    buckets), so executor memory stays flat while the GEMM keeps the
    per-pair cost ~100× below per-pair expression evaluation.
    Holds the SAME exact all-pairs hash oracle as
    ``b_llm_embed_neardup``: after 6-dp rounding the GEMM scores equal
    the sequential-fold scores (verified value-exact vs DuckDB at
    sf0.01 and sf0.1), so the vectorized path is pinned to the exact
    one — a silent GEMM/banding divergence fails the hash."""
    import numpy as np
    import pandas as pd

    from stellarsql_spark.pipeline.similarity import with_band_sigs

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    banded = with_band_sigs(e).select(
        "vec_id", "embedding", F.posexplode("band_sigs").alias("band", "sig")
    )

    def bucket_sims(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = np.round(m @ m.T, 6)  # GEMM: |bucket| × |bucket|
        # threshold AFTER rounding, matching the exact scorer's
        # round-then-filter, so the pair set is identical to
        # b_llm_embed_neardup's on boundary values
        qi, ci = np.nonzero(sims >= COSINE_NEARDUP_THRESHOLD)
        keep = ids[qi] < ids[ci]
        return pd.DataFrame(
            {
                "id1": ids[qi][keep],
                "id2": ids[ci][keep],
                "sim": sims[qi, ci][keep],
            }
        )

    return (
        banded.groupBy("band", "sig")
        .applyInPandas(bucket_sims, schema="id1 bigint, id2 bigint, sim double")
        # a pair colliding in k bands is scored k times; dedup
        # STRUCTURALLY on the key (max over the k float copies —
        # identical after rounding, but distinct() over a float col
        # would keep both copies if different-sized bucket matrices
        # rounded across a boundary)
        .groupBy("id1", "id2")
        .agg(F.max("sim").alias("sim"))
    )


def _kmeans_oracle(k: int = K_CLUSTERS, iters: int = KMEANS_ITERS) -> str:
    """Unrolled-Lloyd's DuckDB oracle: a FIXED iteration count means
    the 'iterative' algorithm is SQL-expressible after all — each
    iteration becomes an assignment CTE (argmax cosine vs the previous
    centroids) plus a recompute CTE (per-position means, re-packed in
    position order). Per-stage 6-dp rounding makes both engines agree
    exactly, so k-means carries a full value hash, not a rows-only
    check."""
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
        f"""c0 AS (
  SELECT vec_id AS cluster, list_transform(emb, x -> ROUND(x, 6)) AS cvec
  FROM e WHERE vec_id < {k}
)""",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""a{i} AS (
  SELECT vec_id, emb, cluster, sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
    FROM (
      SELECT e.vec_id, e.emb, c.cluster,
             ROUND(list_cosine_similarity(e.emb, c.cvec), 6) AS sim
      FROM e CROSS JOIN c{i - 1} c
    )
  ) WHERE rn = 1
)""")
        parts.append(f"""c{i} AS (
  SELECT cluster, array_agg(cv ORDER BY pos) AS cvec FROM (
    SELECT cluster, pos, ROUND(AVG(v), 6) AS cv FROM (
      SELECT cluster, unnest(range(0, len(emb))) AS pos, unnest(emb) AS v
      FROM a{i}
    ) GROUP BY cluster, pos
  ) GROUP BY cluster
)""")
    final = f"""SELECT cluster, COUNT(*) AS n_members,
       ROUND(AVG(sim), 4) AS mean_sim_to_centroid
FROM a{iters}
GROUP BY cluster"""
    return ",\n".join(parts) + "\n" + final


@register("b_llm_kmeans", oracle=_kmeans_oracle(), tags=("pipeline", "vectors", "iterative"))
def b_llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means on the embedding corpus, DataFrame-native:
    seeded init (vec_id < k), then per iteration (a) broadcast the k
    centroids, (b) assign each vector to its nearest centroid via
    crossJoin + argmin window — map-side only, (c) recompute centroids
    with the posexplode → groupBy(cluster, pos) mean (shuffle carries
    k×dim partial sums). Centroids are rounded per iteration so float
    summation order cannot perturb assignments between runs. Fixed
    iteration count & seed → deterministic, and therefore fully
    hash-oracled: the DuckDB oracle unrolls the same iterations as
    chained CTEs (see _kmeans_oracle). Returns cluster sizes +
    within-cluster mean similarity."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _seed_centroids(e)
    assigned = None
    for _ in range(KMEANS_ITERS):
        assigned = _assign_to_cells(e, cents)
        cents = _recompute_centroids(assigned)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("sim"), 4).alias("mean_sim_to_centroid"),
        )
        .orderBy("cluster")
    )


# --- int8 scalar quantization with a recall contract (C157) ----------

# Per-vector symmetric scheme: q_i = round(127·x_i / maxabs(x)).  The
# quantized values are exact small INTEGERS in both engines (identical
# double division, correctly-rounded IEEE ops, half-up round), so the
# quantized dot/norms are exact integer arithmetic (≤ 127²·64 ≈ 10⁶
# per term — every intermediate is exactly representable in double,
# ORDER-INDEPENDENT, which is stronger than the float-sum path) and
# the quantized cosine is bit-identical cross-engine before its
# display round.
_QUANT_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(ROUND(127.0 * x / maxabs) AS BIGINT)) AS qv
  FROM base
),
qq AS (SELECT vec_id AS query_id, qv AS qe FROM q WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(qe, c.qv)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.qv, c.qv))),
               6) AS q_sim
  FROM qq CROSS JOIN q c
  WHERE query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, q_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY q_sim DESC, neighbor_id) AS rn
  FROM scored
),
exact AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                   CAST(b.embedding AS DOUBLE[])), 6) DESC,
                      b.vec_id
           ) AS ern
    FROM embeddings a CROSS JOIN embeddings b
    WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
  ) WHERE ern <= {TOP_K}
)
SELECT r.query_id, r.neighbor_id, r.q_sim, CAST(r.rn AS INT) AS rn,
       (e.neighbor_id IS NOT NULL) AS in_exact_topk
FROM ranked r LEFT JOIN exact e
  ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
WHERE r.rn <= {TOP_K}
"""


def _int_dot(a, b):
    """Exact long dot product of two int-array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


@register("b_llm_quant_int8", oracle=_QUANT_ORACLE, tags=("pipeline", "vectors", "quantization"))
def b_llm_quant_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C157: int8 scalar quantization + quantized-cosine top-k with a
    per-row recall annotation against the exact top-k.

    The memory tier below IVF/LSH: at 100 TB an fp32 corpus is 4×
    the RAM of its int8 twin, so the serving layout stores q_i =
    round(127·x_i/maxabs) int8s + one scale per vector and scans
    THOSE; candidates from the quantized scan are optionally
    re-ranked against fp32. The quantized dot is exact integer math
    (hash-stable cross-engine — see oracle note), and `in_exact_topk`
    makes the approximation quality a TESTED column (the same
    contract philosophy as b_llm_ann_recall), not a hope: measured
    recall@10 is 50/50 at sf0.01 and 47/50 at sf0.1."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(ed, F.abs))
    q = e.select(
        "vec_id",
        F.transform(ed, lambda x: F.round(127.0 * x / maxabs).cast("long")).alias("qv"),
    )
    qq = q.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qe")
    )
    c = q.select(F.col("vec_id").alias("neighbor_id"), "qv")
    q_sim = F.round(
        _int_dot(F.col("qe"), F.col("qv")).cast("double")
        / (
            F.sqrt(_int_dot(F.col("qe"), F.col("qe")).cast("double"))
            * F.sqrt(_int_dot(F.col("qv"), F.col("qv")).cast("double"))
        ),
        6,
    )
    scored = (
        c.crossJoin(F.broadcast(qq))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", q_sim.alias("q_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("q_sim").desc(), "neighbor_id")
    ranked = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= TOP_K)
    exact = b_llm_cosine_topk(spark, sf_dir).select(
        F.col("query_id").alias("eq"), F.col("neighbor_id").alias("en")
    )
    return (
        ranked.join(
            exact,
            (ranked.query_id == exact.eq) & (ranked.neighbor_id == exact.en),
            "left",
        )
        .select(
            "query_id",
            "neighbor_id",
            "q_sim",
            "rn",
            F.col("en").isNotNull().alias("in_exact_topk"),
        )
    )


# --- two-stage serving: quantized scan → fp32 re-rank (C158) ---------

RERANK_CAND = 50  # candidates from the int8 scan per query

_RERANK_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
),
q AS (
  SELECT vec_id, e,
         list_transform(e, x -> CAST(ROUND(127.0 * x / maxabs) AS BIGINT)) AS qv
  FROM base
),
qq AS (SELECT vec_id AS query_id, e AS qe, qv AS qqv FROM q WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT query_id, neighbor_id, qe, ce
  FROM (
    SELECT qq.query_id, c.vec_id AS neighbor_id, qq.qe, c.e AS ce,
           ROW_NUMBER() OVER (
             PARTITION BY qq.query_id
             ORDER BY ROUND(list_dot_product(qq.qqv, c.qv)
                     / (sqrt(list_dot_product(qq.qqv, qq.qqv)) * sqrt(list_dot_product(c.qv, c.qv))), 6) DESC,
                      c.vec_id
           ) AS qrn
    FROM qq CROSS JOIN q c
    WHERE qq.query_id <> c.vec_id
  ) WHERE qrn <= {RERANK_CAND}
),
rer AS (
  SELECT query_id, neighbor_id,
         ROUND(list_cosine_similarity(qe, ce), 6) AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY ROUND(list_cosine_similarity(qe, ce), 6) DESC, neighbor_id
         ) AS rn
  FROM cand
)
SELECT query_id, neighbor_id, sim, CAST(rn AS INT) AS rn
FROM rer WHERE rn <= {TOP_K}
"""


@register("b_llm_quant_rerank", oracle=_RERANK_ORACLE,
          tags=("pipeline", "vectors", "quantization", "rerank"))
def b_llm_quant_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C158: the two-stage serving pattern — int8 quantized scan for
    RERANK_CAND=50 candidates, fp32 exact cosine re-rank for the
    final top-k.

    This is how a 100 TB vector tier actually serves: the memory-
    resident int8 corpus (4× smaller, exact-integer dots — see
    b_llm_quant_int8) absorbs the full-corpus scan, and only
    |queries|×50 fp32 vectors are ever touched at full
    precision — the expensive arithmetic is candidate-set-sized, not
    corpus-sized.  Both stages keep the broadcast-queries shape (the
    corpus never shuffles), and the composition recovers exact-rank
    fidelity wherever the candidate set covers the true top-k (at
    5× over-retrieval for top-10 it does at both test SFs — the
    result equals b_llm_cosine_topk row-for-row, pinned in
    tests/test_round8.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(ed, F.abs))
    q = e.select(
        "vec_id",
        ed.alias("e"),
        F.transform(ed, lambda x: F.round(127.0 * x / maxabs).cast("long")).alias("qv"),
    )
    qq = q.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("qv").alias("qqv")
    )
    c = q.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), "qv")
    q_sim = F.round(
        _int_dot(F.col("qqv"), F.col("qv")).cast("double")
        / (
            F.sqrt(_int_dot(F.col("qqv"), F.col("qqv")).cast("double"))
            * F.sqrt(_int_dot(F.col("qv"), F.col("qv")).cast("double"))
        ),
        6,
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("q_sim").desc(), "neighbor_id")
    cand = (
        c.crossJoin(F.broadcast(qq))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qe", "ce", q_sim.alias("q_sim"))
        .withColumn("qrn", F.row_number().over(wq))
        .where(F.col("qrn") <= RERANK_CAND)
    )
    sim = F.round(dot(F.col("qe"), F.col("ce")) / (norm(F.col("qe")) * norm(F.col("ce"))), 6)
    wr = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        cand.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= TOP_K)
    )


# --- NDCG@k ranking-quality metric for the quantized index (C160) ----

# Graded relevance comes from the EXACT ranking (rel = k+1-exact_rank,
# 0 for non-members), so NDCG measures how much rank ORDER the int8
# index loses, where recall@k (b_llm_quant_int8's in_exact_topk) only
# measures set membership.  Every per-position gain is scaled to
# integer millionths BEFORE the per-query sum — (1000000 * rel) /
# log2(pos + 1.0) is one identical double expression on identical
# integer inputs in both engines, with one ROUND at the term boundary
# — so DCG/IDCG are exact long sums and only the final display ratio
# is a rounded double (the b_llm_bm25 convention).
_NDCG_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(ROUND(127.0 * x / maxabs) AS BIGINT)) AS qv
  FROM base
),
qq AS (SELECT vec_id AS query_id, qv AS qe FROM q WHERE vec_id < {N_QUERIES}),
qranked AS (
  SELECT query_id, neighbor_id, rn FROM (
    SELECT query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY ROUND(list_dot_product(qe, c.qv)
                     / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.qv, c.qv))), 6) DESC,
                      c.vec_id
           ) AS rn
    FROM qq CROSS JOIN q c
    WHERE query_id <> c.vec_id
  ) WHERE rn <= {TOP_K}
),
exact AS (
  SELECT query_id, neighbor_id, ern FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                   CAST(b.embedding AS DOUBLE[])), 6) DESC,
                      b.vec_id
           ) AS ern
    FROM embeddings a CROSS JOIN embeddings b
    WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
  ) WHERE ern <= {TOP_K}
),
gains AS (
  SELECT r.query_id,
         CAST(ROUND((1000000 * COALESCE({TOP_K} + 1 - e.ern, 0)) / log2(r.rn + 1.0))
              AS BIGINT) AS gain_m
  FROM qranked r
  LEFT JOIN exact e ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
),
dcg AS (
  SELECT query_id, CAST(SUM(gain_m) AS BIGINT) AS dcg_m FROM gains GROUP BY query_id
),
idcg AS (
  SELECT query_id,
         CAST(SUM(CAST(ROUND((1000000 * ({TOP_K} + 1 - ern)) / log2(ern + 1.0))
                       AS BIGINT)) AS BIGINT) AS idcg_m
  FROM exact GROUP BY query_id
)
SELECT d.query_id, d.dcg_m, i.idcg_m,
       ROUND(CAST(d.dcg_m AS DOUBLE) / i.idcg_m, 6) AS ndcg
FROM dcg d JOIN idcg i USING (query_id)
"""


@register("b_llm_ndcg", oracle=_NDCG_ORACLE, tags=("pipeline", "vectors", "quality", "metric"))
def b_llm_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C160: NDCG@k of the int8-quantized ranking against the exact
    fp32 ranking — the rank-aware quality metric for the quantized
    serving tier (b_llm_quant_int8's recall column only checks set
    membership; NDCG penalizes each displaced position by its
    discounted gain, which is what a retrieval SLA actually bounds).

    100 TB shape: both rankings keep the broadcast-queries /
    corpus-never-shuffles scan of the quantized family; the metric
    join and DCG rollup touch |queries| x k rows — evaluation cost is
    candidate-set-sized, corpus-size-independent.  DCG and IDCG are
    exact long sums of integer-millionth gains (see _NDCG_ORACLE's
    convention note), so the hash pins the full metric pipeline, not
    a float approximation."""
    qr = b_llm_quant_int8(spark, sf_dir).select("query_id", "neighbor_id", "rn")
    ex = b_llm_cosine_topk(spark, sf_dir).select(
        F.col("query_id").alias("eq"),
        F.col("neighbor_id").alias("en"),
        F.col("rn").alias("ern"),
    )
    rel = F.coalesce(F.lit(TOP_K) + 1 - F.col("ern"), F.lit(0))
    gain_m = F.round((1_000_000 * rel) / F.log2(F.col("rn") + 1.0)).cast("long")
    dcg = (
        qr.join(
            ex, (qr.query_id == ex.eq) & (qr.neighbor_id == ex.en), "left"
        )
        .select("query_id", gain_m.alias("gain_m"))
        .groupBy("query_id")
        .agg(F.sum("gain_m").cast("long").alias("dcg_m"))
    )
    ideal_m = F.round(
        (1_000_000 * (F.lit(TOP_K) + 1 - F.col("ern"))) / F.log2(F.col("ern") + 1.0)
    ).cast("long")
    idcg = (
        ex.select(F.col("eq").alias("query_id"), ideal_m.alias("ideal_m"))
        .groupBy("query_id")
        .agg(F.sum("ideal_m").cast("long").alias("idcg_m"))
    )
    return dcg.join(idcg, "query_id").select(
        "query_id",
        "dcg_m",
        "idcg_m",
        F.round(F.col("dcg_m").cast("double") / F.col("idcg_m"), 6).alias("ndcg"),
    )


# --- MMR diversified re-ranking (C167) -------------------------------

# Maximal Marginal Relevance (Carbonell & Goldstein 1998, public):
# greedily pick K of the top-k candidates, trading relevance against
# redundancy: argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s).  With
# λ = 0.7 and every similarity in integer millionths, the objective
# is the PURE-INTEGER 7·rel_m − 3·maxsim_m (scaled ×10) — selection
# compares exact longs, so the greedy trajectory is bit-identical
# cross-engine and each of the K steps unrolls as a CTE (the
# b_llm_kmeans technique for iterative operators).
MMR_K = 5  # selections per query


def _mmr_oracle() -> str:
    pair_sim = (
        "CAST(ROUND(1000000 * (list_dot_product(a.e, b.e) / "
        "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))))) AS BIGINT)"
    )
    parts = [f"""WITH ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
cand AS (
  SELECT query_id, cid, CAST(ROUND(1000000 * sim6) AS BIGINT) AS rel_m FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS cid,
           ROUND(list_cosine_similarity(a.e, b.e), 6) AS sim6,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY ROUND(list_cosine_similarity(a.e, b.e), 6) DESC, b.vec_id
           ) AS ern
    FROM ev a CROSS JOIN ev b
    WHERE a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
  ) WHERE ern <= {TOP_K}
),
psim AS (
  SELECT ca.query_id, ca.cid AS i, cb.cid AS j, {pair_sim} AS sim_m
  FROM cand ca
  JOIN cand cb ON cb.query_id = ca.query_id AND cb.cid <> ca.cid
  JOIN ev a ON a.vec_id = ca.cid
  JOIN ev b ON b.vec_id = cb.cid
),
sel1 AS (
  SELECT query_id, cid, 1 AS pick, rel_m, CAST(0 AS BIGINT) AS msim_m,
         CAST(7 * rel_m AS BIGINT) AS mmr_m10
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel_m DESC, cid) AS rn
    FROM cand
  ) WHERE rn = 1
)"""]
    for k in range(2, MMR_K + 1):
        parts.append(f""",
sc{k} AS (
  SELECT c.query_id, c.cid, c.rel_m, CAST(MAX(p.sim_m) AS BIGINT) AS msim_m
  FROM cand c
  JOIN psim p ON p.query_id = c.query_id AND p.i = c.cid
  JOIN sel{k - 1} s ON s.query_id = p.query_id AND s.cid = p.j
  WHERE NOT EXISTS (
    SELECT 1 FROM sel{k - 1} x WHERE x.query_id = c.query_id AND x.cid = c.cid
  )
  GROUP BY c.query_id, c.cid, c.rel_m
),
sel{k} AS (
  SELECT * FROM sel{k - 1}
  UNION ALL
  SELECT query_id, cid, {k} AS pick, rel_m, msim_m,
         CAST(7 * rel_m - 3 * msim_m AS BIGINT) AS mmr_m10
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY 7 * rel_m - 3 * msim_m DESC, cid
    ) AS rn
    FROM sc{k}
  ) WHERE rn = 1
)""")
    parts.append(f"""
SELECT query_id, cid, CAST(pick AS INT) AS pick, rel_m, msim_m, mmr_m10
FROM sel{MMR_K}""")
    return "".join(parts)


@register("b_llm_mmr", oracle=_mmr_oracle(), tags=("pipeline", "vectors", "rerank", "diversity"))
def b_llm_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C167: MMR diversified re-ranking over the exact top-k — the
    post-retrieval stage that keeps a result page from being ten
    paraphrases of one document (the redundancy the RRF fusion and
    the quantized re-rank upstream cannot see).

    Greedy selection is inherently sequential, but ONLY over the
    candidate set: all K steps touch |queries| × k rows, so the
    unrolled 5-step plan (the b_llm_kmeans technique) costs
    candidate-set-sized joins regardless of corpus size — at 100 TB
    MMR runs wherever the final page is assembled, after the
    distributed scan has reduced the corpus to k candidates per
    query. Pure-integer objective (module note) makes the greedy
    trajectory, not just scores, the hash-certified contract."""
    # The engine computes the PAGE — candidate relevance and all
    # pairwise candidate similarities, both as exact integer
    # millionths — and the 5-step greedy runs driver-side over those
    # ints (|queries| x k rows; the natural serving boundary, the
    # same pattern as b_llm_cosine_topk's driver-side query read).
    # An unrolled in-plan variant was measured first: 5 iterations of
    # joins over the lazily-recomputed candidate lineage cost 26-48 s
    # of pure job overhead at sf0.01 AND tripped Spark's ambiguous-
    # self-join resolution into a trivially-true join predicate — the
    # literal-page form is both faster and safer. Because the
    # objective is pure integer arithmetic, the Python greedy follows
    # the exact trajectory the oracle's unrolled CTEs follow.
    cand_rows = (
        b_llm_cosine_topk(spark, sf_dir)
        .select(
            "query_id",
            F.col("neighbor_id").alias("cid"),
            F.round(1_000_000 * F.col("sim")).cast("bigint").alias("rel_m"),
        )
        .collect()
    )
    cand = spark.createDataFrame(cand_rows, "query_id bigint, cid bigint, rel_m bigint")
    ev = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cvec = cand.join(ev, cand.cid == ev.vec_id).select("query_id", "cid", "embedding")
    a = cvec.select("query_id", F.col("cid").alias("i"), F.col("embedding").alias("ea"))
    b = cvec.select(
        F.col("query_id").alias("qb"), F.col("cid").alias("j"), F.col("embedding").alias("eb")
    )
    pair_m = F.round(
        1_000_000
        * (dot(F.col("ea"), F.col("eb")) / (norm(F.col("ea")) * norm(F.col("eb"))))
    ).cast("bigint")
    psim_rows = (
        a.join(b, (a.query_id == b.qb) & (F.col("i") != F.col("j")))
        .select("query_id", "i", "j", pair_m.alias("sim_m"))
        .collect()
    )
    rel = {(r.query_id, r.cid): r.rel_m for r in cand_rows}
    sim = {(r.query_id, r.i, r.j): r.sim_m for r in psim_rows}
    out = []
    for q in sorted({r.query_id for r in cand_rows}):
        cids = sorted(c for (qq, c) in rel if qq == q)
        selected: list[int] = []
        for pick in range(1, MMR_K + 1):
            best = None
            for c in cids:
                if c in selected:
                    continue
                msim = max((sim[(q, c, s2)] for s2 in selected), default=0)
                mmr = 7 * rel[(q, c)] - 3 * msim
                # argmax with ascending-cid tie-break (strict > keeps
                # the earliest cid on ties, matching the oracle's
                # ORDER BY ... DESC, cid ROW_NUMBER pick)
                if best is None or mmr > best[0]:
                    best = (mmr, c, msim)
            out.append((q, best[1], pick, rel[(q, best[1])], best[2], best[0]))
            selected.append(best[1])
    return spark.createDataFrame(
        out, "query_id bigint, cid bigint, pick int, rel_m bigint, msim_m bigint, mmr_m10 bigint"
    )


# --- int4 pack/unpack quantization (C196) --------------------------------

# The storage tier below int8 (b_llm_quant_int8): symmetric 4-bit
# codes q = round(7·x/maxabs) in [-7, 7], TWO codes packed per byte
# ((hi+8)<<4 | (lo+8)) — an 8× footprint cut vs fp32.  The packing
# runs in one Arrow kernel (numpy bit ops, zero shuffle) that also
# UNPACKS its own bytes and verifies the roundtrip, so the binary
# layout is tested, not assumed.  The oracle replays the code
# arithmetic and the reconstruction-error bound from the same floats.
_INT4_ORACLE = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         CAST(len(embedding) AS INT) AS dim,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
),
q AS (
  SELECT vec_id, dim, maxabs,
         list_transform(e, x -> CAST(ROUND(7.0 * x / maxabs) AS BIGINT)) AS qv,
         list_max(list_transform(e, x ->
             abs(x - ROUND(7.0 * x / maxabs) * maxabs / 7.0))) AS max_err
  FROM base
)
SELECT vec_id, dim,
       CAST((dim + 1) // 2 AS INT) AS n_bytes_packed,
       CAST(list_max(list_transform(qv, c -> abs(c))) AS BIGINT) AS max_code,
       TRUE AS roundtrip_exact,
       CAST(ROUND(1000000 * max_err) AS BIGINT) AS max_err_m
FROM q
"""


def _int4_pack_batch(batches):
    """Arrow kernel: quantize to 4-bit codes, pack two per byte,
    unpack the packed bytes back, and verify the roundtrip."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        out = []
        for vec_id, emb in zip(pdf["vec_id"], pdf["embedding"]):
            x = np.asarray(emb, dtype=np.float64)
            maxabs = np.abs(x).max()
            # round-half-up to match SQL ROUND (numpy rounds half-even)
            v = 7.0 * x / maxabs
            # SQL ROUND is half-AWAY-FROM-ZERO; numpy rounds half-even
            q = np.where(v < 0, np.ceil(v - 0.5), np.floor(v + 0.5)).astype(np.int64)
            codes = (q + 8).astype(np.uint8)       # [1, 15]
            if len(codes) % 2:
                codes = np.append(codes, np.uint8(8))  # zero-code pad
            packed = ((codes[0::2] << 4) | codes[1::2]).tobytes()
            # unpack and verify
            pb = np.frombuffer(packed, dtype=np.uint8).astype(np.int64)
            un = np.empty(2 * len(pb), dtype=np.int64)
            un[0::2] = (pb >> 4) - 8
            un[1::2] = (pb & 0x0F) - 8
            ok = bool(np.array_equal(un[: len(x)], q))
            err = np.abs(x - q * maxabs / 7.0).max()
            out.append(
                (
                    int(vec_id),
                    len(x),
                    len(packed),
                    int(np.abs(q).max()),
                    ok,
                    int(round(1_000_000 * err)),
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "vec_id", "dim", "n_bytes_packed", "max_code",
                "roundtrip_exact", "max_err_m",
            ],
        )


@register("b_llm_quant_int4", oracle=_INT4_ORACLE, tags=("pipeline", "vectors", "quantization"))
def b_llm_quant_int4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C196: int4 pack/unpack quantization — symmetric 4-bit codes,
    two per byte, with the unpack roundtrip VERIFIED per vector and
    the worst-case reconstruction error reported.  Completes the
    serving-quantization ladder (fp32 → int8 C157 → packed int4):
    at 100 TB of embeddings the packed column is 8× smaller than
    fp32, and this key pins the bit layout an external scorer would
    need to read it.

    Scale shape: one Arrow map kernel, no shuffle; the oracle
    replays code arithmetic + error bound from the same floats
    (round-half-up matched explicitly — numpy's default is
    half-even, SQL ROUND is half-up; pinned in the kernel)."""
    e = load_table(spark, sf_dir, "embeddings")
    schema = (
        "vec_id long, dim int, n_bytes_packed int, max_code long, "
        "roundtrip_exact boolean, max_err_m long"
    )
    return e.select("vec_id", "embedding").mapInPandas(_int4_pack_batch, schema=schema)


# --- Feature hashing (the hashing trick) (C232) -----------------------------------------

# Vowpal-Wabbit-style featurization: hash each token into a fixed
# 16-bucket space (md5-derived, engine-portable) and emit the DENSE
# count vector + its exact squared L2 norm — the no-vocabulary
# vectorizer that never needs a dictionary broadcast, which is what
# makes it the 100 TB featurizer of choice.
_FEATURE_HASH_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
bucketed AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(word), 1, 2)) AS INT) % 16 AS bucket,
         COUNT(*) AS c
  FROM tok GROUP BY 1, 2
),
dense AS (
  SELECT d.doc_id, r.b AS bucket, COALESCE(bk.c, 0) AS c
  FROM (SELECT DISTINCT doc_id FROM tok) d
  CROSS JOIN (SELECT unnest(range(0, 16)) AS b) r
  LEFT JOIN bucketed bk ON bk.doc_id = d.doc_id AND bk.bucket = r.b
)
SELECT doc_id,
       array_to_string(list(CAST(c AS BIGINT) ORDER BY bucket), ',') AS vec,
       CAST(SUM(c * c) AS BIGINT) AS l2sq,
       CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz
FROM dense GROUP BY doc_id
"""


@register("b_llm_feature_hashing", oracle=_FEATURE_HASH_ORACLE, tags=("pipeline", "vectors", "hashing"))
def b_llm_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C232: the hashing trick — tokens hashed into a fixed 16-bucket
    feature space (first md5 byte mod 16, portable to any engine),
    per-doc DENSE count vectors plus exact squared L2 norm and
    nonzero count.  No vocabulary pass, no dictionary broadcast, a
    fixed-width output schema — the properties that make feature
    hashing the default featurizer at corpus scale (vs b_llm_tfidf's
    two-pass vocabulary-keyed pipeline).

    Scale shape: one (doc, bucket) rollup — the token explode
    partial-aggregates map-side into <= 16 rows per doc before its
    only shuffle — then a per-doc map assembly; the dense vector is
    built by a 16-slot sequence lookup, never a second join."""
    d = load_table(spark, sf_dir, "documents")
    bucketed = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy(
            "doc_id",
            (F.conv(F.substring(F.md5("word"), 1, 2), 16, 10).cast("int") % 16).alias(
                "bucket"
            ),
        )
        .agg(F.count("*").alias("c"))
    )
    per_doc = bucketed.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("c")))
        ).alias("m"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("l2sq"),
        F.count("*").cast("bigint").alias("nnz"),
    )
    # string-serialized vector: raw array columns crash the driver's
    # pandas canonicalizer (check_oracle.driver_hostile), the
    # b_agg_collect convention
    return per_doc.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda i: F.coalesce(F.element_at("m", i), F.lit(0)).cast("bigint"),
            ),
        ).alias("vec"),
        "l2sq",
        "nnz",
    )


# --- product quantization + ADC top-k (C265) --------------------------

M_SUB = 4       # subspaces
SUBDIM = 16     # dims per subspace (embeddings are 64-d)
K_CODE = 16     # centroids per subspace codebook

# All arithmetic is on the int8-quantized grid (b_llm_quant_int8's
# scheme), so every distance is an exact BIGINT in both engines:
# L2²(a,b) = dot(a,a) + dot(b,b) - 2·dot(a,b) with |q_i| ≤ 127,
# per-subvector terms ≤ 127²·16 ≈ 2.6e5 — order-independent integer
# sums, bit-identical cross-engine.
_PQ_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(ROUND(127.0 * x / maxabs) AS BIGINT)) AS qv
  FROM base
),
sub AS (
  SELECT vec_id, CAST(j AS INT) AS j,
         qv[j * {SUBDIM} + 1 : (j + 1) * {SUBDIM}] AS sv
  FROM q CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS j)
),
code_book AS (
  SELECT j, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < {K_CODE}
),
assign AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT s.vec_id, s.j, cb.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY CAST(list_dot_product(s.sv, s.sv)
                           + list_dot_product(cb.cv, cb.cv)
                           - 2 * list_dot_product(s.sv, cb.cv) AS BIGINT),
                      cb.cid
           ) AS rn
    FROM sub s JOIN code_book cb ON s.j = cb.j
  ) WHERE rn = 1
),
lut AS (
  SELECT qs.vec_id AS query_id, qs.j, cb.cid,
         CAST(list_dot_product(qs.sv, qs.sv)
              + list_dot_product(cb.cv, cb.cv)
              - 2 * list_dot_product(qs.sv, cb.cv) AS BIGINT) AS ld
  FROM sub qs JOIN code_book cb ON qs.j = cb.j
  WHERE qs.vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.query_id, a.vec_id AS neighbor_id, SUM(l.ld) AS adc_dist
  FROM assign a JOIN lut l ON a.j = l.j AND a.code = l.cid
  WHERE a.vec_id <> l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_dist, neighbor_id
         ) AS rn
  FROM adc
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY CAST(list_dot_product(a.qv, a.qv)
                           + list_dot_product(b.qv, b.qv)
                           - 2 * list_dot_product(a.qv, b.qv) AS BIGINT),
                      b.vec_id
           ) AS ern
    FROM q a JOIN q b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {N_QUERIES}
  ) WHERE ern <= {TOP_K}
)
SELECT r.query_id, r.neighbor_id, CAST(r.adc_dist AS BIGINT) AS adc_dist,
       CAST(r.rn AS INT) AS rn,
       (e.neighbor_id IS NOT NULL) AS in_exact_topk
FROM ranked r LEFT JOIN exact e
  ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
WHERE r.rn <= {TOP_K}
"""


def _int8_grid(e: DataFrame) -> DataFrame:
    """(vec_id, qv): the symmetric int8 quantization of each embedding
    (b_llm_quant_int8's scheme) as exact longs."""
    ed = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(ed, F.abs))
    return e.select(
        "vec_id",
        F.transform(ed, lambda x: F.round(127.0 * x / maxabs).cast("long")).alias("qv"),
    )


def _l2sq(a, b):
    """Exact integer squared-L2 via three exact dots (order-independent)."""
    from stellarsql_spark.pipeline.vectors import _int_dot  # self, for clarity

    return _int_dot(a, a) + _int_dot(b, b) - 2 * _int_dot(a, b)


def _pq_parts(q: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(assign, lut, sub) of the C265 PQ scheme over the int8 grid
    ``q``: per-vector subspace codes (broadcast-codebook argmin), the
    per-query M_SUB×K_CODE exact-distance lookup table, and the raw
    subvector frame.  Shared by b_llm_pq_adc and the composed
    b_llm_ivfpq — identical construction, one definition."""
    slices = F.array(
        *[F.slice("qv", j * SUBDIM + 1, SUBDIM) for j in range(M_SUB)]
    )
    sub = q.select("vec_id", F.posexplode(slices).alias("j", "sv"))
    code_book = sub.where(F.col("vec_id") < K_CODE).select(
        F.col("j").alias("cj"), F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    w_assign = Window.partitionBy("vec_id", "j").orderBy("d", "cid")
    assign = (
        sub.join(F.broadcast(code_book), F.col("j") == F.col("cj"))
        .select("vec_id", "j", "cid", _l2sq(F.col("sv"), F.col("cv")).alias("d"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "j", F.col("cid").alias("code"))
    )
    lut = (
        sub.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(code_book), F.col("j") == F.col("cj"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("j").alias("lj"),
            "cid",
            _l2sq(F.col("sv"), F.col("cv")).alias("ld"),
        )
    )
    return assign, lut, sub


def _exact_int8_topk(q: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, hit=True) rows of the EXACT int8-grid
    L2 top-k per query — the recall reference both PQ keys annotate
    against (query-bounded crossJoin: corpus × broadcast(queries))."""
    qq = q.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qe")
    )
    w_exact = Window.partitionBy("query_id").orderBy("xd", "neighbor_id")
    return (
        q.select(F.col("vec_id").alias("neighbor_id"), "qv")
        .crossJoin(F.broadcast(qq))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _l2sq(F.col("qe"), F.col("qv")).alias("xd"))
        .withColumn("ern", F.row_number().over(w_exact))
        .where(F.col("ern") <= TOP_K)
        .select("query_id", "neighbor_id", F.lit(True).alias("hit"))
    )


@register("b_llm_pq_adc", oracle=_PQ_ORACLE,
          tags=("pipeline", "vectors", "quantization", "pq"))
def b_llm_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C265: product quantization + asymmetric-distance (ADC) top-k —
    the compression tier below int8 (b_llm_quant_int8).

    PQ splits each vector into M_SUB subvectors and stores only a
    per-subspace centroid CODE (4 small ints ≈ 4 B/vector here vs
    64 B int8 / 256 B fp32): the layout every billion-vector ANN
    system serves from (IVF-PQ). Query time never touches vectors:
    the query builds an M_SUB×K_CODE lookup table of exact subvector→
    centroid distances, and each database vector's ADC distance is
    the SUM of M_SUB table lookups selected by its stored codes.

    Spark shape (the 100 TB story): the corpus-sized tables are the
    code assignments (M_SUB rows of 3 small ints per vector — built
    once at rest by a broadcast-codebook argmin, no shuffle wider
    than the codes themselves); the per-query LUT is queries×M_SUB×
    K_CODE rows, broadcast into the final lookup join; the only
    corpus-sized aggregation is the M_SUB-row-per-(query, vector)
    sum. No vector ever crosses a shuffle after the one-time encode.

    Codebook here is seeded (subvectors of the K_CODE lowest vec_ids
    — same convention as b_llm_kmeans' seeded init) so both engines
    derive identical codes; a production encoder would k-means each
    subspace, which only changes how the codebook table is built.
    All distances are exact BIGINTs on the int8 grid, so codes, ADC
    distances, and the `in_exact_topk` recall annotation (vs the
    exact int8-grid L2 top-k) are hash-stable cross-engine."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _int8_grid(e)
    assign, lut, _ = _pq_parts(q)
    adc = (
        assign.join(
            F.broadcast(lut),
            (F.col("j") == F.col("lj")) & (F.col("code") == F.col("cid")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    ranked = (
        adc.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= TOP_K)
    )
    return (
        ranked.join(_exact_int8_topk(q), ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            F.col("rn").cast("int").alias("rn"),
            F.coalesce(F.col("hit"), F.lit(False)).alias("in_exact_topk"),
        )
    )


# --- SERVED PQ-ADC: codes materialized at rest (C280) -------------------

# The r12 depth probe measured the plain PQ-ADC key at 68-71 s on 1.5M
# vectors (300×) with warm == cold — compute-bound on the ENCODE
# (the |corpus|×M_SUB×K_CODE argmin), which in production is a
# ONE-TIME at-rest build, not a per-query cost.  This key lands the
# codes + codebook as one parquet artifact (artifacts.materialize; the same
# lineage step as every served twin) so query time pays only the ADC:
# broadcast LUT → code-lookup join → M_SUB-row sum → top-k.
_PQ_SERVED_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(ROUND(127.0 * x / maxabs) AS BIGINT)) AS qv
  FROM base
),
sub AS (
  SELECT vec_id, CAST(j AS INT) AS j,
         qv[j * {SUBDIM} + 1 : (j + 1) * {SUBDIM}] AS sv
  FROM q CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS j)
),
code_book AS (
  SELECT j, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < {K_CODE}
),
assign AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT s.vec_id, s.j, cb.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY CAST(list_dot_product(s.sv, s.sv)
                           + list_dot_product(cb.cv, cb.cv)
                           - 2 * list_dot_product(s.sv, cb.cv) AS BIGINT),
                      cb.cid
           ) AS rn
    FROM sub s JOIN code_book cb ON s.j = cb.j
  ) WHERE rn = 1
),
lut AS (
  SELECT qs.vec_id AS query_id, qs.j, cb.cid,
         CAST(list_dot_product(qs.sv, qs.sv)
              + list_dot_product(cb.cv, cb.cv)
              - 2 * list_dot_product(qs.sv, cb.cv) AS BIGINT) AS ld
  FROM sub qs JOIN code_book cb ON qs.j = cb.j
  WHERE qs.vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.query_id, a.vec_id AS neighbor_id, SUM(l.ld) AS adc_dist
  FROM assign a JOIN lut l ON a.j = l.j AND a.code = l.cid
  WHERE a.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
       CAST(rn AS INT) AS rn
FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_dist, neighbor_id
         ) AS rn
  FROM adc
)
WHERE rn <= {TOP_K}
"""


def ensure_pq_codes(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the C265 PQ encode:
    ``<warehouse>/pq_<tag>/codes/`` (vec_id, j, code — ≈4 B/vector of
    payload) and ``<warehouse>/pq_<tag>/codebook/`` (M_SUB×K_CODE
    centroid subvectors), both parts of one artifact root.  Returns
    (codes_dir, codebook_dir)."""

    def _build(out: str) -> None:
        q = _int8_grid(load_table(spark, sf_dir, "embeddings"))
        assign, _, sub = _pq_parts(q)
        code_book = sub.where(F.col("vec_id") < K_CODE).select(
            F.col("j").alias("cj"),
            F.col("vec_id").alias("cid"),
            F.col("sv").alias("cv"),
        )
        code_book.write.mode("overwrite").parquet(os.path.join(out, "codebook"))
        assign.write.mode("overwrite").parquet(os.path.join(out, "codes"))

    root = materialize(spark, "pq", sf_dir, ("embeddings",), _build)
    return os.path.join(root, "codes"), os.path.join(root, "codebook")


@register("b_llm_pq_adc_served", oracle=_PQ_SERVED_ORACLE,
          tags=("pipeline", "vectors", "quantization", "pq", "served"))
def b_llm_pq_adc_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C280: the SERVED form of PQ-ADC — read the materialized code +
    codebook artifacts and pay ONLY the query-time work: int8-quantize
    the queries, build the M_SUB×K_CODE LUT against the stored
    codebook, one code-lookup join over the 4 B/vector codes, an
    M_SUB-row sum, top-k.  The r12 depth probe motivates it: the plain
    key reads 68–71 s at 1.5M vectors with warm == cold because the
    |corpus|-sized encode argmin dominates — and encode is a ONE-TIME
    at-rest build in any real deployment (this is precisely what a
    faiss index file is).  Same lineage step as every other served
    twin; the DuckDB oracle still recomputes encode + ADC from the raw
    parquet, which is the point being measured.  The exact-recall
    annotation stays on the plain key (it needs a corpus-sized exact
    pass — an offline quality audit, not a serving-time column).

    Result contract: identical ranked ADC top-k as b_llm_pq_adc minus
    the annotation column (equality asserted in tests/test_round12.py).
    Scale shape at query time: artifact scan of M_SUB rows/vector of
    small ints, broadcast LUT join, the grouped sum — zero corpus-
    sized windows, zero vector arithmetic over the corpus."""
    codes_dir, cb_dir = ensure_pq_codes(spark, sf_dir)
    codes = spark.read.parquet(codes_dir)
    cb = spark.read.parquet(cb_dir)
    e = load_table(spark, sf_dir, "embeddings")
    q = _int8_grid(e.where(F.col("vec_id") < N_QUERIES))
    slices = F.array(
        *[F.slice("qv", j * SUBDIM + 1, SUBDIM) for j in range(M_SUB)]
    )
    qsub = q.select("vec_id", F.posexplode(slices).alias("j", "sv"))
    lut = (
        qsub.join(F.broadcast(cb), F.col("j") == F.col("cj"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("j").alias("lj"),
            "cid",
            _l2sq(F.col("sv"), F.col("cv")).alias("ld"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (F.col("j") == F.col("lj")) & (F.col("code") == F.col("cid")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# --- composed IVF-PQ (C276, r11 VERDICT #3) ---------------------------

# Coarse quantizer: K_COARSE cells, seeded from the lowest vec_ids'
# int8 vectors (the b_llm_kmeans seeding convention) and refined by
# COARSE_ITERS Lloyd rounds ON THE INTEGER GRID — assignment by exact
# BIGINT squared-L2, centroid recompute as ROUND(SUM/COUNT) per
# dimension with both engines dividing the same exact integer-valued
# doubles, so centroids, cells, and probes are bit-identical
# cross-engine and (unlike the float-cosine quantizer of
# b_llm_ann_ivf, rows-only by design) the WHOLE composed pipeline
# carries a full hash oracle.
K_COARSE = 8
COARSE_ITERS = 1


def _nearest_cells(vecs: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """(vec_id, cell) of each vector's ``n`` nearest coarse centroids
    by exact integer squared-L2 (broadcast-centroid argmin — the
    centroid table is K_COARSE rows, never the shuffled side)."""
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", _l2sq(F.col("qv"), F.col("cvec")).alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
        .select("vec_id", F.col("cid").alias("cell"))
    )


def _coarse_centroids(q: DataFrame, iters: int = COARSE_ITERS) -> DataFrame:
    """(cid, cvec) after ``iters`` Lloyd rounds on the integer grid,
    seeded from the K_COARSE lowest vec_ids — the exact-BIGINT coarse
    quantizer shared by b_llm_ivfpq, b_llm_ivfpq_residual, and the
    served index build (assignment by exact squared-L2, centroid
    recompute as ROUND(SUM/COUNT) per dimension, so centroids are
    bit-identical cross-engine)."""
    cents = q.where(F.col("vec_id") < K_COARSE).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cvec")
    )
    for _ in range(iters):
        a = _nearest_cells(q.select("vec_id", "qv"), cents, 1)
        cents = (
            a.join(q, "vec_id")
            .select("cell", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(
                F.round(F.sum("v").cast("double") / F.count("*"))
                .cast("long")
                .alias("cv")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda s: s.cv,
                ).alias("cvec")
            )
            .select(F.col("cell").alias("cid"), "cvec")
        )
    return cents


def _sql_l2(a: str, b: str) -> str:
    """Exact BIGINT squared-L2 between two integer lists, DuckDB-side."""
    return (
        f"CAST(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        f" - 2 * list_dot_product({a}, {b}) AS BIGINT)"
    )


def _ivfpq_head_ctes(iters: int = COARSE_ITERS) -> list[str]:
    """The IVF head shared by the plain, residual, and served IVF-PQ
    oracles: int8 grid → seeded coarse centroids → ``iters`` unrolled
    Lloyd rounds → final cell assignment (``af``) + per-query probe
    list (``probe``).  Exposed as a CTE list both oracles compose
    (r12 ADVICE — the residual oracle previously recovered this head
    by slicing the rendered SQL of the plain oracle, a brittle
    textual coupling that raised at import on any formatting change)."""
    l2 = _sql_l2

    ctes = [
        "base AS (\n"
        "  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,\n"
        "         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        " AS maxabs\n"
        "  FROM embeddings\n)",
        "q AS (\n"
        "  SELECT vec_id,\n"
        "         list_transform(e, x -> CAST(ROUND(127.0 * x / maxabs) AS BIGINT))"
        " AS qv\n"
        "  FROM base\n)",
        f"c0 AS (SELECT vec_id AS cid, qv AS cvec FROM q WHERE vec_id < {K_COARSE})",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"a{r} AS (\n"
            f"  SELECT vec_id, cid AS cell FROM (\n"
            f"    SELECT q.vec_id, c.cid,\n"
            f"           ROW_NUMBER() OVER (PARTITION BY q.vec_id"
            f" ORDER BY {l2('q.qv', 'c.cvec')}, c.cid) AS rn\n"
            f"    FROM q CROSS JOIN c{r - 1} c\n"
            f"  ) WHERE rn = 1\n)"
        )
        ctes.append(
            f"e{r} AS (\n"
            f"  SELECT ar.cell, unnest(range(0, len(q.qv))) AS pos,"
            f" unnest(q.qv) AS v\n"
            f"  FROM a{r} ar JOIN q ON ar.vec_id = q.vec_id\n)"
        )
        ctes.append(
            f"m{r} AS (\n"
            f"  SELECT cell, pos,\n"
            f"         CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT)"
            f" AS cv\n"
            f"  FROM e{r} GROUP BY cell, pos\n)"
        )
        ctes.append(
            f"c{r} AS (\n"
            f"  SELECT cell AS cid, list(cv ORDER BY pos) AS cvec"
            f" FROM m{r} GROUP BY cell\n)"
        )
    last = f"c{iters}"
    ctes.append(
        f"af AS (\n"
        f"  SELECT vec_id, cid AS cell FROM (\n"
        f"    SELECT q.vec_id, c.cid,\n"
        f"           ROW_NUMBER() OVER (PARTITION BY q.vec_id"
        f" ORDER BY {l2('q.qv', 'c.cvec')}, c.cid) AS rn\n"
        f"    FROM q CROSS JOIN {last} c\n"
        f"  ) WHERE rn = 1\n)"
    )
    ctes.append(
        f"probe AS (\n"
        f"  SELECT query_id, cell FROM (\n"
        f"    SELECT q.vec_id AS query_id, c.cid AS cell,\n"
        f"           ROW_NUMBER() OVER (PARTITION BY q.vec_id"
        f" ORDER BY {l2('q.qv', 'c.cvec')}, c.cid) AS rn\n"
        f"    FROM q CROSS JOIN {last} c\n"
        f"    WHERE q.vec_id < {N_QUERIES}\n"
        f"  ) WHERE rn <= {NPROBE}\n)"
    )
    return ctes


def _ivfpq_pq_ctes() -> list[str]:
    """The PQ scoring chain appended to the IVF head: subvectors →
    seeded codebook → corpus codes → per-query LUT → cell-pruned ADC →
    ranked.  Shared by the plain (C276) and served (C281) oracles."""
    l2 = _sql_l2
    ctes = []
    ctes.append(
        f"sub AS (\n"
        f"  SELECT vec_id, CAST(j AS INT) AS j,\n"
        f"         qv[j * {SUBDIM} + 1 : (j + 1) * {SUBDIM}] AS sv\n"
        f"  FROM q CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS j)\n)"
    )
    ctes.append(
        f"code_book AS (SELECT j, vec_id AS cid, sv AS cv FROM sub"
        f" WHERE vec_id < {K_CODE})"
    )
    ctes.append(
        f"assign AS (\n"
        f"  SELECT vec_id, j, cid AS code FROM (\n"
        f"    SELECT s.vec_id, s.j, cb.cid,\n"
        f"           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j"
        f" ORDER BY {l2('s.sv', 'cb.cv')}, cb.cid) AS rn\n"
        f"    FROM sub s JOIN code_book cb ON s.j = cb.j\n"
        f"  ) WHERE rn = 1\n)"
    )
    ctes.append(
        f"lut AS (\n"
        f"  SELECT qs.vec_id AS query_id, qs.j, cb.cid, {l2('qs.sv', 'cb.cv')}"
        f" AS ld\n"
        f"  FROM sub qs JOIN code_book cb ON qs.j = cb.j\n"
        f"  WHERE qs.vec_id < {N_QUERIES}\n)"
    )
    ctes.append(
        "adc AS (\n"
        "  SELECT p.query_id, f.vec_id AS neighbor_id, SUM(l.ld) AS adc_dist\n"
        "  FROM af f\n"
        "  JOIN probe p ON f.cell = p.cell\n"
        "  JOIN assign a ON a.vec_id = f.vec_id\n"
        "  JOIN lut l ON a.j = l.j AND a.code = l.cid"
        " AND l.query_id = p.query_id\n"
        "  WHERE f.vec_id <> p.query_id\n"
        "  GROUP BY 1, 2\n)"
    )
    ctes.append(
        "ranked AS (\n"
        "  SELECT query_id, neighbor_id, adc_dist,\n"
        "         ROW_NUMBER() OVER (PARTITION BY query_id"
        " ORDER BY adc_dist, neighbor_id) AS rn\n"
        "  FROM adc\n)"
    )
    return ctes


def _ivfpq_oracle(iters: int = COARSE_ITERS) -> str:
    """The C265 PQ oracle with the IVF pruning CTEs composed in front;
    the Lloyd refinement unrolls ``iters`` rounds of chained CTEs."""
    l2 = _sql_l2
    ctes = _ivfpq_head_ctes(iters) + _ivfpq_pq_ctes()
    ctes.append(
        f"exact AS (\n"
        f"  SELECT query_id, neighbor_id FROM (\n"
        f"    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,\n"
        f"           ROW_NUMBER() OVER (PARTITION BY a.vec_id"
        f" ORDER BY {l2('a.qv', 'b.qv')}, b.vec_id) AS ern\n"
        f"    FROM q a JOIN q b ON a.vec_id <> b.vec_id\n"
        f"    WHERE a.vec_id < {N_QUERIES}\n"
        f"  ) WHERE ern <= {TOP_K}\n)"
    )
    return (
        "WITH " + ",\n".join(ctes) + f"\n"
        f"SELECT r.query_id, r.neighbor_id,"
        f" CAST(r.adc_dist AS BIGINT) AS adc_dist,\n"
        f"       CAST(r.rn AS INT) AS rn,\n"
        f"       (e.neighbor_id IS NOT NULL) AS in_exact_topk\n"
        f"FROM ranked r LEFT JOIN exact e\n"
        f"  ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id\n"
        f"WHERE r.rn <= {TOP_K}"
    )


# One Lloyd round on the PQ codebooks (same rounded-integer-mean
# refinement as the coarse quantizer): residuals only pay off once the
# codebook reflects their distribution — seeded-only codebooks measured
# residual 0.16 vs plain 0.18 recall here (no win), one training round
# lifts residual to 0.26 while plain moves 0.18→0.20 (numpy replica of
# the exact integer pipeline; the Spark/DuckDB keys reproduce it).
CB_ITERS = 1


def _ivfpq_residual_chain(iters: int = COARSE_ITERS) -> str:
    """The residual-PQ CTE chain through ``ranked``: IVF head +
    residuals + CB_ITERS-round trained codebook + per-(query, probed
    cell) LUT + cell-matched ADC — shared by the plain (C279) and
    served (C283) residual oracles."""
    l2 = _sql_l2
    # everything up to (and including) the probe CTE is the shared IVF
    # head; this chain swaps the PQ stage for the residual one
    head = "WITH " + ",\n".join(_ivfpq_head_ctes(iters))
    last = f"c{iters}"
    tail = f""",
rv AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, len(q.qv) + 1),
                        i -> q.qv[i] - c.cvec[i]) AS r
  FROM af a JOIN q ON a.vec_id = q.vec_id JOIN {last} c ON a.cell = c.cid
),
sub AS (
  SELECT vec_id, cell, CAST(j AS INT) AS j,
         r[j * {SUBDIM} + 1 : (j + 1) * {SUBDIM}] AS sv
  FROM rv CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS j)
),
cb0 AS (
  SELECT j, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < {K_CODE}
),
cba1 AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT s.vec_id, s.j, cb.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
 ORDER BY {l2('s.sv', 'cb.cv')}, cb.cid) AS rn
    FROM sub s JOIN cb0 cb ON s.j = cb.j
  ) WHERE rn = 1
),
cbe1 AS (
  SELECT a.j, a.code, unnest(range(0, len(s.sv))) AS pos, unnest(s.sv) AS v
  FROM cba1 a JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j
),
cbm1 AS (
  SELECT j, code, pos,
         CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM cbe1 GROUP BY j, code, pos
),
code_book AS (
  SELECT j, code AS cid, list(cv ORDER BY pos) AS cv FROM cbm1 GROUP BY j, code
),
assign AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT s.vec_id, s.j, cb.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
 ORDER BY {l2('s.sv', 'cb.cv')}, cb.cid) AS rn
    FROM sub s JOIN code_book cb ON s.j = cb.j
  ) WHERE rn = 1
),
qrv AS (
  SELECT q.vec_id AS query_id, p.cell,
         list_transform(range(1, len(q.qv) + 1),
                        i -> q.qv[i] - c.cvec[i]) AS r
  FROM q JOIN probe p ON q.vec_id = p.query_id
  JOIN {last} c ON p.cell = c.cid
),
lut AS (
  SELECT qs.query_id, qs.cell, qs.j, cb.cid, {l2('qs.sv', 'cb.cv')} AS ld
  FROM (
    SELECT query_id, cell, CAST(j AS INT) AS j,
           r[j * {SUBDIM} + 1 : (j + 1) * {SUBDIM}] AS sv
    FROM qrv CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS j)
  ) qs JOIN code_book cb ON qs.j = cb.j
),
adc AS (
  SELECT l.query_id, f.vec_id AS neighbor_id, SUM(l.ld) AS adc_dist
  FROM af f
  JOIN probe p ON f.cell = p.cell
  JOIN assign a ON a.vec_id = f.vec_id
  JOIN lut l ON l.cell = p.cell AND a.j = l.j AND a.code = l.cid
            AND l.query_id = p.query_id
  WHERE f.vec_id <> p.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
 ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc
)"""
    return head + tail


def _ivfpq_residual_oracle(iters: int = COARSE_ITERS) -> str:
    """C279's oracle: the C276 CTE chain with PQ moved onto RESIDUALS
    (vector − assigned coarse centroid), a CB_ITERS-round trained
    codebook, and the per-(query, probed cell) LUT — the faiss-default
    `by_residual` layout."""
    l2 = _sql_l2
    return (
        _ivfpq_residual_chain(iters) + f""",
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
 ORDER BY {l2('a.qv', 'b.qv')}, b.vec_id) AS ern
    FROM q a JOIN q b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {N_QUERIES}
  ) WHERE ern <= {TOP_K}
)
SELECT r.query_id, r.neighbor_id, CAST(r.adc_dist AS BIGINT) AS adc_dist,
       CAST(r.rn AS INT) AS rn,
       (e.neighbor_id IS NOT NULL) AS in_exact_topk
FROM ranked r LEFT JOIN exact e
  ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
WHERE r.rn <= {TOP_K}"""
    )


def _ivfpq_residual_served_oracle(iters: int = COARSE_ITERS) -> str:
    """C283's oracle: the exact C279 recompute-from-raw minus the
    exact-recall annotation (the C281/C280 served-key convention)."""
    return (
        _ivfpq_residual_chain(iters) + f"""
SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
       CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {TOP_K}"""
    )


def _residual_sub(q: DataFrame, af: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell, j, sv): residual subvectors of every vector —
    (vector − assigned coarse centroid) sliced into M_SUB subspaces.
    Shared by the plain residual key (C279) and the served index
    build (C283)."""
    resid = F.zip_with("qv", "cvec", lambda a, b: a - b)
    slices = F.array(
        *[F.slice("r", j * SUBDIM + 1, SUBDIM) for j in range(M_SUB)]
    )
    rv = (
        af.join(q, "vec_id")
        .join(F.broadcast(cents), F.col("cell") == F.col("cid"))
        .select("vec_id", "cell", resid.alias("r"))
    )
    return rv.select("vec_id", "cell", F.posexplode(slices).alias("j", "sv"))


def _train_residual_codebook(sub: DataFrame) -> DataFrame:
    """(cj, ccid, cv): the K_CODE-per-subspace residual codebook,
    seeded from the lowest vec_ids' residual subvectors and refined by
    CB_ITERS integer-grid Lloyd rounds (exact-BIGINT assignment,
    ROUND(SUM/COUNT) recompute — bit-identical cross-engine)."""
    code_book = sub.where(F.col("vec_id") < K_CODE).select(
        F.col("j").alias("cj"), F.col("vec_id").alias("ccid"), F.col("sv").alias("cv")
    )
    w_assign = Window.partitionBy("vec_id", "j").orderBy("d", "ccid")
    for _ in range(CB_ITERS):
        a1 = (
            sub.join(F.broadcast(code_book), F.col("j") == F.col("cj"))
            .select(
                "vec_id", "j", "ccid", _l2sq(F.col("sv"), F.col("cv")).alias("d")
            )
            .withColumn("rn", F.row_number().over(w_assign))
            .where(F.col("rn") == 1)
            .select("vec_id", "j", "ccid")
        )
        code_book = (
            a1.join(sub.select("vec_id", "j", "sv"), ["vec_id", "j"])
            .select("j", "ccid", F.posexplode("sv").alias("pos", "v"))
            .groupBy("j", "ccid", "pos")
            .agg(
                F.round(F.sum("v").cast("double") / F.count("*"))
                .cast("long")
                .alias("cv")
            )
            .groupBy("j", "ccid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda s: s.cv,
                ).alias("cv")
            )
            .select(F.col("j").alias("cj"), "ccid", "cv")
        )
    return code_book


def _residual_assign(sub: DataFrame, code_book: DataFrame) -> DataFrame:
    """(vec_id, cell, j, code): every vector's residual PQ codes by
    broadcast-codebook argmin."""
    w_assign = Window.partitionBy("vec_id", "j").orderBy("d", "ccid")
    return (
        sub.join(F.broadcast(code_book), F.col("j") == F.col("cj"))
        .select(
            "vec_id", "cell", "j", "ccid",
            _l2sq(F.col("sv"), F.col("cv")).alias("d"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell", "j", F.col("ccid").alias("code"))
    )


def _residual_query_lut(q: DataFrame, probe: DataFrame, cents: DataFrame,
                        code_book: DataFrame) -> DataFrame:
    """(lq, lcell, lj, lcid, ld): the per-(query, probed cell) ADC
    lookup table — the query's residual is frame-dependent, so the
    broadcast LUT carries queries × NPROBE × M_SUB × K_CODE rows."""
    resid = F.zip_with("qv", "cvec", lambda a, b: a - b)
    slices = F.array(
        *[F.slice("r", j * SUBDIM + 1, SUBDIM) for j in range(M_SUB)]
    )
    qrv = (
        q.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(probe), F.col("vec_id") == F.col("query_id"))
        .join(F.broadcast(cents), F.col("cell") == F.col("cid"))
        .select("query_id", "cell", resid.alias("r"))
    )
    return (
        qrv.select("query_id", "cell", F.posexplode(slices).alias("j", "sv"))
        .join(F.broadcast(code_book), F.col("j") == F.col("cj"))
        .select(
            F.col("query_id").alias("lq"),
            F.col("cell").alias("lcell"),
            F.col("j").alias("lj"),
            F.col("ccid").alias("lcid"),
            _l2sq(F.col("sv"), F.col("cv")).alias("ld"),
        )
    )


@register("b_llm_ivfpq_residual", oracle=_ivfpq_residual_oracle(),
          tags=("pipeline", "vectors", "quantization", "pq", "approx"))
def b_llm_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C279: IVF-PQ with RESIDUAL encoding — PQ codes computed on
    (vector − assigned coarse centroid) against a TRAINED codebook
    (CB_ITERS Lloyd rounds on the integer grid), the faiss-default
    `by_residual=True` layout C276's docstring names as the production
    refinement.  Residuals cluster near the origin regardless of which
    cell a vector sits in, so a codebook trained on them quantizes
    with less error than raw-vector codes — measured on this corpus:
    recall 0.26 vs C276's 0.18 at identical candidate sets (the test
    asserts the > relation, not the constants; the CB_ITERS block
    comment records the honest ablation — residuals WITHOUT training
    measured 0.16, i.e. the two refinements only pay together).

    What changes vs C276, and what it costs at 100 TB:
    - codes are computed from residuals (one extra elementwise
      subtract against the broadcast centroid table at ENCODE time —
      at-rest cost, not query cost) against the trained codebook (the
      training round is |corpus|×M_SUB code-keyed partial means — an
      at-rest build, same shuffle shape as the coarse refinement);
    - the query-side LUT becomes per-(query, PROBED CELL): the
      asymmetric distance needs the query's residual in each probed
      cell's frame, so the broadcast LUT is queries × NPROBE × M_SUB ×
      K_CODE rows instead of queries × M_SUB × K_CODE — still
      query-bounded, still broadcast;
    - the ADC lookup join additionally matches on cell.
    Everything stays exact BIGINT on the int8 grid (residuals are
    differences of longs), so the full hash oracle carries over."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _int8_grid(e)

    cents = _coarse_centroids(q)
    af = _nearest_cells(q.select("vec_id", "qv"), cents, 1)
    probe = _nearest_cells(
        q.where(F.col("vec_id") < N_QUERIES).select("vec_id", "qv"), cents, NPROBE
    ).select(F.col("vec_id").alias("query_id"), "cell")
    sub = _residual_sub(q, af, cents)
    code_book = _train_residual_codebook(sub)
    assign = _residual_assign(sub, code_book).drop("cell")
    lut = _residual_query_lut(q, probe, cents, code_book)
    cand = (
        af.join(F.broadcast(probe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("vec_id", "cell", "query_id")
    )
    adc = (
        cand.join(assign, "vec_id")
        .join(
            F.broadcast(lut),
            (F.col("j") == F.col("lj"))
            & (F.col("code") == F.col("lcid"))
            & (F.col("query_id") == F.col("lq"))
            & (F.col("cell") == F.col("lcell")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    ranked = adc.withColumn("rn", F.row_number().over(w_rank)).where(
        F.col("rn") <= TOP_K
    )
    return (
        ranked.join(_exact_int8_topk(q), ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            F.col("rn").cast("int").alias("rn"),
            F.coalesce(F.col("hit"), F.lit(False)).alias("in_exact_topk"),
        )
    )


@register("b_llm_ivfpq", oracle=_ivfpq_oracle(),
          tags=("pipeline", "vectors", "quantization", "pq", "approx"))
def b_llm_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C276: composed IVF-PQ — coarse-assign every vector to an IVF
    cell, probe each query's NPROBE nearest cells, and score ONLY the
    candidates in those cells by PQ-code ADC lookups; annotate recall
    vs the exact int8-grid top-k.  This is the serving layout every
    billion-vector ANN system actually runs (probe a cell subset, scan
    4 B/vector codes within it); the two halves were certified
    separately in r11 (`b_llm_ann_ivf` = coarse cells, `b_llm_pq_adc`
    = codes + ADC) and this key closes the family by composing them
    under ONE full hash oracle — reachable because every distance
    (coarse assignment, probe ranking, ADC) is an exact BIGINT on the
    int8 grid (see the K_COARSE block comment; b_llm_ann_ivf's float
    k-means stays rows-only by design).

    Candidate-count comparison (the compression × pruning trade):
    - plain ADC (b_llm_pq_adc): every query scores ALL N−1 corpus
      codes — no pruning, 4 B/vector;
    - plain IVF (b_llm_ann_ivf): ~N·NPROBE/K_COARSE candidates/query
      (3/8 of the corpus here) but each costs a FULL int8-vector
      distance — pruned, 64 B/vector;
    - IVF-PQ (this key): the same ~NPROBE/K_COARSE candidate fraction
      at 4 B/vector codes — pruned AND compressed, which is why it is
      the layout that fits a billion vectors in RAM.
    tests/test_round12.py measures the actual candidate counts on the
    test corpus and asserts the ordering above.

    Spark shape (the 100 TB story): corpus-sized frames are the cell
    assignment (3 small ints/vector) and the PQ codes (M_SUB rows of
    3 small ints/vector), both built once at rest by broadcast-argmin
    against the K_COARSE-row / codebook tables; the per-query probe
    list and LUT are broadcast; the only corpus-sized aggregation is
    the M_SUB-row-per-(query, candidate) ADC sum over the PRUNED
    candidate set.  At rest the corpus would be partitioned by cell id
    so a probe is a partition-pruned scan (b_llm_ann_ivf's layout
    note); residual encoding (PQ on vector − centroid) is the
    production refinement and changes only how `sub` is derived.
    Recall here is coarse-seeded-quantizer recall, annotated honestly
    in `in_exact_topk` — the contract, as for the other ANN keys, is
    pinned by the recall column, not assumed."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _int8_grid(e)

    cents = _coarse_centroids(q)
    af = _nearest_cells(q.select("vec_id", "qv"), cents, 1)
    probe = _nearest_cells(
        q.where(F.col("vec_id") < N_QUERIES).select("vec_id", "qv"), cents, NPROBE
    ).select(F.col("vec_id").alias("query_id"), "cell")
    assign, lut, _ = _pq_parts(q)
    cand = (
        af.join(F.broadcast(probe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("vec_id", "query_id")
    )
    lut2 = lut.withColumnRenamed("query_id", "lq")
    adc = (
        cand.join(assign, "vec_id")
        .join(
            F.broadcast(lut2),
            (F.col("j") == F.col("lj"))
            & (F.col("code") == F.col("cid"))
            & (F.col("query_id") == F.col("lq")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    ranked = adc.withColumn("rn", F.row_number().over(w_rank)).where(
        F.col("rn") <= TOP_K
    )
    return (
        ranked.join(_exact_int8_topk(q), ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            F.col("rn").cast("int").alias("rn"),
            F.coalesce(F.col("hit"), F.lit(False)).alias("in_exact_topk"),
        )
    )


# --- SERVED IVF-PQ: the full index at rest (C281, r12 VERDICT #1) -------

def _ivfpq_served_oracle(iters: int = COARSE_ITERS) -> str:
    """C281's oracle: the exact C276 recompute-from-raw (IVF head +
    PQ chain) minus the exact-recall annotation — the served key's
    contract is the same ranked ADC top-k over the probed cells, and
    the corpus-sized exact pass stays on the plain key (an offline
    quality audit, not a serving-time column), mirroring how C280
    relates to C265."""
    ctes = _ivfpq_head_ctes(iters) + _ivfpq_pq_ctes()
    return (
        "WITH " + ",\n".join(ctes) + f"\n"
        f"SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,\n"
        f"       CAST(rn AS INT) AS rn\n"
        f"FROM ranked WHERE rn <= {TOP_K}"
    )


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Materialize the FULL IVF-PQ index at rest — what a faiss
    IVF-PQ index file holds, as parquet:

    ``<warehouse>/ivfpq_<tag>/cents/``  the K_COARSE trained coarse
        centroids (cid, cvec) — the quantizer queries probe against.
    ``<warehouse>/ivfpq_<tag>/codes/cell=<c>/``  every vector's PQ
        codes (vec_id, j, code) PARTITIONED BY ITS IVF CELL — the
        inverted lists.  Cell-partitioning is the layout point: a
        probe reads only the probed cells' directories (partition
        pruning), so query cost scales with NPROBE/K_COARSE of the
        corpus, not the corpus.
    The M_SUB×K_CODE codebook is shared with C280's artifacts
    (ensure_pq_codes — the composed key scores with the same
    raw-vector codebook as plain PQ-ADC).

    Centroids and codes are parts of one artifact root; returns
    (cents_dir, codes_dir, cb_dir).
    """
    pq_codes_dir, cb_dir = ensure_pq_codes(spark, sf_dir)

    def _build(out: str) -> None:
        cents_dir, codes_dir = os.path.join(out, "cents"), os.path.join(out, "codes")
        q = _int8_grid(load_table(spark, sf_dir, "embeddings"))
        _coarse_centroids(q).coalesce(1).write.mode("overwrite").parquet(cents_dir)
        # assign against the MATERIALIZED centroids (read back), so the
        # codes' cells are exactly what queries will probe against
        af = _nearest_cells(
            q.select("vec_id", "qv"), spark.read.parquet(cents_dir), 1
        ).withColumn("cell", F.col("cell").cast("int"))
        codes = spark.read.parquet(pq_codes_dir)
        (
            af.join(codes, "vec_id")
            .repartition(F.col("cell"))  # one writer task per cell → one file per inverted list
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(codes_dir)
        )

    root = materialize(
        spark, "ivfpq", sf_dir, ("embeddings", os.path.dirname(pq_codes_dir)), _build
    )
    return os.path.join(root, "cents"), os.path.join(root, "codes"), cb_dir


@register("b_llm_ivfpq_served", oracle=_ivfpq_served_oracle(),
          tags=("pipeline", "vectors", "quantization", "pq", "approx", "served"))
def b_llm_ivfpq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C281: the SERVED form of composed IVF-PQ (r12 VERDICT #1) —
    read the at-rest index (trained coarse centroids + cell-
    partitioned PQ codes + codebook, ensure_ivfpq_index) and pay ONLY
    the query-time work: quantize the queries, rank the K_COARSE
    broadcast centroids per query (the probe list), build the
    M_SUB×K_CODE LUT against the stored codebook, then ADC-score ONLY
    the code rows in the probed cells.  This completes the ANN
    family's lineage: exhaustive (b_llm_cosine_topk) → compressed
    (b_llm_pq_adc / C280 served) → pruned+compressed (b_llm_ivfpq) →
    SERVED pruned+compressed (this key).  The plain key's 127 s at
    1.5M vectors is the one-time index build; this key is what a
    query actually costs against that index.

    Scale shape at query time: the probe list (queries × NPROBE) joins
    the cell-partitioned code artifact ON THE PARTITION COLUMN — with
    a broadcast build side Spark can partition-prune the scan to the
    probed cells (at K_COARSE=8 and 50 queries every cell is usually
    probed by someone; per-query pruning still bounds each query's
    candidate set to ~NPROBE/K_COARSE of the corpus, and a production
    deployment sizes K_COARSE ~ sqrt(N) so the probed fraction is
    tiny).  The LUT join and grouped M_SUB-row sum are identical to
    C280's served ADC.  No corpus-sized vector arithmetic, no encode,
    no Lloyd rounds — those live in the index build.

    Result contract: identical ranked ADC top-k as b_llm_ivfpq minus
    the recall annotation (equality asserted in tests/test_round13.py);
    the DuckDB oracle still recomputes quantizer + encode + ADC from
    the raw parquet, which is the gap being measured."""
    cents_dir, codes_dir, cb_dir = ensure_ivfpq_index(spark, sf_dir)
    cents = spark.read.parquet(cents_dir)
    cb = spark.read.parquet(cb_dir)
    q = _int8_grid(
        load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < N_QUERIES)
    )
    probe = _nearest_cells(q.select("vec_id", "qv"), cents, NPROBE).select(
        F.col("vec_id").alias("query_id"), F.col("cell").cast("int").alias("cell")
    )
    slices = F.array(
        *[F.slice("qv", j * SUBDIM + 1, SUBDIM) for j in range(M_SUB)]
    )
    lut = (
        q.select("vec_id", F.posexplode(slices).alias("j", "sv"))
        .join(F.broadcast(cb), F.col("j") == F.col("cj"))
        .select(
            F.col("vec_id").alias("lq"),
            F.col("j").alias("lj"),
            "cid",
            _l2sq(F.col("sv"), F.col("cv")).alias("ld"),
        )
    )
    codes = spark.read.parquet(codes_dir)
    adc = (
        codes.join(F.broadcast(probe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(
            F.broadcast(lut),
            (F.col("j") == F.col("lj"))
            & (F.col("code") == F.col("cid"))
            & (F.col("query_id") == F.col("lq")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# --- SERVED residual IVF-PQ: the faiss layout at rest (C283) -------------

def ensure_ivfpq_residual_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """Materialize the RESIDUAL IVF-PQ index — the faiss-default
    ``by_residual`` layout at rest:

    ``<warehouse>/ivfpq_<tag>/cents/``  shared with C281: the same
        trained coarse quantizer (ensure_ivfpq_index builds it; the
        residual index reuses it verbatim, exactly as one faiss index
        shares its quantizer across encodings).
    ``<warehouse>/ivfpqr_<tag>/codebook/``  the TRAINED residual
        codebook (CB_ITERS integer-grid Lloyd rounds on residual
        subvectors).
    ``<warehouse>/ivfpqr_<tag>/codes/cell=<c>/``  every vector's
        residual PQ codes, partitioned by IVF cell (the inverted
        lists).

    Returns (cents_dir, codes_dir, codebook_dir)."""
    cents_dir, _, _ = ensure_ivfpq_index(spark, sf_dir)

    def _build(out: str) -> None:
        rcb_dir, rcodes_dir = os.path.join(out, "codebook"), os.path.join(out, "codes")
        q = _int8_grid(load_table(spark, sf_dir, "embeddings"))
        cents = spark.read.parquet(cents_dir)
        af = _nearest_cells(q.select("vec_id", "qv"), cents, 1)
        sub = _residual_sub(q, af, cents)
        _train_residual_codebook(sub).coalesce(1).write.mode(
            "overwrite"
        ).parquet(rcb_dir)
        # encode against the MATERIALIZED codebook (read back), so the
        # stored codes are exactly what query-time LUTs score against
        codes = _residual_assign(sub, spark.read.parquet(rcb_dir)).withColumn(
            "cell", F.col("cell").cast("int")
        )
        (
            codes.repartition(F.col("cell"))
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(rcodes_dir)
        )

    root = materialize(
        spark, "ivfpqr", sf_dir, ("embeddings", os.path.dirname(cents_dir)), _build
    )
    return cents_dir, os.path.join(root, "codes"), os.path.join(root, "codebook")


@register("b_llm_ivfpq_residual_served", oracle=_ivfpq_residual_served_oracle(),
          tags=("pipeline", "vectors", "quantization", "pq", "approx", "served"))
def b_llm_ivfpq_residual_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C283: the SERVED form of residual IVF-PQ — the production
    refinement (C279's trained ``by_residual`` encoding) served from
    the at-rest index, completing the refinement's own lineage the way
    C281 completed the raw-code composition.  Query time: quantize the
    queries, rank the broadcast coarse centroids (probe list), build
    the per-(query, probed cell) residual LUT against the stored
    centroids + trained codebook, ADC-score only the probed cells'
    residual-code partitions.

    What differs from C281 at query time — and the structural costs:
    the LUT is queries × NPROBE × M_SUB × K_CODE rows (the query's
    residual is cell-frame-dependent) instead of queries × M_SUB ×
    K_CODE, and the code-lookup join additionally matches on cell —
    both still query-bounded and broadcast; the corpus-sided work is
    identical (a cell-pruned scan of 4 B/vector codes).  The quality
    argument for paying the extra LUT width is C279's certified
    recall gain (0.26 vs 0.18 at identical candidates).

    Result contract: identical ranked ADC top-k as b_llm_ivfpq_residual
    minus the recall annotation (equality asserted in
    tests/test_round13.py); the DuckDB oracle recomputes quantizer +
    residual training + encode + ADC from raw parquet."""
    cents_dir, rcodes_dir, rcb_dir = ensure_ivfpq_residual_index(spark, sf_dir)
    cents = spark.read.parquet(cents_dir)
    code_book = spark.read.parquet(rcb_dir)
    q = _int8_grid(
        load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < N_QUERIES)
    )
    probe = _nearest_cells(q.select("vec_id", "qv"), cents, NPROBE).select(
        F.col("vec_id").alias("query_id"), F.col("cell").cast("int").alias("cell")
    )
    lut = _residual_query_lut(q, probe, cents, code_book)
    codes = spark.read.parquet(rcodes_dir)
    adc = (
        codes.join(F.broadcast(probe), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(
            F.broadcast(lut),
            (F.col("j") == F.col("lj"))
            & (F.col("code") == F.col("lcid"))
            & (F.col("query_id") == F.col("lq"))
            & (F.col("cell") == F.col("lcell")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            F.col("rn").cast("int").alias("rn"),
        )
    )
