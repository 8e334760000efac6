"""Embedding similarity-search queries over the ``embeddings`` table.

Exercises operators/similarity.py. Oracle uses DuckDB list functions
over ``DOUBLE[]`` casts; both engines accumulate dot products
sequentially in double, which is bit-identical (validated in
tests/test_oracle_parity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ._util import t
from ..functions.vectors import norm
from ..operators.similarity import brute_topk, ivf_topk, lsh_topk

def _cos(a: str, b: str, av: str = "embedding", bv: str = "embedding") -> str:
    """DuckDB cosine between ``a.av`` and ``b.bv`` (sequential double dots)."""
    da, db = f"CAST({a}.{av} AS DOUBLE[])", f"CAST({b}.{bv} AS DOUBLE[])"
    return (
        f"list_dot_product({da}, {db})"
        f" / (sqrt(list_dot_product({da}, {da})) * sqrt(list_dot_product({db}, {db})))"
    )


# The one cosine spelling, instantiated for the two alias conventions —
# previously three hand-expanded copies that had to be kept in lockstep.
_COS = _cos("q", "c")


@register(
    "q70_knn_brute_force",
    f"""
    SELECT qid, cid, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid, {_COS} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id) AS rank
      FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
      WHERE q.vec_id < 10
    ) ranked
    WHERE rank <= 5
    ORDER BY qid, rank
    """,
    tags=("vectors", "knn"),
)
def q70_knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return (
        brute_topk(queries, corpus, k=5)
        .select("qid", "cid", "cosine", F.col("rank").cast("int").alias("rank"))
        .orderBy("qid", "rank")
    )


@register(
    "q71_ann_sign_lsh",
    f"""
    WITH coded AS (
      SELECT vec_id, embedding,
             concat(
               CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END
             ) AS bucket
      FROM embeddings
    )
    SELECT qid, cid, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid, {_COS} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id) AS rank
      FROM coded q JOIN coded c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
    ) ranked
    WHERE rank <= 3
    ORDER BY qid, rank
    """,
    tags=("vectors", "ann", "lsh"),
)
def q71_ann_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return (
        lsh_topk(queries, emb, k=3, bits=4, exclude_self=True)
        .select("qid", "cid", "cosine", F.col("rank").cast("int").alias("rank"))
        .orderBy("qid", "rank")
    )


@register(
    "q74_ann_ivf",
    f"""
    WITH cents AS (
      SELECT vec_id AS cell, embedding FROM embeddings WHERE vec_id < 8
    ),
    cells AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT c.vec_id, c.embedding, k.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id ORDER BY {_cos('c', 'k')} DESC, k.cell
               ) AS rn
        FROM embeddings c CROSS JOIN cents k
      ) a WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT q.vec_id, q.embedding, k.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {_cos('q', 'k')} DESC, k.cell
               ) AS rn
        FROM embeddings q CROSS JOIN cents k
        WHERE q.vec_id < 10
      ) b WHERE rn <= 2
    )
    SELECT qid, cid, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid, {_cos('q', 'c')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id ORDER BY {_cos('q', 'c')} DESC, c.vec_id
             ) AS rank
      FROM probes q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
    ) ranked
    WHERE rank <= 3
    ORDER BY qid, rank
    """,
    tags=("vectors", "ann", "ivf"),
    doc=(
        "IVF approximate nearest neighbors: 8 deterministic centroids "
        "(vec_id < 8), corpus bucketed by nearest centroid, queries probe "
        "their 2 closest cells. Scale path per operators/similarity.py."
    ),
)
def q74_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return (
        ivf_topk(queries, emb, centroids, k=3, nprobe=2, exclude_self=True)
        .select("qid", "cid", "cosine", F.col("rank").cast("int").alias("rank"))
        .orderBy("qid", "rank")
    )


@register(
    "q72_embedding_norms",
    """
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(CAST(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                               CAST(embedding AS DOUBLE[]))) AS DECIMAL(18,6))) AS DOUBLE) AS total_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    tags=("vectors", "aggregate"),
)
def q72_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(norm(F.col("embedding")).cast("decimal(18,6)")).cast("double").alias("total_norm"),
        )
        .orderBy("label")
    )


def _cosv(vec_expr: str, cent: str) -> str:
    """DuckDB cosine between a DOUBLE[] expression and centroid ``cent``."""
    return (
        f"list_dot_product({vec_expr}, {cent})"
        f" / (sqrt(list_dot_product({vec_expr}, {vec_expr}))"
        f" * sqrt(list_dot_product({cent}, {cent})))"
    )


def _duck_kmeans_ctes(k: int, n_iter: int) -> str:
    """Generate the Lloyd-iteration CTE chain mirroring kmeans_lloyd.

    Same deterministic seed (vec_id < k), same argmax tie rule
    (ROW_NUMBER ... ORDER BY cos DESC, cell == max_by struct with
    negated cell), same decimal-exact per-dimension sums. Returns the
    comma-joined CTE list ending at ``cents{n_iter}`` so callers can
    append their own consuming CTEs (r72 cluster summary, r73 probe)."""
    emb = "CAST(embedding AS DOUBLE[])"
    parts = [
        f"cents0 AS (SELECT vec_id AS cell, {emb} AS cvec FROM embeddings WHERE vec_id < {k})"
    ]
    for i in range(1, n_iter + 1):
        prev, cos = f"cents{i-1}", _cosv(f"CAST(c.embedding AS DOUBLE[])", "k.cvec")
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT c.vec_id, c.embedding, k.cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY {cos} DESC, k.cell) AS rn
        FROM embeddings c CROSS JOIN {prev} k
      ) x WHERE rn = 1
    )"""
        )
        parts.append(
            f"""d{i} AS (
      SELECT cell, unnest(generate_series(1, len(embedding))) AS pos, embedding FROM a{i}
    )"""
        )
        parts.append(
            f"""s{i} AS (
      SELECT cell, pos,
             CAST(SUM(CAST(round(CAST(embedding[pos] AS DOUBLE), 12) AS DECIMAL(28,12))) AS DOUBLE) AS v
      FROM d{i} GROUP BY cell, pos
    )"""
        )
        parts.append(
            f"cents{i} AS (SELECT cell, list(v ORDER BY pos) AS cvec FROM s{i} GROUP BY cell)"
        )
    return ",\n    ".join(parts)


def _duck_kmeans_sql(k: int, n_iter: int) -> str:
    """r72 oracle: Lloyd chain + final assignment + per-cluster summary."""
    final_cos = _cosv("CAST(c.embedding AS DOUBLE[])", "k.cvec")
    return f"""
    WITH {_duck_kmeans_ctes(k, n_iter)},
    final AS (
      SELECT vec_id, cell, score FROM (
        SELECT c.vec_id, k.cell, {final_cos} AS score,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY {final_cos} DESC, k.cell) AS rn
        FROM embeddings c CROSS JOIN cents{n_iter} k
      ) x WHERE rn = 1
    )
    SELECT cell, COUNT(*) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS id_sum,
           CAST(SUM(CAST(score AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mean_cos
    FROM final
    GROUP BY cell
    ORDER BY cell
    """


@register(
    "r72_kmeans_lloyd",
    _duck_kmeans_sql(k=8, n_iter=2),
    tags=("vectors", "kmeans", "iterative"),
    doc=(
        "Spherical k-means, 2 Lloyd iterations over the embeddings table "
        "(operators/similarity.kmeans_lloyd): deterministic lowest-id "
        "seeds, argmax assignment, decimal-exact per-dimension centroid "
        "sums. The training set is small enough for the driver tier "
        "(one bounded collect, rounds in numpy, bit-identical to the "
        "broadcast-argmax rounds that larger corpora run); the final "
        "assignment is a broadcast nested-loop join against the 8 "
        "trained centroids. The DuckDB oracle "
        "replays both iterations CTE-by-CTE, so assignment ties, "
        "centroid arithmetic, and the final cluster memberships are all "
        "bit-checked — the 'train the IVF index' step for q74, "
        "value-verified end to end."
    ),
)
def r72_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import assign_with_score, kmeans_lloyd

    emb = t(spark, sf_dir, "embeddings")
    cents = kmeans_lloyd(emb, k=8, n_iter=2)
    final = assign_with_score(emb, cents)
    return (
        final.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("cid").cast("bigint").alias("id_sum"),
            (F.sum(F.col("score").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1))).alias(
                "mean_cos"
            ),
        )
        .orderBy("cell")
    )


def _duck_ivf_trained_sql(k: int, n_iter: int, n_queries: int, nprobe: int, topk: int) -> str:
    """r73 oracle: Lloyd chain, then the exact q74 probe shape but over
    the *trained* cents{n_iter} instead of raw seed vectors."""
    cent_cos = _cosv("CAST(c.embedding AS DOUBLE[])", "k.cvec")
    qcent_cos = _cosv("CAST(q.embedding AS DOUBLE[])", "k.cvec")
    pair_cos = _cos("q", "c")
    return f"""
    WITH {_duck_kmeans_ctes(k, n_iter)},
    cells AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT c.vec_id, c.embedding, k.cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY {cent_cos} DESC, k.cell) AS rn
        FROM embeddings c CROSS JOIN cents{n_iter} k
      ) x WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT q.vec_id, q.embedding, k.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {qcent_cos} DESC, k.cell) AS rn
        FROM embeddings q CROSS JOIN cents{n_iter} k
        WHERE q.vec_id < {n_queries}
      ) b WHERE rn <= {nprobe}
    )
    SELECT qid, cid, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid, {pair_cos} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {pair_cos} DESC, c.vec_id) AS rank
      FROM probes q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
    ) ranked
    WHERE rank <= {topk}
    ORDER BY qid, rank
    """


@register(
    "r73_ivf_trained",
    _duck_ivf_trained_sql(k=8, n_iter=2, n_queries=10, nprobe=2, topk=3),
    tags=("vectors", "ann", "ivf", "kmeans", "iterative"),
    doc=(
        "End-to-end trained ANN index: kmeans_lloyd trains 8 centroids "
        "(2 Lloyd iterations), then ivf_topk buckets the corpus by the "
        "trained centroids and probes the 2 closest cells per query — "
        "q74's probe plan fed by r72's training step, the full "
        "build-index-then-search lifecycle a vector store runs. At scale "
        "the trained (cell, cvec) table is tiny (k rows) and broadcast; "
        "the corpus is scanned, never shuffled, and the cells table is "
        "what you'd persist partitioned by cell. Oracle replays training "
        "and probe CTE-by-CTE, so the whole lifecycle is bit-checked."
    ),
)
def r73_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_lloyd

    emb = t(spark, sf_dir, "embeddings")
    cents = kmeans_lloyd(emb, k=8, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 10)
    return (
        ivf_topk(queries, emb, cents, k=3, nprobe=2, exclude_self=True)
        .select("qid", "cid", "cosine", F.col("rank").cast("int").alias("rank"))
        .orderBy("qid", "rank")
    )


def _duck_semdedup_sql(k: int, n_iter: int, threshold: float) -> str:
    """r70 oracle: Lloyd chain → cell assignment → within-cell near-dup
    pairs → greedy lowest-id-kept decision per vector."""
    cent_cos = _cosv("CAST(c.embedding AS DOUBLE[])", "k.cvec")
    pair_cos = _cos("a", "b")
    return f"""
    WITH {_duck_kmeans_ctes(k, n_iter)},
    cells AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT c.vec_id, c.embedding, k.cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY {cent_cos} DESC, k.cell) AS rn
        FROM embeddings c CROSS JOIN cents{n_iter} k
      ) x WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {pair_cos} > {threshold}
    )
    SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
    FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    ORDER BY c.vec_id
    """


@register(
    "r70_semdedup",
    _duck_semdedup_sql(k=8, n_iter=1, threshold=0.35),
    tags=("vectors", "dedup", "kmeans", "iterative"),
    doc=(
        "SemDeDup semantic deduplication (Abbas et al. 2023): k-means "
        "clusters the embedding corpus (1 Lloyd iteration, deterministic "
        "lowest-id seeds), then near-duplicates are detected only WITHIN "
        "a cluster (cosine > 0.35; the synthetic corpus has no planted "
        "near-identical pairs, so the threshold sits in the top tail of "
        "the real cosine distribution to exercise the drop path) and "
        "each duplicate group keeps its "
        "lowest-id representative. The cluster stage bounds the pair "
        "join to cell-sized blocks — the published trick that makes "
        "embedding dedup tractable at corpus scale (vs q73's LSH-bucket "
        "variant: same goal, index-free buckets). One broadcast argmax "
        "assignment, one cell-keyed self-join, one anti-join; no corpus "
        "shuffle outside the cell join. Oracle replays training, "
        "assignment, and the greedy decision CTE-by-CTE per vector."
    ),
)
def r70_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_lloyd, semdedup

    emb = t(spark, sf_dir, "embeddings")
    cents = kmeans_lloyd(emb, k=8, n_iter=1)
    return semdedup(emb, cents, threshold=0.35).orderBy("vec_id")


_COS_P = _cos("a", "b")


_AUDIT_THRESHOLDS = (0.25, 0.3, 0.35)


def _duck_lsh_audit_sql() -> str:
    bucket = lambda al: (  # noqa: E731
        "concat("
        + ", ".join(
            f"CASE WHEN {al}.embedding[{i}] >= 0 THEN '1' ELSE '0' END" for i in range(1, 5)
        )
        + ")"
    )
    sums = []
    for i, th in enumerate(_AUDIT_THRESHOLDS):
        sums.append(f"SUM(CASE WHEN cosine > {th} THEN 1 ELSE 0 END) AS t{i}")
        sums.append(f"SUM(CASE WHEN cosine > {th} AND same_bucket THEN 1 ELSE 0 END) AS f{i}")
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT {th} AS threshold, t{i} AS n_true, f{i} AS n_found, "
        f"CAST(f{i} AS DOUBLE) / t{i} AS recall FROM agg"
        for i, th in enumerate(_AUDIT_THRESHOLDS)
    )
    return f"""
    WITH pairs AS (
      SELECT {_COS_P} AS cosine, {bucket('a')} = {bucket('b')} AS same_bucket
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 500 AND b.vec_id < 500
    ),
    agg AS (SELECT {', '.join(sums)} FROM pairs)
    SELECT threshold, CAST(n_true AS BIGINT) AS n_true,
           CAST(n_found AS BIGINT) AS n_found, recall
    FROM ({rows})
    ORDER BY threshold
    """


@register(
    "r87_lsh_recall_audit",
    _duck_lsh_audit_sql(),
    tags=("vectors", "lsh", "quality-audit"),
    doc=(
        "ANN index quality audit: ground-truth cosine pairs over a "
        "bounded sample (vec_id < 500) compared against the pairs the "
        "4-bit sign-LSH buckets would recover, per threshold — the "
        "recall measurement that tunes bits/threshold before running "
        "the bucketed path at corpus scale. One pair scan computes "
        "every threshold's conditional counts (no per-threshold "
        "re-joins). Measured ~0.13 recall at cosine 0.25 matches the "
        "sign-LSH collision theory (1 - theta/pi)^4 — the audit is how "
        "you discover that before shipping an index."
    ),
)
def r87_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import sign_bucket

    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qn"), sign_bucket(F.col("embedding"), 4).alias("ba"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("cvec"),
        norm(F.col("embedding")).alias("cn"), sign_bucket(F.col("embedding"), 4).alias("bb"),
    )
    from ..functions.vectors import dot

    # try_divide, not `/`: ANSI mode aborts the whole job with
    # DIVIDE_BY_ZERO on the first zero-norm embedding, while DuckDB's
    # `/` yields NULL — try_divide's NULL matches, and NULL cosines
    # fall out of every `cosine > th` count identically on both sides.
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.try_divide(
                dot(F.col("qvec"), F.col("cvec")), F.col("qn") * F.col("cn")
            ).alias("cosine"),
            (F.col("ba") == F.col("bb")).alias("same_bucket"),
        )
    )
    aggs = []
    for i, th in enumerate(_AUDIT_THRESHOLDS):
        aggs.append(F.sum(F.when(F.col("cosine") > th, 1).otherwise(0)).alias(f"t{i}"))
        aggs.append(
            F.sum(F.when((F.col("cosine") > th) & F.col("same_bucket"), 1).otherwise(0)).alias(f"f{i}")
        )
    agg = pairs.agg(*aggs)
    structs = [
        F.struct(
            F.lit(th).alias("threshold"),
            F.col(f"t{i}").cast("bigint").alias("n_true"),
            F.col(f"f{i}").cast("bigint").alias("n_found"),
            # try_divide: zero true pairs at a threshold must yield a
            # NULL recall (DuckDB's x/0), not an ANSI DIVIDE_BY_ZERO
            F.try_divide(F.col(f"f{i}").cast("double"), F.col(f"t{i}")).alias(
                "recall"
            ),
        )
        for i, th in enumerate(_AUDIT_THRESHOLDS)
    ]
    return (
        agg.select(F.explode(F.array(*structs)).alias("s")).select("s.*").orderBy("threshold")
    )


@register(
    "s10_embedding_centroids",
    """
    WITH dims AS (
      SELECT label,
             unnest(CAST(embedding AS DOUBLE[])) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    sums AS (
      SELECT label, pos,
             SUM(CAST(round(val, 12) AS DECIMAL(28,12))) AS s, COUNT(*) AS n
      FROM dims GROUP BY label, pos
    ),
    cent AS (
      SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS centroid
      FROM sums GROUP BY label
    ),
    cosd AS (
      SELECT e.label,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
      FROM embeddings e JOIN cent c USING (label)
    )
    SELECT d.label,
           COUNT(*) AS n_vecs,
           sqrt(list_dot_product(c.centroid, c.centroid)) AS centroid_norm,
           CAST(SUM(CAST(d.cos AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mean_cos
    FROM cosd d JOIN cent c ON c.label = d.label
    GROUP BY d.label, c.centroid
    ORDER BY d.label
    """,
    tags=("vectors", "cluster-quality", "drift"),
    doc=(
        "Per-label embedding centroid and dispersion audit: mean vector "
        "per label (exact decimal per-dimension sums, one double "
        "division) and the label's cohesion as mean cosine of members "
        "to their centroid — the cluster-quality/embedding-drift check "
        "run before trusting labels, SemDeDup cells, or an IVF "
        "partitioning. Scale shapes: posexplode -> (label, dim) "
        "aggregation with map-side combine (never a per-row array "
        "lambda over the corpus for the sums), centroids reassembled "
        "ordered-by-dimension and BROADCAST back for the one "
        "sequential-accumulation cosine per row; per-row cosines fold "
        "through decimal so the mean is partition-order-independent."
    ),
)
def s10_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine

    emb = t(spark, sf_dir, "embeddings").select("label", "embedding")
    dims = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    sums = dims.groupBy("label", "pos").agg(
        F.sum(F.round(F.col("val").cast("double"), 12).cast("decimal(28,12)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = (
        sums.select("label", "pos", (F.col("s").cast("double") / F.col("n")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
            ).alias("centroid")
        )
    )
    joined = emb.join(F.broadcast(cent), "label")
    cos = cosine(F.col("embedding"), F.col("centroid"))
    from ..functions.vectors import norm as vnorm

    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.first(vnorm(F.col("centroid"))).alias("centroid_norm"),
            (
                F.sum(cos.cast("decimal(28,12)")).cast("double") / F.count(F.lit(1))
            ).alias("mean_cos"),
        )
        .orderBy("label")
    )


_QPREP = """
  prep AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS s,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
  ),
  quant AS (
    SELECT vec_id, e, s, nrm,
           list_transform(e, x -> CAST(floor(x / s * 127.0 + 0.5) AS INT)) AS q
    FROM prep WHERE s > 0
  ),
  pairs AS (
    SELECT a.vec_id AS qid, b.vec_id AS cid,
           list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos_true,
           list_dot_product(a.q, b.q)
             * (a.s / 127.0) * (b.s / 127.0) / (a.nrm * b.nrm) AS est
    FROM quant a JOIN quant b ON b.vec_id >= 10
    WHERE a.vec_id < 10
  ),
  ranked AS (
    SELECT qid, cid, cos_true, est,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_true DESC, cid) AS rn_t,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY est DESC, cid) AS rn_e
    FROM pairs
  )
"""


@register(
    "s50_int8_quant_recall",
    f"""
    WITH {_QPREP}
    SELECT t.qid,
           t.cid AS cid_exact,
           e.cid AS cid_quant,
           CAST(CASE WHEN t.cid = e.cid THEN 1 ELSE 0 END AS INT) AS hit,
           t.cos_true AS cos_exact,
           e.cos_true AS cos_quant_true,
           abs(e.est - e.cos_true) AS est_err
    FROM (SELECT * FROM ranked WHERE rn_t = 1) t
    JOIN (SELECT * FROM ranked WHERE rn_e = 1) e ON e.qid = t.qid
    ORDER BY t.qid
    """,
    tags=("vectors", "quantization", "recall"),
    doc=(
        "Int8 embedding quantization with a recall audit: each vector "
        "is row-wise scaled to int8 (q = floor(x/s*127 + 0.5), s = "
        "max|x|; floor-based to dodge cross-engine round-half rules), "
        "top-1 neighbors are retrieved by the integer dot product "
        "rescaled through the stored (scale, norm) pair, and compared "
        "against exact-cosine top-1: hit flag and estimation error per "
        "query. This is the memory-scale path for 100 TB ANN — int8 "
        "cuts the resident index 4x and the integer dot is exact "
        "arithmetic, so the audit itself is bit-reproducible (the only "
        "doubles are the shared rescale factors, computed in the same "
        "IEEE order on both engines). Pairs join is the intentional "
        "brute-force audit shape, same as q70; the production path "
        "composes this quantizer with the IVF cells of q74."
    ),
)
def s50_int8_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ..functions.vectors import dot, norm

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    prep = emb.select(
        "vec_id",
        "e",
        F.array_max(F.transform("e", lambda x: F.abs(x))).alias("s"),
        norm(F.col("e")).alias("nrm"),
    ).filter(F.col("s") > 0)
    quant = prep.withColumn(
        "q",
        F.transform(
            "e", lambda x: F.floor(x / F.col("s") * F.lit(127.0) + F.lit(0.5)).cast("int")
        ),
    )
    a = quant.filter(F.col("vec_id") < 10).alias("a")
    b = quant.filter(F.col("vec_id") >= 10).alias("b")
    idot = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    pairs = a.crossJoin(b).select(
        F.col("a.vec_id").alias("qid"),
        F.col("b.vec_id").alias("cid"),
        (dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))).alias(
            "cos_true"
        ),
        (
            idot.cast("double")
            * (F.col("a.s") / F.lit(127.0))
            * (F.col("b.s") / F.lit(127.0))
            / (F.col("a.nrm") * F.col("b.nrm"))
        ).alias("est"),
    )
    wt = W.partitionBy("qid").orderBy(F.desc("cos_true"), "cid")
    we = W.partitionBy("qid").orderBy(F.desc("est"), "cid")
    ranked = pairs.select(
        "*",
        F.row_number().over(wt).alias("rn_t"),
        F.row_number().over(we).alias("rn_e"),
    )
    tbest = ranked.filter(F.col("rn_t") == 1).select(
        "qid", F.col("cid").alias("cid_exact"), F.col("cos_true").alias("cos_exact")
    )
    ebest = ranked.filter(F.col("rn_e") == 1).select(
        "qid",
        F.col("cid").alias("cid_quant"),
        F.col("cos_true").alias("cos_quant_true"),
        F.abs(F.col("est") - F.col("cos_true")).alias("est_err"),
    )
    return (
        tbest.join(ebest, "qid")
        .select(
            "qid",
            "cid_exact",
            "cid_quant",
            F.when(F.col("cid_exact") == F.col("cid_quant"), 1)
            .otherwise(0)
            .cast("int")
            .alias("hit"),
            "cos_exact",
            "cos_quant_true",
            "est_err",
        )
        .orderBy("qid")
    )


@register(
    "t04_knn_label_accuracy",
    f"""
    WITH nn AS (
      SELECT actual, predicted
      FROM (
        SELECT q.label AS actual, c.label AS predicted,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_COS} DESC, c.vec_id) AS rank
        FROM embeddings q
        JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % 37 = 0
      ) ranked
      WHERE rank = 1
    )
    SELECT actual,
           COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN predicted = actual THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN predicted = actual THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS accuracy
    FROM nn GROUP BY actual ORDER BY actual
    """,
    tags=("vectors", "knn", "evaluation"),
    doc=(
        "Leave-one-out 1-NN label accuracy over the embedding corpus - "
        "the standard intrinsic quality check for an embedding space "
        "(do nearest neighbors share labels?), run on a deterministic "
        "hash-mod query sample (vec_id % 37) so the audited pair count "
        "is corpus_size * sample_size, not quadratic. Reuses "
        "brute_topk's broadcast-queries/scan-corpus-once shape with "
        "exclude_self for the leave-one-out semantics; cosine ties "
        "break on vec_id so the predicted neighbor is deterministic. "
        "Sequential double accumulation of the dot product is "
        "bit-equal to DuckDB's list_dot_product (q70 precedent)."
    ),
)
def t04_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 37 == 0)
    nn = brute_topk(queries, emb, k=1, exclude_self=True)
    labels = emb.select("vec_id", "label")
    joined = (
        nn.join(
            labels.select(
                F.col("vec_id").alias("qid"), F.col("label").alias("actual")
            ),
            "qid",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("cid"),
                F.col("label").alias("predicted"),
            ),
            "cid",
        )
    )
    correct = F.sum(
        F.when(F.col("predicted") == F.col("actual"), 1).otherwise(0)
    )
    return (
        joined.groupBy("actual")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            correct.cast("bigint").alias("n_correct"),
            (correct.cast("double") / F.count(F.lit(1))).alias("accuracy"),
        )
        .orderBy("actual")
    )


@register(
    "t23_prefix_dim_recall",
    f"""
    WITH full_nn AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_COS} DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c
          ON c.vec_id >= 10
         AND list_dot_product(CAST(c.embedding AS DOUBLE[]),
                              CAST(c.embedding AS DOUBLE[])) > 0
        WHERE q.vec_id < 10
          AND list_dot_product(CAST(q.embedding AS DOUBLE[]),
                               CAST(q.embedding AS DOUBLE[])) > 0
      ) ranked WHERE rank <= 5
    ),
    pre AS (SELECT vec_id, embedding[1:8] AS embedding FROM embeddings),
    -- zero-norm vectors are EXCLUDED on both sides, mirroring
    -- brute_topk's _drop_zero_norm contract (an undefined cosine must
    -- not rank, let alone rank first): a vector whose 8-dim PREFIX is
    -- all zero is possible even when the full vector is not.
    pre_nn AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_COS} DESC, c.vec_id) AS rank
        FROM pre q JOIN pre c
          ON c.vec_id >= 10
         AND list_dot_product(CAST(c.embedding AS DOUBLE[]),
                              CAST(c.embedding AS DOUBLE[])) > 0
        WHERE q.vec_id < 10
          AND list_dot_product(CAST(q.embedding AS DOUBLE[]),
                               CAST(q.embedding AS DOUBLE[])) > 0
      ) ranked WHERE rank <= 5
    )
    SELECT f.qid,
           CAST(COUNT(p.cid) AS BIGINT) AS n_matched,
           CAST(COUNT(p.cid) AS DOUBLE) / 5.0 AS recall_at_5
    FROM full_nn f
    LEFT JOIN pre_nn p ON p.qid = f.qid AND p.cid = f.cid
    GROUP BY f.qid ORDER BY f.qid
    """,
    tags=("vectors", "ann", "evaluation"),
    doc=(
        "Matryoshka-style dimension-truncation audit: top-5 cosine "
        "recall when searching on only the FIRST 8 of 64 embedding "
        "dimensions versus the full vector - the measurement behind "
        "prefix-dim retrieval (Kusupati et al., NeurIPS 2022), where "
        "a cheap low-dim first pass shortlists candidates for "
        "full-dim rescoring at a fraction of the FLOPs and shuffle "
        "bytes. Reuses q70's bounded brute-force shape (broadcast "
        "query set, corpus scanned once per variant) with F.slice / "
        "list-slice truncation; recall is exact integer overlap "
        "counting on (qid, cid) pairs, ties broken by cid on both "
        "engines."
    ),
)
def t23_prefix_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    full_nn = brute_topk(queries, corpus, k=5).select("qid", "cid")
    pre = emb.select(
        "vec_id", F.slice("embedding", 1, 8).alias("embedding")
    )
    pre_nn = brute_topk(
        pre.filter(F.col("vec_id") < 10),
        pre.filter(F.col("vec_id") >= 10),
        k=5,
    ).select(
        F.col("qid").alias("p_qid"), F.col("cid").alias("p_cid")
    )
    return (
        full_nn.join(
            pre_nn,
            (F.col("p_qid") == F.col("qid"))
            & (F.col("p_cid") == F.col("cid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("p_cid").cast("bigint").alias("n_matched"),
            (F.count("p_cid").cast("double") / 5.0).alias("recall_at_5"),
        )
        .orderBy("qid")
    )


@register(
    "t36_isotropy_audit",
    f"""
    WITH pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid, {_COS} AS cosine
      FROM embeddings q
      JOIN embeddings c
        ON c.vec_id = (q.vec_id * 7 + 13) % (SELECT COUNT(*)
                                             FROM embeddings)
       AND c.vec_id <> q.vec_id
      WHERE q.vec_id % 3 = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(round(cosine, 9) AS DECIMAL(28,12)))
                AS DOUBLE) / COUNT(*) AS mean_cosine,
           CAST(SUM(CAST(round(abs(cosine), 9) AS DECIMAL(28,12)))
                AS DOUBLE) / COUNT(*) AS mean_abs_cosine
    FROM pairs
    """,
    tags=("vectors", "evaluation", "isotropy"),
    doc=(
        "Embedding-space isotropy audit (Ethayarajh 2019): the mean "
        "(and mean absolute) cosine between deterministically-matched "
        "'random' vector pairs - an isotropic space scores near 0, "
        "while anisotropy (all vectors crowding a narrow cone) "
        "inflates every similarity score and silently degrades both "
        "ANN recall and SemDeDup thresholds, so this is the health "
        "check to run BEFORE trusting r70/q74. Pairing is the fixed "
        "affine map (id*7+13) mod N on a 1-in-3 id sample - "
        "reproducible, linear in corpus size, no random() and no "
        "quadratic scan; cosines round to 9 and sum in DECIMAL."
    ),
)
def t36_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    n_row = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    q = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cvec"),
        norm(F.col("embedding")).alias("cn"),
    )
    from ..functions.vectors import dot

    paired = (
        q.crossJoin(F.broadcast(n_row))
        .withColumn(
            "target", (F.col("qid") * 7 + 13) % F.col("n_emb")
        )
        .join(c, F.col("cid") == F.col("target"))
        .filter(F.col("cid") != F.col("qid"))
        .select(
            # try_divide: a zero-norm embedding must yield NULL like
            # DuckDB's `/`, not an ANSI DIVIDE_BY_ZERO abort; NULL
            # cosines drop out of SUM and stay in COUNT identically.
            F.try_divide(
                dot(F.col("qvec"), F.col("cvec")),
                F.col("qn") * F.col("cn"),
            ).alias("cosine")
        )
    )
    dec = "decimal(28,12)"
    return paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        (
            F.sum(F.round(F.col("cosine"), 9).cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_cosine"),
        (
            F.sum(F.round(F.abs(F.col("cosine")), 9).cast(dec)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mean_abs_cosine"),
    )
