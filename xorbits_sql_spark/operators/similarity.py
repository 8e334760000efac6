"""Similarity search over embedding columns.

Three strategies:

* ``brute_topk`` — exact cosine top-k: broadcast the (small) query set
  against the corpus, score with codegen'd array math, take top-k per
  query with a window. The corpus is only scanned once and never
  shuffled — the right baseline even at 100 TB when the query set fits
  in a broadcast.
* ``lsh_topk`` — approximate: bucket corpus and queries by
  sign-bit LSH (functions.vectors.sign_bucket), score only within
  matching buckets. Turns the scan into a hash-join on the bucket key;
  recall traded via ``bits``.
* ``ivf_topk`` — approximate: bucket the corpus by nearest centroid
  (``ivf_assign``; train the centroids with ``kmeans_lloyd``), probe
  each query's ``nprobe`` nearest cells, score only their members.
  Recall/cost traded via (|centroids|, ``nprobe``).

No Python UDFs anywhere — scoring is zip_with/aggregate (JVM).

L2 norms are computed once per VECTOR before the pair join, not once
per PAIR: cosine(a, b) = dot(a, b) / (norm_a * norm_b) with the norms
carried through the join. Spark evaluates higher-order array lambdas
interpretively, so collapsing 3 per-pair dot products to 1 is ~3x on
the pair stage — and the arithmetic is identical FP ops in the same
order, so results stay bit-equal to the per-pair form (and to DuckDB's
``list_dot_product`` oracle).

The reference has no similarity surface (extension per BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.vectors import dot, norm, sign_bucket
from .dedup import _INTEGRAL  # simpleString() names of integral id types
from .dedup import _persist  # shared cached-table registry (dedup.release_caches)


def _side(df: DataFrame, id_col: str, vec: str, id_alias: str, vec_alias: str,
          n_alias: str, bucket_bits: int | None = None) -> DataFrame:
    cols = [
        F.col(id_col).alias(id_alias),
        F.col(vec).alias(vec_alias),
        norm(F.col(vec)).alias(n_alias),
    ]
    if bucket_bits:
        cols.append(sign_bucket(F.col(vec), bucket_bits).alias("bucket"))
    return df.select(*cols)


def _drop_zero_norm(df: DataFrame, n_alias: str) -> DataFrame:
    """Exclude zero-norm vectors BEFORE any pair join: a zero-norm
    vector has no defined cosine, and under ANSI mode (this engine's
    default session) a plain per-pair division would raise
    DIVIDE_BY_ZERO on the first degenerate embedding. Filtering the
    SIDE costs one predicate per vector — the per-pair try_divide +
    NULL-filter alternative was measured 1.5x slower on t04's brute
    pair set — and afterwards ``_pair_cosine``'s divisor is provably
    positive."""
    return df.filter(F.col(n_alias) > 0)


def _pair_cosine() -> F.Column:
    """Cosine of a (qvec, cvec) pair; NULL when either norm is zero.

    ``try_divide`` instead of ``/`` keeps generic call sites
    (embedding_dup_pairs, semdedup's threshold filter) ANSI-safe on
    degenerate embeddings; the hot top-k paths pre-filter zero-norm
    SIDES via ``_drop_zero_norm`` so the guard never fires there."""
    return F.try_divide(
        dot(F.col("qvec"), F.col("cvec")), F.col("qn") * F.col("cn")
    )


def brute_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    qid: str = "vec_id",
    cid: str = "vec_id",
    vec: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k per query. Returns (qid, cid, cosine, rank).

    ``exclude_self`` drops qid == cid pairs before ranking (for
    leave-one-out evaluation over a corpus that contains the queries).
    """
    q = _drop_zero_norm(_side(queries, qid, vec, "qid", "qvec", "qn"), "qn")
    c = _drop_zero_norm(_side(corpus, cid, vec, "cid", "cvec", "cn"), "cn")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .select("qid", "cid", _pair_cosine().alias("cosine"))
    )
    if exclude_self:
        scored = scored.filter(F.col("qid") != F.col("cid"))
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    bits: int = 4,
    qid: str = "vec_id",
    cid: str = "vec_id",
    vec: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share the sign-bit LSH bucket.

    Returns (qid, cid, cosine, rank) — rank within the bucket's
    candidates. Recall < 1; raise ``bits``→smaller buckets/faster,
    lower ``bits``→better recall, ``bits=0``→full scan (recall 1:
    delegates to :func:`brute_topk`, mirroring embedding_dup_pairs'
    bits=0 contract — previously an unresolved-column crash).
    ``exclude_self`` drops qid == cid candidates before ranking (for
    corpus ⊇ queries self-search).
    """
    if bits <= 0:
        return brute_topk(
            queries, corpus, k=k, qid=qid, cid=cid, vec=vec, exclude_self=exclude_self
        )
    q = _drop_zero_norm(_side(queries, qid, vec, "qid", "qvec", "qn", bits), "qn")
    c = _drop_zero_norm(_side(corpus, cid, vec, "cid", "cvec", "cn", bits), "cn")
    scored = q.join(c, "bucket")
    if exclude_self:
        scored = scored.filter(F.col("qid") != F.col("cid"))
    scored = scored.select("qid", "cid", _pair_cosine().alias("cosine"))
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    cid: str = "vec_id",
    vec: str = "embedding",
    cell_id: str = "cell",
    cell_vec: str = "cvec",
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid (max cosine).

    ``centroids`` is a small (cell_id, vector) table, broadcast; scoring
    every vector against every centroid is a map-side nested-loop with
    no corpus shuffle, and the argmax is a groupBy on the corpus id —
    partial aggregation collapses the |centroids| candidate rows per
    vector before the exchange, so the shuffle carries one row per
    vector. Ties break toward the smallest cell id.
    Returns (cid, cvec, cn, cell).
    """
    c = _side(corpus, cid, vec, "cid", "cvec", "cn")
    scored = _score_cells(c, centroids, cell_id, cell_vec, "cvec", "cn", ("cid", "cvec", "cn"))
    return scored.groupBy("cid").agg(
        F.max_by("cell", F.struct(F.col("score"), -F.col("cell"))).alias("cell"),
        F.first("cvec").alias("cvec"),
        F.first("cn").alias("cn"),
    )


def _score_cells(
    side: DataFrame,
    centroids: DataFrame,
    cell_id: str,
    cell_vec: str,
    vec: str,
    n: str,
    keep: tuple[str, ...],
    score: str = "score",
) -> DataFrame:
    """Every row of ``side`` against the broadcast centroid table:
    ``keep``, ``cell`` and the cosine of ``vec`` (norm ``n``) to the
    cell as ``score``. A map-side nested loop with no shuffle of
    ``side``; each caller aggregates the candidates its own way.
    try_divide: a zero-norm vector or centroid scores NULL (sorts last
    under desc) instead of raising DIVIDE_BY_ZERO under ANSI."""
    cents = centroids.select(
        F.col(cell_id).alias("cell"),
        F.col(cell_vec).alias("kvec"),
        norm(F.col(cell_vec)).alias("kn"),
    )
    cosine = F.try_divide(dot(F.col(vec), F.col("kvec")), F.col(n) * F.col("kn"))
    return side.crossJoin(F.broadcast(cents)).select(*keep, "cell", cosine.alias(score))


def _probe_cells(
    q: DataFrame, centroids: DataFrame, nprobe: int, cell_id: str, cell_vec: str
) -> DataFrame:
    """Pick each query's ``nprobe`` nearest cells against the broadcast
    centroid table; NULL probe scores (zero-norm query or centroid)
    sort last, so such a cell is never probed."""
    wprobe = W.partitionBy("qid").orderBy(F.desc("probe_score"), F.asc("cell"))
    keep = ("qid", "qvec", "qn")
    return (
        _score_cells(q, centroids, cell_id, cell_vec, "qvec", "qn", keep, "probe_score")
        .withColumn("probe_rank", F.row_number().over(wprobe))
        .filter(F.col("probe_rank") <= nprobe)
        .select(*keep, "cell")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    qid: str = "vec_id",
    cid: str = "vec_id",
    vec: str = "embedding",
    cell_id: str = "cell",
    cell_vec: str = "cvec",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search.

    Index: :func:`ivf_assign` buckets the corpus by nearest centroid —
    at scale this is the table you'd persist partitioned by ``cell`` so
    probes touch only matching partitions. Probe: each query scores the
    broadcast centroid table, takes its ``nprobe`` closest cells, and
    only candidates in those cells are scored exactly. Recall/cost is
    tuned by (|centroids|, nprobe). Returns (qid, cid, cosine, rank).
    """
    cells = ivf_assign(corpus, centroids, cid=cid, vec=vec, cell_id=cell_id, cell_vec=cell_vec)
    q = _side(queries, qid, vec, "qid", "qvec", "qn")
    probes = _probe_cells(q, centroids, nprobe, cell_id, cell_vec)
    scored = probes.join(cells, "cell")
    if exclude_self:
        scored = scored.filter(F.col("qid") != F.col("cid"))
    scored = scored.select("qid", "cid", _pair_cosine().alias("cosine"))
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec: str = "embedding",
    bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets.

    Exact within buckets; pairs whose cosine exceeds ``threshold``.
    Sign-LSH buckets can miss boundary pairs (vectors straddling a
    hyperplane); for guaranteed recall run with bits=0 (full scan).
    Returns (id_a, id_b, cosine).
    """
    a = _side(df, id_col, vec, "id_a", "qvec", "qn", bits or None)
    b = _side(df, id_col, vec, "id_b", "cvec", "cn", bits or None)
    joined = a.join(b, "bucket") if bits else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _pair_cosine().alias("cosine"))
        .filter(F.col("cosine") > threshold)
    )


def centroid_update(assigned: DataFrame, vec_col: str = "cvec") -> DataFrame:
    """Element-wise decimal-exact mean direction per cell: (cell, cvec).

    posexplode the member vectors to (cell, pos, val) rows, sum each
    dimension in DECIMAL (order-independent — identical on any cluster
    size and bit-equal to DuckDB), then reassemble the centroid array
    ordered by position. Values are ``round(val, 12)``-ed BEFORE the
    decimal cast: a float32 that is an exact 13-digit binary fraction
    (e.g. 0.1983642578125) ties at the cast's rounding digit, and
    Spark (HALF_UP) and DuckDB (HALF_EVEN) break that tie differently;
    ``round`` itself agrees in both engines (away from zero) and its
    output can never re-tie. Two aggregations, both keyed on (cell[, pos]) —
    fully parallel with map-side partial sums; nothing here is collected
    to the driver (kmeans_lloyd's driver tier sums the same decimals
    there, for corpora small enough to collect). The un-normalized
    dimension sums are used directly: cosine assignment only reads the
    centroid *direction*, so skipping the division by member count
    changes nothing and keeps the values exactly representable.
    """
    ex = assigned.select(
        "cell", F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias("pos", "val")
    )
    dims = ex.groupBy("cell", "pos").agg(
        F.sum(F.round(F.col("val"), 12).cast("decimal(28,12)")).cast("double").alias("v")
    )
    return dims.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
        ).alias("cvec")
    )


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Spherical k-means by Lloyd iterations.

    Deterministic seeding (the ``k`` lowest-id vectors are the initial
    centroids — reproducible across engines, unlike random init), then
    ``n_iter`` rounds of: assign every vector to its max-cosine centroid
    (ties to the smallest cell) and rebuild centroids with
    :func:`centroid_update`'s decimal-exact sums. A fixed iteration
    count instead of a convergence test keeps the whole computation a
    pure dataflow that an oracle can replay; callers wanting
    convergence can loop externally on the centroid delta. Returns the
    final (cell, cvec) table — exactly the centroid input
    :func:`ivf_topk` expects, so this is the missing "train the IVF
    index" step. Empty cells drop out (standard Lloyd behavior).

    Two tiers, bit-identical output (the connected_components
    size-gate contract, as MLlib's KMeans keeps its centers on the
    driver):

    - driver (``_kmeans_driver``): one bounded Arrow collect of at most
      ``_KMEANS_DRIVER_ROWS + 1`` corpus rows decides it. It runs when
      the corpus has at most ``_KMEANS_DRIVER_ROWS`` vectors and
      ``_KMEANS_DRIVER_ELEMENTS`` elements, integral unique non-NULL
      ids, non-NULL vectors of one length, and every value fits the
      decimal sums; a round whose scores are not all finite (a
      zero-norm vector or centroid) falls back as well. r72's 500
      vectors train in 1 construction job here, against 11 in the
      distributed loop.
    - distributed: per round one broadcast nested-loop scoring with no
      corpus shuffle (see :func:`ivf_assign`) plus two hash
      aggregations (:func:`centroid_update`). It is the uncapped scale
      path and the reference the equivalence tests hold the driver
      tier to.

    Each iteration's centroid table (k rows) is localCheckpoint'ed:
    without materialization, every downstream consumption — and
    ivf_topk consumes the centroids three times (cell assignment + two
    probe-side reads) — re-executes the whole training chain, turning
    n_iter scans into 3*n_iter (measured 4.1s -> 1.5s on the r73 bench
    entry when this was a persist). The checkpoint additionally
    truncates the logical plan, so Catalyst stops re-analyzing the
    nested Lloyd chain per consumer (round-11 profile: ~2 s of
    driver-side planning gaps removed); blocks are freed by the
    ContextCleaner, no release bookkeeping needed.
    """
    # the k lowest-id vectors, as documented — NOT filter(id < k),
    # which assumes a 0-based contiguous id space and silently seeds
    # fewer (or zero) centroids when ids start elsewhere. TakeOrdered
    # at k rows; identical output on 0-based contiguous ids.
    cents = corpus.orderBy(id_col).limit(k).select(
        F.col(id_col).cast("bigint").alias("cell"),
        F.transform(F.col(vec), lambda x: x.cast("double")).alias("cvec"),
    )
    id_type = corpus.schema[id_col].dataType.simpleString()
    if n_iter > 0 and k > 0 and id_type in _INTEGRAL:
        trained = _kmeans_driver(corpus, k, n_iter, id_col, vec)
        if trained is not None:
            return trained
    # The only per-round shuffle is centroid_update's groupBy(cell) —
    # map-side partial aggregation reduces it to at most k wide
    # (sum-vector, count) rows per map task — so size the loop's
    # shuffles from k, not the session constant (guide §2 via
    # loop_shuffle_partitions; 10k wide centroid rows per partition:
    # k=8 runs each round as one reduce task instead of dozens of
    # near-empty ones, a paper-scale k≈sqrt(10^10) still fans out).
    # Rounds execute eagerly (localCheckpoint), so the scope covers
    # every iteration and the returned table is already materialized.
    from .dedup import loop_shuffle_partitions

    with loop_shuffle_partitions(corpus.sparkSession, k, 10_000):
        for _ in range(n_iter):
            assigned = ivf_assign(corpus, cents, cid=id_col, vec=vec)
            # localCheckpoint (eager), not persist: the centroid table
            # is k short rows, but a persist leaves the LOGICAL plan
            # one full Lloyd iteration deeper per round, and every
            # downstream consumer (ivf_topk reads the centroids three
            # times) makes Catalyst re-analyze the whole nested chain —
            # measured ~2 s of driver-side planning gaps on the
            # r72/r73 bench entries at sf0.1 (round-11 profile; guide
            # §7.3 / §3.3: truncate large plans). The checkpoint
            # materializes the same one execution per iteration the
            # persist did; blocks are freed by the ContextCleaner when
            # the previous iteration goes out of scope.
            cents = centroid_update(assigned).localCheckpoint()
    return cents


# kmeans_lloyd's driver-tier bounds: corpus vectors, and vector
# elements in all (2^21 doubles are 16 MB).
_KMEANS_DRIVER_ROWS = 16_384
_KMEANS_DRIVER_ELEMENTS = 2**21


def _kmeans_collect(corpus: DataFrame, id_col: str, vec: str):
    """The driver tier's gate: ``(ids, vectors, unscaled)`` as numpy
    arrays, or None when the corpus is not driver-sized.

    One Arrow collect of at most ``_KMEANS_DRIVER_ROWS + 1`` rows, each
    holding the id, the vector cast to double, and the values
    :func:`centroid_update` sums — Spark's own ``round(x, 12)`` cast to
    ``decimal(28,12)`` — as exact unscaled integers. ``try_cast`` makes
    a value that does not fit (a NaN, an infinity, an overflow) a NULL
    here, so such a corpus falls back to the distributed tier instead
    of failing the job. So that the collect stays bounded, a row
    longer than ``_KMEANS_DRIVER_ELEMENTS / _KMEANS_DRIVER_ROWS``
    elements brings only its length the first time; the arrays are
    fetched in a second collect once the whole corpus is known to be
    within bounds.
    """
    import numpy as np

    v = F.col(vec)
    unscaled = F.transform(
        v,
        lambda x: (
            F.round(x.cast("double"), 12).try_cast("decimal(28,12)") * F.lit(10**12)
        ).try_cast("bigint"),
    )
    short = _KMEANS_DRIVER_ELEMENTS // _KMEANS_DRIVER_ROWS
    for keep in (F.size(v) <= short, F.lit(True)):
        pdf = (
            corpus.select(
                F.col(id_col).cast("bigint").alias("id"),
                F.size(v).alias("dim"),
                F.when(keep, F.transform(v, lambda x: x.cast("double"))).alias("v"),
                F.when(keep, unscaled).alias("q"),
            )
            .limit(_KMEANS_DRIVER_ROWS + 1)
            .toPandas()
        )
        n = len(pdf)
        if not 0 < n <= _KMEANS_DRIVER_ROWS:
            return None
        ids, dims = pdf["id"], pdf["dim"]
        if ids.isna().any() or not ids.is_unique or dims.isna().any():
            return None
        dim = int(dims.iloc[0])
        if dim < 1 or (dims != dim).any() or n * dim > _KMEANS_DRIVER_ELEMENTS:
            return None
        if dim <= short:
            break
    q = np.stack(pdf["q"].to_list())
    if q.dtype.kind != "i":  # a NULL value: not a finite, decimal-sized number
        return None
    vecs = np.stack(pdf["v"].to_list()).astype(np.float64)
    return ids.to_numpy(np.int64), vecs, q.astype(np.int64)


def _kmeans_driver(
    corpus: DataFrame, k: int, n_iter: int, id_col: str, vec: str
) -> DataFrame | None:
    """``kmeans_lloyd``'s rounds in numpy over ``_kmeans_collect``'s
    arrays, bit-identical to the distributed tier; None sends the
    caller to that tier.

    - Dot products accumulate sequentially over the dimensions, one
      elementwise numpy op per dimension — the order of Spark's
      ``aggregate(zip_with(...))`` (never ``@``/``np.dot``, whose
      blocked summation differs in the last bit). A score is
      ``dot / (|v| * |c|)``; ``try_divide``'s NULL on a zero divisor,
      or any non-finite score, returns None.
    - The argmax takes the first maximum over cells in ascending id
      order, i.e. ties go to the smallest cell, as ``max_by`` over
      ``(score, -cell)`` does.
    - Centroid sums are exact integer sums of the unscaled decimals, so
      member order does not matter; empty cells drop out. The
      ``decimal(38,12) -> double`` cast of each sum runs in Spark
      (``_decimals_to_doubles``), since it is ``BigDecimal.doubleValue``
      of the JDK the session runs on.
    """
    import numpy as np
    import pandas as pd

    got = _kmeans_collect(corpus, id_col, vec)
    if got is None:
        return None
    ids, vecs, unscaled = got
    n, dim = vecs.shape
    if np.abs(unscaled).max() > (2**63 - 1) // n:
        unscaled = unscaled.astype(object)  # sums could leave int64

    def norms(a):
        acc = np.zeros(len(a))
        for j in range(dim):
            acc += a[:, j] * a[:, j]
        return np.sqrt(acc)

    seed = np.argsort(ids)[:k]
    cells, cents = ids[seed], vecs[seed]
    vn = norms(vecs)
    spark = corpus.sparkSession
    for _ in range(n_iter):
        kn = norms(cents)
        cell_of = np.empty(n, np.int64)
        step = max(1, 2**20 // len(cells))  # bounds the score block
        for lo in range(0, n, step):
            hi = min(n, lo + step)
            den = vn[lo:hi, None] * kn
            if not den.all():
                return None
            dots = np.zeros((hi - lo, len(cells)))
            for j in range(dim):
                dots += vecs[lo:hi, j, None] * cents[:, j]
            score = dots / den
            if not np.isfinite(score).all():
                return None
            cell_of[lo:hi] = score.argmax(axis=1)
        used, member = np.unique(cell_of, return_inverse=True)
        sums = np.zeros((len(used), dim), unscaled.dtype)
        np.add.at(sums, member, unscaled)
        cells, cents = cells[used], _decimals_to_doubles(spark, sums)
    return spark.createDataFrame(
        pd.DataFrame({"cell": cells, "cvec": cents.tolist()}),
        schema="cell bigint, cvec array<double>",
    )


def _decimals_to_doubles(spark, unscaled):
    """Spark's ``decimal(38,12) -> double`` cast of each unscaled
    integer (a 2-D array; returns the same shape in float64).

    The query is a projection over literal-only VALUES, one row per
    centroid holding its sums as one comma-joined string, so Spark
    folds it on the driver and runs no job.
    """
    import numpy as np

    def literal(u: int) -> str:
        sign, u = ("-" if u < 0 else ""), abs(int(u))
        return f"{sign}{u // 10**12}.{u % 10**12:012d}"

    rows = ", ".join(
        "('" + ",".join(literal(u) for u in row) + "')" for row in unscaled
    )
    got = spark.sql(
        "SELECT transform(split(col1, ','), "
        "x -> CAST(CAST(x AS DECIMAL(38, 12)) AS DOUBLE)) FROM VALUES " + rows
    ).collect()
    return np.array([r[0] for r in got], dtype=np.float64)


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023).

    Cluster the corpus by nearest centroid (k-means cells — train with
    :func:`kmeans_lloyd`), then compare vectors only WITHIN a cell and
    drop every vector that has a lower-id neighbor with cosine above
    ``threshold``. The kept set is the deterministic greedy
    representative choice (lowest id wins), matching the paper's
    keep-one-per-duplicate-group intent without an iterative component.

    Scale shape: one broadcast argmax assignment (map-only, no corpus
    shuffle — :func:`ivf_assign`), one self-join shuffled on the cell
    key, one anti-join on the id. The pair stage is quadratic in cell
    size, so size ``k`` so cells stay bounded (the paper uses
    k ≈ sqrt(n) or larger; hot cells can additionally be split with the
    salting pattern in operators/skew.py).

    Returns one decision row per corpus vector: (``id_col``, cell,
    kept) — callers keep ``kept`` rows or join back for the survivors.
    """
    # Deliberately NOT persisted although three branches consume it
    # (both self-join sides + the decision join): the assignment is a
    # map-only broadcast argmax — recomputing it is one codegen'd scan,
    # while caching materializes the wide (cvec, qvec) array columns.
    # Measured (round-11 ABBA at sf0.1): persisting made r70 1.5x
    # SLOWER (1.45 s -> 2.17 s). The §5 persist rule applies to
    # expensive-to-recompute subtrees, not map-only scans.
    cells = ivf_assign(corpus, centroids, cid=id_col, vec=vec)
    a = cells.select(
        "cell", F.col("cid").alias("id_a"), F.col("cvec").alias("qvec"), F.col("cn").alias("qn")
    )
    b = cells.select("cell", F.col("cid").alias("id_b"), "cvec", "cn")
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_pair_cosine() > threshold)
        .select(F.col("id_b").alias("cid"))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("kept", F.lit(False)), "cid", "left_outer")
        .select(
            F.col("cid").alias(id_col),
            "cell",
            F.coalesce(F.col("kept"), F.lit(True)).alias("kept"),
        )
    )


def assign_with_score(
    corpus: DataFrame,
    centroids: DataFrame,
    cid: str = "vec_id",
    vec: str = "embedding",
    cell_id: str = "cell",
    cell_vec: str = "cvec",
) -> DataFrame:
    """Nearest-centroid assignment keeping the winning cosine:
    (cid, cell, score). Same broadcast/argmax plan as :func:`ivf_assign`
    (ties to the smallest cell), one shuffle of one row per vector.
    ``cell_id``/``cell_vec`` name the centroid table's columns, like
    ivf_assign (previously hardcoded; round-7 review)."""
    c = _side(corpus, cid, vec, "cid", "cvec", "cn")
    scored = _score_cells(c, centroids, cell_id, cell_vec, "cvec", "cn", ("cid",))
    best = F.max(F.struct(F.col("score"), (-F.col("cell")).alias("neg_cell")))
    return scored.groupBy("cid").agg(best.alias("b")).select(
        "cid", (-F.col("b.neg_cell")).cast("bigint").alias("cell"), F.col("b.score").alias("score")
    )
