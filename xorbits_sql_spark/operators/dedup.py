"""Deduplication operators for document-scale pipelines.

Five families, all shuffle-conscious:

* exact       — md5-fingerprint groupBy (one shuffle on a short key).
* minhash-LSH — word-shingle MinHash signatures + banded bucket join;
                candidate generation never compares all pairs.
* simhash     — 64-bit near-dup hash from token hashes (Hamming buckets).
* n-gram Jaccard — inverted-index join on shingles for exact Jaccard on
                candidate pairs (bounded by shared-shingle candidates).
* embedding   — cosine near-dup via operators.similarity buckets.

MinHash trick worth noting: each hash function is
``min(md5(shingle || '#' || seed))`` — the *string* minimum of salted
md5 hexes. md5 is identical in every engine, string min is total-order
deterministic, so signatures (and therefore candidate sets) are
reproducible across Spark, DuckDB, or anything else — no
engine-specific ``hash()`` in the pipeline contract. At 100 TB that
also means signatures computed incrementally by different systems
still agree.

The reference engine has no dedup surface at all (its DISTINCT is a
drop_duplicates — reference executor.py:360-362); these operators are
the pipeline-extension surface from BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window as W

from ..errors import PairBudgetExceededError
from ..functions.text import fingerprint, norm_ws

# Intermediate signature/index tables persisted by the pair generators.
# They must stay cached while the (lazy) result DataFrames are being
# materialized; callers that run many dedup passes in one long-lived
# session should call release_caches() between passes.
_LIVE_CACHES: list[DataFrame] = []


# simpleString() names of the integral id types the graph operators
# accept: ByteType -> 'tinyint', ShortType -> 'smallint' (never
# 'byte'/'short'/'integer'/'long' — four of the old allowlist entries
# were dead strings that rejected valid integral ids, round-7 review)
_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _LIVE_CACHES.append(df)
    return df


def _observed(df: DataFrame, metrics: dict[str, Column]):
    from pyspark.sql import Observation

    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")]
    aggs += [c.alias(name) for name, c in metrics.items()]
    return df.observe(obs, *aggs), obs


def _observed_checkpoint(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``df.localCheckpoint()`` plus its row count, read from the SAME job.

    The size gates of the driver tiers (connected_components,
    kcore_peel_counts, graph.pagerank) need the exact row count of the
    set they just materialized; a separate ``count()`` on the
    checkpoint is one more scheduler round trip for a number the
    checkpoint job already saw. An ``Observation`` carries it out of
    that job instead. ``metrics`` are extra aggregate columns observed
    alongside (keyed by name); the returned dict always holds
    ``"rows"``.
    """
    observed, obs = _observed(df, metrics)
    return observed.localCheckpoint(), obs.get


def _observed_persist(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``_persist(df)``, materialized now, plus its row count and
    ``metrics`` (as in :func:`_observed_checkpoint`), read from the job
    that fills the cache.

    The pair generators gate their driver tiers on the per-document
    table they build before the pair join (``minhash_lsh_pairs``,
    ``_shingle_pair_stats``, ``simhash_pairs``). That table stays a
    cached one rather than a checkpoint: above the gates it is the
    inverted index the distributed join reads, which keeps its lineage
    for recovery and stays covered by :func:`release_caches`. One
    noop-sink write fills the cache; the ``Observation`` fires through
    the cached plan.
    """
    observed, obs = _observed(df, metrics)
    cached = _persist(observed)
    _fill(cached)
    return cached, obs.get


def _fill(df: DataFrame) -> None:
    """Fill a persisted DataFrame's cache with one noop-sink write: the
    cache job plus one scan of it, where ``count()`` adds an
    aggregation exchange and its job."""
    df.write.format("noop").mode("overwrite").save()


# The one size bound of the driver tiers, read at call time so that
# patching it moves every tier: connected_components and
# graph.kcore_peel_counts / graph.pagerank run edge lists of at most
# this many rows on the driver (~4 MB of two-bigint rows), and the pair
# generators (minhash_lsh_pairs, ngram_jaccard_pairs /
# ngram_containment_pairs, simhash_pairs) pair a per-document table of
# at most this many rows there when its pair volume is within it too.
# Each driver tier gives its distributed tier's result.
_DRIVER_ROWS = 250_000
# Edge count from which connected_components contracts stars instead of
# propagating labels.
_CC_STARS_EDGES = 1_000_000


def _driver_sized(table: DataFrame, seen: dict, rows: int) -> bool:
    """The driver-tier gate shared by the pair generators: ``rows``
    collected rows within the bound, and an integral ``doc`` id that
    ``seen["nulls"]`` (observed on ``table``) shows is never NULL."""
    return (
        rows <= _DRIVER_ROWS
        and seen["nulls"] == 0
        and table.schema["doc"].dataType.simpleString() in _INTEGRAL
    )


def _null_ids() -> Column:
    return F.count_if(F.col("doc").isNull())


def _pairs_frame(spark, id_type, ids: dict, counts: dict) -> DataFrame:
    """A driver tier's pairs as one Spark DataFrame: ``ids`` and
    ``counts`` map output names to int64 arrays; the ids keep the
    caller's id type, the counts are bigint."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    columns = {**ids, **counts}
    schema = StructType(
        [StructField(n, id_type if n in ids else LongType()) for n in columns]
    )
    pdf = pd.DataFrame({n: np.asarray(v, dtype=np.int64) for n, v in columns.items()})
    return spark.createDataFrame(pdf, schema=schema)


def _bucket_pair_volume(bn, cap: int):
    """Σ over buckets of bn·(bn-1)/2, or bn-1 for a bucket over ``cap``
    (its star pairs), as the distributed pre-flights' double sum; exact
    while below 2^53."""
    import numpy as np

    bn = np.asarray(bn, dtype=np.int64)
    return float(np.where(bn <= cap, bn * (bn - 1) / 2.0, bn - 1.0).sum())


from contextlib import contextmanager


@contextmanager
def loop_shuffle_partitions(
    spark, n_rows: int, rows_per_partition: int = 2_000_000
):
    """Scale-adaptive shuffle-partition scope for iterative loops.

    Guide §2: derive partitioning from input size instead of a session
    constant. Per-round shuffles in an iterative operator (CC label
    propagation, BPE pair counting, Lloyd centroid updates, PageRank
    contributions) move at most ~``n_rows`` short rows, yet inherit the
    session's shuffle-partition count — and AQE's default
    parallelismFirst coalescing never goes below defaultParallelism, so
    a kilobyte-scale round still runs as dozens of near-empty tasks
    across several scheduler barriers, every round. This scope sizes
    the loop's shuffles at ``rows_per_partition`` rows per partition,
    floored at 1 and capped at the session setting (a production
    session that raised shuffle.partitions for a 10^10-row loop keeps
    its own ceiling), and restores the session value on exit — the
    same scoped-conf pattern as streaming's run_to_memory
    state_partitions. Safe only around loops that EXECUTE their rounds
    eagerly (checkpoint/collect per round); lazily-returned frames plan
    under the restored session conf.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n = max(1, min(int(prev), -(-int(n_rows) // int(rows_per_partition))))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def release_caches() -> int:
    """Unpersist all intermediate tables cached by the pair generators.

    Returns the number of tables released. Safe to call at any time;
    results computed *after* this call simply recompute their inputs.
    """
    n = 0
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()
        n += 1
    return n


def build_concurrently(*builders):
    """Build independent DataFrame pipelines in overlapping driver
    threads and materialize each result's cache (guide §2.6).

    The pair generators run submit-time jobs (the signature or
    inverted-index build, the budget estimate, the driver tier's
    collect) while the pipeline is being *constructed*, so two
    independent detectors built back to back
    serialize completely: detector B's signature build waits for every
    job of detector A even though the cluster is idle in A's stage
    tails. Spark's scheduler happily runs jobs from several driver
    threads at once (FIFO back-fill), so constructing each pipeline in
    its own thread — and filling its persisted result's cache
    (:func:`_fill`) before returning — lets B's scan/signature stages fill
    the cores A's barriers leave idle. Same jobs, same results (each
    pipeline is deterministic and caching order is content-neutral);
    only the idle gaps between them are removed.

    Each ``builder`` is a zero-arg callable returning a (persisted)
    DataFrame. Results come back in builder order. Threads are
    ``pyspark.InheritableThread``-equivalent (``inheritable_thread_
    target``) so the caller's job group / description — the bench and
    driver cancellation scope — covers the child jobs. Builders must
    not mutate session-level conf (the generators don't; iterative
    loops using :func:`loop_shuffle_partitions` are NOT safe here).
    """
    def run(b):
        df = b()
        _fill(df)  # materialize the cache inside this thread's jobs
        return df

    return _in_threads([lambda b=b: run(b) for b in builders])


def construct_concurrently(*builders):
    """Like :func:`build_concurrently` but stops after construction:
    the builders' submit-time pre-flight jobs overlap, the returned
    DataFrames' caches are NOT materialized. Use when something must
    happen between the pre-flights and the heavy tiers (e.g. the
    t15 → u14 density advisory, which must fire before the pair join
    runs, not after); follow with :func:`materialize_concurrently`.
    """
    return _in_threads(list(builders))


def materialize_concurrently(*dfs: DataFrame) -> None:
    """Force each (persisted) DataFrame's cache in overlapping driver
    threads — the materialization half of :func:`build_concurrently`."""
    _in_threads([lambda d=d: _fill(d) for d in dfs])


def _in_threads(fns):
    if len(fns) == 1:
        return [fns[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    # Passing the session makes inheritable_thread_target also carry
    # session tags (Spark 4 signature); without it every call warns.
    # With pinned-thread mode off it hands its argument back verbatim —
    # the session, not a decorator — so wrap the callables directly.
    session = SparkSession.getActiveSession()
    wrap = (
        inheritable_thread_target(session)
        if session is not None
        else inheritable_thread_target
    )
    if not callable(wrap):
        wrap = inheritable_thread_target
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [pool.submit(wrap(f)) for f in fns]
        return [f.result() for f in futs]


def shingles_relational(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    distinct: bool = False,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(doc, shingle) rows of k-word shingles, built relationally.

    posexplode the words (narrow), then assemble shingles with
    ``lead()`` windows per document. Unlike the array-expression form
    (functions.text.word_shingles), every operator here participates in
    whole-stage codegen — Spark evaluates higher-order array lambdas
    interpretively, which measured ~5x slower per row. The window
    shuffle partitions by document id, and the downstream per-doc
    aggregations reuse that partitioning (no second shuffle).
    """
    carry = carry_cols or []
    words = F.split(norm_ws(F.col(text_col)), " ")
    ex = df.select(
        F.col(id_col).alias("doc"), *carry, F.posexplode(words).alias("pos", "w")
    )
    if k <= 1:
        # 1-shingles are just the words — no lead() window needed.
        out = ex.filter(F.length("w") > 0).select(
            "doc", *carry, F.col("w").alias("shingle")
        )
        return out.dropDuplicates(["doc", "shingle"]) if distinct else out
    w = W.partitionBy("doc").orderBy("pos")
    leads = [F.lead("w", j).over(w) for j in range(1, k)]
    out = (
        ex.select(
            "doc",
            *carry,
            F.concat_ws(" ", F.col("w"), *leads).alias("shingle"),
            leads[-1].alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .drop("__last")
    )
    return out.dropDuplicates(["doc", "shingle"]) if distinct else out


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group rows by canonical text fingerprint.

    Returns (fingerprint, keeper=min id, n_copies). One hash-shuffle on
    the 32-char fingerprint — the canonical 100 TB exact-dedup plan
    (map-side partial aggregation keeps the shuffle tiny when dup rate
    is low).
    """
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per canonical text; preserves all columns."""
    keepers = exact_dedup_groups(df, text_col, id_col).select(F.col("keeper").alias(id_col))
    return df.join(keepers, id_col, "left_semi")


def boilerplate_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """Per-document boilerplate n-gram coverage (C4/RefinedWeb-style).

    A k-gram is *boilerplate* when it appears in >= ``min_docs`` distinct
    documents (navigation chrome, license headers, templated passages).
    Returns one row per input document: (id, n_grams, n_boiler) where
    ``n_boiler`` counts gram *instances* whose gram is boilerplate —
    callers derive a coverage ratio and a drop threshold.

    Scale shape: one explode to (doc, gram) instances, a gram-keyed
    aggregation for document frequency (map-side partial DISTINCT-ish
    combine keeps the exchange small), then a gram-keyed join back and a
    doc-keyed count. Every stage is keyed — nothing is collected, no
    all-pairs anywhere. The boilerplate set is NOT broadcast-hinted: its
    size is corpus-dependent (bounded by total_grams/min_docs, not by a
    constant), so the shuffle join is the safe default and AQE converts
    it to broadcast when it measures small. The gram-instance table is
    persisted because both the frequency pass and the join-back consume
    it; callers release via :func:`release_caches`.
    """
    grams = _persist(shingles_relational(df, text_col, id_col, k=k))
    boiler = (
        grams.groupBy("shingle")
        .agg(F.countDistinct("doc").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_docs)
        .select("shingle", F.lit(1).alias("__boiler"))
    )
    per_doc = (
        grams.join(boiler, "shingle", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__boiler").alias("n_boiler"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).cast("bigint").alias("n_boiler"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seeds: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signature of ``seeds`` hashes is cut into bands of ``band_size``;
    documents sharing any full band collide. The plan is
    explode(bands) → shuffle on band key → per-bucket self-join —
    candidate generation cost is driven by bucket sizes, never |docs|^2.
    Returns distinct (id_a, id_b) with id_a < id_b.

    ``max_bucket`` guards against degenerate buckets (e.g. millions of
    empty/boilerplate docs sharing one band signature would otherwise go
    quadratic): buckets larger than the cap emit *star* pairs — every
    member paired with the bucket's min doc id — which is O(n) per
    bucket and, for downstream connected-components clustering, links
    the same duplicate cluster a full clique would. The default never
    triggers at test scale; at 100 TB it bounds worst-case pair counts.

    Two tiers, identical output. One job fills the signature cache and
    observes its row count and NULL ids. At most
    ``_DRIVER_ROWS`` (doc, band_key) rows under an integral,
    never-NULL id are collected once — Spark builds the band keys —
    and when their pair volume (the estimate below) is at most
    ``_DRIVER_ROWS``, the buckets are paired on the driver
    (``_band_pairs_driver``). Anything else runs the distributed
    ``_capped_pair_join`` over the same cache: the scale path, and the
    reference the equivalence tests hold the driver tier to.
    """
    sigs, seen = _observed_persist(
        _minhash_signatures(df, text_col, id_col, seeds, band_size, shingle_k),
        nulls=_null_ids(),
    )
    banded = _band_rows(sigs, seeds, band_size)
    if _driver_sized(sigs, seen, seen["rows"] * (seeds // band_size)):
        pairs = _band_pairs_driver(banded, max_bucket)
        if pairs is not None:
            return pairs
    return _capped_pair_join(banded, "band_key", max_bucket)


def minhash_band_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seeds: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc, band_key) membership rows — the persistable LSH dedup index.

    This is the table a 100 TB pipeline writes once per corpus snapshot
    and joins every new ingest batch against (see
    :func:`incremental_dedup_decisions`). md5-portable hashes make the
    index engine-agnostic: a DuckDB/Trino job reproduces identical band
    keys from the same text.
    """
    # Downstream self-joins would otherwise plan the whole shingle +
    # min-agg pipeline once per side; the signature table is one short
    # row per doc, so cache it and compute the signatures exactly once.
    # Measured at sf0.1: 1.8s -> 0.5s.
    sigs = _persist(
        _minhash_signatures(df, text_col, id_col, seeds, band_size, shingle_k)
    )
    return _band_rows(sigs, seeds, band_size)


def _minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seeds: int,
    band_size: int,
    shingle_k: int,
) -> DataFrame:
    """(doc, h0 … h{seeds-1}): one row per document with a shingle."""
    # Relational plan: shingle rows once (codegen'd — see
    # shingles_relational), then the per-seed minima are ordinary
    # aggregates reusing the same doc partitioning. A single giant nested
    # array expression here fell back to interpreted evaluation and was
    # ~25x slower at sf0.1.
    if seeds % band_size:
        raise ValueError(
            f"seeds ({seeds}) must be divisible by band_size ({band_size}): "
            f"the trailing {seeds % band_size} hash(es) would be computed "
            "but never banded, silently lowering recall below the "
            "(seeds, band_size) curve the caller tuned against"
        )
    shingled = shingles_relational(df, text_col, id_col, k=shingle_k)
    return shingled.groupBy("doc").agg(
        *[
            F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"h{i}")
            for i in range(seeds)
        ]
    )


def _band_rows(sigs: DataFrame, seeds: int, band_size: int) -> DataFrame:
    n_bands = seeds // band_size
    return sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col(f"h{b * band_size + j}") for j in range(band_size)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )


def _band_pairs_driver(
    banded: DataFrame, max_bucket: int | None
) -> DataFrame | None:
    """``_capped_pair_join`` on the driver over the collected
    (doc, band_key) rows: bucket sizes and representatives, the same
    pair-volume estimate, all pairs within buckets of at most
    ``max_bucket`` members, star pairs to the minimum doc in larger
    ones, then the distinct. Returns None, for the distributed tier,
    when the estimate is over ``_DRIVER_ROWS``."""
    import numpy as np

    id_type = banded.schema["doc"].dataType
    pdf = banded.select(F.col("doc").cast("bigint"), "band_key").toPandas()
    cap = max_bucket if max_bucket is not None else 1 << 62
    sizes = pdf.groupby("band_key")["doc"].agg(["size", "min"])
    est = _bucket_pair_volume(sizes["size"], cap)
    if est > _DRIVER_ROWS:
        return None
    rows = pdf.join(sizes, on="band_key")
    small = rows.loc[rows["size"] <= cap, ["doc", "band_key"]]
    both = small.merge(small, on="band_key", suffixes=("", "_b"))
    both = both[both["doc"] < both["doc_b"]]
    star = rows[(rows["size"] > cap) & (rows["doc"] != rows["min"])]
    pairs = np.unique(
        np.concatenate(
            [
                np.stack([both["doc"], both["doc_b"]], axis=1),
                np.stack([star["min"], star["doc"]], axis=1),
            ]
        ).astype(np.int64),
        axis=0,
    )
    out = _pairs_frame(
        banded.sparkSession, id_type, {"id_a": pairs[:, 0], "id_b": pairs[:, 1]}, {}
    )
    if max_bucket is not None:
        out._xss_edge_estimate = est
    return out


def incremental_dedup_decisions(
    new_docs: DataFrame,
    base_index: DataFrame,
    text_col: str,
    id_col: str,
    seeds: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Keep/drop decisions for an ingest batch against a persisted index.

    The production dedup shape: the historical corpus exists only as its
    banded MinHash index (:func:`minhash_band_index` — short rows, no
    text), and each new batch is screened against it plus itself. A new
    doc is dropped when any of its bands collides with a base doc's band
    or with a lower-id doc in the same batch.

    Returns (id, dup_of, keep): ``dup_of`` is the minimum colliding
    partner id (NULL when unique), ``keep`` its negation.

    Scale design — NO pair join anywhere: keep/drop only needs the
    minimum partner per band, so the base index collapses to one
    (band_key, min_doc) row per band before the join, and batch-internal
    collisions come from a min window over the batch's own band rows.
    Cost is one shuffle of the (tiny) batch bands plus one aggregation
    of the index keyed the same way — a hot boilerplate band costs one
    row, not bucket² pairs, and the decision join's width is bounded by
    the batch's band count regardless of corpus size.
    """
    new_bands = minhash_band_index(
        new_docs, text_col, id_col, seeds=seeds, band_size=band_size, shingle_k=shingle_k
    )
    base_min = base_index.groupBy("band_key").agg(F.min("doc").alias("__base_min"))
    peer = new_bands.withColumn(
        "__peer_min", F.min("doc").over(W.partitionBy("band_key"))
    )
    joined = peer.join(base_min, "band_key", "left")
    # least() skips NULLs, so a band with no base hit still considers
    # the batch-internal minimum (and vice versa).
    partner = F.least(
        F.col("__base_min"),
        F.when(F.col("__peer_min") < F.col("doc"), F.col("__peer_min")),
    )
    per_doc = joined.groupBy("doc").agg(F.min(partner).alias("dup_of"))
    return (
        new_docs.select(F.col(id_col).alias("id"))
        .join(per_doc.withColumnRenamed("doc", "id"), "id", "left")
        .select("id", "dup_of", F.col("dup_of").isNull().alias("keep"))
    )


# Sizing target for pair-volume-scaled shuffles: ~4M (id_a, id_b[, stat])
# rows per partition keeps a partition's in-memory footprint in the
# low hundreds of MB — at the 100x rehearsal's measured pair volumes the
# session default of 32 partitions left ~26 GB/partition (BASELINE.md),
# which is the spill cliff this scaling removes.
_PAIR_ROWS_PER_PARTITION = 4_000_000
_PAIR_PARTITION_CAP = 8_192


def _scaled_pair_partitions(df: DataFrame, est_pairs: float) -> int | None:
    """Shuffle-partition count for an estimated pair volume, or None
    when the session default already suffices (small corpora: never add
    exchanges or tiny-partition overhead below the default)."""
    base = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n = int(math.ceil(est_pairs / _PAIR_ROWS_PER_PARTITION))
    if n <= base:
        return None
    return min(n, _PAIR_PARTITION_CAP)


def _capped_pair_join(
    bucketed: DataFrame, bucket_col: str, max_bucket: int | None
) -> DataFrame:
    """All-pairs within small buckets, star pairs within oversized ones.

    ``bucketed`` has one (doc, bucket) row per membership. The bucket
    size/representative aggregation shuffles on the same key as the
    self-join, so the extra guard costs one co-partitioned aggregation,
    no additional exchange of the membership table. When ``max_bucket``
    is set the exact pair volume (Σ bn·(bn-1)/2 over small buckets +
    bn-1 stars over capped ones) is known from the same size table, and
    the pair join + distinct are repartitioned to hold ~4M pair rows
    per task — the knob the 100x rehearsal showed must scale with pair
    count, not sit at the session default.
    """
    if max_bucket is None:
        other = bucketed.select(F.col("doc").alias("doc_b"), F.col(bucket_col))
        return (
            bucketed.join(other, bucket_col)
            .filter(F.col("doc") < F.col("doc_b"))
            .select(F.col("doc").alias("id_a"), F.col("doc_b").alias("id_b"))
            .distinct()
        )
    sizes = _persist(
        bucketed.groupBy(bucket_col).agg(
            F.count(F.lit(1)).alias("__bn"), F.min("doc").alias("__rep")
        )
    )
    est = sizes.select(
        F.sum(
            F.when(
                F.col("__bn") <= max_bucket,
                F.col("__bn") * (F.col("__bn") - F.lit(1)) / F.lit(2.0),
            ).otherwise(F.col("__bn") - F.lit(1))
        ).alias("__pairs")
    ).collect()[0]["__pairs"]
    n_part = _scaled_pair_partitions(bucketed, float(est or 0.0))
    sized = bucketed.join(sizes, bucket_col)
    small = sized.filter(F.col("__bn") <= max_bucket).select("doc", bucket_col)
    other = small.select(F.col("doc").alias("doc_b"), F.col(bucket_col))
    if n_part:
        small = small.repartition(n_part, bucket_col)
        other = other.repartition(n_part, bucket_col)
    small_pairs = (
        small.join(other, bucket_col)
        .filter(F.col("doc") < F.col("doc_b"))
        .select(F.col("doc").alias("id_a"), F.col("doc_b").alias("id_b"))
    )
    star_pairs = (
        sized.filter((F.col("__bn") > max_bucket) & (F.col("doc") != F.col("__rep")))
        .select(F.col("__rep").alias("id_a"), F.col("doc").alias("id_b"))
    )
    out = small_pairs.unionByName(star_pairs)
    if n_part:
        # the distinct's exchange moves the full pair volume too — give
        # it the same scaled partitioning (repartition on the distinct
        # keys satisfies its required distribution: no extra exchange,
        # just the scaled count instead of the session default)
        out = out.repartition(n_part, "id_a", "id_b")
    result = out.distinct()
    # Python-side hint: the pre-distinct pair count is a free upper
    # bound on the edge count, so connected_components can pick its
    # driver tier without running its own count job (the hint only
    # survives when the caller passes this exact DataFrame on — any
    # further transformation drops it and connected_components falls
    # back to counting, which is always correct).
    result._xss_edge_estimate = float(est or 0.0)
    return result


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.1,
    partition_col: str | None = None,
    max_df: int | None = 10_000,
    pair_budget: int | None = 100_000_000,
) -> DataFrame:
    """Exact Jaccard similarity on word-shingle sets for candidate pairs.

    Inverted-index plan: explode distinct shingles → join on shingle
    (within ``partition_col`` groups when given, which bounds bucket
    sizes at scale) → count shared shingles → Jaccard from per-doc set
    sizes. Only pairs sharing >= 1 shingle are ever materialized.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard > threshold.

    ``max_df`` is the hot-shingle guard: a shingle appearing in more
    than ``max_df`` documents (within its ``partition_col`` group) is
    dropped from every document's shingle *set* — from both the
    intersection counts and the set sizes, so Jaccard stays a true
    Jaccard over the filtered sets and both engines of an oracle pair
    can express it identically. Without the cap the inverted-index
    self-join materializes ~DF² pairs per shingle: one corpus-common
    trigram with DF=10⁶ is a 10¹²-row join at 100 TB. Corpus-common
    shingles carry negligible similarity signal (standard max-DF
    practice in MinHash/Jaccard dedup pipelines), so the default keeps
    the join bounded at ``max_df²`` rows per shingle while leaving
    small-corpus results untouched. ``None`` disables the guard.

    Scale contract: the pair volume is Σ df² over surviving shingles —
    bounded per shingle by ``max_df`` but NOT bounded in clique
    density. On a corpus of large near-identical families the 100x
    rehearsal (BASELINE.md) measured ~850 GB of spill for 500k docs in
    100-member cliques; ``minhash_lsh_pairs`` covered the same corpus
    with zero spill. Use this operator for exact scores on sparse-ish
    graphs or within ``partition_col`` shards; use MinHash-LSH as the
    candidate generator when duplicate families may be large.

    ``pair_budget`` enforces that contract at submit time: the exact
    pair count Σ df·(df-1)/2 is known before any pair is built and
    :class:`~..errors.PairBudgetExceededError` is raised above the
    budget, on either tier below. With ``max_df`` set it is observed
    on the job that fills the inverted-index cache, as Σ over rows of
    (df-1)/2 from the DF window the guard computes anyway; with
    ``max_df=None`` it takes one aggregation over the cached index.
    Below the budget the same estimate sizes the join/agg shuffle
    partitioning (~4M pair rows per task) instead of the session
    default. ``None`` disables both.

    Two tiers, identical output (see :func:`_shingle_pair_stats`): a
    small inverted index is joined and counted on the driver; the
    Jaccard division runs in Spark on either tier's counts.
    """
    shared = _shingle_pair_stats(
        df, text_col, id_col, shingle_k, partition_col, max_df, pair_budget
    )
    out = shared.select(
        F.col("doc").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        (
            F.col("shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("shared")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") > threshold)
    hint = getattr(shared, "_xss_edge_estimate", None)
    if hint is not None:
        # upper bound survives the threshold filter (see _capped_pair_join)
        out._xss_edge_estimate = hint
    return out


# partition_col types that the n-gram driver tier keys as strings: the
# cast is injective and Spark's join equality on them is value
# equality. Floating point (whose joins match NaN and -0.0 = 0.0),
# nested and collated types take the distributed tier.
_DRIVER_PART_TYPES = ("string", "boolean", "date", *_INTEGRAL)


def _shingle_pair_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    partition_col: str | None,
    max_df: int | None,
    pair_budget: int | None = None,
) -> DataFrame:
    """Inverted-index pair statistics: (doc, doc_b, shared, size_a,
    size_b) for every doc < doc_b pair sharing >= 1 (DF-capped) shingle.
    Shared core of Jaccard and containment scoring. ``pair_budget``:
    see :func:`ngram_jaccard_pairs` — Σ df·(df-1)/2 refusal plus
    pair-volume-scaled shuffle partitioning.

    One job fills the inverted-index cache and observes its row count,
    its NULL ids and, with ``max_df`` set, the pair volume. At most
    ``_DRIVER_ROWS`` rows under an integral, never-NULL id whose
    pair volume is at most ``_DRIVER_ROWS`` (and a
    ``partition_col`` of a ``_DRIVER_PART_TYPES`` type) are collected
    once and joined and counted on the driver
    (``_shingle_stats_driver``). Anything else runs the distributed
    join over the same cache: the scale path, and the reference the
    equivalence tests hold the driver tier to."""
    parts = [partition_col] if partition_col else []
    shingled = shingles_relational(
        df, text_col, id_col, k=shingle_k, distinct=True, carry_cols=parts
    )
    # Join/shuffle on a 64-bit shingle hash, not the shingle STRING:
    # the inverted-index self-join and both window counts shuffle on
    # this key, and a word trigram averages 20-30 bytes vs 8 for the
    # hash — a 3x+ shuffle-byte cut with identical results (a cross-doc
    # xxhash64 collision merging two distinct shingles has probability
    # ~n²/2⁶⁴ — negligible at any corpus size this engine targets).
    shingled = shingled.withColumn("shingle", F.xxhash64("shingle"))
    metrics = {"nulls": _null_ids()}
    if max_df is not None:
        # Window over the join key (shingle [+ group]): the DF count
        # shuffles on the same key as the inverted-index join and is the
        # document-frequency stat a 100 TB index materializes anyway.
        # (Round-11 A/B note: a groupBy-histogram + broadcast-anti-join
        # respelling — fewer exchanges on paper — measured ~2x SLOWER
        # at sf0.1: it needs a second persisted pass over the gram
        # table, and the cache serialization costs more than the saved
        # shuffle+sort. Reverted; the window form stays the measured
        # winner.)
        shingled = shingled.withColumn(
            "__df", F.count(F.lit(1)).over(W.partitionBy("shingle", *parts))
        ).filter(F.col("__df") <= max_df)
        # Exact join-output volume, Σ df·(df-1)/2 over (shingle
        # [+ group]), as Σ over the rows of (df-1)/2: each group's df
        # rows carry its df. Exactly the same double sum below 2^52.
        metrics["pairs"] = F.sum((F.col("__df") - F.lit(1)) / F.lit(2.0))
    # Per-doc set size rides along as a window count over the shingle
    # rows instead of a separate groupBy branch — the inverted-index
    # join then carries both sizes, so the shingle pipeline is planned
    # twice (the two join sides) rather than three times, and the two
    # post-aggregation size joins disappear entirely.
    # Persist the sized shingle rows: the inverted-index self-join plans
    # this pipeline once per side otherwise (sf0.1: 1.6s -> 0.6s). At
    # scale this is the inverted index you'd materialize anyway.
    cached, seen = _observed_persist(
        shingled.withColumn("set_size", F.count(F.lit(1)).over(W.partitionBy("doc"))),
        **metrics,
    )
    sized = cached.drop("__df")
    on = ["shingle"] + [p for p in parts]
    est = None
    if max_df is not None:
        est = float(seen["pairs"] or 0.0)
    elif pair_budget is not None:
        # No DF window to observe: one aggregation over the (cached)
        # inverted index — the pre-flight that stops an over-budget
        # 100 TB submission in seconds instead of after terabytes of
        # spill.
        est = float(
            sized.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("__dfreq"))
            .select(
                F.sum(
                    F.col("__dfreq") * (F.col("__dfreq") - F.lit(1)) / F.lit(2.0)
                ).alias("__pairs")
            )
            .collect()[0]["__pairs"]
            or 0.0
        )
    if pair_budget is not None and est > pair_budget:
        cached.unpersist()
        raise PairBudgetExceededError(
            f"exact shingle-pair volume ≈ {est:.3g} exceeds "
            f"pair_budget={pair_budget:,}. Exact pairwise Jaccard is "
            "pair-volume-bound (Σ df·(df-1)/2 over shingles — see the "
            "operator's scale contract); for dense duplicate families "
            "use minhash_lsh_pairs as the candidate generator, shard "
            "with partition_col, tighten max_df, or pass "
            "pair_budget=None to run anyway."
        )
    if (
        _driver_sized(sized, seen, seen["rows"])
        and (est is None or est <= _DRIVER_ROWS)
        and all(
            sized.schema[p].dataType.simpleString() in _DRIVER_PART_TYPES
            for p in parts
        )
    ):
        stats = _shingle_stats_driver(sized, parts)
        if stats is not None:
            if pair_budget is not None:
                stats._xss_edge_estimate = est
            return stats
    n_part = None
    if pair_budget is not None:
        n_part = _scaled_pair_partitions(sized, est)
    right = sized.select(
        F.col("doc").alias("doc_b"),
        *[F.col(p) for p in parts],
        F.col("shingle"),
        F.col("set_size").alias("size_b"),
    )
    left = sized
    if n_part:
        # co-partition both join sides on the join key at the scaled
        # count — the join then runs on this distribution (no extra
        # exchange vs the default-sized one it would have planned) and
        # each task holds ~4M pair rows instead of pairs/32.
        left = left.repartition(n_part, *on)
        right = right.repartition(n_part, *on)
    joined = left.join(right, on).filter(F.col("doc") < F.col("doc_b"))
    if n_part:
        # the shared-count exchange also moves ~the full pair volume
        # (a pair's shingle rows are scattered across shingle
        # partitions, so map-side combine barely reduces it) — give it
        # the scaled count too; repartition on the grouping keys
        # satisfies the agg's distribution, so no second exchange.
        joined = joined.repartition(n_part, "doc", "doc_b")
    stats = joined.groupBy("doc", "doc_b").agg(
        F.count(F.lit(1)).alias("shared"),
        F.min("set_size").alias("size_a"),
        F.min("size_b").alias("size_b"),
    )
    if pair_budget is not None:
        # free edge-count upper bound for connected_components' tier pick
        # (see _capped_pair_join) — Σ df·(df-1)/2 ≥ distinct pairs
        stats._xss_edge_estimate = est
    return stats


def _shingle_stats_driver(sized: DataFrame, parts: list[str]) -> DataFrame | None:
    """``_shingle_pair_stats``' join and counts on the driver over the
    collected (doc, parts…, shingle, set_size) rows: the self-join on
    (shingle, parts…), ``doc < doc_b``, then the shared count and both
    set sizes per pair. Returns None, for the distributed tier, when
    the join's volume is over ``_DRIVER_ROWS``."""
    id_type = sized.schema["doc"].dataType
    on = ["shingle", *parts]
    pdf = sized.select(
        F.col("doc").cast("bigint"),
        *[F.col(p).cast("string").alias(p) for p in parts],
        "shingle",
        "set_size",
    ).toPandas()
    # Spark's inner join never matches a NULL key; pandas.merge matches
    # NaN to NaN.
    pdf = pdf.dropna(subset=parts)
    if _bucket_pair_volume(pdf.groupby(on).size(), 1 << 62) > _DRIVER_ROWS:
        return None
    both = pdf.merge(pdf, on=on, suffixes=("", "_b"))
    both = both[both["doc"] < both["doc_b"]]
    stats = (
        both.groupby(["doc", "doc_b"])
        .agg(
            shared=("shingle", "size"),
            size_a=("set_size", "min"),
            size_b=("set_size_b", "min"),
        )
        .reset_index()
    )
    return _pairs_frame(
        sized.sparkSession,
        id_type,
        {"doc": stats["doc"], "doc_b": stats["doc_b"]},
        {c: stats[c] for c in ("shared", "size_a", "size_b")},
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    partition_col: str | None = None,
    max_df: int | None = 10_000,
    pair_budget: int | None = 100_000_000,
) -> DataFrame:
    """ASYMMETRIC shingle containment: |A ∩ B| / |A| per ordered pair.

    Jaccard misses partial copies: a paragraph quoted inside a much
    longer document scores near zero symmetrically but ~1.0 as
    containment of the shorter side — the signal training-data
    pipelines use to catch quote extraction, boilerplate wrapping, and
    subset duplicates (Broder's containment, the other half of the
    resemblance/containment pair). Returns (id_small, id_big,
    containment) where ``id_small`` is the CONTAINED doc (its set is
    the denominator), for pairs over ``threshold``. Same inverted-index
    plan and ``max_df`` hot-shingle guard as
    :func:`ngram_jaccard_pairs` — containment is computed over the
    DF-capped sets on both sides, and the same ``pair_budget``
    refusal, shuffle scaling and driver tier apply.
    """
    shared = _shingle_pair_stats(
        df, text_col, id_col, shingle_k, partition_col, max_df, pair_budget
    )
    a_in_b = shared.select(
        F.col("doc").alias("id_small"),
        F.col("doc_b").alias("id_big"),
        (F.col("shared").cast("double") / F.col("size_a").cast("double")).alias(
            "containment"
        ),
    )
    b_in_a = shared.select(
        F.col("doc_b").alias("id_small"),
        F.col("doc").alias("id_big"),
        (F.col("shared").cast("double") / F.col("size_b").cast("double")).alias(
            "containment"
        ),
    )
    out = a_in_b.unionByName(b_in_a).filter(F.col("containment") > threshold)
    hint = getattr(shared, "_xss_edge_estimate", None)
    if hint is not None:
        # each unordered pair appears at most twice (both directions)
        out._xss_edge_estimate = 2.0 * hint
    return out


def _require_integral(df: DataFrame, op: str, *cols: str) -> None:
    """Refuse non-integral ids at submit time, with the remedy. A silent
    cast of string/UUID ids would NULL them (non-ANSI), and a NULL end
    joins to nothing, or die mid-job (ANSI); a cast of fractional ids
    merges distinct ones (1.2 and 1.7 both become 1). Either way the
    operator would "succeed" on another graph than the caller's — a
    dedup removing nothing."""
    for col_name in cols:
        dt = df.schema[col_name].dataType.simpleString()
        if dt not in _INTEGRAL:
            raise TypeError(
                f"{op} requires integral ids; {col_name!r} "
                f"is {dt}. Map string/UUID ids to dense longs first (e.g. "
                "xxhash64 is NOT safe for dedup — use a row_number over "
                "distinct ids and join the mapping back)."
            )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (id, component).

    ``component`` is the minimum node id reachable from ``id`` — the
    canonical cluster representative, so "keep one doc per cluster"
    is ``filter(id == component)``. This is the step that turns any
    pair generator above (LSH / Jaccard / SimHash) into an actual
    dedup decision; the reference engine has no counterpart.

    Ids must be integral (``TypeError`` otherwise). A pair with a NULL
    at either end is dropped: a NULL id names no document and joins to
    nothing, as in every pair generator above.

    Three tiers, identical output (each labels every node with its
    component's minimum id, deterministically), picked from the edge
    count alone:

    - driver, at most ``_DRIVER_ROWS`` edges: single-pass union-find
      (``_cc_driver``). A connected-components instance that small is
      microseconds of actual work, while even a one-partition
      distributed round costs several scheduler barriers — measured on
      the sf0.1 co-purchase graph (3,853 edges): 3.3-5.9 s for the
      distributed loops vs milliseconds on the driver. This is the
      same submit-time-measured-bound contract as the pair-budget
      guards: the collect is capped at ~``_DRIVER_ROWS`` 16-byte edge
      rows (~4 MB, far under maxResultSize), never an unbounded
      data-table materialization.
    - propagation, below ``_CC_STARS_EDGES`` edges: min-label
      propagation with a double pointer jump — cheaper per round on
      mid-size sparse graphs (fewer Spark jobs per round), and the
      reference implementation the equivalence tests pin the other
      tiers against.
    - stars, from ``_CC_STARS_EDGES`` edges up: alternating large-star /
      small-star edge contraction (Kiveris et al., *Connected
      Components in MapReduce and Beyond*). Each round REWRITES the
      edge set toward component minima, so hop distances shrink
      structurally — the 100x rehearsal's capped-LSH graph (2.1M
      edges, 500k nodes, effective diameter ~18) converges in ~5
      rounds where label propagation needs one round per diameter hop,
      4.2x faster end-to-end there. The contraction's O(log n)-rounds
      win only exists at scale, while its per-round constant costs
      real time on small graphs (round-4 measurement: r63 4.59s vs
      3.05s).

    The edge count comes free when the pair generator attached its
    pre-computed volume estimate (``_xss_edge_estimate``, an upper
    bound — see ``_capped_pair_join`` / ``_shingle_pair_stats``); at
    or below ``_DRIVER_ROWS`` the driver tier then collects the pairs
    directly. Otherwise the exact count is observed on the job that
    checkpoints the pair set the picked tier then reuses, so the
    upstream pipeline runs once either way.

    ``max_iter`` is a pathological backstop; each distributed loop
    returns the rounds it executed alongside its labels.
    """
    _require_integral(pairs, "connected_components", id_a, id_b)
    norm = pairs.select(
        F.col(id_a).cast("bigint").alias("u"),
        F.col(id_b).cast("bigint").alias("v"),
    ).dropna()
    # The generator's pre-computed pair-volume estimate is an UPPER
    # bound on distinct edges — and a loose one (it counts a pair once
    # per shared shingle/band/bucket, before any similarity filter), so
    # it is only DECISIVE when it lands at or below the bound. Then
    # the driver tier reads the pairs exactly once, so they are
    # collected straight from the pair pipeline, with no checkpoint.
    hint = getattr(pairs, "_xss_edge_estimate", None)
    if hint is not None and hint <= _DRIVER_ROWS:
        return _cc_driver(norm)
    # Otherwise materialize the normalized pair set ONCE before
    # dispatch, and take the exact edge count from that same job (a
    # loose estimate above the bound may still hide a tiny graph:
    # a dense shingle overlap collapses to few distinct pairs). Both
    # distributed algorithms fan the edge set into self-unions
    # (bidirectional neighborhood views), which would otherwise embed
    # the upstream pair pipeline in the plan twice and compute it twice
    # in one job (measured: ~1s/query extra on sf0.1 LSH pipelines).
    # The checkpoint also truncates lineage before the iterative loop.
    raw, seen = _observed_checkpoint(norm)
    n_edges = seen["rows"]
    if n_edges <= _DRIVER_ROWS:
        return _cc_driver(raw)
    stars = n_edges >= _CC_STARS_EDGES
    # Size the loop's shuffles from the measured edge count (guide §2;
    # see loop_shuffle_partitions): a 4k-edge graph (sf0.1 co-purchase:
    # 3,853 edges) previously ran every one of 7 rounds as dozens of
    # near-empty tasks across ~6 stages. Both distributed loops execute
    # their rounds eagerly (localCheckpoint + probe per round), so the
    # scope covers every per-round shuffle; the returned label table is
    # already materialized when the scope exits.
    with loop_shuffle_partitions(pairs.sparkSession, n_edges):
        loop = _cc_alternating_stars if stars else _cc_propagation
        return loop(raw, "u", "v", max_iter)[0]


def _cc_driver(raw: DataFrame) -> DataFrame:
    """Driver-side union-find over a size-gated edge set (see
    ``connected_components``: entered only when the exact edge count,
    or a decisive upper bound, is at most ``_DRIVER_ROWS``).

    Union-by-minimum with path compression: the root of every set is
    always its minimum member id, so ``find(x)`` IS the component
    label — identical to the distributed tiers' min-label fixpoint.
    The collect is Arrow-batched (two bigint columns) and the result
    re-enters Spark as one Arrow-backed DataFrame.
    """
    import pandas as pd

    pdf = raw.toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()):
        u, v = int(u), int(v)
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # root at the smaller id: roots stay set-minimal, so the
            # final find() equals the distributed min-label result
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    ids = sorted(parent)
    out = pd.DataFrame(
        {"id": ids, "component": [find(i) for i in ids]}, dtype="int64"
    )
    spark = raw.sparkSession
    return spark.createDataFrame(
        out, schema="id bigint, component bigint"
    )


def _cc_alternating_stars(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star connected components.

    Per round, with Γ(u) the current neighborhood and m(u) =
    min(Γ(u) ∪ {u}):

    - large-star: for every center u emit (v, m(u)) for each neighbor
      v > u — strictly larger neighbors re-attach to the local min;
    - small-star: for every center u emit (v, m(u)) for each neighbor
      v <= u plus (u, m(u)) itself — smaller neighbors and the center
      collapse onto the min.

    Both phases keep edges oriented (child, smaller-parent) and drop
    self-loops; the fixpoint is a star forest rooted at each
    component's minimum. Convergence is detected by an aggregate
    signature (edge count + bit_xor of per-edge hashes — one cheap
    scan returning a scalar; a collision would need ~2⁶⁴ coincidence,
    and ``max_iter`` still bounds the loop). Edges are localCheckpoint'ed
    every round to truncate the doubling lineage, same as the
    propagation loop. Returns ``(labels, rounds executed)``.
    """
    raw = pairs.select(
        F.col(id_a).cast("bigint").alias("u"), F.col(id_b).cast("bigint").alias("v")
    )
    # Every node that appears in any pair gets a labels row, including
    # self-pair-only nodes whose edges drop as self-loops below.
    nodes = _persist(
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    edges = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    prev_sig: tuple | None = None
    for _ in range(max_iter):
        # large-star over the bidirectional neighborhood view
        nbr = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least("__mv", F.col("u")).alias("m"))
        )
        large = (
            nbr.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over large's bidirectional view
        nbr2 = large.unionByName(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins2 = (
            nbr2.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least("__mv", F.col("u")).alias("m"))
        )
        edges = (
            nbr2.join(mins2, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        rounds += 1
        sig_row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    star = edges.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("__root"))
    labels = nodes.join(star, "id", "left").select(
        "id", F.coalesce("__root", F.col("id")).alias("component")
    )
    return labels, rounds


def _cc_propagation(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> tuple[DataFrame, int]:
    """Min-label propagation + double pointer jump (see
    ``connected_components``); one edges⋈labels join, a min-aggregate,
    and two label-table jumps per round, all hash-shuffled on node id.
    Each round's labels are localCheckpoint'ed so lineage stays one
    round deep; the stop check is a driver-side scalar count. Returns
    ``(labels, rounds executed)``."""
    edges = pairs.select(
        F.col(id_a).cast("bigint").alias("src"), F.col(id_b).cast("bigint").alias("dst")
    )
    # Undirected: store both directions once, persisted — every round
    # re-reads this table, never the upstream pair pipeline. Repartition
    # by src BEFORE caching: the per-round propagation join is keyed on
    # src, but the distinct leaves the cache hash-partitioned on
    # (src, dst), which does NOT satisfy the join's src distribution —
    # so every round re-shuffled the (larger) edge table. With the
    # cache partitioned on src, only the (smaller) label table moves
    # per round (guide §2.4: two operations keyed the same way share
    # one exchange; the exchange is paid once at cache build).
    bidir = _persist(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition("src")
    )
    # Each round's labels are localCheckpoint'ed (eager): this both
    # materializes the round AND truncates the logical plan to a
    # LogicalRDD. Plain persist is NOT enough here — the cached data is
    # reused, but the *plan tree* doubles every round (union+join over
    # the previous round's plan), and driver-side analysis time grows
    # exponentially with iteration count: measured 1.4s -> 28.6s per
    # round by round 4 on a 10k-edge graph before this change. Lineage
    # truncation is the same reason GraphFrames checkpoints its
    # iterative algorithms. Checkpoint RDDs are freed by the
    # ContextCleaner when the previous round's frame goes out of scope.
    labels = (
        bidir.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    rounds = 0
    # Seed the convergence signature with the identity labeling's sum
    # (one cheap scan) so an already-converged input still stops after
    # its first (no-op) round, matching the old join-based probe.
    prev_sig = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    for _ in range(max_iter):
        msgs = (
            bidir.join(labels, bidir["src"] == labels["id"])
            .select(F.col("dst").alias("id"), "component")
        )
        propagated = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # Pointer-jumping shortcut (Shiloach-Vishkin style): replace
        # each node's label with its LABEL'S label. Propagation alone
        # converges in O(graph diameter) rounds — the 100x scale
        # rehearsal (scripts/scale_rehearsal.py) measured star-capped
        # LSH graphs whose cross-band chains exceeded 25 rounds; with
        # the shortcut each round roughly halves every chain, so
        # convergence is O(log diameter) (4-6 rounds on the same
        # graphs). Every label is itself a node id, so the jump is one
        # self-join of the label table on the label key — shuffled on
        # the same id key as the propagation aggregate, and far smaller
        # than the edge join it replaces 20 rounds of.
        # Two jumps per round: each replaces a label with its label's
        # label, so depth shrinks 4x per round instead of 2x. The jump
        # joins are on the LABEL table (one row per node) — far smaller
        # than the edge join — while every round is a full cluster
        # barrier at scale, so fewer rounds beats cheaper rounds. The
        # 100x rehearsal's capped-star graph took 18 rounds with one
        # jump; the label set is closed under jumping (every component
        # value is a node id present in the table), so the inner join
        # never drops rows.
        jumped = propagated
        for _ in range(2):
            parent = jumped.select(
                F.col("id").alias("__pid"), F.col("component").alias("__pcomp")
            )
            jumped = (
                jumped.join(parent, jumped["component"] == parent["__pid"])
                .select("id", F.least("component", "__pcomp").alias("component"))
            )
        new_labels = jumped.localCheckpoint()
        # Labels only ever decrease, so the exact label-sum strictly
        # decreases until the fixpoint: "sum unchanged" == "no label
        # changed" == converged. One partial-aggregated scan of the
        # just-checkpointed table per round, replacing the previous
        # join+filter+count job (two exchanges of the label table per
        # round — round-11 guide §2.4: a convergence probe must not
        # shuffle). DECIMAL(38,0) accumulation is exact (no IEEE
        # cancellation can fake a fixpoint) and overflow-free for any
        # realistic node-id universe (38 digits vs 19 per bigint id).
        sig = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        labels = new_labels
        rounds += 1
        if sig == prev_sig:
            break
        prev_sig = sig
    return labels, rounds


def dedup_keepers(
    df: DataFrame, pairs: DataFrame, id_col: str, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Drop every row that is a non-representative member of a
    near-duplicate cluster (keeps the min-id doc per component plus
    all unpaired docs). One left join against the component table."""
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer et al.).

    Classic MOSS scheme: hash every ``k``-char gram of the normalized
    text, slide a window of ``w`` consecutive gram hashes, keep each
    window's minimum; the distinct minima are the document's
    fingerprint set (guaranteed to share a fingerprint with any copy
    that overlaps by k+w-1 chars). Relational plan: explode gram
    positions (codegen'd substring+md5 per row), one shuffle on doc id
    for the sliding-window min, distinct reuses that partitioning.
    Hashes are md5-prefix strings, so fingerprints are engine-portable
    like the MinHash signatures above. Documents shorter than k+w-1
    chars produce no fingerprints. Returns distinct (doc, fp) rows.
    """
    base = df.select(F.col(id_col).alias("doc"), norm_ws(F.col(text_col)).alias("__txt"))
    base = base.withColumn("__g", F.length("__txt") - k + 1).filter(F.col("__g") >= w)
    grams = base.select(
        "doc", "__g", "__txt", F.explode(F.sequence(F.lit(1), F.col("__g"))).alias("i")
    )
    h = F.substring(F.md5(F.col("__txt").substr(F.col("i"), F.lit(k))), 1, 16)
    hashed = grams.select("doc", "__g", "i", h.alias("h"))
    win = W.partitionBy("doc").orderBy("i").rowsBetween(W.currentRow, w - 1)
    return (
        hashed.withColumn("fp", F.min("h").over(win))
        .filter(F.col("i") <= F.col("__g") - w + 1)
        .select("doc", "fp")
        .distinct()
    )


def simhash_relational(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, sh) SimHash signatures via an explode → groupBy plan.

    SimHash of the whitespace tokens, as BIGINT — 60 effective bits.
    Per token: the first 15 hex chars of md5 as a 60-bit integer (16
    chars could overflow a signed BIGINT under ANSI, so bits 60-63 are
    always 0 — tune ``max_hamming``/``prefix_bits`` against a 60-bit
    hash, not published 64-bit thresholds); each bit votes +1/-1, and
    the sign vector of the summed votes is the SimHash. Near-duplicates
    differ in few bits (compare via ``bit_count(a ^ b)``).

    Tokens become rows once and the 60 per-bit vote totals are ordinary
    codegen'd ``sum`` aggregates in a single hash aggregation — one
    shuffle on doc id, map-side partial aggregation, linear in total
    token count. (The per-row array form, 60 interpreted
    ``F.aggregate`` passes over the token array, measured ~50x slower
    at sf0.1.)
    """
    words = F.split(norm_ws(F.col(text_col)), " ")
    toks = df.select(F.col(id_col).alias("doc"), F.explode(words).alias("w"))
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("bigint")
    hashed = toks.select("doc", h.alias("h"))
    sums = hashed.groupBy("doc").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"__b{i}")
            for i in range(60)
        ],
    )
    out = F.lit(0).cast("bigint")
    for i in range(60):
        bit = (2 * F.col(f"__b{i}") >= F.col("__n")).cast("bigint")
        out = out + F.shiftleft(bit, i)
    return sums.select("doc", out.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    max_bucket: int | None = 100_000,
    pair_budget: int | None = 100_000_000,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on the top ``prefix_bits`` bits
    (near-dups almost always share the prefix), then exact Hamming
    distance within buckets. Returns (id_a, id_b, hamming).

    ``max_bucket`` bounds degenerate buckets the same way as
    :func:`minhash_lsh_pairs`: oversized buckets emit star pairs against
    the bucket's min doc (Hamming still computed exactly against that
    representative), so worst-case work is linear per bucket. As in
    ``_capped_pair_join``, the bucket-size table also yields the exact
    pair volume for free, which scales the pair-join shuffle (~4M pair
    rows/task) and rides along as the edge-count hint for
    ``connected_components``' tier pick.

    ``pair_budget``: within-bucket pair volume is Σ bn·(bn-1)/2 over
    buckets — at FIXED ``prefix_bits`` it grows as N²/2^prefix_bits,
    so a setting tuned at test scale silently turns quadratic at 100×
    (the round-8 graph-tier rehearsal measured 7.7e9 pairs for the
    t56 shape at 500k docs, prefix_bits=4). The same submit-time
    refusal contract as :func:`ngram_jaccard_pairs`: the exact volume
    comes from the bucket sizes the cap logic needs anyway, and an
    over-budget submission raises
    :class:`~..errors.PairBudgetExceededError` before any pair is
    built, on either tier below. Fix by growing ``prefix_bits`` with
    log2(N) (constant expected bucket size), tightening
    ``max_bucket``, or pass ``pair_budget=None``.

    Two tiers, identical output. One job fills the signature cache and
    observes its row count and NULL ids. At most ``_DRIVER_ROWS``
    (doc, sh, bucket) rows under an integral, never-NULL id are
    collected once; the bucket sizes and the estimate come from them,
    and at most ``_DRIVER_ROWS`` pairs are built and scored on
    the driver (``_simhash_pairs_driver``). Anything else runs the
    distributed bucket join over the same cache, with the bucket sizes
    aggregated in Spark: the scale path, and the reference the
    equivalence tests hold the driver tier to (the §2.5 block
    decomposition below is result-identical to the plain join, so
    one driver tier matches both).
    """
    # One 16-byte row per doc; persisting makes the bucket self-join read
    # the signatures instead of recomputing the 60-vote aggregate for
    # each side (sf0.1: 3.6s -> 1.3s).
    hashed, seen = _observed_persist(
        simhash_relational(df, text_col, id_col).withColumn(
            "bucket", F.shiftright(F.col("sh"), 60 - prefix_bits)
        ),
        nulls=_null_ids(),
    )
    if _driver_sized(hashed, seen, seen["rows"]):
        out = _simhash_pairs_driver(
            hashed, max_hamming, prefix_bits, max_bucket, pair_budget
        )
        if out is not None:
            return out
    est = None
    n_part = None
    sizes = None
    max_small = 0
    right = hashed.select(
        F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("bucket")
    )
    if max_bucket is not None or pair_budget is not None:
        sizes = _persist(
            hashed.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("__bn"), F.min("doc").alias("__rep")
            )
        )
        cap = max_bucket if max_bucket is not None else 1 << 62
        pre = sizes.select(
            F.sum(
                F.when(
                    F.col("__bn") <= cap,
                    F.col("__bn") * (F.col("__bn") - F.lit(1)) / F.lit(2.0),
                ).otherwise(F.col("__bn") - F.lit(1))
            ).alias("__pairs"),
            # largest un-capped bucket — sizes the §2.5 block
            # decomposition below; same pre-flight job, no extra pass
            F.max(F.when(F.col("__bn") <= cap, F.col("__bn"))).alias(
                "__maxsmall"
            ),
        ).collect()[0]
        est = float(pre["__pairs"] or 0.0)
        max_small = int(pre["__maxsmall"] or 0)
        if pair_budget is not None and est > pair_budget:
            sizes.unpersist()
            hashed.unpersist()
            raise _simhash_over_budget(est, pair_budget, prefix_bits)
        n_part = _scaled_pair_partitions(hashed, est)
    # §2.5: the bucket key has at most 2^prefix_bits distinct values, so
    # the plain self-join on it can never use more than that many tasks
    # no matter how large the cluster — and AQE skew splitting cannot
    # split a single join key. When the key space is too small to fill
    # the cluster AND some bucket is big enough to be worth splitting,
    # decompose each bucket's all-pairs into block pairs: rows get a
    # deterministic per-bucket rank (by doc id), blocks of ``S`` ranks,
    # and the join runs on (bucket, block_i, block_j) with i <= j —
    # every unordered pair is generated exactly once (ranks are
    # doc-ordered, so cross-block pairs already satisfy doc < doc_b and
    # the filter keeps the same half it always kept). Result-identical;
    # key cardinality grows from 2^prefix_bits to 2^prefix_bits·m(m+1)/2
    # and ~half the bn² candidate tuples are never generated. Oversized
    # buckets keep the star contract: their a-side is the representative
    # only (rank 1, block 0) and their b-side pins block_i to 0, so each
    # member still pairs exactly once with the representative.
    # Engage only when BOTH hold: the key space is too small for the
    # cluster AND the largest bucket alone carries more than one
    # task's worth of pairs (the same ~4M-pairs/task sizing constant
    # as _scaled_pair_partitions). Measured at sf0.1 (bn≈312/bucket,
    # 49k pairs): blocking costs MORE than the skew it fixes (stage
    # metrics: run_s 4.6→9.1) — the window sort + explode overhead
    # needs bucket-scale pair volume to amortize. At the 100× shape
    # (bn≈31k → 480M pairs on ONE join key) it is the only way any
    # cluster parallelizes the bucket at all.
    par = df.sparkSession.sparkContext.defaultParallelism
    blocks = 1
    if (
        sizes is not None
        and (1 << prefix_bits) < 4 * par
        and max_small * (max_small - 1) / 2 >= _PAIR_ROWS_PER_PARTITION
    ):
        units = -(-4 * par // (1 << prefix_bits))  # target join units/bucket
        m = 1
        while m * (m + 1) // 2 < units:
            m += 1
        block_s = max(1, -(-max_small // m))
        if block_s < max_small:
            blocks = m
    if blocks > 1:
        small = (
            F.col("__bn") <= max_bucket if max_bucket is not None else F.lit(True)
        )
        ranked = hashed.join(F.broadcast(sizes), "bucket").withColumn(
            "__blk",
            (
                (
                    F.row_number().over(W.partitionBy("bucket").orderBy("doc"))
                    - F.lit(1)
                )
                / F.lit(block_s)
            ).cast("int"),
        )
        n_blk = F.ceil(F.col("__bn") / F.lit(block_s)).cast("int")
        a_side = ranked
        if max_bucket is not None:
            a_side = a_side.filter(small | (F.col("doc") == F.col("__rep")))
        a_side = a_side.select(
            "bucket",
            "doc",
            "sh",
            F.col("__blk").alias("__i"),
            F.explode(F.sequence(F.col("__blk"), n_blk - F.lit(1))).alias("__j"),
        )
        b_side = ranked.select(
            "bucket",
            F.col("doc").alias("doc_b"),
            F.col("sh").alias("sh_b"),
            F.col("__blk").alias("__j"),
            F.explode(
                F.sequence(
                    F.lit(0), F.when(small, F.col("__blk")).otherwise(F.lit(0))
                )
            ).alias("__i"),
        )
        if n_part:
            a_side = a_side.repartition(n_part, "bucket", "__i", "__j")
            b_side = b_side.repartition(n_part, "bucket", "__i", "__j")
        joined = a_side.join(b_side, ["bucket", "__i", "__j"])
    else:
        if max_bucket is not None:
            sized = hashed.join(sizes, "bucket")
            left = sized.filter(
                (F.col("__bn") <= max_bucket) | (F.col("doc") == F.col("__rep"))
            ).select("doc", "sh", "bucket")
        else:
            left = hashed
        if n_part:
            left = left.repartition(n_part, "bucket")
            right = right.repartition(n_part, "bucket")
        joined = left.join(right, "bucket")
    out = (
        joined.filter(F.col("doc") < F.col("doc_b"))
        .select(
            F.col("doc").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            F.bit_count(F.col("sh").bitwiseXOR(F.col("sh_b"))).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if est is not None:
        out._xss_edge_estimate = est
    return out


def _simhash_over_budget(
    est: float, pair_budget: int, prefix_bits: int
) -> PairBudgetExceededError:
    return PairBudgetExceededError(
        f"exact within-bucket pair volume ≈ {est:.3g} exceeds "
        f"pair_budget={pair_budget:,}. SimHash prefix blocking is "
        "Σ bn·(bn-1)/2-bound — N²/2^prefix_bits at fixed "
        f"prefix_bits={prefix_bits}; grow prefix_bits with log2(N) "
        "(constant expected bucket size), tighten max_bucket, or "
        "pass pair_budget=None to run anyway."
    )


def _simhash_pairs_driver(
    hashed: DataFrame,
    max_hamming: int,
    prefix_bits: int,
    max_bucket: int | None,
    pair_budget: int | None,
) -> DataFrame | None:
    """``simhash_pairs``' bucket join on the driver over the collected
    (doc, sh, bucket) rows, as Spark bucketed them: the bucket sizes
    and representatives, the same estimate and budget refusal, all
    pairs within buckets of at most ``max_bucket`` members and
    representative-only a-sides in larger ones, then the Hamming
    distance as an exact popcount of ``sh ^ sh_b``. Returns None, for
    the distributed tier, when the estimate is over
    ``_DRIVER_ROWS``."""
    import numpy as np

    id_type = hashed.schema["doc"].dataType
    pdf = hashed.select(F.col("doc").cast("bigint"), "sh", "bucket").toPandas()
    cap = max_bucket if max_bucket is not None else 1 << 62
    sizes = pdf.groupby("bucket")["doc"].agg(["size", "min"])
    est = _bucket_pair_volume(sizes["size"], cap)
    if pair_budget is not None and est > pair_budget:
        hashed.unpersist()
        raise _simhash_over_budget(est, pair_budget, prefix_bits)
    if est > _DRIVER_ROWS:
        return None
    rows = pdf.join(sizes, on="bucket")
    a_side = (rows["size"] <= cap) | (rows["doc"] == rows["min"])
    left = rows.loc[a_side, pdf.columns]
    both = left.merge(pdf, on="bucket", suffixes=("", "_b"))
    both = both[both["doc"] < both["doc_b"]]
    xor = both["sh"].to_numpy(np.int64) ^ both["sh_b"].to_numpy(np.int64)
    hamming = _popcount64(xor)
    keep = hamming <= max_hamming
    out = _pairs_frame(
        hashed.sparkSession,
        id_type,
        {"id_a": both["doc"][keep], "id_b": both["doc_b"][keep]},
        {"hamming": hamming[keep]},
    )
    if max_bucket is not None or pair_budget is not None:
        out._xss_edge_estimate = est
    return out


def _popcount64(x):
    """Set bits of each int64 in ``x`` (two's complement, like Spark's
    ``bit_count`` of a bigint), as int64."""
    import numpy as np

    v = np.ascontiguousarray(x, dtype=np.int64).view(np.uint64)
    m1, m2, m4 = (
        np.uint64(c)
        for c in (0x5555555555555555, 0x3333333333333333, 0x0F0F0F0F0F0F0F0F)
    )
    v = v - ((v >> np.uint64(1)) & m1)
    v = (v & m2) + ((v >> np.uint64(2)) & m2)
    v = (v + (v >> np.uint64(4))) & m4
    return ((v * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


def edit_distance_pairs(df: DataFrame, token_col: str) -> DataFrame:
    """All distinct token pairs within Levenshtein distance 1.

    SymSpell-style deletion-neighborhood blocking: every token emits
    itself plus its single-character-deletion variants; two tokens are
    candidates iff they share a variant — which is *complete* for
    distance <= 1 (a substitution pair shares the deletion at the
    differing position; an insertion pair shares the shorter token
    itself), so the expensive levenshtein verification runs only on
    true near-collisions, never all pairs. One explode (len+1 variants
    per token), one equi-join on the variant key, and the verify filter
    — every stage keyed and codegen'd; the classic vocabulary/typo
    clustering step of a text-cleaning pipeline. Generalizes to
    distance d with d-deletion sets (variant count ~ len^d).

    Returns (tok_a, tok_b, dist) with tok_a < tok_b.
    """
    toks = df.select(F.col(token_col).alias("tok")).distinct()
    variants = toks.select(
        "tok",
        F.explode(
            F.expr(
                "concat(array(tok), transform(sequence(1, length(tok)), "
                "i -> concat(substring(tok, 1, i - 1), substring(tok, i + 1, length(tok)))))"
            )
        ).alias("var"),
    ).distinct()
    a = variants.select(F.col("tok").alias("tok_a"), "var")
    b = variants.select(F.col("tok").alias("tok_b"), "var")
    return (
        a.join(b, "var")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b")
        .distinct()
        .withColumn("dist", F.levenshtein("tok_a", "tok_b"))
        .filter(F.col("dist") <= 1)
    )
