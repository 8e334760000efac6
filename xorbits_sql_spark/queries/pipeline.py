"""Additional pipeline-operator queries: quality scoring, simhash,
embedding dedup, multimodal features, ntile distribution."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import register
from ._util import t
from .text import _DUCK_CLUSTERS, _NORM, _NTOK
from ..functions.stats import iln6
from ..functions.text import quality_score
from ..multimodal import attach_fake_media, extract_media_features
from ..operators.dedup import simhash_pairs
from ..operators.similarity import embedding_dup_pairs

_PAD = f"concat(' ', lower({_NORM}), ' ')"
_STOP_HITS = " + ".join(
    f"CAST((length({_PAD}) - length(replace({_PAD}, '{m}', ''))) / {len(m)} AS BIGINT)"
    for m in (" the ", " and ", " of ")
)
_MEAN_WORD = (
    f"CASE WHEN {_NTOK} = 0 THEN 0.0 "
    f"ELSE CAST(length(replace({_NORM}, ' ', '')) AS DOUBLE) / CAST({_NTOK} AS DOUBLE) END"
)
_SQL_QUALITY = f"""(
  0.4 * least(CAST({_NTOK} AS DOUBLE) / 50.0, 1.0)
+ 0.3 * (CASE WHEN {_MEAN_WORD} >= 3.0 AND {_MEAN_WORD} <= 10.0 THEN 1.0 ELSE 0.5 END)
+ 0.3 * least(CAST({_STOP_HITS} AS DOUBLE) / 3.0, 1.0)
)"""


@register(
    "q66_doc_quality",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST({_SQL_QUALITY} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_quality
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "quality"),
)
def q66_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("source", quality_score(F.col("text")).alias("q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum(F.col("q").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))).alias(
                "mean_quality"
            ),
        )
        .orderBy("source")
    )


# DuckDB mirror of operators/dedup.simhash_relational: same 60-bit token
# hash ('0x'||md5-prefix cast vs Spark's conv(..,16,10) — verified equal),
# same per-bit vote sums, same (2*ones >= n) sign rule, same prefix
# bucketing. Generated programmatically: 60 sum + 60 reassembly terms.
_SH_SUMS = ",\n             ".join(f"SUM((h >> {i}) & 1) AS b{i}" for i in range(60))
_SH_SIG = "\n           + ".join(
    f"(CASE WHEN 2 * b{i} >= n THEN 1::BIGINT << {i} ELSE 0::BIGINT END)" for i in range(60)
)


@register(
    "q67_doc_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h FROM toks
    ),
    sums AS (
      SELECT doc_id, COUNT(*) AS n,
             {_SH_SUMS}
      FROM hashed GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id,
             {_SH_SIG} AS sh
      FROM sums
    ),
    bucketed AS (SELECT doc_id, sh, sh >> 56 AS bucket FROM sigs)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
    FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 14
    ORDER BY id_a, id_b
    """,
    tags=("text", "dedup-simhash"),
    doc="SimHash near-dup pairs (Hamming <= 14) across all documents.",
)
def q67_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=14, prefix_bits=4
    ).orderBy("id_a", "id_b")


_COS_AB = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)
def _duck_bucket(alias: str) -> str:
    return (
        "concat("
        + ", ".join(
            f"CASE WHEN {alias}.embedding[{i}] >= 0 THEN '1' ELSE '0' END"
            for i in range(1, 5)
        )
        + ")"
    )


@register(
    "q73_embedding_dedup",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_AB} AS cosine
    FROM embeddings a JOIN embeddings b
      ON {_duck_bucket('a')} = {_duck_bucket('b')} AND a.vec_id < b.vec_id
    WHERE {_COS_AB} > 0.8
    ORDER BY id_a, id_b
    """,
    tags=("vectors", "dedup-embedding"),
)
def q73_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_dup_pairs(
        t(spark, sf_dir, "embeddings"), threshold=0.8, bits=4
    ).orderBy("id_a", "id_b")


@register(
    "q47_ntile_spend",
    """
    SELECT tile, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS tile_total
    FROM (
      SELECT o_totalprice,
             NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS tile
      FROM orders
    ) tiled
    GROUP BY tile
    ORDER BY tile
    """,
    tags=("window", "ntile"),
    doc=(
        "Quartile spend distribution. NOTE the unpartitioned NTILE "
        "window funnels all rows through one task by definition — exact "
        "global ranking doesn't distribute. Kept exact here because the "
        "oracle demands it; q93_approx_ntile is the sketch-based, fully "
        "parallel 100 TB twin (operators/skew.approx_tiles)."
    ),
)
def q47_ntile_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .select("o_totalprice", F.ntile(4).over(w).alias("tile"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("tile_total"),
        )
        .orderBy("tile")
    )


@register(
    "q90_multimodal_features",
    None,  # mapInPandas feature extraction; checked by tests/test_multimodal.py
    tags=("multimodal", "pandas-udf"),
    doc=(
        "Binary media plumbing: deterministic fake payloads from the "
        "documents table pushed through Arrow-batched mapInPandas decode."
    ),
)
def q90_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_fake_media(t(spark, sf_dir, "documents"))
    return extract_media_features(docs, fake=True).orderBy("id")


@register(
    "q91_multimodal_frames",
    None,  # mapInPandas one-to-many frame fan-out; checked by tests/test_multimodal.py
    tags=("multimodal", "pandas-udf", "fanout"),
    doc=(
        "Video-style frame sampling fan-out: every payload yields 4 "
        "frame rows inside the Arrow batch, then per-document frame "
        "stats. The shape of a video->training-frames pipeline."
    ),
)
def q91_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal import attach_fake_media as attach
    from ..multimodal import explode_frames

    docs = attach(t(spark, sf_dir, "documents"))
    frames = explode_frames(docs, n_frames=4, fake=True)
    return (
        frames.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.length("frame")).cast("bigint").alias("frame_bytes"),
        )
        .orderBy("id")
    )


@register(
    "r90_png_decode_roundtrip",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(1 + doc_id % 7 AS BIGINT) AS width,
           CAST(1 + doc_id % 5 AS BIGINT) AS height,
           CAST((1 + doc_id % 7) * (1 + doc_id % 5) * 3 AS BIGINT) AS n_pixel_bytes,
           CAST(((doc_id * 37) % 256) + ((doc_id * 59) % 256) + ((doc_id * 83) % 256) AS BIGINT)
             * CAST((1 + doc_id % 7) * (1 + doc_id % 5) AS BIGINT) AS pixel_sum
    FROM documents
    ORDER BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "png"),
    doc=(
        "REAL image codec, oracle-checked: per document, build a solid-"
        "color PNG (dims and RGB derived from doc_id), run it through "
        "the pure-stdlib PNG encoder AND decoder (multimodal/png.py — "
        "zlib inflate + scanline de-filtering, CRC-checked), and report "
        "decoded dimensions and the decoded pixel-byte sum. The DuckDB "
        "oracle predicts every column arithmetically, so any codec "
        "defect (wrong filter math, stride, channel order) hash-fails. "
        "Arrow-batched mapInPandas; per-payload work, no shuffle."
    ),
)
def r90_png_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("n_pixel_bytes", T.LongType()),
            T.StructField("pixel_sum", T.LongType()),
        ]
    )

    def batches(it):
        from ..multimodal.png import decode_png, encode_png

        for pdf in it:
            out = {k: [] for k in ("doc_id", "width", "height", "n_pixel_bytes", "pixel_sum")}
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w, h = 1 + did % 7, 1 + did % 5
                color = bytes([(did * 37) % 256, (did * 59) % 256, (did * 83) % 256])
                dw, dh, ch, px = decode_png(encode_png(w, h, 3, color * (w * h)))
                out["doc_id"].append(did)
                out["width"].append(dw)
                out["height"].append(dh)
                out["n_pixel_bytes"].append(len(px))
                out["pixel_sum"].append(sum(px))
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema).orderBy("doc_id")


@register(
    "q76_decontaminate",
    """
    WITH bench AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 17 = 0
    ),
    corpus AS (
      SELECT lang, md5(text) AS fp, n_chars FROM documents WHERE doc_id % 17 <> 0
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM corpus
    WHERE NOT EXISTS (SELECT 1 FROM bench WHERE bench.fp = corpus.fp)
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("pipeline", "dedup", "anti-join"),
    doc=(
        "Benchmark decontamination: drop from the training corpus any "
        "document whose exact md5 fingerprint appears in a held-out "
        "benchmark set (here simulated as doc_id % 17 == 0). The benchmark "
        "side is tiny relative to the corpus, so it is broadcast and the "
        "anti join is shuffle-free on the 100 TB side — the standard "
        "pre-training decontamination shape."
    ),
)
def q76_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    fp = F.md5(F.col("text")).alias("fp")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(fp).distinct()
    corpus = docs.filter(F.col("doc_id") % 17 != 0).select("lang", fp, "n_chars")
    return (
        corpus.join(F.broadcast(bench), "fp", "left_anti")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "q77_train_test_split",
    """
    WITH bucketed AS (
      SELECT ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket,
             n_chars
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM bucketed
    GROUP BY split
    ORDER BY split
    """,
    tags=("pipeline", "sampling"),
    doc=(
        "Deterministic train/valid/test split by hashing the stable key "
        "(md5 prefix of doc_id -> bucket 0..99 -> 80/10/10). Hash-mod "
        "splitting is reproducible across runs, engines, and cluster "
        "sizes — unlike TABLESAMPLE/rand() — and is a pure map-side "
        "operation: no shuffle until the final tiny aggregate."
    ),
)
def q77_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split")
    )


@register(
    "q78_quality_quantile_filter",
    """
    WITH scored AS (
      SELECT lang, n_chars,
             cume_dist() OVER (PARTITION BY lang ORDER BY n_chars) AS cd
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_kept, MIN(n_chars) AS min_chars
    FROM scored
    WHERE cd >= 0.9
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("pipeline", "quality", "window"),
    doc=(
        "Per-language quantile filtering: keep the top decile of documents "
        "by length using cume_dist() (rows <= current / partition rows — "
        "identical tie semantics in every ANSI engine). One shuffle on "
        "lang; at scale, skewed language partitions are split by AQE, or "
        "the filter can run on a per-lang approx-quantile threshold "
        "computed map-side instead of a full sort."
    ),
)
def q78_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("lang").orderBy("n_chars")
    return (
        t(spark, sf_dir, "documents")
        .select("lang", "n_chars", F.cume_dist().over(w).alias("cd"))
        .filter(F.col("cd") >= 0.9)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars"),
        )
        .orderBy("lang")
    )


@register(
    "q93_approx_ntile",
    None,  # sketch-based tiles: populations differ from exact NTILE within rank error
    tags=("window", "ntile", "approx", "sketch"),
    doc=(
        "The 100 TB twin of q47: quartile spend distribution via "
        "approx-percentile cutoffs + a map-side WHEN chain instead of the "
        "single-task global NTILE window. Fully parallel — no global "
        "sort, the only driver-side data is 3 cutoff scalars. "
        "tests/test_operators.py bounds the deviation from exact NTILE "
        "at <2% per tile."
    ),
)
def q93_approx_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import approx_tiles

    orders = t(spark, sf_dir, "orders").select("o_totalprice")
    return (
        approx_tiles(orders, "o_totalprice", n=4)
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("tile_total"),
        )
        .orderBy("tile")
    )


# Chunking parameters: 64-token windows, stride 48 (16-token overlap).
_CHUNK, _STRIDE = 64, 48


@register(
    "q97_doc_chunking",
    f"""
    WITH docs AS (
      SELECT source, string_split({_NORM}, ' ') AS words
      FROM documents
    ),
    sized AS (
      SELECT source, words, len(words) AS n,
             1 + (GREATEST(len(words) - {_CHUNK}, 0) + {_STRIDE} - 1) // {_STRIDE} AS n_chunks
      FROM docs
    ),
    chunks AS (
      SELECT source, n,
             unnest(generate_series(1, 1 + (n_chunks - 1) * {_STRIDE}, {_STRIDE})) AS start,
             words
      FROM sized
    )
    SELECT source,
           COUNT(*) AS n_chunks,
           CAST(SUM(LEAST({_CHUNK}, n - start + 1)) AS BIGINT) AS total_chunk_tokens,
           COUNT(DISTINCT md5(array_to_string(words[start:start+{_CHUNK}-1], ' ')))
             AS distinct_chunks
    FROM chunks
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "chunking", "explode"),
    doc=(
        "Training-sample prep: split every document into 64-token chunks "
        "with stride 48 (16-token overlap) and report per-source chunk "
        "counts, token volume, and distinct-chunk cardinality (md5 of "
        "the chunk text — overlap dedup). Fully relational: "
        "sequence()+explode generates chunk starts, slice() cuts the "
        "token window — codegen'd, no Python, one shuffle for the "
        "aggregate; the per-row fan-out is bounded by doc length / "
        "stride so partitions stay balanced at 100 TB."
    ),
)
def q97_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import norm_ws

    docs = t(spark, sf_dir, "documents").select(
        "source", F.split(norm_ws(F.col("text")), " ").alias("words")
    )
    # integer ceil-div, same arithmetic as the oracle's `//`:
    # n_chunks = 1 + (max(n - CHUNK, 0) + STRIDE - 1) div STRIDE
    sized = docs.select(
        "source",
        "words",
        F.size("words").alias("n"),
        F.expr(
            f"CAST(1 + (greatest(size(words) - {_CHUNK}, 0) + {_STRIDE - 1}) div {_STRIDE} AS BIGINT)"
        ).alias("n_chunks"),
    )
    chunks = sized.select(
        "source",
        "n",
        "words",
        F.explode(
            F.sequence(
                F.lit(1), 1 + (F.col("n_chunks") - 1) * _STRIDE, F.lit(_STRIDE)
            )
        ).alias("start"),
    )
    chunk_text = F.array_join(F.slice(F.col("words"), F.col("start"), F.lit(_CHUNK)), " ")
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.least(F.lit(_CHUNK), F.col("n") - F.col("start") + 1))
            .cast("bigint")
            .alias("total_chunk_tokens"),
            F.countDistinct(F.md5(chunk_text)).alias("distinct_chunks"),
        )
        .orderBy("source")
    )


@register(
    "q98_per_group_sample",
    """
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM ranked
    WHERE rn <= 25
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("pipeline", "sampling", "window"),
    doc=(
        "Deterministic per-group sampling: exactly 25 docs per language, "
        "chosen by md5-hash order — random-looking but identical across "
        "runs, engines, and cluster sizes (rand()/TABLESAMPLE are "
        "neither). One shuffle on lang; row_number short-circuits per "
        "partition so only the top-k survive the window."
    ),
)
def q98_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        t(spark, sf_dir, "documents")
        .select("lang", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 25)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


# Sequence packing (r64): 512-token training sequences, per-source streams.
_SEQ_LEN = 512


@register(
    "r64_sequence_packing",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             CASE WHEN {_NORM} = '' THEN 0
                  ELSE length({_NORM}) - length(replace({_NORM}, ' ', '')) + 1
             END AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source
                              ORDER BY md5(doc_id::VARCHAR), doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks WHERE n_tok > 0
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((MAX(cum) - 1) // {_SEQ_LEN} + 1 AS BIGINT) AS n_sequences,
           CAST(SUM(CASE WHEN (cum - n_tok) // {_SEQ_LEN} <> (cum - 1) // {_SEQ_LEN}
                         THEN 1 ELSE 0 END) AS BIGINT) AS straddling_docs
    FROM packed
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "packing", "window"),
    doc=(
        "GPT-style sequence packing: concatenate each source's token "
        "stream in engine-portable md5 order and cut it into 512-token "
        "training sequences (operators/packing.pack_sequences). Reports "
        "per-source sequence counts and how many documents straddle a "
        "sequence boundary. Pure window arithmetic — one shuffle on the "
        "shard key, integer div so exactness survives past 2^53 tokens; "
        "each shard packs independently, exactly how a 100 TB corpus is "
        "packed per output shard in practice."
    ),
)
def r64_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count
    from ..operators.packing import pack_sequences

    docs = t(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    packed = pack_sequences(docs, "n_tok", "doc_id", "source", seq_len=_SEQ_LEN)
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.expr(f"CAST((max(cum_tokens) - 1) div {_SEQ_LEN} + 1 AS BIGINT)").alias(
                "n_sequences"
            ),
            F.sum((F.col("n_straddles") > 0).cast("int")).cast("bigint").alias(
                "straddling_docs"
            ),
        )
        .orderBy("source")
    )


@register(
    "r91_wav_decode_roundtrip",
    """
    WITH params AS (
      SELECT doc_id, 1 + doc_id % 2 AS channels, 50 + doc_id % 40 AS n_frames
      FROM documents
    ),
    idx AS (
      SELECT doc_id, channels, n_frames,
             unnest(generate_series(0, channels * n_frames - 1)) AS j
      FROM params
    ),
    samples AS (
      SELECT doc_id, channels, n_frames,
             ((doc_id * 31 + j * 17) % 4096) - 2048 AS s
      FROM idx
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(channels AS BIGINT) AS channels,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_frames * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(SUM(s) AS BIGINT) AS sample_sum,
           CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak
    FROM samples
    GROUP BY doc_id, channels, n_frames
    ORDER BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "wav"),
    doc=(
        "REAL audio codec, oracle-checked: per document, synthesize a "
        "deterministic PCM16 stream (values derived from doc_id), write "
        "it through the pure-stdlib WAV encoder AND read it back with "
        "the RIFF chunk-walking decoder (multimodal/wav.py), then report "
        "decoded frame counts, duration, and integer sample sums that "
        "the DuckDB oracle predicts arithmetically via generate_series. "
        "Any container/stride/endianness defect hash-fails. Arrow-"
        "batched mapInPandas, per-payload work, no shuffle."
    ),
)
def r91_wav_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    cols = ("doc_id", "channels", "n_frames", "duration_ms", "sample_sum", "abs_sum", "peak")
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])

    def batches(it):
        from ..multimodal.wav import audio_features, encode_wav

        for pdf in it:
            out = {k: [] for k in cols}
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                channels, n_frames = 1 + did % 2, 50 + did % 40
                samples = [
                    ((did * 31 + j * 17) % 4096) - 2048
                    for j in range(channels * n_frames)
                ]
                feats = audio_features(encode_wav(8000, channels, samples))
                out["doc_id"].append(did)
                out["channels"].append(feats["channels"])
                out["n_frames"].append(feats["n_frames"])
                out["duration_ms"].append(feats["duration_ms"])
                out["sample_sum"].append(feats["sample_sum"])
                out["abs_sum"].append(feats["abs_sum"])
                out["peak"].append(feats["peak"])
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema).orderBy("doc_id")


def _zorder_oracle() -> str:
    from ..operators.layout import sql_zorder_cte

    return f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(o_custkey AS BIGINT) AS o_custkey,
             CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS o_days
      FROM orders
    ),
    zed AS ({sql_zorder_cte('base', ['o_custkey', 'o_days'], bits=16)})
    SELECT zval >> 24 AS zbucket,
           COUNT(*) AS n,
           CAST(MIN(o_custkey) AS BIGINT) AS min_ck,
           CAST(MAX(o_custkey) AS BIGINT) AS max_ck,
           CAST(MIN(o_days) AS BIGINT) AS min_day,
           CAST(MAX(o_days) AS BIGINT) AS max_day
    FROM zed
    GROUP BY zbucket
    ORDER BY zbucket
    """


@register(
    "r77_zorder_locality",
    _zorder_oracle(),
    tags=("layout", "zorder", "data-skipping"),
    doc=(
        "Z-order (Morton) clustering key over (o_custkey, order date): "
        "operators/layout.zorder_key range-normalizes each dimension to "
        "16 bits via one broadcast global min/max row and interleaves "
        "bits with pure JVM shift/and/or expressions (whole-stage "
        "codegen, exact integer div). Grouping by the key's top 8 bits "
        "shows the locality contract data skipping relies on: every "
        "bucket covers a narrow range of BOTH dimensions (asserted in "
        "tests), so sorting a write by zval makes parquet row-group "
        "min/max stats prune on either column — Delta OPTIMIZE ZORDER "
        "re-expressed as plain relational ops. Oracle replays the "
        "identical normalize+interleave arithmetic."
    ),
)
def r77_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import zorder_key

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").cast("bigint").alias("o_custkey"),
        F.expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)").alias("o_days"),
    )
    zed = zorder_key(base, ["o_custkey", "o_days"], bits=16)
    return (
        zed.groupBy(F.shiftright("zval", 24).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_custkey").cast("bigint").alias("min_ck"),
            F.max("o_custkey").cast("bigint").alias("max_ck"),
            F.min("o_days").cast("bigint").alias("min_day"),
            F.max("o_days").cast("bigint").alias("max_day"),
        )
        .orderBy("zbucket")
    )


def _r92_oracle() -> str:
    # mirrors the generator in r92: n = 2 + doc_id%4 frames of w x h,
    # frame j colored ((id*37+j*11)%256, (id*59+j*13)%256, (id*83+j*17)%256);
    # sampled indices j*(n-1)//2 for j in 0..2 (k=3).
    w, h = "(1 + doc_id % 7)", "(1 + doc_id % 5)"
    n = "(2 + doc_id % 4)"
    idx = lambda j: f"(({j} * ({n} - 1)) // 2)"
    def frame_sum(i):
        return (
            f"((doc_id * 37 + {i} * 11) % 256"
            f" + (doc_id * 59 + {i} * 13) % 256"
            f" + (doc_id * 83 + {i} * 17) % 256) * {w} * {h}"
        )
    total = " + ".join(frame_sum(idx(j)) for j in range(3))
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST({n} AS BIGINT) AS n_frames,
           CAST({idx(1)} AS BIGINT) AS mid_idx,
           CAST({idx(2)} AS BIGINT) AS last_idx,
           CAST({total} AS BIGINT) AS sampled_pixel_sum
    FROM documents
    ORDER BY doc_id
    """


@register(
    "r92_video_frame_sampling",
    _r92_oracle(),
    tags=("multimodal", "pandas-udf", "video", "png"),
    doc=(
        "REAL video-frame pipeline, oracle-checked end to end: per "
        "document, build a PNGV container (multimodal/video.py — "
        "length-prefixed real PNG frames, frame colors derived from "
        "doc_id and frame index), sample 3 evenly-spaced frames with "
        "exact integer index arithmetic, decode each sampled frame "
        "through the CRC-checked stdlib PNG decoder, and report the "
        "decoded pixel sums. The DuckDB oracle predicts every column "
        "arithmetically, so container framing, sampling math, and codec "
        "output are all hash-verified. Arrow-batched mapInPandas, "
        "per-payload work only — the identical Spark plumbing carries "
        "mp4+ffmpeg in production (swap decode_pngv)."
    ),
)
def r92_video_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    cols = ("doc_id", "n_frames", "mid_idx", "last_idx", "sampled_pixel_sum")
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])

    def batches(it):
        from ..multimodal.png import decode_png, encode_png
        from ..multimodal.video import encode_pngv, sample_pngv

        for pdf in it:
            out = {k: [] for k in cols}
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w, h, n = 1 + did % 7, 1 + did % 5, 2 + did % 4
                frames = []
                for j in range(n):
                    color = bytes(
                        [(did * 37 + j * 11) % 256, (did * 59 + j * 13) % 256, (did * 83 + j * 17) % 256]
                    )
                    frames.append(encode_png(w, h, 3, color * (w * h)))
                sampled = sample_pngv(encode_pngv(frames), k=3)
                total = 0
                for _, png in sampled:
                    _, _, _, px = decode_png(png)
                    total += sum(px)
                out["doc_id"].append(did)
                out["n_frames"].append(n)
                out["mid_idx"].append(sampled[1][0])
                out["last_idx"].append(sampled[2][0])
                out["sampled_pixel_sum"].append(total)
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema).orderBy("doc_id")


@register(
    "r93_resize_roundtrip",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 5
               + ((x.x * (3 + d.doc_id % 6)) // 4) * 7
               + ((y.y * (2 + d.doc_id % 5)) // 3) * 13) % 256) AS v
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS x) x
      CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS y) y
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(4 AS BIGINT) AS out_w,
           CAST(3 AS BIGINT) AS out_h,
           CAST(SUM(v) AS BIGINT) AS pixel_sum
    FROM px
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "png", "resize"),
    doc=(
        "REAL image resize, oracle-checked: per document a gradient "
        "grayscale PNG (value (id*5 + x*7 + y*13) mod 256, dims from "
        "doc_id) goes through the full decode -> nearest-neighbor "
        "resample -> re-encode -> decode chain of the stdlib codec "
        "(multimodal/png.py resize_nearest via media.resize_image). The "
        "oracle predicts every output pixel arithmetically (source "
        "index = x*w div out_w — the same integer map), so filter math, "
        "stride handling, and both codec directions are hash-verified. "
        "Arrow-batched mapInPandas, per-payload work only."
    ),
)
def r93_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    cols = ("doc_id", "out_w", "out_h", "pixel_sum")
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])

    def batches(it):
        from ..multimodal.media import resize_image
        from ..multimodal.png import decode_png, encode_png

        for pdf in it:
            out = {k: [] for k in cols}
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w, h = 3 + did % 6, 2 + did % 5
                pixels = bytes(
                    (did * 5 + x * 7 + y * 13) % 256 for y in range(h) for x in range(w)
                )
                resized = resize_image(encode_png(w, h, 1, pixels), 4, 3)
                rw, rh, ch, rpx = decode_png(resized)
                out["doc_id"].append(did)
                out["out_w"].append(rw)
                out["out_h"].append(rh)
                out["pixel_sum"].append(sum(rpx))
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema).orderBy("doc_id")


@register(
    "r94_audio_resample_roundtrip",
    """
    WITH s AS (
      SELECT d.doc_id,
             (((d.doc_id * 31 + ((j.j * (20 + d.doc_id % 30)) // 16) * 17) % 4096) - 2048) AS v
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) j
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(16 AS BIGINT) AS n_frames,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           CAST(MAX(abs(v)) AS BIGINT) AS peak
    FROM s
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "wav", "resample"),
    doc=(
        "REAL audio resample, oracle-checked: per document a PCM16 WAV "
        "(samples (id*31 + i*17) mod 4096 - 2048, frame count from "
        "doc_id) runs encode -> decode -> nearest-neighbor resample to "
        "16 frames -> re-encode -> decode through the stdlib RIFF codec "
        "(multimodal/wav.py). The oracle predicts each resampled frame "
        "(source index = j*n_from div 16), so container parsing, "
        "sample packing, and the resampler are hash-verified."
    ),
)
def r94_audio_resample_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    cols = ("doc_id", "n_frames", "sample_sum", "peak")
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])

    def batches(it):
        from ..multimodal.wav import decode_wav, encode_wav, resample_nearest

        for pdf in it:
            out = {k: [] for k in cols}
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                n_from = 20 + did % 30
                samples = [((did * 31 + i * 17) % 4096) - 2048 for i in range(n_from)]
                sr, ch, nf, decoded = decode_wav(encode_wav(8000, 1, samples))
                resampled = resample_nearest(decoded, ch, nf, 16)
                sr2, ch2, nf2, final = decode_wav(encode_wav(8000, ch, resampled))
                out["doc_id"].append(did)
                out["n_frames"].append(nf2)
                out["sample_sum"].append(sum(final))
                out["peak"].append(max(abs(v) for v in final))
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema).orderBy("doc_id")


_DECON_GRAMS = "[array_to_string(words[i:i+3], ' ') for i in range(1, len(words) - 2)]"


@register(
    "r71_ngram_decontaminate",
    f"""
    WITH docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    bench AS (
      SELECT DISTINCT unnest({_DECON_GRAMS}) AS shingle
      FROM docs WHERE source IN ('src0', 'src1') AND len(words) >= 4
    ),
    train AS (
      SELECT DISTINCT doc_id, unnest({_DECON_GRAMS}) AS shingle
      FROM docs WHERE source NOT IN ('src0', 'src1') AND len(words) >= 4
    ),
    hits AS (
      SELECT doc_id, COUNT(*) AS hit_grams
      FROM train JOIN bench USING (shingle)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.hit_grams, 0) AS BIGINT) AS hit_grams,
           COALESCE(h.hit_grams, 0) > 0 AS contaminated
    FROM docs d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.source NOT IN ('src0', 'src1')
    ORDER BY d.doc_id
    """,
    tags=("pipeline", "decontamination", "ngram"),
    doc=(
        "N-gram-overlap benchmark decontamination (the GPT-3/PaLM rule: "
        "flag a training document if any of its word n-grams appears in "
        "an eval set; real pipelines use 8-13-grams, here 4-grams — the "
        "discriminating length for this synthetic vocabulary). Both "
        "sides shingle relationally (codegen'd lead() windows, one "
        "doc-keyed shuffle); the eval side collapses to a DISTINCT gram "
        "set that is tiny at any corpus scale, so the probe join "
        "broadcasts it and the 100 TB training side is never shuffled "
        "on the gram key. Returns one decision row per training doc "
        "(hit_grams = distinct overlapping grams, contaminated flag) — "
        "the n-gram upgrade of q76's exact-fingerprint anti-join."
    ),
)
def r71_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_relational

    docs = t(spark, sf_dir, "documents")
    is_bench = F.col("source").isin("src0", "src1")
    bench = (
        shingles_relational(docs.filter(is_bench), "text", "doc_id", k=4)
        .select("shingle")
        .distinct()
    )
    train = shingles_relational(
        docs.filter(~is_bench), "text", "doc_id", k=4, distinct=True
    )
    hits = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("hit_grams"))
        .withColumnRenamed("doc", "doc_id")
    )
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(hits, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("hit_grams", F.lit(0)).cast("bigint").alias("hit_grams"),
            (F.coalesce("hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "r80_mixture_sample",
    f"""
    WITH stats AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM({_NTOK}) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    weighted AS (
      SELECT source, n_docs, tokens,
             LEAST(10000, (SELECT SUM(tokens) FROM stats) * 10000
                          // ((SELECT COUNT(*) FROM stats) * tokens)) AS p_bp
      FROM stats
    ),
    sampled AS (
      SELECT d.source, {_NTOK} AS ntok, w.p_bp,
             ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS h_bp
      FROM documents d JOIN weighted w USING (source)
    )
    SELECT w.source, w.n_docs, w.tokens, CAST(w.p_bp AS BIGINT) AS p_bp,
           CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
    FROM weighted w
    LEFT JOIN (
      SELECT source, COUNT(*) AS kept_docs, SUM(ntok) AS kept_tokens
      FROM sampled WHERE h_bp < p_bp GROUP BY source
    ) k USING (source)
    ORDER BY w.source
    """,
    tags=("pipeline", "sampling", "mixture"),
    doc=(
        "Domain-mixture resampling: compute each source's share of the "
        "corpus token budget, derive the sampling probability that "
        "levels every source to a uniform target (capped at 1 — no "
        "upsampling), and materialize the downsample decision "
        "deterministically by md5 hash fraction. Integer basis-point "
        "arithmetic end to end, so the probability and every keep "
        "decision are bit-identical across engines, runs, and cluster "
        "sizes (at real corpus scale widen the *10000 product to "
        "DECIMAL). The per-source stats table is tiny and broadcast "
        "back; sampling itself is map-side — the corpus never shuffles. "
        "This is the mixing step that turns raw crawl sources into a "
        "training mixture."
    ),
)
def r80_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    docs = t(spark, sf_dir, "documents")
    ntok = token_count(F.col("text"))
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(ntok).cast("bigint").alias("tokens")
    )
    totals = stats.agg(
        F.sum("tokens").alias("tt"), F.count(F.lit(1)).alias("ns")
    )
    weighted = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "source", "n_docs", "tokens",
            F.expr("least(10000, (tt * 10000) div (ns * tokens))").alias("p_bp"),
        )
    )
    h_bp = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
    )
    kept = (
        docs.select("source", ntok.alias("ntok"), h_bp.alias("h_bp"))
        .join(F.broadcast(weighted.select("source", "p_bp")), "source")
        .filter(F.col("h_bp") < F.col("p_bp"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept_docs"), F.sum("ntok").alias("kept_tokens"))
    )
    return (
        weighted.join(kept, "source", "left_outer")
        .select(
            "source", "n_docs", "tokens",
            F.col("p_bp").cast("bigint").alias("p_bp"),
            F.coalesce("kept_docs", F.lit(0)).cast("bigint").alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
        )
        .orderBy("source")
    )


@register(
    "r82_dedup_best_keeper",
    _DUCK_CLUSTERS + f""",
    scored AS (
      SELECT c.id AS doc_id, c.component, {_SQL_QUALITY} AS quality
      FROM comp c JOIN documents ON documents.doc_id = c.id
    ),
    ranked AS (
      SELECT component, doc_id, quality,
             ROW_NUMBER() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS cluster_size
      FROM scored
    )
    SELECT component, CAST(cluster_size AS BIGINT) AS cluster_size,
           doc_id AS keeper_id, quality AS keeper_quality
    FROM ranked WHERE rn = 1
    ORDER BY component
    """,
    tags=("pipeline", "dedup-clusters", "quality", "iterative"),
    doc=(
        "Quality-aware dedup keeper selection: the q64 Jaccard pair "
        "graph collapses into connected components (r63's iterative "
        "min-label loop), then each cluster keeps its HIGHEST-quality "
        "document (q66's scoring heuristic; doc_id tiebreak) instead of "
        "the naive lowest id — the decision production dedup actually "
        "ships. One extra join against the tiny component table plus a "
        "component-keyed window; the oracle recursive-CTE replay ranks "
        "identically because the quality arithmetic is bit-equal "
        "cross-engine (validated by q66)."
    ),
)
def r82_dedup_best_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.05, partition_col="source"
    )
    comps = connected_components(pairs)
    scored = comps.join(
        docs.select(F.col("doc_id").alias("id"), quality_score(F.col("text"))), "id"
    )
    wrank = W.partitionBy("component").orderBy(F.desc("quality"), F.asc("id"))
    wsize = W.partitionBy("component")
    return (
        scored.select(
            "component", "id", "quality",
            F.row_number().over(wrank).alias("rn"),
            F.count(F.lit(1)).over(wsize).alias("cluster_size"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("id").alias("keeper_id"),
            F.col("quality").alias("keeper_quality"),
        )
        .orderBy("component")
    )


_PROF_NUM = ("l_quantity", "l_extendedprice", "l_discount")
_PROF_STR = ("l_shipdate", "l_returnflag", "l_linestatus")


def _duck_profile_sql() -> str:
    aggs = ["COUNT(*) AS n_rows"]
    for c in _PROF_NUM + _PROF_STR:
        aggs += [f"COUNT({c}) AS {c}__nn", f"COUNT(DISTINCT {c}) AS {c}__nd"]
    for c in _PROF_NUM:
        aggs += [f"CAST(MIN({c}) AS DOUBLE) AS {c}__mn", f"CAST(MAX({c}) AS DOUBLE) AS {c}__mx"]
    for c in _PROF_STR:
        aggs += [
            f"CAST(MIN({c}) AS VARCHAR) AS {c}__mns",
            f"CAST(MAX({c}) AS VARCHAR) AS {c}__mxs",
        ]
    rows = []
    for c in _PROF_NUM:
        rows.append(
            f"SELECT '{c}' AS col_name, n_rows, n_rows - {c}__nn AS n_null, "
            f"{c}__nd AS n_distinct, {c}__mn AS min_num, {c}__mx AS max_num, "
            f"CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM agg"
        )
    for c in _PROF_STR:
        rows.append(
            f"SELECT '{c}', n_rows, n_rows - {c}__nn, {c}__nd, "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), {c}__mns, {c}__mxs FROM agg"
        )
    union = "\n    UNION ALL\n    ".join(rows)
    return f"""
    WITH agg AS (SELECT {', '.join(aggs)} FROM lineitem)
    SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_null AS BIGINT) AS n_null,
           CAST(n_distinct AS BIGINT) AS n_distinct, min_num, max_num, min_str, max_str
    FROM ({union})
    ORDER BY col_name
    """


@register(
    "r83_table_profile",
    _duck_profile_sql(),
    tags=("pipeline", "profiling", "aggregate"),
    doc=(
        "ANALYZE-style table profiling: one scan computes count / null "
        "count / exact distinct count / min / max for six lineitem "
        "columns, then a driver-free explode turns the single aggregate "
        "row into one profile row per column. Exact COUNT(DISTINCT) on "
        "several columns expands the scan (Spark's Expand operator "
        "multiplies rows per distinct aggregate) — at 100 TB swap in "
        "approx_count_distinct (q89's HLL path) per column and the plan "
        "collapses back to one map-side pass. Min/max land in typed "
        "columns (numeric vs string) so the schema stays honest."
    ),
)
def r83_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROF_NUM + _PROF_STR:
        aggs += [F.count(c).alias(f"{c}__nn"), F.countDistinct(c).alias(f"{c}__nd")]
    for c in _PROF_NUM:
        aggs += [F.min(c).cast("double").alias(f"{c}__mn"), F.max(c).cast("double").alias(f"{c}__mx")]
    for c in _PROF_STR:
        aggs += [
        F.min(c).cast("string").alias(f"{c}__mns"),
        F.max(c).cast("string").alias(f"{c}__mxs"),
    ]
    row = li.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for c in _PROF_NUM:
        structs.append(F.struct(
            F.lit(c).alias("col_name"), F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"{c}__nn")).alias("n_null"),
            F.col(f"{c}__nd").alias("n_distinct"),
            F.col(f"{c}__mn").alias("min_num"), F.col(f"{c}__mx").alias("max_num"),
            null_s.alias("min_str"), null_s.alias("max_str"),
        ))
    for c in _PROF_STR:
        structs.append(F.struct(
            F.lit(c).alias("col_name"), F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"{c}__nn")).alias("n_null"),
            F.col(f"{c}__nd").alias("n_distinct"),
            null_d.alias("min_num"), null_d.alias("max_num"),
            F.col(f"{c}__mns").alias("min_str"), F.col(f"{c}__mxs").alias("max_str"),
        ))
    return (
        row.select(F.explode(F.array(*structs)).alias("s"))
        .select("s.*")
        .withColumn("n_rows", F.col("n_rows").cast("bigint"))
        .withColumn("n_null", F.col("n_null").cast("bigint"))
        .withColumn("n_distinct", F.col("n_distinct").cast("bigint"))
        .orderBy("col_name")
    )


@register(
    "r97_bloom_prune",
    """
    WITH build AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      SELECT DISTINCT
        ('0x' || substring(md5(key::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
          % 8192 AS pos
      FROM build, UNNEST([0, 1, 2]) AS u(i)
    ),
    probe AS (
      SELECT DISTINCT c_custkey,
        ('0x' || substring(md5(c_custkey::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
          % 8192 AS pos
      FROM customer, UNNEST([0, 1, 2]) AS u(i)
    ),
    verdict AS (
      SELECT p.c_custkey,
             MIN(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) = 1 AS bloom_pass
      FROM probe p LEFT JOIN bits b ON p.pos = b.pos
      GROUP BY p.c_custkey
    )
    SELECT c.c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN v.bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS bloom_pass,
           CAST(SUM(CASE WHEN bu.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS true_match,
           CAST(SUM(CASE WHEN v.bloom_pass AND bu.key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS false_pos
    FROM customer c
    JOIN verdict v ON v.c_custkey = c.c_custkey
    LEFT JOIN build bu ON bu.key = c.c_custkey
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
    tags=("pipeline", "bloom", "join-pruning"),
    doc=(
        "Bloom-filter join pruning (operators/sketches.bloom_build/"
        "bloom_probe): the urgent-order customer keys build an 8192-bit/"
        "3-hash filter — at most m rows, one map-side explode + "
        "distinct — which broadcasts to prune the probe scan before any "
        "exact join, the explicit form of a runtime row-group filter. "
        "Per nation the query reports filter verdicts against ground "
        "truth (exact left join), so the oracle pins both the bit "
        "arithmetic (engine-portable md5-prefix positions) and the "
        "false-positive census. At 100 TB the filter is built on the "
        "small side in one pass, persists as a ~m-row table, and every "
        "probe partition drops non-candidate rows map-side — no "
        "shuffle of the probe table until only candidates remain; "
        "filters from separate ingest batches merge by union+distinct."
    ),
)
def r97_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_build, bloom_probe

    build_keys = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    bits = bloom_build(build_keys, "key", m=8192, k=3)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    probed = bloom_probe(cust, "c_custkey", bits, m=8192, k=3)
    truth = F.broadcast(build_keys.withColumn("__true", F.lit(1)))
    return (
        probed.join(truth, probed["c_custkey"] == truth["key"], "left")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
            .cast("bigint")
            .alias("bloom_pass"),
            F.sum(F.when(F.col("__true").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("true_match"),
            F.sum(
                F.when(F.col("bloom_pass") & F.col("__true").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("false_pos"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "s03_pps_sample",
    """
    WITH keyed AS (
      SELECT source, n_chars,
             ('0x' || substring(md5('pps:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h * 1500 < n_chars * 4294967296 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN h * 1500 < n_chars * 4294967296 THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM keyed
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "sampling", "pps"),
    doc=(
        "Probability-proportional-to-size sampling: each document is "
        "kept with probability min(1, n_chars/1500), favoring long "
        "documents the way token-budget-aware corpus builders do, "
        "implemented as the pure-integer comparison "
        "h*1500 < n_chars*2^32 on a salted md5 hash — no floating "
        "point, no rand(), so the SAME documents are kept on any "
        "engine, any cluster size, any run (reproducible sampling is "
        "what makes ablations comparable). Entirely map-side until the "
        "tiny per-source aggregate."
    ),
)
def s03_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("pps:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    keep = (h * 1500) < (F.col("n_chars") * F.lit(4294967296))
    return (
        docs.select("source", "n_chars", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "s09_fit_transform_binning",
    """
    WITH labeled AS (
      SELECT lang, n_chars, doc_id,
             CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80
                  THEN 'train'
                  WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
                  THEN 'valid' ELSE 'test' END AS split
      FROM documents
    ),
    ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM labeled WHERE split = 'train'
    ),
    cuts AS (
      SELECT lang,
             MAX(CASE WHEN rnk = CAST(ceil(0.25 * n) AS BIGINT) THEN n_chars END) AS c1,
             MAX(CASE WHEN rnk = CAST(ceil(0.50 * n) AS BIGINT) THEN n_chars END) AS c2,
             MAX(CASE WHEN rnk = CAST(ceil(0.75 * n) AS BIGINT) THEN n_chars END) AS c3
      FROM ranked GROUP BY lang
    )
    SELECT l.lang, l.split,
           CASE WHEN l.n_chars <= c.c1 THEN 0
                WHEN l.n_chars <= c.c2 THEN 1
                WHEN l.n_chars <= c.c3 THEN 2 ELSE 3 END AS bin,
           COUNT(*) AS n_docs,
           MIN(l.n_chars) AS min_chars,
           MAX(l.n_chars) AS max_chars
    FROM labeled l JOIN cuts c ON c.lang = l.lang
    GROUP BY l.lang, l.split, bin
    ORDER BY l.lang, l.split, bin
    """,
    tags=("pipeline", "fit-transform", "binning"),
    doc=(
        "The fit/transform discipline as a relational plan: per-language "
        "length-quartile cut points are fitted on the TRAIN split only "
        "(discrete rank-based cuts, no interpolation) and applied to "
        "every split through a tiny broadcast join — the no-leakage "
        "pattern every feature pipeline needs (valid/test statistics "
        "never influence the bins). Train ranking windows partition by "
        "language so no global sort appears; the transform side is one "
        "map-side CASE after the broadcast. All-integer logic — "
        "identical bins on any engine. The split labels reuse q77's "
        "md5-bucket arithmetic, so split assignment is itself "
        "reproducible and engine-portable."
    ),
)
def s09_fit_transform_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    labeled = docs.select("lang", "n_chars", "doc_id", split.alias("split"))
    ranked = labeled.filter(F.col("split") == "train").select(
        "lang",
        "n_chars",
        F.row_number()
        .over(W.partitionBy("lang").orderBy("n_chars", "doc_id"))
        .alias("rnk"),
        F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n"),
    )

    def cut(q: float, name: str):
        at = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return F.max(F.when(F.col("rnk") == at, F.col("n_chars"))).alias(name)

    cuts = ranked.groupBy("lang").agg(cut(0.25, "c1"), cut(0.50, "c2"), cut(0.75, "c3"))
    binned = labeled.join(F.broadcast(cuts), "lang").select(
        "lang",
        "split",
        F.when(F.col("n_chars") <= F.col("c1"), 0)
        .when(F.col("n_chars") <= F.col("c2"), 1)
        .when(F.col("n_chars") <= F.col("c3"), 2)
        .otherwise(3)
        .alias("bin"),
        "n_chars",
    )
    return (
        binned.groupBy("lang", "split", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "split", "bin")
    )


@register(
    "s25_weighted_reservoir",
    """
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             ln((('0x' || substring(md5('aes:' || doc_id::VARCHAR), 1, 8))::BIGINT + 0.5)
                / 4294967296.0) / n_chars AS k
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, n_chars, k,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rnk
      FROM keyed
    )
    SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars
    FROM ranked WHERE rnk <= 3
    ORDER BY source, rnk
    """,
    tags=("pipeline", "sampling", "weighted-reservoir"),
    doc=(
        "Weighted sampling WITHOUT replacement, top-3 per source "
        "(Efraimidis-Spirakis A-ES): each document draws key "
        "ln(u)/weight from a salted-md5 uniform and the k largest keys "
        "are the sample — the distributed, single-pass equivalent of "
        "sequential weighted reservoir sampling, and the standard way "
        "to draw a size-weighted corpus sample that is REPRODUCIBLE "
        "across engines, runs, and cluster sizes (no rand()). "
        "u = (h + 0.5)/2^32 is an exact dyadic double (never zero), "
        "so ln sees identical inputs in both engines; complements "
        "s03's with-replacement PPS keep/drop. Map-side keys + one "
        "source-partitioned top-k window over doc-count rows."
    ),
)
def s25_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    key = F.log((h + F.lit(0.5)) / F.lit(4294967296.0)) / F.col("n_chars")
    ranked = (
        t(spark, sf_dir, "documents")
        .select("source", "doc_id", "n_chars", key.alias("k"))
        .withColumn(
            "rnk",
            F.row_number().over(W.partitionBy("source").orderBy(F.desc("k"), "doc_id")),
        )
    )
    return (
        ranked.filter(F.col("rnk") <= 3)
        .select("source", F.col("rnk").cast("bigint").alias("rnk"), "doc_id", "n_chars")
        .orderBy("source", "rnk")
    )


@register(
    "s52_image_dhash_dedup",
    """
    WITH params AS (
      SELECT doc_id,
             doc_id % 37 AS fam,
             10 + (doc_id % 37) % 5 AS w,
             8 + (doc_id % 37) % 3 AS h,
             doc_id % 3 AS var
      FROM documents
    ),
    bits AS (
      SELECT p.doc_id, y.y, x.x,
             CASE WHEN
               ((p.fam * 11 + ((x.x * p.w) // 9) * 7 + ((y.y * p.h) // 8) * 13
                 + CASE WHEN (((x.x * p.w) // 9) + ((y.y * p.h) // 8)) % 9 = 0
                        THEN p.var ELSE 0 END) % 256)
               >
               ((p.fam * 11 + (((x.x + 1) * p.w) // 9) * 7 + ((y.y * p.h) // 8) * 13
                 + CASE WHEN ((((x.x + 1) * p.w) // 9) + ((y.y * p.h) // 8)) % 9 = 0
                        THEN p.var ELSE 0 END) % 256)
             THEN '1' ELSE '0' END AS b
      FROM params p
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) x
    ),
    hashed AS (
      SELECT doc_id, string_agg(b, '' ORDER BY y, x) AS dhash
      FROM bits GROUP BY doc_id
    )
    SELECT dhash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper
    FROM hashed
    GROUP BY dhash
    ORDER BY dhash
    """,
    tags=("multimodal", "pandas-udf", "png", "dedup", "phash"),
    doc=(
        "REAL perceptual-hash image dedup, oracle-checked end to end: "
        "per document a deterministic grayscale PNG (pixel (fam*11 + "
        "x*7 + y*13 [+ tiny variant perturbation]) mod 256; 37 image "
        "families, so the corpus contains true duplicate groups) runs "
        "the full stdlib codec chain — encode -> decode -> "
        "nearest-neighbor resize to the canonical 9x8 dHash grid "
        "(multimodal/png.resize_nearest via media.resize_image, PNG "
        "roundtrip included) -> 64-bit difference hash (row-adjacent "
        "brightness comparisons). The hash computation is per-payload "
        "Arrow-batched mapInPandas (the codec is genuinely imperative "
        "byte work); the DEDUP is a plain Spark groupBy on the hash — "
        "exactly how a 100 TB image corpus dedups: hash in the data "
        "path, cluster relationally. The DuckDB oracle replays the "
        "resize index arithmetic and comparison bits symbolically, so "
        "codec, resampler, and hash are all value-pinned. Near-dup "
        "extension: band the 64 bits like q67's SimHash hamming "
        "buckets; swap the stdlib codec for PIL at the documented "
        "boundary for real formats."
    ),
)
def s52_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = _dhash_frame(t(spark, sf_dir, "documents").select("doc_id"))
    return (
        hashed.groupBy("dhash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper"),
        )
        .orderBy("dhash")
    )


def _dhash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, dhash) via the synthetic-image PNG codec chain (shared
    by s52's dedup and s59's joint multimodal closure)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("dhash", T.StringType()),
        ]
    )

    def batches(it):
        from ..multimodal.media import resize_image
        from ..multimodal.png import decode_png, encode_png

        for pdf in it:
            ids, hashes = [], []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                fam, var = did % 37, did % 3
                w, h = 10 + fam % 5, 8 + fam % 3
                pixels = bytes(
                    (fam * 11 + x * 7 + y * 13 + (var if (x + y) % 9 == 0 else 0))
                    % 256
                    for y in range(h)
                    for x in range(w)
                )
                small = resize_image(encode_png(w, h, 1, pixels), 9, 8)
                _, _, _, px = decode_png(small)
                bits = "".join(
                    "1" if px[y * 9 + x] > px[y * 9 + x + 1] else "0"
                    for y in range(8)
                    for x in range(8)
                )
                ids.append(did)
                hashes.append(bits)
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return docs.mapInPandas(batches, schema)


@register(
    "s57_video_scene_cuts",
    """
    WITH params AS (
      SELECT doc_id, 4 + doc_id % 5 AS n, 2 + doc_id % 2 AS s
      FROM documents
    ),
    diffs AS (
      SELECT p.doc_id, j.j,
             abs(((p.doc_id * 23 + (j.j // p.s) * 71) % 256)
                 - ((p.doc_id * 23 + ((j.j - 1) // p.s) * 71) % 256)) AS d
      FROM params p
      CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS j) j
      WHERE j.j < p.n
    )
    SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
           CAST(p.n AS BIGINT) AS n_frames,
           CAST(COALESCE(SUM(CASE WHEN d.d > 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cuts,
           CAST(COALESCE(MIN(CASE WHEN d.d > 10 THEN d.j END), -1) AS BIGINT) AS first_cut,
           CAST(COALESCE(SUM(d.d), 0) AS BIGINT) AS diff_sum
    FROM params p LEFT JOIN diffs d ON d.doc_id = p.doc_id
    GROUP BY p.doc_id, p.n
    ORDER BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "video", "png", "scene-cut"),
    doc=(
        "REAL video scene-cut detection, oracle-checked end to end: per "
        "document a PNGV container of solid-color PNG frames (scene "
        "color steps every s frames), every frame decoded through the "
        "CRC-checked stdlib PNG codec, consecutive frames differenced "
        "on mean absolute pixel delta, cuts flagged above threshold — "
        "the shot-boundary primitive of video curation pipelines "
        "(dedup by scene, sample per shot). The DuckDB oracle predicts "
        "frame colors, deltas, cut count and first cut arithmetically, "
        "so container framing, codec output, and the detector are all "
        "hash-verified. Arrow-batched mapInPandas, per-payload work "
        "only; swap decode_pngv for an ffmpeg demux in production."
    ),
)
def s57_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    cols = ("doc_id", "n_frames", "n_cuts", "first_cut", "diff_sum")
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])

    def batches(it):
        from ..multimodal.png import decode_png, encode_png
        from ..multimodal.video import decode_pngv, encode_pngv

        for pdf in it:
            out = {k: [] for k in cols}
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                n, s = 4 + did % 5, 2 + did % 2
                w, h = 3, 2
                frames = [
                    encode_png(
                        w, h, 1, bytes([(did * 23 + (j // s) * 71) % 256]) * (w * h)
                    )
                    for j in range(n)
                ]
                payload = encode_pngv(frames)
                prev = None
                n_cuts, first_cut, diff_sum = 0, -1, 0
                for j, png in enumerate(decode_pngv(payload)):
                    _, _, _, px = decode_png(png)
                    mean = sum(px) // len(px)  # solid color: exact mean
                    if prev is not None:
                        d = abs(mean - prev)
                        diff_sum += d
                        if d > 10:
                            n_cuts += 1
                            if first_cut < 0:
                                first_cut = j
                    prev = mean
                out["doc_id"].append(did)
                out["n_frames"].append(n)
                out["n_cuts"].append(n_cuts)
                out["first_cut"].append(first_cut)
                out["diff_sum"].append(diff_sum)
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema).orderBy("doc_id")


@register(
    "s58_audio_rms_windows",
    """
    WITH params AS (
      SELECT doc_id, 24 + doc_id % 16 AS n FROM documents
    ),
    s AS (
      SELECT p.doc_id, i.i, i.i // 8 AS win,
             (((p.doc_id * 31 + i.i * 17) % 4096) - 2048) AS v
      FROM params p
      CROSS JOIN (SELECT unnest(generate_series(0, 39)) AS i) i
      WHERE i.i < (p.n // 8) * 8
    ),
    wins AS (
      SELECT doc_id, win, SUM(v * v) AS energy
      FROM s GROUP BY doc_id, win
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(MAX(energy) AS BIGINT) AS max_energy,
           CAST(SUM(energy) AS BIGINT) AS total_energy
    FROM wins
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "wav", "features"),
    doc=(
        "REAL audio energy windowing, oracle-checked: per document a "
        "PCM16 WAV (samples (id*31 + i*17) mod 4096 - 2048) runs "
        "encode -> decode through the stdlib RIFF codec, then "
        "8-frame windows report sum-of-squares energy (the RMS/VAD "
        "primitive of audio curation — silence trimming, loudness "
        "normalization, segment selection). All-integer arithmetic, so "
        "the DuckDB oracle predicts every window energy exactly and "
        "the codec roundtrip is hash-verified. Partial trailing "
        "windows are dropped (n div 8 full windows), stated in both "
        "engines."
    ),
)
def s58_audio_rms_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    cols = ("doc_id", "n_windows", "max_energy", "total_energy")
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])

    def batches(it):
        from ..multimodal.wav import decode_wav, encode_wav

        for pdf in it:
            out = {k: [] for k in cols}
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                n = 24 + did % 16
                samples = [((did * 31 + i * 17) % 4096) - 2048 for i in range(n)]
                _, _, _, decoded = decode_wav(encode_wav(16000, 1, samples))
                full = (len(decoded) // 8) * 8
                energies = [
                    sum(v * v for v in decoded[w : w + 8])
                    for w in range(0, full, 8)
                ]
                out["doc_id"].append(did)
                out["n_windows"].append(len(energies))
                out["max_energy"].append(max(energies))
                out["total_energy"].append(sum(energies))
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema).orderBy("doc_id")


@register(
    "s59_joint_multimodal_dedup",
    r"""
    WITH RECURSIVE params AS (
      SELECT doc_id,
             doc_id % 37 AS fam,
             10 + (doc_id % 37) % 5 AS w,
             8 + (doc_id % 37) % 3 AS h,
             doc_id % 3 AS var
      FROM documents
    ),
    bits AS (
      SELECT p.doc_id, y.y, x.x,
             CASE WHEN
               ((p.fam * 11 + ((x.x * p.w) // 9) * 7 + ((y.y * p.h) // 8) * 13
                 + CASE WHEN (((x.x * p.w) // 9) + ((y.y * p.h) // 8)) % 9 = 0
                        THEN p.var ELSE 0 END) % 256)
               >
               ((p.fam * 11 + (((x.x + 1) * p.w) // 9) * 7 + ((y.y * p.h) // 8) * 13
                 + CASE WHEN ((((x.x + 1) * p.w) // 9) + ((y.y * p.h) // 8)) % 9 = 0
                        THEN p.var ELSE 0 END) % 256)
             THEN '1' ELSE '0' END AS b
      FROM params p
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) x
    ),
    hashed AS (
      SELECT doc_id, string_agg(b, '' ORDER BY y, x) AS dhash
      FROM bits GROUP BY doc_id
    ),
    norm AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    tkeep AS (SELECT fp, MIN(doc_id) AS k FROM norm GROUP BY fp),
    tedges AS (
      SELECT t.k AS a, n.doc_id AS b
      FROM norm n JOIN tkeep t ON t.fp = n.fp WHERE n.doc_id <> t.k
    ),
    ikeep AS (SELECT dhash, MIN(doc_id) AS k FROM hashed GROUP BY dhash),
    iedges AS (
      SELECT i.k AS a, h.doc_id AS b
      FROM hashed h JOIN ikeep i ON i.dhash = h.dhash WHERE h.doc_id <> i.k
    ),
    edges AS (SELECT a, b FROM tedges UNION SELECT a, b FROM iedges),
    und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    walk(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT w.a, u.b FROM walk w JOIN und u ON u.a = w.b WHERE u.b <> w.a
    ),
    labels AS (
      SELECT d.doc_id, LEAST(d.doc_id, COALESCE(MIN(w.b), d.doc_id)) AS comp
      FROM documents d LEFT JOIN walk w ON w.a = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT CAST(comp AS BIGINT) AS keeper, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM labels
    GROUP BY comp
    ORDER BY keeper
    """,
    tags=("multimodal", "dedup", "graph", "phash"),
    doc=(
        "Joint multimodal dedup closure: documents are duplicates if "
        "their TEXT matches exactly (md5 fingerprint) OR their IMAGE "
        "perceptually matches (s52's dHash through the real PNG codec "
        "chain); both evidence kinds become star edges to each group's "
        "minimum id, the union graph runs min-label-propagation "
        "connected components (operators/dedup.connected_components), "
        "and every document lands in exactly one cluster under one "
        "keeper — the cross-modal transitivity (A~B by text, B~C by "
        "image => one cluster) that per-modality dedup passes miss. "
        "Star edges bound each group's diameter at 2, so the label "
        "loop converges in a few rounds at any corpus size. The "
        "DuckDB oracle replays the dHash arithmetic and closes the "
        "same graph with a recursive CTE."
    ),
)
def s59_joint_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import fingerprint
    from ..operators.dedup import _persist, connected_components

    docs = t(spark, sf_dir, "documents")
    norm = docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    tkeep = norm.groupBy("fp").agg(F.min("doc_id").alias("k"))
    tedges = (
        norm.join(tkeep, "fp")
        .filter(F.col("doc_id") != F.col("k"))
        .select(F.col("k").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    # Persist the dHash table: it feeds BOTH sides of the ikeep join
    # below (the groupBy branch and the join-back branch), and its
    # lineage is the Python PNG encode→resize→decode pass — uncached,
    # one job decodes the whole corpus twice (guide §4/§5; measured
    # ~2x the codec cost at sf0.1). One short row per doc.
    hashed = _persist(_dhash_frame(docs.select("doc_id")))
    ikeep = hashed.groupBy("dhash").agg(F.min("doc_id").alias("k"))
    iedges = (
        hashed.join(ikeep, "dhash")
        .filter(F.col("doc_id") != F.col("k"))
        .select(F.col("k").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    # Persist the edge list before the label loop: every CC round joins
    # against it, and its lineage includes the Python-codec dHash pass —
    # uncached, each round would re-decode the whole corpus. Released
    # via release_caches(), the documented operator-cache contract.
    edges = _persist(tedges.unionAll(iedges).distinct())
    labels = connected_components(edges)
    all_labels = (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(F.coalesce("component", "doc_id").alias("comp"))
    )
    return (
        all_labels.groupBy("comp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(F.col("comp").cast("bigint").alias("keeper"), "n_docs")
        .orderBy("keeper")
    )


@register(
    "s82_curation_funnel",
    f"""
    WITH corpus AS (
      SELECT doc_id, source, lower({_NORM}) AS norm, {_NTOK} AS words, n_chars
      FROM documents WHERE doc_id % 17 <> 0
    ),
    quality AS (
      SELECT * FROM corpus
      WHERE words >= 10 AND words <= 5000
        AND CAST(length(replace(norm, ' ', '')) AS DOUBLE)
            / CAST(words AS DOUBLE) BETWEEN 3.0 AND 12.0
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(norm)
                                     ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    bench AS (
      SELECT DISTINCT md5(lower({_NORM})) AS fp
      FROM documents WHERE doc_id % 17 = 0
    ),
    clean AS (
      SELECT d.* FROM deduped d
      WHERE NOT EXISTS (SELECT 1 FROM bench b WHERE b.fp = md5(d.norm))
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM clean
      ) WHERE rk <= 50
    ),
    sampled AS (
      SELECT * FROM capped
      WHERE ('0x' || substring(md5('s82:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 100 < 80
    )
    SELECT * FROM (
      SELECT '1_corpus' AS stage, COUNT(*) AS n_docs,
             CAST(SUM(words) AS BIGINT) AS total_words FROM corpus
      UNION ALL
      SELECT '2_quality', COUNT(*), CAST(SUM(words) AS BIGINT) FROM quality
      UNION ALL
      SELECT '3_deduped', COUNT(*), CAST(SUM(words) AS BIGINT) FROM deduped
      UNION ALL
      SELECT '4_decontaminated', COUNT(*), CAST(SUM(words) AS BIGINT) FROM clean
      UNION ALL
      SELECT '5_domain_capped', COUNT(*), CAST(SUM(words) AS BIGINT) FROM capped
      UNION ALL
      SELECT '6_sampled', COUNT(*), CAST(SUM(words) AS BIGINT) FROM sampled
    ) ORDER BY stage
    """,
    tags=("pipeline", "curation", "funnel"),
    doc=(
        "The whole curation pipeline as ONE dataflow — the end-to-end "
        "shape a pretraining data job actually runs: quality gate "
        "(length + mean-word-length), exact dedup keeping the lowest "
        "doc_id, benchmark decontamination (broadcast anti-join), "
        "per-domain cap (deterministic md5-order rank), and an 80% "
        "deterministic hash sample; the result is the stage-by-stage "
        "retention funnel (docs + token mass per stage). Every keep "
        "decision is a pure hash/arithmetic function of the row, so "
        "the funnel is bit-reproducible at any cluster size, and each "
        "stage reuses the inventory's proven primitive (q66/q62/q76/"
        "s44/q77). Scale shape: one scan feeds the chain; the only "
        "shuffles are the dedup fingerprint groupBy and the domain-cap "
        "window; the bench side broadcasts. Stage counts are six 1-row "
        "aggregates over the SAME cached lineage (Catalyst reuses the "
        "exchange under AQE), unioned."
    ),
)
def s82_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import norm_ws, token_count
    from ..operators.dedup import _persist

    docs = t(spark, sf_dir, "documents")
    norm = F.lower(norm_ws(F.col("text")))
    # Project the text away IMMEDIATELY (guide §2.3): every funnel
    # decision below depends only on (doc_id, source, words, md5
    # fingerprint, non-space char count) — ~50 bytes/row — yet the
    # original spelling carried the full normalized text through BOTH
    # window exchanges (dedup partition + domain-cap partition) and
    # re-planned the scan+normalize prefix once per stage aggregate
    # (plan: 18 parquet scans, 36 Windows). The slim projection is
    # computed once, persisted (guide §5: six stage branches + the
    # window chain consume it), and nothing heavier than these five
    # short columns ever crosses an exchange.
    base = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("words"),
        F.md5(norm).alias("fp"),
        F.length(F.replace(norm, F.lit(" "), F.lit(""))).alias("nsp_chars"),
    )
    corpus = _persist(base.filter(F.col("doc_id") % 17 != 0))
    mean_word = F.col("nsp_chars").cast("double") / F.col("words").cast(
        "double"
    )
    quality = corpus.filter(
        (F.col("words") >= 10)
        & (F.col("words") <= 5000)
        & mean_word.between(3.0, 12.0)
    )
    wfp = W.partitionBy(F.col("fp")).orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(wfp))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    bench = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .select(F.md5(norm).alias("fp"))
        .distinct()
    )
    # clean is a prefix of stages 4, 5 and 6; persisting it caps the
    # dedup-window re-execution at one. bench would otherwise re-scan
    # and re-md5 the full text once per consuming stage (it rides
    # inside clean's lineage), so it executes once here too. Both are
    # slim-column tables, bounded by the corpus row count.
    clean = _persist(deduped.join(F.broadcast(bench), "fp", "left_anti"))
    wcap = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    # capped: prefix of stages 5 and 6 — one cap-window execution.
    capped = _persist(
        clean.withColumn("rk", F.row_number().over(wcap))
        .filter(F.col("rk") <= 50)
        .drop("rk")
    )
    keep = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("s82:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
        < 80
    )
    sampled = capped.filter(keep)

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").cast("bigint").alias("total_words"),
        ).select("stage", "n_docs", "total_words")

    return (
        stage(corpus, "1_corpus")
        .unionAll(stage(quality, "2_quality"))
        .unionAll(stage(deduped, "3_deduped"))
        .unionAll(stage(clean, "4_decontaminated"))
        .unionAll(stage(capped, "5_domain_capped"))
        .unionAll(stage(sampled, "6_sampled"))
        .orderBy("stage")
    )


@register(
    "s94_dsir_importance_resample",
    f"""
    WITH toks AS (
      SELECT doc_id, source, lang,
             unnest(string_split(lower({_NORM}), ' ')) AS tok
      FROM documents
    ),
    bt AS (
      SELECT doc_id, source, lang,
             ('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS b
      FROM toks WHERE tok <> ''
    ),
    -- ONE aggregation over the token stream yields both histograms;
    -- corpus totals fold from the 64-row bucket table, not a rescan
    hist AS (
      SELECT b, COUNT(*) AS cr,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
      FROM bt GROUP BY b
    ),
    tots AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM hist),
    -- integer fixed-point log-ratio per hashed feature bucket
    -- (s90 discipline: ln of INTEGERS only, round(x*1e6) BIGINT)
    w AS (
      SELECT h.b,
             CAST(round(ln(CAST(h.ct + 1 AS DOUBLE)) * 1e6) AS BIGINT)
             - CAST(round(ln(CAST(tots.nt + 64 AS DOUBLE)) * 1e6) AS BIGINT)
             - CAST(round(ln(CAST(h.cr + 1 AS DOUBLE)) * 1e6) AS BIGINT)
             + CAST(round(ln(CAST(tots.nr + 64 AS DOUBLE)) * 1e6) AS BIGINT)
               AS lw
      FROM hist h CROSS JOIN tots
    ),
    docw AS (
      SELECT bt.doc_id, bt.source, SUM(w.lw) AS dw
      FROM bt JOIN w ON w.b = bt.b
      GROUP BY bt.doc_id, bt.source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN dw > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_selected,
           CAST(SUM(dw) AS BIGINT) AS total_logweight
    FROM docw GROUP BY source ORDER BY source
    """,
    tags=("pipeline", "sampling", "dsir"),
    doc=(
        "DSIR-style importance resampling (Xie et al., NeurIPS 2023: "
        "Data Selection via Importance Resampling): score every raw "
        "document by how target-like its hashed-unigram features are. "
        "Tokens hash (md5 prefix) into 64 feature buckets; the target "
        "distribution (here: lang='en' docs) and raw distribution are "
        "bucket histograms; a doc's importance weight is the sum over "
        "its tokens of log((ct_b+1)/(Nt+64)) - log((cr_b+1)/(Nr+64)) "
        "(add-one smoothing). Every log has an INTEGER argument, "
        "fixed-point quantized to round(x*1e6) BIGINT (s90 "
        "discipline), so per-doc weights are exact integers - "
        "order-independent and bit-equal across engines. Scale shape: "
        "ONE aggregation over the token stream builds both histograms "
        "at once (64 rows; corpus totals fold from the bucket table, "
        "never a rescan); scoring is a map-side explode + broadcast "
        "join + one groupBy(doc_id) shuffle - two passes over tokens "
        "total, no pairwise anything, linear in corpus tokens."
    ),
)
def s94_dsir_importance_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.text import norm_ws

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(F.split(F.lower(norm_ws(F.col("text"))), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    bt = toks.select(
        "doc_id",
        "source",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
                "bigint"
            )
            % 64
        ).alias("b"),
    )
    hist = bt.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    )
    tots = hist.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))

    fxln = iln6  # shared fixed-point ln guard (functions/stats.py)

    w = hist.crossJoin(F.broadcast(tots)).select(
        "b",
        (
            fxln(F.col("ct") + 1)
            - fxln(F.col("nt") + 64)
            - fxln(F.col("cr") + 1)
            + fxln(F.col("nr") + 64)
        ).alias("lw"),
    )
    docw = (
        bt.select("doc_id", "source", "b")
        .join(F.broadcast(w), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum("lw").alias("dw"))
    )
    return (
        docw.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("dw") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_selected"),
            F.sum("dw").cast("bigint").alias("total_logweight"),
        )
        .orderBy("source")
    )


@register(
    "s96_neyman_allocation",
    """
    WITH strata AS (
      SELECT source, COUNT(*) AS n_h,
             CAST(SUM(n_chars) AS BIGINT) AS sx,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
      FROM documents GROUP BY source
    ),
    scored AS (
      SELECT source, n_h,
             -- sample std: every input to the IEEE expression is an
             -- exact integer; *,-,/,sqrt are correctly-rounded, so the
             -- double is bit-identical across engines
             sqrt((CAST(n_h AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(n_h AS DOUBLE) * CAST(n_h - 1 AS DOUBLE)))
               AS s_h
      FROM strata WHERE n_h > 1
    ),
    weights AS (
      SELECT source, n_h, s_h,
             CAST(round(CAST(n_h AS DOUBLE) * s_h * 1e6) AS BIGINT) AS wq
      FROM scored
    ),
    tot AS (SELECT SUM(wq) AS wtot FROM weights)
    SELECT w.source, CAST(w.n_h AS BIGINT) AS n_docs,
           round(w.s_h, 6) AS stddev_chars,
           CAST(floor(CAST(1000 * w.wq AS DOUBLE)
                      / CAST(t.wtot AS DOUBLE)) AS BIGINT) AS n_alloc
    FROM weights w CROSS JOIN tot t
    ORDER BY w.source
    """,
    tags=("pipeline", "sampling", "survey-statistics"),
    doc=(
        "Neyman optimal allocation of a 1000-document sample budget "
        "across source strata: n_h proportional to N_h * S_h (stratum "
        "size times stratum std of document length), the "
        "minimum-variance allocation from classical survey sampling - "
        "the principled way to size per-domain samples for corpus QA "
        "audits. N_h, sum(x), sum(x^2) are exact integer aggregates; "
        "the std and the allocation are identically-spelled IEEE "
        "expressions (sqrt and arithmetic are correctly-rounded, "
        "unlike libm ln/exp, so no quantization is needed); the "
        "cross-stratum weight total is summed over round(w*1e6) "
        "BIGINTs to stay order-independent. One tiny aggregate per "
        "stratum - fully map-side combinable at any scale."
    ),
)
def s96_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    strata = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("sxx"),
    )
    nd = F.col("n_h").cast("double")
    s_h = F.sqrt(
        (
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        / (nd * (F.col("n_h") - 1).cast("double"))
    )
    weights = strata.filter(F.col("n_h") > 1).select(
        "source",
        "n_h",
        s_h.alias("s_h"),
        F.round(F.col("n_h").cast("double") * s_h * 1e6)
        .cast("bigint")
        .alias("wq"),
    )
    tot = weights.agg(F.sum("wq").alias("wtot"))
    return (
        weights.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_h").cast("bigint").alias("n_docs"),
            F.round("s_h", 6).alias("stddev_chars"),
            F.floor(
                (1000 * F.col("wq")).cast("double")
                / F.col("wtot").cast("double")
            )
            .cast("bigint")
            .alias("n_alloc"),
        )
        .orderBy("source")
    )


@register(
    "t02_k_anonymity_audit",
    """
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
      FROM customer
    ),
    groups AS (
      SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS k
      FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band
    )
    SELECT CASE WHEN k >= 5 THEN '5+' ELSE CAST(k AS VARCHAR) END
             AS group_size,
           COUNT(*) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_individuals
    FROM groups
    GROUP BY group_size ORDER BY group_size
    """,
    tags=("pipeline", "privacy", "audit"),
    doc=(
        "k-anonymity audit of the customer table under the "
        "quasi-identifier (nation, market segment, $1000 account-"
        "balance band): how many equivalence classes have fewer than "
        "k=5 members, and how many individuals sit in them - the "
        "standard re-identification risk census run before releasing "
        "or training on user-derived data (Sweeney 2002). Pure "
        "integer groupBy arithmetic (floor of an IEEE division is "
        "deterministic), two map-side-combinable aggregations, no "
        "joins - the shape survives any scale."
    ),
)
def t02_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    qi = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    )
    groups = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        groups.select(
            F.when(F.col("k") >= 5, F.lit("5+"))
            .otherwise(F.col("k").cast("string"))
            .alias("group_size"),
            "k",
        )
        .groupBy("group_size")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("k").cast("bigint").alias("n_individuals"),
        )
        .orderBy("group_size")
    )


@register(
    "t51_image_tile_stats",
    """
    WITH px AS (
      SELECT d.doc_id,
             ((d.doc_id * 5 + x.x * 7 + y.y * 13) % 256) AS v,
             ((y.y * 2) // (4 + d.doc_id % 4)) * 2
               + ((x.x * 2) // (4 + d.doc_id % 5)) AS tile
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
      WHERE x.x < 4 + d.doc_id % 5 AND y.y < 4 + d.doc_id % 4
    ),
    tiles AS (
      SELECT doc_id, tile, CAST(SUM(v) AS BIGINT) AS tile_sum
      FROM px GROUP BY doc_id, tile
    ),
    ranked AS (
      SELECT doc_id, tile, tile_sum,
             SUM(tile_sum) OVER (PARTITION BY doc_id) AS total,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tile_sum DESC, tile) AS rk
      FROM tiles
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(tile AS BIGINT) AS brightest_tile,
           CAST(tile_sum AS BIGINT) AS tile_sum,
           CAST(total AS BIGINT) AS pixel_total
    FROM ranked WHERE rk = 1
    ORDER BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "png", "features"),
    doc=(
        "REAL image tile statistics, oracle-checked: per document a "
        "gradient grayscale PNG (value (id*5 + x*7 + y*13) mod 256, "
        "dims (4 + id%5) x (4 + id%4)) is ENCODED and DECODED through "
        "the stdlib zlib+CRC codec (multimodal/png.py), the pixel "
        "array split into a 2x2 tile grid (tile = (2y div h)*2 + "
        "(2x div w) - the saliency-crop primitive), and the "
        "brightest tile reported with its sum and the image total. "
        "The oracle predicts every pixel and tile assignment "
        "arithmetically, so the codec roundtrip AND the tiling "
        "geometry are value-verified - extending the r90-r94 family "
        "with a spatial-aggregation feature. Arrow-batched "
        "mapInPandas; per-payload work only, embarrassingly "
        "parallel."
    ),
)
def t51_image_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    cols = ("doc_id", "brightest_tile", "tile_sum", "pixel_total")
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])

    def batches(it):
        from ..multimodal.png import decode_png, encode_png

        for pdf in it:
            out = {k: [] for k in cols}
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w, h = 4 + did % 5, 4 + did % 4
                pixels = bytes(
                    (did * 5 + x * 7 + y * 13) % 256
                    for y in range(h)
                    for x in range(w)
                )
                dw, dh, _ch, px = decode_png(encode_png(w, h, 1, pixels))
                sums = [0, 0, 0, 0]
                for y in range(dh):
                    for x in range(dw):
                        tile = (y * 2) // dh * 2 + (x * 2) // dw
                        sums[tile] += px[y * dw + x]
                best = max(range(4), key=lambda i: (sums[i], -i))
                out["doc_id"].append(did)
                out["brightest_tile"].append(best)
                out["tile_sum"].append(sums[best])
                out["pixel_total"].append(sum(sums))
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema).orderBy("doc_id")


@register(
    "t53_audio_silence_segments",
    """
    WITH params AS (
      SELECT doc_id, 24 + doc_id % 16 AS n FROM documents
    ),
    s AS (
      SELECT p.doc_id, i.i,
             (((p.doc_id * 31 + i.i * 17) % 4096) - 2048) AS v
      FROM params p
      CROSS JOIN (SELECT unnest(generate_series(0, 39)) AS i) i
      WHERE i.i < p.n
    ),
    silent AS (
      SELECT doc_id, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i)
               AS island
      FROM s WHERE abs(v) < 1024
    ),
    runs AS (
      SELECT doc_id, island, COUNT(*) AS run_len
      FROM silent GROUP BY doc_id, island
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(SUM(run_len) AS BIGINT) AS n_silent,
           COUNT(*) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS longest_run
    FROM runs GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "wav", "vad"),
    doc=(
        "REAL audio silence segmentation, oracle-checked: the s58 "
        "deterministic PCM16 WAV runs encode -> decode through the "
        "stdlib RIFF codec, then samples with |v| < 1024 (half "
        "amplitude) are grouped into consecutive RUNS - the "
        "voice-activity-detection primitive behind silence trimming "
        "and utterance splitting, one level up from s58's windowed "
        "energy (runs have arbitrary extents; windows are fixed). "
        "The Spark side detects runs in the Arrow batch right where "
        "the decoded samples live (per-payload work - the correct "
        "mapInPandas shape); the oracle re-derives them relationally "
        "with the gaps-and-islands idiom (i - row_number), all "
        "integer arithmetic, so codec + segmentation are "
        "hash-verified."
    ),
)
def t53_audio_silence_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    cols = ("doc_id", "n_silent", "n_runs", "longest_run")
    schema = T.StructType([T.StructField(c, T.LongType()) for c in cols])

    def batches(it):
        from ..multimodal.wav import decode_wav, encode_wav

        for pdf in it:
            out = {k: [] for k in cols}
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                n = 24 + did % 16
                samples = [
                    ((did * 31 + i * 17) % 4096) - 2048 for i in range(n)
                ]
                _sr, _ch, _nf, decoded = decode_wav(
                    encode_wav(8000, 1, samples)
                )
                n_silent = n_runs = longest = cur = 0
                for v in decoded:
                    if abs(v) < 1024:
                        cur += 1
                        n_silent += 1
                        if cur == 1:
                            n_runs += 1
                        longest = max(longest, cur)
                    else:
                        cur = 0
                if n_silent == 0:
                    continue  # oracle emits no row for all-loud docs
                out["doc_id"].append(did)
                out["n_silent"].append(n_silent)
                out["n_runs"].append(n_runs)
                out["longest_run"].append(longest)
            yield pd.DataFrame(out)

    return docs.mapInPandas(batches, schema).orderBy("doc_id")


from .text import _DUCK_SHINGLES, _duck_minhash  # noqa: E402


@register(
    "t56_detector_agreement",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    mh_sigs AS (
      SELECT doc_id,
             {', '.join(f'{_duck_minhash(i)} AS h{i}' for i in range(4))}
      FROM shingled GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, '{i}|' || h{i} AS band_key FROM mh_sigs" for i in range(4))}
    ),
    mh AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h
      FROM toks
    ),
    sums AS (
      SELECT doc_id, COUNT(*) AS n,
             {_SH_SUMS}
      FROM hashed GROUP BY doc_id
    ),
    sh_sigs AS (SELECT doc_id, {_SH_SIG} AS sh FROM sums),
    bucketed AS (SELECT doc_id, sh, sh >> 56 AS bucket FROM sh_sigs),
    sh AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 14
    ),
    agg AS (
      SELECT (SELECT COUNT(*) FROM mh) AS n_minhash,
             (SELECT COUNT(*) FROM sh) AS n_simhash,
             (SELECT COUNT(*) FROM mh
              JOIN sh ON sh.id_a = mh.id_a AND sh.id_b = mh.id_b)
               AS n_both
    )
    SELECT CAST(n_minhash AS BIGINT) AS n_minhash,
           CAST(n_simhash AS BIGINT) AS n_simhash,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_both AS DOUBLE)
             / CAST(n_minhash + n_simhash - n_both AS DOUBLE)
             AS pair_set_jaccard
    FROM agg
    """,
    tags=("text", "dedup", "evaluation"),
    doc=(
        "Near-duplicate detector agreement audit: the candidate pair "
        "sets of the MinHash LSH blocker (q65: 4 seeds, band 1) and "
        "the SimHash blocker (q67: Hamming <= 14) compared as sets - "
        "counts, intersection, and pair-set Jaccard. Two detectors "
        "built on different principles agreeing strongly means the "
        "near-dup signal is robust; divergence pinpoints pairs only "
        "one family can see (MinHash = set overlap, SimHash = "
        "weighted-feature proximity) and calibrates whether running "
        "BOTH (s59's joint policy) is worth the cost. Reuses the "
        "oracle-proven bounded pipelines; the comparison is an "
        "equi-join of two bounded pair sets + integer counts."
    ),
)
def t56_detector_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import _persist, build_concurrently, minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents")
    # Persist both pair sets: each is consumed TWICE below (its own
    # count and the intersection join), and while the signature tables
    # under them are cached by the generators, the band/bucket
    # self-join + distinct is not — uncached, that pair-join work runs
    # twice per detector (guide §5). Short (id_a, id_b) rows.
    # The two detectors are fully independent until the final counts,
    # and each serializes its signature-build jobs at construction
    # time — build them in overlapping driver threads (guide §2.6) so
    # SimHash's signature stages back-fill the MinHash stage tails.
    mh, sh = build_concurrently(
        lambda: _persist(
            minhash_lsh_pairs(
                docs, "text", "doc_id", seeds=4, band_size=1, shingle_k=3
            ).select("id_a", "id_b")
        ),
        lambda: _persist(
            simhash_pairs(
                docs, "text", "doc_id", max_hamming=14, prefix_bits=4
            ).select("id_a", "id_b")
        ),
    )
    n_mh = mh.agg(F.count(F.lit(1)).alias("n_minhash"))
    n_sh = sh.agg(F.count(F.lit(1)).alias("n_simhash"))
    n_both = mh.join(sh, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_both")
    )
    return (
        n_mh.crossJoin(F.broadcast(n_sh))
        .crossJoin(F.broadcast(n_both))
        .select(
            F.col("n_minhash").cast("bigint").alias("n_minhash"),
            F.col("n_simhash").cast("bigint").alias("n_simhash"),
            F.col("n_both").cast("bigint").alias("n_both"),
            (
                F.col("n_both").cast("double")
                / (
                    F.col("n_minhash")
                    + F.col("n_simhash")
                    - F.col("n_both")
                ).cast("double")
            ).alias("pair_set_jaccard"),
        )
    )


@register(
    "t57_budgeted_selection",
    f"""
    WITH scored AS (
      SELECT doc_id, CAST({_NTOK} AS BIGINT) AS n_tok,
             CAST({_SQL_QUALITY} AS DOUBLE) AS q
      FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total_tok FROM scored),
    walk AS (
      SELECT doc_id, n_tok, q,
             SUM(n_tok) OVER (ORDER BY q DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored
    ),
    -- budget = 30% of corpus tokens; 10*cum <= 3*total is PURE
    -- integer, so the admission boundary is exact on both engines
    sel AS (
      SELECT w.* FROM walk w CROSS JOIN tot
      WHERE 10 * w.cum <= 3 * tot.total_tok
    )
    SELECT COUNT(*) AS n_selected,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_used,
           (SELECT total_tok FROM tot) AS corpus_tokens,
           MIN(q) AS min_quality_admitted
    FROM sel
    """,
    tags=("pipeline", "curation", "selection"),
    doc=(
        "Token-budget greedy selection: admit documents in descending "
        "quality order until 30% of the corpus token budget is spent "
        "- the knapsack-greedy data selection every budget-constrained "
        "training run performs (given N tokens of compute, keep the "
        "best N), reported as the admission count, tokens used, and "
        "the marginal quality cutoff (the 'price' of the budget). "
        "Quality scores are deterministic IEEE arithmetic (q66's "
        "formula), the cumulative walk orders by (quality, doc_id), "
        "and the budget test 10*cum <= 3*total is pure integer - no "
        "float boundary. At scale the ordered walk range-partitions "
        "on quality with a per-partition offset pass (s73/t27's "
        "pattern)."
    ),
)
def t57_budgeted_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.text import token_count

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
        quality_score(F.col("text")).alias("q"),
    )
    tot = scored.agg(F.sum("n_tok").cast("bigint").alias("total_tok"))
    wwalk = W.orderBy(F.col("q").desc(), "doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    walk = scored.select(
        "doc_id", "n_tok", "q", F.sum("n_tok").over(wwalk).alias("cum")
    )
    sel = walk.crossJoin(F.broadcast(tot)).filter(
        10 * F.col("cum") <= 3 * F.col("total_tok")
    )
    # corpus_tokens comes from the independent total, NOT an aggregate
    # over the selected rows: when nothing is admitted (one document
    # holds >30% of all tokens), MAX over the empty selection would be
    # NULL while the oracle's scalar subquery still reports the true
    # corpus total.
    agg = sel.agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_tok").cast("bigint").alias("tokens_used"),
        F.min("q").alias("min_quality_admitted"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "n_selected",
        "tokens_used",
        F.col("total_tok").alias("corpus_tokens"),
        "min_quality_admitted",
    )
