"""Document/text-pipeline queries over the ``documents`` table.

Exercises functions/text.py and operators/dedup.py. Oracle SQL mirrors
the exact arithmetic (length/replace/md5) so results hash-match; the
DuckDB regexp_replace calls carry the 'g' flag (DuckDB replaces only
the first match by default, Spark replaces all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import register
from ._util import t
from ..functions.stats import exp9, iln6
from ..functions.text import add_lang_guess, fingerprint, norm_ws, token_count
from ..operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    winnow_fingerprints,
)

# DuckDB-side expression fragments mirroring functions/text.py
_NORM = "regexp_replace(trim(text), '\\s+', ' ', 'g')"
_NTOK = (
    f"CASE WHEN {_NORM} = '' THEN 0 "
    f"ELSE length({_NORM}) - length(replace({_NORM}, ' ', '')) + 1 END"
)


# t15 -> u14 advisory bound (round-10 verdict #6): the exact audit's
# pair volume at the 100x rehearsal density was 916.5M shuffle records;
# the sampled u14 path cut it 24x. Above this bound the exact audit
# still RUNS (t15 stays the default and its tiers are budget-bounded) —
# but the user is told the cheap, statistically-equivalent path exists,
# mirroring the pair-budget message pattern without the refusal.
_AUDIT_ADVISORY_PAIR_BOUND = 50_000_000.0


def _advise_sampled_audit(est_pairs: float) -> bool:
    """Emit the t15 -> u14 advisory when the audit's estimated pair
    volume (candidate band join + exact truth join, both already
    computed by the generators before any pair is built) crosses the
    bound. Returns whether it fired, for tests."""
    if est_pairs <= _AUDIT_ADVISORY_PAIR_BOUND:
        return False
    import warnings

    from ..errors import AdvisoryWarning

    warnings.warn(
        f"blocking-quality audit: estimated pair volume ≈ {est_pairs:.3g} "
        f"exceeds {_AUDIT_ADVISORY_PAIR_BOUND:.0g}. The exact audit still "
        "runs (tiers are pair-budget-bounded), but on corpora this dense "
        "consider u14_blocking_audit_sampled: a whole-audit deterministic "
        "~30% sample measuring the SAME pair_completeness estimand with a "
        "binomial ci95 — 24x fewer shuffle records at the 100x rehearsal "
        "(37.7M vs 916.5M).",
        AdvisoryWarning,
        stacklevel=3,
    )
    return True


@register(
    "q60_doc_token_stats",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM({_NTOK}) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(MAX({_NTOK}) AS BIGINT) AS max_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "tokens"),
)
def q60_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = token_count(F.col("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks).cast("bigint").alias("total_tokens"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.max(toks).cast("bigint").alias("max_tokens"),
        )
        .orderBy("source")
    )


def _sql_occ(padded: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return f"CAST((length({padded}) - length(replace({padded}, '{n}', ''))) / {len(needle)} AS BIGINT)"


def _sql_lang_scores() -> dict[str, str]:
    from ..functions.text import LANG_MARKERS

    padded = f"concat(' ', lower({_NORM}), ' ')"
    return {
        lang: "(" + " + ".join(_sql_occ(padded, m) for m in markers) + ")"
        for lang, markers in LANG_MARKERS.items()
    }


_S = _sql_lang_scores()
_SQL_LANG_GUESS = f"""
    CASE WHEN ({_S['en']} + {_S['de']} + {_S['es']} + {_S['fr']}) = 0 THEN 'und'
         WHEN {_S['en']} >= {_S['de']} AND {_S['en']} >= {_S['es']} AND {_S['en']} >= {_S['fr']} THEN 'en'
         WHEN {_S['de']} >= {_S['es']} AND {_S['de']} >= {_S['fr']} THEN 'de'
         WHEN {_S['es']} >= {_S['fr']} THEN 'es'
         ELSE 'fr' END
"""


@register(
    "q61_doc_language_id",
    f"""
    SELECT {_SQL_LANG_GUESS} AS lang_guess, COUNT(*) AS n
    FROM documents
    GROUP BY lang_guess
    ORDER BY n DESC, lang_guess
    """,
    tags=("text", "langid"),
)
def q61_doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    guessed = add_lang_guess(
        t(spark, sf_dir, "documents").select("text"), "text"
    )
    return (
        guessed.groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "lang_guess")
    )


@register(
    "q62_doc_exact_dedup",
    f"""
    SELECT md5(lower({_NORM})) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keeper,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY fingerprint
    ORDER BY fingerprint
    """,
    tags=("text", "dedup-exact"),
)
def q62_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(t(spark, sf_dir, "documents"), "text", "doc_id").orderBy(
        "fingerprint"
    )


@register(
    "q63_doc_top_tokens",
    f"""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    tags=("text", "explode"),
)
def q63_doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(norm_ws(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


# DuckDB word-3-gram shingles: list comprehension over split words.
_DUCK_SHINGLES = (
    "[array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)]"
)


@register(
    "q64_doc_ngram_jaccard",
    f"""
    WITH docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, source, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    -- Hot-shingle guard (max_df=50): shingles in > 50 docs per source
    -- are dropped from every shingle SET (intersections and set sizes),
    -- mirroring ngram_jaccard_pairs(max_df=50) so both engines compute
    -- Jaccard over identical filtered sets.
    kept AS (
      SELECT doc_id, source, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY shingle, source) AS df
        FROM shingled
      ) WHERE df <= 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM kept GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b,
           CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared) > 0.05
    ORDER BY id_a, id_b
    """,
    tags=("text", "dedup-jaccard"),
)
def q64_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.05,
        partition_col="source",
        max_df=50,
    ).orderBy("id_a", "id_b")


# Recursive min-label propagation over the q64 pair graph. The edge CTEs
# are the q64 oracle verbatim; `reach` then propagates every label along
# edges until fixpoint (UNION-distinct terminates it), so MIN(lbl) per
# node is the least node id in its connected component — exactly what
# operators/dedup.connected_components computes iteratively on Spark.
_DUCK_CLUSTERS = f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, source, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    -- Hot-shingle guard mirroring ngram_jaccard_pairs(max_df=50); see q64.
    kept AS (
      SELECT doc_id, source, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY shingle, source) AS df
        FROM shingled
      ) WHERE df <= 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM kept GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared) > 0.05
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)
"""


@register(
    "r63_dedup_clusters",
    f"""
    {_DUCK_CLUSTERS}
    SELECT component, COUNT(*) AS cluster_size, CAST(SUM(id) AS BIGINT) AS id_sum
    FROM comp
    GROUP BY component
    ORDER BY component
    """,
    tags=("text", "dedup-clusters", "iterative"),
    doc=(
        "Near-duplicate clustering: the q64 Jaccard pair graph collapsed "
        "into connected components by iterative min-label propagation "
        "(operators/dedup.connected_components), reported as one row per "
        "cluster. The DuckDB oracle re-derives the same components with a "
        "recursive CTE, so the whole iterate-until-fixpoint loop is "
        "value-checked — the step that turns pair generators into actual "
        "keep/drop dedup decisions."
    ),
)
def r63_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    pairs = ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.05,
        partition_col="source",
        max_df=50,
    )
    comps = connected_components(pairs)
    return (
        comps.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum("id").cast("bigint").alias("id_sum"),
        )
        .orderBy("component")
    )


# BPE-ish tokenizer classes: letter runs, digit runs, single
# non-alnum marks — the pre-merge word split a byte-pair tokenizer
# starts from. Same RE2/Java-compatible patterns on both engines
# (no lookarounds; RE2 has none).
_BPE_ALPHA, _BPE_NUM, _BPE_PUNCT = "[A-Za-z]+", "[0-9]+", r"[^A-Za-z0-9\s]"


@register(
    "q68_doc_bpe_tokens",
    f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_ALPHA}'))) AS BIGINT) AS alpha_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_NUM}'))) AS BIGINT) AS num_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_PUNCT}'))) AS BIGINT) AS punct_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "tokens", "bpe"),
    doc="BPE-style pre-tokenization counts (letter/digit/punct token classes) per source.",
)
def q68_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_tok = lambda pat: F.sum(  # noqa: E731
        F.size(F.regexp_extract_all("text", F.lit(pat), 0))
    ).cast("bigint")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n_tok(_BPE_ALPHA).alias("alpha_tokens"),
            n_tok(_BPE_NUM).alias("num_tokens"),
            n_tok(_BPE_PUNCT).alias("punct_tokens"),
        )
        .orderBy("source")
    )


@register(
    "q69_doc_winnow_fingerprint",
    f"""
    WITH g AS (
      SELECT doc_id, {_NORM} AS txt FROM documents WHERE length({_NORM}) >= 11
    ),
    grams AS (
      SELECT doc_id, length(txt) - 7 AS g, txt,
             unnest(generate_series(1, length(txt) - 7)) AS i
      FROM g
    ),
    hashed AS (
      SELECT doc_id, g, i,
             substring(md5(substring(txt, CAST(i AS INT), 8)), 1, 16) AS h
      FROM grams
    ),
    winnowed AS (
      SELECT doc_id, i, g,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM hashed
    )
    SELECT doc_id, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fps, MIN(fp) AS min_fp
    FROM winnowed WHERE i <= g - 3
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "fingerprint", "rolling-hash"),
    doc=(
        "Winnowing rolling-hash fingerprints (k=8 char grams, window "
        "w=4) summarized per document; operators/dedup.py "
        "winnow_fingerprints is the fingerprint-set operator."
    ),
)
def q69_doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = winnow_fingerprints(t(spark, sf_dir, "documents"), "text", "doc_id", k=8, w=4)
    return (
        fps.groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.countDistinct("fp").cast("bigint").alias("n_fps"),
            F.min("fp").alias("min_fp"),
        )
        .orderBy("doc_id")
    )


# DuckDB MinHash mirror: min(md5(shingle || '#seed')) per seed; docs
# collide when any of the 4 single-hash bands matches.
def _duck_minhash(seed: int) -> str:
    return f"MIN(md5(shingle || '#{seed}'))"


@register(
    "q65_doc_minhash_lsh",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{_duck_minhash(i)} AS h{i}' for i in range(4))}
      FROM shingled GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, '{i}|' || h{i} AS band_key FROM sigs" for i in range(4))}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    GROUP BY id_a, id_b
    ORDER BY id_a, id_b
    """,
    tags=("text", "dedup-minhash"),
    doc=(
        "MinHash LSH with 4 seeds, band size 1 (engine-portable md5 "
        "string-min hashes — see operators/dedup.py docstring)."
    ),
)
def q65_doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        seeds=4,
        band_size=1,
        shingle_k=3,
    ).orderBy("id_a", "id_b")


@register(
    "s34_incremental_minhash_dedup",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{_duck_minhash(i)} AS h{i}' for i in range(4))}
      FROM shingled GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, '{i}|' || h{i} AS band_key FROM sigs" for i in range(4))}
    ),
    new_bands AS (SELECT * FROM bands WHERE doc_id % 4 = 0),
    base_bands AS (SELECT * FROM bands WHERE doc_id % 4 <> 0),
    hits AS (
      SELECT n.doc_id AS id, b.doc_id AS partner
      FROM new_bands n JOIN base_bands b ON n.band_key = b.band_key
      UNION ALL
      SELECT n.doc_id, m.doc_id
      FROM new_bands n JOIN new_bands m
        ON n.band_key = m.band_key AND m.doc_id < n.doc_id
    ),
    per_doc AS (SELECT id, MIN(partner) AS dup_of FROM hits GROUP BY id)
    SELECT d.doc_id AS id, p.dup_of, p.dup_of IS NULL AS keep
    FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
    LEFT JOIN per_doc p ON p.id = d.doc_id
    ORDER BY id
    """,
    tags=("text", "dedup-minhash", "incremental"),
    doc=(
        "Incremental dedup against a persisted index — the production "
        "continuous-ingestion shape: the historical corpus (doc_id %% 4 "
        "!= 0) exists only as its banded MinHash index, and the ingest "
        "batch (doc_id %% 4 == 0) is screened against it plus itself. "
        "NO pair join anywhere: the index collapses to one (band_key, "
        "min_doc) row before the decision join and batch-internal "
        "collisions come from a min window, so a hot boilerplate band "
        "costs one row instead of bucket-squared pairs "
        "(operators/dedup.incremental_dedup_decisions). The DuckDB "
        "oracle replays the md5 band keys and takes the same minimum "
        "over the (locally materialized) collision pairs."
    ),
)
def s34_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_dedup_decisions, minhash_band_index

    docs = t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    index = minhash_band_index(base, "text", "doc_id", seeds=4, band_size=1, shingle_k=3)
    return incremental_dedup_decisions(
        new, index, "text", "doc_id", seeds=4, band_size=1, shingle_k=3
    ).orderBy("id")


@register(
    "s36_ngram_containment",
    f"""
    WITH docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, source, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    kept AS (
      SELECT doc_id, source, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY shingle, source) AS df
        FROM shingled
      ) WHERE df <= 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM kept GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    ),
    directed AS (
      SELECT id_a AS id_small, id_b AS id_big,
             CAST(shared AS DOUBLE) / sa.set_size AS containment
      FROM shared JOIN sizes sa ON sa.doc_id = id_a
      UNION ALL
      SELECT id_b, id_a, CAST(shared AS DOUBLE) / sb.set_size
      FROM shared JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_small, id_big, containment
    FROM directed
    WHERE containment > 0.2
    ORDER BY id_small, id_big
    """,
    tags=("text", "dedup-containment"),
    doc=(
        "Asymmetric shingle containment |A∩B|/|A| "
        "(operators/dedup.ngram_containment_pairs): catches partial "
        "copies — a paragraph quoted inside a longer document scores "
        "near zero as Jaccard but ~1.0 as containment of the shorter "
        "side (Broder's resemblance/containment pair). Same "
        "inverted-index plan and max_df=50 hot-shingle guard as q64; "
        "the DuckDB oracle replays both directions of the division."
    ),
)
def s36_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.2,
        partition_col="source",
        max_df=50,
    ).orderBy("id_small", "id_big")


@register(
    "q79_token_type_ratio",
    f"""
    WITH toks AS (
      SELECT lang, unnest(string_split(lower({_NORM}), ' ')) AS tok
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT tok) AS n_types,
           CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS ttr
    FROM toks
    WHERE tok <> ''
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("text", "explode", "vocabulary"),
    doc=(
        "Vocabulary statistics per language: token count, distinct types, "
        "type-token ratio. Explode -> groupBy stays fully relational "
        "(codegen'd split + generator, partial counts map-side); the "
        "distinct-count shuffle is keyed on (lang, tok) so it spreads "
        "over the cluster instead of hot-spotting per language."
    ),
)
def q79_token_type_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        t(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(F.lower(norm_ws(F.col("text"))), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_types"),
            (F.countDistinct("tok").cast("double") / F.count(F.lit(1))).alias("ttr"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# PII redaction (r61): synthesize a deterministic contact line per doc so the
# corpus actually contains PII, then redact with the shared patterns.

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
_PII_SSN = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
_DUCK_AUG = (
    "concat(text, ' contact user', doc_id::VARCHAR, '@example.com or call "
    "555-', lpad((doc_id % 1000)::VARCHAR, 3, '0'), '-', "
    "lpad((doc_id % 10000)::VARCHAR, 4, '0'), ' ssn 123-45-6789')"
)
_DUCK_REDACT = (
    f"regexp_replace(regexp_replace(regexp_replace({_DUCK_AUG}, "
    f"'{_PII_EMAIL}', '<EMAIL>', 'g'), "
    f"'{_PII_PHONE}', '<PHONE>', 'g'), "
    f"'{_PII_SSN}', '<SSN>', 'g')"
)


@register(
    "r61_pii_redaction",
    f"""
    WITH aug AS (SELECT source, {_DUCK_AUG} AS txt FROM documents),
    red AS (
      SELECT source,
             len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS emails,
             len(regexp_extract_all(txt, '{_PII_PHONE}')) AS phones,
             len(regexp_extract_all(txt, '{_PII_SSN}')) AS ssns,
             ('0x' || substring(md5(
               regexp_replace(regexp_replace(regexp_replace(txt,
                 '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_SSN}', '<SSN>', 'g')), 1, 8))::BIGINT AS cksum
      FROM aug
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(emails) AS BIGINT) AS emails,
           CAST(SUM(phones) AS BIGINT) AS phones,
           CAST(SUM(ssns) AS BIGINT) AS ssns,
           CAST(SUM(cksum) AS BIGINT) AS redacted_cksum
    FROM red
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "pii", "regex"),
    doc=(
        "PII redaction at scan speed: every document gets a "
        "deterministic synthetic contact line (email/phone/SSN derived "
        "from doc_id), then functions/text.redact_pii strips them with a "
        "regexp_replace chain (RE2-and-Java-compatible patterns, no "
        "UDFs). The oracle re-runs the same patterns in DuckDB and the "
        "md5 checksum of every redacted text is summed per source — a "
        "single differing character anywhere hash-fails. Pure map-side "
        "work until the final tiny aggregate."
    ),
)
def r61_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import pii_count, redact_pii

    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789"),
    )
    docs = t(spark, sf_dir, "documents").select("source", aug.alias("txt"))
    red = docs.select(
        "source",
        pii_count(F.col("txt"), "email").alias("emails"),
        pii_count(F.col("txt"), "phone").alias("phones"),
        pii_count(F.col("txt"), "ssn").alias("ssns"),
        F.conv(F.substring(F.md5(redact_pii(F.col("txt"))), 1, 8), 16, 10)
        .cast("bigint")
        .alias("cksum"),
    )
    return (
        red.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("emails").cast("bigint").alias("emails"),
            F.sum("phones").cast("bigint").alias("phones"),
            F.sum("ssns").cast("bigint").alias("ssns"),
            F.sum("cksum").cast("bigint").alias("redacted_cksum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BM25 keyword search (r62). Cross-engine exactness contract: idf is
# quantized to micro-units after ln() (Java Math.log and libm may differ
# in the last ulp — round(x*1e6)/1e6 pins them to the same double), the
# tf normalization uses identical expression trees on both sides (IEEE
# ops are correctly rounded, so same tree == same bits), and the per-doc
# term sum accumulates in DECIMAL so partial-aggregation order can't
# perturb low bits.

_BM25_TERMS = ("hash", "merge", "scan")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "r62_bm25_search",
    f"""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN {_NORM} = '' THEN 0
                  ELSE length({_NORM}) - length(replace({_NORM}, ' ', '')) + 1
             END AS dl
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM docs
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(lower({_NORM}), ' ')) AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM toks
      WHERE w IN ('hash', 'merge', 'scan')
      GROUP BY doc_id, w
    ),
    dft AS (SELECT w, COUNT(*) AS dft FROM tf GROUP BY w),
    idf AS (
      SELECT w, round(ln(1.0 + (n_docs - dft + 0.5) / (dft + 0.5)) * 1000000) / 1000000 AS idf
      FROM dft, stats
    ),
    scored AS (
      SELECT tf.doc_id,
             idf.idf * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * docs.dl / stats.avgdl))
               AS term_score
      FROM tf
      JOIN idf ON idf.w = tf.w
      JOIN docs ON docs.doc_id = tf.doc_id
      CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(SUM(CAST(term_score AS DECIMAL(28,12))) AS DOUBLE) AS score,
           COUNT(*) AS n_terms
    FROM scored
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
    tags=("text", "search", "bm25"),
    doc=(
        "Full BM25 (k1=1.2, b=0.75) keyword search for a 3-term query "
        "over the documents table, top-20. Relational plan: one token "
        "explode filtered to the query terms (tiny after pushdown), tf "
        "per (doc, term), df per term, corpus stats broadcast via cross "
        "join of one-row aggregates — the inverted-index shape that "
        "scales to any corpus since only matching postings shuffle."
    ),
)
def r62_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_doc_scores(t(spark, sf_dir, "documents"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


def _bm25_doc_scores(base: DataFrame) -> DataFrame:
    """(doc_id, score, n_terms) BM25 scores for the fixed query terms
    (shared by r62's ranked search and s64's hybrid fusion)."""
    from ..functions.text import norm_ws, token_count

    docs = base.select("doc_id", token_count(F.col("text")).alias("dl"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    toks = base.select(
        "doc_id", F.explode(F.split(F.lower(norm_ws(F.col("text"))), " ")).alias("w")
    ).filter(F.col("w").isin(*_BM25_TERMS))
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dft"))
    idf = dft.crossJoin(F.broadcast(stats)).select(
        "w",
        (
            F.round(
                F.log(1.0 + (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5))
                * 1000000
            )
            / 1000000
        ).alias("idf"),
    )
    k1, b = _BM25_K1, _BM25_B
    scored = (
        tf.join(F.broadcast(idf), "w")
        .join(docs, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("term_score"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum(F.col("term_score").cast("decimal(28,12)")).cast("double").alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )


@register(
    "r66_repetition_ratio",
    f"""
    WITH docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT doc_id, source, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    per_doc AS (
      SELECT doc_id, source,
             1.0 - CAST(COUNT(DISTINCT shingle) AS DOUBLE) / COUNT(*) AS rep
      FROM shingled GROUP BY doc_id, source
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(rep AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*) AS mean_rep,
           MAX(rep) AS max_rep
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "quality", "repetition"),
    doc=(
        "Gopher/RefinedWeb-style repetition quality signal: per document, "
        "the fraction of duplicated word-3-gram occurrences "
        "(1 - distinct/total), aggregated per source. Boilerplate and "
        "degenerate generated text score high and get filtered. One "
        "explode + two aggregations, both keyed on doc id so the window "
        "shuffle from shingling is reused; exact integer-ratio math so "
        "cross-engine bit equality holds."
    ),
)
def r66_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_relational

    sh = shingles_relational(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=3, carry_cols=["source"]
    )
    per_doc = sh.groupBy("doc", "source").agg(
        (1.0 - F.countDistinct("shingle").cast("double") / F.count(F.lit(1))).alias("rep")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum(F.col("rep").cast("decimal(18,12)")).cast("double") / F.count(F.lit(1))).alias(
                "mean_rep"
            ),
            F.max("rep").alias("max_rep"),
        )
        .orderBy("source")
    )


@register(
    "r65_boilerplate_coverage",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    boiler AS (
      SELECT shingle FROM grams GROUP BY shingle
      HAVING COUNT(DISTINCT doc_id) >= 20
    ),
    per_doc AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
      FROM grams g LEFT JOIN boiler b ON g.shingle = b.shingle
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler,
           CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
                ELSE CAST(n_boiler AS DOUBLE) / n_grams END AS coverage,
           CAST(CASE WHEN (CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
                                ELSE CAST(n_boiler AS DOUBLE) / n_grams END) <= 0.8
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
    ORDER BY d.doc_id
    """,
    tags=("text", "quality", "boilerplate"),
    doc=(
        "C4/RefinedWeb-style boilerplate removal signal: a word-3-gram "
        "occurring in >= 20 distinct documents is boilerplate (templated "
        "chrome, license headers); each document reports how much of its "
        "gram mass is boilerplate and a keep flag at 80% coverage. "
        "operators/dedup.boilerplate_coverage — every stage keyed "
        "(gram-frequency agg, gram join-back, doc-id count), no "
        "broadcast assumption on the boilerplate set (AQE converts when "
        "small), instance table persisted once for its two consumers."
    ),
)
def r65_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import boilerplate_coverage

    cov = boilerplate_coverage(
        t(spark, sf_dir, "documents"), "text", "doc_id", k=3, min_docs=20
    )
    coverage = F.when(
        F.col("n_grams") > 0, F.col("n_boiler").cast("double") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return (
        cov.withColumn("coverage", coverage)
        .withColumn("keep", (F.col("coverage") <= 0.8).cast("int"))
        .orderBy("doc_id")
    )


def _gopher_oracle() -> str:
    lower = f"lower({_NORM})"
    chars = f"length(replace({lower}, ' ', ''))"
    mwl = f"CASE WHEN {_NTOK} = 0 THEN 0.0 ELSE CAST({chars} AS DOUBLE) / {_NTOK} END"
    padded = f"concat(' ', {lower}, ' ')"
    stop = "(" + " + ".join(_sql_occ(padded, m) for m in (" the ", " and ", " of ")) + ")"
    stripped = f"regexp_replace({lower}, '[^a-z0-9 ]', '', 'g')"
    sym = (
        f"CASE WHEN length({lower}) = 0 THEN 0.0 "
        f"ELSE CAST(length({lower}) - length({stripped}) AS DOUBLE) / length({lower}) END"
    )
    wc_ok = f"CASE WHEN {_NTOK} >= 30 AND {_NTOK} <= 100000 THEN 1 ELSE 0 END"
    mwl_ok = f"CASE WHEN ({mwl}) >= 3.0 AND ({mwl}) <= 10.0 THEN 1 ELSE 0 END"
    stop_ok = f"CASE WHEN {stop} >= 2 THEN 1 ELSE 0 END"
    sym_ok = f"CASE WHEN ({sym}) <= 0.1 THEN 1 ELSE 0 END"
    return f"""
    WITH flags AS (
      SELECT source,
             {wc_ok} AS wc_ok, {mwl_ok} AS mwl_ok,
             {stop_ok} AS stop_ok, {sym_ok} AS sym_ok
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(wc_ok) AS BIGINT) AS n_wc_ok,
           CAST(SUM(mwl_ok) AS BIGINT) AS n_mwl_ok,
           CAST(SUM(stop_ok) AS BIGINT) AS n_stop_ok,
           CAST(SUM(sym_ok) AS BIGINT) AS n_sym_ok,
           CAST(SUM(wc_ok * mwl_ok * stop_ok * sym_ok) AS BIGINT) AS n_keep
    FROM flags
    GROUP BY source
    ORDER BY source
    """


@register(
    "r60_gopher_rules",
    _gopher_oracle(),
    tags=("text", "quality", "gopher"),
    doc=(
        "Gopher/MassiveText quality-rule filter "
        "(functions/text.gopher_rules): word-count bounds, "
        "mean-word-length bounds, English stopword evidence, and a "
        "symbol-ratio cap, reported as per-rule pass counts per source "
        "plus the all-rules keep count — the per-rule rejection "
        "telemetry a curation pipeline actually monitors. Pure "
        "length/replace arithmetic, map-only then one keyed aggregate; "
        "bit-exact oracle."
    ),
)
def r60_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import gopher_rules

    docs = t(spark, sf_dir, "documents")
    rules = gopher_rules(F.col("text"))
    flags = docs.select(
        "source", *[v.cast("int").alias(k) for k, v in rules.items()]
    )
    keep = F.col("wc_ok") * F.col("mwl_ok") * F.col("stop_ok") * F.col("sym_ok")
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("wc_ok").cast("bigint").alias("n_wc_ok"),
            F.sum("mwl_ok").cast("bigint").alias("n_mwl_ok"),
            F.sum("stop_ok").cast("bigint").alias("n_stop_ok"),
            F.sum("sym_ok").cast("bigint").alias("n_sym_ok"),
            F.sum(keep).cast("bigint").alias("n_keep"),
        )
        .orderBy("source")
    )


@register(
    "r68_countmin_tokens",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    clean AS (SELECT tok FROM toks WHERE tok <> ''),
    hashed AS (
      SELECT d.d, CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || '#' || tok), 1, 8)) AS BIGINT) % 512 AS bucket
      FROM clean CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) d
    ),
    sketch AS (SELECT d, bucket, COUNT(*) AS cnt FROM hashed GROUP BY d, bucket),
    exact AS (
      SELECT tok, COUNT(*) AS n FROM clean GROUP BY tok
      ORDER BY n DESC, tok LIMIT 20
    ),
    probed AS (
      SELECT e.tok, e.n, d.d,
             CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || '#' || e.tok), 1, 8)) AS BIGINT) % 512 AS bucket
      FROM exact e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) d
    )
    SELECT p.tok, CAST(MAX(p.n) AS BIGINT) AS n,
           CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
    FROM probed p LEFT JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
    GROUP BY p.tok
    ORDER BY n DESC, tok
    """,
    tags=("text", "sketch", "countmin"),
    doc=(
        "Count-min sketch frequency estimation "
        "(operators/sketches.countmin_sketch): a 4x512 mergeable counter "
        "grid built with one explode + one map-combined aggregation "
        "(exchange bounded by depth*width per partition at ANY input "
        "size), probed for the exact top-20 tokens. Engine-portable "
        "md5-prefix hashing lets the oracle rebuild the identical grid, "
        "so the over-count-only estimates are bit-checked, not just "
        "bounded. The sub-linear answer to global heavy-hitter counting "
        "on an unbounded stream."
    ),
)
def r68_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import countmin_lookup, countmin_sketch

    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(norm_ws(F.col("text")), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    sketch = countmin_sketch(toks, "tok", depth=4, width=512)
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )
    return (
        countmin_lookup(
            sketch, exact, "tok", depth=4, width=512,
            # `exact` is a groupBy output: one row per token by
            # construction, so skip the row-preserving join-back
            assume_distinct=True,
        )
        .select("tok", F.col("n").cast("bigint").alias("n"), "est")
        .orderBy(F.desc("n"), "tok")
    )


@register(
    "r67_edit_distance_pairs",
    f"""
    WITH words AS (
      SELECT DISTINCT unnest(string_split({_NORM}, ' ')) AS tok FROM documents
    ),
    clean AS (SELECT tok FROM words WHERE tok <> ''),
    variants AS (
      SELECT DISTINCT tok,
             unnest(list_prepend(tok,
               [substr(tok, 1, i - 1) || substr(tok, i + 1, len(tok))
                for i in range(1, len(tok) + 1)])) AS var
      FROM clean
    )
    SELECT tok_a, tok_b, CAST(dist AS INT) AS dist
    FROM (
      SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b,
             levenshtein(a.tok, b.tok) AS dist
      FROM variants a JOIN variants b ON a.var = b.var AND a.tok < b.tok
    ) p
    WHERE dist <= 1
    ORDER BY tok_a, tok_b
    """,
    tags=("text", "fuzzy", "edit-distance", "symspell"),
    doc=(
        "Typo/variant detection over the corpus vocabulary "
        "(operators/dedup.edit_distance_pairs): SymSpell deletion-"
        "neighborhood blocking — complete for Levenshtein distance 1 — "
        "then exact levenshtein verification on the shared-variant "
        "candidates only. No all-pairs stage at any corpus size; both "
        "engines agree on the levenshtein definition so the pair set "
        "is bit-checked."
    ),
)
def r67_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import edit_distance_pairs

    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(norm_ws(F.col("text")), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return (
        edit_distance_pairs(toks, "tok")
        .select("tok_a", "tok_b", F.col("dist").cast("int").alias("dist"))
        .orderBy("tok_a", "tok_b")
    )


@register(
    "r79_bpe_merge_stats",
    f"""
    WITH docs AS (
      SELECT string_split({_NORM}, ' ') AS words FROM documents
    ),
    vocab AS (
      SELECT w, COUNT(*) AS f
      FROM (SELECT unnest(words) AS w FROM docs)
      WHERE length(w) >= 2
      GROUP BY w
    ),
    pairs AS (
      SELECT substring(w, i, 2) AS pair, SUM(f) AS cnt
      FROM vocab, unnest(generate_series(1, length(w) - 1)) AS t(i)
      GROUP BY pair
    )
    SELECT pair, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank
    FROM (
      SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank
      FROM pairs
    ) ranked
    WHERE rank <= 20
    ORDER BY rank
    """,
    tags=("text", "tokens", "bpe", "vocab"),
    doc=(
        "BPE tokenizer-training statistics: the first merge iteration — "
        "corpus-wide counts of adjacent character pairs, weighted by "
        "word frequency. The corpus-scale work is ONE word-count groupBy "
        "(map-side partial aggregation); pair explosion then runs over "
        "the distinct-word vocabulary, which Zipf keeps tiny relative to "
        "a 100 TB corpus — exactly how production BPE trainers stay "
        "tractable. The final top-20 window sorts the distinct-pair "
        "table, bounded by the squared character alphabet (thousands of "
        "rows at most), so the single-partition window is scale-safe. "
        "Ties broken by pair text."
    ),
)
def r79_bpe_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ..functions.text import norm_ws

    docs = t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(norm_ws(F.col("text")), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pairs = (
        vocab.select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
            "f",
        )
        .groupBy("pair")
        .agg(F.sum("f").alias("cnt"))
    )
    w = W.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("pair", F.col("cnt").cast("bigint").alias("cnt"), F.col("rank").cast("int").alias("rank"))
        .orderBy("rank")
    )


@register(
    "r88_length_buckets",
    f"""
    WITH toks AS (
      SELECT CAST({_NTOK} AS BIGINT) AS n_tok FROM documents
    ),
    bucketed AS (
      SELECT n_tok,
             CAST(power(2, CAST(ceil(log2(GREATEST(n_tok, 1))) AS BIGINT)) AS BIGINT) AS bucket
      FROM toks
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           CAST(SUM(n_tok) AS DOUBLE) / (COUNT(*) * bucket) AS efficiency
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("text", "batching", "tokens"),
    doc=(
        "Sequence-length bucketing audit for training-batch assembly: "
        "documents grouped into power-of-two token-length buckets, with "
        "the padding efficiency (real/padded tokens) a fixed-shape "
        "batcher would achieve per bucket — the measurement that decides "
        "bucket boundaries before padding waste eats accelerator time. "
        "Pure map-side arithmetic plus one small aggregate; pairs with "
        "r64's greedy sequence packing (the remedy when efficiency is "
        "low). log2/pow on exact integer inputs — bit-stable in both "
        "engines."
    ),
)
def r88_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    docs = t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text")).cast("bigint")
    bucket = (
        F.pow(F.lit(2), F.ceil(F.log2(F.greatest(n_tok, F.lit(1)))).cast("bigint"))
        .cast("bigint")
    )
    return (
        docs.select(n_tok.alias("n_tok"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
            (F.count(F.lit(1)) * F.first("bucket")).cast("bigint").alias("padded_tokens"),
            (F.sum("n_tok").cast("double") / (F.count(F.lit(1)) * F.first("bucket"))).alias("efficiency"),
        )
        .orderBy("bucket")
    )


@register(
    "r89_langid_confusion",
    f"""
    SELECT lang AS label, {_SQL_LANG_GUESS} AS guess, COUNT(*) AS n
    FROM documents
    GROUP BY label, guess
    ORDER BY label, guess
    """,
    tags=("text", "langid", "evaluation"),
    doc=(
        "Classifier evaluation for the q61 language-ID heuristic: the "
        "confusion matrix of guessed vs labeled language over the "
        "documents table. On this synthetic corpus the matrix exposes "
        "label/content disagreement — every label's text is "
        "English-ish, so rows concentrate in the en/und guess columns — "
        "which is precisely the audit's real-world job (catching "
        "mislabeled or machine-generated sources). One "
        "map-side projection plus a tiny two-key aggregate; the eval "
        "pattern any classifier-based quality filter needs before "
        "gating a 100 TB corpus on its output."
    ),
)
def r89_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = add_lang_guess(
        t(spark, sf_dir, "documents").select(F.col("lang").alias("label"), "text"), "text"
    )
    return (
        docs.groupBy("label", F.col("lang_guess").alias("guess"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "guess")
    )


@register(
    "r95_vocab_concentration",
    f"""
    WITH tok AS (
      SELECT source, token, COUNT(*) AS n
      FROM (SELECT source, unnest(string_split({_NORM}, ' ')) AS token FROM documents)
      WHERE token <> ''
      GROUP BY source, token
    ),
    ranked AS (
      SELECT source, token, n,
             SUM(n) OVER (PARTITION BY source ORDER BY n DESC, token
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(n) OVER (PARTITION BY source) AS total
      FROM tok
    )
    SELECT source,
           COUNT(*) AS vocab_size,
           CAST(MAX(total) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
           CAST(SUM(CASE WHEN 2 * (cum - n) < total THEN 1 ELSE 0 END) AS BIGINT)
             AS head50_vocab,
           CAST(MAX(n) AS DOUBLE) / MAX(total) AS top_share
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "vocabulary", "tokenizer"),
    doc=(
        "Per-source vocabulary-concentration audit for tokenizer "
        "design: vocab size, hapax-legomena count, the head size "
        "covering >=50% of token mass (min k with 2*cumsum(k) >= "
        "total, counted as ranks whose preceding cumsum is under "
        "half), and the single most frequent token's share. All "
        "sums are integer-exact with one double division at the end, "
        "so the result is bit-stable across engines and partition "
        "orders. Scale shape: one shuffle to (source, token) counts "
        "with map-side combine; the running-sum and total windows "
        "share one source-hash Exchange and sort only vocab-sized "
        "partitions (vocabulary per source is orders of magnitude "
        "smaller than the corpus), so no global single-partition "
        "window appears anywhere."
    ),
)
def r95_vocab_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    tok = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(norm_ws(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_cum = (
        W.partitionBy("source")
        .orderBy(F.desc("n"), "token")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = tok.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(W.partitionBy("source"))
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.max("total").alias("total_tokens"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("bigint").alias("hapax_count"),
            F.sum(F.when(2 * (F.col("cum") - F.col("n")) < F.col("total"), 1).otherwise(0))
            .cast("bigint")
            .alias("head50_vocab"),
            (F.max("n").cast("double") / F.max("total")).alias("top_share"),
        )
        .orderBy("source")
    )


@register(
    "r98_token_entropy",
    f"""
    WITH tok AS (
      SELECT source, token, COUNT(*) AS n
      FROM (SELECT source, unnest(string_split({_NORM}, ' ')) AS token FROM documents)
      WHERE token <> ''
      GROUP BY source, token
    ),
    s AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS total_tokens,
             COUNT(*) AS vocab_size,
             SUM(CAST(n * ln(n) AS DECIMAL(28,9))) AS nlogn
      FROM tok GROUP BY source
    )
    SELECT source, total_tokens, vocab_size,
           ln(total_tokens) - CAST(nlogn AS DOUBLE) / total_tokens AS entropy_nats,
           CASE WHEN vocab_size > 1
                THEN (ln(total_tokens) - CAST(nlogn AS DOUBLE) / total_tokens)
                     / ln(vocab_size)
                ELSE 0.0 END AS norm_entropy
    FROM s
    ORDER BY source
    """,
    tags=("text", "quality", "entropy"),
    doc=(
        "Per-source Shannon entropy of the token distribution (nats) "
        "plus entropy normalized by ln(vocab) — the standard signal for "
        "spotting template/boilerplate-heavy or machine-generated "
        "sources (low entropy) before they flood a training mix. Uses "
        "H = ln(N) - (sum n*ln n)/N so the only floating-point inputs "
        "are ln of exact integers — identical doubles in any engine — "
        "and each token's n*ln(n) contribution is rounded to "
        "DECIMAL(28,9) before the sum (the r59 discipline), making the "
        "statistic partition-order-independent and bit-stable "
        "cross-engine. Scale shape: one (source, token) shuffle with "
        "map-side combine, then a vocab-sized aggregate; no windows, "
        "no doubles accumulated in any order-dependent way."
    ),
)
def r98_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(norm_ws(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = tok.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("n") * F.log("n")).cast("decimal(28,9)")).alias("nlogn"),
    )
    entropy = F.log(F.col("total_tokens").cast("double")) - (
        F.col("nlogn").cast("double") / F.col("total_tokens")
    )
    return s.select(
        "source",
        "total_tokens",
        "vocab_size",
        entropy.alias("entropy_nats"),
        F.when(F.col("vocab_size") > 1, entropy / F.log(F.col("vocab_size").cast("double")))
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    ).orderBy("source")


@register(
    "s01_near_dup_leakage",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{_duck_minhash(i)} AS h{i}' for i in range(4))}
      FROM shingled GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, '{i}|' || h{i} AS band_key FROM sigs" for i in range(4))}
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT least(da.source, db.source) AS src_a,
           greatest(da.source, db.source) AS src_b,
           COUNT(*) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN da.source <= db.source THEN id_a ELSE id_b END)
                AS BIGINT) AS docs_a,
           CAST(COUNT(DISTINCT CASE WHEN da.source <= db.source THEN id_b ELSE id_a END)
                AS BIGINT) AS docs_b
    FROM pairs
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    GROUP BY src_a, src_b
    ORDER BY src_a, src_b
    """,
    tags=("text", "dedup-minhash", "leakage"),
    doc=(
        "Cross-source near-duplicate leakage matrix: MinHash-LSH "
        "candidate pairs (the q65 machinery) rolled up to an ordered "
        "(source, source) grid with pair counts and the distinct "
        "documents involved on each side. This is the audit that "
        "catches one crawl mirroring another — or eval data leaking "
        "into a training source — BEFORE mixing weights are chosen. "
        "The pair table is bucket-bounded (never all-pairs), the two "
        "doc_id lookups are ordinary keyed joins that prune to "
        "(doc_id, source), and the final grid is at most "
        "|sources|^2 rows."
    ),
)
def s01_near_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", seeds=4, band_size=1, shingle_k=3)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    labeled = pairs.join(a, "id_a").join(b, "id_b")
    ordered_a = F.when(F.col("sa") <= F.col("sb"), F.col("id_a")).otherwise(F.col("id_b"))
    ordered_b = F.when(F.col("sa") <= F.col("sb"), F.col("id_b")).otherwise(F.col("id_a"))
    return (
        labeled.groupBy(
            F.least("sa", "sb").alias("src_a"), F.greatest("sa", "sb").alias("src_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct(ordered_a).cast("bigint").alias("docs_a"),
            F.countDistinct(ordered_b).cast("bigint").alias("docs_b"),
        )
        .orderBy("src_a", "src_b")
    )


@register(
    "s04_length_deciles",
    f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT source,
           CAST(floor(((rnk - 1) * 10.0) / n) AS BIGINT) AS decile,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM ranked
    GROUP BY source, decile
    ORDER BY source, decile
    """,
    tags=("text", "bucketing", "equi-depth"),
    doc=(
        "Equi-depth length deciles per source (rank-based, "
        "interpolation-free): each source's documents are ranked by "
        "length with doc_id tie-breaks and cut into ten equal-count "
        "buckets — the histogram a length-balanced batch sampler or a "
        "skew-aware packing stage reads instead of guessing cut points. "
        "All integer arithmetic (rank*10/n floored over exactly-"
        "representable small ints), so buckets are identical across "
        "engines. The window partitions by source — each source sorts "
        "only its own slice, no global single-partition window."
    ),
)
def s04_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ranked = t(spark, sf_dir, "documents").select(
        "source",
        "n_chars",
        F.row_number()
        .over(W.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("rnk"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n"),
    )
    decile = F.floor(((F.col("rnk") - 1) * 10.0) / F.col("n")).cast("bigint")
    return (
        ranked.groupBy("source", decile.alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("source", "decile")
    )


@register(
    "s07_ctfidf_terms",
    f"""
    WITH tok AS (
      SELECT source, token, COUNT(*) AS tf
      FROM (SELECT source, unnest(string_split({_NORM}, ' ')) AS token FROM documents)
      WHERE token <> ''
      GROUP BY source, token
    ),
    docfreq AS (SELECT token, COUNT(DISTINCT source) AS df FROM tok GROUP BY token),
    ns AS (SELECT COUNT(DISTINCT source) AS n_sources FROM tok),
    scored AS (
      SELECT t.source, t.token, t.tf,
             t.tf * (ln(ns.n_sources) - ln(d.df)) AS score
      FROM tok t
      JOIN docfreq d USING (token)
      CROSS JOIN ns
    ),
    ranked AS (
      SELECT source, token, tf, score,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY score DESC, token) AS rnk
      FROM scored
    )
    SELECT source, CAST(rnk AS BIGINT) AS rnk, token, CAST(tf AS BIGINT) AS tf, score
    FROM ranked WHERE rnk <= 5
    ORDER BY source, rnk
    """,
    tags=("text", "tfidf", "corpus-card"),
    doc=(
        "Per-source distinguishing terms (c-TF-IDF, the BERTopic-style "
        "class-based variant): source-level term frequency times "
        "ln(n_sources/df), top five per source — the 'what is this "
        "slice about' summary a corpus card or mixture-debugging "
        "session starts from. Every floating-point input is ln of an "
        "exact integer and each score is one product (no accumulation), "
        "so scores — and the rank order they induce, tie-broken by "
        "token — are bit-identical across engines. Shapes: one "
        "(source, token) shuffle, a token-keyed doc-frequency join, a "
        "scalar broadcast, and a source-partitioned top-k window over "
        "vocab-sized partitions."
    ),
)
def s07_ctfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    tok = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(norm_ws(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = tok.groupBy("token").agg(F.countDistinct("source").alias("df"))
    ns = tok.agg(F.countDistinct("source").alias("n_sources"))
    scored = (
        tok.join(docfreq, "token")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "token",
            "tf",
            (
                F.col("tf")
                * (
                    F.log(F.col("n_sources").cast("double"))
                    - F.log(F.col("df").cast("double"))
                )
            ).alias("score"),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(W.partitionBy("source").orderBy(F.desc("score"), "token")),
    )
    return (
        ranked.filter(F.col("rnk") <= 5)
        .select("source", F.col("rnk").cast("bigint").alias("rnk"), "token", F.col("tf").cast("bigint").alias("tf"), "score")
        .orderBy("source", "rnk")
    )


@register(
    "s08_trigram_lm_score",
    f"""
    WITH docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    tri AS (
      SELECT doc_id, source, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    doc_tri AS (
      SELECT doc_id, source, shingle, COUNT(*) AS m
      FROM tri GROUP BY doc_id, source, shingle
    ),
    model AS (
      SELECT source, shingle, CAST(SUM(m) AS BIGINT) AS n
      FROM doc_tri GROUP BY source, shingle
    ),
    totals AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tt FROM model GROUP BY source),
    acc AS (
      SELECT d.doc_id, d.source,
             CAST(SUM(d.m) AS BIGINT) AS m_total,
             SUM(CAST(d.m * ln(mo.n) AS DECIMAL(28,9))) AS s
      FROM doc_tri d JOIN model mo ON mo.source = d.source AND mo.shingle = d.shingle
      GROUP BY d.doc_id, d.source
    )
    SELECT acc.doc_id, acc.source, acc.m_total,
           ln(t.tt) - CAST(acc.s AS DOUBLE) / acc.m_total AS h_nats
    FROM acc JOIN totals t ON t.source = acc.source
    ORDER BY doc_id
    """,
    tags=("text", "quality", "language-model"),
    doc=(
        "CCNet-style LM quality scoring without KenLM: each document's "
        "cross-entropy (nats/trigram) under its own source's trigram "
        "unigram-count model, H = ln(T) - (sum m*ln n)/M. High H = "
        "surprising under the source's distribution — the standard "
        "signal for boilerplate, spam, or wrong-source documents, and "
        "the relational skeleton that swaps in real LM logprobs at "
        "production scale. Floating-point discipline as r98: ln only "
        "of exact integers, per-trigram contributions rounded to "
        "DECIMAL(28,9) before summing, one double division at the "
        "end. Scale shapes: the model derives from the per-doc counts "
        "(one extra keyed agg, no second corpus scan), the score join "
        "is (source, shingle)-keyed, totals broadcast."
    ),
)
def s08_trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_relational

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tri = shingles_relational(docs, "text", "doc_id", k=3, carry_cols=["source"])
    doc_tri = tri.groupBy(F.col("doc").alias("doc_id"), "source", "shingle").agg(
        F.count(F.lit(1)).alias("m")
    )
    model = doc_tri.groupBy("source", "shingle").agg(
        F.sum("m").cast("bigint").alias("n")
    )
    totals = model.groupBy("source").agg(F.sum("n").cast("bigint").alias("tt"))
    acc = (
        doc_tri.join(model, ["source", "shingle"])
        .groupBy("doc_id", "source")
        .agg(
            F.sum("m").cast("bigint").alias("m_total"),
            F.sum((F.col("m") * F.log("n")).cast("decimal(28,9)")).alias("s"),
        )
    )
    return (
        acc.join(F.broadcast(totals), "source")
        .select(
            "doc_id",
            "source",
            "m_total",
            (
                F.log(F.col("tt").cast("double"))
                - F.col("s").cast("double") / F.col("m_total")
            ).alias("h_nats"),
        )
        .orderBy("doc_id")
    )


@register(
    "s11_dup_graph_closure",
    f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, source, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shingled GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM shingled a JOIN shingled b
        ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared) > 0.05
    ),
    und AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk(a, b, hops) AS (
      SELECT src, dst, 1 FROM und
      UNION ALL
      SELECT w.a, u.dst, w.hops + 1
      FROM walk w JOIN und u ON u.src = w.b
      WHERE w.hops < 3 AND u.dst <> w.a
    )
    SELECT a AS id_a, b AS id_b, CAST(MIN(hops) AS BIGINT) AS hops
    FROM walk WHERE a < b
    GROUP BY a, b
    ORDER BY id_a, id_b
    """,
    tags=("text", "recursive-cte", "graph"),
    doc=(
        "Recursive SQL executed BY SPARK (WITH RECURSIVE, new in Spark "
        "4): min-hop closure (diameter <= 3) over the q64 near-dup "
        "graph — which documents are transitively related through "
        "chains of near-duplicates, and how far apart. The edge table "
        "is built relationally (the bounded inverted-index plan), "
        "registered as a temp view, and the recursion runs in "
        "Catalyst; DuckDB executes the IDENTICAL recursion in the "
        "oracle. Depth is capped in the recursive term, so expansion "
        "is bounded even with UNION ALL semantics; for full fixpoint "
        "clustering at 100 TB use the iterative "
        "operators/dedup.connected_components (r63), whose per-round "
        "state is one row per node rather than one row per path."
    ),
)
def s11_dup_graph_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    # localCheckpoint (eager) before the recursive CTE: `und` reads the
    # view twice and the recursion re-reads `und` every hop — uncached,
    # each reference re-executes the whole inverted-index pair pipeline
    # (guide §5: cut lineage before iteration; the same reason
    # connected_components checkpoints its edge set).
    edges = (
        ngram_jaccard_pairs(
            t(spark, sf_dir, "documents"),
            "text",
            "doc_id",
            shingle_k=3,
            threshold=0.05,
            partition_col="source",
        )
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    edges.createOrReplaceTempView("s11_edges")
    # (Round-11 note: wrapping the recursion in loop_shuffle_partitions
    # + an eager localCheckpoint was measured 1.07x SLOWER — the
    # recursive-CTE loop executes inside one SQL execution whose
    # per-hop shuffles don't re-read the scoped conf, so the change
    # only added a count and a checkpoint job. Left lazy.)
    return spark.sql(
        """
        WITH RECURSIVE und AS (
          SELECT id_a AS src, id_b AS dst FROM s11_edges
          UNION ALL
          SELECT id_b, id_a FROM s11_edges
        ),
        walk(a, b, hops) AS (
          SELECT src, dst, 1 FROM und
          UNION ALL
          SELECT w.a, u.dst, w.hops + 1
          FROM walk w JOIN und u ON u.src = w.b
          WHERE w.hops < 3 AND u.dst <> w.a
        )
        SELECT a AS id_a, b AS id_b, CAST(MIN(hops) AS BIGINT) AS hops
        FROM walk WHERE a < b
        GROUP BY a, b
        ORDER BY id_a, id_b
        """
    )


@register(
    "s43_repetition_top_fractions",
    f"""
    WITH docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    toks AS (
      SELECT doc_id, source, unnest(words) AS w FROM docs
    ),
    wc AS (
      SELECT doc_id, source, w, COUNT(*) AS c FROM toks GROUP BY doc_id, source, w
    ),
    per_doc_w AS (
      SELECT doc_id, source, MAX(c) AS top_c, SUM(c) AS n_words
      FROM wc GROUP BY doc_id, source
    ),
    bigrams AS (
      SELECT doc_id,
             unnest([array_to_string(words[i:i+1], ' ')
                     for i in range(1, len(words))]) AS g
      FROM docs WHERE len(words) >= 2
    ),
    gc AS (
      SELECT doc_id, g, COUNT(*) AS c FROM bigrams GROUP BY doc_id, g
    ),
    per_doc_g AS (
      SELECT doc_id, MAX(c) AS top_gc, SUM(c) AS n_grams
      FROM gc GROUP BY doc_id
    ),
    joined AS (
      SELECT w.doc_id, w.source,
             CAST(w.top_c AS DOUBLE) / w.n_words AS top_word_frac,
             CAST(g.top_gc AS DOUBLE) / g.n_grams AS top_bigram_frac
      FROM per_doc_w w JOIN per_doc_g g ON w.doc_id = g.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(top_word_frac AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
             AS mean_top_word_frac,
           CAST(SUM(CAST(top_bigram_frac AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
             AS mean_top_bigram_frac,
           CAST(SUM(CASE WHEN top_word_frac > 0.10 OR top_bigram_frac > 0.06
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM joined
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "quality", "repetition", "gopher"),
    doc=(
        "Gopher/MassiveText repetition rule family, top-n-gram half "
        "(Rae et al. 2021 Table A1): per document, the fraction of "
        "token occurrences taken by the most frequent word and by the "
        "most frequent 2-gram; documents over threshold are degenerate "
        "repetition and get flagged. (The duplicate-LINE half of the "
        "family needs newline structure the synthetic corpus lacks; "
        "r66 covers duplicate n-gram fraction.) Scale shape: explode "
        "keyed by doc id, two (doc,gram) count aggregations, per-doc "
        "max — every shuffle keyed on doc id or (doc,gram), no "
        "cross-document joins at all, so it scales linearly with "
        "corpus size. Exact integer-ratio math for cross-engine bit "
        "equality; only the count (not which gram) is taken, so no "
        "tie-break nondeterminism."
    ),
)
def s43_repetition_top_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_relational

    docs = t(spark, sf_dir, "documents")
    words = shingles_relational(docs, "text", "doc_id", k=1, carry_cols=["source"])
    wc = words.groupBy("doc", "source", "shingle").count()
    per_doc_w = wc.groupBy("doc", "source").agg(
        F.max("count").alias("top_c"), F.sum("count").alias("n_words")
    )
    bigrams = shingles_relational(docs, "text", "doc_id", k=2)
    gc = bigrams.groupBy("doc", "shingle").count()
    per_doc_g = gc.groupBy("doc").agg(
        F.max("count").alias("top_gc"), F.sum("count").alias("n_grams")
    )
    joined = per_doc_w.join(per_doc_g, "doc").select(
        "source",
        (F.col("top_c").cast("double") / F.col("n_words")).alias("top_word_frac"),
        (F.col("top_gc").cast("double") / F.col("n_grams")).alias("top_bigram_frac"),
    )
    flagged = (F.col("top_word_frac") > 0.10) | (F.col("top_bigram_frac") > 0.06)
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("top_word_frac").cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_top_word_frac"),
            (
                F.sum(F.col("top_bigram_frac").cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_top_bigram_frac"),
            F.sum(F.when(flagged, 1).otherwise(0)).cast("bigint").alias("n_flagged"),
        )
        .orderBy("source")
    )


@register(
    "s44_per_domain_cap",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN rk <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk > 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN rk <= 30 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
           CAST(SUM(CASE WHEN rk <= 30 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "curation", "sampling"),
    doc=(
        "Common-Crawl-style per-domain document cap (the `source` "
        "column stands in for the registrable domain): keep at most K "
        "documents per domain, selected by deterministic md5(doc_id) "
        "order — i.e. a reproducible uniform-without-replacement draw "
        "that needs no RNG state and gives the same answer at any "
        "cluster size. Emits per-domain kept/dropped counts plus a "
        "kept-id checksum proving both engines selected the identical "
        "set. Scale shape: one rank window keyed by domain; a "
        "pathologically hot domain (N >> K) can be pre-pruned with an "
        "approximate hash threshold before the exact rank so the hot "
        "partition never materializes, and the md5 sort key is what "
        "makes that refinement sound."
    ),
)
def s44_per_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    )
    ranked = docs.select("doc_id", "source", "n_chars", rk.alias("rk"))
    kept = F.col("rk") <= 30
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
            F.sum(F.when(kept, F.col("doc_id")).otherwise(0)).cast("bigint").alias("kept_id_sum"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).cast("bigint").alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "s45_exact_substring_dup",
    f"""
    WITH docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    wins AS (
      SELECT doc_id, source,
             unnest([array_to_string(words[i:i+7], ' ')
                     for i in range(1, len(words) - 6)]) AS win
      FROM docs WHERE len(words) >= 8
    ),
    shared AS (
      SELECT win FROM (SELECT DISTINCT doc_id, win FROM wins)
      GROUP BY win HAVING COUNT(*) >= 2
    ),
    per_doc AS (
      SELECT w.doc_id, w.source,
             COUNT(*) AS n_windows,
             SUM(CASE WHEN s.win IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
      FROM wins w LEFT JOIN shared s ON w.win = s.win
      GROUP BY w.doc_id, w.source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_dup) AS BIGINT) AS dup_windows,
           CAST(SUM(n_windows) AS BIGINT) AS total_windows,
           CAST(SUM(CAST(CAST(n_dup AS DOUBLE) / n_windows AS DECIMAL(18,12)))
                AS DOUBLE) / COUNT(*) AS mean_dup_frac,
           CAST(SUM(CASE WHEN n_dup * 2 > n_windows THEN 1 ELSE 0 END) AS BIGINT)
             AS n_heavy_overlap
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "dedup", "substring"),
    doc=(
        "Exact-substring duplication fraction in the style of "
        "'Deduplicating Training Data Makes Language Models Better' "
        "(Lee et al. 2022): every 8-token sliding window is hashed; a "
        "window whose text occurs in >= 2 distinct documents is "
        "duplicated, and each document reports the fraction of its "
        "window positions covered by shared windows (the spans an "
        "ExactSubstr pass would cut). Scale shape: windows explode "
        "keyed by doc, one groupBy window-text to find shared windows, "
        "one equi-join back on the same key (partitioning reused), one "
        "per-doc aggregate — strictly linear, NO pair join: a window "
        "shared by a million documents still contributes one group row "
        "and per-occurrence flags, never the million-squared pairs a "
        "naive self-join would. The suffix-array machinery of the "
        "paper is an index-build optimization; the relational form "
        "here is the shuffle-native equivalent for a 100 TB corpus."
    ),
)
def s45_exact_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_relational

    docs = t(spark, sf_dir, "documents")
    wins = shingles_relational(docs, "text", "doc_id", k=8, carry_cols=["source"])
    shared = (
        wins.select("doc", "shingle")
        .distinct()
        .groupBy("shingle")
        .count()
        .filter(F.col("count") >= 2)
        .select("shingle")
    )
    flagged = wins.join(
        shared.withColumn("is_dup", F.lit(1)), "shingle", "left"
    )
    per_doc = flagged.groupBy("doc", "source").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("is_dup").isNotNull(), 1).otherwise(0)).alias("n_dup"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_dup").cast("bigint").alias("dup_windows"),
            F.sum("n_windows").cast("bigint").alias("total_windows"),
            (
                F.sum(
                    (F.col("n_dup").cast("double") / F.col("n_windows")).cast(
                        "decimal(18,12)"
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_dup_frac"),
            F.sum(F.when(F.col("n_dup") * 2 > F.col("n_windows"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_heavy_overlap"),
        )
        .orderBy("source")
    )


@register(
    "s46_vocab_oov_rate",
    f"""
    WITH docs AS (
      SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents
    ),
    toks AS (
      SELECT source, unnest(words) AS w FROM docs
    ),
    global_counts AS (
      SELECT w, COUNT(*) AS c FROM toks GROUP BY w
    ),
    vocab AS (
      SELECT w FROM global_counts ORDER BY c DESC, w LIMIT 30
    ),
    per_src AS (
      SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w
    )
    SELECT p.source,
           CAST(SUM(p.c) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN p.c ELSE 0 END) AS BIGINT) AS oov_tokens,
           CAST(COUNT(CASE WHEN v.w IS NULL THEN 1 END) AS BIGINT) AS oov_types,
           CAST(CAST(SUM(CASE WHEN v.w IS NULL THEN p.c ELSE 0 END) AS DECIMAL(18,6))
                / SUM(p.c) AS DOUBLE) AS oov_rate
    FROM per_src p LEFT JOIN vocab v ON p.w = v.w
    GROUP BY p.source
    ORDER BY p.source
    """,
    tags=("pipeline", "tokenizer", "vocabulary"),
    doc=(
        "Tokenizer-fit audit: fix the corpus vocabulary to the top-V "
        "tokens by global frequency (deterministic (count DESC, token) "
        "tie-break) and report each source's out-of-vocabulary rate — "
        "the occurrences a V-entry tokenizer would map to <unk>. The "
        "per-source OOV rate is the standard drift check before "
        "training a tokenizer on one slice and applying it to another. "
        "Scale shape: one token-keyed count aggregation, a top-V that "
        "reduces to 30 rows (TakeOrdered, no full sort), and a "
        "broadcast join of that tiny vocabulary back against "
        "per-(source, token) counts — the fact table is touched "
        "exactly twice, both times map-side combinable."
    ),
)
def s46_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_relational

    docs = t(spark, sf_dir, "documents")
    words = shingles_relational(docs, "text", "doc_id", k=1, carry_cols=["source"])
    global_counts = words.groupBy("shingle").count()
    vocab = (
        global_counts.orderBy(F.desc("count"), "shingle")
        .limit(30)
        .select("shingle")
        .withColumn("in_vocab", F.lit(1))
    )
    per_src = words.groupBy("source", "shingle").agg(F.count(F.lit(1)).alias("c"))
    joined = per_src.join(F.broadcast(vocab), "shingle", "left")
    oov = F.col("in_vocab").isNull()
    return (
        joined.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("total_tokens"),
            F.sum(F.when(oov, F.col("c")).otherwise(0)).cast("bigint").alias("oov_tokens"),
            F.count(F.when(oov, F.lit(1))).cast("bigint").alias("oov_types"),
            (
                F.sum(F.when(oov, F.col("c")).otherwise(0)).cast("decimal(18,6)")
                / F.sum("c")
            )
            .cast("double")
            .alias("oov_rate"),
        )
        .orderBy("source")
    )


@register(
    "s47_bpe_learn_merges",
    None,  # iterative argmax loop: not expressible as one SQL statement;
    # equivalence vs a pure-Python BPE reference is pinned in
    # tests/test_operators.py::test_bpe_merges_match_python_reference
    tags=("pipeline", "tokenizer", "iterative"),
    doc=(
        "Learn the top-8 BPE merges over the corpus (Sennrich et al. "
        "2016): collapse the corpus to the distinct-word frequency "
        "table, then iterate adjacent-symbol pair counts + a "
        "deterministic argmax (count DESC, pair ASC) + a codegen'd "
        "array-fold merge. Driver traffic is one scalar row per "
        "iteration; all pair statistics stay distributed. See "
        "operators/bpe.py for the k=30000 batching note."
    ),
)
def s47_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import learn_bpe_merges

    return learn_bpe_merges(t(spark, sf_dir, "documents"), k=8)


@register(
    "s64_hybrid_search_rrf",
    f"""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN {_NORM} = '' THEN 0
                  ELSE length({_NORM}) - length(replace({_NORM}, ' ', '')) + 1
             END AS dl
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM docs
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(lower({_NORM}), ' ')) AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM toks
      WHERE w IN ('hash', 'merge', 'scan')
      GROUP BY doc_id, w
    ),
    dft AS (SELECT w, COUNT(*) AS dft FROM tf GROUP BY w),
    idf AS (
      SELECT w, round(ln(1.0 + (n_docs - dft + 0.5) / (dft + 0.5)) * 1000000) / 1000000 AS idf
      FROM dft, stats
    ),
    bm AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(idf.idf * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * docs.dl / stats.avgdl))
               AS DECIMAL(28,12))) AS DOUBLE) AS score
      FROM tf
      JOIN idf ON idf.w = tf.w
      JOIN docs ON docs.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    bm_top AS (SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 100),
    bm_rank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rb
      FROM bm_top
    ),
    cos AS (
      SELECT c.vec_id AS doc_id,
             list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
               AS cosine
      FROM embeddings q JOIN embeddings c ON c.vec_id BETWEEN 1 AND 499
      WHERE q.vec_id = 0
    ),
    cos_top AS (SELECT doc_id, cosine FROM cos ORDER BY cosine DESC, doc_id LIMIT 100),
    cos_rank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rc
      FROM cos_top
    )
    SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
           COALESCE(1.0 / (60.0 + b.rb), 0.0)
             + COALESCE(1.0 / (60.0 + c.rc), 0.0) AS rrf,
           CAST(COALESCE(b.rb, -1) AS BIGINT) AS rank_bm25,
           CAST(COALESCE(c.rc, -1) AS BIGINT) AS rank_cosine
    FROM bm_rank b FULL OUTER JOIN cos_rank c ON c.doc_id = b.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
    tags=("text", "vectors", "search", "hybrid", "rrf"),
    doc=(
        "Hybrid retrieval with reciprocal-rank fusion (the standard "
        "RAG / training-data retrieval stack): a BM25 keyword leg "
        "(shared scorer with r62) and an exact-cosine vector leg "
        "(query = embedding 0 against the document id range) each "
        "produce a top-100 via distributed TakeOrdered — no global "
        "sort — and only the two 100-row lists get rank windows "
        "(bounded input, classified in the window gate). RRF "
        "k=60 fuses them through a full outer join, so a document "
        "strong in either leg surfaces. Deterministic end to end: "
        "both leg scores are bit-exact cross-engine (decimal BM25 "
        "sums, identical IEEE cosine), ties break on doc_id, and the "
        "fusion arithmetic is spelled identically in both engines."
    ),
)
def s64_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W2

    from ..functions.vectors import cosine

    base = t(spark, sf_dir, "documents")
    bm_top = (
        _bm25_doc_scores(base)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), "doc_id")
        .limit(100)
    )
    bm_rank = bm_top.select(
        "doc_id",
        F.row_number().over(W2.orderBy(F.desc("score"), "doc_id")).alias("rb"),
    )
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cand = emb.filter(F.col("vec_id").between(1, 499)).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    cos_top = (
        cand.crossJoin(F.broadcast(q))
        .select("doc_id", cosine(F.col("qe"), F.col("embedding")).alias("cosine"))
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(100)
    )
    cos_rank = cos_top.select(
        "doc_id",
        F.row_number().over(W2.orderBy(F.desc("cosine"), "doc_id")).alias("rc"),
    )
    fused = bm_rank.join(cos_rank, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (60.0 + F.col("rb")), F.lit(0.0))
            + F.coalesce(1.0 / (60.0 + F.col("rc")), F.lit(0.0))
        ).alias("rrf"),
        F.coalesce(F.col("rb"), F.lit(-1)).cast("bigint").alias("rank_bm25"),
        F.coalesce(F.col("rc"), F.lit(-1)).cast("bigint").alias("rank_cosine"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(20)


@register(
    "s83_phrase_search",
    f"""
    WITH arrs AS (
      SELECT doc_id, string_split(lower({_NORM}), ' ') AS arr FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(arr) AS tok, unnest(range(len(arr))) AS pos
      FROM arrs
    ),
    m1 AS (SELECT doc_id, pos FROM toks WHERE tok = 'table'),
    m2 AS (SELECT doc_id, pos FROM toks WHERE tok = 'scan')
    SELECT m1.doc_id AS doc_id,
           COUNT(*) AS n_hits,
           CAST(MIN(m1.pos) AS BIGINT) AS first_pos
    FROM m1 JOIN m2 ON m2.doc_id = m1.doc_id AND m2.pos = m1.pos + 1
    GROUP BY 1
    ORDER BY n_hits DESC, doc_id
    LIMIT 20
    """,
    tags=("text", "search", "positional-index"),
    doc=(
        "Exact phrase search ('table scan') over a positional inverted "
        "index — the search-engine primitive BM25 (r62) cannot express: "
        "posexplode assigns 0-based token positions, the phrase is an "
        "equi-join on (doc_id, pos+1) between the two term postings. "
        "Scale shape: postings are filtered to the phrase terms BEFORE "
        "the join (selectivity of the rarest term bounds the join input "
        "— the classic term-ordering optimization), the join key is "
        "(doc, position) so it is linear in posting size, never "
        "quadratic; top-20 via TakeOrdered. Counts/positions are exact "
        "integers."
    ),
)
def s83_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(norm_ws(F.col("text"))), " ")).alias(
            "pos", "tok"
        ),
    )
    m1 = toks.filter(F.col("tok") == "table").select("doc_id", "pos")
    m2 = toks.filter(F.col("tok") == "scan").select(
        F.col("doc_id").alias("doc2"), F.col("pos").alias("pos2")
    )
    return (
        m1.join(
            m2,
            (F.col("doc2") == F.col("doc_id"))
            & (F.col("pos2") == F.col("pos") + 1),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
        .orderBy(F.desc("n_hits"), "doc_id")
        .limit(20)
    )


@register(
    "s97_text_normalize",
    """
    WITH cleaned AS (
      SELECT source, text,
             lower(trim(regexp_replace(
               regexp_replace(text, '[^ -~]', '', 'g'),
               ' +', ' ', 'g'))) AS clean
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(length(text) - length(clean)) AS BIGINT)
             AS chars_removed,
           CAST(SUM(length(clean)) AS DOUBLE) / COUNT(*) AS avg_clean_len
    FROM cleaned GROUP BY source ORDER BY source
    """,
    tags=("text", "cleaning", "normalization"),
    doc=(
        "Unicode/whitespace text normalization - the first stage of "
        "every web-corpus cleaning pipeline: strip non-printable and "
        "non-ASCII bytes ([^ -~], i.e. outside space..tilde), collapse "
        "space runs, trim, lowercase; report per-source how many "
        "documents changed, total characters removed, and the mean "
        "cleaned length (exact integer sums, one IEEE division). Both "
        "engines run the SAME two regexes (character class + ' +' are "
        "identical in Java regex and RE2; DuckDB needs the 'g' flag "
        "Spark implies). Pure map-side string work with a tiny "
        "per-source aggregate - no Python in the path, fully "
        "whole-stage-codegen'd."
    ),
)
def s97_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    clean = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), "[^ -~]", ""), " +", " "
            )
        )
    )
    cleaned = docs.select("source", "text", clean.alias("clean"))
    return (
        cleaned.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("clean") != F.col("text"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_changed"),
            F.sum(F.length("text") - F.length("clean"))
            .cast("bigint")
            .alias("chars_removed"),
            (
                F.sum(F.length("clean")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_clean_len"),
        )
        .orderBy("source")
    )


@register(
    "t08_cdc_chunk_dedup",
    f"""
    WITH arrs AS (
      SELECT doc_id, source, string_split(lower({_NORM}), ' ') AS arr
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, unnest(arr) AS tok,
             unnest(range(len(arr))) AS pos
      FROM arrs
    ),
    marked AS (
      SELECT doc_id, source, tok, pos,
             CASE WHEN ('0x' || substring(md5(tok), 1, 8))::BIGINT % 16 = 0
                  THEN 1 ELSE 0 END AS b
      FROM toks WHERE tok <> ''
    ),
    chunked AS (
      SELECT doc_id, source, tok, pos,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) - b AS chunk_id
      FROM marked
    ),
    chunks AS (
      SELECT doc_id, source,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS fp,
             COUNT(*) AS n_toks
      FROM chunked GROUP BY doc_id, source, chunk_id
    ),
    fps AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY fp)
    SELECT c.source,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           CAST(SUM(CASE WHEN f.nd > 1 THEN n_toks ELSE 0 END) AS BIGINT)
             AS shared_tokens,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens
    FROM chunks c JOIN fps f USING (fp)
    GROUP BY c.source ORDER BY c.source
    """,
    tags=("text", "dedup", "chunking"),
    doc=(
        "Content-defined chunking (CDC) duplicate census: token-level "
        "Rabin-style chunking where a token whose hash lands in 1/16 of "
        "the space ENDS a chunk, so chunk boundaries depend only on "
        "LOCAL content - insert one sentence at the top of a page and, "
        "unlike fixed windows (s45) or fixed-size blocks, every "
        "downstream chunk boundary stays put and still matches its "
        "twin in other documents. The backup/dedup-storage technique "
        "(LBFS, Muthitacharoen et al. SOSP 2001) applied to corpus "
        "sub-document dedup: per-source share of chunk instances (and "
        "tokens) whose exact chunk fingerprint recurs in another "
        "document. Boundaries and fingerprints are md5-portable, chunk "
        "ids come from a per-doc cumulative sum (partitioned window), "
        "and the fingerprint join is a plain hash join on fp - linear "
        "in chunk count, no pair explosion, mean chunk length 16 "
        "tokens by construction."
    ),
)
def t08_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    arr = F.split(F.lower(norm_ws(F.col("text"))), " ")
    toks = docs.select(
        "doc_id", "source", F.posexplode(arr).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    marked = toks.withColumn(
        "b",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
                "bigint"
            )
            % 16
            == 0
        ).cast("int"),
    )
    wdoc = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, 0
    )
    chunked = marked.withColumn(
        "chunk_id", F.sum("b").over(wdoc) - F.col("b")
    )
    chunks = chunked.groupBy("doc_id", "source", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("fp"),
        F.count(F.lit(1)).alias("n_toks"),
    )
    fps = chunks.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        chunks.join(fps, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_chunks"),
            F.sum(F.when(F.col("nd") > 1, F.col("n_toks")).otherwise(0))
            .cast("bigint")
            .alias("shared_tokens"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
        )
        .orderBy("source")
    )


@register(
    "t15_blocking_quality_audit",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    kept AS (
      SELECT doc_id, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM shingled
      ) WHERE df <= 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS ss FROM kept GROUP BY doc_id),
    truth AS (
      SELECT ia, ib FROM (
        SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS sh
        FROM kept a JOIN kept b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) s
      JOIN sizes sa ON sa.doc_id = ia
      JOIN sizes sb ON sb.doc_id = ib
      WHERE CAST(sh AS DOUBLE) / (sa.ss + sb.ss - sh) > 0.2
    ),
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{_duck_minhash(i)} AS h{i}' for i in range(4))}
      FROM shingled GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, '{i}|' || h{i} AS band_key FROM sigs" for i in range(4))}
    ),
    cands AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM cands) AS n_cand,
             (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM truth t
              JOIN cands c ON c.ia = t.ia AND c.ib = t.ib) AS n_caught,
             (SELECT COUNT(*) FROM documents) AS n
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST((n * (n - 1)) // 2 AS BIGINT) AS total_pairs,
           CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT) AS n_true_pairs,
           CAST(n_caught AS BIGINT) AS n_caught,
           1.0 - CAST(n_cand AS DOUBLE)
                 / CAST((n * (n - 1)) // 2 AS DOUBLE) AS reduction_ratio,
           CAST(n_caught AS DOUBLE) / CAST(n_true AS DOUBLE)
             AS pair_completeness,
           CAST(n_caught AS DOUBLE) / CAST(n_cand AS DOUBLE)
             AS pair_quality
    FROM counts
    """,
    tags=("text", "dedup", "evaluation"),
    doc=(
        "Record-linkage blocking-quality audit of the MinHash LSH "
        "blocker (q65's 4-seed band-1 scheme) against exact 3-gram "
        "Jaccard > 0.2 ground truth (q64's inverted-index pipeline, "
        "global, max_df=50): the three standard metrics - reduction "
        "ratio (fraction of the n(n-1)/2 pair space the blocker "
        "prunes), pair completeness (recall: true near-dup pairs that "
        "share a band) and pair quality (precision of the candidate "
        "set). This is how a 100 TB dedup pipeline tunes seeds/bands "
        "BEFORE paying for the full run - the text-side companion to "
        "r87's embedding-LSH recall audit. All counts are exact "
        "integers (candidate and truth sets reuse the bounded "
        "inverted-index/banded joins); the metrics are single IEEE "
        "divisions; total_pairs uses integer division so it stays "
        "exact at any corpus size."
    ),
)
def t15_blocking_quality_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import (
        _persist,
        construct_concurrently,
        materialize_concurrently,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = t(spark, sf_dir, "documents")
    # Persist both pair sets: each feeds its own count AND the caught
    # intersection join below — uncached, the band/inverted-index pair
    # joins (the expensive stage of each generator) execute twice
    # (guide §5). Short (id_a, id_b) rows, bounded by the generators'
    # pair budgets. The candidate and truth pipelines are fully
    # independent until the caught-join, and each blocks at
    # construction on the job that builds its signature or
    # inverted-index table (which also yields its pair estimate) and,
    # below the generators' driver gates, on the collect that pairs
    # the table on the driver — build them in overlapping driver
    # threads (guide §2.6) so the truth side's shingle stages
    # back-fill the LSH side's stage tails.
    raws: dict[str, DataFrame] = {}

    def _build_cands() -> DataFrame:
        raws["c"] = minhash_lsh_pairs(
            docs, "text", "doc_id", seeds=4, band_size=1, shingle_k=3
        )
        return _persist(raws["c"].select("id_a", "id_b"))

    def _build_truth() -> DataFrame:
        raws["t"] = ngram_jaccard_pairs(
            docs,
            "text",
            "doc_id",
            shingle_k=3,
            threshold=0.2,
            partition_col=None,
            max_df=50,
        )
        return _persist(raws["t"].select("id_a", "id_b"))

    cands, truth = construct_concurrently(_build_cands, _build_truth)
    # Submit-time advisory (round-10 verdict #6): both generators
    # already computed their exact pair-volume estimates (for the
    # budget, the partition scaling and their driver gates) — no extra
    # job here. Fires
    # BEFORE the pair joins materialize below, so on a too-dense corpus
    # the warning precedes the heavy tiers, not follows them.
    _advise_sampled_audit(
        (getattr(raws["c"], "_xss_edge_estimate", 0.0) or 0.0)
        + (getattr(raws["t"], "_xss_edge_estimate", 0.0) or 0.0)
    )
    materialize_concurrently(cands, truth)
    c_cand = cands.agg(F.count(F.lit(1)).alias("n_cand"))
    c_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    c_caught = truth.join(cands, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_caught")
    )
    c_n = docs.agg(F.count(F.lit(1)).alias("n"))
    joined = (
        c_cand.crossJoin(F.broadcast(c_true))
        .crossJoin(F.broadcast(c_caught))
        .crossJoin(F.broadcast(c_n))
    )
    n = F.col("n")
    total_pairs = F.expr("(n * (n - 1)) div 2")
    return joined.select(
        n.cast("bigint").alias("n_docs"),
        total_pairs.cast("bigint").alias("total_pairs"),
        F.col("n_cand").cast("bigint").alias("n_candidates"),
        F.col("n_true").cast("bigint").alias("n_true_pairs"),
        F.col("n_caught").cast("bigint").alias("n_caught"),
        (
            F.lit(1.0)
            - F.col("n_cand").cast("double") / total_pairs.cast("double")
        ).alias("reduction_ratio"),
        (
            F.col("n_caught").cast("double") / F.col("n_true").cast("double")
        ).alias("pair_completeness"),
        (
            F.col("n_caught").cast("double") / F.col("n_cand").cast("double")
        ).alias("pair_quality"),
    )


@register(
    "u14_blocking_audit_sampled",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    sampled AS (
      SELECT * FROM docs
      WHERE ((doc_id % 1000003) * 2654435761) % 1000000007 % 1000 < 300
    ),
    shingled_s AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM sampled WHERE len(words) >= 3
    ),
    kept_s AS (
      SELECT doc_id, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM shingled_s
      ) WHERE df <= 15
    ),
    sizes_s AS (SELECT doc_id, COUNT(*) AS ss FROM kept_s GROUP BY doc_id),
    truth_s AS (
      SELECT ia, ib FROM (
        SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS sh
        FROM kept_s a JOIN kept_s b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) s
      JOIN sizes_s sa ON sa.doc_id = ia
      JOIN sizes_s sb ON sb.doc_id = ib
      WHERE CAST(sh AS DOUBLE) / (sa.ss + sb.ss - sh) > 0.2
    ),
    shingled_all_s AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM sampled WHERE len(words) >= 3
    ),
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{_duck_minhash(i)} AS h{i}' for i in range(4))}
      FROM shingled_all_s GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, '{i}|' || h{i} AS band_key FROM sigs" for i in range(4))}
    ),
    cands_s AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n,
             (SELECT COUNT(*) FROM sampled) AS n_s,
             (SELECT COUNT(*) FROM cands_s) AS n_cand_s,
             (SELECT COUNT(*) FROM truth_s) AS n_true_s,
             (SELECT COUNT(*) FROM truth_s t
              JOIN cands_s c ON c.ia = t.ia AND c.ib = t.ib) AS n_caught_s
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n_s AS BIGINT) AS n_sampled,
           CAST(n_cand_s AS BIGINT) AS n_cand_sampled,
           CAST(round(CAST(n_cand_s AS DOUBLE)
                      / (CAST(n_s AS DOUBLE) * (CAST(n_s AS DOUBLE) - 1.0)
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
             AS BIGINT) AS n_cand_est,
           CAST(n_true_s AS BIGINT) AS n_true_sampled,
           CAST(n_caught_s AS BIGINT) AS n_caught_sampled,
           CAST(n_caught_s AS DOUBLE) / CAST(n_true_s AS DOUBLE) AS pc_est,
           1.96 * sqrt(CAST(n_caught_s AS DOUBLE) / CAST(n_true_s AS DOUBLE)
                       * (1.0 - CAST(n_caught_s AS DOUBLE)
                                / CAST(n_true_s AS DOUBLE))
                       / CAST(n_true_s AS DOUBLE)) AS ci95
    FROM counts
    """,
    tags=("text", "dedup", "evaluation", "sampling"),
    doc=(
        "t15's blocking-quality audit on a SAMPLED sub-corpus "
        "(round-9 verdict task 6, redesigned after the 100x "
        "rehearsal FALSIFIED the truth-side hypothesis: t15's 916M "
        "shuffle records live in the minhash signature build + band "
        "self-join, not the truth join — max_df=50 already drops the "
        "clique-shared shingles on dense corpora, so sampling only "
        "the truth side changed nothing). This variant runs BOTH "
        "sides — LSH candidates AND ground truth — on one "
        "deterministic ~30% doc sample (arithmetic multiplicative "
        "hash, identical BIGINT math on both engines, no RNG), which "
        "is statistically sound because a pair's band membership and "
        "its Jaccard are independent of every other document: "
        "pair_completeness over sampled truth pairs is the same "
        "estimand as the full audit's, with binomial ci95 reported; "
        "n_cand_est scales the sampled candidate count by the exact "
        "inverse pair-sampling rate n_s(n_s-1)/(n(n-1)). Quadratic "
        "tiers drop to ~9%, linear tiers to 30% — the audit stays "
        "bounded at any corpus density (100x rehearsal: 37.7M vs "
        "916.5M shuffle records, 24x less, warm 19.6s vs 71.1s; "
        "BASELINE.md round-10 row). "
        "max_df scales with the rate (50 -> 15) so the truth df "
        "cutoff matches the full run in expectation. t15 remains the "
        "exact-audit default; this is the scale path."
    ),
)
def u14_blocking_audit_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import (
        _persist,
        build_concurrently,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = t(spark, sf_dir, "documents")
    sample = docs.filter(
        F.expr("((doc_id % 1000003) * 2654435761) % 1000000007 % 1000 < 300")
    )
    # Persist both sampled pair sets — same double-consumption shape as
    # t15 (count + intersection join), same guide-§5 fix.
    # Same §2.6 overlap as t15: the sampled candidate and truth
    # pipelines are independent until the caught-join, so build them
    # in overlapping driver threads.
    cands_s, truth_s = build_concurrently(
        lambda: _persist(
            minhash_lsh_pairs(
                sample, "text", "doc_id", seeds=4, band_size=1, shingle_k=3
            ).select("id_a", "id_b")
        ),
        lambda: _persist(
            ngram_jaccard_pairs(
                sample,
                "text",
                "doc_id",
                shingle_k=3,
                threshold=0.2,
                partition_col=None,
                max_df=15,
            ).select("id_a", "id_b")
        ),
    )
    c_n = docs.agg(F.count(F.lit(1)).alias("n"))
    c_s = sample.agg(F.count(F.lit(1)).alias("n_s"))
    c_cand = cands_s.agg(F.count(F.lit(1)).alias("n_cand_s"))
    c_true = truth_s.agg(F.count(F.lit(1)).alias("n_true_s"))
    c_caught = truth_s.join(cands_s, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_caught_s")
    )
    joined = (
        c_n.crossJoin(F.broadcast(c_s))
        .crossJoin(F.broadcast(c_cand))
        .crossJoin(F.broadcast(c_true))
        .crossJoin(F.broadcast(c_caught))
    )
    nd = F.col("n").cast("double")
    ns = F.col("n_s").cast("double")
    pair_rate = ns * (ns - F.lit(1.0)) / (nd * (nd - F.lit(1.0)))
    pc = F.col("n_caught_s").cast("double") / F.col("n_true_s").cast("double")
    return joined.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("n_s").cast("bigint").alias("n_sampled"),
        F.col("n_cand_s").cast("bigint").alias("n_cand_sampled"),
        F.round(F.col("n_cand_s").cast("double") / pair_rate)
        .cast("bigint")
        .alias("n_cand_est"),
        F.col("n_true_s").cast("bigint").alias("n_true_sampled"),
        F.col("n_caught_s").cast("bigint").alias("n_caught_sampled"),
        pc.alias("pc_est"),
        (
            F.lit(1.96)
            * F.sqrt(
                pc * (F.lit(1.0) - pc)
                / F.col("n_true_s").cast("double")
            )
        ).alias("ci95"),
    )


@register(
    "t19_burrows_delta",
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split(lower({_NORM}), ' ')) AS tok
      FROM documents
    ),
    toks_clean AS (SELECT * FROM toks WHERE tok <> ''),
    totals AS (SELECT source, COUNT(*) AS n_s FROM toks_clean GROUP BY source),
    n_sources AS (SELECT COUNT(*) AS s FROM totals),
    top_words AS (
      SELECT tok FROM toks_clean GROUP BY tok
      ORDER BY COUNT(*) DESC, tok LIMIT 20
    ),
    counts AS (
      SELECT tc.source, tc.tok, COUNT(*) AS c
      FROM toks_clean tc JOIN top_words tw ON tw.tok = tc.tok
      GROUP BY tc.source, tc.tok
    ),
    -- fixed-point relative frequency per (word, source): round(f*1e9)
    freq AS (
      SELECT t.source, tw.tok,
             CAST(round(CAST(COALESCE(c.c, 0) AS DOUBLE)
                        / CAST(t.n_s AS DOUBLE) * 1e9) AS BIGINT) AS q
      FROM totals t
      CROSS JOIN top_words tw
      LEFT JOIN counts c ON c.source = t.source AND c.tok = tw.tok
    ),
    mom AS (
      SELECT tok, CAST(SUM(q) AS BIGINT) AS sq,
             CAST(SUM(q * q) AS BIGINT) AS sqq
      FROM freq GROUP BY tok
    ),
    z AS (
      SELECT f.source, f.tok,
             CAST(ns.s * f.q - m.sq AS DOUBLE)
             / (CAST(ns.s AS DOUBLE)
                * sqrt(CAST(ns.s * m.sqq - m.sq * m.sq AS DOUBLE)
                       / CAST(ns.s * (ns.s - 1) AS DOUBLE))) AS z
      FROM freq f
      JOIN mom m ON m.tok = f.tok
      CROSS JOIN n_sources ns
    ),
    pair_terms AS (
      SELECT a.source AS source_a, b.source AS source_b,
             round(abs(a.z - b.z), 12) AS term
      FROM z a JOIN z b ON b.tok = a.tok AND b.source > a.source
    )
    SELECT source_a, source_b,
           CAST(SUM(CAST(term AS DECIMAL(38,15))) AS DOUBLE) / 20.0
             AS burrows_delta
    FROM pair_terms
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
    tags=("text", "stylometry", "statistics"),
    doc=(
        "Burrows' Delta stylometric distance between sources: z-score "
        "each source's relative frequency of the corpus's top-20 words "
        "against the cross-source mean/std, then Delta(a,b) = mean "
        "|z_a - z_b| - the standard authorship-attribution measure, "
        "here profiling which corpus sources 'write alike' (useful for "
        "provenance checks and mixture design). Relative frequencies "
        "are fixed-point round(f*1e9) BIGINTs, so cross-source moments "
        "are exact integers and each z is one IEEE expression; the "
        "20-term pair sums round to 12 digits into DECIMAL (the PSI "
        "discipline). Top-20 selection is TakeOrdered with a token "
        "tie-break; everything downstream is bounded by 20 words x "
        "source pairs."
    ),
)
def t19_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(norm_ws(F.col("text"))), " ")).alias(
            "tok"
        ),
    ).filter(F.col("tok") != "")
    totals = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    n_sources = totals.agg(F.count(F.lit(1)).alias("s"))
    top_words = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cc"))
        .orderBy(F.desc("cc"), "tok")
        .limit(20)
        .select("tok")
    )
    counts = (
        toks.join(F.broadcast(top_words), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    freq = (
        totals.crossJoin(F.broadcast(top_words))
        .join(counts, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.round(
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n_s").cast("double")
                * 1e9
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    mom = freq.groupBy("tok").agg(
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
    )
    s = F.col("s")
    z = (
        freq.join(F.broadcast(mom), "tok")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "tok",
            (
                (s * F.col("q") - F.col("sq")).cast("double")
                / (
                    s.cast("double")
                    * F.sqrt(
                        (s * F.col("sqq") - F.col("sq") * F.col("sq")).cast(
                            "double"
                        )
                        / (s * (s - 1)).cast("double")
                    )
                )
            ).alias("z"),
        )
    )
    a, b = z.alias("a"), z.alias("b")
    pair_terms = a.join(
        b,
        (F.col("b.tok") == F.col("a.tok"))
        & (F.col("b.source") > F.col("a.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.round(F.abs(F.col("a.z") - F.col("b.z")), 12).alias("term"),
    )
    return (
        pair_terms.groupBy("source_a", "source_b")
        .agg(
            (
                F.sum(F.col("term").cast("decimal(38,15)")).cast("double")
                / 20.0
            ).alias("burrows_delta")
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "t26_heaps_law",
    f"""
    WITH nmax AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
    toks AS (
      SELECT doc_id, unnest(string_split(lower({_NORM}), ' ')) AS tok
      FROM documents
    ),
    toks_clean AS (SELECT * FROM toks WHERE tok <> ''),
    bucketed AS (
      SELECT CAST(doc_id * 10 // nd AS BIGINT) AS b, tok
      FROM toks_clean CROSS JOIN nmax
    ),
    tok_per_b AS (SELECT b, COUNT(*) AS n_tok FROM bucketed GROUP BY b),
    first_touch AS (
      SELECT tok, MIN(b) AS fb FROM bucketed GROUP BY tok
    ),
    new_per_b AS (SELECT fb AS b, COUNT(*) AS n_new FROM first_touch
                  GROUP BY fb),
    grid AS (
      SELECT t.b,
             SUM(t.n_tok) OVER (ORDER BY t.b
                                ROWS UNBOUNDED PRECEDING) AS cum_tok,
             SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY t.b
                                ROWS UNBOUNDED PRECEDING) AS cum_vocab
      FROM tok_per_b t LEFT JOIN new_per_b n ON n.b = t.b
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(cum_tok AS DOUBLE)) * 1e6) AS BIGINT)
               AS lx,
             CAST(round(ln(CAST(cum_vocab AS DOUBLE)) * 1e6) AS BIGINT)
               AS ly
      FROM grid
    ),
    mom AS (
      SELECT COUNT(*) AS k,
             CAST(SUM(lx) AS BIGINT) AS sx,
             CAST(SUM(ly) AS BIGINT) AS sy,
             CAST(SUM(lx * ly) AS BIGINT) AS sxy,
             CAST(SUM(lx * lx) AS BIGINT) AS sxx
      FROM pts
    ),
    tot AS (
      SELECT MAX(cum_tok) AS n_tokens, MAX(cum_vocab) AS n_vocab
      FROM grid
    )
    SELECT CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_vocab AS BIGINT) AS n_vocab,
           (CAST(m.k AS DOUBLE) * CAST(m.sxy AS DOUBLE)
            - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
           / (CAST(m.k AS DOUBLE) * CAST(m.sxx AS DOUBLE)
              - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
             AS heaps_beta,
           round(exp((CAST(m.sy AS DOUBLE)
                      - ((CAST(m.k AS DOUBLE) * CAST(m.sxy AS DOUBLE)
                          - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
                         / (CAST(m.k AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                            - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)))
                        * CAST(m.sx AS DOUBLE))
                     / CAST(m.k AS DOUBLE) / 1e6), 9) AS heaps_k
    FROM mom m CROSS JOIN tot t
    """,
    tags=("text", "corpus-statistics", "scaling-law"),
    doc=(
        "Heaps' law fit V(N) = K*N^beta of vocabulary growth: split "
        "the corpus into 10 doc-id prefix buckets (doc_id*10//N - "
        "map-side, no global rank needed), accumulate running token "
        "and first-touch vocabulary counts (s74's first-touch "
        "re-expression of cumulative-distinct), then OLS on the "
        "ln-ln points. The companion scaling law to Zipf (s76) - "
        "together they forecast how much NEW vocabulary another 10x "
        "of corpus will bring, which sizes tokenizer vocab budgets. "
        "ln is taken only of INTEGER cumulative counts, fixed-point "
        "quantized (s90 discipline), so the regression moments are "
        "exact integers; beta is one IEEE expression and K one "
        "final exp, rounded to 9. Heavy work is two token-stream "
        "aggregations; the windowed stage is the 10-row bucket grid."
    ),
)
def t26_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    nmax = docs.agg((F.max("doc_id") + 1).alias("nd"))
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(norm_ws(F.col("text"))), " ")).alias(
            "tok"
        ),
    ).filter(F.col("tok") != "")
    bucketed = toks.crossJoin(F.broadcast(nmax)).select(
        F.expr("(doc_id * 10) div nd").cast("bigint").alias("b"), "tok"
    )
    tok_per_b = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("n_tok"))
    first_touch = bucketed.groupBy("tok").agg(F.min("b").alias("fb"))
    new_per_b = first_touch.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    wb = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    grid = (
        tok_per_b.join(new_per_b, "b", "left")
        .select(
            "b",
            F.sum("n_tok").over(wb).alias("cum_tok"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(wb)
            .alias("cum_vocab"),
        )
    )

    fxln = iln6  # shared fixed-point ln guard (functions/stats.py)

    pts = grid.select(
        fxln(F.col("cum_tok")).alias("lx"),
        fxln(F.col("cum_vocab")).alias("ly"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("bigint").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("bigint").alias("sxx"),
    )
    tot = grid.agg(
        F.max("cum_tok").alias("n_tokens"),
        F.max("cum_vocab").alias("n_vocab"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    beta = (d("k") * d("sxy") - d("sx") * d("sy")) / (
        d("k") * d("sxx") - d("sx") * d("sx")
    )
    return (
        mom.crossJoin(F.broadcast(tot))
        .select(
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_vocab").cast("bigint").alias("n_vocab"),
            beta.alias("heaps_beta"),
            exp9((d("sy") - beta * d("sx")) / d("k") / F.lit(1e6)).alias(
                "heaps_k"
            ),
        )
    )


@register(
    "t32_log_odds_distinguishing_terms",
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split(lower({_NORM}), ' ')) AS tok
      FROM documents WHERE source IN ('src0', 'src1')
    ),
    toks_clean AS (SELECT * FROM toks WHERE tok <> ''),
    counts AS (
      SELECT tok,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c2
      FROM toks_clean GROUP BY tok
    ),
    tot AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2, COUNT(*) AS v FROM counts
    ),
    -- Monroe et al. 2008 log-odds with a symmetric Dirichlet(1)
    -- prior: every ln argument is an INTEGER (s90 discipline)
    scored AS (
      SELECT c.tok, c.c1, c.c2,
             (CAST(round(ln(CAST(c.c1 + 1 AS DOUBLE)) * 1e6) AS BIGINT)
              - CAST(round(ln(CAST(t.n1 + t.v - c.c1 - 1 AS DOUBLE))
                           * 1e6) AS BIGINT)
              - CAST(round(ln(CAST(c.c2 + 1 AS DOUBLE)) * 1e6) AS BIGINT)
              + CAST(round(ln(CAST(t.n2 + t.v - c.c2 - 1 AS DOUBLE))
                           * 1e6) AS BIGINT)) AS dq,
             sqrt(1.0 / CAST(c.c1 + 1 AS DOUBLE)
                  + 1.0 / CAST(c.c2 + 1 AS DOUBLE)) AS se
      FROM counts c CROSS JOIN tot t
    )
    SELECT tok,
           CAST(c1 AS BIGINT) AS n_src0,
           CAST(c2 AS BIGINT) AS n_src1,
           (CAST(dq AS DOUBLE) / 1e6) / se AS z_score
    FROM scored
    ORDER BY abs((CAST(dq AS DOUBLE) / 1e6) / se) DESC, tok
    LIMIT 15
    """,
    tags=("text", "corpus-statistics", "keyness"),
    doc=(
        "Monroe et al. (2008) 'Fightin' Words' log-odds with a "
        "Dirichlet(1) prior: the statistically-grounded way to find "
        "terms that DISTINGUISH corpus source src0 from src1 "
        "(raw frequency ratios overweight rare words; plain TF-IDF "
        "has no variance model). delta = ln(c1+1) - ln(n1+V-c1-1) - "
        "ln(c2+1) + ln(n2+V-c2-1), z = delta/sqrt(1/(c1+1) + "
        "1/(c2+1)). Every ln argument is an INTEGER, fixed-point "
        "quantized (s90 discipline); the standard error is "
        "IEEE-exact sqrt of integer reciprocals; top-15 by |z| via "
        "TakeOrdered with a token tie-break. One token-stream "
        "aggregation; the scoring join is against a 1-row totals "
        "broadcast."
    ),
)
def t32_log_odds_distinguishing_terms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(norm_ws(F.col("text"))), " ")).alias(
            "tok"
        ),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias(
            "c1"
        ),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias(
            "c2"
        ),
    )
    tot = counts.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.count(F.lit(1)).alias("v"),
    )

    fxln = iln6  # shared fixed-point ln guard (functions/stats.py)

    scored = counts.crossJoin(F.broadcast(tot)).select(
        "tok",
        "c1",
        "c2",
        (
            fxln(F.col("c1") + 1)
            - fxln(F.col("n1") + F.col("v") - F.col("c1") - 1)
            - fxln(F.col("c2") + 1)
            + fxln(F.col("n2") + F.col("v") - F.col("c2") - 1)
        ).alias("dq"),
        F.sqrt(
            1.0 / (F.col("c1") + 1).cast("double")
            + 1.0 / (F.col("c2") + 1).cast("double")
        ).alias("se"),
    )
    z = (F.col("dq").cast("double") / 1e6) / F.col("se")
    return (
        scored.select(
            "tok",
            F.col("c1").cast("bigint").alias("n_src0"),
            F.col("c2").cast("bigint").alias("n_src1"),
            z.alias("z_score"),
        )
        .orderBy(F.abs(F.col("z_score")).desc(), "tok")
        .limit(15)
    )


@register(
    "t46_mattr_lexical_diversity",
    f"""
    WITH arrs AS (
      SELECT doc_id, source, string_split(lower({_NORM}), ' ') AS words
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, unnest(words) AS tok,
             unnest(range(len(words))) AS pos
      FROM arrs
    ),
    windows AS (
      SELECT doc_id, source, CAST(pos // 50 AS BIGINT) AS w, tok,
             MAX(pos) OVER (PARTITION BY doc_id) AS max_pos
      FROM toks WHERE tok <> ''
    ),
    complete AS (
      SELECT doc_id, source, w, tok FROM windows
      WHERE (w + 1) * 50 - 1 <= max_pos
    ),
    per_window AS (
      SELECT source, doc_id, w, COUNT(DISTINCT tok) AS n_types
      FROM complete GROUP BY source, doc_id, w
    )
    SELECT source,
           COUNT(*) AS n_windows,
           CAST(SUM(n_types) AS DOUBLE) / (COUNT(*) * 50.0) AS mattr
    FROM per_window GROUP BY source ORDER BY source
    """,
    tags=("text", "quality", "lexical-diversity"),
    doc=(
        "Moving-average type-token ratio (MATTR, Covington & McFall "
        "2010) per source: mean distinct-type count over complete "
        "50-token windows, divided by the window length - the "
        "length-controlled lexical-diversity measure that fixes q79's "
        "raw TTR confound (longer documents mechanically score lower "
        "TTR, so cross-source raw comparisons mislead). Windows come "
        "from integer position division (map-side, no sliding "
        "window); incomplete tail windows are excluded so every "
        "window contributes exactly 50 tokens and the ratio is a "
        "pure integer division. One token explode, one grouped "
        "COUNT(DISTINCT) keyed by (doc, window) - scale-safe."
    ),
)
def t46_mattr_lexical_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    arr = F.split(F.lower(norm_ws(F.col("text"))), " ")
    toks = docs.select(
        "doc_id", "source", F.posexplode(arr).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    windows = toks.select(
        "doc_id",
        "source",
        F.expr("pos div 50").cast("bigint").alias("w"),
        "tok",
        F.max("pos").over(W.partitionBy("doc_id")).alias("max_pos"),
    )
    complete = windows.filter(
        (F.col("w") + 1) * 50 - 1 <= F.col("max_pos")
    )
    per_window = complete.groupBy("source", "doc_id", "w").agg(
        F.countDistinct("tok").alias("n_types")
    )
    return (
        per_window.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            (
                F.sum("n_types").cast("double")
                / (F.count(F.lit(1)) * F.lit(50.0))
            ).alias("mattr"),
        )
        .orderBy("source")
    )


@register(
    "t47_bigram_pmi_collocations",
    f"""
    WITH arrs AS (
      SELECT doc_id, string_split(lower({_NORM}), ' ') AS words
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(words) AS tok,
             unnest(range(len(words))) AS pos
      FROM arrs
    ),
    clean AS (SELECT * FROM toks WHERE tok <> ''),
    uni AS (SELECT tok, COUNT(*) AS c FROM clean GROUP BY tok),
    n_tot AS (SELECT SUM(c) AS n FROM uni),
    bi AS (
      SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS c12
      FROM clean a JOIN clean b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY a.tok, b.tok
      HAVING COUNT(*) >= 5
    ),
    -- PMI = ln(c12 * N) - ln(c1 * c2): ln of INTEGER products only,
    -- fixed-point BIGINT so the ranking key is exact
    scored AS (
      SELECT bi.w1, bi.w2, bi.c12,
             CAST(round(ln(CAST(bi.c12 * t.n AS DOUBLE)) * 1e6)
                  AS BIGINT)
             - CAST(round(ln(CAST(u1.c * u2.c AS DOUBLE)) * 1e6)
                    AS BIGINT) AS pmi_q
      FROM bi
      JOIN uni u1 ON u1.tok = bi.w1
      JOIN uni u2 ON u2.tok = bi.w2
      CROSS JOIN n_tot t
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS n_cooccur,
           CAST(pmi_q AS DOUBLE) / 1e6 AS pmi
    FROM scored
    ORDER BY pmi_q DESC, w1, w2
    LIMIT 15
    """,
    tags=("text", "collocations", "nlp"),
    doc=(
        "Pointwise-mutual-information collocations: the top adjacent "
        "word pairs whose co-occurrence beats chance, PMI = "
        "ln(c12*N / (c1*c2)) with a min-support of 5 - the classic "
        "collocation extractor (Church & Hanks 1990) behind phrase "
        "vocabularies and tokenizer merge seeding, and the TEXT "
        "counterpart of s67's event-type PMI. Bigrams come from the "
        "positional (doc, pos+1) equi-join (s83's index shape, never "
        "quadratic); PMI is fxln of INTEGER products so the ranking "
        "key pmi_q is an exact BIGINT - top-15 ordering cannot "
        "flicker across engines; the min-support prunes the "
        "candidate set before the unigram joins."
    ),
)
def t47_bigram_pmi_collocations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    arr = F.split(F.lower(norm_ws(F.col("text"))), " ")
    clean = docs.select(
        "doc_id", F.posexplode(arr).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    uni = clean.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_tot = uni.agg(F.sum("c").alias("n"))
    a, b = clean.alias("a"), clean.alias("b")
    bi = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.tok").alias("w1"), F.col("b.tok").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 5)
    )

    fxln = iln6  # shared fixed-point ln guard (functions/stats.py)

    scored = (
        bi.join(
            uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")),
            "w1",
        )
        .join(
            uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")),
            "w2",
        )
        .crossJoin(F.broadcast(n_tot))
        .select(
            "w1",
            "w2",
            "c12",
            (
                fxln(F.col("c12") * F.col("n"))
                - fxln(F.col("c1") * F.col("c2"))
            ).alias("pmi_q"),
        )
    )
    return (
        scored.orderBy(F.col("pmi_q").desc(), "w1", "w2")
        .limit(15)
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("n_cooccur"),
            (F.col("pmi_q").cast("double") / 1e6).alias("pmi"),
        )
    )


@register(
    "t49_cluster_size_histogram",
    f"""
    {_DUCK_CLUSTERS},
    counts AS (
      SELECT component, COUNT(*) AS k FROM comp GROUP BY component
    ),
    n_docs AS (SELECT COUNT(*) AS nd FROM documents),
    clustered AS (SELECT SUM(k) AS in_clusters FROM counts)
    SELECT CAST(k AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(k) AS BIGINT) AS n_docs_in_size,
           CAST(SUM(k) - COUNT(*) AS BIGINT) AS removable_docs,
           CAST((SELECT nd FROM n_docs)
                - (SELECT in_clusters FROM clustered) AS BIGINT)
             AS singleton_docs
    FROM counts
    GROUP BY k ORDER BY k
    """,
    tags=("text", "dedup-clusters", "reporting"),
    doc=(
        "Dedup planning census: the size histogram of r63's "
        "near-duplicate connected components - how many 2-clusters, "
        "3-clusters, etc., how many documents each size class holds, "
        "and the REMOVABLE count (size - 1 per cluster: what a "
        "keep-one policy deletes), plus the singleton population "
        "outside any cluster. This is the report that sizes the "
        "storage/token savings of a dedup run BEFORE committing to "
        "it, and the distribution shape (many small clusters vs one "
        "giant) dictates whether r82's quality-keeper or plain "
        "keep-first is appropriate. Reuses the oracle-checked "
        "component machinery; the histogram itself is two tiny "
        "integer aggregates."
    ),
)
def t49_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    # pair_budget raised DELIBERATELY above the 1e8 default on both
    # passes: an audit re-runs the full generator by definition, its
    # per-shingle pair volume is df-bounded (max_df=50 caps each
    # (shingle, source) group at 1225 pairs) and the budget estimate
    # still sizes the join shuffle at ~4M pair rows/task, so 5e8 pairs
    # is ~125 bounded tasks — the round-9 1000x rehearsal ran the
    # 1.71e8-pair corpus to completion with zero spill where the
    # default budget refused (BASELINE.md round-9 entry).
    audit_pair_budget = 500_000_000
    pairs = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.05,
        partition_col="source",
        max_df=50,
        pair_budget=audit_pair_budget,
    )
    comps = connected_components(pairs)
    counts = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("k")
    )
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    clustered = counts.agg(F.sum("k").alias("in_clusters"))
    return (
        counts.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("k").cast("bigint").alias("n_docs_in_size"),
            (F.sum("k") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("removable_docs"),
        )
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(clustered))
        .select(
            F.col("k").cast("bigint").alias("cluster_size"),
            "n_clusters",
            "n_docs_in_size",
            "removable_docs",
            (F.col("nd") - F.col("in_clusters"))
            .cast("bigint")
            .alias("singleton_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "t50_threshold_calibration",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    kept AS (
      SELECT doc_id, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM shingled
      ) WHERE df <= 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS ss FROM kept GROUP BY doc_id),
    jac AS (
      SELECT CAST(s.sh AS DOUBLE) / (sa.ss + sb.ss - s.sh) AS j
      FROM (
        SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS sh
        FROM kept a JOIN kept b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) s
      JOIN sizes sa ON sa.doc_id = s.ia
      JOIN sizes sb ON sb.doc_id = s.ib
    ),
    grid AS (SELECT unnest([0.1, 0.2, 0.3, 0.5, 0.7, 0.9]) AS thr)
    SELECT thr AS threshold,
           CAST(SUM(CASE WHEN j > thr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs_above
    FROM grid CROSS JOIN jac
    GROUP BY thr ORDER BY thr
    """,
    tags=("text", "dedup", "calibration"),
    doc=(
        "Similarity-threshold calibration curve: how many candidate "
        "pairs survive each Jaccard cutoff (0.1 .. 0.9) over the "
        "bounded inverted-index pair set - the knee of this curve is "
        "how a dedup operator's threshold is actually chosen (too "
        "low merges near-misses into giant clusters, too high leaves "
        "twins unmerged), turning q64's single hard-coded cutoff "
        "into an informed decision. Jaccards are computed ONCE; the "
        "6-point threshold grid cross-joins against them (constant "
        "x bounded = bounded); counts are exact integers and the "
        "threshold comparisons exact literals."
    ),
)
def t50_threshold_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    jac = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.0,
        partition_col=None,
        max_df=50,
    ).select(F.col("jaccard").alias("j"))
    # One pass with 6 conditional sums instead of grid x jac crossJoin:
    # the broadcast-grid crossJoin multiplied every pair row 6x through
    # the BNLJ node before the partial aggregate — same comparisons, 6x
    # the tuple traffic (guide §2.3: aggregate before you multiply).
    # The count()>0 guard keeps the exact crossJoin semantics on an
    # empty pair set (0 output rows, not 6 NULL rows).
    thresholds = [0.1, 0.2, 0.3, 0.5, 0.7, 0.9]
    sums = [
        F.sum(F.when(F.col("j") > F.lit(thr), 1).otherwise(0))
        .cast("bigint")
        .alias(f"__c{i}")
        for i, thr in enumerate(thresholds)
    ]
    agg = jac.agg(F.count(F.lit(1)).alias("__n"), *sums)
    rows = F.array(
        *[
            F.struct(
                F.lit(thr).cast("double").alias("threshold"),
                F.col(f"__c{i}").alias("n_pairs_above"),
            )
            for i, thr in enumerate(thresholds)
        ]
    )
    return (
        agg.filter(F.col("__n") > 0)
        .select(F.explode(rows).alias("__r"))
        .select("__r.threshold", "__r.n_pairs_above")
        .orderBy("threshold")
    )


@register(
    "t69_js_divergence_matrix",
    """
    WITH counts AS (
      SELECT source, lang, COUNT(*) AS c
      FROM documents GROUP BY source, lang
    ),
    totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM counts
      GROUP BY source
    ),
    pairs AS (
      SELECT ta.source AS src_a, tb.source AS src_b,
             ta.n AS na, tb.n AS nb,
             COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
      FROM totals ta
      JOIN totals tb ON tb.source > ta.source
      JOIN (SELECT DISTINCT lang FROM counts) l ON TRUE
      LEFT JOIN counts a ON a.source = ta.source AND a.lang = l.lang
      LEFT JOIN counts b ON b.source = tb.source AND b.lang = l.lang
      WHERE COALESCE(a.c, 0) + COALESCE(b.c, 0) > 0
    ),
    -- JS = H(m) - (H(p)+H(q))/2 via the integer-ln identity
    -- H(p) = ln(n) - sum(c ln c)/n; m's numerators M = ca*nb + cb*na
    -- over denominator 2*na*nb keep EVERY ln argument an integer
    terms AS (
      SELECT src_a, src_b, na, nb,
             SUM((ca * nb + cb * na)
                 * (CAST(round(ln(CAST(ca * nb + cb * na AS DOUBLE))
                               * 1e6) AS BIGINT))) AS sm,
             SUM(CASE WHEN ca > 0 THEN
                   ca * CAST(round(ln(CAST(ca AS DOUBLE)) * 1e6)
                             AS BIGINT) ELSE 0 END) AS sa,
             SUM(CASE WHEN cb > 0 THEN
                   cb * CAST(round(ln(CAST(cb AS DOUBLE)) * 1e6)
                             AS BIGINT) ELSE 0 END) AS sb
      FROM pairs GROUP BY src_a, src_b, na, nb
    )
    SELECT src_a, src_b,
           round((CAST(round(ln(2.0 * CAST(na AS DOUBLE)
                                * CAST(nb AS DOUBLE)) * 1e6) AS BIGINT)
                  - CAST(sm AS DOUBLE)
                    / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                 / 1e6
                 - ((CAST(round(ln(CAST(na AS DOUBLE)) * 1e6) AS BIGINT)
                     - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / 1e6
                    + (CAST(round(ln(CAST(nb AS DOUBLE)) * 1e6)
                            AS BIGINT)
                       - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 1e6)
                   / 2.0, 9) AS js_divergence
    FROM terms
    ORDER BY js_divergence DESC, src_a, src_b
    LIMIT 10
    """,
    tags=("text", "drift", "divergence"),
    doc=(
        "Jensen-Shannon divergence between source language mixes, "
        "top-10 most-divergent pairs: the SYMMETRIC, bounded "
        "divergence (unlike KL it never blows up on a lang one side "
        "lacks) that tells a mixture designer which sources bring "
        "genuinely different language balance - the pairwise "
        "companion to t38's corpus-level diversity. The identity "
        "H(p) = ln(n) - sum(c ln c)/n, with the mixture numerators "
        "M_i = ca*nb + cb*na over the common denominator 2*na*nb, "
        "keeps EVERY ln argument an INTEGER (s90 discipline) - no "
        "ln of a rational anywhere; the 190-pair x lang grid is "
        "constant-size after the (source, lang) collapse; the final "
        "statistic rounds to 9."
    ),
)
def t69_js_divergence_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    langs = counts.select("lang").distinct()
    ta = totals.select(
        F.col("source").alias("src_a"), F.col("n").alias("na")
    )
    tb = totals.select(
        F.col("source").alias("src_b"), F.col("n").alias("nb")
    )
    ca = counts.select(
        F.col("source").alias("src_a"),
        F.col("lang").alias("lang"),
        F.col("c").alias("ca"),
    )
    cb = counts.select(
        F.col("source").alias("src_b2"),
        F.col("lang").alias("lang_b"),
        F.col("c").alias("cb"),
    )
    pairs = (
        ta.join(tb, F.col("src_b") > F.col("src_a"))
        .crossJoin(F.broadcast(langs))
        .join(ca, ["src_a", "lang"], "left")
        .join(
            cb,
            (F.col("src_b2") == F.col("src_b"))
            & (F.col("lang_b") == F.col("lang")),
            "left",
        )
        .select(
            "src_a",
            "src_b",
            "na",
            "nb",
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
        .filter(F.col("ca") + F.col("cb") > 0)
    )

    fxln = iln6  # shared fixed-point ln guard (functions/stats.py)

    m_num = F.col("ca") * F.col("nb") + F.col("cb") * F.col("na")
    terms = pairs.groupBy("src_a", "src_b", "na", "nb").agg(
        F.sum(m_num * fxln(m_num)).alias("sm"),
        F.sum(
            F.when(F.col("ca") > 0, F.col("ca") * fxln(F.col("ca")))
            .otherwise(0)
        ).alias("sa"),
        F.sum(
            F.when(F.col("cb") > 0, F.col("cb") * fxln(F.col("cb")))
            .otherwise(0)
        ).alias("sb"),
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    h_m = (
        F.round(F.log(2.0 * nad * nbd) * 1e6).cast("bigint")
        - F.col("sm").cast("double") / (2.0 * nad * nbd)
    ) / 1e6
    h_a = (fxln(F.col("na")) - F.col("sa").cast("double") / nad) / 1e6
    h_b = (fxln(F.col("nb")) - F.col("sb").cast("double") / nbd) / 1e6
    js = F.round(h_m - (h_a + h_b) / 2.0, 9)
    return (
        terms.select("src_a", "src_b", js.alias("js_divergence"))
        .orderBy(F.desc("js_divergence"), "src_a", "src_b")
        .limit(10)
    )


@register(
    "t70_cross_source_dup_matrix",
    f"""
    {_DUCK_CLUSTERS},
    membership AS (
      SELECT DISTINCT c.component, d.source
      FROM comp c JOIN documents d ON d.doc_id = c.id
    )
    SELECT a.source AS src_a, b.source AS src_b,
           COUNT(*) AS shared_clusters
    FROM membership a
    JOIN membership b
      ON b.component = a.component AND b.source > a.source
    GROUP BY src_a, src_b
    ORDER BY shared_clusters DESC, src_a, src_b
    """,
    tags=("text", "dedup-clusters", "provenance"),
    doc=(
        "Cross-source duplication provenance matrix: which source "
        "PAIRS share near-duplicate clusters (r63's connected "
        "components joined back to document sources) - the "
        "provenance question behind mixture design: a heavy cell "
        "means one source is mirroring/scraping another, so keeping "
        "both at full weight double-counts that content (and "
        "cross-source contamination of held-out splits becomes "
        "likely). NOTE: r63's pair generation is source-partitioned, "
        "so cross-source cells here come from clusters CHAINED "
        "through within-source edges - the transitive-closure leak "
        "this census exists to surface. The membership table is one "
        "row per (cluster, source) - the pair join is bounded by "
        "cluster span, not corpus size."
    ),
)
def t70_cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    # pair_budget raised DELIBERATELY above the 1e8 default on both
    # passes: an audit re-runs the full generator by definition, its
    # per-shingle pair volume is df-bounded (max_df=50 caps each
    # (shingle, source) group at 1225 pairs) and the budget estimate
    # still sizes the join shuffle at ~4M pair rows/task, so 5e8 pairs
    # is ~125 bounded tasks — the round-9 1000x rehearsal ran the
    # 1.71e8-pair corpus to completion with zero spill where the
    # default budget refused (BASELINE.md round-9 entry).
    audit_pair_budget = 500_000_000
    pairs = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.05,
        partition_col="source",
        max_df=50,
        pair_budget=audit_pair_budget,
    )
    comps = connected_components(pairs)
    from ..operators.dedup import _persist

    # Persist the (component, source) membership: it feeds BOTH sides
    # of the co-membership self-join below — uncached, the comps⋈docs
    # join + distinct runs twice (guide §5). One short row per
    # (component, source).
    membership = _persist(
        comps.join(
            docs.select(F.col("doc_id").alias("id"), "source"), "id"
        )
        .select("component", "source")
        .distinct()
    )
    a = membership.alias("a")
    b = membership.alias("b")
    return (
        a.join(
            b,
            (F.col("b.component") == F.col("a.component"))
            & (F.col("b.source") > F.col("a.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_clusters"))
        .orderBy(F.desc("shared_clusters"), "src_a", "src_b")
    )


@register(
    "t71_lsh_band_curve",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{_duck_minhash(i)} AS h{i}' for i in range(4))}
      FROM shingled GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, {i} AS band, h{i} AS key FROM sigs" for i in range(4))}
    ),
    pair_bands AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS n_bands
      FROM bands a JOIN bands b
        ON b.band = a.band AND b.key = a.key AND b.doc_id > a.doc_id
      GROUP BY 1, 2
    ),
    grid AS (SELECT unnest(range(1, 5)) AS k)
    SELECT CAST(g.k AS INT) AS min_bands_agreeing,
           CAST(SUM(CASE WHEN p.n_bands >= g.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_candidate_pairs
    FROM grid g CROSS JOIN pair_bands p
    GROUP BY g.k ORDER BY min_bands_agreeing
    """,
    tags=("text", "dedup-minhash", "calibration"),
    doc=(
        "LSH band-agreement curve: candidate pairs surviving a "
        "'collide in at least k of 4 bands' rule, for k = 1..4 - the "
        "empirical S-curve behind MinHash parameter tuning (k=1 is "
        "q65's any-band rule, high recall/low precision; k=4 "
        "approaches exact-signature match). With t50's threshold "
        "curve and t15's quality audit this completes the dedup "
        "tuning toolkit: bands trade candidate volume for recall at "
        "CONSTANT cost - the pair-band counts come from the same "
        "bounded banded join, and the 4-point grid cross-joins the "
        "bounded pair list. All exact integers."
    ),
)
def t71_lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_band_index

    docs = t(spark, sf_dir, "documents")
    banded = minhash_band_index(
        docs, "text", "doc_id", seeds=4, band_size=1, shingle_k=3
    )
    pair_bands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("b.band_key") == F.col("a.band_key"))
            & (F.col("b.doc") > F.col("a.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("ia"), F.col("b.doc").alias("ib")
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    # One pass with 4 conditional sums instead of grid x pair crossJoin:
    # the broadcast-grid crossJoin multiplied every (ia, ib, n_bands)
    # row 4x through the BNLJ node before the partial aggregate — same
    # comparisons, 4x the tuple traffic, scaling with the candidate
    # pair volume (guide §2.3: aggregate before you multiply; the t50
    # respelling, same shape). The count()>0 guard keeps the exact
    # crossJoin semantics on an empty pair set (0 output rows, not 4
    # NULL rows).
    ks = [1, 2, 3, 4]
    sums = [
        F.sum(F.when(F.col("n_bands") >= F.lit(k), 1).otherwise(0))
        .cast("bigint")
        .alias(f"__c{k}")
        for k in ks
    ]
    agg = pair_bands.agg(F.count(F.lit(1)).alias("__n"), *sums)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("min_bands_agreeing"),
                F.col(f"__c{k}").alias("n_candidate_pairs"),
            )
            for k in ks
        ]
    )
    return (
        agg.filter(F.col("__n") > 0)
        .select(F.explode(rows).alias("__r"))
        .select("__r.min_bands_agreeing", "__r.n_candidate_pairs")
        .orderBy("min_bands_agreeing")
    )


@register(
    "t74_dedup_savings_projection",
    f"""
    {_DUCK_CLUSTERS},
    dropped AS (
      SELECT c.id FROM comp c WHERE c.id <> c.component
    ),
    doc_tokens AS (
      SELECT doc_id, CAST({{ntok}} AS BIGINT) AS n_tok FROM documents
    ),
    tot AS (
      SELECT CAST(SUM(n_tok) AS BIGINT) AS corpus_tokens,
             COUNT(*) AS n_docs
      FROM doc_tokens
    ),
    savings AS (
      SELECT COUNT(*) AS n_dropped,
             CAST(COALESCE(SUM(dt.n_tok), 0) AS BIGINT)
               AS dropped_tokens
      FROM dropped d JOIN doc_tokens dt ON dt.doc_id = d.id
    )
    SELECT t.n_docs,
           CAST(s.n_dropped AS BIGINT) AS n_dropped_docs,
           t.corpus_tokens,
           s.dropped_tokens,
           CAST(s.dropped_tokens AS DOUBLE)
             / CAST(t.corpus_tokens AS DOUBLE) AS token_savings_share
    FROM tot t CROSS JOIN savings s
    """.replace("{ntok}", _NTOK),
    tags=("text", "dedup-clusters", "reporting"),
    doc=(
        "Dedup savings projection: the headline ROI number of a "
        "keep-one-per-cluster run - how many documents and, more "
        "importantly, what SHARE of corpus tokens a near-dup dedup "
        "pass would delete (training cost scales with tokens, not "
        "docs; t49 gives the cluster shapes, this prices them). "
        "Dropped docs are exactly the non-representative members of "
        "r63's components (id != component - the canonical keep-min "
        "policy); token counts use the house separator-arithmetic "
        "formula. Two integer aggregates over the oracle-checked "
        "component table."
    ),
)
def t74_dedup_savings_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.text import token_count
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    # pair_budget raised DELIBERATELY above the 1e8 default on both
    # passes: an audit re-runs the full generator by definition, its
    # per-shingle pair volume is df-bounded (max_df=50 caps each
    # (shingle, source) group at 1225 pairs) and the budget estimate
    # still sizes the join shuffle at ~4M pair rows/task, so 5e8 pairs
    # is ~125 bounded tasks — the round-9 1000x rehearsal ran the
    # 1.71e8-pair corpus to completion with zero spill where the
    # default budget refused (BASELINE.md round-9 entry).
    audit_pair_budget = 500_000_000
    pairs = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.05,
        partition_col="source",
        max_df=50,
        pair_budget=audit_pair_budget,
    )
    comps = connected_components(pairs)
    dropped = comps.filter(F.col("id") != F.col("component")).select(
        "id", F.lit(1).alias("__d")
    )
    doc_tokens = docs.select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tok")
    )
    # ONE pass over the corpus instead of two (guide §2.3): the old
    # spelling aggregated doc_tokens twice (corpus totals + a second
    # scan joined against the dropped set). The dropped-id table is one
    # short row per non-keeper (from the checkpointed component
    # labels), so the left join is AQE-broadcast at bench scale and a
    # keyed join at 100 TB — either way the token_count scan runs once.
    joined = doc_tokens.join(
        dropped, doc_tokens["doc_id"] == dropped["id"], "left"
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("corpus_tokens"),
        F.count("__d").alias("n_dropped"),
        F.coalesce(F.sum(F.when(F.col("__d").isNotNull(), F.col("n_tok"))), F.lit(0))
        .cast("bigint")
        .alias("dropped_tokens"),
    )
    return agg.select(
        "n_docs",
        F.col("n_dropped").cast("bigint").alias("n_dropped_docs"),
        "corpus_tokens",
        "dropped_tokens",
        (
            F.col("dropped_tokens").cast("double")
            / F.col("corpus_tokens").cast("double")
        ).alias("token_savings_share"),
    )


@register(
    "t80_sketch_error_audit",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{_duck_minhash(i)} AS h{i}' for i in range(4))}
      FROM shingled GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, {i} AS band, h{i} AS key FROM sigs" for i in range(4))}
    ),
    cand AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS n_match
      FROM bands a JOIN bands b
        ON b.band = a.band AND b.key = a.key AND b.doc_id > a.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS ss FROM shingled
              GROUP BY doc_id),
    exact AS (
      SELECT s.ia, s.ib,
             CAST(s.sh AS DOUBLE) / (sa.ss + sb.ss - s.sh) AS j
      FROM (
        SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS sh
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) s
      JOIN sizes sa ON sa.doc_id = s.ia
      JOIN sizes sb ON sb.doc_id = s.ib
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
           CAST(SUM(CAST(round(abs(CAST(c.n_match AS DOUBLE) / 4.0
                                   - COALESCE(e.j, 0.0)) * 1e9)
                         AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*)
             AS mean_abs_error,
           CAST(SUM(CASE WHEN CAST(c.n_match AS DOUBLE) / 4.0
                              > COALESCE(e.j, 0.0)
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overestimates
    FROM cand c
    LEFT JOIN exact e ON e.ia = c.ia AND e.ib = c.ib
    """,
    tags=("text", "dedup-minhash", "evaluation"),
    doc=(
        "MinHash estimator error audit: for every LSH candidate pair, "
        "compare the 4-seed signature's Jaccard ESTIMATE (matching "
        "hashes / 4) against the exact shingle Jaccard - the "
        "sketch-accuracy census that tells you whether 4 seeds are "
        "enough before trusting signature-only dedup decisions "
        "(s34's incremental path never rechecks exact overlap). "
        "Candidate pairs come from the bounded banded join (never "
        "all-pairs); absolute errors quantize to round(e*1e9) "
        "BIGINTs so the MAE sum is exact and order-independent; the "
        "overestimate count shows the one-sided bias LSH candidates "
        "inherently carry (they matched at least one band)."
    ),
)
def t80_sketch_error_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import minhash_band_index, ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    banded = minhash_band_index(
        docs, "text", "doc_id", seeds=4, band_size=1, shingle_k=3
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("b.band_key") == F.col("a.band_key"))
            & (F.col("b.doc") > F.col("a.doc")),
        )
        .groupBy(F.col("a.doc").alias("ia"), F.col("b.doc").alias("ib"))
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    exact = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.0,
        partition_col=None,
        max_df=None,
    ).select(
        F.col("id_a").alias("ia"),
        F.col("id_b").alias("ib"),
        F.col("jaccard").alias("j"),
    )
    joined = cand.join(exact, ["ia", "ib"], "left")
    est = F.col("n_match").cast("double") / 4.0
    err_q = F.round(
        F.abs(est - F.coalesce(F.col("j"), F.lit(0.0))) * 1e9
    ).cast("bigint")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
        (
            F.sum(err_q).cast("double") / 1e9 / F.count(F.lit(1))
        ).alias("mean_abs_error"),
        F.sum(
            F.when(est > F.coalesce(F.col("j"), F.lit(0.0)), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_overestimates"),
    )


@register(
    "t81_source_novelty_share",
    f"""
    {_DUCK_CLUSTERS},
    clustered_docs AS (SELECT DISTINCT id FROM comp)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c.id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unique_docs,
           CAST(SUM(CASE WHEN c.id IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty_share
    FROM documents d
    LEFT JOIN clustered_docs c ON c.id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    tags=("text", "dedup-clusters", "mixture-design"),
    doc=(
        "Source novelty share: the fraction of each source's "
        "documents that sit OUTSIDE every near-duplicate cluster - "
        "the content-uniqueness signal for mixture design (a source "
        "that is 95% novel earns weight; one that is 40% "
        "cluster-bound mostly re-serves what other docs already "
        "provide), complementing t70's pairwise provenance matrix "
        "with a per-source headline number. One anti-membership "
        "LEFT JOIN against the oracle-checked component table; "
        "exact integer counts."
    ),
)
def t81_source_novelty_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    # pair_budget raised DELIBERATELY above the 1e8 default on both
    # passes: an audit re-runs the full generator by definition, its
    # per-shingle pair volume is df-bounded (max_df=50 caps each
    # (shingle, source) group at 1225 pairs) and the budget estimate
    # still sizes the join shuffle at ~4M pair rows/task, so 5e8 pairs
    # is ~125 bounded tasks — the round-9 1000x rehearsal ran the
    # 1.71e8-pair corpus to completion with zero spill where the
    # default budget refused (BASELINE.md round-9 entry).
    audit_pair_budget = 500_000_000
    pairs = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.05,
        partition_col="source",
        max_df=50,
        pair_budget=audit_pair_budget,
    )
    comps = connected_components(pairs)
    clustered = comps.select(F.col("id")).distinct()
    joined = docs.join(
        clustered, docs["doc_id"] == clustered["id"], "left"
    )
    uniq = F.sum(F.when(F.col("id").isNull(), 1).otherwise(0))
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            uniq.cast("bigint").alias("n_unique_docs"),
            (uniq.cast("double") / F.count(F.lit(1))).alias(
                "novelty_share"
            ),
        )
        .orderBy("source")
    )


@register(
    "t90_dedup_review_queue",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
      FROM docs WHERE len(words) >= 3
    ),
    kept AS (
      SELECT doc_id, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM shingled
      ) WHERE df <= 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS ss FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT s.ia, s.ib,
             CAST(s.sh AS DOUBLE) / (sa.ss + sb.ss - s.sh) AS j
      FROM (
        SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS sh
        FROM kept a JOIN kept b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) s
      JOIN sizes sa ON sa.doc_id = s.ia
      JOIN sizes sb ON sb.doc_id = s.ib
      WHERE CAST(s.sh AS DOUBLE) / (sa.ss + sb.ss - s.sh) > 0.05
    ),
    sampled AS (
      SELECT ia, ib, j,
             ('0x' || substring(md5(ia::VARCHAR || '-' || ib::VARCHAR),
                                1, 8))::BIGINT % 100 AS bucket
      FROM pairs
    )
    SELECT s.ia AS doc_a, s.ib AS doc_b,
           round(s.j, 6) AS jaccard,
           substring(da.text, 1, 40) AS snippet_a,
           substring(db.text, 1, 40) AS snippet_b
    FROM sampled s
    JOIN documents da ON da.doc_id = s.ia
    JOIN documents db ON db.doc_id = s.ib
    WHERE s.bucket < 40
    ORDER BY s.ia, s.ib
    LIMIT 10
    """,
    tags=("text", "dedup", "review"),
    doc=(
        "Human-review queue for near-duplicate decisions: a "
        "DETERMINISTIC hash sample of candidate pairs above the "
        "Jaccard threshold, each carrying its score and a 40-char "
        "snippet of both documents - the QA artifact every "
        "production dedup run ships alongside its deletions, so a "
        "reviewer can spot-check borderline merges before the drop "
        "is irreversible. Sampling hashes the PAIR key (md5 of "
        "'ia-ib', the q77 discipline), so the same pairs surface on "
        "every engine and every rerun - reviewable, reproducible, "
        "auditable; snippets come from two dimension joins after "
        "sampling (never before). Jaccard rounds to 6 for the "
        "report."
    ),
)
def t90_dedup_review_queue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.05,
        partition_col=None,
        max_df=50,
    )
    sampled = pairs.withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("id_a").cast("string"),
                        F.lit("-"),
                        F.col("id_b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100,
    ).filter(F.col("bucket") < 40)
    da = docs.select(
        F.col("doc_id").alias("ia2"),
        F.substring("text", 1, 40).alias("snippet_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("ib2"),
        F.substring("text", 1, 40).alias("snippet_b"),
    )
    return (
        sampled.join(da, F.col("id_a") == F.col("ia2"))
        .join(db, F.col("id_b") == F.col("ib2"))
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round("jaccard", 6).alias("jaccard"),
            "snippet_a",
            "snippet_b",
        )
        .orderBy("doc_a", "doc_b")
        .limit(10)
    )


@register(
    "t92_chao1_vocabulary_richness",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(lower({_NORM}), ' ')) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok, COUNT(*) AS c FROM toks WHERE tok <> ''
      GROUP BY tok
    ),
    f AS (
      SELECT COUNT(*) AS v,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS f2
      FROM counts
    )
    SELECT CAST(v AS BIGINT) AS observed_vocab,
           CAST(f1 AS BIGINT) AS hapax_count,
           CAST(f2 AS BIGINT) AS doubleton_count,
           CAST(v AS DOUBLE)
             + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
               / (2.0 * CAST(f2 + 1 AS DOUBLE)) AS chao1_estimate,
           (CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
            / (2.0 * CAST(f2 + 1 AS DOUBLE)))
           / (CAST(v AS DOUBLE)
              + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
                / (2.0 * CAST(f2 + 1 AS DOUBLE))) + 0.0
             AS unseen_share
    FROM f
    """,
    tags=("text", "corpus-statistics", "estimation"),
    doc=(
        "Chao1 vocabulary richness estimate (bias-corrected form): "
        "observed vocabulary plus F1*(F1-1)/(2*(F2+1)) from the hapax "
        "and doubleton counts - defined even when doubletons are "
        "absent (this synthetic corpus's tiny closed vocabulary) "
        "- the nonparametric lower bound on TRUE vocabulary size "
        "(Chao 1984, the ecology species-richness estimator), "
        "answering 'how much vocabulary has this corpus NOT yet "
        "shown us' - the abundance-based companion to t26's Heaps "
        "growth fit and t07's capture-recapture (same inferential "
        "move: unseen mass from overlap structure). Frequency-of-"
        "frequency counts are exact integers from two token-stream "
        "aggregations; the estimator is one IEEE expression."
    ),
)
def t92_chao1_vocabulary_richness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(norm_ws(F.col("text"))), " ")).alias(
            "tok"
        )
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    f = counts.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    extra = (
        d("f1") * (F.col("f1") - 1).cast("double")
        / (2.0 * (F.col("f2") + 1).cast("double"))
    )
    return f.select(
        F.col("v").cast("bigint").alias("observed_vocab"),
        F.col("f1").cast("bigint").alias("hapax_count"),
        F.col("f2").cast("bigint").alias("doubleton_count"),
        (d("v") + extra).alias("chao1_estimate"),
        # +0.0 collapses IEEE signed zero: f1=0 makes extra equal to
        # 0.0 * -1.0 = -0.0 (determinism class #4, see BASELINE.md)
        (extra / (d("v") + extra) + F.lit(0.0)).alias("unseen_share"),
    )


@register(
    "t93_dedup_idempotence_audit",
    f"""
    {_DUCK_CLUSTERS},
    survivors AS (
      SELECT d.doc_id FROM documents d
      LEFT JOIN comp c ON c.id = d.doc_id
      WHERE c.id IS NULL OR c.id = c.component
    ),
    -- The residual pass RE-RUNS the SAME pair generation as pass 1
    -- (partition_col='source', max_df=50) over the survivors: the
    -- hot-shingle guard is recomputed per (shingle, source) on the
    -- SURVIVOR set, not inherited from the cluster pass's full-corpus
    -- guard — the two bases diverge whenever a shingle's survivor DF
    -- crosses 50 in either direction (round-7 review finding).
    -- Sharding pass 2 identically to pass 1 is the idempotence-pure
    -- definition: same generator both passes (cross-source discovery
    -- is t70's job). Scale note: the round-8 "pass-2 boundary" was a
    -- misattribution — the pair-budget guard is EAGER, so the 1.71e8
    -- refusal at 1000x fired inside PASS 1's sharded estimate before
    -- pass 2 was ever constructed; the true boundary is the
    -- adversarially-dense rehearsal corpus vs the 1e8 default budget,
    -- remedied by the audit's deliberately-raised pair_budget (see
    -- the Spark fn).
    s_shingled AS (
      SELECT doc_id, source, shingle FROM (
        SELECT sh.doc_id, sh.source, sh.shingle,
               COUNT(*) OVER (PARTITION BY sh.shingle, sh.source) AS df
        FROM shingled sh JOIN survivors s ON s.doc_id = sh.doc_id
      ) WHERE df <= 50
    ),
    s_sizes AS (
      SELECT doc_id, COUNT(*) AS ss FROM s_shingled GROUP BY doc_id
    ),
    residual AS (
      SELECT p.ia, p.ib,
             CAST(p.sh AS DOUBLE) / (sa.ss + sb.ss - p.sh) AS j
      FROM (
        SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS sh
        FROM s_shingled a JOIN s_shingled b
          ON a.shingle = b.shingle AND a.source = b.source
          AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) p
      JOIN s_sizes sa ON sa.doc_id = p.ia
      JOIN s_sizes sb ON sb.doc_id = p.ib
      WHERE CAST(p.sh AS DOUBLE) / (sa.ss + sb.ss - p.sh) > 0.05
    )
    SELECT CAST((SELECT COUNT(*) FROM survivors) AS BIGINT)
             AS n_survivors,
           CAST((SELECT COUNT(*) FROM residual) AS BIGINT)
             AS residual_pairs_over_threshold
    """,
    tags=("text", "dedup-clusters", "idempotence"),
    doc=(
        "Dedup idempotence audit: after keep-one-per-cluster "
        "(r63/t74's policy), re-run the SAME pair generation over "
        "the survivors and count pairs still above the threshold - "
        "a converged dedup finds few or none (note: not strictly "
        "zero by construction, because connected components merge "
        "via transitivity, so two kept representatives of once-"
        "linked chains can themselves exceed the threshold; the "
        "residual count IS the measure of that effect, and a large "
        "one argues for a second pass). Pass 2 shards by source "
        "EXACTLY like pass 1 (round-9 change): idempotence means "
        "re-running the same generator; cross-source pair discovery "
        "is t70's job. Both passes carry a deliberately-raised pair "
        "budget (an audit re-runs the generator by definition and "
        "its volume is df-bounded) - the round-9 1000x rehearsal "
        "runs the 1.71e8-pair corpus to completion. All counts "
        "exact; the residual join reuses the bounded inverted-index "
        "shape with the same max_df guard."
    ),
)
def t93_dedup_idempotence_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    # pair_budget raised DELIBERATELY above the 1e8 default on both
    # passes: an audit re-runs the full generator by definition, its
    # per-shingle pair volume is df-bounded (max_df=50 caps each
    # (shingle, source) group at 1225 pairs) and the budget estimate
    # still sizes the join shuffle at ~4M pair rows/task, so 5e8 pairs
    # is ~125 bounded tasks — the round-9 1000x rehearsal ran the
    # 1.71e8-pair corpus to completion with zero spill where the
    # default budget refused (BASELINE.md round-9 entry).
    audit_pair_budget = 500_000_000
    pairs = ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.05,
        partition_col="source",
        max_df=50,
        pair_budget=audit_pair_budget,
    )
    comps = connected_components(pairs)
    dropped = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("drop_id")
    )
    survivors = docs.join(
        dropped, docs["doc_id"] == dropped["drop_id"], "left_anti"
    )
    residual = ngram_jaccard_pairs(
        survivors,
        "text",
        "doc_id",
        shingle_k=3,
        threshold=0.05,
        # same sharding as pass 1 — see the oracle comment: this is
        # the idempotence-pure definition (same generator both passes;
        # cross-source pair discovery is t70's job)
        partition_col="source",
        max_df=50,
        pair_budget=audit_pair_budget,
    )
    n_surv = survivors.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_survivors")
    )
    n_res = residual.agg(
        F.count(F.lit(1))
        .cast("bigint")
        .alias("residual_pairs_over_threshold")
    )
    return n_surv.crossJoin(F.broadcast(n_res))
