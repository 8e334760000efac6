#!/usr/bin/env python
"""N-times scale rehearsal for the heavy dedup/CC/ANN operator tier.

Round-3 verdict task #5: the 10x rehearsal showed fixed-overhead
dominance; at 100x (sf1-equivalent: 500k documents, 200k embeddings)
the shuffle tiers should start to bind and validate — or falsify — the
"orders-of-magnitude headroom" claim, especially connected-components
round count on a dup graph with ~100-member duplicate cliques and the
MinHash band-index build.

Corpus construction (deterministic, no RNG): every base document from
$BASE_SF_DIR spawns ``mult`` near-dup variants (variant v replaces the
(v mod n)-th word with a marker token, keeping shingle overlap high so
the dup graph is DENSER per doc than production, not just bigger);
embeddings get a small deterministic per-variant perturbation on one
coordinate. Written once to parquet under --out so every pipeline reads
real files, like production.

Measured per pipeline (cold then warm pass, operator caches released
between): wall seconds + executed-plan SQLMetrics (plans/metrics.py —
shuffle records/MB, spill, scan rows) of the warm pass, plus CC round
counts. Output: a markdown table (append to BASELINE.md) and one JSON
line.

Usage:
    python scripts/scale_rehearsal.py --mult 100          # ~sf1
    python scripts/scale_rehearsal.py --mult 10           # round-3 repro
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def build_corpus(spark, base_dir: str, mult: int, out: str) -> None:
    """Write documents/embeddings parquet at mult x the base tables."""
    # The base tables are single parquet files (one scan partition);
    # spread them BEFORE the crossJoin so the expensive per-variant
    # projection runs on all cores, not one task.
    docs = spark.read.parquet(f"{base_dir}/documents.parquet").repartition(64)
    variants = spark.range(mult).select(F.col("id").alias("v"))
    words = F.split(F.col("text"), " ")
    nw = F.greatest(F.size(words), F.lit(1))
    # variant v: replace word (v mod n_words) with a low-cardinality
    # marker so ~1 word differs -> Jaccard stays high -> every variant
    # family forms a dense near-dup clique (the adversarial case for
    # pair generators; production graphs are sparser).
    perturbed = F.concat_ws(
        " ",
        F.transform(
            words,
            lambda w, i: F.when(
                (F.col("v") > 0) & (i == F.col("v") % nw),
                F.concat(F.lit("VAR"), (F.col("v") % 7).cast("string")),
            ).otherwise(w),
        ),
    )
    # id = v * stride + base_id keeps the v=0 originals at LOW ids, so
    # id-ordered seeding (kmeans initial centroids, min-id keepers)
    # selects real distinct items instead of one doc's variant family.
    (
        docs.crossJoin(variants)
        .select(
            (F.col("v") * 10_000_000 + F.col("doc_id")).alias("doc_id"),
            perturbed.alias("text"),
            "lang",
            "source",
            F.length(perturbed).alias("n_chars"),
        )
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )
    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet").repartition(32)
    shifted = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(
            i == F.col("v") % F.size(F.col("embedding")),
            x + (F.col("v") % 13).cast("float") * F.lit(0.01).cast("float"),
        ).otherwise(x),
    )
    (
        emb.crossJoin(variants)
        .select(
            (F.col("v") * 1_000_000 + F.col("vec_id")).alias("vec_id"),
            shifted.alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )


def build_lineitem(spark, base_dir: str, mult: int, out: str) -> None:
    """Write a mult-x lineitem (co-purchase columns only) to out.

    Scale model: more orders over the SAME part catalog (orderkey
    replicated with a disjoint stride per variant, partkeys untouched)
    — the production shape where basket volume grows but the graph's
    node set is the catalog, so the co-purchase graph gets DENSER,
    not wider. That stresses connected_components with a genuinely
    giant component instead of mult disjoint copies of the base graph
    (which would measure throughput but never depth)."""
    li = (
        spark.read.parquet(f"{base_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_linenumber")
        .repartition(32)
    )
    variants = spark.range(mult).select(F.col("id").alias("v"))
    (
        li.crossJoin(variants)
        .select(
            (F.col("v") * 10_000_000 + F.col("l_orderkey")).alias("l_orderkey"),
            "l_partkey",
            "l_linenumber",
        )
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=100)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument(
        "--tier",
        choices=["dedup", "graph", "all"],
        default="dedup",
        help="dedup = the round-3 heavy operator tier; graph = the "
        "round-8 CC/audit queries (t54/t93/t56/t15 shapes) at scale",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated substring filter on pipeline names — for "
        "extreme multipliers where the pair-volume tiers exceed local "
        "disk (their refusal is already proven at 100x), run just the "
        "linear tiers",
    )
    args = ap.parse_args()
    out = args.out or f"/tmp/scale_{args.mult}x"

    # Production-shaped heap: local[32]'s 8g default is 0.25 GB per
    # task thread, 16-24x leaner than any real executor — the first
    # 100x run OOM'd the whole JVM in ngram_jaccard under it (GCLocker
    # retry storm; see BASELINE.md "100x scale rehearsal" finding #1).
    # 48g = 1.5 GB/core, the low end of production executor sizing.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from xorbits_sql_spark.session import get_spark
    from xorbits_sql_spark.operators import dedup
    from xorbits_sql_spark.operators.dedup import (
        connected_components,
        exact_dedup_groups,
        incremental_dedup_decisions,
        minhash_band_index,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        release_caches,
    )
    from xorbits_sql_spark.operators.similarity import brute_topk, ivf_topk, kmeans_lloyd
    from xorbits_sql_spark.plans.metrics import collect_metrics

    spark = get_spark("scale-rehearsal")
    if not args.skip_build:
        t0 = time.perf_counter()
        build_corpus(spark, args.base, args.mult, out)
        if args.tier in ("graph", "all"):
            build_lineitem(spark, args.base, args.mult, out)
        print(f"# corpus build: {time.perf_counter() - t0:.1f}s -> {out}")

    docs = spark.read.parquet(f"{out}/documents.parquet")
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    n_docs, n_emb = docs.count(), emb.count()
    print(f"# documents={n_docs:,} embeddings={n_emb:,}")

    results: dict[str, dict] = {}

    only = [s.strip() for s in args.only.split(",")] if args.only else None

    def run(name: str, make, note: str = "") -> None:
        """Cold + warm execution; metrics from the warm pass.

        The count action rides the SAME QueryExecution that
        collect_metrics walks (a 1-row agg layered on the pipeline's
        plan), so SQLMetrics reflect the timed run — an independent
        ``.count()`` would execute a separate QueryExecution and leave
        the inspected tree's metrics at zero.
        """
        if only is not None and not any(f in name for f in only):
            print(f"# {name}: skipped (--only)")
            return
        release_caches()
        t0 = time.perf_counter()
        make().agg(F.count(F.lit(1))).collect()
        cold = time.perf_counter() - t0
        release_caches()
        # rounds of the last distributed CC loop the warm pass ran (0
        # when none ran), read through wrappers on the two loops
        rounds = [0]

        def recording(loop):
            def wrapper(*a, **k):
                labels, rounds[0] = loop(*a, **k)
                return labels, rounds[0]

            return wrapper

        with mock.patch.object(
            dedup, "_cc_alternating_stars", recording(dedup._cc_alternating_stars)
        ), mock.patch.object(dedup, "_cc_propagation", recording(dedup._cc_propagation)):
            t0 = time.perf_counter()
            summary = make().agg(F.count(F.lit(1)).alias("n"))
            rows = summary.collect()[0]["n"]
            warm = time.perf_counter() - t0
        m = collect_metrics(summary)
        release_caches()
        results[name] = {
            "cold_s": round(cold, 1),
            "warm_s": round(warm, 1),
            "rows": rows,
            "shuffle_records": m.get("shuffle_records_written", 0),
            "shuffle_mb": round(m.get("shuffle_bytes_written", 0) / 1e6, 1),
            "spill_bytes": m.get("spill_bytes", 0),
            "cc_rounds": rounds[0],
            "note": note,
        }
        print(f"# {name}: cold {cold:.1f}s warm {warm:.1f}s rows={rows:,} "
              f"shuffle={m.get('shuffle_records_written', 0):,}rec/"
              f"{m.get('shuffle_bytes_written', 0) / 1e6:.1f}MB "
              f"spill={m.get('spill_bytes', 0)} cc_rounds={rounds[0]}")

    if args.tier in ("dedup", "all"):
        # ---- dedup/ANN tier (round-3 task #5) ----
        run("exact_dedup_groups", lambda: exact_dedup_groups(docs, "text", "doc_id"))

        run(
            "band_index_build_write",
            lambda: _write_and_read(
                minhash_band_index(docs, "text", "doc_id"), f"{out}/band_index.parquet"
            ),
            note="persisted-index write path",
        )

        # The dense-clique pair generator + CC, with the production bucket
        # cap (star pairs) vs uncapped cliques: the knob that bounds pair
        # count on adversarially dense graphs.
        run(
            "lsh_pairs_capped50_cc",
            lambda: connected_components(
                minhash_lsh_pairs(docs, "text", "doc_id", max_bucket=50)
            ),
            note="star caps active (bucket>50)",
        )
        run(
            "lsh_pairs_default_cc",
            lambda: connected_components(minhash_lsh_pairs(docs, "text", "doc_id")),
            note="full cliques (cap 100k never hit)",
        )

        batch = docs.filter(F.col("doc_id") < 10_000_000).limit(5000)
        base_index = spark.read.parquet(f"{out}/band_index.parquet")
        run(
            "incremental_dedup_5k_batch",
            lambda: incremental_dedup_decisions(batch, base_index, "text", "doc_id"),
            note="batch screened vs persisted index",
        )

        # The pre-flight pair-budget guard must REFUSE this corpus (dense
        # 100-member cliques → Σ df·(df-1)/2 far over the default budget —
        # the 848 GB-spill boundary the round-4 rehearsal measured); the
        # timed run then overrides the budget to measure the boundary and
        # exercise the pair-volume-scaled shuffle partitioning.
        from xorbits_sql_spark.errors import PairBudgetExceededError

        try:
            ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5, max_df=1000)
        except PairBudgetExceededError as exc:
            print(f"[rehearsal] pair-budget guard fired as designed: {exc}")
        else:
            raise AssertionError(
                "pair-budget guard did NOT fire on the dense-clique corpus"
            )
        # Boundary probe volume: max_df=700 → ~1.2e9 pairs on this corpus
        # (measured from the shingle-DF histogram). The full max_df=1000
        # volume (4.73e9 pairs, the guard's own estimate above) no longer
        # fits this rig's ~80 GB scratch: the scaled plan trades the old
        # transient per-task agg spill (848 GB cumulative, round 4) for
        # shuffle files that persist for the whole stage — the correct
        # residency at cluster scale (spread over N executor disks, each
        # task bounded at ~4M pair rows) but single-disk-bound locally.
        # 1.2e9 pairs ≈ 30 GB of shuffle exercises the same scaled-partition
        # code path (est >> 32 * 4M) within local scratch.
        run(
            "ngram_jaccard_pairs",
            lambda: ngram_jaccard_pairs(
                # budget raised (not None) so the Σdf² estimate still runs
                # and drives the pair-volume-scaled shuffle partitioning
                docs, "text", "doc_id", threshold=0.5, max_df=700,
                pair_budget=10**15,
            ),
            note="inverted index, max_df=700 (~1.2e9 pairs), budget raised (boundary probe, scaled partitions)",
        )

        # IVF probe cost per query is nprobe * N/k dots — at FIXED k it
        # scales linearly with corpus size (the superlinear trap this
        # rehearsal exists to catch). The scale-correct setting grows the
        # cell count with sqrt(N) so per-cell candidate lists stay bounded;
        # both configs run so the contrast is measured, not asserted.
        queries = emb.filter(F.col("vec_id") < 1_000_000)
        k_scaled = max(8, int(n_emb ** 0.5) // 4)
        run(
            "kmeans2_ivf_naive_k8",
            lambda: ivf_topk(
                queries.limit(100), emb, kmeans_lloyd(emb, k=8, n_iter=2),
                k=5, nprobe=2,
            ),
            note="FIXED k=8: per-query dots scale with N (100 queries)",
        )
        run(
            "kmeans2_ivf_scaled_k",
            lambda: ivf_topk(
                queries.limit(1000), emb,
                kmeans_lloyd(emb, k=k_scaled, n_iter=2),
                k=5, nprobe=4,
            ),
            note=f"k=sqrt-scaled ({k_scaled}), nprobe=4, 1k queries",
        )
        # exact scoring on the full corpus
        run(
            "brute_topk_hof_100q",
            lambda: brute_topk(queries.limit(100), emb, k=5),
            note="interpreted zip_with/aggregate dots",
        )

    if args.tier in ("graph", "all"):
        # ---- graph/audit tier (round-7 verdict #4): the 4 most
        # expensive registry queries, run EXACTLY as registered (same
        # functions the driver calls), against the scaled corpus dir.
        from xorbits_sql_spark.errors import PairBudgetExceededError
        from xorbits_sql_spark.queries import load_all

        specs = load_all()

        run(
            "t54_giant_component_share",
            lambda: specs["t54_giant_component_share"].fn(spark, out),
            note=f"co-purchase CC, {args.mult}x orders over the fixed "
            "part catalog (graph gets denser, not wider)",
        )
        run(
            "t93_dedup_idempotence_audit",
            lambda: specs["t93_dedup_idempotence_audit"].fn(spark, out),
            note="full dedup run twice by definition (max_df=50 "
            "inverted index + CC, then residual scan on survivors)",
        )
        run(
            "t15_blocking_quality_audit",
            lambda: specs["t15_blocking_quality_audit"].fn(spark, out),
            note="minhash candidates vs max_df=50 jaccard truth + "
            "pair-set join",
        )
        # round-9 verdict task 6: the sampled variant must show
        # <=1/10th of t15's shuffle volume at this multiplier, with
        # the ci95 bound carried in the result row. NB the first
        # sampled design (truth side only) measured IDENTICAL shuffle
        # to t15 here — max_df already empties the truth join on this
        # clique-dense corpus; the volume is the sig build + band
        # self-join, so the whole audit runs on the doc sample.
        run(
            "u14_blocking_audit_sampled",
            lambda: specs["u14_blocking_audit_sampled"].fn(spark, out),
            note="whole audit (LSH cands + truth) on a ~30% "
            "deterministic-hash doc sample: quadratic tiers ~9%, "
            "linear ~30%; ci95 bounds the recall estimate, n_cand_est "
            "rescales by the exact inverse pair-sampling rate",
        )
        # t56 fixes prefix_bits=4, so its within-bucket pair volume is
        # N²/16 — quadratic in corpus size. The simhash_pairs pair
        # budget (added this round after this rehearsal measured
        # ~7.7e9 pairs at 100x) must REFUSE it at submit time beyond
        # ~10x; when it does, measure the scale-correct variant
        # (prefix_bits grown with log2(N) so expected bucket size
        # stays ~256) instead, plus the registered query at whatever
        # scale admits it.
        try:
            run(
                "t56_detector_agreement",
                lambda: specs["t56_detector_agreement"].fn(spark, out),
                note="as registered (prefix_bits=4)",
            )
        except PairBudgetExceededError as exc:
            print(f"[rehearsal] t56 refused as designed: {exc}")
            results["t56_detector_agreement"] = {
                "cold_s": 0.0, "warm_s": 0.0, "rows": 0,
                "shuffle_records": 0, "shuffle_mb": 0.0, "spill_bytes": 0,
                "cc_rounds": None,
                "note": "REFUSED by simhash pair budget (N^2/16 volume) "
                "— the designed submit-time failure; scaled variant below",
            }
        import math as _math

        pb = max(4, int(_math.log2(max(n_docs, 2) / 256.0)))
        from xorbits_sql_spark.operators.dedup import simhash_pairs

        def _t56_scaled():
            # prefix_bits alone cannot bound a clique-dominated corpus:
            # a 100-member duplicate family shares ONE simhash and lands
            # in one bucket at any prefix width (the 100x run measured
            # 1.16e9 pairs at pb=10). The scale-correct setting pairs
            # log2-scaled prefix_bits (bounds the RANDOM bucket mass)
            # with max_bucket star caps (bounds the CLIQUE mass) — same
            # two-knob shape as minhash_lsh_pairs.
            mh = minhash_lsh_pairs(
                docs, "text", "doc_id", seeds=4, band_size=1, shingle_k=3
            ).select("id_a", "id_b")
            sh = simhash_pairs(
                docs, "text", "doc_id", max_hamming=14, prefix_bits=pb,
                max_bucket=400,
            ).select("id_a", "id_b")
            return mh.join(sh, ["id_a", "id_b"])

        try:
            run(
                "t56_scaled_prefix_bits",
                _t56_scaled,
                note=f"same detector-agreement shape, prefix_bits="
                f"{pb} (log2-scaled) + max_bucket=400 star caps — the "
                "two-knob setting a 100 TB submission would use",
            )
        except PairBudgetExceededError as exc:
            print(f"[rehearsal] t56_scaled ALSO refused: {exc}")
            results["t56_scaled_prefix_bits"] = {
                "cold_s": 0.0, "warm_s": 0.0, "rows": 0,
                "shuffle_records": 0, "shuffle_mb": 0.0, "spill_bytes": 0,
                "cc_rounds": None,
                "note": "REFUSED even with scaled knobs — record and "
                "investigate, do not raise the budget blindly",
            }

    print()
    print("| pipeline | cold s | warm s | rows | shuffle rec | shuffle MB | spill | CC rounds | note |")
    print("| --- | --- | --- | --- | --- | --- | --- | --- | --- |")
    for name, r in results.items():
        # CC round count is meaningful wherever a CC ran inside the
        # pipeline (lsh_*_cc, t54, t93) — cc_rounds is 0 or None
        # otherwise, so truthiness is the right filter.
        cc = r["cc_rounds"] if ("cc" in name or r.get("cc_rounds")) else ""
        print(
            f"| {name} | {r['cold_s']} | {r['warm_s']} | {r['rows']:,} "
            f"| {r['shuffle_records']:,} | {r['shuffle_mb']} "
            f"| {r['spill_bytes']} | {cc} | {r['note']} |"
        )
    print()
    print(json.dumps({"mult": args.mult, "n_docs": n_docs, "n_emb": n_emb,
                      "results": results}))


def _write_and_read(df, path: str):
    df.write.mode("overwrite").parquet(path)
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession().read.parquet(path)


if __name__ == "__main__":
    main()
