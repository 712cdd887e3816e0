"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <float>}

Each query is forced end-to-end with the noop sink (full compute, no
driver collect cost).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from radohydro_spark import get_spark

HEADLINE = [
    "precip_basin_timeseries",
    "precip_radolan_scale",
    "tpch_q1_pricing",
    "tpch_q3_top_orders",
    "tpch_q5_regional_revenue",
    "window_running_total",
    "events_sessionize",
    "text_stats",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh_pairs",
    "similarity_cosine_topk",
    "media_byte_histogram",
    # round-3 rotation: one streaming and one storage-layout query so
    # regressions in those paths are visible in the bench record
    "events_stream_hourly",
    "obs_zorder_archive",
    # round-5 additions: the PQ code-scan ANN path and the iterative
    # (localCheckpoint-per-round) PageRank workload
    "similarity_pq_adc_topk",
    "events_pagerank",
    # round-6 additions: the real JPEG codec (encode+decode over every
    # document) and the sweep-line interval concurrency window
    "media_decode_jpeg",
    "events_concurrency_sweep",
    # round-7 additions: the reference's second workload shape — a full
    # REGNIE month (971x611x31, ~18.4M obs) INCLUDING the gzip +
    # fixed-width decode, so both precip shapes carry per-cell wall-time
    # evidence (decode is the cost RADOLAN-scale doesn't pay) — and the
    # basket self-join (pair-explosion + broadcast lift) shape
    "precip_regnie_scale",
    "orders_market_basket",
    # round-9 addition: the persisted-index lifecycle (MinHash-LSH build
    # -> partitioned parquet write -> probe with row-group pruning) — the
    # first headline with a write stage in its hot path
    "dedup_lsh_index_persist",
    # round-10 addition: the sparse-vector self-join shape (TF-IDF cosine
    # pairs — integer-quantized weights, term-posting self-join, one
    # pair-key shuffle), complementing the set-based jaccard headliner
    "text_tfidf_cosine_pairs",
    # round-10 additions: the two-pass sketch shape (Misra-Gries
    # candidates via mapInPandas -> broadcast-pruned exact verify) and
    # the prefix-filtered exact similarity join.  The prefix join is
    # EXPECTED to trail dedup_ngram_jaccard here (~3.6s vs ~0.8s): the
    # bench corpus is small and has the uniform 31-token vocabulary that
    # is prefix filtering's documented adversarial case — it pays its
    # fixed frequency-agg + window cost without the quadratic term to
    # amortize it.  The crossover is measured in SOAK.md: at 100k docs
    # with a realistic rare-token tail, prefix = 237 MB shuffle / zero
    # spill vs naive = 5.5 GB shuffle / 123 GB spill.  Keeping both
    # headliners makes that trade visible every round.
    "stats_heavy_hitters",
    "dedup_jaccard_prefix",
    # round-11 addition: the prefix join's DESIGN-REGIME twin — the same
    # operator over a corpus with the selective rare-token tail its
    # precondition names (order -> basket-of-partkeys documents; every
    # part key is globally rare, so the rarest-first prefixes
    # discriminate).  dedup_jaccard_prefix above stays as the documented
    # adversarial case (uniform 31-token vocabulary); this entry is the
    # operator's public cost in the regime it exists for.
    "dedup_jaccard_prefix_zipf",
    # round-11 addition: the posting-list-join retrieval shape (BM25 —
    # tokenize, (doc,term) tf agg, term df agg, broadcast query terms,
    # integer-quantized contributions); the first headline whose join
    # keys are text terms rather than ids/shingle hashes
    "text_bm25_topk",
    # round-12 addition: the ABSOLUTE-count overlap join in its design
    # regime (rare-token basket corpus + planted 5-part fragment twins
    # — the verbatim-quote contamination shape).  Until r12 the
    # operator's only public cost was its uniform-vocab adversarial
    # case; this entry is its cost in the regime it exists for, next to
    # dedup_jaccard_prefix_zipf, its ratio-threshold sibling.
    "dedup_overlap_pairs_zipf",
    # round-12 addition: sorted-neighborhood blocking — the third
    # blocking family (order-based) next to the LSH and prefix
    # headliners above, re-engineered this round (bounded 64-char
    # blocking key + rank-block array verify: arrays ship once per doc,
    # not once per candidate pair — 1.8 GB -> 510 MB shuffle at 500k
    # docs).  Benched so the block-join plan carries per-round wall
    # evidence like its siblings.
    "dedup_sorted_neighborhood",
    # round-12 second wave: the winnowing selection + MOSS pair join —
    # the fourth blocking family (position-based fingerprint selection;
    # SIGMOD'03).  Selection density ~2/(w+1) is the join-input knob the
    # full-shingle headliners lack; benched so the one-shuffle window +
    # partitioning-reuse plan carries per-round wall evidence.
    "dedup_winnow_pairs",
    # round-12 second wave: DSIR importance weighting — the
    # target/source likelihood-ratio scoring shape (two bucket
    # aggregates + broadcast lr dimension join + one doc-key sum);
    # benched because its wall is dominated by the portable md5 gram
    # hash (the oracle-exactness tax measured in SOAK.md).
    "sample_dsir_weights",
    # round-13 additions: corpus-wide paragraph dedup with in-order
    # reassembly (the C4 boilerplate-removal granularity: one
    # paragraph-key window exchange + one doc-key reassembly aggregate;
    # SOAK.md shows linear shuffle to 1M docs), and CCNet perplexity
    # bucketing (the bigram-LM scoring pipeline — adjacency window,
    # two count aggregates, vocabulary-key joins — with per-bigram
    # integer quantization; the margin-audited fourth ln-quantization
    # op).  Both benched so the round's new text-pipeline shapes carry
    # per-round wall evidence.
    "dedup_paragraphs",
    "text_perplexity_buckets",
    # round-14 additions: the range-partitioned value-domain cumulative
    # machinery (_ranged_cumsums) under its two consumers — the reworked
    # exact KS drift (the r13 verdict's one `weak`, now no
    # single-partition sort at any domain size) and the new exact
    # Mann-Whitney AUC (same machinery, rank-sum law) — so the shared
    # plan shape carries per-round wall evidence on the near-distinct
    # cents-price domain.
    "dq_ks_drift",
    "dq_auc_returns",
    # round-14 second batch: the coordinated-hash replicate fan (Poisson
    # bootstrap — one explode x B, one map-side-combinable groupBy(b)
    # bounding the shuffle at B rows/task; wall is the md5 portability
    # tax, linear in rows x B per SOAK.md) and the streaming-KMV
    # bottom-k prune (per-partition Arrow candidates -> 0.7 MB flat
    # shuffle at any key-domain size — the negative-result rework).
    "stats_bootstrap_ci",
    "sketch_kmv_overlap",
    # round-15 additions: the per-group KS drift (group-partitioned
    # cumulative windows — the segmented twin of dq_ks_drift's
    # range-partition machinery; one group-key exchange for three
    # window/agg operators) and the streaming per-window Count-Min
    # (ingest-time sketch maintenance — the wall includes the
    # availableNow drain's stateful window agg + memory-sink
    # materialization, the price of the streaming runtime itself).
    "dq_ks_drift_by",
    "events_stream_count_min",
    # round-16 additions: the broadcast-extent-grid per-group shape
    # (per-segment PSI — extent agg + broadcast join + one
    # counter-sized (group, bucket) aggregate; no row ever shuffles on
    # the group key) and the stateful applyInPandasWithState drain
    # (per-window KMV bottom-k — the Python-state streaming path the
    # bench previously didn't price; wall includes the streaming
    # runtime's drain + memory sink by design).
    "dq_psi_drift_by",
    "events_stream_kmv",
    # round-16 sixth wave: the token-domain min-aggregate shape (Heaps
    # vocabulary growth — explode feeding a per-token min(bucket) agg,
    # the one token-domain shuffle, + counter windows) and the
    # dual-window single-exchange nearest as-of join (both the
    # ascending last-prior and descending first-next scans sort on ONE
    # key exchange; the pick law is stateless integer microseconds).
    "text_vocab_growth",
    "events_asof_nearest",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    spark = get_spark("radohydro_bench")
    qs = entrymod.queries()

    # JVM/codegen warmup + Python-worker pool spin-up (pandas UDF)
    import pandas as pd
    from pyspark.sql import functions as F

    def _warm_fn(s):
        return s * 1.0

    _warm = F.pandas_udf(_warm_fn, "double")

    from pyspark.sql import Window as W

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    a = spark.range(0, 20000, 1, cpus).select(
        F.col("id"), (F.col("id") % 100).alias("k"), _warm(F.col("id").cast("double")).alias("v")
    )
    b = spark.range(0, 100, 1, 1).select(F.col("id").alias("k"), F.lit(1.0).alias("w"))
    (
        a.join(F.broadcast(b), "k")
        .withColumn("r", F.row_number().over(W.partitionBy("k").orderBy("id")))
        .groupBy("k")
        .agg(F.sum(F.col("v") * F.col("w")).alias("s"))
        .count()
    )

    # best-of-N runs per query: the machine shares cores with other tenants
    # and whole BENCH RUNS land anywhere in a 0.76x-1.42x band purely from
    # host load (measured round 5: identical code, same day); min over
    # repetitions reports steady-state (first run still pays codegen).
    # NOISE BAND (r14, measured round 13: committed-vs-reproduced runs
    # swung individual sub-2s queries +/-20-30% IN BOTH DIRECTIONS while
    # the 32-query total reproduced to 0.1%): queries whose best is
    # under FAST_THRESHOLD_S get extra repetitions (9 total instead of
    # 5) to tighten the min, and every query reports its steady-state
    # SPREAD ((max-min)/min over the post-warmup runs) so a future
    # round can separate a code regression from tenancy mechanically:
    # a mover inside its own recorded spread is noise, not a story.
    RUNS_BASE, RUNS_FAST, FAST_THRESHOLD_S = 5, 9, 2.0
    from radohydro_spark.plans.pipeline import release_persisted

    # TENANCY CANARY (r16, VERDICT r15 #7): a fixed pure-CPU
    # calibration aggregate — constant 10M-row integer arithmetic +
    # one 1000-key groupBy, no I/O, no Python workers, identical plan
    # every round — whose wall moves ONLY with host load.  Cross-round
    # total comparisons divide by the canary ratio to separate code
    # movement from tenancy (per-query spreads already separate
    # within-round noise; this separates BETWEEN-round noise).
    from perfbench.canary import canary_seconds

    canary_runs = [canary_seconds(spark) for _ in range(5)]
    canary_steady = canary_runs[1:]
    canary = {
        "best_sec": round(min(canary_runs), 3),
        "runs": [round(r, 3) for r in canary_runs],
        "spread": round(
            (max(canary_steady) - min(canary_steady)) / min(canary_steady), 3
        ),
        "workload": "10M-row integer mod/mul + 1000-key groupBy, no I/O",
    }

    # Per-query error isolation: one broken query must never zero the whole
    # round's perf record (round 3 lost its bench to a single ingest
    # AnalysisException).  Failures land in "errors" and are excluded from
    # the total; a partial record beats none.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    colds: dict[str, float] = {}
    steadies: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs[name]
        runs: list[float] = []
        try:
            while len(runs) < RUNS_BASE or (
                min(runs) < FAST_THRESHOLD_S and len(runs) < RUNS_FAST
            ):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
                # Release operator-registered persists BETWEEN REPETITIONS
                # (r17, VERDICT r16 #1): Spark's CacheManager matches the
                # re-built DataFrame by canonicalized plan, so with a
                # per-query-only release, repetitions 2+ of a query whose
                # operator persists an intermediate read caches filled in
                # rep 1 and min(runs) excluded the fill cost.  Releasing
                # here makes every repetition cache-cold, so persists are
                # priced WITH their fill cost; the unpersist itself runs
                # outside the timed region.  (Methodology change recorded
                # in OPTIMIZATION_r17.md with the r16-method numbers kept.)
                release_persisted()
        except Exception as exc:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        finally:
            # safety net for the error path: never leak caches into the
            # next query's session
            release_persisted()
        timings[name] = round(min(runs), 3)
        # cold = rep 1 (codegen/analysis + cache fill); steady = best of
        # the post-warmup reps (each still pays cache fill, see above)
        colds[name] = round(runs[0], 3)
        steady = runs[1:]
        steadies[name] = round(min(steady), 3)
        spreads[name] = round((max(steady) - min(steady)) / min(steady), 3)

    total = round(sum(timings.values()), 3)
    # FULL record (timings + per-query noise spreads + run policy) goes
    # to a committed sidecar; the PRINTED line is a compact subset.  The
    # driver captures only the last ~2000 stdout chars, and the r14
    # record (36 queries x timings + the spread map) outgrew it — the
    # round's headline total was lost to a truncated, unparseable
    # artifact (VERDICT r14 #2).  The spread map is the part a human
    # audits, not the part the driver parses, so it lives in the
    # sidecar next to this script.
    full = {
        "metric": "headline_query_wall_time",
        "value": total if not errors else None,
        "unit": "sec",
        "queries": timings,
        # steady-state run-to-run spread per query ((max-min)/min over
        # post-warmup runs) — the per-query noise band movers must be
        # judged against
        "spread": spreads,
        # r17 additions (VERDICT r16 #1): per-query first-repetition wall
        # (codegen + cache fill) and best post-warmup wall; with the
        # per-repetition release above, BOTH include persist fill cost
        "cold_sec": colds,
        "steady_sec": steadies,
        "queries_ok": len(timings),
        "queries_total": len(HEADLINE),
        "runs_per_query": {
            "base": RUNS_BASE,
            "fast": RUNS_FAST,
            "fast_threshold_s": FAST_THRESHOLD_S,
        },
        # fixed pure-CPU calibration workload: divide cross-round totals
        # by the canary ratio before reading them as code movement
        "canary": canary,
        "sf": sf,
    }
    if errors:
        full["errors"] = errors
        full["partial_total"] = total
    try:
        sidecar = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SPREAD.json"
        )
        with open(sidecar, "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # a read-only checkout must not kill the printed record
    record = {
        "metric": "headline_query_wall_time",
        # a partial round must not read as a fast round: value is null
        # unless every headline query completed (errors are still listed)
        "value": total if not errors else None,
        "unit": "sec",
        "queries": timings,
        "queries_ok": len(timings),
        "queries_total": len(HEADLINE),
        "canary_sec": canary["best_sec"],
        "sf": sf,
    }
    if errors:
        record["errors"] = errors
        record["partial_total"] = total
    line = json.dumps(record)
    if len(line) > 1900:
        # still too wide for the capture window (e.g. a long errors
        # map): drop per-query detail from the PRINTED line — it
        # survives in the sidecar — and keep the headline total
        # parseable.  The field KEEPS ITS TYPE (null, never a string —
        # r15 ADVICE: a schema that mutates with run width breaks
        # parsers only on wide/partial rounds); the pointer rides a
        # separate note key.
        record["queries"] = None
        record["queries_note"] = "see BENCH_SPREAD.json"
        if "errors" in record:
            record["errors"] = {
                k: v[:80] for k, v in list(record["errors"].items())[:5]
            }
        line = json.dumps(record)
    # LAST line of stdout: the driver tails stdout for the record
    print(line)


if __name__ == "__main__":
    main()
