"""Physical-plan regression tests: the scale-critical plan shapes must not
silently degrade (SURVEY.md §4's \"plan-shape discipline\").

These assert the *kind* of plan, not timings — broadcast vs shuffle joins,
exchange counts, scan-level pushdown — so a refactor that turns a broadcast
bbox join into a cartesian product fails CI instead of failing at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from radohydro_spark.operators.spatial import spatial_intersect
from radohydro_spark.operators.weights import apply_nan_policy, basin_weights
from radohydro_spark.plans.pipeline import precip_timeseries
from radohydro_spark.sources.synthetic import (
    synthetic_basins,
    synthetic_cells,
    synthetic_obs,
)

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    # run the query so AQE finalizes, then read the final plan
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_spatial_intersect_broadcasts_basins(spark):
    plan = _plan(spatial_intersect(synthetic_cells(spark), synthetic_basins(spark)))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # dimension join must never SMJ


def test_pipeline_fact_side_single_shuffle(spark):
    res = precip_timeseries(
        synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
    )
    plan = _final_plan(res)
    # obs joins weights via broadcast (fact table never shuffled before agg)
    assert "BroadcastHashJoin" in plan
    # partial+final hash aggregation on (basin_id, ts)
    assert plan.count("HashAggregate") >= 2


def test_parquet_scan_prunes_columns_and_pushes_filters(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    plan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "c_custkey",
        "c_mktsegment",
    }
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_weights_window_is_dimension_sized(spark):
    frags = apply_nan_policy(
        spatial_intersect(synthetic_cells(spark), synthetic_basins(spark)),
        synthetic_obs(spark),
    )
    plan = _plan(basin_weights(frags))
    # the window runs over fragments (dimension), never over obs: the obs
    # table appears only under the dirty-flag aggregate subtree
    assert "Window" in plan


def test_whole_stage_codegen_covers_text_path(spark):
    import radohydro_spark.functions.text as TX

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(TX.text_stats(d, "text", ("doc_id",)))
    # "*(n)" prefixes mark WholeStageCodegen stages in executedPlan output;
    # the higher-order-function Project sits between them (HOFs are
    # interpreted) but NOTHING drops to row-at-a-time Python
    assert "*(1)" in plan and "*(2)" in plan
    assert "BatchEvalPython" not in plan


def test_minhash_wide_is_single_shuffle(spark):
    """Wide MinHash signatures: one groupBy(doc) Exchange, no explode-side
    multiplication of shuffle rows (the round-2 rewrite's contract)."""
    from radohydro_spark.operators.dedup import minhash_signatures_wide

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_signatures_wide(d, "text", "doc_id"))
    assert plan.count("Exchange hashpartitioning") == 1


def test_pack_sequences_single_shuffle(spark):
    from radohydro_spark.functions.text import pack_sequences

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(pack_sequences(d, budget=256, group_col="source"))
    assert plan.count("Exchange hashpartitioning") == 1


def test_contamination_benchmark_side_broadcasts(spark):
    """Decontamination: the benchmark shingle set must broadcast — the
    corpus side never shuffles on shingle values."""
    from pyspark.sql import functions as F

    from radohydro_spark.operators.dedup import contamination_check

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    plan = _plan(contamination_check(corpus, bench, "text", "doc_id"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the only hash Exchange is the final per-doc count (and the broadcast
    # build side's distinct) — the corpus shingles stream map-side
    assert "SortMergeJoin" not in plan


def test_embedding_near_dups_lsh_no_cartesian(spark):
    """Banded embedding near-dup: candidates must come from the
    (band, bucket) equi-join — never a cartesian/nested-loop pair sweep
    (the O(n^2) cliff the banded rewrite exists to remove)."""
    from radohydro_spark.operators.dedup import embedding_near_dups_lsh

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    df = embedding_near_dups_lsh(e, threshold=0.35, n_planes=4, n_bands=2, n_dims=64)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dups_lsh_subset_of_bruteforce(spark):
    """Every banded pair must appear in the brute-force result with the
    identical cosine (banding only restricts candidates, never scores)."""
    from radohydro_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_lsh,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    banded = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dups_lsh(
            e, threshold=0.35, n_planes=4, n_bands=2, n_dims=64
        ).collect()
    }
    brute = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dups(e, threshold=0.35).collect()
    }
    assert banded, "banded candidate set unexpectedly empty"
    assert set(banded) <= set(brute)
    for pair, cos in banded.items():
        assert brute[pair] == cos


def test_corpus_curation_no_cartesian(spark):
    """The curation funnel composes 5 operator families; none of its joins
    may degrade to a cartesian/nested-loop sweep (quality is a narrow
    filter, dedup joins are equi-joins, the benchmark side broadcasts)."""
    import __spark_entry__ as entrymod

    df = entrymod.q_corpus_curation(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


# ---- round-5 operator plan shapes ----


def test_stratified_cap_windowgrouplimit_pushdown(spark):
    from radohydro_spark.operators.sampling import stratified_cap

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(stratified_cap(docs, "doc_id", "source", 10))
    # partial top-N must run BEFORE the exchange (map-side reduction)
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan


def test_weighted_sample_take_ordered_not_global_window(spark):
    from radohydro_spark.operators.sampling import weighted_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(weighted_sample(docs, "doc_id", "n_chars", 50))
    # distributed per-task heap + driver merge; a global row_number
    # window here would single-task the corpus (WindowExec warning)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_snapshot_diff_single_join(spark):
    from radohydro_spark.operators.merge import snapshot_diff

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    old = o.filter(F.col("o_orderkey") % 10 != 3)
    new = o.filter(F.col("o_orderkey") % 10 != 0)
    plan = _plan(snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"]))
    # exactly ONE join, full-outer, no nested loop
    assert len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)) == 1
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_nearest_neighbor_join_broadcast_and_partial_agg(spark):
    from radohydro_spark.operators.spatial import nearest_neighbor_join

    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        F.col("id").cast("double").alias("cx"),
        F.lit(0.0).alias("cy"),
    )
    anchors = spark.range(5).select(
        F.col("id").alias("basin_id"),
        (F.col("id") * 20.0).alias("bx"),
        F.lit(0.0).alias("by"),
    )
    plan = _plan(nearest_neighbor_join(pts, anchors, ["pid"]))
    assert "BroadcastNestedLoopJoin" in plan  # tiny-side cross join broadcast
    assert "CartesianProduct" not in plan
    # min_by argmin is a real aggregate with a map-side partial pair
    # (struct-typed min_by plans as SortAggregate)
    assert "partial_min_by" in plan
    assert len(re.findall(r"SortAggregate|HashAggregate", plan)) >= 2


def test_lsh_bucket_compact_expression(spark):
    from radohydro_spark.operators.similarity import lsh_bucket

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    df = e.select("vec_id", lsh_bucket("embedding", 4, 64).alias("bucket"))
    plan = _final_plan(df)
    # array-literal zip_with/aggregate form: 4 folds, not 256 unrolled
    # multiply terms (which overflowed the JVM 64KB codegen method limit
    # and crashed compilation to a hard interpreted fallback)
    assert plan.count("zip_with") == 4
    # scan stays pruned to the two needed columns
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan


def test_html_to_text_no_python_udf(spark):
    from radohydro_spark.functions.text import html_to_text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(docs.select(html_to_text("text").alias("t")))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unigram_vocab_cut_take_ordered(spark):
    from radohydro_spark.functions.text import unigram_logprob

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(unigram_logprob(docs, top_k=100, min_count=2))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan  # no global-window single-tasking anywhere


def test_concurrency_sweep_ranged_no_self_join(spark):
    """r6 pinned the sweep join-free; r17 range-partitions the running
    sum (guide §2.5 — a low-cardinality key serialized each key's whole
    sweep onto one task), which adds ONE dimension-sized offsets
    equi-join.  The contract now: no interval SELF-join (no cartesian,
    no O(n²) — the only join key includes the range bucket _b, never an
    interval overlap predicate), the window partitions by (_b, key) so
    no per-key single-tasking, and each bucket is its own shuffle
    partition."""
    from radohydro_spark.operators.intervals import concurrency_sweep

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 3, 8), ("b", 0, 2)], "k string, s long, e long"
    )
    plan = _plan(concurrency_sweep(df, "s", "e", ["k"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "direct_shuffle_partition_id(_b" in plan
    # window runs inside ranges, not per whole key
    assert re.search(r"windowspecdefinition\(_b#\d+, k#\d+, t#", plan)


def test_concurrency_sweep_keeps_null_key_rows(spark, cache_free_collect):
    """A NULL partition key is a key of its own: every interval yields
    its two sweep events, and the offsets join back stays a hash or
    broadcast join (the key equality is NULL-safe).  Next to a hot key
    split over many ranges, the sweep equals the per-key single-task
    window row for row, with every cache dropped before the rows are
    computed."""
    import random

    from pyspark.sql import Window as W

    from radohydro_spark.operators.intervals import concurrency_sweep

    df = spark.createDataFrame(
        [("a", 1, 5), (None, 3, 8), (None, 4, 6)], "k string, s long, e long"
    )
    out = concurrency_sweep(df, "s", "e", ["k"])
    rows = sorted(
        ((r.k or ""), r.t, r.delta, r.concurrency) for r in out.collect()
    )
    assert rows == [
        ("", 3, 1, 1),
        ("", 4, 1, 2),
        ("", 6, -1, 1),
        ("", 8, -1, 0),
        ("a", 1, 1, 1),
        ("a", 5, -1, 0),
    ]
    plan = _plan(out)
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    rng = random.Random(17)
    rows = [
        (k, s, s + rng.randrange(1, 20))
        for k, n in (("hot", 400), (None, 40), ("cold", 5))
        for s in (rng.randrange(0, 200) for _ in range(n))
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    sweep = df.select("k", F.col("s").alias("t"), F.lit(1).alias("delta")).unionByName(
        df.select("k", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = W.partitionBy("k").orderBy("t", "delta").rowsBetween(W.unboundedPreceding, 0)

    def norm(rows):
        return sorted((r.k or "", r.k is None, r.t, r.delta, r.concurrency) for r in rows)

    ref = norm(sweep.withColumn("concurrency", F.sum("delta").over(w)).collect())
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        out = concurrency_sweep(df, "s", "e", ["k"])
        assert norm(cache_free_collect(out)) == ref
        assert cache_free_collect(concurrency_sweep(df.limit(0), "s", "e", ["k"])) == []
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_triangle_count_no_cartesian(spark):
    from radohydro_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src int, dst int"
    )
    plan = _plan(triangle_count(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # wedge join is equi-join


def test_random_projection_no_shuffle_no_udf(spark):
    """The J-L projection is a pure per-row expression: no Exchange, no
    Python evaluation in the plan."""
    from radohydro_spark.operators.similarity import random_projection_int

    df = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 8)], "vec_id long, embedding array<float>"
    )
    plan = _plan(random_projection_int(df, out_dims=4))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_inverted_index_caps_before_collect(spark):
    """The postings collect_list must sit ABOVE a WindowGroupLimit/rank
    filter, never collecting uncapped lists; plan shows the window filter
    below the final aggregate."""
    from radohydro_spark.functions.text import inverted_index

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a c")], "doc_id long, text string"
    )
    plan = _plan(inverted_index(df, max_postings=3))
    assert "CartesianProduct" not in plan
    assert "collect_list" in plan and "row_number" in plan
    # the rn filter must appear below (later in the printed tree than)
    # the collect_list aggregate
    assert plan.index("collect_list") < plan.rindex("row_number")


def test_fuzzy_join_blocks_via_equijoin(spark):
    from radohydro_spark.operators.fuzzy import blocked_fuzzy_join

    left = spark.createDataFrame([(1, "ab", "b")], "lk int, ln string, blk string")
    right = spark.createDataFrame([(2, "ac", "b")], "rk int, rn string, blk string")
    plan = _plan(
        blocked_fuzzy_join(left, right, "blk", "lk", "rk", "ln", "rn")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_market_basket_topk_and_no_cartesian(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["orders_market_basket"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan  # global top-k, never driver sort
    assert "CartesianProduct" not in plan
    # the only nested-loop is the 1-row n_baskets scalar broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_bloom_prefilter_thins_before_join(spark):
    """The bloom test must sit in a Filter BELOW the exact semi-join, so
    the join's exchange sees the thinned stream."""
    from radohydro_spark.operators.bloom import bloom_semi_join

    fact = spark.range(0, 1000).select(F.col("id").alias("key"))
    dim = spark.range(0, 20).select((F.col("id") * 31).alias("key"))
    plan = _plan(bloom_semi_join(fact, dim, "key", "key"))
    assert "CartesianProduct" not in plan
    join_pos = plan.find("Join")
    filter_pos = plan.find("xxhash64")
    assert join_pos != -1 and filter_pos != -1
    # executed plans print top-down: the Filter (with the xxhash64 probes)
    # must appear BELOW (after) the join node it feeds
    assert filter_pos > join_pos


def test_interval_overlap_canonical_bucket_no_dedup_exchange(spark):
    """The r7 canonical-bucket guard replaced dropDuplicates: the plan
    must carry NO aggregate-style dedup above the join."""
    from radohydro_spark.operators.rangejoin import interval_overlap_join

    ldf = spark.createDataFrame([(1, 0.0, 5.0)], "lid int, l_lo double, l_hi double")
    rdf = spark.createDataFrame([(2, 3.0, 9.0)], "rid int, r_lo double, r_hi double")
    plan = _plan(interval_overlap_join(ldf, rdf))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # dropDuplicates compiles to HashAggregate over all columns; the
    # canonical-bucket form must not have ANY aggregate node
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_mad_outliers_broadcasts_group_medians(spark):
    from radohydro_spark.operators.profile import mad_outliers

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") * 13 % 1000).alias("x")
    )
    plan = _plan(mad_outliers(df, "g", "x"))
    assert "BroadcastHashJoin" in plan  # medians/MADs join back broadcast
    assert "CartesianProduct" not in plan


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """Probing the persisted IVF index must read only the probed
    centroid partitions (partition pruning visible in the scan node)."""
    from radohydro_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    e = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(e, path, n_centroids=16)
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = query_ivf_index(spark, path, q, nprobe=2, k=3)
    plan = _plan(res)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "centroid_id" in m.group(1), plan[:800]
    assert res.count() == 6  # 2 queries x top-3


def test_ivf_index_lloyd_trained_same_contract(spark, tmp_path):
    """r9: build_ivf_index(train_iterations>0) refines centroids with
    relational Lloyd but must keep the exact same layout and probe
    contract — partition-pruned scan, k results per query, centroid
    table readable by the unchanged query path."""
    from radohydro_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    e = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    path = str(tmp_path / "ivf_lloyd")
    build_ivf_index(e, path, n_centroids=8, train_iterations=2)
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = query_ivf_index(spark, path, q, nprobe=2, k=3)
    plan = _plan(res)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "centroid_id" in m.group(1), plan[:800]
    rows = res.collect()
    assert len(rows) == 6  # 2 queries x top-3, trained or not
    # a query vector present in the corpus must find itself first
    self_hits = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert self_hits == {0: 0, 1: 1}


def test_window_distinct_running_single_shuffle(spark):
    """r9: the running-distinct rewrite must pay ONE exchange — the
    explicit custkey repartition satisfies both windows' clustering
    requirements (HashPartitioning on a subset of the required keys);
    without it Catalyst inserts an exchange per window spec."""
    import __spark_entry__ as entry

    df = entry.queries()["window_distinct_running"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "CartesianProduct" not in plan
