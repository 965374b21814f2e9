"""Plan-shape regression tests: assert the PHYSICAL plan stays the one we
want at scale — pushdown reaches scans, dims broadcast, scans prune, no
shuffle creep. A refactor that de-optimizes fails here even with correct
results."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bharatmlstack_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    read_schemas,
    salted_join,
    shuffle_count,
)
from bharatmlstack_spark.queries import all_queries


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir, qs):
    df = qs["q1_pricing_summary"](spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf  # predicate reached the parquet scan
    schemas = read_schemas(df)
    assert all("l_comment" not in s and "l_partkey" not in s for s in schemas)
    assert shuffle_count(df) == 1  # partial agg -> single exchange -> final


def test_q3_broadcasts_dimensions(spark, sf_dir, qs):
    df = qs["q3_shipping_priority"](spark, sf_dir)
    assert has_broadcast_join(df)
    pf = " ".join(pushed_filters(df))
    assert "BUILDING" in pf and "l_shipdate" in pf


def test_feature_retrieve_no_sort_one_prune(spark, sf_dir, qs):
    from bharatmlstack_spark.plans import explain_formatted

    df = qs["feature_retrieve"](spark, sf_dir)
    plan = explain_formatted(df)
    assert "Sort" not in plan  # the hot path must not globally sort
    assert has_broadcast_join(df)
    # customer scan prunes to the columns the fixture derives from
    assert any("c_custkey" in s for s in read_schemas(df))


def _stored_lookup(spark, tmp_path):
    """A persisted narrow-storage table (FP16 scalars, E5M2 vectors on
    disk), its FeatureStore and a 100-row local-relation request with
    duplicates, misses and an @FP16 projection — the serve lookup shape."""
    from bharatmlstack_spark import fixtures
    from bharatmlstack_spark.operators.feature_store import FeatureStore

    fs = FeatureStore(
        spark, fixtures.user_narrow_registry(), str(tmp_path / "fs"), n_buckets=8
    )
    fs.persist(
        "user",
        spark.range(0, 400).select(
            F.col("id").alias("user_id"),
            (F.col("id") / 7.0).cast("float").alias("demo_fp__acct_bal"),
            F.array(*[(F.col("id") * (i + 1) / 3.0).cast("float") for i in range(8)])
            .alias("demo_vec__taste_vec"),
        ),
    )
    # pandas + Arrow: a LocalRelation, as a serving caller builds it
    keys = spark.createDataFrame(pd.DataFrame({"user_id": [(i * 37) % 450 for i in range(100)]}))
    sel = {"demo_fp": ["acct_bal@DataTypeFP8E4M3"], "demo_vec": ["taste_vec"]}
    return fs, keys, sel


def test_feature_retrieve_broadcasts_with_autobroadcast_off(spark, tmp_path):
    """The 100 TB hot-path invariant: the feature table never shuffles,
    and retrieve's lookup join comes from the HINT, not from size-based
    auto-broadcast (at real scale the feature table is far over any
    threshold). The request keys are collected to the driver and filter
    the scan as literal IN lists (key_bucket partition filter + pushed key
    filter), so the scan is request-sized and broadcasts into ONE
    request LEFT JOIN per store. No key dedup (no hash Exchange: the pk is
    unique, so the join keeps request multiplicity) and no Python worker
    (the fp16/fp8 codecs are Catalyst expressions)."""
    from bharatmlstack_spark.plans import explain_formatted

    fs, keys, sel = _stored_lookup(spark, tmp_path)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = fs.retrieve("user", sel, keys)
        plan = explain_formatted(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin LeftOuter BuildRight") == 1
    assert plan.count("BroadcastHashJoin ") == 1  # tree line; details say "(n) BroadcastHashJoin"
    assert "Exchange hashpartitioning" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    partition_filters = [
        line for line in plan.splitlines() if line.startswith("PartitionFilters: ")
    ]
    assert any("key_bucket#" in f and " IN (" in f for f in partition_filters)
    assert "In(user_id, [" in " ".join(pushed_filters(df))


def _jobs_launched(spark, fn):
    """(fn(), Spark jobs it launched): status-tracker job-id delta after
    the listener bus has drained."""
    sc = spark.sparkContext
    st = sc.statusTracker()

    def ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(st.getJobIdsForGroup())

    before = ids()
    out = fn()
    return out, len(ids() - before)


def test_lookup_job_counts(spark, tmp_path):
    """A serve lookup on a local-relation request: retrieve() plans with
    0 jobs (the table schema comes from the sidecar, the request keys are
    collected without a job), collecting a single-store lookup takes at
    most 2 (broadcast of the filtered scan + the join stage), and
    collecting score_ids takes 1 (literal-IN candidate filter)."""
    from bharatmlstack_spark.operators.knn import VectorSearch

    fs, keys, sel = _stored_lookup(spark, tmp_path)
    fs.retrieve("user", sel, keys).collect()  # warm the path once
    df, planned = _jobs_launched(spark, lambda: fs.retrieve("user", sel, keys))
    rows, executed = _jobs_launched(spark, df.collect)
    assert planned == 0
    assert 1 <= executed <= 2
    assert len(rows) == 100

    path = str(tmp_path / "cands")
    spark.range(0, 50).select(
        F.col("id").alias("candidate_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float")).alias("embedding"),
    ).write.parquet(path)
    cands = spark.read.parquet(path)
    ids = spark.createDataFrame(pd.DataFrame({"candidate_id": [3, 9, 9, 70]}))
    scored, planned = _jobs_launched(
        spark, lambda: VectorSearch().score_ids(cands, ids, [1.0, 2.0])
    )
    got, executed = _jobs_launched(spark, scored.collect)
    assert planned == 0 and executed == 1
    assert sorted((r["candidate_id"], r["score"]) for r in got) == [(3, 5.0), (9, 11.0)]


def test_bucket_writes_job_counts(spark, tmp_path):
    """An upsert into an existing 4-bucket table and a key delete from it
    write the touched buckets once and swap them in by one commit: 7 and
    10 jobs (staging, reading the stage back and rewriting it with
    dynamic partition overwrite took 10 and 17). Neither leaves a stage
    or aside dir beside the table, and retrieve() still plans with 0
    jobs."""
    import os

    from bharatmlstack_spark import fixtures
    from bharatmlstack_spark.operators.feature_store import FeatureStore

    fs = FeatureStore(spark, fixtures.user_registry(), str(tmp_path / "w"), n_buckets=4)
    fs.persist(
        "user",
        spark.range(0, 64).select(
            F.col("id").alias("user_id"), (F.col("id") % 60).cast("int").alias("demo_int32__age")
        ),
    )
    upsert = spark.createDataFrame([(1, 7), (2, 8)], ["user_id", "demo_int32__age"])
    _, persisted = _jobs_launched(spark, lambda: fs.persist("user", upsert))
    keys = spark.createDataFrame(pd.DataFrame({"user_id": [3, 4]}))
    removed, deleted = _jobs_launched(spark, lambda: fs.delete("user", keys))
    assert removed == 2
    assert (persisted, deleted) == (7, 10)
    assert os.listdir(tmp_path / "w" / "user") == ["store_0"]
    _, planned = _jobs_launched(
        spark, lambda: fs.retrieve("user", {"demo_int32": ["age"]}, keys)
    )
    assert planned == 0


def test_events_range_is_take_ordered(spark, sf_dir, qs):
    from bharatmlstack_spark.plans import explain_formatted

    df = qs["events_range_user"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_formatted(df)


def test_topk_orders_take_ordered_no_global_sort(spark, sf_dir, qs):
    from bharatmlstack_spark.plans import explain_formatted

    plan = explain_formatted(qs["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort path


def test_knn_broadcasts_queries(spark, sf_dir, qs):
    # knn_dot retired r12 (staged tier) — the plan shape under test is
    # identical in its registered sibling knn_euclidean
    df = qs["knn_euclidean"](spark, sf_dir)
    assert has_broadcast_join(df) or "BroadcastNestedLoopJoin" in str(
        df._jdf.queryExecution().executedPlan().toString()
    )


def test_merge_trim_single_shuffle(spark, sf_dir, qs):
    df = qs["events_merge_trim"](spark, sf_dir)
    assert shuffle_count(df) == 1  # one window shuffle on (user, week)


def test_mix_sample_is_scan_level_filter(spark, sf_dir, qs):
    # corpus mixing must stay a shuffle-free scan: filter + project only
    df = qs["corpus_mix_sample"](spark, sf_dir)
    assert shuffle_count(df) == 0
    schemas = read_schemas(df)
    assert all("text" not in s for s in schemas)  # only doc_id/lang leave the scan


def test_negative_sampling_broadcasts_item_pool(spark, sf_dir, qs):
    df = qs["negative_sampling"](spark, sf_dir)
    assert has_broadcast_join(df)
    pf = " ".join(pushed_filters(df))
    assert "c_custkey" in pf  # user-pool hash filter reached the scan


def test_quantile_bin_no_global_sort(spark, sf_dir, qs):
    from bharatmlstack_spark.plans import explain_formatted

    df = qs["quantile_binning"](spark, sf_dir)
    plan = explain_formatted(df)
    assert "Sort" not in plan  # boundary-array assignment, never an ntile sort
    # the single-row boundary aggregate broadcasts (nested-loop cross, 1 row)
    assert "BroadcastExchange" in plan and "BroadcastNestedLoopJoin" in plan


def test_sequence_packing_shards_the_window(spark, sf_dir, qs):
    from bharatmlstack_spark.plans import explain_formatted

    df = qs["sequence_packing"](spark, sf_dir)
    # the cumsum window partitions by shard — a partial global sort would
    # show as Sort without a partitioning expression; assert the window
    # exchange is hash-partitioned on shard, not a single partition
    plan = explain_formatted(df)
    assert "hashpartitioning(shard" in plan


def test_chunking_is_map_side_only(spark, sf_dir, qs):
    df = qs["doc_chunks"](spark, sf_dir)
    assert shuffle_count(df) == 0  # generate/explode pipeline, no exchange


def test_minhash_signatures_are_map_side_only(spark, sf_dir):
    """minhash_signatures' docstring claims the signature stage is pure
    scan bandwidth (in-row hashed shingles + array_min folds, no
    explode/groupBy); pin it like the simhash fold below so the claim
    can't silently rot."""
    from bharatmlstack_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert shuffle_count(minhash_signatures(docs, id_col="doc_id")) == 0


def test_simhash_fingerprint_is_map_side_only(spark, sf_dir):
    """SimHash fingerprinting is an in-row array fold (r09 rewrite of
    the explode+groupBy form): a whole-stage-codegen projection with no
    AGGREGATE exchange — the only key-partitioned shuffle in the SimHash
    pipeline is the band bucket join downstream. r16 adds the same
    conditional input spread minhash_lsh_dedup_pairs has (a round-robin
    repartition of the raw text when the source arrives in fewer splits
    than cores), so the allowed exchanges here are round-robin ONLY: a
    hashpartitioning exchange means the fingerprint regressed to an
    aggregate."""
    from bharatmlstack_spark.operators.dedup import simhash
    from bharatmlstack_spark.plans import explain_formatted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = simhash(docs, id_col="doc_id")
    plan = explain_formatted(fp)
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    # the spread fires here (one parquet file < test parallelism) and is
    # the ONLY exchange
    assert shuffle_count(fp) <= 1


def test_salted_join_matches_plain(spark):
    big = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot" if i % 4 else "cold",)],
        ["k", "v"],
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], ["k", "w"])
    plain = big.join(small, on="k").select("k", "v", "w")
    salted = salted_join(big, small, on="k", salt=4).select("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left(spark):
    big = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    small = spark.createDataFrame([("a", 10)], ["k", "w"])
    out = salted_join(big, small, on="k", salt=3, how="left").collect()
    d = {r["k"]: r["w"] for r in out}
    assert d == {"a": 10, "b": None}


def test_salted_agg_matches_plain_and_spreads_partials(spark):
    from bharatmlstack_spark.plans import explain_formatted, salted_agg

    big = spark.createDataFrame(
        [("hot" if i % 10 else "cold", i, float(i)) for i in range(500)],
        ["k", "rid", "v"],
    )
    plain = {
        (r["k"], r["n"], r["s"], r["lo"], r["hi"])
        for r in big.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,6)")).alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    salted = salted_agg(
        big,
        keys=["k"],
        aggs={
            "n": (F.lit(1), "count"),
            "s": (F.col("v").cast("decimal(18,6)"), "sum"),
            "lo": (F.col("v"), "min"),
            "hi": (F.col("v"), "max"),
        },
        salt=8,
        salt_source="rid",
    )
    got = {
        (r["k"], r["n"], r["s"], r["lo"], r["hi"]) for r in salted.collect()
    }
    assert got == plain
    # plan shape: first exchange partitions by (k, __salt) — the hot key is
    # NOT pinned to a single reducer in the wide stage
    plan = explain_formatted(salted)
    # formatted mode lists each Exchange's keys on an "Arguments:
    # hashpartitioning(...)" detail line; the first (innermost) one is the
    # wide partial-agg stage and must carry the salt
    first_exchange = plan[plan.index("Arguments: hashpartitioning") :]
    first_exchange = first_exchange[: first_exchange.index("\n")]
    assert "__salt" in first_exchange


def test_salted_agg_rejects_unknown_kind(spark):
    from bharatmlstack_spark.plans import salted_agg

    df = spark.createDataFrame([("a", 1.0)], ["k", "v"])
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], {"bad": (F.col("v"), "avg")})


def test_salted_join_keys_include_salt(spark):
    """With broadcast off (the regime salting exists for), the join keys of
    the physical plan must include __salt so a hot key spans reducers."""
    from bharatmlstack_spark.plans import explain_formatted

    big = spark.createDataFrame([("hot", i) for i in range(100)], ["k", "v"])
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], ["k", "w"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = salted_join(big, small, on="k", salt=4)
        plan = explain_formatted(out)
        # formatted mode details join keys on "Left keys"/"Right keys" lines
        key_lines = [
            ln for ln in plan.splitlines() if ln.startswith(("Left keys", "Right keys"))
        ]
        assert key_lines and all("__salt" in ln for ln in key_lines)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_feature_layout_prunes(spark, tmp_path):
    """Key-hash bucketing: a batch retrieve reads only the buckets its keys
    hash into (partition pruning on key_bucket)."""
    from bharatmlstack_spark.sources.writers import (
        read_feature_table_for_keys,
        write_feature_table,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("x")
    )
    path = str(tmp_path / "bucketed")
    write_feature_table(df, path, key_cols=["user_id"], n_buckets=16)

    keys = spark.createDataFrame([(5,), (6,)], ["user_id"])
    pruned = read_feature_table_for_keys(spark, path, keys, ["user_id"], n_buckets=16)
    # correctness: the requested keys are present
    got = {r["user_id"] for r in pruned.join(keys, "user_id", "left_semi").collect()}
    assert got == {5, 6}
    # pruning: far fewer rows scanned than the full table
    assert pruned.count() < 1000


def test_keyed_read_rejects_non_feature_layout(spark, tmp_path):
    """A plain parquet table (no key_bucket= dirs AND no key_bucket data
    column) is not a feature-table layout: the keyed read raises a
    targeted error instead of an unrelated AnalysisException from the
    flat-fallback filter."""
    import pytest

    from bharatmlstack_spark.sources.writers import read_feature_table_for_keys

    path = str(tmp_path / "not_a_feature_table")
    spark.range(0, 10).select(F.col("id").alias("user_id")).write.parquet(path)
    keys = spark.createDataFrame([(5,)], ["user_id"])
    with pytest.raises(ValueError, match="key_bucket"):
        read_feature_table_for_keys(spark, path, keys, ["user_id"], n_buckets=16)


def test_week_partitioned_events_prune(spark, tmp_path):
    from datetime import datetime

    from bharatmlstack_spark.plans import explain_formatted
    from bharatmlstack_spark.sources.writers import write_event_table

    rows = [
        (1, datetime(2024, 1, 1 + d), d) for d in range(0, 21, 2)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    path = str(tmp_path / "events_weekly")
    write_event_table(df, path)

    loaded = spark.read.parquet(path).filter(F.col("week") == "2024-01-01")
    assert loaded.count() == 4  # Jan 1,3,5,7 fall in the Jan-1 ISO week
    plan = explain_formatted(loaded)
    assert "PartitionFilters" in plan  # pruning happens at the source


def test_dedup_embedding_cosine_no_cartesian(spark, sf_dir, qs):
    """VERDICT r1 item 3: the registered embedding near-dup query must use
    the LSH bucket equi-join — never a cross/nested-loop join over the
    collection (the brute-force form survives only as the DuckDB oracle)."""
    df = qs["dedup_embedding_cosine"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_signature_is_map_side(spark, sf_dir, qs):
    """MinHash signatures must have NO exchange: one row per doc, shingle
    hashing and all k mins computed inside the scan's project (the only
    shuffle in the LSH pipeline is the band bucket join)."""
    from bharatmlstack_spark.operators.dedup import minhash_signatures

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(d, "doc_id", "text", num_hashes=16)
    assert shuffle_count(sigs) == 0


def test_cross_corpus_dedup_plan_shape(spark, sf_dir, qs):
    """dedup_cross_corpus (registered r11): candidates must come from the
    A-bands x B-bands EQUI-join — never a cross/nested-loop over either
    corpus (within-corpus pairs not materializing is the operator's whole
    cost model; the brute-force form survives only as the DuckDB twin)."""
    df = qs["dedup_cross_corpus"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_no_corpus_wide_verify(spark, sf_dir, qs):
    """The LSH dedup plan verifies candidates with the shingle SETS the
    band rows carry, never the corpus-wide shingle self-join: no join
    keyed on the raw shingle column may appear."""
    df = qs["dedup_minhash_lsh"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_is_one_band_join(spark, sf_dir, qs):
    """minhash_lsh_dedup_pairs verifies each pair in its band-join row, at
    the pair's first matching band: the plan has one join, no pair-dedup
    aggregate and no checkpointed RDD scan, and a collect runs at most 5
    Spark jobs (a checkpoint, a pair dedup and two verify joins took 8)."""
    from bharatmlstack_spark.query_registry import drain_pending_unpersist

    df = qs["dedup_minhash_lsh"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert sum(plan.count(j) for j in ("HashJoin", "SortMergeJoin", "NestedLoopJoin")) == 1
    assert "HashAggregate" not in plan
    assert "Scan ExistingRDD" not in plan
    rows, jobs = _jobs_launched(spark, df.collect)
    drain_pending_unpersist()
    assert len(rows) > 0
    assert jobs <= 5


def test_multi_store_retrieve_broadcasts_keys(spark, sf_dir, qs):
    """S3 scatter-gather: one broadcast request LEFT JOIN per store, no
    hash Exchange (feature tables never shuffle)."""
    from bharatmlstack_spark.plans import explain_formatted

    plan = explain_formatted(qs["feature_multi_store"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin LeftOuter BuildRight") == 2
    assert "Exchange hashpartitioning" not in plan


def test_metadata_dim_join_filters_before_join(spark, sf_dir, qs):
    """S10: the user filter must reach the parquet scan (partition-style
    pruning), not sit above the join."""
    df = qs["metadata_dim_join"](spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "user_id" in pf


def test_events_loader_preserves_filter_pushdown(spark, sf_dir):
    """The dual-encoding loader adds a projection over the scan; filters
    written ABOVE load_events_ms must still reach the parquet scan as
    DataFilters (the round-3 regression made people tempted to read the
    file directly — this pins why they don't need to)."""
    from bharatmlstack_spark.sources.events import load_events_ms

    df = (
        load_events_ms(spark, sf_dir)
        .filter(F.col("user_id") == 7)
        .select("event_id", "ts_ms")
    )
    pf = " ".join(pushed_filters(df))
    assert "user_id" in pf


def test_ann_ivf_exact_side_cached_once(spark, sf_dir, qs):
    """The invariant-form ann_ivf_dot references the brute-force exact
    top-10 three times; the plan must read it from cache (InMemoryTableScan)
    rather than recomputing the cross join per reference."""
    df = qs["ann_ivf_dot"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2


def test_ivf_search_assigns_cells_once(spark):
    """IvfIndex.search joins on a non-null cell key, so the candidate side
    runs the cell-assignment UDF once. On the nullable UDF output the
    join's inferred isnotnull(cell) filter is pushed below the projection
    and plans a second ArrowEvalPython over the same UDF. index() itself
    keeps `cell` a nullable int: the streaming sinks persist its schema."""
    import numpy as np
    from pyspark.sql.types import IntegerType

    from bharatmlstack_spark.operators.lsh import IvfIndex

    x = np.random.default_rng(0).standard_normal((200, 8))
    cands = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(0, [float(v) for v in x[3]])], "query_id long, query_embedding array<float>"
    )
    idx = IvfIndex(n_cells=4).fit(cands, sample_size=100, iters=2)
    indexed = idx.index(cands)
    cell = indexed.schema["cell"]
    assert cell.dataType == IntegerType() and cell.nullable
    plan = idx.search(indexed, q, k=3, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython [assign(") == 1, plan  # candidate side
    assert plan.count("ArrowEvalPython [probe_cells(") == 1, plan  # query side


def test_round5_rows_hold_their_shuffle_budgets(spark, sf_dir, qs):
    # the declared shuffle budget of each round-5 row: a refactor that
    # adds an exchange (or a cartesian product) fails here even if the
    # result stays correct
    from bharatmlstack_spark.plans import explain_formatted

    budgets = {
        "pii_redact": 0,            # pure scan
        "corpus_filter_chain": 0,   # pure scan
        "shard_manifest": 1,        # read-back manifest agg
        "scd2_dimension": 1,        # both windows share one user_id exchange
        "bpe_merge_step": 1,        # pair partial-agg (top-k is a heap)
        "cohort_retention": 2,      # collect_set per user + final agg
        "zorder_cells": 2,          # bounds agg + cell agg
        "span_dedup_exact": 4,      # span index + dup join + doc agg
                                    # + conditional round-robin input
                                    # spread (O9: few-split local fixture
                                    # only; absent on well-split sources)
        "unigram_lm_quality": 3,    # vocab + score join + doc agg
        "value_zscore_outliers": 1, # moments agg broadcast back onto scan
        "user_week_density": 2,     # weekly agg + bounds (spine is map-side)
        "event_transition_matrix": 3,  # user window + pair agg + row-norm
        "copurchase_pairs": 3,      # basket distinct + order join + pair agg
        "fuzzy_name_match": 1,      # variant equi-join (broadcast at this SF)
        "heavy_hitters_twopass": 3, # candidate distinct + exact recount + total agg
        "time_decay_user_value": 2, # 1-row ref agg + user partial-agg
        "target_encode_loo": 1,     # category moments agg (broadcast back)
        "woe_binning": 3,           # bin agg + totals agg + final
        "feature_hash_cross": 2,    # bucket partial-agg + distinct
        "cdc_apply": 2,             # change-batch window x2 consumers; snapshot never shuffles
        "compact_small_files": 1,   # read-back manifest agg (writes are actions)
    }
    from bharatmlstack_spark import queries as _qmod

    for name, budget in budgets.items():
        # retired rows (e.g. bpe_merge_step r15) keep their plan pins
        # through the staged-tier function on the queries module
        fn = qs.get(name) or getattr(_qmod, name)
        df = fn(spark, sf_dir)
        plan = explain_formatted(df)
        assert shuffle_count(df) <= budget, (name, shuffle_count(df))
        assert "Cartesian" not in plan, name


def test_span_dedup_spread_is_round_robin_only(spark, sf_dir, qs):
    """O9: span_dedup_exact's extra exchange over its 3-hash-shuffle core
    (span index + dup join + doc agg) must be the conditional round-robin
    input spread, never a fourth key-partitioned shuffle — a
    hashpartitioning regression stays caught even though the total budget
    above allows 4."""
    from bharatmlstack_spark.plans import explain_formatted

    df = qs["span_dedup_exact"](spark, sf_dir)
    plan = explain_formatted(df)
    assert plan.count("hashpartitioning") <= 3 + plan.count(
        "ReusedExchange"
    ), plan[:2000]
    # the fixture corpus arrives in fewer splits than test parallelism,
    # so the spread fires here
    assert "RoundRobinPartitioning" in plan


def test_bpe_merge_step_topk_is_heap(spark, sf_dir):
    # bpe_merge_step retired r15 (staged tier) — the heap pin stays on
    # the function itself
    from bharatmlstack_spark.plans import explain_formatted
    from bharatmlstack_spark.queries_text import bpe_merge_step

    plan = explain_formatted(bpe_merge_step(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_pagerank_convergence_lineage_bounded(spark):
    """Convergence-mode PageRank truncates lineage every check_every
    rounds: after 20 real rounds the returned plan is a checkpoint scan
    with ZERO joins (a fixed-k unrolled plan would carry one join+agg per
    round), and the checkpointing changes no values — the result equals
    the pure-Python integer reference run for the same round count."""
    from collections import defaultdict

    from bharatmlstack_spark.operators.graph import pagerank
    from bharatmlstack_spark.plans import explain_formatted

    path = [(i, i + 1) for i in range(7)]
    sym = path + [(b, a) for a, b in path]
    edges = spark.createDataFrame(sym, "src long, dst long")

    rank = pagerank(edges, until_delta=10_000, check_every=5, max_iter=60)
    rounds = rank._pagerank_rounds
    assert rounds == 20  # 4 blocks on this fixture; a multiple of check_every

    plan = explain_formatted(rank)
    assert "Join" not in plan and "Exchange" not in plan, plan

    # python reference replay for exactly `rounds` rounds
    deg = defaultdict(int)
    for s, _ in sym:
        deg[s] += 1
    want = {n: 1_000_000 for n in deg}
    for _ in range(rounds):
        new = defaultdict(lambda: 150_000)
        for s, d in sym:
            new[d] += (want[s] * 85) // (100 * deg[s])
        want = dict(new)
    got = {r.node: r.r for r in rank.collect()}
    assert got == want


def test_pagerank_empty_graph_converges_trivially(spark):
    from bharatmlstack_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src long, dst long")
    rank = pagerank(edges, until_delta=1, check_every=2, max_iter=10)
    assert rank.count() == 0
    assert rank._pagerank_rounds == 2  # first checkpoint block, then done


def test_pagerank_directed_graph_conserves_node_universe(spark):
    """On a DIRECTED edge list, nodes with out-edges but no in-edges must
    survive every round at the teleport rank (not vanish after round 1),
    and their contributions must keep flowing downstream. Chain a->b->c:
    a has no in-edges."""
    from bharatmlstack_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r.node: r.r for r in pagerank(edges, iters=3).collect()}
    # python reference over the full node universe
    rank = {1: 1_000_000, 2: 1_000_000, 3: 1_000_000}
    deg = {1: 1, 2: 1}
    for _ in range(3):
        new = {n: 150_000 for n in rank}
        for s, d in [(1, 2), (2, 3)]:
            new[d] += (rank[s] * 85) // (100 * deg[s])
        rank = new
    assert got == rank
    assert got[1] == 150_000  # source-only node: pure teleport, present


def test_pagerank_round1_seed_fold_and_symmetric_fastpath(spark):
    """r17: round 1 folds the constant seed rank into the contribution
    expression instead of joining the seed frame — an iters=1 plan
    carries ZERO joins (the generic form had one e⋈rank join per round).
    And symmetric=True (caller-asserted pairs ∪ reversed(pairs) input)
    must return bit-identical ranks to the generic path while skipping
    the endpoint aggregate."""
    from bharatmlstack_spark.operators.graph import pagerank
    from bharatmlstack_spark.plans import explain_formatted

    path = [(i, i + 1) for i in range(5)]
    sym = path + [(b, a) for a, b in path]
    edges = spark.createDataFrame(sym, "src long, dst long")

    # round-1 fold: one round needs no join at all
    plan1 = explain_formatted(pagerank(edges, iters=1))
    assert "Join" not in plan1, plan1

    # symmetric fast path: values identical to the generic path
    generic = {r.node: r.r for r in pagerank(edges, iters=3).collect()}
    fast = {
        r.node: r.r
        for r in pagerank(edges, iters=3, symmetric=True).collect()
    }
    assert fast == generic
    # and iters=0 still returns the full uniform seed universe
    seed = {
        r.node: r.r
        for r in pagerank(edges, iters=0, symmetric=True).collect()
    }
    assert seed == {n: 1_000_000 for n in range(6)}


def test_bpe_until_vocab_lineage_bounded(spark, sf_dir):
    """Convergence-mode BPE (merge until |vocab| >= V) truncates lineage
    every checkpoint_every merges: after 35 real merges the word table's
    plan is a checkpoint scan (no stacked replaces, no Join/Exchange),
    the merge count is a multiple of checkpoint_every, and the argmax/
    tiebreak path is IDENTICAL to the fixed-k oracle anchor — its first
    three winners are the k=3 row's winners."""
    from bharatmlstack_spark.queries_text import (
        _bpe_learn_words,
        bpe_learn_until_vocab,
    )

    words, merges, vocab_n = bpe_learn_until_vocab(
        spark, sf_dir, target_vocab=40, checkpoint_every=5, max_merges=60
    )
    assert vocab_n >= 40 and len(merges) % 5 == 0 and len(merges) >= 20

    plan = words._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan

    _w3, m3 = _bpe_learn_words(spark, sf_dir)
    anchor = [(r["step"], r["token"], r["cnt"]) for m in m3 for r in m.collect()]
    assert [m for m in merges[:3]] == anchor


def test_compaction_detection_prunes_payload_columns(spark, tmp_path):
    """The streamed-state compactors' detection pass must read ONLY the
    dedup key + partition column — at 100 TB the index payload
    (embeddings, shingle sets) dominates the bytes, and a detection scan
    that reads it would make the steady-state no-op cost a full-state
    read instead of a thin column scan."""
    from bharatmlstack_spark.streaming.ingest import _detect_duplicate_partitions

    path = str(tmp_path / "cellstate")
    (
        spark.range(200)
        .selectExpr(
            "id AS vec_id",
            "array_repeat(CAST(id AS FLOAT), 64) AS embedding",
            "CAST(pmod(id, 8) AS INT) AS cell",
        )
        .write.partitionBy("cell")
        .parquet(path)
    )
    det = _detect_duplicate_partitions(
        spark.read.parquet(path), ["vec_id"], "cell"
    )
    schemas = read_schemas(det)
    assert schemas, "no scan found in the detection plan"
    for s in schemas:
        assert "embedding" not in s, s  # payload pruned at the scan
        assert "vec_id" in s
    # distinct-aggregate shape: partial agg on (partition, key) then the
    # final agg on the partition col — two exchanges, both carrying only
    # the thin key columns (never the payload)
    assert shuffle_count(det) <= 2


def test_cached_plan_layout_follows_aqe_advisory_sizing(spark):
    """G1 scale pin (r16): `canChangeCachedPlanOutputPartitioning=true` lets
    AQE re-coalesce the output partitioning of persisted plans, so a cached
    post-shuffle intermediate's layout is derived from bytes — NOT frozen at
    the static spark.sql.shuffle.partitions constant. A conf regression would
    silently bake the local constant into every persisted intermediate at any
    scale (guide §2: partition counts derive from input size)."""
    assert (
        spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        == "true"
    )
    static = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cached = (
        spark.range(10_000)
        .groupBy((F.col("id") % 500).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    try:
        cached.count()  # materialize: AQE fixes the cached layout here
        n_parts = cached.rdd.getNumPartitions()
        # a few-KB aggregate must coalesce to ~1 partition; the frozen-conf
        # failure mode is exactly n_parts == static (8 in tests, 32 in bench)
        assert n_parts < static, (n_parts, static)
    finally:
        cached.unpersist()
