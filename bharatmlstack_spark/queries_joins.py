"""Join / aggregation / set-op / pipeline query-oracle pairs.

Covers SURVEY.md §2.3 (J4/J5 generalized joins), §2.4 (A2/A4 aggregations),
§2.7 (row-level set ops O1), uint64 decimal widening (§1.2), plus the
pair/slate expansion and DAG pipeline shapes (U1-U3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bharatmlstack_spark.query_registry import (
    RETIRED_ORACLES,
    defer_unpersist,
    query,
    scratch_dir,
)
from bharatmlstack_spark.pipeline import (
    ExpressionComponent,
    FeatureComponent,
    Pipeline,
    ScoringComponent,
    expand_pairs,
    expand_slates,
)
from bharatmlstack_spark.functions.expressions import ExpressionEngine
from bharatmlstack_spark.sources.events import load_events_ms, load_events_raw
from bharatmlstack_spark.streaming.ingest import await_stream


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ===========================================================================
# Generalized joins (TPC-H shapes: the scale proof for J1/J2/J4)
# ===========================================================================


@query(
    "q3_shipping_priority",
    oracle="""
SELECT o_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       epoch_ms(o_orderdate) AS orderdate_ms
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way equi-join + agg + top-k: customer side broadcasts, lineitem
    (the big side at 100 TB) never shuffles before the filter."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    dec = lambda col: F.col(col).cast("decimal(18,2)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .withColumn("orderdate_ms", F.unix_millis(F.col("o_orderdate").cast("timestamp")))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "orderdate_ms")
    )


@query(
    "q5_region_revenue",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM region JOIN nation ON n_regionkey = r_regionkey
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: region/nation/customer broadcast up the chain so the
    only shuffle is the final small-key aggregate."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    dec = lambda col: F.col(col).cast("decimal(18,2)")
    dims = F.broadcast(
        c.join(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "n_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "entity_resolution_join",
    oracle="""
SELECT c_custkey AS user_id, p_brand AS category,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       COUNT(*) AS n_items
FROM customer JOIN orders ON o_custkey = c_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN part ON p_partkey = l_partkey
GROUP BY c_custkey, p_brand
""",
)
def entity_resolution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: composite-entity feature assembly — (user x category) keys built
    from matrix columns then resolved against feature tables
    (inferflow feature_component.go:216-258, matrix.go:162-179)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.col("c_custkey").alias("user_id"), F.col("p_brand").alias("category"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ===========================================================================
# Pair / slate expansion (J5) + DAG pipeline (U1-U3)
# ===========================================================================

_REQUESTS_SQL = """
requests AS (
  SELECT o_orderkey AS request_id,
         [o_orderkey*10+1, o_orderkey*10+2, o_orderkey*10+3, o_orderkey*10+4, o_orderkey*10+5] AS target_ids,
         [{'first': 0, 'second': 1}, {'first': 1, 'second': 2}, {'first': 2, 'second': 3}] AS pairs,
         [[0,1,2],[2,3,4]] AS slates
  FROM orders WHERE o_orderkey % 100 = 0
)
"""


def _requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    k = F.col("o_orderkey")
    return o.select(
        k.alias("request_id"),
        F.array(*[(k * 10 + i) for i in range(1, 6)]).alias("target_ids"),
        F.array(
            *[
                F.struct(F.lit(a).alias("first"), F.lit(b).alias("second"))
                for a, b in [(0, 1), (1, 2), (2, 3)]
            ]
        ).alias("pairs"),
        F.array(
            F.array(F.lit(0), F.lit(1), F.lit(2)), F.array(F.lit(2), F.lit(3), F.lit(4))
        ).alias("slates"),
    )


@query(
    "pair_expansion",
    oracle=f"""
WITH {_REQUESTS_SQL.strip()},
p AS (
  SELECT request_id, target_ids,
         unnest(pairs) AS pr,
         generate_subscripts(pairs, 1) - 1 AS pair_idx
  FROM requests
)
SELECT request_id, pair_idx,
       pr.first AS first_idx, pr.second AS second_idx,
       target_ids[pr.first + 1] AS first_target,
       target_ids[pr.second + 1] AS second_target
FROM p
""",
)
def pair_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 PairWise: posexplode pairs + positional join to targets
    (predict.proto:84-97, predator_component.go:175-191)."""
    return expand_pairs(_requests(spark, sf_dir))


@query(
    "slate_expansion",
    oracle=f"""
WITH {_REQUESTS_SQL.strip()},
s AS (
  SELECT request_id, target_ids,
         unnest(slates) AS slate,
         generate_subscripts(slates, 1) - 1 AS slate_idx
  FROM requests
)
SELECT request_id, slate_idx,
       array_to_string([target_ids[i + 1] FOR i IN slate], ',') AS slate_targets_csv
FROM s
""",
)
def slate_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 SlateWise: slates of target indices -> resolved target lists
    (predict.proto:116-133); CSV-encoded so the hash compare is
    engine-neutral."""
    out = expand_slates(_requests(spark, sf_dir))
    return out.select(
        "request_id",
        "slate_idx",
        F.concat_ws(",", F.col("slate_targets").cast("array<string>")).alias(
            "slate_targets_csv"
        ),
    )


@query(
    "pipeline_inference",
    oracle="""
WITH ctx AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 500 = 0
),
feat AS (
  SELECT ctx.o_orderkey, ctx.o_totalprice, c.c_acctbal, CAST(c.c_nationkey AS INT) AS c_nationkey
  FROM ctx LEFT JOIN customer c ON ctx.o_custkey = c.c_custkey
)
SELECT o_orderkey,
       o_totalprice * 0.5 + c_acctbal AS score,
       (o_totalprice * 0.5 + c_acctbal) * 0.001 + CAST(c_nationkey AS DOUBLE) * 1.0 AS model_score
FROM feat
""",
)
def pipeline_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1-U3 end-to-end: the inferflow DAG as composition — feature fetch
    (J4) -> numerix expression (U1) -> model-scoring stub (U3), one
    Catalyst plan (SURVEY.md §3.3)."""
    ctx = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 500 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", F.col("c_nationkey").cast("int").alias("c_nationkey")
    )
    eng = ExpressionEngine()
    eng.register("halfprice_plus_bal", "o_totalprice 0.5 * c_acctbal +", output_column="score")
    pipe = (
        Pipeline()
        .add(
            FeatureComponent(
                "fetch_user", cust, key_map={"c_custkey": "o_custkey"},
                feature_cols=["c_acctbal", "c_nationkey"],
            )
        )
        .add(ExpressionComponent("numerix", eng, "halfprice_plus_bal"), depends_on=["fetch_user"])
        .add(
            ScoringComponent(
                "model", input_cols=["score", "c_nationkey"], weights=[0.001, 1.0]
            ),
            depends_on=["numerix"],
        )
    )
    return pipe.run(ctx).select("o_orderkey", "score", "model_score")


# ===========================================================================
# Aggregations (A2/A4) and set ops (O1 row-level)
# ===========================================================================


@query(
    "last_write_wins",
    oracle="""
SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: last-write-wins merge per (entity, column-group) — the skye
    aggregator's only-latest-survives semantics
    (consumers/handler/aggregator/scylla_aggregator.go:47)."""
    ev = load_events_ms(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts_ms"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )


@query(
    "percentile_by_group",
    oracle="""
SELECT event_type,
       ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50,
       ROUND(CAST(quantile_cont(value, 0.95) AS DOUBLE), 6) AS p95,
       CAST(MIN(value) AS DOUBLE) AS vmin,
       CAST(MAX(value) AS DOUBLE) AS vmax
FROM events
GROUP BY event_type
""",
)
def percentile_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: min/max reductions + interpolating percentile — numerix
    compute_percentile (fp32_ops.rs:334-348) == percentile_cont."""
    ev = load_events_raw(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


@query(
    "rollup_lineitem",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup — free in Spark (SURVEY.md §2.4 note: the
    reference has no grouping sets; exposed as an engine extension)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


RETIRED_ORACLES["segment_except"] = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
"""


def segment_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3 row-level: set difference (the reference's ordered-set
    Difference on metadata — utils/set_operations.go — generalized to
    rows).

    RETIRED from the driver registry in r10 (per the pinned retirement
    order): O1 set ops stay driver-attested by segment_intersect; the
    freed slot registers stream_semantic_dedup_sink (the r09 staged
    streaming SemDeDup row). Still verified every pytest run against its
    DuckDB oracle."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.exceptAll(big).distinct()


@query(
    "segment_intersect",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
""",
)
def segment_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 row-level: set intersection."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.intersect(big)


@query(
    "uint64_decimal_sum",
    oracle="""
SELECT CAST(SUM(CAST(c_custkey AS DECIMAL(20,0)) * 123456789) AS VARCHAR) AS total,
       CAST(MAX(CAST(c_custkey AS DECIMAL(20,0)) * 123456789) AS VARCHAR) AS biggest
FROM customer
""",
)
def uint64_decimal_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2 uint64 widening: values beyond int64 live in DECIMAL(20,0);
    arithmetic stays exact (stringified — decimal wire formats differ)."""
    c = _t(spark, sf_dir, "customer")
    v = F.col("c_custkey").cast("decimal(20,0)") * 123456789
    return c.agg(
        F.sum(v).cast("decimal(38,0)").cast("string").alias("total"),
        F.max(v).cast("decimal(38,0)").cast("string").alias("biggest"),
    )


# ===========================================================================
# ANN scale path (LSH / IVF / PQ) — verified against the exact KNN oracle:
# LSH and PQ return the exact top-k on this data (recall 1.0, re-score is
# exact), so their oracle IS the brute-force SQL; IVF (recall < 1 by
# design at nprobe=8/16) emits the exact top-k + an overall recall flag.
# ===========================================================================


def _dot64_sql(a: str, b: str) -> str:
    """Left-associative 64-term dot fold — bit-identical to
    functions.vector.dot (which casts each element to DOUBLE, so every
    float32*float32 product is exact in float64)."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, 65)
    )


_KNN_EXACT_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5)
SELECT query_id, vec_id, score, rank FROM (
  SELECT q.query_id, c.vec_id,
         {_dot64_sql('c.embedding', 'q.qe')} AS score,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY {_dot64_sql('c.embedding', 'q.qe')} DESC, c.vec_id ASC) AS rank
  FROM c CROSS JOIN q
) WHERE rank <= 10
"""


def _exact_knn_with_flag(emb, ann, flag_name: str, bound: float) -> DataFrame:
    """Shared verification harness for the ANN rows: emit the exact
    brute-force top-10 per query (what DuckDB recomputes) plus a boolean
    asserting the ANN candidate set covered >= ``bound`` of it overall.
    The exact side is persisted — it feeds the deliverable and the flag.

    The flag is ONE aggregation over a left join (numerator = count of
    hit markers, denominator = count(*) of the same pass) instead of the
    former two aggregate branches crossJoined together — one scan of the
    persisted exact side and one aggregation job instead of two of each.
    Sound because every ANN candidate frame is unique on the join key by
    construction (row_number top-k / dropDuplicates upstream), so the
    left join never duplicates an exact row."""
    from bharatmlstack_spark.functions.vector import dot

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    scored = cands.crossJoin(F.broadcast(q)).withColumn(
        "score", dot("embedding", "qe")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    exact10 = defer_unpersist(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "score", "rank")
        .persist()
    )
    flag = (
        exact10.join(
            ann.withColumn("__hit", F.lit(1)), ["query_id", "vec_id"], "left"
        )
        .agg(
            (F.count("__hit") / F.count(F.lit(1)) >= bound).alias(flag_name)
        )
    )
    return exact10.crossJoin(F.broadcast(flag))


@query(
    "ann_lsh_dot",
    oracle=f"""
{_KNN_EXACT_SQL.strip().replace("SELECT query_id, vec_id, score, rank FROM (",
                                "SELECT query_id, vec_id, score, rank, TRUE AS recall_ok FROM (")}
""",
)
def ann_lsh_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-linear ANN: random-hyperplane LSH bands -> bucket equi-join ->
    exact re-score, top-10 per query.

    Invariant-check form: the deliverable rows are the EXACT top-10 per
    query — DuckDB recomputes them — and ``recall_ok`` asserts the
    16-plane/8-band probe recovered >= 90% of them (measured 1.0 at
    sf0.01, 0.98 at sf0.001; an equality oracle would be fragile to
    testdata regeneration, which round 3 proved happens). pytest
    separately pins recall >= 0.5 under sparser fixtures
    (tests/test_lsh_multimodal.py)."""
    from bharatmlstack_spark.operators.lsh import LshIndex

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    idx = LshIndex(dim=64, n_planes=16, n_bands=8)
    ann = idx.search(idx.index(cands), queries_df, k=10, metric="DOT").select(
        "query_id", "vec_id"
    )
    return _exact_knn_with_flag(emb, ann, "recall_ok", 0.9)


@query(
    "ann_ivf_dot",
    oracle=f"""
{_KNN_EXACT_SQL.strip().replace("SELECT query_id, vec_id, score, rank FROM (",
                                "SELECT query_id, vec_id, score, rank, TRUE AS recall_ok FROM (")}
""",
)
def ann_ivf_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN: nprobe-cell probe -> exact re-score.

    Invariant-check form (IVF recall < 1.0 by design): the deliverable
    rows are the EXACT top-10 per query — DuckDB recomputes them — and
    ``recall_ok`` asserts the IVF probe (nprobe=8 of 16 cells) recovered
    >= 70% of them overall (measured 0.82-0.84 on sf0.001-sf0.01). The
    exact side exists only for verification; the IVF path is the product.
    """
    from bharatmlstack_spark.operators.lsh import IvfIndex

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    idx = IvfIndex(n_cells=16).fit(cands, sample_size=512, iters=3)
    ann = idx.search(
        idx.index(cands), queries_df, k=10, nprobe=8, metric="DOT"
    ).select("query_id", "vec_id")
    return _exact_knn_with_flag(emb, ann, "recall_ok", 0.7)


@query(
    "stream_ann_ivf_dot",
    oracle=f"""
{_KNN_EXACT_SQL.strip().replace("SELECT query_id, vec_id, score, rank FROM (",
                                "SELECT query_id, vec_id, score, rank, TRUE AS recall_ok FROM (")}
""",
)
def stream_ann_ivf_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a STREAM-BUILT IVF index — the embedding sibling of
    stream_dedup_minhash (reference analog: skye's realtime indexer
    consumers feeding its ANN service). The coarse quantizer is fit once
    at bootstrap, then the candidate vectors arrive as a 3-batch topic
    that REPLAYS in full under a fresh checkpoint (at-least-once
    redelivery); each batch is cell-assigned against the frozen
    centroids and appended to a cell-partitioned index. Because
    assignment is deterministic, the deduped streamed index equals the
    one-shot batch index, so the nprobe=8 search returns exactly
    ann_ivf_dot's candidates and the SAME exact-top-10 + recall>=0.7
    oracle applies. See streaming/ingest.stream_ann_ivf_sink."""
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        read_streamed_ivf_index,
        stream_ann_ivf_sink,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    idx = IvfIndex(n_cells=16).fit(cands, sample_size=512, iters=3)

    work = scratch_dir("bmls_ivfstream_")
    topic, index_path = f"{work}/topic", f"{work}/index"
    cands.select("vec_id", "embedding").repartition(3).write.parquet(topic)
    schema = "vec_id bigint, embedding array<float>"
    for replay in ("ckpt1", "ckpt2"):  # second pass = full redelivery
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_ann_ivf_sink(
            stream, idx, index_path, f"{work}/{replay}", spark,
            trigger_once=True,
        )
        await_stream(q, 300)

    indexed = read_streamed_ivf_index(spark, index_path, id_col="vec_id")
    ann = idx.search(
        indexed, queries_df, k=10, nprobe=8, metric="DOT"
    ).select("query_id", "vec_id")
    return _exact_knn_with_flag(emb, ann, "recall_ok", 0.7)


@query(
    "pq_ann_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5)
SELECT vec_id, score, rank, TRUE AS recall_ok FROM (
  SELECT c.vec_id,
         {_dot64_sql('c.embedding', 'q.qe')} AS score,
         ROW_NUMBER() OVER (ORDER BY {_dot64_sql('c.embedding', 'q.qe')} DESC,
                            c.vec_id ASC) AS rank
  FROM c CROSS JOIN q
) WHERE rank <= 10
""",
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN: 16x uint8 codes per 64-dim vector (16x
    storage compression), ADC shortlist-50 prune + exact re-rank top-10.
    Deterministic fit (farthest-point init, fixed iters).

    Invariant-check form: the deliverable rows are the EXACT top-10 for
    the query vector (double-fold scores DuckDB recomputes bit-wise) and
    ``recall_ok`` asserts the ADC shortlist covered >= 80% of them
    (exact-equal on current data; the flag form survives testdata
    regeneration). pytest separately pins recall under adversarial fits
    (tests/test_pq.py)."""
    from bharatmlstack_spark.functions.vector import dot
    from bharatmlstack_spark.operators.pq import PqIndex
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    cands = emb.filter(F.col("vec_id") >= 5)
    idx = PqIndex(m=16, k=64).fit(cands, sample_size=1024)
    ann = idx.search(
        idx.encode(cands), np.array(qrow[0]), k=10, rerank=cands, shortlist=50
    ).select("vec_id")

    qcol = F.lit([float(v) for v in qrow[0]])  # one array literal py4j call
    scored = cands.withColumn("score", dot(F.col("embedding"), qcol))
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    exact10 = defer_unpersist(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("vec_id", "score", "rank")
        .persist()
    )
    # one-pass recall flag (see _exact_knn_with_flag): left join marks the
    # hits, a single aggregation computes hit / total — ann is unique on
    # vec_id (top-k re-rank), so no exact row duplicates
    flag = exact10.join(
        ann.withColumn("__hit", F.lit(1)), ["vec_id"], "left"
    ).agg((F.count("__hit") / F.count(F.lit(1)) >= 0.8).alias("recall_ok"))
    return exact10.crossJoin(F.broadcast(flag))


@query(
    "multimodal_features",
    oracle="""
WITH m AS (
  SELECT i AS media_id,
         CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         64 + (i % 5) * 32 AS n_bytes
  FROM (SELECT UNNEST(generate_series(0, 63)) AS i)
),
h AS (
  SELECT media_id, modality, n_bytes,
         [len(list_filter(generate_series(0, n_bytes - 1),
                          j -> ((media_id * 7 + j) % 256) % 8 = b))
          FOR b IN generate_series(0, 7)] AS hist
  FROM m
)
SELECT media_id, modality, n_bytes,
       ROUND(CAST(CAST(
         CAST(hist[1] AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(hist, x -> x * x)) AS DOUBLE))
         AS REAL) AS DOUBLE), 6) AS f0
FROM h
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthetic binary media -> mapInPandas feature
    extraction (decode stubbed; batch shapes + schema real). The synthetic
    payload bytes are a closed-form function of media_id, so the oracle
    REBUILDS them in SQL and recomputes the byte-histogram feature: list
    counts are exact integers, the L2 norm is a sqrt of an exact integer,
    and the float32 cast replicates numpy's astype — bit parity end to
    end through the Arrow batch path."""
    from bharatmlstack_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, n=64)
    out = extract_features(media, dim=8)
    return out.select(
        "media_id", "modality", "n_bytes",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
    )


def _byte_at(col: str, pos) -> "F.Column":
    """First/last-byte probe of a BINARY column as INT (hex round-trip —
    Spark has no direct byte indexing expression)."""
    return F.conv(F.hex(F.expr(f"substring({col}, {pos}, 1)")), 16, 10).cast("int")


@query(
    "multimodal_frames",
    oracle="""
WITH m AS (
  SELECT i AS media_id, 64 + (i % 5) * 32 AS n_bytes
  FROM (SELECT UNNEST(generate_series(0, 63)) AS i)
  WHERE i % 3 = 2
),
f AS (
  SELECT media_id, n_bytes,
         UNNEST(generate_series(0, least(4, greatest(1, n_bytes // 64)) - 1)) AS frame_idx
  FROM m
)
SELECT media_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(least(64, n_bytes - 64 * frame_idx) AS INT) AS frame_len,
       CAST((media_id * 7 + 64 * frame_idx) % 256 AS INT) AS first_byte,
       CAST((media_id * 7 + least(64 * frame_idx + 63, n_bytes - 1)) % 256 AS INT) AS last_byte
FROM f
""",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (video rows only, fixed 64-byte strides,
    max 4 frames) with a HARD oracle: the synthetic payload is closed-form
    in media_id, so DuckDB recomputes each frame's length and boundary
    bytes arithmetically while Spark slices real BINARY through the
    mapInPandas batch path. A real keyframe decoder drops into the same
    slot (operators/multimodal.py sample_frames)."""
    from bharatmlstack_spark.operators.multimodal import sample_frames, synthetic_media

    media = synthetic_media(spark, n=64)
    frames = sample_frames(media, every_n_bytes=64, max_frames=4)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame_bytes").cast("int").alias("frame_len"),
        _byte_at("frame_bytes", 1).alias("first_byte"),
        _byte_at("frame_bytes", -1).alias("last_byte"),
    )


@query(
    "multimodal_resize",
    oracle="""
WITH m AS (
  SELECT i AS media_id, 64 + (i % 5) * 32 AS src_bytes
  FROM (SELECT UNNEST(generate_series(0, 63)) AS i)
  WHERE i % 3 = 0
)
SELECT media_id,
       1024 AS n_bytes,
       32 AS width, 32 AS height,
       CAST((media_id * 7) % 256 AS INT) AS first_byte,
       CAST((media_id * 7 + (1023 % src_bytes)) % 256 AS INT) AS last_byte
FROM m
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (image rows tiled/truncated to the 32x32 byte
    budget, meta rewritten to the target dims) with a HARD oracle: the
    deterministic fake resample is byte p -> src[p mod len], so DuckDB
    recomputes the boundary bytes arithmetically. A real decode+resample
    drops into the same mapInPandas slot (operators/multimodal.py
    resize_images)."""
    from bharatmlstack_spark.operators.multimodal import resize_images, synthetic_media

    media = synthetic_media(spark, n=64)
    out = resize_images(media, width=32, height=32).join(
        media.select("media_id", "modality"), on="media_id"
    ).filter(F.col("modality") == "image")
    return out.select(
        "media_id",
        F.length("content").cast("int").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        _byte_at("content", 1).alias("first_byte"),
        _byte_at("content", -1).alias("last_byte"),
    )


RETIRED_ORACLES["multimodal_decode_stats"] = """
WITH img AS (
  SELECT i AS media_id,
         (8 + (i % 5) * 4) * (6 + (i % 3) * 6) AS n_values
  FROM (SELECT UNNEST(generate_series(0, 47)) AS i) WHERE i % 2 = 0
),
imgv AS (
  SELECT media_id, n_values,
         UNNEST(generate_series(0, n_values - 1)) AS k
  FROM img
),
imgs AS (
  SELECT media_id, 'image' AS modality,
         CAST(n_values AS BIGINT) AS n_values,
         CAST(SUM((media_id * 31 + k) % 256) AS BIGINT) AS v_sum,
         CAST(MIN((media_id * 31 + k) % 256) AS BIGINT) AS v_min,
         CAST(MAX((media_id * 31 + k) % 256) AS BIGINT) AS v_max
  FROM imgv GROUP BY media_id, n_values
),
aud AS (
  SELECT i AS media_id, 120 + (i % 7) * 40 AS n_values
  FROM (SELECT UNNEST(generate_series(0, 47)) AS i) WHERE i % 2 = 1
),
audv AS (
  SELECT media_id, n_values,
         UNNEST(generate_series(0, n_values - 1)) AS k
  FROM aud
),
auds AS (
  SELECT media_id, 'audio' AS modality,
         CAST(n_values AS BIGINT) AS n_values,
         CAST(SUM((media_id * 7919 + k * 104729) % 65536 - 32768) AS BIGINT) AS v_sum,
         CAST(MIN((media_id * 7919 + k * 104729) % 65536 - 32768) AS BIGINT) AS v_min,
         CAST(MAX((media_id * 7919 + k * 104729) % 65536 - 32768) AS BIGINT) AS v_max
  FROM audv GROUP BY media_id, n_values
)
SELECT * FROM imgs UNION ALL SELECT * FROM auds
"""


def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path, no stand-ins: binary P5 images and RIFF/WAVE PCM16
    audio are decoded by the pure-numpy codecs (strict_decode=True) inside
    one mapInPandas slot, and per-media stats are computed over the DECODED
    pixels/samples. The fixture payloads are closed-form in media_id
    (operators/multimodal.py synthetic_real_media), so DuckDB recomputes
    every decoded value arithmetically — a hash mismatch means the decoder
    read wrong bytes. Reference anchor: per-record payload decode at ingest
    (skye/internal/consumers/handler/indexer/).

    RETIRED from the driver registry in r15 (third of the pinned
    second-generation retirement order): multimodal decode stays
    driver-attested by multimodal_decode_image / _png / _audio_feature
    + multimodal_features / _frames / _resize (same codecs, same
    mapInPandas plumbing); the freed slot registers
    multimodal_spectrogram — audio spectrograms through the same WAV
    codec, exactly as the r14 verdict's task 4 prescribed. Still
    verified every pytest run against its DuckDB oracle
    (tests/test_staged_retired.py)."""
    from bharatmlstack_spark.operators.multimodal import (
        decode_stats,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, n=48)
    return decode_stats(media, strict_decode=True)


def _decoded_hist_cols(*bins: int) -> list:
    """ROUND(CAST(float32_value AS DOUBLE), 6) projections of histogram
    feature slots — the float32-parity form shared with the oracle."""
    return [
        F.round(F.element_at("feature", b + 1).cast("double"), 6).alias(f"f{b}")
        for b in bins
    ]


@query(
    "multimodal_decode_image",
    oracle="""
WITH m AS (
  SELECT i AS media_id, 8 + (i % 5) * 4 AS w, 6 + (i % 3) * 6 AS h
  FROM (SELECT UNNEST(generate_series(0, 47)) AS i) WHERE i % 2 = 0
),
px AS (
  SELECT media_id,
         flatten(list_transform(generate_series(0, 15), y ->
           list_transform(generate_series(0, 15), x ->
             (media_id * 31 + ((y * h) // 16) * w + ((x * w) // 16)) % 256
           ))) AS pixels
  FROM m
),
h AS (
  SELECT media_id,
         [len(list_filter(pixels, p -> p % 8 = b))
          FOR b IN generate_series(0, 7)] AS hist
  FROM px
)
SELECT media_id, 'image' AS modality, 269 AS n_bytes,
       ROUND(CAST(CAST(
         CAST(hist[1] AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(hist, x -> x * x)) AS DOUBLE))
         AS REAL) AS DOUBLE), 6) AS f0,
       ROUND(CAST(CAST(
         CAST(hist[2] AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(hist, x -> x * x)) AS DOUBLE))
         AS REAL) AS DOUBLE), 6) AS f1
FROM h
""",
)
def multimodal_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decode -> resize -> re-encode -> decode -> feature chain on real
    pixels: P5 images are decoded (netpbm codec), nearest-neighbor resampled
    to 16x16 (floor-index law: out[y,x] = in[y*h//16, x*w//16]), re-encoded
    as P5 (269 bytes = 13-byte header + 256 pixels), then decoded AGAIN by
    strict feature extraction into an L2-normalized mod-8 pixel histogram.
    Every stage runs on actual image bytes; the oracle rebuilds the resized
    pixel grid arithmetically and replicates the float32 cast, so the row is
    bit-parity end to end through two decode passes."""
    from bharatmlstack_spark.operators.multimodal import (
        extract_features,
        resize_images,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, n=48)
    imgs = media.filter(F.col("modality") == "image")
    resized = resize_images(imgs, width=16, height=16, strict_decode=True)
    resized_media = resized.join(
        F.broadcast(imgs.select("media_id", "modality")), "media_id"
    )
    out = extract_features(resized_media, dim=8, strict_decode=True)
    return out.select("media_id", "modality", "n_bytes", *_decoded_hist_cols(0, 1))


@query(
    "multimodal_decode_png",
    oracle="""
WITH g AS (
  SELECT i AS media_id, (5 + (i % 6)) * (4 + (i % 5)) AS n_values,
         CAST(37 AS BIGINT) AS m
  FROM (SELECT UNNEST(generate_series(0, 23)) AS i) WHERE i % 2 = 0
),
r AS (
  SELECT i AS media_id, (4 + (i % 5)) * (3 + (i % 4)) * 3 AS n_values,
         CAST(53 AS BIGINT) AS m
  FROM (SELECT UNNEST(generate_series(0, 23)) AS i) WHERE i % 2 = 1
),
allm AS (SELECT * FROM g UNION ALL SELECT * FROM r),
v AS (
  SELECT media_id, n_values, m,
         UNNEST(generate_series(0, n_values - 1)) AS k
  FROM allm
)
SELECT media_id, 'image' AS modality, CAST(n_values AS BIGINT) AS n_values,
       CAST(SUM((media_id * m + k) % 256) AS BIGINT) AS v_sum,
       CAST(MIN((media_id * m + k) % 256) AS BIGINT) AS v_min,
       CAST(MAX((media_id * m + k) % 256) AS BIGINT) AS v_max
FROM v GROUP BY media_id, n_values
""",
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode path: 8-bit gray/RGB PNGs (stdlib zlib inflate +
    numpy reconstruction of all five scanline filters — the fixture is
    encoded with the filter CYCLE so None/Sub/Up/Average/Paeth each
    appear) decoded inside the strict mapInPandas slot, stats over the
    DECODED pixels. Pixels are closed-form in (media_id, flat index)
    (operators/multimodal.py synthetic_png_media), so DuckDB recomputes
    every decoded value arithmetically — a hash mismatch means a filter
    reconstructed wrong bytes. JPEG/video remain the documented
    NotImplementedError boundary (need PIL/ffmpeg)."""
    from bharatmlstack_spark.operators.multimodal import (
        decode_stats,
        synthetic_png_media,
    )

    media = synthetic_png_media(spark, n=24)
    return decode_stats(media, strict_decode=True)


def _quantized_oracle() -> str:
    """DuckDB twin of the fp16 / fp8-E5M2 round-trips.

    Both formats are tiny value grids, so the oracle materializes the
    non-negative codebooks (fp16: 31744 finite codes; E5M2: 124) with exact
    integer arithmetic and rounds by nearest-even ASOF lookup — the same
    semantics as ``quantize.fp16_roundtrip_np`` / ``fp8e5m2_roundtrip_np``
    (which mirror pkg/float8/float8_e5m2.go: E5M2 = round-to-nearest-even
    at bit 8 of the fp16 pattern, i.e. double rounding fp32->fp16->E5M2).
    Tie-to-even == codebook-index parity; 65536.0 is the virtual next-binade
    value whose selection means overflow-to-infinity.
    """
    from bharatmlstack_spark.fixtures import (
        LIVE_FEATURES_CTE,
        REQUEST_KEYS_CTE,
        USER_FEATURES_CTE,
    )

    return f"""
WITH {USER_FEATURES_CTE},
{LIVE_FEATURES_CTE},
{REQUEST_KEYS_CTE},
halfs AS (
  SELECT i AS code,
         CASE WHEN i < 1024 THEN (i / 1024.0) * POWER(2.0, -14)
              ELSE (1.0 + (i % 1024) / 1024.0) * POWER(2.0, (i // 1024) - 15) END AS v
  FROM generate_series(0, 31743) AS t(i)
),
e5m2 AS (
  SELECT i AS code,
         CASE WHEN i < 4 THEN (i / 4.0) * POWER(2.0, -14)
              ELSE (1.0 + (i % 4) / 4.0) * POWER(2.0, (i // 4) - 15) END AS v
  FROM generate_series(0, 123) AS t(i)
),
qin AS (
  SELECT k.user_id,
         CAST(COALESCE(f.demo_fp__acct_bal, CAST(0.0 AS FLOAT)) AS DOUBLE) AS bal,
         CAST(COALESCE(f.demo_vec__taste_vec[1], CAST(0.0 AS FLOAT)) AS DOUBLE) AS t0
  FROM request_keys k LEFT JOIN live f USING (user_id)
),
q2 AS (
  SELECT user_id, t0,
         ABS(bal) AS abal, CASE WHEN signbit(bal) THEN -1.0 ELSE 1.0 END AS sbal,
         ABS(t0) AS at0, CASE WHEN signbit(t0) THEN -1.0 ELSE 1.0 END AS st0
  FROM qin
),
r1 AS (  -- fp16(bal): nearest-even over the half grid
  SELECT q.user_id, q.at0, q.st0,
         q.sbal * CASE WHEN (q.abal - lo.v) < (COALESCE(hi.v, 65536.0) - q.abal)
                         OR ((q.abal - lo.v) = (COALESCE(hi.v, 65536.0) - q.abal)
                             AND lo.code % 2 = 0)
                       THEN lo.v ELSE COALESCE(hi.v, 65536.0) END AS bal16
  FROM q2 q
  ASOF JOIN halfs lo ON q.abal >= lo.v
  LEFT JOIN halfs hi ON hi.code = lo.code + 1
),
r2 AS (  -- fp16(t0): first rounding step of the E5M2 double-round
  SELECT r.user_id, r.st0, r.bal16,
         CASE WHEN (r.at0 - lo.v) < (COALESCE(hi.v, 65536.0) - r.at0)
                OR ((r.at0 - lo.v) = (COALESCE(hi.v, 65536.0) - r.at0)
                    AND lo.code % 2 = 0)
              THEN lo.v ELSE COALESCE(hi.v, 65536.0) END AS t0h
  FROM r1 r
  ASOF JOIN halfs lo ON r.at0 >= lo.v
  LEFT JOIN halfs hi ON hi.code = lo.code + 1
),
r3 AS (  -- E5M2(fp16(t0)): second rounding step
  SELECT r.user_id, r.st0, r.bal16,
         CASE WHEN r.t0h >= 65536.0 THEN r.t0h  -- fp16 overflow -> stays inf
              WHEN (r.t0h - lo.v) < (COALESCE(hi.v, 65536.0) - r.t0h)
                OR ((r.t0h - lo.v) = (COALESCE(hi.v, 65536.0) - r.t0h)
                    AND lo.code % 2 = 0)
              THEN lo.v ELSE COALESCE(hi.v, 65536.0) END AS t0e
  FROM r2 r
  ASOF JOIN e5m2 lo ON least(r.t0h, 65535.0) >= lo.v
  LEFT JOIN e5m2 hi ON hi.code = lo.code + 1
)
SELECT user_id,
       CAST(CASE WHEN ABS(bal16) >= 65536.0
                 THEN CASE WHEN bal16 < 0 THEN CAST('-infinity' AS DOUBLE)
                           ELSE CAST('infinity' AS DOUBLE) END
                 ELSE bal16 END AS FLOAT) AS bal_fp16,
       CAST(st0 * CASE WHEN t0e >= 65536.0 THEN CAST('infinity' AS DOUBLE)
                       ELSE t0e END AS FLOAT) AS taste0_fp8
FROM r3
"""


@query("feature_retrieve_quantized", oracle=_quantized_oracle())
def feature_retrieve_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/F9 end-to-end THROUGH narrow storage: the fixture persists into a
    real FP16/FP8E5M2 table (SMALLINT/TINYINT bit patterns on disk), then
    retrieve decodes on read — the values that survive are exactly the
    narrow round-trips, pinned bit-exact against pkg/float8 vectors in
    tests/test_quantize.py AND against the DuckDB codebook oracle."""

    from bharatmlstack_spark import fixtures
    from bharatmlstack_spark.operators.feature_store import FeatureStore

    fs = FeatureStore(
        spark,
        fixtures.user_narrow_registry(),
        base_path=scratch_dir("bmls_narrow_"),
        n_buckets=8,
    )
    feats = fixtures.user_features(spark, sf_dir).select(
        "user_id",
        "demo_fp__acct_bal",
        "demo_vec__taste_vec",
        "schema_version",
        "expires_at",
    )
    fs.persist("user", feats)
    keys = fixtures.request_keys(spark, sf_dir)
    out = fs.retrieve(
        "user",
        {"demo_fp": ["acct_bal"], "demo_vec": ["taste_vec"]},
        keys,
        now=F.lit(fixtures.FIXED_NOW).cast("timestamp"),
    )
    return out.select(
        "user_id",
        F.col("demo_fp__acct_bal").alias("bal_fp16"),
        F.element_at("demo_vec__taste_vec", 1).alias("taste0_fp8"),
    )


def _string_vector_oracle() -> str:
    from bharatmlstack_spark.fixtures import (
        FIXED_NOW,
        REQUEST_KEYS_CTE,
        USER_TAG_FEATURES_CTE,
    )

    return f"""
WITH {USER_TAG_FEATURES_CTE},
live_tags AS (SELECT * FROM user_tag_features WHERE expires_at > TIMESTAMP '{FIXED_NOW}'),
{REQUEST_KEYS_CTE}
SELECT k.user_id,
       COALESCE(f.demo_tags__tags[1], 'none') AS tag_0,
       COALESCE(f.demo_tags__tags[3], 'none') AS tag_2,
       array_to_string(COALESCE(f.demo_tags__tags, ['none','none','none']), ':') AS tags_str
FROM request_keys k LEFT JOIN live_tags f USING (user_id)
"""


@query("feature_retrieve_string_vector", oracle=_string_vector_oracle())
def feature_retrieve_string_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING_VECTOR end-to-end THROUGH real array<string> storage — the
    reference's DataTypeStringVector (data_type.go:39), Pascal-encoded
    string vectors in PSDB v2 blocks (perm_storage_datablock_v2.go:576-626;
    TestSerializeStringVectorV2 is the semantics anchor: fixed vector
    length, per-element booked string length, error on overflow — enforced
    at persist by FeatureStore._enforce_lengths). The fixture persists
    3-tag lists into a bucketed table, then ONE retrieve covers: raw
    element access (tag_0/tag_2), default fill on misses/expired
    (['none','none','none'] via array_repeat of the scalar default), and
    F13 decoded stringification (':' join — strings.Join(values, ":"),
    deserialized_psdb_v2.go)."""

    from bharatmlstack_spark import fixtures
    from bharatmlstack_spark.operators.feature_store import FeatureStore

    fs = FeatureStore(
        spark,
        fixtures.user_tags_registry(),
        base_path=scratch_dir("bmls_strvec_"),
        n_buckets=8,
    )
    fs.persist("user", fixtures.user_tag_features(spark, sf_dir))
    keys = fixtures.request_keys(spark, sf_dir)
    out = fs.retrieve_decoded(
        "user",
        {"demo_tags": ["tags"]},
        keys,
        now=F.lit(fixtures.FIXED_NOW).cast("timestamp"),
    )
    # the decoded string is the full ordered vector; element columns split
    # it back out (tags contain no ':', the reference's join separator)
    parts = F.split(F.col("demo_tags__tags"), ":")
    return out.select(
        "user_id",
        F.element_at(parts, 1).alias("tag_0"),
        F.element_at(parts, 3).alias("tag_2"),
        F.col("demo_tags__tags").alias("tags_str"),
    )


def _multi_store_oracle() -> str:
    from bharatmlstack_spark.fixtures import (
        LIVE_FEATURES_CTE,
        REQUEST_KEYS_CTE,
        USER_FEATURES_CTE,
    )

    return f"""
WITH {USER_FEATURES_CTE},
{LIVE_FEATURES_CTE},
{REQUEST_KEYS_CTE}
SELECT
  k.user_id,
  COALESCE(f.demo_int32__age, 0) AS demo_int32__age,
  COALESCE(f.demo_fp__acct_bal, CAST(0.0 AS FLOAT)) AS demo_fp__acct_bal
FROM request_keys k LEFT JOIN live f USING (user_id)
"""


@query("feature_multi_store", oracle=_multi_store_oracle())
def feature_multi_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/J2: one retrieve scatter-gathers TWO physical stores — demo_int32
    persists to store 0 and demo_fp to store 1 (separate bucketed tables),
    and the request joins each store's table once (retrieve.go:436-444).
    TTL rows expire per store identically."""

    from bharatmlstack_spark import fixtures
    from bharatmlstack_spark.operators.feature_store import FeatureStore

    fs = FeatureStore(
        spark,
        fixtures.user_multistore_registry(),
        base_path=scratch_dir("bmls_multi_"),
        n_buckets=8,
    )
    feats = fixtures.user_features(spark, sf_dir)
    fs.persist(
        "user",
        feats.select("user_id", "demo_int32__age", "schema_version", "expires_at"),
        store_id=0,
    )
    fs.persist(
        "user",
        feats.select("user_id", "demo_fp__acct_bal", "schema_version", "expires_at"),
        store_id=1,
    )
    out = fs.retrieve(
        "user",
        {"demo_int32": ["age"], "demo_fp": ["acct_bal"]},
        fixtures.request_keys(spark, sf_dir),
        now=F.lit(fixtures.FIXED_NOW).cast("timestamp"),
    )
    return out.select("user_id", "demo_int32__age", "demo_fp__acct_bal")


@query(
    "event_wire_roundtrip",
    oracle="""
SELECT user_id,
       CAST(event_id % 100000 AS INT) AS catalog_id,
       CAST(event_id % 2147483648 AS INT) AS product_id,
       epoch_ms(ts) AS timestamp,
       event_type AS metadata
FROM events WHERE user_id % 50 = 3
""",
)
def event_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 value-hash check: events wire-encode into per-user protobuf
    PersistClickDataRequest payloads (mapInPandas, grouped by user) and
    decode back through decode_event_requests — every field must survive
    the proto3 round trip byte-exact against the source table."""
    import pandas as pd

    from bharatmlstack_spark.streaming.ingest import decode_event_requests

    ev = (
        load_events_ms(spark, sf_dir)
        .filter(F.col("user_id") % 50 == 3)
        .select(
            "user_id",
            (F.col("event_id") % 100000).cast("int").alias("catalog_id"),
            # explicit % 2^31 narrowing: identical on both engines, whereas a
            # bare INT cast wraps in Spark but raises in DuckDB past 2^31
            (F.col("event_id") % 2147483648).cast("int").alias("product_id"),
            "ts_ms",
            F.col("event_type").alias("metadata"),
        )
    )

    def _encode(pdf_iter):
        from bharatmlstack_spark.functions import protowire

        for pdf in pdf_iter:
            payloads = []
            for uid, g in pdf.groupby("user_id"):
                rows = [
                    {
                        "catalog_id": int(r.catalog_id),
                        "product_id": int(r.product_id),
                        "timestamp": int(r.ts_ms),
                        "metadata": r.metadata,
                    }
                    for r in g.itertuples()
                ]
                payloads.append(protowire.encode_event_request(str(uid), rows, "click"))
            yield pd.DataFrame({"value": payloads})

    wire = ev.repartition("user_id").mapInPandas(_encode, "value binary")
    decoded = decode_event_requests(wire, "click")
    return decoded.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "catalog_id",
        "product_id",
        F.col("timestamp"),
        "metadata",
    )


def _stream_persist_oracle() -> str:
    """No TTL in this pipeline: persist.Query carries no expiry and the
    fixture registry TTL is 0, so every streamed row is live — the oracle
    joins ALL user_features (contrast _FEATURE_SELECT_SQL's `live` CTE)."""
    from bharatmlstack_spark.fixtures import REQUEST_KEYS_CTE, USER_FEATURES_CTE

    return f"""
WITH {USER_FEATURES_CTE},
{REQUEST_KEYS_CTE}
SELECT
  k.user_id,
  COALESCE(f.demo_int32__age, 0) AS demo_int32__age,
  COALESCE(f.demo_fp__acct_bal, CAST(0.0 AS FLOAT)) AS demo_fp__acct_bal,
  COALESCE(f.demo_str__location, 'NA') AS demo_str__location,
  COALESCE(f.demo_str__subscription_type, 'none') AS demo_str__subscription_type,
  COALESCE(f.demo_bool__is_active, FALSE) AS demo_bool__is_active,
  COALESCE(f.demo_vec__taste_vec[1], CAST(0.0 AS FLOAT)) AS taste_0,
  COALESCE(f.demo_vec__taste_vec[8], CAST(0.0 AS FLOAT)) AS taste_7
FROM request_keys k LEFT JOIN user_features f USING (user_id)
"""


@query("stream_persist_retrieve", oracle=_stream_persist_oracle())
def stream_persist_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SS1+SS2 end-to-end as a batch-replayable pipeline: the fixture is
    wire-encoded into protobuf persist.Query payloads (a simulated Kafka
    topic on files), streamed through decode_persist_queries ->
    feature_upsert_sink in multiple micro-batches (maxFilesPerTrigger=1),
    then read back with the batch retrieve. Values must survive the wire +
    upsert-merge byte-exact (fp32 doubles on the wire decode to the same
    float32)."""

    import pandas as pd

    from bharatmlstack_spark import fixtures
    from bharatmlstack_spark.operators.feature_store import FeatureStore
    from bharatmlstack_spark.streaming.ingest import (
        decode_persist_queries,
        feature_upsert_sink,
    )

    fg_schemas = [
        ("demo_int32", ["age"]),
        ("demo_fp", ["acct_bal"]),
        ("demo_str", ["location", "subscription_type"]),
        ("demo_bool", ["is_active"]),
        ("demo_vec", ["taste_vec"]),
    ]

    def _encode(batches):
        from bharatmlstack_spark.functions import protowire

        for pdf in batches:
            data = []
            for _, r in pdf.iterrows():
                data.append(
                    {
                        "key_values": [str(int(r["user_id"]))],
                        "feature_values": [
                            {"int32_values": [int(r["demo_int32__age"])]},
                            {"fp32_values": [float(r["demo_fp__acct_bal"])]},
                            {
                                "string_values": [
                                    r["demo_str__location"],
                                    r["demo_str__subscription_type"],
                                ]
                            },
                            {"bool_values": [bool(r["demo_bool__is_active"])]},
                            {
                                "vector": [
                                    {
                                        "fp32_values": [
                                            float(x) for x in r["demo_vec__taste_vec"]
                                        ]
                                    }
                                ]
                            },
                        ],
                    }
                )
            wire = protowire.encode_query("user", ["user_id"], fg_schemas, data)
            yield pd.DataFrame({"value": [wire]})

    work = scratch_dir("bmls_stream_")
    topic = f"{work}/topic"
    # the simulated topic: 4 files -> 4 micro-batches under availableNow
    (
        fixtures.user_features(spark, sf_dir)
        .repartition(4)
        .mapInPandas(_encode, "value binary")
        .write.parquet(topic)
    )

    fs = FeatureStore(
        spark, fixtures.user_registry(), base_path=f"{work}/store", n_buckets=8
    )
    stream = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(topic)
    )
    decoded = decode_persist_queries(
        stream, fixtures.user_registry(), "user", key_types={"user_id": "bigint"}
    )
    q = feature_upsert_sink(
        decoded, fs, "user", f"{work}/ckpt", trigger_once=True
    )
    await_stream(q, 300)

    keys = fixtures.request_keys(spark, sf_dir)
    out = fs.retrieve(
        "user",
        {
            "demo_int32": ["age"],
            "demo_fp": ["acct_bal"],
            "demo_str": ["location", "subscription_type"],
            "demo_bool": ["is_active"],
            "demo_vec": ["taste_vec"],
        },
        keys,
        now=F.lit(fixtures.FIXED_NOW).cast("timestamp"),
    )
    return out.select(
        "user_id",
        "demo_int32__age",
        "demo_fp__acct_bal",
        "demo_str__location",
        "demo_str__subscription_type",
        "demo_bool__is_active",
        F.element_at("demo_vec__taste_vec", 1).alias("taste_0"),
        F.element_at("demo_vec__taste_vec", 8).alias("taste_7"),
    )


@query(
    "order_stream_merge_trim",
    oracle="""
SELECT user_id, catalog_id, product_id, sub_order_num, ts_ms
FROM (
  SELECT user_id,
         CAST(event_id % 100000 AS INT) AS catalog_id,
         CAST(event_id % 2147483648 AS INT) AS product_id,
         'SO-' || CAST(event_id AS VARCHAR) AS sub_order_num,
         epoch_ms(ts) AS ts_ms,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, date_trunc('week', ts)
           ORDER BY epoch_ms(ts) DESC, CAST(event_id % 2147483648 AS INT) DESC
         ) AS rn
  FROM events WHERE event_type = 'purchase'
) WHERE rn <= 5
""",
)
def order_stream_merge_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SS4+SS5+S5(OrderEvent) end-to-end: purchase events wire-encode into
    per-user protobuf PersistOrderDataRequest payloads — covering
    ``sub_order_num`` (time_series.proto:28-34), the one OrderEvent field
    the click row never exercises — land on a simulated topic in
    ts-SHUFFLED file order, stream through decode_event_requests ->
    stream_event_retention in per-file micro-batches, and the final state
    must equal the reference's merge-sort-trim per (user, week)
    (persist/click.go:165-182; N=5 so the fixture actually trims). Late
    arrivals (week w rows in a later micro-batch) re-sort into their week,
    which is exactly SS4's in-watermark contract."""

    import pandas as pd

    from bharatmlstack_spark.operators.event_store import EventStore
    from bharatmlstack_spark.streaming.ingest import (
        decode_event_requests,
        stream_event_retention,
    )

    ev = (
        load_events_ms(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            (F.col("event_id") % 100000).cast("int").alias("catalog_id"),
            # explicit % 2^31 narrowing — see event_wire_roundtrip
            (F.col("event_id") % 2147483648).cast("int").alias("product_id"),
            F.concat(F.lit("SO-"), F.col("event_id").cast("string")).alias(
                "sub_order_num"
            ),
            "ts_ms",
        )
    )

    def _encode(pdf_iter):
        from bharatmlstack_spark.functions import protowire

        for pdf in pdf_iter:
            payloads = []
            for uid, g in pdf.groupby("user_id"):
                rows = [
                    {
                        "catalog_id": int(r.catalog_id),
                        "product_id": int(r.product_id),
                        "sub_order_num": r.sub_order_num,
                        "timestamp": int(r.ts_ms),
                    }
                    for r in g.itertuples()
                ]
                payloads.append(
                    protowire.encode_event_request(str(uid), rows, "order")
                )
            yield pd.DataFrame({"value": payloads})

    work = scratch_dir("bmls_orderstream_")
    topic = f"{work}/topic"
    # scramble by event_id so each micro-batch mixes users AND weeks:
    # every batch delivers "late" rows for weeks earlier batches touched
    (
        ev.repartition(4, "product_id")
        .mapInPandas(_encode, "value binary")
        .write.parquet(topic)
    )

    stream = (
        spark.readStream.schema("value binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(topic)
    )
    decoded = decode_event_requests(stream, "order").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "catalog_id",
        "product_id",
        "sub_order_num",
        F.timestamp_millis(F.col("timestamp")).alias("ts"),
    )
    store = EventStore(
        user_col="user_id", ts_col="ts", max_per_week=5,
        tiebreak_cols=["product_id"],
    )
    q = stream_event_retention(
        decoded, store, f"{work}/state", f"{work}/ckpt", spark,
        trigger_once=True,
    )
    await_stream(q, 300)

    return spark.read.parquet(f"{work}/state").select(
        "user_id",
        "catalog_id",
        "product_id",
        "sub_order_num",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
    )


@query(
    "stateful_topk_stream",
    oracle="""
SELECT user_id, ts_ms, event_id, rank FROM (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rank
  FROM events WHERE event_type = 'view' AND user_id % 5 = 0
) WHERE rank <= 5
""",
)
def stateful_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SS5 in its TRUE streaming-state form: per-user newest-K via
    applyInPandasWithState (state = current top-K list; each micro-batch
    merges, re-sorts desc, truncates — persist/click.go:178-181), driven
    over a ts-shuffled multi-batch topic. Every batch emits its current
    top-K, so the dedup of all emissions re-ranked per user equals the
    exact top-K independent of batch order — which is what DuckDB
    recomputes. k=5 over the view stream so the state actually truncates."""

    from bharatmlstack_spark.streaming.ingest import stateful_top_events

    ev = (
        load_events_ms(spark, sf_dir)
        .filter((F.col("event_type") == "view") & (F.col("user_id") % 5 == 0))
        .select("user_id", "ts_ms", "event_id")
    )
    work = scratch_dir("bmls_topkstream_")
    topic = f"{work}/topic"
    # 3 micro-batches, each mixing users and times (late arrivals included)
    ev.repartition(3, "event_id").write.parquet(topic)

    stream = (
        spark.readStream.schema("user_id long, ts_ms long, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(topic)
    )
    topk = stateful_top_events(stream, k=5)
    out_path = f"{work}/emitted"

    def _sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_path)

    q = (
        topk.writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 300)

    emitted = spark.read.parquet(out_path).dropDuplicates(
        ["user_id", "ts_ms", "event_id"]
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_ms"), F.desc("event_id")
    )
    return (
        emitted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("user_id", "ts_ms", "event_id", "rank")
    )


@query(
    "incremental_materialize_orders",
    oracle="""
SELECT o_custkey AS user_id,
       COUNT(*) AS orders__n_orders,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100) AS BIGINT) AS orders__spend_cents,
       MAX(epoch_ms(o_orderdate)) AS orders__last_order_ms
FROM orders GROUP BY o_custkey
""",
)
def incremental_materialize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental feature materialization end-to-end (operators/
    incremental.py): day 1 materializes user order-features from 3/4 of
    the fact table; day 2's delta (the remaining orders) triggers
    recomputation of ONLY the touched users — from their FULL fact
    history, so there is no read-modify-write drift — and upserts. The
    final store must equal a from-scratch build over all orders, which is
    what DuckDB computes. All-integer features (spend in cents via exact
    decimal sums) keep the comparison bit-exact."""

    from bharatmlstack_spark.operators.incremental import incremental_materialize
    from bharatmlstack_spark.operators.feature_store import FeatureStore
    from bharatmlstack_spark.registry import (
        DataType,
        Entity,
        Feature,
        FeatureGroup,
        SchemaRegistry,
    )

    reg = SchemaRegistry()
    reg.register(
        Entity(
            label="user",
            key_columns=["user_id"],
            feature_groups={
                "orders": FeatureGroup(
                    "orders", 1, DataType.INT64,
                    {1: [
                        Feature("n_orders", 0, default=0),
                        Feature("spend_cents", 1, default=0),
                        Feature("last_order_ms", 2, default=0),
                    ]},
                ),
            },
        )
    )

    o = _t(spark, sf_dir, "orders")

    def compute(fact: DataFrame) -> DataFrame:
        return fact.groupBy(F.col("o_custkey").alias("user_id")).agg(
            F.count(F.lit(1)).alias("orders__n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("orders__spend_cents"),
            F.max(F.unix_millis(F.col("o_orderdate").cast("timestamp"))).alias(
                "orders__last_order_ms"
            ),
        )

    fs = FeatureStore(
        spark, reg, base_path=scratch_dir("bmls_incmat_"), n_buckets=8
    )
    day1 = o.filter(F.col("o_orderkey") % 4 != 0)
    delta = o.filter(F.col("o_orderkey") % 4 == 0)
    fs.persist("user", compute(day1))
    incremental_materialize(
        fs, "user", fact_df=o, delta_df=delta.select("o_custkey"),
        key_cols=["o_custkey"], compute_fn=compute,
    )
    return fs.load("user").select(
        "user_id",
        "orders__n_orders",
        "orders__spend_cents",
        "orders__last_order_ms",
    )


@query(
    "stream_attribution_join",
    oracle="""
SELECT c.user_id,
       epoch_ms(c.ts) AS click_ms,
       epoch_ms(v.ts) AS conv_ms,
       c.event_id AS click_id,
       v.event_id AS conv_id
FROM events c JOIN events v
  ON c.user_id = v.user_id
WHERE c.event_type = 'click' AND v.event_type = 'purchase'
  AND c.user_id % 2 = 0
  AND epoch_ms(v.ts) >= epoch_ms(c.ts)
  AND epoch_ms(v.ts) <= epoch_ms(c.ts) + 7200000
""",
)
def stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join as a driver row: each
    purchase labels the same user's clicks in the preceding 2-hour
    attribution window (the click->conversion labeling step of an online
    training pipeline, streaming/ingest.py attribution_join). Both streams
    ingest fully before termination, so the emitted match set equals the
    batch interval join DuckDB computes — the watermark's role here is
    state bounding, not semantics."""

    from bharatmlstack_spark.streaming.ingest import attribution_join

    ev = (
        load_events_ms(spark, sf_dir)
        .filter(F.col("user_id") % 2 == 0)
        .select(
            "user_id",
            F.timestamp_millis(F.col("ts_ms")).alias("ts"),
            "event_id",
            "event_type",
        )
    )
    work = scratch_dir("bmls_attrstream_")
    ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    ).coalesce(1).write.parquet(f"{work}/clicks")
    ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("conv_ts"), F.col("event_id").alias("conv_id")
    ).coalesce(1).write.parquet(f"{work}/convs")

    clicks = spark.readStream.schema(
        "user_id long, click_ts timestamp, click_id long"
    ).parquet(f"{work}/clicks")
    convs = spark.readStream.schema(
        "user_id long, conv_ts timestamp, conv_id long"
    ).parquet(f"{work}/convs")
    out = attribution_join(
        clicks, convs, attribution_window="2 hours", watermark="30 days"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 300)

    return spark.read.parquet(f"{work}/out").select(
        "user_id",
        F.unix_millis(F.col("click_ts")).alias("click_ms"),
        F.unix_millis(F.col("conv_ts")).alias("conv_ms"),
        "click_id",
        "conv_id",
    )


@query(
    "incremental_dedup_stream",
    oracle="""
WITH src AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text, lang FROM documents WHERE doc_id < 250
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text, lang FROM documents WHERE doc_id >= 250
)
SELECT s.doc_id, s.lang FROM src s
SEMI JOIN (SELECT MIN(doc_id) AS doc_id FROM src GROUP BY text) k
  ON s.doc_id = k.doc_id
""",
)
def incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup across ingestion days (the 100 TB shape:
    only FINGERPRINTS persist as state; content never re-scans): day 1
    ingests half the corpus, day 2 ingests the rest PLUS exact copies of
    both halves under new ids — copies of day-1 docs must be dropped by
    the fingerprint-state anti-join, copies arriving alongside their
    original in day 2 by the intra-batch min-id window. The surviving set
    is min-doc_id-per-text regardless of how the stream was batched,
    which is exactly what DuckDB recomputes. Two checkpointed availableNow
    executions = two days (streaming/ingest.py stream_dedup_sink)."""

    from bharatmlstack_spark.streaming.ingest import stream_dedup_sink

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    day1 = d.filter(F.col("doc_id") < 250)
    day2 = (
        d.filter(F.col("doc_id") >= 250)
        .unionAll(
            day1.select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang"
            )
        )
        .unionAll(
            d.filter(F.col("doc_id") >= 250).select(
                (F.col("doc_id") + 20000).alias("doc_id"), "text", "lang"
            )
        )
    )

    work = scratch_dir("bmls_incdedup_")
    topic = f"{work}/topic"
    state = f"{work}/state"
    out = f"{work}/out"

    def _run_available():
        stream = spark.readStream.schema("doc_id long, text string, lang string").parquet(topic)
        q = stream_dedup_sink(
            stream, state, out, f"{work}/ckpt", spark,
            content_col="text", id_col="doc_id", trigger_once=True,
        )
        await_stream(q, 300)

    day1.coalesce(1).write.parquet(topic)
    _run_available()
    day2.coalesce(1).write.mode("append").parquet(topic)
    _run_available()

    return spark.read.parquet(out).select("doc_id", "lang")


@query(
    "stream_weekly_watermark",
    oracle="""
WITH a AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events WHERE event_id % 17 <> 0
),
mx AS (SELECT max(ts_ms) AS mt_ms FROM a)
SELECT CAST(ts_ms // 604800000 * 604800000 AS BIGINT) AS week_start_ms,
       user_id,
       COUNT(*) AS n_events
FROM a, mx
WHERE ts_ms // 604800000 * 604800000 + 604800000 < mt_ms - 3600000
GROUP BY 1, 2
""",
)
def stream_weekly_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SS3+SS4 in the declarative watermark form: a tumbling weekly count
    with a 1-hour watermark, driven as two checkpointed availableNow
    executions (watermark + state persist across restarts, so they ARE
    consecutive micro-batches) — batch 1 is the bulk stream, batch 2 is
    entirely LATE data aimed at already-closed windows. Append mode emits exactly the windows closed
    at the final watermark, and every batch-2 row is older than the
    watermark batch 1 established, so the counts must equal batch 1 alone
    — the late rows' absence is the proof the watermark dropped them
    (any row late enough to belong to an emitted window is dropped; any
    surviving row belongs to a window that never emits). Epoch-aligned
    7-day windows in both engines; all boundary math in integer millis.
    Both sides use a strict `window_end < watermark` cut — the read-back
    re-applies it via a 1-row broadcast max join — so the row does not
    depend on whether Spark's append mode finalizes a window whose end
    lands EXACTLY on the watermark (an engine-internal boundary choice)."""

    from bharatmlstack_spark.streaming.ingest import windowed_event_counts

    ev = load_events_ms(spark, sf_dir).select("user_id", "ts_ms", "event_id")
    work = scratch_dir("bmls_wmstream_")
    topic = f"{work}/topic"
    out_path = f"{work}/out"
    bulk = ev.filter(F.col("event_id") % 17 != 0).drop("event_id")
    late = ev.filter(F.col("event_id") % 17 == 0).drop("event_id")

    def _run_available():
        # one availableNow execution over whatever the topic holds now;
        # watermark + window state persist in the checkpoint across runs,
        # so consecutive executions ARE consecutive micro-batches
        stream = (
            spark.readStream.schema("user_id long, ts_ms long")
            .parquet(topic)
            .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        )
        counts = windowed_event_counts(
            stream, ts_col="ts", user_col="user_id",
            window="7 days", watermark="1 hour",
        )
        q = (
            counts.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 300)

    bulk.coalesce(1).write.parquet(topic)
    _run_available()  # batch 1: bulk; sets watermark = max(ts) - 1h
    late.coalesce(1).write.mode("append").parquet(topic)
    _run_available()  # batch 2: only late rows -> all watermark-dropped

    wm = bulk.agg((F.max("ts_ms") - F.lit(3600000)).alias("__wm_ms"))
    return (
        spark.read.parquet(out_path)
        .select(
            F.unix_millis(F.col("week_start")).alias("week_start_ms"),
            "user_id",
            "n_events",
        )
        .crossJoin(F.broadcast(wm))
        .filter(F.col("week_start_ms") + F.lit(604800000) < F.col("__wm_ms"))
        .drop("__wm_ms")
    )


@query(
    "skye_stream_aggregate",
    oracle="""
SELECT vec_id AS candidate_id,
       'b' || CAST(vec_id % 7 AS VARCHAR) AS brand,
       CAST(label * 1.5 AS FLOAT) AS price,
       CAST(embedding[1] AS FLOAT) AS emb0,
       CAST(embedding[64] AS FLOAT) AS emb63
FROM embeddings WHERE vec_id % 25 = 0
""",
)
def skye_stream_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+SS9 end-to-end: skye-shaped JSON payloads with SPARSE column
    maps stream through parse_embedding_payloads -> skye_aggregator_sink
    in separate micro-batches — one batch carries only the payload columns
    (brand/price), the other only the embedding — and the stored row must
    hold ALL of them: the sink's per-signature column-wise merge
    (scylla_aggregator.go:60-84) must never null out columns a different
    payload shape wrote. Values survive JSON stringification -> parse ->
    upsert bit-exact (float32 shortest-repr round trip)."""

    from bharatmlstack_spark import fixtures
    from bharatmlstack_spark.operators.feature_store import FeatureStore
    from bharatmlstack_spark.streaming.ingest import (
        parse_embedding_payloads,
        skye_aggregator_sink,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 25 == 0)

    def _payload(columns_col):
        return F.to_json(
            F.struct(
                F.lit("candidate").alias("entity"),
                F.lit("m1").alias("model"),
                F.col("vec_id").cast("string").alias("candidate_id"),
                columns_col.alias("columns"),
            )
        ).alias("value")

    payload_batch = emb.select(
        _payload(
            F.create_map(
                F.lit("payload__brand"),
                F.concat(F.lit("b"), (F.col("vec_id") % 7).cast("string")),
                F.lit("payload_fp__price"),
                (F.col("label") * 1.5).cast("float").cast("string"),
            )
        )
    )
    emb_batch = emb.select(
        _payload(
            F.create_map(F.lit("emb__vector"), F.to_json(F.col("embedding")))
        )
    )

    work = scratch_dir("bmls_skyestream_")
    topic = f"{work}/topic"
    payload_batch.coalesce(1).write.mode("append").parquet(topic)
    emb_batch.coalesce(1).write.mode("append").parquet(topic)

    reg = fixtures.candidate_registry()
    fs = FeatureStore(spark, reg, base_path=f"{work}/store", n_buckets=4)
    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(topic)
    )
    parsed = parse_embedding_payloads(stream, reg, "candidate")
    q = skye_aggregator_sink(parsed, fs, "candidate", f"{work}/ckpt", trigger_once=True)
    await_stream(q, 300)

    return fs.load("candidate").select(
        F.col("candidate_id").cast("bigint").alias("candidate_id"),
        F.col("payload__brand").alias("brand"),
        F.col("payload_fp__price").alias("price"),
        F.element_at("emb__vector", 1).alias("emb0"),
        F.element_at("emb__vector", 64).alias("emb63"),
    )


@query(
    "events_retention_window",
    oracle="""
SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
FROM events
WHERE epoch_ms(ts) >= epoch_ms(TIMESTAMP '2024-01-20') - CAST(24 AS BIGINT) * 7 * 24 * 3600 * 1000
""",
)
def events_retention_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SS3: the 24-week rolling retention as a predicate (the ring's
    overwrite-on-wrap, batch form) against a fixed now."""
    import datetime as dt

    ev = load_events_ms(spark, sf_dir).select("event_id", "user_id", "ts_ms")
    now_ms = int(dt.datetime(2024, 1, 20, tzinfo=dt.timezone.utc).timestamp() * 1000)
    cutoff = now_ms - 24 * 7 * 24 * 3600 * 1000
    return ev.filter(F.col("ts_ms") >= cutoff)


RETIRED_ORACLES["cube_orders_status"] = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def cube_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets extension (free in Spark; SURVEY §2.4 note).

    RETIRED from the driver registry in r14 (second of the pinned
    retirement order): grouping lattices stay driver-attested by
    grouping_sets_orders + rollup_lineitem; the freed slot registers
    stream_delete_search — the postings family's whole deletion story
    (eager mask AND physical fold vs the survivor-corpus BM25 twin),
    exactly as the r13 verdict's task 3 (and the r12 verdict's task 4)
    prescribed. Still verified every pytest run against its DuckDB
    oracle (tests/test_staged_retired.py)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# ===========================================================================
# Window-frame / sessionization / JSON extensions
# ===========================================================================


@query(
    "events_sessionize",
    oracle="""
SELECT event_id, user_id, CAST(session_id AS BIGINT) AS session_id FROM (
  SELECT event_id, user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
                     > 30 * 60 * 1000
                OR LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
  )
)
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + running sum —
    the canonical training-pipeline event transform."""
    ev = load_events_ms(spark, sf_dir)
    w_ord = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w_ord)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1000), 1).otherwise(0)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("__new", is_new)
        .withColumn("session_id", F.sum("__new").over(w_run))
        .select("event_id", "user_id", "session_id")
    )


RETIRED_ORACLES["events_value_histogram"] = """
SELECT event_type,
       CAST(floor(value / 5.0) AS BIGINT) AS bucket,
       COUNT(*) AS n
FROM events
GROUP BY event_type, CAST(floor(value / 5.0) AS BIGINT)
"""


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (the monitoring/drift
    profile) — one map-side bucket expression + one aggregate; at 100 TB
    the output is |types| x |buckets| rows, partial aggs do the work.

    RETIRED from the driver registry in r14 (fourth of the pinned
    retirement order): bucketed aggs stay driver-attested by
    events_weekly_buckets + quantile_binning; the freed slot registers
    stream_upsert_ann_search — vector upsert through the versioned IVF
    sink (skye re-publish semantics), per the r13 verdict's task 6.
    Still verified every pytest run against its DuckDB oracle
    (tests/test_staged_retired.py)."""
    ev = load_events_raw(spark, sf_dir)
    return ev.groupBy(
        "event_type", F.floor(F.col("value") / 5.0).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "min_cost_supplier",
    oracle="""
WITH costs AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(5,2))) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT c.l_partkey AS partkey, c.l_suppkey AS suppkey, CAST(c.cost AS DOUBLE) AS cost
FROM costs c
WHERE c.l_partkey < 200
  AND c.cost = (SELECT MIN(c2.cost) FROM costs c2 WHERE c2.l_partkey = c.l_partkey)
""",
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar subquery (min supply cost per
    part) — Catalyst de-correlates it into an aggregate + join, the
    rewrite the reference has no analog for. Costs are exact decimals so
    the correlated equality is engine-identical."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_q2")
    return spark.sql(
        """
        WITH costs AS (
          SELECT l_partkey, l_suppkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(5,2))) AS cost
          FROM __li_q2 GROUP BY l_partkey, l_suppkey
        )
        SELECT c.l_partkey AS partkey, c.l_suppkey AS suppkey, CAST(c.cost AS DOUBLE) AS cost
        FROM costs c
        WHERE c.l_partkey < 200
          AND c.cost = (SELECT MIN(c2.cost) FROM costs c2 WHERE c2.l_partkey = c.l_partkey)
        """
    )


@query(
    "events_interarrival",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_gaps,
       MIN(gap_ms) AS min_gap_ms,
       MAX(gap_ms) AS max_gap_ms,
       CAST(SUM(gap_ms) AS BIGINT) AS total_gap_ms
FROM (
  SELECT user_id,
         epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap_ms
  FROM events
)
WHERE gap_ms IS NOT NULL
GROUP BY user_id
""",
)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event time features (lag deltas per user): the classic
    engagement-cadence signal. One user-partitioned window + one
    aggregate, exact integer math."""
    ev = load_events_ms(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap = (F.col("ts_ms") - F.lag("ts_ms").over(w)).alias("gap_ms")
    return (
        ev.select("user_id", gap)
        .filter(F.col("gap_ms").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_ms").alias("min_gap_ms"),
            F.max("gap_ms").alias("max_gap_ms"),
            F.sum("gap_ms").alias("total_gap_ms"),
        )
    )


@query(
    "grouping_sets_orders",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the multi-rollup shape cube/rollup can't
    express) — one pass, Spark expands to a single expand+aggregate."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "rolling_7d_user_value",
    oracle="""
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_7d,
       COUNT(*) OVER w AS n_7d
FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
             RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)
""",
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-frame window (rowsBetween/rangeBetween — the frame spec the
    reference lacks, SURVEY §2.5 note): per-user trailing-7-day sum/count."""
    ev = load_events_ms(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-604800000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("sum_7d"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )


@query(
    "props_json_extract",
    oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
FROM events
""",
)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON metadata extraction (engine extension — the reference keeps
    metadata opaque, time_series.proto:20; Spark's get_json_object opens
    it)."""
    ev = load_events_raw(spark, sf_dir)
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("prop_k")
    )


@query(
    "key_string_join",
    oracle="""
SELECT c_custkey AS user_id,
       concat_ws('|', CAST(c_custkey AS VARCHAR), CAST(c_nationkey AS VARCHAR)) AS row_key
FROM customer
""",
)
def key_string_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: composite key -> 'k1|k2' row-key string (retrieve.go:79-81)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("user_id"),
        F.concat_ws(
            "|", F.col("c_custkey").cast("string"), F.col("c_nationkey").cast("string")
        ).alias("row_key"),
    )


RETIRED_ORACLES["distinct_users_by_type"] = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (absent in the reference, free in Spark —
    SURVEY §2.4 note).

    RETIRED from the driver registry in r14 (third of the pinned
    retirement order): exact distinct aggs stay driver-attested by
    sketch_distinct_users (which carries the exact twin column) plus the
    events family; the freed slot registers stream_update_search —
    in-place doc UPDATE through the versioned postings index, per the
    r13 verdict's task 6. Still verified every pytest run against its
    DuckDB oracle (tests/test_staged_retired.py)."""
    ev = load_events_raw(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "feature_drift_psi",
    oracle="""
WITH b AS (
  SELECT event_type,
         CAST(floor(value / 5.0) AS BIGINT) AS bucket,
         CASE WHEN epoch_ms(ts) < 1705363200000 THEN 1 ELSE 0 END AS early
  FROM events
),
g AS (
  SELECT event_type, bucket,
         CAST(SUM(early) AS BIGINT) AS a,
         CAST(SUM(1 - early) AS BIGINT) AS c
  FROM b GROUP BY event_type, bucket
),
t AS (
  SELECT event_type,
         CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(c) AS BIGINT) AS tc,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM g GROUP BY event_type
)
SELECT g.event_type,
       ROUND(SUM(
         ((g.a + 0.5) / (t.ta + 0.5 * t.nb) - (g.c + 0.5) / (t.tc + 0.5 * t.nb))
         * ln(((g.a + 0.5) / (t.ta + 0.5 * t.nb)) / ((g.c + 0.5) / (t.tc + 0.5 * t.nb)))
       ), 6) AS psi
FROM g JOIN t USING (event_type)
GROUP BY g.event_type
""",
)
def feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between the first and second half
    of the stream, per event type over fixed-width value buckets — the
    standard production signal for 'did this feature's distribution
    move'. Laplace-smoothed over the joint bucket set so one-sided
    buckets stay finite; two partial-agg shuffles (bucket counts, then
    per-type totals broadcast back). Rounded 6dp: the only cross-engine
    divergence is float summation order, ~1e-15 relative."""
    cut = 1705363200000  # 2024-01-16 UTC in epoch-ms
    ev = load_events_ms(spark, sf_dir)
    b = ev.select(
        "event_type",
        F.floor(F.col("value") / 5.0).cast("bigint").alias("bucket"),
        (F.col("ts_ms") < cut).cast("long").alias("early"),
    )
    g = b.groupBy("event_type", "bucket").agg(
        F.sum("early").alias("a"),
        F.sum(F.lit(1) - F.col("early")).alias("c"),
    )
    t = g.groupBy("event_type").agg(
        F.sum("a").alias("ta"),
        F.sum("c").alias("tc"),
        F.count(F.lit(1)).alias("nb"),
    )
    j = g.join(F.broadcast(t), "event_type")
    p = (F.col("a") + 0.5) / (F.col("ta") + 0.5 * F.col("nb"))
    q = (F.col("c") + 0.5) / (F.col("tc") + 0.5 * F.col("nb"))
    term = (p - q) * F.log(p / q)
    return (
        j.groupBy("event_type")
        .agg(F.round(F.sum(term), 6).alias("psi"))
    )


@query(
    "events_funnel",
    oracle="""
WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts_ms END) AS t1
  FROM e GROUP BY user_id
),
u2 AS (
  SELECT e.user_id, ANY_VALUE(u.t1) AS t1,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts_ms >= u.t1 THEN e.ts_ms END) AS t2
  FROM e JOIN u USING (user_id) GROUP BY e.user_id
),
u3 AS (
  SELECT e.user_id, ANY_VALUE(u2.t1) AS t1, ANY_VALUE(u2.t2) AS t2,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts_ms >= u2.t2 THEN e.ts_ms END) AS t3
  FROM e JOIN u2 USING (user_id) GROUP BY e.user_id
)
SELECT CAST(COUNT(t1) AS BIGINT) AS n_view,
       CAST(COUNT(t2) AS BIGINT) AS n_view_click,
       CAST(COUNT(t3) AS BIGINT) AS n_funnel
FROM u3
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage funnel (view -> later click -> later purchase): the
    event-sequence conversion signal a training pipeline labels with.
    One user-partitioned window chain — three chained min-over-user
    expressions share a single shuffle (contrast the oracle's 3-level
    agg-join, same result) — then a global count."""
    ev = load_events_ms(spark, sf_dir).select("user_id", "event_type", "ts_ms")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts_ms"))).over(w)
    staged = ev.withColumn("__t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts_ms") >= F.col("__t1")),
            F.col("ts_ms"),
        )
    ).over(w)
    staged = staged.withColumn("__t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts_ms") >= F.col("__t2")),
            F.col("ts_ms"),
        )
    ).over(w)
    staged = staged.withColumn("__t3", t3)
    per_user = staged.groupBy("user_id").agg(
        F.first("__t1").alias("t1"),
        F.first("__t2").alias("t2"),
        F.first("__t3").alias("t3"),
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_funnel"),
    )


@query(
    "parts_never_ordered",
    oracle="""
SELECT p_partkey, p_brand FROM part
ANTI JOIN (
  SELECT l_partkey FROM lineitem WHERE l_shipdate >= DATE '2001-01-01'
) l ON p_partkey = l_partkey
""",
)
def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 row-level anti-join at fact scale: keys absent from the fact
    table (the reference's missing-key extraction generalized). The fact
    side is date-restricted ("parts with no shipment in the final year") so the
    result is non-empty at every SF — an always-empty anti-join would be
    a vacuous green — and the filter pushes to the lineitem scan before
    the join."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("date")
    )
    return p.join(l, p.p_partkey == l.l_partkey, "left_anti").select("p_partkey", "p_brand")


@query(
    "pairwise_inference",
    oracle=f"""
WITH {_REQUESTS_SQL.strip()},
p AS (
  SELECT request_id, target_ids,
         unnest(pairs) AS pr,
         generate_subscripts(pairs, 1) - 1 AS pair_idx
  FROM requests
)
SELECT request_id, pair_idx,
       target_ids[pr.first + 1] AS first_target,
       target_ids[pr.second + 1] AS second_target,
       CAST(target_ids[pr.first + 1] AS DOUBLE) * 0.001
         + CAST(target_ids[pr.second + 1] AS DOUBLE) * 0.002 AS pair_score
FROM p
""",
)
def pairwise_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5+U3 end-to-end: PairWise expansion then the scoring stub over both
    resolved targets (the predator component's pair shaping,
    predator_component.go:175-191)."""
    from bharatmlstack_spark.pipeline import ScoringComponent

    pairs = expand_pairs(_requests(spark, sf_dir))
    scored = ScoringComponent(
        "pair_model",
        input_cols=["first_target", "second_target"],
        output_col="pair_score",
        weights=[0.001, 0.002],
    ).apply(pairs)
    return scored.select(
        "request_id", "pair_idx", "first_target", "second_target", "pair_score"
    )


@query(
    "q18_large_orders",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_custkey
HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-filter (HAVING) over a fact join — TPC-H q18 shape."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .filter(F.col("__q") > 250)
        .select("o_orderkey", "o_custkey", F.col("__q").cast("double").alias("total_qty"))
    )


@query(
    "orders_priority_pivot",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
       COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS n_other
FROM orders
GROUP BY o_orderstatus
""",
)
def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (count FILTER) — wide feature
    construction from categorical events."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
        F.count(F.when(F.col("o_orderpriority") == "2-HIGH", 1)).alias("n_high"),
        F.count(
            F.when(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        ).alias("n_other"),
    )


@query(
    "l2_normalized_embeddings",
    oracle=f"""
SELECT vec_id,
       CAST(embedding[1] AS DOUBLE) / sqrt({' + '.join(f'CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{i}] AS DOUBLE)' for i in range(1, 65))}) AS u0
FROM embeddings
""",
)
def l2_normalized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalization of an embedding column (F.transform element-wise;
    first normalized element surfaced; explicit fold keeps it bit-stable)."""
    emb = _t(spark, sf_dir, "embeddings")
    sq = None
    for i in range(1, 65):
        t = F.element_at("embedding", i).cast("double") * F.element_at("embedding", i).cast("double")
        sq = t if sq is None else sq + t
    return emb.select(
        "vec_id",
        (F.element_at("embedding", 1).cast("double") / F.sqrt(sq)).alias("u0"),
    )


@query(
    "asof_feature_join",
    oracle="""
WITH labels AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
  FROM events WHERE event_type = 'purchase'
),
feats AS (
  SELECT user_id, epoch_ms(ts) AS fts_ms, MAX(value) AS view_value
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, epoch_ms(ts)
)
SELECT l.event_id, l.user_id, l.ts_ms, f.view_value
FROM labels l ASOF LEFT JOIN feats f
  ON l.user_id = f.user_id AND l.ts_ms >= f.fts_ms
""",
)
def asof_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature retrieval: each purchase label gets
    the newest PRIOR view value per user (leakage-free training join).
    Spark has no ASOF JOIN; operators/asof.py realizes it as union +
    ordered window forward-fill (one shuffle); the oracle is DuckDB's
    native ASOF LEFT JOIN."""
    from bharatmlstack_spark.operators.asof import as_of_join

    ev = load_events_ms(spark, sf_dir)
    labels = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms"
    )
    # dedupe equal-ts feature rows (ASOF tie behavior is engine-ambiguous
    # when several feature rows share one timestamp)
    feats = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts_ms").alias("fts_ms"))
        .agg(F.max("value").alias("view_value"))
    )
    out = as_of_join(
        labels,
        feats,
        on=["user_id"],
        label_ts="ts_ms",
        feature_ts="fts_ms",
        feature_cols=["view_value"],
    )
    return out.select("event_id", "user_id", "ts_ms", "view_value")


@query(
    "range_join_sessions",
    oracle="""
WITH windows AS (
  SELECT user_id, event_id AS purchase_id,
         epoch_ms(ts) - 7200000 AS w_start,
         epoch_ms(ts) AS w_end
  FROM events WHERE event_type = 'purchase' AND user_id % 20 = 0
),
clicks AS (
  SELECT event_id AS click_id, user_id, epoch_ms(ts) AS ts_ms
  FROM events WHERE event_type = 'click'
)
SELECT c.click_id, w.purchase_id, c.user_id, c.ts_ms
FROM clicks c JOIN windows w
  ON c.user_id = w.user_id AND c.ts_ms BETWEEN w.w_start AND w.w_end
""",
)
def range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (engine extension — Spark would nested-loop the
    BETWEEN predicate): clicks falling in the 2h window before each
    purchase, via bucketized equi-join (operators/rangejoin.py); oracle is
    the naive inequality join."""
    from bharatmlstack_spark.operators.rangejoin import range_join

    ev = load_events_ms(spark, sf_dir)
    windows = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 20 == 0)
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts_ms") - 7200000).alias("w_start"),
        F.col("ts_ms").alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts_ms"
    )
    out = range_join(
        clicks, windows, point_ts="ts_ms", start_col="w_start", end_col="w_end",
        on=["user_id"], bucket_width=3600_000,
    )
    return out.select("click_id", "purchase_id", "user_id", "ts_ms")


# ===========================================================================
# Skew hardening (the 100x story: hot keys must not serialize on one reducer)
# ===========================================================================


@query(
    "salted_hot_key_agg",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
""",
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over a 5-value grouping key: stage 1
    partial-aggregates by (event_type, salt-of-event_id) so the hot keys
    spread over 16 reducers, stage 2 merges the bounded partials. At 100 TB
    a direct groupBy on a 5-value key serializes on 5 reducers no matter
    how many executors exist; salting is the declarative fix (the reference
    shards hot entities across consumer workers the same way:
    online-feature-store/internal/consumer/listeners/kafka.go:80-95).
    Row-identical to the direct aggregation — the oracle IS the direct
    aggregation. Decimal sums keep the merge order-insensitive."""
    from bharatmlstack_spark.plans.skew import salted_agg

    ev = load_events_raw(spark, sf_dir).select("event_type", "value", "event_id")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": (F.lit(1), "count"),
            "sum_value": (F.col("value").cast("decimal(18,6)"), "sum"),
            "min_value": (F.col("value"), "min"),
            "max_value": (F.col("value"), "max"),
        },
        salt=16,
        salt_source="event_id",
    )
    return out.withColumn("sum_value", F.col("sum_value").cast("double"))


RETIRED_ORACLES["salted_dim_join"] = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def salted_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join: the event stream's user_id is skewed relative to
    the customer dim (150 hot users out of 1500 keys), so the big side is
    scattered across 8 salt buckets and the dim is replicated 8x before the
    join — one hot key spreads over 8 reducers instead of pinning one.
    Result is row-identical to the plain join (the oracle), aggregated by
    market segment with an order-insensitive decimal sum. This is the
    declarative fallback for engines/paths where AQE skew splitting cannot
    apply (plans/skew.py salted_join).

    RETIRED from the driver registry in r13 (head of the pinned
    retirement order): skew salting stays driver-attested by
    salted_hot_key_agg (same plans/skew.py core); the freed slot
    registers stream_bm25_search — the streamed postings index's first
    driver-gated row, exactly as the r12 verdict prescribed. Still
    verified every pytest run against its DuckDB oracle
    (tests/test_staged_retired.py)."""
    from bharatmlstack_spark.plans.skew import salted_join

    ev = load_events_raw(spark, sf_dir).select("user_id", "value")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, dim, on="user_id", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


@query(
    "events_limit_clamp",
    oracle="""
WITH reps AS (
  SELECT user_id, event_id * 40 + r AS seq
  FROM events, UNNEST(generate_series(0, 39)) AS t(r)
  WHERE user_id < 3
),
ranked AS (
  SELECT user_id, seq,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
  FROM reps
)
SELECT user_id,
       COUNT(*) AS n_rows,
       MIN(seq) AS min_seq,
       MAX(seq) AS max_seq
FROM ranked WHERE rn <= 2000
GROUP BY user_id
""",
)
def events_limit_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 driven as a row: a batch retrieve requesting limit=10^9 comes
    back capped at MAX_RETRIEVE_LIMIT=2000 per user (constants.go:17-18,
    retrieve.go:38-43). The fixture replicates each of 3 users' events 40x
    under a unique synthetic ordering key so the cap actually BINDS
    (~27k candidate rows per user); the deliverable is per-user row count
    (exactly 2000 — the clamp) plus the boundary keys of the retained
    window, which the oracle recomputes with its own top-2000."""
    from bharatmlstack_spark.operators.event_store import EventStore

    ev = (
        load_events_raw(spark, sf_dir)
        .filter(F.col("user_id") < 3)
        .select("user_id", "event_id")
    )
    reps = ev.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(39)))).select(
        "user_id", (F.col("event_id") * 40 + F.col("r")).alias("seq")
    )
    store = EventStore(user_col="user_id", ts_col="seq")
    out = store.retrieve_batch(
        reps,
        reps.select("user_id").distinct(),
        start=0,
        end=2**62,
        limit=10**9,  # absurd request; the store must clamp to 2000
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
    )


RETIRED_ORACLES["multimodal_decode_rgb"] = """
WITH m AS (
  SELECT i AS media_id, 6 + (i % 4) * 2 AS w, 4 + (i % 5) * 2 AS h
  FROM (SELECT UNNEST(generate_series(0, 23)) AS i)
),
px AS (
  SELECT media_id,
         flatten(list_transform(generate_series(0, 7), y ->
           flatten(list_transform(generate_series(0, 7), x ->
             list_transform([0, 1, 2], c ->
               (media_id * 17 + (((y * h) // 8) * w + ((x * w) // 8)) * 3 + c) % 256
             ))))) AS bytes
  FROM m
),
hst AS (
  SELECT media_id,
         [len(list_filter(bytes, p -> p % 8 = b))
          FOR b IN generate_series(0, 7)] AS hist
  FROM px
)
SELECT media_id, 'image' AS modality, 203 AS n_bytes,
       ROUND(CAST(CAST(
         CAST(hist[1] AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(hist, x -> x * x)) AS DOUBLE))
         AS REAL) AS DOUBLE), 6) AS f0,
       ROUND(CAST(CAST(
         CAST(hist[3] AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(hist, x -> x * x)) AS DOUBLE))
         AS REAL) AS DOUBLE), 6) AS f2
FROM hst
"""


def multimodal_decode_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-channel path of the real image codec: binary P6 (PPM) color
    images decoded to (h, w, 3) pixel grids, nearest-neighbor resampled to
    8x8 preserving channels, re-encoded as P6 (203 bytes = 11-byte header
    + 192 pixel bytes), then strict-decoded again into the mod-8 byte
    histogram. The oracle rebuilds every resized (y, x, channel) byte
    arithmetically — channel interleaving survives two encode/decode
    passes bit-exact.

    RETIRED from the driver registry in r11 (head of the pinned
    retirement order): the decode family stays driver-attested by
    multimodal_decode_image/_stats/_png, and the freed slot registers
    dedup_cross_corpus (the fuzzy-decontamination primitive, staged
    since r10). Still verified every pytest run against its DuckDB
    oracle (tests/test_staged_retired.py)."""
    from bharatmlstack_spark.operators.multimodal import (
        extract_features,
        resize_images,
        synthetic_rgb_media,
    )

    media = synthetic_rgb_media(spark, n=24)
    resized = resize_images(media, width=8, height=8, strict_decode=True)
    resized_media = resized.join(
        F.broadcast(media.select("media_id", "modality")), "media_id"
    )
    out = extract_features(resized_media, dim=8, strict_decode=True)
    return out.select(
        "media_id", "modality", "n_bytes", *_decoded_hist_cols(0, 2)
    )


@query(
    "multimodal_decode_audio_feature",
    oracle="""
WITH m AS (
  SELECT i AS media_id, 120 + (i % 7) * 40 AS n_samples
  FROM (SELECT UNNEST(generate_series(0, 47)) AS i) WHERE i % 2 = 1
),
sv AS (
  SELECT media_id, n_samples,
         list_transform(generate_series(0, n_samples - 1), k ->
           (media_id * 7919 + k * 104729) % 65536 - 32768) AS samples
  FROM m
),
hst AS (
  SELECT media_id, n_samples,
         [len(list_filter(samples, s -> ((s % 8) + 8) % 8 = b))
          FOR b IN generate_series(0, 7)] AS hist
  FROM sv
)
SELECT media_id, 'audio' AS modality,
       CAST(44 + 2 * n_samples AS BIGINT) AS n_bytes,
       ROUND(CAST(CAST(
         CAST(hist[1] AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(hist, x -> x * x)) AS DOUBLE))
         AS REAL) AS DOUBLE), 6) AS f0,
       ROUND(CAST(CAST(
         CAST(hist[2] AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(hist, x -> x * x)) AS DOUBLE))
         AS REAL) AS DOUBLE), 6) AS f1
FROM hst
""",
)
def multimodal_decode_audio_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio through the strict feature chain: RIFF/WAVE PCM16 decoded to
    int16 samples (chunk-walking codec), folded into the L2-normalized
    mod-8 histogram. Negative samples take numpy's FLOOR-mod into buckets
    [0, 8), which the oracle replicates as ((s % 8) + 8) % 8 over DuckDB's
    sign-of-dividend remainder — the exact cross-engine parity trap this
    row exists to pin. n_bytes = 44-byte canonical WAV header + 2 bytes
    per sample."""
    from bharatmlstack_spark.operators.multimodal import (
        extract_features,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, n=48).filter(F.col("modality") == "audio")
    out = extract_features(media, dim=8, strict_decode=True)
    return out.select(
        "media_id", "modality", "n_bytes", *_decoded_hist_cols(0, 1)
    )


@query(
    "request_validation_matrix",
    oracle="""
SELECT * FROM (VALUES
  ('range_end_future',          'ValueError'),
  ('range_start_after_end',     'ValueError'),
  ('range_exceeds_24_weeks',    'ValueError'),
  ('rpn_unknown_token',         'RPNCompileError'),
  ('rpn_stack_underflow',       'RPNCompileError'),
  ('rpn_leftover_stack',        'RPNCompileError'),
  ('rpn_empty_expression',      'RPNCompileError'),
  ('filter_unknown_op',         'ValueError'),
  ('knn_unknown_metric',        'ValueError'),
  ('selector_unknown_suffix',   'ValueError'),
  ('persist_unknown_column',    'ValueError'),
  ('persist_wrong_type',        'TypeError'),
  ('persist_missing_key',       'ValueError'),
  ('registry_unknown_entity',   'KeyError'),
  ('registry_unknown_fg',       'KeyError'),
  ('registry_duplicate_feature','ValueError'),
  ('lsh_indivisible_bands',     'ValueError'),
  ('salted_agg_unknown_kind',   'ValueError'),
  ('pnm_16bit_maxval',          'NotImplementedError'),
  ('pnm_foreign_magic',         'NotImplementedError'),
  ('wav_missing_data_chunk',    'ValueError')
) AS t(check_id, error)
""",
)
def request_validation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/U4 driven as a row: the request-validation surface — the checks
    the reference runs before touching storage (event range rules
    retrieve/retrieve.go:22-36, persist parse/validate persist.go:209,
    compute compile errors matrix.rs:130-201, filter/metric validation
    filters.go:54-191) — probed with 21 invalid requests. The deliverable
    is the (check, raised-error-class) conformance matrix; the oracle is
    the reference contract as a VALUES table. A probe that stops raising
    (or raises the wrong class) flips the row red."""
    import datetime as _dt

    from bharatmlstack_spark import fixtures
    from bharatmlstack_spark.functions.expressions import rpn_to_column
    from bharatmlstack_spark.operators.event_store import EventStore
    from bharatmlstack_spark.operators.feature_store import (
        FeatureStore,
        parse_feature_selector,
    )
    from bharatmlstack_spark.operators.knn import FilterSpec, score_column
    from bharatmlstack_spark.operators.lsh import LshIndex
    from bharatmlstack_spark.operators.multimodal import decode_pnm, decode_wav_pcm16
    from bharatmlstack_spark.plans.skew import salted_agg

    now = _dt.datetime(2024, 1, 1)
    day = _dt.timedelta(days=1)
    es = EventStore()
    reg = fixtures.user_registry()
    fs = FeatureStore(spark, reg, "/tmp/bmls_validation_probe")
    tiny = spark.createDataFrame([(1, 5)], ["user_id", "demo_int32__age"])

    probes = {
        "range_end_future": lambda: es.validate_range(now, now + day, now),
        "range_start_after_end": lambda: es.validate_range(now, now - day, now),
        "range_exceeds_24_weeks": lambda: es.validate_range(
            now - _dt.timedelta(weeks=30), now, now
        ),
        "rpn_unknown_token": lambda: rpn_to_column("x bogus +", columns={"x"}),
        "rpn_stack_underflow": lambda: rpn_to_column("x +", columns={"x"}),
        "rpn_leftover_stack": lambda: rpn_to_column("x x", columns={"x"}),
        "rpn_empty_expression": lambda: rpn_to_column("", columns=set()),
        "filter_unknown_op": lambda: FilterSpec("f", "LIKE", [1]).to_column(),
        "knn_unknown_metric": lambda: score_column("MANHATTAN", "a", "b"),
        "selector_unknown_suffix": lambda: parse_feature_selector(
            "fg", "x@DataTypeBogus"
        ),
        "persist_unknown_column": lambda: fs.persist(
            "user", tiny.withColumnRenamed("demo_int32__age", "nonexistent__col")
        ),
        "persist_wrong_type": lambda: fs.persist(
            "user", tiny.withColumn("demo_int32__age", F.lit("not-an-int"))
        ),
        "persist_missing_key": lambda: fs.persist("user", tiny.drop("user_id")),
        "registry_unknown_entity": lambda: reg.entity("no_such_entity"),
        "registry_unknown_fg": lambda: reg.entity("user").fg("no_such_fg"),
        "registry_duplicate_feature": lambda: reg.evolve(
            "user", "demo_int32", [fixtures.Feature(label="age", sequence=0)]
        ),
        "lsh_indivisible_bands": lambda: LshIndex(dim=8, n_planes=10, n_bands=4),
        "salted_agg_unknown_kind": lambda: salted_agg(
            tiny, ["user_id"], {"bad": (F.col("demo_int32__age"), "avg")}
        ),
        "pnm_16bit_maxval": lambda: decode_pnm(b"P5\n2 2\n65535\n" + b"\x00" * 8),
        "pnm_foreign_magic": lambda: decode_pnm(b"\xff\xd8\xff\xe0JFIF"),
        "wav_missing_data_chunk": lambda: decode_wav_pcm16(
            b"RIFF\x04\x00\x00\x00WAVE"
        ),
    }
    results = []
    for check_id, fn in probes.items():
        try:
            fn()
            results.append((check_id, "NO_ERROR"))
        except Exception as e:  # noqa: BLE001 - the class name IS the result
            results.append((check_id, type(e).__name__))
    return spark.createDataFrame(results, "check_id string, error string")


# ===========================================================================
# bucketed co-located join — the shuffle-elimination contract at 100 TB
# ===========================================================================


@query(
    "bucketed_colocated_join",
    oracle="""
SELECT c.c_custkey AS cust,
       c.c_nationkey AS nation,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_nationkey
""",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides are WRITTEN bucketed on the
    join key (8 buckets, sorted within bucket), then joined as catalog
    tables — Catalyst sees the matching bucket specs and plans a
    sort-merge join with NO Exchange on either side (plan-asserted in
    tests/test_plans.py). This is the fact-to-fact join contract at
    100 TB: pay the shuffle ONCE at write time, then every subsequent
    join/agg on the bucket key is shuffle-free. The groupBy on the join
    key also reuses the bucket distribution. Decimal-cast SUM keeps the
    revenue fold order-independent for the oracle hash. Table names carry
    the per-invocation tempdir token (concurrent runs in one metastore
    don't collide) and both tables + the tempdir are dropped via
    defer_cleanup when the next registered query starts — after the
    caller has materialized this plan."""
    import os
    import shutil

    from bharatmlstack_spark.query_registry import defer_cleanup

    wh = scratch_dir("bmls_bucketed_")
    token = os.path.basename(wh)[len("bmls_bucketed_"):]
    t_orders = f"bmls_bucketed_orders_{token}"
    t_customer = f"bmls_bucketed_customer_{token}"
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    (
        o.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", wh + "/orders")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t_orders)
    )
    (
        c.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", wh + "/customer")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t_customer)
    )

    def _drop(spark=spark, wh=wh, tables=(t_orders, t_customer)):
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(wh, ignore_errors=True)

    defer_cleanup(_drop)
    ob = spark.table(t_orders)
    cb = spark.table(t_customer)
    joined = ob.join(cb, ob.o_custkey == cb.c_custkey)
    return joined.groupBy(
        F.col("c_custkey").alias("cust"), F.col("c_nationkey").alias("nation")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


# ===========================================================================
# cohort retention + SCD2 dimension history (warehouse analytics shapes)
# ===========================================================================


@query(
    "cohort_retention",
    oracle="""
WITH user_weeks AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week
  FROM events
),
cohorts AS (
  SELECT user_id, MIN(week) AS cohort_week FROM user_weeks GROUP BY user_id
)
SELECT c.cohort_week,
       CAST(u.week - c.cohort_week AS BIGINT) AS week_offset,
       COUNT(DISTINCT u.user_id) AS n_users
FROM user_weeks u JOIN cohorts c USING (user_id)
GROUP BY c.cohort_week, week_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by their first active epoch
    week, counted per week-offset — the engagement-analytics staple.
    TWO shuffles total: collect_set(week) per user (bounded by the number
    of weeks, so state stays metadata-sized even at 100 TB of events),
    then the cohort week is array_min of that set with no extra pass, the
    explode emits each (user, offset) exactly once (the set deduped), and
    the final count is a plain partial-agg — no count_distinct expand, no
    self-join. Integer epoch-week math keeps both engines bit-identical."""
    ev = load_events_ms(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.collect_set(
            (F.col("ts_ms") / F.lit(604800000)).cast("bigint")
        ).alias("weeks")
    )
    with_cohort = per_user.select(
        "user_id",
        F.array_min("weeks").alias("cohort_week"),
        F.explode("weeks").alias("week"),
    )
    return (
        with_cohort.groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "scd2_dimension",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
           AS prev_type
  FROM events WHERE user_id % 50 = 3
),
changes AS (
  SELECT user_id, event_type, ts_ms AS valid_from, event_id
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) - 1
         AS valid_to
FROM changes
""",
)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: each run of equal
    event_type per user collapses to one validity interval
    [valid_from, valid_to], the open current row ending NULL — the
    standard way a mutable attribute stream becomes a point-in-time
    joinable dimension. One shuffle on user_id feeds BOTH windows (lag to
    find change points, lead to close intervals) — Spark reuses the
    partitioning, so history build costs a single exchange at any
    scale."""
    ev = load_events_ms(spark, sf_dir).filter(F.col("user_id") % 50 == 3)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts_ms"), F.asc("event_id"))
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts_ms",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select(
        "user_id", "event_type", F.col("ts_ms").alias("valid_from"), "event_id"
    )
    # event_id rides along as the closing window's tiebreaker: two change
    # points for the same user at the same millisecond would otherwise
    # make the lead() assignment tie-order-dependent, and Spark/DuckDB
    # could break the tie differently (a latent oracle hash flake)
    w2 = Window.partitionBy("user_id").orderBy(
        F.asc("valid_from"), F.asc("event_id")
    )
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        (F.lead("valid_from").over(w2) - 1).alias("valid_to"),
    )


# ===========================================================================
# Z-order layout cells — multi-dimensional clustering for file pruning
# ===========================================================================

from bharatmlstack_spark.plans.zorder import z_value, z_value_sql  # noqa: E402

_Z_SQL = z_value_sql("ua", "wb", bits=8)


@query(
    "zorder_cells",
    oracle=f"""
WITH base AS (
  SELECT user_id, epoch_ms(ts) // 604800000 AS week FROM events
),
bounds AS (SELECT MIN(week) AS wk0 FROM base),
keyed AS (
  SELECT user_id,
         user_id & 255 AS ua,
         (week - bounds.wk0) & 255 AS wb
  FROM base, bounds
),
zed AS (
  SELECT user_id, ua, wb, ({_Z_SQL}) AS z FROM keyed
)
SELECT z >> 6 AS cell,
       COUNT(*) AS n,
       MIN(ua) AS min_user, MAX(ua) AS max_user,
       MIN(wb) AS min_week, MAX(wb) AS max_week
FROM zed
GROUP BY cell
""",
)
def zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering cells over (user_id, week) — the
    Delta/Iceberg ZORDER BY analog. The bit-interleaved key keeps rows
    close in EITHER dimension close on disk, so row-group min/max stats
    prune scans filtered on either column; the per-cell bounding boxes
    this row reports ARE those pruning stats (each coarse cell spans a
    small user range AND a small week range simultaneously — a
    single-column sort only bounds one). Weeks are offset by the corpus
    minimum (a 1-row broadcast) so the interleave operates on the
    occupied coordinate range; pure integer bit arithmetic, identical on
    both engines; the agg is one partial-agg shuffle."""
    ev = load_events_ms(spark, sf_dir).select(
        "user_id", (F.col("ts_ms") / F.lit(604800000)).cast("bigint").alias("week")
    )
    bounds = ev.agg(F.min("week").alias("wk0"))
    keyed = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.col("user_id").bitwiseAND(F.lit(255)).alias("ua"),
        (F.col("week") - F.col("wk0")).bitwiseAND(F.lit(255)).alias("wb"),
    )
    zed = keyed.withColumn("z", z_value("ua", "wb", bits=8))
    return (
        zed.groupBy(F.shiftright("z", 6).alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ua").alias("min_user"),
            F.max("ua").alias("max_user"),
            F.min("wb").alias("min_week"),
            F.max("wb").alias("max_week"),
        )
    )


# ===========================================================================
# streaming dedup: the native dropDuplicatesWithinWatermark operator
# ===========================================================================


@query(
    "stream_dedup_watermark",
    oracle="""
SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
FROM events WHERE user_id % 40 = 1
""",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via Spark's native
    ``dropDuplicatesWithinWatermark``: the topic holds every base row PLUS
    a full duplicate of every third event (the redelivery case — at-least-
    once sources replay), the stream deduplicates on event_id with a
    1-hour watermark bounding the state, and the sink's read-back must
    hash-match the base rows exactly — the duplicates' absence IS the
    verified behavior. State is bounded by the watermark horizon (keys
    older than max(ts)-1h evict), which is what makes the operator viable
    on an unbounded 100 TB stream where a plain dropDuplicates would
    accumulate forever."""

    ev = load_events_ms(spark, sf_dir).filter(F.col("user_id") % 40 == 1).select(
        "event_id", "user_id", "ts_ms"
    )
    dups = ev.filter(F.col("event_id") % 3 == 0)
    work = scratch_dir("bmls_dedupstream_")
    topic, out_path = f"{work}/topic", f"{work}/out"
    ev.unionAll(dups).coalesce(1).write.parquet(topic)

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts_ms long")
        .parquet(topic)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 300)
    return spark.read.parquet(out_path).select("event_id", "user_id", "ts_ms")


# ===========================================================================
# fuzzy entity matching: edit-distance join with wildcard blocking
# ===========================================================================


@query(
    "fuzzy_name_match",
    oracle="""
WITH base AS (
  SELECT c_custkey, c_name, substr(c_name, length(c_name) - 5, 6) AS sfx
  FROM customer WHERE c_custkey < 600
),
variants AS (
  SELECT c_custkey, c_name,
         substr(sfx, 1, i - 1) || '?' || substr(sfx, i + 1) AS vkey
  FROM base, generate_series(1, 6) AS t(i)
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       levenshtein(a.c_name, b.c_name) AS dist
FROM variants a JOIN variants b USING (vkey)
WHERE a.c_custkey < b.c_custkey
  AND levenshtein(a.c_name, b.c_name) <= 1
""",
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution join: customer-name pairs within edit
    distance 1, found WITHOUT an all-pairs comparison. Blocking =
    wildcard (deletion-neighborhood) keys: each 6-char name suffix emits
    6 variants with one position wildcarded; two equal-length names at
    substitution distance 1 share EXACTLY one variant, so the equi-join
    on the variant key produces precisely the true pair set (no dup
    candidates, no misses) and levenshtein() is evaluated only on
    candidates. This is the scale shape for fuzzy joins at 100 TB:
    6x map-side key fan-out, one equi-join shuffle, candidate-local
    verification — never n^2. Both engines ship the same classic DP
    levenshtein, so the distances hash-match exactly."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 600)
        .select(
            "c_custkey",
            "c_name",
            F.substring(F.col("c_name"), -6, 6).alias("sfx"),
        )
    )
    variants = c.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.substring("sfx", 1, i - 1),
                        F.lit("?"),
                        F.substring("sfx", i + 1, 6 - i),
                    )
                    for i in range(1, 7)
                ]
            )
        ).alias("vkey"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    return (
        a.join(b, on="vkey")
        .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("dist"),
        )
        .filter(F.col("dist") <= 1)
    )


# ===========================================================================
# market-basket co-occurrence: within-order part pairs
# ===========================================================================


@query(
    "copurchase_pairs",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, COUNT(*) AS n_orders
FROM pairs GROUP BY part_a, part_b
HAVING COUNT(*) >= 2
""",
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in >= 2
    orders — the candidate-generation pass of frequent-itemset mining /
    the co-view signal behind item-to-item recommenders. The self-join is
    keyed on l_orderkey, so the fan-out per order is C(items_in_order, 2)
    — bounded by basket size (~7 in TPC-H), NEVER corpus-quadratic; the
    pair count is one partial-agg shuffle on the pair key. At 100 TB this
    is the standard two-shuffle co-occurrence shape."""
    items = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, on="l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


# ===========================================================================
# event-sequence transition matrix (behavioral Markov statistics)
# ===========================================================================


@query(
    "event_transition_matrix",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
           AS prev_type
  FROM events
),
transitions AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
FROM transitions
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-user event sequences: the
    conditional next-event distribution P(next | prev) — the statistics
    pass behind behavioral Markov features and session-sequence training
    data. One user_id exchange feeds the ordering window; the transition
    count is a partial-agg shuffle on the (tiny) type-pair key; the
    row-normalization window runs on the aggregated matrix, which is
    |event_types|^2 rows regardless of corpus size — at 100 TB the only
    data-scale shuffle is the first one. The probability divides two
    exact counts (same operands both engines), rounded for display."""
    ev = load_events_ms(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts_ms"), F.asc("event_id"))
    ordered = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6).alias("p"),
    )


# ===========================================================================
# feature standardization + outlier flagging (z-score against group moments)
# ===========================================================================


@query(
    "value_zscore_outliers",
    oracle="""
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean,
         sqrt(
           CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           - (CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
         ) AS std
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND((e.value - s.mean) / s.std, 6) AS z,
       (abs((e.value - s.mean) / s.std) > 3.0) AS is_outlier
FROM events e JOIN stats s USING (event_type)
WHERE s.std > 0
""",
)
def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score standardization + 3-sigma outlier flag — the
    feature-scaling/anomaly pass between raw telemetry and model input.
    Group moments come from EXACT decimal sums (order-independent, so
    mean/std are bit-identical on both engines) and broadcast back onto
    the scan (|event_types| rows); each row's z divides the same three
    doubles on both engines, so even the boolean 3-sigma cut needs no
    tolerance. The input is cast to decimal(18,4) — NOT wider — so the
    squared term's product type, decimal(37,8), keeps full scale within
    Spark's precision-38 cap; a wider input (the old 28,10) would make
    Spark truncate the product to scale 6 under allowPrecisionLoss while
    DuckDB keeps scale 20, and the second moment would only be exact by
    accident of coarse-grained data. The one remaining divergence class
    is cast-time rounding ties (a double whose exact decimal expansion
    terminates in ...5 at the 5th place — dyadic rationals only), absent
    from the fixture and measure-zero in real telemetry. One partial-agg
    shuffle + a broadcast join — scan-bound at 100 TB."""
    ev = load_events_raw(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,4)")
    n = F.count(F.lit(1))
    s1 = F.sum(dec).cast("double")
    s2 = F.sum(dec * dec).cast("double")
    mean = s1 / n
    stats = ev.groupBy("event_type").agg(
        mean.alias("mean"), F.sqrt(s2 / n - mean * mean).alias("std")
    ).filter(F.col("std") > 0)
    # the std>0 guard (identical on both engines: std is bit-identical
    # decimal-moment math) removes zero-variance groups, where Spark's
    # x/0.0 -> NULL but DuckDB's IEEE division -> inf would diverge
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(F.broadcast(stats), on="event_type")
        .select(
            "event_id",
            "event_type",
            F.round(z, 6).alias("z"),
            (F.abs(z) > 3.0).alias("is_outlier"),
        )
    )


# ===========================================================================
# time-series densification: gap-filled weekly activity spine
# ===========================================================================


@query(
    "user_week_density",
    oracle="""
WITH weekly AS (
  SELECT user_id, epoch_ms(ts) // 604800000 AS week, COUNT(*) AS n
  FROM events WHERE user_id % 25 = 4 AND event_id % 37 = 0
  GROUP BY user_id, week
),
bounds AS (
  SELECT user_id, MIN(week) AS w0, MAX(week) AS w1 FROM weekly GROUP BY user_id
),
spine AS (
  SELECT user_id, unnest(generate_series(w0, w1)) AS week FROM bounds
)
SELECT s.user_id, s.week, COALESCE(w.n, 0) AS n_events,
       (w.n IS NULL) AS is_gap
FROM spine s LEFT JOIN weekly w USING (user_id, week)
""",
)
def user_week_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled weekly activity spine per user: every week between a
    user's first and last activity appears, zero-filled — the
    densification step that turns sparse event logs into fixed-cadence
    training sequences (a model can't learn 'inactive week' from an
    absent row). sequence() + explode generates each user's spine from
    the 2-value bounds row, so the generated data is output-sized, never
    a calendar cross join; the left join back is key-local. Integer week
    math keeps both engines identical."""
    # the % 37 thinning makes the log sparse enough that real gaps exist
    # at every scale factor — otherwise the zero-fill would be vacuous
    ev = load_events_ms(spark, sf_dir).filter(
        (F.col("user_id") % 25 == 4) & (F.col("event_id") % 37 == 0)
    )
    weekly = (
        ev.select(
            "user_id", (F.col("ts_ms") / F.lit(604800000)).cast("bigint").alias("week")
        )
        .groupBy("user_id", "week")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = weekly.groupBy("user_id").agg(
        F.min("week").alias("w0"), F.max("week").alias("w1")
    )
    spine = bounds.select(
        "user_id", F.explode(F.sequence("w0", "w1")).alias("week")
    )
    return spine.join(weekly, on=["user_id", "week"], how="left").select(
        "user_id",
        "week",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
    )


# ===========================================================================
# join-key skew diagnostics (the detector that motivates salting/AQE)
# ===========================================================================


@query(
    "key_skew_report",
    oracle="""
WITH freq AS (
  SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY o_custkey
),
agg AS (
  SELECT COUNT(*) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         MAX(n) AS max_n,
         CAST(SUM(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))) AS BIGINT)
           AS sum_sq
  FROM freq
)
SELECT n_keys, n_rows, max_n,
       ROUND(CAST(max_n AS DOUBLE) * n_keys / n_rows, 6) AS skew_factor,
       ROUND(CAST(sum_sq AS DOUBLE) * n_keys / (CAST(n_rows AS DOUBLE) * n_rows), 6)
         AS partition_cost_ratio
FROM agg
""",
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for orders.o_custkey — the detector run
    BEFORE choosing salting / AQE skew-join (the mitigations
    `salted_hot_key_agg` / `salted_dim_join` drive). skew_factor =
    max-key frequency over the uniform expectation (1.0 = perfectly
    even; the hottest reducer finishes skew_factor x later than
    average); partition_cost_ratio = sum(n_i^2)·k/N^2, the expected
    join-work blowup vs uniform keys. Two partial-agg shuffles, the
    second over key-cardinality rows; the squared sum goes through exact
    decimals so both engines emit identical integers."""
    freq = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dec = F.col("n").cast("decimal(18,0)")
    agg = freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.sum(dec * dec).cast("bigint").alias("sum_sq"),
    )
    return agg.select(
        "n_keys",
        "n_rows",
        "max_n",
        F.round(
            F.col("max_n").cast("double") * F.col("n_keys") / F.col("n_rows"), 6
        ).alias("skew_factor"),
        F.round(
            F.col("sum_sq").cast("double")
            * F.col("n_keys")
            / (F.col("n_rows").cast("double") * F.col("n_rows")),
            6,
        ).alias("partition_cost_ratio"),
    )


# ===========================================================================
# iterative graph ranking: fixed-point PageRank over the co-purchase graph
# ===========================================================================

_PAGERANK_EDGE_SQL = """
items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
strong AS (
  SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING COUNT(*) >= 2
),
edges AS (
  SELECT pa AS src, pb AS dst FROM strong
  UNION ALL
  SELECT pb AS src, pa AS dst FROM strong
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)
"""

_PAGERANK_ITER_SQL = """
r{i} AS (
  SELECT e.dst AS node,
         CAST(150000 + SUM((r{p}.r * 85) // (100 * deg.d)) AS BIGINT) AS r
  FROM edges e
  JOIN r{p} ON r{p}.node = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)"""


@query(
    "pagerank_copurchase",
    oracle=(
        "WITH "
        + _PAGERANK_EDGE_SQL.strip()
        + ",\nr0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),"
        + ",".join(_PAGERANK_ITER_SQL.format(i=i, p=i - 1) for i in (1, 2, 3))
        + """
SELECT node, r AS rank_micro FROM r3
ORDER BY r DESC, node ASC LIMIT 20
"""
    ),
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (damping 0.85) over the co-purchase item
    graph — iterative graph ranking, the item-importance signal behind
    graph-based recommenders. Exactness story: ranks live in integer
    MICRO-units and each contribution is integer-divided
    (r*85 div (100*deg)), so every iteration is exact BIGINT arithmetic
    — bit-identical across engines and partitionings with no float fold
    anywhere; the unrolled 3-CTE oracle replays it in DuckDB. Scale
    shape: each iteration is one join-on-src + partial-agg-on-dst
    shuffle over the edge list (edges and degrees persist once); the
    driver loop only STACKS plan iterations — no data returns to the
    driver."""
    # per-order part sets in ONE shuffle (collect_set folds the distinct
    # into the aggregate), pairs expanded IN-ROW from the sorted array —
    # the self-join form pays a distinct shuffle plus a two-sided join
    # shuffle for the same pair multiset (order baskets are a few items,
    # so the quadratic expansion is per-row tiny)
    baskets = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    strong = (
        baskets.select(
            F.expr(
                "inline(flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)),"
                " y -> struct(x AS pa, y AS pb)))))"
            )
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("pa", "pb")
    )
    sym = strong.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        strong.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    # the shared operator folds the out-degree INTO the persisted edge
    # list once (a window on src, same partitioning the per-iteration
    # join needs) — the alternative deg-table join re-shuffles every
    # iteration; until_delta mode adds lineage-truncating checkpoints
    # (see operators/graph.py pagerank)
    from bharatmlstack_spark.operators.graph import pagerank

    # sym = strong ∪ reversed(strong): symmetric BY CONSTRUCTION, so the
    # operator skips the endpoint aggregate + no-in probe, and round 1
    # folds the constant seed (operators/graph.py pagerank)
    rank = pagerank(sym, iters=3, symmetric=True)
    return (
        rank.orderBy(F.desc("r"), F.asc("node"))
        .limit(20)
        .select("node", F.col("r").alias("rank_micro"))
    )


# ===========================================================================
# right-to-be-forgotten: bucket-scoped key deletion through the store API
# ===========================================================================


@query(
    "feature_delete_keys",
    oracle="""
WITH cust AS (
  SELECT c_custkey AS user_id, CAST(c_custkey % 80 + 18 AS INT) AS age
  FROM customer
),
req AS (SELECT user_id FROM cust WHERE user_id % 3 = 2),
live AS (SELECT user_id, age FROM cust WHERE user_id % 9 <> 2)
SELECT r.user_id, COALESCE(l.age, 0) AS demo_int32__age
FROM req r LEFT JOIN live l USING (user_id)
""",
)
def feature_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style hard delete end to end through the store API: persist a
    bucketed feature table, DELETE every key with user_id % 9 = 2
    (FeatureStore.delete — bucket-scoped anti-join whose survivors are
    written once and swapped in by one bucket commit, untouched bucket
    dirs never rewritten, emptied dirs dropped), then retrieve a request
    set spanning deleted and surviving keys. Deleted keys come back as
    the FG default — exactly how a forgotten user must look to every
    downstream consumer. The oracle
    replays persist-minus-delete declaratively. At 100 TB the delete
    costs O(touched buckets), the same contract as persist
    (operators/feature_store.py:delete)."""
    import shutil

    from bharatmlstack_spark import fixtures as FX
    from bharatmlstack_spark.operators.feature_store import FeatureStore
    from bharatmlstack_spark.query_registry import defer_cleanup

    base = scratch_dir("bmls_featdel_")
    defer_cleanup(lambda base=base: shutil.rmtree(base, ignore_errors=True))
    fs = FeatureStore(spark, FX.user_registry(), base, n_buckets=8)

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        (F.col("c_custkey") % 80 + 18).cast("int").alias("demo_int32__age"),
    )
    fs.persist("user", c)
    fs.delete("user", c.filter(F.col("user_id") % 9 == 2).select("user_id"))

    req = c.filter(F.col("user_id") % 3 == 2).select("user_id")
    out = fs.retrieve(
        "user", {"demo_int32": ["age"]}, req, feature_table=fs.load("user")
    )
    return out.select("user_id", "demo_int32__age")


# ===========================================================================
# recency weighting: exact integer half-life decay (recommender features)
# ===========================================================================


@query(
    "time_decay_user_value",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms,
         CAST(ROUND(value * 1000, 0) AS BIGINT) AS v_milli
  FROM events
),
mx AS (SELECT MAX(ts_ms) AS ref FROM e)
SELECT user_id,
       CAST(SUM(v_milli // CAST(pow(2, LEAST((ref - ts_ms) // 604800000, 50)) AS BIGINT)) AS BIGINT)
         AS decayed_milli,
       COUNT(*) AS n_events
FROM e, mx
GROUP BY user_id
""",
)
def time_decay_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user value with a one-week half-life — the decay
    feature recommenders use so last week's purchase outweighs last
    year's. Exactness story: the weight is 2^(-age_weeks) with an INTEGER
    exponent, so each contribution is one integer division
    (v_milli div 2^k) — no pow-of-fractions, no float fold anywhere; the
    per-user sum is exact BIGINT arithmetic, bit-identical across engines
    and partitionings (the same discipline as pagerank_copurchase).
    value*1000 is integral in the fixture (<=2-decimal values), so the
    ROUND only strips float representation error — identically on both
    engines. The reference epoch is a 1-row broadcast (corpus max ts);
    the exponent caps at 50 to keep 2^k inside BIGINT. One partial-agg
    shuffle on user_id — scan-bound at 100 TB."""
    ev = load_events_ms(spark, sf_dir).select("user_id", "ts_ms", "value")
    ref = ev.agg(F.max("ts_ms").alias("ref"))
    contrib = F.expr(
        "CAST(ROUND(value * 1000, 0) AS BIGINT)"
        " div CAST(pow(2, LEAST((ref - ts_ms) div 604800000, 50)) AS BIGINT)"
    )
    return (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.sum(contrib).cast("long").alias("decayed_milli"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ===========================================================================
# tabular-ML feature engineering: target encoding, WOE bins, hash crossing
# ===========================================================================


@query(
    "target_encode_loo",
    oracle="""
WITH e AS (
  SELECT event_id, event_type, value,
         CAST(value AS DECIMAL(18,4)) AS v_dec
  FROM events WHERE event_id % 20 = 11
),
g AS (
  SELECT event_type, SUM(v_dec) AS s, COUNT(*) AS n
  FROM e GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       CASE WHEN g.n > 1
            THEN ROUND(CAST(g.s - e.v_dec AS DOUBLE) / (g.n - 1), 6)
       END AS te_loo
FROM e JOIN g USING (event_type)
""",
)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe way to turn a
    categorical column into a numeric feature: each row gets the mean
    target of its OWN category computed WITHOUT itself, so the encoding
    never memorizes the row's own label. Exactness: the category sum is
    an exact decimal (order-independent); each row then computes
    (S - v_i) in exact decimal before ONE double division by (n-1) —
    identical operands on both engines, so the quotient is bit-identical
    and the 6-dp round is pure formatting. Group stats broadcast back
    onto the scan (|categories| rows); one partial-agg shuffle."""
    ev = (
        load_events_raw(spark, sf_dir)
        .filter(F.col("event_id") % 20 == 11)
        .select(
            "event_id",
            "event_type",
            "value",
            F.col("value").cast("decimal(18,4)").alias("v_dec"),
        )
    )
    g = ev.groupBy("event_type").agg(
        F.sum("v_dec").alias("s"), F.count(F.lit(1)).alias("n")
    )
    loo = F.when(
        F.col("n") > 1,
        F.round((F.col("s") - F.col("v_dec")).cast("double") / (F.col("n") - 1), 6),
    )
    return ev.join(F.broadcast(g), on="event_type").select(
        "event_id", "event_type", loo.alias("te_loo")
    )


@query(
    "woe_binning",
    oracle="""
WITH e AS (
  SELECT LEAST(CAST(FLOOR(value / 50) AS INT), 9) AS bin,
         (event_type = 'purchase') AS pos
  FROM events
),
b AS (
  SELECT bin,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM e GROUP BY bin
),
t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p, CAST(SUM(n_neg) AS BIGINT) AS q FROM b)
SELECT bin, n_pos, n_neg,
       ROUND(ln(((n_pos + 0.5) / (t.p + 0.5)) / ((n_neg + 0.5) / (t.q + 0.5))), 6) AS woe
FROM b, t
""",
)
def woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning — the credit-scoring/feature-selection
    statistic: bucket the numeric feature (fixed-width bins, integer
    math), count positives (purchases) and negatives per bin, and score
    each bin's evidence ln((pos_rate)/(neg_rate)) with 0.5 smoothing so
    empty cells stay finite. Counts are exact integers on both engines;
    the single ln of identical doubles rounds at 6 dp (ten bins — ulp
    divergence is measure-zero). One partial-agg shuffle + a 1-row
    broadcast of the totals."""
    # explicit FLOOR: a bare double->int CAST truncates in Spark but
    # ROUNDS in DuckDB — floor is the one bucketing both engines share
    ev = load_events_raw(spark, sf_dir).select(
        F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(9)).alias("bin"),
        (F.col("event_type") == "purchase").alias("pos"),
    )
    b = ev.groupBy("bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("long").alias("n_neg"),
    )
    t = b.agg(
        F.sum("n_pos").cast("long").alias("p"), F.sum("n_neg").cast("long").alias("q")
    )
    woe = F.round(
        F.log(
            ((F.col("n_pos") + 0.5) / (F.col("p") + 0.5))
            / ((F.col("n_neg") + 0.5) / (F.col("q") + 0.5))
        ),
        6,
    )
    return b.crossJoin(F.broadcast(t)).select("bin", "n_pos", "n_neg", woe.alias("woe"))


@query(
    "feature_hash_cross",
    oracle="""
WITH e AS (
  SELECT (((user_id % 1048576) * 2654435761
           + (event_id % 100) * 40503) % 1048576) % 1024 AS bucket,
         user_id, event_id % 100 AS b_feat
  FROM events
)
SELECT bucket,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT user_id * 100 + b_feat) AS n_crosses
FROM e GROUP BY bucket
""",
)
def feature_hash_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick for feature crosses: (user_id x event bucket)
    pairs hash into 1024 buckets with pure integer mixing (Knuth
    multiplicative constants — identical BIGINT arithmetic on both
    engines, no engine hash functions), and the row reports per-bucket
    load plus the DISTINCT cross count, i.e. the collision profile a
    wide-model pipeline checks before committing to a hash width. One
    partial-agg shuffle; the distinct is bucket-local.

    The id is reduced mod 2^20 BEFORE the Knuth multiply: the raw
    product overflows int64 for ids >= ~3.5e9, where Spark wraps
    silently but DuckDB promotes to HUGEINT — the reduced form keeps
    the product < 2^52, exact on both engines at any real id range
    (the bucket distribution is unchanged in character: the multiply
    mixes the low 20 bits, the outer mod folds to the table width).
    The n_crosses key user_id*100+b_feat stays exact for ids < 2^63/100
    — the int64 range itself, a documented precondition, not a hash."""
    ev = load_events_ms(spark, sf_dir).select(
        (
            (((F.col("user_id") % 1048576) * 2654435761
              + (F.col("event_id") % 100) * 40503)
             % 1048576) % 1024
        ).alias("bucket"),
        "user_id",
        (F.col("event_id") % 100).alias("b_feat"),
    )
    return ev.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.col("user_id") * 100 + F.col("b_feat")).alias("n_crosses"),
    )


# ===========================================================================
# table maintenance: small-file compaction (ops-side scale hygiene)
# ===========================================================================


@query(
    "compact_small_files",
    oracle="""
SELECT 64 AS files_before,
       CAST(CEIL(COUNT(*) / 4000.0) AS BIGINT) AS files_after,
       COUNT(*) AS n_rows
FROM events
""",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end to end: fragment the event log into 64
    deliberately tiny files (what a streaming sink or per-bucket upsert
    leaves behind), then compact_parquet rewrites them into
    ceil(n / 4000) right-sized files — counts verified from the
    READ-BACK table via input_file_name, not the writer's claim. Row
    preservation and the deterministic output file count are the oracle
    (round-robin repartition leaves no empty partition when n >= k). At
    100 TB this runs per partition directory; the footer/open cost of
    10^6 tiny files is one of the classic silent scan killers."""
    from bharatmlstack_spark.sources.writers import compact_parquet

    work = scratch_dir("bmls_compact_")
    ev = load_events_ms(spark, sf_dir).select("event_id", "user_id", "ts_ms")
    ev.repartition(64).write.parquet(f"{work}/fragmented")
    stats = compact_parquet(
        spark, f"{work}/fragmented", f"{work}/compacted", target_rows_per_file=4000
    )
    return spark.createDataFrame(
        [(stats["files_before"], stats["files_after"], stats["n_rows"])],
        "files_before bigint, files_after bigint, n_rows bigint",
    )


# ===========================================================================
# CDC merge: apply an insert/update/delete change batch onto a snapshot
# ===========================================================================


@query(
    "cdc_apply",
    oracle="""
WITH snap AS (
  SELECT c_custkey AS user_id,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal
  FROM customer
),
cdc AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(ROUND(value * 1000, 0) AS BIGINT) AS bal
  FROM events WHERE user_id % 2 = 1
),
latest AS (
  SELECT user_id, op, bal FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
    FROM cdc
  ) WHERE rn = 1
)
SELECT COALESCE(s.user_id, l.user_id) AS user_id,
       CASE WHEN l.op IS NOT NULL THEN l.bal ELSE s.bal END AS bal,
       CASE WHEN l.op IS NULL THEN 'snapshot' ELSE 'cdc' END AS src
FROM snap s FULL JOIN latest l ON s.user_id = l.user_id
WHERE l.op IS NULL OR l.op <> 'D'
""",
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingestion (the Debezium/MERGE INTO primitive): a change batch
    of upserts and deletes — sequence-numbered, odd users only — applies
    onto the customer snapshot. Per key the highest-sequence change
    wins: a delete drops the key, an upsert replaces the payload (and
    INSERTS keys the snapshot never had — the event log's user ids only
    partially overlap customers, so all three paths exercise), untouched
    keys keep their snapshot row; `src` labels the provenance. Spark
    cannot broadcast a side of a FULL OUTER join, so the operator splits
    the merge: snapshot LEFT JOIN broadcast(changes) for
    update/delete/keep (zero snapshot shuffle) plus a keys-only
    anti-join for inserts — the snapshot's full rows never cross the
    wire. See operators/incremental.cdc_apply."""
    from bharatmlstack_spark.operators.incremental import cdc_apply as apply_cdc

    snap = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.expr("CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)").alias("bal"),
    )
    changes = (
        load_events_ms(spark, sf_dir)
        .filter(F.col("user_id") % 2 == 1)
        .select(
            "user_id",
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
            F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("bal"),
        )
    )
    return apply_cdc(snap, changes, key_cols=["user_id"], seq_col="seq")


@query(
    "stream_cdc_apply",
    oracle="""
WITH snap AS (
  SELECT c_custkey AS user_id,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal
  FROM customer
),
cdc AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(ROUND(value * 1000, 0) AS BIGINT) AS bal
  FROM events WHERE user_id % 2 = 1
),
latest AS (
  SELECT user_id, op, bal FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
    FROM cdc
  ) WHERE rn = 1
)
SELECT COALESCE(s.user_id, l.user_id) AS user_id,
       CASE WHEN l.op IS NOT NULL THEN l.bal ELSE s.bal END AS bal,
       CASE WHEN l.op IS NULL THEN 'snapshot' ELSE 'cdc' END AS src
FROM snap s FULL JOIN latest l ON s.user_id = l.user_id
WHERE l.op IS NULL OR l.op <> 'D'
""",
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cdc_apply driven through foreachBatch over a replayed topic — the
    streaming half of the CDC write path (consumer replay,
    online-feature-store/internal/consumer/listeners/kafka.go:49-120).
    The change log splits into 3 micro-batches whose per-key sequence
    numbers SPAN batch boundaries (repartition by seq hash — a key's
    newest change can land in an earlier batch than its oldest), then
    the ENTIRE topic replays a second time under a fresh checkpoint —
    at-least-once redelivery of every batch. The state sink's seq guard
    plus delete tombstones make both orderings and the replay converge
    on the one-shot batch answer: the DuckDB oracle is the SAME
    full-outer max-seq merge that checks cdc_apply. The state uses the
    bucket-partitioned layout (n_buckets=8), so each micro-batch
    rewrites only the bucket directories its keys hash into — the
    FeatureStore.persist cost model, pytest-pinned in
    tests/test_streaming.py. See streaming/ingest.stream_cdc_sink."""
    from bharatmlstack_spark.streaming.ingest import seed_cdc_state, stream_cdc_sink

    snap = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.expr("CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)").alias("bal"),
    )
    changes = (
        load_events_ms(spark, sf_dir)
        .filter(F.col("user_id") % 2 == 1)
        .select(
            "user_id",
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
            F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("bal"),
        )
    )
    work = scratch_dir("bmls_cdcstream_")
    topic, state = f"{work}/topic", f"{work}/state"
    # 3 micro-batches; seq-hash split => per-key sequences cross batches
    changes.repartition(3, "seq").write.parquet(topic)
    # seed: snapshot rows carry NULL __last_seq (never touched by a change)
    seed_cdc_state(snap, state, key_cols=["user_id"], n_buckets=8)

    schema = "user_id long, seq long, op string, bal long"
    for replay in ("ckpt1", "ckpt2"):  # second pass = full redelivery
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_cdc_sink(
            stream, state, f"{work}/{replay}", spark,
            key_cols=["user_id"], seq_col="seq", op_col="op",
            trigger_once=True,
        )
        await_stream(q, 300)

    st = spark.read.parquet(state)
    return st.filter(F.col("__op") != "D").select(
        "user_id",
        "bal",
        F.when(F.col("__last_seq").isNotNull(), F.lit("cdc"))
        .otherwise(F.lit("snapshot"))
        .alias("src"),
    )


@query(
    "stream_cdc_gc",
    oracle="""
WITH snap AS (
  SELECT c_custkey AS user_id,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal
  FROM customer
),
cdc AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(ROUND(value * 1000, 0) AS BIGINT) AS bal
  FROM events WHERE user_id % 2 = 1
),
latest AS (
  SELECT user_id, op, bal FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
    FROM cdc
  ) WHERE rn = 1
)
SELECT COALESCE(s.user_id, l.user_id) AS user_id,
       CASE WHEN l.op IS NOT NULL THEN l.bal ELSE s.bal END AS bal,
       CASE WHEN l.op IS NULL THEN 'snapshot' ELSE 'cdc' END AS src,
       TRUE AS gc_ok
FROM snap s FULL JOIN latest l ON s.user_id = l.user_id
WHERE l.op IS NULL OR l.op <> 'D'
""",
)
def stream_cdc_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC tombstone GC end to end — the step that keeps a year-long CDC
    state from accreting dead tombstones (Scylla's gc_grace_seconds
    semantics; the watermark soundness comes from the consumer's
    commit-AFTER-apply ordering, online-feature-store/internal/consumer/
    listeners/kafka.go:49-120 — Kafka redelivers only uncommitted
    offsets, so no change at or below the committed watermark can ever
    arrive again). Scenario:

    1. replay the change topic through stream_cdc_sink (bucketed state);
    2. GC at the exact MEDIAN tombstone sequence — compact_cdc_state
       physically drops every delete tombstone with seq <= watermark
       (about half), keeps the rest;
    3. deliver a crafted STALE update (seq = tombstone seq - 1, still
       above the watermark) for every surviving tombstoned key — each
       must be rejected by the seq guard: an accepted one would
       resurrect a deleted key and surface as an extra survivor row,
       turning the hash red;
    4. read out survivors + a plan-computed gc_ok flag: TRUE iff the GC
       removed at least one tombstone AND no at-or-below-watermark
       tombstone remains in the state.

    Survivors are GC-invariant, so the oracle is the same one-shot
    full-outer max-seq merge that checks cdc_apply/stream_cdc_apply,
    with the flag as a constant TRUE column. See
    streaming/ingest.compact_cdc_state."""
    from bharatmlstack_spark.streaming.ingest import (
        compact_cdc_state,
        seed_cdc_state,
        stream_cdc_sink,
    )

    snap = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.expr("CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)").alias("bal"),
    )
    changes = (
        load_events_ms(spark, sf_dir)
        .filter(F.col("user_id") % 2 == 1)
        .select(
            "user_id",
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
            F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("bal"),
        )
    )
    work = scratch_dir("bmls_cdcgc_")
    topic, state = f"{work}/topic", f"{work}/state"
    changes.repartition(3, "seq").write.parquet(topic)
    seed_cdc_state(snap, state, key_cols=["user_id"], n_buckets=8)

    schema = "user_id long, seq long, op string, bal long"

    def deliver(topic_dir: str, ck: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(topic_dir)
        )
        q = stream_cdc_sink(
            stream, state, f"{work}/{ck}", spark,
            key_cols=["user_id"], seq_col="seq", op_col="op",
            trigger_once=True,
        )
        await_stream(q, 300)

    deliver(topic, "ck_apply")

    # committed watermark = exact median tombstone sequence: >=1 tombstone
    # is at-or-below (the median IS an element) and, for n >= 2 distinct
    # seqs, >=1 stays above — both GC branches exercise (two bounded
    # actions on the tombstone-only slice, driver-side metadata)
    tombs = spark.read.parquet(state).filter(F.col("__op") == "D")
    n_tombs = tombs.count()
    if n_tombs == 0:
        # .collect()[0][0] below would raise an opaque IndexError
        raise RuntimeError(
            "stream_cdc_gc: change topic yielded no tombstones ('D' rows) — "
            "no GC watermark can be derived; the fixture must carry deletes"
        )
    watermark = (
        tombs.select("__last_seq")
        .orderBy("__last_seq")
        .limit(n_tombs // 2 + 1)
        .orderBy(F.desc("__last_seq"))
        .limit(1)
        .collect()[0][0]
    )
    removed = compact_cdc_state(spark, state, watermark_seq=watermark)

    # stale updates for every surviving tombstoned key: above the
    # watermark (the delivery contract) but below the tombstone's seq —
    # every one must bounce off the (key, __last_seq) guard
    stale_topic = f"{work}/stale_topic"
    (
        spark.read.parquet(state)
        .filter((F.col("__op") == "D") & (F.col("__last_seq") >= watermark + 2))
        .select(
            "user_id",
            (F.col("__last_seq") - 1).alias("seq"),
            F.lit("U").alias("op"),
            F.lit(999_999_999).cast("long").alias("bal"),
        )
        .coalesce(1)
        .write.parquet(stale_topic)
    )
    deliver(stale_topic, "ck_stale")

    st = spark.read.parquet(state)
    flag = (
        st.agg(
            F.sum(
                F.when(
                    (F.col("__op") == "D")
                    & (F.col("__last_seq") <= F.lit(watermark)),
                    1,
                ).otherwise(0)
            ).alias("__dead_left")
        )
        .select(
            ((F.col("__dead_left") == 0) & F.lit(removed > 0)).alias("gc_ok")
        )
    )
    return (
        st.filter(F.col("__op") != "D")
        .select(
            "user_id",
            "bal",
            F.when(F.col("__last_seq").isNotNull(), F.lit("cdc"))
            .otherwise(F.lit("snapshot"))
            .alias("src"),
        )
        .crossJoin(F.broadcast(flag))
    )
