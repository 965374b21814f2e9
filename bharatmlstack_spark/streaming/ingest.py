"""Structured Streaming ingestion — the reference's Kafka consumers as
streaming jobs (SURVEY.md §2.9).

Reference surface:
- SS1 feature-persist consumer with per-entity ordering
  (online-feature-store/internal/consumer/listeners/kafka.go:49-120 — FNV
  worker sharding keeps per-key order; Spark analog: repartition by key
  inside foreachBatch before the upsert)
- SS2 upsert-with-TTL (persist.go:375-383 SetTTL; reads drop expired)
- SS3/SS4 weekly tumbling windows + late-data merge (persist/click.go)
- SS5 stateful top-K per (user, week) cap 500 (persist/click.go:178-181)
- SS9 realtime embedding aggregation (skye scylla_aggregator.go)

Design: every sink is ``foreachBatch`` re-using the BATCH operators
(FeatureStore.persist, EventStore.merge_trim), so streaming correctness
reduces to the batch oracle checks — the micro-batch is just a small batch.
Kafka sources need the kafka connector package on the cluster; the file
source paths below are drop-in equivalents and are what the tests drive.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bharatmlstack_spark import stateroot
from bharatmlstack_spark.operators.event_store import EventStore
from bharatmlstack_spark.operators.feature_store import (
    TABLE_META_FILE,
    FeatureStore,
    hadoop_path_exists,
    read_table_meta,
)
from bharatmlstack_spark.tablecommit import (
    BUCKET_MARKER_SUFFIX,
    commit,
    commit_buckets,
    commit_root,
    commit_roots,
    finish_commit,
)

# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------


def kafka_feature_source(
    spark: SparkSession, brokers: str, topic: str, value_schema: str
) -> DataFrame:
    """SS1: the feature-persist topic as a stream.

    The reference's payload is a protobuf persist.Query; here the wire
    format is JSON with an explicit schema (schema registry-driven, never
    inferred). Requires spark-sql-kafka on the cluster classpath.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("q")
    ).select("q.*")


def kafka_event_source(
    spark: SparkSession, brokers: str, topic: str, value_schema: str
) -> DataFrame:
    """SS1 for interaction events (click/order consumers)."""
    return kafka_feature_source(spark, brokers, topic, value_schema)


def decode_persist_queries(
    df: DataFrame,
    registry,
    entity_label: str,
    value_col: str = "value",
    key_types: dict[str, str] | None = None,
) -> DataFrame:
    """Decode protobuf ``persist.Query`` payloads (the reference's actual
    Kafka wire format, online-feature-store/pkg/proto/persist.proto:36-41)
    into wide feature rows — one output row per ``Data`` entry.

    Works identically on batch and streaming DataFrames (``mapInPandas``
    is supported in both), so the streaming source decodes with the exact
    code the round-trip test pins. The codec is
    :mod:`bharatmlstack_spark.functions.protowire` — a pure-python proto3
    wire implementation (no protobuf lib in the sandbox); payloads encoded
    by any standard protobuf library parse (packed and unpacked accepted).

    Column mapping mirrors the py-sdk push client in reverse
    (spark_feature_push_client/client.py:47-150): per FG the declared
    DataType picks the typed repeated field; feature order inside it is
    the message's own ``feature_labels`` order. ``key_values`` arrive as
    strings (proto schema) and cast to ``key_types`` when given.
    """
    from pyspark.sql import types as T

    from bharatmlstack_spark.query_registry import ensure_workers_have_package
    from bharatmlstack_spark.registry import DataType

    entity = registry.entity(entity_label)
    spark = df.sparkSession
    ensure_workers_have_package(spark)

    fields = [T.StructField(k, T.StringType(), True) for k in entity.key_columns]
    fg_types: dict[str, DataType] = {}
    for fg in entity.feature_groups.values():
        fg_types[fg.label] = fg.data_type
        fields.extend(fg.spark_fields)
    schema = T.StructType(fields)
    out_cols = [f.name for f in fields]
    key_cols = list(entity.key_columns)
    fg_datatype = {label: dt.value for label, dt in fg_types.items()}

    # DataType -> Values wire field (client.py:80-150's switch, reversed)
    def wire_field(dt_name: str) -> str:
        base = dt_name.removesuffix("Vector")
        if base.startswith(("FP8", "FP16", "FP32")):
            return "fp32_values"
        if base == "FP64":
            return "fp64_values"
        if base in ("Int8", "Int16", "Int32"):
            return "int32_values"
        if base == "Int64":
            return "int64_values"
        if base in ("Uint8", "Uint16", "Uint32"):
            return "uint32_values"
        if base == "Uint64":
            return "uint64_values"
        if base == "String":
            return "string_values"
        if base == "Bool":
            return "bool_values"
        raise ValueError(f"no wire field for {dt_name}")

    def gen(batches):
        import pandas as pd

        from bharatmlstack_spark.functions import protowire

        for pdf in batches:
            rows: list[dict] = []
            for raw in pdf[value_col]:
                q = protowire.decode_query(bytes(raw))
                if q["entity_label"] != entity.label:
                    raise ValueError(
                        f"payload entity {q['entity_label']!r} != {entity.label!r}"
                    )
                for data in q["data"]:
                    row = dict(zip(q["keys_schema"], data["key_values"]))
                    for (fg_label, feats), vals in zip(
                        q["fg_schemas"], data["feature_values"]
                    ):
                        dt_name = fg_datatype[fg_label]
                        fld = wire_field(dt_name)
                        vector = dt_name.endswith("Vector")
                        for i, feat in enumerate(feats):
                            col = f"{fg_label}__{feat}"
                            if vector:
                                vec = vals.get("vector", [])
                                row[col] = (
                                    list(vec[i].get(fld, [])) if i < len(vec) else None
                                )
                            else:
                                lst = vals.get(fld, [])
                                row[col] = lst[i] if i < len(lst) else None
                    rows.append(row)
            yield pd.DataFrame(rows, columns=out_cols)

    out = df.select(value_col).mapInPandas(gen, schema)
    for k, t in (key_types or {}).items():
        out = out.withColumn(k, F.col(k).cast(t))
    return out


def decode_event_requests(
    df: DataFrame, kind: str, value_col: str = "value"
) -> DataFrame:
    """Decode protobuf ``PersistClickDataRequest`` / ``PersistOrderData-
    Request`` payloads (interaction-store/pkg/proto/time_series.proto:
    11-34) into flat event rows — one output row per ``data`` entry, with
    an ``event_type`` discriminator ('click'/'order') so the stream can
    feed the clicks-union-orders operators (O2) directly.

    Same batch-and-streaming mapInPandas shape as
    :func:`decode_persist_queries`; the codec is the pure-python
    :mod:`bharatmlstack_spark.functions.protowire`.
    """
    from pyspark.sql import types as T

    from bharatmlstack_spark.functions.protowire import EVENT_FIELD_SPECS
    from bharatmlstack_spark.query_registry import ensure_workers_have_package

    if kind not in EVENT_FIELD_SPECS:
        raise ValueError(f"unknown event kind {kind!r}")
    ensure_workers_have_package(df.sparkSession)

    fields = [
        T.StructField("user_id", T.StringType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("catalog_id", T.IntegerType(), True),
        T.StructField("product_id", T.IntegerType(), True),
        T.StructField("timestamp", T.LongType(), True),
        T.StructField("metadata", T.StringType(), True),
    ]
    if kind == "order":
        fields.insert(4, T.StructField("sub_order_num", T.StringType(), True))
    schema = T.StructType(fields)
    out_cols = [f.name for f in fields]

    def gen(batches):
        import pandas as pd

        from bharatmlstack_spark.functions import protowire

        for pdf in batches:
            rows: list[dict] = []
            for raw in pdf[value_col]:
                req = protowire.decode_event_request(bytes(raw), kind)
                for data in req["data"]:
                    row = {"user_id": req["user_id"], "event_type": kind, **data}
                    rows.append(row)
            yield pd.DataFrame(rows, columns=out_cols)

    return df.select(value_col).mapInPandas(gen, schema)


def parse_embedding_payloads(
    df: DataFrame, registry, entity_label: str, value_col: str = "value"
) -> DataFrame:
    """S6: decode skye aggregator payloads — JSON objects shaped
    ``{entity, model, candidate_id, columns: {name: value-string}}``
    (skye/internal/consumers/handler/aggregator/models.go:3-8) — into wide
    typed rows. A payload's ``columns`` map is SPARSE: absent columns come
    out NULL *and* a ``__present`` column records which were provided, so
    :func:`skye_aggregator_sink` can merge only the provided ones (the
    aggregator's changed-columns semantics, scylla_aggregator.go:60-84).

    Values in the map are strings on the wire; vector columns are parsed
    as JSON arrays, scalars cast to the registry type.
    """
    from pyspark.sql import types as T

    entity = registry.entity(entity_label)
    payload_schema = T.StructType(
        [
            T.StructField("entity", T.StringType()),
            T.StructField("model", T.StringType()),
            T.StructField("candidate_id", T.StringType()),
            T.StructField("columns", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    p = df.select(
        F.from_json(F.col(value_col).cast("string"), payload_schema).alias("p")
    ).filter(F.col("p.entity") == entity_label)

    key = entity.key_columns[0]
    cols = [F.col("p.candidate_id").cast("long").alias(key), F.col("p.model").alias("model")]
    present = []
    for fg in entity.feature_groups.values():
        for feat in fg.version_features():
            c = fg.column_name(feat.label)
            raw = F.element_at(F.col("p.columns"), c)
            if fg.data_type.is_vector:
                typed = F.from_json(raw, fg.data_type.spark_type.simpleString())
            else:
                typed = raw.cast(fg.data_type.spark_type)
            cols.append(typed.alias(c))
            present.append(F.when(raw.isNotNull(), F.lit(c)))
    cols.append(
        F.array_compact(F.array(*present)).alias("__present")
        if present
        else F.array().cast("array<string>").alias("__present")
    )
    return p.select(*cols)


def skye_aggregator_sink(
    stream_df: DataFrame,
    feature_store: FeatureStore,
    entity_label: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """S6/SS9 with per-row sparse updates: each micro-batch groups rows by
    their provided-column signature and column-wise upserts each group, so
    a payload that carries only ``emb__vector`` can never null out a stored
    ``payload__brand`` written earlier (scylla_aggregator.go:60-84 queries,
    merges changed columns, persists).

    The signature list is collected driver-side: it is bounded by the
    number of DISTINCT column subsets in the batch (metadata-scale — at
    most 2^n_cols but in practice the handful of producer shapes), never by
    row count.
    """

    def _agg(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        key_cols = feature_store.registry.entity(entity_label).key_columns
        sigs = [
            r[0]
            for r in batch_df.select(
                F.array_join(F.array_sort("__present"), ",").alias("sig")
            )
            .distinct()
            .collect()
        ]
        for sig in sigs:
            cols = [c for c in sig.split(",") if c]
            group = batch_df.filter(
                F.array_join(F.array_sort("__present"), ",") == sig
            ).select(*key_cols, *cols)
            feature_store.persist(
                entity_label, group.repartition(*key_cols)
            )

    writer = stream_df.writeStream.foreachBatch(_agg).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# sinks (foreachBatch -> batch operators)
# ---------------------------------------------------------------------------


def feature_upsert_sink(
    stream_df: DataFrame,
    feature_store: FeatureStore,
    entity_label: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """SS1+SS2: per-micro-batch upsert through FeatureStore.persist — the
    same latest-wins MERGE the batch path uses, so per-key ordering inside
    a batch is resolved by the window, and TTL stamping comes from the
    entity's registry TTL (persist.go:375-383)."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        key_cols = feature_store.registry.entity(entity_label).key_columns
        # per-key ordering guarantee (the FNV worker sharding analog):
        # co-locate each key before the upsert
        feature_store.persist(entity_label, batch_df.repartition(*key_cols))

    writer = stream_df.writeStream.foreachBatch(_upsert).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_retention(
    stream_df: DataFrame,
    store: EventStore,
    state_path: str,
    checkpoint_dir: str,
    spark: SparkSession,
    trigger_once: bool = False,
):
    """SS3+SS5 (batch-MERGE fallback path): merge each micro-batch into the
    parquet event state and re-trim to top-N per (user, week) — exactly
    EventStore.merge_trim, so late/out-of-order arrivals re-sort within
    their week (SS4, persist/click.go:165-182). Each batch writes the
    merged state once and swaps it in with tablecommit.commit_root, so a
    batch killed at any step leaves the old or the new state; the commit
    records the state's schema, so the next batch reads it without an
    inference job."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # a batch killed mid-swap must not read as a missing state
        finish_commit(spark, state_path + BUCKET_MARKER_SUFFIX)
        if hadoop_path_exists(spark, state_path):
            existing = stateroot.read(spark, state_path)
            merged = store.merge_trim(existing, batch_df)
        else:
            merged = store.merge_trim(batch_df)
        commit_root(merged, state_path)

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def seed_cdc_state(
    snapshot: DataFrame,
    state_path: str,
    key_cols: list[str],
    n_buckets: int | None = None,
) -> None:
    """Write the initial CDC state: the snapshot plus the sink's
    bookkeeping columns (__op='U', __last_seq=NULL — never touched by a
    change), in the bucket layout when ``n_buckets`` is set. The layout
    is RECORDED in the state's meta sidecar — stream_cdc_sink and
    compact_cdc_state read it from there, so the bucket count is a
    property of the state, not a per-call argument that could silently
    mismatch (the FeatureStore _effective_n_buckets discipline) — with
    the state's read schema (stateroot.read).

    An EMPTY snapshot (bootstrapping a table purely from the change
    stream) seeds a flat schema-ful zero-row parquet even in bucketed
    mode: a partitionBy write of zero rows leaves a file-less dir that
    cannot be read back; the flat empty file reads fine, carries no
    __kb partition values (nothing to prune), and the first real batch
    converts it to the bucket dirs with one root commit that brings the
    sidecar in with them."""
    seeded = snapshot.withColumn("__op", F.lit("U")).withColumn(
        "__last_seq", F.lit(None).cast("long")
    )
    col = None
    if n_buckets is not None and not seeded.isEmpty():
        col = "__kb"
        seeded = seeded.withColumn(
            "__kb",
            F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)),
        ).repartition("__kb")
    elif n_buckets is not None:
        # flat zero-row bootstrap WITHOUT the partition column (its
        # presence as a data column would conflict with the partition
        # dirs the first batch writes); repartition(1) forces one
        # schema-ful part file — a partitionBy write of zero rows would
        # leave a file-less dir
        seeded = seeded.repartition(1)
    (seeded.write.partitionBy(col) if col else seeded.write).parquet(state_path)
    layout = {} if n_buckets is None else {"n_buckets": n_buckets}
    schema = stateroot.stored_schema(seeded, col).jsonValue()
    stateroot.update_meta(
        snapshot.sparkSession, state_path, lambda m: m.update(layout, schema=schema)
    )


def cdc_state_n_buckets(spark: SparkSession, state_path: str) -> int | None:
    """The state's recorded bucket layout (None = flat)."""
    meta = read_table_meta(spark, state_path)
    return int(meta["n_buckets"]) if meta and "n_buckets" in meta else None


def _bind_cdc(spark: SparkSession, state_path: str) -> int | None:
    """The recorded bucket count, held to the physical layout by
    stateroot.bind. The bootstrap conversion's root commit brings the
    sidecar in with the '__kb' dirs, so a bucket-partitioned state
    without one was damaged outside the sink. Treating it as flat would
    be silently wrong twice over: every later batch would rewrite the
    FULL state (the O(touched buckets) cost model lost for good) and
    would write '__kb' as a DATA column conflicting with the partition
    dirs. Fail loudly — never degrade the layout. (A bucketed state may
    still be the flat zero-row bootstrap file, see seed_cdc_state.)"""
    return stateroot.bind(
        spark,
        "CDC state",
        state_path,
        {},
        {"n_buckets": None},
        hint="Repair: write_table_meta(spark, state_path, <the n_buckets "
        "the state was seeded with>).",
        layout=lambda c: {state_path: None if c["n_buckets"] is not None else False},
    )["n_buckets"]


def stream_cdc_sink(
    stream_df: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    spark: SparkSession,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    trigger_once: bool = False,
):
    """Streaming CDC: apply sequence-numbered insert/update/delete
    micro-batches onto a snapshot with exactly-once EFFECT under
    at-least-once DELIVERY (the consumer replay path,
    online-feature-store/internal/consumer/listeners/kafka.go:49-120 —
    Kafka redelivers, per-key order holds only within a shard).

    The caller seeds ``state_path`` via ``seed_cdc_state``: snapshot plus
    two bookkeeping columns — ``__op`` (winning op; DELETES PERSIST AS
    TOMBSTONE ROWS so a late stale update cannot resurrect a deleted
    key — readout filters them) and ``__last_seq`` (highest applied
    sequence; NULL for untouched snapshot rows). The bucket layout is
    read from the state's meta sidecar, never passed per call — a
    mismatched per-call bucket count would silently corrupt the layout
    (the FeatureStore _effective_n_buckets discipline). Each micro-batch:

    1. SEQ GUARD: incoming changes left-join the state's
       (key, __last_seq) pairs — keys-only, the bytes-per-row cost
       class of cdc_apply's insert anti-join — and any row with
       seq <= applied seq drops. A redelivered batch therefore no-ops
       (idempotence, incl. skipping the state rewrite entirely when the
       whole batch is stale) and a batch carrying an OLDER change than
       one already applied (micro-batch boundaries don't respect
       per-key sequence order) cannot regress the row.
    2. MERGE: operators.incremental.cdc_apply with the real op and seq
       carried as PAYLOAD (every change is an upsert at the merge
       level; the change batch is broadcast — a micro-batch by
       definition).
    3. one write of the new rows, then one tablecommit commit. In a
       bucketed state a batch rewrites ONLY the buckets its keys hash
       into (guard read, merge scope, and the bucket commit are all
       bucket-pruned) — at 100 TB a micro-batch costs O(touched
       buckets), the same cost model as FeatureStore.persist. Deletes
       are tombstone ROWS, so no bucket is ever emptied by CDC. A flat
       state is rewritten whole by commit_root. An empty-seeded
       bucketed state (flat zero-row bootstrap file, see seed_cdc_state)
       converts to the real bucket layout on its first non-stale batch
       by one commit_root that installs the sidecar with the dirs.

    Fixed point == one-shot batch cdc_apply over ALL changes, because
    per-key max-seq-wins is associative and commutative across any
    batch split — the property that makes replay safety provable (and
    what the stream_cdc_apply driver row checks against the batch
    oracle)."""
    from bharatmlstack_spark.operators.feature_store import table_meta_entry
    from bharatmlstack_spark.operators.incremental import cdc_apply

    def _bucket(n: int) -> F.Column:
        return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        finish_commit(spark, state_path + BUCKET_MARKER_SUFFIX)
        n_buckets = _bind_cdc(spark, state_path)
        # the pruned read's dir paths from one driver-side listStatus —
        # reading the root + isin(touched) would list every bucket dir
        # per micro-batch (hadoop_list_partition_dirs docstring)
        kb_dirs = _list_kb_dirs(spark, state_path)
        # an empty-seeded bucketed state is a flat zero-row bootstrap
        # file without the partition dirs (see seed_cdc_state)
        bootstrap = n_buckets is not None and not kb_dirs
        if n_buckets is not None and not bootstrap:
            touched = sorted(
                r[0]
                for r in batch_df.select(_bucket(n_buckets).alias("b"))
                .distinct()
                .collect()
            )
            # partition pruning: only the touched bucket dirs are read —
            # keys outside them cannot collide with the batch's keys
            # (same hash, same bucket). A touched bucket with no dir yet
            # simply has no existing rows: one dir, limit(0), keeps the
            # schema.
            paths = [kb_dirs[b] for b in touched if b in kb_dirs]
            state = stateroot.read(
                spark, state_path, *(paths or list(kb_dirs.values())[:1])
            ).drop("__kb")
            if not paths:
                state = state.limit(0)
        else:
            state = stateroot.read(spark, state_path)
        payload = [
            c for c in batch_df.columns if c not in (*key_cols, seq_col, op_col)
        ]
        guarded = (
            batch_df.join(
                state.select(*key_cols, "__last_seq"), on=key_cols, how="left"
            )
            .filter(
                F.col("__last_seq").isNull()
                | (F.col(seq_col) > F.col("__last_seq"))
            )
            .drop("__last_seq")
        )
        if guarded.isEmpty():
            return  # pure redelivery: don't pay the rewrite for a no-op
        changes = guarded.select(
            *key_cols,
            F.col(seq_col),
            F.lit("U").alias("__mop"),
            *payload,
            F.col(op_col).alias("__op"),
            F.col(seq_col).cast("long").alias("__last_seq"),
        )
        merged = cdc_apply(
            state, changes, key_cols=key_cols, seq_col=seq_col, op_col="__mop"
        ).drop("src")
        if n_buckets is not None and not bootstrap:
            # the touched buckets' new rows: written once, swapped in
            commit_buckets(
                merged.withColumn("__kb", _bucket(n_buckets)),
                state_path,
                "__kb",
                touched,
            )
            return
        if n_buckets is None:
            commit_root(merged, state_path)
        else:
            # the bootstrap conversion: the swap replaces the root,
            # sidecar included, so the commit installs it again
            commit_root(
                merged.withColumn("__kb", _bucket(n_buckets)),
                state_path,
                meta=table_meta_entry(state_path, n_buckets),
                partition_col="__kb",
            )

    writer = stream_df.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_cdc_state(
    spark: SparkSession,
    state_path: str,
    watermark_seq: int,
) -> int:
    """Tombstone GC for the streaming-CDC state: physically drop delete
    tombstones whose sequence is <= ``watermark_seq``.

    A tombstone exists to reject late-arriving STALE changes for a
    deleted key (stream_cdc_sink's seq guard). Once the source's
    committed watermark has passed seq S — Kafka redelivers only
    uncommitted offsets, so no change with seq <= S can ever arrive
    again (kafka.go:49-120 commits after apply) — tombstones at or below
    S are dead weight and can be reclaimed, exactly like Scylla's
    gc_grace_seconds tombstone expiry. Tombstones ABOVE the watermark
    must stay: dropping one would let a stale update resurrect the key.

    Returns tombstones removed. The layout comes from the state's meta
    sidecar; the rewrite is one root commit of the whole state (flat)
    or, bucketed, one bucket commit touching only buckets that held dead
    tombstones: their surviving rows are written once and swapped in,
    and a bucket the GC empties is dropped — run it at the cadence of
    FeatureStore.compact, not per batch. If the GC would leave the WHOLE
    state empty (every row a dead tombstone), it declines and returns 0:
    a file-less state dir is unreadable, and an all-tombstone table
    should be re-seeded, not compacted."""
    finish_commit(spark, state_path + BUCKET_MARKER_SUFFIX)
    n_buckets = _bind_cdc(spark, state_path)
    state = stateroot.read(spark, state_path)
    dead = (F.col("__op") == "D") & (F.col("__last_seq") <= F.lit(watermark_seq))
    if n_buckets is not None and "__kb" in state.columns:
        # one job: per bucket holding dead tombstones, (rows, dead rows)
        counts = {
            r[0]: (r[1], r[2])
            for r in state.groupBy("__kb")
            .agg(F.count(F.lit(1)), F.count(F.when(dead, 1)).alias("dead"))
            .filter("dead > 0")
            .collect()
        }
        if not counts:
            return 0
        if set(_list_kb_dirs(spark, state_path)) <= set(counts) and all(
            n == d for n, d in counts.values()
        ):
            return 0  # the GC would empty the whole state: decline
        touched = F.col("__kb").isin(list(counts))
        commit_buckets(state.filter(touched & ~dead), state_path, "__kb", counts)
        return sum(d for _, d in counts.values())
    removed = state.filter(dead).count()
    if not removed:
        return 0
    keep = state.filter(~dead)
    # repartition(1) keeps a zero-survivor flat state readable (one
    # schema-ful empty part file) instead of a file-less dir
    commit_root(keep.repartition(1) if keep.isEmpty() else keep, state_path)
    return removed


def _list_kb_dirs(spark: SparkSession, path: str) -> dict[int, str]:
    """{bucket: dir_path} for the ``__kb=`` partition dirs under one state
    root — targeted-path pruned reads; see hadoop_list_partition_dirs."""
    from bharatmlstack_spark.operators.feature_store import (
        hadoop_list_partition_dirs,
    )

    return hadoop_list_partition_dirs(spark, path, "__kb")


def _bind_neardup(
    spark: SparkSession, state_dir: str, want: dict | None = None
) -> tuple[int | None, bool]:
    """(n_buckets, bands bucketed) of a near-dup state, held by
    stateroot.bind to the contract its sidecar recorded at creation —
    the one resolution the sink, compactor, fold, probe and rebucket
    share, so none can rewrite a ``__kb=`` band root flat. ``want``: the
    sink run's contract (bucket count, band layout, signature params).
    Pre-contract default: a sidecar recording n_buckets without
    bucket_bands predates the hybrid layout, which bucketed BOTH roots.
    The layout changes only through rebucket_neardup_state."""
    c = stateroot.bind(
        spark,
        "near-dup state",
        state_dir,
        want or {},
        {"n_buckets": None, "bucket_bands": True},
        names={"n_buckets": "state_buckets"},
        hint="Its layout changes only through rebucket_neardup_state(spark, "
        "state_dir, new_buckets, bucket_bands=...), which also migrates a "
        "flat state.",
        layout=lambda c: {
            f"{state_dir}/sets": c["n_buckets"] is not None,
            f"{state_dir}/bands": c["n_buckets"] is not None and c["bucket_bands"],
        },
    )
    return c["n_buckets"], c["n_buckets"] is not None and bool(c["bucket_bands"])


def stream_neardup_minhash_sink(
    stream_df: DataFrame,
    state_dir: str,
    out_path: str,
    checkpoint_dir: str,
    spark: SparkSession,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
    state_buckets: int | None = None,
    bucket_bands: bool = False,
    trigger_once: bool = False,
    phase_log: list | None = None,
    auto_maintain: bool = False,
    maintain_every_n_batches: int = 64,
):
    """Streaming NEAR-duplicate detection: MinHash-LSH with an
    APPEND-ONLY band index, the incremental form of
    dedup.minhash_lsh_dedup_pairs (stream_dedup_sink is the exact-dup
    sibling). Per micro-batch:

    1. hash-shingle + sign the batch docs (one map pass, the batch is
       the small side);
    2. candidates = batch-bands self-join (intra-batch pairs) UNION
       batch-bands probe into the ACCUMULATED band index (cross-batch
       pairs — a pair is discovered when its LATER doc arrives);
    3. exact-Jaccard verify against the accumulated shingle-set store,
       emit surviving pairs (append);
    4. append the batch's bands and sets to the state.

    Because band_signatures is deterministic and banding collisions are
    pairwise (independent of WHEN each doc arrived), the union of all
    emissions equals the one-shot batch LSH pair set over the full
    corpus — the registered ``stream_dedup_minhash`` row replays a
    3-batch topic TWICE (full redelivery) and checks the deduped pair
    readout against the batch row's exact-Jaccard oracle.

    100 TB cost model: the index grows by docs x bands longs per batch,
    never rewritten (contrast CDC's in-place state: dedup state is
    append-only by nature). ``state_buckets`` opts into HASH-BUCKET
    PARTITIONED state (the FeatureStore/CDC layout pattern) so a
    micro-batch partition-prunes instead of scanning the full state:

    - shingle store: partitioned on pmod(xxhash64(id), buckets); the
      exact-Jaccard verify prunes to the CANDIDATE ids' buckets (the
      same derivation expression as the writer). Candidates ≪ corpus
      at ANY batch size, so this prune — of the FAT side, the full
      hashed shingle sets — is the one that always bites.
    - band index: FLAT by default even under ``state_buckets`` (the
      HYBRID layout): band pruning only bites when batch_docs x bands
      < buckets (tiny batches), while its append writes one file per
      touched dir — at production batch sizes that is all tax and no
      prune. ``bucket_bands=True`` additionally partitions the band
      index on pmod(band_hash, buckets); the probe then collects the
      batch's distinct band buckets driver-side and reads only those
      dirs — sound because a colliding pair shares band_hash, hence
      bucket. Use it for micro-batch regimes (point-ish lookups
      against a huge index) where batch x bands ≪ buckets.

    Pruning bites only in the production regime — batch ≪ accumulated
    state with buckets sized so a batch touches a small fraction (e.g.
    10^4-doc batches into a 10^9-doc index at 4096 buckets). At
    harness scales every batch touches every bucket, so the default is
    the FLAT layout (measured faster there: partitioned appends +
    per-batch bucket collects cost more than the unprunable scans they
    replace — see SCALE.md's 10x rows). Measured regime rule
    (SCALE.md, r09 batch≪index near-dup state tables): prefer
    FLAT for replay-style bulk loads (batch ~= index); the default
    bucketed form (HYBRID — sets partitioned, bands flat) wins once
    batch ≪ index (1.15x e2e at a 1M-doc index, verify prune 6.4x,
    growing with the index); ``bucket_bands=True`` has the best read
    side (probe+verify 2.4x/3.9x/5.2x cheaper than flat at 100k/1M/3M
    docs, bound by touched buckets) but pays ~one file per touched
    band dir per append — it wins e2e only past ~3M docs at tiny
    batches or in point-lookup regimes (tests/test_streaming.py pins
    all three layouts pair-identical).

    LAYOUT CONTRACT (stateroot.bind, before a run's first append): the
    layout is a value fixed when the state is created. The bucket count
    (``state_buckets``, None = flat), the ``bucket_bands`` flag and the
    signature parameters are recorded in the state dir's meta sidecar on
    the first write, and a later run passing a DIFFERENT value of any of
    them raises — writer and probe derive pmod(·, buckets) with the
    run's count, so a changed count would prune true candidates against
    dirs hashed with the old one, and a flat run would append flat files
    into a partitioned root (a mixed root, whose reads silently drop
    the flat rows). The one migration path is the offline
    ``rebucket_neardup_state``, which also moves a flat state to the
    bucketed layouts.

    Crash/redelivery contract (all three state writes are appends, not
    atomic together): SETS append before BANDS, so every doc the band
    index can ever surface as a candidate is guaranteed a shingle set —
    a crash between the two leaves sets without bands, and the
    redelivered batch simply re-appends both. Re-delivery therefore
    only DUPLICATES rows (pairs in the output, copies in sets/bands);
    duplicated shingle sets yield byte-identical jaccard values, so a
    reader deduping on (id_a, id_b) — which the registered row's
    readout does — sees exactly the one-shot pair set; run
    ``compact_neardup_state`` at maintenance cadence to physically
    reclaim the accumulated copies (detect-then-rewrite-touched-dirs,
    measured in SCALE.md). Assumes each doc id arrives once (a corpus
    build, not a changelog).

    ``phase_log`` (measurement only): pass a list and each micro-batch
    appends {sign_s, probe_s, verify_s, append_s, total_s} — phase
    boundaries are forced with count() actions, so instrumented runs
    are NOT wall-clock-identical to production runs; used to attribute
    layout costs in SCALE.md's r09 near-dup state tables."""
    from bharatmlstack_spark.operators.dedup import (
        band_signatures,
        hashed_word_shingles,
        minhash_signatures_from_hashes,
    )

    bands_path = f"{state_dir}/bands"
    sets_path = f"{state_dir}/sets"

    bucketed = state_buckets is not None
    bands_bucketed = bucketed and bucket_bands

    def _set_bucket(c) -> Column:
        # the ONE derivation shared by the sets writer and the verify
        # probe — they must agree or pruning would drop true sets
        return F.pmod(F.xxhash64(c), F.lit(state_buckets))

    def _write_state(df: DataFrame, path: str, is_bucketed: bool) -> None:
        if is_bucketed:
            stateroot.append(df.repartition("__kb"), path, "__kb")
        else:
            stateroot.append(df, path)

    _layout_ok: list[bool] = []  # once per run; the layout can't change under us

    def _ensure_layout() -> None:
        if _layout_ok:
            return
        # adopt a crashed rebucket_neardup_state commit BEFORE reading
        # the sidecar — otherwise this run could validate against (and
        # append under) the pre-rebucket bucket count while the roots
        # are already hashed with the new one; then finish any root
        # commit a crash left pending (a bands root stuck mid-swap
        # would read as an EMPTY index — silent pair loss)
        finish_commit(spark, f"{state_dir}/{REBUCKET_MARKER}")
        finish_commit(spark, sets_path + BUCKET_MARKER_SUFFIX)
        finish_commit(spark, bands_path + BUCKET_MARKER_SUFFIX)
        # the signature parameters are recorded for EVERY layout (r11):
        # a run with different num_hashes/bands/shingle_n would append
        # band hashes from another signature space, silently losing
        # every cross-run pair, and cross_dedup_against_state derives
        # its probe from them
        _bind_neardup(
            spark,
            state_dir,
            {
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_n": shingle_n,
                "n_buckets": state_buckets,
                **({"bucket_bands": bucket_bands} if bucketed else {}),
            },
        )
        _layout_ok.append(True)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        if batch_df.isEmpty():
            return
        if hadoop_path_exists(
            spark, f"{state_dir}/{NEARDUP_TOMBSTONES_DIR}"
        ):
            raise RuntimeError(
                f"near-dup state {state_dir} has pending deletions "
                "(delete_neardup_docs tombstones) — the per-batch probe "
                "reads band dirs directly and would emit pairs against "
                "deleted docs. Run fold_neardup_tombstones (or any "
                "compact/rebucket pass) before resuming the sink."
            )
        _ensure_layout()
        # phase_log instrumentation (SCALE.md r09 near-dup state tables):
        # forces a count() at each phase boundary so the phases time
        # separately — measurement mode only, never the production path
        instrument = phase_log is not None
        ph: dict[str, float] = {}
        t0 = _time.perf_counter()
        sets_new = batch_df.select(
            F.col(id_col).alias("id"),
            hashed_word_shingles(text_col, shingle_n).alias("sh"),
            *([_set_bucket(F.col(id_col)).alias("__kb")] if bucketed else []),
        ).persist()
        try:
            sigs = minhash_signatures_from_hashes(sets_new, "id", "sh", num_hashes)
            bands_new = band_signatures(sigs, bands)
            if bands_bucketed:
                bands_new = bands_new.withColumn(
                    "__kb", F.pmod("band_hash", F.lit(state_buckets))
                )
            bands_new = bands_new.persist()
            try:
                if instrument:
                    bands_new.count()
                    ph["sign_s"] = round(_time.perf_counter() - t0, 3)
                a, b = bands_new.alias("a"), bands_new.alias("b")
                intra = (
                    a.join(b, on=["band_idx", "band_hash"])
                    .filter(F.col("a.id") < F.col("b.id"))
                    .select(
                        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
                    )
                )
                cands = intra
                have_state = hadoop_path_exists(spark, bands_path)
                old = None
                if have_state and bands_bucketed:
                    # bucketed mode: prune the stored index to the batch's
                    # band buckets — a colliding pair shares band_hash,
                    # hence bucket — by reading the TOUCHED partition dirs
                    # directly (basePath keeps __kb a partition column).
                    # Reading the root and filtering isin() would list
                    # every bucket dir first: at state_buckets=4096 the
                    # O(buckets) discovery job dwarfs the probe itself
                    # (measured in SCALE.md's r09 near-dup state runs);
                    # targeted paths make listing + read both O(touched).
                    existing = _list_kb_dirs(spark, bands_path)
                    probe_kb = [
                        r[0]
                        for r in bands_new.select("__kb").distinct().collect()
                    ]
                    paths = [existing[b] for b in probe_kb if b in existing]
                    if paths:
                        old = stateroot.read(spark, bands_path, *paths)
                elif have_state:
                    old = stateroot.read(spark, bands_path)
                if old is not None:
                    cross = (
                        bands_new.alias("n")
                        .join(old.alias("o"), on=["band_idx", "band_hash"])
                        .filter(F.col("n.id") != F.col("o.id"))
                        .select(
                            F.least("n.id", "o.id").alias("id_a"),
                            F.greatest("n.id", "o.id").alias("id_b"),
                        )
                    )
                    cands = cands.unionByName(cross)
                cands = cands.dropDuplicates(["id_a", "id_b"])
                if bucketed or instrument:
                    # both consumers (bucket collect + verify join) reuse
                    # the computed candidate set instead of re-probing
                    cands = cands.persist()
                if instrument:
                    t = _time.perf_counter()
                    cands.count()
                    ph["probe_s"] = round(_time.perf_counter() - t, 3)

                # __kb drops before the union: a read-back partition column
                # comes back as INT while the in-memory one is BIGINT, and
                # the verify join never needs it
                sets_all = sets_new.drop("__kb") if bucketed else sets_new
                if have_state and bucketed:
                    # prune the shingle store to the CANDIDATE ids'
                    # buckets — candidates ≪ corpus, so this is the
                    # prune that stays effective even when a large batch
                    # touches every BAND bucket. Same targeted-path read
                    # as the band probe: listing is O(needed dirs).
                    need_kb = [
                        r[0]
                        for r in cands.select(
                            F.explode(
                                F.array(
                                    _set_bucket(F.col("id_a")),
                                    _set_bucket(F.col("id_b")),
                                )
                            ).alias("kb")
                        )
                        .distinct()
                        .collect()
                    ]
                    existing_sets = _list_kb_dirs(spark, sets_path)
                    paths = [existing_sets[b] for b in need_kb if b in existing_sets]
                    if paths:
                        stored = stateroot.read(spark, sets_path, *paths)
                        sets_all = sets_all.unionByName(stored.drop("__kb"))
                elif have_state:
                    sets_all = sets_all.unionByName(stateroot.read(spark, sets_path))
                sa = sets_all.select(
                    F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
                )
                sb = sets_all.select(
                    F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
                )
                pairs = (
                    cands.join(sa, on="id_a")
                    .join(sb, on="id_b")
                    .select(
                        "id_a",
                        "id_b",
                        (
                            F.size(F.array_intersect("sh_a", "sh_b"))
                            / F.size(F.array_union("sh_a", "sh_b"))
                        ).alias("jaccard"),
                    )
                    .filter(F.col("jaccard") >= threshold)
                )
                try:
                    if instrument:
                        t = _time.perf_counter()
                    pairs.write.mode("append").parquet(out_path)
                    if instrument:
                        ph["verify_s"] = round(_time.perf_counter() - t, 3)
                finally:
                    if bucketed or instrument:
                        cands.unpersist()
                # sets BEFORE bands: every doc reachable through the band
                # index must have a shingle set for the verify join (a
                # crash between the appends then redelivers the batch,
                # which only duplicates rows — see docstring)
                if instrument:
                    t = _time.perf_counter()
                _write_state(sets_new, sets_path, bucketed)
                _write_state(bands_new, bands_path, bands_bucketed)
                # maintenance bookkeeping (maintenance_due / refit-class
                # policies read these): batch counter + redelivery
                # detection via batch ids + appended-docs count (cheap —
                # sets_new is persisted)
                _update_maintenance_meta(
                    spark,
                    state_dir,
                    batch_id,
                    rows_appended=sets_new.count(),
                )
                if auto_maintain:
                    # opt-in in-loop compaction (documented single-writer
                    # caveat: the sink IS the single writer, so running
                    # maintenance inside its own foreachBatch is safe;
                    # one sidecar read when not due)
                    maybe_compact_neardup_state(
                        spark,
                        state_dir,
                        every_n_batches=maintain_every_n_batches,
                    )
                if instrument:
                    ph["append_s"] = round(_time.perf_counter() - t, 3)
                    ph["total_s"] = round(_time.perf_counter() - t0, 3)
                    phase_log.append(ph)
            finally:
                bands_new.unpersist()
        finally:
            sets_new.unpersist()

    writer = stream_df.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ann_ivf_sink(
    stream_df: DataFrame,
    ivf,
    index_path: str,
    checkpoint_dir: str,
    spark: SparkSession,
    trigger_once: bool = False,
    auto_maintain: bool = False,
    maintain_every_n_batches: int = 64,
    allow_updates: bool = False,
):
    """Streaming IVF embedding indexer — skye's realtime indexer
    (skye/internal/consumers/handler/indexer/) as a foreachBatch sink,
    completing the streaming-index pair (stream_neardup_minhash_sink is
    the text sibling). The coarse quantizer (``ivf``: a FIT IvfIndex) is
    FROZEN at bootstrap — the FAISS ingestion discipline: fit once on a
    sample, then ingestion only ASSIGNS. Per micro-batch each vector is
    assigned to its nearest-centroid cell (one Arrow-batched GEMM, see
    IvfIndex._cell_col) and appended to a cell-partitioned parquet index;
    a search's nprobe cells read only their partition dirs.

    Append-only like the band index: never rewritten, grows by the batch
    size. Assignment is deterministic for a frozen quantizer, so
    at-least-once redelivery appends byte-identical (id, cell) rows —
    readers dedup on the vector id (read_streamed_ivf_index) and see
    exactly the batch-built index; run ``compact_streamed_index`` at
    maintenance cadence to reclaim accumulated duplicates so readers can
    skip the per-read dedup shuffle (dedup=False; measured in SCALE.md)
    — or pass ``auto_maintain=True`` to run the due-check after every
    append inside the sink's own loop (safe under the sink's
    single-writer assumption).

    ``allow_updates=False`` (default): each vector id arrives once
    (corpus build).

    ``allow_updates=True`` (VERSIONED index — skye's actual upsert
    semantics: an entity's embedding is re-published and must REPLACE
    the indexed one, qdrant.go Upsert): every index row carries ``gen``
    = the micro-batch id, and the sink maintains a sibling ``_ids``
    registry (id-bucketed (id, cell, gen) rows — underscore-prefixed,
    so the root's parquet discovery never reads it). A re-arrival
    cannot be detected from the index itself without knowing the OLD
    embedding's cell, which is exactly what the registry records: the
    per-batch probe reads only the batch ids' registry buckets
    (O(batch)), finds older gens, and appends ``(id, gen_lt=batch_id)``
    update-tombstones that ``read_streamed_ivf_index`` masks with the
    postings family's gen-aware anti-join and
    ``fold_index_tombstones`` purges physically at maintenance cadence.
    Recorded in the sidecar ("versioned") and refused on mismatch —
    gen-less rows would be invisible to the mask. Caveat shared with
    deletion: stream_semantic_dedup_sink's direct cell probe does not
    consult tombstones — fold before resuming that pipeline.

    Quantizer contract (r12): sink start refuses an ``ivf`` whose
    centroids disagree with the persisted ``__quantizer`` sidecar
    (_ensure_quantizer_consistent) — appending with a STALE quantizer
    after a refit_streamed_index would route new vectors into cells the
    re-bucketed state no longer means, silently mis-routing every
    subsequent probe; the same refuse-to-mis-hash stance the near-dup
    sink takes on bucket counts. A fresh state persists the handed
    quantizer, arming the guard for every restart."""
    _ensure_quantizer_consistent(spark, index_path, ivf)
    _bind_ivf(spark, index_path, versioned=bool(allow_updates), ivfpq=False)

    gen_base = (
        _gen_base_for_checkpoint(spark, index_path, checkpoint_dir)
        if allow_updates
        else 0
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # ONE evaluation of the batch source: persist the assignment,
        # count it (doubles as the empty check — isEmpty would be a
        # second source scan), write it, unpersist
        gen_val = gen_base + int(batch_id)
        assigned = ivf.index(batch_df)
        if allow_updates:
            assigned = assigned.withColumn(
                "gen", F.lit(gen_val).cast("long")
            )
        assigned = assigned.persist()
        try:
            n = assigned.count()
            if not n:
                return
            if allow_updates:
                # the versioned contract says "one row per id per
                # micro-batch" — two versions of a doc in one batch
                # would silently BLEND (same gen, probe tombstones
                # neither, dedup picks arbitrarily). One cheap agg on
                # the already-persisted frame enforces it loudly —
                # BEFORE the meta write, so a refused batch leaves the
                # sidecar untouched (a meta bump for a batch that never
                # appended would trip the non-monotonic batch-id check
                # on the legitimate retry, flag a spurious redelivery,
                # and park the stats rollforward on the scan path).
                dup = assigned.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct(ivf.id_col).alias("n_ids"),
                ).collect()[0]
                if int(dup["n"]) != int(dup["n_ids"]):
                    raise ValueError(
                        f"stream_ann_ivf_sink(allow_updates=True): micro-"
                        f"batch {batch_id} carries {int(dup['n'])} rows but "
                        f"only {int(dup['n_ids'])} distinct {ivf.id_col!r} "
                        "— duplicate ids within one batch would blend into "
                        "the same generation. Dedup upstream (e.g. last-"
                        "write-wins per id per trigger) before the sink."
                    )
            # meta BEFORE the appends (the postings sink's ordering,
            # ingest.py:3395): next_gen_base must roll forward to
            # gen_val + 1 before any gen_val row exists — a crash in
            # between the gen-N append and a LATER meta write would
            # leave next_gen_base == N, a fresh checkpoint would pin
            # gen_base = N and re-ISSUE a live generation: its batch-0
            # upsert of such an id carries gen == the stale row's, the
            # probe's gen < gen_val filter writes no update-tombstone,
            # and both generations serve unmasked. Meta-first merely
            # over-counts rows_appended on a crash-replay (documented
            # upper bound; one-batch-early maintenance is harmless).
            _update_maintenance_meta(
                spark,
                index_path,
                batch_id,
                rows_appended=n,
                extra={
                    "n_cells": int(len(ivf.centroids)),
                    **(
                        {"next_gen_base": gen_val + 1}
                        if allow_updates
                        else {}
                    ),
                },
            )
            if allow_updates:
                # re-arrival probe against the _ids registry: only the
                # batch ids' bucket dirs are read (the index itself
                # cannot answer "where did this id's OLD embedding
                # land" without a scan — the registry exists for this).
                # Tombstone lands BEFORE the appends (the postings
                # family's transient-delete-window trade, replay heals).
                reg_root = f"{index_path}{IVF_IDS_SUFFIX}"
                id_col = ivf.id_col
                probe_dirs = [
                    d
                    for r in assigned.select(
                        F.pmod(
                            F.xxhash64(id_col), F.lit(IVF_ID_BUCKETS)
                        ).alias("b")
                    )
                    .distinct()
                    .collect()
                    if hadoop_path_exists(
                        spark, d := f"{reg_root}/id_bucket={r[0]}"
                    )
                ]
                if probe_dirs:
                    rearrived = (
                        stateroot.read(spark, reg_root, *probe_dirs)
                        .join(
                            assigned.select(F.col(id_col).alias("id"))
                            .distinct(),
                            "id",
                            "left_semi",
                        )
                        .filter(F.col("gen") < F.lit(gen_val))
                        .select("id")
                        .distinct()
                    )
                    _append_tombstones(
                        spark,
                        f"{index_path}/{IVF_TOMBSTONES_DIR}",
                        rearrived,
                        rearrived.schema["id"].dataType,
                        gen_lt=gen_val,
                    )
                # registry rows are (id, gen) ONLY: recording the cell
                # would go stale the moment a refit re-assigns the
                # corpus, and a staleness-prone column that exists to
                # "target" folds is exactly how a fold mis-targets
                stateroot.append(
                    assigned.select(
                        F.col(id_col).alias("id"),
                        "gen",
                        F.pmod(
                            F.xxhash64(id_col), F.lit(IVF_ID_BUCKETS)
                        ).alias("id_bucket"),
                    ),
                    reg_root,
                    "id_bucket",
                )
            stateroot.append(assigned, index_path, "cell")
            if auto_maintain:
                # versioned stream: update-tombstones are steady state —
                # counter cadence, not per-batch folds (see maintenance_due)
                maybe_compact_streamed_index(
                    spark,
                    index_path,
                    id_col=ivf.id_col,
                    every_n_batches=maintain_every_n_batches,
                    count_tombstones=not allow_updates,
                )
        finally:
            assigned.unpersist()

    writer = stream_df.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_semantic_dedup_sink(
    stream_df: DataFrame,
    ivf,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    spark: SparkSession,
    threshold: float = 0.99,
    trigger_once: bool = False,
    auto_maintain: bool = False,
    maintain_every_n_batches: int = 64,
):
    """Streaming SemDeDup (arXiv:2303.09540 made incremental): the
    embedding sibling of ``stream_neardup_minhash_sink``, sharing its
    state with ``stream_ann_ivf_sink`` — ONE cell-partitioned index
    serves both ANN search and semantic dedup. Per micro-batch:

    1. assign the batch's vectors to cells with the FROZEN coarse
       quantizer (``ivf``: a fit IvfIndex — one Arrow GEMM, map-side);
    2. candidates = intra-batch same-cell pairs UNION batch-vs-
       accumulated-index same-cell pairs. The index is partitioned on
       ``cell``, so the cross probe reads ONLY the batch's cells —
       targeted partition dirs (hadoop_list_partition_dirs), never the
       root: listing and scan both O(batch's cells), the same
       economics measured for the near-dup band probe;
    3. pairs at cosine >= threshold append to ``out_path``;
    4. the batch's assignments append to the index (exactly
       stream_ann_ivf_sink's write — the two sinks are
       interchangeable writers of the same state).

    Union of emissions == the one-shot batch SemDeDup under the SAME
    frozen quantizer: assignment is deterministic, cosine symmetric, so
    a within-cell pair is found exactly when its LATER vector arrives.
    A pair straddling a cell boundary is the method's documented recall
    trade (operators/dedup.embedding_semantic_dedup_pairs) — identical
    vectors always share a cell, so exact duplicates are never missed.
    At-least-once redelivery appends byte-identical (id, cell) rows and
    re-emits the same pairs — readers dedup output on (id_a, id_b) and
    the index on the vector id (read_streamed_ivf_index);
    ``compact_streamed_index`` reclaims the accumulated duplicates once
    instead of per read. Assumes each vector id arrives once (corpus
    build, not a changelog).

    REGISTERED r10 as driver row ``stream_semantic_dedup_sink``
    (queries_text.py), riding the segment_except retirement slot per the
    pinned protocol (staged tier r09 while the rotation was saturated);
    the DuckDB-twin pytest in tests/test_streaming.py additionally runs
    the driver's comparison shape: streamed pair readout == batch
    same-cell pair set under the same quantizer, across batches and
    under full redelivery.

    Quantizer contract + opt-in maintenance (r12): identical to
    stream_ann_ivf_sink — start refuses a stale ``ivf`` vs the
    persisted ``__quantizer`` (a fresh state persists the handed one),
    and ``auto_maintain=True`` runs the compaction due-check after each
    append."""
    from bharatmlstack_spark.functions.vector import cosine_similarity
    from bharatmlstack_spark.operators.feature_store import (
        hadoop_list_partition_dirs,
    )

    _ensure_quantizer_consistent(spark, index_path, ivf)
    _bind_ivf(spark, index_path, versioned=False, ivfpq=False)
    id_col, emb_col = ivf.id_col, ivf.emb_col

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        assigned = ivf.index(batch_df).persist()
        try:
            a = assigned.select(
                F.col(id_col).alias("id_a"), F.col(emb_col).alias("emb_a"), "cell"
            )
            b = assigned.select(
                F.col(id_col).alias("id_b"), F.col(emb_col).alias("emb_b"), "cell"
            )
            cands = (
                a.join(b, on="cell")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", "emb_a", "emb_b")
            )
            cell_dirs = hadoop_list_partition_dirs(spark, index_path, "cell")
            touched = [
                r[0] for r in assigned.select("cell").distinct().collect()
            ]
            paths = [cell_dirs[c] for c in touched if c in cell_dirs]
            if paths:
                old = (
                    stateroot.read(spark, index_path, *paths)
                    .select(
                        F.col(id_col).alias("id_o"),
                        F.col(emb_col).alias("emb_o"),
                        "cell",
                    )
                )
                cross = (
                    assigned.join(old, on="cell")
                    .filter(F.col(id_col) != F.col("id_o"))
                    .select(
                        F.least(id_col, "id_o").alias("id_a"),
                        F.greatest(id_col, "id_o").alias("id_b"),
                        # emb columns follow the id normalization
                        F.when(
                            F.col(id_col) < F.col("id_o"), F.col(emb_col)
                        )
                        .otherwise(F.col("emb_o"))
                        .alias("emb_a"),
                        F.when(
                            F.col(id_col) < F.col("id_o"), F.col("emb_o")
                        )
                        .otherwise(F.col(emb_col))
                        .alias("emb_b"),
                    )
                )
                cands = cands.unionByName(cross)
            pairs = (
                cands.withColumn("cosine", cosine_similarity("emb_a", "emb_b"))
                .filter(F.col("cosine") >= threshold)
                .select("id_a", "id_b", "cosine")
                .dropDuplicates(["id_a", "id_b"])
            )
            pairs.write.mode("append").parquet(out_path)
            # index append AFTER the pair write: either order is
            # crash-safe (a doc's state is self-contained, unlike the
            # near-dup sets/bands dependency) — a crash anywhere simply
            # redelivers the batch, which only duplicates rows
            stateroot.append(assigned, index_path, "cell")
            # shared-state bookkeeping: same sidecar stream_ann_ivf_sink
            # maintains (one index, interchangeable writers); row count
            # is cheap — assigned is persisted
            _update_maintenance_meta(
                spark,
                index_path,
                batch_id,
                rows_appended=assigned.count(),
                extra={"n_cells": int(len(ivf.centroids))},
            )
            if auto_maintain:
                maybe_compact_streamed_index(
                    spark,
                    index_path,
                    id_col=id_col,
                    every_n_batches=maintain_every_n_batches,
                )
        finally:
            assigned.unpersist()

    writer = stream_df.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _bind_ivf(spark: SparkSession, index_path: str, **want) -> None:
    """Hold a streamed IVF index to the row format it was created with
    (stateroot.bind): ``versioned`` rows carry a gen column the update
    mask needs — the mask's gen < gen_lt predicate keeps gen-less rows,
    so mixing them would serve replaced embeddings forever — and
    ``ivfpq`` rows hold PQ codes instead of embeddings. A sidecar
    predating either flag (or written by the SemDeDup sink) is the
    False case. ``want`` also carries the IVF-PQ codebook shape."""
    stateroot.bind(
        spark,
        "streamed IVF index",
        index_path,
        want,
        {"versioned": False, "ivfpq": False},
        hint="One root holds one row format: full-precision embedding rows "
        "(gen-carrying when VERSIONED, for stream_ann_ivf_sink "
        "allow_updates=True; the SemDeDup sink probes cell dirs without "
        "consulting tombstones, so it needs an unversioned index) or "
        "IVF-PQ codes. Use a fresh root.",
    )


def read_streamed_ivf_index(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    dedup: bool = True,
) -> DataFrame:
    """The streamed index as a searchable frame: duplicate deliveries
    collapse on the vector id (same frozen-quantizer assignment on every
    delivery, so any copy is identical).

    ``dedup=True`` is the always-correct default but pays a full-index
    shuffle PER READ; after ``compact_streamed_index`` has run (the
    once-not-per-read form of the same dedup), pass ``dedup=False`` on
    the hot search path — new appends since the last compaction are
    then visible as duplicates, which IVF search tolerates (identical
    rows score identically; dedup the top-k on id if exact-k matters).

    Vectors tombstoned by ``delete_indexed_vectors`` are broadcast-anti-
    joined out — deleted ids leave every search immediately, before the
    next compaction/refit folds them physically."""
    # adopt a crashed refit first, then a crashed compaction or purge
    finish_commit(spark, index_path + REFIT_MARKER_SUFFIX)
    finish_commit(spark, index_path + BUCKET_MARKER_SUFFIX)
    df = stateroot.read(spark, index_path)
    tomb = _ivf_tombstones(spark, index_path, id_col)
    if tomb is not None:
        # mask BEFORE the dedup: on a versioned index an id's masked old
        # generation coexists with its replacement, and an id-only
        # dropDuplicates first could keep the dead row
        df = _mask_tombstoned(df, tomb, id_col=id_col)
    return df.dropDuplicates([id_col]) if dedup else df


def _compact_dedup_state(
    spark: SparkSession,
    path: str,
    dedup_cols: list[str],
    partition_col: str | None,
) -> tuple[int, bool]:
    """Shared core of the streamed-state compactors: physically drop
    redelivery-duplicate rows (byte-identical by construction — every
    sink appends deterministic functions of the delivered record).

    Two-phase so steady state (no redeliveries) costs ONE column-pruned
    aggregation and zero writes:

    1. detect — per-partition ``count(*) - count_distinct(dedup cols)``
       (one scan reading only the dedup columns; map-side partial agg);
    2. rewrite — ONLY the partition dirs holding duplicates: targeted
       paths, their deduped rows written once and swapped in by one
       bucket commit (the dedup key determines its partition, so dedup
       is partition-local and untouched dirs never rewrite).

    Flat (unpartitioned) states fall back to one root commit of the
    deduped rows — correct at any size, but the partitioned layouts are
    the 100 TB path. Returns ``(rows_removed, bailed)``: ``bailed`` is
    True only when duplicates are KNOWN to exist but live solely in dirs
    the listing can't target (a null key's __HIVE_DEFAULT_PARTITION__) —
    the callers then preserve the sidecar's redelivery flag instead of
    consuming the signal for a reclaim that never happened."""
    from bharatmlstack_spark.operators.feature_store import (
        hadoop_list_partition_dirs,
    )

    finish_commit(spark, path + BUCKET_MARKER_SUFFIX)  # a crashed commit first
    if not hadoop_path_exists(spark, path):
        return 0, False
    dirs = (
        hadoop_list_partition_dirs(spark, path, partition_col)
        if partition_col is not None
        else {}
    )
    state = stateroot.read(spark, path)
    if dirs:
        per_part = _detect_duplicate_partitions(state, dedup_cols, partition_col)
        touched = [r[0] for r in per_part.select(partition_col).collect()]
        if not touched:
            return 0, False
        paths = [dirs[p] for p in touched if p in dirs]
        # a duplicate-holding partition the listing skipped (e.g. a null
        # key's __HIVE_DEFAULT_PARTITION__ — hadoop_list_partition_dirs
        # keeps numeric dirs only) cannot be rewritten: its duplicates
        # SURVIVE this pass, so report the bail-out whether the
        # untargetable dirs were the only ones (nothing to do at all) or
        # mixed in with rewritable ones — either way the redelivery
        # signal must not be consumed for a reclaim that skipped them
        bailed = len(paths) < len(touched)
        if not paths:
            return 0, bailed
        # each read lists the dirs afresh: the last one counts the
        # committed rows
        before = stateroot.read(spark, path, *paths).count()
        commit_buckets(
            stateroot.read(spark, path, *paths).dropDuplicates(dedup_cols),
            path,
            partition_col,
            [p for p in touched if p in dirs],
        )
        return before - stateroot.read(spark, path, *paths).count(), bailed
    before = state.count()
    keep = state.dropDuplicates(dedup_cols)
    removed = before - keep.count()
    if not removed:
        return 0, False
    # auto_maintain runs this inside the sink's own loop, so a plain live
    # overwrite would put the whole root at risk on every due batch
    commit_root(keep, path)
    return removed, False


def _detect_duplicate_partitions(
    state: DataFrame, dedup_cols: list[str], partition_col: str
) -> DataFrame:
    """The compactors' detection pass as a plan: per-partition
    ``count(*) - count_distinct(dedup cols) > 0``. Reads ONLY the dedup
    columns (the fat payload — embeddings, shingle sets — is pruned at
    the scan; plan-pinned in tests/test_plans.py) with map-side partial
    aggregation, so the steady-state no-op costs one thin scan."""
    return (
        state.groupBy(partition_col)
        .agg(
            (
                F.count(F.lit(1))
                - F.count_distinct(*[F.col(c) for c in dedup_cols])
            ).alias("__dups")
        )
        .filter(F.col("__dups") > 0)
    )


def compact_streamed_index(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> int:
    """Compaction for the cell-partitioned streamed IVF/SemDeDup index
    (the state stream_ann_ivf_sink and stream_semantic_dedup_sink share):
    at-least-once redelivery appends byte-identical (id, cell) rows
    forever, and every reader pays a full-index dropDuplicates shuffle
    (read_streamed_ivf_index). This is the once-not-per-read form —
    the compact_cdc_state analog for the append-only states: dedup-on-id
    rewrite of ONLY the cell dirs that hold duplicates (assignment is
    deterministic, so an id's copies all live in one cell dir), O(touched)
    like the sinks' probe reads. After it runs, readers may pass
    ``dedup=False``. Reference anchor: skye's indexer reset/rebuild jobs
    (skye/internal/consumers/handler/indexer/) — the stored index is
    periodically rebuilt to shed accumulated writes. Returns rows removed.
    Run at maintenance cadence (after a redelivery event or N batches —
    ``maintenance_due`` / ``maybe_compact_streamed_index`` decide that
    from the sidecar the sinks maintain), never per micro-batch."""
    # adopt a crashed refit first
    finish_commit(spark, index_path + REFIT_MARKER_SUFFIX)
    # fold pending vector deletions first (also removes the _tombstones
    # dir before any flat-fallback root swap could drop it silently)
    fold_index_tombstones(spark, index_path, id_col)
    # versioned index: gen rides the dedup keys (post-fold each id has
    # one live gen, but gen-keyed dedup stays conservative if that
    # invariant ever breaks) and the (id, gen) registry compacts too
    versioned = (read_table_meta(spark, index_path) or {}).get("versioned")
    gen = ["gen"] if versioned else []
    removed, bailed = _compact_dedup_state(
        spark, index_path, [id_col, *gen], "cell"
    )
    reg_root = f"{index_path}{IVF_IDS_SUFFIX}"
    if versioned and hadoop_path_exists(spark, reg_root):
        reg_removed, reg_bailed = _compact_dedup_state(
            spark, reg_root, ["id", "gen"], "id_bucket"
        )
        removed += reg_removed
        bailed = bailed or reg_bailed
    # a bail-out (duplicates exist but only in non-targetable dirs)
    # reclaimed nothing: keep the redelivery flag so maintenance_due
    # keeps reporting the duplicates honestly
    _reset_maintenance_meta(spark, index_path, clear_redelivery=not bailed)
    return removed


def compact_neardup_state(spark: SparkSession, state_dir: str) -> dict:
    """Compaction for the streaming near-dup (MinHash) state — the same
    redelivery-duplicate reclaim as compact_streamed_index, applied to
    both roots the sink maintains (stream_neardup_minhash_sink):

    - ``sets`` (shingle store; hybrid default: ``__kb=`` partitioned on
      the doc id): dedup key = id — one row per doc;
    - ``bands`` (band index; flat in the hybrid default, ``__kb=``
      partitioned when bucket_bands=True): dedup key =
      (id, band_idx) — signatures are deterministic, so copies are
      byte-identical.

    Layout comes from the state's meta sidecar through THE SAME bind the
    sink uses (_bind_neardup — in particular the legacy pre-hybrid
    default: a sidecar recording n_buckets but no bucket_bands key means
    BOTH roots are bucketed, so the compactor must rewrite the band root
    partitioned, never flat); partitioned roots rewrite only
    duplicate-holding dirs (the dedup keys determine their bucket).
    Returns {"sets_removed": n, "bands_removed": m}."""
    sets_path = f"{state_dir}/sets"
    bands_path = f"{state_dir}/bands"
    # adopt a crashed rebucket
    finish_commit(spark, f"{state_dir}/{REBUCKET_MARKER}")
    # fold pending deletions first: the dedup rewrite must see the
    # post-deletion state, and the sink's pending-tombstone refusal
    # clears through any compaction pass
    fold_neardup_tombstones(spark, state_dir)
    recorded, bands_bucketed = _bind_neardup(spark, state_dir)
    bucketed = recorded is not None
    sets_removed, sets_bailed = _compact_dedup_state(
        spark, sets_path, ["id"], "__kb" if bucketed else None
    )
    bands_removed, bands_bailed = _compact_dedup_state(
        spark,
        bands_path,
        ["id", "band_idx"],
        "__kb" if bands_bucketed else None,
    )
    # either root bailing out means known duplicates survived the pass:
    # preserve the redelivery flag (see compact_streamed_index)
    _reset_maintenance_meta(
        spark, state_dir, clear_redelivery=not (sets_bailed or bands_bailed)
    )
    return {"sets_removed": sets_removed, "bands_removed": bands_removed}


# tablecommit markers of the reset jobs' root commits (commit_roots): a
# crash before the marker leaves the intact old state (a stage is
# garbage the next write of it overwrites); after it, finish_commit
# re-runs the adoption idempotently from any reader/writer entry point
REBUCKET_MARKER = "__rebucket_commit.json"
REFIT_MARKER_SUFFIX = "__refit_commit.json"


def _dedup_counts(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(rows, rows left by dropDuplicates(cols)) in one job."""
    row = df.groupBy(*cols).count().agg(F.sum("count"), F.count(F.lit(1))).first()
    return int(row[0] or 0), int(row[1])


def rebucket_neardup_state(
    spark: SparkSession,
    state_dir: str,
    new_buckets: int,
    bucket_bands: bool | None = None,
) -> dict:
    """Re-bucket the streaming near-dup state as the corpus outgrows its
    bucket count — the sets/bands sibling of ``refit_streamed_index``
    (together they complete the skye indexer reset-job analog,
    skye/internal/consumers/handler/indexer/, for BOTH streamed-state
    families). The layout contract deliberately freezes ``state_buckets``
    at creation (the probe and writer must derive pmod with the same
    count), so a state bucketed for a 10M-doc corpus keeps those buckets
    at 1B docs — per-bucket size, and with it every targeted-dir read,
    grows linearly. This offline migration rewrites BOTH roots under a
    new count in one root commit:

    - sets: ``__kb = pmod(xxhash64(id), new_buckets)`` (the sink's exact
      derivation), rewritten partitioned; dedup on id folded in (rows
      are byte-identical redelivery copies, so this is free correctness
      — one rewrite instead of rebucket-then-compact);
    - bands: same under ``pmod(band_hash, new_buckets)`` when the band
      index is bucketed (``bucket_bands``; default: keep the recorded
      layout), dedup on (id, band_idx); a flat band root stays untouched
      (nothing to re-bucket — run compact_neardup_state for dedup);
    - sidecar: records ``new_buckets`` (+ the band layout) and zeroes
      the maintenance counters, so the NEXT sink run must pass
      ``state_buckets=new_buckets`` — passing the old count raises,
      exactly the refuse-to-mis-hash contract, now pointing at the new
      truth.

    Crash-safe via tablecommit.commit_roots: both roots are written to
    their stages first, then ONE commit marker holding the NEW sidecar
    is written atomically, then the stages are swapped in and the
    sidecar installed from the marker. A crash before the marker leaves
    the old state intact; after it, finish_commit finishes the commit
    from ANY state entry point — the sink's layout check, the
    compactor, the fold, the cross-dedup probe, or the next rebucket —
    so roots hashed with new_buckets can never serve probes pruned with
    the old sidecar count.

    A flat state (no sidecar ``n_buckets``) is migrated INTO the
    bucketed layout — the one migration path between layouts (the sink
    refuses a run whose layout differs from the recorded one), for when
    a long-running flat state crosses into the batch ≪ index regime
    where bucketing wins (SCALE.md's measured rule). Run at reset
    cadence, offline (not concurrently with the sink — same
    single-writer assumption as the appends). Returns {"old_buckets",
    "new_buckets", "sets_rows", "bands_rows", "rows_removed"}."""
    sets_path = f"{state_dir}/sets"
    bands_path = f"{state_dir}/bands"
    finish_commit(spark, f"{state_dir}/{REBUCKET_MARKER}")
    # fold pending deletions: the re-bucketed state and its fresh
    # sidecar row totals must see the shrunk corpus
    fold_neardup_tombstones(spark, state_dir)
    recorded, bands_bucketed = _bind_neardup(spark, state_dir)
    meta = read_table_meta(spark, state_dir) or {}
    if bucket_bands is None:
        bucket_bands = bands_bucketed
    keys = [(sets_path, F.xxhash64("id"), ["id"])]
    if bucket_bands:
        keys.append((bands_path, F.col("band_hash"), ["id", "band_idx"]))
    roots, counts = [], []
    for path, key, dedup_cols in keys:
        df = stateroot.read(spark, path).drop("__kb")
        counts.append(_dedup_counts(df, dedup_cols))
        keep = df.dropDuplicates(dedup_cols)
        roots.append((keep.withColumn("__kb", F.pmod(key, F.lit(new_buckets))), path, "__kb"))
    sets_rows = counts[0][1]
    if bucket_bands:
        bands_rows = counts[1][1]
    elif hadoop_path_exists(spark, bands_path):
        bands_rows = stateroot.read(spark, bands_path).count()
    else:
        bands_rows = 0
    merged = dict(meta)
    merged.update(
        {
            "n_buckets": new_buckets,
            "bucket_bands": bucket_bands,
            MAINT_COUNTER_KEY: 0,
            # rebucket deduped: the true doc count replaces the
            # redelivery-inclusive running total (rebucket_due reads it)
            MAINT_ROWS_KEY: sets_rows,
        }
    )
    merged.pop(MAINT_REDELIVERY_KEY, None)
    commit_roots(
        f"{state_dir}/{REBUCKET_MARKER}",
        roots,
        meta=(f"{state_dir}/{TABLE_META_FILE}", merged),
    )
    return {
        "old_buckets": recorded,
        "new_buckets": new_buckets,
        "sets_rows": sets_rows,
        "bands_rows": bands_rows,
        "rows_removed": sum(before - after for before, after in counts),
    }


def cross_dedup_against_state(
    spark: SparkSession,
    state_dir: str,
    incoming_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Fuzzy decontamination against a PERSISTED reference index: probe
    an incoming corpus's bands into the near-dup state a
    ``stream_neardup_minhash_sink`` run accumulated, paying ONLY for the
    incoming side — the operational form of
    ``operators.dedup.minhash_lsh_cross_pairs``, whose both-sides form
    re-shingles and re-signs corpus A on every call. At 100 TB the
    reference corpus is banded ONCE (by the sink, incrementally, as it
    ingests) and every daily delta probes it here:

    - signature parameters come from the state's meta sidecar (recorded
      by the sink, enforced against drift) — the probe CANNOT be built
      in a different signature space than the index;
    - the band probe reads only the incoming side's band-hash buckets
      when the state has ``bucket_bands=True`` (targeted ``__kb=`` dirs,
      the sink's own probe economics), the flat root otherwise;
    - exact-Jaccard verification prunes the shingle store to the
      CANDIDATE ids' buckets when the state is bucketed — candidates ≪
      corpus at any delta size;
    - redelivery copies in the state are byte-identical, so candidate
      dedup on (id_a, id_b) and a set-store dedup on id inside the
      pruned scope yield exactly the compacted state's answer.

    Returns (id_a = reference doc, id_b = incoming doc, jaccard >=
    threshold) — pair-identical to minhash_lsh_cross_pairs(reference,
    incoming) under the same parameters (pytest-pinned). Incoming ids
    may collide with reference ids; sides stay distinct."""
    from bharatmlstack_spark.operators.dedup import (
        band_signatures,
        hashed_word_shingles,
        minhash_signatures_from_hashes,
    )

    sets_path = f"{state_dir}/sets"
    bands_path = f"{state_dir}/bands"
    # adopt a crashed rebucket
    finish_commit(spark, f"{state_dir}/{REBUCKET_MARKER}")
    finish_commit(spark, sets_path + BUCKET_MARKER_SUFFIX)
    finish_commit(spark, bands_path + BUCKET_MARKER_SUFFIX)
    meta = read_table_meta(spark, state_dir) or {}
    missing = [k for k in ("num_hashes", "bands", "shingle_n") if k not in meta]
    if missing:
        raise RuntimeError(
            f"near-dup state {state_dir} records no signature parameters "
            f"({missing} absent from the meta sidecar — a pre-r11 state): "
            "run the sink once (it records them idempotently) or rebuild."
        )
    num_hashes, bands_n, shingle_n = (
        int(meta["num_hashes"]),
        int(meta["bands"]),
        int(meta["shingle_n"]),
    )
    recorded, bands_bucketed = _bind_neardup(spark, state_dir)
    bucketed = recorded is not None

    # the empty frame's id types must match the non-empty path's (id_a
    # inherits the STORED sets' id type, id_b the incoming's) or the
    # schema would differ depending on whether any bucket matched —
    # breaking downstream unions only in the empty case
    from pyspark.sql.types import DoubleType, StructField, StructType

    in_id_type = incoming_df.schema[id_col].dataType
    stored_id_type = (
        stateroot.read(spark, sets_path).schema["id"].dataType
        if hadoop_path_exists(spark, sets_path)
        else in_id_type
    )
    empty = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("id_a", stored_id_type),
                StructField("id_b", in_id_type),
                StructField("jaccard", DoubleType()),
            ]
        ),
    )
    if not hadoop_path_exists(spark, bands_path):
        return empty  # nothing indexed yet: no cross pairs by definition

    from bharatmlstack_spark.query_registry import defer_unpersist

    sets_b = defer_unpersist(
        incoming_df.select(
            F.col(id_col).alias("id"),
            hashed_word_shingles(text_col, shingle_n).alias("sh"),
        ).persist()
    )
    bands_b = band_signatures(
        minhash_signatures_from_hashes(sets_b, "id", "sh", num_hashes),
        bands_n,
    ).select(F.col("id").alias("id_b"), "band_idx", "band_hash")
    if bands_bucketed:
        need = [
            r[0]
            for r in bands_b.select(
                F.pmod(F.col("band_hash"), F.lit(recorded)).alias("kb")
            )
            .distinct()
            .collect()
        ]
        dirs = _list_kb_dirs(spark, bands_path)
        paths = [dirs[b] for b in need if b in dirs]
        if not paths:
            return empty
        bands_a = stateroot.read(spark, bands_path, *paths).drop("__kb")
    else:
        bands_a = stateroot.read(spark, bands_path)
    # retracted reference docs (delete_neardup_docs) stop flagging
    # deltas immediately, before any fold physically purges them
    tomb = _neardup_tombstones(spark, state_dir)
    if tomb is not None:
        bands_a = bands_a.join(F.broadcast(tomb), on="id", how="left_anti")
    bands_a = bands_a.select(
        F.col("id").alias("id_a"), "band_idx", "band_hash"
    )
    cands = defer_unpersist(
        bands_a.join(bands_b, on=["band_idx", "band_hash"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])  # multi-band + redelivery copies
        .persist()
    )
    if bucketed:
        need_kb = [
            r[0]
            for r in cands.select(
                F.pmod(F.xxhash64(F.col("id_a")), F.lit(recorded)).alias("kb")
            )
            .distinct()
            .collect()
        ]
        dirs = _list_kb_dirs(spark, sets_path)
        paths = [dirs[b] for b in need_kb if b in dirs]
        stored = (
            stateroot.read(spark, sets_path, *paths).drop("__kb")
            if paths
            else stateroot.read(spark, sets_path).limit(0).drop("__kb")
        )
    else:
        stored = stateroot.read(spark, sets_path)
    a = (
        stored.dropDuplicates(["id"])  # redelivery copies are byte-identical
        .select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    )
    b = sets_b.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    out = (
        cands.join(a, on="id_a")
        .join(b, on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def await_stream(query, timeout_s: int, what: str = "streaming query") -> None:
    """``awaitTermination`` that FAILS LOUDLY on timeout: the bare call
    returns False and lets the caller read a partially-written sink dir,
    which surfaces downstream as a confusing row diff (or a silently
    short result) instead of the actual problem. Every harness that
    replays a bounded topic awaits through this."""
    if not query.awaitTermination(timeout_s):
        raise TimeoutError(f"{what} did not finish within {timeout_s}s")


# ---------------------------------------------------------------------------
# Maintenance cadence + refit for the streamed states
# ---------------------------------------------------------------------------

# Meta-sidecar keys the sinks maintain per micro-batch so a user never
# has to invent the compaction cadence ("after a redelivery event or N
# batches") — the compactors reset them after a successful pass.
MAINT_COUNTER_KEY = "batches_since_compact"
MAINT_REDELIVERY_KEY = "redelivery_suspected"
MAINT_LAST_BATCH_KEY = "last_batch_id"
# lifetime rows appended by the sinks (redelivery copies included — an
# upper bound on distinct rows, which is the safe side for a "has the
# stream outgrown its fitted layout" decision); refit_due reads it
MAINT_ROWS_KEY = "rows_appended"
# set by the FULL-delete surfaces (delete_postings_docs /
# delete_indexed_vectors on a versioned root), cleared by the folds:
# lets maintenance_due treat an explicit erasure wave as always-due even
# under the versioned sinks' count_tombstones=False cadence (full
# deletes are rare events, unlike steady-state update tombstones)
MAINT_FULLDELETE_KEY = "full_delete_pending"

QUANTIZER_DIR_SUFFIX = "__quantizer"


def _update_maintenance_meta(
    spark: SparkSession,
    root: str,
    batch_id: int | None = None,
    rows_appended: int | None = None,
    extra: dict | None = None,
) -> None:
    """Per-micro-batch maintenance bookkeeping in the state root's meta
    sidecar (driver-side, one small-file rewrite — negligible next to the
    batch's parquet append): bump ``batches_since_compact``; when the
    delivered ``batch_id`` is not strictly increasing, flag
    ``redelivery_suspected`` — a restarted checkpoint re-numbers batches
    from an earlier id, which is exactly the event that accumulates the
    byte-identical duplicate rows the compactors reclaim; accumulate
    ``rows_appended`` when the caller passes the batch's row count (the
    refit_due policy reads it). One stateroot.update_meta, so layout
    keys (n_buckets, bucket_bands, n_cells) survive and a crash never
    leaves a torn sidecar. ``extra``: layout facts the writing sink
    knows (e.g. the IVF sinks' fitted n_cells) — consistent by
    construction: the quantizer guard refuses a sink whose quantizer
    (hence n_cells) disagrees with the persisted state. Single-writer
    assumption: same as the sinks' own (one streaming query appends to a
    state root at a time)."""

    def edit(meta: dict) -> None:
        meta[MAINT_COUNTER_KEY] = int(meta.get(MAINT_COUNTER_KEY, 0)) + 1
        if batch_id is not None:
            last = meta.get(MAINT_LAST_BATCH_KEY)
            if last is not None and int(batch_id) <= int(last):
                meta[MAINT_REDELIVERY_KEY] = True
            meta[MAINT_LAST_BATCH_KEY] = max(
                int(batch_id), int(last) if last is not None else int(batch_id)
            )
        if rows_appended:
            meta[MAINT_ROWS_KEY] = int(meta.get(MAINT_ROWS_KEY, 0)) + int(
                rows_appended
            )
        meta.update(extra or {})

    stateroot.update_meta(spark, root, edit)


def _reset_maintenance_meta(
    spark: SparkSession, root: str, clear_redelivery: bool = True
) -> None:
    """After a successful compaction/refit: zero the batch counter and
    clear the redelivery flag (layout keys untouched; a root without a
    sidecar gets none).

    ``clear_redelivery=False`` preserves the known-duplicates signal for
    a compaction pass that could NOT reclaim (the _compact_dedup_state
    bail-out: every duplicate lives in a non-targetable partition dir) —
    maintenance_due then stays true, honestly reporting that duplicates
    persist; each subsequent maybe_* call re-pays only the thin detect
    scan."""

    def edit(meta: dict) -> bool | None:
        if not meta:
            return False
        meta[MAINT_COUNTER_KEY] = 0
        if clear_redelivery:
            meta.pop(MAINT_REDELIVERY_KEY, None)

    stateroot.update_meta(spark, root, edit)


def _set_meta_flag(spark: SparkSession, root: str, key: str, value) -> None:
    """Set ONE sidecar key — _update_maintenance_meta without the
    batch-counter bump, for event flags set outside the sinks' per-batch
    loop (the delete surfaces). ``value=None`` clears the key; clearing
    an absent key skips the rewrite."""

    def edit(meta: dict) -> bool | None:
        if value is not None:
            meta[key] = value
        elif key in meta:
            del meta[key]
        else:
            return False

    stateroot.update_meta(spark, root, edit)


def maintenance_due(
    spark: SparkSession,
    root: str,
    every_n_batches: int = 64,
    count_tombstones: bool = True,
) -> bool:
    """The cadence policy the compactor docstrings promise ("after a
    redelivery event or N batches"), decided from the sidecar the sinks
    maintain: due when a redelivery was observed (duplicates are then
    KNOWN to exist), a deletion wave is pending (tombstones exist — the
    compactors fold them, so a fold IS reclaimable work; without this a
    quiet stream would pay the per-read anti-join mask forever), or
    every ``every_n_batches`` appends (bounds the small-file count and
    the dedup=True readers' shuffle width between passes). One sidecar
    read plus two FS existence checks — call it per micro-batch or from
    a cron job; it never scans the state.

    ``count_tombstones=False``: ignore pending UPDATE tombstones and
    decide on the counter/redelivery signals alone. The VERSIONED sinks'
    in-loop auto_maintain passes this — on an update-heavy stream update
    tombstones are STEADY-STATE (every re-arrival writes one), so
    treating them as always-due would fold on every micro-batch, and a
    fold's rewrite is bucket-population-bound (~the whole postings root
    per pass, measured in SCALE.md) — exactly the amortization the
    cadence exists to buy. The read-side mask keeps results correct
    between folds either way; offline/cron callers keep the default True
    so an explicit deletion wave on a quiet stream still folds promptly.

    FULL deletes are the exception count_tombstones=False does NOT
    silence: an explicit erasure (delete_postings_docs /
    delete_indexed_vectors / purge_docs_everywhere) on a versioned root
    sets the ``full_delete_pending`` sidecar flag, and a pending erasure
    is always due — full deletes are rare events (unlike steady-state
    update tombstones), and right-to-be-forgotten waves should fold at
    the next maintenance opportunity, not after N quiet batches. The
    folds clear the flag with the tombstone table."""
    meta = read_table_meta(spark, root) or {}
    if meta.get(MAINT_REDELIVERY_KEY):
        return True
    if meta.get(MAINT_FULLDELETE_KEY):
        return True
    # postings/near-dup roots keep tombstones under "tombstones", the
    # IVF root under "_tombstones" (invisible to its own parquet scan)
    if count_tombstones and (
        hadoop_path_exists(spark, f"{root}/tombstones")
        or hadoop_path_exists(spark, f"{root}/_tombstones")
    ):
        return True
    return int(meta.get(MAINT_COUNTER_KEY, 0)) >= every_n_batches


def maybe_compact_streamed_index(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    every_n_batches: int = 64,
    count_tombstones: bool = True,
) -> int | None:
    """compact_streamed_index gated by maintenance_due — the
    policy-plus-mechanism form a pipeline calls after each batch (or on
    a timer) instead of inventing its own cadence. Returns rows removed,
    or None when maintenance wasn't due (the sidecar read is the only
    cost of a not-due call)."""
    if not maintenance_due(
        spark, index_path, every_n_batches, count_tombstones=count_tombstones
    ):
        return None
    return compact_streamed_index(spark, index_path, id_col)


def maybe_compact_neardup_state(
    spark: SparkSession, state_dir: str, every_n_batches: int = 64
) -> dict | None:
    """compact_neardup_state gated by maintenance_due (see
    maybe_compact_streamed_index)."""
    if not maintenance_due(spark, state_dir, every_n_batches):
        return None
    return compact_neardup_state(spark, state_dir)


def save_streamed_index_quantizer(
    spark: SparkSession, index_path: str, ivf
) -> None:
    """Persist the coarse quantizer beside its index (a
    ``<index>__quantizer`` parquet of (cell, centroid) rows — a sibling
    dir, so an index-root rewrite never clobbers it): the sinks take a
    fit IvfIndex object, and a RESTARTED pipeline must assign with the
    SAME centroids or probes would read the wrong cells. n_cells x dim
    doubles — driver-small at any realistic n_cells."""
    _write_quantizer(spark, index_path + QUANTIZER_DIR_SUFFIX, ivf)


def _quantizer_frame(spark: SparkSession, ivf) -> DataFrame:
    rows = [
        (int(c), [float(x) for x in cent])
        for c, cent in enumerate(ivf.centroids)
    ]
    return spark.createDataFrame(rows, "cell int, centroid array<double>").coalesce(1)


def _write_quantizer(spark: SparkSession, out_dir: str, ivf) -> None:
    _quantizer_frame(spark, ivf).write.mode("overwrite").parquet(out_dir)


def load_streamed_index_quantizer(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
):
    """The read half of save_streamed_index_quantizer: rebuild the fit
    IvfIndex a restarted sink (or a search) assigns with."""
    import numpy as np

    from bharatmlstack_spark.operators.lsh import IvfIndex

    # adopt a crashed refit first
    finish_commit(spark, index_path + REFIT_MARKER_SUFFIX)
    rows = (
        stateroot.read(spark, index_path + QUANTIZER_DIR_SUFFIX)
        .orderBy("cell")
        .collect()
    )
    ivf = IvfIndex(n_cells=len(rows), id_col=id_col, emb_col=emb_col)
    ivf.centroids = np.array([r["centroid"] for r in rows], dtype=np.float64)
    return ivf


def _ensure_quantizer_consistent(
    spark: SparkSession, index_path: str, ivf
) -> None:
    """Refuse-to-mis-route: an IVF sink starting against an existing
    persisted ``__quantizer`` must hold the SAME centroids — after a
    refit_streamed_index re-buckets the state, a restarted sink handed
    the pre-refit quantizer would assign new vectors into cells that no
    longer mean what they meant, and every probe of those cells would
    silently miss (the near-dup sink's bucket-count guard, applied to
    centroids). Exact float64 comparison is sound: the sidecar stores
    the fit's float64 centroids losslessly (parquet doubles), so the
    same fit object — or load_streamed_index_quantizer's rebuild, or
    refit's returned ivf — compares bit-equal. A state with no persisted
    quantizer (fresh, or pre-r12) persists the handed one, arming the
    guard for every subsequent restart."""
    import numpy as np

    # adopt a crashed refit first
    finish_commit(spark, index_path + REFIT_MARKER_SUFFIX)
    qdir = index_path + QUANTIZER_DIR_SUFFIX
    if not hadoop_path_exists(spark, qdir):
        save_streamed_index_quantizer(spark, index_path, ivf)
        return
    stored = load_streamed_index_quantizer(
        spark, index_path, id_col=ivf.id_col, emb_col=ivf.emb_col
    )
    ours = np.asarray(ivf.centroids, dtype=np.float64)
    theirs = np.asarray(stored.centroids, dtype=np.float64)
    if ours.shape != theirs.shape or not np.array_equal(ours, theirs):
        raise RuntimeError(
            f"streamed IVF index {index_path} was built with a different "
            f"coarse quantizer (persisted: {theirs.shape[0]} cells, "
            f"handed: {ours.shape[0]} cells{'' if ours.shape != theirs.shape else ', same count but different centroids'}) "
            "— appending with it would assign new vectors into cells the "
            "accumulated state does not mean, silently mis-routing every "
            "subsequent probe. Pass load_streamed_index_quantizer("
            f"spark, {index_path!r}) (or the ivf refit_streamed_index "
            "returned), or rebuild the state."
        )


PQ_CODEBOOKS_SUFFIX = "__codebooks"


def _write_codebooks(spark: SparkSession, out_dir: str, books) -> None:
    rows = [
        (int(j), int(c), [float(x) for x in books[j, c]])
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    df = spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    )
    df.coalesce(1).write.mode("overwrite").parquet(out_dir)


def _read_codebooks(spark: SparkSession, in_dir: str):
    import numpy as np

    rows = (
        stateroot.read(spark, in_dir).orderBy("subspace", "code").collect()
    )
    m = max(r["subspace"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    sub = len(rows[0]["centroid"])
    books = np.zeros((m, k, sub), dtype=np.float32)
    for r in rows:
        books[r["subspace"], r["code"]] = np.array(
            r["centroid"], dtype=np.float32
        )
    return books


def save_streamed_ivfpq_quantizer(
    spark: SparkSession, index_path: str, ivfpq
) -> None:
    """Persist BOTH halves of a fit IvfPqIndex beside its index: the
    coarse centroids in the shared ``__quantizer`` sidecar (float64 —
    the IVF sinks' format, so the guard machinery is one code path) and
    the residual PQ codebooks in ``__codebooks``. Codebook values are
    float32 stored losslessly as parquet doubles (m=16, k=64, sub=4:
    4,096 values — driver-small), so the round-trip is bit-exact and
    the consistency guard can compare with array_equal."""
    assert ivfpq.codebooks is not None, "fit() first"
    save_streamed_index_quantizer(spark, index_path, ivfpq.ivf)
    _write_codebooks(spark, index_path + PQ_CODEBOOKS_SUFFIX, ivfpq.codebooks)


def load_streamed_ivfpq_quantizer(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
):
    """The read half of save_streamed_ivfpq_quantizer: rebuild the fit
    IvfPqIndex a restarted sink (or a search) assigns and scores with —
    bit-identical to the persisted fit."""
    from bharatmlstack_spark.operators.ivfpq import IvfPqIndex

    ivf = load_streamed_index_quantizer(
        spark, index_path, id_col=id_col, emb_col=emb_col
    )
    books = _read_codebooks(spark, index_path + PQ_CODEBOOKS_SUFFIX)
    idx = IvfPqIndex(
        n_cells=len(ivf.centroids),
        m=int(books.shape[0]),
        k=int(books.shape[1]),
        id_col=id_col,
        emb_col=emb_col,
    )
    idx.ivf = ivf
    idx.codebooks = books
    return idx


def _ensure_ivfpq_quantizer_consistent(
    spark: SparkSession, index_path: str, ivfpq
) -> None:
    """The two-stage form of _ensure_quantizer_consistent: a sink
    starting against an existing compressed index must hold the SAME
    coarse centroids AND the same residual codebooks — stale codebooks
    would encode new vectors against tables the accumulated codes don't
    mean, and every ADC gather over a mixed cell would silently score
    garbage. Fresh state persists both handed halves, arming the guard
    for every restart."""
    import numpy as np

    assert ivfpq.codebooks is not None, "fit() first"
    _ensure_quantizer_consistent(spark, index_path, ivfpq.ivf)
    bdir = index_path + PQ_CODEBOOKS_SUFFIX
    if not hadoop_path_exists(spark, bdir):
        _write_codebooks(spark, bdir, ivfpq.codebooks)
        return
    stored = _read_codebooks(spark, bdir)
    ours = np.asarray(ivfpq.codebooks, dtype=np.float32)
    if ours.shape != stored.shape or not np.array_equal(ours, stored):
        raise RuntimeError(
            f"streamed IVF-PQ index {index_path} was built with different "
            f"residual codebooks (persisted shape {stored.shape}, handed "
            f"{ours.shape}) — appending with them would encode new "
            "vectors against tables the accumulated codes do not mean, "
            "silently corrupting every ADC score. Pass "
            f"load_streamed_ivfpq_quantizer(spark, {index_path!r}), or "
            "rebuild the state."
        )


def stream_ann_ivfpq_sink(
    stream_df: DataFrame,
    ivfpq,
    index_path: str,
    checkpoint_dir: str,
    spark: SparkSession,
    trigger_once: bool = False,
    auto_maintain: bool = False,
    maintain_every_n_batches: int = 64,
):
    """Streaming ingestion into the COMPRESSED ANN index — the form that
    actually ships at 100 TB: stream_ann_ivf_sink stores full-precision
    vectors (a 100 TB embedding stream stays 100 TB on disk), this sink
    stores IVFADC rows (id, cell, m tinyint codes — ~20 B/vector at
    dim=64, m=16, the 12.8x measured in SCALE.md) through the same
    frozen-quantizer discipline. Per micro-batch: ONE Arrow map-side
    pass assigns each vector's nearest cell and PQ-encodes its residual
    (IvfPqIndex.index — no shuffle), appended cell-partitioned so a
    search's nprobe cells read only their partition dirs.

    Both quantizer halves are frozen at bootstrap and persisted as
    sidecars (``__quantizer`` + ``__codebooks``); restarts refuse a
    mismatched fit (_ensure_ivfpq_quantizer_consistent) — the FAISS
    ingestion discipline: fit once on a sample, then ingestion only
    assigns and encodes. Assignment AND encoding are deterministic for
    a frozen fit, so at-least-once redelivery appends byte-identical
    rows — readers dedup on the vector id (read_streamed_ivf_index
    works unchanged on a codes root; compact_streamed_index reclaims
    physically at maintenance cadence).

    Append-only corpus build: each vector id arrives once. The
    versioned upsert path lives on the full-precision sink
    (stream_ann_ivf_sink allow_updates=True); a versioned compressed
    index would reuse that machinery unchanged (gen column + _ids
    registry + update-tombstones over these same rows) — kept apart so
    each sink's contract stays single-purpose. Search:
    ann_search_streamed_ivfpq (cell-pruned ADC + optional exact
    re-rank). Reference anchor: skye realtime indexer
    (skye/internal/consumers/handler/indexer/) serving KNN at
    compressed storage (qdrant.go:351-412)."""
    _ensure_ivfpq_quantizer_consistent(spark, index_path, ivfpq)
    _bind_ivf(
        spark,
        index_path,
        ivfpq=True,
        pq_m=int(ivfpq.m),
        pq_k=int(ivfpq.k),
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        assigned = ivfpq.index(batch_df).persist()
        try:
            n = assigned.count()
            if not n:
                return
            _update_maintenance_meta(
                spark,
                index_path,
                batch_id,
                rows_appended=n,
                extra={"n_cells": int(len(ivfpq.ivf.centroids))},
            )
            stateroot.append(assigned, index_path, "cell")
            if auto_maintain:
                maybe_compact_streamed_index(
                    spark,
                    index_path,
                    id_col=ivfpq.id_col,
                    every_n_batches=maintain_every_n_batches,
                )
        finally:
            assigned.unpersist()

    writer = stream_df.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ann_search_streamed_ivfpq(
    spark: SparkSession,
    index_path: str,
    query,
    k: int = 10,
    nprobe: int = 4,
    rerank: DataFrame | None = None,
    shortlist: int | None = None,
    dedup: bool = True,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ANN search through the stream-built compressed index: rebuild the
    frozen two-stage quantizer from the sidecars (bit-identical), read
    the cell-partitioned codes (redelivery dedup on id — pass
    dedup=False on the hot path after compact_streamed_index), then
    IvfPqIndex.search: nprobe cell prune (partition-pruned scan via the
    isin filter) → vectorized ADC gather → heap top-N → optional
    broadcast-semi-join exact re-rank."""
    idx = load_streamed_ivfpq_quantizer(
        spark, index_path, id_col=id_col, emb_col=emb_col
    )
    codes = read_streamed_ivf_index(
        spark, index_path, id_col=id_col, dedup=dedup
    )
    return idx.search(
        codes, query, k, nprobe=nprobe, rerank=rerank, shortlist=shortlist
    )


def refit_due(
    spark: SparkSession,
    index_path: str,
    target_cell_rows: int = 10_000,
    factor: float = 2.0,
) -> bool:
    """The refit-cadence policy — maintenance_due's sibling for
    refit_streamed_index, decided from the same sidecar the IVF sinks
    maintain (one read, never a state scan): due when the accumulated
    appended rows have outgrown the fitted layout by ``factor``, i.e.
    ``rows_appended >= factor * n_cells * target_cell_rows`` (SCALE.md's
    prescription: per-cell population pinned at ~target_cell_rows, so
    2x over means probes scan ~2x the intended rows and SemDeDup's
    within-cell pair work ~4x). ``rows_appended`` counts redelivery
    copies — an upper bound on distinct rows, which errs toward
    refitting early (the refit itself dedups, so an early refit is
    wasted work at worst, never wrong). A sidecar written by a past
    refit carries its own target_cell_rows and that takes precedence
    over the argument. False when the sidecar lacks the counters (no
    sink has run, or a pre-r12 state) — the caller then has no basis to
    refit from metadata alone."""
    # adopt a crashed refit first
    finish_commit(spark, index_path + REFIT_MARKER_SUFFIX)
    meta = read_table_meta(spark, index_path) or {}
    n_cells = meta.get("n_cells")
    rows = meta.get(MAINT_ROWS_KEY)
    if not n_cells or not rows:
        return False
    tcr = int(meta.get("target_cell_rows", target_cell_rows))
    return int(rows) >= factor * int(n_cells) * tcr


def rebucket_due(
    spark: SparkSession,
    state_dir: str,
    target_bucket_rows: int = 100_000,
    factor: float = 2.0,
) -> bool:
    """refit_due's sibling for the near-dup state: due when the docs
    appended (the sink accumulates ``rows_appended`` in the sidecar)
    have outgrown ``n_buckets x target_bucket_rows`` by ``factor`` —
    per-bucket size, and with it every targeted-dir probe read, grows
    linearly once the corpus outruns the bucket count the state was
    created with (the growth rebucket_neardup_state exists to reset).
    One sidecar read; False for a flat state (no n_buckets — bucket
    population isn't the scaling axis there; the regime rule in
    SCALE.md decides the flat->bucketed migration instead) or when no
    sink has recorded counters yet."""
    # adopt a crashed rebucket
    finish_commit(spark, f"{state_dir}/{REBUCKET_MARKER}")
    meta = read_table_meta(spark, state_dir) or {}
    n_buckets = meta.get("n_buckets")
    rows = meta.get(MAINT_ROWS_KEY)
    if not n_buckets or not rows:
        return False
    return int(rows) >= factor * int(n_buckets) * target_bucket_rows


def maybe_refit_streamed_index(
    spark: SparkSession,
    index_path: str,
    target_cell_rows: int = 10_000,
    factor: float = 2.0,
    **refit_kwargs,
) -> dict | None:
    """refit_streamed_index gated by refit_due — the policy-plus-
    mechanism form (maybe_compact_streamed_index's reset-cadence
    sibling). Returns the refit stats (the caller MUST switch to
    ``stats['ivf']``/load_streamed_index_quantizer before appending
    again — the start-time guard enforces it), or None when the
    accumulated stream still fits the fitted layout (one sidecar read).

    OFFLINE ONLY: never call from a running sink's own loop (unlike the
    compaction maybe_*) — the sink holds the pre-refit quantizer object
    and its next append would be exactly the stale-quantizer mis-route
    the guard refuses. Run it between sink restarts, at reset cadence.

    The gate and the mechanism share ONE resolved target: a sidecar
    written by a past refit records its target_cell_rows and that takes
    precedence over the argument (exactly refit_due's rule) — otherwise
    a due-at-16 decision could execute a refit at the 10_000 default,
    collapsing the index to min_cells and silently rewriting the
    operator's configured layout target."""
    meta = read_table_meta(spark, index_path) or {}
    resolved = int(meta.get("target_cell_rows", target_cell_rows))
    if not refit_due(spark, index_path, resolved, factor):
        return None
    return refit_streamed_index(
        spark, index_path, target_cell_rows=resolved, **refit_kwargs
    )


def maybe_rebucket_neardup_state(
    spark: SparkSession,
    state_dir: str,
    target_bucket_rows: int = 100_000,
    factor: float = 2.0,
    bucket_bands: bool | None = None,
) -> dict | None:
    """rebucket_neardup_state gated by rebucket_due, with the new count
    derived the way refit derives n_cells: ``new_buckets =
    ceil(docs / target_bucket_rows)`` from the sidecar's accumulated
    count — per-bucket population lands back at ~target_bucket_rows no
    matter how far the corpus outgrew creation. Returns the rebucket
    stats (the NEXT sink run must pass state_buckets=new_buckets — the
    layout guard enforces it), or None when not due. OFFLINE ONLY, same
    single-writer caveat as maybe_refit_streamed_index."""
    import math as _math

    if not rebucket_due(spark, state_dir, target_bucket_rows, factor):
        return None
    meta = read_table_meta(spark, state_dir) or {}
    new_buckets = max(1, _math.ceil(int(meta[MAINT_ROWS_KEY]) / target_bucket_rows))
    return rebucket_neardup_state(
        spark, state_dir, new_buckets, bucket_bands=bucket_bands
    )


def refit_streamed_index(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    target_cell_rows: int = 10_000,
    min_cells: int = 16,
    sample_size: int = 4096,
    iters: int = 5,
) -> dict:
    """Re-bucket the streamed IVF/SemDeDup state as the accumulated
    stream grows — the re-fit half of skye's indexer reset/rebuild jobs
    (skye/internal/consumers/handler/indexer/), completing what
    compact_streamed_index leaves open: compaction reclaims duplicate
    rows but keeps the BOOTSTRAP quantizer, so per-cell population — and
    with it every probe's scan and SemDeDup's within-cell pair work,
    which grows as sum(|cell|^2) — rises linearly with the stream
    (SCALE.md's fixed-cells row shows the superlinear cost at 10x).

    Run at reset cadence (orders of magnitude rarer than compaction —
    ``refit_due`` decides it from the sidecar the sinks maintain: one
    read, due when rows_appended has outgrown n_cells x target_cell_rows
    by ~2x):

    1. read the accumulated index, dedup on id (the refit subsumes a
       compaction pass);
    2. re-derive ``n_cells = max(min_cells, ceil(n / target_cell_rows))``
       from the ACCUMULATED count — the same prescription the batch
       SemDeDup row derives from its input (cells ~ n, cell population
       pinned at ~target_cell_rows regardless of stream growth);
    3. re-fit the coarse quantizer on the accumulated vectors
       (IvfIndex.fit — deterministic hash-ordered sample, ≤ sample_size
       driver rows) and re-assign every vector (one Arrow GEMM pass);
    4. one tablecommit.commit_roots of the re-assigned state and the
       NEW quantizer (``<index>__quantizer``) under the refit marker,
       the fresh sidecar (n_cells + target_cell_rows + reset
       maintenance counters) riding in the index's stage and installed
       from the marker. A crash before the marker leaves the live root
       + quantizer untouched; after it, finish_commit finishes the
       adoption from any entry point (sinks, readers, compactor, next
       refit) — the index and its quantizer can never go live
       separately, which is what made a restarted sink silently
       mis-route probes.

    Search/dedup equivalence (pytest-pinned): assignments change, but
    identical vectors still share a cell under ANY quantizer, so exact-
    duplicate recall stays 1; ANN search against the refit index returns
    the same top-k for the fixture corpus. Subsequent sink runs must
    hold the RETURNED quantizer (or load_streamed_index_quantizer's
    rebuild) — ENFORCED since r12: sink start compares the handed
    centroids against the persisted ``__quantizer`` and refuses a stale
    one (_ensure_quantizer_consistent), so the mis-route is a loud
    error, never a silent probe miss. Returns {"ivf", "n",
    "rows_removed", "n_cells_before", "n_cells_after"}."""
    import math as _math

    from bharatmlstack_spark.operators.feature_store import (
        hadoop_list_partition_dirs,
    )
    from bharatmlstack_spark.operators.lsh import IvfIndex

    finish_commit(spark, index_path + REFIT_MARKER_SUFFIX)
    if not hadoop_path_exists(spark, index_path):
        raise FileNotFoundError(
            f"refit_streamed_index: no index at {index_path} — nothing "
            "accumulated yet (run a sink first); refusing to fabricate "
            "an empty state"
        )
    old_meta = read_table_meta(spark, index_path) or {}
    # fold pending vector deletions: the refit sample, the re-assignment,
    # and the fresh sidecar row totals must all see the shrunk corpus
    # (the root commit would also silently drop the _tombstones dir)
    fold_index_tombstones(spark, index_path, id_col)
    n_cells_before = len(hadoop_list_partition_dirs(spark, index_path, "cell"))
    # versioned index: gen rides through the re-assignment (the fold
    # above left one live gen per id; dropping the column would make
    # every post-refit row invisible to later update masks)
    gen = ["gen"] if old_meta.get("versioned") else []
    raw = stateroot.read(spark, index_path).select(id_col, emb_col, *gen)
    total, n = _dedup_counts(raw, [id_col])
    acc = raw.dropDuplicates([id_col])
    n_cells = max(min_cells, _math.ceil(n / target_cell_rows))
    ivf = IvfIndex(n_cells=n_cells, id_col=id_col, emb_col=emb_col).fit(
        acc, sample_size=sample_size, iters=iters
    )
    # the fresh sidecar: counters zeroed (the refit subsumed the
    # compaction), fitted cell count + target_cell_rows + post-dedup
    # row count recorded for the next refit_due decision. MERGE over the
    # prior meta (the rebucket's discipline) — dropping last_batch_id
    # would blind redelivery detection for a stream later restarted from
    # an older checkpoint
    merged = dict(old_meta)
    merged.update(
        {
            "n_cells": n_cells,
            "target_cell_rows": target_cell_rows,
            MAINT_COUNTER_KEY: 0,
            MAINT_ROWS_KEY: n,
        }
    )
    merged.pop(MAINT_REDELIVERY_KEY, None)  # the refit reclaimed them
    commit_roots(
        index_path + REFIT_MARKER_SUFFIX,
        [
            (ivf.index(acc), index_path, "cell"),
            (_quantizer_frame(spark, ivf), index_path + QUANTIZER_DIR_SUFFIX, None),
        ],
        meta=(f"{index_path}/{TABLE_META_FILE}", merged),
    )
    return {
        "ivf": ivf,
        "n": n,
        "rows_removed": total - n,
        "n_cells_before": n_cells_before,
        "n_cells_after": n_cells,
    }


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window: str = "7 days",
    watermark: str = "14 days",
) -> DataFrame:
    """SS3/SS4: tumbling weekly window with a late-data watermark — the
    declarative form of the 24-slot ring; rows later than the watermark are
    dropped, inside it they merge into their window (the reference re-sorts
    within the week on every persist)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("week_start"),
            user_col,
            "n_events",
        )
    )


def stateful_top_events(
    stream_df: DataFrame,
    k: int = 500,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    payload_col: str = "event_id",
    watermark_col: str | None = None,
    retention_ms: int | None = None,
    watermark_delay: str = "10 minutes",
):
    """SS5: incremental per-user top-K newest events via
    applyInPandasWithState — the true streaming-state form of the 500/week
    cap (persist/click.go:178-181). State = the current top-K list per
    user; each micro-batch merges, re-sorts desc, truncates.

    ``retention_ms`` bounds the state on an UNBOUNDED user population
    the way the reference bounds the interaction store (the rolling
    24-week ring, interaction-store/internal/constants/constants.go:
    5-24 — events beyond the horizon are unreadable by design): an
    event-time timeout fires once the watermark passes a user's newest
    event + retention, and the timeout invocation REMOVES their state —
    every retained event would by then be outside the retention window
    anyway, so dropping the whole list loses nothing a retention-
    windowed reader could see. A returning user rebuilds from their new
    events, exactly as the reference's expired ring slots do. Default
    None keeps NoTimeout (state per user ever seen — the exact-equality
    form the registered stateful_topk_stream row gates)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{user_col} long, {ts_col} long, {payload_col} long"
    state_schema = f"ts array<long>, payload array<long>"
    src = stream_df
    if retention_ms is not None:
        src = stream_df.withColumn(
            "__ets", F.timestamp_millis(F.col(ts_col).cast("long"))
        ).withWatermark("__ets", watermark_delay)

    def update(key, pdf_iter, state: GroupState):
        if retention_ms is not None and state.hasTimedOut:
            # watermark passed newest_ts + retention: every retained
            # event is outside the rolling window — drop the list
            state.remove()
            return
        rows_ts: list[int] = []
        rows_payload: list[int] = []
        if state.exists:
            (ts_list, payload_list) = state.get
            rows_ts = list(ts_list)
            rows_payload = list(payload_list)
        had_data = False
        for pdf in pdf_iter:
            if len(pdf):
                had_data = True
            rows_ts.extend(int(v) for v in pdf[ts_col])
            rows_payload.extend(int(v) for v in pdf[payload_col])
        if not had_data:
            return  # no rows for this key this batch: state unchanged
        order = sorted(
            range(len(rows_ts)), key=lambda i: (-rows_ts[i], -rows_payload[i])
        )[:k]
        rows_ts = [rows_ts[i] for i in order]
        rows_payload = [rows_payload[i] for i in order]
        state.update((rows_ts, rows_payload))
        if retention_ms is not None:
            state.setTimeoutTimestamp(
                max(
                    rows_ts[0] + retention_ms + 1,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        yield pd.DataFrame(
            {
                user_col: [key[0]] * len(rows_ts),
                ts_col: rows_ts,
                payload_col: rows_payload,
            }
        )

    return src.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if retention_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stateful_sessionize(
    stream_df: DataFrame,
    gap_ms: int = 30 * 60 * 1000,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    id_col: str = "event_id",
    evict_idle: bool = False,
    watermark_delay: str = "10 minutes",
):
    """Gap-based sessionization with TRUE cross-batch state via
    applyInPandasWithState — the streaming-state form of the registered
    ``events_sessionize`` row (lag + running sum): state = (last event
    time, current session) per user, each micro-batch sorts its own rows
    by (ts, id), opens a new session on a ``gap_ms`` silence, and emits
    every event ONCE with its session id. A session spanning micro-
    batches keeps its identity — the part the batch window can't give an
    unbounded stream — and the state is two longs per user, not the
    events.

    ``evict_idle=True`` is the form that survives an UNBOUNDED user
    population (the reference's bounded-retention discipline,
    interaction-store/internal/constants/constants.go:5-24): the input
    gains an event-time watermark (``timestamp_millis(ts_col)``,
    ``watermark_delay`` late-allowance) and each user's state carries an
    EventTimeTimeout at ``last_ts + gap_ms``. Once the watermark passes
    it, the session can never be extended again — any event that could
    (ts <= last_ts + gap) is by then later-than-watermark late — so the
    timeout invocation REMOVES the state. Because an ordinal counter
    dies with the evicted state, this mode identifies a session by its
    FIRST event's ``ts_col`` value (``session_start_ms``), which a
    returning user can never need: their next event is > gap past the
    evicted session by the same watermark argument, so it starts a
    fresh session whose id is its own timestamp. State size is bounded
    by the ACTIVE population (users inside watermark - gap), not users
    ever seen. ``evict_idle=False`` keeps the ordinal ``session_id``
    and NoTimeout — exact vs the batch oracle for bounded key
    populations, unbounded state on unbounded ones.

    Source contract (both modes): per-user arrival must be time-ordered
    ACROSS micro-batches (Kafka per-key ordering / time-ranged files —
    the same ordering contract the versioned sinks document); rows
    within a batch may arrive in any order (sorted here). Ties at a
    batch boundary are safe: an equal timestamp never opens a session.
    With ``evict_idle`` the source must additionally respect the
    watermark (no events later-than-watermark late — the standard
    Structured Streaming contract); within it, eviction is
    OBSERVATIONALLY FREE: the emitted rows equal the batch
    recomputation exactly, which is what the registered
    ``stream_sessionize`` row's DuckDB twin gates."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sess_col = "session_start_ms" if evict_idle else "session_id"
    out_schema = f"{user_col} long, {id_col} long, {sess_col} long"
    state_schema = "last_ts long, sess long"
    src = stream_df
    if evict_idle:
        src = stream_df.withColumn(
            "__ets", F.timestamp_millis(F.col(ts_col).cast("long"))
        ).withWatermark("__ets", watermark_delay)

    def update(key, pdf_iter, state: GroupState):
        if evict_idle and state.hasTimedOut:
            # watermark passed last_ts + gap: the session is closed for
            # good (extending it would need an event later-than-
            # watermark late) — drop the two longs
            state.remove()
            return
        last_ts, sess = state.get if state.exists else (None, 0)
        pdfs = [pdf for pdf in pdf_iter if len(pdf)]
        if not pdfs:
            return  # no rows for this key this batch: state unchanged
        batch = pd.concat(pdfs).sort_values([ts_col, id_col])
        out = []
        for ts in batch[ts_col]:
            ts = int(ts)
            if last_ts is None or ts - last_ts > gap_ms:
                sess = ts if evict_idle else sess + 1
            out.append(sess)
            last_ts = ts
        state.update((last_ts, sess))
        if evict_idle:
            # must exceed the current watermark or Spark refuses: a
            # batch can process rows already older than watermark+gap
            # (they were on the wire when the watermark advanced)
            state.setTimeoutTimestamp(
                max(last_ts + gap_ms + 1, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(
            {
                user_col: [key[0]] * len(out),
                id_col: batch[id_col].to_numpy(),
                sess_col: out,
            }
        )

    return src.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if evict_idle
            else GroupStateTimeout.NoTimeout
        ),
    )


def stream_dedup_sink(
    stream_df: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint_dir: str,
    spark: SparkSession,
    content_col: str = "text",
    id_col: str = "doc_id",
    trigger_once: bool = False,
):
    """Streaming exact dedup: only never-seen-before documents reach the
    output — the incremental form of dedup.exact_dedup for a corpus that
    arrives as a stream.

    Per micro-batch: fingerprint the content (xxhash64, 8 bytes/doc),
    collapse intra-batch duplicates (lowest id wins, same rule as the
    batch operator), anti-join against the seen-fingerprint state, append
    survivors to the output and their fingerprints to the state.

    Scale: the state is ONE long per distinct document ever seen — 100 TB
    of text ~ 10^9 docs ~ 8 GB of fingerprints, a scan-cheap parquet that
    the anti-join's bloom/shuffle handles; content never re-scans. Exactness
    is up to 64-bit collisions (the batch-side trade documented in
    dedup.exact_dedup on fingerprints).

    Idempotence under at-least-once replay: output and state both land in
    hive-style ``batch_id=N`` subdirectories. The state subdirectory's
    ``_SUCCESS`` file is the commit marker and is written LAST (committer
    atomic-rename); a replayed batch whose state dir is committed is
    skipped outright, and a replay after a partial failure (output written,
    state dir present but uncommitted) deterministically overwrites its own
    output and state dirs before committing — the same document can never
    append twice.
    """

    def _dedup(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        state_dir = f"{state_path}/batch_id={batch_id}"
        # the commit marker is the _SUCCESS file INSIDE the state dir, not
        # the dir itself: FileOutputCommitter creates the directory (with
        # _temporary) when the job starts, so a crash mid-state-write leaves
        # the dir present but uncommitted — such a batch must re-run
        if hadoop_path_exists(spark, f"{state_dir}/_SUCCESS"):
            return  # already committed — checkpoint replay
        b = batch_df.withColumn("__fp", F.xxhash64(F.col(content_col)))
        w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
        b = b.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
        if hadoop_path_exists(spark, state_path):
            seen = spark.read.parquet(state_path).select("__fp")
            b = b.join(seen, on="__fp", how="left_anti")
        # persist the batch result once; both writes reuse it
        b = b.persist()
        try:
            b.drop("__fp").write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            )
            b.select("__fp").write.mode("overwrite").parquet(state_dir)
        finally:
            b.unpersist()

    writer = stream_df.writeStream.foreachBatch(_dedup).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def attribution_join(
    clicks: DataFrame,
    conversions: DataFrame,
    user_col: str = "user_id",
    click_ts: str = "click_ts",
    conv_ts: str = "conv_ts",
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream attribution join: each conversion matches the clicks
    by the same user in the preceding attribution window — the
    click->conversion labeling step of an online training pipeline,
    declaratively.

    Both sides carry watermarks, so Spark bounds the join state: a click
    is held only until its attribution window plus the watermark has
    passed, then evicted. The reference does this lookup-side (interaction
    store queried at inference time); expressing it as a watermarked
    interval join makes the label stream a first-class, replayable table.

    Scale: state per user = clicks within the window, shuffled on user_id
    — the same per-key sharding as every event op here.
    """
    c = clicks.withWatermark(click_ts, watermark)
    v = conversions.withWatermark(conv_ts, watermark)
    cond = (
        (c[user_col] == v[user_col])
        & (v[conv_ts] >= c[click_ts])
        & (v[conv_ts] <= c[click_ts] + F.expr(f"INTERVAL {attribution_window}"))
    )
    return c.alias("c").join(v.alias("v"), cond, "inner").select(
        c[user_col].alias(user_col),
        F.col(f"c.{click_ts}"),
        F.col(f"v.{conv_ts}"),
        *[
            F.col(f"c.{x}")
            for x in clicks.columns
            if x not in (user_col, click_ts)
        ],
        *[
            F.col(f"v.{x}")
            for x in conversions.columns
            if x not in (user_col, conv_ts)
        ],
    )


# ---------------------------------------------------------------------------
# Streamed inverted index (BM25) — the fourth member of the streamed-state
# family (CDC key-buckets, near-dup band-buckets, IVF cells, and now
# term-bucket postings). Reference anchor: the interaction/feature stores
# ingest streams into lookup-sharded state (online-feature-store
# persist/retrieve); here the "key" is a TERM and the lookup is lexical
# retrieval over the accumulated corpus.
# ---------------------------------------------------------------------------

POSTINGS_DIR = "postings"
DOCLEN_DIR = "doclen"
# the tokenizer IS the index signature: postings hashed under one
# tokenizer are garbage to a search that tokenizes differently — recorded
# in the sidecar and refused on mismatch, like the near-dup shingle params
POSTINGS_TOKENIZER = "ws_lower_v1"


def _postings_tokens(text_col: str):
    """The corpus-wide whitespace tokenizer (operators/retrieval._tokens)
    — imported, not re-written, so the streamed index and the batch BM25
    it must reproduce can never drift apart."""
    from bharatmlstack_spark.operators.retrieval import _tokens

    return _tokens(text_col)


def stream_postings_sink(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    spark: SparkSession,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_once: bool = False,
    auto_maintain: bool = False,
    maintain_every_n_batches: int = 64,
    store_positions: bool = False,
    allow_updates: bool = False,
):
    """Streaming inverted-index builder: each micro-batch of documents is
    tokenized, aggregated to (term, id, tf, dl) postings WITHIN the batch
    (a doc arrives whole, so the per-batch aggregate is the doc's final
    posting), and appended to a term-bucket-partitioned parquet index;
    per-doc lengths land in a sibling id-bucket-partitioned table so
    corpus stats (N, avgdl) cover docs that match no query term.

    Layout under ``index_path``:
      - ``postings/term_bucket=<pmod(xxhash64(term), n_buckets)>``:
        (term, id, tf, dl) — a search reads ONLY its query terms'
        bucket dirs (O(|terms|) listing, never the index);
      - ``doclen/id_bucket=<pmod(xxhash64(id), n_buckets)>``: (id, dl) —
        two thin columns; the stats aggregate is map-side partial;
      - meta sidecar at the root: n_buckets + tokenizer signature +
        id column name + the maintenance counters every streamed sink
        here keeps (_update_maintenance_meta).

    Append-only like the band/cell indexes: postings are a deterministic
    function of the delivered doc row (frozen tokenizer, frozen hash), so
    at-least-once redelivery appends byte-identical rows — readers dedup
    on (term, id) / (id), and ``compact_streamed_postings`` physically
    reclaims at maintenance cadence. A crash between the postings append
    and the doclen append is healed the same way: the restarted
    checkpoint replays the batch and both appends land as byte-identical
    copies.

    ``allow_updates=False`` (default): each doc id arrives once (corpus
    build; an UPDATED doc must version its id — the single-arrival
    contract shared with stream_ann_ivf_sink).

    ``allow_updates=True`` (VERSIONED index — recorded in the sidecar
    signature like the positional flag): a re-arriving doc id REPLACES
    its previous postings, LSM-style. Every postings/doclen row carries
    ``gen`` = the micro-batch id (deterministic under checkpoint replay,
    so redelivery copies stay byte-identical). Per batch the sink probes
    ONLY the batch ids' doclen bucket dirs (the near-dup probe
    discipline — O(batch), never the index) for rows with an OLDER gen;
    each re-arrival appends an update-tombstone ``(id, gen_lt=batch_id)``
    meaning "rows of this doc older than this batch are dead". Searches
    mask ``gen < gen_lt`` through the same broadcast anti-join as
    deletes (a full delete is ``gen_lt = +inf``), and the fold purges the
    dead generations physically at maintenance cadence. Update semantics
    are new-version-wins: the replaced postings stop scoring IMMEDIATELY
    (mask), dropped terms included — the piece a max-gen read-side rule
    could not express without an O(corpus) version join. Under pure
    redelivery the probe's ``gen < batch_id`` filter finds nothing (the
    first delivery's rows carry gen == batch_id), so no tombstones bloat.
    Crash between the tombstone append and the data appends leaves the
    doc masked-but-not-yet-replaced until the checkpoint replays the
    batch (single-writer; a transient delete window, never a
    double-count). Within ONE micro-batch a doc id must be unique
    (pre-aggregate upstream — e.g. a compacted topic): two versions in
    the same batch would aggregate into one blended posting, and an
    in-sink arbitrary-row dedup would break the byte-identical-replay
    contract redelivery relies on.

    Layout guard: a restart that passes a different ``n_buckets`` (or a
    build from a different tokenizer era) is REFUSED against the sidecar
    — appending postings hashed under a different modulus would scatter
    a term across buckets and silently halve every subsequent search's
    recall; the refuse-to-mis-hash stance of the near-dup sink
    (stateroot.bind records the signature on the first start).

    100 TB shape: postings rows ~ token count — the index IS big, but a
    query touches |terms| buckets (~|terms|/n_buckets of it), the
    term-bucket dirs shard the write across executors, and hot stopword
    terms cost reads only when queried. Size n_buckets so a bucket's
    postings fit a scan budget (SCALE.md)."""
    sig = {
        "n_buckets": int(n_buckets),
        "tokenizer": POSTINGS_TOKENIZER,
        "id_col": id_col,
        # positional rows carry a positions array (phrase search reads
        # it); mixing positional and non-positional appends would leave
        # half the index unsearchable by phrase — refused like any other
        # signature mismatch
        "positions": bool(store_positions),
        # versioned rows carry a gen column and updates write
        # update-tombstones; mixing versioned and unversioned appends
        # would leave half the index unmaskable — same refusal
        "versioned": bool(allow_updates),
    }
    # adopt a crashed rebucket, then hold the index to its signature;
    # indexes built before a boolean-flag contract existed have no key
    # and ARE the False case
    finish_commit(spark, f"{index_path}/{POSTINGS_REBUCKET_MARKER}")
    stateroot.bind(
        spark,
        "postings index",
        index_path,
        sig,
        {"positions": False, "versioned": False},
        hint="Pass the recorded value (meta sidecar) or build a new root; "
        "rebucket_postings_index changes n_buckets.",
    )

    toks = _postings_tokens(text_col)
    gen_base = (
        _gen_base_for_checkpoint(spark, index_path, checkpoint_dir)
        if allow_updates
        else 0
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # ONE evaluation of the batch source: the tokenized base feeds
        # BOTH writes (postings + doclen) from cache; the postings
        # aggregate is additionally persisted so its count (the empty
        # check + the sidecar row total) and its write share one pass
        gen_val = gen_base + int(batch_id)
        base = batch_df.select(
            F.col(id_col).alias("id"), toks.alias("__w")
        ).persist()
        if store_positions:
            # posexplode keeps each token's 0-based position; the sorted
            # position list is deterministic (byte-identical under
            # redelivery, like every column here) and tf == its size
            exploded = base.select(
                "id",
                F.size("__w").alias("dl"),
                F.posexplode("__w").alias("pos", "term"),
            )
            aggs = [
                F.count(F.lit(1)).cast("double").alias("tf"),
                F.first("dl").alias("dl"),
                F.sort_array(F.collect_list("pos")).alias("positions"),
            ]
            cols = ["term", "id", "tf", "dl", "positions", "term_bucket"]
        else:
            exploded = base.select(
                "id", F.size("__w").alias("dl"), F.explode("__w").alias("term")
            )
            aggs = [
                F.count(F.lit(1)).cast("double").alias("tf"),
                F.first("dl").alias("dl"),
            ]
            cols = ["term", "id", "tf", "dl", "term_bucket"]
        if allow_updates:
            cols = cols[:-1] + ["gen", "term_bucket"]
        postings = (
            exploded.groupBy("id", "term")
            .agg(*aggs)
            .withColumn(
                "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
            )
            .withColumn("gen", F.lit(gen_val).cast("long"))
            .persist()
        )
        try:
            n = postings.count()  # one evaluation; doubles as empty check
            if not n:
                return
            # pre-bump sidecar snapshot + ONE batch aggregate off the
            # persisted base: feeds the versioned dup-id guard AND the
            # post-append stats rollforward (_roll_postings_stats)
            pre_meta = read_table_meta(spark, index_path) or {}
            bstats = base.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("id").alias("n_ids"),
                F.sum(F.size("__w")).alias("dl"),
            ).collect()[0]
            if allow_updates and int(bstats["n"]) != int(bstats["n_ids"]):
                # the versioned contract says "one row per id per
                # micro-batch" — two versions of a doc in one batch
                # would silently BLEND into a single aggregated posting
                # (merged tf/positions under the same gen, and the
                # probe's gen < gen_val filter tombstones neither).
                # Refuse BEFORE the meta write, so the refused batch
                # leaves the sidecar untouched: a meta bump here would
                # trip the non-monotonic batch-id check on the
                # legitimate retry of the same batch_id, flag a
                # spurious redelivery, and park the stats rollforward
                # on the scan path permanently.
                raise ValueError(
                    f"stream_postings_sink(allow_updates=True): micro-"
                    f"batch {batch_id} carries {int(bstats['n'])} rows "
                    f"but only {int(bstats['n_ids'])} distinct "
                    f"{id_col!r} — duplicate doc ids within one batch "
                    "would blend into a single posting under the same "
                    "generation. Dedup upstream (e.g. last-write-wins "
                    "per id per trigger) before the sink."
                )
            # meta BEFORE the appends: the counter bump is the stats
            # cache's staleness witness, so it must land first — a crash
            # between an append and a later meta write would leave
            # counter==0 with data the cached (n_docs, sum_dl) don't
            # cover, and searches would trust them. This order merely
            # over-counts on a crash-replay (rows_appended is documented
            # as an upper bound; the counter firing maintenance one
            # batch early is harmless).
            _update_maintenance_meta(
                spark,
                index_path,
                batch_id,
                rows_appended=n,
                extra={"next_gen_base": gen_val + 1} if allow_updates else None,
            )
            dead_docs = dead_dl = 0
            if allow_updates:
                # re-arrival probe: read ONLY the batch ids' doclen
                # bucket dirs for rows with an OLDER gen. Under pure
                # redelivery the first delivery's rows carry
                # gen == batch_id, so the filter finds nothing and no
                # tombstone bloat accrues. Tombstone lands BEFORE the
                # data appends: a crash in between leaves the doc
                # masked until the checkpoint replays this batch
                # (transient delete window — never a double-count).
                dl_root = f"{index_path}/{DOCLEN_DIR}"
                probe_dirs = [
                    d
                    for r in base.select(
                        F.pmod(F.xxhash64("id"), F.lit(n_buckets)).alias("b")
                    )
                    .distinct()
                    .collect()
                    if hadoop_path_exists(
                        spark, d := f"{dl_root}/id_bucket={r[0]}"
                    )
                ]
                if probe_dirs:
                    # persisted ONCE: feeds the tombstone wave AND the
                    # stats rollforward's replaced-generation aggregate
                    probe_rows = (
                        stateroot.read(spark, dl_root, *probe_dirs)
                        .join(base.select("id").distinct(), "id", "left_semi")
                        .filter(F.col("gen") < F.lit(gen_val))
                        .persist()
                    )
                    try:
                        rearrived = probe_rows.select("id").distinct()
                        id_type = rearrived.schema["id"].dataType
                        _append_tombstones(
                            spark,
                            f"{index_path}/{TOMBSTONES_DIR}",
                            rearrived,
                            id_type,
                            gen_lt=gen_val,
                        )
                        # the PREVIOUS live generation per re-arrived id
                        # (max gen below gen_val — earlier gens were
                        # already subtracted at their own replacement)
                        drow = (
                            probe_rows.groupBy("id")
                            .agg(F.max_by("dl", "gen").alias("dl"))
                            .agg(
                                F.count(F.lit(1)).alias("c"),
                                F.sum("dl").alias("s"),
                            )
                            .collect()[0]
                        )
                        dead_docs = int(drow["c"] or 0)
                        dead_dl = int(drow["s"] or 0)
                    finally:
                        probe_rows.unpersist()
            stateroot.append(
                postings.select(*cols), f"{index_path}/{POSTINGS_DIR}", "term_bucket"
            )
            stateroot.append(
                base.select(
                    "id",
                    F.size("__w").alias("dl"),
                    *([F.lit(gen_val).cast("long").alias("gen")]
                      if allow_updates else []),
                    F.pmod(F.xxhash64("id"), F.lit(n_buckets)).alias("id_bucket"),
                ),
                f"{index_path}/{DOCLEN_DIR}",
                "id_bucket",
            )
            # stats rollforward AFTER the appends (its stamp ordering
            # contract): keeps the searches' cached (n_docs, sum_dl)
            # live on an actively-appending stream instead of parking
            # every between-compaction search on the doclen scan
            _roll_postings_stats(
                spark,
                index_path,
                pre_meta,
                batch_id,
                add_docs=int(bstats["n_ids"]),
                add_dl=int(bstats["dl"] or 0),
                dead_docs=dead_docs,
                dead_dl=dead_dl,
                batch_unique=int(bstats["n"]) == int(bstats["n_ids"]),
            )
            if auto_maintain:
                # on a versioned stream, update-tombstones are steady
                # state: fold them on the counter cadence, not per batch
                maybe_compact_streamed_postings(
                    spark,
                    index_path,
                    every_n_batches=maintain_every_n_batches,
                    count_tombstones=not allow_updates,
                )
        finally:
            postings.unpersist()
            base.unpersist()

    writer = stream_df.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _term_buckets(spark: SparkSession, terms: list[str], n_buckets: int) -> list[int]:
    """term_bucket ids for a distinct term list, WITHOUT launching a job:
    Spark's xxhash64 is not exposed driver-side, but a one-row projection
    of literals (parameter markers — no string splicing) constant-folds to
    a LocalTableScan the driver evaluates at collect. The previous
    createDataFrame(...).distinct().collect() probe is RDD-backed in
    PySpark (local lists never become a LocalRelation), so every search
    paid a real cluster job + shuffle for |terms| rows — measured
    ~0.45 s/draw at 32 cores vs ~0.15 s for this form, same ids."""
    exprs = ", ".join(
        f"pmod(xxhash64(:t{i}), :nb)" for i in range(len(terms))
    )
    args: dict[str, object] = {f"t{i}": t for i, t in enumerate(terms)}
    args["nb"] = n_buckets
    return sorted(set(spark.sql(f"SELECT {exprs}", args=args).head()))


def bm25_search_streamed(
    spark: SparkSession,
    index_path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    dedup: bool = True,
    persist_postings: bool = True,
) -> DataFrame:
    """Okapi BM25 top-k THROUGH the streamed postings index — the same
    math, constants, and rounding as operators/retrieval.bm25_topk, so
    the one-shot batch query over the same corpus is its exact oracle
    (and the registered bm25_topk DuckDB twin gates both).

    Reads ONLY the query terms' ``term_bucket`` partition dirs — the
    driver job that buckets the terms is |terms| rows (Spark's xxhash64
    is not exposed driver-side; bounded-collect class, like the near-dup
    probe's bucket listing). Within a bucket the term filter is
    map-side. Corpus stats (N, avgdl) aggregate the two-column doclen
    table — map-side partial, ~16 bytes/doc; at a scale where even that
    scan hurts, cache the 1-row result or roll it forward at compaction
    time. ``dedup=True`` drops at-least-once redelivery copies in-plan;
    after compact_streamed_postings readers may pass dedup=False and
    skip both dedup shuffles (the measured trade in SCALE.md)."""
    from bharatmlstack_spark.query_registry import defer_unpersist

    # adopt a crashed rebucket
    finish_commit(spark, f"{index_path}/{POSTINGS_REBUCKET_MARKER}")
    meta = read_table_meta(spark, index_path) or {}
    if "n_buckets" not in meta:
        raise RuntimeError(
            f"postings index {index_path} has no meta sidecar — not a "
            "stream_postings_sink root (or the build never committed)."
        )
    n_buckets = int(meta["n_buckets"])
    out_id = meta.get("id_col", "doc_id")
    # versioned index: rows carry gen, update tombstones carry gen_lt —
    # dedup keys include gen (two LIVE gens of one doc never coexist,
    # but a masked old gen beside its replacement does; an id-only
    # dedup could keep the dead row and drop the live one), and the
    # mask is gen-aware (_mask_tombstoned)
    gen_cols = ["gen"] if meta.get("versioned") else []
    terms = sorted({t.lower() for t in query_terms})
    buckets = _term_buckets(spark, terms, n_buckets)
    post_root = f"{index_path}/{POSTINGS_DIR}"
    dirs = [
        d
        for bkt in buckets
        if hadoop_path_exists(spark, d := f"{post_root}/term_bucket={bkt}")
    ]
    if not dirs:
        # no query term has a bucket dir yet — empty result, with the id
        # type taken from the stored doclen table (a hardcoded type here
        # would make the schema depend on whether any bucket matched;
        # _postings_id_type is shared with phrase_search_streamed so the
        # two empty paths agree)
        return spark.createDataFrame(
            [],
            f"`{out_id}` {_postings_id_type(spark, index_path)}, "
            "score double, rank int",
        )
    pruned = stateroot.read(spark, post_root, *dirs)
    tf = pruned.filter(F.col("term").isin(terms)).select(
        "term", "id", "tf", "dl", *gen_cols
    )
    if dedup:
        tf = tf.dropDuplicates(["term", "id", *gen_cols])
    if persist_postings:
        # tf feeds df-derivation AND scoring: persist the pruned postings
        # (|matching docs| x |terms| rows) so the bucket scan runs once.
        # persist_postings=False re-scans the pruned postings instead —
        # for callers avoiding executor cache pressure, and it keeps the
        # file-level plan introspectable (a persisted lineage reports no
        # inputFiles; tests/test_stream_bm25.py pins the bucket pruning
        # through this switch)
        tf = defer_unpersist(tf.persist())
    # tombstoned docs (delete_postings_docs) and replaced generations
    # (versioned updates) leave the index lazily: broadcast-anti-join
    # them out of the postings AND the stats until the next compaction
    # folds them physically
    tomb = _postings_tombstones(spark, index_path)
    if tomb is not None:
        tf = _mask_tombstoned(tf, tomb)
    if gen_cols:
        tf = tf.drop("gen")
    # corpus stats: the sidecar cache is provably fresh when its stamp
    # matches the live batch counter — the compactor/rebucket write it
    # stamped at their (reset) counter, and the sink's per-batch
    # rollforward (_roll_postings_stats) re-stamps after every exact
    # append, so an actively-appending stream keeps the cached path. A
    # crash window, redelivery, or a blended batch leaves the stamp
    # behind the counter and the scan path takes over. Pending
    # tombstones: a DELETE drops the cache outright (so fresh stats
    # never coexist with an unaccounted delete); a versioned stream's
    # update-tombstones are already subtracted by the rollforward, so
    # the cache equals the masked scan there. Cached hit skips the
    # search's only O(corpus) piece; miss pays one thin two-column
    # map-side aggregate.
    n_docs, sum_dl = meta.get("n_docs"), meta.get("sum_dl")
    if (
        n_docs
        and sum_dl is not None
        and "stats_counter" in meta
        and int(meta["stats_counter"]) == int(meta.get(MAINT_COUNTER_KEY, -1))
        and (tomb is None or bool(meta.get("versioned")))
    ):
        stats = spark.range(1).select(
            F.lit(float(n_docs)).alias("__n_docs"),
            F.lit(float(sum_dl) / float(n_docs)).alias("__avgdl"),
        )
    else:
        dl_tbl = stateroot.read(spark, f"{index_path}/{DOCLEN_DIR}").select(
            "id", "dl", *gen_cols
        )
        if dedup:
            dl_tbl = dl_tbl.dropDuplicates(["id", *gen_cols])
        if tomb is not None:
            dl_tbl = _mask_tombstoned(dl_tbl, tomb)
        stats = dl_tbl.agg(
            F.count(F.lit(1)).cast("double").alias("__n_docs"),
            F.avg("dl").alias("__avgdl"),
        )
    # ONE scoring implementation, shared with the batch bm25_topk — the
    # "same math, constants, and rounding" claim is structural, not a
    # hand-synced copy
    from bharatmlstack_spark.operators.retrieval import bm25_score_topk

    return bm25_score_topk(tf, stats, k1=k1, b=b, k=k, id_alias=out_id)


def compact_streamed_postings(spark: SparkSession, index_path: str) -> dict:
    """Physically reclaim at-least-once redelivery duplicates from both
    postings tables (byte-identical by construction — see the sink) so
    searches can pass dedup=False. Same two-phase targeted rewrite as the
    other streamed-state compactors (_compact_dedup_state): steady state
    costs two thin detection scans and zero writes; only duplicate-
    holding bucket dirs rewrite. The redelivery flag survives a bailed
    pass (duplicates known but untargetable), keeping maintenance_due
    honest.

    Also ROLLS THE CORPUS STATS FORWARD: when the doclen table is known
    duplicate-free (no bail), (n_docs, sum_dl) are aggregated once and
    cached in the sidecar — bm25_search_streamed then skips its only
    O(corpus) piece (the doclen stats scan) for as long as the cache is
    provably fresh (zero appends since; the sink's per-batch counter is
    the staleness witness). A bailed pass DROPS the cache: doclen still
    holds duplicates the stats must not double-count."""
    # adopt a crashed rebucket
    finish_commit(spark, f"{index_path}/{POSTINGS_REBUCKET_MARKER}")
    # fold pending deletions first: the dedup rewrite and the stats
    # recompute below must see the post-deletion corpus
    purged = fold_postings_tombstones(spark, index_path)
    # versioned index: dedup keys include gen. Post-fold every live id
    # has exactly one generation, so (term, id) would also hold — but
    # gen-keyed dedup stays conservative if that invariant ever breaks
    # (it collapses byte-identical redelivery copies either way, and an
    # unexpected second gen survives for the mask instead of an
    # arbitrary row winning).
    gen = ["gen"] if (read_table_meta(spark, index_path) or {}).get(
        "versioned"
    ) else []
    removed_p, bailed_p = _compact_dedup_state(
        spark, f"{index_path}/{POSTINGS_DIR}", ["term", "id", *gen],
        "term_bucket",
    )
    removed_d, bailed_d = _compact_dedup_state(
        spark, f"{index_path}/{DOCLEN_DIR}", ["id", *gen], "id_bucket"
    )
    bailed = bailed_p or bailed_d
    # ORDER MATTERS (crash safety): a stale cache from a PREVIOUS pass
    # must not survive into the counter reset — counter==0 plus old
    # (n_docs, sum_dl) would be trusted. Drop first (a crash then leaves
    # the scan path), reset, then recompute into a valid cache.
    _cache_postings_stats(spark, index_path, valid=False)
    _reset_maintenance_meta(spark, index_path, clear_redelivery=not bailed)
    _cache_postings_stats(spark, index_path, valid=not bailed_d)
    return {
        "postings_removed": removed_p,
        "doclen_removed": removed_d,
        "tombstones_folded": purged["tombstones"],
        "purged_postings": purged["postings_removed"],
        "purged_doclen": purged["doclen_removed"],
        "bailed": bailed,
    }


def _cache_postings_stats(
    spark: SparkSession, index_path: str, valid: bool
) -> None:
    """Write (or drop, when ``valid=False``) the cached corpus stats in
    the postings sidecar. One thin two-column aggregate over doclen —
    paid at compaction/rebucket cadence so every search between passes
    skips it. Exactness: Spark's avg over longs is sum-as-long / count
    in double arithmetic, which is precisely ``sum_dl / n_docs`` here —
    the cached path is bit-identical to the scan it replaces."""

    def edit(meta: dict) -> bool | None:
        if not meta:
            return False
        if not valid:
            if "n_docs" not in meta and "sum_dl" not in meta:
                return False
            for key in ("n_docs", "sum_dl", "stats_counter"):
                meta.pop(key, None)
            return None
        doclen_path = f"{index_path}/{DOCLEN_DIR}"
        if not hadoop_path_exists(spark, doclen_path):
            return False
        row = (
            stateroot.read(spark, doclen_path)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .collect()[0]
        )
        if not row["n"]:
            return False
        # the batch counter AT WHICH these stats are accurate: searches
        # trust the cache iff stats_counter == the live counter, so a
        # later append (counter bump) invalidates automatically unless
        # the sink's per-batch rollforward re-stamps it
        meta.update(
            n_docs=int(row["n"]),
            sum_dl=int(row["s"]),
            stats_counter=int(meta.get(MAINT_COUNTER_KEY, 0)),
        )
        return None

    stateroot.update_meta(spark, index_path, edit)


def _roll_postings_stats(
    spark: SparkSession,
    index_path: str,
    pre: dict,
    batch_id: int,
    add_docs: int,
    add_dl: int,
    dead_docs: int,
    dead_dl: int,
    batch_unique: bool,
) -> None:
    """Per-batch corpus-stats rollforward — keeps the sidecar cache live
    on an ACTIVELY-APPENDING stream (without this, every search between
    compactions pays the doclen scan, the read path's only O(corpus)
    piece). The sink calls this AFTER its appends with the batch's
    (docs, Σdl) and — versioned streams — the replaced previous-live
    generations' (docs, Σdl) from the re-arrival probe it already paid
    for, so the rolled stats equal the masked deduped scan EXACTLY
    (integer adds of integer aggregates; the cached avgdl divides the
    same two numbers the scan would).

    Rolls ONLY when provably exact, else silently leaves the cache
    stale (the search's stats_counter check then falls back to the
    scan, and the next compaction re-seeds):
    - ``pre`` (the sidecar BEFORE this batch's counter bump) held stats
      stamped fresh (stats_counter == pre counter), or the root is
      brand new (no last_batch_id: start from (0, 0));
    - the batch id is strictly increasing (a redelivered batch would
      re-add rows the stats already count — its rows are byte-identical
      and dedup'd by readers, so the OLD stats stay accurate but are
      left unstamped out of caution);
    - the batch has one row per id (``batch_unique`` — blended doclen
      rows make 'the doc's dl' ill-defined; the versioned sinks refuse
      such batches outright, the unversioned contract documents them).

    Crash safety is the stamp ordering: the counter bump lands BEFORE
    the appends (meta-first), this stamp lands AFTER them — a crash
    anywhere between leaves stats_counter < counter and searches scan."""
    last = pre.get(MAINT_LAST_BATCH_KEY)
    fresh_root = last is None
    monotonic = fresh_root or int(batch_id) > int(last)
    had = (
        "n_docs" in pre
        and "sum_dl" in pre
        and int(pre.get("stats_counter", -1))
        == int(pre.get(MAINT_COUNTER_KEY, 0))
    )
    if not batch_unique or not monotonic or not (had or fresh_root):
        return
    old_docs = int(pre["n_docs"]) if had else 0
    old_dl = int(pre["sum_dl"]) if had else 0
    n_docs = old_docs + int(add_docs) - int(dead_docs)
    sum_dl = old_dl + int(add_dl) - int(dead_dl)
    if n_docs <= 0 or sum_dl < 0:
        return  # arithmetic went impossible — leave the scan path
    stateroot.update_meta(
        spark,
        index_path,
        lambda m: m.update(
            n_docs=int(n_docs),
            sum_dl=int(sum_dl),
            stats_counter=int(m.get(MAINT_COUNTER_KEY, 0)),
        ),
    )


def maybe_compact_streamed_postings(
    spark: SparkSession,
    index_path: str,
    every_n_batches: int = 64,
    count_tombstones: bool = True,
) -> dict | None:
    """compact_streamed_postings gated by maintenance_due (see
    maybe_compact_streamed_index)."""
    if not maintenance_due(
        spark, index_path, every_n_batches, count_tombstones=count_tombstones
    ):
        return None
    return compact_streamed_postings(spark, index_path)


POSTINGS_REBUCKET_MARKER = "__postings_rebucket.json"


def rebucket_postings_index(
    spark: SparkSession, index_path: str, new_buckets: int
) -> dict:
    """Re-bucket the streamed postings index as the corpus outgrows its
    term-bucket count — the inverted-index member of the reset-job
    family (refit_streamed_index for IVF cells, rebucket_neardup_state
    for MinHash buckets). The layout contract freezes ``n_buckets`` at
    creation (writer and search must derive pmod with the same count),
    so per-bucket postings — and with them every search's targeted-dir
    read — grow linearly with the corpus until this offline migration
    resets per-bucket population:

    - postings: ``term_bucket = pmod(xxhash64(term), new_buckets)`` (the
      sink's exact derivation), dedup on (term, id) folded in (rows are
      byte-identical redelivery copies — one rewrite instead of
      rebucket-then-compact);
    - doclen: same under ``pmod(xxhash64(id), new_buckets)``, dedup (id);
    - sidecar: records ``new_buckets`` and zeroes the maintenance
      counters; the NEXT sink run must pass n_buckets=new_buckets or the
      start-time guard raises — refuse-to-mis-hash, pointing at the new
      truth.

    Crash-safe via tablecommit.commit_roots: both subroots are written
    to their stages first, then ONE atomic marker carrying the new
    sidecar is the commit point, then the stages are adopted and the
    marker dropped — pre-marker crashes leave the old index intact,
    post-marker crashes are finished by finish_commit from any entry
    point. OFFLINE ONLY (the sinks' single-writer assumption). Returns
    {"old_buckets", "new_buckets", "postings_rows", "doclen_rows",
    "rows_removed"}."""
    # adopt a crashed run
    finish_commit(spark, f"{index_path}/{POSTINGS_REBUCKET_MARKER}")
    # fold pending deletions first: the rewrite below recomputes the
    # sidecar row totals and stats from the surviving corpus
    fold_postings_tombstones(spark, index_path)
    meta = read_table_meta(spark, index_path) or {}
    # versioned index: gen rides the dedup keys (same rationale as
    # compact_streamed_postings — conservative if the one-live-gen
    # post-fold invariant ever breaks) and the gen column rides the
    # rewrite untouched
    gen = ["gen"] if meta.get("versioned") else []
    roots, counts = [], []
    for sub, col, key, dedup_cols in (
        (POSTINGS_DIR, "term_bucket", "term", ["term", "id", *gen]),
        (DOCLEN_DIR, "id_bucket", "id", ["id", *gen]),
    ):
        path = f"{index_path}/{sub}"
        df = stateroot.read(spark, path).drop(col)
        counts.append(_dedup_counts(df, dedup_cols))
        keep = df.dropDuplicates(dedup_cols)
        bucket = F.pmod(F.xxhash64(key), F.lit(new_buckets))
        roots.append((keep.withColumn(col, bucket), path, col))
    (_, postings_rows), (_, doclen_rows) = counts
    merged = dict(meta)
    merged.update(
        {
            "n_buckets": int(new_buckets),
            MAINT_COUNTER_KEY: 0,
            # deduped: the true postings count replaces the redelivery-
            # inclusive running total (rebucket_postings_due reads it)
            MAINT_ROWS_KEY: postings_rows,
        }
    )
    merged.pop(MAINT_REDELIVERY_KEY, None)
    # a PRE-rebucket stats cache must not ride into the marker: the
    # marker installs counter==0, and a crash before the post-adoption
    # recompute would leave stale (n_docs, sum_dl) trusted — drop them;
    # the success path recomputes right after adoption
    merged.pop("n_docs", None)
    merged.pop("sum_dl", None)
    commit_roots(
        f"{index_path}/{POSTINGS_REBUCKET_MARKER}",
        roots,
        meta=(f"{index_path}/{TABLE_META_FILE}", merged),
    )
    # the rewrite just deduped doclen: roll the corpus stats forward so
    # searches skip the doclen scan until the next append (see
    # _cache_postings_stats)
    _cache_postings_stats(spark, index_path, valid=True)
    return {
        "old_buckets": meta.get("n_buckets"),
        "new_buckets": int(new_buckets),
        "postings_rows": postings_rows,
        "doclen_rows": doclen_rows,
        "rows_removed": sum(before - after for before, after in counts),
    }


def rebucket_postings_due(
    spark: SparkSession,
    index_path: str,
    target_bucket_rows: int = 1_000_000,
    factor: float = 2.0,
) -> bool:
    """rebucket_due for the postings index: due when the accumulated
    postings rows (the sink's sidecar counter — the scaling axis of a
    bucket dir, hence of every search's targeted read) have outgrown
    ``n_buckets x target_bucket_rows`` by ``factor``. One sidecar read;
    the default target is postings ROWS per bucket (thin rows), not
    docs."""
    # adopt a crashed run
    finish_commit(spark, f"{index_path}/{POSTINGS_REBUCKET_MARKER}")
    meta = read_table_meta(spark, index_path) or {}
    n_buckets = meta.get("n_buckets")
    rows = meta.get(MAINT_ROWS_KEY)
    if not n_buckets or not rows:
        return False
    return int(rows) >= factor * int(n_buckets) * target_bucket_rows


def maybe_rebucket_postings_index(
    spark: SparkSession,
    index_path: str,
    target_bucket_rows: int = 1_000_000,
    factor: float = 2.0,
) -> dict | None:
    """rebucket_postings_index gated by rebucket_postings_due, the new
    count derived so per-bucket population lands back at target:
    ``new_buckets = ceil(rows / target_bucket_rows)``. OFFLINE ONLY,
    same single-writer caveat as the other reset-job maybe_* forms.
    Returns the rebucket stats, or None when the index still fits."""
    import math as _math

    if not rebucket_postings_due(spark, index_path, target_bucket_rows, factor):
        return None
    meta = read_table_meta(spark, index_path) or {}
    new_buckets = max(
        1, _math.ceil(int(meta[MAINT_ROWS_KEY]) / target_bucket_rows)
    )
    return rebucket_postings_index(spark, index_path, new_buckets)


TOMBSTONES_DIR = "tombstones"


def delete_postings_docs(
    spark: SparkSession, index_path: str, doc_ids
) -> int:
    """Mark documents DELETED in the streamed postings index — the
    deletion half of the index lifecycle (create/append/search/compact/
    rebucket/delete). A doc's terms hash across EVERY term bucket, so an
    eager delete would rewrite the whole postings root; instead this
    appends the ids to a tiny ``tombstones`` side table (the standard
    inverted-index discipline — Lucene's deleted-docs bitset, here a
    parquet of (id) rows):

    - searches broadcast-anti-join the tombstones out of both the
      postings and the corpus stats — correct immediately, cost
      O(|tombstones|) on the query side;
    - ``compact_streamed_postings`` folds them in physically: one thin
      detection scan finds the bucket dirs actually holding tombstoned
      rows, only those rewrite, and the tombstone table resets.

    Deleting also DROPS the cached corpus stats (they counted the doc)
    — the next compaction recomputes them. Idempotent: deleting an
    absent or already-deleted id is a no-op row. ``doc_ids``: a list of
    ids or a single-column DataFrame. Returns the number of tombstones
    appended. Offline or between-batch (the sinks' single-writer
    assumption covers the sidecar update).

    Caveat (the whole family's): RE-ingesting a deleted id while its
    tombstone is live stays masked, and the next fold purges the new
    rows too — the anti-join can't date rows. Fold first, or version
    the id; the sink's single-arrival contract's deletion corollary."""
    finish_commit(spark, f"{index_path}/{POSTINGS_REBUCKET_MARKER}")
    meta = read_table_meta(spark, index_path) or {}
    if "n_buckets" not in meta:
        raise RuntimeError(
            f"postings index {index_path} has no meta sidecar — not a "
            "stream_postings_sink root."
        )
    # the stored doclen id type is the authority: tombstones are cast to
    # it so the fold's derived-bucket hashing can never mis-target
    # (xxhash64 is type-sensitive); a doclen-less root has nothing to
    # delete and the earlier sidecar guard already refused a non-index
    id_type = (
        stateroot.read(spark, f"{index_path}/{DOCLEN_DIR}").schema["id"].dataType
    )
    # drop the cache BEFORE the tombstone lands: a crash in between
    # leaves a cache-less (scan-path) index with no tombstones — the
    # delete simply didn't happen; the reverse order would leave a live
    # tombstone with a cache that still counts the doc (search guards on
    # the tombstone set anyway — belt and braces)
    _cache_postings_stats(spark, index_path, valid=False)
    # versioned index: a delete is gen_lt = GEN_MAX — every generation
    # is dead, INCLUDING a re-ingest that lands while the tombstone is
    # live (deletes are terminal until folded — the right-to-be-
    # forgotten stance; updates, by contrast, mask only older gens)
    n = _append_tombstones(
        spark,
        f"{index_path}/{TOMBSTONES_DIR}",
        doc_ids,
        id_type,
        gen_lt=GEN_MAX if meta.get("versioned") else None,
    )
    if n and meta.get("versioned"):
        # an erasure wave must not wait out the versioned auto_maintain
        # cadence (count_tombstones=False): flag it always-due; the fold
        # clears the flag with the tombstone table. Flag AFTER the
        # append — a crash in between leaves tombstones that the default
        # cron/offline cadence still counts, never a flag with no wave.
        _set_meta_flag(spark, index_path, MAINT_FULLDELETE_KEY, True)
    return n


# an update tombstone masks gens strictly below gen_lt; a full delete is
# "everything below +inf" — long max, unreachable by any real batch id
GEN_MAX = (1 << 63) - 1

GEN_BASE_MARKER = "__bmls_gen_base.json"


def _gen_base_for_checkpoint(
    spark: SparkSession, state_root: str, checkpoint_dir: str
) -> int:
    """The generation EPOCH for this checkpoint lifetime. Generations
    must be (a) byte-identical under checkpoint replay — so within one
    checkpoint they derive from the batch id — and (b) MONOTONIC across
    checkpoint lifetimes: a fresh checkpoint restarts batch ids at 0,
    and without an epoch its updates would carry gens OLDER than the
    live rows and silently never apply (and the re-arrival probe's
    ``gen < batch_id`` filter would never fire). The epoch is pinned
    INSIDE the checkpoint dir at first sink start (replays re-read the
    same base), taken from the state sidecar's ``next_gen_base`` which
    every batch rolls forward to ``base + batch_id + 1``; under
    foreachBatch's commit protocol the only replayed batch is the
    highest uncommitted one, so the rolled-forward value never
    regresses. Effective gen = base + batch_id.

    Contract (the single-writer assumption's corollary): ONE live
    checkpoint per versioned state — resuming an abandoned older
    checkpoint after a newer one has appended would re-issue its
    retired epoch and collide."""
    base = int((read_table_meta(spark, state_root) or {}).get("next_gen_base", 0))
    pinned = stateroot.update_meta(
        spark,
        checkpoint_dir,
        lambda m: "base" not in m and m.update(base=base),
        name=GEN_BASE_MARKER,
    )
    return int(pinned["base"])


def _postings_tombstones(spark: SparkSession, index_path: str) -> DataFrame | None:
    """The live tombstone set, or None when empty/absent — searches
    broadcast it (deleted docs are a tiny fraction of a corpus; a
    deletion wave large enough to strain a broadcast is a compaction
    trigger, not a search-side problem).

    Normalized to ONE row per id. On a versioned index the table carries
    ``gen_lt`` (update tombstones) — the max per id wins (a doc updated
    at gen 3 then 5 masks everything below 5; updated then deleted masks
    everything below GEN_MAX); rows from a plain-delete file with a null
    gen_lt coalesce to GEN_MAX. Unversioned tables stay one ``id``
    column."""
    t = _read_tombstones(spark, f"{index_path}/{TOMBSTONES_DIR}")
    if t is None or "gen_lt" not in t.columns:
        return t
    return t.groupBy("id").agg(
        F.max(F.coalesce("gen_lt", F.lit(GEN_MAX))).alias("gen_lt")
    )


def _mask_tombstoned(
    df: DataFrame, tomb: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Apply the broadcast tombstone mask to an indexed frame: plain
    one-column tombstones anti-join on the id; versioned tombstones
    (id, gen_lt) anti-join on ``id matches AND gen < gen_lt`` so only
    the dead generations disappear — the live (re-ingested) generation
    keeps scoring. ONE implementation shared by the postings searches,
    the IVF reader, and the folds' detection scans, so mask and purge
    can never disagree about what "dead" means. ``tomb``'s id column is
    named ``id`` (the tombstone-table schema); ``id_col`` names the
    data frame's."""
    if "gen_lt" not in tomb.columns:
        t = tomb.select(F.col("id").alias(id_col))
        return df.join(F.broadcast(t), on=id_col, how="left_anti")
    t = tomb.select(F.col("id").alias("__t_id"), "gen_lt")
    cond = (df[id_col] == t["__t_id"]) & (df["gen"] < t["gen_lt"])
    return df.join(F.broadcast(t), on=cond, how="left_anti")


def fold_postings_tombstones(spark: SparkSession, index_path: str) -> dict:
    """Physically remove tombstoned docs from both postings tables and
    reset the tombstone table — called by compact_streamed_postings (the
    maintenance pass amortizes the rewrite), callable standalone after a
    deletion wave. Targeted like every rewrite here
    (_purge_tombstoned_rows, the fold core shared across the tombstone
    family): the postings dirs come from ONE thin id-column detection
    scan; the doclen dirs are DERIVED (pmod of the stored hash — no
    scan). The tombstone table is removed LAST, so the searches'
    anti-join mask survives every crash point.
    Returns {"tombstones", "postings_removed", "doclen_removed"}."""
    from bharatmlstack_spark.operators.feature_store import hadoop_delete_path
    from bharatmlstack_spark.query_registry import defer_unpersist

    # a pending rebucket commit owns the subroots' stages
    finish_commit(spark, f"{index_path}/{POSTINGS_REBUCKET_MARKER}")
    t = _postings_tombstones(spark, index_path)
    if t is None or t.isEmpty():
        # a crash between a prior fold's tombstone-dir delete and its
        # flag clear would otherwise leave the always-due flag firing a
        # no-op fold every maintenance check forever
        _set_meta_flag(spark, index_path, MAINT_FULLDELETE_KEY, None)
        return {"tombstones": 0, "postings_removed": 0, "doclen_removed": 0}
    t = defer_unpersist(F.broadcast(t).persist())
    n_t = t.count()
    nb = int(read_table_meta(spark, index_path)["n_buckets"])
    doclen_touched = [
        r[0]
        for r in t.select(F.pmod(F.xxhash64("id"), F.lit(nb)).alias("b"))
        .distinct()
        .collect()
    ]
    removed = {
        "tombstones": n_t,
        "postings_removed": _purge_tombstoned_rows(
            spark, f"{index_path}/{POSTINGS_DIR}", t, "id", "term_bucket"
        ),
        "doclen_removed": _purge_tombstoned_rows(
            spark,
            f"{index_path}/{DOCLEN_DIR}",
            t,
            "id",
            "id_bucket",
            touched=doclen_touched,
        ),
    }
    hadoop_delete_path(spark, f"{index_path}/{TOMBSTONES_DIR}")
    # the erasure wave is physically purged — drop the always-due flag
    _set_meta_flag(spark, index_path, MAINT_FULLDELETE_KEY, None)
    return removed


# the IVF index root is one cell-partitioned parquet table, so its
# tombstones live in an underscore-prefixed subdir — Spark's file
# discovery skips _-prefixed paths, keeping them invisible to
# a read of index_path while staying directly readable
IVF_TOMBSTONES_DIR = "_tombstones"
# versioned IVF (allow_updates): the (id, gen) registry lives BESIDE the
# root (sibling path — outside the root's discovery AND outside the
# refit/compaction root commits, which rename the root itself);
# id-bucketed so the sink's re-arrival probe reads O(batch) dirs
IVF_IDS_SUFFIX = "__ids"
IVF_ID_BUCKETS = 64


def delete_indexed_vectors(
    spark: SparkSession, index_path: str, vec_ids, id_col: str = "vec_id"
) -> int:
    """Mark vectors DELETED in the streamed IVF index — the postings
    tombstone discipline (delete_postings_docs) applied to the vector
    family: an eager delete would need the id->cell assignment to target
    a rewrite, but readers shouldn't pay a scan to delete, so the ids
    append to a tiny ``_tombstones`` table that
    ``read_streamed_ivf_index`` broadcast-anti-joins out — deleted
    vectors leave every search IMMEDIATELY (they can no longer appear in
    any top-k), and ``compact_streamed_index`` / ``refit_streamed_index``
    fold them physically at maintenance/reset cadence. Idempotent.
    ``vec_ids``: list or single-column DataFrame. Returns tombstones
    appended. Offline or between-batch (single-writer assumption).

    Caveats: the mask applies to reads through read_streamed_ivf_index
    (and thus every search); stream_semantic_dedup_sink's per-batch
    probe reads cell dirs directly and does NOT consult tombstones —
    fold before resuming that pipeline. RE-ingesting a deleted id while
    its tombstone is live stays masked (the anti-join can't date rows);
    fold first, or version the id — the sink's single-arrival
    contract's deletion corollary."""
    # the same crash-recovery preamble every other IVF entry point runs
    # (read_streamed_ivf_index, compact/refit): a crashed refit or root
    # commit would otherwise make this raise a spurious "does not
    # exist" or read a mid-swap root's schema
    finish_commit(spark, index_path + REFIT_MARKER_SUFFIX)
    finish_commit(spark, index_path + BUCKET_MARKER_SUFFIX)
    if not hadoop_path_exists(spark, index_path):
        raise RuntimeError(
            f"streamed IVF index {index_path} does not exist — refusing "
            "to record a deletion a search would never see (check the "
            "path; a sink run creates the index)."
        )
    id_type = stateroot.read(spark, index_path).schema[id_col].dataType
    # versioned index: a delete is gen_lt = GEN_MAX (all generations
    # dead, terminal until folded — the postings family's stance), and
    # it keeps the tombstone table's schema UNIFORM: mixing one- and
    # two-column files would make the parquet read's schema depend on
    # which file it sampled
    versioned = (read_table_meta(spark, index_path) or {}).get("versioned")
    n = _append_tombstones(
        spark,
        f"{index_path}/{IVF_TOMBSTONES_DIR}",
        vec_ids,
        id_type,
        gen_lt=GEN_MAX if versioned else None,
    )
    if n and versioned:
        # see delete_postings_docs: erasure waves are always-due even
        # under the versioned auto_maintain cadence; fold clears it
        _set_meta_flag(spark, index_path, MAINT_FULLDELETE_KEY, True)
    return n


def _ivf_tombstones(
    spark: SparkSession, index_path: str, id_col: str
) -> DataFrame | None:
    """The live vector tombstone set normalized to one row per id, or
    None — searches broadcast it (a deletion wave big enough to strain
    a broadcast is a compaction trigger, not a read-side problem).
    Versioned indexes carry gen_lt (max per id wins, nulls from
    plain-delete files coalesce to GEN_MAX — the postings family's
    normalization); the returned id column is ALWAYS named ``id``
    (what _mask_tombstoned expects)."""
    t = _read_tombstones(spark, f"{index_path}/{IVF_TOMBSTONES_DIR}")
    if t is None:
        return None
    # stored under the family-wide "id" column; pre-fix tables used the
    # index's own id column name — accept either
    col = "id" if "id" in t.columns else id_col
    if "gen_lt" not in t.columns:
        return t.select(F.col(col).alias("id"))
    return (
        t.select(F.col(col).alias("id"), "gen_lt")
        .groupBy("id")
        .agg(F.max(F.coalesce("gen_lt", F.lit(GEN_MAX))).alias("gen_lt"))
    )


def fold_index_tombstones(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> dict:
    """Physically purge tombstoned vectors from the cell-partitioned
    index and reset the tombstone table — compact_streamed_index calls
    this first; callable standalone after a deletion wave. One thin
    (id, cell) detection scan finds the cell dirs actually holding
    tombstoned rows; only those rewrite; a fully-emptied cell dir is
    dropped explicitly; the tombstone table is removed LAST, so every
    crash point leaves the anti-join mask protecting reads
    (_purge_tombstoned_rows — the fold core shared across the
    tombstone family)."""
    from bharatmlstack_spark.operators.feature_store import hadoop_delete_path
    from bharatmlstack_spark.query_registry import defer_unpersist

    # a pending refit commit owns the root's stage
    finish_commit(spark, index_path + REFIT_MARKER_SUFFIX)
    t = _ivf_tombstones(spark, index_path, id_col)
    if t is None or t.isEmpty():
        # see fold_postings_tombstones: clear a flag orphaned by a crash
        # between a prior fold's tombstone delete and its flag clear
        _set_meta_flag(spark, index_path, MAINT_FULLDELETE_KEY, None)
        return {"tombstones": 0, "rows_removed": 0}
    t = defer_unpersist(F.broadcast(t).persist())
    n_t = t.count()
    # the purge core joins on the DATA's id column name — rename the
    # normalized tombstone frame's family-wide "id" to it
    t_purge = t.withColumnRenamed("id", id_col)
    removed = _purge_tombstoned_rows(spark, index_path, t_purge, id_col, "cell")
    reg_removed = 0
    reg_root = f"{index_path}{IVF_IDS_SUFFIX}"
    if hadoop_path_exists(spark, reg_root):
        # the versioned registry holds one (id, gen) row per generation:
        # purge the same dead gens (derived buckets — no scan; rows
        # carry gen, and the registry's own id column is "id")
        touched = [
            r[0]
            for r in t.select(
                F.pmod(F.xxhash64("id"), F.lit(IVF_ID_BUCKETS)).alias("b")
            )
            .distinct()
            .collect()
        ]
        reg_removed = _purge_tombstoned_rows(
            spark, reg_root, t, "id", "id_bucket", touched=touched
        )
    hadoop_delete_path(spark, f"{index_path}/{IVF_TOMBSTONES_DIR}")
    # the erasure wave is physically purged — drop the always-due flag
    _set_meta_flag(spark, index_path, MAINT_FULLDELETE_KEY, None)
    return {
        "tombstones": n_t,
        "rows_removed": removed,
        "registry_removed": reg_removed,
    }


def _purge_tombstoned_rows(
    spark: SparkSession,
    root: str,
    t: DataFrame,
    join_col: str,
    bucket_col: str | None = None,
    touched: list | None = None,
) -> int:
    """Shared core of the tombstone folds (postings / IVF / near-dup):
    anti-join rewrite of ONLY the partition dirs holding rows matching
    the (broadcast, persisted) tombstone frame ``t``.

    - ``bucket_col`` None: flat root — full anti-join rewrite in one
      root commit (a commit that drops the root when nothing survives);
    - partitioned: ``touched`` bucket values are either pre-derived by
      the caller (a pure function of the id — no scan) or found by one
      thin detection scan; only existing targeted dirs rewrite, in one
      bucket commit that also drops a fully-emptied dir.

    When ``t`` carries a ``gen_lt`` column (versioned postings), "dead"
    means ``id matches AND gen < gen_lt`` — the same predicate the
    searches' _mask_tombstoned applies, so purge and mask can never
    disagree; plain one-column tombstones keep the id equi-join.

    Returns rows removed. Callers delete the tombstone table LAST, so
    every crash point leaves the read-side anti-join mask protecting
    queries."""
    from bharatmlstack_spark.operators.feature_store import (
        hadoop_list_partition_dirs,
    )
    from bharatmlstack_spark.query_registry import defer_unpersist

    gen_aware = "gen_lt" in t.columns
    tt = (
        t.select(F.col(join_col).alias("__t_key"), "gen_lt")
        if gen_aware
        else None
    )

    def _anti(df: DataFrame) -> DataFrame:
        if not gen_aware:
            return df.join(t, on=join_col, how="left_anti")
        cond = (df[join_col] == tt["__t_key"]) & (df["gen"] < tt["gen_lt"])
        return df.join(F.broadcast(tt), on=cond, how="left_anti")

    def _semi(df: DataFrame) -> DataFrame:
        if not gen_aware:
            return df.join(t, on=join_col, how="left_semi")
        cond = (df[join_col] == tt["__t_key"]) & (df["gen"] < tt["gen_lt"])
        return df.join(F.broadcast(tt), on=cond, how="left_semi")

    # finish a crashed commit first: returning 0 for a root stuck
    # mid-swap would let the caller delete the tombstone table over rows
    # that were never purged, resurrecting deleted data once the mask is
    # gone
    marker = root + BUCKET_MARKER_SUFFIX
    finish_commit(spark, marker)
    if not hadoop_path_exists(spark, root):
        return 0
    if bucket_col is None:
        df = stateroot.read(spark, root)
        before = df.count()
        keep = defer_unpersist(_anti(df).persist())
        n_after = keep.count()
        if n_after == before:
            return 0
        if n_after:
            commit_root(keep, root)
        else:
            commit(spark, marker, [], [root])
        return before - n_after
    dirs = hadoop_list_partition_dirs(spark, root, bucket_col)
    if touched is None:
        touched = [
            r[0]
            for r in _semi(stateroot.read(spark, root))
            .select(bucket_col)
            .distinct()
            .collect()
        ]
    targeted = {b: dirs[b] for b in touched if b in dirs}
    if not targeted:
        return 0
    scoped = stateroot.read(spark, root, *targeted.values())
    before = scoped.count()
    keep = defer_unpersist(_anti(scoped).persist())
    n_after = keep.count()
    if n_after == before:
        # nothing in the targeted dirs matched (absent/no-op ids):
        # skip the identical-data rewrite the flat branch also skips
        return 0
    commit_buckets(keep, root, bucket_col, targeted)
    return before - n_after


NEARDUP_TOMBSTONES_DIR = "tombstones"


def delete_neardup_docs(spark: SparkSession, state_dir: str, doc_ids) -> int:
    """Mark documents DELETED in the streaming near-dup state — the
    family's third tombstone surface (postings: delete_postings_docs;
    IVF: delete_indexed_vectors). The ids append to a tiny side table;
    ``cross_dedup_against_state`` anti-joins the stored band index so a
    retracted reference doc stops flagging incoming deltas IMMEDIATELY,
    and ``compact_neardup_state`` / ``rebucket_neardup_state`` fold the
    sets and bands rows physically.

    The LIVE sink refuses to append while tombstones are pending (its
    per-batch probe reads band dirs directly and would emit pairs
    against deleted docs): fold first — ``fold_neardup_tombstones`` or
    any compaction/rebucket pass — then resume; the loud-contract
    stance of the layout guards. The emitted pair LOG is history and is
    never rewritten (filter consumer-side). Idempotent; returns
    tombstones appended. Re-ingesting a deleted id while its tombstone
    is live stays masked and the next fold purges the new rows too —
    fold first, or version the id (see delete_postings_docs)."""
    sets_path = f"{state_dir}/sets"
    finish_commit(spark, f"{state_dir}/{REBUCKET_MARKER}")
    finish_commit(spark, sets_path + BUCKET_MARKER_SUFFIX)
    if not hadoop_path_exists(spark, sets_path):
        raise RuntimeError(
            f"near-dup state {state_dir} has no sets root — refusing to "
            "record a deletion no probe would ever see (check the path; "
            "a sink run creates the state)."
        )
    id_type = stateroot.read(spark, sets_path).schema["id"].dataType
    return _append_tombstones(
        spark, f"{state_dir}/{NEARDUP_TOMBSTONES_DIR}", doc_ids, id_type
    )


def _neardup_tombstones(spark: SparkSession, state_dir: str) -> DataFrame | None:
    return _read_tombstones(spark, f"{state_dir}/{NEARDUP_TOMBSTONES_DIR}")


def fold_neardup_tombstones(spark: SparkSession, state_dir: str) -> dict:
    """Physically purge tombstoned docs from both near-dup roots and
    reset the tombstone table. Sets dirs are DERIVED from the ids (the
    sink's pmod(xxhash64(id)) — no scan); band dirs are hashed by
    band_hash, so those take the one thin detection scan. The tombstone
    table is removed LAST (the cross-probe mask survives every crash
    point); flat roots take the root-commit rewrite
    (_purge_tombstoned_rows)."""
    from bharatmlstack_spark.operators.feature_store import hadoop_delete_path
    from bharatmlstack_spark.query_registry import defer_unpersist

    # a pending rebucket commit owns the roots' stages
    finish_commit(spark, f"{state_dir}/{REBUCKET_MARKER}")
    t = _neardup_tombstones(spark, state_dir)
    if t is None or t.isEmpty():
        return {"tombstones": 0, "sets_removed": 0, "bands_removed": 0}
    t = defer_unpersist(F.broadcast(t).persist())
    n_t = t.count()
    recorded, bands_bucketed = _bind_neardup(spark, state_dir)
    sets_touched = None
    if recorded is not None:
        sets_touched = [
            r[0]
            for r in t.select(
                F.pmod(F.xxhash64("id"), F.lit(recorded)).alias("b")
            )
            .distinct()
            .collect()
        ]
    sets_removed = _purge_tombstoned_rows(
        spark,
        f"{state_dir}/sets",
        t,
        "id",
        "__kb" if recorded is not None else None,
        touched=sets_touched,
    )
    bands_removed = _purge_tombstoned_rows(
        spark,
        f"{state_dir}/bands",
        t,
        "id",
        "__kb" if bands_bucketed else None,
    )
    hadoop_delete_path(spark, f"{state_dir}/{NEARDUP_TOMBSTONES_DIR}")
    return {
        "tombstones": n_t,
        "sets_removed": sets_removed,
        "bands_removed": bands_removed,
    }


def _append_tombstones(
    spark: SparkSession, path: str, ids, target_type, gen_lt: int | None = None
) -> int:
    """Shared append half of the three tombstone surfaces: normalize a
    list or single-column DataFrame to a distinct ``id`` column CAST to
    the stored table's id type — Spark's xxhash64 is type-sensitive, so
    an inferred-type mismatch (int list vs bigint column) would derive
    the WRONG bucket dirs at fold time and the purge would miss every
    row while the mask is consumed. Empty waves are a no-op (0), not a
    schema-inference crash. NULL ids are REJECTED loudly: the mask and
    purge anti-join on ``id`` never matches NULL, so a null tombstone
    would stay visible in every search yet be consumed by the next fold
    — an undeletable row must fail the delete call, not the reader.
    (A null can also appear post-cast when the caller's id does not
    cast to the stored type — same refusal, same reason.)

    ``gen_lt`` (versioned postings indexes only): rows of the id with
    ``gen < gen_lt`` are dead — an UPDATE tombstone. A full delete on a
    versioned index passes GEN_MAX (everything older than +inf). Omit
    for unversioned tables (the plain one-column schema). Returns
    tombstones appended."""
    if isinstance(ids, DataFrame):
        frame = ids.select(F.col(ids.columns[0]).alias("id"))
    else:
        ids = list(ids)
        if not ids:
            return 0
        if any(i is None for i in ids):
            raise ValueError(
                "tombstones cannot target NULL ids — the anti-join mask "
                "and the fold's purge never match NULL, so the delete "
                "would silently never take effect. Null-id rows are not "
                "deletable through the tombstone surface."
            )
        frame = spark.createDataFrame([(i,) for i in ids], ["id"])
    # try_cast, not cast: under ANSI mode a malformed id would abort the
    # whole wave mid-job with a SparkNumberFormatException — try_cast
    # funnels it into the NULL refusal below, which names the contract
    frame = frame.select(
        F.col("id").try_cast(target_type).alias("id")
    ).distinct()
    # this runs on the versioned sinks' per-batch hot path: persist so
    # the probe's bucket read + semi-join evaluates once, and take both
    # counts from a single aggregate job (row count + null count)
    if gen_lt is not None:
        frame = frame.withColumn("gen_lt", F.lit(int(gen_lt)).cast("long"))
    frame = frame.persist()
    try:
        counts = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("id").isNull()).alias("n_null"),
        ).collect()[0]
        n, n_null = int(counts["n"]), int(counts["n_null"])
        if not n:
            return 0
        if n_null:
            raise ValueError(
                f"tombstone wave contains {n_null} NULL id(s) after "
                f"casting to the stored type {target_type} — either the "
                "caller passed NULL ids or the ids do not cast to the "
                "index's id type. Both would produce a tombstone no "
                "search or fold can ever match; refusing."
            )
        stateroot.append(frame, path)
    finally:
        frame.unpersist()
    return n


def _postings_id_type(spark: SparkSession, index_path: str) -> str:
    """The stored id type of a postings index, from the doclen table's
    schema — the ONE lookup both searches' empty paths share, so the
    same missing-term query yields the same result schema whether it
    was a BM25 or a phrase search (they used to disagree: string vs
    long). ``long`` when no doclen exists yet (a never-fed index): the
    repo's document ids are bigint throughout."""
    if hadoop_path_exists(spark, f"{index_path}/{DOCLEN_DIR}"):
        return (
            stateroot.read(spark, f"{index_path}/{DOCLEN_DIR}")
            .schema["id"]
            .dataType.simpleString()
        )
    return "long"


def _read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """Shared read half: the live tombstone set as a distinct ``id``
    column, or None when absent — callers broadcast it (a deletion wave
    big enough to strain a broadcast is a fold trigger, and
    maintenance_due now reports pending tombstones as due work)."""
    if not hadoop_path_exists(spark, path):
        return None
    # all-column dedup, not id-only: a versioned table legitimately
    # holds several (id, gen_lt) rows for one id — the reader's max
    # aggregation (not an arbitrary drop) picks the winner
    return stateroot.read(spark, path).dropDuplicates()


def phrase_search_streamed(
    spark: SparkSession,
    index_path: str,
    phrase: str,
    dedup: bool = True,
) -> DataFrame:
    """EXACT phrase search through the streamed postings index — the
    positional extension of bm25_search_streamed (the index must have
    been built with ``store_positions=True``; refused loudly otherwise).

    The classic positional-postings algorithm: read ONLY the phrase
    terms' bucket dirs, inner-join the per-term position lists on the
    doc id (a doc lacking any term drops out), then intersect each
    term's positions shifted by its offset in the phrase —
    ``positions(t_i) - i`` — so a surviving position marks a full
    occurrence starting there. Repeated terms in the phrase fall out of
    the same math ("order order" intersects a list with itself shifted
    by one: consecutive duplicates). Returns (id_col, n_occurrences)
    for docs with >= 1 occurrence.

    Scale shape: |phrase| bucket dirs read, |phrase|-way equi-join on
    doc id over only the docs containing each term, everything else
    row-local array math in codegen — never a corpus scan, no window.
    Redelivery copies dedup on (term, id) like every reader here;
    tombstoned docs are anti-joined out."""
    from functools import reduce

    # adopt a crashed rebucket
    finish_commit(spark, f"{index_path}/{POSTINGS_REBUCKET_MARKER}")
    meta = read_table_meta(spark, index_path) or {}
    if "n_buckets" not in meta:
        raise RuntimeError(
            f"postings index {index_path} has no meta sidecar — not a "
            "stream_postings_sink root (or the build never committed)."
        )
    if not meta.get("positions", False):
        raise RuntimeError(
            f"postings index {index_path} stores no positions — phrase "
            "search needs store_positions=True at build time (the "
            "sidecar records the layout; rebuild or re-ingest with "
            "positions to use it)."
        )
    n_buckets = int(meta["n_buckets"])
    out_id = meta.get("id_col", "doc_id")
    # versioned index: gen-keyed dedup + gen-aware mask, exactly as in
    # bm25_search_streamed (see the rationale there)
    gen_cols = ["gen"] if meta.get("versioned") else []
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase_search_streamed: empty phrase")
    buckets = _term_buckets(spark, sorted(set(terms)), n_buckets)
    post_root = f"{index_path}/{POSTINGS_DIR}"
    dirs = [
        d
        for bkt in buckets
        if hadoop_path_exists(spark, d := f"{post_root}/term_bucket={bkt}")
    ]
    if not dirs:
        # same shared id-type lookup as bm25_search_streamed's empty
        # path — the two searches must agree on the empty schema
        return spark.createDataFrame(
            [],
            f"`{out_id}` {_postings_id_type(spark, index_path)}, "
            "n_occurrences long",
        )
    pruned = (
        stateroot.read(spark, post_root, *dirs)
        .filter(F.col("term").isin(list(set(terms))))
        .select("term", "id", "positions", *gen_cols)
    )
    if dedup:
        pruned = pruned.dropDuplicates(["term", "id", *gen_cols])
    tomb = _postings_tombstones(spark, index_path)
    if tomb is not None:
        pruned = _mask_tombstoned(pruned, tomb)
    if gen_cols:
        pruned = pruned.drop("gen")
    # the pruned read feeds one branch per phrase slot: persist it
    from bharatmlstack_spark.query_registry import defer_unpersist

    pruned = defer_unpersist(pruned.persist())
    slots = [
        pruned.filter(F.col("term") == t).select(
            "id",
            F.transform("positions", lambda p: p - F.lit(i)).alias(f"__p{i}"),
        )
        for i, t in enumerate(terms)
    ]
    joined = reduce(lambda a, b: a.join(b, on="id"), slots)
    occ = F.col("__p0")
    for i in range(1, len(terms)):
        occ = F.array_intersect(occ, F.col(f"__p{i}"))
    return (
        joined.select("id", F.size(occ).cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
        .select(F.col("id").alias(out_id), "n_occurrences")
    )


def purge_docs_everywhere(
    spark: SparkSession,
    doc_ids,
    postings_roots=(),
    neardup_roots=(),
    ivf_roots=(),
    ivf_id_col: str = "vec_id",
    feature_targets=(),
    fold: bool = False,
) -> dict:
    """Right-to-be-forgotten across EVERY index derived from a corpus,
    in one call — the operational form of the three per-family delete
    surfaces. A GDPR-class erasure request has to reach each state a
    doc's content leaked into (its postings, its near-dup fingerprints,
    its embedding vectors); forgetting one of N roots is the failure
    mode this orchestrator exists to prevent, so the root lists are
    explicit and the report names every root it touched.

    Semantics per root (unchanged from the per-family calls):
    tombstones mask reads IMMEDIATELY; ``fold=True`` additionally purges
    each root physically right away (offline/between-batch —
    single-writer, like every fold), otherwise folds ride the normal
    maintenance cadence: ``maintenance_due`` counts pending tombstones,
    and on VERSIONED roots — whose in-loop auto_maintain ignores
    steady-state update tombstones (count_tombstones=False) — the delete
    surfaces set the ``full_delete_pending`` sidecar flag, which
    maintenance_due treats as always-due, so an erasure folds at the
    next maintenance opportunity there too.

    Idempotent and crash-resumable WITHOUT a manifest: tombstone appends
    are append-only and readers/folds dedup them, so re-running the same
    call after a crash re-covers the already-tombstoned roots for free
    and reaches the rest. Any per-root failure raises AFTER the report
    is annotated — the raised RuntimeError carries which roots were
    already covered so the retry story is explicit. Returns
    {root: {"family", "tombstones", "fold": {...}|None}}.

    ``feature_targets``: ``(FeatureStore, entity_label)`` or
    ``(FeatureStore, entity_label, store_id)`` tuples for SINGLE-KEY
    entities — the ids map onto the entity's one key column and
    ``FeatureStore.delete`` runs its eager bucket-scoped physical
    rewrite (there is no tombstone phase there; the report entry says
    ``fold: "eager"``). Composite-key entities need a real keys frame —
    call ``fs.delete`` directly for those.

    Reference anchor: the reference deletes an entity from the online
    store, the interaction history, and the vector index as separate
    API calls against separate services (online-feature-store
    delete-by-key; skye vector delete, qdrant.go) — one corpus-level
    erasure is the caller's loop there, a single orchestrated call
    here."""
    report: dict = {}
    ids = (
        doc_ids
        if isinstance(doc_ids, DataFrame)
        else list(doc_ids)
    )
    persisted = None
    if isinstance(ids, DataFrame):
        # evaluate an expensive upstream ids plan ONCE: every family's
        # delete (and every fold's detection scan) re-reads this frame —
        # up to 2x per root — so persist the normalized single-column
        # form at entry and materialize it here; unpersisted on every
        # exit path below
        persisted = ids.select(
            F.col(ids.columns[0]).alias("id")
        ).distinct().persist()
        persisted.count()
        ids = persisted

    def _run(family: str, root: str, delete_fn, fold_fn) -> None:
        try:
            n = delete_fn(root)
            entry = {"family": family, "tombstones": n, "fold": None}
            if fold and n:
                entry["fold"] = fold_fn(root)
            report[root] = entry
        except Exception as e:  # noqa: BLE001 — annotate, then re-raise
            raise RuntimeError(
                f"purge_docs_everywhere failed at {family} root {root!r} "
                f"({type(e).__name__}: {e}); roots already covered this "
                f"call: {sorted(report)}. The call is idempotent — fix "
                "the failing root and re-run with the SAME arguments to "
                "finish the erasure."
            ) from e

    try:
        for root in postings_roots:
            _run(
                "postings",
                root,
                lambda r: delete_postings_docs(spark, r, ids),
                lambda r: fold_postings_tombstones(spark, r),
            )
        for root in neardup_roots:
            _run(
                "neardup",
                root,
                lambda r: delete_neardup_docs(spark, r, ids),
                lambda r: fold_neardup_tombstones(spark, r),
            )
        for root in ivf_roots:
            _run(
                "ivf",
                root,
                lambda r: delete_indexed_vectors(
                    spark, r, ids, id_col=ivf_id_col
                ),
                lambda r: fold_index_tombstones(spark, r, id_col=ivf_id_col),
            )
        for target in feature_targets:
            fs, label, *rest = target
            store_id = rest[0] if rest else 0
            entity = fs.registry.entity(label)
            if len(entity.key_columns) != 1:
                raise ValueError(
                    f"feature target {label!r} has composite key "
                    f"{entity.key_columns} — purge_docs_everywhere maps "
                    "one id column; call fs.delete directly with a full "
                    "keys frame for composite-key entities."
                )
            kcol = entity.key_columns[0]
            if isinstance(ids, DataFrame):
                keys = ids.select(F.col(ids.columns[0]).alias(kcol))
            else:
                keys = spark.createDataFrame([(i,) for i in ids], [kcol])
            root = fs._table_path(label, store_id)
            try:
                n = fs.delete(label, keys, store_id=store_id)
                # the feature delete IS physical (bucket-scoped rewrite)
                # — no tombstone phase, nothing left for fold to do
                report[root] = {
                    "family": "feature_store",
                    "rows_removed": n,
                    "fold": "eager",
                }
            except Exception as e:  # noqa: BLE001 — annotate, re-raise
                raise RuntimeError(
                    f"purge_docs_everywhere failed at feature_store "
                    f"target {label!r} ({type(e).__name__}: {e}); roots "
                    f"already covered this call: {sorted(report)}. The "
                    "call is idempotent — fix the failing target and "
                    "re-run with the SAME arguments to finish the "
                    "erasure."
                ) from e
        return report
    finally:
        if persisted is not None:
            persisted.unpersist()


# ---------------------------------------------------------------------------
# incremental dedup-cluster maintenance: streamed pairs -> maintained
# canonical component labels (union-find with a persisted merge log)
# ---------------------------------------------------------------------------


CLUSTER_RESOLVE_MAX_ITER = 64


# the resolved merge forest is merges-count-sized and normally tiny next
# to the label store, so the read/compact joins hint broadcast to keep the
# corpus-sized label side un-shuffled. But an explicit hint BYPASSES
# autoBroadcastJoinThreshold — a pathologically deep log must degrade to a
# shuffle join instead of OOMing driver/executors. 2M rows of (child,
# root) longs ≈ 32 MB framed: comfortably broadcastable, aligned with
# stream_cluster_sink's merge_driver_max tier bound.
CLUSTER_BROADCAST_MAX_MERGES = 2_000_000


def _maybe_broadcast_forest(res: DataFrame, n_merges: int | None) -> DataFrame:
    """Broadcast-hint the resolved merge forest only while the merge log
    is provably broadcast-sized; above the bound (or when the caller has
    no count) size is unknown-large — leave the join strategy to Spark."""
    if n_merges is not None and n_merges <= CLUSTER_BROADCAST_MAX_MERGES:
        return F.broadcast(res)
    return res


def _resolve_merge_forest(merges: DataFrame) -> DataFrame:
    """(child, parent) merge-forest rows -> (child, root) full resolution
    by pointer DOUBLING: each round replaces every parent that is itself
    a child with that child's current parent, so chain depth halves per
    round and resolution converges in O(log depth) tiny self-joins over
    the merge log alone — never touching the (corpus-sized) label store.

    The forest is built by stream_cluster_sink with union-by-min
    (parent = component minimum < child, children are only-ever-roots at
    append time), so parents strictly decrease along a chain: no cycles,
    and the root each chain reaches is the minimum label of the merged
    component. Redelivered duplicates collapse in the initial
    dropDuplicates; the per-child min(parent) aggregate is belt-and-
    braces for the crash window where a batch's merges landed but its
    labels did not (re-processing then re-merges through the already-
    recorded parent, which resolves identically)."""
    cur = (
        merges.select("child", "parent")
        .groupBy("child")
        .agg(F.min("parent").alias("parent"))
        .localCheckpoint()
    )
    for _ in range(CLUSTER_RESOLVE_MAX_ITER):
        a, b = cur.alias("a"), cur.alias("b")
        nxt = (
            a.join(b, F.col("a.parent") == F.col("b.child"), "left")
            .select(
                F.col("a.child").alias("child"),
                F.coalesce(F.col("b.parent"), F.col("a.parent")).alias("parent"),
                F.col("b.parent").isNotNull().alias("__hop"),
            )
            .localCheckpoint()
        )
        hops = nxt.filter(F.col("__hop")).count()
        cur = nxt.drop("__hop")
        if hops == 0:
            return cur.select("child", F.col("parent").alias("root"))
    raise RuntimeError(
        f"merge-forest resolution did not converge in "
        f"{CLUSTER_RESOLVE_MAX_ITER} pointer-doubling rounds — chain "
        f"depth exceeds 2^{CLUSTER_RESOLVE_MAX_ITER}, which a "
        "union-by-min forest cannot produce; the merge log is corrupt."
    )


def _bind_clusters(
    spark: SparkSession, state_dir: str, want: dict | None = None
) -> int | None:
    """The cluster state's recorded bucket count, held by stateroot.bind
    to the contract recorded at creation (``want``: the sink run's)."""
    return stateroot.bind(
        spark,
        "cluster state",
        state_dir,
        want or {},
        {"n_buckets": None},
        names={"n_buckets": "state_buckets"},
        hint="A cluster state's layout is fixed at creation: re-seed it "
        "(replay the pair topic into a fresh state_dir) to change it.",
        layout=lambda c: {f"{state_dir}/labels": c["n_buckets"] is not None},
    )["n_buckets"]


def stream_cluster_sink(
    pairs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    spark: SparkSession,
    id_a: str = "id_a",
    id_b: str = "id_b",
    state_buckets: int | None = None,
    trigger_once: bool = False,
    batch_driver_max: int = 200_000,
    merge_driver_max: int = 2_000_000,
):
    """Incremental connected components over a streamed dedup-pair feed:
    turns the pair DISCOVERY the near-dup sinks emit
    (stream_neardup_minhash_sink and friends) into MAINTAINED canonical
    cluster labels — the keep-one-per-cluster decision of
    queries_corpus.dedup_components, without recomputing components over
    the accumulated corpus each micro-batch. Reference analog: the
    dedup/canonicalization step of a corpus build (SURVEY LLM-pipeline
    mandate); same O(touched) state discipline as the other sinks here.

    State (two roots under ``state_dir``):

    - ``labels/`` — append-only ``(node, label)``, one row per node ever
      seen in a pair; ``label`` is the node's component minimum AS OF
      its arrival batch and is NEVER rewritten. Optionally ``__kb=``
      partitioned on ``pmod(xxhash64(node), state_buckets)`` so the
      per-batch probe reads only the batch endpoints' buckets.
    - ``merges/`` — flat append-only ``(child, parent)``: one row per
      CLUSTER MERGE (two established components connected by a later
      pair), parent = the merged component's new minimum. The log grows
      by at most one row per merge — bounded by the number of clusters
      ever formed, orders of magnitude smaller than the corpus — and is
      the only state consulted to canonicalize a stale label.

    Per micro-batch (all O(batch + touched), no full-state pass):

    1. probe ``labels`` for the batch endpoints (bucket-pruned targeted
       read, broadcast semi-join — endpoints are the small side);
    2. canonicalize the stored labels through the merge forest
       (_resolve_merge_forest: O(log depth) self-joins over the log);
    3. run batch-scale label propagation (operators.graph.
       connected_components) over the batch pairs UNION one star edge
       (node -> canonical root) per known endpoint — components and
       their minima over batch nodes + touched clusters;
    4. append ``(root, component_min)`` to ``merges`` for every touched
       root whose component found a smaller minimum — BEFORE step 5:
       merge rows can only JOIN clusters the pair evidence already
       connects, so a crash between the appends never splits a cluster,
       while the reverse order could (labels without their merges);
    5. append ``(node, component_min)`` to ``labels`` for the batch's
       NEW nodes only.

    Steps 2-5 run in one of two TIERS chosen per batch: at or below
    ``batch_driver_max`` pairs (and ``merge_driver_max`` log rows — a
    parquet-metadata count, no scan), the batch graph, touched labels,
    and merge log collect to the driver and the union-find runs as
    plain Python (microseconds of CPU vs the ~dozen Spark jobs the
    distributed tier schedules — the bounded-driver-work discipline of
    IvfIndex.fit's sample); above either bound, everything stays
    DataFrames (pointer-doubling resolution + distributed label
    propagation). Both tiers write identical state
    (tests/test_stream_clusters.py runs the full fixture through each).

    Because connected components are independent of edge arrival order,
    the read-back labels equal the one-shot batch computation over the
    union of all delivered pairs — under ANY batching, interleaving, or
    at-least-once redelivery. A fully redelivered batch finds every
    endpoint stored and every root already minimal and appends NOTHING:
    the sink is idempotent in rows, not just in results (contrast the
    append-only near-dup state, which accretes byte-identical copies and
    needs compaction to reclaim them).

    Deletions are out of scope by the same contract as the pair sinks
    ("each doc id arrives once — a corpus build, not a changelog"):
    removing a node can SPLIT a component (decremental connectivity),
    which no merge log can express; rebuild the state from the surviving
    pair stream instead (delete_neardup_docs + a replay).

    100 TB cost model: write path touches the batch's label buckets +
    the merge log; read path (read_cluster_state) is ONE label scan
    joined against the broadcast-resolved merge forest. The naive
    alternative — re-running connected_components over all accumulated
    pairs each batch — is O(corpus x diameter) per batch.

    Layout contract (stateroot.bind, before a run's first append): the
    bucket count (``state_buckets``, None = flat) is recorded when the
    state is created and a run passing another one raises; a state's
    layout never changes — re-seed it (replay the pair topic into a
    fresh ``state_dir``) to change it.
    """
    from bharatmlstack_spark.operators.graph import connected_components

    labels_path = f"{state_dir}/labels"
    merges_path = f"{state_dir}/merges"
    bucketed = state_buckets is not None

    def _kb(c) -> Column:
        # the ONE derivation shared by the labels writer and the probe
        return F.pmod(F.xxhash64(c), F.lit(state_buckets))

    _layout_ok: list[bool] = []

    def _ensure_layout() -> None:
        if _layout_ok:
            return
        finish_commit(spark, labels_path + BUCKET_MARKER_SUFFIX)  # crashed compaction
        _bind_clusters(spark, state_dir, {"n_buckets": state_buckets})
        _layout_ok.append(True)

    def _probe_stored(endpoints: DataFrame):
        """(node, label) rows for the batch endpoints — bucket-pruned
        targeted read (touched dirs only, O(needed) listing) + broadcast
        semi-join; labels are UNresolved (each tier resolves through the
        merge forest its own way). None when no endpoint is stored."""
        if not hadoop_path_exists(spark, labels_path):
            return None
        if bucketed:
            need_kb = [
                r[0]
                for r in endpoints.select(_kb(F.col("node")).alias("kb"))
                .distinct()
                .collect()
            ]
            existing = _list_kb_dirs(spark, labels_path)
            paths = [existing[b] for b in need_kb if b in existing]
            if not paths:
                return None
            lab = stateroot.read(spark, labels_path, *paths)
        else:
            lab = stateroot.read(spark, labels_path)
        return lab.join(F.broadcast(endpoints), on="node", how="left_semi").select(
            "node", "label"
        )

    def _append_labels(new_labels: DataFrame, small: bool) -> None:
        if bucketed:
            out = new_labels.withColumn("__kb", _kb(F.col("node")))
            out = out.coalesce(1) if small else out.repartition("__kb")
            stateroot.append(out, labels_path, "__kb")
        else:
            out = new_labels.coalesce(1) if small else new_labels
            stateroot.append(out, labels_path)

    def _apply_driver(pairs: DataFrame, stored_lab, merges_df) -> None:
        """Micro-batch tier: the batch graph, the touched stored labels,
        and the merge log all fit the driver comfortably (bounded by
        batch_driver_max pairs / merge_driver_max log rows), so the
        union-find runs as plain Python — microseconds of CPU instead of
        the ~dozen Spark jobs the distributed tier schedules. Same
        bounded-driver-work discipline as IvfIndex.fit's sample."""
        plist = [(r[0], r[1]) for r in pairs.collect()]
        stored_rows = (
            [(r[0], r[1]) for r in stored_lab.collect()]
            if stored_lab is not None
            else []
        )
        forest: dict[int, int] = {}
        if merges_df is not None:
            for child, parent in merges_df.collect():
                prev = forest.get(child)
                forest[child] = parent if prev is None else min(prev, parent)

        def _root(lbl: int) -> int:
            seen = []
            while lbl in forest:
                seen.append(lbl)
                lbl = forest[lbl]
            for s in seen:  # path compression
                forest[s] = lbl
            return lbl

        par: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while par.get(r, r) != r:
                r = par[r]
            while par.get(x, x) != x:
                par[x], x = r, par[x]
            return r

        def union(a: int, b: int) -> None:
            ra, rb = find(a), find(b)
            if ra == rb:
                return
            if rb < ra:
                ra, rb = rb, ra
            par[rb] = ra  # union-by-min: the smaller id is the root

        for u, v in plist:
            union(u, v)
        stored_nodes: set[int] = set()
        roots_set: set[int] = set()
        for node, label in stored_rows:
            r = _root(label)
            stored_nodes.add(node)
            roots_set.add(r)
            union(node, r)
        # merges BEFORE labels (docstring step 4)
        new_merges = [(r0, find(r0)) for r0 in sorted(roots_set) if find(r0) < r0]
        if new_merges:
            stateroot.append(
                spark.createDataFrame(new_merges, "child long, parent long").coalesce(1),
                merges_path,
            )
        new_nodes = sorted({x for p in plist for x in p} - stored_nodes)
        if new_nodes:
            _append_labels(
                spark.createDataFrame(
                    [(n, find(n)) for n in new_nodes], "node long, label long"
                ),
                small=True,
            )

    def _apply_distributed(
        pairs: DataFrame, endpoints: DataFrame, stored_lab, merges_df, n_merges
    ) -> None:
        """Large-batch tier: everything stays DataFrames — merge-forest
        resolution by pointer doubling, batch components by label
        propagation (operators.graph.connected_components)."""
        stored_res = None
        if stored_lab is not None:
            if merges_df is not None:
                res = _resolve_merge_forest(merges_df)
                stored = stored_lab.join(
                    _maybe_broadcast_forest(res, n_merges),
                    stored_lab.label == res.child,
                    "left",
                ).select("node", F.coalesce("root", "label").alias("root"))
            else:
                stored = stored_lab.select("node", F.col("label").alias("root"))
            # min-agg: redelivery can store one node twice with labels
            # from different epochs; both resolve to the same root once
            # the merge log is read, so min is an identity — kept for
            # the crash window where the second append's merges are
            # ahead of this reader's log snapshot
            stored_res = (
                stored.groupBy("node").agg(F.min("root").alias("root")).persist()
            )
        edges = pairs
        if stored_res is not None:
            edges = edges.unionByName(
                stored_res.select(F.col("node").alias("u"), F.col("root").alias("v"))
            )
        comps = connected_components(edges, src="u", dst="v").persist()
        try:
            if stored_res is not None:
                roots = stored_res.select("root").distinct()
                new_merges = (
                    comps.join(F.broadcast(roots), comps.node == roots.root)
                    .filter(F.col("component") < F.col("root"))
                    .select(
                        F.col("root").alias("child"),
                        F.col("component").alias("parent"),
                    )
                )
                # merges BEFORE labels (docstring step 4); the isEmpty
                # gate keeps a merge-free state's read path resolve-free
                # (no merges/ dir at all)
                if not new_merges.isEmpty():
                    stateroot.append(new_merges, merges_path)
                new_nodes = endpoints.join(
                    stored_res.select("node"), on="node", how="left_anti"
                )
            else:
                new_nodes = endpoints
            new_labels = new_nodes.join(comps, on="node").select(
                "node", F.col("component").alias("label")
            )
            _append_labels(new_labels, small=False)
        finally:
            comps.unpersist()
            if stored_res is not None:
                stored_res.unpersist()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _ensure_layout()
        pairs = (
            batch_df.select(
                F.col(id_a).cast("long").alias("u"),
                F.col(id_b).cast("long").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
            .persist()
        )
        try:
            n_pairs = pairs.count()
            endpoints = (
                pairs.select(F.explode(F.array("u", "v")).alias("node"))
                .distinct()
                .persist()
            )
            try:
                stored_lab = _probe_stored(endpoints)
                merges_df = (
                    stateroot.read(spark, merges_path)
                    if hadoop_path_exists(spark, merges_path)
                    else None
                )
                # tier choice: the driver tier also collects the merge
                # log, so a pathologically deep log (> merge_driver_max
                # rows — parquet-metadata count, no scan) falls back to
                # the distributed tier regardless of batch size; the
                # count also gates the distributed tier's broadcast hint
                # (_maybe_broadcast_forest)
                n_merges = merges_df.count() if merges_df is not None else 0
                if n_pairs <= batch_driver_max and n_merges <= merge_driver_max:
                    _apply_driver(pairs, stored_lab, merges_df)
                else:
                    _apply_distributed(
                        pairs, endpoints, stored_lab, merges_df, n_merges
                    )
                # meta AFTER the appends — deliberately opposite the
                # meta-first ordering the other sinks enforce: here the
                # crash-window contract is carried by the merges-before-
                # labels append order (docstring step 4, pinned by
                # tests/test_stream_clusters.py), and the state is
                # idempotent in rows — a crash between appends and this
                # meta write only understates rows_appended/last_batch_id
                # (maintenance-cadence hints, never read correctness);
                # redelivery then re-applies the batch, whose merges and
                # labels collapse in the per-node min. Writing meta FIRST
                # would instead overstate progress across the same crash,
                # and unlike the other sinks nothing here uses the
                # counter to detect redelivery.
                _update_maintenance_meta(
                    spark, state_dir, batch_id, rows_appended=n_pairs
                )
            finally:
                endpoints.unpersist()
        finally:
            pairs.unpersist()

    writer = pairs_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_cluster_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """(node, component) for every node the cluster sink has seen:
    component = minimum node id reachable through all delivered pairs —
    bit-equal to connected_components over the one-shot pair set.

    ONE scan of the label store joined against the broadcast-resolved
    merge forest (the log is merges-count-sized — broadcastable at any
    realistic corpus; the hint keeps the corpus-sized label side
    un-shuffled, and is dropped past CLUSTER_BROADCAST_MAX_MERGES so an
    outsized log degrades to a shuffle join instead of an OOM; the gate
    count is one metadata-cheap job over the log alone). The per-node
    min collapses redelivery-epoch duplicates (see
    stream_cluster_sink)."""
    labels_path = f"{state_dir}/labels"
    merges_path = f"{state_dir}/merges"
    finish_commit(spark, labels_path + BUCKET_MARKER_SUFFIX)
    labels = stateroot.read(spark, labels_path).select("node", "label")
    if hadoop_path_exists(spark, merges_path):
        merges = stateroot.read(spark, merges_path)
        res = _resolve_merge_forest(merges)
        labels = labels.join(
            _maybe_broadcast_forest(res, merges.count()),
            labels.label == res.child,
            "left",
        ).select("node", F.coalesce("root", "label").alias("component"))
    else:
        labels = labels.select("node", F.col("label").alias("component"))
    return labels.groupBy("node").agg(F.min("component").alias("component"))


def compact_cluster_state(spark: SparkSession, state_dir: str) -> dict:
    """Fold the merge log into the label store: rewrite every stored
    label to its canonical root (also collapsing redelivery duplicates),
    then clear ``merges/`` — after which reads skip the resolve join
    entirely. Maintenance-cadence, single-writer (same contract as the
    other compactors here).

    Crash ordering: the canonical labels SWAP IN first (one
    tablecommit.commit_root, finished by finish_commit from any entry
    point), the merge log is deleted second. A crash between the two
    leaves canonical labels plus a stale log whose children no longer
    appear as any stored label — every resolve join misses, reads stay
    correct, and the next compaction clears the log. The reverse order
    would leave STALE labels with NO log: silently split clusters."""
    from bharatmlstack_spark.operators.feature_store import hadoop_delete_path

    labels_path = f"{state_dir}/labels"
    merges_path = f"{state_dir}/merges"
    finish_commit(spark, labels_path + BUCKET_MARKER_SUFFIX)
    recorded = _bind_clusters(spark, state_dir)
    if not hadoop_path_exists(spark, merges_path):
        return {"labels_rewritten": 0, "merges_cleared": 0}
    merges = stateroot.read(spark, merges_path)
    n_merges = merges.count()
    res = _resolve_merge_forest(merges)
    labels = stateroot.read(spark, labels_path).select("node", "label")
    canonical = (
        labels.join(
            _maybe_broadcast_forest(res, n_merges),
            labels.label == res.child,
            "left",
        )
        .select("node", F.coalesce("root", "label").alias("label"))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    if recorded is not None:
        canonical = canonical.withColumn(
            "__kb", F.pmod(F.xxhash64(F.col("node")), F.lit(recorded))
        )
    commit_root(
        canonical, labels_path, partition_col="__kb" if recorded is not None else None
    )
    n_labels = stateroot.read(spark, labels_path).count()
    hadoop_delete_path(spark, merges_path)
    return {"labels_rewritten": n_labels, "merges_cleared": n_merges}
