"""FeatureStore: persist / retrieve / retrieve_decoded as Catalyst plans.

The reference's hot path (SURVEY.md §3.1 — RetrieveFeatures,
online-feature-store/internal/handler/feature/retrieve.go:88-523) is a
9-state cache-tier waterfall + per-key scatter-gather + byte-matrix fill.
Here the whole lifecycle is ONE declarative plan:

    keys LEFT JOIN feature table(s) ON pk       (J1/J2; broadcast keys)
      WHERE expires_at > now                    (P4 TTL -> treated-as-absent)
      SELECT coalesce(col, default)             (P3 default fill; also covers
                                                 schema-version reconcile --
                                                 rows written before a feature
                                                 existed hold NULL)
      optional quantized cast (feat@FP16)       (P2)
      one output row per request row            (A6: the pk is unique)

Tiers, channels, write-backs, and negative caches disappear — Catalyst
column pruning plays the role of FG->store projection (scylla.go:93-107) and
a broadcast hash join plays the role of the batched point lookup.

At 100 TB scale: the feature table is the big side and the request is
small — request-sized by contract, so its keys are collected to the driver
(free for a local request frame). Each store's scan is filtered by literal
``key_bucket IN (...)`` and ``<key> IN (...)`` lists (partition pruning,
parquet row-group skipping), which makes the scan itself request-sized, and
the raw request LEFT JOINs a broadcast of it: BroadcastHashJoin builds the
right side of a LEFT OUTER join, the table never shuffles, and the unique
primary key keeps request multiplicity without a key dedup. The table's
schema comes from its meta sidecar, so opening it launches no Spark job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql import types as T

from bharatmlstack_spark.registry import DataType, Entity, FeatureGroup, SchemaRegistry
from bharatmlstack_spark.functions.quantize import (
    check_quantization_compat,
    quantize_column,
    storage_decode_sql,
    storage_encode,
)
from bharatmlstack_spark.functions.sqltext import quote_ident, sql_in, sql_literal

BUCKET_COL = "key_bucket"


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API so feature tables
    can live on HDFS/S3/GCS, not just the driver-local filesystem
    (``os.path.exists`` silently returns False for ``s3a://...``)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


# sidecar inside the table dir; leading underscore keeps it invisible to
# parquet file discovery (same convention as _SUCCESS)
TABLE_META_FILE = "_bharatml_table_meta.json"


def hadoop_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Small-file write through the Hadoop FS API (works on HDFS/S3/GCS).

    NOT crash-safe for REPLACING a file something depends on:
    ``fs.create(path, True)`` truncates in place, so a crash mid-write
    leaves a torn file. Sidecars (which carry the streamed states'
    layout/signature contract and are rewritten every micro-batch) go
    through hadoop_write_text_atomic instead."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


# staged half of an atomic small-file replace; read_table_meta knows how
# to adopt an orphaned one after a crash
TEXT_TMP_SUFFIX = ".__tmp"


def hadoop_write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Crash-safe small-file REPLACE: write the full content to
    ``<path>.__tmp``, delete the target, rename the tmp over it. The
    in-place truncate of hadoop_write_text exposes every reader to a
    torn file for the duration of the write — fatal once the meta
    sidecar became a per-micro-batch write carrying the layout contract
    (a truncated JSON bricks every subsequent sink start). Crash
    windows: mid-tmp-write leaves a torn tmp but the INTACT target
    (readers unaffected; the next write overwrites the tmp); between
    delete and rename leaves no target but a COMPLETE tmp, which
    read_table_meta adopts (a torn tmp with a missing target cannot
    occur — the tmp write strictly precedes the delete)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    jtmp = jvm.org.apache.hadoop.fs.Path(path + TEXT_TMP_SUFFIX)
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(jtmp, jpath):
        raise RuntimeError(f"atomic text replace: rename over {path} failed")


def hadoop_read_text(spark: SparkSession, path: str) -> str | None:
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return str(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def hadoop_list_partition_dirs(
    spark: SparkSession, path: str, col: str
) -> dict[int, str]:
    """{partition_value: dir_path} for one table root's ``col=`` partition
    dirs — one FS listStatus call, O(existing dirs) driver metadata. Used
    to build TARGETED pruned reads (explicit dir paths + basePath):
    reading the root and filtering ``isin(values)`` lists EVERY partition
    dir first — at thousands of buckets that O(all dirs) file-discovery
    job dwarfs the pruned scan itself (measured for the near-dup state in
    tools/neardup_state_experiment.py; the same economics apply to any
    bucket-partitioned table on an object store)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out: dict[int, str] = {}
    if not fs.exists(jpath):
        return out
    prefix = f"{col}="
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            # a stray non-numeric dir (key_bucket=__HIVE_DEFAULT_PARTITION__
            # from a null key, or a foreign dir sharing the prefix) must not
            # break every targeted read — skip it, don't raise
            try:
                value = int(name[len(prefix):])
            except ValueError:
                continue
            out[value] = f"{path}/{name}"
    return out


def hadoop_delete_path(spark: SparkSession, path: str) -> bool:
    """Recursive delete through the Hadoop FS API (HDFS/S3/GCS-safe) —
    used to drop bucket directories a key-delete fully emptied (dynamic
    partition overwrite only REPLACES partitions present in the new
    output; an emptied bucket produces no output rows, so its stale
    directory must be removed explicitly)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.delete(jpath, True))


def write_table_meta(
    spark: SparkSession,
    table_path: str,
    n_buckets: int,
    schema: T.StructType | None = None,
) -> None:
    """Replace the sidecar; ``schema`` is the table's read schema, which
    lets readers open the table without a schema-inference job."""
    import json

    meta: dict = {"n_buckets": n_buckets}
    if schema is not None:
        meta["schema"] = schema.jsonValue()
    hadoop_write_text_atomic(
        spark, os.path.join(table_path, TABLE_META_FILE), json.dumps(meta)
    )


def _table_schema(df: DataFrame) -> T.StructType:
    """The schema a bucket-partitioned parquet write of ``df`` reads back
    with: the data columns, then ``key_bucket`` as partition discovery
    types it (int)."""
    fields = [f for f in df.schema.fields if f.name != BUCKET_COL]
    if BUCKET_COL in df.columns:
        fields.append(T.StructField(BUCKET_COL, T.IntegerType()))
    return T.StructType(fields)


def read_table_meta(spark: SparkSession, table_path: str) -> dict | None:
    import json

    path = os.path.join(table_path, TABLE_META_FILE)
    text = hadoop_read_text(spark, path)
    if text is None:
        # a crashed hadoop_write_text_atomic between its delete and
        # rename: the target is gone but the COMPLETE staged tmp exists —
        # finish the rename and read it. The replace case guarantees a
        # missing-target tmp is complete, but the FIRST-EVER write of a
        # sidecar has no target to protect the invariant: a crash mid-tmp
        # leaves a TORN tmp with no target. Parse BEFORE adopting; a torn
        # tmp is deleted (the pre-crash state was no-sidecar — fully
        # recoverable, the writers record idempotently) instead of being
        # renamed into place where it would poison every later read.
        tmp = path + TEXT_TMP_SUFFIX
        tmp_text = hadoop_read_text(spark, tmp)
        if tmp_text is not None:
            jvm = spark._jvm
            jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
            fs = jtmp.getFileSystem(spark._jsc.hadoopConfiguration())
            try:
                json.loads(tmp_text)
            except ValueError:
                fs.delete(jtmp, False)  # torn first write; nothing to adopt
            else:
                fs.rename(jtmp, jvm.org.apache.hadoop.fs.Path(path))
                text = hadoop_read_text(spark, path)
    return None if text is None else json.loads(text)


def _bucket_sql(key_cols: list[str], n_buckets: int) -> str:
    """Same hash-bucket as sources.writers.write_feature_table — the parquet
    analog of Scylla token-range routing (scylla.go:80-167)."""
    return f"pmod(xxhash64({', '.join(map(quote_ident, key_cols))}), {n_buckets})"


def _bucket_expr(key_cols: list[str], n_buckets: int) -> Column:
    return F.expr(_bucket_sql(key_cols, n_buckets))



@dataclass
class FeatureSelector:
    """One requested feature: FG label + feature label + optional @quant."""

    fg_label: str
    feature_label: str
    quantize_to: DataType | None = None

    @property
    def output_column(self) -> str:
        return f"{self.fg_label}__{self.feature_label}"


def parse_feature_selector(fg_label: str, token: str) -> FeatureSelector:
    """Parse ``feature`` or ``feature@DataTypeFP16`` / ``feature@FP16``
    (ref: retrieve.go:1071-1090 splits on '@' with a DataType-prefixed
    suffix)."""
    if "@" not in token:
        return FeatureSelector(fg_label, token)
    label, suffix = token.split("@", 1)
    name = suffix.removeprefix("DataType")
    try:
        target = DataType(name)
    except ValueError:
        try:
            target = DataType[name.upper().replace("VECTOR", "_VECTOR")]
        except KeyError:
            raise ValueError(f"unknown quantization suffix {suffix!r} on {token!r}")
    return FeatureSelector(fg_label, label, target)


class FeatureStore:
    """Entity-keyed feature persistence + retrieval over parquet tables.

    One wide table per (entity, store): PK columns + ``fg__feature`` value
    columns + ``schema_version`` + ``expires_at`` metadata columns. The
    reference's PSDB byte blocks (perm_storage_datablock_v2.go) carry exactly
    {typed values, schema version, expiry} — those semantics land as ordinary
    typed columns; parquet ZSTD replaces opportunistic block compression.
    """

    def __init__(
        self,
        spark: SparkSession,
        registry: SchemaRegistry,
        base_path: str,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.registry = registry
        self.base_path = base_path
        # hash-bucket fan-out of the physical layout; it defines the
        # partition directories, so it must stay constant for the lifetime
        # of a table. The constructor arg only applies to NEW tables: an
        # existing table's stored value (TABLE_META_FILE sidecar, written at
        # creation) always wins — a mismatched opener would otherwise hash
        # keys into the wrong directories (stale duplicates on persist,
        # default-filled misses on retrieve).
        self.n_buckets = n_buckets
        self._nb_cache: dict[str, int] = {}

    def _effective_n_buckets(self, path: str) -> int:
        """Stored n_buckets for an existing table; ctor arg for a new one."""
        if path not in self._nb_cache:
            nb = self.n_buckets
            if hadoop_path_exists(self.spark, path):
                meta = read_table_meta(self.spark, path)
                if meta and "n_buckets" in meta:
                    nb = int(meta["n_buckets"])
            self._nb_cache[path] = nb
        return self._nb_cache[path]

    def _table_path(self, entity_label: str, store_id: int = 0) -> str:
        return os.path.join(self.base_path, entity_label, f"store_{store_id}")

    def _drop_table(self, path: str) -> None:
        """Remove a table directory entirely (incl. the meta sidecar) and
        forget its cached bucket count — the next persist sees a NEW table
        (ctor n_buckets applies again). Used when a delete empties the
        whole table: leaving only the sidecar behind would make
        hadoop_path_exists(path) true while spark.read.parquet(path)
        raises 'Unable to infer schema for Parquet'."""
        hadoop_delete_path(self.spark, path)
        self._nb_cache.pop(path, None)

    def _drop_table_if_no_buckets(self, path: str) -> None:
        """After dropping emptied bucket dirs, check whether ANY
        key_bucket= directory survives; if none does, the table holds no
        data files (just the sidecar) and must be dropped — see
        _drop_table. The listing is driver-side over <= n_buckets
        entries, Hadoop-FS-API so HDFS/S3/GCS-safe."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            self._nb_cache.pop(path, None)
            return
        for st in fs.listStatus(jpath):
            if st.getPath().getName().startswith(f"{BUCKET_COL}="):
                return
        self._drop_table(path)

    # ------------------------------------------------------------------
    # persist (S2 + write path §3.2)
    # ------------------------------------------------------------------

    def persist(
        self,
        entity_label: str,
        df: DataFrame,
        store_id: int = 0,
        order_col: str | None = None,
    ) -> None:
        """Validate against the registry, stamp schema_version/expires_at,
        and upsert latest-wins by PK (the reference's full-row upsert,
        scylla.go:168-253; MERGE INTO in Delta terms, expressed here as
        union + row_number over parquet).

        Duplicate keys WITHIN the incoming batch collapse to one row —
        ordered by ``order_col`` descending when given (e.g. an event-time
        column, the per-key ordering the reference's sharded consumer
        guarantees — kafka.go:80-95), arbitrarily-but-singly otherwise.
        """
        entity = self.registry.entity(entity_label)
        for k in entity.key_columns:
            if k not in df.columns:
                raise ValueError(f"persist missing key column {k!r}")

        # U4 ParseFeatureValue: ingest values must match the FG's registered
        # type (persist.go:209); unknown fg__feature columns are rejected
        # like unknown labels on read. Compatible numerics coerce to the
        # declared width — the reference's wire containers carry small ints
        # as int64/float64 and downcast on parse (SURVEY §1.2).
        df = self._validate_persist_schema(entity, df)
        df = self._enforce_lengths(entity, df)

        ttl = max(
            (fg.ttl_seconds for fg in entity.feature_groups.values()), default=0
        )
        out = df
        if "schema_version" not in out.columns:
            active = {fg.active_version for fg in entity.feature_groups.values()}
            out = out.withColumn("schema_version", F.lit(max(active, default=1)))
        if "expires_at" not in out.columns:
            exp = (
                F.timestamp_seconds(F.unix_timestamp(F.current_timestamp()) + F.lit(ttl))
                if ttl > 0
                else F.lit(None).cast("timestamp")
            )
            out = out.withColumn("expires_at", exp)

        # collapse duplicate keys inside the batch (latest-by-order_col wins)
        if order_col is not None:
            w_in = Window.partitionBy(*entity.key_columns).orderBy(F.desc(order_col))
            out = (
                out.withColumn("__rn", F.row_number().over(w_in))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            out = out.dropDuplicates(entity.key_columns)

        path = self._table_path(entity_label, store_id)
        exists = hadoop_path_exists(self.spark, path)
        # one driver-side listStatus gives the physical layout AND the
        # dirs for targeted pruned reads; reading the root + isin would
        # list every bucket dir first (hadoop_list_partition_dirs)
        kb_dirs = (
            hadoop_list_partition_dirs(self.spark, path, BUCKET_COL)
            if exists
            else {}
        )
        legacy = exists and not kb_dirs
        # schema probe: the table's schema (stored in the sidecar, or merged
        # over every bucket for a table written before schemas were stored)
        if not exists:
            probe = None
        elif legacy:
            probe = self.spark.read.parquet(path)
        else:
            probe = self._read(path)

        # F9 narrow storage: fp16/fp8 FG columns write as bit-pattern
        # integers (2x/4x denser than FLOAT; ref perm_storage_datablock_v2
        # .go:365-392). Existing tables keep their stored width — mixing
        # narrow and float files under one table would break parquet schema
        # merge across partition dirs.
        out = self._encode_narrow(
            entity, out, dict(probe.dtypes) if probe is not None else None
        )

        # physical layout: hash-bucket partition column (writers.py layout);
        # an upsert then only touches the bucket directories its keys hash
        # into — the other (n_buckets - touched) directories never rewrite.
        # For an existing table the STORED bucket count wins over the ctor
        # arg (a different modulus would route keys to the wrong dirs).
        nb = self._effective_n_buckets(path)
        out = out.withColumn(BUCKET_COL, _bucket_expr(entity.key_columns, nb))

        if not exists:
            (
                out.repartition(BUCKET_COL)
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(path)
            )
            write_table_meta(self.spark, path, nb, _table_schema(out))
            return
        if legacy:
            # pre-bucketed table: migrate to the partitioned layout on this
            # write (one full rewrite, then scoped forever after)
            existing = probe.withColumn(
                BUCKET_COL, _bucket_expr(entity.key_columns, nb)
            )
            touched = None
        else:
            # the incoming batch is the small side by contract — the list of
            # touched buckets is <= n_buckets driver-side values
            touched = sorted(
                r[0] for r in out.select(BUCKET_COL).distinct().collect()
            )
            # partition pruning: only touched bucket dirs are read
            # (targeted paths; a touched bucket with no dir yet simply
            # has no existing rows)
            paths = [kb_dirs[b] for b in touched if b in kb_dirs]
            if paths:
                # read with the table's schema: a column an earlier persist
                # added only to other buckets still reaches the merge
                existing = (
                    self.spark.read.schema(probe.schema)
                    .option("basePath", path)
                    .parquet(*paths)
                )
            else:
                existing = probe.limit(0)  # schema-preserving empty side

        merged = self._merge_columnwise(existing, out, entity)

        # parquet can't overwrite a path being read: stage then swap. With
        # the partitioned layout the final write uses dynamic partition
        # overwrite, so ONLY the touched bucket directories are replaced.
        tmp = path + "__staging"
        (
            merged.repartition(BUCKET_COL)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(tmp)
        )
        final = self.spark.read.parquet(tmp)
        writer = (
            final.repartition(BUCKET_COL)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
        )
        if not legacy:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(path)
        hadoop_delete_path(self.spark, tmp)  # staged copy: reclaim now
        # the staged read-back holds every table column (the existing side
        # was read with the stored schema), so its schema is the table's
        write_table_meta(self.spark, path, nb, _table_schema(final))

    @staticmethod
    def _encode_narrow(
        entity: Entity, df: DataFrame, existing_dtypes: dict[str, str] | None
    ) -> DataFrame:
        """Encode fp16/fp8 FG columns to their storage form (SMALLINT /
        TINYINT bit patterns). A column already stored as float in an
        existing table is left as float (legacy width is sticky)."""
        cols: dict[str, Column] = {}
        for fg in entity.feature_groups.values():
            if not fg.data_type.is_narrow_float:
                continue
            labels = {f.label for feats in fg.features.values() for f in feats}
            for label in labels:
                c = fg.column_name(label)
                if c not in df.columns:
                    continue
                if existing_dtypes is not None and c in existing_dtypes:
                    st = existing_dtypes[c]
                    if "float" in st or "double" in st:
                        continue  # legacy float-stored column stays float
                cols[c] = storage_encode(
                    fg.data_type.element.name, c, fg.data_type.is_vector
                )
        return df.withColumns(cols) if cols else df

    @staticmethod
    def _merge_columnwise(existing: DataFrame, incoming: DataFrame, entity: Entity) -> DataFrame:
        """Column-wise upsert merge (the reference's per-FG column write:
        PersistV2 INSERTs only that FG's columns and Scylla leaves the rest
        of the row intact — scylla.go:168-253).

        For each key: columns PRESENT in the incoming batch take the
        incoming value (including explicit NULLs — the cell-tombstone
        semantics of writing null); columns ABSENT from the batch keep the
        stored value. A single-FG persist therefore never nulls another
        FG's columns on the same row.
        """
        keys = entity.key_columns
        inc = incoming.withColumn("__present", F.lit(1)).alias("n")
        ex = existing.alias("e")
        cond = [F.col(f"e.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
        joined = ex.join(inc, cond, "full_outer")
        matched = F.col("n.__present").isNotNull()

        cols: list[Column] = [
            F.coalesce(F.col(f"n.{k}"), F.col(f"e.{k}")).alias(k) for k in keys
        ]
        value_cols = [c for c in existing.columns if c not in keys]
        value_cols += [
            c for c in incoming.columns if c not in keys and c not in value_cols
        ]
        for c in value_cols:
            in_new = c in incoming.columns
            in_old = c in existing.columns
            if in_new and in_old:
                expr = F.when(matched, F.col(f"n.{c}")).otherwise(F.col(f"e.{c}"))
            elif in_new:
                expr = F.col(f"n.{c}")
            else:
                expr = F.col(f"e.{c}")
            cols.append(expr.alias(c))
        return joined.select(*cols)

    def load(self, entity_label: str, store_id: int = 0) -> DataFrame:
        return self._read(self._table_path(entity_label, store_id))

    def _read(self, path: str, *bucket_dirs: str) -> DataFrame:
        """The table at ``path`` (or only its ``bucket_dirs``), read with the
        schema its sidecar stores — no schema-inference job, and a column
        another FeatureStore instance or the streaming sink added is
        visible. A table whose sidecar has no schema (written before
        schemas were stored) is inferred, merged over its files."""
        meta = read_table_meta(self.spark, path) or {}
        if "schema" in meta:
            reader = self.spark.read.schema(T.StructType.fromJson(meta["schema"]))
        else:
            reader = self.spark.read.option("mergeSchema", "true")
        if bucket_dirs:
            return reader.option("basePath", path).parquet(*bucket_dirs)
        return reader.parquet(path)

    def materialize(
        self,
        entity_label: str,
        feature_df: DataFrame,
        store_id: int = 0,
        order_col: str | None = None,
    ) -> None:
        """Offline feature materialization: the py-sdk's Spark feature-push
        flow (spark_feature_push_client/client.py:47-150 — partition-wise
        encode + push) collapsed to a direct table upsert, since the engine
        IS Spark. ``feature_df`` is any DataFrame of PK + fg__feature
        columns (e.g. an aggregation over fact tables)."""
        self.persist(entity_label, feature_df, store_id=store_id, order_col=order_col)

    def compact(self, entity_label: str, store_id: int = 0, now: Column | None = None) -> int:
        """SS2 companion job: physically drop expired rows (reads already
        treat them as absent; compaction reclaims storage — the declarative
        form of Scylla TTL eviction). Returns rows removed."""
        now = now if now is not None else F.current_timestamp()
        table = self.load(entity_label, store_id)
        if "expires_at" not in table.columns:
            return 0
        live = table.filter(F.col("expires_at").isNull() | (F.col("expires_at") > now))
        removed = table.count() - live.count()
        if removed:
            path = self._table_path(entity_label, store_id)
            tmp = path + "__staging"
            if BUCKET_COL in table.columns:
                nb = self._effective_n_buckets(path)  # before the sidecar goes
                live.repartition(BUCKET_COL).write.mode("overwrite").partitionBy(
                    BUCKET_COL
                ).parquet(tmp)
                self.spark.read.parquet(tmp).repartition(BUCKET_COL).write.mode(
                    "overwrite"
                ).partitionBy(BUCKET_COL).parquet(path)
                # the full overwrite replaced the directory, sidecar included
                write_table_meta(self.spark, path, nb, _table_schema(table))
            else:
                live.write.mode("overwrite").parquet(tmp)
                self.spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
            hadoop_delete_path(self.spark, tmp)  # staged copy: reclaim now
        return removed

    def delete(
        self,
        entity_label: str,
        keys: DataFrame,
        store_id: int = 0,
        broadcast_keys: bool = True,
    ) -> int:
        """Hard-delete rows by PK (the right-to-be-forgotten path) with
        the same bucket-scoped cost model as persist: the key set's
        touched buckets are collected driver-side (<= n_buckets values),
        only those directories are read and anti-joined, and the staged
        rewrite uses dynamic partition overwrite — untouched buckets are
        never read or rewritten. Buckets the delete fully empties are
        removed explicitly (dynamic overwrite cannot replace a partition
        with nothing). Returns rows removed. At 100 TB a delete costs
        O(touched buckets), like persist. ``broadcast_keys=False`` drops
        the broadcast hint for compliance-scale key sets (tens of
        millions of keys stop being broadcastable; AQE then picks a
        shuffled join over the already-bucket-pruned existing side)."""
        entity = self.registry.entity(entity_label)
        for k in entity.key_columns:
            if k not in keys.columns:
                raise ValueError(f"delete missing key column {k!r}")
        path = self._table_path(entity_label, store_id)
        if not hadoop_path_exists(self.spark, path):
            return 0
        kb_dirs = hadoop_list_partition_dirs(self.spark, path, BUCKET_COL)
        kdf = keys.select(*entity.key_columns).dropDuplicates(entity.key_columns)

        if not kb_dirs:
            # legacy pre-bucketed table: one full anti-join rewrite
            existing = self.spark.read.parquet(path)
            kside = F.broadcast(kdf) if broadcast_keys else kdf
            remaining = existing.join(
                kside, on=entity.key_columns, how="left_anti"
            )
            n_remaining = remaining.count()
            removed = existing.count() - n_remaining
            if removed and n_remaining == 0:
                # full-table delete: an empty parquet write can't be read
                # back ("Unable to infer schema"), so drop the table dir —
                # the next persist recreates it as a NEW table
                self._drop_table(path)
            elif removed:
                tmp = path + "__staging"
                remaining.write.mode("overwrite").parquet(tmp)
                self.spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
                hadoop_delete_path(self.spark, tmp)  # staged copy: reclaim
            return removed

        nb = self._effective_n_buckets(path)
        kdf = kdf.withColumn(BUCKET_COL, _bucket_expr(entity.key_columns, nb))
        touched = sorted(r[0] for r in kdf.select(BUCKET_COL).distinct().collect())
        # targeted pruned read of the touched dirs only (a touched bucket
        # with no dir holds nothing to delete)
        paths = [kb_dirs[b] for b in touched if b in kb_dirs]
        if not paths:
            return 0
        scoped = self._read(path, *paths)
        kside = kdf.drop(BUCKET_COL)
        if broadcast_keys:
            kside = F.broadcast(kside)
        remaining = scoped.join(kside, on=entity.key_columns, how="left_anti")
        n_remaining = remaining.count()
        removed = scoped.count() - n_remaining
        if not removed:
            return 0
        if n_remaining == 0:
            # every row of every touched bucket is gone: nothing to stage
            # (an empty parquet write can't even be read back) — drop the
            # touched directories directly
            for b in touched:
                hadoop_delete_path(self.spark, f"{path}/{BUCKET_COL}={b}")
            self._drop_table_if_no_buckets(path)
            return removed
        tmp = path + "__staging"
        (
            remaining.repartition(BUCKET_COL)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(tmp)
        )
        staged = self.spark.read.parquet(tmp)
        (
            staged.repartition(BUCKET_COL)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )
        survivors = {r[0] for r in staged.select(BUCKET_COL).distinct().collect()}
        hadoop_delete_path(self.spark, tmp)  # staged copy: reclaim now
        for b in touched:
            if b not in survivors:
                hadoop_delete_path(self.spark, f"{path}/{BUCKET_COL}={b}")
        return removed

    # ------------------------------------------------------------------
    # retrieve (the hot path, §3.1)
    # ------------------------------------------------------------------

    def retrieve(
        self,
        entity_label: str,
        selections: dict[str, list[str]],
        keys_df: DataFrame,
        feature_table: DataFrame | None = None,
        now: Column | None = None,
        keep_request_order: bool = True,
        broadcast_keys: bool = True,
    ) -> DataFrame:
        """Batch point-lookup as one plan.

        ``selections``: fg_label -> feature tokens (with optional @quant).
        ``keys_df``: request keys, duplicates allowed — output has one row
        per request row (A6 fan-out; one row per distinct key with
        ``keep_request_order=False``), defaults filled for missing/expired
        keys (P3/P4).
        ``feature_table``: override the stored table (used by fixture-backed
        oracle queries); defaults to the entity's store-0 table.

        ``broadcast_keys``: the request is request-sized by contract, and
        its keys are collected to the driver here (a local request frame
        costs no Spark job; any other frame costs the jobs of computing
        it). Each store's scan keeps only the request's buckets and keys
        (literal IN lists) and broadcasts into a left join with the
        request — the feature table never shuffles (module docstring).
        Pass False when the "request" is itself table-sized (a 100M-key
        backfill): a plain keys LEFT JOIN table, AQE picks the join. Same
        rows either way (tested).
        """
        entity = self.registry.entity(entity_label)
        selectors = self._resolve(entity, selections)  # P1 validation
        now = now if now is not None else F.current_timestamp()
        key_cols = entity.key_columns

        # J2 multi-store scatter-gather (retrieve.go:436-444): group the
        # requested FGs by store and join each store's table once; with an
        # explicit feature_table override everything reads from it.
        # Request-side bucket hashing uses each table's STORED modulus, not
        # the ctor arg (see __init__).
        if feature_table is not None:
            stores = [(feature_table, self.n_buckets, selectors)]
        else:
            by_store: dict[int, list[FeatureSelector]] = {}
            for s in selectors:
                by_store.setdefault(entity.fg(s.fg_label).store_id, []).append(s)
            stores = [
                (
                    self.load(entity_label, sid),
                    self._effective_n_buckets(self._table_path(entity_label, sid)),
                    sels,
                )
                for sid, sels in by_store.items()
            ]

        request = keys_df.select(*key_cols)
        keys = request if keep_request_order else request.dropDuplicates(key_cols)
        if broadcast_keys:
            scan_filter = self._request_filters(
                request, key_cols, {nb for t, nb, _ in stores if BUCKET_COL in t.columns}
            )

        # J1: per-store lookup — request LEFT JOIN broadcast(request-sized
        # scan); the pk is unique, so request multiplicity survives the join
        joined = keys
        for table, nb, sels in stores:
            if broadcast_keys:
                pred = scan_filter[nb if BUCKET_COL in table.columns else None]
                if pred:
                    table = table.filter(pred)
            # P4: expired rows are absent (negative-cache semantics at
            # source, scylla.go:148-162)
            if "expires_at" in table.columns:
                table = table.filter(
                    F.col("expires_at").isNull() | (F.col("expires_at") > now)
                )
            # column pruning: only this store's requested FG columns leave
            # the scan (FG->store projection, scylla.go:93-107)
            needed = [s.output_column for s in sels if s.output_column in table.columns]
            table = table.select(*key_cols, *needed)
            if broadcast_keys:
                table = F.broadcast(table)
            joined = joined.join(table, on=key_cols, how="left")

        # P3 defaults + F9 narrow-storage decode as ONE SQL projection (a
        # Column tree per feature costs a py4j round trip per node), then
        # P2 quantization over the named results
        joined_dtypes = dict(joined.dtypes)
        narrow_stored = {"smallint", "tinyint", "array<smallint>", "array<tinyint>"}
        exprs = [quote_ident(k) for k in key_cols]
        quantized: dict[str, Column] = {}
        for s in selectors:
            fg = entity.fg(s.fg_label)
            dtype, out = fg.data_type, s.output_column
            if out not in joined_dtypes:
                value = f"CAST(NULL AS {dtype.spark_type.simpleString()})"
            elif dtype.is_narrow_float and joined_dtypes[out] in narrow_stored:
                value = storage_decode_sql(dtype.element.name, out, dtype.is_vector)
            else:
                value = quote_ident(out)
            default = self._default_sql(fg, fg.feature(s.feature_label))
            if default is not None:
                value = f"coalesce({value}, {default})"
            exprs.append(f"{value} AS {quote_ident(out)}")
            if s.quantize_to is not None:
                check_quantization_compat(dtype, s.quantize_to)
                quantized[out] = quantize_column(out, s.quantize_to, vector=dtype.is_vector)
        result = joined.selectExpr(*exprs)
        return result.withColumns(quantized) if quantized else result

    @staticmethod
    def _request_filters(
        keys: DataFrame, key_cols: list[str], bucket_counts: set[int]
    ) -> dict[int | None, str]:
        """Scan predicates keeping only the request's rows, by the store's
        bucket count (None: a table without ``key_bucket``). One collect
        of the request keys and their buckets — the bucket hash evaluates
        on the driver for a local request frame."""
        counts = sorted(bucket_counts)
        rows = keys.selectExpr(
            *map(quote_ident, key_cols), *(_bucket_sql(key_cols, nb) for nb in counts)
        ).collect()
        # a key type without a SQL literal form only loses its IN filter;
        # the join still matches exactly
        key_preds = [sql_in(k, (r[i] for r in rows)) for i, k in enumerate(key_cols)]
        key_pred = " AND ".join(p for p in key_preds if p)
        out: dict[int | None, str] = {None: key_pred}
        for j, nb in enumerate(counts, start=len(key_cols)):
            bucket_pred = sql_in(BUCKET_COL, (r[j] for r in rows))
            out[nb] = " AND ".join(p for p in (bucket_pred, key_pred) if p)
        return out

    def retrieve_decoded(self, *args, **kwargs) -> DataFrame:
        """RetrieveDecodedResult (F13): stringified feature values.

        Vectors join elements with ':' and boolean vector elements encode
        as '1'/'0', matching HelperVectorFeature*ToConcatenatedString
        (deserialized_psdb_v2.go:348-513 — strings.Join(values, ":"),
        bools -> "1"/"0"). Float scalars/elements format with Go %v parity
        — shortest round-trip digits at the value's own width with 'g'
        exponent rules (features.go:112 fmt.Sprintf("%v"); NOT Java
        Float.toString, which always appends ".0" and uses E7 notation).
        """
        from bharatmlstack_spark.functions.formatting import (
            go_format_float32,
            go_format_float32_vec,
            go_format_float64,
            go_format_float64_vec,
        )

        df = self.retrieve(*args, **kwargs)
        entity = self.registry.entity(args[0] if args else kwargs["entity_label"])
        out: list[Column] = []
        for name, dtype in df.dtypes:
            if name in entity.key_columns:
                out.append(F.col(name))
            elif dtype == "array<boolean>":
                out.append(
                    F.concat_ws(
                        ":",
                        F.transform(
                            F.col(name),
                            lambda x: F.when(x, F.lit("1")).otherwise(F.lit("0")),
                        ),
                    ).alias(name)
                )
            elif dtype == "array<float>":
                out.append(go_format_float32_vec(F.col(name)).alias(name))
            elif dtype == "array<double>":
                out.append(go_format_float64_vec(F.col(name)).alias(name))
            elif dtype.startswith("array"):
                out.append(F.concat_ws(":", F.col(name).cast("array<string>")).alias(name))
            elif dtype == "boolean":
                out.append(
                    F.when(F.col(name), F.lit("true")).otherwise(F.lit("false")).alias(name)
                )
            elif dtype == "float":
                out.append(go_format_float32(F.col(name)).alias(name))
            elif dtype == "double":
                out.append(go_format_float64(F.col(name)).alias(name))
            else:
                out.append(F.col(name).cast("string").alias(name))
        return df.select(*out)

    # ------------------------------------------------------------------

    @staticmethod
    def _validate_persist_schema(entity: Entity, df: DataFrame) -> DataFrame:
        """U4: per-column type check against the registry (the wire-value
        validation ParseFeatureValue performs per feature).

        Numeric columns coerce (cast) to the declared type — the wire shape
        is wider containers (int64/float64) downcast on parse; cross-kind
        mismatches (string vs numeric, scalar vs vector) are rejected.
        """
        from pyspark.sql.types import ArrayType, NumericType, StringType, BooleanType

        meta = {"schema_version", "expires_at"}
        known: dict[str, FeatureGroup] = {}
        for fg in entity.feature_groups.values():
            for feat in fg.version_features():
                known[fg.column_name(feat.label)] = fg

        def kind(dt) -> str:
            if isinstance(dt, ArrayType):
                return "vec_" + kind(dt.elementType)
            if isinstance(dt, NumericType):
                return "num"
            if isinstance(dt, StringType):
                return "str"
            if isinstance(dt, BooleanType):
                return "bool"
            return dt.simpleString()

        out = df
        for field in df.schema.fields:
            name = field.name
            if name in entity.key_columns or name in meta:
                continue
            fg = known.get(name)
            if fg is None:
                raise ValueError(
                    f"persist: column {name!r} matches no registered feature on "
                    f"entity {entity.label!r}"
                )
            expected = fg.data_type.spark_type
            if field.dataType.simpleString() == expected.simpleString():
                continue
            if kind(field.dataType) != kind(expected):
                raise TypeError(
                    f"persist: column {name!r} is {field.dataType.simpleString()}, "
                    f"FG {fg.label!r} expects {expected.simpleString()}"
                )
            target = expected
            if isinstance(expected, ArrayType) and not expected.containsNull:
                # a nullable-element source can't cast to NOT NULL elements;
                # coerce to the nullable variant (same values, same files)
                target = ArrayType(expected.elementType, containsNull=True)
            out = out.withColumn(name, F.col(name).cast(target))
        return out

    @staticmethod
    def _enforce_lengths(entity: Entity, df: DataFrame) -> DataFrame:
        """Serialize-time length contracts, the reference's PSDB booking
        rules (perm_storage_datablock_v2.go:332-343 scalar strings,
        :595-626 string vectors — an element longer than the booked
        string_length, or a vector whose size differs from the declared
        vector_length, is an ERROR, never truncated or padded).

        Data-dependent, so enforced executor-side via conditional
        raise_error — the check stays inside whole-stage codegen; a clean
        batch pays one branch per guarded column, no extra pass."""
        cols = set(df.columns)
        out = df
        for fg in entity.feature_groups.values():
            for feat in fg.version_features():
                name = fg.column_name(feat.label)
                if name not in cols:
                    continue
                col = F.col(name)
                checks: list[tuple[Column, str]] = []
                if fg.data_type.is_vector and feat.vector_length > 0:
                    checks.append(
                        (
                            col.isNotNull() & (F.size(col) != feat.vector_length),
                            f"persist: {name} vector size != declared "
                            f"vector_length {feat.vector_length}",
                        )
                    )
                if feat.string_length > 0 and fg.data_type.element == DataType.STRING:
                    n = feat.string_length
                    # octet_length, not length: the reference books BYTES
                    # (Go len(str), perm_storage_datablock_v2.go:341) — a
                    # 4-char emoji string occupies 16 booked bytes
                    if fg.data_type.is_vector:
                        # factory closure: a default-arg lambda would make
                        # PySpark hand the HOF a 2-parameter function
                        def _too_long(bound_n: int):
                            return lambda x: x.isNotNull() & (
                                F.octet_length(x) > bound_n
                            )

                        cond = col.isNotNull() & F.exists(col, _too_long(n))
                    else:
                        cond = col.isNotNull() & (F.octet_length(col) > n)
                    checks.append(
                        (
                            cond,
                            f"persist: {name} exceeds booked string_length {n}",
                        )
                    )
                for cond, msg in checks:
                    out = out.withColumn(
                        name,
                        F.when(cond, F.raise_error(F.lit(msg))).otherwise(
                            F.col(name)
                        ),
                    )
        return out

    @staticmethod
    def _resolve(entity: Entity, selections: dict[str, list[str]]) -> list[FeatureSelector]:
        """P1/P8: label -> (fg, feature) resolution; unknown labels error
        (retrieve.go:695-789)."""
        out = []
        for fg_label, tokens in selections.items():
            fg = entity.fg(fg_label)
            for token in tokens:
                sel = parse_feature_selector(fg_label, token)
                fg.feature(sel.feature_label)  # raises on unknown feature
                out.append(sel)
        return out

    @staticmethod
    def _default_sql(fg: FeatureGroup, feat) -> str | None:
        """Default fill (P3) as SQL at the FG's type. Vector defaults
        broadcast a scalar default to the FG's fixed VectorLength when the
        default isn't already a list."""
        default = feat.default
        if default is None:
            return None
        if not fg.data_type.is_vector:
            value = sql_literal(default)
        elif isinstance(default, (list, tuple)):
            value = f"array({', '.join(map(sql_literal, default))})"
        else:
            value = f"array_repeat({sql_literal(default)}, {feat.vector_length or 1})"
        return f"CAST({value} AS {fg.data_type.spark_type.simpleString()})"
