"""FeatureStore: retrieve semantics (J1/P1-P4/A6), persist round-trip (S2),
quantized projection (P2/F9), decoded output (F13)."""

import pytest
from pyspark.sql import functions as F

from bharatmlstack_spark import fixtures
from bharatmlstack_spark.operators.feature_store import FeatureStore, parse_feature_selector
from bharatmlstack_spark.registry import DataType


@pytest.fixture()
def fs(spark, tmp_path):
    return FeatureStore(spark, fixtures.user_registry(), str(tmp_path / "features"))


@pytest.fixture(scope="module")
def table(spark, sf_dir):
    return fixtures.user_features(spark, sf_dir)


def _now():
    return F.lit(fixtures.FIXED_NOW).cast("timestamp")


def test_parse_selector():
    s = parse_feature_selector("fg", "acct_bal@DataTypeFP16")
    assert s.feature_label == "acct_bal" and s.quantize_to == DataType.FP16
    s = parse_feature_selector("fg", "vec@DataTypeFP8E5M2Vector")
    assert s.quantize_to == DataType.FP8E5M2_VECTOR
    s = parse_feature_selector("fg", "plain")
    assert s.quantize_to is None
    with pytest.raises(ValueError):
        parse_feature_selector("fg", "x@DataTypeBogus")


def test_retrieve_hit_and_default(fs, spark, table):
    keys = spark.createDataFrame([(1,), (99999999,)], ["user_id"])
    out = fs.retrieve(
        "user",
        {"demo_int32": ["age"], "demo_str": ["location"], "demo_bool": ["is_active"]},
        keys,
        feature_table=table,
        now=_now(),
    ).orderBy("user_id")
    rows = out.collect()
    assert rows[0]["demo_int32__age"] == 21  # 20 + 1 % 60
    assert rows[1]["demo_int32__age"] == 0  # default for missing key
    assert rows[1]["demo_str__location"] == "NA"
    assert rows[1]["demo_bool__is_active"] is False


def test_retrieve_expired_key_gets_defaults(fs, spark, table):
    """P4: user_id % 10 == 0 rows carry a past expires_at -> treated absent
    (scylla.go:148-162 -> negative cache -> defaults)."""
    keys = spark.createDataFrame([(10,), (11,)], ["user_id"])
    out = fs.retrieve(
        "user", {"demo_int32": ["age"]}, keys, feature_table=table, now=_now()
    ).orderBy("user_id").collect()
    assert out[0]["demo_int32__age"] == 0  # expired -> default
    assert out[1]["demo_int32__age"] == 20 + 11 % 60


def test_retrieve_duplicate_keys_fan_out(fs, spark, table):
    """A6: dup request keys collapse for the lookup, fan back out in the
    result (retrieve.go:608-693,901-904)."""
    keys = spark.createDataFrame([(3,), (3,), (4,)], ["user_id"])
    out = fs.retrieve(
        "user", {"demo_int32": ["age"]}, keys, feature_table=table, now=_now()
    )
    vals = [r["user_id"] for r in out.collect()]
    assert sorted(vals) == [3, 3, 4]


def test_retrieve_duplicate_keys_distinct_without_fanout(fs, spark, table):
    """The semi-probe invariant: the RAW request frame (duplicates and
    all) probes the table with a LEFT-SEMI join, which never duplicates
    matched rows — with keep_request_order=False the output is exactly
    one row per DISTINCT requested key. A rewrite that probes with an
    undeduped INNER join (or assembles on the raw frame) duplicates
    rows and fails here."""
    keys = spark.createDataFrame([(3,), (3,), (3,), (4,), (99999,)], ["user_id"])
    out = fs.retrieve(
        "user",
        {"demo_int32": ["age"]},
        keys,
        feature_table=table,
        now=_now(),
        keep_request_order=False,
    )
    vals = sorted(r["user_id"] for r in out.collect())
    assert vals == [3, 4, 99999]  # distinct keys only; missing key kept


def test_retrieve_unknown_feature_errors(fs, spark, table):
    keys = spark.createDataFrame([(1,)], ["user_id"])
    with pytest.raises(KeyError):
        fs.retrieve("user", {"demo_int32": ["nope"]}, keys, feature_table=table)
    with pytest.raises(KeyError):
        fs.retrieve("bogus_fg", {}, keys)


def test_retrieve_quantized_projection(fs, spark, table):
    """P2: feat@DataTypeFP16 cast-on-read (retrieve.go:892-899)."""
    import numpy as np

    keys = spark.createDataFrame([(2,)], ["user_id"])
    out = fs.retrieve(
        "user",
        {"demo_fp": ["acct_bal@DataTypeFP16"]},
        keys,
        feature_table=table,
        now=_now(),
    ).collect()
    raw = table.filter(F.col("user_id") == 2).collect()[0]["demo_fp__acct_bal"]
    assert out[0]["demo_fp__acct_bal"] == np.float32(np.float16(raw))


def test_retrieve_quantize_widen_rejected(fs, spark, table):
    keys = spark.createDataFrame([(1,)], ["user_id"])
    with pytest.raises(ValueError):
        fs.retrieve(
            "user",
            {"demo_fp": ["acct_bal@DataTypeFP64"]},  # FP32 -> FP64 widens
            keys,
            feature_table=table,
        )


def test_persist_and_reload(fs, spark):
    df = spark.createDataFrame(
        [(1, 30), (2, 40)], ["user_id", "demo_int32__age"]
    )
    fs.persist("user", df)
    loaded = fs.load("user")
    assert loaded.count() == 2
    assert "schema_version" in loaded.columns and "expires_at" in loaded.columns


def test_persist_upsert_latest_wins(fs, spark):
    """S2: full-row upsert (scylla.go:168-253) — second write for the same
    key replaces the first."""
    fs.persist("user", spark.createDataFrame([(1, 30)], ["user_id", "demo_int32__age"]))
    fs.persist("user", spark.createDataFrame([(1, 99), (2, 50)], ["user_id", "demo_int32__age"]))
    rows = {r["user_id"]: r["demo_int32__age"] for r in fs.load("user").collect()}
    assert rows == {1: 99, 2: 50}


def test_persist_missing_key_column_errors(fs, spark):
    with pytest.raises(ValueError):
        fs.persist("user", spark.createDataFrame([(30,)], ["demo_int32__age"]))


def test_retrieve_decoded(fs, spark, table):
    keys = spark.createDataFrame([(1,), (99999999,)], ["user_id"])
    out = fs.retrieve_decoded(
        "user",
        {"demo_int32": ["age"], "demo_bool": ["is_active"], "demo_vec": ["taste_vec"]},
        keys,
        feature_table=table,
        now=_now(),
    ).orderBy("user_id")
    rows = out.collect()
    assert rows[0]["demo_int32__age"] == "21"
    assert rows[0]["demo_bool__is_active"] in ("true", "false")
    assert ":" in rows[0]["demo_vec__taste_vec"]  # colon-joined vector (F13, deserialized_psdb_v2.go:358)
    assert rows[1]["demo_int32__age"] == "0"


def test_schema_version_reconcile(spark, tmp_path):
    """Rows written under v1 served against active v2: the new feature
    falls back to its default (retrieve.go:833-858)."""
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
            "user",
            ["user_id"],
            {
                "fg": FeatureGroup(
                    "fg",
                    1,
                    DataType.INT32,
                    features={
                        1: [Feature("a", 0, default=-1)],
                        2: [Feature("a", 0, default=-1), Feature("b", 1, default=7)],
                    },
                    active_version=2,
                )
            },
        )
    )
    fs = FeatureStore(spark, reg, str(tmp_path / "f"))
    # v1 row: no fg__b column at all
    v1 = spark.createDataFrame([(1, 5)], ["user_id", "fg__a"]).withColumn(
        "schema_version", F.lit(1)
    )
    keys = spark.createDataFrame([(1,)], ["user_id"])
    out = fs.retrieve("user", {"fg": ["a", "b"]}, keys, feature_table=v1).collect()
    assert out[0]["fg__a"] == 5
    assert out[0]["fg__b"] == 7  # default for feature absent in stored version


def test_multi_store_scatter_gather(spark, tmp_path):
    """J2: FGs on different stores resolve via one join per store
    (retrieve.go:436-444 FG->storeId grouping)."""
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
            "user",
            ["user_id"],
            {
                "fg_a": FeatureGroup(
                    "fg_a", 1, DataType.INT32, {1: [Feature("x", 0, default=-1)]}, store_id=0
                ),
                "fg_b": FeatureGroup(
                    "fg_b", 2, DataType.STRING, {1: [Feature("y", 0, default="na")]}, store_id=1
                ),
            },
        )
    )
    fs = FeatureStore(spark, reg, str(tmp_path / "ms"))
    fs.persist("user", spark.createDataFrame([(1, 10)], ["user_id", "fg_a__x"]), store_id=0)
    fs.persist("user", spark.createDataFrame([(1, "hi")], ["user_id", "fg_b__y"]), store_id=1)
    keys = spark.createDataFrame([(1,), (2,)], ["user_id"])
    out = fs.retrieve("user", {"fg_a": ["x"], "fg_b": ["y"]}, keys).orderBy("user_id").collect()
    assert out[0]["fg_a__x"] == 10 and out[0]["fg_b__y"] == "hi"
    assert out[1]["fg_a__x"] == -1 and out[1]["fg_b__y"] == "na"  # defaults across stores


def test_composite_key_retrieve(fs, spark, table):
    """Composite PK (user_id, nation_key) — Key.Sequence ordering
    (config/models.go:27-47)."""
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
            "user_nation",
            ["user_id", "nation_key"],
            {
                "demo_int32": FeatureGroup(
                    "demo_int32", 1, DataType.INT32, {1: [Feature("age", 0, default=0)]}
                )
            },
        )
    )
    fs2 = FeatureStore(spark, reg, fs.base_path)
    real = table.select("user_id", "nation_key").limit(1).collect()[0]
    keys = spark.createDataFrame(
        [(real["user_id"], real["nation_key"]), (real["user_id"], real["nation_key"] + 99)],
        ["user_id", "nation_key"],
    )
    out = fs2.retrieve(
        "user_nation", {"demo_int32": ["age"]}, keys, feature_table=table, now=_now()
    ).orderBy("nation_key").collect()
    assert out[0]["demo_int32__age"] != 0 or real["user_id"] % 10 == 0
    assert out[1]["demo_int32__age"] == 0  # wrong nation_key -> miss -> default


def test_persist_type_validation(fs, spark):
    """U4 ParseFeatureValue: wrong-typed or unknown columns are rejected
    (persist.go:209)."""
    bad_type = spark.createDataFrame([(1, "not-an-int")], ["user_id", "demo_int32__age"])
    with pytest.raises(TypeError, match="expects"):
        fs.persist("user", bad_type)
    unknown = spark.createDataFrame([(1, 5)], ["user_id", "nonexistent__col"])
    with pytest.raises(ValueError, match="matches no registered feature"):
        fs.persist("user", unknown)


def test_materialize_and_compact(spark, tmp_path):
    """Materialization round-trip + SS2 compaction of expired rows."""
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
            "user",
            ["user_id"],
            {"orders": FeatureGroup("orders", 1, DataType.INT64,
                                    {1: [Feature("n_orders", 0, default=0)]})},
        )
    )
    fs = FeatureStore(spark, reg, str(tmp_path / "mat"))
    feats = spark.createDataFrame([(1, 5), (2, 9)], ["user_id", "orders__n_orders"])
    past = F.lit("2020-01-01").cast("timestamp")
    future = F.lit("2030-01-01").cast("timestamp")
    feats = feats.withColumn(
        "expires_at", F.when(F.col("user_id") == 2, past).otherwise(future)
    )
    fs.materialize("user", feats)
    assert fs.load("user").count() == 2

    removed = fs.compact("user", now=F.lit("2026-01-01").cast("timestamp"))
    assert removed == 1
    rows = fs.load("user").collect()
    assert len(rows) == 1 and rows[0]["user_id"] == 1
    # idempotent
    assert fs.compact("user", now=F.lit("2026-01-01").cast("timestamp")) == 0


def test_retrieve_without_broadcast_matches(spark, sf_dir, tmp_path):
    """SCALE.md claim, pinned: a table-sized request set (broadcast_keys=
    False -> AQE sort-merge join) returns exactly the broadcast plan's
    rows."""
    from bharatmlstack_spark import fixtures
    from bharatmlstack_spark.plans import explain_formatted

    fs = FeatureStore(spark, fixtures.user_registry(), str(tmp_path / "nf"))
    feats = fixtures.user_features(spark, sf_dir)
    keys = fixtures.request_keys(spark, sf_dir)
    sel = {"demo_int32": ["age"], "demo_str": ["location"]}

    a = fs.retrieve("user", sel, keys, feature_table=feats)
    ra = sorted(tuple(r) for r in a.collect())
    # disable auto-broadcast so the no-hint plan genuinely sort-merges
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b = fs.retrieve("user", sel, keys, feature_table=feats, broadcast_keys=False)
        plan = explain_formatted(b)
        assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan
        rb = sorted(tuple(r) for r in b.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert ra == rb


def test_persist_partial_fg_preserves_other_fg_columns(fs, spark):
    """Column-wise upsert (scylla.go:168-253 — PersistV2 INSERTs only the
    batch's columns; Scylla leaves the rest of the row intact): a later
    batch carrying only ONE FG's column must not null the other FG's
    stored value for the same key."""
    fs.persist(
        "user",
        spark.createDataFrame(
            [(1, 30, "blr"), (2, 40, "del")],
            ["user_id", "demo_int32__age", "demo_str__location"],
        ),
    )
    # partial batch: only the age column, only key 1
    fs.persist(
        "user", spark.createDataFrame([(1, 99)], ["user_id", "demo_int32__age"])
    )
    rows = {
        r["user_id"]: (r["demo_int32__age"], r["demo_str__location"])
        for r in fs.load("user").collect()
    }
    assert rows[1] == (99, "blr")  # age updated, location preserved
    assert rows[2] == (40, "del")  # untouched key fully preserved


def test_persist_rewrites_only_touched_buckets(spark, tmp_path):
    """Scale contract: an upsert rewrites a STRICT SUBSET of the bucket
    partition directories — untouched key_bucket dirs keep their files
    byte-identical (mtime + name)."""
    import os

    fs2 = FeatureStore(
        spark, fixtures.user_registry(), str(tmp_path / "feat2"), n_buckets=8
    )
    base = spark.range(0, 64).select(
        F.col("id").alias("user_id"), (F.col("id") % 60).cast("int").alias("demo_int32__age")
    )
    fs2.persist("user", base)
    path = fs2._table_path("user")
    def snapshot():
        snap = {}
        for d in sorted(os.listdir(path)):
            if d.startswith("key_bucket="):
                full = os.path.join(path, d)
                snap[d] = sorted(
                    (f, os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full)
                    if f.endswith(".parquet")
                )
        return snap

    before = snapshot()
    assert len(before) > 1  # layout actually fanned out
    # single-key upsert -> exactly one bucket touched
    fs2.persist(
        "user", spark.createDataFrame([(7, 59)], ["user_id", "demo_int32__age"])
    )
    after = snapshot()
    changed = [d for d in before if before[d] != after.get(d)]
    assert len(changed) == 1  # strict subset: one bucket dir rewritten
    rows = {r["user_id"]: r["demo_int32__age"] for r in fs2.load("user").collect()}
    assert rows[7] == 59 and len(rows) == 64


def test_retrieve_after_bucketed_persist_roundtrip(spark, tmp_path):
    """retrieve() over the bucket-partitioned layout joins on the bucket
    column too (dynamic partition pruning path) and returns clean rows."""
    fs2 = FeatureStore(
        spark, fixtures.user_registry(), str(tmp_path / "feat3"), n_buckets=8
    )
    fs2.persist(
        "user",
        spark.createDataFrame(
            [(1, 30, "blr"), (2, 40, "del")],
            ["user_id", "demo_int32__age", "demo_str__location"],
        ),
    )
    keys = spark.createDataFrame([(1,), (2,), (777,)], ["user_id"])
    out = fs2.retrieve(
        "user", {"demo_int32": ["age"], "demo_str": ["location"]}, keys, now=_now()
    )
    assert "key_bucket" not in out.columns
    rows = {r["user_id"]: (r["demo_int32__age"], r["demo_str__location"]) for r in out.collect()}
    assert rows[1] == (30, "blr") and rows[2] == (40, "del")
    assert rows[777] == (0, "NA")  # defaults for missing key


def test_n_buckets_adopted_from_table_meta(spark, tmp_path):
    """A FeatureStore opened with a DIFFERENT n_buckets than the table was
    written with must adopt the stored modulus (sidecar metadata): upserts
    keep routing keys to their original bucket dirs (no stale duplicates)
    and retrieve's bucket join keeps matching stored rows."""
    path = str(tmp_path / "featmeta")
    w = FeatureStore(spark, fixtures.user_registry(), path, n_buckets=8)
    w.persist(
        "user",
        spark.createDataFrame(
            [(1, 30, "blr"), (2, 40, "del"), (3, 50, "bom")],
            ["user_id", "demo_int32__age", "demo_str__location"],
        ),
    )
    # reopen with a mismatched modulus
    r = FeatureStore(spark, fixtures.user_registry(), path, n_buckets=64)
    assert r._effective_n_buckets(r._table_path("user")) == 8
    # upsert through the mismatched opener: must not duplicate key 1
    r.persist(
        "user",
        spark.createDataFrame([(1, 31, "blr")], ["user_id", "demo_int32__age", "demo_str__location"]),
    )
    table = r.load("user")
    assert table.filter(F.col("user_id") == 1).count() == 1
    # retrieve through yet another mismatched opener: stored values, not defaults
    q = FeatureStore(spark, fixtures.user_registry(), path, n_buckets=17)
    keys = spark.createDataFrame([(1,), (2,), (3,)], ["user_id"])
    out = q.retrieve("user", {"demo_int32": ["age"]}, keys, now=_now())
    rows = {x["user_id"]: x["demo_int32__age"] for x in out.collect()}
    assert rows == {1: 31, 2: 40, 3: 50}


def test_narrow_storage_persist_retrieve_roundtrip(spark, tmp_path):
    """F9 through the STORE: an FP16 FG persists as SMALLINT and an
    FP8E5M2Vector FG as array<tinyint> on disk; retrieve decodes back to
    exactly the narrow round-trip values. Defaults still fill misses."""
    import numpy as np

    from bharatmlstack_spark.functions.quantize import (
        fp8e5m2_roundtrip_np,
        fp16_roundtrip_np,
    )

    fsn = FeatureStore(
        spark, fixtures.user_narrow_registry(), str(tmp_path / "narrow"), n_buckets=4
    )
    # vectors at the declared vector_length=8 — persist enforces the exact
    # size the reference books (perm_storage_datablock_v2.go:616-618)
    vals = [
        (1, 1234.567, [0.1, 0.9, 1.5, -2.0, 0.0, 3.25, -0.125, 7.0]),
        (2, -0.0625, [0.5, 0.25, -1.0, 2.5, 0.75, -3.5, 4.0, 0.01]),
    ]
    fsn.persist(
        "user",
        spark.createDataFrame(
            vals, ["user_id", "demo_fp__acct_bal", "demo_vec__taste_vec"]
        ),
    )
    stored = dict(fsn.load("user").dtypes)
    assert stored["demo_fp__acct_bal"] == "smallint"
    assert stored["demo_vec__taste_vec"] == "array<tinyint>"

    keys = spark.createDataFrame([(1,), (2,), (99,)], ["user_id"])
    out = fsn.retrieve(
        "user", {"demo_fp": ["acct_bal"], "demo_vec": ["taste_vec"]}, keys, now=_now()
    )
    rows = {r["user_id"]: r for r in out.collect()}
    for uid, bal, vec in vals:
        exp_bal = float(fp16_roundtrip_np(np.array([bal]))[0])
        exp_vec = [float(v) for v in fp8e5m2_roundtrip_np(np.array(vec))]
        assert rows[uid]["demo_fp__acct_bal"] == exp_bal
        assert rows[uid]["demo_vec__taste_vec"] == exp_vec
    assert rows[99]["demo_fp__acct_bal"] == 0.0  # default fill for miss

    # upsert keeps the narrow width and latest value wins
    fsn.persist(
        "user",
        spark.createDataFrame([(1, 42.42, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0])],
                              ["user_id", "demo_fp__acct_bal", "demo_vec__taste_vec"]),
    )
    assert dict(fsn.load("user").dtypes)["demo_fp__acct_bal"] == "smallint"
    out2 = fsn.retrieve("user", {"demo_fp": ["acct_bal"]},
                        spark.createDataFrame([(1,)], ["user_id"]), now=_now())
    assert out2.collect()[0]["demo_fp__acct_bal"] == float(
        fp16_roundtrip_np(np.array([42.42]))[0]
    )


def test_e4m3_storage_codec_matches_roundtrip():
    """decode(encode(x)) == roundtrip(x) for E4M3FN, incl sign/NaN/overflow."""
    import numpy as np

    from bharatmlstack_spark.functions.quantize import (
        fp8e4m3_decode_np,
        fp8e4m3_encode_np,
        fp8e4m3_roundtrip_np,
    )

    rng = np.random.default_rng(7)
    x = np.concatenate([
        rng.uniform(-500, 500, 4000),
        np.array([0.0, -0.0, 448.0, 449.0, -448.0, 1e9, -1e9, np.nan, 0.0009765625]),
    ])
    got = fp8e4m3_decode_np(fp8e4m3_encode_np(x))
    exp = fp8e4m3_roundtrip_np(x)
    np.testing.assert_array_equal(got.view(np.int32), exp.view(np.int32))


def test_delete_keys_bucket_scoped(spark, tmp_path):
    """delete(): removed keys vanish, untouched bucket dirs keep their
    files byte-identical, and a fully-emptied bucket's directory is
    removed (dynamic overwrite can't replace a partition with nothing)."""
    import os

    from bharatmlstack_spark.operators.feature_store import _bucket_expr

    fsd = FeatureStore(
        spark, fixtures.user_registry(), str(tmp_path / "featdel"), n_buckets=8
    )
    base = spark.range(0, 64).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 60).cast("int").alias("demo_int32__age"),
    )
    fsd.persist("user", base)
    path = fsd._table_path("user")

    def snapshot():
        return {
            d: sorted(
                (f, os.path.getmtime(os.path.join(path, d, f)))
                for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            )
            for d in sorted(os.listdir(path))
            if d.startswith("key_bucket=")
        }

    before = snapshot()
    # bucket of every key, computed with the store's own expression
    buckets = {
        r.user_id: r.b
        for r in base.select(
            "user_id", _bucket_expr(["user_id"], 8).alias("b")
        ).collect()
    }
    # delete 2 keys from ONE bucket (partial) ...
    some_bucket = buckets[0]
    partial = [k for k, b in buckets.items() if b == some_bucket][:2]
    # ... and EVERY key of another bucket (full empty)
    other_bucket = next(b for b in set(buckets.values()) if b != some_bucket)
    emptied = [k for k, b in buckets.items() if b == other_bucket]

    keys = spark.createDataFrame([(k,) for k in partial + emptied], ["user_id"])
    removed = fsd.delete("user", keys)
    assert removed == len(partial) + len(emptied)

    rows = {r["user_id"] for r in fsd.load("user").collect()}
    assert rows == set(buckets) - set(partial) - set(emptied)

    after = snapshot()
    # the emptied bucket's directory is gone
    assert f"key_bucket={other_bucket}" not in after
    # only the two touched buckets changed; the rest are byte-identical
    changed = [d for d in before if before[d] != after.get(d)]
    assert sorted(changed) == sorted(
        [f"key_bucket={some_bucket}", f"key_bucket={other_bucket}"]
    )

    # deleting nothing is a no-op returning 0
    assert fsd.delete("user", spark.createDataFrame([(999999,)], ["user_id"])) == 0


def test_delete_missing_key_column_errors(fs, spark):
    with pytest.raises(ValueError):
        fs.delete("user", spark.createDataFrame([(1,)], ["not_a_key"]))


def test_delete_then_retrieve_returns_defaults(spark, tmp_path):
    fsd = FeatureStore(
        spark, fixtures.user_registry(), str(tmp_path / "featdel2"), n_buckets=4
    )
    fsd.persist(
        "user",
        spark.createDataFrame([(1, 30), (2, 40)], ["user_id", "demo_int32__age"]),
    )
    fsd.delete("user", spark.createDataFrame([(1,)], ["user_id"]))
    out = fsd.retrieve(
        "user",
        {"demo_int32": ["age"]},
        spark.createDataFrame([(1,), (2,)], ["user_id"]),
        feature_table=fsd.load("user"),
    ).orderBy("user_id")
    rows = [r["demo_int32__age"] for r in out.collect()]
    assert rows == [0, 40]  # deleted key falls back to the FG default


def test_delete_fuzz_set_semantics(spark, tmp_path):
    """persist U, delete D => load == U \\ D, for seeded random key sets
    including full-table and disjoint deletes (cheap deterministic sweep
    instead of per-example Spark round-trips)."""
    import random

    rng = random.Random(7)
    for case in range(4):
        universe = sorted(rng.sample(range(1000), rng.randint(1, 40)))
        dele = [k for k in universe if rng.random() < 0.4] or universe[:1]
        dele += [9999]  # never-present key: must be a no-op
        fsd = FeatureStore(
            spark,
            fixtures.user_registry(),
            str(tmp_path / f"fuzzdel{case}"),
            n_buckets=4,
        )
        fsd.persist(
            "user",
            spark.createDataFrame(
                [(k, k % 90) for k in universe], ["user_id", "demo_int32__age"]
            ),
        )
        removed = fsd.delete(
            "user", spark.createDataFrame([(k,) for k in dele], ["user_id"])
        )
        assert removed == len(set(dele) & set(universe))
        left = {r["user_id"] for r in fsd.load("user").collect()} if removed < len(
            universe
        ) else set()
        if removed == len(universe):
            # full-table delete drops the table DIRECTORY itself (not just
            # the bucket dirs): a sidecar-only dir would make
            # hadoop_path_exists true while spark.read.parquet raises
            # 'Unable to infer schema for Parquet'
            import os

            assert not os.path.exists(fsd._table_path("user"))
        else:
            assert left == set(universe) - set(dele)


def test_delete_all_then_persist_roundtrip(spark, tmp_path):
    """Emptying a table via delete() then persisting again must behave as
    a fresh table (the sidecar-only-dir trap: exists-branch read of a
    data-file-less directory)."""
    fsd = FeatureStore(
        spark, fixtures.user_registry(), str(tmp_path / "featdelall"), n_buckets=4
    )
    batch = spark.createDataFrame(
        [(1, 30), (2, 40), (3, 50)], ["user_id", "demo_int32__age"]
    )
    fsd.persist("user", batch)
    removed = fsd.delete(
        "user", spark.createDataFrame([(1,), (2,), (3,)], ["user_id"])
    )
    assert removed == 3
    # re-persist into the (now nonexistent) table: the exists-branch must
    # not try to read a parquet-less dir
    fsd.persist(
        "user", spark.createDataFrame([(7, 70)], ["user_id", "demo_int32__age"])
    )
    rows = {(r["user_id"], r["demo_int32__age"]) for r in fsd.load("user").collect()}
    assert rows == {(7, 70)}


# ---------------------------------------------------------------------------
# STRING_VECTOR (DataTypeStringVector, data_type.go:39) — the 30th data type
# ---------------------------------------------------------------------------


@pytest.fixture()
def fs_tags(spark, tmp_path):
    return FeatureStore(
        spark, fixtures.user_tags_registry(), str(tmp_path / "tagstore"), n_buckets=4
    )


def test_string_vector_persist_retrieve_roundtrip(fs_tags, spark):
    """array<string> through real bucketed storage: element order and
    values survive; misses fill the scalar default broadcast to
    vector_length (P3 via array_repeat)."""
    batch = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["x", "y", "z"])],
        "user_id long, demo_tags__tags array<string>",
    )
    fs_tags.persist("user", batch)
    keys = spark.createDataFrame([(1,), (2,), (404,)], ["user_id"])
    out = {
        r["user_id"]: r["demo_tags__tags"]
        for r in fs_tags.retrieve("user", {"demo_tags": ["tags"]}, keys).collect()
    }
    assert out[1] == ["a", "b", "c"]
    assert out[2] == ["x", "y", "z"]
    assert out[404] == ["none", "none", "none"]  # default fill


def test_string_vector_decoded_joins_with_colon(fs_tags, spark):
    """F13 for string vectors: strings.Join(values, ":") parity
    (deserialized_psdb_v2.go HelperVectorFeature*ToConcatenatedString)."""
    batch = spark.createDataFrame(
        [(1, ["red", "big", "new"])],
        "user_id long, demo_tags__tags array<string>",
    )
    fs_tags.persist("user", batch)
    keys = spark.createDataFrame([(1,), (9,)], ["user_id"])
    out = {
        r["user_id"]: r["demo_tags__tags"]
        for r in fs_tags.retrieve_decoded(
            "user", {"demo_tags": ["tags"]}, keys
        ).collect()
    }
    assert out[1] == "red:big:new"
    assert out[9] == "none:none:none"


def test_string_vector_element_overflow_errors(fs_tags, spark):
    """perm_storage_datablock_v2.go:621-623: an element longer than the
    booked string_length is an ERROR at serialize, never truncated."""
    bad = spark.createDataFrame(
        [(1, ["ok", "way-too-long-for-the-booked-size", "ok"])],
        "user_id long, demo_tags__tags array<string>",
    )
    with pytest.raises(Exception, match="string_length"):
        fs_tags.persist("user", bad)


def test_string_vector_size_mismatch_errors(fs_tags, spark):
    """perm_storage_datablock_v2.go:616-618: vector length must equal the
    declared vector_length exactly."""
    bad = spark.createDataFrame(
        [(1, ["only", "two"])],
        "user_id long, demo_tags__tags array<string>",
    )
    with pytest.raises(Exception, match="vector_length"):
        fs_tags.persist("user", bad)


def test_scalar_string_overflow_errors(spark, tmp_path):
    """Scalar strings enforce the same booked length
    (perm_storage_datablock_v2.go:342-343)."""
    fs2 = FeatureStore(
        spark, fixtures.user_registry(), str(tmp_path / "strstore"), n_buckets=4
    )
    bad = spark.createDataFrame(
        [(1, "this-location-name-exceeds-sixteen-chars")],
        "user_id long, demo_str__location string",
    )
    with pytest.raises(Exception, match="string_length"):
        fs2.persist("user", bad)


def test_string_vector_registry_json_roundtrip():
    """STRING_VECTOR survives the registry's JSON (de)serialization and
    maps to ArrayType(StringType)."""
    from pyspark.sql import types as T

    from bharatmlstack_spark.registry import SchemaRegistry

    reg = fixtures.user_tags_registry()
    reg2 = SchemaRegistry.from_json(reg.to_json())
    fg = reg2.entity("user").fg("demo_tags")
    assert fg.data_type is DataType.STRING_VECTOR
    assert fg.data_type.spark_type == T.ArrayType(T.StringType(), containsNull=False)
    assert fg.data_type.element is DataType.STRING
    assert not fg.data_type.is_narrow_float
    f = fg.feature("tags")
    assert (f.string_length, f.vector_length) == (12, 3)


def test_string_length_books_bytes_not_chars(fs_tags, spark):
    """The reference books BYTE length (Go len(str),
    perm_storage_datablock_v2.go:341): a 4-char string of 4-byte
    codepoints occupies 16 booked bytes and must overflow a 12-byte
    booking, even though its char count fits."""
    four_chars_sixteen_bytes = "\U0001F600" * 4  # 4 chars, 16 utf-8 bytes
    bad = spark.createDataFrame(
        [(1, [four_chars_sixteen_bytes, "ok", "ok"])],
        "user_id long, demo_tags__tags array<string>",
    )
    with pytest.raises(Exception, match="string_length"):
        fs_tags.persist("user", bad)
    # 3 chars = 12 bytes: exactly at the booking, accepted
    ok = spark.createDataFrame(
        [(1, ["\U0001F600" * 3, "ok", "ok"])],
        "user_id long, demo_tags__tags array<string>",
    )
    fs_tags.persist("user", ok)
    got = fs_tags.retrieve(
        "user", {"demo_tags": ["tags"]},
        spark.createDataFrame([(1,)], ["user_id"]),
    ).collect()[0]["demo_tags__tags"]
    assert got == ["\U0001F600" * 3, "ok", "ok"]


def _sidecar(spark, path):
    from bharatmlstack_spark.operators.feature_store import read_table_meta

    return read_table_meta(spark, path)


def _key_in_another_bucket(spark, key: int, n_buckets: int) -> int:
    """A key in [0, 40) that FeatureStore hashes into another bucket than ``key``."""
    bucket = dict(
        spark.range(0, 40).selectExpr("id", f"pmod(xxhash64(id), {n_buckets})").collect()
    )
    return next(k for k, b in bucket.items() if b != bucket[key])


def _assert_stored_schema_is_the_tables(spark, fs, path):
    """load() reads with the sidecar's schema; it must be the schema a
    full schema-merging inference of the files gives."""
    from pyspark.sql.types import StructType

    stored = StructType.fromJson(_sidecar(spark, path)["schema"])
    inferred = spark.read.option("mergeSchema", "true").parquet(path).schema
    assert fs.load("user").schema == inferred
    assert [(f.name, f.dataType) for f in stored] == [
        (f.name, f.dataType) for f in inferred
    ]


def test_second_instance_sees_column_added_by_another(spark, tmp_path):
    """The table schema lives in the sidecar, not on the instance: a
    column one FeatureStore's persist adds (to the touched buckets only)
    is visible to a second FeatureStore opened on the same path before
    that persist, and survives a later persist touching other buckets."""
    path = str(tmp_path / "shared")
    a = FeatureStore(spark, fixtures.user_registry(), path, n_buckets=8)
    b = FeatureStore(spark, fixtures.user_registry(), path, n_buckets=8)
    a.persist(
        "user",
        spark.range(0, 40).select(
            F.col("id").alias("user_id"), F.col("id").cast("int").alias("demo_int32__age")
        ),
    )
    assert "demo_fp__acct_bal" not in b.load("user").columns
    a.persist(
        "user",
        spark.createDataFrame([(1, 1.5)], "user_id bigint, demo_fp__acct_bal float"),
    )
    assert "demo_fp__acct_bal" in b.load("user").columns
    # b's own persist touches another bucket: the column must stay
    other = _key_in_another_bucket(spark, 1, 8)
    b.persist("user", spark.createDataFrame([(other, 99)], "user_id bigint, demo_int32__age int"))
    _assert_stored_schema_is_the_tables(spark, a, a._table_path("user"))
    keys = spark.createDataFrame([(1,), (other,)], ["user_id"])
    out = a.retrieve("user", {"demo_int32": ["age"], "demo_fp": ["acct_bal"]}, keys, now=_now())
    got = {r["user_id"]: (r["demo_int32__age"], r["demo_fp__acct_bal"]) for r in out.collect()}
    assert got == {1: (1, 1.5), other: (99, 0.0)}


def test_table_without_stored_schema_still_reads(spark, tmp_path):
    """A sidecar written before schemas were stored (n_buckets only) makes
    load() infer the schema, merged over every bucket; the next persist
    stores it — including a column only some buckets hold."""
    from bharatmlstack_spark.operators.feature_store import write_table_meta

    fs = FeatureStore(spark, fixtures.user_registry(), str(tmp_path / "old"), n_buckets=8)
    fs.persist(
        "user",
        spark.range(0, 40).select(
            F.col("id").alias("user_id"), F.col("id").cast("int").alias("demo_int32__age")
        ),
    )
    fs.persist("user", spark.createDataFrame([(1, 1.5)], "user_id bigint, demo_fp__acct_bal float"))
    path = fs._table_path("user")
    write_table_meta(spark, path, 8)
    assert "schema" not in _sidecar(spark, path)
    fresh = FeatureStore(spark, fixtures.user_registry(), str(tmp_path / "old"), n_buckets=8)
    keys = spark.createDataFrame([(1,), (2,), (99,)], ["user_id"])
    out = fresh.retrieve("user", {"demo_int32": ["age"], "demo_fp": ["acct_bal"]}, keys, now=_now())
    got = {r["user_id"]: (r["demo_int32__age"], r["demo_fp__acct_bal"]) for r in out.collect()}
    assert got == {1: (1, 1.5), 2: (2, 0.0), 99: (0, 0.0)}
    # a persist touching only a bucket without acct_bal: the stored schema keeps it
    other = _key_in_another_bucket(spark, 1, 8)
    fresh.persist("user", spark.createDataFrame([(other, 50)], ["user_id", "demo_int32__age"]))
    assert _sidecar(spark, path)["n_buckets"] == 8
    _assert_stored_schema_is_the_tables(spark, fresh, path)


def test_delete_and_compact_keep_the_stored_schema(spark, tmp_path):
    fs = FeatureStore(spark, fixtures.user_registry(), str(tmp_path / "dc"), n_buckets=4)
    past = F.lit("2020-01-01").cast("timestamp")
    future = F.lit("2030-01-01").cast("timestamp")
    fs.persist(
        "user",
        spark.range(0, 30).select(
            F.col("id").alias("user_id"),
            F.col("id").cast("int").alias("demo_int32__age"),
            F.when(F.col("id") % 3 == 0, past).otherwise(future).alias("expires_at"),
        ),
    )
    path = fs._table_path("user")
    fs.persist("user", spark.createDataFrame([(5, "blr")], ["user_id", "demo_str__location"]))
    stored = _sidecar(spark, path)
    assert fs.delete("user", spark.createDataFrame([(1,), (2,)], ["user_id"])) == 2
    assert _sidecar(spark, path) == stored
    _assert_stored_schema_is_the_tables(spark, fs, path)
    assert fs.compact("user", now=F.lit("2026-01-01").cast("timestamp")) == 10
    assert _sidecar(spark, path) == stored  # the overwrite's sidecar is rewritten
    _assert_stored_schema_is_the_tables(spark, fs, path)
    assert sorted(r["user_id"] for r in fs.load("user").collect()) == [
        i for i in range(3, 30) if i % 3
    ]


def test_retrieve_string_keys_need_escaping(spark, tmp_path):
    """The request keys reach the scan as SQL literal IN lists: string keys
    with quotes, backslashes and non-ASCII text must match exactly, and a
    key that only differs by escaping must stay a miss."""
    from bharatmlstack_spark.registry import Entity, Feature, FeatureGroup, SchemaRegistry

    reg = SchemaRegistry()
    reg.register(
        Entity(
            "shop",
            ["name"],
            {"s": FeatureGroup("s", 1, DataType.INT32, {1: [Feature("n", 0, default=-1)]})},
        )
    )
    fs = FeatureStore(spark, reg, str(tmp_path / "shops"), n_buckets=4)
    names = ["o'brien", "back\\slash", "both\\'", "plain", "ಬೆಂಗಳೂರು"]
    fs.persist(
        "shop",
        spark.createDataFrame([(k, i) for i, k in enumerate(names)], "name string, s__n int"),
    )
    request = names + ["o\\'brien", "missing"]
    keys = spark.createDataFrame([(k,) for k in request], "name string")
    got = {r["name"]: r["s__n"] for r in fs.retrieve("shop", {"s": ["n"]}, keys).collect()}
    assert got == {**{k: i for i, k in enumerate(names)}, "o\\'brien": -1, "missing": -1}
