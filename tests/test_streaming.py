"""Streaming ingestion (SS1-SS5) driven with file sources — the
foreachBatch sinks reuse batch operators, so these pin the streaming
plumbing: checkpointing, micro-batch upsert, state, watermark windows."""

import os
import shutil
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from bharatmlstack_spark import fixtures
from bharatmlstack_spark.operators.event_store import EventStore
from bharatmlstack_spark.operators.feature_store import FeatureStore
from bharatmlstack_spark.streaming import (
    feature_upsert_sink,
    stateful_top_events,
    stream_event_retention,
    windowed_event_counts,
)

EVENT_SCHEMA = "user_id long, ts timestamp, event_id long, value double"


def _write_json_batch(path: str, rows: list[dict]):
    import json

    os.makedirs(path, exist_ok=True)
    fname = os.path.join(path, f"batch_{time.time_ns()}.json")
    with open(fname + ".tmp", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(fname + ".tmp", fname)


def test_feature_upsert_sink(spark, tmp_path):
    """SS1/SS2: stream -> foreachBatch -> FeatureStore.persist upsert."""
    src = str(tmp_path / "src")
    _write_json_batch(src, [{"user_id": 1, "demo_int32__age": 30}])
    _write_json_batch(src, [{"user_id": 1, "demo_int32__age": 31}, {"user_id": 2, "demo_int32__age": 40}])

    fs = FeatureStore(spark, fixtures.user_registry(), str(tmp_path / "feat"))
    stream = (
        spark.readStream.schema("user_id long, demo_int32__age int")
        .json(src)
        .withColumn("schema_version", F.lit(1))
    )
    q = feature_upsert_sink(stream, fs, "user", str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)

    rows = {r["user_id"]: r["demo_int32__age"] for r in fs.load("user").collect()}
    assert rows[2] == 40
    assert rows[1] in (30, 31)  # both arrived in one availableNow batch; latest-wins window picked one


def test_stream_event_retention(spark, tmp_path):
    """SS3/SS5 batch-merge path: micro-batches merge + trim per (user, week)."""
    src = str(tmp_path / "ev_src")
    base = datetime(2024, 1, 1)
    _write_json_batch(
        src,
        [
            {"user_id": 1, "ts": base.replace(hour=h).isoformat(), "event_id": h, "value": 1.0}
            for h in range(6)
        ],
    )
    store = EventStore(ts_col="ts", max_per_week=3)
    state = str(tmp_path / "state")
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    q = stream_event_retention(
        stream, store, state, str(tmp_path / "ckpt2"), spark, trigger_once=True
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(state).collect()
    assert len(rows) == 3  # trimmed to top-3 in the week
    assert sorted(r["event_id"] for r in rows) == [3, 4, 5]  # newest

    # late batch: an out-of-order newer event displaces the oldest kept
    _write_json_batch(
        src,
        [{"user_id": 1, "ts": base.replace(hour=23).isoformat(), "event_id": 23, "value": 1.0}],
    )
    q2 = stream_event_retention(
        stream, store, state, str(tmp_path / "ckpt2"), spark, trigger_once=True
    )
    q2.awaitTermination(120)
    rows = spark.read.parquet(state).collect()
    assert sorted(r["event_id"] for r in rows) == [4, 5, 23]


def test_windowed_event_counts(spark, tmp_path):
    """SS3/SS4: tumbling window agg with watermark over a file stream."""
    src = str(tmp_path / "win_src")
    _write_json_batch(
        src,
        [
            {"user_id": 1, "ts": "2024-01-01T05:00:00", "event_id": 1, "value": 1.0},
            {"user_id": 1, "ts": "2024-01-02T05:00:00", "event_id": 2, "value": 1.0},
            {"user_id": 1, "ts": "2024-01-10T05:00:00", "event_id": 3, "value": 1.0},
        ],
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    agg = windowed_event_counts(stream, ts_col="ts", window="7 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from win_counts").collect()
    counts = sorted(r["n_events"] for r in rows)
    assert counts == [1, 2]  # two tumbling weeks


def test_stateful_top_events(spark, tmp_path):
    """SS5: applyInPandasWithState keeps per-user top-k across batches."""
    src = str(tmp_path / "topk_src")
    _write_json_batch(
        src,
        [{"user_id": 1, "ts_ms": t, "event_id": t} for t in [100, 200, 300, 400]],
    )
    stream = spark.readStream.schema("user_id long, ts_ms long, event_id long").json(src)
    topk = stateful_top_events(stream, k=2)
    q = (
        topk.writeStream.format("memory")
        .queryName("topk_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from topk_out").collect()
    kept = sorted(r["ts_ms"] for r in rows)
    assert kept == [300, 400]  # newest 2 survive


def test_streaming_embedding_aggregation(spark, tmp_path):
    """SS9: realtime embedding/payload aggregation — changed columns merge
    into the stored row, latest wins (skye scylla_aggregator.go:47),
    expressed as the same foreachBatch upsert over an embeddings entity."""
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
            "candidate",
            ["candidate_id"],
            {
                "emb": FeatureGroup(
                    "emb", 1, DataType.FP32_VECTOR,
                    {1: [Feature("vector", 0, vector_length=4)]},
                ),
                "payload": FeatureGroup(
                    "payload", 2, DataType.STRING, {1: [Feature("brand", 0, default="?")]}
                ),
            },
        )
    )
    fs = FeatureStore(spark, reg, str(tmp_path / "cand"))
    src = str(tmp_path / "emb_src")
    _write_json_batch(
        src,
        [
            {"candidate_id": 1, "emb__vector": [1.0, 0, 0, 0], "payload__brand": "a"},
            {"candidate_id": 1, "emb__vector": [0.0, 1, 0, 0], "payload__brand": "b"},
        ],
    )
    stream = spark.readStream.schema(
        "candidate_id long, emb__vector array<float>, payload__brand string"
    ).json(src)
    q = feature_upsert_sink(stream, fs, "candidate", str(tmp_path / "ck9"), trigger_once=True)
    q.awaitTermination(120)
    rows = fs.load("candidate").collect()
    assert len(rows) == 1  # latest-wins merged into one stored row
    assert rows[0]["payload__brand"] in ("a", "b")


def test_stream_dedup_sink_across_batches(spark, tmp_path):
    """Streaming exact dedup: intra-batch dups collapse, cross-batch dups
    never re-emit, state survives restart."""
    from bharatmlstack_spark.streaming.ingest import stream_dedup_sink

    src = str(tmp_path / "dd_src")
    state = str(tmp_path / "dd_state")
    out = str(tmp_path / "dd_out")

    _write_json_batch(
        src,
        [
            {"doc_id": 1, "text": "alpha beta"},
            {"doc_id": 2, "text": "alpha beta"},  # intra-batch dup of 1
            {"doc_id": 3, "text": "gamma"},
        ],
    )
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_dedup_sink(
        stream, state, out, str(tmp_path / "dd_ck1"), spark,
        content_col="text", id_col="doc_id", trigger_once=True,
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 3}  # lowest id wins the intra-batch tie

    # second run: a cross-batch dup (same text, new id) plus one novel doc
    _write_json_batch(
        src,
        [
            {"doc_id": 9, "text": "alpha beta"},  # seen in batch 1 -> dropped
            {"doc_id": 4, "text": "delta"},
        ],
    )
    stream2 = spark.readStream.schema("doc_id long, text string").json(src)
    q2 = stream_dedup_sink(
        stream2, state, out, str(tmp_path / "dd_ck1"), spark,
        content_col="text", id_col="doc_id", trigger_once=True,
    )
    q2.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 3, 4}  # 9 was suppressed by the fingerprint state


def test_attribution_join_stream_stream(spark, tmp_path):
    """Watermarked stream-stream interval join: conversions label the
    clicks inside their attribution window, later clicks don't match."""
    import json as _json
    from bharatmlstack_spark.streaming.ingest import attribution_join

    csrc, vsrc = str(tmp_path / "clicks"), str(tmp_path / "convs")
    base = "2024-01-01T10:{m:02d}:00.000Z"
    _write_json_batch(csrc, [
        {"user_id": 1, "click_ts": base.format(m=0), "click_id": 100},
        {"user_id": 1, "click_ts": base.format(m=30), "click_id": 101},
        {"user_id": 2, "click_ts": base.format(m=0), "click_id": 200},
    ])
    # user 1 converts at 10:45 -> both clicks inside 1h window; user 2 never converts
    _write_json_batch(vsrc, [
        {"user_id": 1, "conv_ts": "2024-01-01T10:45:00.000Z", "order_id": 900},
    ])
    clicks = spark.readStream.schema(
        "user_id long, click_ts timestamp, click_id long").json(csrc)
    convs = spark.readStream.schema(
        "user_id long, conv_ts timestamp, order_id long").json(vsrc)
    out = attribution_join(clicks, convs)
    q = (
        out.writeStream.format("memory").queryName("attr")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM attr").collect()
    assert {(r.user_id, r.click_id, r.order_id) for r in rows} == {
        (1, 100, 900), (1, 101, 900)
    }


def test_stream_dedup_sink_replay_idempotent(spark, tmp_path):
    """At-least-once replay safety: re-running a batch whose state commit
    already exists is a no-op — the same documents never append twice
    (output + state land in batch_id-keyed dirs; state is the commit
    marker, written last)."""
    from bharatmlstack_spark.streaming.ingest import stream_dedup_sink

    src = str(tmp_path / "rp_src")
    state = str(tmp_path / "rp_state")
    out = str(tmp_path / "rp_out")

    _write_json_batch(
        src, [{"doc_id": 1, "text": "alpha"}, {"doc_id": 2, "text": "beta"}]
    )
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_dedup_sink(
        stream, state, out, str(tmp_path / "rp_ck"), spark,
        content_col="text", id_col="doc_id", trigger_once=True,
    )
    q.awaitTermination(120)

    # simulate checkpoint replay: fresh checkpoint dir re-delivers batch 0
    stream2 = spark.readStream.schema("doc_id long, text string").json(src)
    q2 = stream_dedup_sink(
        stream2, state, out, str(tmp_path / "rp_ck_replay"), spark,
        content_col="text", id_col="doc_id", trigger_once=True,
    )
    q2.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2]  # no double append
    fps = spark.read.parquet(state).select("__fp").collect()
    assert len(fps) == 2


def test_skye_aggregator_sink_sparse_columns(spark, tmp_path):
    """S6: skye-shaped JSON payloads with SPARSE column maps — a payload
    carrying only the embedding must not null out a previously stored
    brand, and vice versa (changed-columns merge per row signature)."""
    import json

    from bharatmlstack_spark.registry import (
        DataType,
        Entity,
        Feature,
        FeatureGroup,
        SchemaRegistry,
    )
    from bharatmlstack_spark.streaming.ingest import (
        parse_embedding_payloads,
        skye_aggregator_sink,
    )

    reg = SchemaRegistry()
    reg.register(
        Entity(
            "candidate",
            ["candidate_id"],
            {
                "emb": FeatureGroup(
                    "emb", 1, DataType.FP32_VECTOR,
                    {1: [Feature("vector", 0, vector_length=4)]},
                ),
                "payload": FeatureGroup(
                    "payload", 2, DataType.STRING,
                    {1: [Feature("brand", 0, default="?")]},
                ),
            },
        )
    )
    fs = FeatureStore(spark, reg, str(tmp_path / "skye"), n_buckets=4)
    src = str(tmp_path / "skye_src")

    def payload(cid, columns):
        return json.dumps(
            {"entity": "candidate", "model": "m1", "candidate_id": str(cid),
             "columns": columns}
        )

    rows = [
        payload(1, {"emb__vector": "[1.0, 0.0, 0.0, 0.0]", "payload__brand": "acme"}),
        payload(2, {"payload__brand": "zeta"}),
    ]
    os.makedirs(src, exist_ok=True)
    with open(f"{src}/b0.json", "w") as f:
        f.write("\n".join(json.dumps({"value": r}) for r in rows))

    stream = spark.readStream.schema("value string").json(src)
    parsed = parse_embedding_payloads(stream, reg, "candidate")
    q = skye_aggregator_sink(parsed, fs, "candidate", str(tmp_path / "skye_ck"), trigger_once=True)
    q.awaitTermination(120)

    # second batch: embedding-only update for candidate 1 must keep brand
    with open(f"{src}/b1.json", "w") as f:
        f.write(json.dumps({"value": payload(1, {"emb__vector": "[0.0, 2.0, 0.0, 0.0]"})}))
    q2 = skye_aggregator_sink(parsed, fs, "candidate", str(tmp_path / "skye_ck"), trigger_once=True)
    q2.awaitTermination(120)

    got = {r["candidate_id"]: r for r in fs.load("candidate").collect()}
    assert got[1]["payload__brand"] == "acme"  # untouched by sparse update
    assert got[1]["emb__vector"] == [0.0, 2.0, 0.0, 0.0]  # updated
    assert got[2]["payload__brand"] == "zeta"
    assert got[2]["emb__vector"] is None  # never provided


def test_stream_cdc_sink_guard_and_tombstones(spark, tmp_path):
    """Adversarial micro-batch ordering: batch 1 delivers a key's NEWEST
    change (a delete), batch 2 its stale older update — the seq guard
    must drop the stale row and the tombstone must keep the key dead.
    Then the whole topic redelivers (fresh checkpoint): state unchanged."""
    from bharatmlstack_spark.streaming.ingest import stream_cdc_sink

    state = str(tmp_path / "cdcstate")
    topic = str(tmp_path / "cdctopic")
    snap = spark.createDataFrame([(1, 100), (2, 200)], "user_id long, bal long")
    snap.withColumn("__op", F.lit("U")).withColumn(
        "__last_seq", F.lit(None).cast("long")
    ).write.parquet(state)

    schema = "user_id long, seq long, op string, bal long"
    # file order == micro-batch order (maxFilesPerTrigger=1 reads in
    # listing order; one explicit file per batch)
    b1 = spark.createDataFrame(
        [(1, 20, "D", 0), (3, 21, "U", 333)], schema
    )  # delete user 1 at seq 20; insert user 3
    b2 = spark.createDataFrame(
        [(1, 10, "U", 111), (3, 5, "U", 999)], schema
    )  # STALE rows for both: must lose to the guard
    b1.coalesce(1).write.parquet(f"{topic}/f=a")
    b2.coalesce(1).write.parquet(f"{topic}/f=b")

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{topic}/f=*")
        )
        q = stream_cdc_sink(
            stream, state, str(tmp_path / ckpt), spark,
            key_cols=["user_id"], trigger_once=True,
        )
        q.awaitTermination(300)

    run("ck1")
    live = lambda: {  # noqa: E731
        (r.user_id, r.bal)
        for r in spark.read.parquet(state).filter(F.col("__op") != "D").collect()
    }
    first = live()
    assert first == {(2, 200), (3, 333)}  # 1 deleted, stale rows rejected
    run("ck2")  # full redelivery: idempotent
    assert live() == first


def test_stream_cdc_sink_bucketed_rewrites_only_touched_buckets(spark, tmp_path):
    """n_buckets mode: a micro-batch must rewrite ONLY the bucket
    directories its keys hash into (dynamic partition overwrite +
    bucket-pruned guard/merge) — untouched buckets keep their exact
    files. Results equal flat mode."""
    import os

    from bharatmlstack_spark.streaming.ingest import seed_cdc_state, stream_cdc_sink

    snap = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 41)], "user_id long, bal long"
    )
    schema = "user_id long, seq long, op string, bal long"
    batch = spark.createDataFrame([(1, 5, "U", 111), (2, 6, "D", 0)], schema)

    states = {}
    for mode, nb in (("flat", None), ("bucketed", 8)):
        state = str(tmp_path / f"state_{mode}")
        topic = str(tmp_path / f"topic_{mode}")
        seed_cdc_state(snap, state, key_cols=["user_id"], n_buckets=nb)
        batch.coalesce(1).write.parquet(topic)

        if nb:
            listing = {
                d: sorted(os.listdir(f"{state}/{d}"))
                for d in os.listdir(state)
                if d.startswith("__kb=")
            }

        stream = spark.readStream.schema(schema).parquet(topic)
        q = stream_cdc_sink(
            stream, state, str(tmp_path / f"ck_{mode}"), spark,
            key_cols=["user_id"], trigger_once=True,
        )
        q.awaitTermination(300)

        df = spark.read.parquet(state)
        states[mode] = {
            (r["user_id"], r["bal"], r["__op"], r["__last_seq"]) for r in
            df.select("user_id", "bal", "__op", "__last_seq").collect()
        }
        if nb:
            from pyspark.sql import functions as FF
            touched = {
                r[0] for r in batch.select(
                    FF.pmod(FF.xxhash64("user_id"), FF.lit(nb)).alias("b")
                ).distinct().collect()
            }
            after = {
                d: sorted(os.listdir(f"{state}/{d}"))
                for d in os.listdir(state)
                if d.startswith("__kb=")
            }
            for d, files in listing.items():
                b = int(d.split("=")[1])
                if b not in touched:
                    assert after[d] == files, f"untouched bucket {d} rewritten"
                else:
                    assert after[d] != files, f"touched bucket {d} not rewritten"
    assert states["flat"] == states["bucketed"]
    # delete is a tombstone row, update applied
    live = {(u, b) for (u, b, op, _s) in states["bucketed"] if op != "D"}
    assert (1, 111) in live and all(u != 2 for u, _ in live)


def test_compact_cdc_state_tombstone_gc(spark, tmp_path):
    """Tombstones at or below the committed watermark are physically
    dropped (no change with seq <= watermark can ever arrive again);
    tombstones above it stay — they still guard against stale-update
    resurrection. Live rows never touched. Both layouts."""
    from bharatmlstack_spark.streaming.ingest import (
        compact_cdc_state,
        seed_cdc_state,
        stream_cdc_sink,
    )

    schema = "user_id long, seq long, op string, bal long"
    snap = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 20)], "user_id long, bal long"
    )
    # delete user 1 at seq 5 (old, below watermark) and user 2 at seq 50
    batch = spark.createDataFrame(
        [(1, 5, "D", 0), (2, 50, "D", 0), (3, 7, "U", 333)], schema
    )
    for mode, nb in (("flat", None), ("bucketed", 4)):
        state = str(tmp_path / f"gc_state_{mode}")
        topic = str(tmp_path / f"gc_topic_{mode}")
        seed_cdc_state(snap, state, key_cols=["user_id"], n_buckets=nb)
        batch.coalesce(1).write.parquet(topic)
        stream = spark.readStream.schema(schema).parquet(topic)
        q = stream_cdc_sink(
            stream, state, str(tmp_path / f"gc_ck_{mode}"), spark,
            key_cols=["user_id"], trigger_once=True,
        )
        q.awaitTermination(300)

        removed = compact_cdc_state(spark, state, watermark_seq=10)
        assert removed == 1  # user 1's tombstone (seq 5 <= 10); user 2's stays
        rows = {
            (r["user_id"], r["__op"]) for r in
            spark.read.parquet(state).select("user_id", "__op").collect()
        }
        assert (1, "D") not in rows and (2, "D") in rows and (3, "U") in rows
        assert len(rows) == 18  # 16 untouched + updated 3 + tombstone 2
        # idempotent: nothing left to reclaim at the same watermark
        assert compact_cdc_state(spark, state, 10) == 0


def test_stream_cdc_sink_bootstrap_from_empty_snapshot(spark, tmp_path):
    """Bootstrapping a table purely from the change stream: an EMPTY
    bucketed seed must stay readable (flat zero-row file), convert to
    the real bucket layout on the first batch, and keep working on the
    second — the layout is read from the sidecar, never passed."""
    import os

    from bharatmlstack_spark.streaming.ingest import seed_cdc_state, stream_cdc_sink

    schema = "user_id long, seq long, op string, bal long"
    state = str(tmp_path / "boot_state")
    empty = spark.createDataFrame([], "user_id long, bal long")
    seed_cdc_state(empty, state, key_cols=["user_id"], n_buckets=4)
    assert spark.read.parquet(state).count() == 0  # readable bootstrap

    for i, rows in enumerate(
        ([(1, 10, "U", 111), (2, 11, "U", 222)], [(3, 20, "U", 333), (1, 21, "D", 0)])
    ):
        topic = str(tmp_path / f"boot_topic{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(topic)
        stream = spark.readStream.schema(schema).parquet(topic)
        q = stream_cdc_sink(
            stream, state, str(tmp_path / f"boot_ck{i}"), spark,
            key_cols=["user_id"], trigger_once=True,
        )
        q.awaitTermination(300)

    assert any(d.startswith("__kb=") for d in os.listdir(state))  # real layout now
    live = {
        (r["user_id"], r["bal"]) for r in
        spark.read.parquet(state).filter(F.col("__op") != "D").collect()
    }
    assert live == {(2, 222), (3, 333)}  # user 1 inserted then deleted


def _neardup_docs():
    """12-word base docs: an exact copy (J=1.0), a one-word-suffix near
    copy (10 shared / 11 union 3-shingles -> J~0.91), and unrelated
    text. Pairs expected at threshold 0.8: (1,2), (1,3), (2,3)."""
    base = "the quick brown fox jumps over the lazy dog near the river"
    return [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base},                  # exact copy
        {"doc_id": 3, "text": base + " today"},       # near copy
        {"doc_id": 4, "text": "completely different words about spark shuffles and parquet files here"},
    ]


def _neardup_pairs(spark, out):
    return {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(out).dropDuplicates(["id_a", "id_b"]).collect()
    }


def test_stream_neardup_minhash_cross_batch(spark, tmp_path):
    """Near-dup pairs spanning micro-batches are found when the LATER doc
    arrives (probe of the accumulated band index), intra-batch pairs via
    the band self-join, and the deduped union equals the one-shot batch
    LSH pair set."""
    from bharatmlstack_spark.operators.dedup import minhash_lsh_dedup_pairs
    from bharatmlstack_spark.streaming.ingest import stream_neardup_minhash_sink

    docs = _neardup_docs()
    src = str(tmp_path / "nd_src")
    state, out = str(tmp_path / "nd_state"), str(tmp_path / "nd_out")
    # batch 1: docs 1+4 (no pair); batch 2: docs 2+3 (intra pair 2-3,
    # cross pairs 1-2 and 1-3 discovered on arrival)
    _write_json_batch(src, [docs[0], docs[3]])
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state, out, str(tmp_path / "nd_ck"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
    )
    q.awaitTermination(120)
    assert _neardup_pairs(spark, out) == set()

    _write_json_batch(src, [docs[1], docs[2]])
    stream2 = spark.readStream.schema("doc_id long, text string").json(src)
    q2 = stream_neardup_minhash_sink(
        stream2, state, out, str(tmp_path / "nd_ck"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
    )
    q2.awaitTermination(120)
    got = _neardup_pairs(spark, out)
    assert got == {(1, 2), (1, 3), (2, 3)}

    # one-shot batch pipeline over the same corpus == streamed union
    full = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
    )
    batch = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_dedup_pairs(
            full, id_col="doc_id", text_col="text", threshold=0.8
        ).collect()
    }
    assert got == batch


def test_stream_neardup_minhash_replay_and_partial_state(spark, tmp_path):
    """At-least-once redelivery only DUPLICATES emissions (deduped readout
    unchanged), and the sets-before-bands append order means the worst
    crash state — sets appended, bands missing — recovers by replay
    without wedging or losing pairs."""
    import shutil

    from bharatmlstack_spark.streaming.ingest import stream_neardup_minhash_sink

    docs = _neardup_docs()
    src = str(tmp_path / "rp_src")
    state, out = str(tmp_path / "rp_state"), str(tmp_path / "rp_out")
    _write_json_batch(src, docs[:2])
    _write_json_batch(src, docs[2:])

    def run(ck):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_neardup_minhash_sink(
            stream, state, out, str(tmp_path / ck), spark,
            id_col="doc_id", text_col="text", trigger_once=True,
        )
        q.awaitTermination(120)

    run("rp_ck1")
    assert _neardup_pairs(spark, out) == {(1, 2), (1, 3), (2, 3)}

    # full redelivery under a fresh checkpoint: re-emits, never invents
    run("rp_ck2")
    assert _neardup_pairs(spark, out) == {(1, 2), (1, 3), (2, 3)}

    # crash simulation: bands append never happened (sets write first, so
    # this is the only possible partial state) -> the batch is uncommitted
    # and redelivers; the stream must neither raise nor miss pairs
    shutil.rmtree(f"{state}/bands")
    run("rp_ck3")
    assert _neardup_pairs(spark, out) == {(1, 2), (1, 3), (2, 3)}


def test_stream_cdc_sink_meta_loss_recovers_or_fails_loudly(
    spark, tmp_path, monkeypatch
):
    """The bootstrap conversion's root commit stages the sidecar with the
    '__kb' dirs: a conversion killed mid-swap is finished by the next
    batch with the bucket count kept. A bucketed state that lost its
    sidecar some other way must refuse to run (never silently
    flatten)."""
    import os

    from bharatmlstack_spark import tablecommit
    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        read_table_meta,
    )
    from bharatmlstack_spark.streaming.ingest import seed_cdc_state, stream_cdc_sink
    from bharatmlstack_spark.tablecommit import BUCKET_MARKER_SUFFIX, ROOT_STAGE_SUFFIX

    schema = "user_id long, seq long, op string, bal long"
    snap = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 10)], "user_id long, bal long"
    )

    def deliver(state, rows, topic, ck):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(topic))
        stream = spark.readStream.schema(schema).parquet(str(topic))
        q = stream_cdc_sink(
            stream, state, str(ck), spark, key_cols=["user_id"], trigger_once=True,
        )
        q.awaitTermination(300)

    # recovery path: an empty-seeded state's conversion killed after the
    # flat bootstrap root went aside, before the stage was renamed in
    state = str(tmp_path / "ml_state")
    seed_cdc_state(snap.limit(0), state, key_cols=["user_id"], n_buckets=4)
    real = tablecommit._rename

    def failing(spark_, src, dst):
        if dst == state:
            raise RuntimeError("killed mid-swap")
        return real(spark_, src, dst)

    with monkeypatch.context() as m:
        m.setattr(tablecommit, "_rename", failing)
        with pytest.raises(Exception):
            deliver(state, [(1, 10, "U", 111)], tmp_path / "ml_t0", tmp_path / "ml_c0")
    assert os.path.exists(state + BUCKET_MARKER_SUFFIX)
    assert read_table_meta(spark, state + ROOT_STAGE_SUFFIX)["n_buckets"] == 4
    # the redelivered batch finishes the commit, then no-ops on its seq
    deliver(state, [(1, 10, "U", 111)], tmp_path / "ml_t1", tmp_path / "ml_c1")
    deliver(state, [(2, 11, "U", 222)], tmp_path / "ml_t1b", tmp_path / "ml_c1b")
    assert read_table_meta(spark, state)["n_buckets"] == 4
    assert any(d.startswith("__kb=") for d in os.listdir(state))
    got = {(r["user_id"], r["bal"]) for r in spark.read.parquet(state).collect()}
    assert got == {(1, 111), (2, 222)}  # both batches applied, layout kept

    # fail-loud path: meta gone
    state2 = str(tmp_path / "ml_state2")
    seed_cdc_state(snap, state2, key_cols=["user_id"], n_buckets=4)
    deliver(state2, [(1, 10, "U", 111)], tmp_path / "ml_t2", tmp_path / "ml_c2")
    os.remove(os.path.join(state2, TABLE_META_FILE))
    with pytest.raises(Exception, match="refusing to silently flatten"):
        deliver(state2, [(2, 11, "U", 222)], tmp_path / "ml_t3", tmp_path / "ml_c3")


def test_stream_ann_ivf_sink_matches_batch_index(spark, tmp_path):
    """A stream-built IVF index (frozen quantizer, cell-assign + append
    per batch) equals the one-shot batch index after id-dedup, survives
    full redelivery, and search over it returns the batch search's
    results."""
    import numpy as np

    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        read_streamed_ivf_index,
        stream_ann_ivf_sink,
    )

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    idx = IvfIndex(n_cells=4).fit(emb, sample_size=64, iters=3)

    topic = str(tmp_path / "ivf_topic")
    index_path = str(tmp_path / "ivf_index")
    emb.repartition(3).write.parquet(topic)

    def run(ck):
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_ann_ivf_sink(
            stream, idx, index_path, str(tmp_path / ck), spark, trigger_once=True,
        )
        q.awaitTermination(120)

    run("ivf_ck1")
    streamed = {
        (r.vec_id, r.cell)
        for r in read_streamed_ivf_index(spark, index_path).collect()
    }
    batch = {(r.vec_id, r.cell) for r in idx.index(emb).collect()}
    assert streamed == batch

    # full redelivery doubles the raw rows but not the deduped index
    run("ivf_ck2")
    assert spark.read.parquet(index_path).count() == 2 * len(batch)
    streamed2 = {
        (r.vec_id, r.cell)
        for r in read_streamed_ivf_index(spark, index_path).collect()
    }
    assert streamed2 == batch

    # search parity: streamed index answers == batch index answers
    queries = spark.createDataFrame(
        [(100, vecs[0][1])], "query_id long, query_embedding array<float>"
    )
    got = [
        (r.query_id, r.vec_id)
        for r in idx.search(
            read_streamed_ivf_index(spark, index_path), queries, k=5, nprobe=2
        ).collect()
    ]
    want = [
        (r.query_id, r.vec_id)
        for r in idx.search(idx.index(emb), queries, k=5, nprobe=2).collect()
    ]
    assert got == want and len(got) == 5


def test_stream_neardup_minhash_bucketed_state_equals_flat(spark, tmp_path):
    """state_buckets opts into hash-bucket-partitioned state (the 100 TB
    probe-pruning layout): same topic, same batches — the bucketed run's
    deduped pair set and jaccard values must equal the default flat
    run's, and the state dirs must actually be partitioned."""
    import os

    from bharatmlstack_spark.streaming.ingest import stream_neardup_minhash_sink

    docs = _neardup_docs()

    def run(tag, **kw):
        src = str(tmp_path / f"{tag}_src")
        state, out = str(tmp_path / f"{tag}_state"), str(tmp_path / f"{tag}_out")
        _write_json_batch(src, [docs[0], docs[3]])
        s = spark.readStream.schema("doc_id long, text string").json(src)
        stream_neardup_minhash_sink(
            s, state, out, str(tmp_path / f"{tag}_ck"), spark,
            id_col="doc_id", text_col="text", trigger_once=True, **kw,
        ).awaitTermination(120)
        _write_json_batch(src, [docs[1], docs[2]])
        s2 = spark.readStream.schema("doc_id long, text string").json(src)
        stream_neardup_minhash_sink(
            s2, state, out, str(tmp_path / f"{tag}_ck"), spark,
            id_col="doc_id", text_col="text", trigger_once=True, **kw,
        ).awaitTermination(120)
        rows = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in spark.read.parquet(out)
            .dropDuplicates(["id_a", "id_b"])
            .collect()
        }
        return rows, state

    flat, flat_state = run("flat")
    # default bucketed = HYBRID: fat shingle store partitioned, thin
    # band index flat (band pruning only bites when batch x bands <
    # buckets; its per-dir append tax never amortizes at small batches)
    hyb, hyb_state = run("hyb", state_buckets=8)
    # bucket_bands=True additionally partitions the band index
    buck, buck_state = run("buck", state_buckets=8, bucket_bands=True)
    assert hyb == flat and buck == flat and set(flat) == {(1, 2), (1, 3), (2, 3)}
    # layouts really differ
    assert not any(
        d.startswith("__kb=") for d in os.listdir(f"{flat_state}/bands")
    )
    assert not any(
        d.startswith("__kb=") for d in os.listdir(f"{flat_state}/sets")
    )
    assert any(d.startswith("__kb=") for d in os.listdir(f"{hyb_state}/sets"))
    assert not any(
        d.startswith("__kb=") for d in os.listdir(f"{hyb_state}/bands")
    )
    assert any(d.startswith("__kb=") for d in os.listdir(f"{buck_state}/bands"))
    assert any(d.startswith("__kb=") for d in os.listdir(f"{buck_state}/sets"))


def test_stream_neardup_flat_to_bucketed_migrates_state(spark, tmp_path):
    """A near-dup state's layout is fixed when it is created: a bucketed
    run against a FLAT state is refused, naming the one migration path,
    rebucket_neardup_state; after it, the bucketed run appends into the
    migrated roots, never __kb= dirs beside flat files (spark.read.parquet
    over such a mixed root silently returns only the partitioned rows —
    flat-era docs would vanish from the band index and cross-era pairs
    would be missed)."""
    import os

    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        rebucket_neardup_state,
        stream_neardup_minhash_sink,
    )
    from bharatmlstack_spark.tablecommit import ROOT_STAGE_SUFFIX

    docs = _neardup_docs()
    src = str(tmp_path / "mg_src")
    state, out = str(tmp_path / "mg_state"), str(tmp_path / "mg_out")

    def run(ck, **kw):
        s = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_neardup_minhash_sink(
            s, state, out, str(tmp_path / ck), spark,
            id_col="doc_id", text_col="text", trigger_once=True, **kw,
        )
        await_stream(q, 120, f"near-dup sink ({ck})")

    def partitioned(root):
        return any(d.startswith("__kb=") for d in os.listdir(f"{state}/{root}"))

    # batch 1 under the FLAT layout: doc 1 (pair-bearing) + doc 4
    _write_json_batch(src, [docs[0], docs[3]])
    run("mg_ck1")
    assert not partitioned("bands")

    # batch 2 asks for the fully-bucketed layout: refused before any
    # append, the flat roots untouched
    _write_json_batch(src, [docs[1], docs[2]])
    with pytest.raises(Exception, match="rebucket_neardup_state"):
        run("mg_ck2", state_buckets=8, bucket_bands=True)
    assert not partitioned("bands") and not partitioned("sets")

    # a crashed earlier rewrite left a PARTIAL stage (no _SUCCESS, no
    # commit marker): it must be discarded, never adopted
    stage = f"{state}/bands{ROOT_STAGE_SUFFIX}"
    os.makedirs(stage, exist_ok=True)
    with open(f"{stage}/part-junk.parquet", "w") as f:
        f.write("partial")

    # the one migration path, then the bucketed run appends
    rebucket_neardup_state(spark, state, 8, bucket_bands=True)
    run("mg_ck2", state_buckets=8, bucket_bands=True)

    # cross-era pairs (1,2) and (1,3) prove doc 1's flat-era bands and
    # shingle set survived the switch
    assert _neardup_pairs(spark, out) == {(1, 2), (1, 3), (2, 3)}
    bands_ls = os.listdir(f"{state}/bands")
    assert any(d.startswith("__kb=") for d in bands_ls)
    assert not any(d.endswith(".parquet") for d in bands_ls)  # no mixing
    assert not os.path.exists(stage)
    sets_ls = os.listdir(f"{state}/sets")
    assert any(d.startswith("__kb=") for d in sets_ls)
    assert not any(d.endswith(".parquet") for d in sets_ls)


def test_stream_neardup_bucketed_state_refuses_degrade_and_recount(spark, tmp_path):
    """A bucketed near-dup state refuses (a) a flat run — flat appends
    would create the silent-loss mixed root — and (b) a DIFFERENT bucket
    count — pmod pruning with the new count against dirs hashed with the
    old one would drop true candidates."""
    from bharatmlstack_spark.streaming.ingest import stream_neardup_minhash_sink

    docs = _neardup_docs()
    src = str(tmp_path / "rd_src")
    state, out = str(tmp_path / "rd_state"), str(tmp_path / "rd_out")

    def run(ck, **kw):
        s = spark.readStream.schema("doc_id long, text string").json(src)
        stream_neardup_minhash_sink(
            s, state, out, str(tmp_path / ck), spark,
            id_col="doc_id", text_col="text", trigger_once=True, **kw,
        ).awaitTermination(120)

    _write_json_batch(src, [docs[0], docs[3]])
    run("rd_ck1", state_buckets=8)

    _write_json_batch(src, [docs[1], docs[2]])
    with pytest.raises(Exception, match="refusing to degrade"):
        run("rd_ck2")
    with pytest.raises(Exception, match="state_buckets=8"):
        run("rd_ck3", state_buckets=4)
    # band-layout flag is sticky too: the state was created hybrid
    # (bucket_bands=False), a fully-bucketed run must refuse
    with pytest.raises(Exception, match="bucket_bands=False"):
        run("rd_ck3b", state_buckets=8, bucket_bands=True)

    # the correct parameters still work after the refused attempts
    run("rd_ck4", state_buckets=8)
    assert _neardup_pairs(spark, out) == {(1, 2), (1, 3), (2, 3)}


def test_stream_semantic_dedup_matches_batch_cells(spark, tmp_path):
    """Streaming SemDeDup (staged tier): the union of per-batch emissions
    equals the one-shot batch same-cell pair set under the SAME frozen
    quantizer — intra-batch pairs via the cell self-join, cross-batch
    pairs via the targeted-dir probe of the accumulated cell-partitioned
    index — and full redelivery only duplicates rows."""
    import numpy as np

    from bharatmlstack_spark.functions.vector import cosine_similarity
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        read_streamed_ivf_index,
        stream_semantic_dedup_sink,
    )

    rng = np.random.default_rng(11)
    schema = "vec_id long, embedding array<float>"
    base = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    dups = [(100 + i, base[i][1]) for i in range(6)]  # exact copies
    batch1 = base[:20] + dups[:2]  # dups of 0,1 arrive WITH their originals
    batch2 = base[20:] + dups[2:]  # dups of 2..5 arrive a batch LATER
    full = spark.createDataFrame(batch1 + batch2, schema)
    idx = IvfIndex(n_cells=4).fit(
        spark.createDataFrame(base, schema), sample_size=64, iters=3
    )

    topic = str(tmp_path / "sd_topic")
    index_path, out = str(tmp_path / "sd_index"), str(tmp_path / "sd_out")

    def run(ck):
        stream = spark.readStream.schema(schema).parquet(topic)
        q = stream_semantic_dedup_sink(
            stream, idx, index_path, out, str(tmp_path / ck), spark,
            threshold=0.99, trigger_once=True,
        )
        q.awaitTermination(120)

    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(topic)
    run("sd_ck")
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(topic)
    run("sd_ck")  # same checkpoint: only the new file is a batch

    def readout():
        return {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(out)
            .dropDuplicates(["id_a", "id_b"])
            .collect()
        }

    got = readout()

    # one-shot batch form under the SAME frozen quantizer
    cells = idx.index(full)
    a = cells.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"), "cell"
    )
    b = cells.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"), "cell"
    )
    want = {
        (r.id_a, r.id_b)
        for r in a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity("emb_a", "emb_b"))
        .filter(F.col("cosine") >= 0.99)
        .collect()
    }
    assert got == want
    assert {(i, 100 + i) for i in range(6)} <= got  # every injected dup found

    # full redelivery under a fresh checkpoint: re-emits, never invents;
    # the shared index state stays search-identical after id-dedup
    n_index_rows = spark.read.parquet(index_path).count()
    run("sd_ck2")
    assert readout() == got
    assert spark.read.parquet(index_path).count() == 2 * n_index_rows
    assert read_streamed_ivf_index(spark, index_path).count() == n_index_rows


def test_compact_streamed_index_once_not_per_read(spark, tmp_path):
    """compact_streamed_index physically drops redelivery duplicates from
    the cell-partitioned IVF state: the search-visible frame is identical
    pre/post, a post-compaction dedup=False read equals the dedup=True
    read, and a second compaction is a zero-write no-op (detection pass
    only)."""
    import numpy as np

    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        compact_streamed_index,
        read_streamed_ivf_index,
        stream_ann_ivf_sink,
    )

    rng = np.random.default_rng(7)
    schema = "vec_id long, embedding array<float>"
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    df = spark.createDataFrame(vecs, schema)
    idx = IvfIndex(n_cells=4).fit(df, sample_size=64, iters=3)

    topic = str(tmp_path / "ci_topic")
    index_path = str(tmp_path / "ci_index")
    df.repartition(2).write.parquet(topic)
    for ck in ("ci_ck1", "ci_ck2"):  # second pass = full redelivery
        stream = spark.readStream.schema(schema).parquet(topic)
        q = stream_ann_ivf_sink(
            stream, idx, index_path, str(tmp_path / ck), spark,
            trigger_once=True,
        )
        q.awaitTermination(120)

    def searchable():
        return {
            (r.vec_id, r.cell)
            for r in read_streamed_ivf_index(spark, index_path).collect()
        }

    before = searchable()
    assert spark.read.parquet(index_path).count() == 2 * len(before)

    removed = compact_streamed_index(spark, index_path)
    assert removed == len(before)
    assert spark.read.parquet(index_path).count() == len(before)
    assert searchable() == before
    # post-compaction the hot path may skip the per-read dedup shuffle
    assert {
        (r.vec_id, r.cell)
        for r in read_streamed_ivf_index(
            spark, index_path, dedup=False
        ).collect()
    } == before
    # steady state: detection finds nothing, no rewrite
    assert compact_streamed_index(spark, index_path) == 0


def test_compact_neardup_state_preserves_pairs_and_layout(spark, tmp_path):
    """compact_neardup_state reclaims redelivery duplicates from BOTH
    near-dup roots (hybrid default: sets __kb-partitioned, bands flat)
    without changing the sink's behavior: a later batch still finds its
    cross-batch pairs, and the sets root keeps its partitioned layout."""
    from bharatmlstack_spark.streaming.ingest import (
        compact_neardup_state,
        stream_neardup_minhash_sink,
    )

    docs = _neardup_docs()
    src = str(tmp_path / "cn_src")
    state, out = str(tmp_path / "cn_state"), str(tmp_path / "cn_out")
    _write_json_batch(src, [docs[0], docs[3]])

    def run(ck):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_neardup_minhash_sink(
            stream, state, out, str(tmp_path / ck), spark,
            id_col="doc_id", text_col="text", trigger_once=True,
            state_buckets=8,
        )
        q.awaitTermination(120)

    run("cn_ck1")
    run("cn_ck2")  # fresh checkpoint: full redelivery duplicates the state

    sets_before = spark.read.parquet(f"{state}/sets").count()
    stats = compact_neardup_state(spark, state)
    assert stats["sets_removed"] == sets_before // 2
    assert stats["bands_removed"] > 0
    assert spark.read.parquet(f"{state}/sets").count() == sets_before // 2
    # layout preserved: the sets root is still __kb= partitioned
    assert any(
        p.name.startswith("__kb=")
        for p in (tmp_path / "cn_state" / "sets").iterdir()
    )
    # steady state no-op
    stats2 = compact_neardup_state(spark, state)
    assert stats2 == {"sets_removed": 0, "bands_removed": 0}

    # the compacted state still serves the probe: docs 2+3 arrive later,
    # all three pairs (intra + cross) are found
    _write_json_batch(src, [docs[1], docs[2]])
    run("cn_ck2")  # same src dir, new files only under a reused name is
    # a fresh checkpoint again -> replays everything; dedup readout below
    assert _neardup_pairs(spark, out) == {(1, 2), (1, 3), (2, 3)}


def test_compact_neardup_state_legacy_sidecar_keeps_band_layout(
    spark, tmp_path
):
    """A LEGACY sidecar (n_buckets recorded, no bucket_bands key — the
    pre-hybrid era bucketed BOTH roots) must compact the band root
    PARTITIONED: sink and compactor resolve the layout with the same
    helper, so the compactor can never rewrite a __kb= band root flat
    (which would strand the state — the sink refuses mixed layouts)."""
    import json

    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        hadoop_write_text_atomic,
    )
    from bharatmlstack_spark.streaming.ingest import (
        compact_neardup_state,
        stream_neardup_minhash_sink,
    )

    docs = _neardup_docs()
    src = str(tmp_path / "lg_src")
    state, out = str(tmp_path / "lg_state"), str(tmp_path / "lg_out")
    _write_json_batch(src, [docs[0], docs[3]])

    def run(ck):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_neardup_minhash_sink(
            stream, state, out, str(tmp_path / ck), spark,
            id_col="doc_id", text_col="text", trigger_once=True,
            state_buckets=8, bucket_bands=True,
        )
        q.awaitTermination(120)

    run("lg_ck1")
    run("lg_ck2")  # full redelivery: duplicates in both roots

    # rewrite the sidecar to the legacy form: n_buckets only
    hadoop_write_text_atomic(
        spark, f"{state}/{TABLE_META_FILE}", json.dumps({"n_buckets": 8})
    )
    stats = compact_neardup_state(spark, state)
    assert stats["sets_removed"] > 0 and stats["bands_removed"] > 0
    # the band root is STILL __kb= partitioned — the compactor resolved
    # the legacy sidecar as both-roots-bucketed, exactly like the sink
    assert any(
        p.name.startswith("__kb=")
        for p in (tmp_path / "lg_state" / "bands").iterdir()
    )
    # and the sink still accepts the state (no mixed-layout refusal)
    _write_json_batch(src, [docs[1], docs[2]])
    run("lg_ck2")
    assert _neardup_pairs(spark, out) == {(1, 2), (1, 3), (2, 3)}


def test_rebucket_neardup_state_grows_buckets(spark, tmp_path):
    """rebucket_neardup_state: the sets/bands sibling of the IVF refit —
    both roots rewritten under a new bucket count (dedup folded in), the
    sidecar re-recorded so the OLD count now raises and the NEW count
    continues, and the sink still finds its cross-batch pairs against
    the migrated state."""
    import pytest

    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import (
        rebucket_neardup_state,
        stream_neardup_minhash_sink,
    )

    docs = _neardup_docs()
    src = str(tmp_path / "rb_src")
    state, out = str(tmp_path / "rb_state"), str(tmp_path / "rb_out")
    _write_json_batch(src, [docs[0], docs[3]])

    def run(ck, buckets):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_neardup_minhash_sink(
            stream, state, out, str(tmp_path / ck), spark,
            id_col="doc_id", text_col="text", trigger_once=True,
            state_buckets=buckets,
        )
        q.awaitTermination(120)

    run("rb_ck1", 4)
    run("rb_ck2", 4)  # full redelivery: duplicates to fold into the rewrite

    sets_distinct = spark.read.parquet(f"{state}/sets").dropDuplicates(["id"]).count()
    stats = rebucket_neardup_state(spark, state, 16)
    assert stats["old_buckets"] == 4 and stats["new_buckets"] == 16
    assert stats["sets_rows"] == sets_distinct  # dedup folded in
    assert stats["rows_removed"] > 0
    meta = read_table_meta(spark, state)
    assert meta["n_buckets"] == 16
    # every row landed in its NEW derivation's bucket dir
    sets = spark.read.parquet(f"{state}/sets")
    assert sets.filter(
        F.col("__kb") != F.pmod(F.xxhash64("id"), F.lit(16))
    ).count() == 0

    # the old count is refused (it would mis-hash probes)...
    with pytest.raises(Exception, match="state_buckets"):
        run("rb_ck_old", 4)
    # ...and the new count continues: later docs find all cross pairs
    _write_json_batch(src, [docs[1], docs[2]])
    run("rb_ck3", 16)
    assert _neardup_pairs(spark, out) == {(1, 2), (1, 3), (2, 3)}


def test_rebucket_neardup_state_migrates_flat_and_buckets_bands(
    spark, tmp_path
):
    """A FLAT state (created without state_buckets) migrates into the
    bucketed layout in bulk — including the band root when
    bucket_bands=True — and the sink picks the new layout up from the
    sidecar."""
    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import (
        rebucket_neardup_state,
        stream_neardup_minhash_sink,
    )

    docs = _neardup_docs()
    src = str(tmp_path / "rf2_src")
    state, out = str(tmp_path / "rf2_state"), str(tmp_path / "rf2_out")
    _write_json_batch(src, [docs[0], docs[3]])
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state, out, str(tmp_path / "rf2_ck1"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
    )  # flat layout: no state_buckets
    q.awaitTermination(120)

    stats = rebucket_neardup_state(spark, state, 8, bucket_bands=True)
    assert stats["old_buckets"] is None and stats["new_buckets"] == 8
    meta = read_table_meta(spark, state)
    assert meta["n_buckets"] == 8 and meta["bucket_bands"] is True
    # BOTH roots are now __kb= partitioned
    for root in ("sets", "bands"):
        assert any(
            p.name.startswith("__kb=")
            for p in (tmp_path / "rf2_state" / root).iterdir()
        ), root

    _write_json_batch(src, [docs[1], docs[2]])
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state, out, str(tmp_path / "rf2_ck2"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
        state_buckets=8, bucket_bands=True,
    )
    q.awaitTermination(120)
    assert _neardup_pairs(spark, out) == {(1, 2), (1, 3), (2, 3)}


@pytest.mark.parametrize(
    "layout",
    ["flat", "hybrid", "bucketed_bands"],
)
def test_cross_dedup_against_state_matches_both_sides_form(
    spark, tmp_path, layout
):
    """Decontamination against the PERSISTED state: probing an incoming
    corpus into a sink-built near-dup index returns exactly the pairs of
    the both-sides operator (which re-bands the reference every call) —
    under every state layout, and unchanged by a full redelivery of the
    reference topic."""
    from bharatmlstack_spark.operators.dedup import minhash_lsh_cross_pairs
    from bharatmlstack_spark.streaming.ingest import (
        cross_dedup_against_state,
        stream_neardup_minhash_sink,
    )

    docs = _neardup_docs()
    reference = [docs[0], docs[1]]  # ids 1, 2 (near-dups of each other)
    incoming_rows = [  # near-dup of 1+2; unrelated
        (103, docs[2]["text"]),
        (104, docs[3]["text"]),
    ]
    incoming = spark.createDataFrame(incoming_rows, ["doc_id", "text"])
    ref_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in reference], ["doc_id", "text"]
    )

    src = str(tmp_path / "xs_src")
    state, out = str(tmp_path / "xs_state"), str(tmp_path / "xs_out")
    _write_json_batch(src, reference)
    kw = {
        "flat": {},
        "hybrid": {"state_buckets": 8},
        "bucketed_bands": {"state_buckets": 8, "bucket_bands": True},
    }[layout]

    def run(ck):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_neardup_minhash_sink(
            stream, state, out, str(tmp_path / ck), spark,
            id_col="doc_id", text_col="text", trigger_once=True, **kw,
        )
        q.awaitTermination(120)

    run("xs_ck1")

    def probe():
        got = cross_dedup_against_state(spark, state, incoming)
        return {
            (r.id_a, r.id_b, round(r.jaccard, 6)) for r in got.collect()
        }

    expected = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in minhash_lsh_cross_pairs(
            ref_df, incoming, threshold=0.8
        ).collect()
    }
    assert expected  # the fixture must produce cross pairs
    assert {(a, b) for a, b, _ in expected} == {(1, 103), (2, 103)}
    assert probe() == expected
    # full redelivery duplicates the state; the probe's answer is stable
    run("xs_ck2")
    assert probe() == expected


def test_neardup_signature_params_are_a_contract(spark, tmp_path):
    """The sidecar records num_hashes/bands/shingle_n on first write; a
    sink run with different values raises (bands from different
    signature spaces never collide — every cross-run pair would be
    silently lost), and a state lacking them (pre-contract) makes the
    cross probe fail loudly instead of probing a mismatched space."""
    import json

    import pytest

    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        hadoop_write_text_atomic,
        read_table_meta,
    )
    from bharatmlstack_spark.streaming.ingest import (
        cross_dedup_against_state,
        stream_neardup_minhash_sink,
    )

    docs = _neardup_docs()
    src = str(tmp_path / "sg_src")
    state, out = str(tmp_path / "sg_state"), str(tmp_path / "sg_out")
    _write_json_batch(src, [docs[0], docs[1]])

    def run(ck, **kw):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_neardup_minhash_sink(
            stream, state, out, str(tmp_path / ck), spark,
            id_col="doc_id", text_col="text", trigger_once=True,
            state_buckets=8, **kw,
        )
        q.awaitTermination(120)

    run("sg_ck1")
    meta = read_table_meta(spark, state)
    assert (meta["num_hashes"], meta["bands"], meta["shingle_n"]) == (64, 16, 3)

    with pytest.raises(Exception, match="num_hashes"):
        run("sg_ck2", num_hashes=32)

    # a pre-contract sidecar (layout keys only): the probe refuses
    hadoop_write_text_atomic(
        spark, f"{state}/{TABLE_META_FILE}",
        json.dumps({"n_buckets": 8, "bucket_bands": False}),
    )
    incoming = spark.createDataFrame(
        [(103, docs[2]["text"])], ["doc_id", "text"]
    )
    with pytest.raises(RuntimeError, match="signature parameters"):
        cross_dedup_against_state(spark, state, incoming)
    # ...and one sink run with the original params heals it idempotently
    run("sg_ck3")
    assert read_table_meta(spark, state)["num_hashes"] == 64
    assert len(cross_dedup_against_state(spark, state, incoming).collect()) > 0


def test_compact_streamed_index_rewrites_only_duplicate_dirs(
    spark, tmp_path
):
    """Dynamic partition overwrite discipline: cell dirs WITHOUT
    duplicates keep their exact files (paths and mtimes) through a
    compaction that rewrites a sibling dir — a regression to static
    overwrite (the option dropped or misspelled) would delete every
    untouched partition dir, which row counts alone cannot catch."""
    import os

    from bharatmlstack_spark.streaming.ingest import compact_streamed_index

    schema = "vec_id long, embedding array<float>, cell int"
    rows = [(i, [float(i), 0.0], i % 4) for i in range(40)]
    df = spark.createDataFrame(rows, schema)
    index_path = str(tmp_path / "pd_index")
    df.repartition("cell").write.partitionBy("cell").parquet(index_path)
    # redeliver ONLY cell 0's rows (a partial redelivery)
    dup = df.filter("cell = 0")
    dup.repartition("cell").write.mode("append").partitionBy("cell").parquet(
        index_path
    )

    def dir_state(cell):
        d = tmp_path / "pd_index" / f"cell={cell}"
        return sorted(
            (f.name, os.stat(f).st_mtime_ns)
            for f in d.iterdir()
            if f.name.endswith(".parquet")
        )

    untouched_before = {c: dir_state(c) for c in (1, 2, 3)}
    removed = compact_streamed_index(spark, index_path)
    assert removed == dup.count()
    # the clean cell dirs' files survived byte-untouched
    assert {c: dir_state(c) for c in (1, 2, 3)} == untouched_before
    # and the duplicate-holding dir is deduped
    got = spark.read.parquet(index_path)
    assert got.count() == 40
    assert got.filter("cell = 0").count() == 10


def _stream_ivf_corpus(spark, n=60, dim=8, seed=11):
    """Embedding corpus with injected exact duplicates (every 5th id
    copied at +1000) — identical vectors share a cell under ANY
    quantizer, so dedup recall must be 1 before AND after a refit."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    rows += [(i + 1000, e) for i, e in rows if i % 5 == 0]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_refit_streamed_index_rebuckets_and_preserves_search(spark, tmp_path):
    """refit_streamed_index: n_cells re-derived from the ACCUMULATED
    count, every vector re-assigned under a freshly fit quantizer, staged
    swap, duplicates reclaimed — with search content preserved: the
    all-cells (exact) top-k is identical pre/post, exact-duplicate pairs
    still share a cell, and the sink keeps appending against the NEW
    quantizer."""
    from bharatmlstack_spark.streaming.ingest import (
        load_streamed_index_quantizer,
        read_streamed_ivf_index,
        refit_streamed_index,
        stream_ann_ivf_sink,
    )
    from bharatmlstack_spark.operators.lsh import IvfIndex

    df = _stream_ivf_corpus(spark)
    n = df.count()
    # deliberately-too-small bootstrap quantizer: the frozen-forever case
    idx = IvfIndex(n_cells=2).fit(df, sample_size=64, iters=3)
    topic = str(tmp_path / "rf_topic")
    index_path = str(tmp_path / "rf_index")
    df.repartition(2).write.parquet(topic)
    schema = "vec_id long, embedding array<float>"
    for ck in ("rf_ck1", "rf_ck2"):  # second pass = full redelivery
        stream = spark.readStream.schema(schema).parquet(topic)
        q = stream_ann_ivf_sink(
            stream, idx, index_path, str(tmp_path / ck), spark,
            trigger_once=True,
        )
        q.awaitTermination(120)

    queries = df.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )

    def exact_topk(ivf, nprobe):
        # nprobe == n_cells probes every cell: brute-force-equivalent,
        # so the result is a pure function of the index CONTENT
        index = read_streamed_ivf_index(spark, index_path)
        return {
            (r.query_id, r.vec_id, r.rank)
            for r in ivf.search(
                index, queries, k=3, nprobe=nprobe, metric="DOT"
            ).collect()
        }

    before = exact_topk(idx, nprobe=2)
    stats = refit_streamed_index(
        spark, index_path, target_cell_rows=8, min_cells=4
    )
    ivf2 = stats["ivf"]
    # re-derivation: ~n/8 cells, far above the bootstrap 2
    assert stats["n"] == n
    assert stats["n_cells_after"] == max(4, -(-n // 8))
    assert stats["n_cells_before"] == 2
    # the refit subsumed compaction: redelivery copies physically gone
    assert stats["rows_removed"] == n
    raw = spark.read.parquet(index_path)
    assert raw.count() == n
    # content-preserving: exact (all-cells) search identical pre/post
    assert exact_topk(ivf2, nprobe=stats["n_cells_after"]) == before
    # exact duplicates still share a cell (recall 1 under any quantizer)
    pairs = (
        raw.alias("a")
        .join(raw.alias("b"), F.col("a.vec_id") + 1000 == F.col("b.vec_id"))
        .select(F.col("a.cell").alias("ca"), F.col("b.cell").alias("cb"))
        .collect()
    )
    assert pairs and all(r.ca == r.cb for r in pairs)
    # the persisted quantizer round-trips to the returned one
    loaded = load_streamed_index_quantizer(spark, index_path)
    import numpy as np

    assert np.allclose(loaded.centroids, ivf2.centroids)
    # the sink continues against the refit state with the NEW quantizer
    extra = spark.createDataFrame(
        [(9000, [float(i) for i in range(8)])], schema
    )
    topic2 = str(tmp_path / "rf_topic2")
    extra.write.parquet(topic2)
    stream = spark.readStream.schema(schema).parquet(topic2)
    q = stream_ann_ivf_sink(
        stream, ivf2, index_path, str(tmp_path / "rf_ck3"), spark,
        trigger_once=True,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(index_path).count() == n + 1


def test_maintenance_cadence_policy(spark, tmp_path):
    """The sinks maintain batch counters + redelivery detection in the
    state's meta sidecar; maintenance_due/maybe_compact_* turn the
    docstrings' prescribed cadence ("after a redelivery event or N
    batches") into code a pipeline calls without inventing policy."""
    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import (
        MAINT_COUNTER_KEY,
        MAINT_REDELIVERY_KEY,
        maintenance_due,
        maybe_compact_streamed_index,
        stream_ann_ivf_sink,
    )
    from bharatmlstack_spark.operators.lsh import IvfIndex

    df = _stream_ivf_corpus(spark, n=20)
    idx = IvfIndex(n_cells=2).fit(df, sample_size=64, iters=2)
    topic = str(tmp_path / "mc_topic")
    index_path = str(tmp_path / "mc_index")
    df.repartition(3).write.parquet(topic)
    schema = "vec_id long, embedding array<float>"

    def run(ck):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_ann_ivf_sink(
            stream, idx, index_path, str(tmp_path / ck), spark,
            trigger_once=True,
        )
        q.awaitTermination(120)

    run("mc_ck1")  # 3 files -> 3 micro-batches
    meta = read_table_meta(spark, index_path)
    assert meta[MAINT_COUNTER_KEY] == 3
    assert MAINT_REDELIVERY_KEY not in meta
    assert not maintenance_due(spark, index_path, every_n_batches=5)
    assert maintenance_due(spark, index_path, every_n_batches=3)
    # not due -> sidecar-read no-op; due -> compacts (0 dups yet) + resets
    assert maybe_compact_streamed_index(spark, index_path, every_n_batches=5) is None
    assert maybe_compact_streamed_index(spark, index_path, every_n_batches=3) == 0
    assert read_table_meta(spark, index_path)[MAINT_COUNTER_KEY] == 0

    # full redelivery under a fresh checkpoint: batch ids restart, the
    # sink flags it, and maintenance is due regardless of the threshold
    run("mc_ck2")
    assert read_table_meta(spark, index_path)[MAINT_REDELIVERY_KEY] is True
    assert maintenance_due(spark, index_path, every_n_batches=10**6)
    removed = maybe_compact_streamed_index(
        spark, index_path, every_n_batches=10**6
    )
    assert removed == df.count()  # the whole replay reclaimed
    meta = read_table_meta(spark, index_path)
    assert meta[MAINT_COUNTER_KEY] == 0
    assert MAINT_REDELIVERY_KEY not in meta


def test_maintenance_counter_coexists_with_neardup_layout_keys(
    spark, tmp_path
):
    """The near-dup sink's sidecar carries BOTH the layout contract
    (n_buckets/bucket_bands) and the maintenance counters — each write
    path preserves the other's keys."""
    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import (
        MAINT_COUNTER_KEY,
        compact_neardup_state,
        stream_neardup_minhash_sink,
    )

    docs = _neardup_docs()
    src = str(tmp_path / "mx_src")
    state, out = str(tmp_path / "mx_state"), str(tmp_path / "mx_out")
    _write_json_batch(src, [docs[0], docs[3]])
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state, out, str(tmp_path / "mx_ck"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
        state_buckets=8,
    )
    q.awaitTermination(120)
    meta = read_table_meta(spark, state)
    assert meta["n_buckets"] == 8 and meta["bucket_bands"] is False
    assert meta[MAINT_COUNTER_KEY] >= 1
    compact_neardup_state(spark, state)
    meta = read_table_meta(spark, state)
    assert meta["n_buckets"] == 8  # layout survived the counter reset
    assert meta[MAINT_COUNTER_KEY] == 0
    # the gated form: not due right after a reset, due at threshold 1
    # once another batch lands
    from bharatmlstack_spark.streaming.ingest import maybe_compact_neardup_state

    assert maybe_compact_neardup_state(spark, state, every_n_batches=1) is None
    _write_json_batch(src, [docs[1]])
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state, out, str(tmp_path / "mx_ck2"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
        state_buckets=8,
    )
    q.awaitTermination(120)
    stats = maybe_compact_neardup_state(spark, state, every_n_batches=1)
    assert stats is not None  # due again; the redelivered rows reclaimed
    assert read_table_meta(spark, state)[MAINT_COUNTER_KEY] == 0


def test_refit_streamed_index_requires_an_index(spark, tmp_path):
    """Refit on a never-written path fails with a targeted error instead
    of fabricating an empty state or an unrelated read failure."""
    import pytest

    from bharatmlstack_spark.streaming.ingest import refit_streamed_index

    with pytest.raises(FileNotFoundError, match="nothing\naccumulated|nothing"):
        refit_streamed_index(spark, str(tmp_path / "never_written"))


def test_cross_dedup_against_state_randomized_equivalence(spark, tmp_path):
    """Seeded random corpora: the state probe and the both-sides operator
    agree pair-for-pair on inputs with no hand-placed structure — the
    property the layout-parametrized fixture test can't vary."""
    import random

    from bharatmlstack_spark.operators.dedup import minhash_lsh_cross_pairs
    from bharatmlstack_spark.streaming.ingest import (
        cross_dedup_against_state,
        stream_neardup_minhash_sink,
    )

    rng = random.Random(1311)
    vocab = [f"w{i}" for i in range(40)]
    ref_rows = [
        (i, " ".join(rng.choices(vocab, k=12))) for i in range(1, 21)
    ]
    # incoming: mutated copies of some reference docs + fresh noise
    inc_rows = [
        (100 + i, text + (" zz9" if i % 2 else ""))
        for i, (rid, text) in enumerate(ref_rows[:8])
    ] + [(200 + i, " ".join(rng.choices(vocab, k=12))) for i in range(6)]
    ref_df = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    inc_df = spark.createDataFrame(inc_rows, ["doc_id", "text"])

    src = str(tmp_path / "rz_src")
    state, out = str(tmp_path / "rz_state"), str(tmp_path / "rz_out")
    _write_json_batch(src, [{"doc_id": i, "text": t} for i, t in ref_rows])
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state, out, str(tmp_path / "rz_ck"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
        state_buckets=8,
    )
    q.awaitTermination(120)

    got = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in cross_dedup_against_state(
            spark, state, inc_df, threshold=0.8
        ).collect()
    }
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in minhash_lsh_cross_pairs(
            ref_df, inc_df, threshold=0.8
        ).collect()
    }
    assert want  # the exact copies guarantee pairs exist
    assert got == want


def test_stateful_top_events_retention_eviction(spark, tmp_path):
    """SS5 bounded-state mode (the reference's rolling-retention
    discipline): once the watermark passes a user's newest event +
    retention_ms, their top-K state is REMOVED — every retained event
    would be outside the rolling window anyway. Pin via the statestore
    reader: the idle user's state rows are gone, the active user's
    remain; a returning user rebuilds from new events only."""
    import json
    import os as _os

    MIN = 60_000
    B = 1_000 * MIN
    src = str(tmp_path / "topk_ret_src")
    _os.makedirs(src)
    batches = [
        # user 1 goes idle after B; user 2 stays active
        [
            {"user_id": 1, "ts_ms": B, "event_id": 11},
            {"user_id": 2, "ts_ms": B, "event_id": 21},
        ],
        # watermark after this batch: B+100' - 10' = B+90' > B + 30'
        [{"user_id": 2, "ts_ms": B + 100 * MIN, "event_id": 22}],
        # timeout fires here; user 1 returns AFTER eviction next batch
        [{"user_id": 2, "ts_ms": B + 200 * MIN, "event_id": 23}],
        # user 2 stays inside retention of the FINAL watermark
        # (B+300' - 10' delay); user 1 rebuilds from scratch
        [
            {"user_id": 1, "ts_ms": B + 300 * MIN, "event_id": 12},
            {"user_id": 2, "ts_ms": B + 299 * MIN, "event_id": 24},
        ],
    ]
    for i, rows in enumerate(batches):
        p = _os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        _os.utime(p, (1_600_000_000 + i * 60,) * 2)
    stream = (
        spark.readStream.schema("user_id long, ts_ms long, event_id long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    topk = stateful_top_events(stream, k=2, retention_ms=30 * MIN)
    q = (
        topk.writeStream.format("memory")
        .queryName("topk_ret_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "topk_ret_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    state = (
        spark.read.format("statestore")
        .load(str(tmp_path / "topk_ret_ck"))
        .select("key.user_id", "value.groupState.ts")
        .collect()
    )
    by_user = {r.user_id: sorted(r.ts) for r in state}
    # user 1's pre-eviction event is NOT in the rebuilt state; user 2
    # kept the newest k=2 across batches
    assert by_user == {1: [B + 300 * MIN], 2: [B + 200 * MIN, B + 299 * MIN]}
