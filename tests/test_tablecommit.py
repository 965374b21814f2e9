"""Fault injection for the table commits (bharatmlstack_spark.tablecommit):
bucket commits and whole-root commits.

Each test runs a real write up to its commit, then replays that commit
from the same on-disk state once per rename-or-delete call it makes,
with the k-th call failing. After every failure:

- no non-numeric ``key_bucket=`` / ``cell=`` / ``__kb=`` dir sits in a
  live root (stages and asides live beside it, never inside);
- a fresh reader, which goes through an entry point, sees exactly the
  old rows (the marker was never written) or exactly the new rows;
- that entry point finished the commit: marker, stages and asides are
  gone.
"""

import inspect
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bharatmlstack_spark import fixtures, tablecommit
from bharatmlstack_spark.operators.feature_store import FeatureStore, _bucket_expr
from bharatmlstack_spark.tablecommit import (
    ASIDE_SUFFIX,
    BUCKET_ASIDE_SUFFIX,
    BUCKET_MARKER_SUFFIX,
    BUCKET_STAGE_SUFFIX,
    ROOT_STAGE_SUFFIX,
)

LEFTOVERS = (
    BUCKET_MARKER_SUFFIX,
    BUCKET_STAGE_SUFFIX,
    BUCKET_ASIDE_SUFFIX,
    ROOT_STAGE_SUFFIX,
    ASIDE_SUFFIX,
)


class _Fault(Exception):
    pass


class _Stop(Exception):
    pass


def _capture_commit(monkeypatch, root, op):
    """Run ``op`` up to its commit: returns the commit's arguments and a
    snapshot of the dir holding ``root`` and its stage at that point. A
    streaming sink reports the stop wrapped in its query's failure."""
    args = []
    signature = inspect.signature(tablecommit.commit)

    def record(*a, **kw):
        bound = signature.bind(*a, **kw)
        bound.apply_defaults()
        args.extend(bound.args)
        raise _Stop

    with monkeypatch.context() as m:
        m.setattr(tablecommit, "commit", record)
        with pytest.raises(Exception):
            op()
    assert args, "the operation never reached its commit"
    parent = os.path.dirname(root)
    snapshot = parent + "__snapshot"
    shutil.copytree(parent, snapshot)

    def restore():
        shutil.rmtree(parent)
        shutil.copytree(snapshot, parent)

    return args, restore


def _replay(monkeypatch, args, restore, k):
    """Restore the pre-commit state and run the commit with its k-th
    rename-or-delete call failing (k=0: no fault). Returns the number
    of calls made."""
    restore()
    calls = [0]
    with monkeypatch.context() as m:
        for name in ("_rename", "_delete"):
            real = getattr(tablecommit, name)

            def failing(*a, _real=real):
                calls[0] += 1
                if calls[0] == k:
                    raise _Fault(f"call {k}")
                return _real(*a)

            m.setattr(tablecommit, name, failing)
        if k:
            with pytest.raises(_Fault):
                tablecommit.commit(*args)
        else:
            tablecommit.commit(*args)
    return calls[0]


def _sweep(monkeypatch, root, args, restore, read, old, check=None):
    """Replay the commit failing at every call; check each outcome in
    ``root`` and in every other root the commit swaps whole. ``check``
    runs on the on-disk state right after each fault, before any entry
    point has finished the commit."""
    _, marker, swaps = args[:3]
    roots = {root} | {live for stage, live in swaps if stage == live + ROOT_STAGE_SUFFIX}
    n_calls = _replay(monkeypatch, args, restore, 0)
    new = read()
    assert new != old and n_calls > 0
    for k in range(1, n_calls + 1):
        _replay(monkeypatch, args, restore, k)
        for name in (n for r in roots if os.path.exists(r) for n in os.listdir(r)):
            if "=" in name:
                assert name.split("=", 1)[1].isdigit(), (k, name)
        if check is not None:
            check(k)
        committed = os.path.exists(marker)
        assert read() == (new if committed else old), k
        assert not os.path.exists(marker), k
        for r, leftover in ((r, s) for r in roots for s in LEFTOVERS):
            assert not os.path.exists(r + leftover), (k, r, leftover)
    return n_calls


def _store(spark, base):
    return FeatureStore(spark, fixtures.user_registry(), base, n_buckets=4)


def _feature_table(spark, tmp_path):
    base = str(tmp_path / "fs" / "base")
    _store(spark, base).persist(
        "user",
        spark.range(0, 32).select(
            F.col("id").alias("user_id"), F.col("id").cast("int").alias("demo_int32__age")
        ),
    )
    buckets = {
        r.user_id: r.b
        for r in spark.range(0, 32)
        .select(F.col("id").alias("user_id"), _bucket_expr(["user_id"], 4).alias("b"))
        .collect()
    }

    def read():
        return sorted(
            (r.user_id, r.demo_int32__age)
            for r in _store(spark, base).load("user").collect()
        )

    return base, _store(spark, base)._table_path("user"), buckets, read


def test_persist_commit_survives_a_fault_at_every_step(spark, tmp_path, monkeypatch):
    """An upsert touching 2 of 4 buckets (one new key, one update)."""
    base, root, buckets, read = _feature_table(spark, tmp_path)
    old = read()
    other = next(k for k in buckets if buckets[k] != buckets[0])
    batch = spark.createDataFrame([(0, 99), (other, 77)], ["user_id", "demo_int32__age"])
    args, restore = _capture_commit(
        monkeypatch, root, lambda: _store(spark, base).persist("user", batch)
    )
    n = _sweep(monkeypatch, root, args, restore, read, old)
    assert n == 9  # 2 x (aside, swap in, drop aside) + stage, aside, marker


def test_delete_commit_survives_a_fault_at_every_step(spark, tmp_path, monkeypatch):
    """A delete that empties one bucket and thins another."""
    base, root, buckets, read = _feature_table(spark, tmp_path)
    old = read()
    emptied = [k for k in buckets if buckets[k] == buckets[0]]
    thinned = next(k for k in buckets if buckets[k] != buckets[0])
    keys = spark.createDataFrame([(k,) for k in emptied + [thinned]], ["user_id"])
    args, restore = _capture_commit(
        monkeypatch, root, lambda: _store(spark, base).delete("user", keys)
    )
    n = _sweep(monkeypatch, root, args, restore, read, old)
    assert n == 7  # aside, swap in, drop aside, drop emptied + stage, aside, marker


def test_tombstone_purge_commit_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    """A streamed site: folding IVF vector tombstones, which empties one
    cell dir and thins another; the reader is read_streamed_ivf_index."""
    from bharatmlstack_spark.streaming.ingest import (
        delete_indexed_vectors,
        fold_index_tombstones,
        read_streamed_ivf_index,
    )

    root = str(tmp_path / "ivf" / "index")
    spark.createDataFrame(
        [(i, [float(i), 1.0], i % 4) for i in range(16)],
        "vec_id long, embedding array<float>, cell int",
    ).write.partitionBy("cell").parquet(root)
    # cell 1 loses every vector, cell 2 one of its four
    delete_indexed_vectors(spark, root, [1, 5, 9, 13, 2])

    def read():
        read_streamed_ivf_index(spark, root)  # the entry point
        return sorted(r.vec_id for r in spark.read.parquet(root).collect())

    old = read()
    args, restore = _capture_commit(
        monkeypatch, root, lambda: fold_index_tombstones(spark, root)
    )
    n = _sweep(monkeypatch, root, args, restore, read, old)
    assert n == 7
    visible = read_streamed_ivf_index(spark, root, dedup=False)
    assert sorted(r.vec_id for r in visible.collect()) == [
        i for i in range(16) if i % 4 != 1 and i != 2
    ]


def test_commit_refreshes_frames_cached_over_the_root(spark, tmp_path):
    """A frame persisted before a bucket commit serves the committed rows
    afterwards, as after a Spark write to the same path: a new read of
    the root would otherwise hit the stale cache entry."""
    root = str(tmp_path / "cached")
    spark.createDataFrame(
        [(i, i % 2) for i in range(6)], "id long, cell int"
    ).write.partitionBy("cell").parquet(root)
    stale = spark.read.parquet(root).persist()
    assert stale.count() == 6
    tablecommit.commit_buckets(
        spark.createDataFrame([(0, 0)], "id long, cell int"), root, "cell", [0]
    )
    assert sorted(r.id for r in spark.read.parquet(root).collect()) == [0, 1, 3, 5]
    stale.unpersist()


# -- whole-root commits (tablecommit.commit_root) ----------------------

CDC_SCHEMA = "user_id long, seq long, op string, bal long"


def _cdc_batch(spark, tmp_path, state, rows, name):
    """Apply one CDC micro-batch through stream_cdc_sink."""
    from bharatmlstack_spark.streaming.ingest import await_stream, stream_cdc_sink

    topic = str(tmp_path / "topics" / name)
    spark.createDataFrame(rows, CDC_SCHEMA).coalesce(1).write.parquet(topic)
    q = stream_cdc_sink(
        spark.readStream.schema(CDC_SCHEMA).parquet(topic),
        state,
        str(tmp_path / "cks" / name),
        spark,
        key_cols=["user_id"],
        trigger_once=True,
    )
    await_stream(q, 120, f"cdc batch {name}")


def _cdc_read(spark, state):
    """Rows through an entry point: a tombstone GC that removes nothing."""
    from bharatmlstack_spark.streaming.ingest import compact_cdc_state

    assert compact_cdc_state(spark, state, watermark_seq=-1) == 0
    return sorted(
        (r["user_id"], r["bal"], r["__op"], r["__last_seq"])
        for r in spark.read.parquet(state).collect()
    )


def test_flat_cdc_batch_commit_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    """A flat CDC state: one batch updates a key, deletes one, adds one."""
    from bharatmlstack_spark.streaming.ingest import seed_cdc_state

    state = str(tmp_path / "cdc" / "state")
    seed_cdc_state(
        spark.createDataFrame([(i, i * 10) for i in range(4)], "user_id long, bal long"),
        state,
        key_cols=["user_id"],
    )
    old = _cdc_read(spark, state)
    rows = [(1, 5, "U", 111), (2, 6, "D", None), (9, 7, "U", 999)]
    args, restore = _capture_commit(
        monkeypatch, state, lambda: _cdc_batch(spark, tmp_path, state, rows, "b1")
    )
    n = _sweep(
        monkeypatch, state, args, restore, lambda: _cdc_read(spark, state), old
    )
    assert n == 4  # aside, swap in, drop aside, marker


def test_cdc_bootstrap_commit_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    """An empty-seeded bucketed CDC state converts to its __kb= dirs on the
    first batch. At no instant are __kb= dirs live without the n_buckets
    sidecar, which would make every entry point refuse the state."""
    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import seed_cdc_state

    state = str(tmp_path / "cdc" / "state")
    seed_cdc_state(
        spark.createDataFrame([], "user_id long, bal long"),
        state,
        key_cols=["user_id"],
        n_buckets=4,
    )
    old = _cdc_read(spark, state)
    rows = [(i, i, "U", i * 100) for i in range(8)]
    args, restore = _capture_commit(
        monkeypatch, state, lambda: _cdc_batch(spark, tmp_path, state, rows, "b1")
    )

    def sidecar_with_dirs(k):
        if os.path.exists(state) and any(
            d.startswith("__kb=") for d in os.listdir(state)
        ):
            assert (read_table_meta(spark, state) or {}).get("n_buckets") == 4, k

    n = _sweep(
        monkeypatch,
        state,
        args,
        restore,
        lambda: _cdc_read(spark, state),
        old,
        check=sidecar_with_dirs,
    )
    assert n == 4
    assert read_table_meta(spark, state)["n_buckets"] == 4
    assert any(d.startswith("__kb=") for d in os.listdir(state))


def test_event_retention_commit_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    """A stream_event_retention batch. The reader is the sink itself: a
    later batch for another user merges into the state it finds, so a
    root left mid-swap would restart the state from that batch alone."""
    from datetime import datetime

    from bharatmlstack_spark.operators.event_store import EventStore
    from bharatmlstack_spark.streaming.ingest import await_stream, stream_event_retention

    schema = "user_id long, ts timestamp, event_id long, value double"
    store = EventStore(ts_col="ts", max_per_week=3)
    state = str(tmp_path / "ev" / "state")
    base = datetime(2024, 1, 1)
    runs = [0]

    def batch(user, hours):
        runs[0] += 1
        topic = str(tmp_path / "topics" / f"t{runs[0]}")
        spark.createDataFrame(
            [(user, base.replace(hour=h), h, 1.0) for h in hours], schema
        ).coalesce(1).write.parquet(topic)
        q = stream_event_retention(
            spark.readStream.schema(schema).parquet(topic),
            store,
            state,
            str(tmp_path / "cks" / f"c{runs[0]}"),
            spark,
            trigger_once=True,
        )
        await_stream(q, 120, "event retention batch")

    def read():
        batch(2, [1])
        return sorted(
            (r.user_id, r.event_id) for r in spark.read.parquet(state).collect()
        )

    batch(1, range(4))  # user 1 keeps events 1, 2, 3
    args, restore = _capture_commit(monkeypatch, state, lambda: batch(1, [5, 6]))
    restore()
    old = read()
    assert old == [(1, 1), (1, 2), (1, 3), (2, 1)]
    n = _sweep(monkeypatch, state, args, restore, read, old)
    assert n == 4
    _replay(monkeypatch, args, restore, 0)
    assert read() == [(1, 3), (1, 5), (1, 6), (2, 1)]


def test_flat_neardup_compaction_commit_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    """compact_neardup_state on a flat state holding a full redelivery:
    the deduped shingle store swaps in whole. The reader is the
    cross-dedup probe's preamble."""
    import json

    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        compact_neardup_state,
        cross_dedup_against_state,
        stream_neardup_minhash_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for i, text in enumerate(["the quick brown fox jumps", "unrelated words here"]):
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
    state_dir = str(tmp_path / "nd" / "state")
    sets = f"{state_dir}/sets"
    for ck in ("ck1", "ck2"):  # the second run redelivers every doc
        q = stream_neardup_minhash_sink(
            spark.readStream.schema("doc_id long, text string").json(src),
            state_dir,
            str(tmp_path / "out"),
            str(tmp_path / "cks" / ck),
            spark,
            id_col="doc_id",
            text_col="text",
            trigger_once=True,
        )
        await_stream(q, 120, "near-dup sink")
    incoming = spark.createDataFrame([(7, "the quick brown fox jumps")], ["doc_id", "text"])

    def read():
        pairs = cross_dedup_against_state(spark, state_dir, incoming)
        assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(0, 7)}
        return sorted((r.id, tuple(r.sh)) for r in spark.read.parquet(sets).collect())

    old = read()
    args, restore = _capture_commit(
        monkeypatch, sets, lambda: compact_neardup_state(spark, state_dir)
    )
    n = _sweep(monkeypatch, sets, args, restore, read, old)
    assert n == 4
    assert len(read()) == 2 and len(old) == 4


def test_cluster_compaction_commit_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    """compact_cluster_state on a 4-bucket label store: the canonical
    labels swap in whole, as __kb= dirs. The reader is
    read_cluster_state, whose components never change."""
    from bharatmlstack_spark.operators.feature_store import write_table_meta
    from bharatmlstack_spark.streaming.ingest import (
        compact_cluster_state,
        read_cluster_state,
    )

    state_dir = str(tmp_path / "cl" / "state")
    labels = f"{state_dir}/labels"
    # nodes 10 and 11 joined cluster 1 through the logged merge 10 -> 1
    spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10), (40, 40)], "node long, label long"
    ).withColumn("__kb", F.pmod(F.xxhash64("node"), F.lit(4))).write.partitionBy(
        "__kb"
    ).parquet(labels)
    spark.createDataFrame([(10, 1)], "child long, parent long").write.parquet(
        f"{state_dir}/merges"
    )
    write_table_meta(spark, state_dir, 4)
    components = {1: 1, 2: 1, 10: 1, 11: 1, 40: 40}

    def read():
        got = read_cluster_state(spark, state_dir).collect()
        assert {r.node: r.component for r in got} == components
        return sorted((r.node, r.label) for r in spark.read.parquet(labels).collect())

    old = read()
    args, restore = _capture_commit(
        monkeypatch, labels, lambda: compact_cluster_state(spark, state_dir)
    )
    n = _sweep(monkeypatch, labels, args, restore, read, old)
    assert n == 4
    assert dict(read()) == components


def _grep_package(pattern, subdir=""):
    import pathlib
    import re

    retired = re.compile(pattern)
    package = pathlib.Path(tablecommit.__file__).parent
    return [
        f"{path.relative_to(package.parent)}:{n}: {line.strip()}"
        for path in sorted((package / subdir).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if retired.search(line)
    ]


def test_no_hand_rolled_root_swaps():
    """Every root rewrite in the package commits through tablecommit: the
    retired swap helpers and stage names, the reset jobs' own stages and
    the near-dup runtime layout migration must not come back."""
    hits = _grep_package(
        r"_swap_staged_root|_recover_root_swap|_ensure_neardup_root|_neardup_root_layout"
        r"|__(staging|compacting|purging|migrating|rebucketing|refitting)\b"
    )
    assert not hits, "hand-rolled root swap:\n" + "\n".join(hits)


def test_streamed_sidecars_written_by_stateroot_only():
    """The streamed stores rewrite their sidecars only through
    stateroot.update_meta / bind and the commits' ``meta``: no
    hand-written atomic replace or JSON dump under streaming/."""
    hits = _grep_package(r"hadoop_write_text_atomic|\bjson\.dumps|import json", "streaming")
    assert not hits, "hand-written sidecar write:\n" + "\n".join(hits)


# -- the reset jobs' multi-root commits (tablecommit.commit_roots) -----


def _neardup_state(spark, tmp_path, **kw):
    """A near-dup state fed 12 docs twice (a full redelivery)."""
    import json

    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        stream_neardup_minhash_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for i in range(12):
            f.write(json.dumps({"doc_id": i, "text": f"doc {i} says {i * 7} words"}) + "\n")
    state = str(tmp_path / "nd" / "state")
    for ck in ("ck1", "ck2"):
        q = stream_neardup_minhash_sink(
            spark.readStream.schema("doc_id long, text string").json(src),
            state,
            str(tmp_path / "out"),
            str(tmp_path / "cks" / ck),
            spark,
            trigger_once=True,
            **kw,
        )
        await_stream(q, 120, "near-dup sink")
    return state


def _hashed_as_recorded(spark, root, col, key, n):
    """Every row of ``root`` sits in the ``col=`` dir ``key`` hashes to
    under the recorded count ``n``."""
    rows = spark.read.parquet(root)
    assert rows.filter(F.col(col) != F.pmod(key, F.lit(n))).count() == 0, root


def test_rebucket_neardup_commit_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    """rebucket_neardup_state 4 -> 8 buckets, both roots bucketed. The
    entry point is compact_neardup_state; after it, every row of both
    roots sits in the bucket the sidecar's n_buckets hashes it to."""
    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import (
        compact_neardup_state,
        rebucket_neardup_state,
    )

    state = _neardup_state(spark, tmp_path, state_buckets=4, bucket_bands=True)
    sets, bands = f"{state}/sets", f"{state}/bands"

    def read():
        compact_neardup_state(spark, state)
        n = read_table_meta(spark, state)["n_buckets"]
        _hashed_as_recorded(spark, sets, "__kb", F.xxhash64("id"), n)
        _hashed_as_recorded(spark, bands, "__kb", F.col("band_hash"), n)
        return n, sorted(
            (r["id"], r["__kb"]) for r in spark.read.parquet(sets).distinct().collect()
        )

    old = read()
    args, restore = _capture_commit(
        monkeypatch, sets, lambda: rebucket_neardup_state(spark, state, 8)
    )
    n = _sweep(monkeypatch, sets, args, restore, read, old)
    assert n == 7  # 2 x (aside, swap in, drop aside) + marker
    assert read()[0] == 8


def test_rebucket_postings_commit_survives_a_fault_at_every_step(
    spark, tmp_path, monkeypatch
):
    """rebucket_postings_index 4 -> 8 buckets. The entry point is
    bm25_search_streamed, whose ranking never changes; after it, every
    postings and doclen row sits in the bucket the sidecar's n_buckets
    hashes it to."""
    import json

    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        bm25_search_streamed,
        rebucket_postings_index,
        stream_postings_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    words = ["fox", "dog", "river", "joins", "spark", "parquet"]
    with open(os.path.join(src, "b0.json"), "w") as f:
        for i in range(12):
            text = " ".join(words[(i + j) % 6] for j in range(i % 4 + 2))
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
    index = str(tmp_path / "pi" / "index")
    q = stream_postings_sink(
        spark.readStream.schema("doc_id long, text string").json(src),
        index,
        str(tmp_path / "ck"),
        spark,
        n_buckets=4,
        trigger_once=True,
    )
    await_stream(q, 120, "postings sink")
    ranking = [
        (r.doc_id, r.rank)
        for r in bm25_search_streamed(spark, index, ["fox", "spark"]).collect()
    ]
    assert ranking

    def read():
        got = bm25_search_streamed(spark, index, ["fox", "spark"]).collect()
        assert [(r.doc_id, r.rank) for r in got] == ranking
        n = read_table_meta(spark, index)["n_buckets"]
        _hashed_as_recorded(spark, f"{index}/postings", "term_bucket", F.xxhash64("term"), n)
        _hashed_as_recorded(spark, f"{index}/doclen", "id_bucket", F.xxhash64("id"), n)
        return n, sorted(
            (r.term, r.id, r.term_bucket)
            for r in spark.read.parquet(f"{index}/postings").collect()
        )

    old = read()
    args, restore = _capture_commit(
        monkeypatch,
        f"{index}/postings",
        lambda: rebucket_postings_index(spark, index, 8),
    )
    n = _sweep(monkeypatch, f"{index}/postings", args, restore, read, old)
    assert n == 7
    assert read()[0] == 8


def test_refit_commit_survives_a_fault_at_every_step(spark, tmp_path, monkeypatch):
    """refit_streamed_index 2 -> 5 cells: the index and its quantizer
    swap in under one marker. The entry point is read_streamed_ivf_index;
    after it, the sidecar's n_cells is the quantizer's and bounds every
    cell dir."""
    import numpy as np

    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        QUANTIZER_DIR_SUFFIX,
        await_stream,
        read_streamed_ivf_index,
        refit_streamed_index,
        stream_ann_ivf_sink,
    )

    rng = np.random.default_rng(3)
    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(40)], schema
    )
    ivf = IvfIndex(n_cells=2).fit(df, sample_size=64, iters=2)
    topic, index = str(tmp_path / "topic"), str(tmp_path / "ivf" / "index")
    df.coalesce(1).write.parquet(topic)
    q = stream_ann_ivf_sink(
        spark.readStream.schema(schema).parquet(topic),
        ivf,
        index,
        str(tmp_path / "ck"),
        spark,
        trigger_once=True,
    )
    await_stream(q, 120, "ivf sink")

    def read():
        rows = read_streamed_ivf_index(spark, index).collect()
        n = read_table_meta(spark, index)["n_cells"]
        assert spark.read.parquet(index + QUANTIZER_DIR_SUFFIX).count() == n
        assert max(r.cell for r in rows) < n
        return n, sorted((r.vec_id, r.cell) for r in rows)

    old = read()
    args, restore = _capture_commit(
        monkeypatch,
        index,
        lambda: refit_streamed_index(spark, index, target_cell_rows=8, min_cells=4),
    )
    n = _sweep(monkeypatch, index, args, restore, read, old)
    assert n == 7
    assert read()[0] == 5
