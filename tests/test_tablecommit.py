"""Fault injection for the bucket commit (bharatmlstack_spark.tablecommit).

Each test runs a real write up to its commit, then replays that commit
from the same on-disk state once per rename-or-delete call it makes,
with the k-th call failing. After every failure:

- no non-numeric ``key_bucket=`` / ``cell=`` dir sits in the live root
  (stages and asides live beside it, never inside);
- a fresh reader, which goes through an entry point, sees exactly the
  old rows (the marker was never written) or exactly the new rows;
- that entry point finished the commit: marker, stage and aside are gone.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from bharatmlstack_spark import fixtures, tablecommit
from bharatmlstack_spark.operators.feature_store import FeatureStore, _bucket_expr
from bharatmlstack_spark.tablecommit import (
    BUCKET_ASIDE_SUFFIX,
    BUCKET_MARKER_SUFFIX,
    BUCKET_STAGE_SUFFIX,
)


class _Fault(Exception):
    pass


class _Stop(Exception):
    pass


def _capture_commit(monkeypatch, root, op):
    """Run ``op`` up to its commit: returns the commit's arguments and a
    snapshot of the dir holding ``root`` and its stage at that point."""
    args = []

    def record(*a):
        args.extend(a)
        raise _Stop

    with monkeypatch.context() as m:
        m.setattr(tablecommit, "commit", record)
        with pytest.raises(_Stop):
            op()
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


def _sweep(monkeypatch, root, col, args, restore, read, old):
    """Replay the commit failing at every call; check each outcome."""
    n_calls = _replay(monkeypatch, args, restore, 0)
    new = read()
    assert new != old and n_calls > 0
    for k in range(1, n_calls + 1):
        _replay(monkeypatch, args, restore, k)
        for name in os.listdir(root):
            if name.startswith(f"{col}="):
                assert name[len(col) + 1:].isdigit(), (k, name)
        committed = os.path.exists(root + BUCKET_MARKER_SUFFIX)
        assert read() == (new if committed else old), k
        for leftover in (BUCKET_MARKER_SUFFIX, BUCKET_STAGE_SUFFIX, BUCKET_ASIDE_SUFFIX):
            assert not os.path.exists(root + leftover), (k, leftover)
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
    n = _sweep(monkeypatch, root, "key_bucket", args, restore, read, old)
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
    n = _sweep(monkeypatch, root, "key_bucket", args, restore, read, old)
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
    n = _sweep(monkeypatch, root, "cell", args, restore, read, old)
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
