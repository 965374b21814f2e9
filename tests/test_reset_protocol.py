"""Round-12 reset-job hardening: the stale-quantizer guard + refit_due
policy, the marker-commit crash protocol for rebucket/refit, atomic
sidecar replaces, opt-in in-loop maintenance, and the compactor
bail-out's redelivery-flag preservation.

These pin the OPERABILITY contracts around the r11 reset-job pair
(refit_streamed_index / rebucket_neardup_state): a crash at any point
of a reset leaves the state either intact-old or finishable-new (never
mixed), and a pipeline restarted with stale layout knowledge fails
loudly instead of silently mis-routing probes. Reference anchor: the
skye indexer reset jobs' versioned-collection swap
(skye/internal/consumers/handler/indexer/)."""

import json
import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F


def _ivf_corpus(spark, n=40, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _run_ivf_sink(spark, tmp_path, df, idx, index_path, ck, **kw):
    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        stream_ann_ivf_sink,
    )

    topic = str(tmp_path / f"topic_{ck}")
    df.repartition(2).write.parquet(topic)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(topic)
    q = stream_ann_ivf_sink(
        stream, idx, index_path, str(tmp_path / ck), spark,
        trigger_once=True, **kw,
    )
    await_stream(q, 120, f"ivf sink ({ck})")


def test_stale_quantizer_append_raises(spark, tmp_path):
    """After refit_streamed_index re-buckets the state, a sink restarted
    with the PRE-refit quantizer must raise at start — not mis-route.
    The refit-returned quantizer (and its loaded round-trip) must pass."""
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        load_streamed_index_quantizer,
        refit_streamed_index,
    )

    df = _ivf_corpus(spark)
    idx0 = IvfIndex(n_cells=2).fit(df, sample_size=64, iters=2)
    index_path = str(tmp_path / "sq_index")
    _run_ivf_sink(spark, tmp_path, df, idx0, index_path, "sq_ck1")
    stats = refit_streamed_index(
        spark, index_path, target_cell_rows=8, min_cells=4
    )
    assert stats["n_cells_after"] > 2
    # stale quantizer: loud refusal at sink START (before any append)
    with pytest.raises(RuntimeError, match="different.*quantizer|mis-rout"):
        _run_ivf_sink(spark, tmp_path, df, idx0, index_path, "sq_ck2")
    n_after_refit = spark.read.parquet(index_path).count()
    assert n_after_refit == df.count()  # the refused run appended NOTHING
    # the refit-returned quantizer and its persisted round-trip both pass
    extra = spark.createDataFrame(
        [(9000, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    _run_ivf_sink(spark, tmp_path, extra, stats["ivf"], index_path, "sq_ck3")
    loaded = load_streamed_index_quantizer(spark, index_path)
    extra2 = spark.createDataFrame(
        [(9001, [2.0] * 8)], "vec_id long, embedding array<float>"
    )
    _run_ivf_sink(spark, tmp_path, extra2, loaded, index_path, "sq_ck4")
    assert spark.read.parquet(index_path).count() == df.count() + 2


def test_refit_due_policy(spark, tmp_path):
    """refit_due decides the reset cadence from the sidecar alone:
    false while the stream fits the fitted layout, true once
    rows_appended outgrows n_cells x target_cell_rows by the factor,
    false again right after the refit resets the bookkeeping."""
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        refit_due,
        refit_streamed_index,
    )

    df = _ivf_corpus(spark)  # 40 rows
    idx = IvfIndex(n_cells=2).fit(df, sample_size=64, iters=2)
    index_path = str(tmp_path / "rd_index")
    assert not refit_due(spark, index_path)  # no state at all
    _run_ivf_sink(spark, tmp_path, df, idx, index_path, "rd_ck1")
    # 40 rows vs 2 cells x 8 target = 16 fitted capacity: 40 >= 2*16 due
    assert refit_due(spark, index_path, target_cell_rows=8, factor=2.0)
    # but not at a capacity that still fits (2 cells x 1000)
    assert not refit_due(spark, index_path, target_cell_rows=1000)
    stats = refit_streamed_index(
        spark, index_path, target_cell_rows=8, min_cells=4
    )
    # refit recorded its own target_cell_rows: 40 rows vs 5 cells x 8 =
    # 40 fitted capacity -> below factor 2.0, not due (the argument is
    # overridden by the sidecar's recorded value)
    assert stats["n_cells_after"] == 5
    assert not refit_due(spark, index_path, target_cell_rows=1, factor=2.0)


def test_rebucket_due_policy(spark, tmp_path):
    """rebucket_due: the near-dup sibling of refit_due — due from the
    sidecar alone once appended docs outgrow n_buckets x
    target_bucket_rows; reset by the rebucket (which also replaces the
    redelivery-inclusive running count with the deduped doc count)."""
    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        rebucket_due,
        rebucket_neardup_state,
        stream_neardup_minhash_sink,
    )

    rows = [
        {"doc_id": i, "text": f"document number {i} with some words " * 3}
        for i in range(10)
    ]
    src = str(tmp_path / "rbd_src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    state, out = str(tmp_path / "rbd_state"), str(tmp_path / "rbd_out")
    assert not rebucket_due(spark, state)  # no state at all
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state, out, str(tmp_path / "rbd_ck"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
        state_buckets=2,
    )
    await_stream(q, 120, "neardup sink (rbd)")
    # 10 docs vs 2 buckets x 2 target = 4 capacity: 10 >= 2*4 -> due
    assert rebucket_due(spark, state, target_bucket_rows=2, factor=2.0)
    # not due at a capacity that still fits
    assert not rebucket_due(spark, state, target_bucket_rows=1000)
    rebucket_neardup_state(spark, state, new_buckets=8)
    # 10 docs vs 8 buckets x 2 = 16: below factor 2 -> not due
    assert not rebucket_due(spark, state, target_bucket_rows=2, factor=2.0)


def test_maybe_refit_and_maybe_rebucket_gated_forms(spark, tmp_path):
    """The gated reset forms: None when the stream fits the fitted
    layout (one sidecar read), the full reset when due — with the
    rebucket's new count derived from the accumulated doc count."""
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        maybe_rebucket_neardup_state,
        maybe_refit_streamed_index,
        stream_neardup_minhash_sink,
    )

    # IVF side: 40 rows, 2 bootstrap cells
    df = _ivf_corpus(spark)
    idx = IvfIndex(n_cells=2).fit(df, sample_size=64, iters=2)
    index_path = str(tmp_path / "mr_index")
    _run_ivf_sink(spark, tmp_path, df, idx, index_path, "mr_ck1")
    assert maybe_refit_streamed_index(spark, index_path) is None  # fits
    stats = maybe_refit_streamed_index(
        spark, index_path, target_cell_rows=8, min_cells=4
    )
    assert stats is not None and stats["n_cells_after"] == 5
    # immediately after: the refit reset the bookkeeping
    assert maybe_refit_streamed_index(spark, index_path, target_cell_rows=8) is None

    # near-dup side: 10 docs, 2 buckets at creation
    rows = [
        {"doc_id": i, "text": f"document number {i} with some words " * 3}
        for i in range(10)
    ]
    src = str(tmp_path / "mr_src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    state, out = str(tmp_path / "mr_state"), str(tmp_path / "mr_out")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state, out, str(tmp_path / "mr_nck"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
        state_buckets=2,
    )
    await_stream(q, 120, "neardup sink (mr)")
    assert maybe_rebucket_neardup_state(spark, state) is None  # fits
    st = maybe_rebucket_neardup_state(spark, state, target_bucket_rows=2)
    assert st is not None
    assert st["new_buckets"] == 5  # ceil(10 docs / 2 per bucket)
    assert maybe_rebucket_neardup_state(spark, state, target_bucket_rows=2) is None


def test_auto_maintain_compacts_on_redelivery_ivf(spark, tmp_path):
    """auto_maintain=True: a full redelivery (fresh checkpoint, batch
    ids restart) is detected and compacted inside the sink's own
    foreachBatch loop — no external maintenance call."""
    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import MAINT_REDELIVERY_KEY

    df = _ivf_corpus(spark, n=20)
    idx = IvfIndex(n_cells=2).fit(df, sample_size=64, iters=2)
    index_path = str(tmp_path / "am_index")
    _run_ivf_sink(
        spark, tmp_path, df, idx, index_path, "am_ck1", auto_maintain=True
    )
    # replay the SAME topic under a fresh checkpoint = full redelivery
    _run_ivf_sink(
        spark, tmp_path, df, idx, index_path, "am_ck2", auto_maintain=True
    )
    raw = spark.read.parquet(index_path)
    # physically deduped by the in-loop compaction (no reader dedup)
    assert raw.count() == df.count()
    meta = read_table_meta(spark, index_path)
    assert MAINT_REDELIVERY_KEY not in meta  # consumed by the reclaim


def test_auto_maintain_compacts_on_redelivery_neardup(spark, tmp_path):
    """Same contract for the near-dup sink: redelivered sets/bands rows
    are reclaimed by the sink's own loop."""
    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        stream_neardup_minhash_sink,
    )

    rows = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "text": "completely different words about spark and parquet"},
    ]
    src = str(tmp_path / "nd_src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    state, out = str(tmp_path / "nd_state"), str(tmp_path / "nd_out")
    for ck in ("nd_ck1", "nd_ck2"):  # second run = full redelivery
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_neardup_minhash_sink(
            stream, state, out, str(tmp_path / ck), spark,
            id_col="doc_id", text_col="text", trigger_once=True,
            state_buckets=4, auto_maintain=True,
        )
        await_stream(q, 120, f"neardup sink ({ck})")
    sets = spark.read.parquet(f"{state}/sets")
    assert sets.count() == len(rows)  # physically one row per doc


def test_atomic_sidecar_replace_and_tmp_adoption(spark, tmp_path):
    """hadoop_write_text_atomic leaves no tmp on success; a crash
    between its delete and rename (target missing, complete tmp
    present) is adopted transparently by read_table_meta."""
    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        TEXT_TMP_SUFFIX,
        hadoop_write_text_atomic,
        read_table_meta,
    )

    root = str(tmp_path / "atomic_root")
    os.makedirs(root)
    target = os.path.join(root, TABLE_META_FILE)
    hadoop_write_text_atomic(spark, target, json.dumps({"n_cells": 3}))
    assert not os.path.exists(target + TEXT_TMP_SUFFIX)
    assert read_table_meta(spark, root) == {"n_cells": 3}
    # simulate the delete-before-rename crash window
    with open(target + TEXT_TMP_SUFFIX, "w") as f:
        f.write(json.dumps({"n_cells": 9}))
    os.remove(target)
    assert read_table_meta(spark, root) == {"n_cells": 9}  # adopted
    assert os.path.exists(target)  # the adoption finished the rename
    assert not os.path.exists(target + TEXT_TMP_SUFFIX)


def test_rebucket_commit_marker_recovery(spark, tmp_path):
    """A crash AFTER the rebucket commit marker but before adoption is
    finished by the next state entry point: staged roots swap in, the
    marker's sidecar installs, the marker disappears — roots and
    sidecar can never disagree on the bucket count."""
    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        read_table_meta,
    )
    from bharatmlstack_spark.streaming.ingest import (
        REBUCKET_MARKER,
        await_stream,
        compact_neardup_state,
        stream_neardup_minhash_sink,
    )

    rows = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "text": "a second unrelated document about shuffles"},
    ]
    src = str(tmp_path / "rb_src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    state, out = str(tmp_path / "rb_state"), str(tmp_path / "rb_out")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state, out, str(tmp_path / "rb_ck"), spark,
        id_col="doc_id", text_col="text", trigger_once=True,
        state_buckets=4,
    )
    await_stream(q, 120, "neardup sink (rb)")
    old_meta = read_table_meta(spark, state)
    assert old_meta["n_buckets"] == 4

    # hand-build the post-marker crash state: staged sets re-bucketed
    # under 16, marker carrying the new sidecar, live roots still old
    sets = spark.read.parquet(f"{state}/sets").drop("__kb")
    (
        sets.withColumn("__kb", F.pmod(F.xxhash64("id"), F.lit(16)))
        .write.mode("overwrite")
        .partitionBy("__kb")
        .parquet(f"{state}/sets__rebucketing")
    )
    new_meta = dict(old_meta)
    new_meta.update({"n_buckets": 16, "batches_since_compact": 0})
    with open(os.path.join(state, REBUCKET_MARKER), "w") as f:
        f.write(
            json.dumps(
                {
                    "swaps": [[f"{state}/sets__rebucketing", f"{state}/sets"]],
                    "drops": [],
                    "meta": [os.path.join(state, TABLE_META_FILE), new_meta],
                }
            )
        )

    # ANY entry point finishes the commit — use the compactor
    compact_neardup_state(spark, state)
    meta = read_table_meta(spark, state)
    assert meta["n_buckets"] == 16
    assert not os.path.exists(os.path.join(state, REBUCKET_MARKER))
    assert not os.path.exists(f"{state}/sets__rebucketing")
    # the live sets root is the re-bucketed copy (16-bucket hashing)
    kb = {
        r["__kb"]
        for r in spark.read.parquet(f"{state}/sets")
        .select(F.pmod(F.xxhash64("id"), F.lit(16)).alias("want"), "__kb")
        .collect()
        if r["want"] != r["__kb"]
    }
    assert kb == set()


def test_refit_commit_marker_recovery(spark, tmp_path):
    """The refit analog: index stage (with its fresh sidecar inside) and
    quantizer stage adopt TOGETHER from a reader entry point — the
    re-bucketed index can never go live with the old quantizer."""
    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        read_table_meta,
    )
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        QUANTIZER_DIR_SUFFIX,
        REFIT_MARKER_SUFFIX,
        _write_quantizer,
        read_streamed_ivf_index,
    )

    df = _ivf_corpus(spark, n=24)
    idx0 = IvfIndex(n_cells=2).fit(df, sample_size=64, iters=2)
    index_path = str(tmp_path / "rf_index")
    _run_ivf_sink(spark, tmp_path, df, idx0, index_path, "rf_ck1")

    # hand-build the post-marker crash: a 4-cell refit staged but not
    # adopted (stage holds re-assigned rows + new sidecar; quantizer
    # stage holds the new centroids; marker present; live state old)
    idx1 = IvfIndex(n_cells=4).fit(df, sample_size=64, iters=2)
    stage = index_path + "__refitting"
    idx1.index(df).repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(stage)
    with open(os.path.join(stage, TABLE_META_FILE), "w") as f:
        f.write(json.dumps({"n_cells": 4, "batches_since_compact": 0}))
    _write_quantizer(spark, index_path + QUANTIZER_DIR_SUFFIX + "__refitting", idx1)
    quantizer = index_path + QUANTIZER_DIR_SUFFIX
    with open(index_path + REFIT_MARKER_SUFFIX, "w") as f:
        f.write(
            json.dumps(
                {
                    "swaps": [
                        [stage, index_path],
                        [quantizer + "__refitting", quantizer],
                    ],
                    "drops": [],
                    "meta": None,
                }
            )
        )

    # a reader entry point finishes the commit
    index = read_streamed_ivf_index(spark, index_path)
    assert index.count() == df.count()
    expected_cells = {
        r["cell"] for r in idx1.index(df).select("cell").distinct().collect()
    }
    got_cells = {r["cell"] for r in index.select("cell").distinct().collect()}
    assert got_cells == expected_cells  # the 4-cell assignment went live
    assert not os.path.exists(index_path + REFIT_MARKER_SUFFIX)
    assert not os.path.exists(stage)
    meta = read_table_meta(spark, index_path)
    assert meta["n_cells"] == 4  # the staged sidecar rode the rename
    qrows = spark.read.parquet(index_path + QUANTIZER_DIR_SUFFIX).count()
    assert qrows == 4  # the quantizer swapped WITH the index


def test_compactor_bailout_preserves_redelivery_flag(spark, tmp_path):
    """When every duplicate lives in a non-targetable partition dir
    (null key -> __HIVE_DEFAULT_PARTITION__), the compactor reclaims
    nothing and must NOT consume the redelivery signal: maintenance_due
    stays true; the batch counter still resets."""
    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        read_table_meta,
    )
    from bharatmlstack_spark.streaming.ingest import (
        MAINT_COUNTER_KEY,
        MAINT_REDELIVERY_KEY,
        compact_streamed_index,
        maintenance_due,
    )

    index_path = str(tmp_path / "bo_index")
    # duplicates ONLY under the null cell; cell=0 exists and is clean
    # (with no numeric dir at all the compactor takes the flat path)
    rows = [(1, None), (1, None), (2, 0)]
    df = spark.createDataFrame(rows, "vec_id long, cell int")
    df.write.partitionBy("cell").parquet(index_path)
    with open(os.path.join(index_path, TABLE_META_FILE), "w") as f:
        f.write(json.dumps({MAINT_COUNTER_KEY: 7, MAINT_REDELIVERY_KEY: True}))
    removed = compact_streamed_index(spark, index_path)
    assert removed == 0  # nothing targetable
    meta = read_table_meta(spark, index_path)
    assert meta[MAINT_REDELIVERY_KEY] is True  # signal preserved
    assert meta[MAINT_COUNTER_KEY] == 0  # cadence counter still reset
    assert maintenance_due(spark, index_path, every_n_batches=100)


def test_compactor_mixed_bailout_preserves_redelivery_flag(spark, tmp_path):
    """MIXED case: duplicates in BOTH a targetable numeric dir and the
    null-key dir — the numeric dir is rewritten but the surviving
    null-dir duplicates must still preserve the redelivery signal."""
    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        read_table_meta,
    )
    from bharatmlstack_spark.streaming.ingest import (
        MAINT_REDELIVERY_KEY,
        compact_streamed_index,
        maintenance_due,
    )

    index_path = str(tmp_path / "mix_index")
    rows = [(1, None), (1, None), (3, 1), (3, 1), (2, 0)]
    df = spark.createDataFrame(rows, "vec_id long, cell int")
    df.write.partitionBy("cell").parquet(index_path)
    with open(os.path.join(index_path, TABLE_META_FILE), "w") as f:
        f.write(json.dumps({MAINT_REDELIVERY_KEY: True}))
    removed = compact_streamed_index(spark, index_path)
    assert removed == 1  # the cell=1 duplicate reclaimed
    meta = read_table_meta(spark, index_path)
    assert meta[MAINT_REDELIVERY_KEY] is True  # null-dir dups survive
    assert maintenance_due(spark, index_path, every_n_batches=100)


def test_flat_compaction_swap_recovery(spark, tmp_path, monkeypatch):
    """A flat root whose compaction commit was killed mid-swap is finished
    by the next entry point: killed before the stage is renamed in (live
    moved aside), the compacted stage goes live; killed before the aside
    is dropped, the aside goes. Either way the marker holds the commit."""
    from bharatmlstack_spark import tablecommit
    from bharatmlstack_spark.streaming.ingest import (
        compact_streamed_index,
        read_streamed_ivf_index,
    )
    from bharatmlstack_spark.tablecommit import (
        ASIDE_SUFFIX,
        BUCKET_MARKER_SUFFIX,
        ROOT_STAGE_SUFFIX,
    )

    df = spark.createDataFrame([(1, 0), (1, 0), (2, 0)], "vec_id long, cell int")
    # (call to fail, its number): the stage's rename over the live root,
    # then the aside's delete
    for name, k in (("_rename", 2), ("_delete", 1)):
        root = str(tmp_path / f"fs_root{name}")
        df.write.parquet(root)  # flat: no cell= dirs
        real, calls = getattr(tablecommit, name), []

        def failing(*a, _real=real, _calls=calls, _k=k):
            _calls.append(a)
            if len(_calls) == _k:
                raise RuntimeError("killed")
            return _real(*a)

        with monkeypatch.context() as m:
            m.setattr(tablecommit, name, failing)
            with pytest.raises(RuntimeError, match="killed"):
                compact_streamed_index(spark, root)
        assert os.path.exists(root + BUCKET_MARKER_SUFFIX)
        out = read_streamed_ivf_index(spark, root, dedup=False)
        assert sorted(r.vec_id for r in out.collect()) == [1, 2]  # compacted
        for leftover in (ASIDE_SUFFIX, ROOT_STAGE_SUFFIX, BUCKET_MARKER_SUFFIX):
            assert not os.path.exists(root + leftover), (name, leftover)


def test_torn_first_sidecar_write_is_discarded(spark, tmp_path):
    """A crash mid-FIRST-write leaves a torn .__tmp with no target;
    read_table_meta must discard it (returning None, the recoverable
    pre-crash state) instead of adopting unparseable bytes that would
    brick every later read."""
    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        TEXT_TMP_SUFFIX,
        read_table_meta,
    )

    root = str(tmp_path / "torn_root")
    os.makedirs(root)
    torn = os.path.join(root, TABLE_META_FILE + TEXT_TMP_SUFFIX)
    with open(torn, "w") as f:
        f.write('{"n_cells": 3, "batches_si')  # truncated mid-write
    assert read_table_meta(spark, root) is None
    assert not os.path.exists(torn)  # discarded, not adopted
    assert read_table_meta(spark, root) is None  # and stays readable


def test_cross_dedup_empty_schema_matches_id_types(spark, tmp_path):
    """The no-state empty result carries the INCOMING id types (string
    here), not a hardcoded long — downstream unions must not fail only
    in the empty case."""
    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        hadoop_write_text_atomic,
    )
    from bharatmlstack_spark.streaming.ingest import cross_dedup_against_state

    state = str(tmp_path / "cd_state")
    os.makedirs(state)
    # a sidecar with signature params but no roots yet (sink crashed
    # between the sidecar write and the first append — a legal state)
    hadoop_write_text_atomic(
        spark,
        os.path.join(state, TABLE_META_FILE),
        json.dumps({"num_hashes": 64, "bands": 16, "shingle_n": 3}),
    )
    incoming = spark.createDataFrame(
        [("docA", "some words here for the probe side of things")],
        "doc_id string, text string",
    )
    out = cross_dedup_against_state(spark, state, incoming)
    assert out.count() == 0
    types = {f.name: f.dataType.simpleString() for f in out.schema}
    assert types == {"id_a": "string", "id_b": "string", "jaccard": "double"}
