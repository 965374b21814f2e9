"""Hardening pins for the tombstone family (review follow-ups): empty
waves, type-sensitive bucket derivation, root-validation guards,
maintenance_due on pending deletions, and crashed-purge-swap recovery."""

import json
import os

import pytest

from pyspark.sql import functions as F

from bharatmlstack_spark import tablecommit
from bharatmlstack_spark.streaming.ingest import (
    await_stream,
    bm25_search_streamed,
    compact_streamed_postings,
    delete_indexed_vectors,
    delete_neardup_docs,
    delete_postings_docs,
    fold_neardup_tombstones,
    fold_postings_tombstones,
    maintenance_due,
    stream_neardup_minhash_sink,
    stream_postings_sink,
)
from bharatmlstack_spark.tablecommit import (
    ASIDE_SUFFIX,
    BUCKET_MARKER_SUFFIX,
    ROOT_STAGE_SUFFIX,
)


@pytest.fixture()
def tiny_postings(spark, tmp_path):
    """An INT-id postings index (the sink accepts any id type; the
    tombstone cast must follow the stored type, not Python inference)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        f.write(json.dumps({"doc_id": 7, "text": "alpha beta gamma"}) + "\n")
        f.write(json.dumps({"doc_id": 8, "text": "delta epsilon"}) + "\n")
    index_path = str(tmp_path / "index")
    stream = spark.readStream.schema("doc_id int, text string").json(src)
    q = stream_postings_sink(
        stream, index_path, str(tmp_path / "ck"), spark,
        n_buckets=4, trigger_once=True,
    )
    await_stream(q, 120, "int-id postings sink")
    return index_path


def test_empty_deletion_wave_is_noop(spark, tiny_postings):
    """An empty id list returns 0 instead of crashing on schema
    inference — callers pass computed, possibly-empty retraction sets."""
    assert delete_postings_docs(spark, tiny_postings, []) == 0
    assert not os.path.exists(f"{tiny_postings}/tombstones")


def test_int_typed_index_fold_targets_derived_buckets(spark, tiny_postings):
    """Spark's xxhash64 is type-sensitive: the tombstone ids are cast to
    the STORED int id type, so the doclen purge (derived buckets — no
    detection scan) targets the right dirs and physically removes the
    deleted doc; the recomputed stats count only the survivor."""
    from bharatmlstack_spark.operators.feature_store import read_table_meta

    assert delete_postings_docs(spark, tiny_postings, [7]) == 1
    stats = compact_streamed_postings(spark, tiny_postings)
    assert stats["tombstones_folded"] == 1
    assert stats["purged_doclen"] == 1  # the derived-bucket purge hit
    dl = spark.read.parquet(f"{tiny_postings}/doclen")
    assert [r["id"] for r in dl.collect()] == [8]
    assert read_table_meta(spark, tiny_postings)["n_docs"] == 1


def test_delete_on_missing_roots_refuses(spark, tmp_path):
    """A typo'd path must raise, not silently create a tombstone table
    nothing will ever read (the postings surface already guarded; the
    IVF and near-dup surfaces must too)."""
    with pytest.raises(RuntimeError, match="does not exist"):
        delete_indexed_vectors(spark, str(tmp_path / "no_such_index"), [1])
    with pytest.raises(RuntimeError, match="no sets root"):
        delete_neardup_docs(spark, str(tmp_path / "no_such_state"), [1])


def test_pending_tombstones_make_maintenance_due(spark, tiny_postings):
    """A deletion wave is reclaimable work: maintenance_due reports it
    even with zero redeliveries and a fresh batch counter, so the
    maybe_* gates fold it instead of paying the per-search mask forever."""
    compact_streamed_postings(spark, tiny_postings)  # counters at zero
    assert not maintenance_due(spark, tiny_postings, every_n_batches=64)
    delete_postings_docs(spark, tiny_postings, [8])
    assert maintenance_due(spark, tiny_postings, every_n_batches=64)
    compact_streamed_postings(spark, tiny_postings)
    assert not maintenance_due(spark, tiny_postings, every_n_batches=64)


class _Crash(Exception):
    pass


def _crash_mid_root_swap(monkeypatch, root, op):
    """Run ``op`` with the rename of ``root``'s stage over it failing: the
    commit marker is written and the live root is already aside."""
    real = tablecommit._rename

    def failing(spark, src, dst):
        if dst == root:
            raise _Crash(src)
        return real(spark, src, dst)

    with monkeypatch.context() as m:
        m.setattr(tablecommit, "_rename", failing)
        with pytest.raises(_Crash):
            op()
    assert os.path.exists(root + BUCKET_MARKER_SUFFIX)
    assert os.path.exists(root + ASIDE_SUFFIX)


def test_crashed_purge_swap_recovers_before_tombstone_consumption(
    spark, tmp_path, monkeypatch
):
    """A fold killed while swapping the purged flat bands root in (live
    moved aside, stage not yet renamed) is finished by the retried fold
    before it looks at the root — returning 0 for the missing root would
    let the caller delete the tombstone table and resurrect the deleted
    doc's band rows forever."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "the quick brown fox"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "unrelated text rows"}) + "\n")
    state_dir = str(tmp_path / "state")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_neardup_minhash_sink(
        stream, state_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
        spark, id_col="doc_id", text_col="text", trigger_once=True,
        state_buckets=4,  # hybrid default: bands root is FLAT
    )
    await_stream(q, 120, "crash-sim sink")
    delete_neardup_docs(spark, state_dir, [1])
    bands_path = f"{state_dir}/bands"
    _crash_mid_root_swap(
        monkeypatch, bands_path, lambda: fold_neardup_tombstones(spark, state_dir)
    )
    assert not os.path.exists(bands_path)
    assert os.path.exists(f"{state_dir}/tombstones")  # the mask still holds
    stats = fold_neardup_tombstones(spark, state_dir)
    assert stats["tombstones"] == 1
    bands = spark.read.parquet(bands_path)  # finished: the purged copy
    assert bands.filter(F.col("id") == 1).count() == 0
    assert bands.filter(F.col("id") == 2).count() > 0
    for leftover in (ASIDE_SUFFIX, ROOT_STAGE_SUFFIX, BUCKET_MARKER_SUFFIX):
        assert not os.path.exists(bands_path + leftover), leftover
    assert not os.path.exists(f"{state_dir}/tombstones")


def test_noop_fold_skips_identical_rewrite(spark, tiny_postings):
    """Deleting an absent id derives real bucket dirs but the anti-join
    removes nothing: the purge must NOT rewrite identical data (mtime
    pin on the doclen bucket files)."""
    delete_postings_docs(spark, tiny_postings, [99999])  # absent id
    dl_root = f"{tiny_postings}/doclen"
    before = {
        os.path.join(d, f): os.path.getmtime(os.path.join(dl_root, d, f))
        for d in os.listdir(dl_root)
        if os.path.isdir(os.path.join(dl_root, d))
        for f in os.listdir(os.path.join(dl_root, d))
    }
    stats = fold_postings_tombstones(spark, tiny_postings)
    assert stats["doclen_removed"] == 0
    after = {
        os.path.join(d, f): os.path.getmtime(os.path.join(dl_root, d, f))
        for d in os.listdir(dl_root)
        if os.path.isdir(os.path.join(dl_root, d))
        for f in os.listdir(os.path.join(dl_root, d))
    }
    assert before == after
    assert not os.path.exists(f"{tiny_postings}/tombstones")


def test_auto_maintain_folds_pending_deletion_in_loop(spark, tmp_path):
    """A deletion between sink runs is folded by the sink's own
    auto_maintain pass (maintenance_due reports the tombstones): the
    resumed stream appends AND reclaims, no external compactor call."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "alpha beta"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "gamma delta"}) + "\n")
    index_path = str(tmp_path / "index")

    def run(ck):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_postings_sink(
            stream, index_path, str(tmp_path / ck), spark,
            n_buckets=4, trigger_once=True,
            auto_maintain=True, maintain_every_n_batches=1000,
        )
        await_stream(q, 120, f"auto-fold sink ({ck})")

    run("ck1")
    delete_postings_docs(spark, index_path, [1])
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": "epsilon zeta"}) + "\n")
    run("ck1")  # same checkpoint: only the new file arrives
    assert not os.path.exists(f"{index_path}/tombstones")  # folded in-loop
    dl = spark.read.parquet(f"{index_path}/doclen")
    assert sorted(r["id"] for r in dl.collect()) == [2, 3]
    out = bm25_search_streamed(spark, index_path, ["alpha"], k=5)
    assert out.count() == 0  # the deleted doc's postings are gone


def test_null_id_tombstones_rejected(spark, tiny_postings):
    """NULL ids are loudly refused at delete time (ADVICE r12): the
    anti-join mask and the fold's purge never match NULL, so a null
    tombstone would stay visible in every search yet be consumed by the
    next fold — three arrival shapes, one refusal."""
    # a plain list containing None (would also crash schema inference)
    with pytest.raises(ValueError, match="NULL id"):
        delete_postings_docs(spark, tiny_postings, [7, None])
    # a DataFrame wave with a null row
    wave = spark.createDataFrame([(7,), (None,)], "doc_id int")
    with pytest.raises(ValueError, match="NULL id"):
        delete_postings_docs(spark, tiny_postings, wave)
    # a wave whose ids do not CAST to the stored int type (cast -> null
    # -> the same never-matchable tombstone)
    bad = spark.createDataFrame([("not-a-number",)], "doc_id string")
    with pytest.raises(ValueError, match="NULL id"):
        delete_postings_docs(spark, tiny_postings, bad)
    # nothing was recorded by any refused wave
    assert not os.path.exists(f"{tiny_postings}/tombstones")
    # a castable-but-string-typed wave still works (cast discipline)
    ok = spark.createDataFrame([("7",)], "doc_id string")
    assert delete_postings_docs(spark, tiny_postings, ok) == 1


def test_delete_indexed_vectors_recovers_crashed_swap(spark, tmp_path, monkeypatch):
    """delete_indexed_vectors runs the same crash-recovery preamble as
    every other IVF entry point (ADVICE r12): after a root commit of the
    index was killed with the live root moved aside, the delete must
    finish the commit and record the tombstone instead of raising 'does
    not exist'."""
    import numpy as np

    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        read_streamed_ivf_index,
        stream_ann_ivf_sink,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = IvfIndex(n_cells=2).fit(df, sample_size=32, iters=2)
    index_path = str(tmp_path / "cr_index")
    topic = str(tmp_path / "cr_topic")
    df.write.parquet(topic)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(topic)
    q = stream_ann_ivf_sink(
        stream, idx, index_path, str(tmp_path / "cr_ck"), spark,
        trigger_once=True,
    )
    await_stream(q, 120, "ivf sink (crash-recovery delete)")

    _crash_mid_root_swap(
        monkeypatch,
        index_path,
        lambda: tablecommit.commit_root(
            spark.read.parquet(index_path), index_path, partition_col="cell"
        ),
    )
    assert not os.path.exists(index_path)
    assert delete_indexed_vectors(spark, index_path, [3]) == 1
    assert os.path.exists(index_path)  # the preamble finished the commit
    assert not os.path.exists(index_path + BUCKET_MARKER_SUFFIX)
    masked = read_streamed_ivf_index(spark, index_path)
    assert 3 not in {r["vec_id"] for r in masked.collect()}


def test_empty_search_schemas_agree(spark, tmp_path):
    """The two streamed searches' empty paths share one id-type lookup
    (ADVICE r12): the same missing-term query yields the same id type
    from BM25 and phrase search — doclen-derived when doclen exists,
    'long' on a never-fed index. They used to disagree (string vs long)."""
    import json as _json

    from pyspark.sql import functions as F

    from bharatmlstack_spark.operators.feature_store import TABLE_META_FILE
    from bharatmlstack_spark.streaming.ingest import (
        POSTINGS_TOKENIZER,
        phrase_search_streamed,
    )

    src = str(tmp_path / "es_src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        f.write(_json.dumps({"doc_id": 1, "text": "alpha beta"}) + "\n")
    index_path = str(tmp_path / "es_index")
    stream = spark.readStream.schema("doc_id int, text string").json(src)
    q = stream_postings_sink(
        stream, index_path, str(tmp_path / "es_ck"), spark,
        n_buckets=4, trigger_once=True, store_positions=True,
    )
    await_stream(q, 120, "positional sink (empty-schema agreement)")

    # find a term whose bucket dir does NOT exist (<=2 of 4 occupied)
    present = {
        int(d.split("=")[1])
        for d in os.listdir(f"{index_path}/postings")
        if d.startswith("term_bucket=")
    }
    cands = [f"zz{i}" for i in range(40)]
    cdf = spark.createDataFrame([(t,) for t in cands], "term string")
    missing = next(
        r["term"]
        for r in cdf.select(
            "term", F.pmod(F.xxhash64("term"), F.lit(4)).alias("b")
        ).collect()
        if r["b"] not in present
    )
    b = bm25_search_streamed(spark, index_path, [missing], k=5)
    p = phrase_search_streamed(spark, index_path, missing)
    assert b.count() == 0 and p.count() == 0
    assert b.schema["doc_id"].dataType == p.schema["doc_id"].dataType
    # doclen-derived: the stored int type, not an inference default
    assert b.schema["doc_id"].dataType.simpleString() == "int"

    # never-fed index (sidecar only, no doclen): both fall back to long
    bare = str(tmp_path / "es_bare")
    os.makedirs(bare)
    with open(os.path.join(bare, TABLE_META_FILE), "w") as f:
        f.write(_json.dumps({
            "n_buckets": 4, "tokenizer": POSTINGS_TOKENIZER,
            "id_col": "doc_id", "positions": True,
        }))
    b2 = bm25_search_streamed(spark, bare, ["alpha"], k=5)
    p2 = phrase_search_streamed(spark, bare, "alpha")
    assert b2.schema["doc_id"].dataType.simpleString() == "bigint"
    assert p2.schema["doc_id"].dataType.simpleString() == "bigint"


def test_maintenance_due_can_ignore_steady_state_tombstones(spark, tiny_postings):
    """count_tombstones=False (the VERSIONED sinks' in-loop cadence):
    pending tombstones alone do not make maintenance due — on an
    update-heavy stream they are steady state and folding per batch
    would rewrite ~the whole postings root every micro-batch; the
    counter/redelivery signals still fire, and offline callers keep the
    default True so explicit deletion waves fold promptly."""
    compact_streamed_postings(spark, tiny_postings)  # counters at zero
    delete_postings_docs(spark, tiny_postings, [7])
    assert maintenance_due(spark, tiny_postings, every_n_batches=64)
    assert not maintenance_due(
        spark, tiny_postings, every_n_batches=64, count_tombstones=False
    )
    # the counter signal still fires with the flag off
    assert maintenance_due(
        spark, tiny_postings, every_n_batches=0, count_tombstones=False
    )
