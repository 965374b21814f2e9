"""Streamed inverted index (BM25) vs its DuckDB twin — the staged tier
for queries_text.stream_bm25_search (rotation protocol (b): the driver's
exact comparison runs here until a retirement frees a registry slot, the
path tests/test_refit_staged.py took to graduate ann_refit_search in r12).
One gate run covers: streamed build == batch BM25 under full at-least-once
redelivery, physical reclaim by compact_streamed_postings, the layout
guard's refuse-to-mis-hash stance, and the maintenance cadence policy."""

import os

import duckdb
import pytest

from pyspark.sql import functions as F

from bharatmlstack_spark.queries_text import (
    _BM25_TERMS,
    STAGED_ORACLES,
    stream_bm25_search,
)
from bharatmlstack_spark.streaming.ingest import (
    await_stream,
    bm25_search_streamed,
    compact_streamed_postings,
    maintenance_due,
    maybe_compact_streamed_postings,
    stream_postings_sink,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    return c


@pytest.fixture(scope="module")
def raw_index(spark, tmp_path_factory):
    """A streamed postings index over the sf documents corpus with one
    FULL redelivery (the 3-file topic replayed under a fresh checkpoint)
    and NO compaction — the duplicate-laden state the in-plan dedup and
    the compactor are measured against."""
    work = str(tmp_path_factory.mktemp("bm25stream"))
    topic, index_path = f"{work}/topic", f"{work}/index"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.repartition(3).write.parquet(topic)
    for replay in ("ckpt1", "ckpt2"):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_postings_sink(
            stream, index_path, f"{work}/{replay}", spark,
            n_buckets=16, trigger_once=True,
        )
        await_stream(q, 600, f"stream_postings_sink (replay {replay})")
    return index_path


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _oracle_rows(con, sql, spark_cols):
    rel = con.sql(sql)
    assert sorted(rel.columns) == sorted(spark_cols)
    idx = [rel.columns.index(c) for c in sorted(spark_cols)]
    return sorted(tuple(r[i] for i in idx) for r in rel.fetchall())


def test_stream_bm25_search_matches_duckdb_oracle(spark, con):
    """Driver-identical comparison for the staged row: same columns,
    order-insensitive values, vs the registered bm25_topk twin (the
    streamed query replays, compacts, then searches dedup=False)."""
    out = stream_bm25_search(spark, SF_DIR)
    got = _rows(out)
    ref = _oracle_rows(con, STAGED_ORACLES["stream_bm25_search"], out.columns)
    assert len(got) == 10  # vacuous-pass guard
    assert got == ref


def test_redelivered_index_dedups_in_plan(spark, con, raw_index):
    """Before any compaction the state holds one byte-identical copy of
    every posting; dedup=True must still reproduce batch BM25 exactly."""
    post = spark.read.parquet(f"{raw_index}/postings")
    total = post.count()
    assert total == 2 * post.dropDuplicates(["term", "id"]).count()
    out = bm25_search_streamed(
        spark, raw_index, _BM25_TERMS, k=10, dedup=True
    ).select("doc_id", "score", F.col("rank").cast("int").alias("rank"))
    got = _rows(out)
    ref = _oracle_rows(con, STAGED_ORACLES["stream_bm25_search"], out.columns)
    assert got == ref


def test_layout_guard_refuses_mismatched_buckets(spark, raw_index):
    """Appending with a different n_buckets would scatter terms across
    buckets — the sink must refuse at start, before any write."""
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{os.path.dirname(raw_index)}/topic")
    )
    with pytest.raises(RuntimeError, match="mis-hashed"):
        stream_postings_sink(
            stream, raw_index, f"{os.path.dirname(raw_index)}/ckpt_bad",
            spark, n_buckets=32, trigger_once=True,
        )


def test_maintenance_policy_reclaims_redelivery(spark, con, raw_index):
    """The replayed checkpoint re-numbers batches from 0, so the sidecar
    flags redelivery -> maintenance_due -> maybe_compact reclaims the
    physical copies -> dedup=False reproduces batch BM25 and the flag
    clears. (Mutates the shared fixture: tests after this one see the
    compacted state and must not assume pre-compaction duplicates.)"""
    assert maintenance_due(spark, raw_index, every_n_batches=64)
    stats = maybe_compact_streamed_postings(spark, raw_index)
    assert stats is not None and not stats["bailed"]
    assert stats["postings_removed"] > 0 and stats["doclen_removed"] > 0
    post = spark.read.parquet(f"{raw_index}/postings")
    assert post.count() == post.dropDuplicates(["term", "id"]).count()
    dl = spark.read.parquet(f"{raw_index}/doclen")
    assert dl.count() == dl.dropDuplicates(["id"]).count()
    out = bm25_search_streamed(
        spark, raw_index, _BM25_TERMS, k=10, dedup=False
    ).select("doc_id", "score", F.col("rank").cast("int").alias("rank"))
    got = _rows(out)
    ref = _oracle_rows(con, STAGED_ORACLES["stream_bm25_search"], out.columns)
    assert got == ref
    assert not maintenance_due(spark, raw_index, every_n_batches=64)


def test_unindexed_terms_empty_result_keeps_stored_id_type(spark, raw_index):
    """Terms that hash to absent buckets return an EMPTY frame whose id
    column type comes from the stored doclen table, not a hardcoded
    string — the schema must not depend on whether a bucket matched."""
    out = bm25_search_streamed(
        spark, raw_index, ["zzz_never_a_token_zzz"], k=5
    )
    # 16 buckets over the sf corpus: every bucket exists, so this term's
    # bucket DOES exist and the empty frame comes from the term filter —
    # also probe the no-dir path via a fresh root with only a sidecar
    assert out.count() == 0
    assert out.schema["doc_id"].dataType.simpleString() == "bigint"
    assert [f.name for f in out.schema.fields] == ["doc_id", "score", "rank"]


def test_auto_maintain_compacts_on_redelivery(spark, tmp_path):
    """auto_maintain=True: the replayed checkpoint's non-monotonic batch
    ids flag redelivery in-loop and the sink's own foreachBatch reclaims
    — the final state is physically duplicate-free with no external
    compactor call (the ivf/neardup sinks' contract, fourth member)."""
    work = str(tmp_path)
    topic, index_path = f"{work}/topic", f"{work}/index"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.repartition(3).write.parquet(topic)
    for replay in ("ckpt1", "ckpt2"):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_postings_sink(
            stream, index_path, f"{work}/{replay}", spark,
            n_buckets=16, trigger_once=True,
            auto_maintain=True, maintain_every_n_batches=1000,
        )
        await_stream(q, 600, f"auto-maintain postings ({replay})")
    post = spark.read.parquet(f"{index_path}/postings")
    assert post.count() == post.dropDuplicates(["term", "id"]).count()
    dl = spark.read.parquet(f"{index_path}/doclen")
    assert dl.count() == dl.dropDuplicates(["id"]).count()
    assert not maintenance_due(spark, index_path, every_n_batches=1000)


def test_rebucket_postings_lifecycle(spark, con, tmp_path):
    """The inverted-index reset job end to end: a redelivered 16-bucket
    index re-buckets to 5 — search results are IDENTICAL through the
    migration (same oracle), redelivery copies are folded into the
    rewrite, the sidecar records the new count and zeroed counters, a
    sink restarted with the old count is refused, and the due policy
    gates the whole thing from one sidecar read."""
    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import (
        maybe_rebucket_postings_index,
        rebucket_postings_due,
        rebucket_postings_index,
    )

    work = str(tmp_path)
    topic, index_path = f"{work}/topic", f"{work}/index"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.repartition(3).write.parquet(topic)
    for replay in ("ckpt1", "ckpt2"):  # second pass = full redelivery
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_postings_sink(
            stream, index_path, f"{work}/{replay}", spark,
            n_buckets=16, trigger_once=True,
        )
        await_stream(q, 600, f"rebucket-lifecycle sink ({replay})")

    before = bm25_search_streamed(
        spark, index_path, _BM25_TERMS, k=10, dedup=True
    )
    ref = _oracle_rows(
        con, STAGED_ORACLES["stream_bm25_search"],
        ["doc_id", "score", "rank"],
    )
    got_before = sorted(
        (r["doc_id"], int(r["rank"]), r["score"]) for r in before.collect()
    )
    assert sorted(ref) == got_before  # _oracle_rows cols: doc_id, rank, score

    # not due at a sane target; due at a tiny one (policy math)
    assert not rebucket_postings_due(spark, index_path, 1_000_000)
    assert rebucket_postings_due(spark, index_path, target_bucket_rows=10)

    stats = rebucket_postings_index(spark, index_path, 5)
    assert stats["old_buckets"] == 16 and stats["new_buckets"] == 5
    assert stats["rows_removed"] > 0  # the redelivery copies folded in
    meta = read_table_meta(spark, index_path)
    assert meta["n_buckets"] == 5 and meta["batches_since_compact"] == 0
    assert "redelivery_suspected" not in meta

    after = bm25_search_streamed(
        spark, index_path, _BM25_TERMS, k=10, dedup=False
    )
    got_after = sorted(
        (r["doc_id"], int(r["rank"]), r["score"]) for r in after.collect()
    )
    assert got_after == got_before

    # the old bucket count is now a refused layout
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(topic)
    )
    with pytest.raises(RuntimeError, match="mis-hashed"):
        stream_postings_sink(
            stream, index_path, f"{work}/ckpt_old", spark,
            n_buckets=16, trigger_once=True,
        )

    # gated form: due at a tiny target, re-targets per-bucket population
    out = maybe_rebucket_postings_index(spark, index_path, target_bucket_rows=10)
    assert out is not None and out["old_buckets"] == 5
    assert out["new_buckets"] >= out["postings_rows"] // 10
    assert maybe_rebucket_postings_index(spark, index_path) is None  # not due


def test_postings_rebucket_marker_recovery(spark, tmp_path):
    """A crash AFTER the commit marker but before adoption: the next
    entry point (here the compactor) swaps the staged subroots in,
    installs the marker's sidecar, and drops the marker — bucket dirs
    and sidecar can never disagree on the modulus."""
    import json

    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        read_table_meta,
    )
    from bharatmlstack_spark.streaming.ingest import (
        POSTINGS_REBUCKET_MARKER,
        compact_streamed_postings,
    )

    rows = [
        {"doc_id": 1, "text": "the quick brown fox"},
        {"doc_id": 2, "text": "a second document about joins"},
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    index_path = str(tmp_path / "index")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_postings_sink(
        stream, index_path, str(tmp_path / "ck"), spark,
        n_buckets=4, trigger_once=True,
    )
    await_stream(q, 120, "postings sink (marker recovery)")
    old_meta = read_table_meta(spark, index_path)
    assert old_meta["n_buckets"] == 4

    # hand-build the post-marker crash: both subroots staged under 8,
    # marker carrying the new sidecar, live roots still 4-bucket
    post = spark.read.parquet(f"{index_path}/postings").drop("term_bucket")
    (
        post.withColumn("term_bucket", F.pmod(F.xxhash64("term"), F.lit(8)))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(f"{index_path}/postings__rebucketing")
    )
    dl = spark.read.parquet(f"{index_path}/doclen").drop("id_bucket")
    (
        dl.withColumn("id_bucket", F.pmod(F.xxhash64("id"), F.lit(8)))
        .write.mode("overwrite").partitionBy("id_bucket")
        .parquet(f"{index_path}/doclen__rebucketing")
    )
    new_meta = dict(old_meta)
    new_meta.update({"n_buckets": 8, "batches_since_compact": 0})
    with open(os.path.join(index_path, POSTINGS_REBUCKET_MARKER), "w") as f:
        f.write(
            json.dumps(
                {
                    "swaps": [
                        [f"{index_path}/{sub}__rebucketing", f"{index_path}/{sub}"]
                        for sub in ("postings", "doclen")
                    ],
                    "drops": [],
                    "meta": [os.path.join(index_path, TABLE_META_FILE), new_meta],
                }
            )
        )

    compact_streamed_postings(spark, index_path)  # any entry point
    meta = read_table_meta(spark, index_path)
    assert meta["n_buckets"] == 8
    assert not os.path.exists(os.path.join(index_path, POSTINGS_REBUCKET_MARKER))
    assert not os.path.exists(f"{index_path}/postings__rebucketing")
    # live postings are hashed under the NEW modulus
    bad = (
        spark.read.parquet(f"{index_path}/postings")
        .select(
            F.pmod(F.xxhash64("term"), F.lit(8)).alias("want"), "term_bucket"
        )
        .filter(F.col("want") != F.col("term_bucket"))
        .count()
    )
    assert bad == 0
    # and a search through the recovered index still works
    out = bm25_search_streamed(spark, index_path, ["fox", "joins"], k=2)
    assert out.count() == 2


def test_cached_corpus_stats_rollforward(spark, con, raw_index):
    """After compaction the sidecar carries (n_docs, sum_dl) and the
    search's stats come from it (counter==0 witnesses freshness) —
    results must be IDENTICAL to the doclen-scan path, which is forced
    by dropping the cache keys from the REAL sidecar (TABLE_META_FILE).
    Compacts first (idempotent) so the test is order-independent."""
    import json

    from bharatmlstack_spark.operators.feature_store import (
        TABLE_META_FILE,
        hadoop_write_text_atomic,
        read_table_meta,
    )

    compact_streamed_postings(spark, raw_index)
    meta = read_table_meta(spark, raw_index)
    dl = spark.read.parquet(f"{raw_index}/doclen")
    assert meta["n_docs"] == dl.count()
    assert meta["sum_dl"] == dl.agg(F.sum("dl")).collect()[0][0]
    assert meta["batches_since_compact"] == 0

    cached = bm25_search_streamed(
        spark, raw_index, _BM25_TERMS, k=10, dedup=False
    )
    got_cached = _rows(
        cached.select("doc_id", "score", F.col("rank").cast("int").alias("rank"))
    )
    # force the scan path and compare
    scan_meta = dict(meta)
    scan_meta.pop("n_docs"), scan_meta.pop("sum_dl")
    # through the hadoop writer: a plain open() rewrite would invalidate
    # the local FS .crc the sidecar carries
    hadoop_write_text_atomic(
        spark, os.path.join(raw_index, TABLE_META_FILE), json.dumps(scan_meta)
    )
    assert "n_docs" not in read_table_meta(spark, raw_index)  # scan forced
    scanned = bm25_search_streamed(
        spark, raw_index, _BM25_TERMS, k=10, dedup=False
    )
    got_scan = _rows(
        scanned.select("doc_id", "score", F.col("rank").cast("int").alias("rank"))
    )
    assert got_cached == got_scan
    ref = _oracle_rows(
        con, STAGED_ORACLES["stream_bm25_search"], ["doc_id", "score", "rank"]
    )
    assert got_cached == ref
    # restore the cache for any later reader
    hadoop_write_text_atomic(
        spark, os.path.join(raw_index, TABLE_META_FILE), json.dumps(meta)
    )


def test_null_id_rows_compact_and_invalid_cache_drops(spark, tmp_path):
    """Null doc ids are NOT a bail case for this layout — xxhash64(NULL)
    is a non-null hash, so every row lands in a numeric bucket dir the
    compactor can target (unlike the near-dup sets keyed pre-hash). The
    replayed null-id corpus must therefore compact clean, cache fresh
    stats that count the null doc once, and an invalidation pass
    (valid=False — the guard a genuinely bailed rewrite takes) must drop
    the cached keys."""
    import json

    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import _cache_postings_stats

    rows = [
        {"doc_id": 7, "text": "alpha beta"},
        {"doc_id": None, "text": "null id doc"},
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    index_path = str(tmp_path / "index")
    for ck in ("ck1", "ck2"):  # replay = duplicates, incl. the null id
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_postings_sink(
            stream, index_path, str(tmp_path / ck), spark,
            n_buckets=4, trigger_once=True,
        )
        await_stream(q, 120, f"postings sink null-id ({ck})")
    stats = compact_streamed_postings(spark, index_path)
    assert not stats["bailed"]
    assert stats["doclen_removed"] == 2  # both docs' redelivery copies
    meta = read_table_meta(spark, index_path)
    assert meta["n_docs"] == 2 and meta["sum_dl"] == 5
    _cache_postings_stats(spark, index_path, valid=False)
    meta = read_table_meta(spark, index_path)
    assert "n_docs" not in meta and "sum_dl" not in meta


def test_search_plan_reads_only_query_buckets(spark, raw_index):
    """Plan pin: the search's postings input files all live under the
    query terms' term_bucket dirs (targeted-path read, never the root),
    no CartesianProduct appears (the 1-row stats fold broadcasts), and
    the cached-stats path reads NOTHING from doclen. Compacts first
    (idempotent) so the stats cache is fresh regardless of test order."""
    compact_streamed_postings(spark, raw_index)
    # earlier tests persisted an identical pruned-postings fragment; the
    # CacheManager would substitute it and hide the file-level plan
    spark.catalog.clearCache()
    out = bm25_search_streamed(
        spark, raw_index, _BM25_TERMS, k=10, dedup=False,
        persist_postings=False,  # a persisted lineage reports no inputFiles
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    tdf = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
    want = {
        f"/term_bucket={r[0]}/"
        for r in tdf.select(
            F.pmod(F.xxhash64("term"), F.lit(16)).alias("b")
        ).collect()
    }
    files = out.inputFiles()
    assert files  # the pruned read is non-empty
    for f in files:
        assert "/doclen/" not in f  # cached stats: no corpus-sized input
        assert any(w in f for w in want), f"file outside query buckets: {f}"


def test_stats_cache_tracks_corpus_growth(spark, tmp_path):
    """compact -> cache(n_docs=2) -> append a 3rd doc (counter>0: cache
    untrusted, scan path) -> compact again -> cache recomputed to 3.
    The compactor drops the old cache BEFORE resetting the counter, so
    no crash point can leave counter==0 with a previous corpus's stats
    (the ordering documented in compact_streamed_postings)."""
    import json

    from bharatmlstack_spark.operators.feature_store import read_table_meta

    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "alpha beta"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "beta gamma delta"}) + "\n")
    index_path = str(tmp_path / "index")

    def run_sink(ck):
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = stream_postings_sink(
            stream, index_path, str(tmp_path / ck), spark,
            n_buckets=4, trigger_once=True,
        )
        await_stream(q, 120, f"postings growth sink ({ck})")

    run_sink("ck1")
    compact_streamed_postings(spark, index_path)
    meta = read_table_meta(spark, index_path)
    assert meta["n_docs"] == 2 and meta["sum_dl"] == 5

    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": "beta epsilon"}) + "\n")
    run_sink("ck1")  # same checkpoint: only the NEW file is a batch
    meta = read_table_meta(spark, index_path)
    assert meta["batches_since_compact"] > 0  # cache now untrusted
    # scan path must already see the 3-doc corpus
    out = bm25_search_streamed(spark, index_path, ["beta"], k=5)
    assert out.count() == 3

    compact_streamed_postings(spark, index_path)
    meta = read_table_meta(spark, index_path)
    assert meta["n_docs"] == 3 and meta["sum_dl"] == 7
    out = bm25_search_streamed(spark, index_path, ["beta"], k=5, dedup=False)
    assert out.count() == 3  # cached path, fresh stats


_DELETED = (3, 8, 11)  # includes pre-delete top scorers, so ranks reshuffle


def _bm25_oracle_excluding(ids):
    """The registered bm25_topk twin over the corpus minus deleted docs —
    deletion must affect df, N, and avgdl exactly as if the docs never
    existed."""
    excl = ", ".join(str(i) for i in ids)
    return STAGED_ORACLES["stream_bm25_search"].replace(
        "FROM documents",
        f"FROM documents WHERE doc_id NOT IN ({excl})",
    )


def test_delete_docs_search_matches_shrunk_corpus_oracle(spark, con, tmp_path):
    """Tombstoned docs leave the results, df, N, and avgdl IMMEDIATELY
    (broadcast anti-join) — search equals batch BM25 over the shrunk
    corpus; compaction then folds the tombstones physically and the
    same oracle still gates the dedup=False cached-stats path."""
    from bharatmlstack_spark.operators.feature_store import read_table_meta
    from bharatmlstack_spark.streaming.ingest import (
        delete_postings_docs,
    )

    work = str(tmp_path)
    topic, index_path = f"{work}/topic", f"{work}/index"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.repartition(3).write.parquet(topic)
    for replay in ("ckpt1", "ckpt2"):  # redelivery too: both reclaims fold
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_postings_sink(
            stream, index_path, f"{work}/{replay}", spark,
            n_buckets=16, trigger_once=True,
        )
        await_stream(q, 600, f"delete-test sink ({replay})")

    assert delete_postings_docs(spark, index_path, list(_DELETED)) == 3
    ref = _oracle_rows(
        con, _bm25_oracle_excluding(_DELETED), ["doc_id", "score", "rank"]
    )
    out = bm25_search_streamed(
        spark, index_path, _BM25_TERMS, k=10, dedup=True
    ).select("doc_id", "score", F.col("rank").cast("int").alias("rank"))
    got = _rows(out)
    assert got == ref
    assert not any(r[0] in _DELETED for r in got)

    # compaction folds: physical purge + redelivery dedup + fresh stats
    stats = compact_streamed_postings(spark, index_path)
    assert stats["tombstones_folded"] == 3
    assert stats["purged_doclen"] == 2 * 3  # both redelivery copies
    assert not os.path.exists(f"{index_path}/tombstones")
    post = spark.read.parquet(f"{index_path}/postings")
    assert post.filter(F.col("id").isin(*_DELETED)).count() == 0
    meta = read_table_meta(spark, index_path)
    dl = spark.read.parquet(f"{index_path}/doclen")
    assert meta["n_docs"] == dl.count()
    out2 = bm25_search_streamed(
        spark, index_path, _BM25_TERMS, k=10, dedup=False
    ).select("doc_id", "score", F.col("rank").cast("int").alias("rank"))
    assert _rows(out2) == ref


def test_fold_purge_drops_fully_tombstoned_dirs(spark, tmp_path):
    """Deleting EVERY doc in an id_bucket empties that doclen dir — a
    dynamic overwrite alone would leave the old files in place (the
    partition isn't in the staged frame), so the purge must drop the
    dir explicitly; searches then see a clean corpus."""
    import json

    from bharatmlstack_spark.streaming.ingest import (
        delete_postings_docs,
        fold_postings_tombstones,
    )

    rows = [
        {"doc_id": 1, "text": "solo bucket doc"},
        {"doc_id": 2, "text": "another doc entirely"},
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    index_path = str(tmp_path / "index")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_postings_sink(
        stream, index_path, str(tmp_path / "ck"), spark,
        n_buckets=2, trigger_once=True,
    )
    await_stream(q, 120, "purge-dir sink")
    # find a doc alone in its id_bucket (n_buckets=2, 2 docs: either
    # split 1/1 — both alone — or 2/0)
    dl = spark.read.parquet(f"{index_path}/doclen")
    per_bucket = {
        r["id_bucket"]: r["n"]
        for r in dl.groupBy("id_bucket").agg(F.count("*").alias("n")).collect()
    }
    lone_bucket = min(per_bucket, key=per_bucket.get)
    victims = [
        r["id"]
        for r in dl.filter(F.col("id_bucket") == lone_bucket).collect()
    ]
    delete_postings_docs(spark, index_path, victims)
    purged = fold_postings_tombstones(spark, index_path)
    assert purged["doclen_removed"] == len(victims)
    assert not os.path.exists(f"{index_path}/doclen/id_bucket={lone_bucket}")
    survivors = [r["id"] for r in spark.read.parquet(f"{index_path}/doclen").collect()]
    assert set(survivors) == {1, 2} - set(victims)


def test_stream_phrase_search_matches_duckdb_oracle(spark, con):
    """Driver-identical comparison for the staged positional row: exact
    phrase occurrences through the positional streamed index vs a
    direct token-window count over the raw corpus, under full
    redelivery with in-plan dedup."""
    from bharatmlstack_spark.queries_text import stream_phrase_search

    out = stream_phrase_search(spark, SF_DIR)
    got = _rows(out)
    ref = _oracle_rows(
        con, STAGED_ORACLES["stream_phrase_search"], out.columns
    )
    assert len(got) > 0  # vacuous-pass guard
    assert got == ref


def test_phrase_search_refuses_positionless_index(spark, raw_index):
    """The default (non-positional) index must refuse phrase search
    loudly — silently empty results would read as 'phrase absent'."""
    from bharatmlstack_spark.streaming.ingest import phrase_search_streamed

    with pytest.raises(RuntimeError, match="stores no positions"):
        phrase_search_streamed(spark, raw_index, "order fast")


def test_positional_flag_mismatch_refused_at_sink_start(spark, raw_index):
    """Appending positional rows into a non-positional index would leave
    half the index unsearchable by phrase — refused like any signature
    mismatch, including for indexes whose sidecar predates the flag."""
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{os.path.dirname(raw_index)}/topic")
    )
    with pytest.raises(RuntimeError, match="positions"):
        stream_postings_sink(
            stream, raw_index, f"{os.path.dirname(raw_index)}/ck_pos",
            spark, n_buckets=16, trigger_once=True, store_positions=True,
        )


def test_phrase_repeated_terms_and_trigram(spark, tmp_path):
    """Repeated phrase terms intersect a list with its own shift
    (consecutive duplicates), and k>2 phrases chain the intersection;
    pinned against hand-counted docs."""
    import json

    from bharatmlstack_spark.streaming.ingest import (
        phrase_search_streamed,
    )

    rows = [
        {"doc_id": 1, "text": "go go go stop"},          # "go go" x2
        {"doc_id": 2, "text": "go stop go"},             # "go go" x0
        {"doc_id": 3, "text": "a b c a b c"},            # "a b c" x2
        {"doc_id": 4, "text": "a b x c"},                # "a b c" x0
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    index_path = str(tmp_path / "index")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = stream_postings_sink(
        stream, index_path, str(tmp_path / "ck"), spark,
        n_buckets=4, trigger_once=True, store_positions=True,
    )
    await_stream(q, 120, "phrase edge sink")
    gg = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_search_streamed(spark, index_path, "go go").collect()
    }
    assert gg == {1: 2}
    abc = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_search_streamed(spark, index_path, "a b c").collect()
    }
    assert abc == {3: 2}


def test_stream_delete_search_matches_duckdb_oracle(spark, con):
    """Driver-identical comparison for the staged deletion row (r12
    verdict task 4): ingest, delete a fifth of the docs, search under
    the eager tombstone mask, fold physically, search again — BOTH
    phases must equal the batch BM25 twin over the survivor corpus.
    The fixture binds (the survivors' top-10 differs from the full
    corpus's), so a mask or fold that leaks deleted docs changes rows,
    not just scores."""
    from bharatmlstack_spark.queries_text import stream_delete_search

    out = stream_delete_search(spark, SF_DIR)
    got = _rows(out)
    ref = _oracle_rows(
        con, STAGED_ORACLES["stream_delete_search"], out.columns
    )
    assert len(got) > 0  # vacuous-pass guard
    assert got == ref
    # the deletion bound: the survivor top-10 is NOT the full-corpus
    # top-10 (otherwise the row attests nothing about deletion)
    full = {
        r[0]
        for r in con.sql(STAGED_ORACLES["stream_bm25_search"]).fetchall()
    }
    masked_ids = {r[1] for r in out.collect() if r[0] == "masked"}
    assert masked_ids != full


def test_stream_update_search_matches_duckdb_oracle(spark, con):
    """Driver-identical comparison for the staged UPDATE row (versioned
    postings, r13): re-ingest a deterministic slice of the corpus with
    new text, search under the eager generation mask, fold, search
    again — both phases must equal the batch BM25 twin DuckDB computes
    over an independently-rebuilt updated corpus."""
    from bharatmlstack_spark.queries_text import stream_update_search

    out = stream_update_search(spark, SF_DIR)
    got = _rows(out)
    ref = _oracle_rows(
        con, STAGED_ORACLES["stream_update_search"], out.columns
    )
    assert len(got) > 0  # vacuous-pass guard
    assert got == ref
    # the update bound: the updated corpus's top-10 is NOT the original
    full = {
        r[0]
        for r in con.sql(STAGED_ORACLES["stream_bm25_search"]).fetchall()
    }
    masked_ids = {r[1] for r in out.collect() if r[0] == "masked"}
    assert masked_ids != full
