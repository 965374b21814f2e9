"""One commit protocol for every staged rewrite of a parquet root, whole
or bucket by bucket.

A writer puts its new data under a stage, never inside a live root, and
then calls ``commit``. The commit writes ONE marker atomically
(``hadoop_write_text_atomic``): the (stage, live) dirs to swap, the live
dirs to drop, and an optional sidecar to install. The marker is the
commit point, the commit half of Delta Lake's snapshot commit (Armbrust
et al., VLDB 2020):

- a crash before it leaves the live data untouched; the stage is
  garbage the next write of that stage overwrites;
- a crash after it is finished by ``finish_commit``, which any entry
  point may call. It is idempotent, and costs one FS existence check
  when no marker exists.

A stage is either a whole root (``sets__root_stage`` for ``sets``) or
a partition dir (``key_bucket=3``) inside a stage root. A swap moves
the live dir ASIDE, renames the stage over its place, then drops the
aside, so a complete copy of every dir exists at every instant. A root's aside
is ``<root>__replaced``; a partition dir's aside sits in
``<root>__bucket_aside``, because a ``key_bucket=3__replaced`` dir inside
a live root breaks every read of it (an invalid partition value, or the
bucket's rows read twice).

The bucket-partitioned rewrites (FeatureStore persist / delete /
compact, the CDC state, the streamed-state compactors and tombstone
purges) go through ``commit_buckets``: the touched buckets' new rows
are written once, to ``<root>__bucket_stage``, then swapped in; the
touched buckets left without rows are dropped. The whole-root rewrites
(event retention, the flat CDC state and its bucket conversion, the
flat compactions and purges, the cluster labels) go through
``commit_root``: the new root is written once, to
``<root>__root_stage``, then swapped in. A rewrite that leaves no rows
commits with the root in ``drops``. Both kinds share the per-root
marker ``<root>__bucket_commit.json``, so one
``finish_commit(spark, root + BUCKET_MARKER_SUFFIX)`` at an entry point
finishes either. The reset jobs (near-dup and postings rebucket, IVF
refit) rewrite several roots and their family sidecar in ONE commit
through ``commit_roots``, under the job's own marker.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from bharatmlstack_spark.operators.feature_store import (
    TABLE_META_FILE,
    hadoop_list_partition_dirs,
    hadoop_path_exists,
    hadoop_read_text,
    hadoop_write_text_atomic,
    read_table_meta,
)

ASIDE_SUFFIX = "__replaced"
ROOT_STAGE_SUFFIX = "__root_stage"
BUCKET_STAGE_SUFFIX = "__bucket_stage"
BUCKET_ASIDE_SUFFIX = "__bucket_aside"
BUCKET_MARKER_SUFFIX = "__bucket_commit.json"


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _rename(spark: SparkSession, src: str, dst: str) -> bool:
    jsrc, fs = _fs(spark, src)
    return bool(fs.rename(jsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)))


def _delete(spark: SparkSession, path: str) -> bool:
    jpath, fs = _fs(spark, path)
    return bool(fs.delete(jpath, True))


def _hadoop_rename(spark: SparkSession, src: str, dst: str) -> None:
    if not _rename(spark, src, dst):
        raise RuntimeError(f"rename {src} -> {dst} failed")


def _require_stage_success(spark: SparkSession, stage: str) -> None:
    if not hadoop_path_exists(spark, stage + "/_SUCCESS"):
        raise RuntimeError(
            f"staged root {stage} exists but has no _SUCCESS marker — "
            "either mapreduce.fileoutputcommitter.marksuccessfuljobs is "
            "disabled (the commit protocol requires it) or the stage is a "
            "partial write; refusing to adopt or commit over it. Re-run "
            "the job with _SUCCESS markers enabled, or delete the stage "
            "to discard it."
        )


def _swap_dir(spark: SparkSession, stage: str, live: str, aside: str) -> None:
    """Adopt one complete stage: move ``live`` to ``aside``, rename the
    stage over its place, drop the aside. A stage already renamed away
    means another adopter finished; a racer that crashed between its
    renames can strand the old copy aside — dropped when live exists,
    restored when live is missing (restore beats loss)."""
    if not hadoop_path_exists(spark, stage):
        if hadoop_path_exists(spark, live):
            if hadoop_path_exists(spark, aside):
                _delete(spark, aside)
        elif hadoop_path_exists(spark, aside):
            _hadoop_rename(spark, aside, live)
        return
    if hadoop_path_exists(spark, aside):
        _delete(spark, aside)
    if hadoop_path_exists(spark, live):
        _hadoop_rename(spark, live, aside)
    if not _rename(spark, stage, live):
        # lost a race: another adopter consumed the stage between our
        # existence check and the rename; make sure live holds data
        if not hadoop_path_exists(spark, live):
            if hadoop_path_exists(spark, aside):
                _hadoop_rename(spark, aside, live)
            else:
                raise RuntimeError(
                    f"staged adoption failed: {stage} vanished and {live} "
                    "is missing with no aside copy"
                )
    if hadoop_path_exists(spark, aside) and hadoop_path_exists(spark, live):
        _delete(spark, aside)


def _layout(stage: str, live: str) -> tuple[str, str]:
    """(stage root, aside) of one swap pair: a dir staged inside a
    ``<root>__bucket_stage`` root is set aside in ``<root>__bucket_aside``;
    a stage that is a root of its own sets ``<live>__replaced`` aside."""
    stage_root, _, name = stage.rpartition("/")
    if stage_root.endswith(BUCKET_STAGE_SUFFIX):
        live_root = live.rpartition("/")[0]
        return stage_root, f"{live_root}{BUCKET_ASIDE_SUFFIX}/{name}"
    return stage, live + ASIDE_SUFFIX


def commit(
    spark: SparkSession,
    marker: str,
    swaps: list[tuple[str, str]],
    drops: list[str] = (),
    meta: tuple[str, dict] | None = None,
) -> None:
    """Commit a staged rewrite: check ``_SUCCESS`` on every stage root,
    write the marker atomically (the commit point), then carry it out
    (finish_commit). ``swaps``: (stage, live) dir pairs; ``drops``: live
    dirs to delete; ``meta``: (sidecar path, content) to install."""
    for root in dict.fromkeys(_layout(*pair)[0] for pair in swaps):
        _require_stage_success(spark, root)
    hadoop_write_text_atomic(
        spark,
        marker,
        json.dumps({"swaps": swaps, "drops": list(drops), "meta": meta}),
    )
    finish_commit(spark, marker)


def finish_commit(spark: SparkSession, marker: str) -> bool:
    """Carry out the commit ``marker`` records, if one exists: swap each
    pair, delete the drops, install the sidecar, then remove the bucket
    stage and aside roots and the marker. Idempotent, so a crash at any
    step is finished by the next call. Returns True when a commit was
    pending."""
    text = hadoop_read_text(spark, marker)
    if text is None:
        return False
    info = json.loads(text)
    leftovers: set[str] = set()
    for stage, live in info["swaps"]:
        root, aside = _layout(stage, live)
        if root not in leftovers and hadoop_path_exists(spark, root):
            _require_stage_success(spark, root)
        if root != stage:  # a bucket dir: its stage and aside roots remain
            leftovers.update((root, aside.rpartition("/")[0]))
        _swap_dir(spark, stage, live, aside)
    for path in info["drops"]:
        if hadoop_path_exists(spark, path):
            _delete(spark, path)
    if info["meta"] is not None:
        path, content = info["meta"]
        hadoop_write_text_atomic(spark, path, json.dumps(content))
    # a Spark write refreshes the cached plans reading its path; renames
    # do not, so a frame persisted before the commit would keep serving
    # the replaced rows
    changed = [live for _, live in info["swaps"]] + info["drops"]
    for parent in sorted({p.rpartition("/")[0] for p in changed}):
        spark.catalog.refreshByPath(parent)
    for path in sorted(leftovers):
        if hadoop_path_exists(spark, path):
            _delete(spark, path)
    _delete(spark, marker)
    return True


def commit_buckets(
    df: DataFrame,
    root: str,
    col: str,
    touched,
    meta: tuple[str, dict] | None = None,
) -> None:
    """Replace the ``touched`` ``col=`` buckets of ``root`` with the rows
    of ``df``: one write, to ``<root>__bucket_stage``, then one commit
    that swaps each staged bucket in and drops each touched bucket
    ``df`` holds no rows for. ``df`` must hold only touched buckets."""
    spark = df.sparkSession
    stage = root + BUCKET_STAGE_SUFFIX
    (
        df.repartition(col)
        .write.mode("overwrite")  # also clears a pre-commit crash's stage
        .partitionBy(col)
        .parquet(stage)
    )
    staged = hadoop_list_partition_dirs(spark, stage, col)
    live = hadoop_list_partition_dirs(spark, root, col)
    if not staged:
        _delete(spark, stage)  # nothing to swap: only _SUCCESS is there
    commit(
        spark,
        root + BUCKET_MARKER_SUFFIX,
        [(d, f"{root}/{col}={b}") for b, d in sorted(staged.items())],
        [live[b] for b in sorted(touched) if b in live and b not in staged],
        meta,
    )


def commit_roots(
    marker: str,
    roots: list[tuple[DataFrame, str, str | None]],
    meta: tuple[str, dict] | None = None,
) -> None:
    """Replace each ``root`` with the rows of its ``df`` (as
    ``partition_col=`` dirs when given): one write per root, to
    ``<root>__root_stage``, then ONE commit under ``marker`` that swaps
    every stage in and installs ``meta``. Each stage carries the root's
    sidecar — its current one (or ``meta``, when that lies in the root)
    with the new rows' read schema — so the rename brings it in with
    the data, and a reader never infers the schema."""
    from bharatmlstack_spark.stateroot import stored_schema

    spark = roots[0][0].sparkSession
    swaps = []
    for df, root, col in roots:
        # a commit left pending on this root would adopt our stage
        finish_commit(spark, root + BUCKET_MARKER_SUFFIX)
        stage = root + ROOT_STAGE_SUFFIX
        writer = df.repartition(col).write.partitionBy(col) if col else df.write
        writer.mode("overwrite").parquet(stage)  # also clears a pre-commit crash's stage
        path = f"{root}/{TABLE_META_FILE}"
        own = meta is not None and meta[0] == path
        sidecar = dict(meta[1]) if own else read_table_meta(spark, root) or {}
        sidecar["schema"] = stored_schema(df, col).jsonValue()
        hadoop_write_text_atomic(
            spark, f"{stage}/{TABLE_META_FILE}", json.dumps(sidecar)
        )
        if own:
            meta = (path, sidecar)
        swaps.append((stage, root))
    commit(spark, marker, swaps, meta=meta)


def commit_root(
    df: DataFrame,
    root: str,
    meta: tuple[str, dict] | None = None,
    partition_col: str | None = None,
) -> None:
    """commit_roots for one root, under its bucket-commit marker."""
    commit_roots(root + BUCKET_MARKER_SUFFIX, [(df, root, partition_col)], meta)
