"""One state-root contract for the streamed stores (CDC, event
retention, near-dup MinHash, IVF / IVF-PQ, postings, clusters) and the
FeatureStore tables: how a root's sidecar is rewritten, how a family's
layout and signature are fixed at creation, and how a root is read.

A root's sidecar is ``<root>/_bharatml_table_meta.json``. Families whose
state spans several roots (near-dup ``sets``/``bands``, postings
``postings``/``doclen``, cluster ``labels``/``merges``) keep their
contract and counters in the sidecar of the state dir above them; every
root also records its own read ``schema``:

- ``update_meta`` is the one atomic read-modify-write of a sidecar;
- ``bind`` records a family's contract on its first write and refuses
  any later run that asks for another one, then holds each root's
  physical layout to it;
- ``read`` opens a root with its recorded schema, so a state read runs
  no schema-inference job. ``append`` records the schema of an
  append-only root on its first append; ``tablecommit.commit_roots``
  records it for every rewritten root.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bharatmlstack_spark.operators.feature_store import (
    TABLE_META_FILE,
    hadoop_read_text,
    hadoop_write_text_atomic,
    read_table_meta,
)

KB = "__kb"


def update_meta(
    spark: SparkSession,
    root: str,
    edit: Callable[[dict], bool | None],
    name: str = TABLE_META_FILE,
) -> dict:
    """Apply ``edit`` to the sidecar ``name`` in ``root`` ({} when there
    is none) and replace the file atomically, unless ``edit`` returns
    False. Returns the content. The sidecars carry the layout contract
    and are rewritten every micro-batch, so a torn file must never be
    visible: hadoop_write_text_atomic, and read_table_meta adopts the
    complete tmp a crash between its delete and rename leaves.
    Single-writer, like the sinks that own the root."""
    if name == TABLE_META_FILE:
        meta = read_table_meta(spark, root) or {}
    else:
        text = hadoop_read_text(spark, f"{root}/{name}")
        meta = json.loads(text) if text is not None else {}
    if edit(meta) is not False:
        hadoop_write_text_atomic(spark, f"{root}/{name}", json.dumps(meta))
    return meta


def stored_schema(df: DataFrame, partition_col: str | None = None) -> T.StructType:
    """The schema a parquet write of ``df`` reads back with: the data
    columns, then ``partition_col`` as partition discovery types it
    (int)."""
    fields = [f for f in df.schema.fields if f.name != partition_col]
    if partition_col is not None and partition_col in df.columns:
        fields.append(T.StructField(partition_col, T.IntegerType()))
    return T.StructType(fields)


def read(spark: SparkSession, root: str, *dirs: str) -> DataFrame:
    """The root (or only its partition ``dirs``), read with the schema
    its sidecar records — no schema-inference job, and a column a later
    write added is visible. A root written before schemas were recorded
    is inferred, merged over its files."""
    meta = read_table_meta(spark, root) or {}
    if "schema" in meta:
        reader = spark.read.schema(T.StructType.fromJson(meta["schema"]))
    else:
        reader = spark.read.option("mergeSchema", "true")
    if dirs:
        return reader.option("basePath", root).parquet(*dirs)
    return reader.parquet(root)


def append(df: DataFrame, root: str, partition_col: str | None = None) -> None:
    """Append ``df`` to an append-only root (as ``partition_col=`` dirs
    when given; the caller shapes the partitions), recording the root's
    schema on its first append."""
    writer = df.write.partitionBy(partition_col) if partition_col else df.write
    writer.mode("append").parquet(root)
    update_meta(
        df.sparkSession,
        root,
        lambda m: "schema" not in m
        and m.update(schema=stored_schema(df, partition_col).jsonValue()),
    )


def _probe(spark: SparkSession, root: str) -> tuple[bool, bool]:
    """(holds ``__kb=`` dirs, holds flat files) of one root; other names
    starting with ``_`` or ``.`` (sidecars, ``_SUCCESS``) do not count."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False, False
    kb = flat = False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(KB + "="):
            kb = True
        elif not name.startswith(("_", ".")):
            flat = True
    return kb, flat


def bind(
    spark: SparkSession,
    what: str,
    meta_root: str,
    want: dict,
    defaults: dict,
    names: dict | None = None,
    hint: str = "",
    layout: Callable[[dict], dict] | None = None,
) -> dict:
    """Hold a family's state at ``meta_root`` to the contract it was
    created with, and return that contract (the sidecar, with
    ``defaults`` filled in).

    ``want``: this run's contract, key -> value. A key the sidecar
    records — or, once a sidecar exists, one ``defaults`` declares a
    pre-contract value for — must equal the run's value; a key the
    sidecar lacks is then recorded (a None value records nothing). A
    mismatch raises, so a run never appends mis-hashed or unreadable
    rows under a layout fixed at creation. ``names`` maps a key to the
    parameter that sets it, for the message; ``hint`` says how to
    proceed.

    ``layout(contract)``: {root: bucketed} for the physical check —
    True: only ``__kb=`` dirs, False: no ``__kb=`` dirs, None: either.
    A root holding both flat files and ``__kb=`` dirs is refused
    always: reads would silently drop the flat rows."""
    meta = read_table_meta(spark, meta_root) or {}
    got = {**defaults, **meta}
    for key, value in want.items():
        if (key in meta or (meta and key in defaults)) and got[key] != value:
            name = (names or {}).get(key, key)
            raise RuntimeError(
                f"{what} {meta_root} was created with {name}={got[key]!r} but "
                f"this run passed {name}={value!r} — refusing to degrade or "
                "mix the layout and signature fixed at creation (appends "
                "under another one would be mis-hashed or unreadable). "
                f"Pass {name}={got[key]!r}. {hint}"
            )
    for root, bucketed in (layout(got) if layout else {}).items():
        kb, flat = _probe(spark, root)
        if kb and flat:
            raise RuntimeError(
                f"{what} root {root} holds BOTH flat files and {KB}= "
                "partition dirs — reads would silently drop the flat rows. "
                f"{hint}"
            )
        if kb and bucketed is False:
            raise RuntimeError(
                f"{what} root {root} is bucket-partitioned ({KB}= dirs) but "
                "its sidecar records no bucket layout — refusing to "
                f"silently flatten the layout. {hint}"
            )
        if flat and bucketed:
            raise RuntimeError(
                f"{what} root {root} holds flat files but its sidecar "
                f"records a bucketed layout. {hint}"
            )
    new = {k: v for k, v in want.items() if k not in meta and v is not None}
    if new:
        update_meta(spark, meta_root, lambda m: m.update(new))
        got.update(new)
    return got
