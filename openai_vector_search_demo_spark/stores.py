"""Partition-stored index access — the one funnel for every stored ANN /
multi-vector read path (LSH buckets, IVF cells, PQ-coded IVF, the
late-interaction token index).

All those indexes share one physical layout, a parquet table partitioned
by the probe column (``bucket=…`` / ``cell=…``, one file per partition),
and one query shape: read ONLY the probed partitions.  The partition
metadata lives in one of two places:

- **Metastore pattern** (production): the store is an external
  partitioned catalog table, and the probe set becomes a partition
  predicate pruned from the CATALOG's partition list at plan time
  (``register_partitioned_store``, ``read_probed_partitions(table=)``).
- **File-system fallback** (catalog-less): one Hadoop-FS glob of the
  store root keeps the probed directories that exist, on any store URI
  (bare path, ``file://``, ``s3a://``, ``hdfs://``), and they are read
  under ``basePath``, so Spark never lists the others.

Both keep the residual ``isin`` filter: it pins ``PartitionFilters`` in
the plan and guards against stray files.  The reference serves its
index from Redis (modules/utilities.py — RediSearch KNN); pruned parquet
plus catalog metadata is the Spark-first equivalent.

Every cached store is opened through ``open_or_build``: the one place
that knows a store's cache key, where it lives and when it counts as
complete (a ``_MANIFEST`` written last, then an atomic directory
rename).  The reference builds its index once per alias and then only
serves from it (modules/utilities.py); this is that lifecycle for the
engine's on-disk stores.

The mutable stores (NSW graph, IVFPQ cells, the MinHash band index —
one row per document, its shingle set beside its band keys — and the
line-hash index) change after publication by one
protocol — a base plus the segments a manifest names, REPOSE's
partition-local indexes under one global metadata record:

- An upsert, delete or admission writes its rows as one new directory
  inside the store, ``_seg-<batch>-<uuid>`` (``write_segment``), one
  file per layer; the leading ``_`` keeps it out of every scan of the
  base.
- It then replaces the store's one manifest (``_L1_META`` for NSW,
  ``SEGMENTS`` = ``_SEGMENTS`` for every other store) by a temp write
  and a Hadoop-FS rename (``swap_manifest``).  A writer killed before
  the swap leaves an unnamed segment that nothing reads; the next
  ``write_segment`` deletes it.
- Readers read the base plus exactly the segments the manifest names
  (``layer_paths``).  Where the base is plain parquet files at the
  store root (the band and line indexes), that is ONE multi-path scan
  (``read_layer``); a tier whose base is partition directories (NSW
  ``bucket=``, IVFPQ ``cell=``) unions its base scan with one
  ``read_layer`` over its segments, since partition discovery refuses
  a partitioned base among plain directories.  The manifest's
  ``segments`` list holds ``{"name", "batch", "layers"}`` entries,
  names relative to the store root (a store published by rename stays
  valid); ``layers`` maps each layer the segment writes (``""`` is the
  base table, the band and line indexes' only layer; ``_L1`` … the NSW
  levels) to ``"delta"`` (rows added) or ``"base"`` (layer
  rebuilt).  A ``"tombstones"`` segment holds ids.  No manifest, or no segments, means the base
  alone, so base writers write none.
- A segment's batch is one more than the segments before it.  A
  tombstone hides what the base and earlier segments hold for its key;
  each tier keeps its own resolution (IVFPQ's latest-batch-wins window,
  NSW's top-m plus mirror validation).  Compaction is caller-driven: a
  new base, at a new location, from the base and its segments.

One writer per store: two concurrent writers would build on the same
manifest, the second swap would drop the first one's segment, and each
would delete the other's segment as an orphan before its swap.
"""

from __future__ import annotations

import errno
import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_probed_partitions", "register_partitioned_store",
           "local_frame",
           "fs_write_text", "fs_read_text", "read_manifest",
           "swap_manifest", "write_segment", "layer_paths", "read_layer",
           "SEGMENTS",
           "escape_partition_value", "tenant_values", "open_or_build",
           "store_path"]

# the characters Spark/Hive escape in partition directory names
# (ExternalCatalogUtils.escapePathName / Hive FileUtils.escapePathName —
# public API behavior): control chars plus this printable set, each
# written as %XX uppercase hex.  Composing "tenant=<raw>" paths by
# f-string with an unescaped value either ESCAPES the isolation subtree
# (a value containing '/' or '..') or MISSES the directory partitionBy
# actually wrote (space, '=', ':'), so every tenant path below goes
# through escape_partition_value (ADVICE r14).
_HIVE_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def tenant_values(df, tenant_col: str) -> list:
    """Distinct tenant values for a tenant-scoped store write, sorted.

    Raises on NULL: per-alias isolation needs a non-null alias (the
    reference requires the index alias as user input before any write,
    app/app.py:152-153).  Silently proceeding is worse than it looks —
    ``F.col(tenant_col) == None`` matches NOTHING, so a null-tenant
    row would vanish from every subtree while an empty, stats-less
    ``tenant=__HIVE_DEFAULT_PARTITION__`` directory gets written (a
    serve of that tenant then returns null scores)."""
    rows = (df.select(tenant_col).distinct()
            .orderBy(F.col(tenant_col).asc_nulls_first()).collect())
    vals = [r[0] for r in rows]
    if vals and vals[0] is None:
        raise ValueError(
            f"tenant column {tenant_col!r} contains NULL — per-tenant "
            "stores need a non-null alias for every row (filter or "
            "default the nulls before the write)")
    return vals


def escape_partition_value(value) -> str:
    """The directory-name form of a partition VALUE — exactly what
    ``df.write.partitionBy(col)`` produces for that value, so composed
    subtree paths like ``{store}/tenant={escaped}`` always name the
    directory the write created and can never contain a path separator
    (slash and backslash are in the escape set: traversal-shaped values
    become inert ``%2F``/``%5C`` sequences inside ONE component).
    Matches Hive's escapePathName; ``__HIVE_DEFAULT_PARTITION__`` is the
    engine-standard null slot."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch
                   for ch in str(value))


def _hadoop_path_fs(spark: SparkSession, path: str):
    """(Path, FileSystem) for ``path`` via Spark's own Hadoop conf: a
    driver-local ``os.path`` check silently misses on any non-local
    store URI (``file://``, ``s3a://``, ``hdfs://``), so every store
    metadata read and write below goes through this."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jpath, fs


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file (store metadata — e.g. the NSW upper
    layer's write-time params) through the Hadoop FileSystem API, so it
    lands next to the data on ANY store URI."""
    jpath, fs = _hadoop_path_fs(spark, path)
    out = fs.create(jpath, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file written by ``fs_write_text``; None if the
    file does not exist (callers treat that as 'no metadata')."""
    jpath, fs = _hadoop_path_fs(spark, path)
    if not fs.exists(jpath):
        return None
    inp = fs.open(jpath)
    try:
        # one JVM call for the whole payload, not one per byte
        jvm = spark.sparkContext._jvm
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(inp)
        return bytes(data).decode("utf-8")
    finally:
        inp.close()


def read_manifest(spark: SparkSession, store: str, name: str) -> dict | None:
    """The store's manifest ``<store>/<name>``; None when it has none."""
    txt = fs_read_text(spark, f"{store.rstrip('/')}/{name}")
    return json.loads(txt) if txt else None


def swap_manifest(spark: SparkSession, store: str, name: str,
                  manifest: dict) -> None:
    """Replace ``<store>/<name>``: write a temp sibling, then rename it
    over the old file with Hadoop ``FileContext`` ``OVERWRITE`` (atomic
    on a local or HDFS file system)."""
    root = store.rstrip("/")
    tmp = f"{root}/{name}.tmp-{uuid.uuid4().hex}"
    fs_write_text(spark, tmp, json.dumps(manifest, sort_keys=True))
    sc = spark.sparkContext
    src, _ = _hadoop_path_fs(spark, tmp)
    fc = sc._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        src.toUri(), sc._jsc.hadoopConfiguration())
    rename = sc._jvm.org.apache.hadoop.fs.Options.Rename
    opts = sc._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    fc.rename(src, sc._jvm.org.apache.hadoop.fs.Path(f"{root}/{name}"), opts)


SEGMENTS = "_SEGMENTS"
"""The segment manifest of every mutable store but NSW (whose
``_L1_META`` also records its graph geometry)."""


def _glob(spark: SparkSession, root: str, pattern: str) -> list:
    """``FileStatus`` of each child of ``root`` matching ``pattern`` — one
    Hadoop-FS glob (a posix listing misses a ``file://`` or ``s3a://``
    store), with the root's own glob characters escaped."""
    escaped = "".join("\\" + c if c in "\\{}[]*?" else c for c in root)
    _, fs = _hadoop_path_fs(spark, root)
    found = fs.globStatus(
        spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
            f"{escaped}/{pattern}"))
    return list(found or [])


def write_segment(spark: SparkSession, store: str, name: str,
                  manifest: dict | None, layers: dict, rebuilt=(),
                  tombstones: bool = False) -> None:
    """The only write into a published store: each ``layers`` DataFrame
    (layer name → rows) lands as one unpartitioned file under
    ``<store>/<segment>/<layer>`` — a segment is batch-sized, so a read
    lists one directory, not one per partition — then manifest ``name``
    becomes ``manifest`` plus the new segment.  Layers in ``rebuilt``
    replace their layer; ``tombstones`` marks an id segment.  Rows
    stamped with a batch use ``len(segments) + 1``.

    A layer is written through ``coalesce(1)``, which adds no exchange:
    a frame read from a checkpoint writes in the one job that reads
    it.  A caller whose frame still computes wide work repartitions it
    first, or the coalesce would run all of that work in one task.

    Before writing, every ``_seg-*`` directory ``manifest`` does not
    name is deleted: with one writer per store it is the leftover of a
    write killed before its swap."""
    manifest = dict(manifest or {})
    segments = manifest.get("segments", [])
    root = store.rstrip("/")
    named = {seg["name"] for seg in segments}
    _, fs = _hadoop_path_fs(spark, root)
    for st in _glob(spark, root, "_seg-*"):
        if st.getPath().getName() not in named:
            fs.delete(st.getPath(), True)
    entry = {"name": f"_seg-{len(segments) + 1:05d}-{uuid.uuid4().hex[:8]}",
             "batch": len(segments) + 1}
    for layer, df in layers.items():
        df.coalesce(1).write.parquet(
            "/".join(filter(None, [root, entry["name"], layer])))
    if tombstones:
        entry["tombstones"] = True
    else:
        entry["layers"] = {layer: "base" if layer in rebuilt else "delta"
                           for layer in layers}
    manifest["segments"] = [*segments, entry]
    swap_manifest(spark, store, name, manifest)


def layer_paths(store: str, manifest: dict | None,
                layer: str = "") -> list[str]:
    """The directories of ``layer``'s rows: its base, then the segments
    the manifest names for it; a rebuilt layer drops what came before."""
    def under(*parts):
        return "/".join(filter(None, [store.rstrip("/"), *parts, layer]))

    paths = [under()]
    for seg in (manifest or {}).get("segments", []):
        how = seg.get("layers", {}).get(layer)
        if how == "base":
            paths = []
        if how is not None:
            paths.append(under(seg["name"]))
    return paths


def read_layer(spark: SparkSession, paths: list[str],
               schema) -> DataFrame:
    """One scan over ``paths`` — plain parquet directories of one
    ``schema`` (a layer's ``layer_paths`` whose base is not partitioned,
    or a tier's segments alone) — read with that schema, so nothing is
    inferred."""
    return spark.read.schema(schema).parquet(*paths)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``rows`` (tuples in ``schema`` order; a StructType or DDL string)
    as a driver-LOCAL relation: an Arrow table becomes a
    ``LocalRelation``, so collecting it — or any projection over it —
    runs no Spark job, where ``createDataFrame(list)`` parallelizes the
    rows into an RDD and costs a job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    asch = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, asch)],
        schema=asch)
    return spark.createDataFrame(table, schema)


def read_probed_partitions(spark: SparkSession, store: str, part_col: str,
                           probes, table: str | None = None,
                           schema=None) -> DataFrame:
    """DataFrame over ONLY the probed partitions of a partition-stored
    index (see module docstring for the two metadata modes).

    ``probes`` is any iterable of partition values; duplicates collapse.
    With every probed partition absent the result is the store's schema
    with zero rows (the no-candidates contract every stored read path
    shares).  A caller that knows its store's fixed ``schema`` (the
    partition column last, as Spark orders it) passes it: the read then
    infers nothing, and the all-absent case is an empty local relation
    that runs no Spark job.  Without it that case lists the whole store
    and infers its schema."""
    probes = sorted(set(probes))
    if table is not None:
        # metastore pattern: the catalog prunes partitions at plan time
        return spark.table(table).filter(F.col(part_col).isin(probes))
    root, paths = store.rstrip("/"), []
    if probes:
        names = {st.getPath().getName() for st in _glob(
            spark, root, f"{part_col}={{{','.join(map(str, probes))}}}")}
        paths = [f"{root}/{part_col}={v}" for v in probes
                 if f"{part_col}={v}" in names]
    if not paths and schema is not None:
        return local_frame(spark, [], schema)
    if not paths:
        return (spark.read.parquet(store)
                .filter(F.col(part_col).isin(probes)).limit(0))
    reader = spark.read if schema is None else spark.read.schema(schema)
    return (reader.option("basePath", store).parquet(*paths)
            .filter(F.col(part_col).isin(probes)))


def register_partitioned_store(spark: SparkSession, table: str,
                               store: str) -> None:
    """Register a partition-stored index as an EXTERNAL catalog table and
    recover its partitions from the directory layout — the metastore
    pattern's one-time setup step (per index build, not per query).
    Idempotent: re-registration drops the table entry first; the data
    files are never touched (external location)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} USING parquet LOCATION '{store}'")
    # populate the catalog's partition list from the directories (MSCK)
    spark.catalog.recoverPartitions(table)


def _parquet_fingerprint(path: str) -> str:
    """Content fingerprint of a parquet file-or-directory: total bytes +
    newest mtime (ns) of the data files.  Cheap (a handful of stats), and it
    changes whenever the data is regenerated in place — which a path-only
    cache key cannot see (the r4 stale-index defect: regenerate the fixtures
    at the same sf_dir and a path-keyed index silently serves stale
    buckets)."""
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(".parquet") or f == "_SUCCESS")
    else:
        parts = [path]
    sig = []
    for p in parts:
        st = os.stat(p)
        sig.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(sig)


def _param_value(v):
    """A manifest-sized form of one build parameter: scalars as they are,
    anything larger (centroids, codebooks, trained ranges) as the md5 of
    its JSON form."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    blob = json.dumps(v, sort_keys=True).encode()
    return "md5:" + hashlib.md5(blob).hexdigest()


def _manifest(kind: str, version: int, inputs, params: dict) -> dict:
    return {"kind": kind, "version": version,
            "params": {k: _param_value(v) for k, v in sorted(params.items())},
            "fingerprint": {p: _parquet_fingerprint(p) for p in inputs}}


_ROOT = "/tmp/spark_graft_"
"""Prefix of every cached store's root directory."""


def _root(manifest: dict) -> str:
    key = hashlib.md5(
        json.dumps(manifest, sort_keys=True).encode()).hexdigest()[:16]
    return f"{_ROOT}{manifest['kind']}_{key}"


def store_path(kind: str, version: int, inputs, **params) -> str:
    """Where ``open_or_build`` with the same arguments publishes its
    store — for a reader that must name the path before any build (an
    oracle reading the store's files directly)."""
    return _root(_manifest(kind, version, inputs, params)) + "/store"


def _check_manifest(root: str, want: dict) -> None:
    try:
        with open(os.path.join(root, "_MANIFEST")) as fh:
            got = json.load(fh)
    except (OSError, ValueError):
        got = None
    if got != json.loads(json.dumps(want)):
        raise ValueError(
            f"store {root} does not hold the requested build: its "
            f"manifest is {got}, the request is {want} (remove the "
            "directory to rebuild it)")


def open_or_build(spark: SparkSession, kind: str, version: int, inputs,
                  build, **params) -> str:
    """The path of the ``kind`` store built from ``inputs`` (parquet
    paths) with ``params``, building it first if it is not published.

    The store's root is ``/tmp/spark_graft_<kind>_<key>``, the key an
    md5 over kind, ``version``, the sorted params and each input path
    with its content fingerprint — so new data, a new format version or
    any changed build argument gets a new store, never a stale one.

    A build runs as ``build(<tmp>/store)`` inside a unique sibling
    directory ``<root>.tmp-<uuid>``; ``_MANIFEST`` (kind, version,
    params, fingerprint) is written after it, and ``os.rename`` then
    publishes the whole directory at once.  POSIX rename refuses a
    non-empty target, so of two concurrent builders exactly one
    publishes and the other discards its copy and serves the winner's
    (Hadoop's ``FileSystem.rename`` would instead move the loser
    INSIDE the published root).  A failed or killed build publishes
    nothing: the next call builds again.  A root whose manifest is
    missing or differs from the request raises ``ValueError`` rather
    than being rebuilt in place.  Returns ``<root>/store``."""
    want = _manifest(kind, version, inputs, params)
    root = _root(want)
    if not os.path.exists(root):
        tmp = f"{root}.tmp-{uuid.uuid4().hex}"
        os.makedirs(tmp)
        sc = spark.sparkContext
        desc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"build {kind} store")
        try:
            build(os.path.join(tmp, "store"))
            with open(os.path.join(tmp, "_MANIFEST"), "w") as fh:
                json.dump(want, fh, sort_keys=True)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        finally:
            sc.setLocalProperty("spark.job.description", desc)
        try:
            os.rename(tmp, root)
        except OSError as exc:
            shutil.rmtree(tmp, ignore_errors=True)
            if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
    _check_manifest(root, want)
    return os.path.join(root, "store")
