"""Partition-stored index access — the one funnel for every stored ANN /
multi-vector read path (LSH buckets, IVF cells, PQ-coded IVF, the
late-interaction token index).

All those indexes share one physical layout: a parquet table partitioned
by the probe column (``bucket=…`` / ``cell=…`` directories, one file per
partition from the write-time ``repartition``), and one query shape:
read ONLY the probed partitions.  What differs between the sandbox and a
production deployment is WHERE the partition metadata lives:

- **Metastore pattern** (production): the store is registered as an
  external partitioned catalog table; the probe set becomes a partition
  predicate and Catalyst consults the CATALOG's partition list
  (``PartitionFilters``) — no filesystem listing beyond the matched
  directories, and probes with no partition prune to nothing at plan
  time.  ``register_partitioned_store`` + ``read_probed_partitions(...,
  table=...)`` below.
- **Local-FS fallback** (the sandbox default, and any
  catalog-less deployment): the |probes| candidate directories are
  enumerated with a driver-side stat and handed to the reader under
  ``basePath``, so Spark never lists the non-probed directories.

Both forms keep the residual ``isin`` filter: it pins
``PartitionFilters`` in the plan (tests assert it) and guards against
stray files under ``basePath``.  Reference behavior note: the reference
serves its index from Redis (modules/utilities.py — RediSearch
KNN); partition-pruned parquet + catalog metadata is the Spark-first
equivalent of that server-side index lookup.

Every cached store is opened through ``open_or_build``: the one place
that knows a store's cache key, where it lives and when it counts as
complete (a ``_MANIFEST`` written last, then an atomic directory
rename).  The reference builds its index once per alias and then only
serves from it (modules/utilities.py); this is that lifecycle for the
engine's on-disk stores.
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
           "fs_exists", "fs_touch", "fs_write_text", "fs_read_text",
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
    """(Path, FileSystem) for ``path`` via Spark's own Hadoop conf — the
    URI-scheme-aware way to stat/write store markers.  A driver-local
    ``os.path`` check silently misses on any non-local store URI (s3a://,
    hdfs://, abfss://) — the 100 TB posture the stored-index docstrings
    claim — so every marker read/write below goes through this."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jpath, fs


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API (scheme-aware:
    file://, s3a://, hdfs://, ...)."""
    jpath, fs = _hadoop_path_fs(spark, path)
    return bool(fs.exists(jpath))


def fs_touch(spark: SparkSession, path: str) -> None:
    """Create (or overwrite) an empty marker file at ``path`` through the
    Hadoop FileSystem API."""
    jpath, fs = _hadoop_path_fs(spark, path)
    fs.create(jpath, True).close()


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
        # one JVM call for the whole payload (commons-io rides Spark's
        # classpath) — the per-byte inp.read() loop this replaces paid
        # one py4j round-trip PER BYTE (ADVICE r14)
        jvm = spark.sparkContext._jvm
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(inp)
        return bytes(data).decode("utf-8")
    finally:
        inp.close()


def read_probed_partitions(spark: SparkSession, store: str, part_col: str,
                           probes, table: str | None = None) -> DataFrame:
    """DataFrame over ONLY the probed partitions of a partition-stored
    index (see module docstring for the two metadata modes).

    ``probes`` is any iterable of partition values; duplicates collapse.
    With every probed partition absent the result is the store's schema
    with zero rows (the no-candidates contract every stored read path
    shares)."""
    probes = sorted(set(probes))
    if table is not None:
        # metastore pattern: the catalog prunes partitions at plan time
        return spark.table(table).filter(F.col(part_col).isin(probes))
    paths = [p for p in (os.path.join(store, f"{part_col}={v}")
                         for v in probes) if os.path.isdir(p)]
    if not paths:
        return (spark.read.parquet(store)
                .filter(F.col(part_col).isin(probes)).limit(0))
    return (spark.read.option("basePath", store).parquet(*paths)
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
    directory ``<root>.tmp-<uuid>`` (sibling outputs such as
    ``store_sigs`` land there too); ``_MANIFEST`` (kind, version,
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
