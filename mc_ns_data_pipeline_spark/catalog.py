"""Table catalog: load the driver's synthetic parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet per table under an sf dir.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (they grow
# sub-linearly or are bounded): used by plans to decide broadcast hints.
BOUNDED_DIMS = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _parquet_files(path: str) -> list[str]:
    """The parquet files ``spark.read.parquet(path)`` reads, sorted: the
    file itself, or a directory walked recursively (partitioned layouts
    nest files under key=value dirs) skipping the hidden/metadata
    entries the reader also ignores (_SUCCESS, .crc, _temporary).
    A missing path lists nothing."""
    if os.path.isfile(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        files += [os.path.join(root, f) for f in names
                  if f.endswith(".parquet")
                  and not f.startswith((".", "_"))]
    return sorted(files)


_SCHEMA_MEMO_MAX = 256
_SCHEMA_MEMO_LOCK = threading.Lock()


def _schema_memo(sc) -> OrderedDict:
    """The per-SparkContext schema memo (LRU order): kept on the context
    like ``session.ensure_package_on_executors``' flag, so a new context
    starts empty."""
    memo = getattr(sc, "_mcns_schema_memo", None)
    if memo is None:
        memo = sc._mcns_schema_memo = OrderedDict()
    return memo


def _source_schema(spark: SparkSession, path: str
                   ) -> tuple[StructType, tuple[str, ...]] | None:
    """Spark's own inferred schema of a parquet source, plus the columns
    its footer stores as INT64 TIMESTAMP(NANOS), memoized per file
    version.

    Inference (``spark.read.parquet(path).schema``) is a Spark job; the
    memo key is the path plus the sorted (relpath, size, mtime_ns) of
    its files, so a rewritten file or a replaced part file re-infers.
    Spark has no nanosecond timestamp type: with
    `spark.sql.legacy.parquet.nanosAsLong=true` (pinned by the caller
    through `session.ensure_read_confs`) those columns surface as
    LongType and `load_table` down-converts them to microseconds.
    Returns None when the path lists no files (missing, empty, not a
    local path): the caller then reads it as plain Spark would.
    """
    files = _parquet_files(path)
    try:
        sig = tuple((os.path.relpath(f, path), st.st_size, st.st_mtime_ns)
                    for f in files for st in (os.stat(f),))
    except OSError:
        return None
    if not sig:
        return None
    key = (path, sig)
    with _SCHEMA_MEMO_LOCK:
        memo = _schema_memo(spark.sparkContext)
        hit = memo.get(key)
        if hit is not None:
            memo.move_to_end(key)
            return hit
    # Inferred outside the lock: concurrent misses on one version each
    # infer once and store the same answer.
    schema = spark.read.parquet(path).schema
    footer = pq.read_schema(files[0])  # any part file carries it
    hit = (schema, tuple(
        n for n, t in zip(footer.names, footer.types)
        if isinstance(t, pa.TimestampType) and t.unit == "ns"))
    with _SCHEMA_MEMO_LOCK:
        memo[key] = hit
        while len(memo) > _SCHEMA_MEMO_MAX:
            memo.popitem(last=False)
    return hit


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """``spark.read.parquet(path).schema`` without the inference job
    when this file version was read before (see `_source_schema`). The
    returned object is the memo's own: do not mutate it."""
    hit = _source_schema(spark, path)
    return hit[0] if hit else spark.read.parquet(path).schema


def ensure_fan_out(df: DataFrame) -> DataFrame:
    """Raise map-side parallelism when the scan cannot split.

    Parquet scans parallelize per row group; the local fixtures are
    single-file single-row-group tables, so every scan stage — and any
    compute-bound map pipeline fused onto it — runs as ONE task no
    matter how many cores exist. When the scan is clearly under-parallel
    (< 1/4 of the cluster's default parallelism) insert a round-robin
    repartition so the expensive work above it fans out; the decode of
    the unsplittable file stays serial but everything downstream scales.
    On any real multi-row-group dataset this is a no-op (the guard
    fails), so compute-heavy plans can use it unconditionally without
    paying a shuffle at scale.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 4 <= target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str,
               fan_out: bool = False) -> DataFrame:
    """Parquet scan — columnar, filter/column pushdown handled by Catalyst.

    `fan_out=True` marks the table as feeding a compute-bound pipeline
    (heavy per-row expressions or Python stages): see `ensure_fan_out`.
    """
    from mc_ns_data_pipeline_spark.session import ensure_read_confs

    path = table_path(sf_dir, name)
    # One-time defensive pin for foreign sessions (the harness imports
    # __spark_entry__ with a plain SparkSession); sessions from
    # get_spark already carry these and are untouched.
    ensure_read_confs(spark)
    schema, nanos = _source_schema(spark, path) or (None, ())
    # An unlistable path is inferred by Spark (a missing one raises).
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    types = {f.name: f.dataType.simpleString()
             for f in schema.fields} if nanos else {}
    for c in nanos:
        # integer nanos -> micros (exact: `div` is integral division).
        # Guard on the surfaced type: with nanosAsLong the ns column
        # arrives as bigint, but a table rewritten with µs timestamps
        # (multi-file copies) needs no conversion.
        if types.get(c) == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
    return ensure_fan_out(df) if fan_out else df


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a source table from its parquet FOOTERS —
    driver-side metadata, no Spark job. Plans that only need the count
    to pick a literal (a cluster-count knob, a witness constant) spend
    one footer read instead of a count() job; the number is exact by
    the format, identical to ``load_table(...).count()``."""
    path = table_path(sf_dir, name)
    files = _parquet_files(path)
    if not files:
        # load_table(...).count() would raise on an empty/missing
        # table dir; silently returning 0 here would let a bad
        # SPARK_GRAFT_SF_DIR feed wrong literals into plans (ADVICE
        # r11) — fail the same way the Spark read would.
        raise FileNotFoundError(
            f"table_rows: no parquet files under {path!r}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so SQL-first plans can run."""
    for name in tables:
        if os.path.exists(table_path(sf_dir, name)):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def sorted_small(df: "DataFrame", *cols: str) -> "DataFrame":
    """Deterministic total order for a SMALL result relation.

    A global `orderBy` is a range sort: Spark executes the child once
    just to SAMPLE range boundaries, then again to sort — for a query
    whose expensive part is everything below the final sort, that
    doubles the work (x60 measured 6.4 s/run with orderBy vs ~2.7 s
    with this shape at sf0.1). When the OUTPUT is known small (node
    tables, pair lists, report rows — not corpus-sized relations),
    shuffling the result to one partition and sorting within it
    computes the child once and sorts trivially. The repartition is a
    real exchange, so the expensive child still runs at full
    parallelism.
    """
    return df.repartition(1).sortWithinPartitions(*cols)
