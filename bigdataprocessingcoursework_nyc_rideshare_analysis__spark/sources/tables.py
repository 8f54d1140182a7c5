"""Readers for the driver's synthetic star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under ``{sf_dir}/``.

Scale notes (100 TB design point):
- parquet scans stay fully declarative (``spark.read.parquet``) so Catalyst
  keeps predicate pushdown / column pruning / partition pruning; at scale the
  fact tables would be written partitioned by date and these readers pick
  partition pruning up for free.
- ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) (read as
  epoch-nanos long via ``nanosAsLong``, floor-divided to micros) and
  TIMESTAMP(MICROS) without UTC adjustment (read as TIMESTAMP_NTZ, re-tagged
  to the UTC session zone); both normalizations yield the same epoch-micros
  DuckDB sees, so oracle comparisons agree exactly either way.

Schema memo: every parquet read in the engine (``load_table`` and the
``datapipe.stage`` artifacts) goes through ``read_parquet``.  Without a
schema, Spark launches one job per read to infer it from the file footers;
``read_parquet`` pays that job once per content and afterwards passes the
remembered ``StructType`` to ``spark.read.schema(...)``, which launches
none.  The memo is process-wide and its key is:

- the absolute path,
- the ``(file, size, mtime_ns)`` listing of the file or of every file under
  the directory (``file_listing`` — the same content-address rule that
  keys ``datapipe.stage`` and ``sources.warehouse``), so a rewritten file
  or stage is a new key, and
- the values of the session confs that change what parquet inference
  returns (``_INFERENCE_CONFS``), so e.g. flipping ``nanosAsLong`` misses.

A miss still goes through Spark's own inference, not a footer read with
pyarrow: the memoised schema is then exactly what an unmemoised read would
have produced (NANOS-as-long, NTZ, INT96, binary-as-string and case
handling all stay Spark's), and there is no pyarrow-to-Spark type mapping
to keep in sync.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import configure

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: timestamp columns whose physical parquet encoding varies by generator
#: version: nanosecond timestamps arrive as epoch-nanos longs (via
#: ``nanosAsLong``), microsecond timestamps without UTC adjustment arrive as
#: TIMESTAMP_NTZ.  Both are normalized to plain TimestampType so every
#: downstream expression (``unix_micros``, window ranges, date funcs) sees
#: one type regardless of how the data was written.
_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


#: session confs whose values change the schema parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)

#: process-wide schema memo: (abs path, file listing, inference conf values)
#: -> the StructType Spark inferred for that content under those confs
_SCHEMAS: dict[tuple, StructType] = {}


def file_listing(path: str) -> tuple[tuple[str, int, int], ...]:
    """Content address of a file or directory: ``(file, size, mtime_ns)``
    for the file itself (file ``""``) or for every file under the directory
    (path relative to it, sorted).  Raises ``OSError`` if ``path`` is not a
    local file or directory."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path):
        for fname in files:
            full = os.path.join(root, fname)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` whose schema inference runs once per
    content and conf state per process (module docstring: key rule).  A
    path that cannot be listed locally is not memoised; Spark reads it (or
    reports it missing) as usual."""
    try:
        key = (
            os.path.abspath(path),
            file_listing(path),
            tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
        )
    except OSError:
        key = None
    schema = _SCHEMAS.get(key)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if schema is None and key is not None:
        _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table, normalizing timestamp encodings."""
    configure(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in _TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            # floor-truncate nanos → micros with integer `div` (no double
            # round-trip: epoch-nanos exceeds double's 53-bit mantissa).
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtype == "timestamp_ntz":
            # session tz is pinned to UTC (session.RUNTIME_CONFS), so this
            # cast is a pure re-tag: the same wall-clock micros DuckDB sees
            # in its naive TIMESTAMP, byte-identical epoch values.  Cast to
            # the *instant* type explicitly — a bare "timestamp" resolves
            # via spark.sql.timestampType, which on an externally-built
            # session set to TIMESTAMP_NTZ would make this a silent no-op
            # (RUNTIME_CONFS also pins TIMESTAMP_LTZ, belt-and-braces).
            df = df.withColumn(col, F.col(col).cast("timestamp_ltz"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; defaults to all of them."""
    use = names or TABLE_NAMES
    return {name: load_table(spark, sf_dir, name) for name in use}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Expose tables as temp views (named after the table) so queries can be
    written in plain ``spark.sql`` — the engine's SQL API surface.  Views are
    lazy: registering is metadata-only, scans still prune and push down."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
