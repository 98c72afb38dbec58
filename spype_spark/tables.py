"""Table sources: load the test-corpus Parquet tables (FIXTURES.md).

The corpus is a TPC-H-ish star schema plus an ``events`` stream table,
``documents`` (text) and ``embeddings`` (64-dim unit-norm vectors).

Scale notes (100 TB): each table here is a single Parquet file; on a
cluster these become partitioned directories (e.g. lineitem partitioned
by ship month) and the *same* ``spark.read.parquet`` call picks up
partition pruning automatically. A ``spark.read.parquet`` open runs one
footer-reading schema-inference job; :func:`load_table` memoizes the
inferred schema (never data or a DataFrame) of a local file, so a
reopen of an unchanged file runs none. A directory bypasses the memo:
there one footer job is noise next to the scan. Column pruning + predicate pushdown are
preserved because loaders return raw scans (no caching, no forced
materialization) — every query composes filters/projections directly
onto the scan node so Catalyst can push them into the Parquet reader.
The one transformation applied at load (events ts normalization) is a
cheap per-row projection that stays inside whole-stage codegen — and a
no-op when the corpus already stores native µs timestamps.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spype_spark.session import ensure_session_confs

#: All tables in the corpus, in FK-dependency order.
TABLES = (
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

#: Dimension tables small enough to broadcast at any realistic scale
#: (region=5, nation=25 rows always; supplier/part grow slowly).
BROADCAST_DIMS = ("region", "nation", "supplier", "part")


def normalize_events_ts(df: DataFrame, target: str = "timestamp_ntz") -> DataFrame:
    """Normalize ``events.ts`` to ``target`` regardless of corpus encoding.

    The test corpus has shipped ``ts`` two ways across regenerations:

    * TIMESTAMP(NANOS) — Spark 4.x cannot map it natively (SURVEY.md
      §7.4 G1); with the nanosAsLong conf it arrives as **bigint**
      nanoseconds. Converted with *integer* division (``div``) to avoid
      double-precision loss on 1.7e18-scale values.
    * timestamp[us] (the current corpus) — arrives natively as
      ``timestamp_ntz`` (or ``timestamp`` if the writer marked UTC).

    Branching on the *loaded* dtype makes both the batch loader and the
    stream reader robust to either encoding, and keeps them on one code
    path so they cannot diverge. ``target`` is ``timestamp_ntz`` for
    batch (matches DuckDB's naive timestamps) and ``timestamp`` for
    streaming (watermarks require TIMESTAMP; session tz is pinned UTC so
    rendered strings agree with the batch side).
    """
    t = df.schema["ts"].dataType.simpleString()
    if t == "bigint":
        ts = F.timestamp_micros(F.expr("ts div 1000")).cast(target)
    elif t != target:
        ts = F.col("ts").cast(target)
    else:
        return df
    return df.withColumn("ts", ts)


#: Schema Spark inferred for a local Parquet file, keyed by
#: :func:`_schema_key`.
_SCHEMAS: dict[tuple, StructType] = {}

#: The confs Spark 4.1.2's ``ParquetToSparkSchemaConverter`` reads: the
#: inputs, besides the file footer, of an inferred Parquet schema.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """File identity plus the explicitly set schema-conversion confs, or
    None when ``path`` is not a local regular file (a directory, a
    non-local URI, a missing path)."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    # one get per conf: spark.conf.getAll costs a py4j round trip per
    # set entry (~28 ms for 29 entries, 4-core host), more than a
    # memoized open costs
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    ident = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
    return (real, *ident, confs)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the inferred schema of an
    unchanged local file so the open launches no inference job."""
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key) if key else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key:
        _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a DataFrame.

    ``events.ts`` is normalized to ``timestamp_ntz`` whatever the
    on-disk encoding (see :func:`normalize_events_ts`).

    The first open of a file runs Spark's own schema inference (one
    job); the inferred schema is memoized under the file's identity —
    real path, device, inode, size, mtime and ctime — plus the
    explicitly set values of the confs Spark's Parquet schema conversion
    reads (``binaryAsString``, ``nanosAsLong``, ``caseSensitive``, …;
    see ``_SCHEMA_CONFS``). A reopen with the same key passes that
    schema to the reader and launches no job; a rewritten file or a
    changed conf infers again. Only the schema is memoized: each call
    returns a new relation with fresh attribute ids, so self-joins stay
    unambiguous. A directory, a non-local URI or a missing path bypasses
    the memo.
    """
    ensure_session_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load several corpus tables at once (dict keyed by table name)."""
    return {n: load_table(spark, sf_dir, n) for n in names}
