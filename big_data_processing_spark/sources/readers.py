"""Table readers.

Covers the reference's scan surface (SURVEY.md §2.1):
- S1/S2: CSV scan with declared schema / header handling → ``read_csv_table``
- S4: external-table-over-files → ``register_views`` (temp views)
- parquet star-schema testdata → ``load_table`` / ``load_all``

Scale notes: parquet scans get column pruning + predicate pushdown from
Catalyst for free; at 100 TB the facts should be written partitioned
(see writers.py) so partition pruning kicks in. Everything here is
declarative — no collect, no driver-side row handling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing types for engine use.

    Timestamp normalization (the testdata's physical encoding has varied
    between driver rounds, so both branches stay):

    - TIMESTAMP(NANOS) parquet cannot map natively; read as raw nanos
      (legacy conf) and floor-convert to microsecond timestamps —
      identical to DuckDB's ns → us narrowing.
    - TIMESTAMP(MICROS) without timezone reads as TIMESTAMP_NTZ under
      Spark's NTZ inference; cast to TIMESTAMP (LTZ). The session runs
      in UTC so the instant is unchanged, and the engine's time
      functions (``unix_micros``, tz-aware comparisons) expect LTZ —
      matching how DuckDB treats the same column as plain TIMESTAMP.

    The returned DataFrame is memoized per (sf_dir, table) in the
    session cache (operators/util.session_expr_cache) — r13:
    ``spark.read.parquet`` pays a driver-side listing + footer schema
    read on EVERY call, and the catalog calls this hundreds of times
    per bench run.  A DataFrame is an immutable logical plan, so reuse
    is safe and plan-identical; every action still scans the parquet
    (this caches the table DEFINITION, never data).  A new SparkContext
    starts with an empty cache, so it never sees plans bound to a
    stopped context's JVM objects."""
    from ..operators.util import session_expr_cache

    key = ("table", sf_dir.rstrip("/"), name)
    memo = session_expr_cache()
    cached = memo.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    memo[key] = df
    return df


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Total row count of a testdata table from parquet FOOTER
    metadata — bounded driver-side metadata (one footer read per file,
    no Spark job, no data scan).

    Used to over-size structures whose only count-dependence is a
    SIZE, not a value — e.g. a Bloom filter's bit count (r14: the
    bloom entry's per-run ``keys.count()`` job existed only to size
    m).  On a manifest-backed table format (Iceberg/Delta) the same
    number is one manifest lookup; on a raw parquet directory it is
    the listing the scan planner performs anyway.  The files are those
    :func:`parquet_files` lists."""
    import pyarrow.parquet as _pq

    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return sum(_pq.ParquetFile(f).metadata.num_rows for f in files)


def parquet_files(path: str) -> list[str]:
    """The data files a parquet scan of ``path`` reads, sorted: the
    path itself when it is a file, else every file under the directory
    except hidden/metadata ones (a path component starting with ``_``
    or ``.``, e.g. ``_SUCCESS`` or ``.crc``) — only the ``*.parquet``
    ones when there are any, all of them when the writer gave its part
    files no suffix.  Empty when nothing matches or the path does not
    exist."""
    if os.path.isfile(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [os.path.join(root, f) for f in names if not f.startswith(("_", "."))]
    return sorted([f for f in files if f.endswith(".parquet")] or files)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for spark.sql plans."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    permissive: bool = True,
) -> DataFrame:
    """CSV scan with a declared schema (reference S1) or inference
    (S2, ``schema=None`` — the ML trainer's inferSchema read,
    reference src/spark_mllib/train_et_model.py:214-217; declared
    schemas are preferred since inference costs an extra file pass).

    PERMISSIVE mode nulls out malformed fields rather than failing the
    scan — the Spark-native equivalent of the reference's silently
    dropped ``NumberFormatException`` rows (P10,
    reference src/mapreduce/DistrictMonthlyWeather.java:89-91); callers
    add explicit ``isNotNull`` filters where the semantics require a
    dropped row.
    """
    reader = spark.read.option("header", str(header).lower()).option(
        "mode", "PERMISSIVE" if permissive else "FAILFAST"
    )
    if schema is None:
        reader = reader.option("inferSchema", "true")
    else:
        reader = reader.schema(schema)
    return reader.csv(path)


def create_csv_table_ddl(
    spark: SparkSession, table: str, path: str, columns_ddl: str
) -> None:
    """SQL-surface external table over CSV files (reference S4: the
    Hive external TEXTFILE DDL with skip.header.line.count=1,
    src/hive/01_create_tables.hql:13-27)."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({columns_ddl}) "
        f"USING csv OPTIONS (header 'true', path '{path}')"
    )


DOCUMENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)


def read_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    drop_corrupt: bool = True,
) -> DataFrame:
    """JSONL document ingest — the de-facto wire format of web-scale
    text corpora (one JSON object per line, optionally gzipped; Spark
    splits and decompresses per file automatically).

    A declared schema is strongly preferred at 100 TB: inference costs
    a full extra pass over every file. Broken lines are dropped at the
    parser (DROPMALFORMED) by default; pass ``drop_corrupt=False`` to
    keep them in a ``_corrupt_record`` column for a quarantine sink.
    (The drop path deliberately avoids PERMISSIVE + filter-on-corrupt:
    Spark forbids queries over raw JSON that reference only the
    internal corrupt column, so ``reader(...).count()`` would throw
    QUERY_ONLY_CORRUPT_RECORD_COLUMN unless the frame were cached.)
    """
    schema = schema or DOCUMENTS_JSONL_SCHEMA
    if drop_corrupt:
        return spark.read.schema(schema).option("mode", "DROPMALFORMED").json(path)
    # fresh StructType: StructType.add mutates in place, which would
    # grow the shared module-level schema on every call
    with_corrupt = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
