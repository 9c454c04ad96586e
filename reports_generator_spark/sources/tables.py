"""Parquet table sources for the fixture star schema.

The reference reads parquet with a bare ``spark.read.parquet`` (
Main.scala:40, Proof.scala:231) and takes its output schema from config
(Proof.scala:276-284). Here operators refer to tables by name through a
tiny registry, and every scan is ``spark.read.schema(s).parquet(path)``
with ``s`` resolved by :func:`table_schema`. Scans stay declarative, so
Catalyst pushes filters/projections into the parquet reader (check
``.explain``: PushedFilters / ReadSchema).

Schema resolution is catalog behaviour, not data caching. A bare
``spark.read.parquet`` runs a footer-reading Spark job to infer the
schema on every call; :func:`table_schema` infers it once per (Spark
application, path, file listing, parquet-inference conf) and keeps only
the ``StructType``. No rows, no DataFrame and no plan are kept, so every
key still builds a fresh relation, lists the files and reads the data:
nothing one key computes is reused by the next.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

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

#: session confs that change the schema a bare parquet read infers for
#: the same files; part of the resolver key so a change re-infers
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

#: (applicationId, path, inference conf values) -> (listing, schema).
#: A stale listing replaces its entry, so this holds at most one schema
#: per path and conf set of a Spark application. Two threads resolving
#: the same path at once at worst both infer and store equal values.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _listing(spark: SparkSession, path: str) -> tuple | None:
    """(path, len, modificationTime) of each entry of one Hadoop
    ``listStatus`` on the driver (a file lists itself), or None when
    the path does not exist."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    try:
        statuses = hpath.getFileSystem(sc._jsc.hadoopConfiguration()).listStatus(hpath)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            return None
        raise
    return tuple(
        (s.getPath().toString(), s.getLen(), s.getModificationTime()) for s in statuses
    )


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    (application, path, listing, inference conf). A missing path raises
    the reader's own ``AnalysisException`` (PATH_NOT_FOUND). Entries
    below one directory level are not in the listing: a file rewritten
    in place inside a partition directory keeps its old schema."""
    listing = _listing(spark, path)
    if listing is None:
        return spark.read.parquet(path).schema
    key = (
        spark.sparkContext.applicationId,
        path,
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == listing:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (listing, schema)
    return schema


def normalize_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Parquet TIMESTAMP(NANOS) arrives as raw long (nanosAsLong conf);
    rescale to a micros timestamp with integer division, matching
    DuckDB's nanos→micros truncation."""
    field = next((f_ for f_ in df.schema.fields if f_.name == col), None)
    if field is not None and isinstance(field.dataType, LongType):
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain parquet scan with the schema from
    :func:`table_schema` (no inference job after a table's first call);
    no caching, no repartition: the consumer's plan decides physical
    layout. Each call is a new relation, so two calls self-join with
    distinct attributes."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_nanos_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
