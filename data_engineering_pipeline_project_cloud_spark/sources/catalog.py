"""Sources and sinks (SURVEY.md §2.1, S1-S7).

The reference extracts CSV from object storage into pandas
(``scripts/main.py:44-49``) and full-overwrite-loads tables
(``scripts/main.py:55-62``).  Here the source layer is Spark readers:
splittable, executor-parallel scans with explicit schemas — no
driver-side materialization, which is the reference's central
scalability limit (SURVEY.md §3.2).

Scale notes:
 - Parquet is the at-rest format: columnar, predicate-pushdown and
   column-pruning friendly; at 100 TB a scan touching 3 of 30 columns
   reads ~10% of bytes.
 - CSV ingest takes an explicit StructType — never ``inferSchema``,
   which double-scans the input ("load loose, cast strict" per
   SURVEY.md §1.3 stays possible by declaring all-string schemas).
 - Writes are ``mode("overwrite")`` to preserve the reference's
   idempotent-rebuild contract (``scripts/main.py:58``).

Object-store (S3) path — parity with ``scripts/main.py:44-49``, where
the extract is ``pd.read_csv("s3://bucket/key")`` under an IAM role.
In Spark the SAME reader functions work against S3 by (a) spelling the
path ``s3a://bucket/prefix/...`` and (b) configuring the S3A connector
on the session::

    SparkSession.builder
      .config("spark.hadoop.fs.s3a.aws.credentials.provider",
              "com.amazonaws.auth.DefaultAWSCredentialsProviderChain")
      # IAM-role / env-var auth, matching the reference's boto3 chain
      .config("spark.hadoop.fs.s3a.connection.maximum", "64")
      .config("spark.sql.files.maxPartitionBytes", "134217728")  # 128 MiB splits

Every function below is path-scheme agnostic (``sf_dir`` may be an
``s3a://`` URI); S3A streams ranged GETs per split, so executors scan
object-store parquet in parallel with no driver materialization.  The
sandbox has no object store or hadoop-aws jars, so this path is
documented + config-gated rather than tested here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tables of the driver's TPC-H-ish star schema (TESTDATA.md).
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table (S1 analog; splittable distributed read).

    Nanosecond-precision parquet timestamps (the ``events.ts`` column)
    are not a Spark-native type: read them as raw int64 nanos
    (``nanosAsLong``) and convert to microsecond timestamps at the
    source boundary, so every downstream plan sees a plain
    ``TimestampType`` (truncation semantics match engines that cast
    ns → µs).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer DIV, not `/`: ns epoch values exceed 2^53 and
            # would lose precision through double division.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_csv_strict(spark: SparkSession, path: str, schema: T.StructType,
                    header: bool = True) -> DataFrame:
    """CSV scan with a declared schema (S1; ``scripts/main.py:44-49``).

    Unlike the reference's ``pd.read_csv`` (whole file into driver RAM,
    inferred dtypes), this is an executor-parallel scan over file
    splits with a pinned schema.
    """
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_csv_with_badrecords(spark: SparkSession, path: str,
                             schema: T.StructType,
                             header: bool = True) -> DataFrame:
    """CSV ingest that CAPTURES malformed rows instead of silently
    nulling (PERMISSIVE default) or dying mid-job (FAILFAST): rows
    that don't parse land whole in ``_corrupt_record`` for a
    quarantine split.  At 100 TB a single bad row must neither kill a
    9-hour load nor vanish — route the quarantine to its own sink and
    alert on its count."""
    full = schema.add(T.StructField("_corrupt_record", T.StringType()))
    return (
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def read_jdbc(spark: SparkSession, url: str, table: str,
              partition_column: str | None = None,
              lower_bound: int | None = None, upper_bound: int | None = None,
              num_partitions: int = 8,
              properties: dict | None = None) -> DataFrame:
    """Relational-source scan (S2; the reference reads Postgres via
    ``pd.read_sql``, ``scripts/create_dimensions.py:18-29``).

    Without ``partition_column`` a JDBC read is ONE connection on one
    executor — the single-node bottleneck all over again.  Passing a
    numeric column + bounds splits the scan into ``num_partitions``
    range queries executed in parallel; pick a roughly uniform column
    (a sequence PK) or the stragglers dominate.  Exercised end-to-end
    against embedded Derby (the JVM DB Spark ships for its metastore):
    ``plans/relational.py:jdbc_roundtrip_nation`` (oracle-checked) and
    ``tests/test_sinks_ingest.py`` (4-way partitioned read +
    idempotent overwrite).
    """
    reader = spark.read.format("jdbc").option("url", url).option(
        "dbtable", table)
    if partition_column is not None:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound))
                  .option("numPartitions", str(num_partitions)))
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(df: DataFrame, url: str, table: str,
               batch_size: int = 10000, properties: dict | None = None) -> None:
    """Full-overwrite JDBC sink (S3 parity): ``mode("overwrite")`` +
    ``batchsize`` reproduces the reference's idempotent replace with
    10k-row batched INSERTs (``scripts/main.py:55-62``), except each
    executor writes its partitions concurrently instead of one driver
    connection."""
    writer = (df.write.format("jdbc").mode("overwrite")
              .option("url", url).option("dbtable", table)
              .option("batchsize", str(batch_size)))
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_overwrite(df: DataFrame, path: str, partition_by: list[str] | None = None,
                    sort_within_by: list[str] | None = None) -> None:
    """Idempotent full-overwrite sink (S3/S5; ``scripts/main.py:55-62``,
    ``scripts/transform-complex-full.py:17``).

    ``partition_by`` replaces the reference's serving-path indexes
    (``scripts/transform-complex-full.py:215-221``) with physical
    layout: partition pruning + parquet min/max stats give data
    skipping.  ``sort_within_by`` clusters rows inside files so
    row-group stats are selective (S6 analog).

    A partitioned write rebalances on the partition columns first
    (``REBALANCE`` hint): each partition value's rows meet in one
    task, so the write emits one file per partition value — AQE still
    splits a skewed value at the advisory partition size — instead of
    one per (task, value), the small-files fanout that makes a point
    lookup open every task's file of every partition.  The files are
    then sorted by ``partition_by + sort_within_by``: that ordering
    already satisfies the sort the planned write needs, so the
    ``sort_within_by`` keys survive inside each file (a sort on the
    partition columns alone would replace them).
    """
    if partition_by:
        df = (df.hint("rebalance", *partition_by)
              .sortWithinPartitions(*partition_by, *(sort_within_by or [])))
    elif sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def assert_unique_key(df: DataFrame, keys: list[str]) -> None:
    """Grain-uniqueness assertion: the Spark stand-in for the
    reference's PK constraint (``scripts/transform-complex-full.py:212-213``)
    — Spark has no PK enforcement, so the contract is checked by
    aggregation (distributed; only violation count reaches the driver).
    """
    dupes = df.groupBy(*keys).count().filter("count > 1").count()
    if dupes:
        raise ValueError(f"grain violation: {dupes} duplicate key groups for {keys}")
