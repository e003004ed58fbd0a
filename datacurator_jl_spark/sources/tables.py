"""Source scans.

The reference expands a filesystem graph (``expand_filesystem``,
reference src/DataCurator.jl:4029-4031) and loads CSVs with a provenance
column ``dc_filename`` (``load_table``, src/DataCurator.jl:2525-2538).
Here the scan is a parquet/Iceberg read; the provenance idea is kept as a
``dc_source`` lineage column via ``input_file_name()``.

Scale posture: plain ``spark.read.parquet`` keeps Catalyst's predicate
pushdown / column pruning / partition pruning intact — downstream
operators always ``select`` only what they need so ``ReadSchema`` in the
physical plan stays narrow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the session
    classpath. The production deployment ships
    ``iceberg-spark-runtime`` and sets a catalog; this sandbox does not,
    so callers fall back to parquet with a warning — the prod swap is
    one config line (the jar + catalog conf), not a code edit."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


#: memoized scan partition counts per resolved path — load_table is
#: called once per query per table, and the count cannot change within a
#: session for an immutable input directory
_SCAN_PARTS: dict[str, int] = {}


def _spread_small_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition a scan whose split count is below the
    session's core parallelism (round-7, guide §2.5: "one huge
    unsplittable file ... repartition immediately after the read").

    Why: a parquet file smaller than ``maxPartitionBytes`` (or with one
    row group) scans as ONE task, and every narrow stage built on it —
    Arrow UDF signatures, codegen projections, and the probe side of the
    broadcast pair joins, which all PRESERVE input partitioning —
    inherits that single task: the whole pair-compute of a blocked
    self-join serializes on one core while the other 31 idle (measured:
    d08 9.3 s with its 623k array_intersect pairs in one task).

    Scale posture: the spread only fires when the scan has FEWER splits
    than ``spark.sparkContext.defaultParallelism`` — a 100-TB table has
    ~10⁵-10⁶ splits and is untouched; a single unsplittable file (the
    gzip case in the guide) is exactly what this exists for. Catalyst
    pushes filters and column pruning THROUGH a Repartition node, so
    PushedFilters/ReadSchema at the scan are unchanged (pinned by
    test_plans). Disable or resize via the
    ``spark.datacurator.scan.minParallelism`` conf (0 disables).
    """
    try:
        p = int(
            spark.conf.get(
                "spark.datacurator.scan.minParallelism",
                str(spark.sparkContext.defaultParallelism),
            )
        )
    except ValueError:
        p = spark.sparkContext.defaultParallelism
    if p <= 1:
        return df
    n = _SCAN_PARTS.get(path)
    if n is None:
        # a pure scan plan: building the RDD runs no job (no AQE stage)
        n = df.rdd.getNumPartitions()
        _SCAN_PARTS[path] = n
    if 0 < n < p:
        return df.repartition(p)
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    with_lineage: bool = False,
    spread: bool = True,
) -> DataFrame:
    """Read one parquet table from an sf directory.

    ``with_lineage=True`` appends ``dc_source`` (the reference's
    ``dc_filename`` provenance column, src/DataCurator.jl:2534-2536).
    ``spread=False`` skips the small-scan repartition: right for
    SHUFFLE-FIRST consumers (aggregations, windows, key joins), whose
    first exchange redistributes the rows anyway — for them the spread
    is a pure extra shuffle (measured: q01 0.26 s -> 0.87 s). Narrow
    compute-heavy consumers (Arrow signature UDFs, pair-join probes)
    keep the default.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if with_lineage:
        # input_file_name() only resolves inside the scan stage — attach
        # lineage BEFORE any repartition moves rows off their scan task
        df = df.withColumn("dc_source", F.input_file_name())
    return _spread_small_scan(spark, df, path) if spread else df


def load_corpus(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: str | None = None,
    with_lineage: bool = True,
    **options: str,
) -> DataFrame:
    """Format-dispatched corpus reader — the source twin of
    ``sinks.save_content`` (reference ``load_content`` type dispatch,
    src/DataCurator.jl:1270-1296): extension infers the format
    (.csv -> csv with header, .json/.jsonl -> JSON lines, .txt -> text
    with one document per line in a ``text`` column, anything else ->
    parquet); ``fmt=`` overrides. ``dc_source`` lineage column appended
    by default (the reference's ``dc_filename``).

    Scale note: pass ``schema`` for csv/json of any size — inference
    (the small-corpus default here) costs an extra full scan and types
    drift between files; a pinned schema also keeps pushdown exact.
    """
    if fmt is None:
        ext = os.path.splitext(path)[1].lower().lstrip(".")
        fmt = {"jsonl": "json", "txt": "text"}.get(ext, ext) or "parquet"
        if fmt not in ("csv", "json", "text", "parquet"):
            fmt = "parquet"
    if fmt == "iceberg" and not iceberg_available(spark):
        import warnings

        warnings.warn(
            "fmt='iceberg' requested but no Iceberg runtime jar is on "
            "the classpath — falling back to a parquet read of the same "
            "path (snapshot isolation / time travel unavailable)"
        )
        fmt = "parquet"
    reader = spark.read
    if fmt == "iceberg":
        # caller options FIRST here too — snapshot-id / as-of-timestamp
        # are exactly the options an iceberg read exists for
        r = reader.format("iceberg")
        for k, v in options.items():
            r = r.option(k, v)
        df = r.load(path)
        if with_lineage:
            df = df.withColumn("dc_source", F.input_file_name())
        return df
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        # format defaults FIRST, caller options LAST so a caller passing
        # header='false' / inferSchema wins over the convenience defaults
        reader = reader.option("header", "true").option(
            "inferSchema", "true" if schema is None else "false"
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    if fmt == "csv":
        df = reader.csv(path)
    elif fmt == "json":
        df = reader.json(path)
    elif fmt == "text":
        df = reader.text(path).withColumnRenamed("value", "text")
    else:
        df = reader.parquet(path)
    if with_lineage:
        df = df.withColumn("dc_source", F.input_file_name())
    return df


def load_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """SQL-database source (reference load_sqlite /
    extract_table_as_dataframe, src/DataCurator.jl:431-443): a
    ``spark.read.jdbc`` scan behind whatever driver jar the deployment
    ships (none is present in this container — the codepath is real, the
    driver is the deployment's responsibility; CI covers the recipe-level
    SQL semantics through the DuckDB oracle instead).

    Scale note: ALWAYS pass ``partition_column`` + bounds for a table of
    any size — without them the JDBC source reads through ONE connection
    on one task. ``table`` may be a subquery alias
    (``"(select ...) t"``) to push predicates into the database.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() entry points."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
