"""Sinks: file-list flush with transformer/aggregator chains.

Reference parity (SURVEY.md §2.3, §2.7): a file list is a named
collection of matched nodes; at the end of the run each list is flushed
through a ``transformer`` (per-element map) and an ``aggregator``
(reduction to a sink) — ``decode_filelist`` / ``decode_aggregator``
chains like ``[["filepath", "sort", "unique", "shared_list_to_file"]]``
(reference src/DataCurator.jl:1616-1740, 4144-4168; aggregate_sort
example example_recipes/aggregate_sort.toml).

Here a list is a tagged subset of the result DataFrame, a transformer is
a Column expression, and an aggregator chain is a sequence of DataFrame
stages ending in a writer — each sink is its own small logical plan that
Catalyst optimizes independently (column pruning means a url-only sink
never materializes text).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacurator_jl_spark.functions.predicates import basename as _basename

# transformer name -> Column factory over the node-name column
TRANSFORMERS: dict[str, Callable[[Column], Column]] = {
    "identity": lambda c: c,
    "filepath": lambda c: F.regexp_replace(c, r"/[^/]*$", ""),  # dirname
    "basename": _basename,
    "tolowercase": F.lower,
    "toupper": F.upper,
}

# chain step name -> DataFrame stage (applied to a 1-column frame `value`)
CHAIN_STEPS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "sort": lambda df: df.orderBy("value"),
    "unique": lambda df: df.distinct(),
    "list_to_file": lambda df: df,  # terminal marker; writer handles it
    "shared_list_to_file": lambda df: df,
}


# --- general aggregator chains (reference decode_aggregator,
#     src/DataCurator.jl:1687-1740: `[[transformer..., sink]]` with
#     arbitrary registered transformers, e.g. demo.toml's
#     describe-then-concat). Each stage is a registered DataFrame ->
#     DataFrame function over the tagged subset (full columns), so
#     groupbycolumn / describe work as per-list transformers. -------------

from datacurator_jl_spark.operators import dataframe_ops as _DO  # noqa: E402

DF_STAGES: dict[str, Callable[..., DataFrame]] = {
    "unique": lambda df: df.distinct(),
    "sort": lambda df, *cols: df.orderBy(*(cols if cols else df.columns)),
    "extract_columns": lambda df, *cols: df.select(*cols),
    "groupbycolumn": lambda df, groupcols, targets, fns, names=None: _DO.groupbycolumn(
        df, list(groupcols), list(targets), list(fns), list(names) if names else None
    ),
    "describe_column": lambda df, col: _DO.describe_column_exact(df, col),
}

SINK_STEPS = ("to_file", "list_to_file", "shared_list_to_file", "concat_to_table", "to_table")


def run_aggregator_chain(df: DataFrame, chain: list) -> tuple[DataFrame, str]:
    """Fold a chain of registered DataFrame stages; an optional final
    sink name selects the writer ('to_file' text vs 'concat_to_table'
    parquet). Returns (transformed frame, sink name)."""
    steps = list(chain)
    sink = "to_file"
    if steps and isinstance(steps[-1], str) and steps[-1] in SINK_STEPS:
        sink = steps.pop()
    for s in steps:
        name, args = (s, []) if isinstance(s, str) else (s[0], list(s[1:]))
        if name not in DF_STAGES:
            raise ValueError(
                f"unknown aggregator stage {name!r} (have {sorted(DF_STAGES)})"
            )
        df = DF_STAGES[name](df, *args)
    return df, sink


def validate_aggregator_chain(chain: list) -> None:
    """Compile-time name/shape check (fail-before-data)."""
    steps = list(chain)
    if steps and isinstance(steps[-1], str) and steps[-1] in SINK_STEPS:
        steps.pop()
    for s in steps:
        name = s if isinstance(s, str) else (s[0] if s else None)
        if name not in DF_STAGES:
            raise ValueError(
                f"unknown aggregator stage {name!r} (have {sorted(DF_STAGES)})"
            )


def flush_file_list(
    df: DataFrame,
    name_col: str,
    out_path: str,
    transformer: str | list[str] | None = None,
    chain: list[str] | None = None,
    fmt: str = "text",
) -> None:
    """Flush one list: transformer (per element) -> chain stages ->
    write. ``fmt``: 'text' (one value per line, the reference's
    shared_list_to_file, src/DataCurator.jl:3681-3699) or 'parquet'.
    """
    col: Column = F.col(name_col)
    for t in [transformer] if isinstance(transformer, str) else (transformer or []):
        if t not in TRANSFORMERS:
            raise ValueError(f"unknown transformer {t!r}")
        col = TRANSFORMERS[t](col)
    out = df.select(col.cast("string").alias("value"))
    for step in chain or []:
        if step not in CHAIN_STEPS:
            raise ValueError(f"unknown aggregator step {step!r}")
        out = CHAIN_STEPS[step](out)
    writer = out.write.mode("overwrite")
    if fmt == "text":
        writer.text(out_path)
    else:
        writer.parquet(out_path)


# Spark SQL dtype -> portable ANSI DDL type for the JDBC pre-create path
_JDBC_DDL_TYPES = {
    "string": "VARCHAR",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "SMALLINT",
    "bigint": "BIGINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "binary": "BLOB",
}


def _jdbc_ddl_type(dtype: str) -> str:
    """DDL type for one Spark dtype — decimal(p,s) passes through
    verbatim; complex types (array/map/struct) raise instead of silently
    mistyping the column as VARCHAR (Spark's own JDBC writer rejects
    them too)."""
    if dtype in _JDBC_DDL_TYPES:
        return _JDBC_DDL_TYPES[dtype]
    if dtype.startswith("decimal"):
        return dtype.upper()
    raise ValueError(
        f"jdbc sink cannot map Spark dtype {dtype!r} to a DDL type — "
        "cast or serialize the column first (complex types are not "
        "JDBC-writable)"
    )


def _jdbc_connect(spark, driver: str, url: str):
    """Open a raw JVM driver connection.

    ``java.sql.DriverManager`` cannot discover drivers loaded via
    ``spark.jars``' classloader, so the driver class is instantiated
    directly off Spark's context classloader (the same trick the JDBC
    integration test uses to seed tables)."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    loader = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
    cls = jvm.java.lang.Class.forName(driver, True, loader)
    ctor = cls.getDeclaredConstructor(gw.new_array(jvm.java.lang.Class, 0))
    drv = ctor.newInstance(gw.new_array(jvm.java.lang.Object, 0))
    return drv.connect(url, jvm.java.util.Properties())


def jdbc_execute(df_or_spark, driver: str, url: str, statements: list[str]) -> None:
    """Run DDL/DML through a raw JVM driver connection."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    conn = _jdbc_connect(spark, driver, url)
    try:
        st = conn.createStatement()
        for sql in statements:
            st.execute(sql)
        st.close()
    finally:
        conn.close()


def _quote_ident(name: str, qc: str = '"') -> str:
    """Quote a (possibly schema-qualified) table name part-by-part with
    the dialect's quote char: ``main.docs`` -> ``"main"."docs"`` (or
    backticks on MySQL-mode drivers) — quoting the whole string as one
    identifier would create a single table literally named 'main.docs'.
    The embedded-quote escape is doubling, the JDBC convention."""
    return ".".join(qc + p.replace(qc, qc * 2) + qc for p in name.split("."))


def _jdbc_precreate(df: DataFrame, table: str, url: str, driver: str) -> str:
    """DROP + CREATE the sink table from the frame's schema, through a
    raw driver connection, so Spark only ever APPENDs to an existing
    table. This sidesteps Spark's ``JdbcUtils.tableExists`` probe —
    duckdb_jdbc raises at ``prepareStatement`` for a missing table,
    which escapes the probe's SQLException catch and breaks every
    DataFrameWriter mode against that driver (round-3 VERDICT #3);
    pre-creating makes the probe always find the table.

    The identifier quote char comes from the live connection's JDBC
    metadata (``getIdentifierQuoteString``) rather than assuming ANSI
    double quotes, so MySQL-default-mode drivers (backtick quoting)
    work too (ADVICE r4); returns it for the caller's ``dbtable``
    option. Falls back to ANSI when the driver reports none (a single
    space, per the JDBC spec)."""
    conn = _jdbc_connect(df.sparkSession, driver, url)
    try:
        qc = conn.getMetaData().getIdentifierQuoteString() or '"'
        if not qc.strip():
            qc = '"'
        q = _quote_ident(table, qc)
        cols = ", ".join(
            f"{_quote_ident(name, qc)} {_jdbc_ddl_type(dtype)}"
            for name, dtype in df.dtypes
        )
        st = conn.createStatement()
        st.execute(f"DROP TABLE IF EXISTS {q}")
        st.execute(f"CREATE TABLE {q} ({cols})")
        st.close()
    finally:
        conn.close()
    return qc


def save_content(
    df: DataFrame, sink: str, fmt: str | None = None, **options: str
) -> None:
    """Format-dispatched writer — the reference's ``save_content`` multiple
    dispatch (src/DataCurator.jl:1310-1326: DataFrame->CSV, image->tif,
    string->txt) re-expressed as one writer with format inference from the
    sink's extension: .csv -> csv(+header), .json -> json, .txt -> text
    (single string column), .parquet/dir -> parquet; ``fmt='jdbc'`` writes
    to a database table (``sink`` = table name, pass ``url=...``; driver
    jar is the deployment's responsibility, as in ``sources.load_jdbc``).
    """
    if fmt is None:
        ext = os.path.splitext(sink)[1].lower().lstrip(".")
        fmt = ext if ext in ("csv", "json", "txt", "parquet") else "parquet"
    if fmt == "iceberg":
        from datacurator_jl_spark.sources.tables import iceberg_available

        if iceberg_available(df.sparkSession):
            w = df.write.format("iceberg").mode("overwrite")
            for k, v in options.items():
                w = w.option(k, v)
            w.save(sink)
            return
        import warnings

        warnings.warn(
            "fmt='iceberg' requested but no Iceberg runtime jar is on "
            "the classpath — falling back to a parquet write of the same "
            "path (no snapshot commit; resume uses the batch manifest "
            "twin instead)"
        )
        fmt = "parquet"

    def writer(frame: DataFrame):
        w = frame.write.mode("overwrite")
        for k, v in options.items():  # ALL options reach every format
            w = w.option(k, v)
        return w

    if fmt == "csv":
        writer(df).option("header", "true").csv(sink)
    elif fmt == "json":
        writer(df).json(sink)
    elif fmt in ("txt", "text"):
        out = df.select(
            F.concat_ws(
                ",", *[F.col(c).cast("string") for c in df.columns]
            ).alias("value")
        )
        writer(out).text(sink)
    elif fmt == "jdbc":
        if "url" not in options:
            raise ValueError("jdbc sink needs url=...")
        if "driver" in options:
            # pre-create + append: overwrite semantics without ever
            # taking Spark's tableExists/CREATE path (see _jdbc_precreate
            # — required for duckdb_jdbc, harmless for sqlite/postgres)
            qc = _jdbc_precreate(df, sink, options["url"], options["driver"])
            w = df.write.mode("append")
            for k, v in options.items():
                w = w.option(k, v)
            w.format("jdbc").option("dbtable", _quote_ident(sink, qc)).save()
        else:
            writer(df).format("jdbc").option("dbtable", sink).save()
    else:
        writer(df).parquet(sink)


def concat_to_table(frames: list[DataFrame], out_path: str) -> None:
    """The reference's concat_to_table (src/DataCurator.jl:2662-2780):
    union-by-name of per-source frames into one table. Missing columns
    null-filled (allowMissingColumns), like vcat(cols=:union)."""
    from functools import reduce

    if not frames:
        raise ValueError("no frames to concatenate")
    merged = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
    merged.write.mode("overwrite").parquet(out_path)


def write_partitioned(
    df: DataFrame,
    out_path: str,
    ts_col: str = "warc_ts",
    url_col: str = "url",
    host_buckets: int = 16,
) -> None:
    """Write with the production partition spec: day(warc_ts) ×
    hash-bucket(url host) — the Iceberg `days(warc_ts), bucket(N, host)`
    spec expressed as parquet partition columns. Readers filtering on a
    day or a host bucket get partition PRUNING (no data read outside the
    matching directories), and the host bucketing bounds per-partition
    skew from mega-domains.
    """
    from datacurator_jl_spark.operators.skew import domain_of

    out = (
        df.withColumn("dc_day", F.to_date(F.col(ts_col)))
        .withColumn(
            "dc_host_bucket", F.pmod(F.hash(domain_of(F.col(url_col))), F.lit(host_buckets))
        )
    )
    out.write.mode("overwrite").partitionBy("dc_day", "dc_host_bucket").parquet(out_path)


def write_outputs(result, output_dir: str, input_path: str | None = None) -> dict[str, str]:
    """Write the standard output set for a CurationResult: kept docs,
    drop log, lineage, counters.csv, one sink per file list (honoring the
    recipe's file_list spec). Returns {name: path}.

    Honors the recipe's write disposition (reference transform_wrapper
    modes, src/DataCurator.jl:1328-1348):

    - ``copy`` (default): source untouched.
    - ``move``: additionally writes ``source_remaining`` — the source
      rewritten without the moved (kept) rows. In production this is an
      Iceberg ``DELETE WHERE``; over immutable parquet it is an explicit
      rewrite.
    - ``inplace``: atomically replaces ``input_path`` with the curated
      rows (tmp-write + directory swap, the reference's tmpcopy dance).
    """
    os.makedirs(output_dir, exist_ok=True)
    paths: dict[str, str] = {}

    def p(name: str) -> str:
        paths[name] = os.path.join(output_dir, name)
        return paths[name]

    # Fork-write pattern: kept/, drop_log/, lineage/ and the counters all
    # consume the SAME decision-projected frame. Unpersisted, each write
    # re-runs the whole pipeline — and a filter on a projected column
    # (dc_kept) is pushed back through the projection, re-extracting any
    # Arrow stage into the filter as well (2 UDF passes per write, ~4+
    # total). DISK_ONLY persist = one compute, N local-disk reads; freed
    # in the finally.
    from pyspark import StorageLevel

    result.df.persist(StorageLevel.DISK_ONLY)
    try:
        return _write_outputs_inner(result, output_dir, input_path, p, paths)
    finally:
        result.df.unpersist()


def _write_outputs_inner(result, output_dir, input_path, p, paths):
    result.kept().write.mode("overwrite").parquet(p("kept"))
    result.dropped().write.mode("overwrite").parquet(p("drop_log"))
    result.lineage().write.mode("overwrite").parquet(p("lineage"))
    result.counters().toPandas().to_csv(
        os.path.join(output_dir, "counters.csv"), index=False
    )
    paths["counters"] = os.path.join(output_dir, "counters.csv")
    for name, spec in result.spec.file_lists.items():
        agg = spec.get("aggregator")
        if isinstance(agg, list):
            out, sink = run_aggregator_chain(result.file_list(name), agg)
            save_content(
                out,
                p(f"list_{name}"),
                fmt="parquet" if sink in ("concat_to_table", "to_table") else "txt",
            )
            continue
        flush_file_list(
            result.file_list(name),
            result.spec.name_col,
            p(f"list_{name}"),
            transformer=spec.get("transformer"),
            chain=["unique", "sort"] if agg == "sorted_unique" else None,
            fmt="parquet" if agg == "concat_to_table" else "text",
        )

    mode = getattr(result.spec, "write_mode", "copy")
    if mode == "move":
        result.remaining_source().write.mode("overwrite").parquet(p("source_remaining"))
    elif mode == "inplace":
        if not input_path:
            raise ValueError("write_mode=inplace requires the input path")
        src = input_path.rstrip("/")
        tmp, old = src + ".dc_inplace_tmp", src + ".dc_inplace_old"
        # materialize BEFORE touching the source (Spark cannot overwrite a
        # path it is reading), then swap via two renames — the crash
        # window leaves either the old or the new directory intact
        result.curated_source().write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(src, old)
        os.rename(tmp, src)
        shutil.rmtree(old)
        paths["source"] = src
    return paths


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED (hash-partitioned-on-disk) managed table —
    the co-located-join tool for keys that are joined repeatedly at
    scale: two tables bucketed on the same column with the same bucket
    count join WITHOUT a shuffle exchange (each task reads matching
    buckets from both sides), and aggregations on the bucket column skip
    their exchange too. The right home for a standing signature table
    (bucket by ``doc``) or a doc-keyed feature store joined every
    ingest: the shuffle is paid ONCE at write, not per job.

    ``sort_col`` additionally sorts within buckets (sort-merge join then
    skips its per-task sort). Bucketing requires ``saveAsTable`` (bucket
    metadata lives in the catalog — Hive metastore or the local
    spark-warehouse; with Iceberg, the analogue is a bucket partition
    transform)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    spark = df.sparkSession
    if mode == "overwrite" and not spark.catalog.tableExists(table):
        # a table dir can outlive its metastore entry (fresh derby per
        # session); an orphaned location makes saveAsTable refuse. A
        # table the catalog knows is left to saveAsTable, which refuses
        # to overwrite a table the write is reading from.
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        if wh:
            shutil.rmtree(
                os.path.join(wh.removeprefix("file:"), table.lower()),
                ignore_errors=True,
            )
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)
