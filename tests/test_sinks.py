"""Sink tests: file-list flush chains, concat_to_table, write_outputs."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from datacurator_jl_spark.engine import Pipeline
from datacurator_jl_spark.sinks import concat_to_table, flush_file_list, write_outputs


def _read_text(path):
    lines = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            lines += [l.rstrip("\n") for l in fh]
    return lines


def test_flush_sort_unique_chain(spark, tmp_path):
    df = spark.createDataFrame(
        [("b/x.txt",), ("a/y.txt",), ("b/z.txt",)], "url string"
    )
    out = str(tmp_path / "lst")
    # filepath (dirname) -> unique -> sort: the aggregate_sort.toml chain
    flush_file_list(df.coalesce(1), "url", out, transformer="filepath", chain=["unique", "sort"])
    assert _read_text(out) == ["a", "b"]


def test_concat_to_table_union_by_name(spark, tmp_path):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2, 9.5)], "id int, b double")
    out = str(tmp_path / "tbl")
    concat_to_table([a, b], out)
    got = spark.read.parquet(out)
    assert set(got.columns) == {"id", "a", "b"}
    assert got.count() == 2


def test_write_outputs_full_set(spark, docs_df, flagship_spec, tmp_path):
    res = Pipeline(flagship_spec).apply(docs_df)
    outdir = str(tmp_path / "out")
    paths = write_outputs(res, outdir)
    kept = spark.read.parquet(paths["kept"])
    dropped = spark.read.parquet(paths["drop_log"])
    assert kept.count() + dropped.count() == docs_df.count()
    assert os.path.exists(paths["counters"])
    assert os.path.isdir(paths["list_kept_urls"])
    lineage = spark.read.parquet(paths["lineage"])
    assert lineage.agg(F.sum("kept")).collect()[0][0] == kept.count()


def test_write_partitioned_prunes(spark, docs_df, tmp_path):
    from datacurator_jl_spark.sinks import write_partitioned

    out = str(tmp_path / "part")
    write_partitioned(docs_df.select("url", "warc_ts", "text"), out, host_buckets=4)
    back = spark.read.parquet(out)
    assert {"dc_day", "dc_host_bucket"} <= set(back.columns)
    one_day = back.select("dc_day").distinct().limit(1).collect()[0][0]
    q = back.filter(F.col("dc_day") == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # partition PRUNING: the day filter lands in PartitionFilters, and the
    # scan reads only that day's directories
    assert "PartitionFilters: [" in plan and "dc_day" in plan.split("PartitionFilters")[1][:200]
    assert q.count() == back.filter(F.col("dc_day") == one_day).count()


def test_save_content_format_dispatch(spark, tmp_path):
    from datacurator_jl_spark.sinks import save_content

    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    save_content(df, str(tmp_path / "t.csv"))
    save_content(df, str(tmp_path / "t.json"))
    save_content(df, str(tmp_path / "t.parquet"))
    save_content(df.select("k"), str(tmp_path / "t.txt"))
    got_csv = spark.read.option("header", True).csv(str(tmp_path / "t.csv"))
    assert {(r.k, r.v) for r in got_csv.collect()} == {("a", "1"), ("b", "2")}
    assert spark.read.json(str(tmp_path / "t.json")).count() == 2
    assert spark.read.parquet(str(tmp_path / "t.parquet")).count() == 2
    assert {r.value for r in spark.read.text(str(tmp_path / "t.txt")).collect()} == {"a", "b"}


def test_save_content_load_corpus_round_trip(spark, tmp_path):
    """load_corpus is the source twin of save_content: csv and json
    written corpora read back value-identical; .txt reads one doc per
    line into a `text` column; lineage column optional."""
    from datacurator_jl_spark.sinks import save_content
    from datacurator_jl_spark.sources.tables import load_corpus

    df = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "id long, text string"
    )
    for ext in ("csv", "json"):
        p = str(tmp_path / f"docs.{ext}")
        save_content(df, p)
        back = load_corpus(spark, p, with_lineage=False)
        got = sorted((int(r["id"]), r["text"]) for r in back.collect())
        assert got == [(1, "alpha text"), (2, "beta text")], ext
    # text: one doc per line, single `text` column + dc_source lineage
    t = str(tmp_path / "docs.txt")
    save_content(df.select("text"), t)
    back = load_corpus(spark, t)
    assert set(back.columns) == {"text", "dc_source"}
    assert {r["text"] for r in back.collect()} == {"alpha text", "beta text"}
    assert all(r["dc_source"] for r in back.select("dc_source").collect())


def test_load_corpus_format_override_and_parquet_default(spark, tmp_path):
    from datacurator_jl_spark.sources.tables import load_corpus

    p = str(tmp_path / "plain_dir")
    df = spark.createDataFrame([(1, "x")], "id long, text string")
    df.write.parquet(p)
    assert load_corpus(spark, p, with_lineage=False).count() == 1  # no ext -> parquet
    j = str(tmp_path / "data.weird")
    df.write.json(j)
    got = load_corpus(spark, j, fmt="json", with_lineage=False)
    assert {r["text"] for r in got.collect()} == {"x"}


def test_load_corpus_caller_options_beat_csv_defaults(spark, tmp_path):
    """ADVICE r3: user-supplied reader options must be applied AFTER the
    csv convenience defaults so header='false'/inferSchema win."""
    from datacurator_jl_spark.sources.tables import load_corpus

    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n")
    # default: header row consumed
    assert load_corpus(spark, p, with_lineage=False).count() == 1
    # caller override: header treated as data
    got = load_corpus(spark, p, with_lineage=False, header="false")
    assert got.count() == 2
    noinfer = load_corpus(spark, p, with_lineage=False, inferSchema="false")
    assert dict(noinfer.dtypes)["a"] == "string"


def test_iceberg_seam_falls_back_to_parquet(spark, tmp_path):
    """Round-3 VERDICT item 8: fmt='iceberg' is a one-config prod swap —
    with no runtime jar on the classpath both source and sink warn and
    fall back to parquet on the same path, so recipes written for the
    production Iceberg deployment run unchanged here."""
    import warnings as W

    from datacurator_jl_spark.sinks import save_content
    from datacurator_jl_spark.sources.tables import iceberg_available, load_corpus

    assert not iceberg_available(spark)  # this container ships no jar
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    p = str(tmp_path / "tbl")
    with W.catch_warnings(record=True) as got:
        W.simplefilter("always")
        save_content(df, p, fmt="iceberg")
    assert any("falling back to a parquet write" in str(w.message) for w in got)
    with W.catch_warnings(record=True) as got:
        W.simplefilter("always")
        back = load_corpus(spark, p, fmt="iceberg", with_lineage=False)
    assert any("falling back to a parquet read" in str(w.message) for w in got)
    assert sorted((r.id, r.s) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_bucketed_tables_join_without_exchange(spark):
    """write_bucketed_table: co-bucketed tables equi-join on the bucket
    key with NO shuffle exchange on either side — the pay-the-shuffle-
    once posture for repeatedly-joined keys (signature/feature tables)."""
    from datacurator_jl_spark.sinks import write_bucketed_table

    a = spark.range(0, 10_000).selectExpr("id AS doc", "id * 2 AS va")
    b = spark.range(0, 10_000).selectExpr("id AS doc", "id * 3 AS vb")
    write_bucketed_table(a, "bkt_a", "doc", n_buckets=8, sort_col="doc")
    write_bucketed_table(b, "bkt_b", "doc", n_buckets=8, sort_col="doc")
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "doc")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 10_000
            # a non-bucketed twin of the same join DOES exchange
            plain = a.join(b, "doc")
            pplan = plain._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in pplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_bucketed_table_overwrite_from_itself_is_refused(spark):
    """Overwriting a standing bucketed table from a frame that reads it is
    refused by Spark before any file is touched, so the table keeps its
    rows; an overwrite from other data still replaces it."""
    from pyspark.errors import AnalysisException

    from datacurator_jl_spark.sinks import write_bucketed_table

    def docs(n):
        return spark.range(0, n).selectExpr("id AS doc")

    write_bucketed_table(docs(100), "bkt_self", "doc", n_buckets=4)
    try:
        evens = spark.table("bkt_self").where("doc % 2 = 0")
        with pytest.raises(AnalysisException, match="read from"):
            write_bucketed_table(evens, "bkt_self", "doc", n_buckets=4)
        assert spark.table("bkt_self").count() == 100
        write_bucketed_table(docs(10), "bkt_self", "doc", n_buckets=4)
        assert spark.table("bkt_self").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_self")
