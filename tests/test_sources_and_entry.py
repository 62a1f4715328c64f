"""Scan-layer semantics (petl string/empty-cell compatibility) and the
driver-contract smoke check."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from beacon_data_importer_spark.sources.csv import read_csv_stringly


def test_csv_stringly_empty_cells_are_empty_strings(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("a,b,c\n1,,x\n,2,\n")
    df = read_csv_stringly(spark, str(p))
    rows = [tuple(r) for r in df.orderBy("a").collect()]
    assert rows == [("", "2", ""), ("1", "", "x")]
    assert all(t == "string" for _, t in df.dtypes)


def test_csv_windows_1252(spark, tmp_path):
    p = tmp_path / "legacy.csv"
    p.write_bytes("name\ncaf\xe9\n".encode("windows-1252"))
    df = read_csv_stringly(spark, str(p), encoding="windows-1252")
    assert df.collect()[0].name == "café"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["orderkey", "revenue_cents", "orderdate"]


def test_queries_and_oracles_aligned():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every oracle-less query is an explicitly documented weaker check
    assert len(qs) >= 30


def test_jsonl_roundtrip_and_corrupt_line_is_null_row(spark, tmp_path):
    from beacon_data_importer_spark.sources import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id bigint, name string"
    )
    out = str(tmp_path / "j")
    write_jsonl(df, out)
    back = read_jsonl(spark, out, "id bigint, name string")
    assert sorted((r.id, r.name) for r in back.collect()) == [
        (1, "alpha"),
        (2, "beta"),
    ]

    # corrupt line -> all-null row (error-as-null), raw line retained
    # when quarantining is requested
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"id": 1, "name": "ok"}\nnot json at all\n')
    rows = read_jsonl(spark, str(bad), "id bigint, name string").collect()
    got = sorted(
        [(r.id, r.name) for r in rows], key=lambda t: (t[0] is None, t)
    )
    assert got == [(1, "ok"), (None, None)]
    kept = read_jsonl(
        spark, str(bad), "id bigint, name string", keep_corrupt=True
    ).collect()
    corrupt = [r for r in kept if r._corrupt_record is not None]
    assert len(corrupt) == 1 and corrupt[0]._corrupt_record == "not json at all"


def test_orc_roundtrip_preserves_schema(spark, tmp_path):
    from beacon_data_importer_spark.sources import read_orc, read_table, write_orc

    src = read_table(spark, "/root/testdata/sf0.001", "region")
    out = str(tmp_path / "o")
    write_orc(src, out)
    back = read_orc(spark, out)
    assert back.schema == src.schema
    assert back.count() == src.count()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Appending files with a WIDER schema must read back as the merged
    schema under mergeSchema — the source-robustness contract a
    long-lived corpus directory needs (new extraction fields appear;
    old files keep reading, missing columns are NULL)."""
    from pyspark.sql import Row

    out = str(tmp_path / "evolving")
    spark.createDataFrame([Row(id=1, a="x")]).write.mode("overwrite").parquet(
        out
    )
    spark.createDataFrame(
        [Row(id=2, a="y", b=42)]
    ).write.mode("append").parquet(out)
    got = (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .orderBy("id")
        .collect()
    )
    assert [r.asDict() for r in got] == [
        {"id": 1, "a": "x", "b": None},
        {"id": 2, "a": "y", "b": 42},
    ]


def test_csv_gzip_codec_transparency(spark, tmp_path):
    """Spark's text-source codec handling must make .csv.gz files
    indistinguishable from plain .csv for the petl-semantics reader
    (compressed drop-zones are the norm at intake)."""
    import gzip

    from beacon_data_importer_spark.sources.csv import read_csv_stringly

    p = tmp_path / "t.csv.gz"
    with gzip.open(p, "wt", encoding="utf-8") as f:
        f.write("a,b\n1,x\n2,\n3,z\n")
    df = read_csv_stringly(spark, str(p))
    rows = sorted((r.a, r.b) for r in df.collect())
    assert rows == [("1", "x"), ("2", ""), ("3", "z")]


def test_cli_query_subcommand_lists_and_runs(capsys):
    from beacon_data_importer_spark.cli import main

    assert main(["query", "--list"]) == 0
    names = capsys.readouterr().out.split()
    assert "pricing_summary" in names and len(names) >= 150

    assert (
        main(
            [
                "query",
                "pricing_summary",
                "-d",
                "/root/testdata/sf0.001",
                "--limit",
                "2",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].startswith("returnflag,")
    assert len(out) == 3  # header + 2 rows


def test_read_table_parallel_rejects_table_without_key(spark, sf_dir):
    """A table with no declared repartition key fails up front with a
    ValueError naming it, instead of repartitioning on a guessed column."""
    import pytest

    from beacon_data_importer_spark.sources.parquet import read_table_parallel

    with pytest.raises(ValueError, match="'orders'"):
        read_table_parallel(spark, sf_dir, "orders")


def test_read_table_parallel_n_is_target_for_under_split_only(spark, tmp_path):
    """``n`` is the repartition target for an under-split source; a
    source with more splits than ``n`` keeps its own partitioning (the
    split gate wins: no shuffle just to narrow a many-split table)."""
    from beacon_data_importer_spark.sources.parquet import read_table_parallel

    docs = spark.range(60).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    many, single = str(tmp_path / "many"), str(tmp_path / "single")
    docs.repartition(6).write.parquet(f"{many}/documents.parquet")
    docs.coalesce(1).write.parquet(f"{single}/documents.parquet")

    splits = spark.read.parquet(f"{many}/documents.parquet").rdd.getNumPartitions()
    assert splits > 2
    df = read_table_parallel(spark, many, "documents", n=2)
    assert df.rdd.getNumPartitions() == splits
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()

    assert spark.read.parquet(f"{single}/documents.parquet").rdd.getNumPartitions() == 1
    assert read_table_parallel(spark, single, "documents", n=8).rdd.getNumPartitions() == 8
