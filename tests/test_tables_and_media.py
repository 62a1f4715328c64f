"""DDL/INSERT surface (S7/S8/M2/M5 as Spark SQL over managed parquet
tables) and the multimodal frame-sampling/resize plumbing."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row

from beacon_data_importer_spark.operators import multimodal as MM


def test_create_insert_select_drop_table(spark, tmp_path):
    """The staging-table lifecycle: CREATE TABLE ... USING PARQUET,
    INSERT INTO ... SELECT with a join, read back, DROP (mirrors
    create_tmp_tables.sql + import_identified_needs.sql shape)."""
    loc = tmp_path / "tbl"
    spark.sql(
        f"CREATE TABLE tmp_needs_test (nhs_number STRING, category STRING) "
        f"USING PARQUET LOCATION '{loc}'"
    )
    try:
        src = spark.createDataFrame(
            [Row(nhs_number="N1", category="food"), Row(nhs_number="N2", category="misc")]
        )
        src.createOrReplaceTempView("src_needs")
        spark.sql(
            "INSERT INTO tmp_needs_test SELECT nhs_number, category FROM src_needs "
            "WHERE category = 'food'"
        )
        rows = spark.sql("SELECT * FROM tmp_needs_test").collect()
        assert [(r.nhs_number, r.category) for r in rows] == [("N1", "food")]
    finally:
        spark.sql("DROP TABLE IF EXISTS tmp_needs_test")
    assert "tmp_needs_test" not in [t.name for t in spark.catalog.listTables()]


def test_jdbc_wrappers_importable():
    from beacon_data_importer_spark.sources import jdbc

    assert callable(jdbc.read_jdbc) and callable(jdbc.write_jdbc)


def test_sample_frames_fanout(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=2, text="some video payload")]  # doc_id%3==2 -> video
    )
    decoded = MM.decode_media(MM.media_from_documents(docs))
    n_frames = decoded.collect()[0].n_frames
    frames = MM.sample_frames(decoded, every_k=4).collect()
    expect_idx = list(range(0, n_frames, 4))
    assert sorted(f.frame_idx for f in frames) == expect_idx
    f0 = [f for f in frames if f.frame_idx == 0][0]
    assert f0.frame_md5 == hashlib.md5(b"2|0").hexdigest()


def test_resize_meta_preserves_aspect(spark):
    decoded = spark.createDataFrame([Row(media_id=1, width=200, height=100)])
    r = MM.resize_meta(decoded, max_side=64).collect()[0]
    assert (r.target_width, r.target_height) == (64, 32)


def test_binary_parquet_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    """Binary media columns survive a parquet round-trip byte-for-byte,
    and a metadata-only projection prunes the payload out of the scan
    (ReadSchema must not mention it — the common case reads no bytes)."""
    from beacon_data_importer_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents").limit(50)
    media = MM.media_from_documents(docs)
    out = str(tmp_path / "media_parquet")
    media.write.parquet(out)

    back = spark.read.parquet(out)
    assert dict(back.dtypes)["payload"] == "binary"
    orig = {r.media_id: bytes(r.payload) for r in media.collect()}
    got = {r.media_id: bytes(r.payload) for r in back.collect()}
    assert got == orig

    meta_only = back.select("media_id", "media_type", "source_uri")
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "payload" not in read_schema
    assert "media_id" in read_schema


def test_decode_media_import_try_fallback(spark, sf_dir):
    """decode_stub=False tries real codecs (absent here) and must fall
    back to the deterministic stub PER ITEM — identical output, no task
    failure.  An environment with PIL/soundfile picks them up instead."""
    from beacon_data_importer_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents").limit(20)
    media = MM.media_from_documents(docs)
    stub = MM.decode_media(media, decode_stub=True).collect()
    auto = MM.decode_media(media, decode_stub=False).collect()
    assert sorted(map(tuple, stub)) == sorted(map(tuple, auto))
