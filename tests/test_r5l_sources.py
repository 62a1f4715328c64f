"""Invariant tests for the round-5l tier (XML round-trip, Python data
source).
"""

from __future__ import annotations

from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r4  # noqa: F401 (jsonl_roundtrip)
import beacon_data_importer_spark.catalog_r5l  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_xml_roundtrip_equals_jsonl_roundtrip_and_source_table(spark, sf_dir):
    """Both round-trips reduce to the same per-lang aggregate of the
    ORIGINAL table — so XML, JSONL, and the direct parquet computation
    must agree exactly (three independent serializations, one truth)."""
    from beacon_data_importer_spark.catalog_r4 import _cksum
    from beacon_data_importer_spark.sources.parquet import read_table

    xml = QUERIES["xml_roundtrip"](spark, sf_dir)
    jsonl = QUERIES["jsonl_roundtrip"](spark, sf_dir)
    direct = (
        read_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            _cksum(F.col("text")).alias("text_cksum"),
        )
    )
    assert xml.exceptAll(direct).count() == 0
    assert direct.exceptAll(xml).count() == 0
    assert xml.exceptAll(jsonl).count() == 0


def test_python_datasource_matches_generator_and_parallelism(spark, sf_dir):
    """The scan must deliver exactly the generator's rows (recomputed
    sequentially) and expose one input partition per sensor."""
    from beacon_data_importer_spark.catalog_r5l import (
        _PYDS_READINGS,
        _PYDS_SENSORS,
        _pyds_value,
        _register_sensor_source,
    )

    expected = {}
    for s in range(_PYDS_SENSORS):
        vals = [_pyds_value(s, r) for r in range(_PYDS_READINGS)]
        expected[s] = (
            _PYDS_READINGS,
            sum(vals),
            min(vals),
            max(vals),
            sum(v * r for r, v in enumerate(vals)) % 1000000007,
        )
    got = {
        r["sensor_id"]: (
            r["n_readings"],
            r["sum_value"],
            r["min_value"],
            r["max_value"],
            r["weighted_cksum"],
        )
        for r in QUERIES["python_datasource_scan"](
            spark, sf_dir
        ).collect()
    }
    assert got == expected

    _register_sensor_source(spark)
    raw = (
        spark.read.format("synthetic_sensors")
        .option("sensors", str(_PYDS_SENSORS))
        .option("readings", str(_PYDS_READINGS))
        .load()
    )
    assert raw.rdd.getNumPartitions() == _PYDS_SENSORS
    assert raw.count() == _PYDS_SENSORS * _PYDS_READINGS
