"""Round-5l catalog tier: two Spark-4 source surfaces —

* ``xml_roundtrip`` — the BUILT-IN XML source/sink (spark-xml merged
  into Spark 4): documents written as XML and read back with a pinned
  schema; per-lang counts + an order-independent content checksum
  prove the text column survived XML escaping byte-exactly.  Extends
  the interchange matrix (parquet/ORC/JSONL/CSV/fixed-width/JDBC)
  with the format enterprise feeds still arrive in.
* ``python_datasource_scan`` — a custom PYTHON DATA SOURCE
  (pyspark.sql.datasource, Spark 4's Python DataSource V2 API): a
  deterministic partitioned synthetic-sensor source, one
  InputPartition per sensor, values from integer arithmetic both
  engines reproduce — demonstrating the extension point that turns
  any Python-reachable system into a parallel Spark table.

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .catalog_r2 import _duck_hash64
from .catalog_r4 import _CKSUM_MOD, _cksum
from .plans.staging_meter import stage_dir
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# xml_roundtrip
# ---------------------------------------------------------------------------


@query(
    "xml_roundtrip",
    oracle=f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({_duck_hash64("text")} % {_CKSUM_MOD}) AS BIGINT)
             AS text_cksum
    FROM documents GROUP BY lang
    """,
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source (Spark 4's built-in XML data source):
    documents written as ``<doc>`` rows and read back with an EXPLICIT
    schema (inference is an extra full pass at 100 TB — the
    jsonl_roundtrip doctrine).  Per-lang counts plus the
    order-independent md5 checksum prove the text column — including
    everything the writer had to XML-ESCAPE (&, <, >, quotes,
    newlines) — round-tripped byte-exactly; the oracle never sees the
    XML, only the raw table.

    One read-back quirk handled explicitly: the XML reader surfaces an
    EMPTY element as null, so empty-string texts coalesce back to ''
    before hashing (a lossy corner of the format itself, made lossless
    by the documented convention — exactly what a production XML feed
    contract would state).

    Reference parity: extends the S-family source/sink matrix
    (``COVERAGE.md §2.1``)."""
    out = stage_dir(
        spark,
        f"xml_docs|{sf_dir}",
        lambda path: read_table(spark, sf_dir, "documents")
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(path),
    )
    d = (
        spark.read.schema(
            "doc_id bigint, text string, lang string,"
            " source string, n_chars bigint"
        )
        .format("xml")
        .option("rowTag", "doc")
        .load(out)
        .select(
            "doc_id",
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        _cksum(F.col("text")).alias("text_cksum"),
    )


# ---------------------------------------------------------------------------
# python_datasource_scan
# ---------------------------------------------------------------------------

_PYDS_SENSORS = 8
_PYDS_READINGS = 1000
_PYDS_MULT = 2654435761  # Knuth multiplicative hash constant (public)


def _pyds_value(sensor: int, reading: int) -> int:
    """The deterministic reading both engines reproduce exactly:
    pure non-negative integer arithmetic, no floats, no hashing
    libraries."""
    return ((sensor * 1_000_003 + reading) * _PYDS_MULT) % 1_000_000


def _register_sensor_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SensorReader(DataSourceReader):
        def __init__(self, options):
            self.readings = int(options.get("readings", _PYDS_READINGS))
            self.sensors = int(options.get("sensors", _PYDS_SENSORS))

        def partitions(self):
            # one InputPartition per sensor: the parallel unit a real
            # device/shard-backed source would expose
            return [InputPartition(i) for i in range(self.sensors)]

        def read(self, partition):
            s = partition.value
            for r in range(self.readings):
                yield (s, r, _pyds_value(s, r))

    class _SensorSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_sensors"

        def schema(self):
            return "sensor_id bigint, reading_no bigint, value_ppm bigint"

        def reader(self, schema):
            return _SensorReader(self.options)

    spark.dataSource.register(_SensorSource)


@query(
    "python_datasource_scan",
    oracle=f"""
    WITH gen AS (
      SELECT g // {_PYDS_READINGS} AS sensor_id,
             g % {_PYDS_READINGS} AS reading_no
      FROM range({_PYDS_SENSORS} * {_PYDS_READINGS}) t(g)
    ),
    vals AS (
      SELECT sensor_id, reading_no,
             ((sensor_id * 1000003 + reading_no) * {_PYDS_MULT})
               % 1000000 AS value_ppm
      FROM gen
    )
    SELECT CAST(sensor_id AS BIGINT) AS sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           CAST(sum(value_ppm) AS BIGINT) AS sum_value,
           CAST(min(value_ppm) AS BIGINT) AS min_value,
           CAST(max(value_ppm) AS BIGINT) AS max_value,
           CAST(sum(value_ppm * reading_no) % 1000000007 AS BIGINT)
             AS weighted_cksum
    FROM vals GROUP BY sensor_id
    """,
)
def q_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON DATA SOURCE (Spark 4's pyspark.sql.datasource
    API): a synthetic sensor fleet exposed as a parallel Spark table —
    one ``InputPartition`` per sensor, each read independently by an
    executor, values from exact integer arithmetic (Knuth
    multiplicative hash) that the DuckDB oracle regenerates from
    ``range()``; per-sensor stats + a position-weighted checksum prove
    every row arrived exactly once, in any order.

    This is the extension point that turns ANY Python-reachable
    system (device APIs, internal services, bespoke formats) into a
    partitioned Spark scan — the one place Python in the plan is the
    POINT, not an escape hatch (the scan is Arrow-batched; everything
    downstream is JVM).  At scale: partitions() is the parallelism
    contract — a real source returns one partition per shard/device
    range and each executor pulls only its slice.

    ``sf_dir`` is unused: the source IS the data (the only catalog
    query whose input is a custom source, which is the point)."""
    _register_sensor_source(spark)
    d = (
        spark.read.format("synthetic_sensors")
        .option("sensors", str(_PYDS_SENSORS))
        .option("readings", str(_PYDS_READINGS))
        .load()
    )
    return d.groupBy("sensor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_readings"),
        F.sum("value_ppm").cast("bigint").alias("sum_value"),
        F.min("value_ppm").cast("bigint").alias("min_value"),
        F.max("value_ppm").cast("bigint").alias("max_value"),
        F.expr("sum(value_ppm * reading_no) % 1000000007")
        .cast("bigint")
        .alias("weighted_cksum"),
    )
