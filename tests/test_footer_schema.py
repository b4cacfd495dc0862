"""No table load runs a Spark job: schemas come from the parquet footer.

`spark.read.parquet(path)` without a schema runs a one-task `parquet at`
job to infer it.  `catalog._footer_schema` reads the same schema from the
file's footer on the driver, and `catalog.load` and
`windowed._events_stream` pass it to the reader.  It must give exactly
the schema Spark would infer under the session's confs, or None (Spark
then infers as before).
"""

from __future__ import annotations

import itertools
from decimal import Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from etl_scripts_spark import catalog
from etl_scripts_spark.catalog import _footer_schema
from etl_scripts_spark.streaming.windowed import _events_stream
from tests.conftest import SF_SMALL

REPO = Path(__file__).resolve().parents[1]
SF_DIRS = (*(str(Path(SF_SMALL).with_name(f"sf{sf}")) for sf in ("0.001", "0.01", "0.1")),
           str(REPO / "perfbench" / "data" / "sf0.01"))
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def each_conf(spark):
    """Yields a function that runs its argument under every combination of
    the two confs the footer mapping follows, then restores both."""
    saved = {k: spark.conf.get(k) for k in (NTZ, NANOS)}

    def run(check):
        for ntz, nanos in itertools.product(("true", "false"), repeat=2):
            spark.conf.set(NTZ, ntz)
            spark.conf.set(NANOS, nanos)
            check(f"{NTZ}={ntz} {NANOS}={nanos}")

    yield run
    for k, v in saved.items():
        spark.conf.set(k, v)


def _inferred(spark, path):
    """Spark's own inference, or the exception it raises."""
    try:
        return spark.read.parquet(path).schema
    except Exception as exc:  # noqa: BLE001 - compared, not swallowed
        return exc


def test_footer_schema_equals_inference_for_every_table(spark, each_conf):
    files = [f"{d}/{t}.parquet" for d in SF_DIRS for t in catalog.TABLES]

    def check(confs):
        for p in files:
            assert _footer_schema(spark, p) == spark.read.parquet(p).schema, f"{p} ({confs})"

    each_conf(check)


def _edge_tables() -> dict[str, tuple[pa.Table, dict, bool]]:
    """name → (table, write_table kwargs, must the helper map it)."""
    ts = [1_700_000_000_123_456]
    return {
        "int96": (pa.table({"t": pa.array(ts, pa.timestamp("us"))}),
                  {"use_deprecated_int96_timestamps": True}, True),
        "ts_tz": (pa.table({"t": pa.array(ts, pa.timestamp("us", tz="UTC"))}), {}, True),
        "ts_ms": (pa.table({"t": pa.array([1_700_000_000_123], pa.timestamp("ms"))}), {}, True),
        "ts_ns": (pa.table({"t": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))}),
                  {}, False),
        "dict_string": (pa.table({"s": pa.array(["a", "b", "a"]).dictionary_encode()}), {}, False),
        "decimal": (pa.table({"d": pa.array([Decimal("12.34")], pa.decimal128(10, 2))}), {}, True),
        "date": (pa.table({"d": pa.array([19_000], pa.date32())}), {}, True),
        "binary": (pa.table({"b": pa.array([b"\x00\x01"], pa.binary())}), {}, True),
        "small_ints": (pa.table({"i8": pa.array([1], pa.int8()),
                                 "i16": pa.array([2], pa.int16())}), {}, True),
        "float32": (pa.table({"f": pa.array([1.5], pa.float32())}), {}, True),
        "list_float": (pa.table({"v": pa.array([[1.0, None]], pa.list_(pa.float32()))}), {}, True),
        "list_required": (pa.table({"v": pa.array(
            [[1.0]], pa.list_(pa.field("element", pa.float32(), nullable=False)))}), {}, True),
        "unsigned": (pa.table({"u": pa.array([1], pa.uint32())}), {}, False),
        "struct": (pa.table({"s": pa.array([{"a": 1}])}), {}, False),
    }


def test_footer_schema_on_edge_types_equals_inference_or_declines(spark, each_conf, tmp_path):
    paths = {}
    for name, (table, kwargs, _) in _edge_tables().items():
        paths[name] = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, paths[name], **kwargs)

    def check(confs):
        for name, (_, _, mapped) in _edge_tables().items():
            got, want = _footer_schema(spark, paths[name]), _inferred(spark, paths[name])
            if isinstance(want, Exception):
                assert got is None, f"{name} ({confs}): Spark raises, helper gave {got}"
            elif got is not None:
                assert got == want, f"{name} ({confs})"
            else:
                assert not mapped, f"{name} ({confs}): helper declined an allowed type"
        # TIMESTAMP(NANOS) is a long exactly when the legacy conf says so
        nanos = spark.conf.get(NANOS) == "true"
        assert (_footer_schema(spark, paths["ts_ns"]) is not None) == nanos

    each_conf(check)


def test_footer_schema_follows_the_binary_and_int96_confs(spark, tmp_path):
    paths = {}
    for name in ("binary", "int96"):
        table, kwargs, _ = _edge_tables()[name]
        paths[name] = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, paths[name], **kwargs)
    for key, name in (("spark.sql.parquet.binaryAsString", "binary"),
                      ("spark.sql.parquet.int96AsTimestamp", "int96")):
        saved = spark.conf.get(key)
        try:
            for value in ("true", "false"):
                spark.conf.set(key, value)
                got, want = _footer_schema(spark, paths[name]), _inferred(spark, paths[name])
                assert got == (None if isinstance(want, Exception) else want), f"{key}={value}"
        finally:
            spark.conf.set(key, saved)


def _spark_written(spark, dest):
    """A Spark-written frame over the types a footer's Spark schema must
    carry: nested, nullable and zone-less ones included."""
    spark.sql(
        "SELECT CAST(1 AS BIGINT) AS b, TIMESTAMP'2024-01-01 00:00:00' AS t,"
        " TIMESTAMP_NTZ'2024-01-01 00:00:00' AS tn, DATE'2024-01-02' AS d,"
        " CAST(12.34 AS DECIMAL(12,2)) AS dec, array(1, 2) AS a,"
        " named_struct('x', 1, 'y', 'z') AS s, CAST(NULL AS STRING) AS ns, 7 AS i"
    ).coalesce(1).write.parquet(dest)


def test_footer_carrying_sparks_own_schema_returns_it(spark, tmp_path):
    """Spark infers a file it wrote from the schema in its footer metadata
    (e.g. TIMESTAMP_NTZ whatever inferTimestampNTZ says); the helper
    returns exactly that schema, made nullable, for a part file with rows
    and for the part file of an empty frame."""
    _spark_written(spark, str(tmp_path / "w"))
    spark.read.parquet(str(tmp_path / "w")).limit(0).write.parquet(str(tmp_path / "e"))
    saved = spark.conf.get(NTZ)
    try:
        for ntz in ("true", "false"):
            spark.conf.set(NTZ, ntz)
            for d in ("w", "e"):
                (part,) = (tmp_path / d).glob("part-*.parquet")
                want = spark.read.parquet(str(tmp_path / d)).schema
                assert want["tn"].dataType.simpleString() == "timestamp_ntz"
                assert _footer_schema(spark, str(part)) == want, f"{d} ({NTZ}={ntz})"
    finally:
        spark.conf.set(NTZ, saved)


def test_read_version_starts_no_spark_job(spark, tmp_path):
    from etl_scripts_spark.sinks.commit import read_version, try_publish_version

    root = str(tmp_path / "root")
    _spark_written(spark, str(tmp_path / "v1"))
    assert try_publish_version(root, 1, str(tmp_path / "v1"))
    sc = spark.sparkContext
    group = "test-read-version-no-jobs"
    sc.setJobGroup(group, "read_version")
    try:
        df = read_version(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    want = spark.read.parquet(str(tmp_path / "v1"))
    assert df.schema == want.schema
    assert df.collect() == want.collect()


def test_nanos_timestamp_load_still_raises_without_the_legacy_conf(spark, tmp_path):
    table, _, _ = _edge_tables()["ts_ns"]
    pq.write_table(table, str(tmp_path / "orders.parquet"))
    saved = spark.conf.get(NANOS)
    spark.conf.set(NANOS, "false")
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            catalog.load(spark, str(tmp_path), "orders")
        spark.conf.set(NANOS, "true")
        assert dict(catalog.load(spark, str(tmp_path), "orders").dtypes) == {"t": "bigint"}
    finally:
        spark.conf.set(NANOS, saved)


def test_table_loads_start_no_spark_job(spark, sf_small):
    sc = spark.sparkContext
    group = "test-footer-schema-no-jobs"
    sc.setJobGroup(group, "catalog loads")
    try:
        for name in catalog.TABLES:
            df = catalog.load(spark, sf_small, name)
            assert df.schema.fields
            if name == "events":
                assert dict(catalog.normalize_events(df).dtypes)["ts"] == "timestamp"
        stream = _events_stream(spark, f"{sf_small}/events.parquet")
        assert dict(stream.dtypes)["ts"] == "timestamp"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_footer_schema_declines_what_is_not_one_local_file(spark, sf_small, tmp_path):
    assert _footer_schema(spark, f"file://{sf_small}/orders.parquet") is not None
    assert _footer_schema(spark, sf_small) is None  # a directory
    assert _footer_schema(spark, f"{sf_small}/*.parquet") is None  # a glob
    assert _footer_schema(spark, f"hdfs://nn:8020{sf_small}/orders.parquet") is None
    (tmp_path / "orders.parquet").write_bytes(b"not parquet")
    assert _footer_schema(spark, str(tmp_path / "orders.parquet")) is None


def test_loading_a_missing_table_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        catalog.load(spark, str(tmp_path / "absent"), "orders")
