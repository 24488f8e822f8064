"""catalog.footer_schema: the schema Spark's parquet inference would
give, read from one footer on the driver, and the two callers that use
it to skip the inference job (serving.register_warehouse, catalog.table).
"""

from __future__ import annotations

import datetime
import decimal
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from datawarehouse1_spark import catalog, serving
from datawarehouse1_spark.catalog import TABLES, footer_schema, table

SF = "/root/testdata/sf0.001"
TS = datetime.datetime(2024, 1, 2, 3, 4, 5, 678000)
NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _newest_job_id(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def _jobs_in_group_since(spark, group: str, after: int) -> int:
    """Jobs newer than `after` in job group `group`. The group keeps
    jobs of streams that other tests left running out of the count."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None).iterator()
    n = 0
    while jobs.hasNext():
        job = jobs.next()
        if job.jobId() <= after:
            break
        g = job.jobGroup()
        n += g.isDefined() and g.get() == group
    return n


def _matrix_table() -> pa.Table:
    cols = {
        "i8": pa.array([1], pa.int8()),
        "i16": pa.array([1], pa.int16()),
        "i32": pa.array([1], pa.int32()),
        "i64": pa.array([1], pa.int64()),
        "f32": pa.array([1.5], pa.float32()),
        "f64": pa.array([1.5], pa.float64()),
        "flag": pa.array([True]),
        "s": pa.array(["x"]),
        "bin": pa.array([b"x"], pa.binary()),
        "d": pa.array([datetime.date(2024, 1, 1)], pa.date32()),
        "dec": pa.array([decimal.Decimal("1.25")], pa.decimal128(10, 2)),
        "ts_us": pa.array([TS], pa.timestamp("us")),
        "ts_us_utc": pa.array([TS], pa.timestamp("us", tz="UTC")),
        "ts_ms": pa.array([TS], pa.timestamp("ms")),
        "ts_ms_utc": pa.array([TS], pa.timestamp("ms", tz="UTC")),
        "lst": pa.array([[1, 2]], pa.list_(pa.int32())),
        "st": pa.array(
            [{"a": 1, "b": "x"}],
            pa.struct([("a", pa.int64()), ("b", pa.string())]),
        ),
    }
    fields = [pa.field(k, v.type) for k, v in cols.items()]
    fields.append(pa.field("req", pa.int64(), nullable=False))
    arrays = [*cols.values(), pa.array([7], pa.int64())]
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


@pytest.fixture
def ntz_conf(spark):
    before = spark.conf.get(NTZ_CONF)
    yield
    spark.conf.set(NTZ_CONF, before)


def test_register_warehouse_runs_no_job_and_stores_inferred_schema(spark):
    db = "footer_schema_probe"
    sc = spark.sparkContext
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    try:
        before = _newest_job_id(spark)
        sc.setJobGroup(db, "register_warehouse")
        try:
            serving.register_warehouse(spark, SF, database=db)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert _jobs_in_group_since(spark, db, before) == 0
        for name in TABLES:
            stored = spark.table(f"{db}.{name}").schema
            inferred = spark.read.parquet(f"{SF}/{name}.parquet").schema
            assert stored == inferred, name
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_footer_schema_equals_inference_on_type_matrix(spark, tmp_path, ntz_conf):
    path = str(tmp_path / "matrix.parquet")
    pq.write_table(_matrix_table(), path)
    for ntz in ("true", "false"):
        spark.conf.set(NTZ_CONF, ntz)
        got = footer_schema(spark, path)
        assert got is not None
        assert got == spark.read.parquet(path).schema, ntz
        assert got["req"].nullable


def test_footer_schema_equals_inference_on_spark_written_dir(spark, tmp_path, ntz_conf):
    path = str(tmp_path / "written")
    spark.sql(
        "SELECT 1 AS a, 'x' AS s, timestamp_ntz'2024-01-01 00:00:00' AS n, "
        "current_timestamp() AS l, array(1, 2) AS arr, "
        "named_struct('x', 1) AS st, map('a', 1) AS mp, "
        "CAST(1.5 AS DECIMAL(9, 3)) AS dc"
    ).write.parquet(path)
    for ntz in ("true", "false"):
        spark.conf.set(NTZ_CONF, ntz)
        got = footer_schema(spark, path)
        assert got is not None
        assert got == spark.read.parquet(path).schema, ntz


def test_footer_schema_leaves_uncovered_inputs_to_spark(spark, tmp_path):
    def write(name, arrays, **kwargs):
        path = str(tmp_path / name)
        pq.write_table(pa.table(arrays), path, **kwargs)
        return path

    uncovered = [
        write("ns.parquet", {"t": pa.array([TS], pa.timestamp("ns"))}),
        write(
            "int96.parquet",
            {"t": pa.array([TS], pa.timestamp("us"))},
            use_deprecated_int96_timestamps=True,
        ),
        write("uint.parquet", {"u": pa.array([1], pa.uint32())}),
        write("large.parquet", {"s": pa.array(["x"], pa.large_string())}),
        write("dict.parquet", {"s": pa.array(["x"]).dictionary_encode()}),
        write(
            "map.parquet",
            {"m": pa.array([[("a", 1)]], pa.map_(pa.string(), pa.int32()))},
        ),
    ]
    nested = str(tmp_path / "nested")
    spark.range(2).withColumn("p", F.lit("x")).write.partitionBy("p").parquet(nested)
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in [*uncovered, nested, str(empty), str(tmp_path / "missing")]:
        assert footer_schema(spark, path) is None, path

    flat = write("flat.parquet", {"i": pa.array([1], pa.int64())})
    assert footer_schema(spark, flat) is not None
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert footer_schema(spark, flat) is None
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_ns_events_table_still_normalizes_ts(spark, tmp_path):
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([TS], pa.timestamp("ns")),
            "user_id": pa.array([2], pa.int64()),
        }),
        str(tmp_path / "events.parquet"),
    )
    assert footer_schema(spark, str(tmp_path / "events.parquet")) is None
    df = table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
    assert df.collect()[0].ts == TS


def _plan(df) -> str:
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().executedPlan().toString())


def test_footer_schema_keeps_the_relation_and_plan(spark):
    for name in TABLES:
        path = f"{SF}/{name}.parquet"
        schema = footer_schema(spark, path)
        assert schema is not None, name
        inferred = spark.read.parquet(path)
        given = spark.read.schema(schema).parquet(path)
        assert given.schema == inferred.schema, name
        assert _plan(given) == _plan(inferred), name


def test_table_memo_evicts_entries_of_other_applications(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_name": pa.array(["A"])}),
        str(tmp_path / "region.parquet"),
    )
    foreign = (id(spark), "app-of-a-stopped-context", "/nowhere/region.parquet")
    catalog._TABLE_MEMO[foreign] = (("region.parquet", 0, 0), spark.range(1))
    try:
        df = table(spark, str(tmp_path), "region")
        assert foreign not in catalog._TABLE_MEMO
        app_id = spark.sparkContext.applicationId
        assert all(k[1] == app_id for k in catalog._TABLE_MEMO)
        fp, cached = catalog._TABLE_MEMO[
            (id(spark), app_id, os.path.abspath(str(tmp_path / "region.parquet")))
        ]
        assert cached is df and fp == catalog._path_fingerprint(
            str(tmp_path / "region.parquet")
        )
    finally:
        catalog._TABLE_MEMO.pop(foreign, None)


def _two_part_dir(root, name: str, parts: dict[str, pa.Table]) -> str:
    path = root / name
    path.mkdir()
    for fn, tbl in parts.items():
        pq.write_table(tbl, str(path / fn))
    return str(path)


def test_footer_schema_on_mixed_schema_directories(spark, tmp_path):
    """Part files whose footers disagree: Spark's non-merging inference
    reads the first data file in its own listing order and reports that
    file's schema, and footer_schema reads the same file. Names Spark's
    file index skips (`._COPYING_`) or keeps (`_x=1`) are chosen the
    same way."""
    i32 = pa.table({"a": pa.array([1], pa.int32())})
    i64 = pa.table({"a": pa.array([1], pa.int64())})
    wide = pa.table({"a": pa.array([1], pa.int32()), "b": pa.array(["x"])})
    dirs = {
        "int32_then_int64": {"part-0.parquet": i32, "part-1.parquet": i64},
        "int64_then_int32": {"part-0.parquet": i64, "part-1.parquet": i32},
        "extra_column_last": {"part-0.parquet": i32, "part-1.parquet": wide},
        "extra_column_first": {"part-0.parquet": wide, "part-1.parquet": i32},
        "case_order": {"B.parquet": wide, "a.parquet": i32},
        "copying_file": {"a.parquet._COPYING_": wide, "b.parquet": i32},
        "underscore_with_equals": {"_a=1.parquet": wide, "b.parquet": i32},
    }
    for name, parts in dirs.items():
        path = _two_part_dir(tmp_path, name, parts)
        got = footer_schema(spark, path)
        assert got is not None, name
        assert got == spark.read.parquet(path).schema, name

    appended = str(tmp_path / "spark_appends")
    spark.range(2).selectExpr("CAST(id AS INT) AS a").write.parquet(appended)
    spark.range(2).selectExpr("id AS a", "'x' AS b").write.mode("append").parquet(appended)
    assert footer_schema(spark, appended) == spark.read.parquet(appended).schema
