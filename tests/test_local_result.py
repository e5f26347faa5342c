"""result.local_result hardening: driver-local rows become a VALUES
LocalRelation whose collect launches no job — and since values are
embedded as SQL literals, escaping must be injection-proof for arbitrary
query text (SHOW QUERIES embeds user-supplied statements verbatim)."""

from __future__ import annotations

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from influxdb_ha_spark.model import Catalog, PartitionKey
from influxdb_ha_spark.result import local_result
from influxdb_ha_spark.server import Engine

SCHEMA = [("s", "STRING"), ("d", "DOUBLE"), ("i", "BIGINT"),
          ("b", "BOOLEAN")]

nasty = st.text(
    alphabet=st.characters(codec="utf-8",
                           exclude_categories=("Cs",)),
    max_size=25)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(nasty,
              st.none() | st.floats(allow_nan=False, allow_infinity=False,
                                    width=32).map(float),
              st.integers(-2**62, 2**62),
              st.booleans()),
    max_size=4))
def test_local_result_roundtrip(spark, rows):
    got = local_result(spark, rows, SCHEMA).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in rows]


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(names=st.lists(nasty, min_size=1, max_size=3,
                      unique_by=str.lower),
       empty=st.booleans())
def test_local_result_column_names(spark, names, empty):
    """Column names may come from the query (field names, aliases): any
    text, backticks included, is a name and never SQL."""
    schema = [(n, "BIGINT") for n in names]
    rows = [] if empty else [tuple(range(len(names)))]
    df = local_result(spark, rows, schema)
    assert df.columns == names
    assert [tuple(r) for r in df.collect()] == rows


def test_local_result_injection_shapes(spark):
    """The classic breakers: quotes, backslashes, newlines, SQL syntax."""
    rows = [
        ("'; DROP TABLE x; --", 1.0, 1, True),
        ("O'Brien \\ \\' backslash-quote", None, -5, False),
        ("multi\nline\ttab", 0.5, 0, True),
        ("ends with backslash \\", 2.0, 9, False),
    ]
    got = local_result(spark, rows, SCHEMA).collect()
    assert [tuple(r) for r in got] == rows
    # empty result keeps schema and stays collectable
    empty = local_result(spark, [], SCHEMA)
    assert empty.columns == ["s", "d", "i", "b"] and empty.collect() == []
    payload = "x` UNION ALL SELECT 0L, 1L --"
    for rows in ([], [(7,)]):
        df = local_result(spark, rows, [(payload, "BIGINT")])
        assert df.columns == [payload]
        assert [tuple(r) for r in df.collect()] == rows


def _job_ids(spark, fn) -> list[int]:
    """Spark job ids launched by `fn()`, read from the status tracker under
    a fresh job group."""
    sc = spark.sparkContext
    group = f"job-free-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-freedom probe")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_local_result_is_job_free(spark):
    """Collect launches no Spark job — the liveness property SHOW
    QUERIES/KILL QUERY depend on under load. The probe itself is checked
    against createDataFrame, whose collect does run a job."""
    rows = [("q", 0.1, 1, True), ("r", None, 2, False)]
    df = local_result(spark, rows, SCHEMA)
    assert _job_ids(spark, df.collect) == []
    assert _job_ids(spark, df.where(F.col("s").rlike("^q")).collect) == []
    assert _job_ids(spark, df.offset(1).limit(1).collect) == []
    assert _job_ids(spark, local_result(spark, [], SCHEMA).collect) == []
    parallelized = spark.createDataFrame(
        rows, "s string, d double, i bigint, b boolean")
    assert _job_ids(spark, parallelized.collect) != []


@pytest.fixture(scope="module")
def meta_engine(spark):
    cat = Catalog(spark)
    cat.register_dataframe(
        "default", "cpu",
        local_result(spark, [(1, "a", 1.0)],
                     [("time", "BIGINT"), ("host", "STRING"),
                      ("value", "DOUBLE")]),
        time_col="time", tags=["host"])
    cat.register_dataframe(
        "default", "up",
        local_result(spark, [(1, 1.0)],
                     [("time", "BIGINT"), ("value", "DOUBLE")]),
        time_col="time", tags=[])
    cat.databases["empty"] = {}
    cat.partition_keys.append(PartitionKey("default", "cpu", ["host"]))
    engine = Engine(cat, database="default")
    engine.admin.create_user("root", "pw", admin=True)
    return engine


@pytest.mark.parametrize("q", [
    "SHOW DATABASES",
    "SHOW MEASUREMENTS",
    "SHOW MEASUREMENTS WITH MEASUREMENT =~ /^c/",
    "SHOW MEASUREMENTS LIMIT 1 OFFSET 1",
    "SHOW MEASUREMENTS ON empty",
    "SHOW TAG KEYS",
    "SHOW FIELD KEYS",
    "SHOW SERIES ON empty",
    "SHOW SERIES FROM up",
    "SELECT nosuchfield FROM cpu",
    "SHOW PARTITION KEYS",
    "SHOW REPLICATION FACTORS",
    "SET REPLICATION FACTOR 3 ON default",
    "SHOW NODES",
    "REMOVE NODE n1",
    "SHOW USERS",
])
def test_meta_statements_are_job_free(meta_engine, q):
    """Meta statements answer from driver-local state: building and
    collecting their result launches no Spark job."""
    spark = meta_engine.catalog.spark
    assert _job_ids(spark, lambda: meta_engine.query_df(q).collect()) == []


def test_backup_summary_is_job_free(meta_engine, tmp_path):
    """BACKUP's export runs jobs; the summary it returns does not."""
    spark = meta_engine.catalog.spark
    summary = meta_engine.query_df(f"BACKUP default.up TO {tmp_path}")
    rows = []
    assert _job_ids(spark, lambda: rows.extend(summary.collect())) == []
    assert [(r["measurement"], r["partitioned_by"]) for r in rows] == \
        [("up", "")]


def test_unknown_field_name_is_not_sql(meta_engine):
    """An unknown field answers an empty result named after the field, even
    when the name is crafted to close the identifier and append a query."""
    name = "x` UNION ALL SELECT 0L, 1.0D --"
    df = meta_engine.query_df(f'SELECT "{name}" FROM cpu')
    assert df.columns == ["time", name]
    assert df.collect() == []
    assert meta_engine.query(f'SELECT "{name}" FROM cpu') == \
        {"results": [{"statement_id": 0, "series": []}]}
