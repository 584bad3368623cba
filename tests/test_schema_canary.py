"""Schema-drift canary: fail loudly (in seconds) if a testdata
regeneration changes the loaded dtypes the engine depends on.

Round-4 lesson: events.ts silently moved from parquet TIMESTAMP(NANOS)
(read as BIGINT ns) to plain TIMESTAMP µs, breaking 17 queries at once.
``load_table`` now normalizes event time at scan; this test pins BOTH
the normalized engine-facing schema and enumerates the raw encodings
normalization must keep handling.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from wikipedia_data_pipeline_spark import registry
from wikipedia_data_pipeline_spark.sources import tables
from wikipedia_data_pipeline_spark.sources.tables import (
    TABLE_NAMES,
    load_table,
    normalize_event_time,
    parquet_schema,
)

# engine-facing dtypes per table (post-normalization), the contract every
# query in queries/ is written against
EXPECTED = {
    "region": {
        "r_regionkey": "int",
        "r_name": "string",
    },
    "nation": {
        "n_nationkey": "int",
        "n_name": "string",
        "n_regionkey": "int",
    },
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp_ntz",
    },
    "events": {
        "event_id": "bigint",
        "ts": "bigint",  # epoch-us: THE normalized event-time domain
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def test_loaded_schemas_match_engine_contract(spark, sf_dir):
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert got == EXPECTED[name], (
            f"{name}: loaded schema drifted from engine contract.\n"
            f"  got:      {got}\n  expected: {EXPECTED[name]}\n"
            "If the driver regenerated testdata with new physical types, "
            "extend sources.tables normalization (NOT the 100+ queries)."
        )


def test_events_ts_is_plausible_epoch_us(spark, sf_dir):
    """Magnitude check: a ns-read-as-µs (or µs-read-as-ns) mix-up shifts
    values by 1000× — assert ts lands in [2000-01-01, 2100-01-01) µs."""
    row = (
        load_table(spark, sf_dir, "events")
        .selectExpr("min(ts) AS lo", "max(ts) AS hi")
        .collect()[0]
    )
    lo_bound = 946_684_800_000_000  # 2000-01-01 in epoch-µs
    hi_bound = 4_102_444_800_000_000  # 2100-01-01
    assert lo_bound <= row.lo <= row.hi < hi_bound, (row.lo, row.hi)


def test_normalize_event_time_handles_all_encodings(spark):
    """The dtype dispatch covers every encoding testdata has shipped:
    BIGINT ns, TIMESTAMP_NTZ, TIMESTAMP — all → identical epoch-µs."""
    t = dt.datetime(2024, 1, 1, 12, 34, 56, 789123)
    want = 1_704_112_496_789_123

    ns_df = spark.createDataFrame(
        [(want * 1000,)], T.StructType([T.StructField("ts", T.LongType())])
    )
    ntz_df = spark.createDataFrame(
        [(t,)], T.StructType([T.StructField("ts", T.TimestampNTZType())])
    )
    tz_df = spark.createDataFrame(
        [(t,)], T.StructType([T.StructField("ts", T.TimestampType())])
    )  # session tz is UTC (session.py), so wall clock == epoch clock
    for df in (ns_df, ntz_df, tz_df):
        out = normalize_event_time(df)
        assert out.schema["ts"].dataType.simpleString() == "bigint"
        assert out.collect()[0].ts == want, df.schema


# ---------------------------------------------------------------------------
# load_table reads through parquet_schema's cached inference: same schema
# and rows as plain inference, no Spark job once warm, never stale
# ---------------------------------------------------------------------------


def _jobs_in(spark, group, fn):
    """Number of Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_matches_plain_inference(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMAS", {})
    for name in TABLE_NAMES:
        ref = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            ref = normalize_event_time(ref)
        for _ in range(2):  # cold (inferring) and warm (cached) read
            df = load_table(spark, sf_dir, name)
            assert df.schema == ref.schema, name
            assert df.count() == ref.count(), name
            assert df.exceptAll(ref).count() == 0, name
            assert ref.exceptAll(df).count() == 0, name


def test_warm_query_build_starts_no_spark_jobs(spark, sf_dir):
    queries = registry.spark_queries()
    names = ["q1_pricing_summary", "q1_pricing_summary_cents",
             "q3_shipping_priority"]
    for name in names:
        queries[name](spark, sf_dir)  # warm-up: first inference per table
    # the counter sees an inference job when there is one
    lineitem = os.path.join(sf_dir, "lineitem.parquet")
    assert _jobs_in(spark, "wdp_canary_infer",
                    lambda: spark.read.parquet(lineitem)) >= 1
    for name in names:
        jobs = _jobs_in(spark, f"wdp_canary_build_{name}",
                        lambda: queries[name](spark, sf_dir))
        assert jobs == 0, (name, jobs)


def test_schema_cache_sees_rewrites_and_missing_paths(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": [1, 2], "r_name": ["a", "b"]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path / "missing"), "region")


def test_schema_cache_is_keyed_on_inference_confs(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert parquet_schema(spark, path)["b"].dataType == T.BinaryType()
        spark.conf.set(key, "true")
        assert parquet_schema(spark, path)["b"].dataType == T.StringType()
    finally:
        spark.conf.set(key, prev)


def test_schema_cache_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMAS", {})
    monkeypatch.setattr(tables, "_SCHEMA_CACHE_MAX", 2)
    for i in range(3):
        path = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), path)
        assert parquet_schema(spark, path).names == [f"c{i}"]
    assert len(tables._SCHEMAS) == 2
    assert [k[0] for k in tables._SCHEMAS] == [
        str(tmp_path / "t1.parquet"), str(tmp_path / "t2.parquet")]
