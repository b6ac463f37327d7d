"""Source/sink round-trips (SURVEY.md §2.1, S1-S7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usedcars_bigdata_spark.schemas import TABLE_NAMES, TESTDATA, VEHICLES_RAW
from usedcars_bigdata_spark.sources import (
    load_table,
    read_csv,
    read_parquet,
    write_csv,
    write_parquet,
)


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_out")
    write_parquet(orders, out)
    back = read_parquet(spark, out)
    assert back.count() == orders.count()
    assert back.schema == orders.schema


def test_parquet_partitioned_write(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_part")
    write_parquet(orders, out, partition_by=["o_orderstatus"])
    back = read_parquet(spark, out)
    assert back.count() == orders.count()
    # partition pruning: filter on the partition column scans one directory
    plan = (
        back.filter(F.col("o_orderstatus") == "F")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_csv_roundtrip_explicit_schema(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer")
    out = str(tmp_path / "cust_csv")
    write_csv(cust, out)
    back = read_csv(
        spark, out,
        schema="c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    assert back.count() == cust.count()
    assert sorted(r["c_custkey"] for r in back.select("c_custkey").collect()) == sorted(
        r["c_custkey"] for r in cust.select("c_custkey").collect()
    )


def test_csv_vehicles_schema_load(spark, tmp_path):
    """S1 parity shape: all-string schema load (the reference's degraded
    inferSchema result, SURVEY.md §3.1) without the inference double-scan."""
    from usedcars_bigdata_spark.fixtures import vehicles_fixture_stringified

    df = vehicles_fixture_stringified(spark, 100)
    out = str(tmp_path / "veh_csv")
    write_csv(df, out)
    back = read_csv(spark, out, schema=VEHICLES_RAW)
    assert back.count() == 100
    assert all(t == "string" for _, t in back.dtypes)


def test_create_dataframe_paths(spark):
    """S3/S4: local collections → tables, inferred and explicit schema
    (price-prediction.py:503,518-527)."""
    inferred = spark.createDataFrame([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    assert inferred.count() == 2
    from pyspark.sql import types as T

    explicit = spark.createDataFrame(
        [(1.0, "lr")],
        T.StructType(
            [
                T.StructField("mse", T.DoubleType()),
                T.StructField("algo", T.StringType()),
            ]
        ),
    )
    assert explicit.schema[0].dataType.simpleString() == "double"


def test_load_table_vanilla_session(spark, sf_dir):
    """The driver contract hands load_table a PLAIN SparkSession (no
    get_session confs). load_table must normalize events.ts to a micros
    TimestampType by itself under that session, whichever physical layout
    the harness generated (INT64 nanos needing runtime nanosAsLong —
    round-1 root cause of 7 red CORRECTNESS rows — or native micros NTZ,
    which round 3's regenerated testdata ships). newSession() gives a
    fresh SQL-conf scope on the shared context — same isolation the
    driver's own session has."""
    plain = spark.newSession()
    # get_session() sets the conf at builder time, which newSession may
    # inherit as a default — unset explicitly so this session matches the
    # driver's (no conf at all), then require load_table to self-heal.
    try:
        plain.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        pass
    ev = load_table(plain, sf_dir, "events")
    assert ev.schema["ts"].dataType.simpleString() == "timestamp"
    assert ev.limit(10).count() == 10
    # wall-clock parity with what the oracle engine reads from the file
    import duckdb

    want = duckdb.sql(
        f"select min(ts), max(ts) from '{sf_dir}/events.parquet'"
    ).fetchone()
    got = ev.agg(F.min("ts"), F.max("ts")).first()
    assert [str(v) for v in got] == [str(v) for v in want]


def test_normalized_events_push_ts_predicates(spark, sf_dir, tmp_path):
    """Ingest-normalized events (micros-typed parquet) must (a) push ts
    predicates to the scan and (b) prune partitions on the derived date —
    the two pruning axes load_table's post-scan nanos conversion forfeits.
    Results must match the load_table path bit-for-bit."""
    from usedcars_bigdata_spark.sources import normalize_timestamps_ingest

    dest = str(tmp_path / "events_norm")
    norm = normalize_timestamps_ingest(
        spark, sf_dir, "events", dest, partition_by_date="ts"
    )
    cutoff = "2024-03-01 00:00:00"
    filtered = norm.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(ts" in plan, plan[:2000]
    # partition pruning: filtering on the derived date column shows up as
    # a partition filter, not a data filter
    datef = norm.filter(F.col("ts_date") >= F.lit("2024-03-01").cast("date"))
    dplan = datef._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in dplan and "ts_date" in dplan.split("PartitionFilters")[1].split("]")[0]
    # value parity with the unnormalized path
    base = load_table(spark, sf_dir, "events").filter(
        F.col("ts") >= F.lit(cutoff).cast("timestamp")
    )
    assert filtered.count() == base.count()
    a = sorted(str(r) for r in base.select("event_id", "ts").collect())
    b = sorted(str(r) for r in filtered.select("event_id", "ts").collect())
    assert a == b


def test_write_compacted_bounds_file_count(spark, sf_dir, tmp_path):
    import glob as g

    from usedcars_bigdata_spark.sources.io import write_compacted

    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    out = str(tmp_path / "compacted")
    # target sized to force exactly 3 files
    per_file = -(-n // 3)
    write_compacted(li, out, target_rows_per_file=per_file)
    files = g.glob(out + "/*.parquet")
    assert len(files) == 3
    back = spark.read.parquet(out)
    assert back.count() == n
    # partitioned form: directory layout preserved, counts conserved
    out2 = str(tmp_path / "compacted_parts")
    write_compacted(li, out2, target_rows_per_file=per_file,
                    partition_by=["l_returnflag"])
    back2 = spark.read.parquet(out2)
    assert back2.count() == n
    assert set(back2.select("l_returnflag").distinct().toPandas()["l_returnflag"]) == \
        set(li.select("l_returnflag").distinct().toPandas()["l_returnflag"])


def test_read_binary_files_content_and_listing(spark, tmp_path):
    import hashlib

    from usedcars_bigdata_spark.sources.io import read_binary_files

    blobs = {f"img_{i}.bin": bytes([i]) * (100 + i) for i in range(5)}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "ignore.txt").write_text("not a blob")

    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = df.collect()
    assert len(rows) == 5  # glob filtered the .txt out
    for r in rows:
        name = r["path"].rsplit("/", 1)[-1]
        assert r["length"] == len(blobs[name])
        assert hashlib.sha256(bytes(r["content"])).hexdigest() == \
            hashlib.sha256(blobs[name]).hexdigest()


def test_read_jsonl_permissive_quarantines_bad_lines(spark, tmp_path):
    from usedcars_bigdata_spark.sources.io import read_jsonl_permissive

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        'this is not json at all\n'
        '{"doc_id": 2, "text": "also fine"}\n'
        '{"doc_id": "oops-not-a-number", "text": "type clash"}\n'
    )
    df = read_jsonl_permissive(spark, str(p), "doc_id BIGINT, text STRING")
    rows = df.collect()
    assert len(rows) == 4  # nothing dropped
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    good = {r["doc_id"] for r in rows if r["_corrupt_record"] is None}
    assert good == {1, 2}
    assert any("not json" in r["_corrupt_record"] for r in bad)
    # the measurable bad fraction the docstring promises. NB: Spark
    # disallows queries touching ONLY _corrupt_record on a raw JSON scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — a real audit job caches or
    # persists the parsed batch first; here the collected rows serve.
    assert len(bad) / len(rows) == 0.5


def test_messy_csv_roundtrip_embedded_newlines_and_quotes(spark, tmp_path):
    """The reference's core ingestion hazard (SURVEY.md §1.2): the
    vehicles CSV carries embedded newlines/quotes in free text, which
    defeats naive line-based CSV parsing (and degrades inferSchema to
    all-string). Our permissive reader (multiLine + quote escaping) must
    round-trip such values LOSSLESSLY with an explicit schema."""
    from pyspark.sql import types as T

    from usedcars_bigdata_spark.sources.io import read_csv

    rows = [
        (1, 'plain description', 100),
        (2, 'line one\nline two "quoted" end', 200),
        (3, 'comma, inside, text', 300),
        (4, None, 400),
        (5, 'trailing quote "', 500),
    ]
    df = spark.createDataFrame(rows, "id long, description string, price long")
    out = str(tmp_path / "messy_csv")
    # quote/escape on write must match the reader's contract
    df.write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(out)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("description", T.StringType()),
            T.StructField("price", T.LongType()),
        ]
    )
    # embedded newlines need the EXPLICIT multi_line opt-in (r9: it no
    # longer rides along with permissive — multiLine kills splittability)
    back = read_csv(spark, out, schema=schema, multi_line=True)
    got = {r["id"]: (r["description"], r["price"]) for r in back.collect()}
    want = {i: (d, p) for i, d, p in rows}
    assert got == want  # byte-lossless including the embedded newline


# -- parquet schema memo (sources.io.parquet_schema) --------------------------


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started), counted through the status
    tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo test")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred_and_normalized(spark, path, want):
    """The schema-inferring read plus load_table's ts normalization, built
    independently of the memo."""
    from pyspark.sql import types as T

    df = spark.read.parquet(path)
    for field in want.fields:
        if not isinstance(field.dataType, T.TimestampType):
            continue
        actual = df.schema[field.name].dataType
        if isinstance(actual, T.LongType):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000"))
            )
        elif isinstance(actual, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df.schema


@pytest.mark.parametrize("table", TABLE_NAMES)
def test_load_table_schema_matches_inferring_read(spark, sf_dir, table):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    want = _inferred_and_normalized(
        spark, f"{sf_dir}/{table}.parquet", TESTDATA[table]
    )
    got = load_table(spark, sf_dir, table).schema
    assert [(f.name, f.dataType, f.nullable) for f in got.fields] == [
        (f.name, f.dataType, f.nullable) for f in want.fields
    ]


def test_second_load_table_starts_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "orders")
    df, jobs = _jobs_started(spark, lambda: load_table(spark, sf_dir, "orders"))
    assert jobs == 0
    assert df.count() > 0


def test_rewritten_file_is_probed_again(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()),
                  "r_name": ["AFRICA", "AMERICA"]}),
        path,
    )
    first, jobs = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs >= 1 and first.columns == ["r_regionkey", "r_name"]
    _, jobs = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == 0

    st = os.stat(path)
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()),
                  "r_name": ["AFRICA", "AMERICA"],
                  "r_extra": [1.5, 2.5]}),
        path,
    )
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    second, jobs = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs >= 1
    assert second.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r["r_extra"] for r in second.collect()) == [1.5, 2.5]


def test_memoized_nanos_layout_reads_micros(spark, tmp_path):
    """INT64 TIMESTAMP(NANOS) files: the memoized physical schema carries
    ts as long, and the explicit-schema read still truncates to micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1_704_067_798_778_549, 1_704_164_645_000_006]
    pq.write_table(
        pa.table({
            "event_id": pa.array([0, 1], pa.int64()),
            "ts": pa.array([us * 1000 + 999 for us in micros], pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["click", "view"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }),
        tmp_path / "events.parquet",
        version="2.6",
    )
    for _ in range(2):  # the first call infers, the second hits the memo
        ev = load_table(spark, str(tmp_path), "events")
        assert ev.schema["ts"].dataType.simpleString() == "timestamp"
        got = ev.orderBy("event_id").select(F.unix_micros("ts")).collect()
        assert [r[0] for r in got] == micros


def test_self_join_of_loaded_table_resolves(spark, sf_dir, duck):
    from tests.conftest import assert_df_matches_oracle

    a = load_table(spark, sf_dir, "nation").alias("a")
    b = load_table(spark, sf_dir, "nation").alias("b")
    pairs = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(F.col("a.n_name").alias("a_name"), F.col("b.n_name").alias("b_name"))
    assert_df_matches_oracle(
        pairs, duck,
        "SELECT a.n_name AS a_name, b.n_name AS b_name FROM nation a "
        "JOIN nation b ON a.n_regionkey = b.n_regionkey "
        "AND a.n_nationkey < b.n_nationkey",
    )
