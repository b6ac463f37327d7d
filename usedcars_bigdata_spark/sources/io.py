"""Sources and sinks (SURVEY.md §2.1, S1-S7).

The reference reads one CSV from GCS with header+inferSchema
(``notebook_to_py/data-understanding.py:42-43``) and writes CSV results
(``performance_py/2-cores-6-instances.py:1462-1465``). Our engine keeps both
but defaults to parquet (columnar scan, predicate pushdown, column pruning
— SURVEY.md §4) and explicit schemas. Any Hadoop-compatible FS path works
unchanged (file://, hdfs://, gs://, s3a://) — path handling is delegated to
Spark's Hadoop FS layer, so the same code runs on a laptop and a 1000-node
cluster.

Parquet schemas are resolved once per file version: ``parquet_schema``
memoizes the physical ``StructType`` Spark infers for a local path, keyed by
the (path, size, mtime) of every file the path matches plus the session
confs that change inference. A schema-less ``spark.read.parquet`` launches
a footer-reading job on every call; the reference pays the CSV analogue
(inferSchema) at every load. Only the schema is cached, never a DataFrame:
each ``load_table`` call must return a fresh relation with its own
attribute ids, or a self-join of a table with itself would not resolve.
"""

from __future__ import annotations

import glob
import os
import re
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA


# Session confs that change the schema parquet inference returns; they are
# part of the memo key so a session with other settings never reuses one.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_MEMO_SIZE = 64
_SCHEMA_MEMO: OrderedDict[tuple, T.StructType] = OrderedDict()
_SCHEMA_MEMO_LOCK = threading.Lock()


def _file_versions(path: str) -> tuple | None:
    """(absolute path, size, mtime_ns) of every file a local path, directory
    or glob matches; None for a URI with a scheme or when nothing matches,
    so the caller falls back to inferring on every call."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path):
        return None
    files = []
    for match in glob.glob(path):
        if os.path.isdir(match):
            for root, _, names in os.walk(match):
                files.extend(os.path.join(root, n) for n in names)
        else:
            files.append(match)
    try:
        versions = []
        for f in sorted(files):
            st = os.stat(f)
            versions.append((os.path.abspath(f), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(versions) or None


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The physical schema ``spark.read.parquet(path)`` infers, resolved once
    per file version. The first call for a version runs the inference job;
    later calls with the same files and inference confs return the memoized
    schema without touching Spark. A rewritten, added or removed file
    changes the key, so the next call probes again."""
    files = _file_versions(path)
    if files is None:
        return spark.read.parquet(path).schema
    key = (files, tuple(spark.conf.get(k) for k in _PARQUET_INFERENCE_CONFS))
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _SCHEMA_MEMO_LOCK:
            _SCHEMA_MEMO[key] = schema
            while len(_SCHEMA_MEMO) > _SCHEMA_MEMO_SIZE:
                _SCHEMA_MEMO.popitem(last=False)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan; Catalyst prunes columns and pushes filters down."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer_schema: bool = False,
    permissive: bool = True,
    multi_line: bool = False,
) -> DataFrame:
    """CSV scan (S1). Explicit schema by default — ``inferSchema`` costs a
    full extra pass over the data (reference pays it at every load,
    data-understanding.py:43); pass ``infer_schema=True`` only for
    exploration parity.

    ``multi_line`` is its OWN opt-in (r9 review): multiLine=true makes
    CSV files non-splittable — one task parses the whole file however
    large the cluster — so it must never ride along silently with the
    error-tolerance flag. Enable it only for quoted-embedded-newline
    files (the reference's messy vehicles CSV is the canonical case)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    if permissive:
        reader = reader.option("mode", "PERMISSIVE").option("escape", '"')
    if multi_line:
        reader = reader.option("multiLine", "true")
    return reader.csv(path)


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (S2; performance_py/2-cores-6-instances.py:1462-1465)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def fetch_rows(df: DataFrame, limit: int | None = None) -> list:
    """S6 explicit driver fetch (collect/take). The limit-less form pulls
    EVERYTHING to the driver — reserve for aggregated results; the
    reference scatters bare collect()s through query code
    (data-understanding.py:92,229)."""
    return df.take(limit) if limit is not None else df.collect()


def fetch_pandas(df: DataFrame, limit: int | None = None):
    """S6 driver fetch as pandas (Arrow-accelerated toPandas)."""
    return (df.limit(limit) if limit is not None else df).toPandas()


def normalize_timestamps_ingest(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    dest: str,
    partition_by_date: str | None = None,
) -> DataFrame:
    """One-time ingest rewrite: read a testdata table (nanos columns become
    micros TimestampType via ``load_table``) and persist it as micros-typed
    parquet, optionally partitioned by the DATE of a timestamp column.

    Why: ``load_table``'s post-scan nanos→micros conversion wraps the
    column in an expression, so predicates on the converted timestamp can
    NOT push down to the original file scan — every time-sliced query pays
    a full scan. Reading the REWRITTEN table restores scan-level pruning on
    two axes: parquet row-group min/max pushdown on the (now natively
    typed) timestamp, and Hive partition pruning on the derived date
    column when ``partition_by_date`` is set. At 100 TB the partition
    prune is the difference between touching one day and touching three
    years. (Plan shapes asserted in tests/test_io.py.)

    Returns the normalized DataFrame read back from ``dest``."""
    df = load_table(spark, sf_dir, name)
    if partition_by_date is not None:
        df = df.withColumn(f"{partition_by_date}_date", F.to_date(partition_by_date))
        df.write.mode("overwrite").partitionBy(f"{partition_by_date}_date").parquet(dest)
    else:
        df.write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one harness testdata table (TESTDATA.md) by name.

    Timestamp columns (e.g. events.ts) are normalized to the declared
    micros TimestampType regardless of how the harness generated the file
    — generators have shipped BOTH layouts across rounds:

    - INT64 TIMESTAMP(NANOS): surfaces as long under ``nanosAsLong``
      (set here at runtime because callers — e.g. the driver harness —
      hand us plain SparkSessions; without it the scan dies with
      PARQUET_TYPE_ILLEGAL) and is truncated to micros, matching
      Arrow/DuckDB ns→us.
    - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces natively
      as TIMESTAMP_NTZ and is cast to TimestampType. Engine sessions pin
      UTC (session.py), where the cast is epoch-preserving; the naive
      wall-clock value is identical to what the DuckDB oracle reads
      either way.

    The physical schema comes from ``parquet_schema``, so only the first
    load of a file version pays the inference job; every call still builds
    a new relation (fresh attribute ids), which keeps self-joins resolving."""
    if name not in TESTDATA:
        raise KeyError(f"unknown testdata table {name!r}; have {sorted(TESTDATA)}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    want = TESTDATA.get(name)
    if want is not None:
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
    return df


def write_compacted(
    df: DataFrame,
    path: str,
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Compaction-aware parquet sink: bound BOTH file-count and file-size
    pathologies. Small-files (thousands of kilobyte files from an
    over-partitioned upstream) destroy scan parallelism setup time and
    metadata handling at 100 TB; monster files resist splitting for some
    consumers. A count() pre-pass (cheap columnar metadata scan for
    parquet-backed frames, one aggregate otherwise) sizes an explicit
    repartition; maxRecordsPerFile caps per-task output as a backstop
    when partition_by skews rows into one task's partition.

    The repartition is round-robin (no key) — compaction must not
    concentrate hot keys; callers wanting co-location pass partition_by
    which becomes the directory layout, not the shuffle key."""
    n = df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    writer = (
        df.repartition(n_files)
        .write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_binary_files(
    spark: SparkSession, directory: str, glob: str = "*"
) -> DataFrame:
    """Binary-file source (images/audio/any blob as rows): one row per
    file with (path, modificationTime, length, content) — the ingest edge
    of the multimodal pipeline (ext/multimodal.py consumes the content
    column). File listing parallelizes across the driver's listing
    threads and rows are read where they're scheduled, so a directory of
    millions of objects behaves like any other scan; pair with
    write_compacted-style consolidation upstream because per-file
    overhead, not bytes, dominates small-blob corpora."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(directory)
    )


def read_jsonl_permissive(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """JSONL reader that QUARANTINES malformed lines instead of failing
    the job or silently dropping them: PERMISSIVE mode parses what it
    can and lands the raw text of any broken line in ``_corrupt_record``
    (NULL for clean rows). At corpus scale some fraction of a crawl is
    always malformed — dying at row 3 billion (FAILFAST) or dropping
    silently (DROPMALFORMED) are both wrong for auditable pipelines; the
    quarantine column makes the bad fraction measurable and routable.
    The schema is explicit, as everywhere in sources/ (inference is a
    full extra pass)."""
    full = schema.rstrip() + ", _corrupt_record STRING"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
