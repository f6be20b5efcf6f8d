"""What every family of query classes shares: the table reader with its
schema cache, small driver-side result frames and the dedup
configuration the curation classes run with."""

from __future__ import annotations

import math
import os
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructType

from datasketches_rust_spark.config import DedupConfig


CFG = DedupConfig()
STOPWORDS_SQL = "['the','a','an','of','to','and','in','is','on','for']"


# inferred table schemas by table version (``_table_version``)
_SCHEMAS: dict = {}


def _table_version(path: str) -> tuple | None:
    """``path`` plus (name, size, mtime_ns) of every file under it, walked
    recursively; None for a path that is not a local file or directory,
    whose schema is never cached."""
    if "://" in path and not path.startswith("file://"):
        return None
    local = path.removeprefix("file://")
    if os.path.isfile(local):
        st = os.stat(local)
        return path, (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(local):
        return None
    files = []
    for root, _, names in os.walk(local):
        for n in names:
            st = os.stat(os.path.join(root, n))
            files.append((os.path.relpath(os.path.join(root, n), local),
                          st.st_size, st.st_mtime_ns))
    return path, tuple(sorted(files))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir``. Its schema is inferred once per
    table version: inference is a one-task Spark job per read, and a
    rewritten table (any file added, removed, resized or touched) is
    inferred again."""
    path = f"{sf_dir}/{name}.parquet"
    version = _table_version(path)
    schema = _SCHEMAS.get(version)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if version is not None:
        _SCHEMAS[version] = df.schema
    return df


def _local_frame(spark: SparkSession, rows: list[tuple],
                 schema: StructType) -> DataFrame:
    """A small driver-side result as a frame: a LocalTableScan built over
    Arrow, so reading it starts no job and no Python worker (a
    ``createDataFrame`` of a row list is an RDD scan)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return spark.createDataFrame(
        pa.Table.from_arrays([pa.array(c, type=f.type)
                              for c, f in zip(cols, arrow)], schema=arrow),
        schema)


def _round_half_up(x: float) -> float:
    """``x`` rounded to a whole number as Spark's ``F.round(x, 0)`` rounds
    a double: half away from zero on its decimal form (Python's
    ``round`` rounds half to even); NaN and infinities stay."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal(1), ROUND_HALF_UP))


def _scd2_versions(ev):
    """SCD TYPE 2 reconstruction from a change log: per user, the
    run-collapsed status history as half-open validity intervals. A
    version opens only where the status actually CHANGES (consecutive
    identical statuses extend the open version — the real SCD2 rule,
    not one row per event); valid_to = the next version's valid_from,
    NULL while current. Both window passes (lag change detection, lead
    valid_to + row_number version ordinal) share one partitioning and
    sort — Catalyst plans a single exchange + single sort, the filter
    between them preserves order. Validity bounds leave as unix micros
    (integer — cross-engine-hashable, no timestamp formatting drift);
    ties on ts break by event_id so the history is deterministic."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                  "event_id", F.col("event_type").alias("status"))
    prev = F.lag("status").over(w)
    changed = e.withColumn(
        "chg", F.coalesce(prev != F.col("status"), F.lit(True))) \
        .where("chg")
    nxt = F.lead("ts").over(w)
    return changed.select(
        "user_id", "status",
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        F.row_number().over(w).cast("long").alias("version_n"),
        nxt.isNull().alias("is_current"))


DRIFT_SPLIT_DAY = "2024-01-16"  # events span Jan 1-30: 15d vs 15d windows

_SCD2_VERSIONS_CTE = """
    e AS (
      SELECT user_id, ts, event_id, event_type AS status,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    chg AS (
      SELECT user_id, ts, event_id, status FROM e
      WHERE prev IS NULL OR prev <> status),
    v AS (
      SELECT user_id, status,
             epoch_us(ts) AS valid_from_us,
             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               AS valid_to_us,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
               AS version_n
      FROM chg)"""
