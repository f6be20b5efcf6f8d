"""Distributed AS-OF join (backward, inclusive) — the time-series join
Spark lacks as a built-in (the reference has no joins at all, SURVEY.md
§2.9; this is part of the training-pipeline operator surface, e.g.
"most recent label/price/config at event time").

The scalable formulation is union + sorted-window carry-forward, NOT a
range join: tag both sides, align schemas, union, ONE hash exchange on
the key columns, sort each partition by (ts, side, values) with right
rows first on timestamp ties (inclusive semantics — a right row at
exactly the left timestamp matches), carry the last right-side row
forward as a struct with last(..., ignoreNulls=True), keep left rows.
The whole join costs exactly one shuffle — no per-row range explosion,
no second exchange for a dedupe aggregate (the value sort key makes
same-timestamp right duplicates deterministic instead); skewed keys are
ordinary AQE-splittable skew. pandas merge_asof is the unit-test oracle
(tests/test_asof.py) and DuckDB's native ASOF JOIN is the driver oracle
(queries/timeseries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              ts_col: str, value_cols: list[str],
              suffix: str = "_asof") -> DataFrame:
    """For every left row, attach the right-side ``value_cols`` from the
    most recent right row with right.ts <= left.ts and equal ``on`` keys
    (null when no prior right row exists).

    The matched values come from ONE right row (struct carry, never a
    per-column mix). When the right side has several rows at the same
    (keys, ts), the row with the greatest value tuple wins —
    deterministic without a dedupe shuffle.
    """
    ltypes = dict(left.dtypes)
    payload = [c for c in left.columns if c not in set(on) | {ts_col}]
    vs = F.struct(*[F.col(c) for c in value_cols])

    rt = right.select(
        *on, ts_col,
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in payload],
        vs.alias("__vs"),
        F.lit(0).alias("__side"))
    lt = left.select(
        *on, ts_col, *payload,
        F.lit(None).cast(dict(rt.dtypes)["__vs"]).alias("__vs"),
        F.lit(1).alias("__side"))
    u = rt.unionByName(lt)

    # right rows sort before left rows on timestamp ties (inclusive
    # match); among right duplicates the greatest value struct sorts
    # last and wins the carry. Left rows' null __vs sorts first within
    # their (ts, side) group — irrelevant, they all read the same carry.
    w = (Window.partitionBy(*on).orderBy(ts_col, "__side", "__vs")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = u.select(
        *on, ts_col, *payload, "__side",
        F.last("__vs", ignorenulls=True).over(w).alias("__carry"))
    return (carried.where(F.col("__side") == 1)
            .select(*on, ts_col, *payload,
                    *[F.col(f"__carry.{c}").alias(c + suffix)
                      for c in value_cols]))
