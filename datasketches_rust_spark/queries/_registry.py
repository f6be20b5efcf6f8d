"""The query registry: one declaration per query class.

``@query(...)`` on a ``q_<name>(spark, sf_dir)`` function of a family
module registers the class ``<name>`` and says how it is checked:

- ``oracle=``: DuckDB SQL over the same tables, whose result the driver
  hash-compares with the Spark frame's. ``oracle_replace=`` lists
  ``SELECT * REPLACE`` items that coerce the oracle's output columns to
  the Spark side's types (dates to ISO strings, HUGEINT sums to BIGINT):
  the driver hashes pandas frames, where equal values of different
  dtypes differ.
- ``gate=``: the test file that checks a class no SQL can (approximate
  sketches, ANN recall, media decoding); it names the class.
- ``window=``: the class's slot, 1 to 50, in the driver's hash window.
  The driver checks the first 50 entries of ``queries()`` each round,
  so only oracled classes hold slots; rotating them widens the set the
  driver has checked, and a class rotated out stays checked by
  tools/verify_queries.py.

A class's family is the module that declares it. ``tables()`` builds
the driver's ``QUERIES`` (window slots first, then family and
declaration order) and ``ORACLE_SQL`` maps.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

FAMILIES = ("sketch", "dedup", "relational", "timeseries", "stats",
            "streaming")
WINDOW = 50


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable
    family: str
    oracle: str | None
    gate: str | None
    window: int | None

    @property
    def mode(self) -> str:
        """The verification mode: "oracle", or the gate test file."""
        return "oracle" if self.oracle is not None else self.gate


DECLARED: list[Query] = []


def query(oracle: str | None = None, oracle_replace: str | None = None,
          gate: str | None = None, window: int | None = None):
    """Register the decorated ``q_<name>`` function as query class
    ``<name>`` (module docstring); the function itself is returned
    unchanged."""
    if (oracle is None) == (gate is None):
        raise ValueError("a query class declares exactly one of oracle= "
                         "and gate=")
    if oracle_replace is not None:
        if oracle is None:
            raise ValueError("oracle_replace= needs oracle=")
        oracle = (f"SELECT * REPLACE ({oracle_replace})\n"
                  f"FROM (\n{oracle}\n) _gate")
    if window is not None and (oracle is None or not 1 <= window <= WINDOW):
        raise ValueError(f"window slot {window}: slots are 1-{WINDOW} and "
                         f"need oracle=")

    def register(fn):
        family = fn.__module__.rsplit(".", 1)[-1]
        if family not in FAMILIES:
            raise ValueError(f"{fn.__module__} is not a query family")
        DECLARED.append(Query(fn.__name__.removeprefix("q_"), fn, family,
                              oracle, gate, window))
        return fn
    return register


def ordered() -> list[Query]:
    """Every declared class in driver order: window slots 1-50, then by
    family and declaration. Raises on a name declared twice or a window
    slot left empty or filled twice."""
    names = [q.name for q in DECLARED]
    twice = sorted({n for n in names if names.count(n) > 1})
    if twice:
        raise ValueError(f"query classes declared twice: {twice}")
    slots = sorted(q.window for q in DECLARED if q.window is not None)
    if slots != list(range(1, WINDOW + 1)):
        raise ValueError(f"window slots {slots} are not 1-{WINDOW} once each")
    return sorted(DECLARED, key=lambda q: (
        q.window or WINDOW + 1, FAMILIES.index(q.family)))


def tables() -> tuple[dict, dict]:
    """(QUERIES, ORACLE_SQL): name -> ``(spark, sf_dir) -> DataFrame``
    in driver order, with date and timestamp columns as strings
    (``iso_dates``), and name -> oracle SQL of the oracled classes."""
    qs = ordered()
    return ({q.name: _at_boundary(q.fn) for q in qs},
            {q.name: q.oracle for q in qs if q.oracle is not None})


def _at_boundary(fn):
    @functools.wraps(fn)
    def run(spark, sf_dir):
        return iso_dates(fn(spark, sf_dir))
    return run


def iso_dates(df: DataFrame) -> DataFrame:
    """``df`` with every date column as its ISO 'yyyy-MM-dd' string and
    every timestamp column as 'yyyy-MM-dd HH:mm:ss'; ``df`` itself when
    it has neither. The driver surface's wire form: Spark's toPandas
    gives dates as objects where DuckDB gives datetime64, and equal
    timestamps in different resolutions (ns against us), so no value
    hash over the raw columns matches. The functions keep their dates
    for direct callers, and the oracles cast the same columns to
    VARCHAR (``oracle_replace=``)."""
    kinds = (DateType, TimestampType, TimestampNTZType)
    if not any(isinstance(f.dataType, kinds) for f in df.schema.fields):
        return df

    def wire(f):
        if isinstance(f.dataType, DateType):
            return F.date_format(f.name, "yyyy-MM-dd").alias(f.name)
        if isinstance(f.dataType, kinds):
            return F.date_format(f.name, "yyyy-MM-dd HH:mm:ss").alias(f.name)
        return F.col(f.name)
    return df.select(*[wire(f) for f in df.schema.fields])
