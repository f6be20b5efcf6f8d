"""Strict dtype audit: driver-style pandas comparison of every oracled
query's column TYPES (not just values) between Spark and DuckDB.

Why this exists (round 4): the local harness (verify_queries.py)
compares via fetchall() where DuckDB HUGEINT arrives as a Python int
and equals Spark's BIGINT — but the DRIVER compares pandas frames,
where DuckDB renders sum(INTEGER/BIGINT) as HUGEINT -> float64 while
Spark emits int64. Equal values, different dtype kind, hash mismatch
(r3's one red driver row, dup_cluster_radius). This tool runs every
query's Spark plan via toPandas() and its oracle via duckdb .df() and
flags any column whose numpy dtype KIND differs ('i' vs 'f' vs 'O'
vs 'b' vs 'M') — the exact class of divergence a value-hash over a
pandas frame can trip on with equal values.

Usage: python -u tools/audit_oracle_types.py [query ...]
Exit 0 = no kind mismatches across all oracled queries.
"""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def kinds(df):
    return {c: df[c].dtype.kind for c in df.columns}


def main() -> int:
    from __spark_entry__ import oracle_sql, queries
    from datasketches_rust_spark.config import spark_session

    spark = spark_session("audit-oracle-types", cpus=8,
                          shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = queries()
    oracles = oracle_sql()
    only = set(sys.argv[1:])
    bad = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # surface, keep sweeping
            print(f"ERR   {name}: {e}")
            bad.append(name)
            continue
        sk, ok = kinds(sdf), kinds(odf)
        mism = []
        for c in sorted(set(sk) | set(ok)):
            a, b = sk.get(c), ok.get(c)
            # uint vs int is value-compatible; all else must match kind
            norm = {"u": "i"}
            if a is None or b is None or \
                    norm.get(a, a) != norm.get(b, b):
                mism.append((c, a, b))
            elif a == "M" and str(sdf[c].dtype) != str(odf[c].dtype):
                # same kind but different datetime64 RESOLUTION (Spark
                # toPandas gives ns, DuckDB .df() gives us): equal
                # instants, different raw int64s — a raw-value hash
                # trips. Serialize such columns at the registry
                # boundary instead (queries._registry.iso_dates).
                mism.append((c, str(sdf[c].dtype), str(odf[c].dtype)))
        dt = time.time() - t0
        if mism:
            print(f"FAIL  {name}: dtype-kind mismatch {mism} ({dt:.1f}s)")
            bad.append(name)
        else:
            print(f"PASS  {name} ({dt:.1f}s)")
    print(f"\n{len(bad)} dtype failures" + (f": {bad}" if bad else ""))
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
