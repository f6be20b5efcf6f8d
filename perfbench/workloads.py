"""The benchmark's workloads. Each one writes its input to parquet during
set-up (from the seed it is given), then calls the engine's public entry
point on a DataFrame read from that parquet, and checks the result
against truth it kept aside: the generator's planted clusters for the
dedup workloads, exact DuckDB answers for the sketch queries.

Why these four (the layer each one loads, and the layers it bypasses):

- ``image_dedup``: the image+caption shape, string ids. 256-px images
  make the decode + phash + caption MinHash scan the largest layer; lsh,
  verify, visual, cc and the string-id recovery run on top of it;
  bypasses vote. BENCHMARK.json leaves it out: one run takes over a
  minute on a 4-core box, and the repeated runs of four workloads would
  not fit the time the benchmark is given. Run it by name.
- ``text_dedup_skewed``: long ids, no decode. Planted boilerplate copies
  overflow ``max_bucket_size``, so LSH degrades hot buckets to stars and
  verify/CC run over giant components. Loads scan_sketch (MinHash), lsh,
  verify and cc; bypasses visual, vote and idmap.
- ``video_dedup``: string ids, PNG/JPEG frames decoded and phashed at the
  scan, pigeonhole phash banding, the frame-overlap vote and string-id
  recovery. Loads scan_sketch (decode + phash), visual, vote, cc and
  idmap; bypasses lsh and verify.
- ``sketch_queries``: one client running a fixed mix of sketch-family
  query classes back to back; the seed sets their order. Loads the
  ``agg`` partial/merge/estimate path that no dedup workload touches.
"""

from __future__ import annotations

import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

PKG = "datasketches_rust_spark"

# an operation whose answer falls below these counts as failed
RECALL_FLOOR = 0.99
PRECISION_FLOOR = 0.99
EXACT_TOL = 1e-9        # oracled query classes: the answer is exact
APPROX_TOL = 0.05       # HLL / CPC / t-digest estimates vs exact answers

INPUT = "input"         # rows_in source: the workload's input rows


@dataclass
class Op:
    """One timed operation: wall and CPU seconds to a materialized result,
    whether its correctness check passed, and the quality figures behind
    the check."""
    seconds: float
    cpu_seconds: float
    ok: bool
    quality: dict = field(default_factory=dict)


def timed_op(run, check, cpu_clock) -> Op:
    """Time ``run()`` by the wall clock and by ``cpu_clock()``;
    ``check(result) -> (ok, quality)`` runs untimed. An exception is
    reported and counts as a failed operation."""
    c0, t0 = cpu_clock(), time.perf_counter()
    try:
        result = run()
    except Exception:
        traceback.print_exc()
        return Op(time.perf_counter() - t0, cpu_clock() - c0, False)
    seconds = time.perf_counter() - t0
    cpu_seconds = cpu_clock() - c0
    ok, quality = check(result)
    return Op(seconds, cpu_seconds, ok, quality)


def pair_scores(predicted: dict, truth: dict) -> tuple[float, float]:
    """(recall, precision) of within-cluster pairs: recall is
    ``oracle.assignment_pair_recall``, precision is the same count with the
    roles swapped. An assignment that loses or invents ids scores 0."""
    from datasketches_rust_spark.oracle import assignment_pair_recall
    if predicted.keys() != truth.keys():
        return 0.0, 0.0
    return (assignment_pair_recall(predicted, truth),
            assignment_pair_recall(truth, predicted))


def write_parquet(df: pd.DataFrame, path: Path, files: int) -> None:
    """One parquet directory of ``files`` files, so the scan has one
    partition per core without a repartition."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path.mkdir(parents=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        pq.write_table(pa.Table.from_pandas(df.iloc[part],
                                            preserve_index=False),
                       path / f"part-{i:03d}.parquet")


class DedupWorkload:
    """A dedup entry point over a synthetic table with planted clusters.
    One cycle is one call of the entry point over the whole table."""

    name = ""
    id_col = ""
    columns: tuple[str, ...] = ()
    layer_plan: tuple = ()
    rows_in: dict[str, str] = {}
    tail_layer: str | None = None   # layer of the final collect, if any
    cycle_len = 1
    # a run times at least this many cycles and at least --seconds. After
    # the warm-up cycle each cycle still costs ~8% less CPU than the one
    # before it, as the JIT keeps compiling. So that every run times the
    # same number, BENCHMARK.json's run_seconds is shorter than two cycles.
    # A run's fixed cost (session, daemon, warm-up) is 25-30 s, so more
    # would not fit the repeated runs of three workloads.
    min_cycles = 2
    # CPU seconds used so far by the engine; run.py sets it to the whole
    # process tree of the session
    cpu_clock = staticmethod(time.process_time)

    def __init__(self) -> None:
        self.df = None
        self.path = None
        self.truth: dict = {}
        self.input_rows = 0

    def generate(self, seed: int) -> pd.DataFrame:
        """Input rows plus the planted ``cluster_id`` column."""
        raise NotImplementedError

    def entry(self, df):
        raise NotImplementedError

    def synthesize(self, path: Path, seed: int, cores: int) -> None:
        full = self.generate(seed)
        write_parquet(full, path, cores)
        self.truth = dict(zip(full[self.id_col], full["cluster_id"]))
        self.input_rows = len(full)
        self.path = path

    def load(self, spark) -> None:
        self.df = spark.read.parquet(str(self.path)).select(*self.columns)

    def _check(self, rows) -> tuple[bool, dict]:
        recall, precision = pair_scores({r[0]: r[1] for r in rows},
                                        self.truth)
        return (recall >= RECALL_FLOOR and precision >= PRECISION_FLOOR,
                {"pair_recall": recall, "pair_precision": precision})

    def op(self, spark, i: int, tracer=None) -> Op:
        def run():
            out = self.entry(self.df)
            with (tracer.span(self.tail_layer)
                  if tracer and self.tail_layer else nullcontext()) as sp:
                rows = out.collect()
                if sp is not None:
                    sp.rows_out = len(rows)
            return rows
        return timed_op(run, self._check, self.cpu_clock)


class ImageDedup(DedupWorkload):
    name = "image_dedup"
    id_col = "image_id"
    columns = ("image_id", "bytes", "fmt", "caption")
    N_IMAGES = 1500
    PIXELS = 256        # so that decode + phash outweigh every other layer
    FILES_PER_CORE = 4  # ~20 MB files: a scan batch fits the driver heap
    DUP_RATE = 0.3
    layer_plan = (
        (f"{PKG}.pipeline_images", "image_sketch_table", "scan_sketch",
         None),
        (f"{PKG}.pipeline", "candidate_pairs", "lsh", None),
        (f"{PKG}.pipeline_images", "dedup_pairs", "verify", None),
        (f"{PKG}.pipeline_images", "simhash_pairs", "visual", None),
        (f"{PKG}.operators.lsh", "bucketed_pair_events", "visual",
         "visual.band_events"),
        (f"{PKG}.operators.connected_components", "connected_components",
         "cc", None),
    )
    # the string-id recovery is inline in image_cluster_assignments: it is
    # what is left to run once every wrapped layer has materialized
    tail_layer = "idmap"
    rows_in = {"scan_sketch": INPUT, "lsh": "scan_sketch", "verify": "lsh",
               "visual": "scan_sketch", "cc": "verify", "idmap": INPUT}

    def synthesize(self, path: Path, seed: int, cores: int) -> None:
        """Images this large take tens of core-seconds to make: ``load``
        makes them on the Spark session's cores instead."""
        self.path, self.seed, self.cores = path, seed, cores

    def load(self, spark) -> None:
        from datasketches_rust_spark.sources.images import (IMAGE_SCHEMA,
                                                            make_vocab,
                                                            materialize_rows,
                                                            plan_clusters)
        plan = plan_clusters(self.N_IMAGES, self.seed, self.DUP_RATE)
        vocab = make_vocab(self.seed)
        seed, pixels = self.seed, self.PIXELS

        def gen(batches):
            for pdf in batches:
                yield materialize_rows(pdf["id"].to_numpy(), plan, seed,
                                       pixels, vocab)

        # as sources.images.images_spark_df, but one write keeps the rows
        # and their truth: that function returns them as two plans, and
        # each would make every image again
        (spark.range(self.N_IMAGES,
                     numPartitions=self.cores * self.FILES_PER_CORE)
         .mapInPandas(gen, schema=IMAGE_SCHEMA + ", cluster_id long")
         .write.parquet(str(self.path)))
        truth = (spark.read.parquet(str(self.path))
                 .select(self.id_col, "cluster_id").collect())
        self.truth = dict(truth)
        self.input_rows = len(truth)
        # the stored phash column is left out: the scan derives it
        super().load(spark)

    def entry(self, df):
        from datasketches_rust_spark.config import DedupConfig
        from datasketches_rust_spark.pipeline_images import \
            image_cluster_assignments
        return image_cluster_assignments(df, DedupConfig())

    def describe(self) -> dict:
        return {"input_rows": self.input_rows, "pixels": self.PIXELS,
                "dup_rate": self.DUP_RATE}


class TextDedupSkewed(DedupWorkload):
    name = "text_dedup_skewed"
    id_col = "doc_id"
    columns = ("doc_id", "text")
    # boilerplate is 1/6 of the rows, as in a 40k-doc corpus with four
    # templates of 2000 copies, at a size whose repeated runs fit the
    # benchmark's time
    N_DOCS = 6000
    TEMPLATES = 2
    COPIES = 600        # > DedupConfig.max_bucket_size (512): hot buckets
    EDIT_EVERY = 4      # every 4th copy has the fixture's 1-2 word edits
    layer_plan = (
        (f"{PKG}.pipeline", "minhash_signatures", "scan_sketch", None),
        (f"{PKG}.pipeline", "candidate_pairs", "lsh", None),
        (f"{PKG}.pipeline", "dedup_pairs", "verify", None),
        (f"{PKG}.pipeline", "assign_clusters", "idmap", None),
        (f"{PKG}.operators.connected_components", "connected_components",
         "cc", None),
    )
    rows_in = {"scan_sketch": INPUT, "lsh": "scan_sketch", "verify": "lsh",
               "cc": "verify", "idmap": INPUT}

    def generate(self, seed: int) -> pd.DataFrame:
        from datasketches_rust_spark.sources.documents import materialize_docs
        from datasketches_rust_spark.sources.images import (make_vocab,
                                                            plan_clusters)
        plan = plan_clusters(self.N_DOCS, seed)
        # boilerplate: each template row is followed by COPIES - 1 copies
        # in its cluster, exact or with small edits. Copies that edit the
        # same word share their edited band buckets, so edited copies
        # pair quadratically among themselves: editing every copy would
        # make those cold pairs, not the hot-bucket stars, the work.
        for _ in range(self.TEMPLATES):
            base = len(plan)
            plan += [("base", base)] + [
                ("caption" if k % self.EDIT_EVERY == 0 else "exact", base)
                for k in range(1, self.COPIES)]
        return materialize_docs(range(len(plan)), plan, seed,
                                make_vocab(seed, size=2000))

    def entry(self, df):
        from datasketches_rust_spark.config import DedupConfig
        from datasketches_rust_spark.pipeline import cluster_assignments
        return cluster_assignments(df, DedupConfig(), "doc_id", "text")

    def describe(self) -> dict:
        return {"input_rows": self.input_rows, "docs": self.N_DOCS,
                "boilerplate_templates": self.TEMPLATES,
                "copies_per_template": self.COPIES,
                "edited_copy_every": self.EDIT_EVERY}


class VideoDedup(DedupWorkload):
    name = "video_dedup"
    id_col = "video_id"
    columns = ("video_id", "bytes", "n_frames")
    N_VIDEOS = 1200
    layer_plan = (
        (f"{PKG}.pipeline_video", "video_frame_sketches", "scan_sketch",
         None),
        (f"{PKG}.operators.visual", "simhash_pairs", "visual", None),
        (f"{PKG}.operators.lsh", "bucketed_pair_events", "visual",
         "visual.band_events"),
        (f"{PKG}.pipeline_video", "video_edges", "vote", None),
        (f"{PKG}.operators.connected_components",
         "assign_clusters_string_ids", "idmap", None),
        (f"{PKG}.operators.connected_components", "connected_components",
         "cc", None),
    )
    rows_in = {"scan_sketch": INPUT, "visual": "scan_sketch",
               "vote": "visual", "cc": "vote", "idmap": INPUT}

    def generate(self, seed: int) -> pd.DataFrame:
        from datasketches_rust_spark.sources.images import plan_clusters
        from datasketches_rust_spark.sources.video import materialize_videos
        full = materialize_videos(range(self.N_VIDEOS),
                                  plan_clusters(self.N_VIDEOS, seed), seed)
        self.frames = int(full["n_frames"].sum())
        return full

    def entry(self, df):
        from datasketches_rust_spark.pipeline_video import \
            video_cluster_assignments
        return video_cluster_assignments(df)

    def describe(self) -> dict:
        from datasketches_rust_spark.sources.video import FRAME_SIZE
        return {"input_rows": self.input_rows, "frames": self.frames,
                "frame_px": FRAME_SIZE}


class SketchQueries:
    """Closed loop, one client: the mix runs back to back in seed order,
    one query class per operation; one cycle is the whole mix. The tables
    are fixed (``DATA_SEED``), so every seed answers the same questions
    and the estimate errors repeat exactly."""

    name = "sketch_queries"
    MIX = ("theta_distinct_parts_by_flag", "hll_distinct_orders",
           "cpc_distinct_orders", "freq_top_event_types",
           "countmin_event_counts", "tdigest_price_quantiles",
           "bloom_semijoin_parts")
    # tables each class scans (countmin scans events twice)
    SCANS = {"theta_distinct_parts_by_flag": ("lineitem",),
             "hll_distinct_orders": ("lineitem",),
             "cpc_distinct_orders": ("lineitem",),
             "freq_top_event_types": ("events",),
             "countmin_event_counts": ("events", "events"),
             "tdigest_price_quantiles": ("lineitem",),
             "bloom_semijoin_parts": ("lineitem", "part")}
    # exact answers for the approximate classes, which have no ORACLE_SQL
    EXACT_SQL = {
        "hll_distinct_orders":
            "SELECT count(DISTINCT l_orderkey) AS approx_orders "
            "FROM lineitem",
        "cpc_distinct_orders":
            "SELECT count(DISTINCT l_orderkey) AS approx_orders "
            "FROM lineitem",
        "tdigest_price_quantiles":
            "SELECT quantile_cont(l_extendedprice, 0.25) AS q25, "
            "quantile_cont(l_extendedprice, 0.50) AS q50, "
            "quantile_cont(l_extendedprice, 0.95) AS q95 FROM lineitem",
    }
    DATA_SEED = 42
    LINEITEM_ROWS = 60_000
    ORDERS = 15_000
    PARTS = 2_000
    EVENT_TYPES = 12
    layer_plan = ()
    rows_in = {"agg": INPUT}
    cycle_len = len(MIX)
    min_cycles = 1      # seven queries, ~9 s on 4 cores: > run_seconds
    cpu_clock = staticmethod(time.process_time)

    def __init__(self) -> None:
        self.dir = ""
        self.order: list[str] = []
        self.exact: dict[str, list[dict]] = {}
        self.table_rows: dict[str, int] = {}
        self.input_rows = 0

    def tables(self) -> dict[str, pd.DataFrame]:
        rng = np.random.default_rng(self.DATA_SEED)
        n = self.LINEITEM_ROWS
        lineitem = pd.DataFrame({
            "l_orderkey": rng.integers(0, self.ORDERS, n),
            "l_partkey": rng.integers(0, self.PARTS, n),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_extendedprice": np.round(rng.lognormal(10, 0.6, n), 2),
        })
        part = pd.DataFrame({
            "p_partkey": np.arange(self.PARTS, dtype=np.int64),
            "p_size": rng.integers(1, 51, self.PARTS).astype(np.int32),
        })
        # distinct per-type counts, so the top-5 has no ties
        counts = [int(3000 * 0.8 ** i) + i for i in range(self.EVENT_TYPES)]
        types = np.repeat([f"type_{i:02d}" for i in range(self.EVENT_TYPES)],
                          counts)
        rng.shuffle(types)
        events = pd.DataFrame({
            "user_id": rng.integers(0, 1000, len(types)),
            "event_type": types,
            "value": np.round(rng.uniform(0, 100, len(types)), 2),
        })
        return {"lineitem": lineitem, "part": part, "events": events}

    def load(self, spark) -> None:
        """The query classes read the parquet directory themselves."""

    def synthesize(self, path: Path, seed: int, cores: int) -> None:
        import duckdb
        from datasketches_rust_spark import queries as Q
        for name, df in self.tables().items():
            write_parquet(df, path / f"{name}.parquet", cores)
            self.table_rows[name] = len(df)
        self.dir = str(path)
        con = duckdb.connect()
        try:
            for name in self.table_rows:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{path / name}.parquet/*')")
            for q in self.MIX:
                cur = con.execute(Q.ORACLE_SQL.get(q) or self.EXACT_SQL[q])
                cols = [d[0] for d in cur.description]
                self.exact[q] = [dict(zip(cols, r)) for r in cur.fetchall()]
        finally:
            con.close()
        self.order = [self.MIX[i]
                      for i in np.random.default_rng(seed).permutation(
                          len(self.MIX))]
        self.input_rows = sum(self.table_rows[t] for q in self.MIX
                              for t in self.SCANS[q])

    def _tolerance(self, q: str) -> float:
        from datasketches_rust_spark import queries as Q
        return EXACT_TOL if q in Q.ORACLE_SQL else APPROX_TOL

    def op(self, spark, i: int, tracer=None) -> Op:
        from datasketches_rust_spark import queries as Q
        q = self.order[i]
        with tracer.span("agg") if tracer else nullcontext() as sp:
            op = timed_op(lambda: [r.asDict() for r in
                                   Q.QUERIES[q](spark, self.dir).collect()],
                          lambda rows: self._check(q, rows),
                          self.cpu_clock)
            if sp is not None:
                sp.rows_out = op.quality.get("rows", 0)
        return op

    def _check(self, q: str, rows: list[dict]) -> tuple[bool, dict]:
        err = answer_error(rows, self.exact[q])
        return err <= self._tolerance(q), {"answer_err": err,
                                           "rows": len(rows)}

    def describe(self) -> dict:
        return {"input_rows": self.input_rows, "tables": self.table_rows,
                "order": self.order}


def answer_error(got: list[dict], want: list[dict]) -> float:
    """Largest relative error of any numeric cell of ``got`` against the
    matching row of ``want``; rows are matched on their text columns.
    A missing row or column, or a differing text cell, is an infinite
    error."""
    if len(got) != len(want) or any(g.keys() != want[0].keys() for g in got):
        return float("inf")

    def key(r):
        return tuple(str(v) for _, v in sorted(r.items())
                     if isinstance(v, str))

    err = 0.0
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for col, want_v in w.items():
            got_v = g[col]
            if isinstance(want_v, str) or want_v is None or got_v is None:
                if got_v != want_v:
                    return float("inf")
                continue
            want_f = float(want_v)
            err = max(err, abs(float(got_v) - want_f)
                      / max(abs(want_f), 1e-12))
    return err


WORKLOADS = {w.name: w for w in (ImageDedup, TextDedupSkewed, VideoDedup,
                                 SketchQueries)}
