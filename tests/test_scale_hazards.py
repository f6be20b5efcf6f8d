"""Tests for the scale hazards fixed in round 2 (VERDICT r1 findings 1-3):

- hot-bucket star degrade: a near-dup cluster LARGER than max_bucket_size
  must keep recall >= 0.99 (previously every bucket of such a cluster was
  hot -> dropped -> the cluster silently shattered);
- connected-components convergence: chain-shaped components longer than
  the round budget must still converge (pointer doubling) and exhaustion
  must raise instead of silently returning wrong labels;
- lang_id_col (built-in expressions) must agree with lang_id_udf;
- cosine_pairs_lsh must be exact vs brute force on the fixture;
- TDigest direct construction recovers min/max from centroids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketches_rust_spark.config import DedupConfig
from datasketches_rust_spark.oracle import (assignment_pair_recall,
                                            oracle_clusters)
from datasketches_rust_spark.pipeline import cluster_assignments

_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango "
          "uniform victor whiskey xray yankee zulu").split()


def _giant_cluster_docs(n_cluster: int, n_background: int, seed: int = 7):
    """Deterministic fixture: one near-dup cluster of n_cluster members
    (pairwise shingle-jaccard ~0.9) + unrelated background docs."""
    rng = np.random.default_rng(seed)
    base = [
        _WORDS[i % len(_WORDS)] for i in rng.integers(0, len(_WORDS), 60)]
    docs = []
    for i in range(n_cluster):
        words = list(base)
        # flip one word per member -> ~8 of ~300 shingles differ
        words[i % len(words)] = f"var{i % 17}"
        docs.append((i, " ".join(words)))
    for j in range(n_background):
        words = [_WORDS[k % len(_WORDS)]
                 for k in rng.integers(0, len(_WORDS), 40)]
        docs.append((n_cluster + j, f"bg{j} " + " ".join(words)))
    return docs


class TestHotBucketStar:
    def test_candidate_pairs_star_on_hot_bucket(self, spark):
        """Unit: a bucket over the cap yields star edges around the min id
        instead of being dropped (and instead of O(size^2) pairs)."""
        from datasketches_rust_spark.operators.lsh import candidate_pairs
        cfg = DedupConfig(max_bucket_size=8, min_band_matches=2)
        n = 40
        # every doc shares band key 111 in band 0 (hot, size 40 > 8) and
        # has a unique key elsewhere -> zero cold collisions
        rows = [(i, [111, 1000 + i] + [2000 + 97 * i + b for b in range(30)])
                for i in range(n)]
        df = spark.createDataFrame(rows, "id long, bands array<long>")
        got = {(r.id_a, r.id_b) for r in
               candidate_pairs(df, cfg, "id").collect()}
        want = {(0, i) for i in range(1, n)}  # star around min id 0
        assert got == want

    def test_giant_cluster_recall(self, spark):
        """A 5000-member near-dup cluster (every LSH bucket hot at the
        default cap 512) must cluster together: dup-pair recall >= 0.99
        vs ground truth AND exact agreement with the numpy oracle."""
        cfg = DedupConfig()
        n_cluster, n_bg = 5000, 300
        docs = _giant_cluster_docs(n_cluster, n_bg)
        ids = [d[0] for d in docs]
        texts = [d[1] for d in docs]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: r.cluster_id for r in
               cluster_assignments(df, cfg, "doc_id", "text").collect()}
        assert len(got) == len(ids)
        truth = {i: (0 if i < n_cluster else i) for i in ids}
        rec = assignment_pair_recall(got, truth)
        assert rec >= 0.99, f"giant-cluster recall {rec:.4f}"
        # background must not get sucked into the cluster (precision guard)
        cluster0 = {v for v, c in got.items() if c == got[0]}
        assert not any(v >= n_cluster for v in cluster0)
        # and the numpy oracle (same star semantics) must agree exactly
        want = oracle_clusters(ids, texts, cfg)
        assert got == want

    def test_capped_band_pairs_survive_min_band_matches(self, spark):
        """ADVICE r1: a true pair whose co-buckets are capped in all but
        one band must not be dropped by min_band_matches=2 — the star
        edges bypass the cold-evidence requirement."""
        from datasketches_rust_spark.operators.lsh import candidate_pairs
        cfg = DedupConfig(max_bucket_size=4, min_band_matches=2)
        # docs 0,1: together in hot band-0 bucket (with 8 fillers) and in
        # exactly ONE cold band (band 1); fillers unique elsewhere
        rows = [(0, [50, 60] + [900 + i for i in range(30)]),
                (1, [50, 60] + [800 + i for i in range(30)])]
        for f in range(8):
            rows.append((2 + f,
                         [50, 70 + f] + [3000 + 41 * f + i
                                         for i in range(30)]))
        df = spark.createDataFrame(rows, "id long, bands array<long>")
        got = {(r.id_a, r.id_b) for r in
               candidate_pairs(df, cfg, "id").collect()}
        # star edges from the hot bucket connect everyone to id 0; the
        # (0,1) pair survives even though its only cold collision count=1
        assert (0, 1) in got


class TestEmbeddingHotBucket:
    def test_identical_embedding_cluster_stars(self, spark):
        """A cluster of identical embeddings larger than the bucket cap
        (crawl-scale duplicate images/docs share one embedding) must
        come back connected through star edges around the min id —
        O(size) verified pairs, not O(size^2) band-join rows, and not
        dropped. Background vectors sharing a hot bucket get star
        CANDIDATES but fail the exact-cosine verify."""
        import numpy as np
        from datasketches_rust_spark.operators.similarity import \
            cosine_pairs_lsh
        n = 40
        base = [1.0, 2.0, -0.5, 0.25] * 4  # dim 16
        rows = [(i, base) for i in range(n)]
        rng = np.random.default_rng(5)
        for j in range(20):
            rows.append((1000 + j, rng.standard_normal(16).tolist()))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        got = {(r.id_a, r.id_b) for r in
               cosine_pairs_lsh(df, 0.95, dim=16,
                                max_bucket_size=8).collect()}
        want = {(0, i) for i in range(1, n)}
        assert got == want


class TestCandidatePlanShape:
    def test_one_band_exchange_one_arrow_pass(self, spark):
        """candidate_pairs plans exactly ONE band exchange
        (REPARTITION_BY_COL on band_key), ONE MapInArrow bucket pass that
        takes only (__id, band_key), and no Window or join: sizes,
        representatives and pairs all come from the pass's one
        partition-local sort. Asserted AQE-off (plan only, no job)."""
        import re

        from datasketches_rust_spark.operators.lsh import candidate_pairs
        cfg = DedupConfig()
        rows = [(i, [100 + i, 200 + i, 300 + (i % 3)]) for i in range(20)]
        df = spark.createDataFrame(rows, "id long, bands array<long>")
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            plan = (candidate_pairs(df, cfg, "id")
                    ._jdf.queryExecution().executedPlan().toString())
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        band_ex = re.findall(r"Exchange hashpartitioning\(band_key#\d+L, "
                             r"\d+\), REPARTITION_BY_COL", plan)
        assert len(band_ex) == 1, plan
        assert len(re.findall(r"Exchange ", plan)) == 2, plan  # + dedup
        arrow = re.findall(r"MapInArrow \w+\(([^)]*)\)", plan)
        assert len(arrow) == 1, plan
        assert re.fullmatch(r"__id#\d+L, band_key#\d+L", arrow[0]), plan
        assert "Window" not in plan and "ReusedExchange" not in plan, plan
        assert not re.search(r"Join|CartesianProduct", plan), plan


@pytest.mark.parametrize("path", ["cap512", "cap0", "payload"])
def test_null_ids_and_keys_never_pair(spark, path):
    """Rows with a null id or a null band key are dropped inside the
    bucket pass, on every path: the default cap, cap 0 (every bucket
    cold) and the payload path the Hamming callers use."""
    from datasketches_rust_spark.operators.lsh import (bucketed_pair_events,
                                                       candidate_pairs,
                                                       explode_bands)
    rows = [(1, [10, 20]), (2, [10, 21]), (None, [10, 22]),
            (None, [10, 23]), (3, [None, 24]), (4, [None, 25])]
    df = spark.createDataFrame(rows, "id long, bands array<long>")
    if path == "payload":
        ex = explode_bands(df, "id", "bands").withColumn(
            "fp", F.coalesce(F.col("__id"), F.lit(-1)) * 10)
        got = {tuple(r) for r in
               bucketed_pair_events(ex, 512, payload=("fp",)).collect()}
        assert got == {(1, 2, 0, 10, 20)}
        return
    cfg = DedupConfig(max_bucket_size=512 if path == "cap512" else 0,
                      min_band_matches=1)
    got = {tuple(r) for r in candidate_pairs(df, cfg, "id").collect()}
    assert got == {(1, 2)}


@pytest.mark.parametrize("layout", ["pigeonhole", "audio", "one_band"])
def test_band_layout_keys(spark, layout):
    """simhash_bands packs combo ci as (ci << (width * len(combo))) |
    slices, low slice first: the pigeonhole single slices of the image
    and video phashes, the audio 8-bit slice triples and the one 64-bit
    band of max_hamming=0 (the key is the code itself), bit for bit."""
    from datasketches_rust_spark.operators.visual import (pigeonhole_layout,
                                                          simhash_bands)
    from datasketches_rust_spark.pipeline_audio import AUDIO_BAND_LAYOUT
    width, combos = {"pigeonhole": pigeonhole_layout(3),
                     "audio": AUDIO_BAND_LAYOUT,
                     "one_band": pigeonhole_layout(0)}[layout]
    fps = [0, -1, 0x1234ABCD5678EF01, -0x7EDCBA9876543210]

    def key(fp, ci, combo):
        sl = [((fp & (2**64 - 1)) >> (s * width)) & ((1 << width) - 1)
              for s in combo]
        k = (ci << (width * len(combo))) | sum(
            v << (width * j) for j, v in enumerate(sl))
        return k - 2**64 if k >= 2**63 else k   # as a signed long

    df = spark.createDataFrame([(i, fp) for i, fp in enumerate(fps)],
                               "id long, fp long")
    got = sorted((r["__id"], r["band_key"]) for r in
                 simhash_bands(df, "id", "fp", (width, combos)).collect())
    want = sorted((i, key(fp, ci, c)) for i, fp in enumerate(fps)
                  for ci, c in enumerate(combos))
    assert got == want


def test_simhash_pairs_exact_codes_only(spark):
    """max_hamming=0 bands on the whole code: only identical codes pair."""
    from datasketches_rust_spark.operators.visual import simhash_pairs
    df = spark.createDataFrame([(1, -42), (2, -42), (3, -41)],
                               "id long, fp long")
    got = [tuple(r) for r in
           simhash_pairs(df, "id", "fp", max_hamming=0).collect()]
    assert got == [(1, 2, 0)]


class TestSimhashHotBucket:
    def test_identical_fp_cluster_stars(self, spark):
        """A cluster of identical fingerprints larger than the cap (the
        exact-duplicate-image case at crawl scale) must produce O(n) star
        edges around the min id — not O(n^2) pairs, and not zero."""
        from datasketches_rust_spark.operators.visual import simhash_pairs
        n = 40
        rows = [(i, 0x1234ABCD5678EF01) for i in range(n)]
        rows += [(1000 + j, (0x7FFF000000000000 ^ (j * 0x333357)) | 1)
                 for j in range(5)]
        df = spark.createDataFrame(rows, "id long, fp long")
        got = {(r.id_a, r.id_b): r.hamming for r in
               simhash_pairs(df, "id", "fp", max_hamming=3,
                             max_bucket_size=8).collect()}
        star = {(0, i) for i in range(1, n)}
        assert star <= set(got)
        assert all(got[p] == 0 for p in star)
        # no quadratic blowup: nothing but star edges among the cluster
        cluster_pairs = {p for p in got if p[0] < 1000 and p[1] < 1000}
        assert cluster_pairs == star

    def test_cap_disabled_restores_full_cliques(self, spark):
        from datasketches_rust_spark.operators.visual import simhash_pairs
        n = 12
        rows = [(i, -42) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, fp long")
        got = {(r.id_a, r.id_b) for r in
               simhash_pairs(df, "id", "fp", max_hamming=3,
                             max_bucket_size=0).collect()}
        want = {(a, b) for a in range(n) for b in range(a + 1, n)}
        assert got == want


class TestConnectedComponentsConvergence:
    def test_path_graph_converges(self, spark):
        """100-node path: diameter 99 >> the old effective budget; pointer
        doubling after round 6 must converge well inside max_iter=50."""
        from datasketches_rust_spark.operators.connected_components import \
            connected_components
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(99)], "id_a long, id_b long")
        got = {r.id: r.cluster_id for r in
               connected_components(edges, max_iter=50).collect()}
        assert got == {i: 0 for i in range(100)}

    def test_exhaustion_raises(self, spark):
        from datasketches_rust_spark.operators.connected_components import (
            ConvergenceError, connected_components)
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a long, id_b long")
        with pytest.raises(ConvergenceError):
            connected_components(edges, max_iter=3,
                                 shortcut_after=99).collect()


def test_lang_id_col_matches_udf(spark, sf_correct_dir):
    from datasketches_rust_spark.functions.text import (lang_id_col,
                                                        lang_id_udf)
    docs = spark.read.parquet(f"{sf_correct_dir}/documents.parquet")
    lid = lang_id_udf()
    rows = docs.select(
        "doc_id",
        lang_id_col(F.col("text")).alias("fast"),
        lid(F.col("text")).alias("slow")).collect()
    assert rows and all(r.fast == r.slow for r in rows)


def test_lang_id_plan_has_no_python(spark, sf_correct_dir):
    """lang_id must stay in whole-stage codegen — no Python eval node."""
    import io
    from contextlib import redirect_stdout
    from datasketches_rust_spark import queries as Q
    buf = io.StringIO()
    with redirect_stdout(buf):
        Q.q_lang_id_counts(spark, sf_correct_dir).explain("formatted")
    assert "EvalPython" not in buf.getvalue()


def test_cosine_pairs_lsh_exact_on_fixture(spark, sf_correct_dir):
    from datasketches_rust_spark.operators.similarity import (
        cosine_pairs_bruteforce, cosine_pairs_lsh)
    emb = spark.read.parquet(f"{sf_correct_dir}/embeddings.parquet")
    want = {(r.id_a, r.id_b) for r in
            cosine_pairs_bruteforce(emb, 0.45).collect()}
    got = {(r.id_a, r.id_b) for r in
           cosine_pairs_lsh(emb, 0.45, dim=64).collect()}
    assert got == want and len(want) > 0


def test_tdigest_direct_construction_bounds():
    from datasketches_rust_spark.sketches.tdigest import TDigest
    td = TDigest(k=100, means=np.array([1.0, 2.0, 5.0]),
                 weights=np.array([1.0, 2.0, 1.0]))
    assert td.quantile(0.0) == 1.0
    assert td.quantile(1.0) == 5.0


def test_ngram_hot_gram_guard(spark, tmp_path):
    """A gram present in EVERY doc (boilerplate) is dropped from the
    self-join by the df cap; docs sharing ONLY boilerplate never pair,
    docs sharing real content still do — and doc sizes keep counting all
    grams, so the Jaccard of surviving pairs is unchanged."""
    from datasketches_rust_spark.queries import q_ngram_jaccard_pairs

    boiler = "click here to subscribe now"
    rows = []
    # 20 docs sharing ONLY the boilerplate phrase (pairwise jaccard of
    # their full gram sets would be >= 0.5 because the docs are tiny)
    for i in range(20):
        rows.append((f"b{i:02d}", f"{boiler}"))
    # 2 identical docs with enough real content that the jaccard
    # survives the hot-gram drop: with G grams of which h are hot,
    # measured jaccard = (G-h)/(G+h) — 13 grams, 3 hot -> 10/16
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows.append(("r1", body + " " + boiler))
    rows.append(("r2", body + " " + boiler))
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(pdf).write.parquet(path)

    # cap below the boilerplate df (22) but above every real gram's df
    got = q_ngram_jaccard_pairs(spark, str(tmp_path), df_cap=5)
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    # sizes still count ALL grams; only the intersection loses the 3 hot
    # grams, so r1/r2 measure (13-3)/(13+13-10) = 0.625 >= 0.5 and pair.
    # Boilerplate-only docs never pair: their only shared grams are hot.
    assert pairs == {("r1", "r2")}


def test_event_funnel_bot_grain_completes_and_is_exact(spark, tmp_path):
    """The funnel's one risk at scale is a pathological (user, day) cell
    (bot traffic) inflating the collect_list; 20k events in ONE cell
    must still fold correctly — and the fold must pick the FIRST
    qualifying event of each stage, not any later one."""
    from datetime import datetime, timedelta

    from datasketches_rust_spark.queries import q_event_funnel_daily

    t0 = datetime(2024, 6, 1, 0, 0, 0)
    rows = []
    # bot: 20k alternating view/click events, purchase exactly once in
    # the middle; first view is event 0, first click-after-view event 1
    for i in range(20000):
        rows.append((7, t0 + timedelta(seconds=i),
                     "view" if i % 2 == 0 else "click"))
    rows.append((7, t0 + timedelta(seconds=10000, microseconds=500000),
                 "purchase"))
    # a normal user for contrast: view only
    rows.append((8, t0 + timedelta(hours=1), "view"))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    (row,) = q_event_funnel_daily(spark, str(tmp_path)).collect()
    assert str(row["day"]) == "2024-06-01"
    assert (row["n_viewed"], row["n_clicked"], row["n_purchased"]) \
        == (2, 1, 1)
