"""Plan hygiene audit: print formatted plans for the hot paths and check
the properties that matter at 100 TB:

- parquet scans show ReadSchema pruned to the used columns (the `bytes`
  column must NOT appear in any plan that doesn't decode it)
- filters are pushed (PushedFilters non-empty where a filter exists)
- broadcast joins where a side is small (dim tables, hot lists, queries)
- WholeStageCodegen spans around the JVM-side expressions

Usage: python tools/explain_plans.py [> PLANS.md]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"



def _n_nodes(plan: str, op: str) -> int:
    """Count physical nodes named ``op`` in the final (AQE) plan section —
    the formatted detail section repeats each node name, and AQE plans
    append an '== Initial Plan ==' section, so substring counts lie.
    On an EXECUTED plan the tree splits into '== Final Plan ==' /
    '== Initial Plan ==' and every numbered detail line sits after the
    Initial header — count tree nodes of the Final section instead."""
    if "== Final Plan ==" in plan:
        tree = (plan.split("== Final Plan ==")[1]
                .split("== Initial Plan ==")[0])
        return len(re.findall(rf"\b{op}\s+\(\d+\)", tree))
    return len(re.findall(rf"^\(\d+\) {op}\b",
                          plan.split("== Initial Plan ==")[0], re.M))

def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _id_below(plan: str, lower: str, upper: str) -> bool:
    """True when the first ``lower`` node has a smaller operator id than
    the first ``upper`` node (it sits below it in the scan-first
    numbering). A missing node fails the check instead of raising."""
    def first(op: str, missing: float) -> float:
        return min((int(m) for m in re.findall(rf"\((\d+)\) {op}", plan)),
                   default=missing)
    return first(lower, float("inf")) < first(upper, -1)


_PYTHON_NODES = ("EvalPython", "MapInArrow", "MapInPandas", "InPandas")


def _n_python_nodes(plan: str) -> int:
    """Count the Python nodes (UDF evaluation, map and grouped passes) in
    ``plan``, as ``_n_nodes`` counts one node name."""
    return sum(_n_nodes(plan, op) for op in (
        "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
        "FlatMapGroupsInPandas", "ArrowAggregatePython",
        "AggregateInPandas"))


def _python_under(plan: str, op: str) -> int:
    """Python nodes in the subtrees below every ``op`` node of ``plan``'s
    tree section (a node's subtree is the lines after it that sit
    further right)."""
    n, col = 0, None
    for line in plan.split("\n\n")[0].splitlines():
        at = re.search(r"\w", line)
        if at is None:
            continue
        if col is not None and at.start() <= col:
            col = None
        if col is None:
            if re.search(rf"\b{op} \(\d+\)", line):
                col = at.start()
        elif any(p in line for p in _PYTHON_NODES):
            n += 1
    return n


def _eval_types(plan: str) -> list[int]:
    """The eval type of every Python UDF node of ``plan`` (the last value
    of its Arguments line): 200/202 are pandas UDFs, 250/252 Arrow UDFs."""
    return [int(t) for t in re.findall(
        r"^\(\d+\) \w*(?:EvalPython|AggregatePython)\n"
        r"(?:.+\n)*?Arguments: .*, (\d+)$", plan, re.M)]


def _binary_into_python(df) -> list[str]:
    """Binary columns that a Python node of ``df``'s physical plan takes
    as input (its children's output), as "node: column"."""
    found, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        kids = [node.children().apply(i)
                for i in range(node.children().size())]
        if any(t in node.nodeName() for t in _PYTHON_NODES):
            for kid in kids:
                out = kid.output()
                for i in range(out.size()):
                    attr = out.apply(i)
                    if attr.dataType().typeName() == "binary":
                        found.append(f"{node.nodeName()}: {attr.name()}")
        stack += kids
    return found


def audit(name: str, df, checks: dict[str, bool],
          execute: bool = False) -> list[str]:
    if execute:
        df.collect()  # execute THIS query so AQE finalizes it
    plan = plan_of(df)
    failures = []
    print(f"\n{'=' * 70}\n## {name}\n{'=' * 70}")
    print(plan)
    for desc, ok in checks_eval(plan, checks).items():
        mark = "OK " if ok else "BAD"
        print(f"[{mark}] {desc}")
        if not ok:
            failures.append(f"{name}: {desc}")
    return failures


def checks_eval(plan: str, checks: dict[str, object]) -> dict[str, bool]:
    out = {}
    for desc, pred in checks.items():
        try:
            if callable(pred):
                out[desc] = bool(pred(plan))
            else:
                out[desc] = bool(re.search(pred, plan))
        except Exception as e:
            # a predicate that can't even evaluate (e.g. str.index on a
            # renamed node) is a FAILED check, not a crashed audit run —
            # but print the exception so a buggy PREDICATE is
            # distinguishable from a real plan regression
            out[desc] = False
            print(f"[predicate error] {desc}: {type(e).__name__}: {e}")
    return out


def main() -> None:
    from pyspark.sql import functions as F
    from datasketches_rust_spark.config import DedupConfig, spark_session
    from datasketches_rust_spark import queries as Q

    spark = spark_session("plan-audit", cpus=8, shuffle_partitions=8)
    cfg = DedupConfig()
    failures: list[str] = []

    # 1. signatures: bytes column must be pruned out of the image scan
    from datasketches_rust_spark.pipeline import minhash_signatures
    from datasketches_rust_spark.sources.images import images_spark_df
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = minhash_signatures(docs, cfg, "doc_id", "text")
    failures += audit("minhash_signatures (documents)", sigs, {
        "scan reads only doc_id+text (column pruning)":
            lambda p: re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", p),
        "one MapInArrow MinHash pass (no Python UDF node)":
            lambda p: _n_nodes(p, "MapInArrow") == 1
            and "EvalPython" not in p and "MapInPandas" not in p,
    })

    # 2. tpch_q1: pure whole-stage-codegen aggregation
    q1 = Q.q_tpch_q1(spark, SF_DIR)
    failures += audit("tpch_q1", q1, {
        "whole-stage codegen spans present": r"\[codegen id : \d+\]",
        "partial aggregation before exchange":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
        "column pruning (no l_orderkey etc)":
            lambda p: "l_orderkey" not in p,
    }, execute=True)

    # 3. filter pushdown check
    li_filtered = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
                   .where(F.col("l_returnflag") == "R")
                   .select("l_partkey"))
    failures += audit("filtered scan", li_filtered, {
        "PushedFilters contains l_returnflag":
            r"PushedFilters: \[.*l_returnflag.*\]",
        "ReadSchema pruned to 2 cols":
            r"ReadSchema: struct<l_partkey:bigint,l_returnflag:string>",
    })

    # 4. top_suppliers: broadcast join for the dim side
    ts = Q.q_top_suppliers_by_revenue(spark, SF_DIR)
    failures += audit("top_suppliers_by_revenue", ts, {
        "BroadcastHashJoin used": r"BroadcastHashJoin",
    })

    # 5. LSH candidate generation: one band exchange into one Arrow
    #    bucket pass (no window, no join anywhere in the candidate plan)
    from datasketches_rust_spark.operators.lsh import candidate_pairs
    cands = candidate_pairs(sigs, cfg, "doc_id")

    def _one_band_exchange(p: str) -> bool:
        # formatted plans print each node's Arguments; the band exchange
        # is the only REPARTITION_BY_COL and it carries (__id, band_key)
        return len(re.findall(
            r"Input \[2\]: \[__id#\d+L, band_key#\d+L\]\nArguments: "
            r"hashpartitioning\(band_key#\d+L, \d+\), REPARTITION_BY_COL",
            p)) == 1 == len(re.findall(r"REPARTITION_BY_COL", p))

    def _one_bucket_pass(p: str) -> bool:
        # two MapInArrow nodes: the MinHash scan pass under the bands
        # and one bucket pass, fed only (__id, band_key)
        return _n_nodes(p, "MapInArrow") == 2 and all(
            len(re.findall(rf"\(\d+\) MapInArrow\nInput \[2\]: {i}", p)) == 1
            for i in (r"\[__id#\d+L, band_key#\d+L\]",
                      r"\[doc_id#\d+L, __t#\d+\]"))

    failures += audit("lsh candidate_pairs", cands, {
        "exactly one band exchange (REPARTITION_BY_COL, __id + band_key)":
            _one_band_exchange,
        "one MapInArrow bucket pass over (__id, band_key) only, above "
        "the MinHash pass":
            _one_bucket_pass,
        "no Window (bucket sizes come from the pass's own sort)":
            lambda p: "Window" not in p,
        "no join in the candidate plan":
            lambda p: not re.search(r"SortMergeJoin|ShuffledHashJoin|"
                                    r"BroadcastHashJoin|NestedLoop", p),
    })

    # 5b. text edges as connected components reads them (id pairs only):
    #     the MinHash pass runs inside the candidate job, uncached, and
    #     the verify is the only Python UDF on the path
    from datasketches_rust_spark.pipeline import dedup_pairs
    tedges = dedup_pairs(docs, cfg, "doc_id", "text").select("id_a", "id_b")
    failures += audit("text edges (dedup_pairs)", tedges, {
        "no InMemoryTableScan (the signatures are not cached)":
            lambda p: "InMemoryTableScan" not in p,
        "no MapInPandas, and the one ArrowEvalPython is the verify over "
        "(__ta, __tb), not the text scan":
            lambda p: "MapInPandas" not in p
            and _n_nodes(p, "ArrowEvalPython") == 1
            and re.search(r"\(\d+\) ArrowEvalPython\nInput \[\d+\]: "
                          r"\[[^\]]*__ta#\d+, [^\]]*__tb#", p) is not None,
        "MinHash is one MapInArrow pass over (doc_id, __t)":
            lambda p: len(re.findall(
                r"\(\d+\) MapInArrow\nInput \[2\]: \[doc_id#\d+L, __t#\d+\]",
                p)) == 1,
    })

    # 6. image pipeline: bytes never read (phash column suffices). The
    #    visual edges are simhash_pairs over the fused sketch table, as
    #    image_edges runs them; the cached table's plan (and its scan's
    #    ReadSchema) prints inside the consumer's InMemoryRelation.
    imgs, _ = images_spark_df(spark, 500, seed=1, partitions=4)
    imgs_parquet = "/tmp/dsrs_plan_audit_images"
    imgs.write.mode("overwrite").parquet(imgs_parquet)
    stored = spark.read.parquet(imgs_parquet)
    from datasketches_rust_spark.operators.visual import simhash_pairs
    from datasketches_rust_spark.pipeline_images import image_sketch_table

    def _visual_edges(images):
        sk = image_sketch_table(images, cfg)
        return simhash_pairs(sk.select("image_id", "phash"), "image_id",
                             "phash", max_hamming=cfg.simhash_hamming)
    ve = _visual_edges(stored.drop("bytes", "fmt"))
    failures += audit("visual edges over image_sketch_table (stored phash)",
                      ve, {
        "bytes column pruned out of scan":
            lambda p: "bytes" not in p,
        "ReadSchema only image_id+caption+phash":
            r"ReadSchema: struct<image_id:string,caption:string,"
            r"phash:bigint>",
    })

    # 6b. north_star mode: phash DERIVED from pixels — bytes may appear in
    #     the scan + MapInArrow stage but must never reach a shuffle
    #     (only the 8-byte fingerprint shuffles)
    veb = _visual_edges(stored)

    def _bytes_never_shuffled(p: str) -> bool:
        # formatted plans list each Exchange node's Arguments with the
        # partitioning output; 'bytes' must not appear in any of them
        return not any("bytes" in ln for ln in p.splitlines()
                       if "Exchange" in ln or "Arguments: hashpartitioning"
                       in ln)
    failures += audit("visual edges over image_sketch_table "
                      "(phash from bytes)", veb, {
        "decode runs as MapInArrow in the scan stage":
            r"\(\d+\) MapInArrow\nInput \[\d+\]: \[[^\]]*bytes#",
        "bytes column never reaches an Exchange":
            _bytes_never_shuffled,
    })

    # 7. ann_lsh_topk: band join must shuffle ids only — the embedding
    #    vector may never appear in the same node output as band_key
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    from datasketches_rust_spark.operators.similarity import (
        ann_lsh_topk, cosine_pairs_lsh)
    ann = ann_lsh_topk(emb, k=3, nbits=24, num_bands=8, dim=64)

    def _no_vectors_below_band_join(p: str) -> bool:
        return not any("band_key" in ln and "embedding" in ln
                       for ln in p.splitlines())
    failures += audit("ann_lsh_topk", ann, {
        "no vector column below the band-join Exchange":
            _no_vectors_below_band_join,
        "no cross join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
    })

    # 7b. ann_ivf_topk: cell join must shuffle ids only, no cross join
    #     (the KMeans quantizer runs before this plan; candidates are an
    #     equi-join on the cell id)
    from datasketches_rust_spark.operators.similarity import (
        ann_ivf_topk, train_ivf_centroids)
    cents = train_ivf_centroids(emb.limit(200), nlist=4)
    ivf = ann_ivf_topk(emb.limit(200), k=3, nlist=4, nprobe=2,
                       centroids=cents)

    def _no_vectors_below_cell_join(p: str) -> bool:
        return not any("__cell" in ln and "embedding" in ln
                       for ln in p.splitlines())
    failures += audit("ann_ivf_topk", ivf, {
        "no vector column below the cell-join Exchange":
            _no_vectors_below_cell_join,
        "no cross join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
    })

    # 8. embedding_dup_pairs: LSH plan — no cross join anywhere
    edp = Q.q_embedding_dup_pairs(spark, SF_DIR)
    failures += audit("embedding_dup_pairs (lsh)", edp, {
        "no cross join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "id-only band join (no vector next to band_key)":
            _no_vectors_below_band_join,
    })

    # 9. lang_id: pure built-in expressions, no Python eval node; hit
    #    counts materialized once (two projections, not 16 split() calls)
    lid = Q.q_lang_id_counts(spark, SF_DIR)
    failures += audit("lang_id_counts", lid, {
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "whole-stage codegen": r"\[codegen id : \d+\]",
        "each language's split/filter evaluated once (4 total, not 16)":
            lambda p: p.split("== Initial Plan ==")[0]
            .count("split(lower") <= 4,
    }, execute=True)

    # 10. contamination_check: the eval-gram dim must broadcast (no
    #     shuffle of the exploded corpus grams for the join) and the
    #     whole query stays JVM-side
    cc = Q.q_contamination_check(spark, SF_DIR)
    failures += audit("contamination_check", cc, {
        "eval grams broadcast (BroadcastHashJoin)": r"BroadcastHashJoin",
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 11. props_json_stats: JSON extraction is JVM-side (GetJsonObject is
    #     CodegenFallback — no codegen span, by Spark design) with partial
    #     aggregation before the exchange and a pruned scan
    pj = Q.q_props_json_stats(spark, SF_DIR)
    failures += audit("props_json_stats", pj, {
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "partial aggregation before exchange":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
        "scan pruned to event_type+props":
            r"ReadSchema: struct<event_type:string,props:string>",
    })

    # 12. dedup_representatives: the rep-selection aggregate is a plain
    #     hash aggregate over cluster_id (no window sort of all members)
    dr = Q.q_dedup_representatives(spark, SF_DIR)
    failures += audit("dedup_representatives", dr, {
        "struct-max rep selection is a HashAggregate (no Window node)":
            lambda p: "Window" not in p,
    })

    # 13. event_sessions: both window passes and the distinct aggregate
    #     must share ONE hash-partitioning on user_id — a single Exchange
    #     in the whole plan, all JVM
    es = Q.q_event_sessions(spark, SF_DIR)
    failures += audit("event_sessions", es, {
        "single Exchange (windows + agg share the user_id partitioning)":
            lambda p: len(re.findall(
                r"^\(\d+\) Exchange", p.split("== Initial Plan ==")[0],
                re.M)) <= 1,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 14. repetition_flags: pure map — no exchange, no Python, one scan
    #     pruned to (doc_id, text)
    rf = Q.q_repetition_flags(spark, SF_DIR)
    failures += audit("repetition_flags", rf, {
        "shuffle-free (no Exchange — per-doc rules are a pure map)":
            lambda p: "Exchange" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "scan pruned to doc_id,text":
            lambda p: not re.search(r"ReadSchema:.*(source|lang|n_chars)",
                                    p),
    })

    # 15. tfidf_top_terms: the df vocab and the n_docs scalar join back
    #     via BROADCAST (never a shuffle on Zipf-skewed w)
    tt = Q.q_tfidf_top_terms(spark, SF_DIR)
    failures += audit("tfidf_top_terms", tt, {
        "vocab joins are broadcast (2+ BroadcastExchange)":
            lambda p: len(re.findall(r"BroadcastExchange", p)) >= 2,
        "no SortMergeJoin on w":
            lambda p: "SortMergeJoin" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 16. chunk_dedup_stats: shared-ness decided on the fp window — no
    #     join anywhere, only the fp exchange + the source aggregate's
    chs = Q.q_chunk_dedup_stats(spark, SF_DIR)
    failures += audit("chunk_dedup_stats", chs, {
        "no join (window min/max decides cross-doc sharing)":
            lambda p: "Join" not in p,
        "exactly 2 exchanges (fp window + source agg)":
            lambda p: len(re.findall(
                r"^\(\d+\) Exchange", p.split("== Initial Plan ==")[0],
                re.M)) <= 2,
        "text never shuffles (md5 fp computed below the exchange)":
            lambda p: not re.search(r"Exchange hashpartitioning\(.*text",
                                    p),
    })

    # 16b. chunk_dedup_clean: keep/drop decided by the struct-min window
    #      on the fp exchange (ids only); the corpus text crosses at most
    #      the one doc_id join for reconstruction
    chc = Q.q_chunk_dedup_clean(spark, SF_DIR)
    failures += audit("chunk_dedup_clean", chc, {
        "no self-join on fp (struct-min window decides canonical)":
            lambda p: not re.search(r"Join [^\n]*fp#", p),
        "text never in an exchange partition key":
            lambda p: not re.search(r"Exchange hashpartitioning\([^)]*text",
                                    p),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "at most 4 exchanges (fp window, drops agg, doc_id join sides)":
            lambda p: len(re.findall(
                r"^\(\d+\) Exchange", p.split("== Initial Plan ==")[0],
                re.M)) <= 4,
    })

    # 16c. source_profile: exact percentiles from the cumulative
    #      histogram over the (source, n_chars) AGGREGATE — the raw
    #      corpus never sorts; both joins are tiny-side broadcasts
    sprof = Q.q_source_profile(spark, SF_DIR)
    failures += audit("source_profile", sprof, {
        "both joins broadcast (2+ BroadcastExchange, no SortMergeJoin "
        "of the corpus)":
            lambda p: len(re.findall(r"BroadcastExchange", p)) >= 2,
        "every sort is above an aggregate (histogram walk, not a "
        "corpus sort): no Sort directly over a parquet scan":
            lambda p: not re.search(
                r"Sort [^\n]*\n[^\n]*Scan parquet", p),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "text never shuffles (word counts aggregated below exchanges)":
            lambda p: not re.search(r"Exchange hashpartitioning\([^)]*text",
                                    p),
    })

    # 16d. semantic_dedup: within-cell pairing through
    #      bucketed_pair_events — ids only below the cell exchange,
    #      vectors re-join once for the exact verify (explicit centroids
    #      so the audit doesn't train KMeans)
    import numpy as np
    from datasketches_rust_spark.operators.similarity import semantic_dedup
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sd = semantic_dedup(emb, threshold=0.45,
                        centroids=np.eye(4, 64, dtype=np.float64))
    failures += audit("semantic_dedup", sd, {
        "no cross join (cells scope all pairing)":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "embedding never in an exchange partition key":
            lambda p: not re.search(
                r"Exchange hashpartitioning\([^)]*embedding", p),
        "vectorized ArrowEvalPython only (no row-at-a-time BatchEval)":
            lambda p: "ArrowEvalPython" in p and "BatchEvalPython" not in p,
    })

    # 16e. customers_without_orders: anti join with the priority filter
    #      pushed into the orders scan
    aj = Q.q_customers_without_orders(spark, SF_DIR)
    failures += audit("customers_without_orders", aj, {
        "LeftAnti hash join (no BroadcastNestedLoopJoin)":
            lambda p: "LeftAnti" in p
            and "BroadcastNestedLoopJoin" not in p,
        "priority filter pushed to the orders parquet scan":
            lambda p: re.search(r"PushedFilters: \[[^\]]*1-URGENT", p),
    })

    # 16f. daily_revenue_moving_avg: frames run over the day aggregate —
    #      the orders table collapses in ONE partial-agg exchange first
    ma = Q.q_daily_revenue_moving_avg(spark, SF_DIR)
    failures += audit("daily_revenue_moving_avg", ma, {
        "window input is the day aggregate (HashAggregate below Window)":
            lambda p: "HashAggregate" in p and "Window" in p,
        "at most 2 exchanges (day agg + the single-partition window)":
            lambda p: len(re.findall(
                r"^\(\d+\) Exchange", p.split("== Initial Plan ==")[0],
                re.M)) <= 2,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 16g. tpch_q5_local_supplier: the 6-table join — dims broadcast,
    #      date filter pushed into the orders scan, fact columns pruned
    q5 = Q.q_tpch_q5_local_supplier(spark, SF_DIR)
    failures += audit("tpch_q5_local_supplier", q5, {
        "order-year filter pushed to the orders parquet scan":
            lambda p: re.search(r"PushedFilters: \[[^\]]*o_orderdate", p),
        "region/nation/supplier side is broadcast (>=2 BroadcastExchange)":
            lambda p: len(re.findall(r"BroadcastExchange", p)) >= 2,
        "no cartesian / nested-loop join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "lineitem scan pruned (unused measure columns absent)":
            lambda p: not re.search(r"ReadSchema:.*l_tax", p)
            and not re.search(r"ReadSchema:.*l_shipdate", p),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 16h. daily_gapfill_ffill: spine = broadcast literal days x tiny
    #      priority list; corpus work is ONE (priority, day) aggregate;
    #      ffill window runs over the spine, never raw orders
    gf = Q.q_daily_gapfill_ffill(spark, SF_DIR)
    failures += audit("daily_gapfill_ffill", gf, {
        "status filter pushed to the orders parquet scan":
            lambda p: re.search(r"PushedFilters: \[[^\]]*o_orderstatus", p),
        "ffill window present over the day-level rows":
            lambda p: "Window" in p,
        "calendar spine side is broadcast":
            lambda p: "BroadcastExchange" in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "orders scan pruned to the 3 used columns":
            lambda p: not re.search(r"ReadSchema:.*o_custkey", p),
    })

    # 16i. small_quantity_revenue: decorrelated Q17 — one per-part
    #      aggregate, equi-join back on l_partkey, fact side pruned
    sq = Q.q_small_quantity_revenue(spark, SF_DIR)
    failures += audit("small_quantity_revenue", sq, {
        "equi-join on l_partkey (no nested-loop / cartesian)":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "lineitem scans pruned (no flags/dates read)":
            lambda p: not re.search(r"ReadSchema:.*l_returnflag", p)
            and not re.search(r"ReadSchema:.*l_shipdate", p),
        "per-part aggregate below the join (HashAggregate present)":
            lambda p: "HashAggregate" in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 16j. skew_salted_segment_value: hot/cold routed union — hot-list
    #      tags are broadcast joins, the dim replication is a Generate
    #      (explode), and no branch degrades to a nested loop
    sk = Q.q_skew_salted_segment_value(spark, SF_DIR)
    failures += audit("skew_salted_segment_value", sk, {
        "hot-list tag joins are broadcast (>=2 BroadcastExchange)":
            lambda p: len(re.findall(r"BroadcastExchange", p)) >= 2,
        "dim side replicated via explode (Generate present)":
            lambda p: "Generate" in p,
        "hot+cold branches union": lambda p: "Union" in p,
        "no cartesian / nested-loop join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "events scan pruned (props/event_type not read)":
            lambda p: not re.search(r"ReadSchema:.*props", p)
            and not re.search(r"ReadSchema:.*event_type", p),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 16k. lineitem_corr_matrix: every moment in ONE pass — a single
    #      partial-agg exchange to one row, scan pruned to the 4
    #      measures, all arithmetic JVM-side
    cm = Q.q_lineitem_corr_matrix(spark, SF_DIR)
    failures += audit("lineitem_corr_matrix", cm, {
        "single exchange (one global moment aggregate)":
            lambda p: len(re.findall(
                r"^\(\d+\) Exchange", p.split("== Initial Plan ==")[0],
                re.M)) == 1,
        "partial aggregation before the exchange (map-side combine)":
            lambda p: re.search(r"(Hash|Sort|ObjectHash)Aggregate", p)
            .start() < p.index("Exchange"),
        "lineitem scan pruned to the 4 measure columns":
            lambda p: re.search(
                r"ReadSchema:.*l_quantity.*l_extendedprice.*l_discount"
                r".*l_tax", p) and "l_orderkey" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 17. balanced_sample: rates join back via BROADCAST; the corpus
    #     side is scan + map filter — no corpus-wide Exchange
    bs = Q.q_balanced_sample(spark, SF_DIR)
    failures += audit("balanced_sample", bs, {
        "rates/min join are broadcast (2+ BroadcastExchange)":
            lambda p: len(re.findall(r"BroadcastExchange", p)) >= 2,
        "no SortMergeJoin (corpus never shuffles on source)":
            lambda p: "SortMergeJoin" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "text column pruned from every scan (membership is id-hash)":
            lambda p: not re.search(r"ReadSchema:.*text", p),
    })

    # 18b. ngram_jaccard_pairs: df comes from a window on the ONE
    #      repartition('g') exchange both self-join sides reuse; doc
    #      sizes are a pure map (size of the distinct gram array) — no
    #      corpus-sized aggregate anywhere before the pair groupBy
    ng = Q.q_ngram_jaccard_pairs(spark, SF_DIR)
    failures += audit("ngram_jaccard_pairs", ng, {
        "exactly ONE exchange on g (window df + collect-and-pair both "
        "run on it; no self-join, no standalone df groupBy)":
            lambda p: len(re.findall(r"hashpartitioning\(g#", p)) == 1,
        "no join on g anywhere (pairs come from the JVM higher-order "
        "expression)":
            lambda p: not re.search(r"Join.*\[g#", p),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 18. sequence_pack_plan: ONE exchange on (source, shard); token
    #     counting below it — only 4 small columns ever shuffle
    sp = Q.q_sequence_pack_plan(spark, SF_DIR)
    failures += audit("sequence_pack_plan", sp, {
        "exactly 1 exchange (the (source,shard) window partition)":
            lambda p: len(re.findall(
                r"^\(\d+\) Exchange", p.split("== Initial Plan ==")[0],
                re.M)) == 1,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "text never shuffles (n_tokens computed below the exchange)":
            lambda p: not re.search(r"Exchange hashpartitioning\(.*text",
                                    p),
        "no double division (integer div/pmod only)":
            lambda p: "Divide" not in p,
    })

    # 19. containment_dup_pairs: same single-exchange discipline as
    #     ngram_jaccard_pairs (shared window-df + collect-and-pair)
    cp = Q.q_containment_dup_pairs(spark, SF_DIR)
    failures += audit("containment_dup_pairs", cp, {
        "exactly ONE exchange on g":
            lambda p: len(re.findall(r"hashpartitioning\(g#", p)) == 1,
        "no join on g anywhere":
            lambda p: not re.search(r"Join.*\[g#", p),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 20. event_funnel_daily: the sequential fold is JVM higher-order —
    #     one (user, day) exchange + the tiny day rollup, nothing else
    ef = Q.q_event_funnel_daily(spark, SF_DIR)
    failures += audit("event_funnel_daily", ef, {
        "at most 2 exchanges (grain groupBy + day rollup)":
            lambda p: len(re.findall(
                r"^\(\d+\) Exchange", p.split("== Initial Plan ==")[0],
                re.M)) <= 2,
        "event_type filter pushed to the scan":
            r"PushedFilters: \[.*event_type.*\]",
        "no Python UDF in the plan (fold is F.aggregate)":
            lambda p: "EvalPython" not in p,
    })

    # 21. dataset_snapshot_diff: fingerprint-first — the text column is
    #     md5'd below every exchange and never shuffles
    sd = Q.q_dataset_snapshot_diff(spark, SF_DIR)
    failures += audit("dataset_snapshot_diff", sd, {
        "text never reaches an exchange":
            lambda p: not re.search(
                r"Exchange hashpartitioning\([^)]*text", p),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 22. pii_redaction_stats: pure JVM regex map + one tiny aggregate
    # (regexp_count/regexp_extract_all stay interpreted-JVM — no codegen
    # span check; no-Python + single exchange are the scale claims)
    pii = Q.q_pii_redaction_stats(spark, SF_DIR)
    failures += audit("pii_redaction_stats", pii, {
        "partial aggregation before exchange":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "exactly 1 exchange (the per-source rollup)":
            lambda p: len(re.findall(
                r"^\(\d+\) Exchange", p.split("== Initial Plan ==")[0],
                re.M)) == 1,
    })

    # 23. orders_with_returns_semi: semi join keeps the build side at
    #     the join key; returnflag filter pushed into the lineitem scan
    sj = Q.q_orders_with_returns_semi(spark, SF_DIR)
    failures += audit("orders_with_returns_semi", sj, {
        "LeftSemi join in the plan": r"LeftSemi",
        "lineitem scan pruned to orderkey+returnflag":
            r"ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>",
        "returnflag filter pushed down":
            r"PushedFilters: \[.*l_returnflag.*\]",
    })

    # 24. mixture_sample_plan: the source-level plan broadcasts back to
    #     the corpus — application is a map filter, no corpus shuffle on
    #     source, no Python anywhere
    mx = Q.q_mixture_sample_plan(spark, SF_DIR)
    failures += audit("mixture_sample_plan", mx, {
        "plan/thresh joins are broadcast (2+ BroadcastExchange)":
            lambda p: len(re.findall(r"BroadcastExchange", p)) >= 2,
        "no SortMergeJoin (corpus never shuffles on source)":
            lambda p: "SortMergeJoin" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
        "text column pruned below every exchange (token counts are "
        "computed in the scan stage)":
            lambda p: not re.search(r"Exchange hashpartitioning\([^)]*text",
                                    p),
    })

    # 25. event_ohlc_daily: ONE exchange total (the day/type groupBy);
    #     open/close come from struct-min/max partial aggregates, never
    #     a per-group window sort
    ohlc = Q.q_event_ohlc_daily(spark, SF_DIR)
    failures += audit("event_ohlc_daily", ohlc, {
        "exactly one exchange (struct-argmin, no window)":
            lambda p: len(re.findall(
                r"^\(\d+\) Exchange", p.split("== Initial Plan ==")[0],
                re.M)) == 1,
        "no Window operator": lambda p: "Window" not in p,
        # struct min/max is not hash-aggregable, so Spark plans a
        # SortAggregate here — the partial (map-side) instance must
        # still sit below the exchange
        "partial aggregation before the exchange":
            lambda p: re.search(r"(Hash|Sort|ObjectHash)Aggregate", p)
            .start() < p.index("Exchange"),
        "props/user_id pruned from the events scan":
            lambda p: "props" not in p and "user_id" not in p,
    })

    # 26. event_outlier_counts: the 5-row stats table broadcasts back
    #     onto the fact scan — the fact table itself never shuffles
    outl = Q.q_event_outlier_counts(spark, SF_DIR)
    failures += audit("event_outlier_counts", outl, {
        "stats side is broadcast": r"BroadcastExchange",
        "no SortMergeJoin (fact never shuffles for the join)":
            lambda p: "SortMergeJoin" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 27. fuzzy_part_name_pairs: the Levenshtein self-join runs over the
    #     (name, n) AGGREGATE, so partial aggregation happens below the
    #     join on both sides; no Python
    fz = Q.q_fuzzy_part_name_pairs(spark, SF_DIR)
    failures += audit("fuzzy_part_name_pairs", fz, {
        # operator ids, not text positions: the formatted tree prints
        # the join (parent) BEFORE its aggregate children, but detail
        # ids number leaves lowest — "below the join" = smaller id
        "aggregate below the join (vocab-first discipline)":
            lambda p: _id_below(p, "HashAggregate", r"\w*HashJoin"),
        "levenshtein evaluated JVM-side (no Python)":
            lambda p: "EvalPython" not in p,
        "part scan pruned to p_name only":
            r"ReadSchema: struct<p_name:string>",
    })

    # 28. doc_char_entropy: shuffle-free pure map with codegen intact
    #     (the F.aggregate loop form keeps the stage under janino's
    #     64KB method limit — the straight-line form did not)
    ent = Q.q_doc_char_entropy(spark, SF_DIR)
    failures += audit("doc_char_entropy", ent, {
        "NO exchange anywhere (pure map)":
            lambda p: "Exchange" not in p,
        "whole-stage codegen spans present": r"\[codegen id : \d+\]",
        "scan pruned to doc_id+text":
            r"ReadSchema: struct<doc_id:bigint,text:string>",
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 32. scd2_user_versions: both window passes (lag change-detect,
    #     lead/row_number versioning) must share ONE exchange and ONE
    #     sort — the filter between them preserves ordering; scan
    #     pruned to the 4 changelog columns
    scd = Q.q_scd2_user_versions(spark, SF_DIR)
    failures += audit("scd2_user_versions", scd, {
        "exactly one hash exchange (shared by both window passes)":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "exactly one sort (second window reuses the first's order)":
            lambda p: len(re.findall(r"\(\d+\) Sort\b", p)) == 1,
        "scan pruned (value/props never read)":
            lambda p: "value" not in p and "props" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 33. scd2_daily_snapshot: the point-in-time interval match must be
    #     the as-of union+window (hash exchanges only), never an
    #     interval-containment join — no SortMergeJoin on a range, no
    #     CartesianProduct; the day grid is a broadcast nested loop
    #     (dimension-sized by construction) and that is the ONLY BNLJ
    snap = Q.q_scd2_daily_snapshot(spark, SF_DIR)
    failures += audit("scd2_daily_snapshot", snap, {
        "no CartesianProduct":
            lambda p: "CartesianProduct" not in p,
        "no SortMergeJoin (as-of replaces the interval join)":
            lambda p: "SortMergeJoin" not in p,
        "day-grid cross is the only BNLJ":
            lambda p: _n_nodes(p, "BroadcastNestedLoopJoin") == 1,
        "as-of carry is a window, not a join":
            lambda p: re.search(r"\(\d+\) Window\b", p) is not None,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 34. sales_grouping_sets: one Expand pass + partial agg below a
    #     single exchange — never three scans / a UNION ALL of GROUP BYs
    gsets = Q.q_sales_grouping_sets(spark, SF_DIR)
    failures += audit("sales_grouping_sets", gsets, {
        "single Expand (one pass, 3 set shapes map-side)":
            lambda p: len(re.findall(r"\(\d+\) Expand\b", p)) == 1,
        "orders scanned exactly once":
            lambda p: _n_nodes(p, "Scan parquet") == 1,
        "partial agg below one exchange":
            lambda p: _n_nodes(p, "Exchange") == 1
            and _n_nodes(p, "HashAggregate") >= 2,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 35. ranked_event_days: the dense_rank window runs over the
    #     (type x day) AGGREGATE — aggregate exchange + window exchange
    #     and nothing else; the raw fact table is never window-sorted
    rk = Q.q_ranked_event_days(spark, SF_DIR)
    failures += audit("ranked_event_days", rk, {
        "two exchanges total (day agg, then type window)":
            lambda p: _n_nodes(p, "Exchange") == 2,
        "partial aggregation below the window": r"HashAggregate",
        "window present": lambda p:
            re.search(r"\(\d+\) Window\b", p) is not None,
        "scan pruned to ts+event_type+value":
            lambda p: "props" not in p and "user_id" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 36. zorder_layout_plan: the zonemap report is one pruned 2-col
    #     scan + one map-side-combined aggregate over <=64 file groups;
    #     the Morton interleave stays inside whole-stage codegen
    zp = Q.q_zorder_layout_plan(spark, SF_DIR)
    failures += audit("zorder_layout_plan", zp, {
        "exactly one exchange (the <=64-group agg)":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "partial aggregation below the exchange":
            lambda p: _n_nodes(p, "HashAggregate") >= 2,
        "scan pruned to the two z-order keys":
            lambda p: re.search(
                r"ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>", p),
        "interleave is codegen'd (no Python UDF)":
            lambda p: "EvalPython" not in p
            and re.search(r"\[codegen id : \d+\]", p),
    }, execute=True)

    # 37. order_percentiles_daily: one exchange + one sort shared by all
    #     three rank-family windows (same partition/order spec), scan
    #     pruned to the 3 used columns
    op = Q.q_order_percentiles_daily(spark, SF_DIR)
    failures += audit("order_percentiles_daily", op, {
        "exactly one exchange (one window partition spec)":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "exactly one sort (all three windows share the spec)":
            lambda p: len(re.findall(r"\(\d+\) Sort\b", p)) == 1,
        "single Window node computes all three functions":
            lambda p: len(re.findall(r"\(\d+\) Window\b", p)) == 1,
        "scan pruned (o_custkey/o_orderstatus never read)":
            lambda p: "o_custkey" not in p and "o_orderstatus" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 38. weighted_sample_topk: the rank-limit window must be planned as
    #     WindowGroupLimit with a PARTIAL pass below the stratum exchange
    #     (map-side top-K pruning — the property that makes a window
    #     formulation safe on a corpus-sized table), one exchange total,
    #     scan pruned to the 3 used columns, all-JVM
    ws = Q.q_weighted_sample_topk(spark, SF_DIR)
    failures += audit("weighted_sample_topk", ws, {
        "WindowGroupLimit Partial below the exchange (map-side top-K)":
            lambda p: re.search(
                r"row_number\(\), 20, Partial", p) is not None,
        "WindowGroupLimit Final after the exchange":
            lambda p: re.search(
                r"row_number\(\), 20, Final", p) is not None,
        "exactly one exchange (the stratum partition)":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "weight filter pushed into the scan":
            r"PushedFilters: \[.*GreaterThan\(n_chars,0\)",
        "scan pruned to doc_id+source+n_chars (text never read)":
            r"ReadSchema: struct<doc_id:bigint,source:string,"
            r"n_chars:bigint>",
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 39. tpch_q3_unshipped: global top-k must plan as
    #     TakeOrderedAndProject (per-partition heaps), never a global
    #     sort of the aggregate; both date filters pushed into the scans
    q3 = Q.q_tpch_q3_unshipped(spark, SF_DIR)
    failures += audit("tpch_q3_unshipped", q3, {
        "TakeOrderedAndProject (heap top-k, no global sort)":
            lambda p: "TakeOrderedAndProject" in p
            and not re.search(r"\(\d+\) Sort\b[\s\S]*?"
                              r"Arguments: \[[^\]]*\], true, 0", p),
        "orderdate filter pushed into orders scan":
            r"PushedFilters: \[.*LessThan\(o_orderdate",
        "shipdate filter pushed into lineitem scan":
            r"PushedFilters: \[.*GreaterThan\(l_shipdate",
        "partial aggregation before the group exchange":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
    })

    # 40. stable_row_ids: the distributed row_number must window on
    #     __bucket (corpus exchange on bucket only) with NO global sort
    #     — the single-partition ORDER BY window is the hazard this
    #     operator exists to avoid
    sri = Q.q_stable_row_ids(spark, SF_DIR)
    failures += audit("stable_row_ids", sri, {
        "window exchange partitions by __bucket":
            r"hashpartitioning\(__bucket#\d+L",
        "no global sort anywhere in the plan":
            lambda p: not re.search(r"\(\d+\) Sort\b[\s\S]*?"
                                    r"Arguments: \[[^\]]*\], true, 0", p),
        "corpus scan pruned to doc_id+n_chars (text never read)":
            r"ReadSchema: struct<doc_id:bigint,n_chars:bigint>",
        "bucket offsets broadcast back (no second corpus exchange)":
            lambda p: "BroadcastHashJoin" in p
            and re.search(r"Left keys \[1\]: \[__bucket#\d+L\]", p),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 41. linear_quality_scores: the weight vector broadcasts as one row
    #     and scoring is a JVM fold — the corpus side must never shuffle
    lq = Q.q_linear_quality_scores(spark, SF_DIR)
    failures += audit("linear_quality_scores", lq, {
        "weights join is a broadcast (one-row build side)":
            r"BroadcastNestedLoopJoin|BroadcastHashJoin",
        "corpus rows never hash-shuffle (no doc-keyed exchange)":
            lambda p: not re.search(r"hashpartitioning\(doc_id", p),
        "corpus scan pruned to doc_id+text":
            r"ReadSchema: struct<doc_id:bigint,text:string>",
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 42. label_centroids: posexplode -> (label, pos) aggregate must
    #     partial-combine below its single exchange (the property that
    #     bounds the shuffle at labels x dim rows)
    lc = Q.q_label_centroids(spark, SF_DIR)
    failures += audit("label_centroids", lc, {
        "partial aggregation below the exchange":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
        "exactly one exchange":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "scan pruned to label+embedding (vec_id never read)":
            lambda p: "vec_id" not in p,
    })

    # 43. event_twap_daily: the lead() window and the day aggregate must
    #     share ONE (type, day) exchange — the event_sessions discipline
    tw = Q.q_event_twap_daily(spark, SF_DIR)
    failures += audit("event_twap_daily", tw, {
        "exactly one exchange (window + aggregate share keys)":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "aggregate runs directly on the window output (no re-shuffle)":
            lambda p: _n_nodes(p, "HashAggregate") == 2,
        "scan pruned (props/user_id never read)":
            lambda p: "props" not in p and "user_id" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 44. search_documents: with query terms known, per-doc tf is a
    #     row-local JVM expression — the corpus must never shuffle;
    #     the only non-scan operator is the TakeOrderedAndProject top-k
    sd = Q.q_search_documents(spark, SF_DIR)
    failures += audit("search_documents", sd, {
        "zero exchanges (corpus never shuffled)":
            lambda p: _n_nodes(p, "Exchange") == 0,
        "global top-k is TakeOrderedAndProject (heap, no sort)":
            lambda p: "TakeOrderedAndProject" in p
            and not re.search(r"\(\d+\) Sort\b", p),
        "scan pruned to doc_id+text":
            r"ReadSchema: struct<doc_id:bigint,text:string>",
        "no Python UDF (size/filter are JVM higher-order fns)":
            lambda p: "EvalPython" not in p,
    })

    # 45. ab_experiment_report: the only corpus exchange is the per-user
    #     aggregate; arm assignment is an expression (no join anywhere);
    #     both final aggregates partial-combine
    ab = Q.q_ab_experiment_report(spark, SF_DIR)
    failures += audit("ab_experiment_report", ab, {
        "exactly two exchanges (user agg + 1-row final agg)":
            lambda p: _n_nodes(p, "Exchange") == 2,
        "no join in the plan (assignment is an expression)":
            lambda p: "Join" not in p,
        "scan pruned (props/event_id never read)":
            lambda p: "props" not in p and "event_id" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 46. market_basket_pairs: both marginal joins + the n_baskets
    #     scalar must broadcast; the basket self-join must be a
    #     SortMergeJoin/ShuffledHashJoin on orderkey (never BNLJ)
    mb = Q.q_market_basket_pairs(spark, SF_DIR)
    failures += audit("market_basket_pairs", mb, {
        "marginal joins broadcast (>=2 BroadcastHashJoin)":
            lambda p: len(re.findall(
                r"\(\d+\) BroadcastHashJoin", p)) >= 2,
        "no BNLJ except the 1-row scalar crossJoin":
            lambda p: len(re.findall(
                r"\(\d+\) BroadcastNestedLoopJoin", p)) <= 1,
        "pair self-join is an equi HASH join with pk< as residual "
        "(AQE broadcasts the small side at sf0.01; fact-sized baskets "
        "fall back to SMJ on the same orderkey key — never a BNLJ)":
            lambda p: re.search(
                r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastHashJoin)[\s\S]{0,400}?"
                r"Join condition: \(l_partkey#\d+L? < l_partkey", p)
            is not None,
        "scan pruned to orderkey+partkey":
            r"ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>",
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 47. wau_daily: corpus collapses to the (user, day) distinct before
    #     the x7 explode; the observed-days restriction is a broadcast
    #     semi join; no window, no sort
    wu = Q.q_wau_daily(spark, SF_DIR)
    failures += audit("wau_daily", wu, {
        "days-restriction is a broadcast LEFT SEMI":
            lambda p: re.search(
                r"BroadcastHashJoin .*LeftSemi|LeftSemi, BuildRight", p)
            is not None,
        "partial distinct below the (user,day) exchange":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
        "no sort anywhere (aggregation-only shape)":
            lambda p: not re.search(r"\(\d+\) Sort\b", p),
        "scan pruned to ts+user_id":
            lambda p: "props" not in p and "event_type" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 48. audio_edges: bytes must never reach a shuffle (only the 8-byte
    #     fingerprint rides the band exchange) and the 256-byte feature
    #     vectors must not ride it either — they join back to the
    #     id-pair survivors above (the ANN vectors-rejoin-once pattern)
    from datasketches_rust_spark.pipeline_audio import (audio_edges,
                                                        audio_sketch_table)
    from datasketches_rust_spark.sources.audio import audio_spark_df
    aclips, _ = audio_spark_df(spark, 300, seed=1, partitions=4)
    ask = audio_sketch_table(aclips)
    ae = audio_edges(ask)

    def _never_shuffled(col):
        def chk(p):
            return not any(col in ln for ln in p.splitlines()
                           if "Exchange" in ln
                           or "Arguments: hashpartitioning" in ln)
        return chk

    failures += audit("audio_edges", ae, {
        "bytes never in any exchange": _never_shuffled("bytes"),
        "feat not on the band_key exchange":
            lambda p: not any(
                "feat" in ln for ln in p.splitlines()
                if "hashpartitioning(band_key" in ln),
        "verify dot product is JVM (no Python above the sketch cache)":
            lambda p: "ArrowEvalPython" not in p.split(
                "InMemoryRelation")[0],
        "sketch table served from cache (decode ran once)":
            lambda p: "InMemoryTableScan" in p,
    })

    # 49. video_edges: bytes die at the frame-sketch scan (never in any
    #     exchange); decode+phash runs in one node, and each frame's
    #     (video, frame_idx) rides the band exchange as simhash_pairs'
    #     payload, so no join maps frame ids back to videos
    from datasketches_rust_spark.pipeline_video import video_edges
    from datasketches_rust_spark.sources.video import video_spark_df
    vvids, _ = video_spark_df(spark, 200, seed=1, partitions=4)
    vv = video_edges(
        vvids.withColumn("__lid", F.xxhash64(F.col("video_id")))
        .select("__lid", "bytes"), "__lid")
    failures += audit("video_edges", vv, {
        "bytes never in any exchange": _never_shuffled("bytes"),
        "one frame-decode node (MapInArrow over the bytes)":
            lambda p: len(re.findall(r"^Input \[\d+\]: \[__vid#\d+L, __b#",
                                     p, re.M)) == 1,
        "no join keyed on __fid (no join at all)":
            lambda p: "Join" not in p,
        "temporal vote is an aggregate (count_distinct of frames)":
            lambda p: "count(distinct" in p.lower()
            or "HashAggregate" in p,
    })

# 50. new round-3 classes: the geo grid join must be a hash equi-join
    #     on the cell key (never BroadcastNestedLoop/cartesian — the
    #     whole point of grid blocking); target encoding's segment
    #     stats must broadcast back (no second corpus shuffle); the
    #     in-flight sweep collapses the corpus BEFORE the cumsum (the
    #     window runs on the day table, after aggregation).
    geo = Q.q_geo_nearby_customers(spark, SF_DIR)
    failures += audit("geo_nearby_customers", geo, {
        "no BroadcastNestedLoopJoin": lambda p: "BroadcastNestedLoop" not in p,
        "no CartesianProduct": lambda p: "CartesianProduct" not in p,
        # partial+final pair = map-side combine on the neighbor counts
        "two-phase aggregation (map-side partial present)":
            lambda p: len(re.findall(r"\bHashAggregate \(\d+\)", p)) >= 2,
    })
    te = Q.q_mkt_target_encoding(spark, SF_DIR)
    failures += audit("mkt_target_encoding", te, {
        "segment stats broadcast back": r"BroadcastHashJoin",
    })
    infl = Q.q_orders_in_flight_daily(spark, SF_DIR)
    failures += audit("orders_in_flight_daily", infl, {
        # tree prints root-first: the Window ABOVE the delta aggregate
        # means the cumsum consumes the calendar-bounded aggregate,
        # not corpus rows
        "window consumes the aggregated day table":
            lambda p: p.index("Window") < p.index("HashAggregate"),
        "single Window (one cumsum, no per-order sort)":
            lambda p: _n_nodes(p, "Window") == 1,
    })

    # 51. round-4: the 8 formerly-global-window rank queries (r3 verdict
    #     "What's wrong #2") now run on operators/bucketed_rank.py —
    #     every corpus-proportional window must partition by __bucket,
    #     engine ntile (whose plan is an unpartitioned window) must be
    #     gone, no global sort anywhere, and the only SinglePartition
    #     exchanges left are the <=64-row bucket-offset windows and
    #     scalar min/max/total aggregates (count-bounded per query so a
    #     regression to a corpus-sized single-reducer stage trips the
    #     audit).
    def bucketed_rank_checks(max_single: int):
        return {
            "corpus window exchange is bucket-keyed":
                r"hashpartitioning\([^)]*__bucket#\d+L",
            "no engine ntile (single-reducer plan) anywhere":
                lambda p: "ntile(" not in p,
            "no global sort anywhere in the plan":
                lambda p: not re.search(r"\(\d+\) Sort\b[\s\S]*?"
                                        r"Arguments: \[[^\]]*\], true, 0",
                                        p),
            f"single-partition exchanges bounded (<= {max_single}: "
            "offset windows + scalar aggs only)":
                lambda p: p.count("Exchange SinglePartition")
                <= max_single,
        }

    for name, fn, max_single in [
        # offsets window + min/max agg + total agg
        ("abc_parts_by_revenue", Q.q_abc_parts_by_revenue, 4),
        # offsets window + min/max agg + n agg
        ("order_value_lift_table", Q.q_order_value_lift_table, 4),
        # 3 x (offsets window + min/max agg) + shared n agg
        ("customer_rfm_segments", Q.q_customer_rfm_segments, 8),
        # offsets window + min/max agg + n agg
        ("winsorized_order_values", Q.q_winsorized_order_values, 4),
        # global side + per-seg side (grouped mm joins, offset windows)
        ("quantile_normalized_orders",
         Q.q_quantile_normalized_orders, 6),
        # per-bucket-max prefix window + min/max agg
        ("order_skyline", Q.q_order_skyline, 3),
        # per-seg bucketed rank (grouped mm: no SinglePartition mm agg)
        ("segment_qq_table", Q.q_segment_qq_table, 4),
        # offsets window + min/max agg + final 1-row aggregate
        ("gini_revenue_concentration",
         Q.q_gini_revenue_concentration, 4),
        # r4: the threshold-table ECDF cumsums are bucketed too
        # (offsets window + min/max agg + n1/n2 agg + struct-max agg)
        ("two_sample_ks", Q.q_two_sample_ks, 5),
    ]:
        failures += audit(name, fn(spark, SF_DIR),
                          bucketed_rank_checks(max_single))

    # 52. round-5: the r4 analytics families (r4 verdict "What's wrong
    #     #1" — the audit is the mechanism that keeps these shapes
    #     under refactoring).

    # kaplan_meier_retention: the corpus collapses in ONE customer
    # aggregate; every window/fold after that runs on the
    # duration-bounded term table (calendar-span rows), so the
    # single-partition exchanges are bounded and the slice-fold is JVM
    km = Q.q_kaplan_meier_retention(spark, SF_DIR)
    failures += audit("kaplan_meier_retention", km, {
        # operator ids, not text positions: ids number leaves lowest,
        # so the partial (map-side) aggregate below the first exchange
        # has a smaller id — the scan(1)->HashAgg(2)->Exchange(3) chain
        "corpus collapses map-side (partial agg below the exchange)":
            lambda p: _id_below(p, "HashAggregate", "Exchange"),
        "orders scan pruned to custkey+orderdate":
            lambda p: "o_totalprice" not in p and "o_orderstatus"
            not in p,
        "term fold is JVM (no Python UDF)":
            lambda p: "EvalPython" not in p,
        "single-partition exchanges bounded (<=4: scalar max/total "
        "aggs + the duration-bounded term window)":
            lambda p: p.count("Exchange SinglePartition") <= 4,
    })

    # sla_business_days: per-order ship aggregate partial-combines on
    # the co-keyed join; the weekday count is a JVM sequence/filter
    sla = Q.q_sla_business_days(spark, SF_DIR)
    failures += audit("sla_business_days", sla, {
        "per-order ship agg partial-combines (>=2 HashAggregate)":
            lambda p: len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2,
        "equi join only (no cartesian / nested loop)":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "lineitem scan pruned to orderkey+shipdate":
            lambda p: not re.search(r"ReadSchema:.*l_extendedprice", p)
            and not re.search(r"ReadSchema:.*l_quantity", p),
        "business-day arithmetic is JVM (no Python UDF)":
            lambda p: "EvalPython" not in p,
    })

    # two_sample_cvm / mann_whitney_auc: the whole statistic folds off
    # the VALUE-bounded count aggregate (never a row-level rank
    # table); cumsums run on the bucketed rank decomposition
    for name, fn, max_single in [
        # offsets window + min/max agg + n1/n2 totals + final agg
        ("two_sample_cvm", Q.q_two_sample_cvm, 5),
        # offsets window + min/max agg + totals + final agg
        ("mann_whitney_auc", Q.q_mann_whitney_auc, 5),
        # per-brand bucketed cumw: brand-keyed exchanges, no
        # single-reducer stage beyond the bounded offset windows
        ("weighted_median_price", Q.q_weighted_median_price, 3),
    ]:
        checks = bucketed_rank_checks(max_single)
        checks["value-bounded aggregate below the rank machinery "
               "(partial HashAggregate present)"] = (
            lambda p: len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2)
        failures += audit(name, fn(spark, SF_DIR), checks)

    # dup_graph_kcore: the returned degree table reads the FINAL
    # checkpointed frontier (ScanExistingRDD — plan depth bounded, the
    # peel loop's joins never accumulate), one exchange for the degree
    # aggregate. Constructing the df runs the peel loop (sf0.01: fast).
    kc = Q.q_dup_graph_kcore(spark, SF_DIR)
    failures += audit("dup_graph_kcore", kc, {
        "final aggregate reads the checkpointed frontier "
        "(ExistingRDD scan, not an accumulated join tree)":
            lambda p: "ExistingRDD" in p,
        "exactly one exchange (the degree aggregate)":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "partial aggregation below the exchange":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
    })

    # region_hhi_concentration: snowflake broadcast chain
    # (nation+region build sides), window over the nation-bounded
    # share table
    hhi = Q.q_region_hhi_concentration(spark, SF_DIR)
    failures += audit("region_hhi_concentration", hhi, {
        "nation+region dims broadcast (>=2 BroadcastExchange)":
            lambda p: len(re.findall(r"BroadcastExchange", p)) >= 2,
        "corpus collapses map-side (partial agg below the exchange)":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
        "share window runs over the nation-bounded aggregate":
            lambda p: re.search(r"\(\d+\) Window\b", p) is not None,
        "no cartesian / nested-loop join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
    })

    # embedding_drift_report: posexplode -> ONE dim-bounded
    # map-side-combined aggregate; nothing else shuffles
    edr = Q.q_embedding_drift_report(spark, SF_DIR)
    failures += audit("embedding_drift_report", edr, {
        "exactly one exchange (the dim-keyed aggregate)":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "partial aggregation below the exchange (map-side combine)":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
        "posexplode is a Generate (JVM)": lambda p: "Generate" in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # dup_pair_evidence: the exploded shingle table is PRUNED to docs
    # named in verified pairs BEFORE the gram join — the doc_id prune
    # join must sit below (smaller operator id than) the g-keyed pair
    # join, so evidence costs pairs x set size, never a corpus
    # self-join
    dpe = Q.q_dup_pair_evidence(spark, SF_DIR)

    def _prune_below_gram_join(p: str) -> bool:
        joins = re.findall(
            r"\((\d+)\) (?:SortMergeJoin|BroadcastHashJoin|"
            r"ShuffledHashJoin)[^\n]*\nLeft keys \[\d+\]: "
            r"\[([^\]]*)\]", p)
        gram = [int(i) for i, keys in joins if "g#" in keys
                or "g_b#" in keys]
        prune = [int(i) for i, keys in joins if "doc_id#" in keys]
        return bool(gram) and bool(prune) and min(prune) < min(gram)
    failures += audit("dup_pair_evidence", dpe, {
        "doc_id prune joins below the gram join (ids-first rejoin)":
            _prune_below_gram_join,
        "no cartesian / nested-loop join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "vectorized ArrowEvalPython only (the minhash scan; "
        "no row-at-a-time BatchEval)":
            lambda p: "BatchEvalPython" not in p,
    })

    # 53. round-5: the new TPC-H five — pushdown / broadcast / one-pass
    #     conditional-aggregate shapes
    q12 = Q.q_tpch_q12_priority_by_flag(spark, SF_DIR)
    failures += audit("tpch_q12_priority_by_flag", q12, {
        "ONE conditional-aggregate pass (no Union of filtered scans)":
            lambda p: "Union" not in p,
        "partial aggregation before the group exchange":
            lambda p: p.index("HashAggregate") < p.index("Exchange"),
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    q14 = Q.q_tpch_q14_promo_revenue(spark, SF_DIR)
    failures += audit("tpch_q14_promo_revenue", q14, {
        "part dimension broadcasts": r"BroadcastHashJoin",
        "numerator+denominator in ONE pass (no Union)":
            lambda p: "Union" not in p,
        "lineitem scan pruned (quantity/tax never read)":
            lambda p: "l_quantity" not in p and "l_tax" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    q16 = Q.q_tpch_q16_part_supplier_counts(spark, SF_DIR)
    failures += audit("tpch_q16_part_supplier_counts", q16, {
        "complaint exclusion is a broadcast ANTI join":
            lambda p: "LeftAnti" in p,
        "brand exclusion pushed into the part scan":
            lambda p: re.search(
                r"PushedFilters: \[[^\]]*p_brand", p) is not None,
        "acctbal filter pushed into the supplier scan":
            lambda p: re.search(
                r"PushedFilters: \[[^\]]*s_acctbal", p) is not None,
        "pair relation dedups map-side (partial distinct agg)":
            lambda p: len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2,
        "no cartesian / nested-loop join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
    })

    q19 = Q.q_tpch_q19_disjunctive_revenue(spark, SF_DIR)
    failures += audit("tpch_q19_disjunctive_revenue", q19, {
        "part dimension broadcasts": r"BroadcastHashJoin",
        "OR evaluates in ONE pass (no Union of three scans)":
            lambda p: "Union" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    q22 = Q.q_tpch_q22_idle_rich_customers(spark, SF_DIR)
    failures += audit("tpch_q22_idle_rich_customers", q22, {
        "global average is ONE broadcast scalar (<=1 BNLJ)":
            lambda p: _n_nodes(p, "BroadcastNestedLoopJoin") <= 1,
        "no-URGENT-orders is an ANTI join": lambda p: "LeftAnti" in p,
        "URGENT filter pushed into the orders scan":
            lambda p: re.search(
                r"PushedFilters: \[[^\]]*o_orderpriority", p)
            is not None,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 54. round-5 additions: fold/backtest/provenance/readability +
    #     the dedup tuning pair
    ew = Q.q_ewma_daily_revenue(spark, SF_DIR)
    failures += audit("ewma_daily_revenue", ew, {
        "corpus collapses map-side (partial agg below the exchange)":
            lambda p: _id_below(p, "HashAggregate", "Exchange"),
        "term array broadcast back (1-row build side)":
            lambda p: "BroadcastNestedLoopJoin" in p
            or "BroadcastExchange" in p,
        "fold is JVM (no Python UDF)":
            lambda p: "EvalPython" not in p,
    })

    fb = Q.q_forecast_backtest_naive7(spark, SF_DIR)
    failures += audit("forecast_backtest_naive7", fb, {
        "lag joins run on the aggregated day table (no corpus "
        "self-join: partial agg below every join by operator id)":
            lambda p: _id_below(p, "HashAggregate", "(?:SortMergeJoin|"
                                 "BroadcastHashJoin|ShuffledHashJoin)"),
        "no cartesian / nested-loop join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    rb = Q.q_readability_by_source(spark, SF_DIR)
    failures += audit("readability_by_source", rb, {
        "exactly one exchange (the source rollup)":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "partial aggregation below the exchange":
            lambda p: _id_below(p, "HashAggregate", "Exchange"),
        "regex counts are JVM (no Python UDF)":
            lambda p: "EvalPython" not in p,
        "text never shuffles (counts computed in the scan stage)":
            lambda p: not re.search(
                r"Exchange hashpartitioning\([^)]*text", p),
    })

    sh = Q.q_shingle_df_histogram(spark, SF_DIR)
    failures += audit("shingle_df_histogram", sh, {
        "gram df aggregate partial-combines (HashAggregate >= 2)":
            lambda p: len(re.findall(r"\(\d+\) HashAggregate", p)) >= 4,
        "no join anywhere (explode -> two aggregates)":
            lambda p: "Join" not in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    so = Q.q_source_overlap_matrix(spark, SF_DIR)
    failures += audit("source_overlap_matrix", so, {
        "no cartesian / nested-loop join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "vectorized ArrowEvalPython only (the minhash scan)":
            lambda p: "BatchEvalPython" not in p,
    })

    ts = Q.q_dedup_threshold_sensitivity(spark, SF_DIR)
    failures += audit("dedup_threshold_sensitivity", ts, {
        "doc_id prune joins below the gram join (shared evidence "
        "prune)": _prune_below_gram_join,
        "no cartesian / nested-loop join":
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p,
        "vectorized ArrowEvalPython only":
            lambda p: "BatchEvalPython" not in p,
    })

    # 55. round-5 late additions: Holt double fold + autocorrelation
    hl = Q.q_holt_linear_daily(spark, SF_DIR)
    failures += audit("holt_linear_daily", hl, {
        "corpus collapses map-side (partial agg below the exchange)":
            lambda p: _id_below(p, "HashAggregate", "Exchange"),
        "struct-accumulator fold is JVM (no Python UDF)":
            lambda p: "EvalPython" not in p,
    })

    ac = Q.q_revenue_autocorr(spark, SF_DIR)
    failures += audit("revenue_autocorr", ac, {
        "lag joins run on the aggregated day table (partial agg "
        "below every join by operator id)":
            lambda p: _id_below(p, "HashAggregate", "(?:SortMergeJoin|"
                                 "BroadcastHashJoin|ShuffledHashJoin)"),
        "lags dimension broadcasts":
            lambda p: "BroadcastExchange" in p
            or "BroadcastNestedLoopJoin" in p,
        "no Python UDF in the plan":
            lambda p: "EvalPython" not in p,
    })

    # 56. sketch aggregates: one Python pass on each side of one exchange
    #     (no Sort, no per-group pandas node); probes close over the
    #     collected blob instead of joining it onto every probe row
    from datasketches_rust_spark import agg
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    est = agg.estimate_udf("theta", as_long=True)
    glob = agg.sketch_agg(li, [], "l_partkey", "theta", lg_k=16)
    failures += audit("sketch_agg (global theta)",
                      glob.select(est("sketch")), {
        "one exchange, to a single partition":
            lambda p: _n_nodes(p, "Exchange") == 1
            and "Arguments: SinglePartition" in p,
        "no Sort, no FlatMapGroupsInPandas":
            lambda p: _n_nodes(p, "Sort") == 0
            and "FlatMapGroupsInPandas" not in p,
        "partial and merge are one MapInArrow pass each":
            lambda p: _n_nodes(p, "MapInArrow") == 2,
    })
    grp = agg.sketch_agg(li, ["l_returnflag"], "l_partkey", "theta",
                         lg_k=16)
    failures += audit("sketch_agg (grouped theta)",
                      grp.select("l_returnflag", est("sketch")), {
        "one exchange, hash-partitioned on the key":
            lambda p: _n_nodes(p, "Exchange") == 1
            and re.search(r"hashpartitioning\(l_returnflag#\d+", p),
        "no Sort, no FlatMapGroupsInPandas":
            lambda p: _n_nodes(p, "Sort") == 0
            and "FlatMapGroupsInPandas" not in p,
    })
    for name in ("bloom_semijoin_parts", "contamination_check_bloom"):
        df = Q.QUERIES[name](spark, SF_DIR)
        binary_in = _binary_into_python(df)
        failures += audit(name, df, {
            "no BroadcastNestedLoopJoin (blob not joined onto rows)":
                lambda p: "BroadcastNestedLoopJoin" not in p,
            f"no binary column enters a Python node {binary_in}":
                lambda p, b=binary_in: not b,
            "no Python node under the BroadcastExchange (the probe is "
            "not copied onto the build side)":
                lambda p: _python_under(p, "BroadcastExchange") == 0,
        })

    # 56b. one Arrow path into and out of every sketch blob: the SQL
    #      builder is an Arrow grouped agg, the top-k explode maps the
    #      merged rows where they are, the sketch_queries classes that
    #      stay lazy keep their exchange and Python-node counts with no
    #      pandas UDF left, and the ones finished on the driver plan none
    agg.register_sql_udfs(spark)
    li.createOrReplaceTempView("li_sketch_sql")
    sql_agg = spark.sql("SELECT l_returnflag, theta_sketch_agg(l_partkey) "
                        "AS s FROM li_sketch_sql GROUP BY l_returnflag")
    failures += audit("register_sql_udfs builder (theta_sketch_agg)",
                      sql_agg, {
        "plans as ArrowAggregatePython with an Arrow UDF (eval type 252)":
            lambda p: _n_nodes(p, "ArrowAggregatePython") == 1
            and _eval_types(p) == [252],
        "no AggregateInPandas": lambda p: "AggregateInPandas" not in p,
    })
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    top = agg.freq_topk_explode(
        agg.sketch_agg(ev, ["event_type"], "user_id", "freqitems"),
        ["event_type"], 3)
    failures += audit("freq_topk_explode (grouped)", top, {
        "adds no Exchange (the merge's one only)":
            lambda p: _n_nodes(p, "Exchange") == 1,
        "no FlatMapGroupsInPandas, no MapInPandas":
            lambda p: "FlatMapGroupsInPandas" not in p
            and "MapInPandas" not in p,
    })
    # (Exchange, Python nodes) of each class that keeps a lazy plan, as
    # when its readers were pandas UDFs; the bloom probe runs once, on the
    # probe side only
    sketch_plan_counts = {
        "theta_distinct_parts_by_flag": (1, 3),
        "countmin_event_counts": (1, 1), "bloom_semijoin_parts": (2, 1)}
    for name, (n_ex, n_py) in sketch_plan_counts.items():
        failures += audit(name, Q.QUERIES[name](spark, SF_DIR), {
            f"{n_ex} Exchange, {n_py} Python nodes":
                lambda p, e=n_ex, y=n_py: _n_nodes(p, "Exchange") == e
                and _n_python_nodes(p) == y,
            "every Python UDF is an Arrow UDF (no eval type 200/202)":
                lambda p: all(t >= 250 for t in _eval_types(p)),
        })
    # the classes that finish a global sketch on the driver return a
    # local result: the sketch's one job has run, the frame plans none
    for name in ("hll_distinct_orders", "cpc_distinct_orders",
                 "freq_top_event_types", "tdigest_price_quantiles"):
        failures += audit(name, Q.QUERIES[name](spark, SF_DIR), {
            "LocalTableScan, 0 Exchange, 0 Python nodes":
                lambda p: _n_nodes(p, "LocalTableScan") == 1
                and _n_nodes(p, "Exchange") == 0
                and _n_python_nodes(p) == 0,
        })

    print(f"\n{'=' * 70}")
    if failures:
        print(f"{len(failures)} PLAN PROBLEMS:")
        for f in failures:
            print(" -", f)
    else:
        print("ALL PLAN CHECKS PASS")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
