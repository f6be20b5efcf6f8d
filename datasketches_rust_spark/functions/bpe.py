"""Real BPE vocabulary application (char-level, greedy lowest-rank merge).

Completes the text-tokenization surface beyond the pretokenizer count
(functions/text.py bpe_token_count_col): this module APPLIES a committed
merge table to every pretoken — the actual byte-pair-encoding step an LLM
tokenizer performs — rather than just counting pretokenizer chunks.

Algorithm (the standard BPE encode loop): split the pretoken into
characters; repeatedly find the merge pair with the LOWEST rank present
as an adjacent pair and fuse ALL its occurrences left-to-right
(non-overlapping) in one pass; stop when no adjacent pair is in the
vocabulary. Char-level rather than byte-level (no byte-to-unicode
remap) — the merge-rank-driven mechanics are identical.

100 TB shape: tokenization is context-free per pretoken, so the encoder
runs once per DISTINCT pretoken (a Zipf-bounded set, millions of rows at
web scale, not trillions), with the merge table broadcast inside the
pandas UDF closure; per-document totals come from one (doc, pretoken)
count aggregate joined to the tiny distinct-token result — the corpus
text itself never passes through Python.

The kernel is Spark-free so the DuckDB oracle side can replay the same
semantics: verify via a WITH RECURSIVE + LATERAL SQL loop over the same
committed MERGES (see queries.dedup._bpe_oracle_sql), which
hash-matches exactly.

MERGES was trained once, deterministically (greedy most-frequent pair,
lexicographic tie-break) on the sf0.001 documents corpus and is
committed as the engine's mini-vocab — the same role as a shipped
tokenizer.json.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fmt: off
MERGES: list[tuple[str, str]] = [
    (" ", "s"), ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"),
    ("l", "u"), ("a", "r"), ("p", "ar"), (" ", "a"), (" ", "v"),
    ("a", "s"), (" ", "c"), ("m", "er"), ("a", "t"), (" ", "f"),
    (" ", "t"), (" ", "b"), ("a", "n"), ("c", "an"), ("lu", "m"),
    ("lum", "n"), ("o", "lumn"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("par", "t"), ("u", "p"), (" s", "ort"), (" ", "window"),
    (" ", "order"), (" c", "olumn"), (" s", "can"), ("g", "g"),
    (" ", "part"), ("a", "lu"), ("alu", "e"), ("in", "e"),
    ("l", "ine"), ("e", "y"), ("k", "ey"), (" a", "gg"), ("j", "o"),
    ("jo", "in"), ("g", "e"), ("mer", "ge"), ("er", "y"), ("g", "r"),
    ("gr", "o"), ("gro", "up"), ("q", "u"), ("qu", "ery"),
    (" v", "alue"), (" ", "line"), ("c", "t"), ("ct", "or"),
    ("e", "ctor"), (" ", "key"), ("as", "h"), ("h", "ash"),
    (" ", "join"), ("l", "ow"),
]
# fmt: on

_RANKS = {pair: i for i, pair in enumerate(MERGES)}


def bpe_encode(pretoken: str,
               ranks: dict[tuple[str, str], int] | None = None) -> list[str]:
    """Encode one pretoken: greedy lowest-rank merges until fixpoint.
    Pure python, Spark-free (shared with tests / oracle reasoning)."""
    if ranks is None:
        ranks = _RANKS
    seq = list(pretoken)
    while len(seq) > 1:
        best_rank, best_pair = None, None
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (seq[i], seq[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out, i = [], 0
        while i < len(seq):
            if i < len(seq) - 1 and seq[i] == a and seq[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out
    return seq


def _apply_merge(seq: list[str], a: str, b: str) -> list[str]:
    """Fuse all (a, b) adjacencies left-to-right, non-overlapping."""
    out, i = [], 0
    while i < len(seq):
        if i < len(seq) - 1 and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def _learn_local(wc: dict[str, int], num_merges: int,
                 min_count: int) -> list[tuple[str, str, int]]:
    """Classic BPE merge learning over a word-frequency dict: per round,
    count adjacent symbol pairs (OVERLAPPING, weighted by word count),
    take the most frequent (lexicographic tie-break), fuse it
    non-overlapping. Reproduces the committed MERGES bit-for-bit when
    run on the sf0.001 corpus (pinned in tests/test_bpe_learn.py)."""
    syms = {w: list(w) for w in wc}
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pc: dict[tuple[str, str], int] = {}
        for w, cnt in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + cnt
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_count:
            break
        merges.append((a, b, c))
        for w in syms:
            syms[w] = _apply_merge(syms[w], a, b)
    return merges


def _learn_distributed(words: DataFrame, num_merges: int, min_count: int,
                       checkpoint_every: int = 8
                       ) -> list[tuple[str, str, int]]:
    """The same greedy loop with the word table staying distributed:
    per round ONE job (JVM pair explode -> weighted count -> global
    argmax with lexicographic tie-break, collected as a single row —
    the same bounded driver roundtrip as connected_components'
    convergence flag), then the winning merge applied to the symbol
    arrays by an Arrow-batched UDF; the table re-checkpoints every few
    rounds so lineage doesn't accumulate a merge-per-round chain."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    # single-symbol words can never merge — drop them from the loop
    # interior boundaries only — (?!^) alone also matches the END
    # position and Spark's split(limit=-1) keeps the trailing empty
    cur = (words.select(F.split(F.col("tok"), r"(?!^)(?=.)").alias("s"),
                        F.col("cnt"))
           .where(F.size("s") >= 2)
           .localCheckpoint())
    merges: list[tuple[str, str, int]] = []
    for it in range(num_merges):
        # overlapping adjacent pairs, weighted; words collapsed to one
        # symbol contribute nothing (explode drops their empty array)
        pairs = cur.select(
            F.explode(F.when(
                F.size("s") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("s") - 1),
                    lambda i: F.struct(
                        F.element_at("s", i).alias("a"),
                        F.element_at("s", i + 1).alias("b")))
            ).otherwise(F.array())).alias("p"),
            "cnt")
        best = (pairs.groupBy(F.col("p.a").alias("a"),
                              F.col("p.b").alias("b"))
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), "a", "b").limit(1).collect())
        if not best or best[0]["c"] < min_count:
            break
        a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
        merges.append((a, b, c))

        def make_fuse(a: str, b: str):
            @pandas_udf(ArrayType(StringType()))
            def fuse(col: pd.Series) -> pd.Series:
                return col.map(lambda s: _apply_merge(list(s), a, b))
            return fuse

        cur = cur.select(make_fuse(a, b)(F.col("s")).alias("s"), "cnt")
        if (it + 1) % checkpoint_every == 0:
            cur = cur.localCheckpoint()
    return merges


def learn_bpe_merges(docs: DataFrame, num_merges: int = 64,
                     text_col: str = "text", min_count: int = 2,
                     collect_threshold: int = 2_000_000
                     ) -> list[tuple[str, str, int]]:
    """BPE vocabulary TRAINING (merge learning) — the induction step
    that produced the committed MERGES, distributed where it matters:

    the corpus-scale work is exactly ONE pretokenize -> word-count
    aggregate (map-side combine; the corpus text never moves again).
    BPE learning then needs only that Zipf-bounded word-frequency
    table: ~10^8 distinct pretokens at crawl scale (~GBs), vs 10^12
    corpus rows. When the table fits (`collect_threshold`), the greedy
    merge loop runs driver-local on the collected dict — zero per-round
    Spark jobs; above it, the loop stays distributed with one job per
    round (`_learn_distributed`, equivalence-tested against the local
    path). Returns [(left, right, pair_count)] in merge order —
    feed [(l, r)] to ``bpe_token_counts(merges=...)`` / ``bpe_encode``.
    """
    from datasketches_rust_spark.functions.text import BPE_PRETOKEN_RE
    words = (docs
             .select(F.explode(F.regexp_extract_all(
                 F.col(text_col), F.lit(BPE_PRETOKEN_RE),
                 F.lit(0))).alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("cnt")))
    n_vocab = words.count()
    if n_vocab <= collect_threshold:
        wc = {r["tok"]: r["cnt"] for r in words.collect()}
        return _learn_local(wc, num_merges, min_count)
    return _learn_distributed(words, num_merges, min_count)


def bpe_token_counts(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     merges: list[tuple[str, str]] | None = None
                     ) -> DataFrame:
    """(id_col, n_pretokens, n_bpe_tokens) per document.

    Plan shape: JVM pretokenize+explode -> (doc, tok) count aggregate ->
    distinct toks through the Arrow-batched encoder (the ONLY Python,
    sized by vocabulary not corpus) -> one join back -> per-doc sum.
    """
    from pyspark.sql.functions import pandas_udf

    from datasketches_rust_spark.functions.text import BPE_PRETOKEN_RE

    ranks = (_RANKS if merges is None
             else {p: i for i, p in enumerate(merges)})

    @pandas_udf("int")
    def n_bpe(toks: pd.Series) -> pd.Series:
        return toks.map(lambda t: len(bpe_encode(t, ranks)))

    per_tok = (docs
               .select(F.col(id_col),
                       F.explode(F.regexp_extract_all(
                           F.col(text_col), F.lit(BPE_PRETOKEN_RE),
                           F.lit(0))).alias("tok"))
               .groupBy(id_col, "tok")
               .agg(F.count("*").alias("n_occ")))
    vocab = (per_tok.select("tok").distinct()
             .withColumn("n_bpe", n_bpe("tok")))
    return (per_tok.join(vocab, "tok")
            .groupBy(id_col)
            .agg(F.sum("n_occ").alias("n_pretokens"),
                 F.sum(F.col("n_occ") * F.col("n_bpe"))
                 .alias("n_bpe_tokens")))
