"""Text kernels: shingling, MinHash signatures, SimHash, analytics.

The hot path (shingle -> murmur -> 128-perm MinHash -> band keys) is one
kernel of the dedup scan's mapInArrow pass (scan.py) per document batch —
one Python crossing per ~10k rows, all numpy inside, list columns built
from the flat buffers (no per-row Python). Pure-Spark
column expressions are used wherever built-ins suffice (token counts,
quality ratios) so Catalyst keeps them in whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType

from datasketches_rust_spark.config import DedupConfig
from datasketches_rust_spark.hashing import hash64_matrix
from datasketches_rust_spark.scan import fixed_lists
from datasketches_rust_spark.sketches import minhash as mh
from datasketches_rust_spark.sketches import simhash as sh


# ---------------------------------------------------------------------------
# shingling (numpy, zero per-row Python)
# ---------------------------------------------------------------------------

def shingle_hashes_batch(texts: "pd.Series", k: int, seed: int
                         ) -> tuple[np.ndarray, np.ndarray]:
    """Byte k-gram shingle hashes for a batch of texts.

    Returns (flat_hashes uint64, offsets int64 of len n+1) in the segmented
    layout minhash.signatures expects. Texts shorter than k are zero-padded
    to one shingle; None/empty -> zero shingles.

    Implementation: concatenate all texts into one byte buffer, take a
    sliding k-window view, keep only windows that don't straddle document
    boundaries, murmur the whole (n_shingles, k) matrix in one call.
    """
    encoded = [(t.encode("utf-8") if isinstance(t, str) and t else b"")
               for t in texts]
    padded = [b if (len(b) == 0 or len(b) >= k) else b.ljust(k, b"\x00")
              for b in encoded]
    lens = np.fromiter((len(b) for b in padded), dtype=np.int64,
                       count=len(padded))
    n_shingles = np.maximum(lens - k + 1, 0)
    offsets = np.zeros(len(padded) + 1, dtype=np.int64)
    np.cumsum(n_shingles, out=offsets[1:])
    total = int(offsets[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint64), offsets

    buf = np.frombuffer(b"".join(padded), dtype=np.uint8)
    windows = np.lib.stride_tricks.sliding_window_view(buf, k)
    starts = np.zeros(len(padded), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # indices of valid (non-straddling) windows, doc-major
    idx = np.repeat(starts, n_shingles) + _ranges(n_shingles)
    mat = np.ascontiguousarray(windows[idx])
    return hash64_matrix(mat, seed), offsets


def _ranges(counts: np.ndarray) -> np.ndarray:
    """concat(arange(c) for c in counts), vectorized."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    out = np.arange(total, dtype=np.int64)
    out -= np.repeat(ends - counts, counts)
    return out


def unique_shingle_sets(texts: "pd.Series", k: int, seed: int) -> list[np.ndarray]:
    """Sorted-unique shingle-hash set per text (for exact Jaccard verify)."""
    flat, offsets = shingle_hashes_batch(texts, k, seed)
    return [np.unique(flat[offsets[i]:offsets[i + 1]])
            for i in range(len(offsets) - 1)]


# ---------------------------------------------------------------------------
# the MinHash scan kernel and pandas UDF factories (config closed over)
# ---------------------------------------------------------------------------

MINHASH_FIELDS = "sig array<bigint>, bands array<bigint>, n_shingles bigint"


def minhash_kernel(cfg: DedupConfig):
    """scan.sketch_pass kernel: a batch's ``__t`` texts -> MINHASH_FIELDS
    (sig and bands as the bit patterns of the u64 values). One segmented
    numpy pass per batch: shingle + murmur + num_perm perms + band fold."""
    k, seed = cfg.shingle_k, cfg.seed
    num_perm, bands, rows = cfg.num_perm, cfg.lsh_bands, cfg.lsh_rows

    def minhash(batch):
        flat, offsets = shingle_hashes_batch(
            batch.column("__t").to_pylist(), k, seed)
        sigs = mh.signatures(flat, offsets, num_perm, seed)
        return None, {
            "sig": fixed_lists(sigs.view(np.int64)),
            "bands": fixed_lists(mh.band_hashes(sigs, bands, rows, seed)),
            "n_shingles": pa.array(np.diff(offsets))}

    return minhash


def simhash_udf(cfg: DedupConfig):
    """pandas UDF: text -> simhash fingerprint (long, bit pattern of u64)."""
    from pyspark.sql.functions import pandas_udf

    k, seed = cfg.shingle_k, cfg.seed

    @pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        flat, offsets = shingle_hashes_batch(texts, k, seed)
        fp = sh.simhash(flat, offsets)
        return pd.Series(fp.view(np.int64))

    return _udf


def exact_jaccard_udf(cfg: DedupConfig):
    """pandas UDF: (text_a, text_b) -> exact shingle-set Jaccard (double).

    The verify stage of the pipeline: LSH candidates are confirmed against
    the true shingle-set overlap, the suffix/exact analog of the reference's
    theta intersection (theta/intersection.rs:142-155 — keep what's in both)
    via np.intersect1d on sorted-unique sets.

    Marked nondeterministic so that the optimizer never copies the
    verify: a ``jaccard >= threshold`` filter would otherwise be pushed
    below the projection that keeps the column, and a plan that keeps
    ``jaccard`` would run the UDF once for the filter and again for the
    output.
    """
    from pyspark.sql.functions import pandas_udf

    k, seed = cfg.shingle_k, cfg.seed

    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        sa = unique_shingle_sets(a, k, seed)
        sb = unique_shingle_sets(b, k, seed)
        out = np.empty(len(sa), dtype=np.float64)
        for i, (x, y) in enumerate(zip(sa, sb)):
            if x.size == 0 and y.size == 0:
                out[i] = 1.0
                continue
            inter = np.intersect1d(x, y, assume_unique=True).size
            out[i] = inter / (x.size + y.size - inter)
        return pd.Series(out)

    return _udf.asNondeterministic()


# ---------------------------------------------------------------------------
# text analytics — pure Spark where possible (JVM codegen)
# ---------------------------------------------------------------------------

def token_count_col(text_col):
    """Whitespace token count as a JVM-side expression."""
    t = F.trim(text_col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+")))


# GPT-2-style pretokenizer pattern, lookahead-free so the identical
# pattern runs under Java regex (Spark) and RE2 (DuckDB oracle) with the
# same leftmost-first alternation semantics: contraction suffixes, then
# space-prefixed letter / digit / symbol runs, then whitespace runs.
BPE_PRETOKEN_RE = (r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+"
                   r"| ?[^\s\p{L}\p{N}]+|\s+")


def bpe_token_count_col(text_col):
    """BPE-ish token count: the number of GPT-2-pretokenizer chunks (the
    unit an actual BPE vocabulary would split further). Whole-match
    regexp_extract_all, JVM-side."""
    return F.size(F.regexp_extract_all(text_col, F.lit(BPE_PRETOKEN_RE),
                                       F.lit(0)))


_PUNCT_CLASS = r"[.,!?;:]"
STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "on", "for")


def quality_cols(text_col):
    """Quality-scoring component columns, all built-in expressions:
    n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio."""
    t = F.trim(text_col)
    n_chars = F.length(t)
    tokens = F.split(t, r"\s+")
    n_tokens = token_count_col(text_col)
    nonspace = F.length(F.regexp_replace(t, r"\s+", ""))
    punct = n_chars - F.length(F.regexp_replace(t, _PUNCT_CLASS, ""))
    stop_hits = F.size(F.filter(
        tokens, lambda x: F.lower(x).isin(*STOPWORDS)))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "avg_token_len": (nonspace.cast("double")
                          / F.greatest(n_tokens, F.lit(1)).cast("double")),
        "punct_ratio": punct.cast("double") / F.greatest(n_chars, F.lit(1)),
        "stopword_ratio": (stop_hits.cast("double")
                           / F.greatest(n_tokens, F.lit(1)).cast("double")),
    }


# tiny per-language function-word lexicons for the n-gram/stopword heuristic
LANG_LEXICON = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "que", "pour"),
    "de": ("der", "die", "und", "das", "von", "mit", "ist", "den"),
}


def _lang_hit_count(text_col, lex):
    """size(filter(split(lower(text)))) — exact whitespace-token match
    against the lexicon, as a built-in JVM expression."""
    toks = F.split(F.lower(text_col), r"\s+")
    # closure: higher-order F.filter binds ALL lambda params to Columns,
    # so the lexicon must be captured, not passed as a defaulted param
    return F.size(F.filter(toks, lambda w: w.isin(*lex)))


def _lang_argmax(hit_col_of):
    """CASE expression: argmax over per-language hit columns with
    deterministic alphabetical tie-break (matches lang_id_udf). Built from
    the last language backwards so earlier languages take precedence."""
    langs = sorted(LANG_LEXICON)
    pred = F.lit("und")
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        cond = hit_col_of(lang) > 0
        for later in langs[i + 1:]:
            cond = cond & (hit_col_of(lang) >= hit_col_of(later))
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def lang_id_col(text_col):
    """Single-Column built-in-expression language ID (no Python). The CASE
    references each hit count up to 4x, so prefer with_lang_id on the hot
    path — it materializes the counts once in an intermediate projection
    (CollapseProject leaves it alone because the counts are non-cheap and
    multiply referenced)."""
    hits = {lang: _lang_hit_count(text_col, LANG_LEXICON[lang])
            for lang in sorted(LANG_LEXICON)}
    return _lang_argmax(lambda lang: hits[lang])


def with_lang_id(df, text_col: str, out: str = "lang_pred"):
    """df + language-ID column, two-projection form: one pass computes the
    per-language hit counts, a second the argmax CASE — each split/filter
    evaluates exactly once per row, all JVM-side."""
    langs = sorted(LANG_LEXICON)
    hits = df.select(
        "*", *[_lang_hit_count(F.col(text_col), LANG_LEXICON[lang])
               .alias(f"__h_{lang}") for lang in langs])
    pred = _lang_argmax(lambda lang: F.col(f"__h_{lang}"))
    return hits.withColumn(out, pred).drop(*[f"__h_{lang}" for lang in langs])


def lang_id_udf():
    """pandas UDF: text -> predicted language code by function-word hits;
    'und' (undetermined) when nothing matches. Deterministic tie-break by
    language code order. Retained as the slow-path reference for
    lang_id_col (tests assert agreement); not used by any query."""
    from pyspark.sql.functions import pandas_udf

    langs = sorted(LANG_LEXICON)
    lex = {lang: frozenset(LANG_LEXICON[lang]) for lang in langs}

    @pandas_udf(StringType())
    def _udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = (t or "").lower().split()
            best, best_hits = "und", 0
            for lang in langs:
                hits = sum(1 for w in words if w in lex[lang])
                if hits > best_hits:
                    best, best_hits = lang, hits
            out.append(best)
        return pd.Series(out)

    return _udf


def winnow_fingerprints_udf(cfg: DedupConfig, window: int = 8):
    """pandas UDF: text -> array<long> winnowing fingerprints.

    Document fingerprinting via the winnowing scheme: k-gram rolling hashes
    (we reuse the murmur shingle hashes — deterministic), take the min hash
    of every `window`-length window of consecutive shingles, dedupe. A
    near-copy shares most fingerprints; used for copy detection at
    sub-document granularity.
    """
    from pyspark.sql.functions import pandas_udf

    k, seed = cfg.shingle_k, cfg.seed

    @pandas_udf(ArrayType(LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        flat, offsets = shingle_hashes_batch(texts, k, seed)
        out = []
        for i in range(len(offsets) - 1):
            h = flat[offsets[i]:offsets[i + 1]]
            if h.size == 0:
                out.append(np.empty(0, dtype=np.int64))
                continue
            if h.size <= window:
                out.append(np.unique(h.min(keepdims=True)).view(np.int64))
                continue
            win = np.lib.stride_tricks.sliding_window_view(h, window)
            out.append(np.unique(win.min(axis=1)).view(np.int64))
        return pd.Series(out)

    return _udf


# ---------------------------------------------------------------------------
# PII detection / redaction (pure JVM regex — no Python in the hot path)
# ---------------------------------------------------------------------------
# Patterns restricted to the Java-regex / RE2 common subset (character
# classes, bounded repetition, ASCII \b; no lookaround, no backreferences)
# so the Spark query and a DuckDB oracle interpret them identically.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_columns(t):
    """PII scan over a text Column: match counts per category plus the
    redacted rewrite (emails -> <EMAIL>, phones -> <PHONE>, IPv4 ->
    <IP>). All whole-stage-codegen JVM expressions (regexp_count /
    regexp_replace) — the shape that survives 100 TB: a pure map, no
    explode, no Python. Patterns don't overlap (phones have no dots,
    IPs no hyphens, the email local part can't swallow either), so the
    three replacements compose order-independently; we fix the order
    email -> phone -> ip anyway for determinism.
    """
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE, "<PHONE>"),
        PII_IP_RE, "<IP>")
    return {
        "n_emails": F.regexp_count(t, F.lit(PII_EMAIL_RE)),
        "n_phones": F.regexp_count(t, F.lit(PII_PHONE_RE)),
        "n_ips": F.regexp_count(t, F.lit(PII_IP_RE)),
        "clean": clean,
    }
