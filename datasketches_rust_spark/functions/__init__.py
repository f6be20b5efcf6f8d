"""Column-level functions: text shingling/signatures (Arrow-vectorized
pandas UDFs; the MinHash scan kernel is functions.text.minhash_kernel)
and pure-Spark text analytics (JVM-side, codegen-friendly)."""

from datasketches_rust_spark.functions.text import (
    exact_jaccard_udf,
    simhash_udf,
    token_count_col,
    quality_cols,
    lang_id_udf,
    winnow_fingerprints_udf,
)

__all__ = [
    "exact_jaccard_udf",
    "simhash_udf",
    "token_count_col",
    "quality_cols",
    "lang_id_udf",
    "winnow_fingerprints_udf",
]
