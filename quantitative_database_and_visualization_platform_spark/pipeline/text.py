"""Text analysis operators: tokenization, language ID, quality scoring,
document fingerprinting — the per-document scoring pass of a training-
data pipeline. Pure JVM-side expressions (no Python in the hot path);
one scan, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_text

# function-word list for the n-gram/stopword language heuristic; the
# corpus' English vocabulary carries these, other languages do not
EN_STOPWORDS = ("the", "a", "of", "to", "and", "is", "in")
TOKEN_REGEX = r"\w+|[^\w\s]"  # BPE-ish: words plus standalone punctuation


def with_text_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Append n_tokens / n_tokens_bpe / avg_token_len / stopword_ratio /
    lang_pred / quality_score / fingerprint."""
    t = normalized_text(text)
    out = df.withColumn("__t", t).withColumn("__w", F.split(F.col("__t"), " "))
    # every feature is NULL for a NULL text (failed crawl/parse — the
    # 100 TB-lake condition): without the guard Spark's size(NULL) is -1
    # (legacy sizeOfNull) and both engines' NULL-skipping least() turns
    # a NULL quality term into 1.0, so a bodyless doc scores as perfect
    # english (r13 NULL-saturated sweep). o_text_features carries the
    # same CASE WHEN guard; no-op on clean data.
    has_t = F.col("__t").isNotNull()
    n = F.when(has_t, F.size("__w"))
    stop_list = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    stop_ratio = F.expr(f"CAST(size(filter(__w, x -> x IN ({stop_list}))) AS DOUBLE)") / n
    # single-space-normalized text: total token chars = length - (n - 1)
    avg_len = (F.length("__t").cast("double") - n + 1) / n
    quality = F.when(
        has_t,
        0.6 * F.least(n / 100.0, F.lit(1.0))
        + 0.4 * F.least(stop_ratio * 10, F.lit(1.0)),
    )
    return (
        out.withColumn("n_tokens", n.cast("long"))
        .withColumn(
            # F.lit for the pattern: embedding it in a SQL string literal
            # would strip the backslashes
            "n_tokens_bpe",
            F.when(
                has_t,
                F.size(F.regexp_extract_all("__t", F.lit(TOKEN_REGEX), F.lit(0))),
            ).cast("long"),
        )
        .withColumn("avg_token_len", avg_len)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn(
            "lang_pred",
            F.when(stop_ratio > 0.03, "en").when(has_t, "other"),
        )
        .withColumn("quality_score", quality)
        .withColumn("fingerprint", F.substring(F.md5("__t"), 1, 16))
        .drop("__t", "__w")
    )


def o_text_features(stopwords: tuple[str, ...] = EN_STOPWORDS) -> dict[str, str]:
    """DuckDB twins of each feature expression (over normalized text `t`
    and word list `w`)."""
    stop_list = ", ".join(f"'{s}'" for s in stopwords)
    stop = f"CAST(len(list_filter(w, x -> x IN ({stop_list}))) AS DOUBLE) / len(w)"
    # every feature NULL for NULL text, mirroring with_text_features:
    # DuckDB's NULL-skipping LEAST would otherwise score a bodyless doc
    # 1.0 and CASE ELSE would language-tag it (r13 NULL-saturated sweep)
    exprs = {
        "n_tokens": "CAST(len(w) AS BIGINT)",
        "n_tokens_bpe": f"CAST(len(regexp_extract_all(t, '{TOKEN_REGEX}')) AS BIGINT)",
        "avg_token_len": "(CAST(length(t) AS DOUBLE) - len(w) + 1) / len(w)",
        "stopword_ratio": stop,
        "lang_pred": f"CASE WHEN {stop} > 0.03 THEN 'en' ELSE 'other' END",
        "quality_score": f"0.6 * LEAST(len(w) / 100.0, 1.0) + 0.4 * LEAST(({stop}) * 10, 1.0)",
        "fingerprint": "substring(md5(t), 1, 16)",
    }
    return {
        name: f"CASE WHEN t IS NULL THEN NULL ELSE ({expr}) END"
        for name, expr in exprs.items()
    }


def tfidf_scores(docs: DataFrame, text: str = "text") -> DataFrame:
    """Per-(doc, term) TF-IDF: tf × ln(N/df), idf pre-rounded to 9 dp so
    the one-ulp libm-vs-JVM LN divergence cannot flip a downstream
    ranking (same convention as the alpha DAG's LN inputs).

    Scale shape: token explode → (doc, term) count (map-side combined,
    one shuffle), document frequency from the already-distinct (doc,
    term) pairs (second shuffle, cardinality = vocabulary), N as a
    1-row broadcast. The idf table is vocabulary-sized — broadcast-
    joined back, never a row-wise subquery.
    """
    toks = docs.select(
        "doc_id", F.explode(F.split(normalized_text(text), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).cast("double").alias("__nd"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term", F.round(F.log(F.col("__nd") / F.col("df")), 9).alias("idf")
    )
    return tf.join(idf, "term").select(
        "doc_id", "term", "tf", (F.col("tf") * F.col("idf")).alias("score")
    )


def length_quality_filter(
    df: DataFrame, min_tokens: int = 5, min_quality: float = 0.2
) -> Column:
    """The standard keep/drop mask a curation pass applies."""
    return (F.col("n_tokens") >= min_tokens) & (F.col("quality_score") >= min_quality)


def chunk_tokens(df: DataFrame, chunk: int = 64, stride: int = 48) -> DataFrame:
    """One row per overlapping token chunk of the normalized text:
    (input columns minus text) + chunk_id / start_tok / n_tok /
    chunk_hash. Shuffle-free map work: the token array is persisted as a
    stored attribute before the per-row sequence explode (the Generate
    collapse trap), chunks start at stride multiples, and only the FINAL
    chunk may be shorter than `chunk`: the sequence stops at the last k
    that still covers a new token (k_max = ceil((n - chunk) / stride),
    floored at 0), so with chunk > stride no emitted chunk is a suffix
    subset of its predecessor (r6 ADVICE — the old (n-1) div stride
    bound emitted fully-redundant clamped tails)."""
    from ..session import managed_persist

    # a bodyless doc has no chunks: without the filter Spark's
    # size(NULL) = -1 still emits one k=0 chunk whose hash is md5('') —
    # a constant that equijoins EVERY bodyless doc with every other in
    # chunk-level dedup (1711 phantom pairs at sf0.001; r13
    # NULL-saturated sweep). Callers' oracles carry the matching
    # `WHERE t IS NOT NULL`. No-op on clean data.
    wdf = managed_persist(
        df.filter(F.col("text").isNotNull())
        .withColumn("__w", F.split(normalized_text("text"), " "))
        .drop("text")
    )
    ch = wdf.withColumn(
        "__k",
        F.explode(
            F.expr(
                f"sequence(0, greatest(0, "
                f"(size(__w) - {chunk} + {stride} - 1) div {stride}))"
            )
        ),
    )
    clen = F.least(F.lit(chunk), F.size("__w") - F.col("__k") * stride)
    return ch.select(
        *[c for c in wdf.columns if c != "__w"],
        F.col("__k").cast("long").alias("chunk_id"),
        (F.col("__k") * stride).cast("long").alias("start_tok"),
        clen.cast("long").alias("n_tok"),
        F.md5(
            F.concat_ws(" ", F.slice("__w", F.col("__k") * stride + 1, clen))
        ).alias("chunk_hash"),
    )
