"""Scalar text operators (P7-P12, F12 of SURVEY.md §2) as built-in
column expressions — whole-stage-codegen friendly, no UDFs."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core.quality import (
    ARTIFACT_PENALTY,
    MIN_TEXT_LENGTH,
    TARGET_TEXT_LENGTH,
    W_LANG,
    W_LENGTH,
    W_OCR,
    W_STRUCT,
)


def clean_text(col) -> Column:
    """P9: collapse whitespace + strip (ingest_v2/pipeline.py:118-121)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def preview(col, n: int = 500) -> Column:
    """P7: first-N-chars listing projection (collection_manager.py:359)."""
    return F.substring(col, 1, n)


def extract_amounts(col) -> Column:
    """P11: currency-amount regex (ingest_v2/pipeline.py:135-139).

    Returns the array of numeric matches (the reference joins number and
    currency; the amount group is the deterministic core).
    """
    return F.regexp_extract_all(
        col, F.lit(r"(\d{1,3}(?:[,.]\d{3})*(?:\.\d{2})?)\s*(?:€|\$|USD|EUR|GBP)"), 1
    )


def extract_clauses(col) -> Column:
    """P10: Section/Clause heading matches (ingest_v2/pipeline.py:123-133)."""
    return F.regexp_extract_all(
        col, F.lit(r"(?i)((?:Abschnitt|Section|Klausel|Clause)\s+\d+)"), 1
    )


def token_count(col) -> Column:
    """Whitespace token count (training-data text analysis)."""
    return F.size(F.filter(F.split(col, r"\s+"), lambda x: x != ""))


def doc_fingerprint(col) -> Column:
    """F3: normalized content hash, sha256(lower(trim(text)))[:16]
    (indexing_service.py:538-542)."""
    return F.substring(F.sha2(F.lower(F.trim(col)), 256), 1, 16)


def quality_score_col(
    text_col,
    lang_col,
    ocr_confidence: float | None = None,
    struct_score: float | None = None,
) -> Column:
    """A10 as pure column expressions — the same math as
    ``core.quality.score_extraction`` (quality_scorer.py:94-143),
    lowered to Catalyst so it runs JVM-side in whole-stage codegen.

    Penalties: replacement-char count, spaced-out-words regexp count,
    short-line ratio — all expressible with built-ins (the short-line
    ratio via a filtered split, no UDF needed).
    """
    text = F.coalesce(text_col, F.lit(""))
    n = F.length(text)
    length_score = F.least(F.lit(1.0), n / F.lit(float(TARGET_TEXT_LENGTH)))
    lang_score = F.when(
        lang_col.isNotNull() & (lang_col != "unknown") & (lang_col != ""), 1.0
    ).otherwise(0.0)
    ocr_score = F.lit(ocr_confidence if ocr_confidence is not None else 0.5)
    st_score = F.lit(struct_score if struct_score is not None else 0.2)

    base = (
        length_score * W_LENGTH
        + lang_score * W_LANG
        + ocr_score * W_OCR
        + st_score * W_STRUCT
    )

    repl = n - F.length(F.replace(text, F.lit("�"), F.lit("")))
    p_repl = F.when(
        repl > 5,
        F.lit(ARTIFACT_PENALTY)
        * F.least(F.lit(1.0), repl / F.lit(50.0)),
    ).otherwise(0.0)

    spaced = F.regexp_count(text, F.lit(r"\b\w\s\w\s\w\b"))
    p_spaced = F.when(spaced > 10, F.lit(ARTIFACT_PENALTY)).otherwise(0.0)

    lines = F.split(text, "\n")
    short_lines = F.size(
        F.filter(lines, lambda x: F.length(F.trim(x)).isin(1, 2))
    )
    p_short = F.when(
        (short_lines > 20) & (short_lines / F.size(lines) > 0.1),
        F.lit(ARTIFACT_PENALTY),
    ).otherwise(0.0)

    score = base - p_repl - p_spaced - p_short
    return F.when(n < MIN_TEXT_LENGTH, 0.0).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), score))
    )


def tfidf_keywords(docs, id_col: str, text_col: str, top_k: int = 3):
    """Per-document top-``top_k`` keywords by TF-IDF — the classic
    document-fingerprinting / topic-tagging projection a curation
    pipeline runs to label shards.

    Scale shape: one shuffle on (doc, word) for TF, one on word for DF
    (both with map-side partial counts), the corpus size rides in as a
    1-row broadcast cross join, and the top-k is a per-doc window over
    the already-aggregated TF rows.  The DF table is Heaps'-law small
    (vocabulary-sized) — at web scale it stays a hash join on the word
    key, never a collect.

    Determinism: score = tf · ln((N+1)/(df+1)) rounded to 6 dp BEFORE
    ranking, so rank boundaries can't flip on sub-rounding float noise
    across engines; ties break lexicographically on the word.

    Returns ``(id, keyword, tf, score, kw_rank)``.
    """
    from pyspark.sql import Window

    words = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-z]{2,}"), 0)
        ).alias("w"),
    )
    tf = words.groupBy("__id", "w").agg(F.count("*").alias("tf"))
    # tf holds exactly one row per distinct (doc, word): counting rows
    # per word IS the document frequency
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "__id",
            F.col("w").alias("keyword"),
            "tf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)),
                6,
            ).alias("score"),
        )
    )
    win = Window.partitionBy("__id").orderBy(F.desc("score"), F.asc("keyword"))
    return (
        scored.withColumn("kw_rank", F.row_number().over(win))
        .filter(F.col("kw_rank") <= top_k)
        .withColumnRenamed("__id", id_col)
    )
