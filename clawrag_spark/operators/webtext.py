"""Web-corpus curation operators: repetition signals, corpus-level
paragraph dedup, PII detection/masking, URL canonicalization.

These extend the reference's per-document quality scoring
(``backend/src/core/quality_scorer.py``) with the corpus-level filters a
training-data pipeline runs at web scale — the repetition heuristics of
Gopher (Rae et al. 2021, §A1.1), CCNet-style repeated-paragraph removal
(Wenzek et al. 2019), and crawl-frontier URL canonicalization.

Design notes (100 TB):
- The per-document signals (`ngram_repetition_signals`,
  `line_repetition_signals`, `pii_signals`) are pure JVM column
  expressions — no shuffle, no Python, whole-stage-codegen friendly.
  The most-frequent-n-gram is computed with a sort + single fold over
  the row's own token array (``array_sort`` + ``aggregate``) instead of
  an explode/groupBy, so a 10^12-document scan stays embarrassingly
  parallel.
- `paragraph_dedup` is the one corpus-level op: it shuffles paragraph
  *hashes* (md5, 32 bytes) rather than paragraph text, so the frequency
  exchange is O(paragraphs · 32 B) regardless of paragraph length, and
  reassembly is a single groupBy on the document id.
- `canonicalize_url` is expression-only; `latest_per_url` is one
  window over the canonical key (the same url-hash key the pipeline
  buckets by, so in the bucketed layout it is shuffle-free).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "psi_by_group",
    "t_closeness",
    "doremi_weights",
    "ks_drift",
    "calibration_report",
    "quantile_normalize",
    "rake_keywords",
    "split_leakage",
    "ngram_repetition_signals",
    "top_ngram_char_frac",
    "line_repetition_signals",
    "paragraph_dedup",
    "strip_host_templates",
    "pii_signals",
    "mask_pii",
    "stratified_sample",
    "weighted_sample",
    "train_val_split",
    "nfc_normalize",
    "decontaminate",
    "train_char_lm",
    "lm_score",
    "train_word_lm",
    "word_lm_score",
    "canonicalize_url",
    "latest_per_url",
    "snapshot_diff",
    "recrawl_priority",
    "temperature_mix",
    "zipf_fit",
    "pmi_collocations",
    "heaps_fit",
    "url_path_templates",
    "dust_param_rules",
    "burrows_delta_outliers",
    "crawl_equity",
    "source_novelty",
    "apply_param_rules",
    "rewrite_urls",
    "dsir_importance",
    "gopher_quality_gate",
    "politeness_schedule",
    "parse_robots",
    "robots_filter",
    "GOPHER_STOPWORDS",
    "EMAIL_RE",
    "PHONE_RE",
    "IPV4_RE",
]


# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB oracle): character classes, bounded repeats,
# \b, \d — no lookaround, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _words(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != F.lit(""))


def _top_run(sorted_arr: Column) -> Column:
    """(count, value) of the most frequent element of a pre-sorted array.

    One fold, O(n), entirely JVM-side.  Ties break to the
    lexicographically smallest element: with the array ascending and a
    strictly-greater update rule, the first element to reach the final
    maximum run length keeps the slot.
    """
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("arg"),
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["arg"]).alias("arg"),
        )

    return F.aggregate(
        sorted_arr,
        init,
        merge,
        lambda acc: F.struct(acc["best"].alias("count"), acc["arg"].alias("value")),
    )


def top_ngram_char_frac(text: Column, n: int = 2) -> Column:
    """The Gopher top-n-gram character fraction as a single column
    expression — usable inline in any scan-side filter (no join, no
    shuffle): fraction of the text's characters covered by occurrences
    of its most frequent word n-gram."""
    if n < 2:
        raise ValueError("n must be >= 2")
    w = _words(text)
    nw = F.size(w)
    grams = F.slice(w, 1, F.greatest(nw - (n - 1), F.lit(0)))
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(w, k + 1, F.greatest(nw - (n - 1), F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    top = _top_run(F.array_sort(grams))
    tlen = F.length(text)
    return (
        F.when(tlen > 0, top["count"] * F.length(top["value"]) / tlen)
        .otherwise(F.lit(0.0))
    )


def ngram_repetition_signals(
    docs: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style n-gram repetition signals, one row per document.

    Returns (id, n_words, distinct_word_ratio, top_ngram,
    top_ngram_count, top_ngram_char_frac) where ``top_ngram_char_frac``
    is the fraction of the document's characters covered by occurrences
    of its most frequent word n-gram — the "top n-gram character
    fraction" filter of Rae et al. 2021 §A1.1 (documents above ~0.2 for
    n=2 are template spam).

    Pure column expressions: tokenize, build n-grams with
    ``zip_with``/``slice``, sort, and fold for the mode — no shuffle,
    no UDF, so the scan parallelizes trivially at 10^12 documents.
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    w = _words(F.col(text_col))
    nw = F.size(w)
    grams = F.slice(w, 1, F.greatest(nw - (n - 1), F.lit(0)))
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(w, k + 1, F.greatest(nw - (n - 1), F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    top = _top_run(F.array_sort(grams))
    tlen = F.length(F.col(text_col))
    return docs.select(
        F.col(id_col),
        nw.alias("n_words"),
        (F.size(F.array_distinct(w)) / nw).alias("distinct_word_ratio"),
        top["value"].alias("top_ngram"),
        top["count"].alias("top_ngram_count"),
        F.when(tlen > 0, top["count"] * F.length(top["value"]) / tlen)
        .otherwise(F.lit(0.0))
        .alias("top_ngram_char_frac"),
    )


def line_repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplicate-line fractions per document (Gopher §A1.1).

    Returns (id, n_lines, dup_line_frac, dup_line_char_frac): the
    fraction of non-empty trimmed lines that are repeats of another
    line in the same document, by count and by character mass.  Pure
    expressions — per-row arrays only, no shuffle.
    """
    lines = F.filter(
        # one-arg lambda on purpose: bare F.trim would bind transform's
        # (element, index) pair to trim's deprecated two-arg signature
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    dist = F.array_distinct(lines)
    nl = F.size(lines)
    chars = F.aggregate(lines, F.lit(0), lambda acc, x: acc + F.length(x))
    chars_dist = F.aggregate(dist, F.lit(0), lambda acc, x: acc + F.length(x))
    return df.select(
        F.col(id_col),
        nl.alias("n_lines"),
        F.when(nl > 0, (nl - F.size(dist)) / nl).otherwise(F.lit(0.0)).alias(
            "dup_line_frac"
        ),
        F.when(chars > 0, (chars - chars_dist) / chars)
        .otherwise(F.lit(0.0))
        .alias("dup_line_char_frac"),
    )


def c4_line_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, the
    filters behind the C4 corpus): keep only lines that end in terminal
    punctuation (``.!?"``), contain at least ``min_words`` words, and do
    not mention "javascript"; then gate whole pages that contain
    "lorem ipsum" or a curly brace, or retain fewer than
    ``min_kept_lines`` lines.

    Returns (id, text_clean, n_lines, n_kept_lines, kept): the rebuilt
    text (kept lines, trimmed, joined by newline), line accounting, and
    the page-level gate.  Pure per-row array expressions — zero shuffle,
    scan-side at any corpus size; every rule is a deterministic string
    predicate, so the DuckDB oracle reproduces the output byte-for-byte.
    """

    def line_ok(line):
        words = F.filter(F.split(line, r"\s+"), lambda w: w != F.lit(""))
        return (
            line.rlike(r'[.!?"]\s*$')
            & (F.size(words) >= min_words)
            & ~F.lower(line).contains("javascript")
        )

    lines = F.split(F.col(text_col), "\n")
    # trim first so the punctuation anchor sees the real last char;
    # one-arg lambdas per the transform-signature rule above
    kept_lines = F.filter(
        F.transform(lines, lambda x: F.trim(x)), lambda x: line_ok(x)
    )
    n_kept = F.size(kept_lines)
    page_ok = (
        ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
        & (n_kept >= min_kept_lines)
    )
    return df.select(
        F.col(id_col),
        F.array_join(kept_lines, "\n").alias("text_clean"),
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept_lines"),
        page_ok.alias("kept"),
    )


def dedup_lines_in_doc(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Remove repeated lines WITHIN each document, keeping the first
    occurrence (RefinedWeb-style line-wise dedup — the intra-document
    complement of the corpus-level :func:`paragraph_dedup`).

    A line is a repeat when its trimmed form already appeared earlier
    in the same document; whitespace-only lines are structural
    separators and always survive.  Pure per-row array expressions —
    zero shuffle, zero Python.  The first-occurrence probe is
    ``array_position`` over the trimmed-line array, O(n_lines²) per
    row; web documents' line counts are bounded (and the chunker caps
    them further), so this stays cheap and never leaves the scan
    projection.

    The trimmed array is staged into its own projection before the
    indexed filter references it (repo lambda-CSE rule — see
    ``_char_trigrams``): inlining it under the lambda would re-run the
    transform per element.

    Returns ``(id, clean_text, lines_kept, lines_removed)``; the
    counts cover non-empty lines only (kept = distinct non-empty
    trimmed lines, removed = later repeats).

    Reference parity: the reference cleans text per document in Python
    during ingestion (services/text_processor.py); here the same pass
    is one JVM projection.
    """
    parts = F.split(F.col(text_col), "\n")
    staged = df.select(
        F.col(id_col),
        parts.alias("__parts"),
        F.transform(parts, lambda x: F.trim(x)).alias("__trim"),
    )
    t = F.col("__trim")
    kept = F.filter(
        F.col("__parts"),
        lambda x, i: (F.trim(x) == "")
        | (F.array_position(t, F.trim(x)) == i + F.lit(1)),
    )
    nonempty = F.filter(t, lambda x: x != F.lit(""))
    n_nonempty = F.size(nonempty)
    n_distinct = F.size(F.array_distinct(nonempty))
    return staged.select(
        F.col(id_col),
        F.concat_ws("\n", kept).alias("clean_text"),
        n_distinct.cast("long").alias("lines_kept"),
        (n_nonempty - n_distinct).cast("long").alias("lines_removed"),
    )


def span3_dedup(
    df: DataFrame, id_col: str, text_col: str, span_sents: int = 3
) -> DataFrame:
    """C4's corpus-level dedup unit (Raffel et al. 2020 §2.2): any
    ``span_sents``-sentence span occurring more than once in the corpus
    keeps only its FIRST occurrence (document order, then position);
    every later occurrence is cut and the text rebuilt from surviving
    spans.

    Sentences come from the engine-portable split on ``[.!?]\\s+``
    (C4's langdetect-based splitter is not reproducible cross-engine;
    the delimiter is consumed identically on Spark and DuckDB so the
    rebuilt text hashes bit-identically), grouped into NON-OVERLAPPING
    ``span_sents``-sentence spans from sentence 0.

    Returns (id, n_spans, n_kept, text_dedup).  Scale shape: one
    window shuffle keyed by the 16-byte span hash (rank-1 keep-first),
    one id-keyed rebuild aggregation — no all-pairs anything; span
    frequency skew is bounded because every duplicated span keeps
    exactly one survivor.
    """
    k = int(span_sents)
    sents = F.filter(
        F.transform(
            F.split(F.col(text_col), r"[.!?]\s+"), lambda x: F.trim(x)
        ),
        lambda x: x != F.lit(""),
    )
    base = df.select(F.col(id_col), sents.alias("__sents"))
    spans = base.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("__sents") > 0,
                F.expr(
                    f"sequence(0, int((size(__sents) + {k - 1}) div {k}) - 1)"
                ),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("g"),
        F.col("__sents"),
    ).select(
        F.col(id_col),
        "g",
        F.concat_ws(
            " ", F.slice(F.col("__sents"), F.col("g") * k + 1, k)
        ).alias("span"),
    )
    w = Window.partitionBy(F.md5("span")).orderBy(id_col, "g")
    ranked = spans.withColumn("__rn", F.row_number().over(w))
    rebuilt = (
        ranked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") == 1,
                                F.struct(F.col("g"), F.col("span")),
                            )
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("text_dedup"),
        )
    )
    # docs whose text yields zero sentences still get a row
    return (
        df.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def paragraph_dedup(
    docs: DataFrame, id_col: str, text_col: str, min_rep: int = 2
) -> DataFrame:
    """Remove paragraphs repeated >= min_rep times corpus-wide (CCNet).

    Splits each document on blank lines, counts trimmed-paragraph
    frequency across the whole corpus, drops every occurrence of any
    paragraph reaching ``min_rep``, and reassembles the survivors in
    original order.  Returns (id, clean_text, paras_kept,
    paras_removed); documents with no non-empty paragraphs drop out.

    Scale shape: the frequency aggregation and the membership join both
    key on ``md5(paragraph)`` (fixed 32 bytes) so the shuffle volume is
    independent of paragraph length; reassembly is one groupBy on the
    document id with an in-row sort — two shuffles total for the whole
    corpus-level operation.
    """
    if min_rep < 2:
        raise ValueError(
            f"min_rep must be >= 2 (got {min_rep}): 1 would remove every "
            "paragraph, 0 and below are meaningless"
        )
    paras = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), "\n\n")).alias("ord", "para"),
        )
        .withColumn("para", F.trim("para"))
        .filter(F.col("para") != "")
        .withColumn("k", F.md5("para"))
    )
    freq = paras.groupBy("k").agg(F.count("*").alias("ct"))
    marked = paras.join(freq, "k").withColumn("rm", F.col("ct") >= min_rep)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ord"),
                F.when(~F.col("rm"), F.col("para")).alias("p"),
            )
        )
    )
    return (
        marked.groupBy(F.col("__id").alias(id_col))
        .agg(
            F.concat_ws("\n\n", F.transform(arr, lambda s: s["p"])).alias(
                "clean_text"
            ),
            F.count(F.when(~F.col("rm"), 1)).alias("paras_kept"),
            F.count(F.when(F.col("rm"), 1)).alias("paras_removed"),
        )
    )


def host_quality_bounds(
    df: DataFrame,
    host_col: str,
    pass_col: str,
    z: float = 1.96,
    min_docs: int = 1,
) -> DataFrame:
    """Per-host quality pass-rate with a Wilson-score lower confidence
    bound — the RefinedWeb-style host-level filter that a raw pass
    rate gets wrong for small hosts (3/3 passing is weaker evidence
    than 80/100, but has the higher rate; the Wilson bound ranks them
    correctly).

    ``pass_col`` is a boolean per-document quality verdict (any gate:
    Gopher, classifier, score threshold).  Returns one row per host
    with ``(host, n_docs, n_pass, pass_rate, wilson_lb)``, rates
    rounded to 6 dp, hosts with fewer than ``min_docs`` documents
    dropped.  Rank / threshold on ``wilson_lb`` downstream.

    Scale shape: one partial-aggregated groupBy on the host key — the
    only shuffle, carrying two longs per host — then pure scalar math
    on the aggregate row.  Zipf-hot hosts are exactly the salted-
    aggregation case (operators/skew.py) if the combine ever skews.
    """
    if z <= 0:
        raise ValueError(f"z must be positive (got {z})")
    agg = df.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(pass_col).cast("long")).alias("n_pass"),
    )
    n = F.col("n_docs").cast("double")
    phat = F.col("n_pass") / n
    z2 = float(z) * float(z)
    center = phat + F.lit(z2) / (2.0 * n)
    margin = F.lit(float(z)) * F.sqrt(
        (phat * (1.0 - phat) + F.lit(z2) / (4.0 * n)) / n
    )
    denom = 1.0 + F.lit(z2) / n
    return (
        agg.filter(F.col("n_docs") >= min_docs)
        .select(
            "host",
            "n_docs",
            "n_pass",
            F.round(phat, 6).alias("pass_rate"),
            F.round((center - margin) / denom, 6).alias("wilson_lb"),
        )
    )


def strip_host_templates(
    df: DataFrame,
    host_col: str,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    min_frac: float = 0.5,
) -> DataFrame:
    """Remove per-HOST template lines — host-level boilerplate the
    per-document extractor can't see (cookie banners, footers, nav
    crumbs that survive DOM heuristics because they look like content
    on any single page).  A trimmed line is a template iff it appears
    in >= ``min_docs`` documents of its host AND in >= ``min_frac`` of
    them — the RefinedWeb/CCNet host-frequency heuristic; the
    corpus-wide cousin is ``paragraph_dedup``.

    Returns (id, clean_text, lines_kept, lines_removed); documents with
    no non-empty lines drop out.  The host's page count is taken over
    documents that contribute at least one non-empty line (a blank page
    can't dilute the fraction).

    Scale shape: presence is deduped to ONE row per (host, line, doc)
    before counting, so a line repeated inside a single page cannot
    inflate its document frequency; the frequency aggregation and the
    membership join key on (host, ``md5(line)``) — fixed 32 bytes, never
    line text; per-host page counts are a tiny frame joined broadcast;
    reassembly is one groupBy on the document id with an in-row sort.
    Three shuffles total, each map-side-combinable.
    """
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (got {min_docs}): 1 would mark every "
            "line of every host a template"
        )
    if not 0.0 < min_frac <= 1.0:
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    lines = (
        df.select(
            F.col(host_col).alias("__h"),
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("ord", "line"),
        )
        .withColumn("line", F.trim("line"))
        .filter(F.col("line") != "")
        .withColumn("k", F.md5("line"))
    )
    presence = lines.select("__h", "__id", "k").distinct()
    docfreq = presence.groupBy("__h", "k").agg(F.count("*").alias("df_"))
    host_pages = (
        presence.select("__h", "__id")
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("np"))
    )
    templates = (
        docfreq.join(F.broadcast(host_pages), "__h")
        .filter(
            (F.col("df_") >= min_docs)
            & (F.col("df_") >= F.lit(float(min_frac)) * F.col("np"))
        )
        .select("__h", "k", F.lit(True).alias("rm0"))
    )
    marked = lines.join(templates, ["__h", "k"], "left").withColumn(
        "rm", F.coalesce(F.col("rm0"), F.lit(False))
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ord"),
                F.when(~F.col("rm"), F.col("line")).alias("p"),
            )
        )
    )
    return marked.groupBy(F.col("__id").alias(id_col)).agg(
        F.concat_ws("\n", F.transform(arr, lambda s: s["p"])).alias(
            "clean_text"
        ),
        F.count(F.when(~F.col("rm"), 1)).alias("lines_kept"),
        F.count(F.when(F.col("rm"), 1)).alias("lines_removed"),
    )


def pii_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Count emails / phone numbers / IPv4 literals per document, plus
    the md5 of the fully masked text (one projection, no second pass).

    Pure regexp expressions (JVM, codegen); patterns are RE2-compatible
    so the DuckDB oracle runs the identical strings.
    """
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_count(t, F.lit(IPV4_RE)).alias("n_ipv4"),
        F.md5(mask_pii(t)).alias("masked_md5"),
    )


def repair_mojibake(
    df: DataFrame, id_col: str, text_col: str, max_rounds: int = 3
) -> DataFrame:
    """Repair UTF-8-bytes-decoded-as-Latin-1 mojibake ("CafÃ©" → "Café")
    — the core fix of ftfy that CCNet/OSCAR-style pipelines run before
    any other text stage.

    A string is repaired when re-encoding it as Latin-1 yields bytes
    that decode as STRICT UTF-8 to a different string — the signature
    of a double-encoding accident; pure ASCII round-trips to itself and
    is left alone, and genuine Latin-1/UTF-8 text fails one of the two
    conversions and is left alone.  Applied to a fixpoint (≤
    ``max_rounds``) so doubly-mojibaked text (two decode accidents)
    also heals.  One Arrow ``mapInPandas`` pass — the check needs real
    codec validation, which no SQL expression provides; rows-only
    driver check, pytest pins exact repairs.

    Output: (doc_id, text_repaired, was_mojibake, n_repairs).
    """
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text_repaired", T.StringType()),
            T.StructField("was_mojibake", T.BooleanType()),
            T.StructField("n_repairs", T.IntegerType()),
        ]
    )

    def fix_once(s: str) -> str | None:
        try:
            b = s.encode("latin-1")
        except UnicodeEncodeError:
            return None
        try:
            r = b.decode("utf-8")
        except UnicodeDecodeError:
            return None
        return r if r != s else None

    def run(iterator):
        for batch in iterator:
            ids, outs, flags, rounds = [], [], [], []
            for i, t in zip(batch["doc_id"], batch["text"]):
                s, n = t or "", 0
                while n < max_rounds:
                    r = fix_once(s)
                    if r is None:
                        break
                    s, n = r, n + 1
                ids.append(int(i))
                outs.append(s)
                flags.append(n > 0)
                rounds.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text_repaired": outs,
                    "was_mojibake": flags,
                    "n_repairs": pd.array(rounds, dtype="int32"),
                }
            )

    return df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(run, schema)


def readability_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Flesch Reading Ease, Flesch-Kincaid grade, and type-token ratio
    per document — the readability/lexical-diversity signals
    educational-value corpus filters threshold on.

    All counts are single-regex expressions (words = the shared
    ``[^a-z0-9]+`` tokenizer, sentences = ``[.!?]+`` runs, syllables =
    ``[aeiouy]+`` vowel groups, each clamped ≥ 1), so the whole stage
    is one scan-side projection — zero shuffle, zero Python.  The
    counts are staged into their own projection first, then the float
    formulas evaluate left-to-right over DOUBLEs — the identical IEEE
    op order as the DuckDB oracle (whose literals are ::DOUBLE-cast so
    they don't parse as DECIMAL).
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    counts = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("words"),
        F.size(F.array_distinct(toks)).cast("long").alias("distinct_words"),
        F.greatest(F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1))
        .cast("long")
        .alias("sentences"),
        F.greatest(
            F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[aeiouy]+")), F.lit(1)
        )
        .cast("long")
        .alias("syllables"),
    ).filter(F.col("words") > 0)
    wps = F.col("words").cast("double") / F.col("sentences").cast("double")
    spw = F.col("syllables").cast("double") / F.col("words").cast("double")
    return counts.select(
        F.col(id_col),
        "words",
        "sentences",
        "syllables",
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6).alias(
            "flesch_ease"
        ),
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6).alias(
            "fk_grade"
        ),
        F.round(
            F.col("distinct_words").cast("double") / F.col("words").cast("double"), 6
        ).alias("ttr"),
    )


def compression_signals(
    df: DataFrame, id_col: str, text_col: str, level: int = 6
) -> DataFrame:
    """Per-document zlib-deflate compression ratio — the classic
    incompressibility quality signal (used by RefinedWeb/Gopher-family
    pipelines: boilerplate and repeated templates compress far below
    natural prose; random noise barely compresses at all).

    One Arrow-batched ``mapInPandas`` pass (compression is the one
    signal SQL expressions can't produce); the id rides through the UDF
    so no re-join.  Deterministic for a fixed zlib build — both the
    Spark workers and pytest link the same CPython zlib, so tests pin
    exact values; the driver check is rows-only (DuckDB has no deflate).
    Ratio = deflate_len / raw_utf8_len, rounded 6.
    """
    import zlib

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("raw_len", T.LongType()),
            T.StructField("deflate_len", T.LongType()),
            T.StructField("compression_ratio", T.DoubleType()),
        ]
    )

    def run(iterator):
        for batch in iterator:
            ids, raws, comps, ratios = [], [], [], []
            for i, t in zip(batch["doc_id"], batch["text"]):
                raw = (t or "").encode("utf-8")
                comp = zlib.compress(raw, level)
                ids.append(int(i))
                raws.append(len(raw))
                comps.append(len(comp))
                ratios.append(round(len(comp) / max(len(raw), 1), 6))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "raw_len": pd.array(raws, dtype="int64"),
                    "deflate_len": pd.array(comps, dtype="int64"),
                    "compression_ratio": ratios,
                }
            )

    return df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(run, schema)


def mask_pii(text: Column) -> Column:
    """Replace emails, phones, and IPv4 literals with typed tags.

    Order matters: emails first (an address can embed digit runs),
    then phones, then IPv4 — the same cascade in the oracle SQL.
    """
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, IPV4_RE, "<IP>")


def _char_trigrams(df: DataFrame, keep_cols: list[str], text_col: str) -> DataFrame:
    """Explode each row into its lowercase character trigrams.

    The lowered text materializes into its own projection first — an
    expression referenced inside ``transform()`` is re-evaluated PER
    ELEMENT (no CSE across lambda scopes), which would make trigram
    extraction O(len²) per row if ``lower()`` stayed inline.
    """
    cleaned = df.select(
        *[F.col(c) for c in keep_cols], F.lower(F.col(text_col)).alias("__c")
    ).filter(F.length("__c") >= 3)
    return cleaned.select(
        *[F.col(c) for c in keep_cols],
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("__c") - 2),
                lambda i: F.substr(F.col("__c"), i, F.lit(3)),
            )
        ).alias("g"),
    )


def train_char_lm(train: DataFrame, text_col: str) -> dict[str, DataFrame]:
    """Train an add-k character-trigram LM (the CCNet perplexity filter,
    Wenzek et al. 2019 §3.2, with a char-trigram model standing in for
    KenLM's 5-gram word model).

    Returns {'tri': (g, c3), 'ctx': (b, c2)} where ``c3`` counts each
    trigram and ``c2`` sums the counts per 2-char context, so
    P(c|b) = (c3 + a) / (c2 + a·V) is a proper conditional.  Both
    tables are vocabulary-bounded (≤ |charset|³ rows) regardless of
    corpus size — train once over a reference slice, then broadcast.
    """
    grams = _char_trigrams(train, [], text_col)
    tri = grams.groupBy("g").agg(F.count("*").alias("c3"))
    ctx = tri.groupBy(F.substring("g", 1, 2).alias("b")).agg(
        F.sum("c3").alias("c2")
    )
    return {"tri": tri, "ctx": ctx}


def lm_score(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    model: dict[str, DataFrame],
    alpha: float = 0.5,
    vocab_size: int = 64,
) -> DataFrame:
    """Average negative log-likelihood per document under the trigram
    LM — the quality signal CCNet thresholds on (low = fluent in the
    training slice's language, high = junk/other-language).

    Returns (id, n_trigrams, avg_neg_logp).  Scale shape: the model
    joins are broadcast (vocabulary-bounded), the per-trigram log-probs
    partially aggregate map-side, so the only shuffle carries one row
    per document.
    """
    grams = _char_trigrams(docs, [id_col], text_col)
    scored = (
        grams.join(F.broadcast(model["tri"]), "g", "left")
        .join(
            F.broadcast(model["ctx"]),
            F.substring("g", 1, 2) == model["ctx"]["b"],
            "left",
        )
        .select(
            F.col(id_col),
            F.log(
                (F.coalesce(F.col("c3"), F.lit(0)) + F.lit(alpha))
                / (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(alpha * vocab_size))
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_trigrams"),
        (-F.avg("lp")).alias("avg_neg_logp"),
    )


def _word_tokens(df: DataFrame, keep_cols: list[str], text_col: str) -> DataFrame:
    """One row per ``[^a-z0-9]+``-token (the corpus-wide tokenizer
    convention shared with the DuckDB oracles).  The token array
    materializes into its own projection first (lambda-CSE rule)."""
    toks = df.select(
        *[F.col(c) for c in keep_cols],
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        ).alias("__t"),
    )
    return toks.select(
        *[F.col(c) for c in keep_cols], F.explode("__t").alias("w")
    )


def _word_bigrams(df: DataFrame, keep_cols: list[str], text_col: str) -> DataFrame:
    """One row per adjacent word pair (w1, w2), in-row via a bounded
    ``transform`` over the staged token array — bigram formation itself
    never shuffles."""
    toks = df.select(
        *[F.col(c) for c in keep_cols],
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        ).alias("__t"),
    ).filter(F.size("__t") >= 2)
    return toks.select(
        *[F.col(c) for c in keep_cols],
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("__t"), i).alias("w1"),
                    F.element_at(F.col("__t"), i + 1).alias("w2"),
                ),
            )
        ).alias("__bg"),
    ).select(*[F.col(c) for c in keep_cols], "__bg.w1", "__bg.w2")


def train_word_lm(
    train: DataFrame, text_col: str, min_count: int = 1
) -> dict[str, DataFrame]:
    """Train a word-bigram stupid-backoff LM (Brants et al. 2007,
    "Large Language Models in Machine Translation" §4) — the model
    family Google trained on 2-trillion-token web corpora precisely
    because it needs only count tables and no normalization pass.

    Returns {'bi': (w1, w2, cb), 'uni': (w, cu), 'stats': one row
    (n_tokens, vocab)}.  ``min_count`` is the count-pruning threshold
    Brants applies at scale (§4.3: entries below the threshold are
    dropped; scores stay well-defined because backoff covers pruned
    bigrams) — default 1 keeps everything at test scale.

    Scale shape: two count aggregations with map-side partials over the
    training slice; the tables are Heaps'-law-bounded (vocab grows
    ~n^0.5), not corpus-bounded, and shrink further under pruning.
    """
    # uni feeds THREE consumers (the cu1 fold into bi, the (N, V) stats
    # row, and scoring's cu2 lookup) — persist it so the training-slice
    # token scan runs once, not once per consumer.  The consumers
    # materialize sequentially (broadcast builds are driver-ordered),
    # so the lazy persist warms without the concurrent-stage cache-miss
    # race documented on shingle_rows.
    uni = (
        _word_tokens(train, [], text_col)
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
        .persist()
    )
    # the context count cu(w1) folds into the bigram table at TRAIN time
    # (cb > 0 ⇒ cu(w1) ≥ cb > 0, the join never drops rows) so scoring
    # needs one fewer join per corpus bigram
    bi = (
        _word_bigrams(train, [], text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
    )
    stats = uni.agg(
        F.sum("cu").alias("n_tokens"), F.count("*").alias("vocab")
    )
    return {"bi": bi, "uni": uni.filter(F.col("cu") >= min_count), "stats": stats}


def word_lm_score(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    model: dict[str, DataFrame],
    backoff: float = 0.4,
    broadcast_model: bool = True,
) -> DataFrame:
    """Average negative log stupid-backoff score per document:

        S(w2 | w1) = cb(w1 w2) / cu(w1)            if cb > 0
                   = 0.4 · (cu(w2) + 1) / (N + V)  otherwise

    (Brants et al. 2007 eq. 5 with the recommended α = 0.4; the
    unseen-word floor is add-one over the training token mass so OOV
    words score finitely — the same role KenLM's <unk> prob plays).
    Returns (id, n_bigrams, avg_neg_logp); docs with < 2 tokens drop.

    Scale shape: the model tables broadcast by default (Heaps'-small
    after count pruning — the same call the char model makes; pass
    ``broadcast_model=False`` when an unpruned trillion-token bigram
    table outgrows executor memory, and the joins fall back to hash
    equi-joins on the gram key that AQE can still convert).  cu(w1) is
    pre-joined into the bigram table at train time, so the per-bigram
    stream takes exactly two lookup joins; the (N, V) row cross-joins
    as a 1-row broadcast; per-bigram log-scores partially aggregate
    map-side, so the doc-level shuffle is one row per doc.
    """
    bg = _word_bigrams(docs, [id_col], text_col)
    uni2 = model["uni"].select(
        F.col("w").alias("__u2w"), F.col("cu").alias("cu2")
    )
    bi, u2 = model["bi"], uni2
    if broadcast_model:
        bi, u2 = F.broadcast(bi), F.broadcast(u2)
    scored = (
        bg.join(bi, ["w1", "w2"], "left")
        .join(u2, F.col("w2") == F.col("__u2w"), "left")
        .crossJoin(F.broadcast(model["stats"]))
        .select(
            F.col(id_col),
            F.log(
                F.when(
                    F.coalesce(F.col("cb"), F.lit(0)) > 0,
                    F.col("cb").cast("double") / F.col("cu1"),
                ).otherwise(
                    F.lit(backoff)
                    * (F.coalesce(F.col("cu2"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("n_tokens") + F.col("vocab"))
                )
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        (-F.avg("lp")).alias("avg_neg_logp"),
    )


def _token_shingle_hashes(df: DataFrame, keep_cols: list[str], text_col: str, n: int) -> DataFrame:
    """md5 of each n-token shingle, one row per position.  Tokens
    materialize into their own projection first (lambda-CSE rule)."""
    toks = df.select(
        *[F.col(c) for c in keep_cols],
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != F.lit("")
        ).alias("__t"),
    ).filter(F.size("__t") >= n)
    return toks.select(
        *[F.col(c) for c in keep_cols],
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - n),
                lambda i: F.md5(F.array_join(F.slice(F.col("__t"), i + 1, n), " ")),
            )
        ).alias("g"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    *,
    corpus_shingles: DataFrame | None = None,
    bench_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination (GPT-3/PaLM style): flag corpus
    documents sharing any n-token shingle with the benchmark set.

    Returns (id, n_hits) — corpus docs with ≥1 overlapping shingle and
    how many DISTINCT benchmark shingles they contain; the caller
    anti-joins the flagged ids out of the training mix.  Scale shape:
    benchmark suites are tiny next to the corpus, so the distinct
    benchmark-shingle set broadcasts and the corpus side is one scan +
    map-side semi-join — no corpus shuffle except the per-doc count.
    """
    # callers with a cached position-level (id, g) frame (one row per
    # shingle POSITION, same grammar) pass it via the keyword args and
    # skip the tokenize scans — value-identical by construction
    if bench_shingles is None:
        bench_shingles = _token_shingle_hashes(benchmark, [], text_col, n)
    bench_shingles = bench_shingles.select("g").distinct()
    if corpus_shingles is None:
        corpus_shingles = _token_shingle_hashes(corpus, [id_col], text_col, n)
    return (
        corpus_shingles.join(F.broadcast(bench_shingles), "g")
        .groupBy(id_col)
        .agg(F.count_distinct("g").alias("n_hits"))
    )


def _rate_threshold_hex(p: float) -> str:
    """Map a sampling rate to a 15-hex-digit threshold.

    A row is kept iff the first 15 hex chars of its salted md5 compare
    lexicographically below the threshold — hex-string order equals
    numeric order at equal width, so P(keep) = p to within 16^-15.
    p >= 1 returns 'g', which sorts above every hex string (keep all).
    """
    if p < 0 or p != p:
        raise ValueError(f"rate must be in [0, 1], got {p}")
    if p >= 1.0:
        return "g"
    return format(int(p * 16**15), "015x")


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    id_col: str,
    salt: str = "mix",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling for training-mix construction.

    Keeps each row with probability ``rates[stratum]`` (``default_rate``
    for unlisted strata), decided by comparing the salted md5 of the
    row id against a per-stratum hex threshold.  Pure expressions: a
    literal map lookup plus one string compare — no shuffle, no RNG
    state, and the SAME rows are kept on every engine and every rerun
    (change ``salt`` to draw an independent sample).  This is the
    standard way to up/down-weight languages or quality tiers when
    assembling a training mix at 10^12 documents: the decision is local
    to the row, so it composes with any upstream filter at scan speed.
    """
    return df.filter(
        stratified_keep_expr(stratum_col, rates, id_col, salt, default_rate)
    )


def stratified_keep_expr(
    stratum_col: str,
    rates: dict[str, float],
    id_col: str,
    salt: str = "mix",
    default_rate: float = 0.0,
) -> Column:
    """The keep predicate behind :func:`stratified_sample`, exposed so
    labeling passes (e.g. ``curation.label_drop_reasons``) can evaluate
    the mix decision as a column without filtering."""
    pairs: list[Column] = []
    for k, v in sorted(rates.items()):
        pairs.extend([F.lit(k), F.lit(_rate_threshold_hex(v))])
    thr = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(stratum_col)),
        F.lit(_rate_threshold_hex(default_rate)),
    )
    key = F.substring(
        F.md5(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))), 1, 15
    )
    return key < thr


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    stratum_col: str | None = None,
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (top-k per
    stratum), via the Efraimidis–Spirakis A-ES key: each row draws
    ``u ∈ (0,1)`` from its salted md5 and ranks by ``u^(1/weight)`` —
    the k largest keys are a weighted sample without replacement, the
    distributed-systems standard because the decision needs ONE pass
    and no shared RNG state.  Where :func:`stratified_sample` keeps
    rows at a per-stratum *rate*, this keeps an exact per-stratum
    *count* biased by a per-row weight (quality score, token count) —
    the "pick the best N docs per language, weight by quality" step of
    a training-mix build.

    Determinism / engine parity: ``u`` is a 60-bit md5 integer mapped
    into (0,1); the ranking key is ``round(u^(1/w), 9)`` with the row
    id as tie-break, so both the sample AND its order reproduce on any
    engine (the rounding absorbs last-ulp ``pow`` differences between
    libm implementations; a collision on a 9-dp key falls back to the
    id order, still deterministic).

    Scale shape: key computation is scan-side expression work; the
    top-k per stratum is one window over the stratum partition —
    rank(k) never materializes a global sort.  Weights must be > 0
    (rows with NULL or non-positive weight are dropped, not sampled).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    # u in (0,1) exclusive: (h+1) / (2^60 + 1)
    u = (h + F.lit(1)).cast("double") / F.lit(float((1 << 60) + 1))
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 9
    ).alias("sample_key")
    part = [stratum_col] if stratum_col is not None else []
    w = Window.partitionBy(*part).orderBy(
        F.desc("sample_key"), F.col(id_col).asc()
    )
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .select("*", key)
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def canonicalize_url(url: Column) -> Column:
    """Crawl-style URL canonicalization as pure column expressions.

    lowercases scheme+host+path, strips the fragment and any trailing
    slash on the path, drops tracking params (``utm_*``, ``ref=``), and
    sorts the surviving query params — so syntactic variants of one
    resource collapse to a single dedup key.  Expression-only: safe to
    apply inside the 10^12-row scan before the url-hash bucketing.
    """
    no_frag = F.regexp_replace(url, "#.*$", "")
    base = F.regexp_replace(F.lower(F.substring_index(no_frag, "?", 1)), "/$", "")
    # query = everything after the FIRST '?': a second '?' is a literal
    # inside a param value (e.g. ?x=1&redirect=https://o.com/a?b=2,
    # common in crawl data) and must stay with its param — splitting on
    # the LAST '?' would drop every real param for such URLs.
    query = F.when(
        no_frag.contains("?"), F.substr(no_frag, F.instr(no_frag, "?") + 1)
    ).otherwise(F.lit(""))
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != F.lit(""))
            & ~p.startswith("utm_")
            & ~p.startswith("ref="),
        )
    )
    qs = F.array_join(kept, "&")
    return F.when(qs != "", F.concat(base, F.lit("?"), qs)).otherwise(base)


#: Deterministic public-suffix snapshot (publicsuffix.org, abridged to
#: the entries the corpus + tests exercise; the full list is a config
#: swap).  Multi-label rules matter: the registrable domain under
#: "a.co.uk" is "a.co.uk"-minus-nothing only if "co.uk" is a suffix —
#: naive last-two-labels grouping would merge every .co.uk site into
#: one "domain".  Unlisted TLDs fall back to the PSL's implicit "*"
#: rule (the last label alone acts as the suffix).
PUBLIC_SUFFIX_SNAPSHOT = (
    "co.uk ac.uk gov.uk org.uk com.au net.au org.au co.jp or.jp ne.jp "
    "com.br com.cn com.mx co.in co.za github.io gitlab.io blogspot.com "
    "herokuapp.com pages.dev"
).split()


def registered_domain(
    host: Column, suffixes: list[str] | None = None
) -> Column:
    """eTLD+1 (registrable domain) of a hostname — pure expressions.

    Longest public-suffix match over an embedded snapshot, evaluated as
    a CASE over the host's last-2/-3 label tails against literal IN
    lists: zero joins, zero shuffles, safe inside the 10^12-row scan
    (the PSL is ~10k rules in production — still an ``isin`` literal
    set or a broadcast map, never a shuffle).  Tails come from anchored
    regexes (``([^.]+\\.[^.]+)$``), identical RE2-portable semantics in
    Spark and DuckDB.  A host EQUAL to a public suffix has no
    registrable domain → NULL (PSL rule); unknown TLDs use the PSL's
    implicit "*" fallback (last label = suffix, so eTLD+1 = last two
    labels).
    """
    sufs = PUBLIC_SUFFIX_SNAPSHOT if suffixes is None else suffixes
    s2 = [s for s in sufs if s.count(".") == 1]
    s3 = [s for s in sufs if s.count(".") == 2]
    h = F.lower(host)
    n = F.size(F.split(h, "\\."))
    t2 = F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1)
    t3 = F.regexp_extract(h, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    t4 = F.regexp_extract(h, r"([^.]+\.[^.]+\.[^.]+\.[^.]+)$", 1)
    out = F.when((n >= 4) & t3.isin(s3), t4) if s3 else None
    steps = [
        ((n == 3) & t3.isin(s3), F.lit(None).cast("string")) if s3 else None,
        ((n >= 3) & t2.isin(s2), t3) if s2 else None,
        ((n == 2) & t2.isin(s2), F.lit(None).cast("string")) if s2 else None,
        (n >= 2, t2),  # implicit "*" rule: last label is the suffix
    ]
    for cond, val in [s for s in steps if s is not None]:
        out = out.when(cond, val) if out is not None else F.when(cond, val)
    return out.otherwise(F.lit(None).cast("string"))


def latest_per_url(pages: DataFrame, url_col: str = "url", ts_col: str = "warc_ts") -> DataFrame:
    """Keep the newest capture per canonical URL.

    Returns (canonical_url, url, warc_ts, n_captures).  One window over
    the canonical key; in the pipeline's url-hash-bucketed layout the
    partitioning already co-locates the key, so no extra shuffle.
    Ties on timestamp break to the lexicographically smallest raw url
    for determinism.
    """
    canon = canonicalize_url(F.col(url_col)).alias("canonical_url")
    w = Window.partitionBy("canonical_url").orderBy(
        F.col(ts_col).desc(), F.col(url_col).asc()
    )
    return (
        pages.select(canon, F.col(url_col), F.col(ts_col))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_captures", F.count("*").over(Window.partitionBy("canonical_url")))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


#: Gopher §A1.1 "must contain at least two of" stop words.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def domain_token_kl(
    df: DataFrame, domain_col: str, text_col: str
) -> DataFrame:
    """Per-domain token-distribution divergence from the corpus: KL(
    domain ‖ corpus) over unigram frequencies — the mixture diagnostic
    behind DoReMi/DSIR-style domain reweighting (a domain whose token
    distribution sits far from the corpus mean is up/down-weighted
    first, and a divergence spike flags scraped boilerplate or a
    mis-tagged source).

    Scale shape: one (domain, token)-keyed count aggregation (map-side
    partials) over the exploded token stream, a token-keyed global
    rollup DERIVED from those counts (vocab-bounded, not corpus-
    bounded), one join back on the
    token key (the global table is vocab-sized — never broadcast),
    one domain rollup.  Only
    tokens the domain actually contains contribute (p·ln(p/q) with
    p>0, and q>0 always since global counts include the domain's own).

    Returns (domain, n_tokens, n_distinct_tokens, kl_nats) with the
    divergence rounded to 6 — float ln both engines compute identically
    at that precision.
    """
    toks = df.select(
        F.col(domain_col).alias("domain"),
        F.explode(_words(F.col(text_col))).alias("tok"),
    )
    per = toks.groupBy("domain", "tok").agg(F.count("*").alias("c")).persist()
    per.count()  # eager (fork rule): four subtrees below read this cache
    dom_tot = per.groupBy("domain").agg(
        F.sum("c").alias("dn"), F.count("*").alias("n_distinct")
    )
    glob = per.groupBy("tok").agg(F.sum("c").alias("g"))
    corpus_n = per.select(F.sum("c").alias("N"))
    out = (
        # glob is VOCAB-sized (every distinct token) — shuffled hash
        # join on tok; only the |domains|-row and scalar frames broadcast
        per.join(glob, "tok")
        .join(F.broadcast(dom_tot), "domain")
        .crossJoin(F.broadcast(corpus_n))
        .select(
            "domain",
            "dn",
            "n_distinct",
            (
                (F.col("c") / F.col("dn"))
                * F.log((F.col("c") / F.col("dn")) / (F.col("g") / F.col("N")))
            ).alias("term"),
        )
        .groupBy("domain")
        .agg(
            F.first("dn").alias("n_tokens"),
            F.first("n_distinct").alias("n_distinct_tokens"),
            F.round(F.sum("term"), 6).alias("kl_nats"),
        )
    )
    return out


def threshold_sweep(
    df: DataFrame,
    strat_col: str,
    value_col: str,
    thresholds: list[int],
) -> DataFrame:
    """Survivor counts for a whole threshold grid in ONE corpus scan —
    the filter-calibration sweep every curation run does before picking
    cutoffs.  The naive approach rescans the corpus per candidate
    threshold; this computes each doc's passed-threshold count (a
    per-row expression), aggregates once to a ≤ |strata|·(|T|+1)-row
    bucket histogram, and reads every survivor count off the
    histogram's suffix sums — so sweeping 100 thresholds costs the
    same single scan as sweeping one.

    Returns (strat, threshold, n_survivors) for every combination with
    at least one survivor: ``n_survivors`` = docs in the stratum with
    ``value_col >= threshold``.  ``thresholds`` must be ascending.
    """
    ts = [int(t) for t in thresholds]
    if ts != sorted(ts) or len(set(ts)) != len(ts):
        raise ValueError(f"thresholds must be strictly ascending, got {thresholds}")
    spark = df.sparkSession
    # bucket = how many thresholds the doc passes (0..|T|) — monotone,
    # so survivors(T[j]) = sum of buckets > j
    bucket = sum(
        (F.col(value_col) >= t).cast("int") for t in ts
    )
    counts = (
        df.select(F.col(strat_col).alias("strat"), bucket.alias("bucket"))
        .groupBy("strat", "bucket")
        .agg(F.count("*").alias("n"))
    )
    grid = spark.createDataFrame(
        [(j, t) for j, t in enumerate(ts)], "j int, threshold int"
    )
    # tiny-frame theta join: |strata|·(|T|+1) histogram rows × |T| grid
    return (
        counts.join(F.broadcast(grid), F.col("bucket") > F.col("j"))
        .groupBy("strat", "threshold")
        .agg(F.sum("n").alias("n_survivors"))
    )


def gopher_quality_gate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The full Gopher document-quality rule set (Rae et al. 2021
    §A1.1) as one scan-side projection: per-document signals plus the
    composed ``keep`` flag.  Defaults are the paper's published
    thresholds.

    Signals: word count bounds, mean word length bounds, symbol-to-word
    ratio ('#' and '…'/'...'), bullet-started and ellipsis-ended line
    fractions, fraction of words containing ≥1 alphabetic char, and the
    ≥2-of-8 stop-word requirement.  Pure column expressions — no
    shuffle, no UDF; at 10^12 documents this is a free rider on the
    extraction scan.  Float signals round to 6 dp so the DuckDB oracle
    hash-matches.
    """
    t = F.col(text_col)
    base = docs.select(F.col(id_col), _words(t).alias("__w"), t.alias("__t"))
    w, t2 = F.col("__w"), F.col("__t")
    nw = F.size(w)
    sig = base.select(
        F.col(id_col),
        nw.alias("n_words"),
        F.when(
            nw > 0,
            F.aggregate(w, F.lit(0), lambda a, x: a + F.length(x)) / nw,
        ).otherwise(F.lit(0.0)).alias("mean_word_len"),
        F.when(
            nw > 0,
            (
                F.regexp_count(t2, F.lit(r"#"))
                + F.regexp_count(t2, F.lit(r"\.\.\.|…"))
            ) / nw,
        ).otherwise(F.lit(0.0)).alias("symbol_word_ratio"),
        _line_frac(t2, prefix=True).alias("bullet_line_frac"),
        _line_frac(t2, prefix=False).alias("ellipsis_line_frac"),
        F.when(
            nw > 0,
            F.size(F.filter(w, lambda x: x.rlike("[a-z]"))) / nw,
        ).otherwise(F.lit(0.0)).alias("alpha_word_frac"),
        F.size(
            F.filter(w, lambda x: x.isin(*GOPHER_STOPWORDS))
        ).cast("long").alias("n_stop_hits"),
    )
    rounded = sig.select(
        F.col(id_col),
        F.col("n_words").cast("long").alias("n_words"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_word_ratio", 6).alias("symbol_word_ratio"),
        F.round("bullet_line_frac", 6).alias("bullet_line_frac"),
        F.round("ellipsis_line_frac", 6).alias("ellipsis_line_frac"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        F.col("n_stop_hits"),
    )
    return rounded.withColumn(
        "keep",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("n_stop_hits") >= min_stop_hits),
    )


def _line_frac(text: Column, prefix: bool) -> Column:
    """Fraction of non-empty trimmed lines starting with a bullet
    (prefix=True) or ending with an ellipsis (prefix=False)."""
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    nl = F.size(lines)
    if prefix:
        hits = F.filter(
            lines,
            lambda x: x.startswith("- ") | x.startswith("* ") | x.startswith("• "),
        )
    else:
        hits = F.filter(lines, lambda x: x.endswith("...") | x.endswith("…"))
    return F.when(nl > 0, F.size(hits) / nl).otherwise(F.lit(0.0))


def politeness_schedule(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    min_delay_sec: float = 5.0,
    delays: DataFrame | None = None,
) -> DataFrame:
    """Per-host crawl politeness scheduling: the earliest fetch time for
    every url given at most one request per ``min_delay_sec`` per host
    — the frontier-scheduler pass a recrawl pipeline runs before
    dispatching 10^12 fetches.

    The queue recurrence sched_i = max(ready_i, sched_{i-1} + d) is
    rewritten as sched_i = i·d + running_max_{j≤i}(ready_j − j·d), so
    the whole schedule is ONE cumulative window max per host — no
    iteration, no UDF; hosts partition the single shuffle and a hot
    host's schedule is a sequential scan of its own rows only.

    Returns (url, host, ready_epoch, sched_epoch, wait_sec) with epochs
    as double seconds (rounded to 6 dp for cross-engine parity).
    """
    host = F.regexp_extract(F.col(url_col), "^[a-z]+://([^/]+)", 1)
    w = Window.partitionBy("host").orderBy(F.col(ts_col).asc(), F.col(url_col).asc())
    staged = pages.select(
        host.alias("host"),
        F.col(url_col),
        F.col(ts_col),
        # NTZ → TIMESTAMP (session tz is pinned UTC) → double seconds;
        # a direct NTZ→double cast is rejected by Spark 4
        F.col(ts_col).cast("timestamp").cast("double").alias("ready_epoch"),
    )
    if delays is not None:
        # per-host Crawl-delay (parse_crawl_delays): d is constant
        # within each host partition, so the same window recurrence
        # rewrite applies unchanged — the delays frame is directive-
        # sized and broadcasts
        staged = staged.join(F.broadcast(delays), "host", "left").withColumn(
            "__d", F.coalesce(F.col("crawl_delay"), F.lit(min_delay_sec))
        )
    else:
        staged = staged.withColumn("__d", F.lit(min_delay_sec))
    staged = staged.withColumn("rn", F.row_number().over(w))
    adj = (F.col("ready_epoch") - F.col("rn") * F.col("__d")).alias("adj")
    staged = staged.withColumn("adj", adj)
    run_max = F.max("adj").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sched = F.col("rn") * F.col("__d") + run_max
    return staged.select(
        F.col(url_col),
        "host",
        F.round("ready_epoch", 6).alias("ready_epoch"),
        F.round(sched, 6).alias("sched_epoch"),
        F.round(sched - F.col("ready_epoch"), 6).alias("wait_sec"),
    )


def fair_crawl_budget(
    hosts: DataFrame,
    host_col: str,
    demand_col: str,
    budget: float,
    alloc_col: str = "alloc",
) -> DataFrame:
    """Max-min fair (water-filling) crawl-budget allocation: split a
    global fetch budget across hosts so that ``alloc_i = min(d_i, cap)``
    with the water level ``cap`` solving ``Σ min(d_i, cap) = budget`` —
    no host starves, and spare capacity from small hosts flows to big
    ones (the allocator a 10^12-url frontier runs before dispatch;
    pairs with :func:`politeness_schedule`, which spends the per-host
    allocation over time).

    Closed form instead of binary-search passes: order hosts by demand
    ascending.  With ``S_{i-1}`` the exclusive prefix sum and rank
    ``i``, host i is fully satisfiable iff ``S_{i-1} + d_i·(n−i+1) ≤
    B``; that test is monotone in i (difference ``(n−i)(d_{i+1}−d_i) ≥
    0``), so the satisfied hosts form a rank-prefix of size k and
    ``cap = (B − S_k)/(n − k)`` when k < n.  Ties in demand are
    harmless: swapping equal demands changes neither any ``f(i)`` value
    nor (k, S_k).

    Physical plan: ONE range shuffle of the host-level frame through
    the shared two-phase prefix core (``with_rank=True`` — prefix sum
    and global rank from the same window pass, no single-partition
    sort), then a two-scalar aggregate over the satisfied prefix; the
    water level broadcasts back as a literal.  The host frame is
    pre-aggregated (≈10^8 rows at 10^12 urls), never the url table.
    """
    from .packing import _exclusive_prefix

    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    n = hosts.count()
    order = [F.col(demand_col).asc(), F.col(host_col).asc()]
    pref = _exclusive_prefix(
        hosts.select(host_col, F.col(demand_col).cast("long").alias(demand_col)),
        order,
        demand_col,
        with_rank=True,
    )
    sat = (
        pref.filter(
            F.col("__pfx")
            + F.col(demand_col) * (F.lit(n) - F.col("__rank") + 1)
            <= F.lit(float(budget))
        )
        .agg(F.count("*").alias("k"), F.coalesce(F.sum(demand_col), F.lit(0)).alias("sk"))
        .first()
    )
    k, s_k = int(sat["k"]), float(sat["sk"])
    alloc = F.col(demand_col).cast("double")
    if k < n:
        cap = (float(budget) - s_k) / (n - k)
        alloc = F.least(alloc, F.lit(cap))
    return pref.select(
        F.col(host_col),
        F.col(demand_col),
        F.round(alloc, 6).alias(alloc_col),
    )


def apply_host_caps(
    urls: DataFrame,
    host_col: str,
    caps: DataFrame,
    cap_col: str = "alloc",
    priority_cols: list | None = None,
) -> DataFrame:
    """Enforce per-host fetch caps on a url frontier: keep the top
    ``floor(cap)`` urls of each host under ``priority_cols`` (a TOTAL
    order — include a url tiebreaker), dropping the rest.  The
    companion of :func:`fair_crawl_budget`: that computes how many
    fetches each host deserves; this selects WHICH urls spend them.

    Plan shape: the caps frame is host-level (small) and broadcasts;
    the frontier shuffles once on host for a per-host ``row_number``.
    A Zipf-hot host makes its window task scan that host's rows alone —
    at 10^12 urls prefilter hot hosts approximately first
    (:func:`stratified_keep_expr` with rate ≈ cap/demand, keeping ~2×
    cap) so the exact window sorts a bounded candidate set, the same
    coarse-then-exact shape as the ANN and near-dup operators.
    """
    if priority_cols is None:
        raise ValueError("priority_cols must give a total per-host order")
    w = Window.partitionBy(host_col).orderBy(*priority_cols)
    return (
        urls.join(
            F.broadcast(caps.select(host_col, F.col(cap_col))), host_col
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.floor(F.col(cap_col)))
        .drop("__rn", cap_col)
    )


def parse_sitemaps(
    sitemaps: DataFrame, host_col: str = "host", xml_col: str = "sitemap_xml"
) -> DataFrame:
    """Sitemap.xml → one row per <url> entry: (host, loc, lastmod,
    changefreq, priority) — the crawl-frontier seed that pairs with
    ``parse_robots``/``politeness_schedule`` (robots says what MAY be
    fetched, the sitemap says what the site WANTS fetched and how
    stale it is).

    Expression-only: non-greedy ``<url>…</url>`` block extraction, then
    per-block tag pulls — zero Python, zero shuffle, one projection per
    sitemap row; absent optional tags are '' (priority defaults to
    0.5 per the protocol).  A 10^12-page crawl parses sitemaps as just
    another scan-side column transform.
    """
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?s)<url>(.*?)</url>"), 1
    )
    tag = lambda b, t: F.regexp_extract(b, f"<{t}>\\s*([^<]*?)\\s*</{t}>", 1)
    out = sitemaps.select(
        F.col(host_col).alias("host"),
        F.explode(blocks).alias("__b"),
    ).select(
        "host",
        tag(F.col("__b"), "loc").alias("loc"),
        # absent optional tags stay '' (not NULL): frontier consumers
        # treat unknown staleness as empty, and the row stays totally
        # orderable for cross-engine value compares
        tag(F.col("__b"), "lastmod").alias("lastmod"),
        tag(F.col("__b"), "changefreq").alias("changefreq"),
        F.coalesce(
            F.nullif(tag(F.col("__b"), "priority"), F.lit("")).cast("double"),
            F.lit(0.5),
        ).alias("priority"),
    )
    return out.filter(F.col("loc") != "")


def parse_robots(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """Parse robots.txt bodies into prefix rules (RFC 9309, the
    ``User-agent: *`` groups): returns (host, allow boolean, prefix,
    plen) — one row per Allow/Disallow line in a star group.

    Expression-only line grammar: comments stripped, directives
    case-insensitive, group id = running count of ``User-agent`` lines
    per host (one UA line per group — the layout crawler fixtures and
    most real files use; stacked-UA groups collapse to their last
    line).  Empty-value Disallow ("allow everything") contributes no
    rule, per the RFC.
    """
    grouped = _robots_star_directives(robots, host_col, text_col)
    return grouped.filter(
        F.col("d").isin("allow", "disallow") & (F.col("v") != "")
    ).select(
        "host",
        (F.col("d") == "allow").alias("allow"),
        F.col("v").alias("prefix"),
        F.length("v").alias("plen"),
    )


def _robots_star_directives(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """(host, d, v) directive rows from the ``User-agent: *`` groups —
    the shared line grammar behind :func:`parse_robots` (Allow/
    Disallow) and :func:`parse_crawl_delays` (Crawl-delay)."""
    grouped = _robots_grouped(robots, host_col, text_col)
    star_groups = (
        grouped.filter((F.col("d") == "user-agent") & (F.col("v") == "*"))
        .select("host", "grp")
        .distinct()
    )
    return grouped.join(star_groups, ["host", "grp"])


def robots_rules_for_agent(
    robots: DataFrame,
    agent: str,
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Allow/Disallow prefix rules from the group that APPLIES to
    ``agent`` per RFC 9309 §2.2.1: among groups whose User-agent
    product token is a case-insensitive prefix of the crawler's UA
    string, the LONGEST token wins; ``*`` matches with score 0 (the
    fallback); groups for other bots are ignored.  Groups tying on the
    best score merge (the RFC's identical-UA merge).  A host whose
    robots.txt names only other bots yields no rules — i.e. fully
    allowed, exactly like a host with no robots.txt.

    Same output shape as :func:`parse_robots` (host, allow, prefix,
    plen), so :func:`robots_filter` consumes either.  The group-select
    is one tiny aggregate over UA lines (robots tables are directive-
    sized); nothing here touches the frontier.
    """
    g = _robots_grouped(robots, host_col, text_col)
    ua = g.filter(F.col("d") == "user-agent").select(
        "host",
        "grp",
        F.when(F.col("v") == "*", F.lit(0))
        .when(
            F.lit(agent.lower()).startswith(F.lower(F.col("v"))),
            F.length("v"),
        )
        .alias("score"),
    )
    best = (
        ua.filter(F.col("score").isNotNull())
        .groupBy("host")
        .agg(F.max("score").alias("ms"))
    )
    chosen = (
        ua.join(best, "host")
        .filter(F.col("score") == F.col("ms"))
        .select("host", "grp")
        .distinct()
    )
    return (
        g.join(chosen, ["host", "grp"])
        .filter(F.col("d").isin("allow", "disallow") & (F.col("v") != ""))
        .select(
            "host",
            (F.col("d") == "allow").alias("allow"),
            F.col("v").alias("prefix"),
            F.length("v").alias("plen"),
        )
    )


def _robots_grouped(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """(host, ln, d, v, grp) directive rows with window-numbered
    groups — the line grammar shared by the star-group readers and the
    per-agent group selection."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("ln", "raw"),
    ).select(
        "host",
        "ln",
        F.trim(F.regexp_replace(F.col("raw"), "#.*$", "")).alias("line"),
    ).filter(F.col("line") != "")
    parsed = lines.select(
        "host",
        "ln",
        F.lower(F.trim(F.substring_index(F.col("line"), ":", 1))).alias("d"),
        F.trim(F.substr(F.col("line"), F.instr(F.col("line"), ":") + 1)).alias("v"),
    ).filter(F.instr(F.col("line"), ":") > 0)
    w = Window.partitionBy("host").orderBy("ln")
    return parsed.withColumn(
        "grp", F.sum(F.when(F.col("d") == "user-agent", 1).otherwise(0)).over(w)
    )


def parse_robots_sitemaps(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """(host, sitemap_url) from ``Sitemap:`` records — per RFC 9309 §2.3
    / sitemaps.org these are NON-group fields: they apply regardless of
    any User-agent group and may appear anywhere in the file, so this
    reads ALL directive rows (no star-group join).  Values must be
    absolute http(s) URLs per the protocol; relative or schemeless
    values are dropped.  Distinct per (host, url) — repeated
    declarations collapse.

    This is the crawl-frontier DISCOVERY hook: robots.txt is the one
    file a crawler always fetches first, so its Sitemap records are how
    new sitemaps (and through them new URLs) enter `parse_sitemaps`'
    pipeline without any link-graph traversal.
    """
    g = _robots_grouped(robots, host_col, text_col)
    return (
        g.filter(
            (F.col("d") == "sitemap")
            & (
                F.lower(F.col("v")).startswith("http://")
                | F.lower(F.col("v")).startswith("https://")
            )
        )
        .select("host", F.col("v").alias("sitemap_url"))
        .distinct()
    )


def canonical_consolidate(
    pages: DataFrame, url_col: str, canon_col: str
) -> DataFrame:
    """rel=canonical consolidation — collapse duplicate captures onto
    their declared canonical target, the way indexing pipelines do
    (one hop, loops distrusted):

    - absent ('') or self-pointing canonical → relation 'self', the
      page represents itself;
    - target captured and itself self-canonical → 'consolidated';
    - target captured but declaring a FURTHER non-self canonical →
      'chained' (still collapsed one hop — chains are followed one
      link and flagged, never walked: a 10^12-page job cannot iterate
      on webmaster-supplied pointers, and indexers distrust them too);
    - mutual A⇄B loop → 'loop_ignored', page keeps itself (the
      Google-documented behavior for canonical loops);
    - target never captured → 'external_target' (rep = the declared
      url; the capture can't be verified this snapshot).

    Returns (url, canonical_rep, relation).  Scale shape: ONE self
    equi-join of the (url, canonical) projection on the url key — the
    same url-hash key the pipeline buckets by, so in the bucketed
    layout the join is co-located and shuffle-free; no iteration ever.
    """
    base = pages.select(F.col(url_col).alias("url"), F.col(canon_col).alias("canon"))
    tgt = base.select(
        F.col("url").alias("__t_url"), F.col("canon").alias("__t_canon")
    )
    j = base.join(tgt, base["canon"] == tgt["__t_url"], "left")
    is_self = (F.col("canon") == "") | (F.col("canon") == F.col("url"))
    relation = (
        F.when(is_self, F.lit("self"))
        .when(F.col("__t_url").isNull(), F.lit("external_target"))
        .when(F.col("__t_canon") == F.col("url"), F.lit("loop_ignored"))
        .when(
            (F.col("__t_canon") != "") & (F.col("__t_canon") != F.col("__t_url")),
            F.lit("chained"),
        )
        .otherwise(F.lit("consolidated"))
    )
    rep = (
        F.when(is_self | (relation == "loop_ignored"), F.col("url"))
        .otherwise(F.col("canon"))
    )
    return j.select(
        "url", rep.alias("canonical_rep"), relation.alias("relation")
    )


def parse_crawl_delays(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """(host, crawl_delay) from the star groups' ``Crawl-delay``
    directives (the de-facto extension every large crawler honours).
    Multiple values per host take the MAXIMUM — the conservative
    (politest) reading; malformed numbers are ignored."""
    g = _robots_star_directives(robots, host_col, text_col)
    return (
        g.filter(F.col("d") == "crawl-delay")
        .select("host", F.col("v").cast("double").alias("cd"))
        .filter(F.col("cd").isNotNull())
        .groupBy("host")
        .agg(F.max("cd").alias("crawl_delay"))
    )


def robots_filter(
    urls: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Apply parsed robots rules to a URL frontier: per url, the
    longest-prefix-matching rule decides (ties break to Allow, per
    RFC 9309 §2.2.2); no matching rule — or no robots.txt for the
    host — means allowed.

    Returns (url, host, allowed, matched_prefix).  Scale shape: the
    rules table is tiny next to the frontier (one row per directive
    line on the web), so it broadcasts; the frontier is scanned once
    and the longest-match resolution is a per-url max over its own
    matched rules, partially aggregated map-side.
    """
    host = F.regexp_extract(F.col(url_col), "^[a-z]+://([^/]+)", 1)
    path_raw = F.regexp_replace(F.col(url_col), "^[a-z]+://[^/]*", "")
    path = F.when(path_raw == "", "/").otherwise(path_raw)
    frontier = urls.select(
        F.col(url_col), host.alias("host"), path.alias("path")
    )
    r = rules.select(
        F.col("host").alias("r_host"), "allow", "prefix", "plen"
    )
    # the match predicate lives in the JOIN condition, not a post-join
    # filter: a host that HAS robots but no matching rule must keep its
    # all-null row (allowed), not vanish from the frontier
    matched = (
        frontier.join(
            F.broadcast(r),
            (F.col("host") == F.col("r_host"))
            & F.col("path").startswith(F.col("prefix")),
            "left",
        )
        .groupBy(url_col, "host")
        .agg(
            F.max_by(
                F.struct(F.col("allow"), F.col("prefix")),
                # longest prefix wins; equal length -> Allow wins.
                # scalar key (plen*2 + allow) instead of a struct key:
                # DuckDB's arg_max can't order by STRUCT, and the twin
                # oracle must use the identical ordering
                F.coalesce(F.col("plen"), F.lit(-1)) * 2
                + F.coalesce(F.col("allow").cast("int"), F.lit(0)),
            ).alias("best"),
        )
    )
    return matched.select(
        F.col(url_col),
        "host",
        F.coalesce(F.col("best.allow"), F.lit(True)).alias("allowed"),
        F.col("best.prefix").alias("matched_prefix"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    fp_col: str,
) -> DataFrame:
    """Crawl-snapshot CDC: classify every key across two snapshots as
    ``added`` / ``removed`` / ``changed`` / ``unchanged``.

    ``fp_col`` is a content fingerprint (sha2/md5 of the extracted
    text), so the diff never compares — or shuffles — page bodies, only
    keys and 32-byte digests.  Returns (key, status, fp_old, fp_new).

    Scale shape: one full-outer equi-join on the snapshot key.  In the
    pipeline's Iceberg layout both snapshots are bucketed by
    ``bucket(N, url_hash)``, so the join is storage-partitioned and
    shuffle-free; incremental crawls diff only the buckets whose
    manifests changed.  The pipeline's resume anti-join makes the
    same "re-extract or skip" call for a new crawl against the
    committed corpus.
    """
    o = old.select(
        F.col(key_col).alias("__k"), F.col(fp_col).alias("fp_old")
    )
    n = new.select(
        F.col(key_col).alias("__k"), F.col(fp_col).alias("fp_new")
    )
    return (
        o.join(n, "__k", "full_outer")
        .select(
            F.col("__k").alias(key_col),
            F.when(F.col("fp_old").isNull(), F.lit("added"))
            .when(F.col("fp_new").isNull(), F.lit("removed"))
            .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("status"),
            "fp_old",
            "fp_new",
        )
    )


def url_path_templates(
    pages: DataFrame,
    url_col: str = "url",
    min_urls: int = 10,
) -> DataFrame:
    """Crawler-trap detection: collapse URLs to path *templates* and
    flag templates that explode into many distinct URLs.

    Calendar pages, paginated archives, session-id paths and other
    infinite URL spaces dominate naive frontier growth (IRLbot, Lee et
    al. 2009; Common Crawl's url-frontier heuristics).  The template
    replaces digit runs with ``N`` and ≥8-char lower-hex runs with
    ``H`` (session tokens / content hashes), keeping scheme+host+path
    shape.  Returns (template, n_urls, example_url) for templates with
    ``n_urls ≥ min_urls`` — the blocklist a frontier consults before
    enqueueing.

    Expression-only scan (two regexp_replace) + one hash aggregation on
    the template string; the regexes are RE2-portable so the DuckDB
    twin computes the identical template.
    """
    t = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(url_col)), "[0-9]+", "N"),
        "\\b[a-f]{8,}\\b",
        "H",
    )
    return (
        pages.select(F.col(url_col), t.alias("template"))
        .groupBy("template")
        .agg(
            F.count("*").alias("n_urls"),
            F.min(url_col).alias("example_url"),
        )
        .filter(F.col("n_urls") >= min_urls)
    )


def dsir_importance(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling").

    Fits two bag-of-hashed-bigram unigram models — one on the *target*
    distribution (the high-quality corpus you want more of), one on the
    *raw* corpus — and scores every raw document with the
    log-likelihood ratio  Σ_g [log p_target(b(g)) − log p_raw(b(g))]
    over its bigram occurrences.  Documents that look like the target
    get positive weights; Gumbel-top-k / threshold sampling on the
    weight column then draws the training subset (compose with
    ``weighted_sample``).

    Hashed features: bucket = first two hex chars of md5(bigram) — 256
    buckets, engine-portable (the DuckDB twin computes the identical
    bucket), add-alpha smoothed.  Scale shape: both models are
    256-row aggregates (map-side partial, broadcast back); the corpus
    pays one bigram explode and a one-row-per-doc final shuffle —
    the same layout as ``lm_score``.

    Returns (id, n_bigrams, log_ratio) with log_ratio rounded to 6 dp
    (the cross-engine float-compare grid).
    """
    n_buckets = 256

    def buckets(df: DataFrame, keep: list[str]) -> DataFrame:
        g = _token_shingle_hashes(df, keep, text_col, 2)
        return g.select(*keep, F.substring("g", 1, 2).alias("b"))

    def model(df: DataFrame, total_name: str) -> DataFrame:
        return buckets(df, []).groupBy("b").agg(
            F.count("*").alias(total_name)
        )

    tgt = model(target, "ct")
    raw = model(corpus, "cr")
    # totals as 1-row frames joined by cross broadcast (scalar-sized)
    tot_t = tgt.agg(F.sum("ct").alias("nt"))
    tot_r = raw.agg(F.sum("cr").alias("nr"))
    occ = buckets(corpus, [id_col])
    scored = (
        occ.join(F.broadcast(tgt), "b", "left")
        .join(F.broadcast(raw), "b", "left")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(alpha))
                    / (F.col("nt") + F.lit(alpha * n_buckets))
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(alpha))
                    / (F.col("nr") + F.lit(alpha * n_buckets))
                )
            ).alias("lr"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum("lr"), 6).alias("log_ratio"),
    )


def nfc_normalize(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unicode NFC normalization — the first stage of every CCNet-style
    curation run (decomposed accents, compatibility codepoints like
    U+212B ANGSTROM SIGN, and mixed-form crawl text must collapse to
    one canonical byte form BEFORE any hashing/dedup, or the same
    visible text dedups into different buckets).

    Spark has no built-in normalizer, so this is the sanctioned slow
    path: an Arrow-batched pandas UDF over ``unicodedata.normalize``
    — one projection, no shuffle, and the UDF is the only Python in
    the plan.  DuckDB's ``nfc_normalize`` (utf8proc) is the oracle
    twin; both implement Unicode canonical composition, so outputs are
    byte-identical.

    Returns the input with ``text_nfc`` appended.
    """
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return docs.withColumn("text_nfc", _nfc(F.col(text_col)))


def train_val_split(
    df: DataFrame, group_col: str, val_frac: float = 0.1, salt: str = "split"
) -> DataFrame:
    """Leakage-safe train/validation split: the split key is the GROUP
    (host, source, or a dedup-cluster representative), never the
    document — correlated or near-duplicate pages inside one group can
    therefore never straddle the boundary, which is the classic
    eval-contamination bug of doc-level random splits.

    Deterministic salted-md5 threshold (same machinery as
    :func:`stratified_sample`): zero shuffle, no RNG state, stable
    under re-runs/backfills, and identical on every engine — new
    documents arriving for an existing group always land in that
    group's split, so the boundary survives incremental ingests.

    Appends a ``split`` column with values ``'train'`` / ``'val'``.
    """
    return df.withColumn("split", _split_expr(group_col, val_frac, salt))


def _split_expr(key_col: str, val_frac: float, salt: str) -> Column:
    """'val'/'train' from the salted-md5 threshold on ``key_col``."""
    thr = _rate_threshold_hex(val_frac)
    key = F.substring(
        F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string"))), 1, 15
    )
    return F.when(key < F.lit(thr), F.lit("val")).otherwise(F.lit("train"))


def split_leakage(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    keys: DataFrame,
    id_col: str,
    mode_cols: dict[str, str],
    val_frac: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Eval-contamination audit: given verified near-duplicate pairs
    and candidate split KEYS per document, how many near-dup pairs
    would straddle a train/val boundary under each keying?  The number
    every "we held out 10%" claim should publish — a near-dup of a
    training doc sitting in the eval set inflates every benchmark it
    touches.

    ``mode_cols`` maps a mode label to the key column to split on —
    e.g. ``{"doc": "doc_id", "source": "source", "cluster":
    "cluster_rep"}``.  Splitting by the dedup-cluster representative is
    the one keying that yields ZERO crossing pairs by construction
    (both endpoints of every pair share a component, hence a key,
    hence a side); doc- and source-keyed splits leak whenever
    near-dups cross the key boundary.

    Scale shape: per mode, the assignment is a zero-shuffle projection
    (salted-md5 threshold) and the audit is two equi-joins of the
    PAIRS (candidate-verified, corpus-sublinear) against it, then one
    scalar aggregate; modes union to |modes| rows.  Returns
    (mode, n_pairs, n_crossing, leakage_frac).
    """
    out = None
    for mode, key_col in mode_cols.items():
        assigned = keys.select(
            F.col(id_col), _split_expr(key_col, val_frac, salt).alias("sp")
        )
        audited = (
            pairs.select(a_col, b_col)
            .join(
                assigned.select(
                    F.col(id_col).alias(a_col), F.col("sp").alias("sp_a")
                ),
                a_col,
            )
            .join(
                assigned.select(
                    F.col(id_col).alias(b_col), F.col("sp").alias("sp_b")
                ),
                b_col,
            )
            .agg(
                F.count("*").alias("n_pairs"),
                F.sum(
                    (F.col("sp_a") != F.col("sp_b")).cast("long")
                ).alias("n_crossing"),
            )
            .select(
                F.lit(mode).alias("mode"),
                "n_pairs",
                "n_crossing",
                F.round(
                    F.col("n_crossing")
                    / F.greatest(F.col("n_pairs"), F.lit(1)),
                    6,
                ).alias("leakage_frac"),
            )
        )
        out = audited if out is None else out.unionByName(audited)
    return out


# ------------------------------------------------------------------ page
# metadata extraction (head tags + JSON-LD), SURT keys, script signals


def page_metadata(pages: DataFrame, html_col: str = "html_str") -> DataFrame:
    """Structured head-metadata extraction from raw HTML — the fields a
    web corpus keeps per page besides the main text: ``<title>``,
    OpenGraph title/description, ``rel=canonical``, the first JSON-LD
    ``@type``, and a robots-noindex flag.

    Reference parity: ClawRag keeps per-document title/metadata from
    Docling's conversion result (backend/src/services/
    extraction_service.py) — on a web corpus those fields come from the
    page head, which is what this implements.

    All six fields are single ``regexp_extract`` / ``rlike``
    projections over one scan — JVM-side, whole-stage-codegen'd, zero
    Python, zero shuffle; at 10^12 pages this is scan-bound, exactly
    what you want.  Patterns are RE2-safe (no backrefs/lookarounds) so
    the DuckDB oracle can run the identical regex.  No-match → empty
    string (both engines agree), cast to NULL only for jsonld_type
    where absence is meaningful.
    """
    h = F.col(html_col)
    extract = lambda pat: F.regexp_extract(h, pat, 1)  # noqa: E731
    jsonld = extract(
        r'<script type="application/ld\+json">[^<]*"@type"\s*:\s*"([^"]*)"'
    )
    return pages.withColumns(
        {
            "title": extract(r"<title>([^<]*)</title>"),
            "og_title": extract(r'<meta property="og:title" content="([^"]*)"'),
            "og_description": extract(
                r'<meta property="og:description" content="([^"]*)"'
            ),
            "canonical_url": extract(r'<link rel="canonical" href="([^"]*)"'),
            "jsonld_type": F.when(jsonld != "", jsonld),
            "noindex": h.rlike(r'<meta name="robots" content="[^"]*noindex'),
        }
    )


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) canonical key —
    the CDX/web-archive index key: scheme dropped, host lowercased,
    ``www.`` stripped, host labels REVERSED and comma-joined, then
    ``)`` + path.  ``https://www.Host01.Example.com/a/b?q=1`` →
    ``com,example,host01)/a/b?q=1``.

    Why it matters at scale: SURT keys cluster one registered domain's
    pages into contiguous key ranges, so range-partitioning an index by
    SURT gives per-domain locality (domain scans touch few partitions)
    — the property CDX servers rely on.  Pure expressions: one regexp
    host/path split, split + reverse + array_join on the host labels.
    """
    no_scheme = F.regexp_replace(url, r"^[a-z][a-z0-9+.-]*://", "")
    host = F.lower(
        F.regexp_replace(F.regexp_extract(no_scheme, r"^([^/]*)", 1), r":\d+$", "")
    )
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(no_scheme, r"^[^/]*(/.*)?$", 1)
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        F.when(path == "", "/").otherwise(path),
    )


def cdx_index(
    pages: DataFrame, url_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """CDX-style capture index over a crawl snapshot: one row per
    capture keyed by (surt, ts) with the payload digest and byte size —
    what every Common-Crawl-scale archive materializes for replay and
    URL-range lookups.

    The digest is md5 over the hex encoding of the raw payload bytes
    (content-addressed: exact-duplicate bodies under different urls
    share a digest, which is how CDX-based dedup finds them; hashing
    the hex form rather than the bytes keeps the digest computable on
    engines whose md5 only accepts strings).  One projection over the
    scan + one sort key; callers range-partition /
    sortWithinPartitions on ``surt`` for the contiguous per-domain
    layout.
    """
    return pages.select(
        surt_key(F.col(url_col)).alias("surt"),
        F.col(ts_col).alias("ts"),
        F.md5(F.lower(F.hex(F.col("html")))).alias("digest"),
        F.length(F.col("html")).alias("n_bytes"),
    )


#: (script name, inclusive codepoint ranges) — the four scripts a
#: language-mix report distinguishes first; ranges are the core blocks
#: (not exhaustive Unicode script property, but identical on every
#: engine because they're written out as literal ranges).
_SCRIPT_RANGES: list[tuple[str, str]] = [
    ("latin", "a-zA-ZÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("cjk", "぀-ヿ一-鿿가-힯"),
    ("arabic", "؀-ۿ"),
]


def script_signals(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unicode-script composition per document: integer character
    counts for latin/cyrillic/cjk/arabic plus the dominant script —
    the script-level companion to language-ID (langid.py tells you
    *which* Latin-script language; this catches wrong-script text,
    mixed-script spam, and mojibake that survives codec repair).

    Each count is ``length(text) - length(regexp_replace(text,
    '[ranges]', ''))`` — pure JVM expressions, one scan, no shuffle,
    and integer-valued so the cross-engine compare is bit-exact (no
    float fraction drift).  Dominant script = first maximum in fixed
    order (latin, cyrillic, cjk, arabic), 'other' when all are zero.
    """
    t = F.col(text_col)
    counts = {
        name: (F.length(t) - F.length(F.regexp_replace(t, f"[{ranges}]", ""))).alias(
            f"n_{name}"
        )
        for name, ranges in _SCRIPT_RANGES
    }
    out = docs.select(F.col(id_col), *counts.values())
    best = F.greatest(*[F.col(f"n_{n}") for n, _ in _SCRIPT_RANGES])
    dominant = F.lit("other")
    for name, _ in reversed(_SCRIPT_RANGES):
        dominant = F.when(
            (F.col(f"n_{name}") == best) & (best > 0), F.lit(name)
        ).otherwise(dominant)
    return out.withColumn("dominant_script", dominant)


# ------------------------------------------------------------------ URL
# spam scoring, blocklist gating, HTML table extraction


def url_spam_signals(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """URL-level spam signals (RefinedWeb/UT1-style URL filtering, the
    stage that runs BEFORE fetching or extracting anything): digit and
    hyphen counts in the host, path depth and length, query-parameter
    count, and a composite ``url_spam`` flag.  All integer-valued
    single-scan expressions — at crawl-frontier scale this must run on
    the URL string alone, no payload touch, no shuffle.

    Flag rule (deterministic, engine-portable): host with > 3 digits,
    or > 3 hyphens, or path longer than 120 chars, or > 6 path
    segments, or > 5 query params.
    """
    u = F.col(url_col)
    no_scheme = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    host = F.regexp_extract(no_scheme, r"^([^/?]*)", 1)
    path = F.regexp_extract(no_scheme, r"^[^/?]*(/[^?]*)?", 1)
    query = F.when(
        no_scheme.contains("?"),
        F.substr(no_scheme, F.instr(no_scheme, "?") + F.lit(1)),
    ).otherwise(F.lit(""))
    n = lambda c, pat: F.length(c) - F.length(F.regexp_replace(c, pat, ""))  # noqa: E731
    out = pages.withColumns(
        {
            "host_digits": n(host, r"[0-9]"),
            "host_hyphens": n(host, r"-"),
            "path_len": F.length(path),
            "path_depth": n(path, r"/"),
            "n_params": F.when(query == "", F.lit(0)).otherwise(
                n(query, r"&") + F.lit(1)
            ),
        }
    )
    return out.withColumn(
        "url_spam",
        (F.col("host_digits") > 3)
        | (F.col("host_hyphens") > 3)
        | (F.col("path_len") > 120)
        | (F.col("path_depth") > 6)
        | (F.col("n_params") > 5),
    )


def blocklist_hits(
    docs: DataFrame,
    blocklist: DataFrame,
    id_col: str,
    text_col: str,
    term_col: str = "term",
) -> DataFrame:
    """Banned-term hit counting against a blocklist TABLE (UT1 /
    safety-wordlist gating).  Returns one row per doc with
    ``n_bad_tokens`` (token occurrences that appear in the list) and
    ``n_bad_distinct`` (distinct banned terms present).

    Scale shape: tokens explode scan-side, the blocklist joins as a
    BROADCAST inner join (wordlists are KBs; never shuffle the corpus
    by token), then one map-side-combinable groupBy on the doc id.
    A regex-alternation over the list would be quadratic in list size
    per char; the token equi-join is O(tokens) and stays JVM-side.
    Docs with zero hits are preserved via the left join against the
    doc spine (count 0, never dropped rows).
    """
    from .dataset import ensure_parallelism
    from .retrieval import sql_tokens

    toks = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(sql_tokens(F.col(text_col))).alias("tok")
    )
    hits = (
        toks.join(
            F.broadcast(blocklist.select(F.col(term_col).alias("tok")).distinct()),
            "tok",
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bad_tokens"),
            F.countDistinct("tok").alias("n_bad_distinct"),
        )
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .fillna(0, ["n_bad_tokens", "n_bad_distinct"])
    )


def extract_tables(pages: DataFrame, html_col: str = "html_str") -> DataFrame:
    """HTML table extraction to rows: one output row per ``<tr>`` with
    its ``<td>`` cell texts as an array — the structured-data sibling
    of main-text extraction (tabular web data feeds training sets as
    serialized rows, not flattened prose).

    Two nested ``regexp_extract_all`` passes (RE2-safe non-greedy
    ``<tr>(.*?)</tr>``, then ``<td>([^<]*)</td>`` within the row) with
    ``posexplode`` so every row keeps its (table-order) index.  Pure
    JVM expressions over one scan; rows with zero ``<td>`` cells (e.g.
    header-only ``<th>`` rows) are kept with an empty array so row
    indices stay dense and reconstruction stays lossless.
    """
    h = F.col(html_col)
    rows = F.expr(
        f"regexp_extract_all({html_col}, '<tr>(.*?)</tr>', 1)"
    )
    exploded = pages.select(
        *[F.col(c) for c in pages.columns if c != html_col],
        F.posexplode(rows).alias("row_idx", "row_html"),
    )
    return exploded.select(
        *[c for c in exploded.columns if c != "row_html"],
        F.expr("regexp_extract_all(row_html, '<td>([^<]*)</td>', 1)").alias(
            "cells"
        ),
    )


def recrawl_priority(
    history: DataFrame,
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    fp_col: str = "fp",
    min_revisit_days: float = 1.0,
    max_revisit_days: float = 365.0,
) -> DataFrame:
    """Per-URL change-rate estimation from fetch history → recrawl
    schedule (Cho & Garcia-Molina 2003's improved Poisson estimator):
    the crawl-scheduling answer to "how often should we come back?",
    closing the loop the snapshot family opens (``snapshot_diff`` says
    WHAT changed, this says WHEN to look again).

    From (url, fetch_ts, content_fp) rows, per URL:

    - ``n_changes`` = fetches whose fingerprint differs from the
      previous fetch (one ``lag`` window over the fetch sequence —
      content bodies never shuffle, only 32-byte digests),
    - the Poisson change rate with the +0.5 bias correction::

          rate = -ln((n_intervals - n_changes + 0.5) /
                     (n_intervals + 0.5)) / avg_interval_sec

      (the naive X/n estimator under-counts multiple changes between
      fetches; the log form is consistent as intervals shrink),
    - ``revisit_days`` = 1/rate clamped to [min, max] — proportional
      revisiting, the uniform-freshness allocation.

    URLs with a single fetch (no interval evidence) are dropped: a
    frontier treats them by recency policy, not by rate estimate.

    Scale shape: one shuffle on the URL key for the lag window, then a
    per-URL aggregate on the SAME key — AQE collapses the pair into one
    exchange, and in the pipeline's url-hash-bucketed layout the window
    is storage-partitioned and shuffle-free.  All math is CASE/ln
    expressions, engine-portable for the SQL oracle.

    Returns (url, n_fetches, n_changes, span_days, change_rate_per_day,
    revisit_days).
    """
    w = Window.partitionBy(url_col).orderBy(ts_col)
    marked = history.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("__ts"),
        (
            F.lag(F.col(fp_col)).over(w).isNotNull()
            & (F.col(fp_col) != F.lag(F.col(fp_col)).over(w))
        )
        .cast("int")
        .alias("__chg"),
    )
    agg = (
        marked.groupBy("url")
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum("__chg").cast("long").alias("n_changes"),
            (
                F.unix_timestamp(F.max("__ts")) - F.unix_timestamp(F.min("__ts"))
            ).alias("__span_sec"),
        )
        .filter(F.col("n_fetches") >= 2)
        .filter(F.col("__span_sec") > 0)
    )
    n_int = (F.col("n_fetches") - 1).cast("double")
    avg_interval = F.col("__span_sec").cast("double") / n_int
    rate_sec = -F.log(
        (n_int - F.col("n_changes") + F.lit(0.5)) / (n_int + F.lit(0.5))
    ) / avg_interval
    rate_day = rate_sec * F.lit(86400.0)
    return agg.select(
        "url",
        "n_fetches",
        "n_changes",
        F.round(F.col("__span_sec") / F.lit(86400.0), 6).alias("span_days"),
        F.round(rate_day, 6).alias("change_rate_per_day"),
        F.round(
            # CASE short-circuits: a never-observed-to-change URL has
            # rate exactly 0 (the estimator's ln(1)) and gets the max
            # interval, never a division by zero (ANSI mode throws)
            F.when(
                rate_day > 0,
                F.least(
                    F.lit(float(max_revisit_days)),
                    F.greatest(
                        F.lit(float(min_revisit_days)), F.lit(1.0) / rate_day
                    ),
                ),
            ).otherwise(F.lit(float(max_revisit_days))),
            6,
        ).alias("revisit_days"),
    )


def temperature_mix(
    docs: DataFrame,
    lang_col: str = "lang",
    size_col: str = "n_chars",
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-scaled multilingual sampling weights (the XLM-R /
    mBERT §3.1 rule): the sampling probability of language ``l`` is

        q_l = p_l^alpha / Σ_m p_m^alpha,   p_l = size_l / Σ size

    ``alpha`` < 1 flattens the natural distribution — low-resource
    languages are upsampled, the head is downsampled — without ever
    inverting the order; ``alpha=1`` reproduces the raw mix, ``alpha=0``
    is uniform.  ``upsample_factor`` = q_l/p_l is the per-language
    repetition rate a sampler applies.

    Scale shape: one map-side-partial aggregation to |languages| rows,
    then a 1-row broadcast crossJoin for the two normalizers — the
    scalars never round-trip the driver.  Returns (lang, n_docs,
    total_size, p_raw, q_temp, upsample_factor), floats rounded to 6.
    """
    per = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(size_col)).cast("long").alias("total_size"),
    )
    tot = per.agg(
        F.sum("total_size").cast("double").alias("__N"),
        F.sum(F.pow(F.col("total_size").cast("double"), F.lit(float(alpha))))
        .alias("__unnorm_raw"),
    )
    # q_l needs Σ p_m^alpha = Σ (size_m/N)^alpha = N^-alpha · Σ size_m^alpha;
    # both scalars ride the same 1-row broadcast
    p = F.col("total_size").cast("double") / F.col("__N")
    qnorm = F.col("__unnorm_raw") * F.pow(F.col("__N"), F.lit(-float(alpha)))
    q = F.pow(p, F.lit(float(alpha))) / qnorm
    return per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "total_size",
        F.round(p, 6).alias("p_raw"),
        F.round(q, 6).alias("q_temp"),
        F.round(q / p, 6).alias("upsample_factor"),
    )


def zipf_fit(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    top_n: int = 1000,
    min_terms: int = 10,
) -> DataFrame:
    """Per-group Zipf-law fit: OLS slope of ln(frequency) on ln(rank)
    over the group's ``top_n`` terms — the corpus-health diagnostic
    (natural language sits near slope −1; template/boilerplate floods
    flatten the head, OCR noise fattens the tail) every release
    datasheet plots.

    Rank ties are broken by the term itself (count DESC, term ASC) so
    rank assignment — and therefore the fit — is engine-deterministic.
    slope = covar_pop(x,y)/var_pop(x) and r² = corr² are algebraic
    aggregates, so the whole fit is: one (group, term) count shuffle
    (map-side partials), one row_number window on the group key, one
    final |groups|-row aggregate.  Nothing but (group, term, count)
    triples ever shuffles.

    Returns (group, n_terms, zipf_slope, r2), floats rounded to 6.
    """
    counts = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(_words(F.col(text_col))).alias("tok"),
        )
        .groupBy("grp", "tok")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("grp").orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = counts.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= top_n
    )
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("c").cast("double"))
    # variance guards: ANSI mode makes corr/ratio aggregates THROW on a
    # zero denominator (a group whose term counts are all equal), and
    # the guard must fire even for groups min_terms later drops — the
    # aggregate evaluates before the filter.  NULL mirrors SQL-standard
    # corr-on-constant semantics, so the oracle twin is a plain CASE.
    vx, vy, cxy = F.var_pop(x), F.var_pop(y), F.covar_pop(x, y)
    return (
        ranked.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.when(vx > 0, cxy / vx), 6).alias("zipf_slope"),
            F.round(
                F.when((vx > 0) & (vy > 0), (cxy * cxy) / (vx * vy)), 6
            ).alias("r2"),
        )
        .filter(F.col("n_terms") >= min_terms)
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Collocation mining: top-k adjacent-bigram PMI (Church & Hanks
    1990) — the corpus statistic behind multi-word vocab entries and
    phrase-aware tokenizer merges (a bigram whose PMI is high is a
    lexical unit; one whose PMI is ~0 is a chance pairing).

        pmi(a, b) = ln( (c_ab / B) / ((c_a / N) · (c_b / N)) )

    with N total tokens, B total bigrams (never crossing a document
    boundary), and a ``min_count`` floor on c_ab (PMI's known
    pathology is unstable scores for rare pairs).

    Scale shape: bigrams come from one in-row array transform (zero
    shuffle to FORM them), then one (w1, w2) count shuffle with
    map-side partials; unigram counts join back on the vocab-sized
    keys; N and B ride a single 1-row broadcast.  The final top-k is
    ordered (pmi DESC, w1, w2) — deterministic tie-breaks — and
    Spark executes it as TakeOrderedAndProject, never a global sort.

    Returns (w1, w2, n_pair, pmi) with pmi rounded to 6.
    """
    words = _words(F.col(text_col))
    toks = docs.select(words.alias("ws")).persist()
    toks.count()  # fork rule: unigram and bigram subtrees both read it
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    bi = (
        # sequence(0, size-2) on a <2-token doc would DESCEND (Spark
        # infers step -1) into invalid element_at indices — gate first
        toks.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("ws") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("ws"), i + 1).alias("w1"),
                        F.element_at(F.col("ws"), i + 2).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    totals = uni.agg(
        F.sum("c").cast("double").alias("N")
    ).crossJoin(
        toks.select(
            F.greatest(F.size("ws") - 1, F.lit(0)).alias("nb")
        ).agg(F.sum("nb").cast("double").alias("B"))
    )
    # toks stays cached for the session (the returned plan reads it
    # lazily — same lifecycle as the shingle/funnel caches)
    pmi = F.log(
        (F.col("c_ab") / F.col("B"))
        / ((F.col("ca") / F.col("N")) * (F.col("cb") / F.col("N")))
    )
    return (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("ca")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("cb")), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", F.col("c_ab").alias("n_pair"), F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_k)
    )


def heaps_fit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_exp: int = 6,
    salt: str = "heaps",
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve and fit, V(n) ≈ K·n^β — the
    release-datasheet diagnostic for corpus OPEN-ENDEDNESS (natural
    text grows vocabulary at β ≈ 0.4-0.6; template floods flatten β
    toward 0, OCR/mojibake noise pushes it toward 1) and the sizing
    input for tokenizer vocab and hash-feature widths.

    The naive computation — "count distinct words in every prefix" —
    is inherently sequential.  The distributed formulation: give every
    token a GLOBAL position (deterministic md5 document order via the
    packing module's two-phase prefix sum — never a single-partition
    window), reduce each word to its FIRST global position, and then
    V(n) = #{words: first_pos < n} for every sample point n = 2^j at
    once, as a cumulative sum over a ≤64-row bit_length histogram
    (bit_length(first_pos) ≤ j  ⟺  first_pos < 2^j).  One corpus
    (doc, word) shuffle + one word-keyed min — the curve costs two
    aggregations regardless of how many sample points it carries.

    bit_length and the top sample exponent come from base-2 string
    lengths — exact integer math, never floor(log2) float edges.  The
    OLS fit (β = covar/var of ln V on ln n, K = exp(ȳ − β·x̄)) runs
    over the sample rows and is broadcast back onto them.

    Returns (sample_tokens, vocab, heaps_beta, heaps_k) — one row per
    sample point, fit columns repeated (rounded to 6); β/K are NULL
    when fewer than two sample points exist.
    """
    from .packing import _exclusive_prefix_sum

    words_arr = _words(F.col(text_col))
    sized = docs.select(
        F.col(id_col), words_arr.alias("ws"), F.size(words_arr).alias("nt")
    )
    offsets = _exclusive_prefix_sum(
        sized.select(id_col, "nt"), id_col, "nt", salt
    )
    # r6: one shuffle instead of three.  The per-doc first-position
    # groupBy was redundant — min over ALL occurrence positions of
    # (start_offset + pos) picks the in-doc first occurrence too, so a
    # single map-side-combinable groupBy(w) replaces the (doc, w)
    # pre-aggregation AND its downstream shuffle; the per-doc offsets
    # frame (one skinny row per doc) rides a broadcast join instead of
    # a sort-merge shuffle of the token stream.  Exact integer math —
    # value-identical.
    first_global = (
        sized.select(F.col(id_col), F.posexplode("ws").alias("pos", "w"))
        .join(F.broadcast(offsets.select(id_col, "start_offset")), id_col)
        .groupBy("w")
        .agg(F.min(F.col("start_offset") + F.col("pos")).alias("fp"))
    )
    # ≤64-row histogram over bit_length(first_pos); conv('0') = '0' has
    # length 1, matching bit_length(1) — both mean "inside every sample"
    hist = first_global.groupBy(
        F.length(F.conv(F.col("fp").cast("string"), 10, 2)).alias("m")
    ).agg(F.count("*").alias("cnt"))
    # sample exponents j = min_exp .. bit_length(N) - 1 (so 2^j ≤ N),
    # derived from the SAME offsets frame — no extra corpus scan
    samples = offsets.agg(F.sum("nt").cast("long").alias("N")).select(
        F.explode(
            F.sequence(
                F.lit(min_exp),
                F.length(F.conv(F.col("N").cast("string"), 10, 2)) - 1,
            )
        ).alias("j")
    )
    curve = (
        samples.crossJoin(F.broadcast(hist))  # both ≤64 rows
        .filter(F.col("m") <= F.col("j"))
        .groupBy("j")
        .agg(F.sum("cnt").cast("long").alias("vocab"))
        .select(
            F.expr("shiftleft(cast(1 as bigint), j)").alias("sample_tokens"),
            "vocab",
        )
    )
    x = F.log(F.col("sample_tokens").cast("double"))
    y = F.log(F.col("vocab").cast("double"))
    vx = F.var_pop(x)
    beta = F.when(vx > 0, F.covar_pop(x, y) / vx)
    fit = curve.agg(
        beta.alias("b"),
        (F.avg(y) - beta * F.avg(x)).alias("lnk"),
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        "sample_tokens",
        "vocab",
        F.round(F.col("b"), 6).alias("heaps_beta"),
        F.round(F.exp(F.col("lnk")), 6).alias("heaps_k"),
    )


# --------------------------------------------- feed / bitext / soft-404


def parse_feeds(
    feeds: DataFrame, host_col: str = "host", xml_col: str = "feed_xml"
) -> DataFrame:
    """RSS 2.0 / Atom feed bodies → one crawl-frontier row per entry:
    (host, fmt, link, title, published).

    The discovery twin of ``parse_sitemaps``: sitemaps enumerate the
    whole site, feeds surface the NEW urls — a freshness-driven crawler
    polls feeds between sitemap passes (reference parity: the folder
    scanner's incremental re-scan, ``folder_scanner.py``, plays this
    role for local corpora).

    Expression-only, zero shuffle: non-greedy ``<item>``/``<entry>``
    block extraction, then per-block tag pulls.  RSS links are element
    text (``<link>url</link>``); Atom links are an href attribute
    (``<link href="url"/>``) — both grammars are anchored non-greedy
    regexes that RE2/Java/DuckDB agree on.  Missing optional tags stay
    '' so rows remain totally orderable cross-engine.
    """
    tag = lambda b, t: F.regexp_extract(b, f"(?s)<{t}[^>]*>\\s*([^<]*?)\\s*</{t}>", 1)
    rss_blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?s)<item>(.*?)</item>"), 1
    )
    atom_blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?s)<entry>(.*?)</entry>"), 1
    )
    rss = feeds.select(
        F.col(host_col).alias("host"), F.explode(rss_blocks).alias("__b")
    ).select(
        "host",
        F.lit("rss").alias("fmt"),
        tag(F.col("__b"), "link").alias("link"),
        tag(F.col("__b"), "title").alias("title"),
        tag(F.col("__b"), "pubDate").alias("published"),
    )
    atom = feeds.select(
        F.col(host_col).alias("host"), F.explode(atom_blocks).alias("__b")
    ).select(
        "host",
        F.lit("atom").alias("fmt"),
        F.regexp_extract(
            F.col("__b"), r'<link[^>]*\bhref="([^"]*)"', 1
        ).alias("link"),
        tag(F.col("__b"), "title").alias("title"),
        tag(F.col("__b"), "updated").alias("published"),
    )
    return rss.unionByName(atom).filter(F.col("link") != "")


_BITEXT_LANGS = ("en", "fr", "de", "es", "it", "pt", "ru", "ja", "zh", "nl")


def bitext_url_candidates(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Parallel-page candidates from URL structure (the WikiMatrix /
    ParaCrawl first stage): two urls on the SAME host whose paths
    differ only in a language marker are candidate translations.

    Recognized markers, expression-only on both engines:

    - a whole path segment that is a known 2-letter code immediately
      after the host (``https://h/en/about`` ↔ ``https://h/fr/about``),
    - a ``lang=xx`` query parameter (``?lang=en`` ↔ ``?lang=fr``).

    The join key is the url with the marker replaced by ``*`` — an
    equi-join on (host, template), never a similarity scan.  Template
    groups are tiny (#languages a site actually serves), so the shuffle
    is uniform; at 10^12 pages this is one map-side projection + one
    hash join, and the downstream content-verify stage (embedding or
    lexical alignment) runs only on these candidates.  Emits one row
    per unordered pair with lang_a < lang_b.
    """
    langs = "|".join(_BITEXT_LANGS)
    u = F.col(url_col)
    host = F.regexp_extract(u, r"^https?://([^/?#]+)", 1)
    seg_lang = F.regexp_extract(u, rf"^https?://[^/?#]+/({langs})(?:[/?#]|$)", 1)
    qry_lang = F.regexp_extract(u, rf"[?&]lang=({langs})(?:&|#|$)", 1)
    lang = F.when(seg_lang != "", seg_lang).otherwise(qry_lang)
    # tail captured and re-emitted instead of a lookahead: RE2 (the
    # DuckDB oracle) has no lookahead, and the grammar must be shared
    template = F.when(
        seg_lang != "",
        F.regexp_replace(
            u, rf"^(https?://[^/?#]+/)({langs})([/?#].*|$)", r"$1*$3"
        ),
    ).otherwise(
        F.regexp_replace(u, rf"([?&]lang=)({langs})(&.*|#.*|$)", r"$1*$3")
    )
    keyed = (
        pages.select(
            u.alias("url"), host.alias("host"), lang.alias("lang"),
            template.alias("template"),
        )
        .filter(F.col("lang") != "")
        .dropDuplicates(["url"])
    )
    a = keyed.select(
        "host", "template",
        F.col("url").alias("url_a"), F.col("lang").alias("lang_a"),
    )
    b = keyed.select(
        "host", "template",
        F.col("url").alias("url_b"), F.col("lang").alias("lang_b"),
    )
    return a.join(b, ["host", "template"]).filter(
        F.col("lang_a") < F.col("lang_b")
    ).select("host", "template", "lang_a", "url_a", "lang_b", "url_b")


def gale_church_gate(
    pairs: DataFrame,
    len_a_col: str,
    len_b_col: str,
    c: float = 1.0,
    s2: float = 6.8,
    max_abs_delta: float = 3.0,
) -> DataFrame:
    """Gale & Church (1993) length-statistics alignment gate — the
    stage-2 verifier behind :func:`bitext_url_candidates`: candidate
    translation pairs whose character lengths are statistically
    incompatible are rejected BEFORE any content fetch or embedding
    pass (at 10^12 pages the content verify runs only on pairs that
    survive this one projection).

    ``delta = (l_b − c·l_a) / sqrt(((l_a + l_b)/2)·s²)`` with the
    paper's constants: ``c`` the expected target/source character
    ratio (1.0 as the language-agnostic default), ``s² = 6.8`` the
    per-character variance.  ``|delta| <= max_abs_delta`` (3 standard
    deviations) keeps the pair.  Expression-only, zero shuffle; a
    zero-length pair yields NULL delta and is_aligned = false.
    """
    la = F.col(len_a_col).cast("double")
    lb = F.col(len_b_col).cast("double")
    denom = F.sqrt((la + lb) / F.lit(2.0) * F.lit(float(s2)))
    delta = F.round(
        F.when(la + lb > 0, (lb - F.lit(float(c)) * la) / denom), 6
    )
    return pairs.withColumn("delta", delta).withColumn(
        "is_aligned",
        F.coalesce(
            F.abs(F.col("delta")) <= F.lit(float(max_abs_delta)), F.lit(False)
        ),
    )


def soft404_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Soft-404 detection: pages that return HTTP 200 but are error
    pages — crawl corpora are full of them and they poison training
    mixes with millions of near-identical "not found" bodies.

    Integer/boolean signals from the text alone (scan-side, zero
    shuffle, engine-portable):

    - ``err_phrase``: a canonical error phrase appears ("page not
      found", "404", "no longer available", "does not exist"),
    - ``n_chars``: error bodies are short,
    - ``is_soft404``: phrase AND under the length gate — the flag a
      funnel consumes.
    """
    t = F.lower(F.col(text_col))
    phrase = (
        t.contains("page not found")
        | t.contains("404")
        | t.contains("no longer available")
        | t.contains("does not exist")
    )
    n = F.length(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        phrase.cast("int").alias("err_phrase"),
        n.alias("n_chars"),
        (phrase & (n < F.lit(600))).cast("int").alias("is_soft404"),
    )


# ----------------------------------------------- validated PII (Luhn)


def luhn_validated_cards(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Credit-card PII detection with Luhn checksum validation.

    A bare 13-19-digit regex over web text is mostly false positives
    (order ids, timestamps, EANs); production scrubbers (e.g. the
    Dolma/BigCode PII pipelines) accept a candidate only if the Luhn
    check digit verifies.  Returns one row per candidate with its
    validity — the masker then rewrites only validated spans.

    All JVM-side: candidates via ``regexp_extract_all`` (digit runs
    with optional space/dash separators), checksum via a staged
    digit-array fold (``transform`` + ``aggregate``) — doubling every
    second digit from the right, subtracting 9 above 9, sum % 10 == 0.
    One projection + one explode, zero Python, zero shuffle.
    """
    cands = F.regexp_extract_all(
        F.col(text_col), F.lit(r"(?:^|[^0-9])((?:\d[ -]?){12,18}\d)(?:[^0-9]|$)"), 1
    )
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(cands).alias("raw")
    )
    digits_str = F.regexp_replace(F.col("raw"), r"[ -]", "")
    # stage the cleaned digit string first (lambda-CSE rule: aggregates
    # and their inputs never nest inside another lambda's scope)
    staged = exploded.select(
        "doc_id", "raw", digits_str.alias("digits")
    ).filter(F.length("digits").between(13, 19))
    n = F.length("digits")
    # position i (1-based) from the LEFT; from the right it's n - i + 1:
    # double when (n - i) is odd ⇒ (n - i) % 2 == 1
    terms = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.when(
            ((n - i) % 2) == 1,
            F.when(
                F.substring(F.col("digits"), i, 1).cast("int") * 2 > 9,
                F.substring(F.col("digits"), i, 1).cast("int") * 2 - 9,
            ).otherwise(F.substring(F.col("digits"), i, 1).cast("int") * 2),
        ).otherwise(F.substring(F.col("digits"), i, 1).cast("int")),
    )
    total = F.aggregate(terms, F.lit(0), lambda acc, x: acc + x)
    return staged.select(
        "doc_id",
        "digits",
        F.length("digits").alias("n_digits"),
        (total % 10 == 0).alias("luhn_valid"),
    )


# ------------------------------------------- homoglyph normalization


# the high-frequency Unicode confusables that map onto ascii letters —
# the set spam/cloaking actually uses (Cyrillic + Greek lookalikes).
# Source: Unicode TR39 confusables, ascii-target subset.
_CONFUSABLE_SRC = "аеорсухіјѕАВЕКМНОРСТХаοесхρνΑΒΕΖΗΙΚΜΝΟΡΤΥΧ"
_CONFUSABLE_DST = "aeopcyxijsABEKMHOPCTXaoecxpvABEZHIKMNOPTYX"


def homoglyph_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Homoglyph (confusable-character) normalization + spoof signal.

    Spam and cloaked pages swap ascii letters for Cyrillic/Greek
    lookalikes to evade keyword filters and dedup ("vіаgrа"); the
    normalized text restores the ascii form so every downstream hash,
    n-gram, and blocklist sees through the trick.  ``n_confusables``
    (how many characters the mapping changed) is itself a strong spam
    signal: legitimate Russian/Greek text is MOSTLY non-ascii, so a doc
    where confusables appear embedded in otherwise-ascii words scores
    high on ``mixed_word_hits`` — words containing BOTH an ascii letter
    and a confusable, which natural single-script text never produces.

    ``translate`` on both engines (character-for-character, UTF-8
    aware), one projection, zero shuffle.
    """
    t = F.col(text_col)
    norm = F.translate(t, _CONFUSABLE_SRC, _CONFUSABLE_DST)
    mixed = F.size(
        F.filter(
            F.split(t, r"\s+"),
            lambda w: w.rlike("[A-Za-z]")
            & w.rlike(f"[{_CONFUSABLE_SRC}]"),
        )
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("text_norm"),
        (F.length(t) - F.length(F.regexp_replace(t, f"[{_CONFUSABLE_SRC}]", ""))
         ).alias("n_confusables"),
        mixed.alias("mixed_word_hits"),
    )


# ------------------------------------- bitext stage 3: content verify

#: language-independent anchor tokens: digit runs (with interior
#: ./,/: separators — dates, prices, versions survive as one token)
#: and absolute URLs.  Translations preserve these almost verbatim
#: while sharing no ordinary vocabulary, which is exactly why the
#: ParaCrawl-lineage pipelines verify candidate pairs on them before
#: paying for an embedding pass.  RE2-portable (no lookaround) so the
#: DuckDB oracle runs the identical pattern.
_BITEXT_ANCHOR_RE = r"[0-9]+(?:[.,:][0-9]+)*|https?://[^\s\"'<>]+"


def bitext_content_gate(
    pairs: DataFrame,
    text_a_col: str,
    text_b_col: str,
    min_overlap: float = 0.25,
) -> DataFrame:
    """Stage-3 content verify behind :func:`bitext_url_candidates` →
    :func:`gale_church_gate`: candidate translation pairs must share
    language-independent anchor tokens (numbers, dates, prices, URLs)
    — the cheap translation-invariant signal (Resnik & Smith 2003,
    "The web as a parallel corpus" §4.2 structural+content filtering)
    that runs BEFORE any cross-lingual embedding model would.

    ``overlap`` is the Jaccard of the two distinct anchor-token sets;
    a pair where either side has no anchors yields NULL overlap and
    ``is_verified = false`` (nothing to verify on — same NULL
    semantics as the gale gate's zero-length guard).

    Scale shape: expression-only projection over the stage-2
    survivors (extract → distinct → intersect/union in-row, zero
    shuffle); at 10^12 pages the texts of only the surviving pairs
    were ever joined in, and this gate shrinks the embedding stage's
    input again before the expensive model runs.
    """
    ta = F.array_distinct(
        F.regexp_extract_all(
            F.lower(F.col(text_a_col)), F.lit(_BITEXT_ANCHOR_RE), F.lit(0)
        )
    )
    tb = F.array_distinct(
        F.regexp_extract_all(
            F.lower(F.col(text_b_col)), F.lit(_BITEXT_ANCHOR_RE), F.lit(0)
        )
    )
    staged = pairs.withColumn("__ta", ta).withColumn("__tb", tb)
    inter = F.size(F.array_intersect("__ta", "__tb"))
    union = F.size(F.array_union("__ta", "__tb"))
    overlap = F.round(
        F.when(
            (F.size("__ta") > 0) & (F.size("__tb") > 0),
            inter.cast("double") / union.cast("double"),
        ),
        6,
    )
    return (
        staged.withColumn("n_anchors_a", F.size("__ta").cast("long"))
        .withColumn("n_anchors_b", F.size("__tb").cast("long"))
        .withColumn("overlap", overlap)
        .withColumn(
            "is_verified",
            F.coalesce(
                F.col("overlap") >= F.lit(float(min_overlap)), F.lit(False)
            ),
        )
        .drop("__ta", "__tb")
    )


# ------------------------------- Naive-Bayes language identification


def train_nb_langid(
    train: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    alpha: float = 0.5,
    *,
    gram_counts: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Train a multinomial Naive-Bayes language classifier over char
    trigrams — the fastText-langid design point (McCandless lang-detect
    / Cavnar & Trenkle 1994 n-gram profiles, with NB giving the proper
    probabilistic decision rule) that every web-corpus pipeline runs
    after the cheap heuristic: a model FITTED to the corpus's own
    language mix instead of hand-tuned stopword lists.

    Returns three vocabulary-bounded frames (broadcast at score time):

    - ``gram``: (lang, g, w) where ``w = log((c+α)/(tot_l+α·V)) −
      floor_l`` is the log-likelihood EXCESS of gram g over the
      unseen-gram floor — storing the excess lets scoring inner-join
      only the grams a language actually saw (missing grams contribute
      exactly 0 extra),
    - ``lang``: (lang, floor = log(α/(tot_l+α·V)), prior = log(n_l/N)),
    - both derived from ONE (lang, gram) count shuffle; V (the global
      training vocabulary) and N ride in 1-row frames via crossJoin,
      never a driver collect.

    Scale shape: training state is ≤ |langs|·V rows regardless of
    corpus size (Heaps-bounded charset³), the classic train-once /
    broadcast-everywhere shape shared with :func:`train_char_lm`.
    """
    # callers with a cached (lang, g, c) count frame (same grammar,
    # exact integers) pass it via ``gram_counts`` and skip the
    # trigram-explode scan — value-identical by construction
    if gram_counts is not None:
        counts = gram_counts
    else:
        grams = _char_trigrams(train, [lang_col], text_col)
        counts = grams.groupBy(F.col(lang_col).alias("lang"), "g").agg(
            F.count("*").alias("c")
        )
    vocab = counts.select(
        F.countDistinct("g").cast("double").alias("V")
    )
    totals = counts.groupBy("lang").agg(F.sum("c").alias("tot"))
    n_docs = train.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count("*").alias("n_l")
    )
    n_total = train.select(F.count("*").cast("double").alias("N"))
    a = F.lit(float(alpha))
    lang = (
        totals.crossJoin(F.broadcast(vocab))
        .join(n_docs, "lang")
        .crossJoin(F.broadcast(n_total))
        .select(
            "lang",
            F.log(a / (F.col("tot") + a * F.col("V"))).alias("floor"),
            F.log(F.col("n_l") / F.col("N")).alias("prior"),
            (F.col("tot") + a * F.col("V")).alias("denom"),
        )
    )
    gram = counts.join(F.broadcast(lang), "lang").select(
        "lang",
        "g",
        (
            F.log((F.col("c") + a) / F.col("denom"))
            - F.col("floor")
        ).alias("w"),
    )
    return {"gram": gram, "lang": lang.drop("denom")}


def nb_classify(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    model: dict[str, DataFrame],
    *,
    doc_gram_counts: DataFrame | None = None,
) -> DataFrame:
    """Classify documents under :func:`train_nb_langid`'s model.

    ``score(d, l) = prior_l + T_d·floor_l + Σ_{g∈d seen by l} cnt_{d,g}·w_{l,g}``

    — algebraically identical to the full NB sum but the join touches
    only (doc-gram, lang) rows the language actually saw; every other
    gram is folded into the single ``T_d·floor_l`` term.  The doc ×
    lang spine comes from a broadcast crossJoin (|langs| rows), so
    languages sharing NO gram with a document still score (prior +
    all-unseen) instead of silently dropping out.

    Returns one row per document: (id, pred_lang, score, n_trigrams).
    Prediction ties break on lang ascending over the 6-dp-rounded
    score (rounded BEFORE ranking — the repo's cross-engine rule, so
    float association drift can't flip the argmax boundary between
    engines).

    Scale shape: one (doc, gram) count aggregation with map-side
    partials, an inner join against the BROADCAST gram table, then a
    per-(doc, lang) partial-agg shuffle of ≤ |langs| rows per doc; the
    argmax window runs on |docs|·|langs| narrow rows.
    """
    if doc_gram_counts is not None:
        # cached (id, g, cnt) frame from the same groupBy(id, g)
        # aggregation — identical keys AND partitioning, so the
        # downstream (id, lang) float partial sums see exactly the
        # rows they saw before
        doc_grams = doc_gram_counts
    else:
        grams = _char_trigrams(docs, [id_col], text_col)
        doc_grams = grams.groupBy(id_col, "g").agg(F.count("*").alias("cnt"))
    doc_tot = doc_grams.groupBy(id_col).agg(
        F.sum("cnt").cast("double").alias("T")
    )
    matched = (
        doc_grams.join(F.broadcast(model["gram"]), "g")
        .groupBy(id_col, "lang")
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("excess"))
    )
    spine = doc_tot.crossJoin(F.broadcast(model["lang"]))
    scored = spine.join(matched, [id_col, "lang"], "left").select(
        F.col(id_col),
        "lang",
        F.round(
            F.col("prior")
            + F.col("T") * F.col("floor")
            + F.coalesce(F.col("excess"), F.lit(0.0)),
            6,
        ).alias("score"),
        F.col("T").cast("long").alias("n_trigrams"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("lang").alias("pred_lang"),
            "score",
            "n_trigrams",
        )
    )


# ----------------------------- RFC 9309 §2.2.3 wildcard path rules


def robots_pattern_regex(prefix_col) -> "F.Column":
    """Translate an RFC 9309 path pattern into an anchored regex —
    expression-only, because patterns are DATA (they arrive in
    robots.txt bodies) and the translation must run identically on
    Spark and the SQL oracle:

    - every regex metacharacter except ``*`` is escaped,
    - a trailing ``$`` end-anchors the match (RFC 9309 §2.2.3 "the
      '$' designates the end of the match pattern"); a ``$`` anywhere
      else stays literal (the Google-documented behavior),
    - ``*`` becomes ``.*`` (matches any sequence including ``/``).

    The output regex uses only RE2-portable constructs (``^ $ .*``
    and backslash escapes), so Java regex and RE2 agree on every
    pattern.
    """
    esc = F.regexp_replace(
        prefix_col, r"([\\.\+\?\(\)\[\]\{\}\|\^\$])", r"\\$1"
    )
    anch = prefix_col.endswith("$")
    body = F.when(
        anch, F.substr(esc, F.lit(1), F.length(esc) - 2)
    ).otherwise(esc)
    stars = F.regexp_replace(body, r"\*", ".*")
    return F.concat(
        F.lit("^"), stars, F.when(anch, F.lit("$")).otherwise(F.lit(""))
    )


def robots_wildcard_filter(
    urls: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """:func:`robots_filter` upgraded to full RFC 9309 §2.2.3 matching:
    ``*`` wildcards and the ``$`` end anchor in Allow/Disallow values —
    the constructs real robots.txt files use heavily
    (``Disallow: /*.pdf$``, ``Disallow: /search*``) and that a plain
    prefix matcher silently mis-evaluates (it would treat ``*`` and
    ``$`` as literal path bytes and never match).

    Precedence follows the RFC's most-specific-match rule with pattern
    OCTET LENGTH as specificity (the longest-pattern-wins rule the
    reference parsers — Google's C++ matcher, Python's
    ``urllib.robotparser`` successor — implement); equal length breaks
    to Allow.  No matching rule, or no robots.txt, means allowed.

    Consumes the same (host, allow, prefix, plen) rules frame as
    :func:`robots_filter` (from :func:`parse_robots` or
    :func:`robots_rules_for_agent`), so the star-group and UA-
    precedence chains compose with either matcher.

    Scale shape: identical to the prefix matcher — rules broadcast
    (directive-sized), ONE frontier scan, the regex join predicate
    evaluates rules-side-compiled patterns per (url, candidate rule)
    and longest-match resolution is a map-side-partial ``max_by`` per
    url.  The regex column is materialized on the TINY side before the
    join; the frontier never shuffles.
    """
    host = F.regexp_extract(F.col(url_col), "^[a-z]+://([^/]+)", 1)
    path_raw = F.regexp_replace(F.col(url_col), "^[a-z]+://[^/]*", "")
    path = F.when(path_raw == "", "/").otherwise(path_raw)
    frontier = urls.select(
        F.col(url_col), host.alias("host"), path.alias("path")
    )
    r = rules.select(
        F.col("host").alias("r_host"),
        F.col("allow").alias("__allow"),
        F.col("prefix").alias("__prefix"),
        F.col("plen").alias("__plen"),
        robots_pattern_regex(F.col("prefix")).alias("__rx"),
    )
    matched = (
        frontier.join(
            F.broadcast(r),
            (F.col("host") == F.col("r_host"))
            & F.expr("path RLIKE __rx"),
            "left",
        )
        .groupBy(url_col, "host")
        .agg(
            F.max_by(
                F.struct(F.col("__allow"), F.col("__prefix")),
                # longest pattern wins; equal length -> Allow wins.
                # scalar key, same rationale as robots_filter's
                F.coalesce(F.col("__plen"), F.lit(-1)) * 2
                + F.coalesce(F.col("__allow").cast("int"), F.lit(0)),
            ).alias("best"),
        )
    )
    return matched.select(
        F.col(url_col),
        "host",
        F.coalesce(F.col("best.__allow"), F.lit(True)).alias("allowed"),
        F.col("best.__prefix").alias("matched_pattern"),
    )


def contamination_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    dirty_threshold: float = 0.8,
    clean_threshold: float = 0.2,
    *,
    corpus_shingles: DataFrame | None = None,
    bench_shingles: DataFrame | None = None,
) -> DataFrame:
    """Graded benchmark contamination (the Llama-2/3 appendix method):
    instead of :func:`decontaminate`'s binary any-shingle flag, score
    every corpus document by the FRACTION of its n-token shingle
    positions that appear in the benchmark set, then tier:

    - ``dirty``  — fraction ≥ ``dirty_threshold`` (drop, or hold out
      as the "contaminated eval" slice the Llama reports measure),
    - ``partial`` — between the thresholds (boilerplate/quote overlap;
      usually kept but reported),
    - ``clean``  — fraction ≤ ``clean_threshold``.

    Positions, not distinct grams: a document that repeats one
    benchmark sentence fifty times IS fifty-positions dirty — the
    memorization-risk measure — while distinct-gram counting would
    call it one hit.  Documents with fewer than ``n`` tokens have no
    shingles and no row (same domain as ``decontaminate``; gate them
    by length upstream).

    Returns (id, n_shingles, n_hits, frac, tier).  Scale shape:
    benchmark shingles broadcast (suites are tiny), the corpus is ONE
    shingle scan feeding both the per-doc total and the map-side
    semi-join hit count — two partial-agg shuffles of one row per doc,
    never a corpus-by-benchmark join.
    """
    bench = (
        bench_shingles
        if bench_shingles is not None
        else _token_shingle_hashes(benchmark, [], text_col, n)
    ).select("g").distinct()
    cs = (
        corpus_shingles
        if corpus_shingles is not None
        else _token_shingle_hashes(corpus, [id_col], text_col, n)
    )
    tot = cs.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    hits = (
        cs.join(F.broadcast(bench), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    frac = F.round(
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
        / F.col("n_shingles"),
        6,
    )
    return tot.join(hits, id_col, "left").select(
        F.col(id_col),
        F.col("n_shingles"),
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        frac.alias("frac"),
        F.when(frac >= F.lit(float(dirty_threshold)), F.lit("dirty"))
        .when(frac > F.lit(float(clean_threshold)), F.lit("partial"))
        .otherwise(F.lit("clean"))
        .alias("tier"),
    )


def apply_robots_status(
    gated: DataFrame, statuses: DataFrame
) -> DataFrame:
    """RFC 9309 §2.3.1 fetch-status semantics over a matcher verdict
    (:func:`robots_filter` / :func:`robots_wildcard_filter` output):

    - 400–499 — robots.txt "unavailable": the crawler MAY access any
      resource (the parsed rules, if any cached, are void) →
      ``allowed = true``, reason ``unavailable``,
    - 500–599 — "unreachable": MUST assume complete disallow →
      ``allowed = false``, reason ``unreachable``,
    - 2xx (or any other recorded status) — the rule decision stands,
      reason ``rules``,
    - host absent from the status table (robots never fetched — the
      no-robots.txt host) — the matcher's default-allow stands,
      reason ``no_robots``.

    The status table is one row per HOST (fetch-ledger-sized), so it
    broadcasts; the verdict frame is scanned once.  This is the gate
    ordering real crawlers run: status short-circuits BEFORE any rule
    content is consulted.
    """
    st = statuses.select(F.col("host").alias("__s_host"), "status")
    joined = gated.join(
        F.broadcast(st), gated["host"] == st["__s_host"], "left"
    )
    s = F.col("status")
    return joined.select(
        *[gated[c] for c in gated.columns if c != "allowed"],
        F.when((s >= 400) & (s <= 499), F.lit(True))
        .when((s >= 500) & (s <= 599), F.lit(False))
        .otherwise(F.col("allowed"))
        .alias("allowed"),
        F.when((s >= 400) & (s <= 499), F.lit("unavailable"))
        .when((s >= 500) & (s <= 599), F.lit("unreachable"))
        .when(s.isNull(), F.lit("no_robots"))
        .otherwise(F.lit("rules"))
        .alias("reason"),
    )


# --------------------------------------- schema.org JSON-LD records

#: the <script type="application/ld+json"> block matcher — non-greedy
#: body, RE2-portable (no lookaround), shared with the SQL oracle
_JSONLD_BLOCK_RE = r'<script type="application/ld\+json">(.*?)</script>'


def jsonld_records(
    pages: DataFrame, id_col: str, html_col: str
) -> DataFrame:
    """Structured schema.org record extraction from embedded JSON-LD —
    how news/product corpora get built from a crawl: pull the
    ``application/ld+json`` block, then REAL JSON-path extraction
    (``get_json_object``, JVM-side) for the fields a dataset keeps:

    (id, jtype, title, date_published, price, author_name)

    - ``jtype``: the record's ``@type`` (Article, Product, ...),
    - ``title``: ``headline`` (articles) falling back to ``name``
      (products and everything else),
    - ``date_published`` / ``price`` / ``author_name``: nested paths
      (``$.author.name``, ``$.offers.price``) — NULL when the type
      doesn't carry them.

    Pages without a JSON-LD block yield no row.  This upgrades
    :func:`page_metadata`'s @type-only regex pull to real parsing;
    malformed JSON yields NULLs (get_json_object's behavior), never an
    error — crawl data is hostile.

    Scale shape: one scan, two projections (block pull staged before
    the json probes so the regex runs once per page, not once per
    field), zero Python, zero shuffle.
    """
    staged = pages.select(
        F.col(id_col),
        F.regexp_extract(F.col(html_col), _JSONLD_BLOCK_RE, 1).alias("__b"),
    ).filter(F.col("__b") != "")
    b = F.col("__b")
    return staged.select(
        F.col(id_col),
        F.get_json_object(b, "$['@type']").alias("jtype"),
        F.coalesce(
            F.get_json_object(b, "$.headline"),
            F.get_json_object(b, "$.name"),
        ).alias("title"),
        F.get_json_object(b, "$.datePublished").alias("date_published"),
        F.get_json_object(b, "$.offers.price").alias("price"),
        F.get_json_object(b, "$.author.name").alias("author_name"),
    )


def ngram_diversity(
    docs: DataFrame,
    group_col: str,
    text_col: str,
    ns: tuple = (1, 2, 3),
) -> DataFrame:
    """Distinct-n corpus diversity (Li et al. 2016's distinct-1/2,
    generalized) per group — the dataset-card line that catches
    template farms before training: a source whose distinct-2 ratio
    collapses is serving the same page with substituted slot values,
    which per-document dedup can miss entirely.

    Per (group, n): total n-gram positions, distinct n-grams, and
    ``diversity = distinct / total``.  Shares the corpus token grammar
    (:func:`_token_shingle_hashes`, md5 keys) with the dedup family;
    documents shorter than n tokens contribute nothing at that n.

    Scale shape: one shingle scan per n feeding a (group, gram)
    aggregate with map-side partials; the exact COUNT(DISTINCT) keeps
    the oracle bit-identical at test scale — at warehouse scale swap
    in approx_count_distinct (HLL, one pass, mergeable), same call
    shape.
    """
    outs = []
    for n in ns:
        sh = _token_shingle_hashes(docs, [group_col], text_col, int(n))
        outs.append(
            sh.groupBy(group_col).agg(
                F.count("*").alias("total"),
                F.count_distinct("g").alias("n_distinct"),
            ).select(
                F.col(group_col),
                F.lit(int(n)).alias("n"),
                F.col("total"),
                F.col("n_distinct"),
                F.round(
                    F.col("n_distinct").cast("double") / F.col("total"), 6
                ).alias("diversity"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ------------------------------- hreflang alternates (bitext stage 0)

#: <link rel="alternate" hreflang=".." href=".."> matcher — fixed
#: attribute order (the emitted-by-CMS common case; the same
#: documented bound as webgraph._ANCHOR_PATTERN), RE2-portable
_HREFLANG_RE = (
    r'<link rel="alternate" hreflang="([a-zA-Z-]+)" href="([^"]*)"'
)


def hreflang_alternates(
    pages: DataFrame, url_col: str, html_col: str
) -> DataFrame:
    """(url, hreflang, href) — one row per declared language alternate.

    ``rel=alternate hreflang`` is the bitext stage-0 signal: the SITE
    ITSELF declares which url is the French edition of this page, so
    pairs mined here carry far higher precision than URL-structure
    guessing (:func:`bitext_url_candidates` is the recall fallback for
    sites that don't annotate).  Two capture groups pulled as parallel
    arrays by the same pattern and zipped positionally (the
    anchor-text extraction shape); ``x-default`` rows pass through —
    the pair stage ignores them.  Scan-side only, zero shuffle.
    """
    h = F.col(html_col)
    pat = F.lit(_HREFLANG_RE)
    return (
        pages.select(
            F.col(url_col).alias("url"),
            F.explode(
                F.arrays_zip(
                    F.regexp_extract_all(h, pat, F.lit(1)).alias("hreflang"),
                    F.regexp_extract_all(h, pat, F.lit(2)).alias("href"),
                )
            ).alias("p"),
        )
        .select(
            "url",
            F.lower(F.col("p.hreflang")).alias("hreflang"),
            F.col("p.href").alias("href"),
        )
        .filter(F.col("href") != "")
    )


def hreflang_pairs(alternates: DataFrame) -> DataFrame:
    """Declared translation-pair candidates from hreflang alternates:
    one row per (url_a < url_b) with the declared target language and
    a reciprocity flag — ``is_reciprocal`` (B also declares A) is the
    high-confidence tier real bitext pipelines keep when mining at
    crawl scale (one-sided declarations are frequently stale or
    misconfigured).

    Self-references (a page declaring its own url, the hreflang spec's
    required self-row) and ``x-default`` rows are dropped.  Scale
    shape: ONE self equi-join of the declaration edge list on the
    reversed pair — edges are (url, url) strings, orders of magnitude
    below page bytes; never a similarity scan.
    """
    edges = (
        alternates.filter(
            (F.col("hreflang") != "x-default")
            & (F.col("href") != F.col("url"))
        )
        # min() not dropDuplicates: a (url, href) declared under two
        # langs must keep a DETERMINISTIC one on every engine
        .groupBy("url", "href")
        .agg(F.min("hreflang").alias("hreflang"))
    )
    rev = edges.select(
        F.col("href").alias("url"), F.col("url").alias("href")
    )
    flagged = edges.join(
        rev.withColumn("__recip", F.lit(1)), ["url", "href"], "left"
    )
    return (
        flagged.select(
            F.least("url", "href").alias("url_a"),
            F.greatest("url", "href").alias("url_b"),
            F.col("hreflang").alias("declared_lang"),
            F.coalesce(F.col("__recip"), F.lit(0)).alias("is_reciprocal"),
        )
        .groupBy("url_a", "url_b")
        .agg(
            F.min("declared_lang").alias("declared_lang"),
            F.max("is_reciprocal").cast("int").alias("is_reciprocal"),
        )
    )


# ------------------------------------ rel=next pagination chains

#: <link rel="next" href=".."> matcher — fixed attribute order (the
#: documented CMS-emission bound shared with _HREFLANG_RE)
_REL_NEXT_RE = r'<link rel="next" href="([^"]*)"'


def extract_rel_next(
    pages: DataFrame, url_col: str, html_col: str
) -> DataFrame:
    """(url, next_url) pagination edges from ``rel=next`` links — the
    signal corpus builders use to stitch multi-page articles back into
    one document before chunking (a 5-page article ingested as 5 docs
    near-dups against itself and truncates context).  Scan-side, one
    edge per page (min() collapses duplicate declarations so every
    engine picks the same one)."""
    edges = pages.select(
        F.col(url_col).alias("url"),
        F.regexp_extract(F.col(html_col), _REL_NEXT_RE, 1).alias("next_url"),
    ).filter((F.col("next_url") != "") & (F.col("next_url") != F.col("url")))
    return edges.groupBy("url").agg(F.min("next_url").alias("next_url"))


def pagination_chains(
    edges: DataFrame, max_hops: int = 20
) -> DataFrame:
    """Assemble pagination chains from (url, next_url) edges: every
    page with no INCOMING next-edge is a chain head, and the chain is
    the bounded walk from it — (head, url, position) rows the stitcher
    groups on to rebuild full articles in reading order.

    Cycles (a↔b ring with no entry point) have no head and drop out
    entirely — the same loops-distrusted stance as the rel=canonical
    consolidator; a cycle REACHED from a head is cut by the
    ``max_hops`` bound.  Converging edges are legal: a tail shared by
    two heads appears in both chains.

    Scale shape: heads via one anti-join, then one equi-join per hop
    (chains are article-sized — the loop runs ~5 rounds, bounded by
    ``max_hops``); the frontier shrinks every round and the edge list
    carries two url strings per PAGE-WITH-A-NEXT, orders of magnitude
    below corpus bytes.  The walk is the DuckDB recursive CTE's exact
    semantics, so the oracle twins it with WITH RECURSIVE.
    """
    e = edges.select("url", "next_url")
    heads = e.join(
        e.select(F.col("next_url").alias("url")).distinct(),
        "url",
        "left_anti",
    ).select(F.col("url").alias("head"))
    frontier = heads.select(
        "head", F.col("head").alias("url"), F.lit(0).alias("position")
    )
    out = frontier
    for _ in range(int(max_hops)):
        frontier = (
            frontier.join(e, "url")
            .select(
                "head",
                F.col("next_url").alias("url"),
                (F.col("position") + 1).alias("position"),
            )
        )
        frontier = frontier.localCheckpoint(eager=False)
        if frontier.isEmpty():
            break
        out = out.unionByName(frontier)
    return out.select("head", "url", F.col("position").cast("int"))


def stitch_chains(
    chains: DataFrame, texts: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Rebuild one document per pagination chain: join the chain
    members' extracted texts and concatenate them in position order —
    the consumer of :func:`pagination_chains` that turns a 5-page
    article back into ONE training document (instead of five
    self-near-dup fragments with truncated context).

    Ordering is engine-stable: the (position, text) structs sort by
    position inside the aggregation (``array_sort`` over structs), so
    no window or secondary shuffle is needed — one equi-join on url +
    one groupBy(head) with map-side partials.  Returns
    (head, n_pages, stitched_text).
    """
    joined = chains.join(texts.select("url", text_col), "url")
    parts = F.array_sort(
        F.collect_list(F.struct(F.col("position"), F.col(text_col)))
    )
    return joined.groupBy("head").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.array_join(
            F.transform(parts, lambda s: s[text_col]), "\n\n"
        ).alias("stitched_text"),
    )


# ------------------------------------ meta-refresh redirect chains

#: <meta http-equiv="refresh" content="N;url=..."> matcher — the
#: html-side redirect a crawler must resolve like a 3xx; RE2-portable,
#: case-stable on the fixture grammar (documented bound)
_META_REFRESH_RE = (
    r'<meta http-equiv="refresh" content="[0-9]+;\s*url=([^"]*)"'
)


def extract_meta_refresh(
    pages: DataFrame, url_col: str, html_col: str
) -> DataFrame:
    """(url, target) html meta-refresh redirect edges — the soft
    redirects crawl corpora must resolve exactly like HTTP 3xx: the
    page body is a stub, the TARGET carries the content, and indexing
    the stub both wastes budget and splits link equity.  Scan-side;
    min() collapses duplicate declarations deterministically."""
    edges = pages.select(
        F.col(url_col).alias("url"),
        F.regexp_extract(F.col(html_col), _META_REFRESH_RE, 1).alias(
            "target"
        ),
    ).filter((F.col("target") != "") & (F.col("target") != F.col("url")))
    return edges.groupBy("url").agg(F.min("target").alias("target"))


def resolve_redirects(
    edges: DataFrame, max_hops: int = 10
) -> DataFrame:
    """Resolve redirect chains to their final target: the bounded walk
    of :func:`pagination_chains` over (url, target) edges, reduced to
    one row per chain head — (src_url, final_url, hops, resolved).

    ``resolved`` is false when the walk hit the hop cap (a redirect
    ring reached from outside, or a chain longer than any legitimate
    site emits — crawlers treat both as dead).  Entry-less rings have
    no head and vanish, the loops-distrusted stance shared with
    rel=canonical.  Scale shape: the chain walk's one-equi-join-per-
    hop on an edge list orders of magnitude below corpus bytes, then
    one max_by per head.
    """
    chains = pagination_chains(
        edges.select("url", F.col("target").alias("next_url")),
        max_hops=max_hops,
    )
    return chains.groupBy(F.col("head").alias("src_url")).agg(
        F.max_by("url", "position").alias("final_url"),
        F.max("position").cast("int").alias("hops"),
        (F.max("position") < F.lit(int(max_hops))).alias("resolved"),
    )


# ------------------------------------ publication-date recovery

_META_PUBTIME_RE = (
    r'<meta property="article:published_time" content="([^"]*)"'
)
_TIME_DATETIME_RE = r'<time datetime="([^"]*)"'


def publication_dates(
    pages: DataFrame, id_col: str, html_col: str
) -> DataFrame:
    """Publication-date recovery — the freshness signal temporal
    training mixes, recency-weighted sampling, and latest-version
    dedup all key on.  Three page signals in PRECEDENCE order (the
    order of declining authorship intent):

    1. JSON-LD ``datePublished`` (source ``jsonld``),
    2. ``article:published_time`` OpenGraph meta (source ``meta``),
    3. the first ``<time datetime>`` element (source ``time``).

    The winning raw string's first 10 chars parse as an ISO date via
    ``try_to_date`` — malformed values yield a NULL date but KEEP the
    row and its source label (the monitoring surface: a host whose
    dates stop parsing broke its template).  Pages with no signal
    yield no row.  One scan, staged block pull, zero Python, zero
    shuffle.
    """
    h = F.col(html_col)
    staged = pages.select(
        F.col(id_col),
        F.get_json_object(
            F.regexp_extract(h, _JSONLD_BLOCK_RE, 1), "$.datePublished"
        ).alias("__jl"),
        F.nullif(
            F.regexp_extract(h, _META_PUBTIME_RE, 1), F.lit("")
        ).alias("__og"),
        F.nullif(
            F.regexp_extract(h, _TIME_DATETIME_RE, 1), F.lit("")
        ).alias("__tm"),
    )
    raw = F.coalesce("__jl", "__og", "__tm")
    return (
        staged.filter(raw.isNotNull())
        .select(
            F.col(id_col),
            F.try_to_date(F.substring(raw, 1, 10)).alias("pub_date"),
            F.when(F.col("__jl").isNotNull(), F.lit("jsonld"))
            .when(F.col("__og").isNotNull(), F.lit("meta"))
            .otherwise(F.lit("time"))
            .alias("date_source"),
        )
    )


# ---------------------------------------- schema.org microdata

_MICRODATA_TYPE_RE = r'itemscope itemtype="https://schema\.org/([A-Za-z]+)"'
_MICRODATA_META_RE = r'<meta itemprop="([a-zA-Z]+)" content="([^"]*)">'
_MICRODATA_SPAN_RE = r'<span itemprop="([a-zA-Z]+)">([^<]*)</span>'


def microdata_records(
    pages: DataFrame, id_col: str, html_col: str
) -> DataFrame:
    """schema.org MICRODATA extraction — the other half of structured
    markup (:func:`jsonld_records` covers JSON-LD; large retail/news
    templates still emit itemscope/itemprop attributes): one property
    row per (page, itemprop), with the page's first declared itemtype
    carried alongside.

    Two emission forms, each a zipped two-group pull over one pattern
    (the anchor-text shape): ``<meta itemprop content>`` (hidden
    values: prices, ISO dates) and ``<span itemprop>text</span>``
    (visible values).  Values are verbatim; the span form's
    markup-free-text bound matches ``_ANCHOR_PATTERN``'s documented
    limitation.  Pages without an itemtype yield no rows.  Scan-side
    only, zero Python, zero shuffle.
    """
    h = F.col(html_col)
    itype = F.regexp_extract(h, _MICRODATA_TYPE_RE, 1)
    base = pages.select(
        F.col(id_col), itype.alias("itemtype"), h.alias("__h")
    ).filter(F.col("itemtype") != "")
    parts = []
    for pat, form in ((_MICRODATA_META_RE, "meta"),
                      (_MICRODATA_SPAN_RE, "span")):
        p = F.lit(pat)
        parts.append(
            base.select(
                F.col(id_col),
                "itemtype",
                F.explode(
                    F.arrays_zip(
                        F.regexp_extract_all(F.col("__h"), p, F.lit(1)).alias("prop"),
                        F.regexp_extract_all(F.col("__h"), p, F.lit(2)).alias("value"),
                    )
                ).alias("kv"),
            ).select(
                F.col(id_col),
                "itemtype",
                F.col("kv.prop").alias("prop"),
                F.col("kv.value").alias("value"),
                F.lit(form).alias("form"),
            )
        )
    return parts[0].unionByName(parts[1])


# ------------------------------------ image frontier (src + srcset)

_IMG_SRC_RE = r'<img src="([^"]*)"'
_SRCSET_RE = r'srcset="([^"]*)"'


def image_frontier(
    pages: DataFrame, url_col: str, html_col: str
) -> DataFrame:
    """(page_url, img_url, descriptor) image-fetch frontier rows from
    ``<img src>`` and ``srcset`` attributes — how a multimodal corpus
    mines its image URLs from the text crawl it already has: srcset
    carries the resolution ladder (``url 2x`` / ``url 640w``
    candidate strings, comma-separated per the HTML spec), and the
    corpus builder usually keeps one rung per ladder.

    ``descriptor`` is the srcset candidate's density/width token
    (``''`` for plain ``src`` rows and descriptor-less candidates).
    Expression-only: attribute pulls, an in-row comma split + trim,
    one explode; duplicate (page, img, descriptor) rows collapse.
    Scan-side, zero Python; the output is frontier-sized (urls), never
    payload bytes.
    """
    h = F.col(html_col)
    src_rows = pages.select(
        F.col(url_col).alias("page_url"),
        F.explode(
            F.regexp_extract_all(h, F.lit(_IMG_SRC_RE), F.lit(1))
        ).alias("img_url"),
    ).select("page_url", "img_url", F.lit("").alias("descriptor"))
    cand = pages.select(
        F.col(url_col).alias("page_url"),
        F.explode(
            F.regexp_extract_all(h, F.lit(_SRCSET_RE), F.lit(1))
        ).alias("ss"),
    ).select(
        "page_url",
        F.explode(
            F.transform(F.split("ss", ","), lambda x: F.trim(x))
        ).alias("c"),
    ).filter(F.col("c") != "")
    srcset_rows = cand.select(
        "page_url",
        # F.get (0-based) is NULL-safe out of bounds under ANSI mode,
        # where element_at would raise on descriptor-less candidates
        F.get(F.split("c", r"\s+"), 0).alias("img_url"),
        F.coalesce(
            F.get(F.split("c", r"\s+"), 1), F.lit("")
        ).alias("descriptor"),
    )
    return (
        src_rows.unionByName(srcset_rows)
        .filter(F.col("img_url") != "")
        .dropDuplicates(["page_url", "img_url", "descriptor"])
    )


# Access-gate (paywall) detection patterns — all RE2-safe (no
# lookaround, no backrefs) so the DuckDB oracle runs the identical
# regex.  The JSON-LD marker is the schema.org paywall convention
# Google requires for flexible-sampling publishers: a top-level
# "isAccessibleForFree": false plus a hasPart cssSelector naming the
# gated section (partial / metered gating).
_JSONLD_FREE_RE = r'"isAccessibleForFree"\s*:\s*"?(false|true)"?'
_METERED_SEL_RE = r'"cssSelector"\s*:\s*"\.([A-Za-z0-9_-]+)"'
_PAYWALL_CLASS_RE = (
    r'(?:class|id)="[^"]*'
    r"(paywall|regwall|piano-offer|tp-modal|meteredContent|subscription-wall)"
)
_LOGIN_FORM_RE = r'<input[^>]*type="password"'
_SUB_CTA_RE = (
    r"(subscribe now|already a subscriber|sign in to continue"
    r"|start your free trial|to continue reading)"
)


def access_gate_signals(
    pages: DataFrame, url_col: str = "url", html_col: str = "html_str"
) -> DataFrame:
    """Per-page access-gate classification from raw HTML — the
    paywall/login-wall filter every open-web training corpus runs
    before extraction: gated pages carry teaser text plus subscription
    chrome, and keeping them pollutes the corpus with truncated
    articles and CTA boilerplate.

    Signals (each one projection over the single page scan):

    - ``jsonld_free`` — the declared schema.org
      ``isAccessibleForFree`` value (``'false'`` / ``'true'`` /
      ``''`` when undeclared); publishers gate crawl sampling on it.
    - ``metered_selector`` — the ``hasPart.cssSelector`` class naming
      the gated section (schema.org partial/metered convention).
    - ``paywall_marker`` — known vendor wall class/id tokens (Piano
      ``tp-modal`` / ``piano-offer``, generic ``paywall`` /
      ``regwall`` / ``meteredContent`` / ``subscription-wall``).
    - ``login_form`` — a password input anywhere on the page.
    - ``n_sub_cta`` — subscription call-to-action phrase count over
      the lowercased page.

    ``access_class`` precedence: a declared-false page whose gated
    section is named is ``'metered'`` (the extractable teaser is
    legitimate text); declared-false or vendor-wall pages are
    ``'paywall'``; otherwise a password form is ``'login'``; two or
    more CTA phrases with no structural wall is ``'soft'``; else
    ``'free'``.

    Scale shape: expression-only (regexp extracts + rlike + count)
    over one scan — JVM-side, whole-stage-codegen'd, zero Python,
    zero shuffle; at 10^12 pages this is scan-bound.  Reference
    parity: ClawRag's ingestion validates/filters documents before
    conversion (backend/src/services/extraction_service.py); on a
    web corpus the access gate is that pre-conversion filter.
    """
    h = F.col(html_col)
    low = F.lower(h)
    jsonld_free = F.regexp_extract(h, _JSONLD_FREE_RE, 1)
    metered_sel = F.regexp_extract(h, _METERED_SEL_RE, 1)
    paywall_marker = h.rlike(_PAYWALL_CLASS_RE)
    login_form = h.rlike(_LOGIN_FORM_RE)
    n_cta = F.regexp_count(low, F.lit(_SUB_CTA_RE))
    cls = (
        F.when((jsonld_free == "false") & (metered_sel != ""), "metered")
        .when((jsonld_free == "false") | paywall_marker, "paywall")
        .when(login_form, "login")
        .when(n_cta >= 2, "soft")
        .otherwise("free")
    )
    return pages.select(
        F.col(url_col).alias("url"),
        F.regexp_extract(F.col(url_col), r"^https?://([^/?#]+)", 1).alias(
            "host"
        ),
        cls.alias("access_class"),
        jsonld_free.alias("jsonld_free"),
        metered_sel.alias("metered_selector"),
        paywall_marker.cast("boolean").alias("paywall_marker"),
        login_form.cast("boolean").alias("login_form"),
        n_cta.cast("int").alias("n_sub_cta"),
    )


def _url_param_parts(url_col: str):
    """Shared URL decomposition for the DUST family: fragment-stripped
    base (text before the FIRST '?'), the non-empty ``key=value`` param
    list, and the host."""
    no_frag = F.substring_index(F.col(url_col), "#", 1)
    has_q = no_frag.contains("?")
    base = F.when(
        has_q, F.substr(no_frag, F.lit(1), F.instr(no_frag, "?") - 1)
    ).otherwise(no_frag)
    query = F.when(
        has_q, F.substr(no_frag, F.instr(no_frag, "?") + 1)
    ).otherwise(F.lit(""))
    params = F.filter(F.split(query, "&"), lambda x: x != F.lit(""))
    host = F.regexp_extract(F.col(url_col), r"^https?://([^/?#]+)", 1)
    return base, params, host


def dust_param_rules(
    captures: DataFrame,
    url_col: str = "url",
    digest_col: str = "digest",
    min_support: int = 2,
) -> DataFrame:
    """Mine content-irrelevant URL query parameters per host from crawl
    evidence — the DUST problem ("Do Not Crawl in the DUST: Different
    URLs with Similar Text", Bar-Yossef et al., WWW'07), solved the way
    production crawlers do: by testing whether VARYING a parameter's
    value ever changes the content digest while everything else about
    the URL is held fixed.

    For every capture and every ``key=value`` pair on it, the capture
    joins the evidence group ``(host, key, base?sorted-other-params)``.
    A group with >= 2 distinct values of the key is an experiment:
    one distinct digest across them supports "key is irrelevant",
    more than one contradicts it.  A (host, key) is ruled irrelevant
    iff it has >= ``min_support`` supporting groups and ZERO
    contradictions — session ids, tracking params and cache busters
    fall out; pagination/variant params survive because their value
    changes the digest.  (A constant-valued param never forms an
    experiment and is conservatively kept.)

    Returns (host, key, n_groups, n_support, n_contra, irrelevant).

    Scale shape: one explode to (capture x its-params) rows, one
    groupBy keyed on md5(host|key|base|others) — 32 bytes regardless
    of URL length — with both distinct-counts computed in the same
    two-phase aggregation, then a tiny (host, key) rollup.  No
    self-join, no all-pairs: cost is linear in total param
    occurrences.

    Reference parity: ClawRag normalizes URLs with a static tracking-
    param blocklist at ingest (`canonicalize_url` here mirrors it);
    this operator LEARNS the blocklist from the corpus instead.
    """
    base, params, host = _url_param_parts(url_col)
    rows = (
        captures.select(
            host.alias("host"),
            base.alias("base"),
            params.alias("params"),
            F.col(digest_col).alias("digest"),
        )
        .select(
            "host",
            "base",
            "digest",
            "params",
            F.explode("params").alias("p"),
        )
        .select(
            "host",
            "digest",
            F.substring_index("p", "=", 1).alias("key"),
            F.col("p").alias("kv"),
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("host"),
                    F.substring_index("p", "=", 1),
                    F.col("base"),
                    F.array_join(
                        F.array_sort(F.array_remove("params", F.col("p"))),
                        "&",
                    ),
                )
            ).alias("gk"),
        )
    )
    groups = rows.groupBy("host", "key", "gk").agg(
        F.countDistinct("kv").alias("nvals"),
        F.countDistinct("digest").alias("ndig"),
    )
    evidence = groups.filter(F.col("nvals") >= 2)
    return (
        evidence.groupBy("host", "key")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum(F.when(F.col("ndig") == 1, 1).otherwise(0)).alias(
                "n_support"
            ),
            F.sum(F.when(F.col("ndig") > 1, 1).otherwise(0)).alias(
                "n_contra"
            ),
        )
        .select(
            "host",
            "key",
            F.col("n_groups").cast("long").alias("n_groups"),
            F.col("n_support").cast("long").alias("n_support"),
            F.col("n_contra").cast("long").alias("n_contra"),
            (
                (F.col("n_support") >= min_support)
                & (F.col("n_contra") == 0)
            ).alias("irrelevant"),
        )
    )


def rewrite_urls(
    captures: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """The DUST rewrite itself: (host, url, canon) with each host's
    learned-irrelevant params dropped and survivors sorted (param-order
    variants collapse too).  Canonical urls are fixed points — applying
    the rewrite to its own output changes nothing (pinned by test).

    Scale shape: the rules frame is (hosts x params) — tiny — rolled up
    to one ``bad_keys`` array per host and broadcast; the rewrite is a
    pure array expression per capture.
    """
    base, params, host = _url_param_parts(url_col)
    bad = (
        rules.filter(F.col("irrelevant"))
        .groupBy("host")
        .agg(F.collect_set("key").alias("bad_keys"))
    )
    enriched = captures.select(
        F.col(url_col).alias("url"),
        host.alias("host"),
        base.alias("base"),
        params.alias("params"),
    ).join(F.broadcast(bad), "host", "left")
    kept = F.array_sort(
        F.filter(
            F.col("params"),
            lambda x: ~F.coalesce(
                F.array_contains(
                    F.col("bad_keys"), F.substring_index(x, "=", 1)
                ),
                F.lit(False),
            ),
        )
    )
    canon = F.when(
        F.size(kept) > 0,
        F.concat(F.col("base"), F.lit("?"), F.array_join(kept, "&")),
    ).otherwise(F.col("base"))
    return enriched.select("host", "url", canon.alias("canon"))


def apply_param_rules(
    captures: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Apply mined DUST rules and report the per-host URL-space
    reduction: (host, urls_before, urls_after) = distinct raw URLs vs
    distinct canonical URLs (``rewrite_urls``) — the crawl/dedup
    savings the rules buy.  One groupBy(host) with two distinct-counts
    sharing the aggregation.
    """
    return (
        rewrite_urls(captures, rules, url_col)
        .groupBy("host")
        .agg(
            F.countDistinct("url").alias("urls_before"),
            F.countDistinct("canon").alias("urls_after"),
        )
    )


def burrows_delta_outliers(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n_mfw: int = 30,
    *,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Burrows' Delta stylometry (Burrows 2002; Evert et al. 2017):
    distance between a document's function-word profile and its
    group's centroid profile — same-generator detection for the web:
    documents emitted by one template engine / SEO farm share
    near-identical most-frequent-word (MFW) distributions even when
    their content words all differ, and a human page dropped into a
    farm (or vice versa) surfaces as a Delta outlier within its host
    or source group.

    Method: the ``n_mfw`` corpus-wide most frequent words (ties broken
    by term — deterministic cross-engine); per-document relative
    frequencies; per-term z-scores over ALL documents (zero counts
    included); ``Delta(d) = mean_t |z_dt − c_gt|`` against the doc's
    group centroid ``c_gt``.

    Scale shape — the zeros never materialize: for a term a document
    lacks, ``z = (0 − μ_t)/σ_t = z0_t`` is DOC-INDEPENDENT, so

    - per-term μ, σ come from sparse sums (zeros add nothing to Σrf or
      Σrf², and N counts all docs),
    - the group centroid is ``(Σ_present z + (N_g − n_present)·z0)/N_g``,
    - ``Σ_t |z_dt − c_gt|`` splits into a per-GROUP constant
      ``Σ_t |z0_t − c_gt|`` plus a sparse per-doc correction
      ``Σ_{t present} (|z_dt − c_gt| − |z0_t − c_gt|)``.

    So the only doc-scaled frames are the (doc, mfw-term) postings; the
    dense doc×term grid (3·10^13 rows at corpus scale for 30 MFW) is
    never built.  Terms with σ = 0 are dropped from the profile.

    Returns (id, group, delta) for every document with at least one
    token, delta rounded to 6 dp (docs matching no MFW still score via
    the group constant).
    """
    from .retrieval import sql_tokens

    if tokens is not None:
        # caller-cached (id, term) frame: attach the group via a
        # broadcast metadata join — every downstream aggregate keys on
        # the same columns, so values and partition merge structure are
        # unchanged (dl/tf integer counts, rf exact divisions)
        grpmap = docs.select(
            F.col(id_col), F.col(group_col).alias("grp")
        )
        toks = tokens.join(F.broadcast(grpmap), id_col).select(
            F.col(id_col), "grp", "term"
        )
    else:
        toks = docs.select(
            F.col(id_col),
            F.col(group_col).alias("grp"),
            F.explode(sql_tokens(F.col(text_col))).alias("term"),
        )
    # dl feeds three consumers (rf join, group sizes, the final spine)
    # and z feeds two (group sums + per-doc corrections, each of which
    # would otherwise re-run the rf aggregation) — persist both; the
    # materialized bits are what the recomputation produced before
    dl = toks.groupBy(id_col, "grp").agg(F.count("*").alias("dl")).persist()
    n_docs = dl.agg(F.count("*").alias("n_docs"))
    mfw = (
        toks.groupBy("term")
        .agg(F.count("*").alias("ctf"))
        .orderBy(F.desc("ctf"), "term")
        .limit(n_mfw)
        .select("term")
    )
    rf = (
        toks.join(F.broadcast(mfw), "term")
        .groupBy(id_col, "grp", "term")
        .agg(F.count("*").alias("tf"))
        .join(dl.select(id_col, "dl"), id_col)
        .select(id_col, "grp", "term", (F.col("tf") / F.col("dl")).alias("rf"))
    )
    stats = (
        rf.groupBy("term")
        .agg(F.sum("rf").alias("s1"), F.sum(F.col("rf") * F.col("rf")).alias("s2"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            (F.col("s1") / F.col("n_docs")).alias("mu"),
            F.sqrt(
                F.col("s2") / F.col("n_docs")
                - (F.col("s1") / F.col("n_docs"))
                * (F.col("s1") / F.col("n_docs"))
            ).alias("sigma"),
        )
        .filter(F.col("sigma") > 0)
        .withColumn("z0", -F.col("mu") / F.col("sigma"))
    )
    m_terms = stats.agg(F.count("*").alias("m"))
    z = rf.join(F.broadcast(stats), "term").select(
        id_col,
        "grp",
        "term",
        ((F.col("rf") - F.col("mu")) / F.col("sigma")).alias("z"),
        "z0",
    )
    z = z.persist()
    z.count()  # materialize before gsum/adj fork the plan
    ng = dl.groupBy("grp").agg(F.count("*").alias("ng"))
    gsum = z.groupBy("grp", "term").agg(
        F.sum("z").alias("sz"), F.count("*").alias("npres")
    )
    # tiny dense grid: groups x MFW terms (both broadcast-scale)
    grid = ng.crossJoin(F.broadcast(stats.select("term", "z0")))
    cent = grid.join(gsum, ["grp", "term"], "left").select(
        "grp",
        "term",
        "z0",
        (
            (
                F.coalesce(F.col("sz"), F.lit(0.0))
                + (F.col("ng") - F.coalesce(F.col("npres"), F.lit(0)))
                * F.col("z0")
            )
            / F.col("ng")
        ).alias("c"),
    )
    gconst = cent.groupBy("grp").agg(
        F.sum(F.abs(F.col("z0") - F.col("c"))).alias("base")
    )
    adj = (
        z.join(
            F.broadcast(cent.select("grp", "term", "c")), ["grp", "term"]
        )
        .groupBy(id_col, "grp")
        .agg(
            F.sum(
                F.abs(F.col("z") - F.col("c")) - F.abs(F.col("z0") - F.col("c"))
            ).alias("adj")
        )
    )
    return (
        dl.select(id_col, "grp")
        .join(adj, [id_col, "grp"], "left")
        .join(F.broadcast(gconst), "grp")
        .crossJoin(F.broadcast(m_terms))
        .select(
            F.col(id_col),
            F.col("grp").alias(group_col),
            F.round(
                (F.col("base") + F.coalesce(F.col("adj"), F.lit(0.0)))
                / F.col("m"),
                6,
            ).alias("delta"),
        )
    )


def crawl_equity(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Crawl-allocation equity report: how concentrated is the corpus
    across hosts?  One row of (n_hosts, n_pages, gini, entropy_bits,
    top1_share, top10_share) — the dataset-datasheet numbers behind
    "is this crawl a few mega-hosts in a trenchcoat": Gini of the
    per-host page counts (0 = perfectly even, ->1 = one host owns the
    crawl), Shannon entropy of the host distribution in bits, and the
    share of the biggest host / biggest ten.

    Gini uses the sorted-rank identity ``G = 2·Σ i·x_i / (n·Σx)
    − (n+1)/n`` with x ascending — rank ties between equal counts don't
    change the sum, so the value is deterministic.  The rank comes from
    the distributed two-phase ``global_rank`` (range partition +
    partition-local row_number + broadcast offsets), never a
    single-partition window: hosts are corpus-small but at 10^12 pages
    still tens of millions of rows.

    Scale shape: one groupBy(host) over the page scan, then every
    aggregate is over the host table; the top-10 is
    TakeOrderedAndProject.
    """
    from .packing import global_rank

    hosts = (
        pages.select(
            F.regexp_extract(F.col(url_col), r"^https?://([^/?#]+)", 1).alias(
                "host"
            )
        )
        .groupBy("host")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = global_rank(
        hosts, [F.col("cnt").asc(), F.col("host")], rank_col="rk"
    )
    totals = ranked.agg(
        F.count("*").alias("n_hosts"),
        F.sum("cnt").alias("n_pages"),
        F.sum(F.col("rk") * F.col("cnt")).alias("ssum"),
        F.max("cnt").alias("top1"),
    )
    # entropy needs p per host: one more pass over the host table
    ent = (
        hosts.crossJoin(
            F.broadcast(hosts.agg(F.sum("cnt").alias("tot")))
        )
        .select(
            (
                -(F.col("cnt") / F.col("tot"))
                * F.log2(F.col("cnt") / F.col("tot"))
            ).alias("h")
        )
        .agg(F.sum("h").alias("entropy_bits"))
    )
    top10 = (
        hosts.orderBy(F.desc("cnt"), "host")
        .limit(10)
        .agg(F.sum("cnt").alias("top10"))
    )
    return (
        totals.crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(top10))
        .select(
            F.col("n_hosts").cast("long").alias("n_hosts"),
            F.col("n_pages").cast("long").alias("n_pages"),
            F.round(
                2.0 * F.col("ssum") / (F.col("n_hosts") * F.col("n_pages"))
                - (F.col("n_hosts") + 1.0) / F.col("n_hosts"),
                6,
            ).alias("gini"),
            F.round("entropy_bits", 6).alias("entropy_bits"),
            F.round(F.col("top1") / F.col("n_pages"), 6).alias("top1_share"),
            F.round(F.col("top10") / F.col("n_pages"), 6).alias(
                "top10_share"
            ),
        )
    )


def source_novelty(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
) -> DataFrame:
    """Per-source novelty report — what each source actually ADDS to
    the corpus, the mix-design complement of volume-weighted sampling:
    a source can be huge yet contribute nothing the rest of the corpus
    doesn't already say.

    Per source: ``n_docs``, ``dup_doc_frac`` (exact within-source
    duplicate rate by text digest), ``n_grams`` (distinct 3-token
    shingles), ``n_unique_grams`` (shingles appearing in NO other
    source), and ``unique_share`` — the fraction of the source's
    vocabulary that is corpus-exclusive.  Sources with high volume and
    low unique_share are mirrors/template farms of the rest of the
    corpus; high unique_share marks the sources a temperature-scaled
    mix should up-weight.

    Scale shape: shingles reduce to (source, md5) pairs — 32-byte keys
    — deduped per source before any counting; exclusivity is one
    groupBy(gram) counting distinct sources with a map-side partial;
    never a self-join.
    """
    from ..operators.dataset import shingle_rows  # shared 3-gram explode

    sh = shingle_rows(docs, id_col, text_col)
    # shingle_rows keeps only (id, shingle); re-attach source by id
    src_map = docs.select(F.col(id_col), F.col(source_col).alias("__src"))
    per_src_gram = (
        sh.join(src_map, id_col)
        .select("__src", F.md5("shingle").alias("g"))
        .distinct()
    )
    spread = per_src_gram.groupBy("g").agg(
        F.count("*").alias("n_sources")
    )
    gram_stats = (
        per_src_gram.join(spread, "g")
        .groupBy("__src")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0)).alias(
                "n_unique_grams"
            ),
        )
    )
    doc_stats = docs.groupBy(F.col(source_col).alias("__src")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5(text_col)).alias("n_distinct_texts"),
    )
    return (
        doc_stats.join(gram_stats, "__src", "left")
        .select(
            F.col("__src").alias(source_col),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(
                1.0 - F.col("n_distinct_texts") / F.col("n_docs"), 6
            ).alias("dup_doc_frac"),
            F.coalesce(F.col("n_grams"), F.lit(0))
            .cast("long")
            .alias("n_grams"),
            F.coalesce(F.col("n_unique_grams"), F.lit(0))
            .cast("long")
            .alias("n_unique_grams"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                    F.col("n_unique_grams") / F.col("n_grams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("unique_share"),
        )
    )


def psi_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    baseline: str,
    n_buckets: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Population Stability Index of a bounded score distribution per
    group against a named baseline group — the drift monitor every
    production data pipeline runs between crawl snapshots / sources
    before trusting a threshold tuned on the old distribution:
    ``PSI = Σ_buckets (p_i − q_i)·ln(p_i/q_i)`` over fixed-width
    buckets, with the standard verdict bands (<0.1 stable, <0.25
    moderate shift, else major shift).

    Empty buckets get the +0.5 continuity correction (``(cnt+0.5) /
    (n+0.5·B)``) so the log never sees zero and the smoothing is an
    exact rational both engines compute identically; the final sum is
    rounded to 6 dp (bucket contributions are O(0.01+), float
    association drift is 1e-15 — same argument as ``domain_kl``).

    Scale shape: ONE map-side-combinable groupBy(group, bucket) over
    the scan (output ≤ |groups|·B rows), a |groups|×B spine via
    ``sequence`` so empty buckets participate, baseline shares
    broadcast into the join.  Returns (group, n_docs, psi, verdict)
    for every non-baseline group.
    """
    B = n_buckets
    bucket = F.least(
        F.greatest(
            F.floor(
                (F.col(score_col) - F.lit(lo)) / F.lit(hi - lo) * F.lit(B)
            ),
            F.lit(0),
        ),
        F.lit(B - 1),
    ).cast("int")
    counts = (
        df.select(F.col(group_col).alias("grp"), bucket.alias("b"))
        .groupBy("grp", "b")
        .agg(F.count("*").alias("cnt"))
    )
    groups = counts.select("grp").distinct()
    spine = groups.crossJoin(
        counts.sparkSession.range(B).select(F.col("id").cast("int").alias("b"))
    )
    full = (
        spine.join(counts, ["grp", "b"], "left")
        .fillna({"cnt": 0})
    )
    totals = full.groupBy("grp").agg(F.sum("cnt").alias("n"))
    full = full.join(totals, "grp")
    base = full.filter(F.col("grp") == baseline).select(
        "b",
        ((F.col("cnt") + 0.5) / (F.col("n") + 0.5 * B)).alias("q"),
    )
    cur = full.filter(F.col("grp") != baseline).select(
        "grp",
        "b",
        "n",
        ((F.col("cnt") + 0.5) / (F.col("n") + 0.5 * B)).alias("p"),
    )
    psi = (
        cur.join(F.broadcast(base), "b")
        .groupBy("grp", "n")
        .agg(
            F.round(
                F.sum(
                    (F.col("p") - F.col("q"))
                    * F.log(F.col("p") / F.col("q"))
                ),
                6,
            ).alias("psi")
        )
    )
    return psi.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n_docs"),
        "psi",
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "moderate_shift")
        .otherwise("major_shift")
        .alias("verdict"),
    )


def quantile_normalize(
    df: DataFrame,
    id_col: str,
    group_col: str,
    score_col: str,
) -> DataFrame:
    """Quantile-normalize a per-group score onto the POOLED score
    distribution: each row's score becomes the pooled value at its
    within-group percentile — the cross-scorer calibration step before
    one global threshold can mean the same thing for every source
    (quality scorers drift per domain; a 0.7 from a news scorer and a
    0.7 from a forum scorer are not the same percentile).

    Percentile = ``(rn−1)/(n_g−1)`` with a (score, id) tie-break
    (singleton groups pin to 0); the pooled target index is
    ``floor(p·(N−1) + 0.5) + 1`` — floor instead of round, because
    percent-rank rationals land exactly on .5 boundaries where
    round-half-even (python) and round-half-away (duckdb) disagree.

    Scale shape: one window per group, the pooled ranking via the
    distributed two-phase ``global_rank`` (range partition +
    partition-local row_number + broadcast offsets — never a
    single-partition sort), and one equi-join on the unique target
    index.  Returns (id, group, score, norm_score).
    """
    from .packing import global_rank

    wg = Window.partitionBy(group_col).orderBy(score_col, id_col)
    ng = Window.partitionBy(group_col)
    with_p = df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        F.row_number().over(wg).alias("rn"),
        F.count("*").over(ng).alias("n_g"),
    ).select(
        id_col,
        group_col,
        score_col,
        F.when(F.col("n_g") == 1, F.lit(0.0))
        .otherwise((F.col("rn") - 1.0) / (F.col("n_g") - 1.0))
        .alias("p"),
    )
    pooled = global_rank(
        df.select(
            F.col(score_col).alias("v"),
            F.col(group_col).alias("g2"),
            F.col(id_col).alias("i2"),
        ),
        [F.col("v").asc(), F.col("g2").asc(), F.col("i2").asc()],
        rank_col="idx",
    ).select("idx", "v")
    n_total = pooled.agg(F.count("*").alias("N"))
    return (
        with_p.crossJoin(F.broadcast(n_total))
        .withColumn(
            "idx",
            (
                F.floor(F.col("p") * (F.col("N") - 1) + F.lit(0.5)) + 1
            ).cast("long"),
        )
        .join(pooled, "idx")
        .select(
            id_col,
            group_col,
            score_col,
            F.col("v").alias("norm_score"),
        )
    )


def rake_keywords(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: list[str] | None = None,
    top_k: int = 30,
    max_words: int = 4,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) at corpus scope:
    candidate phrases are maximal stopword/punctuation-delimited word
    runs; each word scores ``degree/frequency`` (degree = Σ length of
    the phrases it appears in, frequency = occurrence count); a phrase
    scores the sum over its word occurrences.  Multi-word technical
    collocations win because their words co-occur in long runs —
    the classic zero-model keyphrase baseline next to tf-idf.

    Runs longer than ``max_words`` are dropped BEFORE scoring (the
    paper's candidate-length cap): without it, any stretch of
    stopword-free prose — or any non-English text, whose stopwords an
    English list never hits — becomes one giant maximal run whose
    length-summed degree dwarfs every real keyphrase.

    Scale shape: tokenize + posexplode once; the phrase id is a
    running stopword count per doc (ONE window on the doc key — the
    run-grouping trick, no regex lookarounds, RE2-portable); word
    stats are one map-side-combinable agg on the word key
    (Heaps-bounded output) broadcast back; phrases aggregate on
    (doc, run); the global top-k is TakeOrderedAndProject under the
    rounded-score + phrase total order.  Returns (phrase, n_occurrences,
    score).
    """
    from .dataset import _STOPWORDS

    stops = stopwords if stopwords is not None else list(_STOPWORDS)
    toks = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.posexplode(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
            ).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
        .withColumn("stop", F.col("w").isin(stops))
    )
    run = F.sum(F.col("stop").cast("int")).over(
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    phrase_words = (
        toks.withColumn("run", run)
        .filter(~F.col("stop"))
        .select("doc", "run", "pos", "w")
    )
    plen = (
        phrase_words.groupBy("doc", "run")
        .agg(F.count("*").alias("plen"))
        .filter(F.col("plen") <= max_words)
    )
    occ = phrase_words.join(plen, ["doc", "run"])
    word_stats = occ.groupBy("w").agg(
        (F.sum("plen") / F.count("*")).alias("ratio")
    )
    phrases = (
        occ.join(F.broadcast(word_stats), "w")
        .groupBy("doc", "run")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("ratio").alias("score"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.round(F.max("score"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "phrase")
        .limit(top_k)
    )


def char_entropy(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Letter-distribution Shannon entropy per document — the classic
    gibberish/template signal (CCNet-family): natural prose sits near
    the language's letter entropy (~4.1 bits for English), keyboard
    mash and encrypted/compressed blobs run higher and flatter,
    repeated-template junk (aaaa…, spinner text) runs far lower with a
    dominant letter.

    Zero shuffle, zero Python: the 26 letter counts are staged
    ``length(t) − length(replace(t, c))`` expressions folded with
    ``aggregate`` over an array column; the letter total is PROJECTED
    before the entropy fold references it (the repo's lambda-CSE rule —
    an aggregate referenced inside a lambda re-evaluates per element).
    Returns (id, n_letters, entropy_bits, top_letter_frac), rounded to
    6 dp (≤26 summands, association drift ≪ 1e-9).
    """
    letters = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    t = F.lower(F.col(text_col))
    staged = docs.select(
        F.col(id_col),
        F.array(
            *[
                (
                    F.length(t)
                    - F.length(F.replace(t, F.lit(ch), F.lit("")))
                ).cast("double")
                for ch in letters
            ]
        ).alias("arr"),
    )
    with_total = staged.select(
        id_col,
        "arr",
        F.aggregate(
            "arr", F.lit(0.0), lambda acc, x: acc + x
        ).alias("total"),
    )
    ent = F.aggregate(
        "arr",
        F.lit(0.0),
        lambda acc, x: acc
        + F.when(
            x > 0, -(x / F.col("total")) * F.log2(x / F.col("total"))
        ).otherwise(F.lit(0.0)),
    )
    return with_total.select(
        id_col,
        F.col("total").cast("long").alias("n_letters"),
        F.when(F.col("total") > 0, F.round(ent, 6))
        .otherwise(F.lit(0.0))
        .alias("entropy_bits"),
        F.when(
            F.col("total") > 0,
            F.round(F.array_max("arr") / F.col("total"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top_letter_frac"),
    )


def table_profile(
    table_rows: DataFrame,
    url_col: str = "url",
    row_col: str = "row_idx",
    cells_col: str = "cells",
) -> DataFrame:
    """Column-type profiling over extracted HTML tables: per (table,
    column position), classify every cell as int / float / empty /
    text (anchored RE2-safe regexes) and infer the column type by
    majority with the precedence int > float > text > empty on ties —
    the schema-inference pass that turns scraped ``<td>`` soup into
    typed training tables (numeric columns feed different serialization
    than prose columns).

    One narrow posexplode of the cell arrays (no shuffle) + ONE
    map-side-combinable groupBy(url, col_idx); conditional counts, no
    distinct.  Returns (url, col_idx, n_rows, n_int, n_float, n_empty,
    n_text, inferred).
    """
    cells = (
        table_rows.select(
            F.col(url_col),
            F.col(row_col),
            F.posexplode(F.col(cells_col)).alias("col_idx", "cell"),
        )
        .withColumn("cell", F.trim(F.col("cell")))
    )
    is_int = F.col("cell").rlike("^-?[0-9]+$")
    is_float = F.col("cell").rlike("^-?[0-9]+\\.[0-9]+$")
    is_empty = F.col("cell") == ""
    classified = cells.select(
        url_col,
        "col_idx",
        F.when(is_int, "int")
        .when(is_float, "float")
        .when(is_empty, "empty")
        .otherwise("text")
        .alias("cls"),
    )
    agg = classified.groupBy(url_col, "col_idx").agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("cls") == "int").cast("long")).alias("n_int"),
        F.sum((F.col("cls") == "float").cast("long")).alias("n_float"),
        F.sum((F.col("cls") == "empty").cast("long")).alias("n_empty"),
        F.sum((F.col("cls") == "text").cast("long")).alias("n_text"),
    )
    top = F.greatest("n_int", "n_float", "n_empty", "n_text")
    return agg.select(
        url_col,
        "col_idx",
        "n_rows",
        "n_int",
        "n_float",
        "n_empty",
        "n_text",
        F.when(F.col("n_int") == top, "int")
        .when(F.col("n_float") == top, "float")
        .when(F.col("n_text") == top, "text")
        .otherwise("empty")
        .alias("inferred"),
    )


def unimax_mix(
    docs: DataFrame,
    lang_col: str,
    chars_col: str,
    *,
    epochs_cap: int = 2,
    budget_num: int = 3,
    budget_den: int = 2,
) -> DataFrame:
    """UNIMAX language-budget allocation (Chung et al. 2023): spread a
    total training budget as uniformly as possible across languages,
    capping every language at ``epochs_cap`` epochs of its own data —
    the closed-form water-filling that replaced temperature sampling
    for multilingual LMs (no language is upsampled past the cap, the
    freed budget is shared equally by the rest).

    The iterative algorithm has a closed form over the per-language
    totals sorted ASCENDING by capacity ``c = epochs_cap * chars``:
    a language is capped iff ``c_i * (n - i + 1) <= B - prefix_i``
    (its full capacity fits under the fair share of what is left), and
    that predicate is MONOTONE along the sort — if row i fails, every
    later (larger) row fails — so one window pass decides the cutoff;
    no loop, no driver round-trips.  All cutoff math is BIGINT
    (budget ``B = (budget_num * total) div budget_den``), so the
    capped set is bit-identical across engines; only the final shared
    allocation divides.

    Scale shape: one map-side-partial groupBy to |langs| rows, then
    windows over that tiny frame.  Returns (lang, n_chars, capacity,
    capped, alloc_chars, epochs_used, budget_share), rounded 6 dp.
    """
    totals = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.sum(chars_col).cast("long").alias("n_chars")
    )
    w_all = Window.partitionBy(F.lit(1))
    w_ord = Window.partitionBy(F.lit(1)).orderBy("capacity", "lang")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    staged = totals.select(
        "lang",
        "n_chars",
        (F.lit(epochs_cap) * F.col("n_chars")).alias("capacity"),
    ).select(
        "lang",
        "n_chars",
        "capacity",
        F.expr(
            f"({budget_num} * sum(capacity) over ()) div {budget_den}"
        ).alias("budget"),
        F.row_number().over(w_ord).alias("i"),
        F.count("*").over(w_all).alias("n"),
        F.coalesce(F.sum("capacity").over(w_prev), F.lit(0)).alias(
            "prefix"
        ),
    )
    # NOTE: budget is (num/den) * total CAPACITY so both branches are
    # exercised for skewed corpora at any scale (ratios, not absolutes,
    # decide the cutoff — the predicate is scale-invariant).
    flagged = staged.withColumn(
        "capped",
        F.col("capacity") * (F.col("n") - F.col("i") + 1)
        <= F.col("budget") - F.col("prefix"),
    )
    shared = flagged.select(
        "*",
        F.sum(F.when(F.col("capped"), F.col("capacity")).otherwise(0))
        .over(w_all)
        .alias("capped_sum"),
        F.sum(F.when(F.col("capped"), 0).otherwise(1))
        .over(w_all)
        .alias("n_uncapped"),
    )
    alloc = F.when(F.col("capped"), F.col("capacity").cast("double")).otherwise(
        (F.col("budget") - F.col("capped_sum"))
        / F.greatest(F.col("n_uncapped"), F.lit(1))
    )
    return shared.select(
        "lang",
        "n_chars",
        "capacity",
        "capped",
        F.round(alloc, 6).alias("alloc_chars"),
        F.round(alloc / F.col("n_chars"), 6).alias("epochs_used"),
        F.round(alloc / F.col("budget"), 6).alias("budget_share"),
    )


def k_anonymity(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over user profiles (Sweeney 2002): build the
    quasi-identifier tuple every user exposes — (first-seen day,
    dominant event type, activity bucket) — and flag every equivalence
    class smaller than ``k`` for suppression.  This is the release
    gate regex PII scrubbing cannot provide: a unique BEHAVIORAL
    combination re-identifies a user even with all direct identifiers
    masked.

    The activity bucket is an explicit CASE ladder (1, 2-3, 4-7, 8-15,
    16+), not ``floor(log2(n))`` — boundary-exact on both engines with
    no float-rounding risk.  The dominant type is the per-user modal
    event type, ties broken by the type string, computed with ONE
    ``max(struct(cnt, type))`` aggregation (no window, no second
    shuffle on the user axis).

    Scale shape: ONE scan — groupBy(user, type) with map-side partial
    counts (carrying min(day) alongside) → groupBy(user) →
    groupBy(quasi-tuple); every shuffle carries one row per group.
    Returns (first_day, dominant_type, activity_bucket, n_users,
    suppressed).
    """
    per_type = events.groupBy(
        F.col(user_col).alias("user"), F.col(type_col).alias("etype")
    ).agg(
        F.count("*").alias("cnt"),
        F.min(F.to_date(ts_col)).alias("fd"),
    )
    # modal type via max(struct): cnt DESC then type ASC == max over
    # (cnt, negated-order type); encode the ASC tie-break by max over
    # struct(cnt, -ord)?  Strings can't negate — use min over
    # struct(-cnt, type) instead: smallest -cnt = largest cnt, then
    # smallest type string.
    profiles = (
        per_type.groupBy("user")
        .agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("etype")))
            .alias("top"),
            F.sum("cnt").alias("n_events"),
            F.min("fd").alias("first_day"),
        )
        .select(
            "user",
            F.col("top.etype").alias("dominant_type"),
            "n_events",
            "first_day",
        )
    )
    bucket = (
        F.when(F.col("n_events") <= 1, "1")
        .when(F.col("n_events") <= 3, "2-3")
        .when(F.col("n_events") <= 7, "4-7")
        .when(F.col("n_events") <= 15, "8-15")
        .otherwise("16+")
    )
    quasi = profiles.select(
        "first_day", "dominant_type", bucket.alias("activity_bucket")
    )
    return (
        quasi.groupBy("first_day", "dominant_type", "activity_bucket")
        .agg(F.count("*").alias("n_users"))
        .select(
            "first_day",
            "dominant_type",
            "activity_bucket",
            "n_users",
            (F.col("n_users") < k).alias("suppressed"),
        )
    )


def _spend_profiles(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    value_col: str,
) -> DataFrame:
    """Per-user behavioral profile shared by the privacy audits
    (:func:`l_diversity`, :func:`t_closeness`): quasi-identifier tuple
    (first_day, dominant_type, activity_bucket) plus the sensitive
    spend_bucket.  Spend aggregates as INTEGER CENTS so the bucket
    thresholds compare exact integers on every engine; the modal type
    is the min(struct(-cnt, type)) pick — ties to the lexically
    smaller type, same as the SQL twin's row_number ordering."""
    per_type = events.groupBy(
        F.col(user_col).alias("user"), F.col(type_col).alias("etype")
    ).agg(
        F.count("*").alias("cnt"),
        F.min(F.to_date(ts_col)).alias("fd"),
        F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("cents"),
    )
    return (
        per_type.groupBy("user")
        .agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("etype")))
            .alias("top"),
            F.sum("cnt").alias("n_events"),
            F.min("fd").alias("first_day"),
            F.sum("cents").alias("spend_cents"),
        )
        .select(
            F.col("top.etype").alias("dominant_type"),
            F.when(F.col("n_events") <= 1, "1")
            .when(F.col("n_events") <= 3, "2-3")
            .when(F.col("n_events") <= 7, "4-7")
            .when(F.col("n_events") <= 15, "8-15")
            .otherwise("16+")
            .alias("activity_bucket"),
            "first_day",
            F.when(F.col("spend_cents") < 250000, "low")
            .when(F.col("spend_cents") < 350000, "mid")
            .when(F.col("spend_cents") < 450000, "high")
            .otherwise("top")
            .alias("spend_bucket"),
        )
    )


def l_diversity(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    value_col: str,
    *,
    k: int = 5,
    l_distinct: int = 2,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007) — the k-anonymity
    follow-up: a quasi-identifier class can be large enough (>= k)
    yet still leak if every member shares the same SENSITIVE value
    (the homogeneity attack k-anonymity misses).  Quasi tuple is the
    same behavioral profile as :func:`k_anonymity`; the sensitive
    attribute is the user's spend bucket.

    Spend is aggregated as INTEGER CENTS (``sum(round(value * 100))``)
    so the bucket thresholds compare exact integers — float sum
    association can never flip a boundary between engines.  Scale
    shape: one scan, the same two-level groupBy as k_anonymity, plus
    an exact distinct count of <=|buckets| sensitive values per class.
    Returns (first_day, dominant_type, activity_bucket, n_users,
    n_sensitive, k_anonymous, l_diverse).
    """
    profiles = _spend_profiles(events, user_col, ts_col, type_col, value_col)
    return (
        profiles.groupBy("first_day", "dominant_type", "activity_bucket")
        .agg(
            F.count("*").alias("n_users"),
            F.countDistinct("spend_bucket").alias("n_sensitive"),
        )
        .select(
            "first_day",
            "dominant_type",
            "activity_bucket",
            "n_users",
            "n_sensitive",
            (F.col("n_users") >= k).alias("k_anonymous"),
            (F.col("n_sensitive") >= l_distinct).alias("l_diverse"),
        )
    )


def dp_release_counts(
    df: DataFrame,
    group_col: str,
    *,
    epsilon: float = 1.0,
    salt: str = "dp",
) -> DataFrame:
    """Differentially-private count release (Dwork 2006): per-group
    counts + Laplace(sensitivity/epsilon) noise — the mechanism for
    publishing corpus composition stats (docs per language/source)
    when the collection itself is sensitive.  Count queries have
    sensitivity 1, so the noise scale is 1/epsilon.

    The Laplace draw is DETERMINISTIC given the salt: u in (0,1) from
    the group's salted md5 (the repo's hex->BIGINT uniform), inverse
    CDF ``-b * sign(u - 1/2) * ln(1 - 2|u - 1/2|)``, rounded to 9 dp
    to absorb last-ulp ln() differences between engine libms — the
    same engine-parity trick as weighted_sample's pow().  (A secret
    salt is the seed; determinism aids reproducible releases and
    testing, and u is bounded away from 0/1 by the 60-bit grid so the
    noise is always finite.)  Released counts are clamped at 0
    (post-processing preserves DP).

    Scale shape: ONE map-side-partial groupBy; the noise is expression
    work on the |groups|-row result.  Returns (group, noisy_count,
    epsilon, sensitivity) — the true count deliberately does NOT
    appear in the release.
    """
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    counts = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "|"), F.col("grp"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float((1 << 60) + 1))
    c = u - F.lit(0.5)
    noise = F.round(
        -F.lit(1.0 / epsilon)
        * F.signum(c)
        * F.log(F.lit(1.0) - 2.0 * F.abs(c)),
        9,
    )
    return counts.select(
        F.col("grp").alias(group_col),
        F.greatest(F.round(F.col("n") + noise, 6), F.lit(0.0)).alias(
            "noisy_count"
        ),
        F.lit(float(epsilon)).alias("epsilon"),
        F.lit(1.0).alias("sensitivity"),
    )


def t_closeness(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    value_col: str,
    *,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness audit (Li et al. 2007) — the third rung of the
    privacy-audit ladder after :func:`k_anonymity` and
    :func:`l_diversity`: an equivalence class can be k-anonymous AND
    l-diverse yet still leak if its sensitive-value DISTRIBUTION skews
    far from the table-wide one (the skewness attack).  Closeness is
    the ordered-attribute Earth Mover's Distance of Li §5.2: with the
    m=4 spend buckets ordered low<mid<high<top,
    ``EMD = (1/(m-1)) * Σ_{i<m} |Σ_{j<=i} (p_j − q_j)|`` — the mean
    absolute CDF gap between the class distribution p and the global
    distribution q.

    Determinism: p and q are exact rational counts over integer-cent
    bucket assignments (:func:`_spend_profiles`), so the only floats
    are the final three divisions — identical on both engines, rounded
    to 6 dp.  Scale shape: the same two-level groupBy as k_anonymity
    down to |classes| rows carrying FOUR conditional counts (no pivot,
    no explode), then windows over that tiny class-level frame for the
    global distribution.  Returns (first_day, dominant_type,
    activity_bucket, n_users, emd, t_close).
    """
    profiles = _spend_profiles(events, user_col, ts_col, type_col, value_col)
    cls = profiles.groupBy(
        "first_day", "dominant_type", "activity_bucket"
    ).agg(
        F.count("*").alias("n_users"),
        F.sum((F.col("spend_bucket") == "low").cast("long")).alias("c1"),
        F.sum((F.col("spend_bucket") == "mid").cast("long")).alias("c2"),
        F.sum((F.col("spend_bucket") == "high").cast("long")).alias("c3"),
    )
    w = Window.partitionBy(F.lit(1))
    g = cls.select(
        "*",
        F.sum("n_users").over(w).alias("gn"),
        F.sum("c1").over(w).alias("g1"),
        F.sum("c2").over(w).alias("g2"),
        F.sum("c3").over(w).alias("g3"),
    )
    d1 = F.col("c1") / F.col("n_users") - F.col("g1") / F.col("gn")
    d2 = F.col("c2") / F.col("n_users") - F.col("g2") / F.col("gn")
    d3 = F.col("c3") / F.col("n_users") - F.col("g3") / F.col("gn")
    emd = (F.abs(d1) + F.abs(d1 + d2) + F.abs(d1 + d2 + d3)) / F.lit(3.0)
    return g.select(
        "first_day",
        "dominant_type",
        "activity_bucket",
        "n_users",
        F.round(emd, 6).alias("emd"),
        (emd <= F.lit(t)).alias("t_close"),
    )


def doremi_weights(
    docs: DataFrame,
    domain_col: str,
    text_col: str,
    *,
    alpha: float = 1.0,
    uniform_mix: float = 0.2,
    add_k: float = 0.5,
    vocab: int = 64,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023) with a
    deterministic count-model stand-in for the trained reference/proxy
    pair: a domain's EXCESS LOSS is the cross-entropy of its char-
    trigram stream under the pooled all-domain add-k model minus the
    entropy under its OWN add-k model — nonnegative by Gibbs'
    inequality (up to smoothing, clamped at 0), zero iff the domain's
    conditional distribution matches the pooled one, large where the
    uniform mixture underserves the domain: DoReMi's "learnable but
    not yet learned" signal without a gradient step.  Final weights
    are the paper's smoothed softmax,
    ``w = (1-c) * softmax(excess/alpha) + c / n_domains``.

    Neither loss needs per-document scoring: both are linear in the
    (domain, trigram) COUNTS, so the whole computation runs on the
    vocabulary-bounded count table (≤ |domains|·|charset|³ rows no
    matter the corpus size).  Scale shape: the trigram explode feeds
    ONE map-side-combinable groupBy(domain, gram); everything after
    operates on ≤ |domains| rows via windows.  Smoothing constants
    (add_k, vocab) match :func:`train_char_lm` so the two LM families
    in the repo share one probability definition.  Returns (domain,
    n_trigrams, loss_ref, loss_own, excess_loss, weight), 6 dp.
    """
    grams = _char_trigrams(
        docs.select(F.col(domain_col).alias("domain"), text_col),
        ["domain"],
        text_col,
    )
    # the four marginals (domain-context, global-trigram, global-
    # context totals) are all sums over the SAME vocab-bounded count
    # frame — windows over one frame instead of three groupBy+join
    # branches, which would re-evaluate the trigram-explode scan per
    # branch (measured: 4 scans → 1)
    cnt = grams.groupBy("domain", "g").agg(
        F.count("*").alias("c3")
    ).withColumn("b", F.substring("g", 1, 2))
    av = float(add_k) * vocab
    joined = cnt.select(
        "domain",
        "c3",
        F.sum("c3").over(Window.partitionBy("domain", "b")).alias("c2"),
        F.sum("c3").over(Window.partitionBy("g")).alias("g3"),
        F.sum("c3").over(Window.partitionBy("b")).alias("g2"),
    )
    per_dom = joined.groupBy("domain").agg(
        F.sum("c3").alias("n_trigrams"),
        F.sum(
            -F.col("c3")
            * F.log((F.col("g3") + add_k) / (F.col("g2") + av))
        ).alias("sref"),
        F.sum(
            -F.col("c3")
            * F.log((F.col("c3") + add_k) / (F.col("c2") + av))
        ).alias("sown"),
    )
    w = Window.partitionBy(F.lit(1))
    staged = per_dom.select(
        "domain",
        "n_trigrams",
        (F.col("sref") / F.col("n_trigrams")).alias("loss_ref"),
        (F.col("sown") / F.col("n_trigrams")).alias("loss_own"),
    ).select(
        "*",
        F.greatest(
            F.col("loss_ref") - F.col("loss_own"), F.lit(0.0)
        ).alias("excess"),
    )
    soft = staged.select(
        "*",
        (
            F.exp(F.col("excess") / F.lit(float(alpha)))
            / F.sum(F.exp(F.col("excess") / F.lit(float(alpha)))).over(w)
        ).alias("sm"),
        F.count("*").over(w).alias("nd"),
    )
    return soft.select(
        "domain",
        "n_trigrams",
        F.round("loss_ref", 6).alias("loss_ref"),
        F.round("loss_own", 6).alias("loss_own"),
        F.round("excess", 6).alias("excess_loss"),
        F.round(
            F.lit(1.0 - uniform_mix) * F.col("sm")
            + F.lit(uniform_mix) / F.col("nd"),
            6,
        ).alias("weight"),
    )


def ks_drift(
    events: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    *,
    split_days: int = 17,
    crit_coeff: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per group between a
    reference window (first ``split_days`` days of the table) and the
    current window (the rest) — the distribution-free companion to
    :func:`psi_by_group` for unbounded scores where fixed PSI buckets
    don't apply.  ``D = sup_x |F_ref(x) − F_cur(x)|`` evaluated at
    every observed value; drift is flagged at the large-sample
    critical value ``c(α)·sqrt((n+m)/(n·m))`` with c(0.05)=1.358.

    The split point is ``min(date) + split_days`` — exact date
    arithmetic on both engines, no data-dependent float pivot.  Scale
    shape: ONE groupBy(group, value) carrying the two window counts
    (map-side combinable; ties collapse before any window), then the
    running-CDF window partitioned BY GROUP ordered by value — groups
    scan in parallel; for a single group with billions of distinct
    values substitute the two-phase ``packing.global_rank`` shape.
    Returns (group, n_ref, n_cur, ks_stat, ks_crit, drifted), 6 dp.
    A group whose rows fall entirely in one window has no two-sample
    comparison: instead of NULL-propagating the zero-count division it
    emits a defined no-data verdict (ks_stat=0, ks_crit=0,
    drifted=false).
    """
    lo = events.agg(F.min(F.to_date(ts_col)).alias("d0"))
    tagged = events.crossJoin(F.broadcast(lo)).select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("v"),
        (
            F.to_date(ts_col) < F.date_add(F.col("d0"), split_days)
        ).alias("is_ref"),
    )
    vc = tagged.groupBy("grp", "v").agg(
        F.sum(F.col("is_ref").cast("long")).alias("nr"),
        F.sum((~F.col("is_ref")).cast("long")).alias("nc"),
    )
    wg = Window.partitionBy("grp")
    wcdf = wg.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    gaps = vc.select(
        "grp",
        F.sum("nr").over(wg).alias("tr"),
        F.sum("nc").over(wg).alias("tc"),
        # try_divide: a one-window group has a zero total on the other
        # side — NULL there (ANSI mode would throw), the no-data guard
        # below turns it into the defined verdict
        F.abs(
            F.try_divide(F.sum("nr").over(wcdf), F.sum("nr").over(wg))
            - F.try_divide(F.sum("nc").over(wcdf), F.sum("nc").over(wg))
        ).alias("gap"),
    )
    agg = gaps.groupBy("grp", "tr", "tc").agg(F.max("gap").alias("d"))
    ok = (F.col("tr") > 0) & (F.col("tc") > 0)
    crit = F.lit(crit_coeff) * F.sqrt(
        (F.col("tr") + F.col("tc"))
        / (F.col("tr").cast("double") * F.col("tc"))
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("tr").alias("n_ref"),
        F.col("tc").alias("n_cur"),
        F.round(F.when(ok, F.col("d")).otherwise(0.0), 6).alias("ks_stat"),
        F.round(F.when(ok, crit).otherwise(0.0), 6).alias("ks_crit"),
        F.when(ok, F.col("d") > crit).otherwise(F.lit(False)).alias(
            "drifted"
        ),
    )


def calibration_report(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error (Guo et al.
    2017) of a score against a binary label — the companion audit to
    the exact-AUC query: AUC says the score RANKS well, ECE says its
    magnitude can be read as a probability (the property quality-
    filter thresholds and temperature-mixed sampling actually rely
    on).  The score is min-max normalized to [0,1] (global min/max via
    a 1-row broadcast aggregate, never an all-rows window), cut into
    ``n_bins`` equal-width bins, and
    ``ECE = Σ_b (n_b/N) · |acc_b − conf_b|``.

    Scale shape: one scan → 1-row min/max broadcast → one map-side-
    combinable groupBy(bin) to ≤ n_bins rows → windows on that tiny
    frame.  Returns one row per non-empty bin (bin, n, conf, acc,
    gap, ece) with the table-wide ECE replicated per row, 6 dp.
    """
    mm = scored.agg(
        F.min(score_col).alias("lo"), F.max(score_col).alias("hi")
    )
    norm = (F.col(score_col) - F.col("lo")) / (F.col("hi") - F.col("lo"))
    binned = scored.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(norm * n_bins).cast("int"), F.lit(n_bins - 1)
        ).alias("bin"),
        norm.alias("p"),
        F.col(label_col).cast("double").alias("y"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.avg("p").alias("conf"),
        F.avg("y").alias("acc"),
    )
    w = Window.partitionBy(F.lit(1))
    gap = F.abs(F.col("acc") - F.col("conf"))
    return per_bin.select(
        "bin",
        "n",
        F.round("conf", 6).alias("conf"),
        F.round("acc", 6).alias("acc"),
        F.round(gap, 6).alias("gap"),
        F.round(
            F.sum(F.col("n") * gap).over(w) / F.sum("n").over(w), 6
        ).alias("ece"),
    )


def mi_features(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label: Column,
    *,
    top_n: int = 40,
    min_df: int = 5,
) -> DataFrame:
    """Mutual-information feature selection for the quality/langid
    classifier family: MI between per-document token PRESENCE and a
    binary label, computed from exact integer contingency counts —
    the standard feature-ranking step before training a bag-of-words
    filter (Manning IR §13.5.1).

    ``MI = Σ_cells (n/N)·ln(n·N / (row·col))`` with empty cells
    contributing 0; every ratio inside the ln is a ratio of exact
    integers, so the only float drift is the final ln/sum — rounded
    6 dp, ordered by (mi DESC, token) for a deterministic top-n.

    Scale shape: tokens are deduplicated PER DOCUMENT before the
    explode (presence, not frequency), the (token, label) counts are
    one map-side-combinable groupBy, label margins ride a 1-row
    broadcast, and the top-n is a TakeOrderedAndProject — no global
    sort, no driver loop.  Returns (w, n11, n10, n01, n00, mi).
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        label.alias("y"),
        F.array_distinct(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        ).alias("ws"),
    )
    margins = base.agg(
        F.count("*").alias("N"),
        F.sum(F.col("y").cast("long")).alias("N1"),
    )
    wc = (
        base.select("y", F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(
            F.sum(F.col("y").cast("long")).alias("n11"),
            F.sum((~F.col("y")).cast("long")).alias("n01"),
        )
        .filter(F.col("n11") + F.col("n01") >= min_df)
    )
    j = wc.crossJoin(F.broadcast(margins)).select(
        "w",
        "n11",
        (F.col("N1") - F.col("n11")).alias("n10"),
        "n01",
        (F.col("N") - F.col("N1") - F.col("n01")).alias("n00"),
        "N",
        "N1",
        (F.col("n11") + F.col("n01")).alias("wp"),
    )

    def _term(n, row, col):
        return F.when(
            n > 0,
            (n.cast("double") / F.col("N"))
            * F.log(
                n.cast("double") * F.col("N") / (row.cast("double") * col)
            ),
        ).otherwise(F.lit(0.0))

    wa = F.col("N") - F.col("wp")
    n0 = F.col("N") - F.col("N1")
    mi = (
        _term(F.col("n11"), F.col("wp"), F.col("N1"))
        + _term(F.col("n01"), F.col("wp"), n0)
        + _term(F.col("n10"), wa, F.col("N1"))
        + _term(F.col("n00"), wa, n0)
    )
    return (
        j.select(
            "w", "n11", "n10", "n01", "n00", F.round(mi, 6).alias("mi")
        )
        .orderBy(F.desc("mi"), "w")
        .limit(top_n)
    )


def isotonic_calibration(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Isotonic (PAV) calibration of a binned score against a binary
    label — the FIX for what :func:`calibration_report` measures: the
    monotone-nondecreasing probability curve closest (weighted L2) to
    the per-bin accuracies.  Instead of the sequential pool-adjacent-
    violators sweep (arrival-ordered state, useless distributed and
    unmatchable cross-engine), this uses the exact MINIMAX closed form
    ``iso(i) = max_{j<=i} min_{k>=i} (Σ_{j..k} y) / (Σ_{j..k} n)`` —
    every pooled average is a ratio of exact integer prefix-sum
    differences, so both engines agree bit-for-bit before the final
    rounding.

    Scale shape: the scan collapses to ≤ n_bins rows (same min-max
    binning broadcast as calibration_report); the j,k enumeration is a
    triple self-join on that tiny frame (≤ n_bins³ combinations — a
    constant, never data-sized).  Returns (bin, n, acc, iso_p), 6 dp.
    """
    mm = scored.agg(
        F.min(score_col).alias("lo"), F.max(score_col).alias("hi")
    )
    norm = (F.col(score_col) - F.col("lo")) / (F.col("hi") - F.col("lo"))
    binned = scored.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(norm * n_bins).cast("int"), F.lit(n_bins - 1)
        ).alias("b"),
        F.col(label_col).cast("long").alias("y"),
    )
    per_bin = binned.groupBy("b").agg(
        F.count("*").alias("n"), F.sum("y").alias("sy")
    )
    w_cum = (
        Window.partitionBy(F.lit(1))
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = per_bin.select(
        "b",
        "n",
        "sy",
        F.sum("n").over(w_cum).alias("cn"),
        F.sum("sy").over(w_cum).alias("csy"),
    )
    i = pre.select(F.col("b").alias("bi"), F.col("n").alias("ni"))
    j = pre.select(
        F.col("b").alias("bj"),
        (F.col("cn") - F.col("n")).alias("cnj0"),
        (F.col("csy") - F.col("sy")).alias("csyj0"),
    )
    kk = pre.select(
        F.col("b").alias("bk"), F.col("cn").alias("cnk"),
        F.col("csy").alias("csyk"),
    )
    trip = (
        i.join(j, F.col("bj") <= F.col("bi"))
        .join(kk, F.col("bk") >= F.col("bi"))
        .select(
            "bi",
            "ni",
            "bj",
            (
                (F.col("csyk") - F.col("csyj0")).cast("double")
                / (F.col("cnk") - F.col("cnj0"))
            ).alias("pooled"),
        )
    )
    inner = trip.groupBy("bi", "ni", "bj").agg(
        F.min("pooled").alias("mn")
    )
    iso = inner.groupBy("bi", "ni").agg(F.max("mn").alias("iso"))
    acc = per_bin.select(
        F.col("b").alias("bi"),
        (F.col("sy").cast("double") / F.col("n")).alias("acc"),
    )
    return (
        iso.join(acc, "bi")
        .select(
            F.col("bi").alias("bin"),
            F.col("ni").alias("n"),
            F.round("acc", 6).alias("acc"),
            F.round("iso", 6).alias("iso_p"),
        )
    )


def chao1_vocab(
    docs: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Chao1 species-richness estimate of the UNSEEN vocabulary plus
    the Good-Turing unseen-probability mass, per group — the "how much
    vocabulary has this crawl slice not seen yet" datasheet number
    that complements the Heaps'-law fit (which extrapolates growth,
    while Chao1 bounds the asymptote): ``chao1 = V + F1·(F1−1) /
    (2·(F2+1))`` (bias-corrected, zero-safe) and ``p_unseen = F1/N``
    from the singleton/doubleton counts F1, F2.

    Scale shape: one (group, token) count shuffle (map-side partial),
    then one |groups|-row aggregate over the frequency-of-frequency
    marginals; everything inside the estimators is an exact integer,
    only the two final divisions are float.  Returns (group, n_tokens,
    vocab, f1, f2, chao1, p_unseen), 6 dp.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        ).alias("w"),
    )
    freq = toks.groupBy("grp", "w").agg(F.count("*").alias("f"))
    return (
        freq.groupBy("grp")
        .agg(
            F.sum("f").alias("n_tokens"),
            F.count("*").alias("vocab"),
            F.sum((F.col("f") == 1).cast("long")).alias("f1"),
            F.sum((F.col("f") == 2).cast("long")).alias("f2"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "vocab",
            "f1",
            "f2",
            F.round(
                F.col("vocab")
                + F.col("f1").cast("double")
                * (F.col("f1") - 1)
                / (2.0 * (F.col("f2") + 1)),
                6,
            ).alias("chao1"),
            F.round(
                F.col("f1").cast("double") / F.col("n_tokens"), 6
            ).alias("p_unseen"),
        )
    )
