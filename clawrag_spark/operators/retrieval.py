"""Retrieval operators: BM25, cosine top-k, hybrid fusion, RRF, parents.

All pure DataFrame/Catalyst implementations — no UDFs in the scoring
path.  Each operator mirrors a reference computation (file:line cited)
and has an equivalent ANSI-SQL oracle in ``__spark_entry__.py``.

Scale notes: BM25 stats are two hash aggregations with map-side partial
combine; the per-term document-frequency table is tiny (vocabulary-
sized) and is broadcast into the scoring join; top-k uses
``orderBy().limit()`` which Catalyst plans as TakeOrderedAndProject (no
global sort).  Cosine scoring is a single narrow projection over the
embeddings table — no shuffle at all until the final top-k.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# rank_bm25 BM25Okapi defaults (the reference's backend — SURVEY.md §7.4)
BM25_K1 = 1.5
BM25_B = 0.75
BM25_EPSILON = 0.25


def sql_tokens(col):
    """SQL-expressible tokenizer: lowercase alnum runs (non-empty).

    This is the oracle-checkable tokenizer every BM25 path here and in
    the persisted pipeline index uses.  The reference's §-aware
    tokenizer (bm25_index.py:21-54) is reproduced as
    ``udfs.bm25_tokens``, which only the tests exercise; no index is
    built with it.
    """
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != "")


# ---- Okapi BM25, written once.  Every BM25 path in the package (the
# driver index below, the impact index, the persisted pipeline index
# and its purge) composes these pieces, so the math has one home.

def bm25_idf_raw(n_docs, doc_freq):
    """Okapi's raw idf ``ln(N - df + 0.5) - ln(df + 0.5)``; negative for
    a term in more than half the corpus."""
    return F.log(n_docs - doc_freq + F.lit(0.5)) - F.log(doc_freq + F.lit(0.5))


def bm25_idf_floor(idf_raw, avg_idf, epsilon: float):
    """rank_bm25's floor: a negative raw idf becomes ``epsilon · avg_idf``
    (``avg_idf`` = mean raw idf over the whole vocabulary)."""
    return F.when(idf_raw < 0, F.lit(epsilon) * avg_idf).otherwise(idf_raw)


def bm25_contrib(tf, dl, avgdl, idf, k1: float, b: float):
    """One posting's contribution
    ``idf · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``."""
    return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))


def bm25_tokenize(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """``postings(id, term, tf)`` and ``doclen(id, dl)`` of a document
    frame: one tokenize pass, two hash aggregations with map-side
    partial combine.  dl = Σ tf is derived from the (small) postings
    table, so the corpus is tokenized and shuffled exactly once."""
    tokens = docs.select(
        F.col(id_col), F.explode(sql_tokens(F.col(text_col))).alias("term")
    )
    postings = tokens.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    doclen = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return postings, doclen


def bm25_rollup(
    postings: DataFrame, doclen: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The collection statistics of a postings/doclen pair:
    ``df(term, doc_freq)`` and the one-row ``stats(n_docs, sum_dl)``.
    Both are additive across disjoint document sets, which is what the
    incremental pipeline index relies on."""
    df_tbl = postings.groupBy("term").agg(
        F.countDistinct(id_col).alias("doc_freq")
    )
    stats = doclen.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    return df_tbl, stats


def bm25_build_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    epsilon: float = BM25_EPSILON,
) -> dict[str, DataFrame]:
    """Build the BM25 index tables once (S15/A7): the postings, doclen
    and idf DataFrames that every query then probes.

    Reimplements rank_bm25.BM25Okapi statistics (the engine behind
    bm25_index.py:94-176):

    - ``postings(id, term, tf)`` and ``doclen(id, dl)``
      (``bm25_tokenize``),
    - ``idf(term, idf, avgdl)`` with ``idf(t) = ln(N - df + 0.5) -
      ln(df + 0.5)`` and negative idfs floored to ``epsilon · avg_idf``
      (corpus mean of the *uncorrected* idf).

    At 100 TB these are the tables the pipeline persists
    (``pipeline.build_bm25_index``) so queries never re-scan the corpus;
    here they are returned lazily so callers can cache or write them.
    """
    postings, doclen = bm25_tokenize(docs, id_col, text_col)
    df_tbl, stats = bm25_rollup(postings, doclen, id_col)
    corpus = stats.select(
        "n_docs", (F.col("sum_dl") / F.col("n_docs")).alias("avgdl")
    )
    idf_raw = df_tbl.crossJoin(F.broadcast(corpus)).withColumn(
        "idf_raw", bm25_idf_raw(F.col("n_docs"), F.col("doc_freq"))
    )
    avg_idf = idf_raw.agg(F.avg("idf_raw").alias("avg_idf"))
    idf = (
        idf_raw.crossJoin(F.broadcast(avg_idf))
        .withColumn(
            "idf", bm25_idf_floor(F.col("idf_raw"), F.col("avg_idf"), epsilon)
        )
        .select("term", "doc_freq", "idf", "avgdl")
    )
    return {"postings": postings, "doclen": doclen, "idf": idf}


def bm25_score_index(
    index: dict[str, DataFrame],
    id_col: str,
    query_terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Probe a BM25 index for ``query_terms`` (J8 scoring join):

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``,
    keeping docs with score > 0 (P5 gate, query.py:225).  The postings
    filter on the (few) query terms prunes first; the idf side is
    vocabulary-sized and broadcast.
    """
    q = [t.lower() for t in query_terms]
    return (
        index["postings"].filter(F.col("term").isin(q))
        .join(F.broadcast(index["idf"].select("term", "idf", "avgdl")), "term")
        .join(index["doclen"], id_col)
        .withColumn(
            "contrib",
            bm25_contrib(
                F.col("tf"), F.col("dl"), F.col("avgdl"), F.col("idf"), k1, b
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("contrib").alias("bm25_score"))
        .filter(F.col("bm25_score") > 0)
    )


def build_block_max(
    impact_index: dict[str, DataFrame], id_col: str, block_size: int = 64
) -> tuple[DataFrame, DataFrame]:
    """Block-max sidecar for an impact index (Ding & Suel 2011, the
    block-max WAND structure; JASS keeps the same thing as its
    impact-ordered segment headers): postings of each term sort
    impact-ordered (code DESC, id ASC), consecutive runs of
    ``block_size`` form blocks, and the sidecar keeps (term, block,
    block's max code) — ≤ df/B rows per term.

    Because the order is impact-descending, block maxima decrease
    monotonically within a term: query-time bounds from block maxima
    are strictly ≤ the global term_max bound, so every candidate the
    block-max gate admits, the term_max gate admits too — pruning only
    tightens.  At warehouse scale the block id IS the file/partition
    zone: this table is exactly the min/max zone map the storage layer
    keeps per parquet row group (`clawrag_spark/zonemaps.py`), applied
    to postings.

    The (id, block) assignment rides back onto the postings as
    ``__blk`` so query-time lookups are an equi-join; production builds
    persist both at index time (the row_number window is one shuffle on
    term — index-build cost, never query cost).
    """
    w = Window.partitionBy("term").orderBy(F.desc("code"), id_col)
    blocked = impact_index["impacts"].withColumn(
        "__blk", ((F.row_number().over(w) - 1) / block_size).cast("int")
    )
    bmax = blocked.groupBy("term", "__blk").agg(
        F.max("code").alias("block_max")
    )
    return blocked, bmax


def blockmax_topk(
    impact_index: dict[str, DataFrame],
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    block_size: int = 64,
) -> DataFrame:
    """Block-max WAND top-k: identical results to ``impact_topk`` /
    ``wand_topk`` (the oracle is again the unpruned scoring), with the
    candidate gate bounded by PER-BLOCK maxima instead of the global
    term maximum — on impact-ordered postings the tail blocks of a hot
    term bound far below its head, so docs whose postings sit in tail
    blocks prune even when the term's global max would admit them.

    Same θ_safe as ``wand_topk`` (negative-code-safe).  ub(d) =
    Σ_t block_max(t, block of d's posting) ≥ score(d) because each
    posting's code ≤ its own block's max; and ub_blockmax ≤ ub_termmax
    always, so the survivor set only shrinks.  Exact scoring then reads
    the FULL postings of survivors (a candidate's tail-block postings
    still count toward its exact score — block pruning gates
    candidacy, never the re-score).

    The block-max sidecar broadcasts here (query-term blocks at driver
    scale are tiny); at warehouse scale the same table IS the postings
    files' row-group zone maps, and the gate becomes metadata partition
    pruning rather than a broadcast join — a stopword's df/B block rows
    never ship anywhere.
    """
    q = [t.lower() for t in query_terms]
    blocked, bmax = build_block_max(impact_index, id_col, block_size)
    hits = blocked.filter(F.col("term").isin(q))
    bm_q = bmax.filter(F.col("term").isin(q))
    ub = (
        hits.join(F.broadcast(bm_q), ["term", "__blk"])
        .groupBy(id_col)
        .agg(F.sum("block_max").alias("ub"))
    )
    return _pruned_topk(hits, ub, id_col, k)


def bm25f_scores(
    docs: DataFrame,
    id_col: str,
    fields: list[tuple],
    query_terms: list[str],
    k1: float = BM25_K1,
) -> DataFrame:
    """Fielded BM25F (Robertson & Zaragoza 2009 §9, the "simple BM25F"):
    per-field length-normalized term frequencies combine into ONE
    pseudo-frequency before a single saturation —

        tf~(t,d) = Σ_f  w_f · tf_{f,t}(d) / B_f(d),
        B_f(d)   = (1 − b_f) + b_f · len_f(d) / avglen_f,
        score(d) = Σ_t  idf(t) · tf~ / (k1 + tf~)

    which is NOT equivalent to a weighted sum of per-field BM25 scores
    (saturating per field over-rewards a term that appears once in
    every field — the original paper's point).  ``fields`` is a list of
    ``(name, column, weight, b_f)``; idf is the always-positive Lucene
    form ln(1 + (N − df + 0.5)/(df + 0.5)) with df = docs containing
    the term in ANY field.

    Scale shape: one tokenize scan per field column, ONE (id, field,
    term) hash aggregation with map-side partials feeding tf, per-field
    lengths and df; field count/weights/b are literal CASE maps (never
    a join); avglen and idf are field-count- and query-term-bounded
    broadcasts; the score shuffle carries only query-term postings.
    """
    q = [t.lower() for t in query_terms]
    tok = None
    for name, col, _w, _b in fields:
        part = docs.select(
            F.col(id_col),
            F.lit(name).alias("field"),
            F.explode(sql_tokens(col)).alias("term"),
        )
        tok = part if tok is None else tok.unionByName(part)
    # r6: only QUERY-term rows need the (id, field, term) aggregation —
    # the full-vocabulary tf table existed only to be re-summed into
    # per-field lengths, which ARE the plain token counts.  The filter
    # runs map-side on the token stream, so the wide shuffle (~30M
    # distinct (doc, field, term) rows at sf1.0) collapses to the
    # query-term postings; fl/avgfl are the same exact integers (avg
    # over longs sums exactly, order-independent).
    pf = (
        tok.filter(F.col("term").isin(q))
        .groupBy(id_col, "field", "term")
        .agg(F.count("*").alias("tf"))
    )
    lf = tok.groupBy(id_col, "field").agg(F.count("*").alias("fl"))
    avg = lf.groupBy("field").agg(F.avg("fl").alias("avgfl"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))

    w_expr, b_expr = F.lit(0.0), F.lit(0.0)
    for name, _c, w, bf in fields:
        w_expr = F.when(F.col("field") == name, F.lit(float(w))).otherwise(w_expr)
        b_expr = F.when(F.col("field") == name, F.lit(float(bf))).otherwise(b_expr)

    hits = pf  # already filtered to query terms map-side
    idf = (
        hits.select("term", F.col(id_col))
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5))
                / (F.col("doc_freq") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    pseudo = (
        hits.join(lf, [id_col, "field"])
        .join(F.broadcast(avg), "field")
        .select(
            F.col(id_col),
            "term",
            (
                w_expr
                * F.col("tf")
                / (F.lit(1.0) - b_expr + b_expr * F.col("fl") / F.col("avgfl"))
            ).alias("tfw"),
        )
        .groupBy(id_col, "term")
        .agg(F.sum("tfw").alias("tfq"))
    )
    return (
        pseudo.join(F.broadcast(idf), "term")
        .select(
            F.col(id_col),
            (F.col("idf") * F.col("tfq") / (F.lit(float(k1)) + F.col("tfq"))).alias(
                "contrib"
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("contrib").alias("bm25f_score"))
        .filter(F.col("bm25f_score") > 0)
    )


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    epsilon: float = BM25_EPSILON,
) -> DataFrame:
    """Okapi BM25 scores for ``query_terms`` over a document table:
    one-shot compose of ``bm25_build_index`` + ``bm25_score_index``
    (identical math; callers that issue several queries should build or
    cache the index once instead)."""
    index = bm25_build_index(docs, id_col, text_col, epsilon)
    return bm25_score_index(index, id_col, query_terms, k1, b)


def cosine(vec_a, vec_b):
    """Cosine similarity between two array<float> columns, JVM-side,
    via built-in higher-order functions (zip_with + aggregate) — works
    for any width."""
    dot = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(
        F.aggregate(vec_a, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    norm_b = F.sqrt(
        F.aggregate(vec_b, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return dot / (norm_a * norm_b)


def cosine_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int,
    exclude_id=None,
) -> DataFrame:
    """Brute-force cosine top-k (T2 baseline; over-fetch is the caller's
    choice, the reference uses ``n_results = k*2`` — query.py:200-204).

    The query vector is a literal array (broadcast-free: constant-folded
    into the projection).  ``orderBy().limit(k)`` → TakeOrderedAndProject.
    """
    qlit = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    out = embeddings.select(
        F.col(id_col),
        cosine(F.col(vec_col).cast("array<double>"), qlit).alias("cos_sim"),
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def hybrid_minmax(
    vec_hits: DataFrame,
    bm25_hits: DataFrame,
    id_col: str,
    k: int,
    w_vec: float = 0.5,
    w_bm25: float = 0.5,
) -> DataFrame:
    """Hybrid candidate merge + min-max fused ranking (J2 + A3 + F7).

    Mirrors query.py:239-311: full outer join on id, missing side → 0.0,
    per-result-set min-max normalization with the reference's degenerate
    branch (``max == min`` → 1.0 if score > 0 else 0.0), then the
    weighted sum (0.5/0.5 — query.py:307-308).

    ``vec_hits``: (id, vec_score); ``bm25_hits``: (id, bm25_score).
    """
    merged = (
        vec_hits.join(bm25_hits, id_col, "full_outer")
        .withColumn("vec_score", F.coalesce(F.col("vec_score"), F.lit(0.0)))
        .withColumn("bm25_score", F.coalesce(F.col("bm25_score"), F.lit(0.0)))
    )
    bounds = merged.agg(
        F.min("vec_score").alias("min_v"),
        F.max("vec_score").alias("max_v"),
        F.min("bm25_score").alias("min_b"),
        F.max("bm25_score").alias("max_b"),
    )

    def norm(score, lo, hi):
        return F.when(hi > lo, (score - lo) / (hi - lo)).otherwise(
            F.when(score > 0, F.lit(1.0)).otherwise(F.lit(0.0))
        )

    fused = (
        merged.crossJoin(F.broadcast(bounds))
        .withColumn("norm_vec", norm(F.col("vec_score"), F.col("min_v"), F.col("max_v")))
        .withColumn("norm_bm25", norm(F.col("bm25_score"), F.col("min_b"), F.col("max_b")))
        .withColumn(
            "relevance_score",
            F.lit(w_vec) * F.col("norm_vec") + F.lit(w_bm25) * F.col("norm_bm25"),
        )
        .select(id_col, "vec_score", "bm25_score", "relevance_score")
    )
    return fused.orderBy(F.desc("relevance_score"), F.col(id_col)).limit(k)


def rrf_fuse(
    retriever_results: list[tuple[DataFrame, float]],
    id_col: str,
    score_col: str,
    k: int,
    rrf_k: int = 60,
) -> DataFrame:
    """Weighted Reciprocal Rank Fusion (J3).

    Mirrors enhanced_hybrid_retriever.py:100-154: rank is the 0-based
    position within each retriever's result list (``enumerate`` —
    :109-126), contribution is ``weight / (rank + rrf_k)`` with
    ``rrf_k = 60`` (:125), summed per id.  Weights 0.7/0.3 come from
    retriever_factory.py:74.
    """
    parts = []
    for idx, (results, weight) in enumerate(retriever_results):
        w = Window.orderBy(F.desc(score_col), F.col(id_col))
        parts.append(
            results.select(
                F.col(id_col),
                (F.lit(weight) / (F.row_number().over(w) - 1 + F.lit(rrf_k))).alias(
                    "contrib"
                ),
            )
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return (
        unioned.groupBy(id_col)
        .agg(F.sum("contrib").alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(k)
    )


def normalize_model_name(name: str) -> str:
    """F15: append ':latest' when the model name carries no tag
    (upload.py:240-247)."""
    return name if ":" in name else f"{name}:latest"


def check_embedding_compat(
    collection_model: str,
    collection_dim: int,
    query_model: str,
    query_dim: int,
) -> None:
    """J7 embedding-compat gate (upload.py:223-259): a query/ingest
    against a collection must use the same embedding model (tag-
    normalized) and dimensionality; mismatch is a hard error, not a
    silent wrong-answer cosine between incompatible spaces."""
    cm, qm = normalize_model_name(collection_model), normalize_model_name(query_model)
    if cm != qm:
        raise ValueError(
            f"embedding model mismatch: collection uses {cm!r}, got {qm!r}"
        )
    if collection_dim != query_dim:
        raise ValueError(
            f"embedding dim mismatch: collection has {collection_dim}, got {query_dim}"
        )


def adaptive_collection_k(n_collections: int, total_k: int = 100, floor: int = 10) -> int:
    """T7: per-collection fetch size when fanning a query across many
    collections — ``max(floor, total_k // n)`` (documents/query.py:137)."""
    return max(floor, total_k // max(n_collections, 1))


def parent_resolution(
    child_hits: DataFrame,
    parents: DataFrame,
    parent_id_col: str,
    score_col: str,
) -> DataFrame:
    """J4: best child score per parent + broadcast equi-join to parents
    (parent_retriever.py:49-139 — dedupe :77-87, best-score :113-125,
    join :128-134)."""
    best = child_hits.groupBy(parent_id_col).agg(
        F.max(score_col).alias("best_score")
    )
    return best.join(F.broadcast(parents), parent_id_col)


def interleave_collections(
    results: DataFrame, collection_col: str, score_col: str, k: int,
    id_col: str | None = None,
) -> DataFrame:
    """T6 'interleave' merge: round-robin across collections by
    per-collection rank (query_engine.py:166-198).  ``id_col`` breaks
    score ties deterministically."""
    order = [F.desc(score_col)] + ([F.col(id_col)] if id_col else [])
    w = Window.partitionBy(collection_col).orderBy(*order)
    return (
        results.withColumn("rn", F.row_number().over(w))
        .orderBy("rn", collection_col)
        .limit(k)
    )


def paginate(
    df: DataFrame, order_col: str, limit: int, offset: int
) -> DataFrame:
    """T5 pagination: row_number window + between filter
    (collection_manager.py:320-365)."""
    w = Window.orderBy(order_col)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").between(offset + 1, offset + limit))
        .drop("rn")
    )


def positional_postings(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Positional inverted-index rows: one ``(id, term, pos)`` per token
    occurrence (0-based position), using the SQL-expressible tokenizer
    so DuckDB oracles replicate it exactly.

    This is the index layout phrase and proximity queries need — the
    BM25 postings (``bm25_build_index``) keep only per-doc term
    frequencies.  At scale the postings sink is written bucketed by
    ``term`` so a phrase probe prunes to its terms' buckets instead of
    scanning the corpus.
    """
    return docs.select(
        F.col(id_col),
        F.posexplode(sql_tokens(F.col(text_col))).alias("pos", "term"),
    )


def phrase_match(
    postings: DataFrame, id_col: str, phrase: str
) -> DataFrame:
    """Exact-adjacency phrase search over positional postings: returns
    ``(id, n_occurrences)`` for documents containing the phrase's
    tokens at consecutive positions.

    Plan shape (the standard distributed phrase probe): filter the
    postings to the phrase's terms FIRST — with a term-bucketed
    postings table that is a partition prune, never a corpus scan —
    then chain equi-joins on ``(id, pos)``: occurrence of term_i at
    ``pos0 + i`` for all i.  Each join input is one term's (tiny)
    posting list; the join key carries 16 bytes.  A repeated term in
    the phrase joins the same filtered frame twice — still correct,
    positions differ.

    Raises on phrases with fewer than 2 tokens (a 1-token "phrase" is
    a plain term lookup — use the BM25 index).
    """
    terms = [t for t in re.split(r"[^a-z0-9]+", phrase.lower()) if t]
    if len(terms) < 2:
        raise ValueError(f"phrase needs >= 2 tokens, got {terms!r}")
    occ = (
        postings.filter(F.col("term") == terms[0])
        .select(F.col(id_col), F.col("pos"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            F.col(id_col), (F.col("pos") - i).alias("pos")
        )
        occ = occ.join(nxt, [id_col, "pos"])
    return occ.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_occurrences")
    )


def postings_gap_stats(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Inverted-index size planning: delta-gap statistics of the docid
    postings under variable-byte coding, rolled up by document-frequency
    magnitude — the capacity table an index deployment is sized from
    (rare terms cost ~|df|·⌈bits(docid)/7⌉ bytes, stopword-grade terms
    compress to ~1 byte/posting because sorted-docid gaps shrink as df
    grows; the rollup shows exactly that curve).

    Per term: postings sorted by docid, gap_i = docid_i − docid_{i−1}
    (first gap = docid + 1, the 0-based-id convention), varint bytes =
    (bit_length(gap) + 6) div 7.  bit_length is computed EXACTLY as
    the length of the base-2 string (``conv``/``to_base``) — never
    ``floor(log2)``, whose float representation can round the wrong
    way at exact powers of two and silently disagree across engines.
    The df magnitude bucket is ``len(str(df)) − 1``, the same
    all-integer rule.

    Scale shape: one distinct (term, docid) shuffle, one lag window on
    the SAME term key (no second exchange), map-side-partial rollups.
    Returns (df_magnitude, n_terms, n_postings, est_bytes,
    avg_bytes_per_posting).
    """
    postings = (
        docs.select(
            F.explode(sql_tokens(F.col(text_col))).alias("term"),
            F.col(id_col).alias("docid"),
        )
        .distinct()
    )
    w = Window.partitionBy("term").orderBy("docid")
    gaps = postings.select(
        "term",
        (
            F.col("docid") - F.coalesce(F.lag("docid").over(w), F.lit(-1))
        ).alias("gap"),
    )
    per_term = gaps.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum(
            F.expr("(length(conv(cast(gap as string), 10, 2)) + 6) div 7")
        ).alias("bytes"),
    )
    return (
        per_term.groupBy(
            (F.length(F.col("df").cast("string")) - 1).alias("df_magnitude")
        )
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum("bytes").alias("est_bytes"),
            F.round(F.sum("bytes") / F.sum("df"), 6).alias(
                "avg_bytes_per_posting"
            ),
        )
    )


def build_impact_index(
    index: dict[str, DataFrame],
    id_col: str,
    bits: int = 8,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> dict[str, DataFrame]:
    """Impact-ordered postings (Anh & Moffat): move BM25 scoring from
    query time to INDEX time.

    Every per-posting BM25 contribution is computable when the index is
    built (tf, dl, df are all known), so each posting stores a
    ``bits``-bit quantized impact code instead of a raw tf.  The
    queries-per-day side of a 10^12-doc deployment then:

    - reads 1-2 bytes per posting instead of floats,
    - never joins ``doclen`` or ``idf`` at query time — scoring is one
      filter + one sum over the codes,
    - can prune with ``term_max`` (the per-term impact upper bound):
      a WAND/block-max scheduler skips any doc whose remaining-terms
      bound cannot reach the current top-k threshold, and at the Spark
      layer whole term partitions prune the same way.

    Quantization: code = floor(round(contrib · (2^bits−1) / max, 6)
    + 0.5) — round-half-up written as floor(x + 0.5) because the
    engines disagree on round()'s half rule; the round(…, 6) inside
    pins float drift first.  Ranking by summed codes approximates exact
    BM25 order (recall pinned in pytest); the max contribution maps to
    the top code by construction.
    """
    contrib = (
        index["postings"]
        .join(F.broadcast(index["idf"].select("term", "idf", "avgdl")), "term")
        .join(index["doclen"], id_col)
        .select(
            id_col,
            "term",
            bm25_contrib(
                F.col("tf"), F.col("dl"), F.col("avgdl"), F.col("idf"), k1, b
            ).alias("contrib"),
        )
    )
    mx = contrib.agg(F.max("contrib").alias("mx"))
    top = (1 << bits) - 1
    codes = contrib.crossJoin(F.broadcast(mx)).select(
        id_col,
        "term",
        F.floor(
            F.round(F.col("contrib") * top / F.col("mx"), 6) + F.lit(0.5)
        ).cast("int").alias("code"),
    )
    term_max = codes.groupBy("term").agg(F.max("code").alias("max_code"))
    return {"impacts": codes, "term_max": term_max}


def prune_impact_index(
    impact_index: dict[str, DataFrame],
    id_col: str,
    keep_per_term: int,
) -> dict[str, DataFrame]:
    """Static index pruning (Carmel et al. 2001): keep only each term's
    ``keep_per_term`` highest-impact postings.  At 10^12 docs this is
    the difference between an index sized by the corpus and one sized
    by ``|vocab| × N`` — the long tail of near-zero contributions that
    can never reach a top-k result set is dropped at BUILD time.

    Deterministic under ties (code desc, id asc), so the pruned index
    is engine-reproducible; one window shuffle on term.  Retrieval
    quality loss is measured, not assumed — the pytest pins top-k
    overlap vs the unpruned index at the probe terms."""
    w = Window.partitionBy("term").orderBy(
        F.desc("code"), F.col(id_col).asc()
    )
    pruned = (
        impact_index["impacts"]
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= keep_per_term)
        .drop("__rn")
    )
    term_max = pruned.groupBy("term").agg(F.max("code").alias("max_code"))
    return {"impacts": pruned, "term_max": term_max}


def impact_topk(
    impact_index: dict[str, DataFrame],
    id_col: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Top-k retrieval over an impact-ordered index: filter the query
    terms, sum the integer codes, TakeOrderedAndProject the top k under
    a total (score DESC, id ASC) order.  No doclen, no idf, no floats —
    the entire query-time plan is integer arithmetic over the pruned
    postings slice."""
    q = [t.lower() for t in query_terms]
    return (
        impact_index["impacts"]
        .filter(F.col("term").isin(q))
        .groupBy(id_col)
        .agg(F.sum("code").cast("long").alias("impact_score"))
        .filter(F.col("impact_score") > 0)
        .orderBy(F.desc("impact_score"), id_col)
        .limit(k)
    )


def wand_topk(
    impact_index: dict[str, DataFrame],
    id_col: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Two-phase WAND-style pruned top-k (Broder et al. 2003, adapted
    from document-at-a-time heaps to Spark's set-at-a-time model) —
    provably the SAME result as ``impact_topk``, with the exact-scoring
    shuffle restricted to docs whose upper bound clears a threshold:

    1. θ = the k-th largest per-doc single-term code, corrected for
       negative codes: this impact build CAN emit negative codes (the
       ε-floored idf of a term in more than half the corpus is the sign
       of the corpus mean, so stopword contributions may quantize
       below zero), and with negatives "score ≥ best single-term code"
       is FALSE — adding a term can lower the score.  The safe bound is
       score(d) ≥ mx(d) + Σ_t min(0, term_min(t)) over the query terms,
       so θ_safe = θ + neg_sum is a valid lower bound on the k-th top
       score (neg_sum = 0 for the classic all-positive impact index,
       recovering textbook WAND).
    2. A doc's upper bound is Σ term_max over the query terms it
       matches (the WAND bound — still valid under negative codes).
       bound(d) < θ_safe ⇒ score(d) < θ_safe ≤ score_k ⇒ d cannot
       enter the top k: prune it losslessly.
    3. Exact integer scoring runs only on the survivors.

    Phase 1 is a TakeOrderedAndProject over (doc, max code) rows;
    term_max and θ are broadcast (≤|query| rows and 1 row); the
    only corpus-shaped work is the postings slice for the query terms,
    read once.  On skewed impact distributions (the web norm) the
    survivor set is a small multiple of k, so phase 2's aggregation
    shuffle carries candidate postings instead of every matching doc —
    at 10^12 docs with a stopword in the query that is the difference
    between shuffling millions of rows and thousands.
    """
    q = [t.lower() for t in query_terms]
    hits = impact_index["impacts"].filter(F.col("term").isin(q))
    tm = impact_index["term_max"].filter(F.col("term").isin(q))
    ub = (
        hits.join(F.broadcast(tm), "term")
        .groupBy(id_col)
        .agg(F.sum("max_code").alias("ub"))
    )
    return _pruned_topk(hits, ub, id_col, k)


def _pruned_topk(
    hits: DataFrame, ub: DataFrame, id_col: str, k: int
) -> DataFrame:
    """The lossless pruned top-k shared by ``wand_topk`` and
    ``blockmax_topk``: ``hits`` are the query terms' impact postings,
    ``ub(id, ub)`` a per-doc upper bound on the summed codes.  Docs
    whose bound is below θ_safe (the k-th largest single-term code plus
    the query terms' negative-code sum) are pruned; the survivors are
    scored exactly over their full postings."""
    kth = (
        hits.groupBy(id_col)
        .agg(F.max("code").alias("mx"))
        .orderBy(F.desc("mx"), id_col)
        .limit(k)
        .agg(F.min("mx").alias("kth_mx"))
    )
    neg = hits.groupBy("term").agg(F.min("code").alias("tmin")).agg(
        F.sum(F.least(F.lit(0), F.col("tmin"))).alias("neg_sum")
    )
    theta = kth.crossJoin(neg).select(
        (F.col("kth_mx") + F.coalesce(F.col("neg_sum"), F.lit(0))).alias("theta")
    )
    cand = (
        ub.crossJoin(F.broadcast(theta))
        .filter(F.col("ub") >= F.col("theta"))
        .select(id_col)
    )
    return (
        hits.join(cand, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.sum("code").cast("long").alias("impact_score"))
        .filter(F.col("impact_score") > 0)
        .orderBy(F.desc("impact_score"), id_col)
        .limit(k)
    )


def proximity_windows(
    postings: DataFrame, id_col: str, terms: list[str]
) -> DataFrame:
    """Exact minimum-cover proximity scoring (the Indri/INQUERY
    "MinDist" family) over positional postings: per document, the
    length of the SMALLEST token window containing every query term at
    least once, and score = k / min_window (1.0 when the terms are
    adjacent-packed).  Phrase search demands exact adjacency; this is
    its relaxation — the standard second-stage lexical signal between
    bag-of-words BM25 and full phrase match.

    Exactness: the optimal cover's leftmost token is an occurrence of
    some query term, and for an anchor position p the smallest cover
    starting at p has length ``max_t (next position of t >= p) − p +
    1`` — so minimizing that expression over all query-term positions
    p is the true minimum.  All k "next >= p" values come from ONE
    descending-order running-min window pass (running min of each
    term's positions seen so far from the right), never k as-of joins.

    Scale shape: the postings filter to the k query terms is a
    partition prune on a term-bucketed index (same probe shape as
    :func:`phrase_match`); then exactly ONE shuffle on the doc id for
    the window pass + the final per-doc min (map-side partial).  Rows
    carry (id, pos, term) — no text.

    Returns (id, min_window, score) for documents containing ALL
    terms.
    """
    uniq = list(dict.fromkeys(terms))
    anchors = _min_cover_anchors(postings, id_col, uniq)
    return (
        anchors.select(F.col(id_col), F.col("__w"))
        .groupBy(id_col)
        .agg(F.min("__w").cast("long").alias("min_window"))
        .select(
            id_col,
            "min_window",
            F.round(F.lit(float(len(uniq))) / F.col("min_window"), 6).alias(
                "score"
            ),
        )
    )


def _min_cover_anchors(
    postings: DataFrame, id_col: str, uniq: list[str]
) -> DataFrame:
    """Shared core of :func:`proximity_windows` / :func:`best_snippet_
    windows`: per query-term occurrence (the anchor), the length
    ``__w`` of the smallest window starting there that covers every
    term — all next-positions from ONE descending running-min window
    pass.  Rows where some term never appears at-or-after the anchor
    are dropped."""
    if len(uniq) < 2:
        raise ValueError(f"proximity needs >= 2 distinct terms, got {uniq!r}")
    sub = postings.filter(F.col("term").isin(uniq))
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col("pos").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nxt_cols = [
        F.min(F.when(F.col("term") == t, F.col("pos"))).over(w).alias(f"__n{i}")
        for i, t in enumerate(uniq)
    ]
    anchored = sub.select(F.col(id_col), F.col("pos"), *nxt_cols)
    present = None
    for i in range(len(uniq)):
        c = F.col(f"__n{i}").isNotNull()
        present = c if present is None else (present & c)
    wlen = (
        F.greatest(*[F.col(f"__n{i}") for i in range(len(uniq))])
        - F.col("pos")
        + 1
    )
    return anchored.filter(present).select(
        F.col(id_col), F.col("pos"), wlen.alias("__w")
    )


def best_snippet_windows(
    postings: DataFrame, id_col: str, terms: list[str]
) -> DataFrame:
    """The argmin companion of :func:`proximity_windows` — search-
    result snippet selection: for each document containing every query
    term, the 0-based token span ``[start_pos, end_pos]`` of the
    SMALLEST window covering all terms (ties broken by the earliest
    start, deterministically).  A result renderer slices exactly this
    span (± context) out of the stored text; the engine never ships
    the text itself through the ranking shuffles.

    Same single doc-id shuffle as proximity (the row_number pick runs
    on the same partitioning as the anchor window — no extra
    exchange).  Returns (id, start_pos, end_pos, window_len).
    """
    uniq = list(dict.fromkeys(terms))
    anchors = _min_cover_anchors(postings, id_col, uniq)
    pick = Window.partitionBy(id_col).orderBy(
        F.col("__w").asc(), F.col("pos").asc()
    )
    return (
        anchors.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("pos").cast("long").alias("start_pos"),
            (F.col("pos") + F.col("__w") - 1).cast("long").alias("end_pos"),
            F.col("__w").cast("long").alias("window_len"),
        )
    )


def lm_dirichlet_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    mu: float = 2000.0,
    *,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet-prior smoothing (Zhai &
    Lafferty 2001) — the standard language-model alternative to BM25:
    ``score(d) = Σ_t ln((tf_dt + μ·P(t|C)) / (|d| + μ))`` with the
    collection model ``P(t|C) = ctf_t / |C|``.  Every document gets a
    finite score for corpus-present terms (smoothing is the point);
    longer documents pay through the ``|d| + μ`` denominator.

    Scale shape: ONE groupBy(doc) over the exploded tokens computes
    doc length and every query-term tf in the same map-side-partial
    pass; collection stats reduce that per-doc frame to one row that
    broadcasts back (never a driver round-trip).  The per-term log
    contributions are summed as a fixed left-to-right expression —
    not a shuffle-order-dependent aggregation — so the float result
    is bit-stable and the DuckDB oracle can reproduce it exactly.

    Returns (id, doc_len, ql_score) over all documents.
    """
    uniq = list(dict.fromkeys(query_terms))
    if not uniq:
        raise ValueError("need at least one query term")
    # a caller-cached (id, term) frame skips the tokenize scan; every
    # downstream aggregate is an integer count — value-identical
    toks = tokens if tokens is not None else docs.select(
        F.col(id_col), F.explode(sql_tokens(F.col(text_col))).alias("term")
    )
    aggs = [F.count(F.lit(1)).alias("dl")] + [
        F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf{i}")
        for i, t in enumerate(uniq)
    ]
    per_doc = toks.groupBy(id_col).agg(*aggs)
    coll = per_doc.agg(
        F.sum("dl").alias("c_len"),
        *[F.sum(f"tf{i}").alias(f"ctf{i}") for i in range(len(uniq))],
    )
    joined = per_doc.crossJoin(F.broadcast(coll))
    score = None
    for i in range(len(uniq)):
        contrib = F.log(
            (F.col(f"tf{i}") + F.lit(float(mu)) * F.col(f"ctf{i}") / F.col("c_len"))
            / (F.col("dl") + F.lit(float(mu)))
        )
        score = contrib if score is None else score + contrib
    return joined.select(
        F.col(id_col),
        F.col("dl").cast("long").alias("doc_len"),
        F.round(score, 6).alias("ql_score"),
    )


#: Cross-engine float parity: log2(e) and 2π as fixed double literals
#: (both engines' ln() agree to the ulp in practice, but constants in
#: the formula are pinned so neither side depends on it).
_LOG2_E = 1.4426950408889634
_TWO_PI = 6.283185307179586


def pl2_scores(
    index: dict[str, DataFrame],
    id_col: str,
    query_terms: list[str],
    c: float = 1.0,
) -> DataFrame:
    """PL2 Divergence-from-Randomness ranking (Amati & van Rijsbergen
    2002): Poisson randomness model, Laplace after-effect, H2 length
    normalization — the third classical ranking family beside BM25
    (``bm25_score_index``) and Dirichlet QL (``lm_dirichlet_scores``),
    probing the same persisted index tables::

        tfn      = tf · log2(1 + c·avgdl/dl)
        λ_t      = ctf_t / N
        score(d) = Σ_t  (tfn·log2(tfn/λ_t) + (λ_t − tfn)·log2(e)
                         + 0.5·log2(2π·tfn)) / (tfn + 1)

    Only matched (doc, term) postings do work — the postings slice for
    the query terms is the single corpus-shaped input; per-term λ and
    the corpus row broadcast.  Docs matching no query term are absent
    (their PL2 mass is zero by convention).

    Returns (id, pl2_score) over matched documents, score rounded to
    6 dp for cross-engine hash stability.
    """
    q = list(dict.fromkeys(t.lower() for t in query_terms))
    if not q:
        raise ValueError("need at least one query term")
    hits = index["postings"].filter(F.col("term").isin(q))
    corpus = index["doclen"].agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    lam = hits.groupBy("term").agg(F.sum("tf").alias("ctf"))
    tfn = F.col("tf") * F.log2(
        1.0 + F.lit(float(c)) * F.col("avgdl") / F.col("dl")
    )
    scored = (
        hits.join(index["doclen"], id_col)
        .join(F.broadcast(lam), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn("tfn", tfn)
        .withColumn("lam", F.col("ctf") / F.col("n_docs"))
        .withColumn(
            "contrib",
            (
                F.col("tfn") * F.log2(F.col("tfn") / F.col("lam"))
                + (F.col("lam") - F.col("tfn")) * F.lit(_LOG2_E)
                + 0.5 * F.log2(F.lit(_TWO_PI) * F.col("tfn"))
            )
            / (F.col("tfn") + 1.0),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("contrib"), 6).alias("pl2_score"))
    )


def rm3_expansion(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    mu: float = 2000.0,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    *,
    tokens: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft 2001 relevance
    models + the Anserini/Indri RM3 interpolation) — the standard
    query-expansion stage the reference's retrieval stack lacks
    entirely (query.py runs the raw user query; SURVEY §2 E6 lists
    HyDE-style expansion as the LLM path — this is the classical,
    deterministic counterpart):

    1. First pass: Dirichlet query likelihood over the corpus
       (``lm_dirichlet_scores``); the top ``fb_docs`` by
       (score DESC, id ASC) form the feedback set F.
    2. RM1 relevance model over F:
       ``P(w|R) ∝ Σ_{d∈F} (tf_wd/|d|) · P(Q|d)`` with doc weights
       ``P(Q|d) = exp(score_d − max_F score)`` normalized over F
       (the max-shift keeps exp in range; normalization cancels it).
    3. Truncate to the top ``fb_terms`` terms by
       (round(rm1, 9) DESC, term ASC) — the 9-dp round makes
       mathematically-tied weights compare equal cross-engine —
       then renormalize over the survivors (Anserini truncate-first).
    4. RM3 interpolation over original ∪ expansion terms:
       ``p(w) = α·1/|Q|·[w∈Q] + (1−α)·rm1'(w)``.

    Everything is one lazy DAG — no driver round-trip: the feedback
    top-k is TakeOrderedAndProject, F and the term frames are tiny and
    broadcast into every downstream join; the only corpus-shaped work
    is the token scan the first pass already does.

    Returns {"feedback": (id, ql_score, fb_rank),
             "terms": (term, p_w)} — ``terms`` has ≤ |Q| + fb_terms
    rows, the whole expanded weighted query.
    """
    uniq = list(dict.fromkeys(t.lower() for t in query_terms))
    if not uniq:
        raise ValueError("need at least one query term")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    scored = lm_dirichlet_scores(
        docs, id_col, text_col, uniq, mu=mu, tokens=tokens
    )
    # fb is <= fb_docs rows but its lineage is the full first-pass QL
    # scan; every downstream 1-row aggregate (max, weight sum) would
    # re-evaluate that scan — eager localCheckpoint truncates the
    # lineage once (the minhash_candidate_pairs pattern; measured 31 s
    # -> ~6 s for the whole expansion at sf0.1)
    fb = (
        scored.orderBy(F.desc("ql_score"), F.col(id_col))
        .limit(fb_docs)
        .select(id_col, "ql_score")
        .localCheckpoint(eager=True)
    )
    # P(Q|d) over F: exp(score - max), normalized.  max/sum are
    # aggregates over <= fb_docs rows — broadcast one-row frames.
    mx = fb.agg(F.max("ql_score").alias("mx"))
    w = fb.crossJoin(F.broadcast(mx)).select(
        F.col(id_col), F.exp(F.col("ql_score") - F.col("mx")).alias("w_raw")
    )
    wsum = w.agg(F.sum("w_raw").alias("wsum"))
    w = w.crossJoin(F.broadcast(wsum)).select(
        id_col, (F.col("w_raw") / F.col("wsum")).alias("w_d")
    )
    toks = tokens if tokens is not None else docs.select(
        F.col(id_col), F.explode(sql_tokens(F.col(text_col))).alias("term")
    )
    fb_toks = toks.join(F.broadcast(w.select(id_col, "w_d")), id_col)
    dl = fb_toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    rm1 = (
        fb_toks.groupBy(id_col, "term", "w_d")
        .agg(F.count("*").alias("tf"))
        .join(F.broadcast(dl), id_col)
        .groupBy("term")
        .agg(F.sum(F.col("tf") / F.col("dl") * F.col("w_d")).alias("rm1"))
    )
    top = (
        rm1.orderBy(F.desc(F.round("rm1", 9)), "term")
        .limit(fb_terms)
        .localCheckpoint(eager=True)  # <= fb_terms rows, corpus lineage
    )
    tsum = top.agg(F.sum("rm1").alias("tsum"))
    expansion = top.crossJoin(F.broadcast(tsum)).select(
        "term", (F.col("rm1") / F.col("tsum")).alias("rm1n")
    )
    orig = docs.sparkSession.createDataFrame(
        [(t, 1.0 / len(uniq)) for t in uniq], ["term", "q_w"]
    )
    terms = (
        orig.join(expansion, "term", "full_outer")
        .select(
            "term",
            (
                F.lit(alpha) * F.coalesce("q_w", F.lit(0.0))
                + F.lit(1.0 - alpha) * F.coalesce("rm1n", F.lit(0.0))
            ).alias("p_w"),
        )
    )
    fb_ranked = fb.select(
        id_col,
        "ql_score",
        F.row_number()
        .over(Window.orderBy(F.desc("ql_score"), F.col(id_col)))
        .alias("fb_rank"),
    )
    return {"feedback": fb_ranked, "terms": terms, "rm1": expansion}


def query_clarity(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    mu: float = 2000.0,
    fb_docs: int = 10,
    fb_terms: int = 10,
    *,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Clarity score (Cronen-Townsend, Zhou & Croft 2002) — query
    performance prediction: the KL divergence between the query's
    relevance language model and the collection model,
    ``Σ_w P(w|R) · log2(P(w|R) / P(w|C))``.  High clarity = the
    feedback docs speak a vocabulary distinct from the background (a
    focused query); near-zero = the query retrieves "more collection"
    (ambiguous / unanswerable) — the standard cheap pre-retrieval
    triage before spending on expensive rerank stages.

    ``P(w|R)`` is the truncated+renormalized RM1 model from
    ``rm3_expansion`` (documented estimator choice: truncation keeps
    the sum finite and the score comparable across queries);
    ``P(w|C) = ctf_w / |C|``.

    Returns one row per model term: (term, p_rm, p_coll, clarity_bits)
    with clarity_bits the term's KL contribution — sum for the scalar;
    the per-term frame is the diagnostic (WHICH vocabulary carries the
    signal).  Scale shape: the rm1 frame is ≤ fb_terms rows broadcast
    into one ctf aggregation over the token scan.
    """
    ex = rm3_expansion(
        docs,
        id_col,
        text_col,
        query_terms,
        mu=mu,
        fb_docs=fb_docs,
        fb_terms=fb_terms,
        alpha=0.5,
        tokens=tokens,
    )
    rm1 = ex["rm1"]
    toks = tokens if tokens is not None else docs.select(
        F.col(id_col), F.explode(sql_tokens(F.col(text_col))).alias("term")
    )
    clen = toks.agg(F.count("*").alias("c_len"))
    ctf = (
        toks.join(F.broadcast(rm1.select("term")), "term")
        .groupBy("term")
        .agg(F.count("*").alias("ctf"))
    )
    return (
        rm1.join(ctf, "term")
        .crossJoin(F.broadcast(clen))
        .select(
            "term",
            F.round("rm1n", 6).alias("p_rm"),
            F.round(F.col("ctf") / F.col("c_len"), 6).alias("p_coll"),
            F.round(
                F.col("rm1n")
                * F.log2(F.col("rm1n") / (F.col("ctf") / F.col("c_len"))),
                6,
            ).alias("clarity_bits"),
        )
    )


def rm3_rerank(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms: DataFrame,
    mu: float = 2000.0,
    k: int = 20,
    *,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Second-pass weighted query-likelihood ranking with the RM3
    expanded query (``terms`` = (term, p_w) from ``rm3_expansion``):

    ``score(d) = Σ_w p_w · ln((tf_wd + μ·P(w|C)) / (|d| + μ))``

    computed via the Indri decomposition so only MATCHED (doc, term)
    pairs do corpus-shaped work::

        score(d) = Σ_w p_w·ln(μ·P_wC)            (scalar, one row)
                 − (Σ_w p_w) · ln(|d| + μ)        (per doc, no join)
                 + Σ_{tf>0} p_w·ln(1 + tf/(μ·P_wC))   (matched only)

    Scale shape: the term frame (≤ ~20 rows, with collection stats
    attached) broadcasts into the single token-scan join; docs that
    match no expansion term still score via the length term, so the
    result ranks the WHOLE corpus exactly as the naive formula would.
    Top-k is (score DESC, id ASC) TakeOrderedAndProject.
    """
    toks = tokens if tokens is not None else docs.select(
        F.col(id_col), F.explode(sql_tokens(F.col(text_col))).alias("term")
    )
    doclen = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    clen = doclen.agg(F.sum("dl").alias("c_len"))
    ctf = (
        toks.join(F.broadcast(terms.select("term")), "term")
        .groupBy("term")
        .agg(F.count("*").alias("ctf"))
    )
    # corpus-absent expansion terms would make P(w|C)=0 and ln blow up;
    # RM1 terms always come from the corpus, but guard original query
    # terms the corpus never saw by dropping them (their QL contribution
    # is -inf for every doc equally — rank-neutral).
    tstats = (
        terms.join(ctf, "term")
        .crossJoin(F.broadcast(clen))
        .select(
            "term",
            "p_w",
            (F.col("ctf") / F.col("c_len")).alias("p_wc"),
        )
        # <= |terms| rows behind a corpus-sized ctf/c_len lineage, and
        # forked by const + matched — checkpoint so the token scan
        # backing it runs once
        .localCheckpoint(eager=True)
    )
    const = tstats.agg(
        F.sum(F.col("p_w") * F.log(F.lit(float(mu)) * F.col("p_wc"))).alias(
            "const_sum"
        ),
        F.sum("p_w").alias("p_tot"),
    )
    matched = (
        toks.join(F.broadcast(tstats), "term")
        .groupBy(id_col, "term", "p_w", "p_wc")
        .agg(F.count("*").alias("tf"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.col("p_w")
                * F.log(
                    1.0
                    + F.col("tf") / (F.lit(float(mu)) * F.col("p_wc"))
                )
            ).alias("match_sum")
        )
    )
    scored = (
        doclen.join(matched, id_col, "left")
        .crossJoin(F.broadcast(const))
        .select(
            F.col(id_col),
            F.col("dl").cast("long").alias("doc_len"),
            F.round(
                F.col("const_sum")
                + F.coalesce(F.col("match_sum"), F.lit(0.0))
                - F.col("p_tot") * F.log(F.col("dl") + F.lit(float(mu))),
                6,
            ).alias("rm3_score"),
        )
    )
    return scored.orderBy(F.desc("rm3_score"), F.col(id_col)).limit(k)


def mmr_rerank(
    candidates,
    id_col: str,
    rel_col: str,
    vec_col: str,
    k: int = 10,
    lam: float = 0.7,
    max_candidates: int = 10_000,
):
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    greedily pick ``k`` results maximizing
    ``λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s)`` — the diversity
    stage that stops a near-duplicate cluster from monopolizing the
    top-k (the reference returns raw similarity order; query.py:225).

    Contract and scale shape: ``candidates`` is a TOP-N frame (the
    output of ``cosine_topk``/BM25 with its embedding column joined
    back), k-bounded BY CONSTRUCTION — so the greedy loop runs on the
    driver over N rows (numpy, one collect of N·d floats), exactly the
    adaptive small-side pattern ``hits()`` uses below its graph
    threshold.  The corpus-shaped work (scoring, top-N cut) happened
    upstream; MMR's sequential data dependency (each pick conditions
    the next) makes per-step Spark jobs pure overhead at N ≤ a few
    hundred.  The bound is ENFORCED: the collect is capped at
    ``max_candidates`` rows via a ``limit(max_candidates + 1)`` probe
    and raises ValueError above it — the N×N similarity matrix this
    kernel builds is quadratic in the candidate count, so an unbounded
    frame must fail loudly, never OOM the driver (raise
    ``max_candidates`` explicitly to override; at corpus scale run
    :func:`mmr_per_cell`).  Ties break (score desc, id asc); vectors
    are cosine-normalized once up front; zero vectors contribute
    similarity 0.

    Returns a DataFrame (id, mmr_rank, rel, mmr_score) of the k picks.
    """
    import numpy as np

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if max_candidates < 1:
        raise ValueError(
            f"max_candidates must be >= 1, got {max_candidates}"
        )
    rows = (
        candidates.select(id_col, rel_col, vec_col)
        .limit(max_candidates + 1)
        .collect()
    )
    if len(rows) > max_candidates:
        raise ValueError(
            f"mmr_rerank candidate frame exceeds max_candidates="
            f"{max_candidates}: the driver kernel builds an N x N "
            f"similarity matrix and is for top-N frames only. Pre-cut "
            f"the candidates, use mmr_per_cell, or raise "
            f"max_candidates explicitly."
        )
    if not rows:
        return candidates.sparkSession.createDataFrame(
            [], f"{id_col} long, mmr_rank int, rel double, mmr_score double"
        )
    picks = _mmr_greedy(
        [r[0] for r in rows],
        [float(r[1]) for r in rows],
        [list(map(float, r[2])) for r in rows],
        k,
        lam,
    )
    return candidates.sparkSession.createDataFrame(
        picks, f"{id_col} long, mmr_rank int, rel double, mmr_score double"
    )


def _mmr_greedy(ids, rel, mat, k: int, lam: float):
    """The pure numpy MMR greedy shared by :func:`mmr_rerank` (driver
    kernel over a top-N frame) and :func:`mmr_per_cell` (one executor
    task per cell) — ONE implementation, so per-cell results are
    definitionally the driver kernel's.  Returns
    ``[(id, rank, rel, score), ...]``."""
    import numpy as np

    rel = np.asarray(rel, dtype=float)
    mat = np.asarray(mat, dtype=float)
    norms = np.linalg.norm(mat, axis=1)
    unit = np.divide(
        mat, norms[:, None], out=np.zeros_like(mat), where=norms[:, None] > 0
    )
    sims = unit @ unit.T
    # deterministic order-independence: process candidates in (rel
    # desc, id asc) order so argmax ties resolve identically regardless
    # of the collect()'s partition order
    order = sorted(range(len(ids)), key=lambda i: (-rel[i], ids[i]))
    rel, sims = rel[order], sims[np.ix_(order, order)]
    ids = [ids[i] for i in order]
    selected: list[int] = []
    picks = []
    remaining = list(range(len(ids)))
    for rank in range(1, min(k, len(ids)) + 1):
        if selected:
            penalty = sims[np.ix_(remaining, selected)].max(axis=1)
        else:
            penalty = np.zeros(len(remaining))
        scores = lam * rel[remaining] - (1.0 - lam) * penalty
        best = int(np.argmax(scores))  # first max = lowest index =
        # highest rel / smallest id under the presort — deterministic
        j = remaining[best]
        picks.append((ids[j], rank, float(rel[j]), float(scores[best])))
        selected.append(j)
        remaining.pop(best)
    return picks


def mmr_per_cell(
    candidates: DataFrame,
    cell_col: str,
    id_col: str,
    rel_col: str,
    vec_col: str,
    k: int = 10,
    lam: float = 0.7,
    max_cell_rows: int = 10_000,
) -> DataFrame:
    """Per-cell MMR — the corpus-scale composition of
    :func:`mmr_rerank`: one ``applyInPandas`` pass runs the identical
    :func:`_mmr_greedy` kernel independently inside every cell (a
    query id in batch rerank, an IVF cell, a stratum) and unions the
    per-cell top-k.  The N×N similarity matrix is built per cell, so
    memory is bounded by the largest cell, not the corpus; cells above
    ``max_cell_rows`` raise inside their task (fail-loud, matching the
    driver kernel's ``max_candidates`` guard).  Returns
    ``(cell_col, id_col, mmr_rank, rel, mmr_score)`` with ranks local
    to each cell.
    """
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    cell_type = dict(candidates.dtypes)[cell_col]
    schema = (
        f"{cell_col} {cell_type}, {id_col} long, mmr_rank int, "
        f"rel double, mmr_score double"
    )

    def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_cell_rows:
            raise ValueError(
                f"mmr_per_cell: cell {pdf[cell_col].iloc[0]!r} has "
                f"{len(pdf)} rows > max_cell_rows={max_cell_rows}; "
                f"cut the per-cell candidates upstream or raise the "
                f"bound."
            )
        picks = _mmr_greedy(
            pdf[id_col].tolist(),
            pdf[rel_col].astype(float).tolist(),
            [list(map(float, v)) for v in pdf[vec_col]],
            k,
            lam,
        )
        return pd.DataFrame(
            {
                cell_col: [pdf[cell_col].iloc[0]] * len(picks),
                id_col: [p[0] for p in picks],
                "mmr_rank": [p[1] for p in picks],
                "rel": [p[2] for p in picks],
                "mmr_score": [p[3] for p in picks],
            }
        )

    return (
        candidates.select(cell_col, id_col, rel_col, vec_col)
        .groupBy(cell_col)
        .applyInPandas(_run, schema)
    )


def fit_ltr_pairwise(
    feats: DataFrame,
    qid_col: str,
    label_col: str,
    feat_col: str,
    *,
    n_iters: int = 30,
    lr: float = 0.5,
    l2: float = 1e-4,
) -> list[float]:
    """Pairwise learning-to-rank (RankNet with a linear scorer, Burges
    2005): learn weights w over per-(query, doc) feature vectors by
    minimizing the logistic pairwise loss ``log(1 + exp(-(w·x_i -
    w·x_j)))`` over all within-query pairs where doc i outranks doc j
    (graded ``label_col``).  The linear-RankNet trick: the loss
    depends only on the DIFFERENCE vector, so training reduces to
    logistic regression on ``x_i - x_j`` with constant label 1 — no
    bias term (differences cancel it).

    Scale shape (the repo's iterative-trainer pattern, same as
    ``fit_quality_classifier``): pair difference vectors are staged
    ONCE — a single qid-keyed self-join, never cross-query, so the
    shuffle is bounded by the per-query candidate-list width (the
    reference over-fetches k*2 per retriever,
    backend/src/api/v1/rag/query.py:203 — pairs per query are
    O(k²), a constant) — then every round is ONE zero-shuffle
    ``mapInPandas`` job: each partition computes its full gradient
    with one (n, d) GEMM and yields one d-vector; the driver sums P
    partials and steps.  Model state is d doubles in the task
    closure.  Float sums are order-dependent → parity tests use
    tolerances, consumers round scores before ranking.

    Returns ``w`` (length = feature dim).
    """
    import numpy as np
    import pandas as pd

    spark = feats.sparkSession
    a = feats.select(
        F.col(qid_col).alias("__q"),
        F.col(label_col).alias("__la"),
        F.col(feat_col).alias("__fa"),
    )
    b = feats.select(
        F.col(qid_col).alias("__q"),
        F.col(label_col).alias("__lb"),
        F.col(feat_col).alias("__fb"),
    )
    diffs = (
        a.join(b, "__q")
        .filter(F.col("__la") > F.col("__lb"))
        .select(
            F.zip_with("__fa", "__fb", lambda x, y: x - y).alias("d")
        )
    )
    first = diffs.select(F.size("d").alias("n")).first()
    if first is None:
        raise ValueError("fit_ltr_pairwise: no orderable pairs")
    d = int(first["n"])
    n_pairs = diffs.count()
    width = max(
        1,
        min(spark.sparkContext.defaultParallelism, -(-n_pairs // 4096)),
    )
    # adaptive small-side path (the hits()/mmr driver-kernel rule): a
    # pair table under ~200k rows is a few MB of float64 — 30 GD
    # rounds as ONE collect + numpy matmuls instead of 30 scheduled
    # Spark jobs (measured: 6.3 s -> sub-second at sf0.1, where the
    # per-round job cost is pure scheduler latency).  Identical math:
    # the distributed loop's per-partition partial gradients sum to
    # exactly M.T @ coef; float order differs at 1e-15 — the same
    # tolerance the numpy-parity pytest already grants the distributed
    # path, and consumers round scores before ranking.
    if n_pairs <= 200_000:
        rows = diffs.collect()
        M = np.array([r["d"] for r in rows], dtype=np.float64)
        w = np.zeros(d, dtype=np.float64)
        for _ in range(n_iters):
            coef = -1.0 / (1.0 + np.exp(M @ w))
            g = M.T @ coef
            w = w - lr * (g / n_pairs + l2 * w)
        return [float(x) for x in w]
    staged = diffs.repartition(width).persist()
    staged.count()
    w = np.zeros(d, dtype=np.float64)
    try:
        for _ in range(n_iters):
            W = w

            def _partials(batches, W=W):
                g = np.zeros(d, dtype=np.float64)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    M = np.array(pdf["d"].tolist(), dtype=np.float64)
                    coef = -1.0 / (1.0 + np.exp(M @ W))
                    g += M.T @ coef
                yield pd.DataFrame({"g": [g.tolist()]})

            parts = staged.mapInPandas(_partials, "g array<double>").collect()
            g = np.sum([r["g"] for r in parts], axis=0)
            w = w - lr * (g / n_pairs + l2 * w)
    finally:
        staged.unpersist()
    return [float(x) for x in w]


def score_ltr(
    feat_col: str, weights: list[float], decimals: int = 6
) -> "F.Column":
    """JVM-side linear score ``round(w·x, decimals)`` for a fitted
    LTR model — one zip_with·aggregate fold, zero Python; rounding
    BEFORE ranking keeps rank boundaries engine-stable (the repo's
    tfidf_keywords rule)."""
    arr = F.array(*[F.lit(float(x)) for x in weights])
    dot = F.aggregate(
        F.zip_with(F.col(feat_col), arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(dot, decimals)


def combmnz_fuse(
    hit_lists: list[DataFrame],
    id_col: str,
    score_col: str,
    k: int,
) -> DataFrame:
    """CombMNZ fusion (Fox & Shaw 1994) — the third member of the
    fusion family next to :func:`hybrid_minmax` (score-based) and
    :func:`rrf_fuse` (rank-based): per-list min-max normalize, sum the
    normalized scores, then MULTIPLY by the number of lists that
    returned the document, rewarding multi-retriever consensus harder
    than either sibling.

    The degenerate-list branch matches hybrid_minmax: a list whose
    scores are all equal contributes 1.0 for positive scores, 0.0
    otherwise.  Scale shape: candidate lists are top-N shortlists
    (bounded rows), so the per-list min/max windows and the final
    groupBy(id) run on frames of at most Σ|lists| rows; ties break to
    the smaller id.  Returns (id, n_lists, combmnz_score) top-k.
    """
    parts = []
    for idx, hits in enumerate(hit_lists):
        w = Window.partitionBy(F.lit(idx))
        lo, hi = F.min(score_col).over(w), F.max(score_col).over(w)
        norm = (
            F.when(hi > lo, (F.col(score_col) - lo) / (hi - lo))
            .when(F.col(score_col) > 0, F.lit(1.0))
            .otherwise(F.lit(0.0))
        )
        parts.append(hits.select(F.col(id_col), norm.alias("norm")))
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return (
        unioned.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lists"),
            (F.sum("norm") * F.count("*")).alias("combmnz_score"),
        )
        .orderBy(F.desc("combmnz_score"), F.col(id_col))
        .limit(k)
    )
