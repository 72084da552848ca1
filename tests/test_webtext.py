"""Unit tests for clawrag_spark.operators.webtext (Gopher repetition
signals, CCNet paragraph dedup, PII masking, URL canonicalization)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from clawrag_spark.operators import webtext as W


def _rows(df):
    return [r.asDict() for r in df.collect()]


# ---------------------------------------------------------------- ngram


def test_ngram_top_bigram(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a b c"), (2, "x y z"), (3, "w")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in _rows(W.ngram_repetition_signals(docs, "doc_id", "text"))}
    # "a b" occurs 3x ("a b a b a b" -> a b, b a, a b, b a, a b); len("a b")=3, text len 13
    r = out[1]
    assert r["top_ngram"] == "a b" and r["top_ngram_count"] == 3
    assert r["top_ngram_char_frac"] == pytest.approx(3 * 3 / 13)
    assert r["n_words"] == 7
    assert r["distinct_word_ratio"] == pytest.approx(3 / 7)
    # all-unique doc: every bigram count 1, lexicographically smallest wins
    assert out[2]["top_ngram"] == "x y" and out[2]["top_ngram_count"] == 1
    # single word: no bigram
    assert out[3]["top_ngram"] == "" and out[3]["top_ngram_count"] == 0
    assert out[3]["top_ngram_char_frac"] == 0.0


def test_ngram_trigram_mode(spark):
    docs = spark.createDataFrame([(1, "p q r p q r p q r s")], ["doc_id", "text"])
    r = _rows(W.ngram_repetition_signals(docs, "doc_id", "text", n=3))[0]
    assert r["top_ngram"] == "p q r" and r["top_ngram_count"] == 3


def test_ngram_tie_breaks_lexicographically(spark):
    docs = spark.createDataFrame([(1, "b a b a")], ["doc_id", "text"])
    r = _rows(W.ngram_repetition_signals(docs, "doc_id", "text"))[0]
    # "a b" x1, "b a" x2 -> b a wins on count; craft a true tie:
    docs2 = spark.createDataFrame([(1, "c d e f")], ["doc_id", "text"])
    r2 = _rows(W.ngram_repetition_signals(docs2, "doc_id", "text"))[0]
    assert r["top_ngram"] == "b a" and r["top_ngram_count"] == 2
    assert r2["top_ngram"] == "c d"  # all counts 1 -> lex smallest


# ---------------------------------------------------------------- lines


def test_line_repetition(spark):
    text = "same\nother\nsame\n\n  same  \nunique"
    df = spark.createDataFrame([(1, text), (2, "one line")], ["id", "text"])
    out = {r["id"]: r for r in _rows(W.line_repetition_signals(df, "id", "text"))}
    # trimmed non-empty lines: same, other, same, same, unique -> 5 lines, 3 distinct
    r = out[1]
    assert r["n_lines"] == 5
    assert r["dup_line_frac"] == pytest.approx(2 / 5)
    chars = 4 + 5 + 4 + 4 + 6
    chars_dist = 4 + 5 + 6
    assert r["dup_line_char_frac"] == pytest.approx((chars - chars_dist) / chars)
    assert out[2]["dup_line_frac"] == 0.0


def test_host_quality_wilson_bound(spark):
    import math

    rows = [("tiny", True)] * 3 + [("big", True)] * 80 + [("big", False)] * 20
    rows += [("solo", True)]  # below min_docs, must drop
    df = spark.createDataFrame(rows, ["host", "ok"])
    out = {
        r["host"]: r
        for r in W.host_quality_bounds(
            df, "host", "ok", z=1.96, min_docs=2
        ).collect()
    }
    assert "solo" not in out
    # perfect 3/3 has the higher raw rate but MUST rank below 80/100
    # on the lower bound — the whole point of the Wilson correction
    assert out["tiny"]["pass_rate"] == 1.0
    assert out["big"]["pass_rate"] == pytest.approx(0.8)
    assert out["big"]["wilson_lb"] > out["tiny"]["wilson_lb"]

    def wilson(p, n, z=1.96):
        return (
            p + z * z / (2 * n) - z * math.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
        ) / (1 + z * z / n)

    assert out["big"]["wilson_lb"] == pytest.approx(wilson(0.8, 100), abs=1e-6)
    assert out["tiny"]["wilson_lb"] == pytest.approx(wilson(1.0, 3), abs=1e-6)
    with pytest.raises(ValueError):
        W.host_quality_bounds(df, "host", "ok", z=0.0)


def test_dedup_lines_in_doc_keeps_first_occurrence(spark):
    text = "same\nother\nsame\n\n  same  \nunique\n\t\nother"
    df = spark.createDataFrame([(1, text), (2, "one line")], ["id", "text"])
    out = {r["id"]: r for r in _rows(W.dedup_lines_in_doc(df, "id", "text"))}
    r = out[1]
    # first "same" (raw form) and first "other" survive; the exact
    # repeat, the trim-equal "  same  ", and the second "other" drop;
    # whitespace-only lines are structural and always kept.  NOTE:
    # "\t" trims to "\t" under space-only trim -> it is a distinct
    # non-empty line, kept.
    assert r["clean_text"] == "same\nother\n\nunique\n\t"
    assert r["lines_kept"] == 4  # same, other, unique, "\t"
    assert r["lines_removed"] == 3
    assert out[2]["clean_text"] == "one line"
    assert out[2]["lines_removed"] == 0


def test_dedup_lines_in_doc_idempotent(spark):
    df = spark.createDataFrame(
        [(1, "a\nb\na\nb\nc"), (2, "")], ["id", "text"]
    )
    once = W.dedup_lines_in_doc(df, "id", "text").select(
        "id", F.col("clean_text").alias("text")
    )
    twice = {
        r["id"]: r
        for r in _rows(W.dedup_lines_in_doc(once, "id", "text"))
    }
    assert twice[1]["clean_text"] == "a\nb\nc"
    assert twice[1]["lines_removed"] == 0
    assert twice[2]["clean_text"] == ""


# ----------------------------------------------------------- paragraphs


def test_paragraph_dedup_removes_boilerplate(spark):
    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"alpha one\n\n{boiler}\n\nbeta two"),
            (2, f"{boiler}\n\ngamma three"),
            (3, "delta four\n\nepsilon five"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r for r in _rows(W.paragraph_dedup(docs, "id", "text", min_rep=2))}
    assert out[1]["clean_text"] == "alpha one\n\nbeta two"
    assert out[1]["paras_kept"] == 2 and out[1]["paras_removed"] == 1
    assert out[2]["clean_text"] == "gamma three"
    assert out[3]["clean_text"] == "delta four\n\nepsilon five"
    assert out[3]["paras_removed"] == 0


def test_paragraph_dedup_all_removed_yields_empty(spark):
    docs = spark.createDataFrame([(1, "dup"), (2, "dup")], ["id", "text"])
    out = {r["id"]: r for r in _rows(W.paragraph_dedup(docs, "id", "text"))}
    assert out[1]["clean_text"] == "" and out[1]["paras_kept"] == 0


def test_strip_host_templates_per_host_boilerplate(spark):
    nav = "Home | About | Contact"
    docs = spark.createDataFrame(
        [
            # host a: nav appears in 2/3 pages (>=2 and >=50%) -> template
            ("a", 1, f"{nav}\nalpha body one"),
            ("a", 2, f"{nav}\nbeta body two"),
            ("a", 3, "gamma body three"),
            # host b: nav appears only once -> NOT a template there
            ("b", 4, f"{nav}\ndelta body"),
            ("b", 5, "epsilon body"),
        ],
        ["host", "id", "text"],
    )
    out = {
        r["id"]: r
        for r in W.strip_host_templates(
            docs, "host", "id", "text", min_docs=2, min_frac=0.5
        ).collect()
    }
    assert out[1]["clean_text"] == "alpha body one"
    assert out[1]["lines_removed"] == 1 and out[1]["lines_kept"] == 1
    assert out[3]["clean_text"] == "gamma body three"
    assert out[4]["clean_text"] == f"{nav}\ndelta body"
    assert out[4]["lines_removed"] == 0


def test_strip_host_templates_intra_doc_repeat_does_not_inflate_df(spark):
    # "loop" occurs 3x inside doc 1 but in only 1 of 3 documents of the
    # host -> document frequency is 1, so it must NOT become a template.
    docs = spark.createDataFrame(
        [
            ("h", 1, "loop\nloop\nloop\nreal one"),
            ("h", 2, "real two"),
            ("h", 3, "real three"),
        ],
        ["host", "id", "text"],
    )
    out = {
        r["id"]: r
        for r in W.strip_host_templates(docs, "host", "id", "text").collect()
    }
    assert out[1]["clean_text"] == "loop\nloop\nloop\nreal one"
    assert out[1]["lines_removed"] == 0


def test_strip_host_templates_blank_page_does_not_dilute(spark):
    # doc 3 contributes no non-empty line: host page count must be 2,
    # so a line shared by docs 1+2 is 2/2 = 100% -> template.
    docs = spark.createDataFrame(
        [
            ("h", 1, "footer 2025\none"),
            ("h", 2, "footer 2025\ntwo"),
            ("h", 3, "\n  \n"),
        ],
        ["host", "id", "text"],
    )
    res = W.strip_host_templates(docs, "host", "id", "text")
    out = {r["id"]: r for r in res.collect()}
    assert set(out) == {1, 2}  # blank page drops out entirely
    assert out[1]["clean_text"] == "one"
    assert out[2]["clean_text"] == "two"


def test_strip_host_templates_rejects_degenerate_params(spark):
    docs = spark.createDataFrame([("h", 1, "x")], ["host", "id", "text"])
    with pytest.raises(ValueError):
        W.strip_host_templates(docs, "host", "id", "text", min_docs=1)
    with pytest.raises(ValueError):
        W.strip_host_templates(docs, "host", "id", "text", min_frac=0.0)


def test_strip_host_templates_plan_no_cartesian_no_python(spark):
    docs = spark.createDataFrame([("h", 1, "a\nb")], ["host", "id", "text"])
    plan = (
        W.strip_host_templates(docs, "host", "id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_paragraph_dedup_plan_has_no_cartesian(spark):
    docs = spark.createDataFrame([(1, "a\n\nb")], ["id", "text"])
    plan = W.paragraph_dedup(docs, "id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


# ------------------------------------------------------------------ pii


def test_pii_counts_and_mask(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob@corp.io or alice.smith@my-site.co.uk tel 555-123-4567"),
            (2, "server at 192.168.0.1 no pii otherwise"),
            (3, "clean text"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r for r in _rows(W.pii_signals(df, "id", "text"))}
    assert out[1]["n_emails"] == 2 and out[1]["n_phones"] == 1 and out[1]["n_ipv4"] == 0
    assert out[2]["n_ipv4"] == 1 and out[2]["n_emails"] == 0
    assert out[3]["n_emails"] == out[3]["n_phones"] == out[3]["n_ipv4"] == 0

    masked = {
        r["id"]: r["m"]
        for r in df.select("id", W.mask_pii(F.col("text")).alias("m")).collect()
    }
    assert masked[1] == "mail <EMAIL> or <EMAIL> tel <PHONE>"
    assert masked[2] == "server at <IP> no pii otherwise"
    assert masked[3] == "clean text"


def test_pii_plan_stays_jvm_side(spark):
    df = spark.createDataFrame([(1, "x")], ["id", "text"])
    plan = W.pii_signals(df, "id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


# ------------------------------------------------------------------ url


@pytest.mark.parametrize(
    "raw,canon",
    [
        ("https://EX.com/A/b/", "https://ex.com/a/b"),
        ("https://ex.com/p?utm_source=x&ref=rss", "https://ex.com/p"),
        ("https://ex.com/p?b=2&a=1#frag", "https://ex.com/p?a=1&b=2"),
        ("https://ex.com/p?a=1&utm_campaign=c&b=2", "https://ex.com/p?a=1&b=2"),
        ("https://ex.com/p", "https://ex.com/p"),
    ],
)
def test_canonicalize_url(spark, raw, canon):
    got = (
        spark.range(1)
        .select(W.canonicalize_url(F.lit(raw)).alias("c"))
        .collect()[0]["c"]
    )
    assert got == canon


def test_latest_per_url(spark):
    import datetime as dt

    t0 = dt.datetime(2025, 6, 1)
    rows = [
        ("https://ex.com/p?utm_source=a", t0),
        ("https://ex.com/p", t0 + dt.timedelta(hours=2)),
        ("https://ex.com/p?ref=x", t0 + dt.timedelta(hours=1)),
        ("https://ex.com/q", t0),
    ]
    pages = spark.createDataFrame(rows, ["url", "warc_ts"])
    out = {r["canonical_url"]: r for r in _rows(W.latest_per_url(pages))}
    assert len(out) == 2
    p = out["https://ex.com/p"]
    assert p["n_captures"] == 3
    assert p["url"] == "https://ex.com/p" and p["warc_ts"] == t0 + dt.timedelta(hours=2)


# -------------------------------------------------------------- sampler


def test_stratified_sample_rates_and_determinism(spark):
    from clawrag_spark.operators.webtext import _rate_threshold_hex

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    rates = {"en": 1.0, "de": 0.25}
    out = W.stratified_sample(df, "lang", rates, "doc_id", salt="t")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["en"] == 2000  # rate 1.0 keeps everything
    # binomial(2000, 0.25): mean 500, sd ~19 -> 6 sigma bounds
    assert 380 <= counts.get("de", 0) <= 620
    # determinism: same salt -> identical sample; different salt -> different
    again = set(r["doc_id"] for r in W.stratified_sample(df, "lang", rates, "doc_id", salt="t").collect())
    assert again == set(r["doc_id"] for r in out.collect())
    other = set(r["doc_id"] for r in W.stratified_sample(df, "lang", rates, "doc_id", salt="u").collect())
    assert other != again
    # default rate 0.0 drops unlisted strata entirely
    none = W.stratified_sample(df, "lang", {"en": 0.0}, "doc_id", default_rate=0.0)
    assert none.count() == 0
    # threshold edge cases
    assert _rate_threshold_hex(1.0) == "g"
    assert _rate_threshold_hex(0.5) == "800000000000000"
    with pytest.raises(ValueError):
        _rate_threshold_hex(-0.1)


def test_stratified_sample_plan_is_scan_plus_filter(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    out = W.stratified_sample(df, "lang", {"en": 0.5}, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


# ------------------------------------------------------------------- lm


def test_char_lm_probability_math(spark):
    import math

    train = spark.createDataFrame([(1, "aaab")], ["id", "text"])
    model = W.train_char_lm(train, "text")
    tri = {r["g"]: r["c3"] for r in model["tri"].collect()}
    ctx = {r["b"]: r["c2"] for r in model["ctx"].collect()}
    assert tri == {"aaa": 1, "aab": 1} and ctx == {"aa": 2}

    score = W.lm_score(
        spark.createDataFrame([(9, "aaac")], ["id", "text"]), "id", "text", model
    ).collect()[0]
    expect = -(math.log(1.5 / 34) + math.log(0.5 / 34)) / 2
    assert score["n_trigrams"] == 2
    assert score["avg_neg_logp"] == pytest.approx(expect)


def test_char_lm_separates_languages(spark):
    # model trained on English-like text scores English lower than junk
    en = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(5)]
    train = spark.createDataFrame(en, ["id", "text"])
    model = W.train_char_lm(train, "text")
    docs = spark.createDataFrame(
        [(1, "the brown dog jumps over the fox"), (2, "zzqx vvkj wwpy qqzz xxjv")],
        ["id", "text"],
    )
    out = {r["id"]: r["avg_neg_logp"] for r in W.lm_score(docs, "id", "text", model).collect()}
    assert out[1] < out[2]


def test_word_lm_stupid_backoff_math(spark):
    """Hand-computed stupid-backoff scores (Brants 2007 eq. 5).

    Train: "a b a c" → uni {a:2, b:1, c:1} (N=4, V=3),
    bigrams {(a,b):1, (b,a):1, (a,c):1}.
    """
    import math

    train = spark.createDataFrame([(1, "a b a c")], ["id", "text"])
    model = W.train_word_lm(train, "text")
    st = model["stats"].collect()[0]
    assert (st["n_tokens"], st["vocab"]) == (4, 3)

    # doc "a b d": (a,b) seen → 1/2; (b,d) unseen, d OOV → .4·(0+1)/7
    score = W.word_lm_score(
        spark.createDataFrame([(9, "a b d")], ["id", "text"]), "id", "text", model
    ).collect()[0]
    expect = -(math.log(1 / 2) + math.log(0.4 * 1 / 7)) / 2
    assert score["n_bigrams"] == 2
    assert score["avg_neg_logp"] == pytest.approx(expect)

    # unseen bigram of two SEEN words backs off to the w2 unigram:
    # (c,a): cb=0 → .4·(2+1)/7
    score2 = W.word_lm_score(
        spark.createDataFrame([(7, "c a")], ["id", "text"]), "id", "text", model
    ).collect()[0]
    assert score2["avg_neg_logp"] == pytest.approx(-math.log(0.4 * 3 / 7))


def test_word_lm_separates_languages_and_drops_short(spark):
    en = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(5)]
    model = W.train_word_lm(spark.createDataFrame(en, ["id", "text"]), "text")
    docs = spark.createDataFrame(
        [(1, "the brown dog jumps over the fox"),
         (2, "zzqx vvkj wwpy qqzz xxjv"),
         (3, "single")],
        ["id", "text"],
    )
    out = {r["id"]: r["avg_neg_logp"]
           for r in W.word_lm_score(docs, "id", "text", model).collect()}
    assert out[1] < out[2]
    assert 3 not in out  # < 2 tokens → no bigrams → dropped


def test_word_lm_min_count_prunes_but_scores_stay_finite(spark):
    train = spark.createDataFrame(
        [(1, "a b a b a b c d")], ["id", "text"]
    )
    model = W.train_word_lm(train, "text", min_count=2)
    kept = {(r["w1"], r["w2"]) for r in model["bi"].collect()}
    assert kept == {("a", "b"), ("b", "a")}  # (b,c),(c,d) pruned
    out = W.word_lm_score(
        spark.createDataFrame([(1, "c d")], ["id", "text"]), "id", "text", model
    ).collect()[0]
    import math
    assert math.isfinite(out["avg_neg_logp"])  # backoff covers pruned


def test_char_lm_short_docs_drop(spark):
    model = W.train_char_lm(spark.createDataFrame([(1, "abcd")], ["id", "text"]), "text")
    out = W.lm_score(
        spark.createDataFrame([(1, "ab"), (2, "abc")], ["id", "text"]), "id", "text", model
    )
    assert [r["id"] for r in out.collect()] == [2]


# ------------------------------------------------------------ properties


def test_canonicalize_idempotent_on_corpus_urls(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u) — canonical
    forms are fixpoints, so re-crawling canonical urls can't re-dup."""
    raw = [
        "https://EX.com/A/b/?utm_source=x&b=2&a=1#f",
        "https://ex.com/p?ref=rss",
        "https://ex.com/p?z=9&y=8&utm_campaign=c",
        "https://ex.com/plain",
    ]
    df = spark.createDataFrame([(u,) for u in raw], ["url"])
    once = df.select(W.canonicalize_url(F.col("url")).alias("c1"))
    twice = once.select("c1", W.canonicalize_url(F.col("c1")).alias("c2"))
    for r in twice.collect():
        assert r["c1"] == r["c2"]


def test_paragraph_dedup_identity_when_no_repeats(spark):
    """With all-unique paragraphs the op is a normalizing identity:
    trimmed paragraphs rejoined, nothing dropped."""
    docs = spark.createDataFrame(
        [(1, "alpha beta\n\n gamma delta \n\nepsilon"), (2, "zeta")],
        ["id", "text"],
    )
    out = {r["id"]: r for r in W.paragraph_dedup(docs, "id", "text").collect()}
    assert out[1]["clean_text"] == "alpha beta\n\ngamma delta\n\nepsilon"
    assert out[1]["paras_removed"] == 0 and out[2]["paras_removed"] == 0


def test_stratified_sample_is_stable_under_subset(spark):
    """Hash-threshold sampling decides per row: sampling a subset keeps
    exactly the intersection of the full sample — required for
    incremental corpus growth to never resample old rows."""
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    full = set(
        r["doc_id"]
        for r in W.stratified_sample(df, "lang", {"en": 0.4}, "doc_id").collect()
    )
    sub = df.filter(F.col("doc_id") < 500)
    sub_sample = set(
        r["doc_id"]
        for r in W.stratified_sample(sub, "lang", {"en": 0.4}, "doc_id").collect()
    )
    assert sub_sample == {i for i in full if i < 500}


# -------------------------------------------------------- decontamination


def test_decontaminate_flags_overlapping_docs(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota")],
        ["id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark's first 8-gram verbatim
            (1, "x y alpha beta gamma delta epsilon zeta eta theta end"),
            # clean
            (2, "one two three four five six seven eight nine ten"),
            # shares only a 7-token run -> below n=8, clean
            (3, "alpha beta gamma delta epsilon zeta eta DIFFERENT tail pad"),
        ],
        ["id", "text"],
    )
    from clawrag_spark.operators.webtext import decontaminate

    out = {r["id"]: r["n_hits"] for r in decontaminate(corpus, bench, "id", "text").collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out and 3 not in out


def test_decontaminate_broadcast_plan(spark):
    from clawrag_spark.operators.webtext import decontaminate

    bench = spark.createDataFrame([(1, "a b c d e f g h i")], ["id", "text"])
    corpus = spark.createDataFrame([(2, "a b c d e f g h i j")], ["id", "text"])
    plan = (
        decontaminate(corpus, bench, "id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "EvalPython" not in plan


def test_curate_corpus_full_funnel_with_decontamination(spark):
    from clawrag_spark.curation import curate_corpus, funnel_report

    # per-doc stride over a large token space: no two docs share an
    # 8-token run unless planted
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 53 + j * (2 * i + 3)) % 997}" for j in range(40)), "en")
         for i in range(30)]
        + [(98, "short", "en"),  # fails min_chars
           (99, " ".join(f"v{j}" for j in range(40)), "de")],
        ["doc_id", "text", "lang"],
    )
    bench = docs.filter(F.col("doc_id") == 0).select("doc_id", "text")
    res = curate_corpus(
        docs, "doc_id", "text", "lang",
        min_chars=50, max_top_bigram_frac=0.9,
        benchmark=bench, decontaminate_n=8,
        mix_rates={"en": 1.0, "de": 1.0},
    )
    names = [n for n, _ in res["stages"]]
    assert names == ["input", "quality", "decontaminated", "training_mix"]
    curated_ids = {r["doc_id"] for r in res["curated"].select("doc_id").collect()}
    assert 98 not in curated_ids          # length gate
    assert 0 not in curated_ids           # overlaps the benchmark (itself)
    assert 99 in curated_ids
    assert "top_ngram_char_frac" not in res["curated"].columns
    report = funnel_report(res, "lang")
    rows = {(r["stage"], r["lang"]): r["n_docs"] for r in report.collect()}
    assert rows[("input", "en")] == 31 and rows[("training_mix", "de")] == 1


def test_robots_longest_match_semantics(spark):
    from clawrag_spark.operators.webtext import parse_robots, robots_filter

    robots = spark.createDataFrame(
        [
            ("a.ex", "User-agent: *\nDisallow: /private/\nAllow: /private/pub"),
            ("b.ex", "User-agent: *\nAllow: /p\nDisallow: /p  # tie -> allow"),
            ("c.ex", "User-agent: bot\nDisallow: /"),
        ],
        ["host", "robots_txt"],
    )
    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [
            ("https://a.ex/private/secret",),   # disallowed
            ("https://a.ex/private/pub/x",),    # longer Allow wins
            ("https://a.ex/open",),             # no rule matches
            ("https://b.ex/page",),             # equal length -> Allow
            ("https://c.ex/anything",),         # non-star group ignored
            ("https://d.ex/",),                 # no robots at all
        ],
        ["url"],
    )
    got = {r["url"]: r["allowed"] for r in robots_filter(urls, rules).collect()}
    assert got == {
        "https://a.ex/private/secret": False,
        "https://a.ex/private/pub/x": True,
        "https://a.ex/open": True,
        "https://b.ex/page": True,
        "https://c.ex/anything": True,
        "https://d.ex/": True,
    }


def test_politeness_schedule_queue_recurrence(spark):
    from datetime import datetime

    from clawrag_spark.operators.webtext import politeness_schedule

    t = lambda s: datetime(2025, 6, 1, 12, 0, s)
    pages = spark.createDataFrame(
        [
            ("https://a.ex/1", t(0)),
            ("https://a.ex/2", t(1)),    # ready before slot -> waits 4s
            ("https://a.ex/3", t(30)),   # long gap -> no wait
            ("https://a.ex/4", t(31)),
            ("https://b.ex/1", t(0)),    # other host independent
        ],
        "url string, warc_ts timestamp",
    )
    got = {
        r["url"]: (r["sched_epoch"] - r["ready_epoch"])
        for r in politeness_schedule(pages, min_delay_sec=5.0).collect()
    }
    assert got["https://a.ex/1"] == 0.0
    assert got["https://a.ex/2"] == 4.0     # sched = t(0)+5
    assert got["https://a.ex/3"] == 0.0
    assert got["https://a.ex/4"] == 4.0     # sched = t(30)+5 = t(35) -> wait 4
    assert got["https://b.ex/1"] == 0.0


# ------------------------------------------------------- weighted sample


def test_weighted_sample_exact_k_per_stratum(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de", 10 + i) for i in range(40)],
        ["doc_id", "lang", "w"],
    )
    out = _rows(W.weighted_sample(df, "doc_id", "w", 3, "lang"))
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == {"en", "de"}
    for rows in by_lang.values():
        assert sorted(r["sample_rank"] for r in rows) == [1, 2, 3]
        # ranks follow the key: descending sample_key along ascending rank
        rows.sort(key=lambda r: r["sample_rank"])
        keys = [r["sample_key"] for r in rows]
        assert keys == sorted(keys, reverse=True)


def test_weighted_sample_without_replacement_and_deterministic(spark):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["doc_id", "w"]
    )
    a = [r["doc_id"] for r in _rows(W.weighted_sample(df, "doc_id", "w", 5))]
    b = [r["doc_id"] for r in _rows(
        W.weighted_sample(df.repartition(7), "doc_id", "w", 5)
    )]
    assert len(set(a)) == 5  # without replacement
    assert sorted(a) == sorted(b)  # partitioning-invariant


def test_weighted_sample_weight_bias(spark):
    # one row with weight 1000x the rest: u^(1/w) -> u^(1/1000) ~ 1,
    # so it must appear in a k=1 sample for (almost) any salt; check a
    # handful of salts all pick the heavy row
    df = spark.createDataFrame(
        [(0, 100_000.0)] + [(i, 1.0) for i in range(1, 50)],
        ["doc_id", "w"],
    )
    for salt in ("s1", "s2", "s3"):
        picked = _rows(W.weighted_sample(df, "doc_id", "w", 1, salt=salt))
        assert picked[0]["doc_id"] == 0


def test_weighted_sample_drops_nonpositive_and_validates(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        ["doc_id", "w"],
    )
    out = _rows(W.weighted_sample(df, "doc_id", "w", 10))
    assert sorted(r["doc_id"] for r in out) == [1, 5]
    with pytest.raises(ValueError, match="k must be"):
        W.weighted_sample(df, "doc_id", "w", 0)


# ------------------------------------------------ NFC normalization


def test_nfc_normalize_composes_and_matches_unicodedata(spark):
    import unicodedata

    from clawrag_spark.operators.webtext import nfc_normalize

    rows = [
        (0, "Cafe" + chr(0x301) + " au lait"),          # e + combining acute
        (1, "nai" + chr(0x308) + "ve"),                  # i + combining diaeresis
        (2, "10 " + chr(0x212B) + " wavelength"),        # ANGSTROM SIGN -> U+00C5
        (3, "already composed: café"),              # NFC fixed point
        (4, None),                                        # null passthrough
        (5, ""),                                          # empty passthrough
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["text_nfc"]
        for r in nfc_normalize(docs, "doc_id", "text").collect()
    }
    for i, t in rows:
        want = unicodedata.normalize("NFC", t) if t is not None else None
        assert got[i] == want, i
    # the decomposed forms actually shrank (composition happened)
    assert len(got[0]) == len(rows[0][1]) - 1
    assert got[2][3] == "Å"


# ------------------------------------------------ TF-IDF keywords


def test_tfidf_keywords_ranks_distinctive_terms(spark):
    from clawrag_spark.operators.textops import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (0, "spark shuffle shuffle shuffle common common"),
            (1, "duck oracle oracle common common"),
            (2, "zebra common common"),
        ],
        "doc_id int, text string",
    )
    out = tfidf_keywords(docs, "doc_id", "text", top_k=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for i, rs in per_doc.items():
        rs.sort(key=lambda r: r["kw_rank"])
        assert [r["kw_rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 2
    # the corpus-ubiquitous word never wins rank 1: idf crushes it
    assert per_doc[0][0]["keyword"] == "shuffle"
    assert per_doc[1][0]["keyword"] == "oracle"
    assert per_doc[2][0]["keyword"] == "zebra"
    # scores are non-increasing within a doc
    for rs in per_doc.values():
        assert all(
            rs[i]["score"] >= rs[i + 1]["score"] for i in range(len(rs) - 1)
        )


# ------------------------------------------------ leakage-safe split


def test_train_val_split_is_group_atomic_and_deterministic(spark):
    from clawrag_spark.operators.webtext import train_val_split

    rows = [(i, f"host{i % 20}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = train_val_split(df, "source", val_frac=0.3).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], set()).add(r["split"])
    # every group lands WHOLLY in one split — the leakage-safety claim
    assert all(len(s) == 1 for s in by_group.values())
    splits = {g: next(iter(s)) for g, s in by_group.items()}
    assert set(splits.values()) == {"train", "val"}
    # deterministic across reruns and partitionings
    again = {
        r["source"]: r["split"]
        for r in train_val_split(
            df.repartition(7), "source", val_frac=0.3
        ).collect()
    }
    assert all(again[g] == splits[g] for g in splits)
    # a different salt draws a different boundary
    other = {
        r["source"]: r["split"]
        for r in train_val_split(df, "source", 0.3, salt="salt2").collect()
    }
    assert any(other[g] != splits[g] for g in splits)


@pytest.mark.parametrize(
    "host,want",
    [
        ("www.example.co.uk", "example.co.uk"),   # multi-label PSL entry
        ("deep.sub.example.co.uk", "example.co.uk"),
        ("user.github.io", "user.github.io"),     # private-registry suffix
        ("a.b.user.github.io", "user.github.io"),
        ("www.example.com", "example.com"),       # plain ICANN TLD
        ("example.com", "example.com"),
        ("co.uk", None),                          # host IS a public suffix
        ("github.io", None),
        ("site.unlistedtld", "site.unlistedtld"), # implicit "*" fallback
        ("a.b.site.unlistedtld", "site.unlistedtld"),
        ("WWW.Example.CO.UK", "example.co.uk"),   # case-normalized
        ("localhost", None),                      # single label: no eTLD+1
    ],
)
def test_registered_domain(spark, host, want):
    got = (
        spark.createDataFrame([(host,)], ["host"])
        .select(W.registered_domain(F.col("host")).alias("rd"))
        .collect()[0]["rd"]
    )
    assert got == want, (host, got, want)


def test_compression_signals_exact_zlib(spark):
    """The Spark stage must reproduce CPython zlib byte-for-byte (same
    linked zlib in workers and driver) and order ratios the way the
    filter relies on: template << prose << noise."""
    import zlib

    import hashlib

    # noise = chained sha256 hex (high entropy, ~0.6 deflate ratio);
    # prose = varied-token text (mid); template = pure repetition (low)
    h, noise = b"seed", []
    while len(noise) < 50:
        h = hashlib.sha256(h).digest()
        noise.append(h.hex())
    docs = [
        (0, "spam spam spam " * 200),                      # template
        (1, " ".join(f"the w{(i * 37) % 997} and b{(i * 61) % 991}"
                     for i in range(300))),                # varied prose
        (2, "".join(noise)),                               # noise
        (3, ""),                                           # empty guard
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in W.compression_signals(df, "doc_id", "text").collect()
    }
    for i, t in docs:
        raw = t.encode("utf-8")
        comp = zlib.compress(raw, 6)
        assert got[i].raw_len == len(raw)
        assert got[i].deflate_len == len(comp)
        assert got[i].compression_ratio == round(len(comp) / max(len(raw), 1), 6)
    assert got[0].compression_ratio < got[1].compression_ratio < got[2].compression_ratio


def test_repair_mojibake_exact_inverse(spark):
    """Repair must exactly invert k rounds of utf8-encode/latin1-decode
    corruption, heal DOUBLE mojibake, and leave clean text (ascii AND
    genuine accented text) untouched."""
    clean = "café crème brûlée — übergroß №7"
    single = clean.encode("utf-8").decode("latin-1")
    double = single.encode("utf-8").decode("latin-1")
    rows = [
        (0, clean),          # genuine accented text: must NOT change
        (1, single),         # one decode accident
        (2, double),         # two decode accidents
        (3, "plain ascii"),  # ascii no-op
        (4, ""),             # empty guard
    ]
    got = {
        r.doc_id: r
        for r in W.repair_mojibake(
            spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text"
        ).collect()
    }
    assert got[0].text_repaired == clean and not got[0].was_mojibake
    assert got[1].text_repaired == clean and got[1].n_repairs == 1
    assert got[2].text_repaired == clean and got[2].n_repairs == 2
    assert got[3].text_repaired == "plain ascii" and not got[3].was_mojibake
    assert got[4].text_repaired == "" and not got[4].was_mojibake


class TestC4LineClean:
    GOOD = "the quick brown fox jumps over the lazy dog."

    def run(self, spark, rows):
        return {
            r.doc_id: r
            for r in W.c4_line_clean(
                spark.createDataFrame(rows, ["doc_id", "text"]),
                "doc_id",
                "text",
            ).collect()
        }

    def test_line_rules(self, spark):
        g = self.GOOD
        got = self.run(spark, [
            (0, f"{g}\n{g}\n{g}"),                       # all pass
            (1, f"{g}\nno punctuation here at all\n{g}"),  # punct rule
            (2, f"{g}\ntoo short.\n{g}"),                  # min-words rule
            (3, f"{g}\nenable Javascript to view this.\n{g}"),  # js rule
            (4, f"  {g}  \n{g}\n{g}"),                     # trimmed + punct seen
        ])
        assert got[0].text_clean == f"{g}\n{g}\n{g}" and got[0].kept
        for d in (1, 2, 3):
            assert got[d].text_clean == f"{g}\n{g}" and got[d].n_kept_lines == 2
            assert not got[d].kept  # < 3 kept lines
        assert got[4].n_kept_lines == 3 and got[4].text_clean.startswith(g)

    def test_page_gates(self, spark):
        g = self.GOOD
        three = f"{g}\n{g}\n{g}"
        got = self.run(spark, [
            (0, three + "\nLorem Ipsum dolor sit amet filler text."),
            (1, three + "\nvar x = {a: 1}; function render() sample."),
            (2, three),
            (3, ""),
        ])
        assert not got[0].kept          # lorem ipsum page gate
        assert not got[1].kept          # curly-brace page gate
        assert got[2].kept
        assert not got[3].kept and got[3].text_clean == ""
        assert got[3].n_kept_lines == 0


class TestSpan3Dedup:
    def test_keep_first_and_rebuild(self, spark):
        boiler = (
            "All rights reserved today. Cookies help deliver services. "
            "Terms of use apply here."
        )
        rows = [
            (0, "Unique zero alpha sentence. " + boiler),
            (1, "Unique one beta sentence. " + boiler),
            (2, "Unique two gamma sentence only."),
        ]
        # sentence-align the boilerplate: one unique sentence before it
        # means spans are [unique+b1...]... so plant with 2 fillers to
        # align instead: use texts where boiler IS the second span
        rows = [
            (0, "U zero one. U zero two. U zero three. " + boiler),
            (1, "U one one. U one two. U one three. " + boiler),
            (2, "U two one. U two two. U two three."),
        ]
        got = {
            r.doc_id: r
            for r in W.span3_dedup(
                spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text"
            ).collect()
        }
        # doc 0: both spans kept (first occurrence of the boiler span)
        assert got[0].n_spans == 2 and got[0].n_kept == 2
        assert "Cookies help deliver services" in got[0].text_dedup
        # doc 1: boiler span is a later occurrence -> cut
        assert got[1].n_spans == 2 and got[1].n_kept == 1
        assert "Cookies" not in got[1].text_dedup
        # the split consumes interior [.!?]+whitespace delimiters
        assert got[1].text_dedup == "U one one U one two U one three"
        # doc 2: single unique span kept
        assert got[2].n_kept == 1

    def test_zero_sentence_doc_gets_row(self, spark):
        rows = [(0, ""), (1, "One real sentence here today.")]
        got = {
            r.doc_id: r
            for r in W.span3_dedup(
                spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text"
            ).collect()
        }
        assert got[0].n_spans == 0 and got[0].text_dedup == ""
        assert got[1].n_kept == 1

    def test_within_doc_duplicate_spans_cut(self, spark):
        span = "Alpha beta gamma delta. Epsilon zeta eta theta. Iota kappa lambda mu."
        rows = [(0, span + " " + span + " End filler sentence done.")]
        got = W.span3_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text"
        ).collect()[0]
        assert got.n_spans == 3 and got.n_kept == 2


def test_drop_reasons_compose_back_to_funnel(spark):
    """label=='' must be exactly the curate_corpus survivor set with
    the same arguments, and drop_stage must name the FIRST failing
    gate."""
    from clawrag_spark.curation import curate_corpus, label_drop_reasons

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 53 + j * (2 * i + 3)) % 997}" for j in range(40)), "en")
         for i in range(24)]
        + [
            (90, " ".join(f"w{(7 * 53 + j * 17) % 997}" for j in range(40)), "en"),
            (91, " ".join(f"w{(7 * 53 + j * 17) % 997}" for j in range(40)), "en"),
            (98, "short", "en"),                                  # quality
            (99, " ".join(f"v{j}" for j in range(40)), "zz"),     # mix (rate 0)
        ],
        ["doc_id", "text", "lang"],
    )

    def pair_fn(survivors):
        import __spark_entry__ as e
        from clawrag_spark.operators.dataset import shingle_rows

        return e._jaccard_verified_pairs(
            survivors, shingle_rows(survivors, "doc_id", "text")
        )

    kwargs = dict(
        min_chars=50, max_top_bigram_frac=0.9,
        pair_fn=pair_fn, mix_rates={"en": 1.0}, mix_default_rate=0.0,
    )
    labels = {
        r["doc_id"]: r["drop_stage"]
        for r in label_drop_reasons(docs, "doc_id", "text", "lang", **kwargs).collect()
    }
    survivors = {
        r["doc_id"]
        for r in curate_corpus(docs, "doc_id", "text", "lang", **kwargs)[
            "curated"
        ].select("doc_id").collect()
    }
    assert {d for d, s in labels.items() if s == ""} == survivors
    assert labels[98] == "quality"
    assert labels[99] == "training_mix"
    # 90/91 verbatim-duplicate doc 7 (same j*17 stride): the min-id
    # representative (7) survives, both copies are labeled near_dedup
    assert labels[7] == "" and labels[90] == labels[91] == "near_dedup"


def test_recrawl_priority_semantics(spark):
    """Known-history pins: an always-changing URL gets the max rate and
    the min revisit interval; a never-changing one gets the estimator's
    +0.5 floor rate; single-fetch URLs are dropped; rate is monotone in
    the number of observed changes at equal cadence."""
    from datetime import datetime, timedelta
    from clawrag_spark.operators.webtext import recrawl_priority

    t0 = datetime(2026, 1, 1)
    rows = []
    # u_all: changes every fetch; u_none: never; u_half: 2 of 4 intervals
    for i in range(5):
        rows.append(("u_all", t0 + timedelta(days=i), f"fp{i}"))
        rows.append(("u_none", t0 + timedelta(days=i), "fp"))
        rows.append(("u_half", t0 + timedelta(days=i), f"fp{i // 2}"))
    rows.append(("u_single", t0, "fp"))
    hist = spark.createDataFrame(rows, ["url", "fetch_ts", "fp"])
    out = {r["url"]: r.asDict() for r in recrawl_priority(hist).collect()}

    assert "u_single" not in out
    assert out["u_all"]["n_changes"] == 4 and out["u_all"]["n_fetches"] == 5
    assert out["u_none"]["n_changes"] == 0
    assert (
        out["u_all"]["change_rate_per_day"]
        > out["u_half"]["change_rate_per_day"]
        > out["u_none"]["change_rate_per_day"]
        == 0.0  # ln(1): never observed changing -> rate exactly 0
    )
    # daily changes: rate = ln(9)/day, reciprocal 0.455 d clamps to the
    # 1-day politeness floor
    import math
    assert abs(out["u_all"]["change_rate_per_day"] - math.log(9.0)) < 1e-6
    assert out["u_all"]["revisit_days"] == 1.0
    assert out["u_none"]["revisit_days"] == 365.0  # max-interval clamp


def test_temperature_mix_alpha_limits(spark):
    """alpha=1 reproduces the raw mix, alpha=0 is uniform, and at
    alpha=0.3 q is a proper distribution that upsamples the tail."""
    from clawrag_spark.operators.webtext import temperature_mix

    docs = spark.createDataFrame(
        [(i, "en" if i < 90 else ("de" if i < 99 else "yo"), 100)
         for i in range(100)],
        ["doc_id", "lang", "n_chars"],
    )
    raw = {r["lang"]: r for r in temperature_mix(docs, alpha=1.0).collect()}
    assert abs(raw["en"]["q_temp"] - raw["en"]["p_raw"]) < 1e-9
    flat = {r["lang"]: r for r in temperature_mix(docs, alpha=0.0).collect()}
    assert abs(flat["yo"]["q_temp"] - 1.0 / 3) < 1e-6
    t = {r["lang"]: r for r in temperature_mix(docs, alpha=0.3).collect()}
    assert abs(sum(r["q_temp"] for r in t.values()) - 1.0) < 1e-5
    assert t["yo"]["upsample_factor"] > 1.0 > t["en"]["upsample_factor"]
    # flattening never inverts the order
    assert t["en"]["q_temp"] > t["de"]["q_temp"] > t["yo"]["q_temp"]


def test_zipf_fit_recovers_exponent(spark):
    """A corpus synthesized with freq(rank) = round(C / rank) must fit
    slope ~ -1; a uniform-frequency corpus fits slope ~ 0."""
    from clawrag_spark.operators.webtext import zipf_fit

    zipf_doc = " ".join(
        " ".join(f"z{r:03d}" for _ in range(round(3000 / r)))
        for r in range(1, 101)
    )
    flat_doc = " ".join(f"f{r:03d}" for r in range(100) for _ in range(7))
    docs = spark.createDataFrame(
        [(0, "zipf", zipf_doc), (1, "flat", flat_doc)],
        ["doc_id", "lang", "text"],
    )
    out = {r["lang"]: r for r in zipf_fit(docs, "lang", "text").collect()}
    assert out["zipf"]["n_terms"] == 100
    assert abs(out["zipf"]["zipf_slope"] + 1.0) < 0.02
    assert out["zipf"]["r2"] > 0.999
    assert abs(out["flat"]["zipf_slope"]) < 1e-6
    assert out["flat"]["r2"] is None  # constant-frequency: no fit


def test_pmi_collocations_finds_the_fixed_phrase(spark):
    """A corpus where 'new york' always co-occur while every other
    adjacent pair is noise: the fixed phrase tops the PMI ranking and
    its value matches the closed form ln(c_ab * N^2 / (B * c_a * c_b))."""
    import math
    from clawrag_spark.operators.webtext import pmi_collocations

    # noise words appear ONCE each corpus-wide, so every noise bigram
    # has c_ab = 1 and dies at the min_count floor; only the planted
    # phrase survives
    docs = []
    for d in range(30):
        pre = " ".join(f"a{d:02d}{j}" for j in range(10))
        post = " ".join(f"b{d:02d}{j}" for j in range(10))
        docs.append((d, f"{pre} new york {post}"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = pmi_collocations(df, "text", min_count=5, top_k=10).collect()
    assert len(out) == 1
    assert out[0]["w1"] == "new" and out[0]["w2"] == "york"
    assert out[0]["n_pair"] == 30
    N = 30 * 22.0
    B = 30 * 21.0
    want = math.log((30 / B) / ((30 / N) * (30 / N)))
    assert abs(out[0]["pmi"] - round(want, 6)) < 1e-6



def test_heaps_fit_recovers_known_exponent(spark):
    """A corpus manufactured to have V(n) = ceil(n^0.5) EXACTLY (token
    t_i introduces word w_{ceil(sqrt(i))}) must fit beta ~ 0.5, and the
    curve values must equal the serial single-pass computation."""
    import math
    from clawrag_spark.operators.webtext import heaps_fit

    # build the global token stream serially, then split into docs of
    # 100 tokens — heaps_fit must reproduce the same stream order, so
    # doc ids are chosen in the operator's own md5 shuffle order
    n_tokens, doc_len = 20000, 100
    n_docs = n_tokens // doc_len
    import hashlib
    order = sorted(
        range(n_docs),
        key=lambda d: hashlib.md5(f"heaps|{d}".encode()).hexdigest(),
    )
    stream = [f"w{math.isqrt(i) + (0 if math.isqrt(i)**2 == i else 1):04d}"
              for i in range(1, n_tokens + 1)]
    docs = []
    for rank, d in enumerate(order):
        toks = stream[rank * doc_len:(rank + 1) * doc_len]
        docs.append((d, " ".join(toks)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = heaps_fit(df, "doc_id", "text", min_exp=6).collect()
    got = {r["sample_tokens"]: r["vocab"] for r in rows}
    # serial truth: V(n) = #distinct among first n tokens
    seen, serial = set(), {}
    for i, w in enumerate(stream, start=1):
        seen.add(w)
        serial[i] = len(seen)
    for n, v in got.items():
        assert v == serial[n], (n, v, serial[n])
    beta = rows[0]["heaps_beta"]
    assert abs(beta - 0.5) < 0.02
    # K should be near 1 for V(n) ~ n^0.5
    assert 0.8 < rows[0]["heaps_k"] < 1.3


# ------------------------------------------- feeds / bitext / soft-404


def test_parse_feeds_rss_and_atom(spark):
    feeds = spark.createDataFrame(
        [
            ("h1", "<rss><channel><title>Chan</title>"
                   "<item><title> A </title><link> https://h1/a </link>"
                   "<pubDate>d1</pubDate></item>"
                   "<item><title>no link</title></item></channel></rss>"),
            ("h2", '<feed><entry><title>E</title>'
                   '<link href="https://h2/e" rel="alternate"/>'
                   "<updated>d2</updated></entry></feed>"),
        ],
        ["host", "feed_xml"],
    )
    rows = {(r["host"], r["fmt"]): r for r in _rows(W.parse_feeds(feeds))}
    assert rows[("h1", "rss")]["link"] == "https://h1/a"  # padding stripped
    assert rows[("h1", "rss")]["title"] == "A"
    assert rows[("h2", "atom")]["link"] == "https://h2/e"
    assert rows[("h2", "atom")]["published"] == "d2"
    # the link-less RSS item is dropped; channel <title> never leaks
    assert len(rows) == 2


def test_bitext_pairs_exact(spark):
    urls = [
        "https://s/en/about", "https://s/fr/about", "https://s/de/about",
        "https://s/end/about",            # not a language segment
        "https://t/en/about",             # other host, same template
        "https://s/doc?lang=en&i=1", "https://s/doc?lang=fr&i=1",
    ]
    pages = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {
        (r["lang_a"], r["lang_b"], r["template"])
        for r in _rows(W.bitext_url_candidates(pages))
    }
    assert got == {
        ("de", "en", "https://s/*/about"),
        ("de", "fr", "https://s/*/about"),
        ("en", "fr", "https://s/*/about"),
        ("en", "fr", "https://s/doc?lang=*&i=1"),
    }


def test_soft404_gate(spark):
    docs = spark.createDataFrame(
        [(1, "Page not found."), (2, "page not found " + "x" * 700),
         (3, "all good here")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in _rows(W.soft404_signals(docs))}
    assert rows[1]["is_soft404"] == 1
    assert rows[2]["err_phrase"] == 1 and rows[2]["is_soft404"] == 0
    assert rows[3]["err_phrase"] == 0


def test_luhn_known_cards(spark):
    docs = spark.createDataFrame(
        [(1, "visa 4111 1111 1111 1111"), (2, "bad 4111111111111112"),
         (3, "mc 5500-0000-0000-0004"), (4, "amex 378282246310005"),
         (5, "no digits at all"), (6, "short 123456789012")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in _rows(W.luhn_validated_cards(docs))}
    assert rows[1]["luhn_valid"] is True and rows[1]["digits"] == "4111111111111111"
    assert rows[2]["luhn_valid"] is False
    assert rows[3]["luhn_valid"] is True
    assert rows[4]["luhn_valid"] is True and rows[4]["n_digits"] == 15
    assert 5 not in rows and 6 not in rows  # no candidate at all


def test_homoglyph_normalization(spark):
    docs = spark.createDataFrame(
        [(1, "buy vіаgrа now"),   # Cyrillic і, а
         (2, "привет"),  # привет — pure Russian
         (3, "plain ascii")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in _rows(W.homoglyph_signals(docs))}
    assert rows[1]["text_norm"] == "buy viagra now"
    assert rows[1]["n_confusables"] == 3
    assert rows[1]["mixed_word_hits"] == 1
    # natural single-script text: confusables counted, zero mixed words
    assert rows[2]["n_confusables"] > 0 and rows[2]["mixed_word_hits"] == 0
    assert rows[3]["n_confusables"] == 0 and rows[3]["text_norm"] == "plain ascii"


def test_lsh_plan_properties(spark):
    from clawrag_spark.operators.dataset import lsh_parameter_plan

    rows = {
        (r["bands"], r["rows_per_band"]): r
        for r in _rows(lsh_parameter_plan(spark, n_perms=128, threshold=0.8))
    }
    assert len(rows) == 8  # divisors of 128
    # degenerate splits are terrible: b=128,r=1 collides on everything
    # (huge FP), b=1,r=128 collides on nothing below s=1 (huge FN)
    assert rows[(128, 1)]["fp_area"] > 0.5
    assert rows[(1, 128)]["fn_area"] > 0.15
    best = min(rows.values(), key=lambda r: r["total_error"])
    # the optimum's curve midpoint sits near the target threshold
    assert abs(best["s50"] - 0.8) < 0.15
    for r in rows.values():
        assert 0 <= r["fp_area"] and 0 <= r["fn_area"]
        assert abs(r["total_error"] - round(r["fp_area"] + r["fn_area"], 6)) < 2e-6


class TestFairCrawlBudget:
    def _brute(self, demands, budget):
        """Reference water level by bisection on sum(min(d, cap))."""
        if sum(demands) <= budget:
            return [float(d) for d in demands]
        lo, hi = 0.0, float(max(demands))
        for _ in range(80):
            mid = (lo + hi) / 2
            if sum(min(d, mid) for d in demands) > budget:
                hi = mid
            else:
                lo = mid
        return [min(float(d), lo) for d in demands]

    def _run(self, spark, demands, budget):
        hosts = spark.createDataFrame(
            [(f"h{i:03d}", int(d)) for i, d in enumerate(demands)],
            "host string, demand long",
        )
        got = {
            r["host"]: r["alloc"]
            for r in W.fair_crawl_budget(
                hosts, "host", "demand", budget
            ).collect()
        }
        want = self._brute(demands, budget)
        assert len(got) == len(demands)
        for i, w in enumerate(want):
            assert got[f"h{i:03d}"] == pytest.approx(w, abs=1e-4)
        # allocation is exhaustive: spends min(budget, total), never more
        assert sum(got.values()) == pytest.approx(
            min(budget, float(sum(demands))), abs=1e-3
        )

    def test_zipf_demands_match_bisection(self, spark):
        import random

        rng = random.Random(7)
        demands = [max(1, int(1000 / (i + 1) ** 1.2)) for i in range(40)]
        rng.shuffle(demands)
        self._run(spark, demands, budget=sum(demands) * 0.35)

    def test_budget_exceeds_total(self, spark):
        self._run(spark, [5, 9, 2], budget=100.0)

    def test_zero_budget(self, spark):
        self._run(spark, [5, 9, 2], budget=0.0)

    def test_uniform_demands_split_evenly(self, spark):
        # every host identical: cap = budget / n exactly
        got = {
            r["host"]: r["alloc"]
            for r in W.fair_crawl_budget(
                spark.createDataFrame(
                    [(f"h{i}", 10) for i in range(8)], "host string, demand long"
                ),
                "host",
                "demand",
                20.0,
            ).collect()
        }
        assert all(v == pytest.approx(2.5) for v in got.values())

    def test_apply_host_caps_keeps_priority_order(self, spark):
        urls = spark.createDataFrame(
            [("a", f"u{i}", i) for i in range(5)] + [("b", "v0", 0)],
            "host string, url string, ts long",
        )
        caps = spark.createDataFrame(
            [("a", 2.7), ("b", 1.0)], "host string, alloc double"
        )
        kept = W.apply_host_caps(
            urls, "host", caps,
            priority_cols=[F.col("ts").desc(), F.col("url").asc()],
        ).collect()
        got = sorted((r["host"], r["url"]) for r in kept)
        # floor(2.7)=2 newest of host a, the single url of host b
        assert got == [("a", "u3"), ("a", "u4"), ("b", "v0")]

    def test_apply_host_caps_requires_priority(self, spark):
        urls = spark.createDataFrame([("a", "u")], "host string, url string")
        caps = spark.createDataFrame([("a", 1.0)], "host string, alloc double")
        with pytest.raises(ValueError):
            W.apply_host_caps(urls, "host", caps, priority_cols=None)


class TestGaleChurch:
    def test_delta_math_and_gate(self, spark):
        pairs = spark.createDataFrame(
            [("a", 1000, 1080), ("b", 1000, 2600), ("c", 0, 0)],
            "pid string, len_a long, len_b long",
        )
        got = {
            r["pid"]: (r["delta"], r["is_aligned"])
            for r in W.gale_church_gate(pairs, "len_a", "len_b").collect()
        }
        import math
        want_a = 80 / math.sqrt(1040 * 6.8)
        assert got["a"][0] == pytest.approx(want_a, abs=1e-6)
        assert got["a"][1] is True
        assert got["b"][1] is False and abs(got["b"][0]) > 3
        # zero-length pair: NULL delta, gate closed (never NULL)
        assert got["c"] == (None, False)

    def test_char_ratio_shifts_expectation(self, spark):
        # c=1.3: a 1000->1300 pair is a perfect match (delta 0)
        pairs = spark.createDataFrame(
            [("a", 1000, 1300)], "pid string, len_a long, len_b long"
        )
        r = W.gale_church_gate(pairs, "len_a", "len_b", c=1.3).first()
        assert r["delta"] == 0.0 and r["is_aligned"] is True


class TestRobotsUAPrecedence:
    FIX = [
        ("a.com", "User-agent: *\nDisallow: /\nUser-agent: examplebot\nAllow: /\nDisallow: /private"),
        ("b.com", "User-agent: example\nDisallow: /a\nUser-agent: examplebot\nDisallow: /b"),
        ("c.com", "User-agent: otherbot\nDisallow: /"),
        ("d.com", "User-agent: *\nDisallow: /x"),
    ]

    def _rules(self, spark, agent):
        df = spark.createDataFrame(self.FIX, ["host", "robots_txt"])
        return {
            (r["host"], r["prefix"]): r["allow"]
            for r in W.robots_rules_for_agent(df, agent).collect()
        }

    def test_longest_ua_token_wins(self, spark):
        got = self._rules(spark, "ExampleBot/1.0")
        # a.com: bot group overrides the star group entirely
        assert got[("a.com", "/private")] is False
        assert got[("a.com", "/")] is True
        assert ("a.com", "/") in got and len(
            [k for k in got if k[0] == "a.com"]
        ) == 2
        # b.com: 'examplebot' (10) beats 'example' (7) — /b, not /a
        assert ("b.com", "/b") in got and ("b.com", "/a") not in got
        # c.com names only another bot: no rules bind us at all
        assert not [k for k in got if k[0] == "c.com"]
        # d.com falls back to the star group
        assert got[("d.com", "/x")] is False

    def test_unknown_agent_gets_star_groups_only(self, spark):
        got = self._rules(spark, "SomeOtherCrawler/9")
        assert got[("a.com", "/")] is False       # star group Disallow: /
        assert ("a.com", "/private") not in got   # bot group not selected
        assert got[("d.com", "/x")] is False

    def test_ua_override_flips_star_block(self, spark):
        """Same robots body: star-only parsing blocks everything on a
        host whose bot group re-allows; UA precedence lets it through."""
        import __spark_entry__ as e

        robots = spark.createDataFrame(
            e._ROBOTS_UA_FIXTURES, ["host", "robots_txt"]
        )
        urls = spark.createDataFrame(
            [("https://host000.example.com/page/1",)], ["url"]
        )
        star = W.robots_filter(urls, W.parse_robots(robots)).first()
        ua = W.robots_filter(
            urls, W.robots_rules_for_agent(robots, e._ROBOTS_UA_AGENT)
        ).first()
        assert star["allowed"] is False and ua["allowed"] is True


def test_parse_robots_sitemaps_non_group_semantics(spark):
    """Sitemap: is a NON-group record (RFC 9309 §2.3): found inside or
    outside any UA group, any case, deduped; relative values drop."""
    robots = spark.createDataFrame(
        [
            ("a.com", "Sitemap: https://a.com/s1.xml\nUser-agent: bot\n"
                      "Disallow: /\nSITEMAP: https://a.com/s2.xml"),
            ("b.com", "User-agent: *\nsitemap: https://b.com/sm.xml\n"
                      "Sitemap: https://b.com/sm.xml"),       # repeat collapses
            ("c.com", "Sitemap: /relative.xml\nSitemap: ftp://c.com/x"),
            ("d.com", "User-agent: *\nDisallow: /"),          # none declared
        ],
        ["host", "robots_txt"],
    )
    got = {(r["host"], r["sitemap_url"])
           for r in W.parse_robots_sitemaps(robots).collect()}
    assert got == {
        ("a.com", "https://a.com/s1.xml"),
        ("a.com", "https://a.com/s2.xml"),
        ("b.com", "https://b.com/sm.xml"),
    }


def test_canonical_consolidate_relations(spark):
    """Every relation arm: self (absent + explicit), consolidated,
    one-hop chain (collapsed + flagged), mutual loop (kept), external."""
    pages = spark.createDataFrame(
        [
            ("u0", ""),      # absent → self
            ("u1", "u1"),    # explicit self
            ("u2", "u0"),    # → self-canonical target: consolidated
            ("u3", "u4"),    # mutual loop with u4
            ("u4", "u3"),
            ("u5", "u6"),    # chain: u6 itself points at u0
            ("u6", "u0"),
            ("u7", "zz"),    # target never captured
        ],
        ["url", "canon"],
    )
    got = {r["url"]: (r["canonical_rep"], r["relation"])
           for r in W.canonical_consolidate(pages, "url", "canon").collect()}
    assert got["u0"] == ("u0", "self")
    assert got["u1"] == ("u1", "self")
    assert got["u2"] == ("u0", "consolidated")
    assert got["u3"] == ("u3", "loop_ignored")
    assert got["u4"] == ("u4", "loop_ignored")
    assert got["u5"] == ("u6", "chained")      # one hop only, flagged
    assert got["u6"] == ("u0", "consolidated")
    assert got["u7"] == ("zz", "external_target")


# ------------------------------------- bitext stage-3 content verify


def test_bitext_content_gate_anchor_overlap(spark):
    pairs = spark.createDataFrame(
        [
            # translations sharing all anchors (1998, 250, url, 14.5)
            ("p1",
             "Founded 1998, 250 staff. See https://x.example/a — up 14.5",
             "Fondee en 1998, 250 employes. Voir https://x.example/a : 14.5"),
            # disjoint anchor sets -> overlap 0.0, not verified
            ("p2", "Call 555:0100 between 9 and 17",
             "Appelez le 555:0200 entre 8 et 18"),
            # one side has no anchors -> NULL overlap, not verified
            ("p3", "Totals: 10, 11 and 12", "Aucun chiffre ici"),
        ],
        ["pair", "text_a", "text_b"],
    )
    got = {r.pair: r for r in W.bitext_content_gate(
        pairs, "text_a", "text_b").collect()}
    assert got["p1"].overlap == 1.0 and got["p1"].is_verified
    assert got["p2"].overlap == 0.0 and not got["p2"].is_verified
    assert got["p3"].overlap is None and not got["p3"].is_verified
    # decimals/dates stay ONE token ("14.5", not "14","5")
    assert got["p1"].n_anchors_a == 4


# ------------------------------- Naive-Bayes language identification


def test_nb_langid_learns_separable_languages(spark):
    docs = spark.createDataFrame(
        [(f"a{i}", "aa", "the quick brown fox jumps over the lazy dog")
         for i in range(4)]
        + [(f"b{i}", "bb", "der schnelle braune fuchs springt ueber den hund")
           for i in range(4)]
        + [("t1", "aa", "quick brown dog"), ("t2", "bb", "der braune hund")],
        ["doc_id", "lang", "text"],
    )
    model = W.train_nb_langid(docs, "lang", "text")
    pred = {r.doc_id: r.pred_lang
            for r in W.nb_classify(docs, "doc_id", "text", model).collect()}
    assert pred["t1"] == "aa" and pred["t2"] == "bb"
    assert all(pred[f"a{i}"] == "aa" for i in range(4))
    assert all(pred[f"b{i}"] == "bb" for i in range(4))


def test_nb_langid_all_oov_doc_still_scores(spark):
    # a doc whose grams NO language saw must still get a prediction
    # row (the doc x lang spine is a crossJoin, not the gram join).
    # On pure-OOV text the score is prior + T*floor; the floor term
    # scales with T and favors the SMALLER training mass (shallower
    # unseen-gram floor), which outweighs the majority prior — the
    # standard multinomial-NB length effect, pinned here so the
    # oracle's argmax can't silently disagree.
    train = spark.createDataFrame(
        [("a1", "aa", "xxxxx yyyyy"), ("a2", "aa", "xxxxx zzzzz"),
         ("b1", "bb", "qqqqq wwwww")],
        ["doc_id", "lang", "text"],
    )
    model = W.train_nb_langid(train, "lang", "text")
    probe = spark.createDataFrame(
        [("p1", "0123456789~!@#$%^&*()")], ["doc_id", "text"]
    )
    out = W.nb_classify(probe, "doc_id", "text", model).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_trigrams == 19
    assert r.pred_lang == "bb"


# --------------------------- RFC 9309 §2.2.3 wildcard path matching


def test_robots_wildcard_matcher(spark):
    robots = spark.createDataFrame(
        [("h.example",
          "User-agent: *\n"
          "Disallow: /search*\n"
          "Allow: /search/help\n"
          "Disallow: /*.pdf$\n"
          "Disallow: /a$\n"
          "Allow: /dup*\n"
          "Disallow: /dup$")],
        ["host", "robots_txt"],
    )
    rules = W.parse_robots(robots)
    urls = [
        ("https://h.example/search/q", False),     # /search*
        ("https://h.example/search/help", True),   # longer Allow wins
        ("https://h.example/x/r.pdf", False),      # $-anchored
        ("https://h.example/x/r.pdf?dl=1", True),  # query defeats $
        ("https://h.example/a", False),            # exact anchor
        ("https://h.example/ab", True),            # anchor must not prefix
        ("https://h.example/dup", True),           # length tie -> Allow
        ("https://other.example/a", True),         # no robots -> allowed
    ]
    frontier = spark.createDataFrame([(u,) for u, _ in urls], ["url"])
    got = {r.url: r.allowed
           for r in W.robots_wildcard_filter(frontier, rules).collect()}
    for u, want in urls:
        assert got[u] is want, u


def test_robots_pattern_regex_escapes_metachars(spark):
    # regex metachars inside patterns stay literal: /p+q(1) must match
    # exactly /p+q(1)..., never treat + ( ) as regex operators
    df = spark.createDataFrame(
        [("/p+q(1)",), ("/w^x",), ("/*.php$",)], ["prefix"]
    )
    got = {r.prefix: r.rx for r in df.select(
        "prefix", W.robots_pattern_regex(F.col("prefix")).alias("rx")
    ).collect()}
    assert got["/p+q(1)"] == r"^/p\+q\(1\)"
    assert got["/w^x"] == r"^/w\^x"
    assert got["/*.php$"] == r"^/.*\.php$"


# -------------------------- graded contamination (Llama-2/3 method)


def test_contamination_fraction_tiers(spark):
    # 16 benchmark tokens -> 9 distinct 8-gram shingles
    btext = ("alpha beta gamma delta epsilon zeta eta theta "
             "iota kappa lambda mu nu xi omicron pi")
    bench = spark.createDataFrame([("b1", btext)], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [
            # exact copy -> 9/9 hits -> dirty
            ("d1", btext),
            # benchmark quoted inside fresh text: 29 tokens -> 22
            # shingles, 9 hits -> 0.409 -> partial
            ("d2", "intro words here " + btext
                   + " and then a clean tail follows with extra "
                     "tokens here"),
            # no overlap -> clean, zero hits, still a row
            ("d3", "one two three four five six seven eight nine ten"),
            # benchmark twice: 32 tokens -> 25 shingles; both copies'
            # windows hit (2 x 9 = 18), seam windows miss -> positions
            # count with MULTIPLICITY (distinct-gram counting would
            # report 9)
            ("d4", btext + " " + btext),
            # under 8 tokens -> no shingles, NO row
            ("d5", "too short for shingles"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in W.contamination_fraction(
        corpus, bench, "doc_id", "text", n=8).collect()}
    assert set(got) == {"d1", "d2", "d3", "d4"}
    assert got["d1"].tier == "dirty" and got["d1"].frac == 1.0
    assert got["d2"].tier == "partial" and 0.2 < got["d2"].frac < 0.8
    assert got["d3"].tier == "clean" and got["d3"].n_hits == 0
    assert got["d4"].n_hits == 18 and got["d4"].n_shingles == 25
    assert got["d4"].tier == "partial"


def test_robots_status_semantics(spark):
    # RFC 9309 §2.3.1: 4xx voids even a Disallow-/ body; 5xx blocks
    # even an Allow-/ body; 200 applies rules; absent host = no_robots
    robots = spark.createDataFrame(
        [("ok.example", "User-agent: *\nDisallow: /x"),
         ("gone.example", "User-agent: *\nDisallow: /"),
         ("down.example", "User-agent: *\nAllow: /")],
        ["host", "robots_txt"],
    )
    rules = W.parse_robots(robots)
    urls = ["https://ok.example/x/1", "https://ok.example/y",
            "https://gone.example/a", "https://down.example/a",
            "https://never.example/a"]
    frontier = spark.createDataFrame([(u,) for u in urls], ["url"])
    statuses = spark.createDataFrame(
        [("ok.example", 200), ("gone.example", 404),
         ("down.example", 503)],
        ["host", "status"],
    )
    gated = W.robots_wildcard_filter(frontier, rules)
    got = {r.url: (r.allowed, r.reason)
           for r in W.apply_robots_status(gated, statuses).collect()}
    assert got["https://ok.example/x/1"] == (False, "rules")
    assert got["https://ok.example/y"] == (True, "rules")
    assert got["https://gone.example/a"] == (True, "unavailable")
    assert got["https://down.example/a"] == (False, "unreachable")
    assert got["https://never.example/a"] == (True, "no_robots")


# ------------------------------------------ schema.org JSON-LD parse


def test_jsonld_records_parse_and_null_semantics(spark):
    pages = spark.createDataFrame(
        [
            ("p1", '<head><script type="application/ld+json">'
                   '{"@type":"Article","headline":"big news",'
                   '"datePublished":"2024-05-01",'
                   '"author":{"@type":"Person","name":"Ann"}}'
                   "</script></head>"),
            ("p2", '<head><script type="application/ld+json">'
                   '{"@type":"Product","name":"widget",'
                   '"offers":{"price":"9.99"}}</script></head>'),
            # crawl data is hostile: malformed JSON -> row with NULLs
            ("p3", '<head><script type="application/ld+json">'
                   "{not valid json</script></head>"),
            # no block at all -> no row
            ("p4", "<head><title>t</title></head>"),
        ],
        ["page_id", "html"],
    )
    got = {r.page_id: r for r in W.jsonld_records(
        pages, "page_id", "html").collect()}
    assert set(got) == {"p1", "p2", "p3"}
    a = got["p1"]
    assert (a.jtype, a.title, a.date_published, a.author_name) == (
        "Article", "big news", "2024-05-01", "Ann")
    assert a.price is None
    p = got["p2"]
    assert (p.jtype, p.title, p.price) == ("Product", "widget", "9.99")
    assert p.date_published is None and p.author_name is None
    bad = got["p3"]
    assert bad.jtype is None and bad.title is None


def test_ngram_diversity_catches_template_farm(spark):
    # slot-template source: same sentence, one substituted token ->
    # distinct-2 collapses; diverse source stays near 1.0
    farm = [(f"f{i}", "farm",
             f"best price and free shipping for every order of widget{i}")
            for i in range(20)]
    diverse = [("d0", "var", "the quick brown fox jumps over lazy dogs"),
               ("d1", "var", "rivers carve canyons through ancient stone"),
               ("d2", "var", "quantum sensors measure gravity with atoms")]
    docs = spark.createDataFrame(farm + diverse,
                                 ["doc_id", "source", "text"])
    got = {(r.source, r.n): r for r in W.ngram_diversity(
        docs, "source", "text", ns=(2,)).collect()}
    assert got[("var", 2)].diversity == 1.0
    assert got[("farm", 2)].diversity < 0.5
    # totals: 20 farm docs x 9 bigrams; var docs carry 7 + 5 + 5
    assert got[("farm", 2)].total == 180
    assert got[("var", 2)].total == 17


def test_hreflang_pairs_reciprocity(spark):
    pages = spark.createDataFrame(
        [
            ("https://s.ex/en",
             '<link rel="alternate" hreflang="en" href="https://s.ex/en">'
             '<link rel="alternate" hreflang="fr" href="https://s.ex/fr">'
             '<link rel="alternate" hreflang="x-default" href="https://s.ex/">'),
            ("https://s.ex/fr",
             '<link rel="alternate" hreflang="en" href="https://s.ex/en">'),
            ("https://s.ex/stale",
             '<link rel="alternate" hreflang="de" href="https://s.ex/gone">'),
        ],
        ["url", "html_str"],
    )
    alts = W.hreflang_alternates(pages, "url", "html_str")
    # self row and x-default never reach the pair stage
    assert alts.filter(F.col("hreflang") == "x-default").count() == 1
    got = {(r.url_a, r.url_b): r for r in W.hreflang_pairs(alts).collect()}
    rec = got[("https://s.ex/en", "https://s.ex/fr")]
    assert rec.is_reciprocal == 1
    stale = got[("https://s.ex/gone", "https://s.ex/stale")]
    assert stale.is_reciprocal == 0 and stale.declared_lang == "de"
    assert len(got) == 2


def test_pagination_chains_walk(spark):
    edges = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"),            # 3-page chain
         ("x", "y"), ("y", "x"),                # entry-less cycle
         ("h", "ring1"), ("ring1", "ring2"),    # head INTO a cycle:
         ("ring2", "ring1")],                   # cut by the hop cap
        ["url", "next_url"],
    )
    got = {(r.head, r.position): r.url
           for r in W.pagination_chains(edges, max_hops=4).collect()}
    assert [got[("a1", i)] for i in range(3)] == ["a1", "a2", "a3"]
    assert ("x", 0) not in got and ("y", 0) not in got
    # the reached ring alternates until the cap: positions 0..4
    ring = [got[("h", i)] for i in range(5)]
    assert ring == ["h", "ring1", "ring2", "ring1", "ring2"]
    assert ("h", 5) not in got


def test_stitch_chains_order_and_counts(spark):
    chains = spark.createDataFrame(
        [("a1", "a1", 0), ("a1", "a2", 1), ("a1", "a3", 2),
         ("b1", "b1", 0)],
        ["head", "url", "position"],
    )
    texts = spark.createDataFrame(
        [("a1", "first"), ("a2", "second"), ("a3", "third"),
         ("b1", "solo")],
        ["url", "text"],
    )
    got = {r.head: r for r in W.stitch_chains(chains, texts).collect()}
    assert got["a1"].stitched_text == "first\n\nsecond\n\nthird"
    assert got["a1"].n_pages == 3
    assert got["b1"].stitched_text == "solo" and got["b1"].n_pages == 1


def test_resolve_redirects_chain_ring_cap(spark):
    edges = spark.createDataFrame(
        [("old", "mid"), ("mid", "final"),     # 2-hop chain
         ("ra", "rb"), ("rb", "ra"),           # entry-less ring
         ("in", "ra")],                        # into the ring
        ["url", "target"],
    )
    got = {r.src_url: r for r in W.resolve_redirects(
        edges, max_hops=4).collect()}
    assert got["old"].final_url == "final" and got["old"].hops == 2
    assert got["old"].resolved
    assert "ra" not in got and "rb" not in got
    r = got["in"]
    assert not r.resolved and r.hops == 4


def test_publication_dates_precedence_and_malformed(spark):
    pages = spark.createDataFrame(
        [
            # all three signals -> JSON-LD wins
            ("p1", '<script type="application/ld+json">'
                   '{"@type":"Article","datePublished":"2024-05-01"}'
                   '</script>'
                   '<meta property="article:published_time" '
                   'content="2023-01-02T00:00:00Z">'
                   '<time datetime="2022-03-04">x</time>'),
            # meta beats <time>
            ("p2", '<meta property="article:published_time" '
                   'content="2023-06-07T08:00:00Z">'
                   '<time datetime="2022-03-04">x</time>'),
            # <time> alone; timestamp tail trimmed by the 10-char parse
            ("p3", '<time datetime="2022-09-10T12:00:00+02:00">x</time>'),
            # malformed date keeps the row, NULL date
            ("p4", '<time datetime="yesterday-ish">x</time>'),
            # no signal -> no row
            ("p5", "<p>undated</p>"),
        ],
        ["page_id", "html"],
    )
    got = {r.page_id: r for r in W.publication_dates(
        pages, "page_id", "html").collect()}
    assert set(got) == {"p1", "p2", "p3", "p4"}
    assert str(got["p1"].pub_date) == "2024-05-01"
    assert got["p1"].date_source == "jsonld"
    assert str(got["p2"].pub_date) == "2023-06-07"
    assert got["p2"].date_source == "meta"
    assert str(got["p3"].pub_date) == "2022-09-10"
    assert got["p3"].date_source == "time"
    assert got["p4"].pub_date is None and got["p4"].date_source == "time"


def test_microdata_records_forms_and_scope_gate(spark):
    pages = spark.createDataFrame(
        [
            ("p1", '<div itemscope itemtype="https://schema.org/Product">'
                   '<span itemprop="name">Gadget</span>'
                   '<meta itemprop="price" content="5.00"></div>'),
            ("p2", '<span itemprop="name">orphan prop, no scope</span>'),
        ],
        ["url", "html_str"],
    )
    got = {(r.url, r.prop): r for r in W.microdata_records(
        pages, "url", "html_str").collect()}
    assert set(got) == {("p1", "name"), ("p1", "price")}
    assert got[("p1", "name")].value == "Gadget"
    assert got[("p1", "name")].form == "span"
    assert got[("p1", "price")].value == "5.00"
    assert got[("p1", "price")].form == "meta"
    assert got[("p1", "name")].itemtype == "Product"


def test_image_frontier_srcset_ladder(spark):
    pages = spark.createDataFrame(
        [("p1", '<img src="/a.jpg" srcset="/a-320.jpg 320w, /a.jpg 2x, '
                '/bare.jpg">'),
         ("p2", '<img src="/x.png"><img src="/x.png">')],
        ["url", "html_str"],
    )
    got = {(r.page_url, r.img_url, r.descriptor)
           for r in W.image_frontier(pages, "url", "html_str").collect()}
    assert ("p1", "/a-320.jpg", "320w") in got
    assert ("p1", "/a.jpg", "2x") in got
    assert ("p1", "/a.jpg", "") in got          # the plain src row
    assert ("p1", "/bare.jpg", "") in got       # descriptor-less
    # duplicate src collapses
    assert sum(1 for g in got if g[0] == "p2") == 1


def test_access_gate_classes_and_precedence(spark):
    pages = spark.createDataFrame(
        [
            ("https://n.ex/a",
             '<script type="application/ld+json">'
             '{"isAccessibleForFree": false}</script>'),
            ("https://n.ex/b",
             '{"isAccessibleForFree": "false", '
             '"cssSelector": ".gated-body"}'),
            ("https://n.ex/c", '<div class="tp-modal"></div>'),
            ("https://n.ex/d", '<input type="password">'),
            # CTA counting is case-folded; two phrases => soft
            ("https://n.ex/e",
             "Subscribe Now. Already a subscriber? ok"),
            ("https://n.ex/f",
             '{"isAccessibleForFree": true}<p>open</p>'),
            ("https://n.ex/g", "<p>plain</p>"),
            # wall marker beats the login form in the precedence
            ("https://n.ex/h",
             '<div id="piano-offer"></div><input type="password">'),
            # one CTA alone stays free
            ("https://n.ex/i", "start your free trial"),
        ],
        ["url", "html_str"],
    )
    got = {r.url.rsplit("/", 1)[1]: r
           for r in W.access_gate_signals(pages).collect()}
    assert got["a"].access_class == "paywall"
    assert got["b"].access_class == "metered"
    assert got["b"].metered_selector == "gated-body"
    assert got["c"].access_class == "paywall"
    assert got["d"].access_class == "login" and got["d"].login_form
    assert got["e"].access_class == "soft" and got["e"].n_sub_cta == 2
    assert got["f"].access_class == "free"
    assert got["f"].jsonld_free == "true"
    assert got["g"].access_class == "free" and got["g"].jsonld_free == ""
    assert got["h"].access_class == "paywall"
    assert got["i"].access_class == "free" and got["i"].n_sub_cta == 1
    assert all(r.host == "n.ex" for r in got.values())


def test_access_gate_plan_is_expression_only(spark):
    pages = spark.createDataFrame([("u", "<p>x</p>")], ["url", "html_str"])
    plan = (W.access_gate_signals(pages)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


class TestDustParamRules:
    """DUST param mining: value-varying experiments with fixed context
    separate session/tracking params from content params."""

    def _caps(self, spark):
        u = "https://s.ex/a"
        v = "https://s.ex/b"
        rows = [
            # sid: two experiments (bare and under page=2), digest stable
            (u + "?sid=1", "dA"), (u + "?sid=2", "dA"),
            (u + "?page=2&sid=3", "dB"), (u + "?page=2&sid=4", "dB"),
            # page: digest changes with the value -> contradiction
            (u + "?page=2", "dB"), (u + "?page=3", "dC"),
            # ref: varies on url v but the digest varies WITH it once ->
            # one support on u, one contradiction on v => kept
            (u + "?ref=x", "dA"), (u + "?ref=y", "dA"),
            (v + "?ref=x", "dD"), (v + "?ref=y", "dE"),
            (u, "dA"), (v, "dD"),
        ]
        return spark.createDataFrame(rows, ["url", "digest"])

    def test_rules(self, spark):
        rules = {
            r["key"]: r
            for r in W.dust_param_rules(
                self._caps(spark), "url", "digest", min_support=2
            ).collect()
        }
        assert rules["sid"]["irrelevant"]
        assert rules["sid"]["n_support"] == 2 and rules["sid"]["n_contra"] == 0
        assert not rules["page"]["irrelevant"]
        assert rules["page"]["n_contra"] == 1
        # one supporting group is below min_support; the contradiction
        # alone would also veto
        assert not rules["ref"]["irrelevant"]
        assert rules["ref"]["n_support"] == 1 and rules["ref"]["n_contra"] == 1

    def test_apply_collapses_url_space(self, spark):
        caps = self._caps(spark)
        rules = W.dust_param_rules(caps, "url", "digest", min_support=2)
        rep = {r["host"]: r for r in W.apply_param_rules(caps, rules).collect()}
        r = rep["s.ex"]
        # sid dropped: u?sid=1/2 and u merge; page/ref survive
        assert r["urls_before"] == 12
        # canon set: u, u?page=2, u?page=3, u?ref=x, u?ref=y,
        #            v, v?ref=x, v?ref=y
        assert r["urls_after"] == 8

    def test_constant_param_never_ruled(self, spark):
        # a constant-valued param forms no experiment: conservatively kept
        rows = [("https://s.ex/a?v=1", "d1"), ("https://s.ex/b?v=1", "d2")]
        caps = spark.createDataFrame(rows, ["url", "digest"])
        assert W.dust_param_rules(caps, "url", "digest").count() == 0

    def test_plan_no_cartesian_no_python(self, spark):
        caps = self._caps(spark)
        rules = W.dust_param_rules(caps, "url", "digest")
        plan = (W.apply_param_rules(caps, rules)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan


class TestBurrowsDelta:
    """Sparse-zeros Burrows' Delta pinned against a dense plain-Python
    computation, plus the outlier story it exists for."""

    def _docs(self, spark):
        farm = [
            (i, "the of and to in for on is the of and a b c"
                f" w{i} x{i} y{i}", "farm")
            for i in range(6)
        ]
        human = [
            (100, "quantum chromodynamics lattice gauge simulation "
                  "renormalization flows emerge naturally here", "farm"),
        ]
        other = [
            (200 + i, "the of and to in for on is plain text about "
                      f"topic{i}", "blog")
            for i in range(4)
        ]
        return spark.createDataFrame(
            farm + human + other, "doc_id long, text string, source string"
        )

    def test_matches_dense_computation(self, spark):
        import re
        from collections import Counter

        import numpy as np

        docs = self._docs(spark)
        got = {
            r["doc_id"]: r["delta"]
            for r in W.burrows_delta_outliers(
                docs, "doc_id", "text", "source", n_mfw=8
            ).collect()
        }
        rows = [(r["doc_id"], r["text"], r["source"]) for r in docs.collect()]
        toks = {i: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
                for i, s, _ in rows}
        grp = {i: g for i, _, g in rows}
        corpus = Counter()
        for ts in toks.values():
            corpus.update(ts)
        mfw = sorted(corpus, key=lambda t: (-corpus[t], t))[:8]
        ids = sorted(toks)
        rfm = np.array(
            [[toks[i].count(t) / len(toks[i]) for t in mfw] for i in ids]
        )
        mu, sd = rfm.mean(axis=0), rfm.std(axis=0)
        keep = sd > 0
        zm = (rfm[:, keep] - mu[keep]) / sd[keep]
        for gname in {"farm", "blog"}:
            rows_g = [k for k, i in enumerate(ids) if grp[i] == gname]
            cent = zm[rows_g].mean(axis=0)
            for k in rows_g:
                want = np.abs(zm[k] - cent).mean()
                assert abs(got[ids[k]] - want) < 1e-5, (ids[k], got[ids[k]], want)

    def test_outlier_surfaces(self, spark):
        docs = self._docs(spark)
        got = {
            (r["doc_id"], r["source"]): r["delta"]
            for r in W.burrows_delta_outliers(
                docs, "doc_id", "text", "source", n_mfw=8
            ).collect()
        }
        farm_deltas = {i: d for (i, g), d in got.items() if g == "farm"}
        # the human page planted in the farm is the clear style outlier
        assert farm_deltas[100] == max(farm_deltas.values())
        assert farm_deltas[100] > 2 * min(
            d for i, d in farm_deltas.items() if i != 100
        )

    def test_plan_no_python_no_cartesian_beyond_grid(self, spark):
        docs = self._docs(spark)
        plan = (
            W.burrows_delta_outliers(docs, "doc_id", "text", "source")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestCrawlEquity:
    def test_matches_hand_computation(self, spark):
        import math

        counts = {"a.ex": 6, "b.ex": 3, "c.ex": 1}
        rows = [
            (f"https://{h}/p{i}",) for h, n in counts.items() for i in range(n)
        ]
        pages = spark.createDataFrame(rows, ["url"])
        r = W.crawl_equity(pages, "url").collect()[0]
        xs = sorted(counts.values())
        n, s = len(xs), sum(xs)
        gini = 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * s) - (
            n + 1
        ) / n
        ent = -sum(x / s * math.log2(x / s) for x in xs)
        assert r["n_hosts"] == 3 and r["n_pages"] == 10
        assert abs(r["gini"] - gini) < 1e-6
        assert abs(r["entropy_bits"] - ent) < 1e-6
        assert r["top1_share"] == 0.6 and r["top10_share"] == 1.0

    def test_uniform_is_zero_gini(self, spark):
        pages = spark.createDataFrame(
            [(f"https://h{i}.ex/p{j}",) for i in range(5) for j in range(4)],
            ["url"],
        )
        r = W.crawl_equity(pages, "url").collect()[0]
        assert r["gini"] == 0.0
        assert abs(r["entropy_bits"] - math_log2_5()) < 1e-6


def math_log2_5():
    import math

    return math.log2(5)


class TestDustInvariants:
    def test_rewrite_idempotent(self, spark):
        """Canonical urls are fixed points: rewriting the rewritten
        corpus changes nothing, and re-mining rules on it finds no
        further irrelevant params (all evidence collapsed)."""
        u = "https://s.ex/a"
        rows = [
            (u + "?sid=1", "dA"), (u + "?sid=2", "dA"), (u, "dA"),
            (u + "?page=2&sid=3", "dB"), (u + "?page=2&sid=4", "dB"),
            (u + "?page=2", "dB"), (u + "?page=3", "dC"),
        ]
        caps = spark.createDataFrame(rows, ["url", "digest"])
        rules = W.dust_param_rules(caps, "url", "digest", min_support=2)
        once = W.rewrite_urls(caps, rules).select(
            F.col("canon").alias("url")
        )
        twice = W.rewrite_urls(once, rules).select("url", "canon")
        assert twice.filter(F.col("url") != F.col("canon")).count() == 0
        # the rewritten corpus (with digests re-attached) yields no rules
        re_caps = W.rewrite_urls(caps, rules).join(
            caps, "url"
        ).select(F.col("canon").alias("url"), "digest")
        re_rules = W.dust_param_rules(re_caps, "url", "digest", min_support=2)
        assert re_rules.filter(F.col("irrelevant")).count() == 0


class TestBudgetMonotonic:
    def test_selected_set_monotone_in_budget(self, spark):
        from clawrag_spark.operators import packing as PK

        rows = [(i, (i * 13) % 40 + 1, float(i % 9)) for i in range(40)]
        df = spark.createDataFrame(rows, ["id", "toks", "score"])

        def sel(budget):
            return {
                r["id"]
                for r in PK.budget_selection(
                    df, "id", "toks",
                    [F.col("score").desc(), F.col("id")], budget,
                ).filter("selected").collect()
            }

        s1, s2, s3 = sel(50), sel(200), sel(800)
        assert s1 <= s2 <= s3
class TestNeymanAllocation:
    """Neyman allocation: proportional-to-N*sigma shares, exact-sum
    largest-remainder rounding, zero-variance and cap edges."""

    def test_matches_hand_computation_and_sums_exactly(self, spark):
        import math

        from clawrag_spark.operators.stats import neyman_allocation

        rows = (
            [("a", v) for v in [0, 10, 20, 30]]       # varied, N=4
            + [("b", v) for v in [5, 5, 5, 5, 5, 5]]  # constant, N=6
            + [("c", v) for v in [0, 100]]            # tiny, very varied
        )
        df = spark.createDataFrame(rows, ["src", "x"])
        out = {r["stratum"]: r for r in neyman_allocation(df, "src", "x", 10).collect()}
        def pstd(xs):
            m = sum(xs) / len(xs)
            return math.sqrt(sum((x - m) ** 2 for x in xs) / len(xs))
        w = {"a": 4 * pstd([0, 10, 20, 30]), "b": 0.0, "c": 2 * pstd([0, 100])}
        tot = sum(w.values())
        for k in w:
            assert abs(out[k]["alloc_frac"] - w[k] / tot) < 1e-6
        assert out["b"]["alloc_n"] == 0  # zero variance -> no labels
        # the capped stratum never exceeds its own size (c's optimal
        # share is ~7 of 10 but it only HAS 2 docs; the documented
        # contract reports the cap and leaves rebalancing to the caller)
        assert out["c"]["alloc_n"] == 2

    def test_exact_sum_without_caps(self, spark):
        from clawrag_spark.operators.stats import neyman_allocation

        rows = (
            [("a", v) for v in [0, 10, 20, 30, 40, 50, 60, 70]]
            + [("b", v) for v in [0, 3, 6, 9, 12, 15, 18, 21]]
            + [("c", v) for v in [0, 1, 2, 3, 4, 5, 6, 7]]
        )
        df = spark.createDataFrame(rows, ["src", "x"])
        out = neyman_allocation(df, "src", "x", 7).collect()
        assert sum(r["alloc_n"] for r in out) == 7
        assert all(r["alloc_n"] >= 0 for r in out)

    def test_rejects_bad_n(self, spark):
        import pytest

        from clawrag_spark.operators.stats import neyman_allocation

        df = spark.createDataFrame([("a", 1)], ["src", "x"])
        with pytest.raises(ValueError, match="positive"):
            neyman_allocation(df, "src", "x", 0)


class TestSourceNovelty:
    def test_mirror_scores_zero_unique(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta", "orig"),
            (2, "alpha beta gamma delta epsilon zeta", "mirror"),
            (3, "alpha beta gamma delta epsilon zeta", "mirror"),
            (4, "one two three four five six", "fresh"),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        got = {
            r["source"]: r
            for r in W.source_novelty(docs, "doc_id", "text", "source").collect()
        }
        # mirror shares every gram with orig -> zero exclusives, and its
        # two identical docs make dup_doc_frac 0.5
        assert got["mirror"]["unique_share"] == 0.0
        assert got["mirror"]["dup_doc_frac"] == 0.5
        assert got["orig"]["unique_share"] == 0.0  # mirrored right back
        assert got["fresh"]["unique_share"] == 1.0
        assert got["fresh"]["n_grams"] == 4  # 6 tokens -> 4 shingles

    def test_short_doc_source_zero_grams(self, spark):
        docs = spark.createDataFrame(
            [(1, "just two", "tiny"), (2, "a b c d", "ok")],
            ["doc_id", "text", "source"],
        )
        got = {
            r["source"]: r
            for r in W.source_novelty(docs, "doc_id", "text", "source").collect()
        }
        assert got["tiny"]["n_grams"] == 0 and got["tiny"]["unique_share"] == 0.0
        assert got["ok"]["n_grams"] == 2


# ------------------------------------------------------------- psi_drift


def test_psi_identical_distributions_zero(spark):
    from clawrag_spark.operators.webtext import psi_by_group

    rows = [(g, v / 10.0) for g in ("base", "cur") for v in range(10)] * 3
    df = spark.createDataFrame(rows, "grp string, s double")
    got = psi_by_group(df, "grp", "s", "base", n_buckets=5).collect()
    assert len(got) == 1
    assert got[0]["psi"] == 0.0 and got[0]["verdict"] == "stable"


def test_psi_shift_ranks_above_noise(spark):
    from clawrag_spark.operators.webtext import psi_by_group

    base = [("base", v / 20.0) for v in range(20)]
    same = [("same", v / 20.0) for v in range(20)]
    shifted = [("shifted", min(0.999, v / 20.0 + 0.3)) for v in range(20)]
    df = spark.createDataFrame(base + same + shifted, "grp string, s double")
    got = {r["grp"]: r for r in psi_by_group(df, "grp", "s", "base").collect()}
    assert got["same"]["psi"] == 0.0
    assert got["shifted"]["psi"] > 0.25
    assert got["shifted"]["verdict"] == "major_shift"
    # empty buckets participate via the spine — psi stays finite
    assert got["shifted"]["psi"] < float("inf")


# ---------------------------------------------------- quantile_normalize


def test_quantile_normalize_single_group_identity(spark):
    """With one group, the pooled distribution IS the group: every row
    maps back to its own value."""
    from clawrag_spark.operators.webtext import quantile_normalize

    rows = [(i, "g", float(v)) for i, v in enumerate([5, 1, 9, 3, 7])]
    df = spark.createDataFrame(rows, "id long, grp string, score double")
    got = quantile_normalize(df, "id", "grp", "score").collect()
    assert all(r["norm_score"] == r["score"] for r in got)


def test_quantile_normalize_order_preserved_and_pooled(spark):
    from clawrag_spark.operators.webtext import quantile_normalize

    # group a: low scores, group b: high scores; after normalization
    # both groups span the POOLED range in their within-group order
    rows = [(1, "a", 0.1), (2, "a", 0.2), (3, "a", 0.3),
            (4, "b", 0.7), (5, "b", 0.8), (6, "b", 0.9)]
    df = spark.createDataFrame(rows, "id long, grp string, score double")
    got = {r["id"]: r["norm_score"]
           for r in quantile_normalize(df, "id", "grp", "score").collect()}
    # within-group order preserved
    assert got[1] < got[2] < got[3] and got[4] < got[5] < got[6]
    # both group minima map to the pooled minimum, maxima to the pooled max
    assert got[1] == 0.1 and got[4] == 0.1
    assert got[3] == 0.9 and got[6] == 0.9


# ---------------------------------------------------------- rake_keywords


def test_rake_hand_case(spark):
    from clawrag_spark.operators.webtext import rake_keywords

    df = spark.createDataFrame(
        [(1, "fast hash join and the fast hash join of merge sort")],
        "doc_id long, text string",
    )
    got = rake_keywords(
        df, "doc_id", "text", stopwords=["the", "and", "of"], top_k=10
    ).collect()
    rows = {r["phrase"]: (r["n_occurrences"], r["score"]) for r in got}
    # fast/hash/join: freq 2, degree 6 -> ratio 3 each; phrase = 9
    # merge/sort: freq 1, degree 2 -> ratio 2 each; phrase = 4
    assert rows == {"fast hash join": (2, 9.0), "merge sort": (1, 4.0)}


def test_rake_max_words_cap(spark):
    from clawrag_spark.operators.webtext import rake_keywords

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon and fast join")],
        "doc_id long, text string",
    )
    got = rake_keywords(
        df, "doc_id", "text", stopwords=["and"], top_k=10, max_words=4
    ).collect()
    phrases = {r["phrase"] for r in got}
    # the 5-word run is dropped entirely; the 2-word run survives
    assert phrases == {"fast join"}


# ---------------------------------------------------------- split_leakage


def test_split_leakage_cluster_keyed_is_zero(spark):
    """Cluster-keyed splits cannot leak: both endpoints of every pair
    share a component, hence a split key, hence a side — even for
    CHAIN-shaped components (a-b, b-c) where a and c were never a
    direct pair."""
    from clawrag_spark.operators.dataset import connected_components
    from clawrag_spark.operators.webtext import split_leakage
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)],
        "doc_a long, doc_b long",
    )
    cc = connected_components(pairs, "doc_a", "doc_b")
    ids = spark.range(30).select(F.col("id").alias("doc_id"))
    keys = ids.join(
        cc.withColumnRenamed("n", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster", "doc_id").alias("cluster_rep"),
    )
    got = {
        r["mode"]: r
        for r in split_leakage(
            pairs, "doc_a", "doc_b", keys, "doc_id",
            {"doc": "doc_id", "cluster": "cluster_rep"},
            val_frac=0.5,
        ).collect()
    }
    assert got["cluster"]["n_crossing"] == 0
    assert got["cluster"]["n_pairs"] == 4
    # doc-keyed at 50% with these ids DOES cross (deterministic md5)
    assert got["doc"]["n_pairs"] == 4
    assert got["doc"]["n_crossing"] >= 1
    assert got["doc"]["leakage_frac"] == round(
        got["doc"]["n_crossing"] / 4, 6
    )


# ---------------------------------------------------------- char_entropy


def test_char_entropy_uniform_and_degenerate(spark):
    """Single-letter text → 0 bits, dominant frac 1.0; a uniform
    2-letter text → exactly 1 bit; letterless text → 0/0."""
    from clawrag_spark.operators.webtext import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "1234 !!"), (4, "AbAb")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy(docs, "doc_id", "text").collect()}
    assert got[1]["entropy_bits"] == 0.0
    assert got[1]["top_letter_frac"] == 1.0
    assert got[2]["entropy_bits"] == 1.0
    assert got[3]["n_letters"] == 0 and got[3]["entropy_bits"] == 0.0
    # case-folded: AbAb == abab
    assert got[4]["entropy_bits"] == 1.0


# ---------------------------------------------------------- table_profile


def test_table_profile_majority_and_tie_precedence(spark):
    """Majority wins per column; ties resolve int > float > text >
    empty (the numeric-serialization-first rule)."""
    from clawrag_spark.operators.webtext import table_profile

    rows = spark.createDataFrame(
        [
            ("u", 0, ["1", "2.5", "x", "", "7", "8.5"]),
            ("u", 1, ["3", "4.5", "y", "", "t", "z"]),
        ],
        "url string, row_idx long, cells array<string>",
    )
    got = {r["col_idx"]: r for r in table_profile(rows).collect()}
    assert got[0]["inferred"] == "int" and got[0]["n_int"] == 2
    assert got[1]["inferred"] == "float"
    assert got[2]["inferred"] == "text"
    assert got[3]["inferred"] == "empty" and got[3]["n_empty"] == 2
    # ties: 1 int vs 1 text -> int wins; 1 float vs 1 text -> float
    assert got[4]["inferred"] == "int"
    assert got[5]["inferred"] == "float"


# ---------------------------------------------------------- unimax_mix


def test_unimax_mix_waterfill_closed_form(spark):
    """Hand-computed water-filling: capacities (20, 200), budget
    3*220//4 = 165 -> small lang capped at 2 epochs, big lang takes
    the 145 remainder; allocations exactly exhaust the budget."""
    from clawrag_spark.operators.webtext import unimax_mix

    docs = spark.createDataFrame(
        [("aa", 4), ("aa", 6), ("bb", 100)],
        "lang string, n_chars long",
    )
    got = {
        r["lang"]: r
        for r in unimax_mix(
            docs, "lang", "n_chars", epochs_cap=2, budget_num=3, budget_den=4
        ).collect()
    }
    assert got["aa"]["capped"] and got["aa"]["alloc_chars"] == 20.0
    assert got["aa"]["epochs_used"] == 2.0
    assert not got["bb"]["capped"] and got["bb"]["alloc_chars"] == 145.0
    assert got["bb"]["epochs_used"] == 1.45
    assert sum(r["alloc_chars"] for r in got.values()) == 165.0


def test_unimax_mix_all_capped_no_divzero(spark):
    """Budget above total capacity: every language capped at its full
    capacity, no division-by-zero on the empty uncapped set."""
    from clawrag_spark.operators.webtext import unimax_mix

    docs = spark.createDataFrame(
        [("aa", 10), ("bb", 10)], "lang string, n_chars long"
    )
    rows = unimax_mix(
        docs, "lang", "n_chars", epochs_cap=1, budget_num=3, budget_den=1
    ).collect()
    assert all(r["capped"] for r in rows)
    assert all(r["alloc_chars"] == 10.0 for r in rows)


# ---------------------------------------------------------- k_anonymity


def test_k_anonymity_small_class_suppressed(spark):
    """Two users sharing a profile survive k=2; the singleton is
    flagged; modal-type tie breaks to the smaller type string."""
    import datetime as dt

    from clawrag_spark.operators.webtext import k_anonymity

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "view"), (1, t0, "view"),
        (2, t0, "view"), (2, t0, "view"),
        # user 3: tie view/click -> modal is 'click' (string ASC)
        (3, t0, "view"), (3, t0, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        (r["dominant_type"], r["activity_bucket"]): r
        for r in k_anonymity(ev, "user_id", "ts", "event_type", k=2).collect()
    }
    assert got[("view", "2-3")]["n_users"] == 2
    assert not got[("view", "2-3")]["suppressed"]
    assert got[("click", "2-3")]["n_users"] == 1
    assert got[("click", "2-3")]["suppressed"]


def test_unimax_mix_matches_iterative_reference(spark):
    """The one-window closed form == the textbook ITERATIVE
    water-filling (repeatedly cap any language whose capacity falls
    under the current fair share, re-divide the remainder), across
    adversarial shapes: single language, all-equal, extreme skew,
    power-of-two ladder."""
    from clawrag_spark.operators.webtext import unimax_mix

    def reference(chars, epochs, num, den):
        caps = {l: epochs * c for l, c in chars.items()}
        budget = (num * sum(caps.values())) // den
        capped, remaining = {}, dict(caps)
        b = budget
        while True:
            if not remaining:
                break
            share = b / len(remaining)
            newly = {l: c for l, c in remaining.items() if c <= share}
            if not newly:
                break
            for l, c in newly.items():
                capped[l] = float(c)
                b -= c
                del remaining[l]
        share = b / len(remaining) if remaining else 0.0
        return budget, {**capped, **{l: share for l in remaining}}

    cases = [
        {"aa": 50},                                  # single language
        {"aa": 10, "bb": 10, "cc": 10},              # all equal
        {"aa": 1, "bb": 1, "cc": 10000},             # extreme skew
        {chr(97 + i) * 2: 2 ** i for i in range(8)},  # 1..128 ladder
        {"aa": 7, "bb": 13, "cc": 29, "dd": 31},     # coprime mix
    ]
    for chars in cases:
        docs = spark.createDataFrame(
            [(l, c) for l, c in chars.items()], "lang string, n_chars long"
        )
        got = {
            r["lang"]: r
            for r in unimax_mix(
                docs, "lang", "n_chars",
                epochs_cap=2, budget_num=3, budget_den=4,
            ).collect()
        }
        budget, expect = reference(chars, 2, 3, 4)
        for lang, alloc in expect.items():
            assert abs(got[lang]["alloc_chars"] - round(alloc, 6)) < 1e-6, (
                chars, lang, got[lang]["alloc_chars"], alloc,
            )
        assert (
            abs(sum(r["alloc_chars"] for r in got.values())
                - min(budget, 2 * sum(chars.values()))) < 1e-3
        )


# ---------------------------------------------------------- l_diversity


def test_l_diversity_homogeneous_class_flagged(spark):
    """A class that is k-anonymous but spend-homogeneous fails
    l-diversity; mixed spend buckets pass; cents math is integer."""
    import datetime as dt

    from clawrag_spark.operators.webtext import l_diversity

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # users 1,2: same profile, both 'low' spend (homogeneous)
    for u in (1, 2):
        rows += [(u, t0, "view", 10.0), (u, t0, "view", 10.0)]
    # users 3,4: same profile as each other, different spend buckets
    rows += [(3, t0, "click", 100.0), (3, t0, "click", 100.0)]
    rows += [(4, t0, "click", 2000.0), (4, t0, "click", 2000.0)]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    )
    got = {
        r["dominant_type"]: r
        for r in l_diversity(
            ev, "user_id", "ts", "event_type", "value", k=2, l_distinct=2
        ).collect()
    }
    assert got["view"]["n_users"] == 2 and got["view"]["k_anonymous"]
    assert got["view"]["n_sensitive"] == 1 and not got["view"]["l_diverse"]
    assert got["click"]["n_sensitive"] == 2 and got["click"]["l_diverse"]


# ---------------------------------------------------------- dp_release


def test_dp_release_counts_deterministic_and_scaled(spark):
    """Same salt -> identical release; eps=0.5 noise is exactly 2x the
    eps=1 noise (same uniform); releases never go negative; true count
    column is absent."""
    import pytest

    from clawrag_spark.operators.webtext import dp_release_counts

    docs = spark.createDataFrame(
        [("en",)] * 7 + [("de",)] * 2, "lang string"
    )
    r1 = {r["lang"]: r for r in dp_release_counts(docs, "lang").collect()}
    r1b = {r["lang"]: r for r in dp_release_counts(docs, "lang").collect()}
    assert r1 == r1b
    assert "n" not in next(iter(r1.values())).asDict()
    assert all(r["noisy_count"] >= 0.0 for r in r1.values())
    r_half = {
        r["lang"]: r
        for r in dp_release_counts(docs, "lang", epsilon=0.5).collect()
    }
    for lang, true_n in (("en", 7), ("de", 2)):
        n1 = r1[lang]["noisy_count"] - true_n
        n2 = r_half[lang]["noisy_count"] - true_n
        assert abs(n2 - 2 * n1) < 2e-6, (lang, n1, n2)
    with pytest.raises(ValueError):
        dp_release_counts(docs, "lang", epsilon=0.0)


# ------------------------------------------------- filter eval metrics


def test_filter_auc_known_case_with_ties(spark):
    """AUC on a hand-computed case incl. a tie straddling the classes:
    scores pos=(3, 2), neg=(2, 1) -> U = 1 + 0.5 + ... -> AUC 0.875
    ... computed: pairs (3>2)=1 (3>1)=1 (2=2)=0.5 (2>1)=1 -> 3.5/4."""
    from pyspark.sql import functions as F

    from clawrag_spark.operators import packing as PK

    sc = spark.createDataFrame(
        [(1, 3.0, True), (2, 2.0, True), (3, 2.0, False), (4, 1.0, False)],
        "doc_id long, score double, pos boolean",
    )
    rn = PK.global_rank(
        sc, [F.col("score").asc(), F.col("doc_id").asc()], rank_col="rn"
    )
    grp = rn.groupBy("score").agg(F.avg("rn").alias("avg_r"))
    s = rn.join(grp, "score").agg(
        F.sum(F.when(F.col("pos"), F.col("avg_r")).otherwise(0.0)).alias("rsum"),
        F.sum(F.col("pos").cast("long")).alias("n1"),
        F.sum((~F.col("pos")).cast("long")).alias("n0"),
    ).collect()[0]
    auc = (s["rsum"] - s["n1"] * (s["n1"] + 1) / 2.0) / (s["n1"] * s["n0"])
    assert auc == 0.875


def test_filter_agreement_kappa_hand_case(spark):
    """Kappa from a planted 2x2: perfect agreement -> 1.0; the
    orthogonal case -> 0.0 (po == pe)."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    # build the same formula over a tiny flags frame via the q helper
    # path: monkey-free — recompute directly
    flags = spark.createDataFrame(
        [(True, True)] * 4 + [(False, False)] * 4,
        "a boolean, b boolean",
    )
    c = flags.agg(
        F.count("*").alias("n"),
        F.sum((F.col("a") & F.col("b")).cast("long")).alias("n11"),
        F.sum((F.col("a") & ~F.col("b")).cast("long")).alias("n10"),
        F.sum((~F.col("a") & F.col("b")).cast("long")).alias("n01"),
        F.sum((~F.col("a") & ~F.col("b")).cast("long")).alias("n00"),
    ).collect()[0]
    po = (c["n11"] + c["n00"]) / c["n"]
    pe = ((c["n11"] + c["n10"]) * (c["n11"] + c["n01"])
          + (c["n01"] + c["n00"]) * (c["n10"] + c["n00"])) / c["n"] ** 2
    assert po == 1.0 and pe == 0.5
    assert (po - pe) / (1 - pe) == 1.0


def test_negative_table_normalizes(spark):
    """p sums to 1 over the head; cum_p ends at 1; damping flattens the
    distribution: max/min probability ratio < max/min freq ratio."""
    import __spark_entry__ as em

    rows = em.q_negative_table(spark, "/root/testdata/sf0.001").collect()
    assert abs(sum(r["p"] for r in rows) - 1.0) < 1e-4
    assert abs(max(r["cum_p"] for r in rows) - 1.0) < 1e-5
    ps = [r["p"] for r in rows]
    fs = [r["freq"] for r in rows]
    assert max(ps) / min(ps) < max(fs) / min(fs)


def test_t_closeness_single_class_is_zero(spark):
    """A table with ONE quasi-class has class distribution == global
    distribution, so EMD must be exactly 0 and the class t-close."""
    # every user: 2 events, same type, same first day -> one quasi class;
    # spend buckets differ (low vs top) so the distribution is nontrivial
    rows = []
    for u in range(6):
        v = 10.0 if u < 3 else 9000.0  # low vs top spend bucket
        rows += [(u, "2024-01-01 00:00:00", "click", v),
                 (u, "2024-01-02 00:00:00", "click", v)]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = W.t_closeness(ev, "user_id", "ts", "event_type", "value").collect()
    assert len(out) == 1
    assert out[0]["emd"] == 0.0 and out[0]["t_close"]


def test_t_closeness_skewed_class_flagged(spark):
    """Two classes with opposite pure distributions (all-low vs all-top):
    global is 50/50, each class's ordered EMD = mean |CDF gap| =
    (0.5+0.5+0.5)/3 = 0.5 > t."""
    rows = []
    for u in range(4):  # class A: day 1, all low
        rows += [(u, "2024-01-01 00:00:00", "click", 10.0)] * 2
    for u in range(4, 8):  # class B: day 2, all top
        rows += [(u, "2024-01-02 00:00:00", "click", 9000.0)] * 2
    ev = spark.createDataFrame(
        [(u, t, e, v) for (u, t, e, v) in rows],
        "user_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["first_day"].isoformat(): r for r in W.t_closeness(
        ev, "user_id", "ts", "event_type", "value", t=0.2).collect()}
    assert all(abs(r["emd"] - 0.5) < 1e-9 for r in out.values())
    assert not any(r["t_close"] for r in out.values())


def test_doremi_weights_sum_to_one_and_excess_nonneg(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = W.doremi_weights(docs, "source", "text").collect()
    assert len(out) == 20
    assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-4
    assert all(r["excess_loss"] >= 0.0 for r in out)
    # own-model entropy can never exceed pooled cross-entropy by more
    # than the smoothing wiggle; with add-k both stay finite
    assert all(r["loss_ref"] > 0 and r["loss_own"] > 0 for r in out)


def test_doremi_weights_identical_domains_uniform(spark):
    """Domains with IDENTICAL text have zero excess loss everywhere ->
    softmax is uniform -> weight = 1/n exactly for every domain."""
    docs = spark.createDataFrame(
        [(d, "the quick brown fox jumps over the lazy dog") for d in "ab"],
        "source string, text string",
    )
    out = W.doremi_weights(docs, "source", "text").collect()
    assert all(r["excess_loss"] == 0.0 for r in out)
    assert all(r["weight"] == 0.5 for r in out)


def test_doremi_weights_divergent_domain_upweighted(spark):
    """A domain whose CONDITIONAL trigram distribution diverges from
    the pool gets more weight.  The domains must share contexts (the
    2-char prefixes) — with disjoint alphabets the pooled conditional
    restricted to a domain's own contexts IS that domain's model and
    excess is legitimately zero — so both emit the 'aa' context but
    continue it differently (b for the majority, c for the minority)."""
    rows = (
        [("majority", "aab " * 60)] * 8
        + [("minority", "aac " * 60)] * 2
    )
    docs = spark.createDataFrame(rows, "source string, text string")
    out = {r["domain"]: r for r in
           W.doremi_weights(docs, "source", "text").collect()}
    # the minority domain is underserved by the pooled model
    assert out["minority"]["excess_loss"] > out["majority"]["excess_loss"]
    assert out["minority"]["weight"] > out["majority"]["weight"]


def test_ks_drift_no_drift_identical_windows(spark):
    """Same value multiset in both windows -> D == 0, not drifted."""
    rows = []
    for i in range(50):
        rows.append((i, "2024-01-02 00:00:00", "click", float(i % 7)))
        rows.append((i, "2024-01-25 00:00:00", "click", float(i % 7)))
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = W.ks_drift(ev, "event_type", "ts", "value").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_ref"] == 50 and r["n_cur"] == 50
    assert r["ks_stat"] == 0.0 and not r["drifted"]


def test_ks_drift_disjoint_supports_is_one(spark):
    """Disjoint supports -> D == 1 (max CDF gap), drifted."""
    rows = [(i, "2024-01-02 00:00:00", "click", float(i)) for i in range(30)]
    rows += [(i, "2024-01-25 00:00:00", "click", 1000.0 + i) for i in range(30)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = W.ks_drift(ev, "event_type", "ts", "value").collect()[0]
    assert r["ks_stat"] == 1.0 and r["drifted"]


def test_ks_drift_one_window_group_defined_verdict(spark):
    """A group whose rows fall entirely inside one window has no
    two-sample comparison: it must emit the defined no-data verdict
    (ks_stat=0, ks_crit=0, drifted=false) — never NULL stats."""
    rows = [(i, "2024-01-02 00:00:00", "refonly", float(i)) for i in range(10)]
    rows += [(i, "2024-01-25 00:00:00", "curonly", float(i)) for i in range(10)]
    rows += [(i, "2024-01-02 00:00:00", "both", float(i)) for i in range(10)]
    rows += [(i, "2024-01-25 00:00:00", "both", 5.0 + i) for i in range(10)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["event_type"]: r for r in W.ks_drift(ev, "event_type", "ts", "value").collect()}
    for g in ("refonly", "curonly"):
        r = out[g]
        assert r["ks_stat"] == 0.0 and r["ks_crit"] == 0.0
        assert r["drifted"] is False
        assert None not in (r["ks_stat"], r["ks_crit"], r["drifted"])
    assert out["both"]["ks_crit"] > 0.0  # two-sample groups unaffected


def test_calibration_report_perfect_and_ece_bounds(spark):
    """A perfectly calibrated score (label avg == normalized score in
    every bin) gives ECE == 0; ECE is a weighted mean of per-bin gaps
    so it is bounded by max(gap)."""
    # score 0 and 1 only; labels exactly match the normalized score
    rows = [(i, 0.0, False) for i in range(10)] + [
        (i + 10, 1.0, True) for i in range(10)
    ]
    sc = spark.createDataFrame(rows, "doc_id long, score double, pos boolean")
    out = W.calibration_report(sc, "score", "pos").collect()
    assert {r["bin"] for r in out} == {0, 9}
    assert all(r["gap"] == 0.0 and r["ece"] == 0.0 for r in out)
    # miscalibrated: all labels true regardless of score
    rows = [(i, float(i % 2), True) for i in range(20)]
    sc = spark.createDataFrame(rows, "doc_id long, score double, pos boolean")
    out = W.calibration_report(sc, "score", "pos").collect()
    ece = out[0]["ece"]
    assert ece == pytest.approx(0.5, abs=1e-6)
    assert all(r["ece"] == ece for r in out)
    assert max(r["gap"] for r in out) >= ece


def test_mi_features_label_correlated_token_wins(spark):
    """A token present in exactly the positive docs carries maximal MI;
    a token present in every doc carries zero MI."""
    rows = [(i, ("spam " if i < 10 else "ham ") + "common text", i < 10)
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    out = {r["w"]: r for r in W.mi_features(
        docs, "doc_id", "text", F.col("y"), top_n=10, min_df=2).collect()}
    assert out["spam"]["n11"] == 10 and out["spam"]["n01"] == 0
    assert out["common"]["mi"] == 0.0
    assert out["spam"]["mi"] > out["common"]["mi"]
    # spam and ham are symmetric: identical MI
    assert out["spam"]["mi"] == out["ham"]["mi"]


def test_isotonic_calibration_monotone_and_pools_violations(spark):
    """iso_p is monotone nondecreasing in bin; an adjacent violation
    pools to the weighted average (classic PAV hand case); bins that
    are already monotone pass through unchanged."""
    # scores 0.05,...,0.95 put one doc group per bin; accuracies
    # 0.0, 0.4, 0.2, 1.0 -> bins 1/2 violate, pool to (4+2)/20 = 0.3
    rows = []
    accs = [0.0, 0.4, 0.2, 1.0]
    for b, acc in enumerate(accs):
        for i in range(10):
            rows.append((b * 100 + i, b / 3.0, i < acc * 10))
    sc = spark.createDataFrame(rows, "doc_id long, score double, pos boolean")
    out = sorted(
        W.isotonic_calibration(sc, "score", "pos", n_bins=4).collect(),
        key=lambda r: r["bin"],
    )
    isos = [r["iso_p"] for r in out]
    assert isos == sorted(isos)
    assert isos[0] == 0.0 and isos[3] == 1.0
    assert isos[1] == pytest.approx(0.3, abs=1e-6)
    assert isos[2] == pytest.approx(0.3, abs=1e-6)
    # weighted-L2 optimality spot check: already-monotone bins keep acc
    assert out[0]["acc"] == 0.0 and out[3]["acc"] == 1.0


def test_chao1_vocab_hand_case(spark):
    """3 singletons, 1 doubleton, 1 tripleton: V=5, F1=3, F2=1,
    chao1 = 5 + 3*2/(2*2) = 6.5, p_unseen = 3/8; a group with no
    singletons collapses to chao1 == vocab."""
    docs = spark.createDataFrame(
        [("a", "one two three four four five five five"),
         ("b", "x x y y")],
        "lang string, text string",
    )
    out = {r["lang"]: r for r in W.chao1_vocab(docs, "lang", "text").collect()}
    a = out["a"]
    assert (a["vocab"], a["f1"], a["f2"]) == (5, 3, 1)
    assert a["chao1"] == pytest.approx(6.5, abs=1e-6)
    assert a["p_unseen"] == pytest.approx(3 / 8, abs=1e-6)
    b = out["b"]
    assert b["f1"] == 0 and b["chao1"] == float(b["vocab"])


def test_poisson_bootstrap_weights_and_ci(spark):
    """Replicate means bracket the true mean; the CI is ordered; the
    result is deterministic; weight distribution is Poisson(1)-shaped
    (mean weight ~= 1 so n_eff ~= n)."""
    from clawrag_spark.operators.stats import poisson_bootstrap_ci

    df = spark.range(2000).selectExpr("id", "(id % 97) * 1.0 AS v")
    out = poisson_bootstrap_ci(df, "id", "v").collect()
    assert len(out) == 20
    true_mean = sum(i % 97 for i in range(2000)) / 2000
    lo, hi = out[0]["ci_lo"], out[0]["ci_hi"]
    assert lo <= hi
    assert all(r["ci_lo"] == lo and r["ci_hi"] == hi for r in out)
    assert lo <= true_mean <= hi  # 90%-ish CI on a well-behaved mean
    # Poisson(1) total mass: n_eff within 10% of n
    for r in out:
        assert 1800 <= r["n_eff"] <= 2200
    out2 = poisson_bootstrap_ci(df, "id", "v").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_jackknife_by_group_hand_case(spark):
    """Two groups with known sums: leave-one-out means and SE follow
    the closed form exactly."""
    from clawrag_spark.operators.stats import jackknife_by_group
    import math

    rows = [("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 14.0)]
    df = spark.createDataFrame(rows, "source string, v double")
    out = {r["source"]: r for r in
           jackknife_by_group(df, "source", "v").collect()}
    # without a: mean(10,14)=12; without b: mean(1,3)=2
    assert out["a"]["mean_without"] == 12.0
    assert out["b"]["mean_without"] == 2.0
    tbar = 7.0
    var = (2 - 1) / 2 * ((12 - tbar) ** 2 + (2 - tbar) ** 2)
    assert out["a"]["jack_se"] == pytest.approx(math.sqrt(var), abs=1e-6)
