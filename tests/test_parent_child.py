"""Parent-child indexing (C6) + parent resolution (J4) + per-type
chunk configs (C8) over the pipeline outputs."""

import os

import pytest
from pyspark.sql import functions as F

from clawrag_spark.pipeline import run_parent_child, run_pipeline


@pytest.fixture(scope="module")
def warehouse(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pc_wh"))
    pages = spark.read.parquet(pages_path)
    run_pipeline(spark, pages, out)
    pc = run_parent_child(spark, os.path.join(out, "extracted"), out)
    return out, pc


class TestParentChild:
    def test_parent_ids_match_reference_rule(self, spark, warehouse):
        out, pc = warehouse
        parents = spark.read.parquet(pc["parents_path"])
        row = parents.first()
        # parent id = "parent_" + sha256(content)[:16] (indexing_service.py:397)
        import hashlib

        expect = "parent_" + hashlib.sha256(row["content"].encode()).hexdigest()[:16]
        assert row["parent_doc_id"] == expect

    def test_children_reference_parents(self, spark, warehouse):
        out, pc = warehouse
        parents = spark.read.parquet(pc["parents_path"])
        children = spark.read.parquet(pc["children_path"])
        assert pc["n_children"] >= pc["n_parents"] > 0
        orphans = children.join(
            parents.select("parent_doc_id"), "parent_doc_id", "left_anti"
        )
        assert orphans.count() == 0

    def test_children_match_oracle_chunker(self, spark, warehouse):
        out, pc = warehouse
        from clawrag_spark.core.chunkers import sentence_chunks

        parents = {
            r["parent_doc_id"]: r["content"]
            for r in spark.read.parquet(pc["parents_path"]).collect()
        }
        kids = spark.read.parquet(pc["children_path"]).collect()
        by_parent = {}
        for k in kids:
            by_parent.setdefault(k["parent_doc_id"], []).append(k)
        for pid, rows in list(by_parent.items())[:50]:
            rows.sort(key=lambda r: r["chunk_index"])
            expect = sentence_chunks(parents[pid], 200, 20)
            assert [r["text"] for r in rows] == [c.text for c in expect]

    def test_parent_resolution_join(self, spark, warehouse):
        out, pc = warehouse
        from clawrag_spark.operators.retrieval import cosine, parent_resolution

        children = spark.read.parquet(pc["children_path"])
        parents = spark.read.parquet(pc["parents_path"])
        qv = children.first()["embedding"]
        hits = children.select(
            "parent_doc_id",
            cosine(
                F.col("embedding").cast("array<double>"),
                F.array(*[F.lit(float(x)) for x in qv]),
            ).alias("score"),
        )
        resolved = parent_resolution(hits, parents, "parent_doc_id", "score")
        rows = resolved.orderBy(F.desc("best_score")).limit(3).collect()
        assert rows and abs(rows[0]["best_score"] - 1.0) < 1e-6
        assert "content" in resolved.columns


class TestPerTypeChunkConfig:
    def test_mime_config_selected(self, spark, warehouse):
        """C8 per-MIME sizes are the routed chunker's default-profile
        branch for unstructured-text and unknown routes."""
        out, _ = warehouse
        from clawrag_spark.chunk_config import config_for_mime
        from clawrag_spark.core import data_type as dt
        from clawrag_spark.core.oracle import chunk_document
        from clawrag_spark.udfs import chunk_embed, routed_chunker

        ext = spark.read.parquet(os.path.join(out, "extracted"))
        good = ext.filter(
            F.col("error").isNull() & (F.col("text_length") > 0) & F.col("is_active")
        ).select("url", "url_bucket", "doc_id", "mime", "text")
        chunks = chunk_embed(good, routed_chunker(), 64)
        got = (
            chunks.filter(F.col("route").isin(dt.UNSTRUCTURED_TEXT, dt.UNKNOWN)
                          & (F.col("profile") == "default"))
            .groupBy("url").agg(F.max("total_chunks").alias("n")).collect()
        )
        assert got
        texts = {r["url"]: (r["mime"], r["text"]) for r in good.collect()}
        for row in got[:80]:
            mime, text = texts[row["url"]]
            cfg = config_for_mime(mime)
            expect = chunk_document(text, cfg.chunk_size, cfg.chunk_overlap)
            assert row["n"] == len(expect)
        # html config (500/80) produces more chunks than the default 1000/200
        html_docs = [u for u, (m, t) in texts.items() if m == "text/html"]
        assert html_docs
