"""End-to-end Spark pipeline tests: byte-identity gate, resume, metrics.

The byte-identity test is the checkable reading of the BASELINE.json
north rule: the Spark pandas-UDF path and the single-process oracle are
independent execution paths (Arrow round trip vs plain Python); the
extracted text must match byte-for-byte per url.
"""

import os

import pytest
from pyspark.sql import functions as F

from clawrag_spark.core import oracle
from clawrag_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def pipeline_out(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_out"))
    pages = spark.read.parquet(pages_path)
    manifest = run_pipeline(spark, pages, out)
    return out, manifest


class TestByteIdentity:
    def test_extracted_text_byte_identical_per_url(self, spark, pages_path, pipeline_out):
        out, _ = pipeline_out
        spark_rows = {
            r["url"]: r
            for r in spark.read.parquet(os.path.join(out, "extracted"))
            .select("url", "text", "doc_hash", "doc_id", "quality_score",
                    "language", "mime", "engine", "error")
            .collect()
        }
        import pyarrow.parquet as pq

        pages = pq.read_table(pages_path).to_pylist()
        assert len(spark_rows) == len(pages)
        mismatches = 0
        for page in pages:
            expect = oracle.process_document(page["html"], page["lang"])
            got = spark_rows[page["url"]]
            assert got["text"] == expect.text, f"text mismatch for {page['url']}"
            assert got["text"].encode("utf-8") == expect.text.encode("utf-8")
            assert got["doc_hash"] == expect.doc_hash
            assert got["doc_id"] == expect.doc_id
            assert got["mime"] == expect.mime
            assert got["engine"] == expect.engine
            assert got["error"] == expect.error
            assert got["language"] == expect.language
            assert abs(got["quality_score"] - expect.quality_score) < 1e-12
        assert mismatches == 0

    def test_chunk_spans_byte_identical(self, spark, pages_path, pipeline_out):
        out, _ = pipeline_out
        ext = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(os.path.join(out, "extracted"))
            .filter(F.col("is_active") & F.col("error").isNull() & (F.col("text_length") > 0))
            .select("doc_id", "text").collect()
        }
        chunks = (
            spark.read.parquet(os.path.join(out, "chunks"))
            .select("doc_id", "chunk_index", "text", "char_start", "char_end", "total_chunks")
            .collect()
        )
        by_doc = {}
        for row in chunks:
            by_doc.setdefault(row["doc_id"], []).append(row)
        assert set(by_doc) == set(ext)
        for doc_id, rows in by_doc.items():
            rows.sort(key=lambda r: r["chunk_index"])
            expect = oracle.chunk_document(ext[doc_id])
            assert len(rows) == len(expect)
            for got, want in zip(rows, expect):
                assert got["text"] == want.text
                assert got["char_start"] == want.char_start
                assert got["char_end"] == want.char_end
                assert got["total_chunks"] == len(expect)


class TestResume:
    def test_resume_is_exactly_once(self, spark, pages_path, out_dir):
        pages = spark.read.parquet(pages_path)
        half = pages.limit(300)
        m1 = run_pipeline(spark, half, out_dir, run_id="half")
        assert m1["n_processed"] == 300
        # second run over the FULL input: only unseen doc_hashes processed
        m2 = run_pipeline(spark, pages, out_dir, run_id="full")
        assert m2["n_skipped_resume"] >= 290  # 300 minus cross-batch dups
        ext = spark.read.parquet(os.path.join(out_dir, "extracted"))
        total = ext.count()
        distinct_urls = ext.select("url").distinct().count()
        # exactly-once per doc_hash: no url appears twice
        assert total == distinct_urls
        # chunks exactly once per chunk_id+url
        ch = spark.read.parquet(os.path.join(out_dir, "chunks"))
        assert ch.count() == ch.select("chunk_id", "url").distinct().count()
        # each manifest's counts are that run's committed rows
        ext_rows = dict(ext.groupBy("run_id").count().collect())
        ch_rows = dict(ch.groupBy("run_id").count().collect())
        for m in (m1, m2):
            assert m["n_processed"] == ext_rows[m["run_id"]]
            assert m["n_chunks"] == ch_rows[m["run_id"]]

    def test_metrics_and_manifest(self, spark, pages_path, pipeline_out):
        out, manifest = pipeline_out
        assert manifest["n_processed"] == manifest["n_input"]
        metrics = spark.read.parquet(os.path.join(out, "metrics"))
        rows = metrics.collect()
        assert len(rows) > 0
        assert sum(r["n_docs"] for r in rows) == manifest["n_input"]
        for r in rows:
            assert r["docs_per_sec"] is None or r["docs_per_sec"] > 0
        # parse failures counted (corpus plants malformed rows)
        assert sum(r["n_parse_failures"] for r in rows) > 0


class TestDedupVersioning:
    def test_duplicate_bodies_versioned(self, spark, pipeline_out):
        out, _ = pipeline_out
        ext = spark.read.parquet(os.path.join(out, "extracted"))
        dupes = (
            ext.groupBy("doc_hash").count().filter(F.col("count") > 1)
        )
        assert dupes.count() > 0  # corpus plants ~3% duplicate bodies
        # one active row per doc_hash; versions are 1..n
        per_hash = (
            ext.groupBy("doc_hash")
            .agg(
                F.sum(F.col("is_active").cast("int")).alias("n_active"),
                F.count("*").alias("n"),
                F.max("version").alias("max_v"),
                F.min("version").alias("min_v"),
            )
            .collect()
        )
        for r in per_hash:
            assert r["n_active"] == 1
            assert r["min_v"] == 1 and r["max_v"] == r["n"]

    def test_audit_rows(self, spark, pipeline_out):
        out, _ = pipeline_out
        audit = spark.read.parquet(os.path.join(out, "dedup_audit"))
        assert audit.filter(F.col("action") == "VERSIONED").count() > 0
        assert audit.filter(F.col("original_url").isNull()).count() == 0
        # audit never contains version-1 originals
        assert audit.filter(F.col("duplicate_url") == F.col("original_url")).count() == 0


class TestEmbeddings:
    def test_embeddings_table_and_normalization(self, spark, pipeline_out):
        out, _ = pipeline_out
        emb = spark.read.parquet(os.path.join(out, "embeddings"))
        row = emb.first()
        assert len(row["embedding"]) == 64
        norm = sum(x * x for x in row["embedding"]) ** 0.5
        assert abs(norm - 1.0) < 1e-5 or norm == 0.0
        # matches the oracle embedder for the same chunk text
        from clawrag_spark.core.embedder import embed_text

        ch = spark.read.parquet(os.path.join(out, "chunks")).first()
        assert ch["embedding"] == embed_text(ch["text"], 64)


class TestTimeTravel:
    def test_read_chunks_as_of_snapshot(self, spark, tmp_path):
        """Iceberg-style time travel: reading as of run 1 shows exactly
        run 1's table state; the latest view unions both runs; unknown
        snapshots raise."""
        import pytest as _pytest

        from clawrag_spark.corpus import write_pages_parquet
        from clawrag_spark.pipeline import read_chunks, run_pipeline

        out = str(tmp_path / "out")
        p1 = write_pages_parquet(str(tmp_path / "p1.parquet"), 40, seed=11)
        m1 = run_pipeline(spark, spark.read.parquet(p1), out)
        p2 = write_pages_parquet(str(tmp_path / "p2.parquet"), 30, seed=12)
        m2 = run_pipeline(spark, spark.read.parquet(p2), out)
        assert m1["run_id"] != m2["run_id"]

        latest = read_chunks(spark, out)
        asof1 = read_chunks(spark, out, as_of_run=m1["run_id"])
        asof2 = read_chunks(spark, out, as_of_run=m2["run_id"])
        n1 = asof1.count()
        assert set(r["run_id"] for r in asof1.select("run_id").distinct().collect()) == {m1["run_id"]}
        assert asof2.count() == latest.count() > n1 > 0

        with _pytest.raises(ValueError, match="no committed run"):
            read_chunks(spark, out, as_of_run="nonexistent")
