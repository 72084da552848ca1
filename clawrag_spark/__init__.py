"""clawrag_spark — a from-scratch PySpark-native reimplementation of the
ClawRag (2dogsandanerd/ClawRag) ingestion + retrieval semantics as a batch
extraction pipeline over Common-Crawl-style web pages.

Layout
------
- ``core/``       pure-Python, dependency-light per-document logic (HTML
                  boilerplate-stripping extractor, PDF layout parser,
                  chunkers, quality scorer, language id, hash embedder,
                  BM25 tokenizer).  These modules are shared verbatim by
                  the Spark pandas UDFs *and* the single-process oracle, so
                  byte-identical extracted text per url holds by
                  construction and is verified by pytest over the two
                  independent execution paths.
- ``udfs.py``     vectorized pandas/Arrow UDF wrappers (no per-row Python
                  UDFs anywhere), incl. the one chunk+embed Arrow kernel
                  (``chunk_embed_arrow``) every chunker runs through.
- ``pipeline.py`` the batch extraction pipeline: pages -> validate ->
                  route -> extract -> dedup/version -> chunk -> embed ->
                  partitioned parquet sinks + per-partition metrics +
                  lineage manifest + idempotent resume.
- ``operators/``  retrieval (BM25, cosine top-k, hybrid fusion, RRF,
                  parent resolution), dedup policies, stats rollups,
                  text ops, and large-scale dataset ops (MinHash-LSH,
                  SimHash, ANN).
- ``corpus.py``   deterministic synthetic Common-Crawl-style page
                  generator (seeded) producing the BASELINE.json
                  input_hint schema ``(url string, warc_ts timestamp,
                  html binary, text string, lang string)``.

The reference system is a single-node async FastAPI service; this engine
re-expresses its semantics Spark-first (DataFrame/Catalyst, vectorized
UDFs only for genuinely per-document logic).  Reference file:line
citations live in each module's docstrings.
"""

__version__ = "0.1.0"
