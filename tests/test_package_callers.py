"""Caller budget: every top-level function and class in ``clawrag_spark/``
must be reachable from an entry point or another package definition.

A definition counts as called when its name appears as an ``ast.Name``,
an ``ast.Attribute`` attribute or an import alias anywhere in
``__spark_entry__.py``, ``bench.py``, ``bench_extra.py``,
``perfbench/*.py`` or a package module, outside its own body.  Tests do
not count.  The names that only tests reach are pinned below; the list
may shrink (delete the definition or give it a caller) but not grow.
Pure AST, no Spark.
"""

import ast
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Names only tests reach today, by disposition (ROADMAP item 6).  Each
# is a capability or fixture kept on purpose; none is a second path
# beside a path the queries or the pipeline run.
TEST_ONLY_ALLOWED = {
    # table maintenance, takedowns and refs (the source system's
    # Iceberg maintenance and deletion story)
    "compact_pipeline_output", "expire_runs", "remove_orphan_files",
    "set_ref", "drop_ref", "purge_bm25_deletes", "record_takedown",
    "takedown_report", "materialize_deletes", "evolve_schema",
    "update_attributes", "release",
    # batch curation job and its reports
    "curate_corpus", "funnel_report", "label_drop_reasons",
    # retrieval-side jobs: parent/child chunking, query cache, embedder
    # compatibility checks
    "run_parent_child", "cached_bm25_query", "parent_resolution",
    "check_embedding_compat", "crosscheck_extension", "resolve_embedder",
    "embed_with_model", "embed_text",
    # multimodal stages
    "media_metadata", "extract_image_features", "extract_audio_features",
    "frame_sample_plan",
    # WARC / WET round trip
    "read_warc", "write_warc", "export_wet", "read_wet",
    # tokenizer operators
    "encode_unigram", "fit_bpe_rounds",
    # reference implementations the kept Spark paths are pinned to
    "embedding_near_dups", "simhash64_py", "bm25_scores", "bm25_tokens",
    "dequantize_int8",
    # fixture encoders
    "encode_ppm", "encode_gif", "encode_jpeg", "encode_mp3_stub",
    "build_exif_app1", "add_exif_to_jpeg", "add_png_text",
}


def _sources(root):
    pkg = os.path.join(root, "clawrag_spark")
    package = []
    for d, _, files in os.walk(pkg):
        package += [os.path.join(d, f) for f in files if f.endswith(".py")]
    bench = os.path.join(root, "perfbench")
    entries = [os.path.join(root, f)
               for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    entries += [os.path.join(bench, f)
                for f in os.listdir(bench) if f.endswith(".py")]
    return sorted(package), entries


def _referenced(node):
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.update(n.name.split("."))
    return names


def _registered(stmt):
    """``@atexit.register`` and the like: the runtime calls it."""
    return any(isinstance(d, ast.Attribute) and d.attr == "register"
               for d in stmt.decorator_list)


def uncalled_definitions(root=REPO):
    """{name: "module.py:line"} for package definitions nothing but their
    own body refers to."""
    package, entries = _sources(root)
    defined, used = {}, set()
    for path in package + entries:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for stmt in tree.body:
            names = _referenced(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names.discard(stmt.name)
                if path in package and not _registered(stmt):
                    rel = os.path.relpath(path, root)
                    defined.setdefault(stmt.name, f"{rel}:{stmt.lineno}")
            used |= names
    return {n: where for n, where in defined.items() if n not in used}


@pytest.fixture(scope="module")
def uncalled():
    return uncalled_definitions()


def test_test_only_definitions_within_budget(uncalled):
    extra = {n: w for n, w in uncalled.items() if n not in TEST_ONLY_ALLOWED}
    assert not extra, (
        "package definitions with no caller outside tests (delete them or "
        f"give them an entry-point or package caller): {extra}"
    )


def test_budget_lists_no_stale_names(uncalled):
    stale = TEST_ONLY_ALLOWED - set(uncalled)
    assert not stale, f"now called or deleted; drop from TEST_ONLY_ALLOWED: {stale}"
