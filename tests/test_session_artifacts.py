"""Session-artifact registry: memoization, keying, release and prepay."""

import os
import shutil
from types import SimpleNamespace

import __spark_entry__ as entry
from clawrag_spark.session import _sync, prepay, release

ARTIFACTS = {
    "bm25_index", "impact_index", "shingles", "jaccard_pairs",
    "attributes", "prefix_sets", "host_edges", "doc_tokens", "curation",
    "n8_shingles", "char_lm", "nb_confusion", "entropy_labels",
}


def test_registry_memoizes_keys_releases_and_prepays(spark, sf_dir, tmp_path):
    sc = spark.sparkContext
    toks = entry._doc_tokens_cached(spark, sf_dir)
    assert toks.is_cached

    # a hit returns the same frame and submits no Spark job
    sc.setJobGroup("registry-hit", "second artifact access")
    try:
        assert entry._doc_tokens_cached(spark, sf_dir) is toks
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("registry-hit")

    # another sf_dir is another entry
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), tmp_path)
    other = entry._doc_tokens_cached(spark, str(tmp_path))
    assert other is not toks and other.count() == toks.count()

    # release unpersists every entry of the artifact; the next access rebuilds
    release("doc_tokens")
    assert not toks.is_cached and not other.is_cached
    rebuilt = entry._doc_tokens_cached(spark, sf_dir)
    assert rebuilt is not toks and rebuilt.is_cached

    builds = prepay(spark, sf_dir)
    assert set(builds) == ARTIFACTS
    assert all(isinstance(s, float) and s >= 0 for s in builds.values())

    # the attribute sidecar dir is owned by the registry
    attrs = entry._attributes_dir(spark, sf_dir)
    assert os.path.isdir(attrs)
    release("attributes")
    assert not os.path.exists(attrs)

    # a new SparkContext drops the stopped one's entries and scratch dirs
    release()
    attrs = entry._attributes_dir(spark, sf_dir)
    _sync(SimpleNamespace(sparkContext=SimpleNamespace(applicationId="next")))
    assert not os.path.exists(attrs)


def test_scratch_dirs_do_not_outlive_the_process(sf_dir):
    """A process that builds the attribute sidecar and exits without
    ``release()`` leaves no directory behind."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import os, sys\n"
        "import __spark_entry__ as entry\n"
        "from clawrag_spark.session import get_spark\n"
        "spark = get_spark('atexit-probe', shuffle_partitions=2)\n"
        "path = entry._attributes_dir(spark, sys.argv[1])\n"
        "print(path, os.path.isdir(path))\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    done = subprocess.run(
        [sys.executable, "-c", script, sf_dir],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    path, existed = done.stdout.split()[-2:]
    assert existed == "True"
    assert not os.path.exists(path)
