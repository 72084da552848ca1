import os
import shutil
import tempfile

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from clawrag_spark.session import get_spark

    spark = get_spark("clawrag-tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def pages_path():
    """Deterministic synthetic corpus, 600 rows, seed 42."""
    from clawrag_spark.corpus import write_pages_parquet

    tmp = tempfile.mkdtemp(prefix="clawrag_pages_")
    path = os.path.join(tmp, "pages.parquet")
    write_pages_parquet(path, 600)
    yield path
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture()
def out_dir():
    tmp = tempfile.mkdtemp(prefix="clawrag_out_")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def construction_jobs(spark):
    """``construction_jobs(build)`` -> the Spark job ids started while
    ``build()`` returns its DataFrame (a fresh job group per call)."""
    import uuid

    sc = spark.sparkContext

    def count(build):
        group = f"construct-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "DataFrame construction")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return count
