"""SparkSession factory with scale-appropriate defaults, plus the
registry of artifacts that live as long as the session."""

from __future__ import annotations

import atexit
import functools
import inspect
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "clawrag_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (32), shuffle partitions ≈
    cores for local mode (the 200 default over-parallelizes small data
    and under-parallelizes 100 TB — size to cluster at deploy time), AQE
    on (runtime coalescing + skew-join splitting), Arrow on (vectorized
    pandas UDF transfer), UTC session timezone (duckdb-oracle parity).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local-mode split sizing: the default 128 MB bin-packs a small
        # corpus into fewer scan tasks than cores, serializing the first
        # stage (read + sha2 + shuffle write).  16 MB keeps scans at
        # full width here; on a 1000-executor cluster the default is fine
        # because inputs are thousands of files.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # shuffle/spill dir: this sandbox's /tmp sits on a slow shared
        # disk that caps high-parallelism stages (shuffle IO hides behind
        # long tasks at low core counts and becomes the bottleneck at
        # high ones); real clusters put this on local NVMe per executor
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                               "/dev/shm/spark-local"
                               if os.path.isdir("/dev/shm") else "/tmp"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


# ------------------------------------------------------ session artifacts
# Shared scan-side frames (BM25 index, shingle rows, near-dup pairs, ...)
# are built once per session and reused by every query that needs them.
# Entries are keyed by (artifact name, builder args) and belong to ONE
# SparkContext: a call under a new applicationId drops every entry of
# the old, stopped session instead of keeping its frames alive.

_BUILDERS: dict[str, Callable] = {}  # name -> memoized accessor
_HELD: dict[tuple, object] = {}  # (name, *args) -> artifact
_BUILD_S: dict[tuple, float] = {}  # (name, *args) -> build seconds
_app_id: str | None = None


def _frames(value):
    """The DataFrames an artifact holds (one frame or a dict of them)."""
    if isinstance(value, dict):
        for v in value.values():
            yield from _frames(v)
    elif isinstance(value, DataFrame):
        yield value


def _drop(key: tuple) -> object:
    """Forget one entry and delete the scratch directory it owns (an
    artifact that is a ``str`` is a directory path)."""
    value = _HELD.pop(key)
    del _BUILD_S[key]
    if isinstance(value, str):
        shutil.rmtree(value, ignore_errors=True)
    return value


@atexit.register
def _drop_dirs() -> None:
    """Delete every held scratch directory when the interpreter exits,
    so a process that never calls ``release()`` leaves none behind."""
    for key in [k for k, v in _HELD.items() if isinstance(v, str)]:
        _drop(key)


def _sync(spark: SparkSession) -> None:
    """Drop every entry of a previous SparkContext: that context is
    stopped, so its caches died with it."""
    global _app_id
    app_id = spark.sparkContext.applicationId
    if app_id != _app_id:
        for key in list(_HELD):
            _drop(key)
        _app_id = app_id


def session_artifact(name: str):
    """Memoize a builder ``fn(spark, *args)`` per session and ``args``.

    The builder owns its persist/count points; the registry only stores
    the result and the wall seconds the first build took.  Values are
    DataFrames, dicts of DataFrames, or a scratch-directory path."""

    def wrap(fn: Callable) -> Callable:
        @functools.wraps(fn)
        def get(spark: SparkSession, *args):
            _sync(spark)
            key = (name, *args)
            if key not in _HELD:
                t0 = time.perf_counter()
                _HELD[key] = fn(spark, *args)
                _BUILD_S[key] = time.perf_counter() - t0
            return _HELD[key]

        get.takes_sf_dir = len(inspect.signature(fn).parameters) > 1
        _BUILDERS[name] = get
        return get

    return wrap


def prepay(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build every registered artifact for ``sf_dir`` and return
    ``{name: build seconds}``.  Registration order puts dependencies
    first; a frame a builder persists lazily is materialized here and
    its count is part of that artifact's build time."""
    _sync(spark)
    out = {}
    for name, get in _BUILDERS.items():
        key = (name, sf_dir) if get.takes_sf_dir else (name,)
        fresh = key not in _HELD
        value = get(spark, *key[1:])
        if fresh:
            t0 = time.perf_counter()
            for df in _frames(value):
                if df.is_cached:
                    df.count()
            _BUILD_S[key] += time.perf_counter() - t0
        out[name] = round(_BUILD_S[key], 4)
    return out


def release(*names: str) -> None:
    """Unpersist and forget the named artifacts (all when none given);
    the next access rebuilds them."""
    unknown = set(names) - set(_BUILDERS)
    if unknown:
        raise KeyError(f"unknown session artifacts: {sorted(unknown)}")
    for key in [k for k in _HELD if not names or k[0] in names]:
        for df in _frames(_drop(key)):
            df.unpersist()
