#!/usr/bin/env python3
"""Closed-loop benchmark of clawrag_spark through its public entry points.

Run from the root of a checkout::

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 12 --trace 0

Workloads (``perfbench/spec.json`` records why each exists, the query
list, the corpus and the layer -> end-to-end map):

- ``pipeline``: one operation is a bulk ``run_pipeline(resume=False)``
  over the seeded corpus into a fresh directory, then seeded top-10
  ``bm25_query_index`` probes of a committed 90 % snapshot.  Traced runs
  also refresh a copy of that snapshot once with
  ``run_pipeline(resume=True, bm25_index=True)`` over the full corpus
  and probe the result.
- ``query_mix``: one operation is a pass over a fixed list of
  ``__spark_entry__.queries()``, grouped by family, on seeded
  ``documents`` / ``lineitem`` tables; each query is built, then
  collected.

One driver process at ``local[min(4, nproc)]``, one operation at a time.
Set-up is the Spark session start plus input staging, done
``SETUP_ROUNDS`` times in fresh sessions (median), plus one warm-up in
the session that is then measured: the committed 90 % snapshot build,
or the query pass that builds every session artifact.  Every operation's
output is checked; a raise or a failed check counts in ``failed``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on
Spark's event log, alternates plain and traced operations, and prints
the per-layer metrics; its spans go to ``.perfbench_work/traces/``.
The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import Counter
from contextlib import contextmanager

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = max(1, min(4, len(os.sched_getaffinity(0))))
SETUP_ROUNDS = 3

# pipeline workload shape
PAGES = 200
CONTENT_SCALE = 8
BASE_SHARE = 0.9
N_PROBES = 2
PROBE_VOCAB = (
    "data pipelines process web pages extraction quality boilerplate removal "
    "chunking overlap partitions clusters shuffle joins spark arrow pandas "
    "fuchs daten qualität extraktion renard données qualité découpage"
).split()
KERNEL_PAGES = 60

# query workload shape
N_DOCS = 250
N_LINEITEM = 6000
QUERY_MIX = {
    "webgraph": ["hits_hosts"],
    "setsim": ["similarity_join"],
    "retrieval": ["bm25_scores"],
    "curation": ["doremi_weights"],
    "stats": ["pricing_summary"],
}

E2E_UNITS = {"setup_s": "s", "op_s": "s", "op_cpu_s": "s"}
STAGE_LABELS = ("input_count", "extract_write", "audit", "chunk_write",
                "metrics", "emb_rewrite", "final_count")
PIPELINE_LAYER = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_cpu_s": "s", "cpu_util": "ratio",
    "extract_stage_cpu_s": "s", "chunk_stage_cpu_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "task_skew": "ratio",
    "out_bytes_per_in_byte": "ratio", "parse_failures": "count",
    "resume_skipped": "count", "bulk_s": "s", "refresh_s": "s",
    "docs_per_s": "1/s", "docs_per_s_local1": "1/s", "scaling_eff_1v4": "ratio",
    **{f"stage_sec.{label}": "s" for label in STAGE_LABELS},
}
FAMILY_LAYER = {
    "construct_s": "s", "plan_s": "s", "exec_s": "s", "jobs": "count",
    "stages": "count", "executor_cpu_s": "s", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.warmup_s": "s",
    "cache.build_s_total": "s",
    **{f"cache.{fam}_build_s": "s" for fam in QUERY_MIX},
    "core.extract_ms_per_doc": "ms",
    "core.chunk_ms_per_doc": "ms",
    "core.embed_ms_per_chunk": "ms",
    "udfs.chunk_embed_ms_per_batch": "ms",
    **{f"pipeline.{k}": u for k, u in PIPELINE_LAYER.items()},
    "bm25.index_s": "s",
    "bm25.probe_p50_ms": "ms",
    "bm25.probe_jobs": "count",
    "bm25.probe_build_ms": "ms",
    "bm25.probe_exec_ms": "ms",
    **{f"{fam}.{k}": u for fam in (*QUERY_MIX, "entry") for k, u in FAMILY_LAYER.items()},
    "trace.op_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.accounted_share": "ratio",
}


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def tail_percentile(samples: list[float]):
    """(p, value) for the highest percentile with >= 10 samples beyond it."""
    n = len(samples)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return p, sorted(samples)[min(n - 1, math.ceil(n * p / 100) - 1)]
    return None


# ---------------------------------------------------------------- memory


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants (JVM, Python daemon and workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while listing
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def _proc_fields(pid: int, name: str) -> list[str]:
    try:
        with open(f"/proc/{pid}/{name}") as fh:
            return fh.read().rsplit(")", 1)[-1].split()
    except OSError:
        return []  # the process ended


def tree_rss_bytes() -> int:
    fields = (_proc_fields(pid, "statm") for pid in _tree(os.getpid()))
    return sum(int(f[1]) for f in fields if f) * os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s() -> float:
    """User + system CPU of the process tree, reaped children included."""
    fields = (_proc_fields(pid, "stat") for pid in _tree(os.getpid()))
    # after the comm field: utime, stime, cutime, cstime are fields 12..15
    ticks = sum(int(x) for f in fields if f for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak RSS of this process plus its JVM and Python-worker children."""

    def __init__(self, interval: float = 0.25):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, tree_rss_bytes())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ run


class Run:
    """State of one benchmark run: session, spans, operation counts."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.id = f"{workload}-s{seed}-p{os.getpid()}"
        self.dir = os.path.join(WORK, "runs", self.id)
        self.log_dir = os.path.join(self.dir, "eventlog")
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.attempted = 0
        self.failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def start_session(self, master: str | None = None, event_log: bool = False) -> None:
        from clawrag_spark.session import get_spark

        self.stop_session()
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={self.path('tmp')}",
        }
        if event_log:
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.log_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark("perfbench", master=master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop the session; this also closes its event log."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for both to end."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    @contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        """Time a block; ``cpu`` also records the process tree's CPU seconds."""
        rec = {"name": name, "run": self.id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        if self.trace and "traced" in attrs:  # label the operation's jobs
            self.spark.sparkContext.setJobGroup(name, f"{self.id}:{name}")
        cpu0 = tree_cpu_s() if cpu else 0.0
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if cpu:
                rec["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED check: {what}", file=sys.stderr)
        return ok

    def guarded(self, what: str, fn, *args, **kwargs):
        """Call ``fn``; a raise counts as one failed operation (None back)."""
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"FAILED op: {what}", file=sys.stderr)
            traceback.print_exc()
            return None

    def setup(self, stage_fn) -> dict:
        """Session start + input staging, ``SETUP_ROUNDS`` times."""
        walls, starts = [], []
        for i in range(SETUP_ROUNDS):
            with self.span("setup", round=i) as rec:
                t0 = time.perf_counter()
                self.start_session(event_log=self.trace)
                starts.append(time.perf_counter() - t0)
                stage_fn()
            walls.append(rec["dur"])
        return {"setup_s": median(walls), "session_start_s": median(starts)}

    def measure(self, op_fn) -> list[dict]:
        """Closed loop for ``seconds``; traced runs alternate plain/traced."""
        results, i = [], 0
        deadline = time.perf_counter() + self.seconds
        while len(results) < 1 + self.trace or time.perf_counter() < deadline:
            res = op_fn(i, traced=self.trace and i % 2 == 1)
            if res is not None:
                results.append(res)
            i += 1
            if i >= 3 * (1 + self.trace) and not results:
                raise RuntimeError("no operation completed")
        return results

    def write_spans(self) -> str:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        out = os.path.join(WORK, "traces", f"{self.id}.json")
        with open(out, "w") as fh:
            json.dump({"run": self.id, "spans": self.spans}, fh, indent=1, default=str)
        return out


# ------------------------------------------------------- core / udfs layer


def kernel_layer(seed: int) -> dict:
    """Per-document kernels timed in-process on a fixed seeded sample."""
    import numpy as np
    import pyarrow as pa

    from clawrag_spark.core import oracle
    from clawrag_spark.core.embedder import embed_many_np
    from clawrag_spark.corpus import generate_pages
    from clawrag_spark.udfs import make_chunk_embed_arrow

    rows = generate_pages(KERNEL_PAGES, seed, CONTENT_SCALE).to_pylist()

    def timed(fn, reps: int = 3) -> float:
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return median(walls)

    texts = [d.text for d in (oracle.process_document(r["html"], r["lang"]) for r in rows)
             if d.text]
    chunk_texts = [c.text for t in texts for c in oracle.chunk_document(t)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"u{i}" for i in range(len(texts))]),
         pa.array(np.zeros(len(texts), np.int32)),
         pa.array([f"d{i}" for i in range(len(texts))]),
         pa.array(texts)],
        names=["url", "url_bucket", "doc_id", "text"],
    )
    kernel = make_chunk_embed_arrow(oracle.DEFAULT_CHUNK_SIZE,
                                    oracle.DEFAULT_CHUNK_OVERLAP, 64)
    return {
        "core.extract_ms_per_doc": 1e3 * timed(
            lambda: [oracle.process_document(r["html"], r["lang"]) for r in rows]) / len(rows),
        "core.chunk_ms_per_doc": 1e3 * timed(
            lambda: [oracle.chunk_document(t) for t in texts]) / len(texts),
        "core.embed_ms_per_chunk": 1e3 * timed(
            lambda: embed_many_np(chunk_texts, 64)) / len(chunk_texts),
        "udfs.chunk_embed_ms_per_batch": 1e3 * timed(lambda: list(kernel(iter([batch])))),
    }


# ------------------------------------------------------ pipeline workload


def pipeline_expected(rows: list[dict], docs: dict) -> tuple[dict, list]:
    """Reference digests of a run over ``rows`` from the ``core.oracle``
    results ``docs`` (by url), plus the (chunk_id, text) rows it indexes."""
    from clawrag_spark.core import oracle

    latest: dict[str, tuple] = {}  # doc_hash -> newest (warc_ts, url): the active version
    for r in rows:
        key = (r["warc_ts"], r["url"])
        h = docs[r["url"]].doc_hash
        latest[h] = max(latest.get(h, key), key)
    chunks, texts = [], []
    for _, url in latest.values():
        d = docs[url]
        if d.error is None and d.text_length > 0:
            for i, c in enumerate(oracle.chunk_document(d.text)):
                chunks.append((url, i, c.char_start, c.char_end,
                               hashlib.sha1(c.text.encode()).hexdigest()))
                texts.append((f"{d.doc_id}_chunk_{i}", c.text))
    return {
        "extracted": digest((r["url"], docs[r["url"]].text, docs[r["url"]].error)
                            for r in rows),
        "chunks": digest(chunks),
        "parse_failures": sum(docs[r["url"]].error is not None for r in rows),
    }, texts


class Bm25Reference:
    """From-scratch BM25 over the oracle chunk rows, scored the way a
    single-run index scores them: terms are ``[a-z0-9]+`` runs of the
    lowercased text, postings and lengths are per chunk id, a chunk with
    no terms has no length row, and negative idfs are floored at
    ``epsilon`` x the vocabulary's mean idf."""

    def __init__(self, chunks: list[tuple[str, str]], k1: float = 1.5,
                 b: float = 0.75, epsilon: float = 0.25):
        self.k1, self.b = k1, b
        self.tfs: dict[str, Counter] = {}
        self.rows = Counter()
        for cid, text in chunks:
            tokens = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
            if tokens:
                self.tfs.setdefault(cid, Counter()).update(tokens)
                self.rows[cid] += 1
        dfs = Counter(t for tf in self.tfs.values() for t in tf)
        n = sum(self.rows.values())
        self.avgdl = sum(self.rows[c] * sum(tf.values()) for c, tf in self.tfs.items()) / n
        raw = {t: math.log(n - df + 0.5) - math.log(df + 0.5) for t, df in dfs.items()}
        floor = epsilon * sum(raw.values()) / len(raw)
        self.idf = {t: floor if v < 0 else v for t, v in raw.items()}

    def top10(self, terms: list[str]) -> list[tuple]:
        """(chunk_id, 6-dp score) by score desc, then id."""
        k1, b = self.k1, self.b
        q = {t.lower() for t in terms} & self.idf.keys()
        scores = []
        for cid, tf in self.tfs.items():
            dl = sum(tf.values())
            score = self.rows[cid] * sum(
                self.idf[t] * tf[t] * (k1 + 1) / (tf[t] + k1 * (1 - b + b * dl / self.avgdl))
                for t in q if t in tf)
            if score > 0:
                scores.append((cid, round(score, 6)))
        return sorted(scores, key=lambda r: (-r[1], r[0]))[:10]


def pipeline_actual(out_dir: str) -> dict:
    import pyarrow.parquet as pq

    ext = pq.read_table(os.path.join(out_dir, "extracted"),
                        columns=["url", "text", "error"]).to_pylist()
    chunks = pq.read_table(
        os.path.join(out_dir, "chunks"),
        columns=["url", "chunk_index", "char_start", "char_end", "text"],
    ).to_pylist()
    metrics = pq.read_table(os.path.join(out_dir, "metrics"),
                            columns=["n_parse_failures"]).to_pylist()
    return {
        "extracted": digest((r["url"], r["text"], r["error"]) for r in ext),
        "chunks": digest(
            (r["url"], r["chunk_index"], r["char_start"], r["char_end"],
             hashlib.sha1(r["text"].encode()).hexdigest()) for r in chunks),
        "parse_failures": sum(r["n_parse_failures"] for r in metrics),
    }


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


class PipelineWorkload:
    def __init__(self, run: Run):
        from clawrag_spark.core import oracle
        from clawrag_spark.corpus import generate_pages

        self.run = run
        self.pages = generate_pages(PAGES, run.seed, CONTENT_SCALE)
        self.n_base = int(PAGES * BASE_SHARE)
        self.full_path = run.path("pages.parquet")
        self.base_path = run.path("base.parquet")
        self.base_dir = run.path("base_out")
        rng = random.Random(run.seed)
        self.probes = [rng.sample(PROBE_VOCAB, rng.randint(2, 3)) for _ in range(N_PROBES)]
        rows = self.pages.to_pylist()
        docs = {r["url"]: oracle.process_document(r["html"], r["lang"]) for r in rows}
        self.expected, full_chunks = pipeline_expected(rows, docs)
        _, base_chunks = pipeline_expected(rows[: self.n_base], docs)
        base_ref, full_ref = Bm25Reference(base_chunks), Bm25Reference(full_chunks)
        self.base_probes = [base_ref.top10(t) for t in self.probes]
        self.full_probes = [full_ref.top10(t) for t in self.probes]
        base_hashes = {docs[r["url"]].doc_hash for r in rows[: self.n_base]}
        self.expected_skipped = sum(docs[r["url"]].doc_hash in base_hashes for r in rows)

    def stage(self) -> None:
        import pyarrow.parquet as pq

        os.makedirs(self.run.dir, exist_ok=True)
        pq.write_table(self.pages, self.full_path)
        pq.write_table(self.pages.slice(0, self.n_base), self.base_path)

    def warmup(self) -> None:
        """Commit the 90 % snapshot + BM25 index the probes read and the
        refresh starts from, and probe it once so that path is warm too."""
        from clawrag_spark.pipeline import run_pipeline

        spark = self.run.spark
        run_pipeline(spark, spark.read.parquet(self.base_path),
                     self.run.fresh("base_out"), resume=False, bm25_index=True)
        for terms in self.probes:
            self._probe(self.base_dir, terms)

    def _probe(self, out_dir: str, terms: list[str], rec: dict | None = None):
        from pyspark.sql import functions as F

        from clawrag_spark.pipeline import bm25_query_index

        t0 = time.perf_counter()
        df = bm25_query_index(self.run.spark, out_dir, terms)
        t1 = time.perf_counter()
        rows = df.orderBy(F.desc("bm25_score"), "chunk_id").limit(10).collect()
        if rec is not None:
            rec["build_s"], rec["exec_s"] = t1 - t0, time.perf_counter() - t1
        return [(r["chunk_id"], round(r["bm25_score"], 6)) for r in rows]

    def _probes(self, out_dir: str, expected: list, i, traced: bool) -> list[dict] | None:
        recs = []
        for terms, ref in zip(self.probes, expected):
            with self.run.span("probe", cpu=True, iteration=i, traced=traced,
                               terms=terms) as rec:
                rows = self.run.guarded("probe", self._probe, out_dir, terms, rec)
            if rows is None:
                return None
            self.run.check(rows == ref, f"probe {terms}: {rows} != {ref}")
            recs.append(rec)
        return recs

    def op(self, i: int, traced: bool) -> dict | None:
        """Bulk extraction into a fresh dir, then probes of the snapshot."""
        from clawrag_spark.pipeline import run_pipeline

        run, spark = self.run, self.run.spark
        out_b = run.fresh(f"bulk{i}")
        with run.span("bulk", cpu=True, iteration=i, traced=traced) as bulk:
            m_b = run.guarded("bulk", run_pipeline, spark,
                              spark.read.parquet(self.full_path), out_b, resume=False)
        if m_b is None:
            return None
        with run.span("check"):
            got = pipeline_actual(out_b)
        run.check(got == self.expected, f"bulk output {got} != {self.expected}")
        bulk["manifest"], bulk["parse_failures"] = m_b, got["parse_failures"]
        bulk["out_bytes_per_in_byte"] = _parquet_bytes(out_b) / os.path.getsize(self.full_path)
        shutil.rmtree(out_b, ignore_errors=True)
        probes = self._probes(self.base_dir, self.base_probes, i, traced)
        if probes is None:
            return None
        timed = [bulk, *probes]
        return {"op_s": sum(r["dur"] for r in timed),
                "op_cpu_s": sum(r["cpu_s"] for r in timed), "traced": traced,
                "bulk_s": bulk["dur"], "probe_s": [r["dur"] for r in probes]}

    def traced_extra(self) -> None:
        """Refresh: resume + incremental index over the full corpus on a
        copy of the committed snapshot, then probes of the new one."""
        from clawrag_spark.pipeline import run_pipeline

        run, spark = self.run, self.run.spark
        out_r = run.fresh("refresh")
        shutil.copytree(self.base_dir, out_r)
        with run.span("refresh", cpu=True, traced=True) as rec:
            m_r = run.guarded("refresh", run_pipeline, spark,
                              spark.read.parquet(self.full_path), out_r,
                              resume=True, bm25_index=True)
        if m_r is None:
            return
        rec["manifest"] = m_r
        run.check(m_r["n_skipped_resume"] == self.expected_skipped,
                  f"refresh skipped {m_r['n_skipped_resume']} != {self.expected_skipped}")
        self._probes(out_r, self.full_probes, "refresh", traced=True)

    def summary(self, results: list[dict]) -> dict:
        probes = [p for r in results for p in r["probe_s"]]
        named = {
            "bulk_docs_per_s": PAGES / median(r["bulk_s"] for r in results),
            "probe_p50_ms": 1e3 * median(probes),
            "probe_samples": len(probes),
        }
        tail = tail_percentile(probes)
        if tail:
            named[f"probe_p{tail[0]:g}_ms"] = 1e3 * tail[1]
        return named

    def layers(self, log, results: list[dict]) -> dict:
        spans = self.run.spans
        bulks = [s for s in spans if s["name"] == "bulk" and "manifest" in s]
        refreshes = [s for s in spans if s["name"] == "refresh" and "manifest" in s]
        probes = [s for s in spans if s["name"] == "probe" and "build_s" in s]
        totals = [log.totals(s["start"], s["end"]) for s in bulks]
        out = {f"pipeline.{k}": median(t[k] for t in totals)
               for k in ("jobs", "stages", "tasks", "executor_cpu_s", "extract_stage_cpu_s",
                         "chunk_stage_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes",
                         "spill_bytes", "task_skew")}
        out["pipeline.cpu_util"] = median(
            t["executor_cpu_s"] / (s["dur"] * CPUS) for t, s in zip(totals, bulks))
        out["pipeline.out_bytes_per_in_byte"] = median(s["out_bytes_per_in_byte"] for s in bulks)
        out["pipeline.parse_failures"] = median(s["parse_failures"] for s in bulks)
        out["pipeline.resume_skipped"] = median(
            s["manifest"]["n_skipped_resume"] for s in refreshes)
        out["pipeline.bulk_s"] = median(s["dur"] for s in bulks)
        out["pipeline.refresh_s"] = median(s["dur"] for s in refreshes)
        out["pipeline.docs_per_s"] = PAGES / out["pipeline.bulk_s"]
        for label in STAGE_LABELS:
            out[f"pipeline.stage_sec.{label}"] = median(
                s["manifest"]["stage_sec"].get(label, 0.0) for s in bulks)
        out["bm25.index_s"] = median(
            s["manifest"]["stage_sec"].get("bm25_index", 0.0) for s in refreshes)
        out["bm25.probe_p50_ms"] = 1e3 * median(s["dur"] for s in probes)
        out["bm25.probe_build_ms"] = 1e3 * median(s["build_s"] for s in probes)
        out["bm25.probe_exec_ms"] = 1e3 * median(s["exec_s"] for s in probes)
        out["bm25.probe_jobs"] = median(log.totals(s["start"], s["end"])["jobs"] for s in probes)
        # the manifest's own stage timings against the bulk run's wall
        out["trace.accounted_share"] = median(
            sum(s["manifest"]["stage_sec"].values()) / s["dur"] for s in bulks)
        return out

    def diagnostics(self, out: dict) -> None:
        """One bulk run at local[1] beside local[CPUS] (not gated)."""
        from clawrag_spark.pipeline import run_pipeline

        run = self.run
        run.start_session(master="local[1]")
        out_dir = run.fresh("local1")
        t0 = time.perf_counter()
        run_pipeline(run.spark, run.spark.read.parquet(self.full_path), out_dir, resume=False)
        out["pipeline.docs_per_s_local1"] = PAGES / (time.perf_counter() - t0)
        out["pipeline.scaling_eff_1v4"] = (out["pipeline.docs_per_s"]
                                           / (CPUS * out["pipeline.docs_per_s_local1"]))


# --------------------------------------------------------- query workload


def _canon(value):
    if isinstance(value, float):
        return "nan" if math.isnan(value) else round(value, 6)
    if isinstance(value, bool):
        return bool(value)
    if hasattr(value, "isoformat"):
        return value.isoformat()[:26]
    return value


def canon_rows(rows, columns) -> str:
    """Order-insensitive 6-dp digest, as the entry oracle tests compare."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return digest(tuple(_canon(row[i]) for i in order) for row in rows)


class QueryWorkload:
    def __init__(self, run: Run):
        import __spark_entry__ as entry

        self.run = run
        self.sf = run.path("sf")
        # the demo pages/pipeline outputs the webgraph queries read are
        # seed-free program outputs: built once per checkout, under the
        # work dir instead of the repository's data/
        demo = os.path.join(WORK, "shared", "pipeline_demo")
        entry._DEMO_DIR, entry._DEMO_OUT = demo, os.path.join(demo, "out")
        self.fns = entry.queries()
        self.sqls = entry.oracle_sql()
        self.names = [(fam, q) for fam, qs in QUERY_MIX.items() for q in qs]
        self.expected: dict[str, str] = {}
        self.prepay: dict[str, dict] = {}

    def stage(self) -> None:
        from seeded_tables import write_sf_tables

        write_sf_tables(self.sf, self.run.seed, N_DOCS, N_LINEITEM)

    def _pass(self, label: str, traced: bool, check: bool) -> dict | None:
        run, spark = self.run, self.run.spark
        recs = {}
        with run.span(label, cpu=True, traced=traced) as top:
            for family, q in self.names:
                rows = None
                with run.span(q, family=family, traced=traced) as rec:
                    t0 = time.perf_counter()
                    df = run.guarded(q, self.fns[q], spark, self.sf)
                    t1 = time.perf_counter()
                    if df is not None:
                        if traced:
                            df._jdf.queryExecution().executedPlan()
                        t2 = time.perf_counter()
                        rows = run.guarded(q, df.collect)
                        rec.update(construct_s=t1 - t0, plan_s=t2 - t1,
                                   exec_s=time.perf_counter() - t2)
                if rows is None:
                    return None
                if check:
                    run.check(canon_rows(rows, df.columns) == self.expected[q],
                              f"{q} differs from its oracle_sql() twin")
                recs[q] = rec
        recs["_pass"] = top
        return recs

    def warmup(self) -> None:
        """A first pass: builds every session artifact the queries use."""
        recs = self._pass("prepay", traced=False, check=False)
        if recs is None:
            raise RuntimeError("prepay pass failed")
        self.prepay = recs
        self._oracle()

    def _oracle(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "lineitem"):
                path = os.path.join(self.sf, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for _, q in self.names:
                res = con.execute(self.sqls[q])
                self.expected[q] = canon_rows(res.fetchall(), [d[0] for d in res.description])
        finally:
            con.close()

    def op(self, i: int, traced: bool) -> dict | None:
        recs = self._pass("pass", traced=traced, check=True)
        if recs is None:
            return None
        return {"op_s": recs["_pass"]["dur"], "op_cpu_s": recs["_pass"]["cpu_s"],
                "traced": traced, "queries": recs}

    def summary(self, results: list[dict]) -> dict:
        return {"query_mix_s": median(r["op_s"] for r in results)}

    def traced_extra(self) -> None:
        pass

    def diagnostics(self, out: dict) -> None:
        pass

    def layers(self, log, results: list[dict]) -> dict:
        plain = [r["queries"] for r in results if not r["traced"]]
        traced = [r["queries"] for r in results if r["traced"]]
        out: dict[str, float] = {}
        for family, q in self.names:
            per = [t[q] for t in traced]
            tot = [log.totals(r["start"], r["end"]) for r in per]
            vals = {
                "construct_s": median(r["construct_s"] for r in per),
                "plan_s": median(r["plan_s"] for r in per),
                "exec_s": median(r["exec_s"] for r in per),
                "jobs": median(t["jobs"] for t in tot),
                "stages": median(t["stages"] for t in tot),
                "executor_cpu_s": median(t["executor_cpu_s"] for t in tot),
                "shuffle_bytes": median(t["shuffle_write_bytes"] for t in tot),
                "spill_bytes": median(t["spill_bytes"] for t in tot),
            }
            build = max(0.0, self.prepay[q]["dur"] - median(p[q]["dur"] for p in plain))
            out[f"cache.{family}_build_s"] = out.get(f"cache.{family}_build_s", 0.0) + build
            for k, v in vals.items():
                for scope in (family, "entry"):
                    out[f"{scope}.{k}"] = out.get(f"{scope}.{k}", 0.0) + v
        out["cache.build_s_total"] = sum(out[f"cache.{f}_build_s"] for f in QUERY_MIX)
        # traced construct + plan + exec against the plain per-query walls
        plain_total = sum(median(p[q]["dur"] for p in plain) for _, q in self.names)
        out["trace.accounted_share"] = (
            (out["entry.construct_s"] + out["entry.plan_s"] + out["entry.exec_s"])
            / plain_total)
        return out


# ----------------------------------------------------------------- main


WORKLOADS = {"pipeline": PipelineWorkload, "query_mix": QueryWorkload}


def run_benchmark(run: Run) -> dict:
    import eventlog

    with run.span("prepare"):
        wl = WORKLOADS[run.workload](run)
    with RssSampler() as rss:
        setup = run.setup(wl.stage)
        with run.span("warmup") as warm:
            wl.warmup()
        results = run.measure(wl.op)
        plain = [r for r in results if not r["traced"]]
        metrics = {"setup_s": setup["setup_s"] + warm["dur"],
                   "op_s": median(r["op_s"] for r in plain),
                   "op_cpu_s": median(r["op_cpu_s"] for r in plain)}
        named = wl.summary(plain)
        layers = None
        if run.trace:
            wl.traced_extra()
            run.stop_session()
            log = eventlog.load(run.log_dir)
            for span in run.spans:  # Spark's own totals for each timed block
                if "traced" in span:
                    span["spark"] = log.totals(span["start"], span["end"])
            layers = {k: 0.0 for k in PER_LAYER_UNITS}
            layers.update(wl.layers(log, results))
            layers["session.start_s"] = setup["session_start_s"]
            layers["session.warmup_s"] = warm["dur"]
            traced_op = median(r["op_s"] for r in results if r["traced"])
            layers["trace.op_s"] = traced_op
            layers["trace.overhead_ratio"] = traced_op / metrics["op_s"]
            layers.update(kernel_layer(run.seed))
            wl.diagnostics(layers)
        with run.span("shutdown"):
            run.shutdown()
    named["peak_rss_mb"] = rss.peak / 2**20
    if layers is not None:
        layers["session.peak_rss_mb"] = named["peak_rss_mb"]
    return {"metrics": metrics, "named": named, "layers": layers,
            "op_walls": [r["op_s"] for r in results]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        import clawrag_spark.pipeline  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from a clawrag_spark checkout root ({exc})", file=sys.stderr)
        return 2

    # a run stopped from outside still shuts its JVM down and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs_dir = os.path.join(WORK, "runs")
    for stale in os.listdir(runs_dir) if os.path.isdir(runs_dir) else ():
        if not os.path.exists(f"/proc/{stale.rsplit('-p', 1)[-1]}"):
            shutil.rmtree(os.path.join(runs_dir, stale), ignore_errors=True)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.dir, ignore_errors=True)
    os.makedirs(run.path("tmp"))
    tempfile.tempdir = run.path("tmp")
    os.environ.update(
        TMPDIR=run.path("tmp"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_LOCAL_DIR=run.path("spark-local"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    try:
        res = run_benchmark(run)
    finally:
        try:
            run.shutdown()
        finally:
            if run.trace:
                print("spans:", run.write_spans(), file=sys.stderr)
            shutil.rmtree(run.dir, ignore_errors=True)

    named = {**res["named"], "setup_s": res["metrics"]["setup_s"],
             "error_rate": run.failed / max(run.attempted, 1)}
    print(f"workload={run.workload} seed={run.seed} local[{CPUS}] "
          f"attempted={run.attempted} failed={run.failed} op_walls_s="
          + ",".join(f"{w:.3f}" for w in res["op_walls"]))
    for k, v in named.items():
        print(f"  {k} = {v:.6g}")
    if args.trace:
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
