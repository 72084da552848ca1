"""Small-file compaction: layout changes, content doesn't; gated
readers and resume survive a compaction pass."""

import os

from pyspark.sql import functions as F
from clawrag_spark.maintenance import compact_parquet_dir, compact_pipeline_output, dir_stats
from clawrag_spark.pipeline import read_chunks, run_pipeline


def _rows(spark, path, key_cols):
    df = spark.read.parquet(path)
    return sorted(
        [tuple(r) for r in df.select(*sorted(df.columns)).collect()],
        key=lambda t: t[: len(key_cols)],
    )


def test_compaction_preserves_content_and_readers(spark, pages_path, tmp_path):
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_path)
    # two runs -> appended files; high partition count -> many small files
    run_pipeline(spark, pages.limit(200), out, run_id="r1", num_partitions=24)
    run_pipeline(spark, pages.limit(400), out, run_id="r2", num_partitions=24)

    chunks_dir = os.path.join(out, "chunks")
    before_rows = _rows(spark, chunks_dir, ["chunk_id"])
    files_before, _ = dir_stats(chunks_dir)
    assert files_before > 4, "fixture failed to produce small files"

    res = compact_pipeline_output(spark, out, target_file_bytes=64 * 1024 * 1024)
    assert res["chunks"]["compacted"] is True
    assert res["chunks"]["files_after"] < files_before

    assert _rows(spark, chunks_dir, ["chunk_id"]) == before_rows
    # manifest-gated reader still sees both committed runs
    gated = read_chunks(spark, out)
    runs = {r["run_id"] for r in gated.select("run_id").distinct().collect()}
    assert runs == {"r1", "r2"}

    # resume over compacted output: nothing reprocessed
    m = run_pipeline(spark, pages.limit(400), out, run_id="r3")
    assert m["n_skipped_resume"] == m["n_input"]


def test_compaction_noop_paths(spark, tmp_path):
    missing = compact_parquet_dir(spark, str(tmp_path / "nope"))
    assert missing == {"compacted": False, "reason": "missing"}
    one = str(tmp_path / "one")
    spark.range(10).coalesce(1).write.parquet(one)
    res = compact_parquet_dir(spark, one)
    assert res["compacted"] is False and res["reason"] == "already_compact"


class TestExpireRuns:
    def test_expiry_preserves_rows_resume_and_bm25(self, spark, tmp_path):
        """Three committed runs -> expire to keep_last=1: latest view
        row-identical, resume still skips everything, BM25 index scores
        unchanged, time travel to expired snapshots now raises."""
        import pytest as _pytest

        from clawrag_spark.corpus import write_pages_parquet
        from clawrag_spark.maintenance import expire_runs
        from clawrag_spark.pipeline import (
            _bm25_current,
            bm25_query_index,
            bm25_snapshot_summary,
            completed_run_ids,
            read_chunks,
            run_pipeline,
        )

        out = str(tmp_path / "out")
        paths, manifests = [], []
        for i, n in enumerate((30, 20, 25)):
            p = write_pages_parquet(str(tmp_path / f"p{i}.parquet"), n, seed=20 + i)
            paths.append(p)
            manifests.append(
                run_pipeline(spark, spark.read.parquet(p), out, bm25_index=True)
            )
        before_chunks = sorted(
            r["chunk_id"] for r in read_chunks(spark, out).select("chunk_id").collect()
        )
        terms = ["daten", "extraction"]
        before_scores = {
            r["chunk_id"]: r["bm25_score"]
            for r in bm25_query_index(spark, out, terms).collect()
        }

        index_dir = os.path.join(out, "bm25_index")
        summary_before = _bm25_current(index_dir)["summary"]
        res = expire_runs(spark, out, keep_last=1)
        assert res["expired"] and res["bm25_merged"]
        pointer = _bm25_current(index_dir)
        assert pointer["summary"] == summary_before == bm25_snapshot_summary(
            spark, index_dir, pointer["df"], pointer["stats"]
        )
        assert res["expired_runs"] == [m["run_id"] for m in manifests[:2]]

        # history: exactly [base, last]
        runs_after = completed_run_ids(out)
        assert runs_after == [res["base_run_id"], manifests[2]["run_id"]]

        # rows preserved exactly
        after_chunks = sorted(
            r["chunk_id"] for r in read_chunks(spark, out).select("chunk_id").collect()
        )
        assert after_chunks == before_chunks

        # BM25 scoring identical after partition merge + pointer swap
        after_scores = {
            r["chunk_id"]: r["bm25_score"]
            for r in bm25_query_index(spark, out, terms).collect()
        }
        assert after_scores == before_scores

        # resume: re-running run 1's pages skips every doc
        m = run_pipeline(spark, spark.read.parquet(paths[0]), out)
        assert m["n_skipped_resume"] == m["n_input"]

        # time travel to an expired snapshot no longer resolves
        with _pytest.raises(ValueError, match="no committed run"):
            read_chunks(spark, out, as_of_run=manifests[0]["run_id"])


class TestPlanNextRun:
    def _write_metrics(self, spark, tmp_path, rows):
        import os

        df = spark.createDataFrame(
            rows,
            "part_id int, n_docs long, n_parse_failures long, "
            "n_text_chars long, elapsed_sec double, docs_per_sec double, "
            "run_id string",
        )
        out = str(tmp_path / "out")
        df.write.mode("overwrite").parquet(os.path.join(out, "metrics"))
        return out

    def test_balanced_run_keeps_width(self, spark, tmp_path):
        from clawrag_spark.maintenance import plan_next_run

        rows = [(i, 100, 0, 10000, 10.0 + i * 0.1, 10.0, "r1")
                for i in range(8)]
        out = self._write_metrics(spark, tmp_path, rows)
        plan = plan_next_run(spark, out)
        assert plan["recommended_width"] == 8
        assert plan["skew"] < 1.5 and not plan["failure_concentrated"]

    def test_skewed_run_scales_width_capped(self, spark, tmp_path):
        from clawrag_spark.maintenance import plan_next_run

        rows = [(i, 100, 0, 10000, 1.0, 100.0, "r1") for i in range(7)]
        rows.append((7, 100, 0, 10000, 93.0, 1.1, "r1"))  # straggler
        out = self._write_metrics(spark, tmp_path, rows)
        plan = plan_next_run(spark, out, current_width=8)
        assert plan["skew"] > 5
        # capped at 4x
        assert plan["recommended_width"] == 32

    def test_failure_concentration_flagged_and_latest_run_picked(
        self, spark, tmp_path
    ):
        from clawrag_spark.maintenance import plan_next_run

        rows = [(i, 100, 1, 10000, 10.0, 10.0, "r1") for i in range(4)]
        rows += [(i, 100, 0, 10000, 10.0, 10.0, "r2") for i in range(3)]
        rows.append((3, 100, 9, 10000, 10.0, 10.0, "r2"))  # 9 of 9 in one
        out = self._write_metrics(spark, tmp_path, rows)
        plan = plan_next_run(spark, out)  # run_id defaults to max -> r2
        assert plan["run_id"] == "r2"
        assert plan["failure_concentrated"]
        assert "inspect" in plan["reason"]


class TestAutoPlanWiring:
    """auto_plan=True closes the feedback loop: run N+1 ADOPTS the
    width plan_next_run derives from run N's committed per-partition
    timing lineage, and the manifest records the adopted plan."""

    def test_two_run_adoption(self, spark, tmp_path):
        import os

        from clawrag_spark.corpus import write_pages_parquet
        from clawrag_spark.pipeline import run_pipeline

        out = str(tmp_path / "out")
        p1 = write_pages_parquet(str(tmp_path / "p1.parquet"), 120, seed=1)
        m1 = run_pipeline(
            spark, spark.read.parquet(p1), out, num_partitions=4
        )
        assert m1["plan"] is None  # explicit width, no plan consulted
        # run 1 really produced 4-partition lineage
        mt = spark.read.parquet(os.path.join(out, "metrics"))
        assert (
            mt.filter(F.col("run_id") == m1["run_id"])
            .select("part_id").distinct().count()
            == 4
        )
        # plant a LATER synthetic run with a known 3x straggler so the
        # recommendation is deterministic (real timings are host-noisy):
        # mean=3, max=9 -> skew 3.0 -> width 4 x 3 = 12
        skewed = [(i, 100, 0, 10_000, 1.0, 100.0, "zzz_skewed") for i in range(3)]
        skewed.append((3, 100, 0, 10_000, 9.0, 11.1, "zzz_skewed"))
        spark.createDataFrame(
            skewed,
            "part_id int, n_docs long, n_parse_failures long, "
            "n_text_chars long, elapsed_sec double, docs_per_sec double, "
            "run_id string",
        ).write.mode("append").parquet(os.path.join(out, "metrics"))
        # ... and COMMIT it with a later committed_at: plan_next_run
        # selects the most recently committed run via the manifest's
        # commit clock (run ids are random hex — lexicographic max
        # would pick an arbitrary run), so an uncommitted metrics
        # append must never be adopted
        import json as _json
        import time as _time

        with open(
            os.path.join(out, "manifest", "run_zzz_skewed.json"), "w"
        ) as fh:
            _json.dump(
                {"run_id": "zzz_skewed", "committed_at": _time.time() + 60},
                fh,
            )

        p2 = write_pages_parquet(str(tmp_path / "p2.parquet"), 150, seed=2)
        m2 = run_pipeline(
            spark, spark.read.parquet(p2), out, auto_plan=True
        )
        assert m2["plan"] is not None
        assert m2["plan"]["run_id"] == "zzz_skewed"
        assert abs(m2["plan"]["skew"] - 3.0) < 1e-9
        assert m2["plan"]["recommended_width"] == 12
        # run 2 actually RAN at the recommended width: its own lineage
        # carries 12 partitions (150 urls over 12 hash partitions —
        # every partition populated with overwhelming probability)
        n_parts2 = (
            spark.read.parquet(os.path.join(out, "metrics"))
            .filter(F.col("run_id") == m2["run_id"])
            .select("part_id").distinct().count()
        )
        assert n_parts2 == 12
        # the manifest's plan survives the JSON round-trip
        import json

        with open(
            os.path.join(out, "manifest", f"run_{m2['run_id']}.json")
        ) as fh:
            assert json.load(fh)["plan"]["recommended_width"] == 12

    def test_first_run_falls_back(self, spark, tmp_path):
        from clawrag_spark.corpus import write_pages_parquet
        from clawrag_spark.pipeline import run_pipeline

        out = str(tmp_path / "fresh")
        p = write_pages_parquet(str(tmp_path / "p.parquet"), 60, seed=3)
        m = run_pipeline(
            spark, spark.read.parquet(p), out, auto_plan=True
        )
        assert m["plan"] is None  # no prior lineage -> default width
        assert m["n_processed"] == 60

    def test_explicit_width_wins_over_auto_plan(self, spark, tmp_path):
        import os

        from clawrag_spark.corpus import write_pages_parquet
        from clawrag_spark.pipeline import run_pipeline

        out = str(tmp_path / "out2")
        p1 = write_pages_parquet(str(tmp_path / "q1.parquet"), 60, seed=4)
        run_pipeline(spark, spark.read.parquet(p1), out, num_partitions=4)
        p2 = write_pages_parquet(str(tmp_path / "q2.parquet"), 60, seed=5)
        m2 = run_pipeline(
            spark, spark.read.parquet(p2), out,
            num_partitions=6, auto_plan=True,
        )
        assert m2["plan"] is None  # explicit num_partitions wins
        n_parts = (
            spark.read.parquet(os.path.join(out, "metrics"))
            .filter(F.col("run_id") == m2["run_id"])
            .select("part_id").distinct().count()
        )
        assert n_parts == 6
