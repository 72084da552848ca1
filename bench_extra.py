#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (bench.py is frozen).

Per-query timing at an arbitrary SF dir with the same methodology as
bench.py (fn(spark, sf_dir) + .count()), with every session artifact
prepaid first (``--no-builds`` leaves them to the first consumer), plus
optional ``explain('formatted')`` plan capture for the plans/ evidence
directory and a bit-exact result snapshot/compare mode used to prove a
rewritten query computes the identical result (floats compared as raw
IEEE-754 bit patterns, stronger than the 6-dp oracle canon).

Usage:
  python bench_extra.py time  --sf /root/testdata/sf1.0 --queries a,b,c [--repeat 2]
  python bench_extra.py plans --sf /root/testdata/sf0.1 --queries a,b --out plans/r06 --suffix before
  python bench_extra.py snap  --sf /root/testdata/sf0.1 --queries a,b --out /tmp/snap_before
  python bench_extra.py cmp   --sf /root/testdata/sf0.1 --queries a,b --out /tmp/snap_before
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def get_session(cpus: int, ui: bool = False):
    from clawrag_spark.session import get_spark

    spark = get_spark(
        "bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true"} if ui else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prepay_builds(spark, sf_dir: str) -> dict:
    """Build the pipeline demo and every registered session artifact
    before timing, so no query absorbs a shared build: {name: seconds}."""
    import __spark_entry__ as entry
    from clawrag_spark.session import prepay

    t0 = time.monotonic()
    entry._ensure_pipeline_demo(spark)
    return {"pipeline_demo": round(time.monotonic() - t0, 3), **prepay(spark, sf_dir)}


def _canon_cell(v):
    if isinstance(v, float):
        return "f:" + struct.pack(">d", v).hex()
    if isinstance(v, bool):
        return "b:%d" % v
    if hasattr(v, "isoformat"):
        return "t:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_canon_cell(x)) for x in v) + "]"
    return repr(v)


def snapshot_rows(df):
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        "|".join(str(_canon_cell(r[i])) for i in order) for r in df.collect()
    )
    return {"columns": cols, "rows": rows}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["time", "plans", "snap", "cmp", "profile"])
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--out", default="plans/r06")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--no-builds", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry

    qs = entry.queries()
    names = [n for n in args.queries.split(",") if n] or list(qs)
    for n in names:
        if n not in qs:
            raise SystemExit(f"unknown query {n}")

    spark = get_session(args.cpus, ui=(args.mode == "profile"))
    builds = {} if args.no_builds else prepay_builds(spark, args.sf)
    if builds:
        print("builds:", json.dumps(builds), file=sys.stderr)

    if args.mode == "time":
        out = {}
        for n in names:
            times = []
            for _ in range(args.repeat):
                spark.sparkContext.setJobDescription(f"bench_extra:{n}")
                t0 = time.monotonic()
                df = qs[n](spark, args.sf)
                cnt = df.count()
                times.append(round(time.monotonic() - t0, 4))
            out[n] = {"sec": min(times), "all": times, "rows": cnt}
            print(f"{n:28s} {min(times):9.3f}s  rows={cnt}", file=sys.stderr)
        print(json.dumps({n: v["sec"] for n, v in out.items()}))
    elif args.mode == "profile":
        import urllib.request

        for n in names:
            spark.sparkContext.setJobDescription(f"profile:{n}")
            t0 = time.monotonic()
            df = qs[n](spark, args.sf)
            cnt = df.count()
            wall = round(time.monotonic() - t0, 3)
            app_id = spark.sparkContext.applicationId
            url = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{app_id}/stages?status=complete"
            stages = json.loads(urllib.request.urlopen(url).read())
            stages.sort(key=lambda s: -s.get("executorRunTime", 0))
            print(f"== {n}: wall={wall}s rows={cnt} (top stages by executor time)", file=sys.stderr)
            for s in stages[:14]:
                print(
                    f"  stage {s['stageId']:4d} tasks={s['numCompleteTasks']:4d} "
                    f"run={s['executorRunTime']/1000:8.1f}s cpu={s.get('executorCpuTime',0)/1e9:8.1f}s "
                    f"shR={s.get('shuffleReadBytes',0)/1e6:8.1f}MB shW={s.get('shuffleWriteBytes',0)/1e6:8.1f}MB "
                    f"in={s.get('inputBytes',0)/1e6:7.1f}MB rows_out={s.get('outputRecords',0) or s.get('shuffleWriteRecords',0)} "
                    f"| {s.get('description') or s['name'][:90]}",
                    file=sys.stderr,
                )
    elif args.mode == "plans":
        os.makedirs(args.out, exist_ok=True)
        for n in names:
            df = qs[n](spark, args.sf)
            path = os.path.join(args.out, f"{n}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print("wrote", path, file=sys.stderr)
    elif args.mode in ("snap", "cmp"):
        os.makedirs(args.out, exist_ok=True)
        bad = []
        for n in names:
            df = qs[n](spark, args.sf)
            snap = snapshot_rows(df)
            path = os.path.join(args.out, f"{n}.json")
            if args.mode == "snap":
                with open(path, "w") as fh:
                    json.dump(snap, fh)
                print(f"snap {n}: {len(snap['rows'])} rows", file=sys.stderr)
            else:
                with open(path) as fh:
                    ref = json.load(fh)
                ok = ref["rows"] == snap["rows"] and sorted(ref["columns"]) == sorted(snap["columns"])
                print(f"cmp {n}: {'BIT-EXACT MATCH' if ok else 'MISMATCH'} ({len(snap['rows'])} rows)", file=sys.stderr)
                if not ok:
                    bad.append(n)
                    for i, (a, b) in enumerate(zip(ref["rows"], snap["rows"])):
                        if a != b:
                            print(f"  first diff row {i}:\n   ref {a}\n   new {b}", file=sys.stderr)
                            break
        if args.mode == "cmp":
            print(json.dumps({"mismatches": bad}))
            if bad:
                sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
