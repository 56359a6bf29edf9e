#!/usr/bin/env python
"""Per-query measurement harness for optimization work (guide §1).

bench.py is FROZEN for driver measurement; this file holds the extra
instrumentation the optimization rounds need:

  * time any subset of the contract queries at any SF dir with the SAME
    methodology as bench.py (1 warmup + k timed ``.collect()`` runs, min
    published, driver GC between runs, steal% labeled);
  * optional noop-sink isolation (``--noop``) to time computation without
    the collect-to-driver cost (guide §1.4);
  * ``--explain`` captures ``.explain("formatted")`` per query into
    plans/<tag>/<query>_<when>.txt for the plan-diff evidence the judge
    checks.

Usage:
  python bench_extra.py --sf-dir /root/testdata/sf1.0 --queries dedup_clusters,maritime_catalog
  python bench_extra.py --sf-dir <sf_dir> --explain plans/<tag> --suffix before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _cpu_ticks, _steal_pct  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="", help="comma-separated subset; empty = all")
    ap.add_argument("--k", type=int, default=2, help="timed runs per query (min published)")
    ap.add_argument("--noop", action="store_true", help="noop sink instead of collect()")
    ap.add_argument("--explain", default="", help="dir to write explain('formatted') files")
    ap.add_argument("--suffix", default="before", help="suffix for explain files")
    ap.add_argument("--out", default="", help="append JSON result line to this file")
    ap.add_argument(
        "--plans-only",
        action="store_true",
        help="capture explain('formatted') only; skip all timed execution",
    )
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from datavalidation_spark.session import get_spark

    spark = get_spark(
        "bench_extra",
        cores=cpus,
        shuffle_partitions=max(cpus, 8),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    all_q = entry_mod.queries()
    names = [n.strip() for n in args.queries.split(",") if n.strip()] or list(all_q)
    unknown = [n for n in names if n not in all_q]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)

    def run(df):
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()

    results: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    steal0 = _cpu_ticks()
    t_start = time.perf_counter()
    for name in names:
        fn = all_q[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if args.explain:
            try:
                df = fn(spark, args.sf_dir)
                plan = spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(
                    os.path.join(args.explain, f"{name}_{args.suffix}.txt"), "w"
                ) as f:
                    f.write(plan)
            except Exception as e:  # noqa: BLE001 - plan capture is best-effort
                print(f"[explain failed for {name}: {e}]", file=sys.stderr)
        if args.plans_only:
            print(f"{name}: plan captured", flush=True)
            continue
        run(fn(spark, args.sf_dir))  # warmup
        trials = []
        for _ in range(args.k):
            spark.sparkContext._jvm.System.gc()
            t = time.perf_counter()
            run(fn(spark, args.sf_dir))
            trials.append(round(time.perf_counter() - t, 3))
        results[name] = min(trials)
        runs[name] = trials
        print(f"{name:28s} min={min(trials):7.3f}  runs={trials}", flush=True)
    wall = round(time.perf_counter() - t_start, 1)
    steal = _steal_pct(steal0, _cpu_ticks())
    line = {
        "sf_dir": args.sf_dir,
        "mode": "noop" if args.noop else "collect",
        "k": args.k,
        "total_min_sec": round(sum(results.values()), 2),
        "wall_sec": wall,
        "steal_pct": steal,
        "queries": results,
        "runs": runs,
    }
    print(json.dumps({k: v for k, v in line.items() if k != "runs"}))
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps(line) + "\n")


if __name__ == "__main__":
    main()
