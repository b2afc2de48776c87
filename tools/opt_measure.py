"""Optimization measurement harness (guide §1; rounds 13+).

For each named bench query: time the noop-sink materialization
(min of N passes, labeled via setJobDescription / setJobGroup so the
job count per query is recoverable), count the whole-stage classes
Janino compiled during each pass (CodegenMetrics; a warm pass over a
cached working set compiles 0), and dump `.explain("formatted")`
to plans/<round>/<query>_<tag>.txt (--plan-round, default r14).

Usage:
    python tools/opt_measure.py --tag before [--passes 2] q160_louvain q111_kmeans_lloyd ...
    python tools/opt_measure.py --tag before --top 40      # 40 slowest per BENCH_full.json
Prints one JSON line {"queries": {name: {"sec": s, "jobs": n,
"compiles": [per pass]}}, "jvm_peak_rss_mb": m, ...} and writes it to
/tmp/opt_measure_<tag>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphsense_blocksci_spark.queries import QUERIES  # noqa: E402
from graphsense_blocksci_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--plan-round", default="r14")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    names = list(args.queries)
    if args.top:
        ref = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_full.json")
        with open(ref) as fh:
            prev = json.load(fh)["queries"]
        names += [k for k, _ in sorted(prev.items(), key=lambda kv: -kv[1])[: args.top] if k not in names]

    plan_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.plan_round
    )
    os.makedirs(plan_dir, exist_ok=True)

    spark = get_spark(app_name=f"opt-measure-{args.tag}")
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    # warmup: JVM/codegen/parquet footers
    QUERIES["q02_range_scan"](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
    from graphsense_blocksci_spark import fixtures

    fixtures.ensure_fixtures()

    out: dict[str, dict[str, float]] = {}
    for name in names:
        fn = QUERIES[name]
        best = None
        jobs = None
        compiles = []
        for p in range(args.passes):
            group = f"{args.tag}:{name}:p{p}"
            sc.setJobGroup(group, name)
            sc.setJobDescription(f"{name} [{args.tag} p{p}]")
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            t0 = time.time()
            try:
                df = fn(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                print(f"# {name}: FAILED {exc}", file=sys.stderr)
                break
            dt = time.time() - t0
            compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - c0)
            st = sc.statusTracker()
            nj = len(st.getJobIdsForGroup(group))
            if best is None or dt < best:
                best = dt
                jobs = nj
            print(f"# p{p} {name}: {dt:.3f}s jobs={nj} compiles={compiles[-1]}", file=sys.stderr)
        sc.setJobGroup("", "")
        if best is None:
            continue
        out[name] = {"sec": round(best, 3), "jobs": jobs, "compiles": compiles}
        if not args.no_plans:
            try:
                df = QUERIES[name](spark, args.sf_dir)
                txt = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                )
                with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                    fh.write(txt)
            except Exception as exc:  # noqa: BLE001
                print(f"# plan {name}: FAILED {exc}", file=sys.stderr)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    spark.stop()
    res = {"tag": args.tag, "sf_dir": args.sf_dir, "queries": out,
           "total": round(sum(v["sec"] for v in out.values()), 3),
           "jvm_peak_rss_mb": round(hwm_kb / 1024.0, 1)}
    with open(f"/tmp/opt_measure_{args.tag}.json", "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
