"""Extra benchmarks for optimization work (guide §1.4 noop-sink isolation).

NOT part of the driver contract — bench.py is the frozen headline harness.
This file exists so individual queries can be timed/plan-captured in
isolation while iterating on optimizations.

Usage:
  python bench_extra.py time  [sf_dir] [q1 q2 ...]   # per-query noop timing
  python bench_extra.py plan  [sf_dir] [out_dir] [q1 ...]  # explain("formatted")
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF = "/root/testdata/sf1.0"


def _spark():
    from frontier_engine.session import get_spark

    os.environ.setdefault("FRONTIER_SHM_TMP", "1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark(cores=cpus, app="bench_extra", shuffle_partitions=max(cpus, 8))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_time(sf_dir: str, names: list[str], trials: int = 3) -> None:
    from frontier_engine import queries as Q

    spark = _spark()
    reg = Q.queries()
    names = names or list(reg)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        _noop(reg[name](spark, sf_dir))
        ts = []
        for i in range(trials):
            spark.sparkContext.setJobDescription(f"timed:{name}:{i}")
            t0 = time.perf_counter()
            _noop(reg[name](spark, sf_dir))
            ts.append(round(time.perf_counter() - t0, 3))
        ts_sorted = sorted(ts)
        out[name] = {"median": ts_sorted[len(ts) // 2], "trials": ts}
        print(f"{name}: median={out[name]['median']} trials={ts}", flush=True)
    print(json.dumps(out))
    spark.stop()


def cmd_plan(sf_dir: str, out_dir: str, names: list[str]) -> None:
    from frontier_engine import queries as Q

    spark = _spark()
    reg = Q.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names or list(reg):
        try:
            df = reg[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # plan capture must not die on one query
            plan = f"ERROR: {e}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}", flush=True)
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "time":
        sf = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SF
        cmd_time(sf, sys.argv[3:])
    elif cmd == "plan":
        sf = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SF
        out = sys.argv[3] if len(sys.argv) > 3 else "plans/r06/tmp"
        cmd_plan(sf, out, sys.argv[4:])
    else:
        raise SystemExit(f"unknown command {cmd}")
