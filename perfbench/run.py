"""frontier-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout; the program is imported from that
checkout's ``frontier_engine/``. Every file the run writes (Spark scratch,
IceLite stores, event logs) lives under ``.perfbench_work/`` in the
checkout and is deleted on exit. See ``perfbench/README.md`` for the
workloads, the metrics and what each one should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import catalog  # noqa: E402  (benchmark-local modules)
import measure  # noqa: E402

DEFAULT_SEED = 42

# Both workloads are frontier crawls over ``synth.generate_pages_spark``;
# they differ in what dominates a round (README.md, "Workloads").
WORKLOADS = {
    # product path, ~5 KB pages on 150 Zipf hosts: extraction does most work
    "crawl": dict(pages=4000, hosts=150, paras=40, links=4, budget=200),
    # link-dense pages just above the main-content floor on many hosts:
    # the fixed per-round cost, membership, scheduling and commits dominate
    "crawl_wide": dict(pages=2000, hosts=400, paras=3, links=8, budget=20),
}
# rounds a traced run adds after the replayed round 1, in sequence on one store
CONTINUED_ROUNDS = (2,)
ROBOTS_TXT = "User-agent: *\nDisallow: /private/\n"
# Pinned so an inherited shell variable cannot change the measured program:
# the two FRONTIER_TIMING/PROFILE switches add count() actions inside
# run_round; FRONTIER_SHM_TMP=0 keeps Spark scratch on disk inside the
# checkout; the Arrow batch sizes are the library defaults, spelled out.
# Every JVM started (the launcher's and Spark's) runs without the perf-data
# file, which the JVM would otherwise write under the system temp directory.
PINNED_ENV = {
    "FRONTIER_SHM_TMP": "0",
    "FRONTIER_ARROW_BATCH": "1024",
    "FRONTIER_ARROW_MAX_BYTES": "8m",
    "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
}
CLEARED_ENV = (
    "FRONTIER_TIMING", "FRONTIER_PROFILE", "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS",
    "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "SPARK_CONF_DIR",
    "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS",
)

E2E_UNITS = {
    "docs_per_s": "1/s",
    "round_p50_s": "s",
    "cpu_s": "s",
    "peak_pss_mb": "MB",
    "store_mb_per_kdoc": "MB",
    "setup_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def host_info() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def pin_environment(work: str) -> dict:
    for k in CLEARED_ENV:
        os.environ.pop(k, None)
    os.environ.update(PINNED_ENV)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark_local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = tmp
    return {k: os.environ[k] for k in (*PINNED_ENV, "TMPDIR", "SPARK_LOCAL_DIRS")}


def import_program():
    """Import ``frontier_engine`` from this checkout, nowhere else."""
    pkg = os.path.join(ROOT, "frontier_engine", "__init__.py")
    if not os.path.isfile(pkg):
        raise SystemExit(f"perfbench: no frontier_engine package under {ROOT}")
    sys.path.insert(0, ROOT)
    import frontier_engine

    if os.path.dirname(os.path.abspath(frontier_engine.__file__)) != os.path.dirname(pkg):
        raise SystemExit(f"perfbench: frontier_engine imported from {frontier_engine.__file__}")


def start_spark(info: dict, work: str, trace: bool):
    from frontier_engine.session import get_spark

    cores = info["nproc"]
    driver_mb = max(1024, min(4096, info["ram_mb"] // 4))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # A heap fixed at its maximum and touched at start: no heap resizing
        # between runs, and peak PSS does not depend on how much of the heap
        # one run's garbage happened to reach (it read 3.9 or 5.1 GB by that
        # alone). The heap is then a constant part of peak_pss_mb.
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        ev = os.path.join(work, "events")
        os.makedirs(ev)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{ev}",
        })
    info["driver_memory_mb"] = driver_mb
    return get_spark(cores=cores, app="perfbench", driver_memory=f"{driver_mb}m", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM, the Python worker daemon and its workers) has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    children = [p for p in measure.tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        alive = children
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if _running(p)]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if _running(p)]


def _running(pid: int) -> bool:
    f = measure._stat_fields(pid)
    return f is not None and f[0] != "Z"


# ------------------------------------------------------------ crawl setup

class Crawl:
    """A crawl workload's inputs and its template store (snapshot 0, right
    after ``FrontierEngine.init``), which every operation forks."""

    n_shards = 64
    bloom_bits = 1 << 20

    def __init__(self, spark, params: dict, seed: int, work: str):
        self.spark, self.params, self.seed = spark, params, seed
        self.work = work
        self.stores = os.path.join(work, "stores")
        self.template = os.path.join(self.stores, "template")

    def engine(self, root: str):
        from frontier_engine.frontier import FrontierEngine

        return FrontierEngine(
            self.spark, root, n_shards=self.n_shards, bloom_bits=self.bloom_bits,
            budget=self.params["budget"],
        )

    def generate(self) -> None:
        """The corpus, prepared as ``run_round`` expects, plus seeds (the
        first quarter of the pages by url hash) and one robots.txt per host."""
        from pyspark.sql import functions as F

        from frontier_engine import pipeline, synth

        p = self.params
        pages = synth.generate_pages_spark(
            self.spark, p["pages"], n_hosts=p["hosts"], paras=p["paras"], n_links=p["links"],
            seed=self.seed,
        )
        self.prepared = pipeline.dedup_newest(pipeline.canonicalized(pages)).persist()
        self.n_pages = self.prepared.count()
        self.seeds = (
            self.prepared.select("url")
            .withColumn("h", F.xxhash64("url"))
            .orderBy("h")
            .limit(p["pages"] // 4)
            .select("url", (F.pmod(F.col("h"), F.lit(100)) / 100.0).alias("priority"))
        )
        self.robots = self.prepared.select("host").distinct().select(
            "host", F.lit(ROBOTS_TXT).alias("robots_txt")
        )

    def fork(self, name: str) -> str:
        """A new store whose history is the template's: its manifests point
        at the template's data files (IceLite records absolute paths), so
        a round run on the fork reads the template state and writes only
        under the fork."""
        root = os.path.join(self.stores, name)
        os.makedirs(os.path.join(root, "data"))
        shutil.copytree(os.path.join(self.template, "metadata"), os.path.join(root, "metadata"))
        return root

    def schedule_digest(self, root: str, round_no: int) -> list[int]:
        """Row count and an order-independent digest of one round's schedule."""
        from pyspark.sql import functions as F

        sched = self.engine(root).store.read(
            self.spark, "schedule", prune=("round", round_no, round_no)
        ).where(F.col("round") == round_no)
        h = F.pmod(F.xxhash64("host", "seq", "url_norm", "idx_id", "priority"), F.lit(2**31 - 1))
        r = sched.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("d")).collect()[0]
        return [int(r["n"]), int(r["d"] or 0)]

    def known_is_unique(self, root: str) -> bool:
        known = self.engine(root).store.read(self.spark, "frontier_known")
        r = known.selectExpr("count(1) AS n", "count(DISTINCT url_hash) AS d").collect()[0]
        return r["n"] == r["d"]


def replay(crawl: Crawl, root: str, timer, expected: dict | None, reference: dict | None) -> dict:
    """One operation: round 1 on ``root``, a fork of the template, timed;
    then its output checks, untimed. ``timer`` set makes it a traced
    operation. ``reference`` is the first replay's counters, which every
    later one must equal."""
    me = os.getpid()
    op = {"traced": timer is not None, "errors": []}
    try:
        eng = crawl.engine(root)
        cpu0 = measure.tree_cpu_s(me)
        op["start"], t0 = time.time(), time.perf_counter()
        if timer is not None:
            with timer:
                c = eng.run_round(crawl.prepared)
        else:
            c = eng.run_round(crawl.prepared)
        op["wall_s"] = time.perf_counter() - t0
        op["end"] = time.time()
        op["cpu_s"] = measure.tree_cpu_s(me) - cpu0
        op["counters"] = c
        data = os.path.join(root, "data")
        op["store_bytes"] = measure.dir_bytes(data)
        op["files"] = sum(len(fs) for _, _, fs in os.walk(data))
        op["manifest_bytes"] = os.path.getsize(eng.store._meta_path(eng.store.current_snapshot_id()))

        vec = measure.counter_vector(c)
        digest = crawl.schedule_digest(root, c["round"])
        op["observed"] = {"counters": vec, "schedule": digest}
        errs = measure.counter_balance_errors(c)
        if c["round"] != 1:
            errs.append(f"replayed round {c['round']}, not round 1")
        if reference is not None and vec != measure.counter_vector(reference):
            errs.append(f"counters {vec} != first replay {measure.counter_vector(reference)}")
        if digest[0] != c["scheduled"]:
            errs.append(f"schedule rows {digest[0]} != scheduled {c['scheduled']}")
        if expected is not None and op["observed"] != expected["round1"]:
            errs.append(f"{op['observed']} != expected {expected['round1']}")
        if reference is None and not crawl.known_is_unique(root):
            errs.append("frontier_known holds a url_hash twice")
        op["errors"] = errs
    except Exception:
        op["errors"].append(traceback.format_exc(limit=3))
    return op


# ---------------------------------------------------------------- the run

def load_expected(workload: str, seed: int) -> dict | None:
    """The default seed's recorded outputs for ``workload``, with the
    catalog's row counts; None on any other seed. A default-seed run with
    nothing recorded is an error, so the check cannot silently lapse."""
    if seed != DEFAULT_SEED:
        return None
    with open(os.path.join(HERE, "expected.json")) as f:
        recorded = json.load(f)
    if workload not in recorded or "catalog" not in recorded:
        raise SystemExit(f"perfbench: expected.json records no seed-{seed} outputs for {workload}")
    return dict(recorded[workload], catalog=recorded["catalog"])


def run(args, info: dict, work: str, expected: dict | None) -> dict:
    me = os.getpid()

    # ---- set-up: session start, corpus, init, round 0 (the warm-up)
    t_setup = time.perf_counter()
    spark = start_spark(info, work, args.trace)
    try:
        session_s = time.perf_counter() - t_setup
        crawl = Crawl(spark, WORKLOADS[args.workload], args.seed, work)
        t0 = time.perf_counter()
        crawl.generate()
        gen_s = time.perf_counter() - t0
        template = crawl.engine(crawl.template)
        t0 = time.perf_counter()
        template.init(crawl.seeds, crawl.robots)
        init_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        c0 = template.run_round(crawl.prepared)
        round0_s = time.perf_counter() - t0
        errs = measure.counter_balance_errors(c0)
        if c0["seen_total"] == 0:
            errs.append("round 0 saw nothing, so round 1 would skip the seen filter")
        if expected is not None and measure.counter_vector(c0) != expected["round0"]:
            errs.append(f"counters {measure.counter_vector(c0)} != expected {expected['round0']}")
        if errs:
            raise RuntimeError(f"round 0 failed its checks: {errs}")
        setup_s = time.perf_counter() - t_setup
        log(f"set-up {setup_s:.1f} s: session {session_s:.1f}, corpus {gen_s:.1f}, "
            f"init {init_s:.1f}, round 0 {round0_s:.1f}")

        # ---- timed section: replay round 1, closed loop. A traced run
        # alternates plain and traced replays and needs one of each. Set-up
        # takes most of a run, so an untraced run holds one replay unless
        # --seconds asks for more; medians are taken over runs.
        ops: list[dict] = []
        timer = IceliteTimer() if args.trace else None
        min_ops = 2 if args.trace else 1
        keep = None  # traced runs continue the crawl on the last good fork
        t_loop = time.perf_counter()
        with measure.PssPeak(me) as pss:
            while len(ops) < min_ops or time.perf_counter() - t_loop < args.seconds:
                root = crawl.fork(f"op{len(ops)}")
                op = replay(crawl, root, timer if len(ops) % 2 else None, expected,
                            ops[0].get("counters") if ops else None)
                if op["errors"]:
                    log(f"op{len(ops)} failed: {op['errors']}")
                ops.append(op)
                if args.trace and not op["errors"]:
                    root, keep = keep, root
                if root:
                    shutil.rmtree(root, ignore_errors=True)
        log(f"seed {args.seed} round 0 {json.dumps(measure.counter_vector(c0))} round-1 replay "
            f"{json.dumps(ops[0].get('observed'))} walls {[round(o.get('wall_s', 0), 2) for o in ops]}")
        good = [o for o in ops if not o["errors"]]
        result = {"correct": not any(o["errors"] for o in ops), "attempted": len(ops),
                  "failed": len(ops) - len(good)}
        if not good:
            raise RuntimeError("every operation failed")

        if not args.trace:
            values = {
                "docs_per_s": measure.median(o["counters"]["fetched"] / o["wall_s"] for o in good),
                "round_p50_s": measure.median(o["wall_s"] for o in good),
                "cpu_s": measure.median(o["cpu_s"] for o in good),
                "peak_pss_mb": pss.peak,
                "store_mb_per_kdoc": measure.median(
                    o["store_bytes"] / 1e6 / (o["counters"]["fetched"] / 1000) for o in good),
                "setup_s": setup_s,
            }
            result["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
            return result

        # ---- traced run only: layer probes, the catalog, then the crawl continued
        from probes import Probes

        plain = [o for o in good if not o["traced"]]
        wrapped = [o for o in good if o["traced"]]
        if not (plain and wrapped and keep):
            raise RuntimeError("a traced run needs a good plain and a good traced replay")
        c1 = good[0]["counters"]
        round1_s = measure.median(o["wall_s"] for o in good)
        layers = {
            "session.start_s": (session_s, "s"),
            "synth.gen_s": (gen_s, "s"),
            "frontier.init_s": (init_s, "s"),
            "frontier.round_s.r0": (round0_s, "s"),
            "frontier.fetched.r0": (c0["fetched"], "count"),
            "frontier.round_s.r1": (round1_s, "s"),
            "frontier.fetched.r1": (c1["fetched"], "count"),
            "frontier.fetch_hit_ratio": (c1["fetched"] / c1["scheduled"], "ratio"),
            "frontier.docs_ok_ratio": (c1["docs_ok"] / c1["fetched"], "ratio"),
            "frontier.new_per_fetched": (c1["discovered_new"] / c1["fetched"], "ratio"),
            "frontier.budget_ratio": (c1["scheduled"] / c1["pending_in"], "ratio"),
            "trace.overhead_frac": (measure.median(o["wall_s"] for o in wrapped)
                                    / measure.median(o["wall_s"] for o in plain) - 1, "ratio"),
            "icelite.commit_s": (measure.median(timer.commit_s), "s"),
            "icelite.prewrite_s": (measure.median(timer.prewrite_s), "s"),
            "icelite.files_per_commit": (measure.median(o["files"] for o in good), "count"),
            "icelite.mb_per_commit": (measure.median(o["store_bytes"] / 1e6 for o in good), "MB"),
            "icelite.manifest_kb": (measure.median(o["manifest_bytes"] / 1e3 for o in good), "kB"),
        }
        spans = [(f"op{i}", o["start"], o["end"]) for i, o in enumerate(ops) if "end" in o]
        probes = Probes(crawl, keep, spans, c1["fetched"], round1_s)
        layers.update(probes.run_all())
        # the catalog queries, one operation each, over tables made from the seed
        sf_dir = os.path.join(work, "catalog")
        catalog.generate(sf_dir, args.seed)
        walls, rows = catalog.run_queries(spark, sf_dir)
        layers.update(catalog.layer_metrics(walls))
        result["attempted"] += len(walls)
        log(f"seed {args.seed} catalog rows {json.dumps(rows)}")
        if expected is not None:
            bad = {k: [v, expected["catalog"].get(k)] for k, v in rows.items()
                   if v != expected["catalog"].get(k)}
            if bad:
                log(f"catalog row counts [got, expected] differ: {bad}")
                result["failed"] += len(bad)
        # the crawl continued in sequence on the last good replay's store
        eng = crawl.engine(keep)
        for r in CONTINUED_ROUNDS:
            result["attempted"] += 1
            e0, t0 = time.time(), time.perf_counter()
            c = eng.run_round(crawl.prepared)
            layers[f"frontier.round_s.r{r}"] = (time.perf_counter() - t0, "s")
            layers[f"frontier.fetched.r{r}"] = (c["fetched"], "count")
            spans.append((f"round{r}", e0, time.time()))
            errs = measure.counter_balance_errors(c)
            if errs:
                result["failed"] += 1
                log(f"sequential round {r} failed its checks: {errs}")
        result["correct"] = result["failed"] == 0
    finally:
        stop_spark(spark)

    # ---- event log: per-round and whole-run Spark cost
    att = measure.attribute(measure.read_event_log(os.path.join(work, "events")), spans)
    op_att = [(att[f"op{i}"], o["wall_s"]) for i, o in enumerate(ops) if o in good]
    layers.update({
        "frontier.jobs_per_round": (measure.median(a["jobs"] for a, _ in op_att), "count"),
        "frontier.stages_per_round": (measure.median(a["stages"] for a, _ in op_att), "count"),
        "frontier.tasks_per_round": (measure.median(a["tasks"] for a, _ in op_att), "count"),
        "frontier.shuffle_mb_per_round": (
            measure.median(a["shuffle_write_bytes"] / 1e6 for a, _ in op_att), "MB"),
        "frontier.core_util": (measure.median(
            a["run_ms"] / 1000 / (w * info["nproc"]) for a, w in op_att), "ratio"),
    })
    layers.update(probes.from_event_log(att))
    a = att["_all"]
    layers.update({
        "spark.jobs": (a["jobs"], "count"),
        "spark.stages": (a["stages"], "count"),
        "spark.tasks": (a["tasks"], "count"),
        "spark.shuffle_write_mb": (a["shuffle_write_bytes"] / 1e6, "MB"),
        "spark.executor_cpu_s": (a["cpu_ns"] / 1e9, "s"),
        "spark.gc_s": (a["gc_ms"] / 1000, "s"),
    })
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in sorted(layers.items())}
    return result


class IceliteTimer:
    """Times ``IceLite.commit`` and ``IceLite.write_table`` from outside the
    program by wrapping the class methods while the context is open."""

    def __init__(self):
        self.commit_s: list[float] = []
        self.prewrite_s: list[float] = []

    def __enter__(self):
        from frontier_engine.icelite import IceLite

        self._orig = (IceLite.commit, IceLite.write_table)
        commit, write_table = self._orig
        self._writes = 0.0

        def timed_write(store, *a, **kw):
            t0 = time.perf_counter()
            try:
                return write_table(store, *a, **kw)
            finally:
                self._writes += time.perf_counter() - t0  # summed over writer threads

        def timed_commit(store, *a, **kw):
            t0 = time.perf_counter()
            try:
                return commit(store, *a, **kw)
            finally:
                self.commit_s.append(time.perf_counter() - t0)

        IceLite.commit, IceLite.write_table = timed_commit, timed_write
        return self

    def __exit__(self, *exc):
        from frontier_engine.icelite import IceLite

        IceLite.commit, IceLite.write_table = self._orig
        self.prewrite_s.append(self._writes)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.trace = bool(args.trace)
    expected = load_expected(args.workload, args.seed)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = pin_environment(work)
        import_program()
        info = host_info()
        log(f"host {json.dumps(info)} env {json.dumps(env)} workload {args.workload} "
            f"{json.dumps(WORKLOADS[args.workload])} seed {args.seed}")
        result = run(args, info, work, expected)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"host": info, "env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
