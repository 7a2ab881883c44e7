"""Pure helpers of the benchmark: summary statistics, output checks, the
metric-name grammar, Spark event-log attribution and process-tree sampling.

Nothing here starts Spark, so the tests in ``test_measure.py`` exercise it
without a JVM.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    """Metric and workload names: a letter or digit first, then at most 63
    letters, digits, ``_``, ``.`` or ``-``."""
    return NAME_RE.fullmatch(name) is not None


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no values")
    return float(statistics.median(xs))


def iqr_frac(xs) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(list(xs), n=4)
    return (q3 - q1) / median(xs)


# ------------------------------------------------------------ output checks

COUNTER_KEYS = (
    "round", "pending_in", "dup", "skipped_robots", "skipped_budget",
    "scheduled", "fetched", "missing", "docs_ok", "discovered_new",
    "pending_out", "seen_total",
)


def counter_balance_errors(c: dict) -> list[str]:
    """Violations of the round counter identities; empty when balanced."""
    errs = []
    settled = c["dup"] + c["skipped_robots"] + c["skipped_budget"] + c["scheduled"]
    if c["pending_in"] != settled:
        errs.append(f"pending_in {c['pending_in']} != dup+skipped_robots+skipped_budget+scheduled {settled}")
    if c["scheduled"] != c["fetched"] + c["missing"]:
        errs.append(f"scheduled {c['scheduled']} != fetched+missing {c['fetched'] + c['missing']}")
    if c["pending_out"] != c["skipped_budget"] + c["discovered_new"]:
        errs.append(
            f"pending_out {c['pending_out']} != skipped_budget+discovered_new "
            f"{c['skipped_budget'] + c['discovered_new']}"
        )
    if not 0 <= c["docs_ok"] <= c["fetched"]:
        errs.append(f"docs_ok {c['docs_ok']} outside [0, fetched {c['fetched']}]")
    if min(c[k] for k in COUNTER_KEYS) < 0:
        errs.append("negative counter")
    return errs


def counter_vector(c: dict) -> list[int]:
    return [int(c[k]) for k in COUNTER_KEYS]


# ------------------------------------------------------ event-log attribution

def read_event_log(path: str) -> list[dict]:
    """Events of one uncompressed Spark event log (a file, or a directory
    holding the rolling writer's event files)."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(path) for f in fs
            if not f.startswith(("appstatus", "."))  # status marker, checksums
        )
    events = []
    for fp in files:
        with open(fp, errors="replace") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute(events: list[dict], spans: list[tuple[str, float, float]]) -> dict:
    """Assign Spark jobs to benchmark spans by job submission time.

    ``spans`` are ``(name, start_epoch_s, end_epoch_s)`` recorded by the
    benchmark around each call it times. Spans must not overlap; the
    benchmark runs one call at a time from one driver thread, so every job a
    call submits starts inside its span. Returns, per span name, the jobs,
    stages, tasks, shuffle bytes written and task run/CPU/GC time of those
    jobs, plus a ``"_all"`` entry over every job in the log."""
    job_span: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    windows = [(name, t0 * 1000.0, t1 * 1000.0) for name, t0, t1 in spans]
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        jid = ev["Job ID"]
        for sid in ev.get("Stage IDs", []):
            stage_job[sid] = jid
        t = ev.get("Submission Time", 0)
        for name, lo, hi in windows:
            if lo <= t <= hi:
                job_span[jid] = name
                break

    def empty() -> dict:
        return {"jobs": set(), "stages": set(), "tasks": 0, "shuffle_write_bytes": 0,
                "run_ms": 0, "cpu_ns": 0, "gc_ms": 0}

    out: dict[str, dict] = {name: empty() for name, _, _ in spans}
    out["_all"] = empty()
    for jid, name in job_span.items():
        out[name]["jobs"].add(jid)
    out["_all"]["jobs"].update(stage_job.values())
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev.get("Stage ID")
        jid = stage_job.get(sid)
        m = ev.get("Task Metrics") or {}
        shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        targets = [out["_all"]]
        if jid in job_span:
            targets.append(out[job_span[jid]])
        for acc in targets:
            acc["stages"].add(sid)
            acc["tasks"] += 1
            acc["shuffle_write_bytes"] += shuffle
            acc["run_ms"] += m.get("Executor Run Time", 0)
            acc["cpu_ns"] += m.get("Executor CPU Time", 0)
            acc["gc_ms"] += m.get("JVM GC Time", 0)
    for acc in out.values():
        acc["jobs"] = len(acc["jobs"])
        acc["stages"] = len(acc["stages"])
    return out


# ------------------------------------------------------------ process tree

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the process tree: user + system time of every live
    process plus the time of its reaped children, so workers that exited
    still count."""
    total = 0
    for p in tree_pids(root):
        f = _stat_fields(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _CLK


def tree_pss_mb(root: int) -> float:
    """Summed proportional set size of the process tree. Pages the Python
    worker daemon shares with the workers it forks count once, split among
    them; a sum of RSS would count them once per worker."""
    total_kb = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # the process exited between the listing and the read
    return total_kb / 1e3


class PssPeak:
    """Background sampler of the process tree's peak summed PSS (MB)."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s = root, interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
