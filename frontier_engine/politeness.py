"""Politeness: robots.txt gate + per-host budget + priority-queue scheduler.

Engine-new capability mandated by BASELINE.json north_rule ("per-host
politeness budget and robots.txt gate enforced via groupBy(host)
.applyInPandas priority queues"); the reference's closest analogs are its
per-record guard clauses (process.py:151-175) and the sorted sink buffer
(es_sink.py:155) whose deterministic ordering we reproduce.

Determinism contract: within a round, the schedule orders each host's
queue by (priority DESC, idx_id ASC) — idx_id being the reference's
time+offset-prefixed document id — and assigns per-host seq numbers.
Two implementations are provided and cross-checked in tests:

- ``schedule_hosts``  — groupBy(host).applyInPandas heap (the north_rule
  shape; carries crawl-delay-aware effective budgets),
- ``schedule_window`` — pure-Catalyst row_number() over a host window
  (the oracle; also the SQL form used for DuckDB cross-checks).

Hot-host skew: a giant host is a giant group. Before the PQ stage the
pipeline caps rows per group with the window variant (exact top-k per
host, deterministic), so the applyInPandas group size is ≤ budget ×
``PRECAP_FACTOR`` — the SURVEY.md §7.4.5 pre-aggregation strategy.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.window import Window

DEFAULT_BUDGET = 10
ROUND_SECONDS = 300  # nominal round wall-clock for crawl-delay budgeting
# rows per host kept ahead of the PQ stage, as a multiple of the budget
PRECAP_FACTOR = 4


# ---------------------------------------------------------------- robots

@dataclass
class RobotsRules:
    rules: list = field(default_factory=list)  # (allow: bool, prefix: str)
    crawl_delay: float | None = None


def parse_robots(robots_txt: str | None) -> RobotsRules:
    """Parse the ``User-agent: *`` group of a robots.txt (Allow / Disallow /
    Crawl-delay). Consecutive ``User-agent`` lines open one group (RFC 9309
    §2.1), so ``*`` anywhere in the run applies the group's rules. Unknown
    lines ignored; absent file ⇒ allow-all."""
    out = RobotsRules()
    if not robots_txt:
        return out
    applies = False
    seen_any_group = False
    in_agents = False  # the previous rule line was a User-agent line
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            applies = (applies and in_agents) or val == "*"
            seen_any_group = in_agents = True
            continue
        in_agents = False
        if not applies and seen_any_group:
            continue
        if key == "disallow":
            if val:
                out.rules.append((False, val))
            # empty Disallow ⇒ allow-all (no rule)
        elif key == "allow":
            if val:
                out.rules.append((True, val))
        elif key == "crawl-delay":
            try:
                out.crawl_delay = float(val)
            except ValueError:
                pass
    return out


def robots_allowed(rules: RobotsRules, path: str) -> bool:
    """Longest-match-wins (Google semantics); tie or no match ⇒ allow."""
    best_len, best_allow = -1, True
    for allow, prefix in rules.rules:
        if path.startswith(prefix) and len(prefix) > best_len:
            best_len, best_allow = len(prefix), allow
        elif path.startswith(prefix) and len(prefix) == best_len and allow:
            best_allow = True
    return best_allow


def apply_robots_gate(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """candidates(host, url_norm, ...) × robots(host, robots_txt) →
    + ``robots_allowed`` bool + ``crawl_delay`` double.

    Broadcast left join on host (robots is one small row per host —
    SURVEY.md §2.3 robots gate join); rule matching is a pandas kernel with
    a per-batch parse cache keyed by the robots text (hosts repeat)."""

    @F.pandas_udf(T.StructType([
        T.StructField("allowed", T.BooleanType()),
        T.StructField("crawl_delay", T.DoubleType()),
    ]))
    def gate(robots_txt: pd.Series, path: pd.Series) -> pd.DataFrame:
        cache: dict = {}
        allowed, delays = [], []
        for txt, p in zip(robots_txt, path):
            key = txt if txt is not None else ""
            rules = cache.get(key)
            if rules is None:
                rules = cache[key] = parse_robots(txt)
            allowed.append(robots_allowed(rules, p if p is not None else "/"))
            delays.append(rules.crawl_delay)
        return pd.DataFrame({"allowed": allowed, "crawl_delay": delays})

    path = F.coalesce(F.parse_url(F.col("url_norm"), F.lit("PATH")), F.lit("/"))
    joined = candidates.join(F.broadcast(robots), "host", "left")
    # Marked nondeterministic only to pin it in its projection: a filter on
    # robots_allowed would otherwise be pushed below it, and the pushed copy
    # runs the kernel a second time on every row (two ArrowEvalPython nodes,
    # plan-tested). The kernel itself is a pure function of its inputs.
    g = gate.asNondeterministic()(F.col("robots_txt"), path)
    return (
        joined.withColumn("_g", g)
        .withColumn("robots_allowed", F.col("_g.allowed"))
        .withColumn("crawl_delay", F.col("_g.crawl_delay"))
        .drop("_g", "robots_txt")
    )


# ---------------------------------------------------------------- scheduler

def effective_budget(budget: int, crawl_delay: float | None) -> int:
    if crawl_delay and crawl_delay > 0:
        return max(1, min(budget, int(ROUND_SECONDS // crawl_delay)))
    return budget


SCHEDULE_EXTRA = [
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("scheduled", T.BooleanType(), False),
]


def schedule_hosts(candidates: DataFrame, budget: int = DEFAULT_BUDGET) -> DataFrame:
    """Per-host priority-queue scheduling via groupBy(host).applyInPandas.

    Adds ``seq`` (1-based per-host fetch order; 0 for unscheduled) and
    ``scheduled``. Requires columns host, priority, idx_id, crawl_delay.

    Skew containment: rows per host are pre-capped to budget*PRECAP_FACTOR
    with an exact deterministic window top-k BEFORE grouping, so no pandas
    group ever materializes a hot host's full candidate set; the PQ then
    applies the crawl-delay-adjusted effective budget.
    """
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("idx_id").asc())
    capped = (
        candidates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= budget * PRECAP_FACTOR)
        .drop("_rn")
    )
    out_schema = T.StructType(list(capped.schema.fields) + SCHEDULE_EXTRA)

    def pq(pdf: pd.DataFrame) -> pd.DataFrame:
        delay = None
        cds = pdf["crawl_delay"].dropna()
        if len(cds):
            delay = float(cds.iloc[0])
        b = effective_budget(budget, delay)
        heap = [(-float(p), str(i), pos) for pos, (p, i) in enumerate(zip(pdf["priority"], pdf["idx_id"]))]
        heapq.heapify(heap)
        seq = pd.Series(0, index=pdf.index, dtype="int32")
        sched = pd.Series(False, index=pdf.index)
        for rank in range(1, min(b, len(heap)) + 1):
            _, _, pos = heapq.heappop(heap)
            seq.iloc[pos] = rank
            sched.iloc[pos] = True
        out = pdf.copy()
        out["seq"] = seq
        out["scheduled"] = sched
        return out

    return capped.groupBy("host").applyInPandas(pq, out_schema)


def schedule_window(candidates: DataFrame, budget: int = DEFAULT_BUDGET) -> DataFrame:
    """Pure-Catalyst oracle for ``schedule_hosts`` (no crawl-delay-free
    difference: same effective budget math, expressed as a window cap)."""
    eff = F.when(
        F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
        F.greatest(F.lit(1), F.least(F.lit(budget), F.floor(F.lit(ROUND_SECONDS) / F.col("crawl_delay")).cast("int"))),
    ).otherwise(F.lit(budget))
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("idx_id").asc())
    rn = F.row_number().over(w)
    return (
        candidates.withColumn("_rn", rn)
        .withColumn("scheduled", F.col("_rn") <= eff)
        .withColumn("seq", F.when(F.col("scheduled"), F.col("_rn")).otherwise(F.lit(0)).cast("int"))
        .drop("_rn")
    )
