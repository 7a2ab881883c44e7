"""IceLite — Iceberg-semantics snapshot layer over plain parquet + JSON.

No Iceberg runtime jar is reachable in-sandbox (SURVEY.md §7.0), so this
module delivers the subset of Iceberg semantics the engine needs — atomic
snapshot commit, time travel, per-partition lineage — with parquet data
files and JSON manifests, keeping a ``load/append/commit/snapshots``-shaped
API so a real Iceberg catalog can be swapped in where jars exist.

It replaces the reference's Redis split-range resume cache
(warcio.py:120-134,172-174): instead of per-split "start:end" records, a
killed job re-reads the **last committed snapshot** and recomputes nothing.

Commit protocol (single-writer, crash-safe):
  1. write each table's parquet under  data/<table>/snap-<id>/   (Spark
     writer; _SUCCESS marker closes the files),
  2. write  metadata/snap-<id>.json.tmp  (tables, counters, lineage, parent)
     and atomically  rename → snap-<id>.json,
  3. write  metadata/current.json.tmp  and atomically rename over
     current.json  — THE commit point; a crash before it leaves the
     previous snapshot current and the orphan files inert.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def _collect_file_stats(dir_path: str, column: str) -> dict[str, dict]:
    """Per-file {rows, min, max} for one column from parquet footers (no
    data scan). A file whose footer lacks stats for the column gets
    min/max None — the pruned read keeps such files (safe)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for fn in sorted(os.listdir(dir_path)):
        if not fn.endswith(".parquet"):
            continue
        fp = os.path.join(dir_path, fn)
        md = pq.ParquetFile(fp).metadata
        lo = hi = None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                if c.path_in_schema != column:
                    continue
                st = c.statistics
                if st is None or not st.has_min_max:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        out[fp] = {"col": column, "rows": md.num_rows, "min": lo, "max": hi}
    return out


class IceLite:
    def __init__(self, root: str, stats_columns: Optional[dict[str, str]] = None):
        """``stats_columns``: table → column whose per-FILE min/max (plus row
        count) is recorded in the manifest at commit, Iceberg-manifest style,
        enabling read-side file pruning (``read(..., prune=...)``). Footer
        reads only — no data scan."""
        self.root = root
        self.stats_columns = stats_columns or {}
        self.prewrite_secs: dict[str, float] = {}
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ------------------------------------------------------------- reads

    def _meta_path(self, snap_id: int) -> str:
        return os.path.join(self.root, "metadata", f"snap-{snap_id}.json")

    def current_snapshot_id(self) -> Optional[int]:
        cur = os.path.join(self.root, "metadata", "current.json")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return json.load(f)["current"]

    def snapshot(self, snap_id: int) -> dict:
        with open(self._meta_path(snap_id)) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """All committed snapshots, oldest first (time travel index)."""
        out = []
        sid = self.current_snapshot_id()
        while sid is not None:
            s = self.snapshot(sid)
            out.append(s)
            sid = s.get("parent")
        return list(reversed(out))

    def read(
        self,
        spark: SparkSession,
        table: str,
        snapshot_id: Optional[int] = None,
        prune: Optional[tuple] = None,
    ) -> Optional[DataFrame]:
        """Read a table at a snapshot (default: current). None if absent.

        ``prune=(column, lo, hi)``: open ONLY the files whose manifest
        min/max for ``column`` intersects [lo, hi] (Iceberg file-stats
        pruning — the planner never lists, opens, or schedules the skipped
        files). Files with no recorded stats are always kept, so pruning is
        safe on mixed tables; it is an IO optimization, not a filter — pair
        it with the matching ``.where()`` for row-exact results."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        snap = self.snapshot(sid)
        path = snap["tables"].get(table)
        if path is None:
            return None
        dirs = path if isinstance(path, list) else [path]
        if prune is not None:
            col, lo, hi = prune
            stats = snap.get("stats", {}).get(table, {})
            kept, total = [], 0
            for d in dirs:
                for fn in sorted(os.listdir(d)):
                    if not fn.endswith(".parquet"):
                        continue
                    total += 1
                    fp = os.path.join(d, fn)
                    s = stats.get(fp)
                    if (
                        s is None
                        or s.get("col") != col
                        or s.get("min") is None
                        or s.get("max") is None
                        or (s["min"] <= hi and s["max"] >= lo)
                    ):
                        kept.append(fp)
            if not kept:
                # nothing qualifies: preserve the schema, read zero rows
                return spark.read.parquet(*dirs).limit(0)
            return spark.read.parquet(*kept)
        return spark.read.parquet(*dirs)

    # ------------------------------------------------------------ commits

    def next_snapshot_id(self) -> int:
        """Id the NEXT commit will use (single-writer contract). Lets a
        caller start independent table writes concurrently with its own
        remaining compute and hand the finished paths to ``commit`` via
        ``prewritten`` (guide §2.6 job overlap); a crash before the commit
        point leaves them as inert orphans, exactly like an aborted
        commit's own writes."""
        self.prewrite_secs = {}  # reset before any write_table calls
        cur = self.current_snapshot_id()
        return 0 if cur is None else cur + 1

    def _write_dataset(self, df: DataFrame, path: str) -> float:
        """Write one table dir (orphan-guarded, errorifexists) and return
        the wall seconds. snap ids are strictly newer than every COMMITTED
        snapshot, so an existing dir at this path can only be an orphan
        from a crash between data writes and the current.json commit
        point. Atomically RENAME it aside before deleting: a
        contract-violating concurrent same-id writer then still fails
        loudly on its own errorifexists write (whoever wins the rename
        removes only the dir it renamed)."""
        t0 = time.perf_counter()
        if os.path.exists(path):
            import shutil

            orphan = f"{path}.orphan-{os.getpid()}-{time.time_ns()}"
            try:
                os.rename(path, orphan)
            except OSError:
                pass  # another process already moved it aside
            else:
                shutil.rmtree(orphan, ignore_errors=True)
        df.write.mode("errorifexists").parquet(path)
        return round(time.perf_counter() - t0, 2)

    def write_table(self, name: str, df: DataFrame, snap_id: int) -> str:
        """Eagerly write ``name`` for the upcoming snapshot ``snap_id``
        (from ``next_snapshot_id``); pass the returned path to ``commit``'s
        ``prewritten``. The write happens NOW, on the caller's thread."""
        path = os.path.join(self.root, "data", name, f"snap-{snap_id}")
        self.prewrite_secs[name] = self._write_dataset(df, path)
        return path

    def commit(
        self,
        tables: dict[str, DataFrame],
        counters: Optional[dict] = None,
        lineage: Optional[list[dict]] = None,
        carry_tables: Optional[list[str]] = None,
        append_tables: Optional[dict[str, DataFrame]] = None,
        note: str = "",
        prewritten: Optional[dict[str, tuple[str, bool]]] = None,
    ) -> int:
        """Atomically commit a new snapshot.

        ``tables``        — DataFrames replacing the table in this snapshot.
        ``append_tables`` — DataFrames appended: the manifest entry becomes
                            the parent's file list + this snapshot's files
                            (Iceberg append-snapshot semantics, no rewrite).
        ``carry_tables``  — tables inherited from the parent unchanged
                            (manifest points at the parent's files; no IO).
        ``counters``      — round metrics (fetched/skipped/dup…, north_rule).
        ``lineage``       — per-partition provenance rows.
        ``prewritten``    — table → (path, is_append) already written via
                            ``write_table`` for ``next_snapshot_id()``
                            (overlapped with the caller's other compute);
                            manifested exactly like this commit's own
                            writes, stats included.
        """
        parent = self.current_snapshot_id()
        snap_id = 0 if parent is None else parent + 1
        for name, (path, _a) in (prewritten or {}).items():
            # single-writer contract: prewrites must target THIS snapshot
            if os.path.basename(path) != f"snap-{snap_id}":
                raise RuntimeError(
                    f"prewritten {name} targets {path}, commit is snap-{snap_id}"
                )
        parent_tables = self.snapshot(parent)["tables"] if parent is not None else {}
        manifest_tables: dict[str, str | list] = {}
        for t in carry_tables or []:
            if t in parent_tables:
                manifest_tables[t] = parent_tables[t]

        # The table writes are independent Spark jobs; submit them from a
        # thread pool so the scheduler overlaps them (FAIR across jobs is
        # irrelevant in local mode — what matters is that small writes don't
        # serialize their fixed per-job latency). Failure of any write aborts
        # the commit before the commit point, leaving orphan files inert.
        jobs: list[tuple[str, DataFrame, str, bool]] = []
        for name, df in tables.items():
            jobs.append((name, df, os.path.join(self.root, "data", name, f"snap-{snap_id}"), False))
        for name, df in (append_tables or {}).items():
            jobs.append((name, df, os.path.join(self.root, "data", name, f"snap-{snap_id}"), True))

        write_secs: dict[str, float] = {}

        def _write(job):
            name, df, path, _ = job
            write_secs[name] = self._write_dataset(df, path)

        if len(jobs) > 1:
            from concurrent.futures import ThreadPoolExecutor

            # All writes in flight at once (was 4): per-table commit
            # attribution showed the writes are LATENCY-bound chains of
            # small stages, not throughput-bound — executors sit idle while
            # 4-at-a-time jobs serialize their fixed DAG/scheduling
            # latencies (measured: commit 33 s at 16 one-core executors
            # with sum-of-walls 110 s). The cluster scheduler is the right
            # arbiter of genuinely contended executors.
            with ThreadPoolExecutor(max_workers=min(12, len(jobs))) as pool:
                list(pool.map(_write, jobs))
        else:
            for job in jobs:
                _write(job)
        # per-table wall seconds (wall, not CPU: pool-overlapped writes
        # share executors) — commit-phase attribution for the scaling
        # harness; read via ``last_write_secs`` after commit() returns.
        # Prewritten tables report their (overlapped) write_table walls.
        write_secs.update(self.prewrite_secs)
        self.prewrite_secs = {}
        self.last_write_secs = write_secs
        # prewritten tables join the manifest/stats path as zero-work jobs
        jobs = jobs + [
            (name, None, path, is_append)
            for name, (path, is_append) in (prewritten or {}).items()
        ]
        for name, _, path, is_append in jobs:
            if is_append:
                prev = parent_tables.get(name, [])
                prev = prev if isinstance(prev, list) else [prev]
                manifest_tables[name] = prev + [path]
            else:
                manifest_tables[name] = path
        # File-level column stats (Iceberg manifest semantics): per new
        # file, row count + min/max of the table's declared stats column,
        # from parquet FOOTERS only. Parent entries are carried forward for
        # files still live in this snapshot (append tables keep history;
        # replaced tables drop dead files), so one manifest read answers
        # pruning for the whole file list.
        parent_stats = self.snapshot(parent).get("stats", {}) if parent is not None else {}
        stats: dict[str, dict] = {}
        # Carry parent file stats forward for EVERY table whose files are
        # still live — not only the tables this instance declares
        # stats_columns for (ADVICE r5: a commit by a writer constructed
        # without stats_columns, e.g. ensure_table/stream_to_icelite on the
        # same store, used to write stats={} and silently disable round
        # pruning from that snapshot on). New files only get stats when the
        # writing instance declares the column.
        for name, pstats in parent_stats.items():
            live = manifest_tables.get(name)
            if live is None:
                continue
            live_dirs = set(live if isinstance(live, list) else [live])
            carried = {f: s for f, s in pstats.items() if os.path.dirname(f) in live_dirs}
            if carried:
                stats[name] = carried
        for name, col in self.stats_columns.items():
            if manifest_tables.get(name) is None:
                continue
            carried = stats.setdefault(name, {})
            for jname, _, path, _ in jobs:
                if jname == name:
                    carried.update(_collect_file_stats(path, col))
        manifest = {
            "id": snap_id,
            "parent": parent,
            "committed_at": time.time(),
            "note": note,
            "tables": manifest_tables,
            "stats": stats,
            "counters": counters or {},
            "lineage": lineage or [],
        }
        mpath = self._meta_path(snap_id)
        with open(mpath + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1)
        os.rename(mpath + ".tmp", mpath)
        cur = os.path.join(self.root, "metadata", "current.json")
        with open(cur + ".tmp", "w") as f:
            json.dump({"current": snap_id}, f)
        os.rename(cur + ".tmp", cur)  # commit point
        return snap_id


def ensure_table(store: "IceLite", spark: SparkSession, name: str, ddl: str) -> None:
    """CREATE TABLE IF NOT EXISTS analog of the reference's ensure_index
    (es_sink.py:220-229, index.py:54-80): commit an empty typed table into
    the current snapshot lineage if absent."""
    sid = store.current_snapshot_id()
    if sid is not None and name in store.snapshot(sid)["tables"]:
        return
    carry = list(store.snapshot(sid)["tables"].keys()) if sid is not None else []
    store.commit(
        tables={name: spark.createDataFrame([], ddl)},
        carry_tables=carry,
        counters=dict(store.snapshot(sid)["counters"]) if sid is not None else {},
        note=f"ensure-{name}",
    )


def expire_snapshots(store: "IceLite", keep_last: int = 5) -> list[int]:
    """Iceberg-style maintenance (the clear_redis analog, index.py:245-282):
    delete data files only reachable from snapshots older than the last
    ``keep_last``. Metadata JSONs are kept (cheap, preserves history ids);
    returns the expired snapshot ids."""
    import shutil

    snaps = store.snapshots()
    if len(snaps) <= keep_last:
        return []
    live_paths: set[str] = set()
    for s in snaps[-keep_last:]:
        for p in s["tables"].values():
            live_paths.update(p if isinstance(p, list) else [p])
    expired = []
    for s in snaps[:-keep_last]:
        for p in s["tables"].values():
            for path in p if isinstance(p, list) else [p]:
                if path not in live_paths and os.path.exists(path):
                    shutil.rmtree(path, ignore_errors=True)
        expired.append(s["id"])
    return expired


def merge_upsert(existing: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE/upsert emulation (the es_sink ``update_action`` analog,
    es_sink.py:200-217): rows in ``updates`` replace same-key rows in
    ``existing``; commit the result as a replace-table snapshot. One anti
    join + union — the standard Spark CDC shape without Delta."""
    return existing.join(updates.select(key).distinct(), key, "left_anti").unionByName(updates)
