"""IceLite — Iceberg-semantics snapshot layer over plain parquet + JSON.

No Iceberg runtime jar is reachable in-sandbox (SURVEY.md §7.0), so this
module delivers the subset of Iceberg semantics the engine needs — atomic
snapshot commit, time travel, per-partition lineage — with parquet data
files and JSON manifests, keeping a ``load/append/commit/snapshots``-shaped
API so a real Iceberg catalog can be swapped in where jars exist.

It replaces the reference's Redis split-range resume cache
(warcio.py:120-134,172-174): instead of per-split "start:end" records, a
killed job re-reads the **last committed snapshot** and recomputes nothing.

A manifest records what the writer could derive, as Iceberg table metadata
and manifests do (https://iceberg.apache.org/spec/): every table of the
parent that a commit neither replaces nor appends is carried unchanged;
every table has a schema (``read`` needs no inference job) and per-file
stats (row count, and min/max of every plain-integer column for pruned
reads), derived from the DataFrame and the parquet footers.

Commit protocol (single-writer, crash-safe; ``commit`` is the only writer
of a snapshot's tables):
  1. write each table's parquet under  data/<table>/snap-<id>/   (Spark
     writer; _SUCCESS marker closes the files),
  2. write  metadata/snap-<id>.json.tmp  (tables, schemas, stats, counters,
     trace, lineage, parent)
     and atomically  rename → snap-<id>.json,
  3. write  metadata/current.json.tmp  and atomically rename over
     current.json  — THE commit point; a crash before it leaves the
     previous snapshot current and the orphan files inert.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


def _file_stats(dir_path: str) -> dict[str, dict]:
    """Per-file ``{rows, bounds}`` of one written dir from its parquet
    footers (no data scan). ``bounds`` maps each top-level column whose
    footer values are plain integers (INT32/INT64 with no date, time or
    decimal logical type; other values do not round-trip through JSON) to
    its [min, max]; a column missing min/max in any row group gets none."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for fn in sorted(os.listdir(dir_path)):
        if not fn.endswith(".parquet"):
            continue
        fp = os.path.join(dir_path, fn)
        md = pq.ParquetFile(fp).metadata
        bounds: dict[str, list] = {}
        for i in range(md.num_columns):
            c = md.schema.column(i)
            plain_int = c.physical_type in ("INT32", "INT64") and c.logical_type.type in ("NONE", "INT")
            if c.path != c.name or not plain_int:
                continue
            sts = [md.row_group(g).column(i).statistics for g in range(md.num_row_groups)]
            if sts and all(st is not None and st.has_min_max for st in sts):
                bounds[c.name] = [min(st.min for st in sts), max(st.max for st in sts)]
        out[fp] = {"rows": md.num_rows, "bounds": bounds}
    return out


class IceLite:
    def __init__(self, root: str):
        self.root = root
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
        bounds for ``column`` intersect [lo, hi] (Iceberg file-stats
        pruning — the planner never lists, opens, or schedules the skipped
        files). Files with no recorded bounds for ``column`` are always
        kept, so pruning is safe on mixed tables; it is an IO optimization,
        not a filter — pair it with the matching ``.where()`` for row-exact
        results. The manifest's schema, when recorded, is passed to the
        reader, so no schema-inference job runs."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        snap = self.snapshot(sid)
        path = snap["tables"].get(table)
        if path is None:
            return None
        dirs = path if isinstance(path, list) else [path]
        schema = snap.get("schemas", {}).get(table)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(T.StructType.fromJson(json.loads(schema)))
        if prune is None:
            return reader.parquet(*dirs)
        col, lo, hi = prune
        stats = snap.get("stats", {}).get(table, {})
        kept = []
        for d in dirs:
            for fn in sorted(os.listdir(d)):
                if not fn.endswith(".parquet"):
                    continue
                fp = os.path.join(d, fn)
                b = stats.get(fp, {}).get("bounds", {}).get(col)
                if b is None or (b[0] <= hi and b[1] >= lo):
                    kept.append(fp)
        if not kept:
            # nothing qualifies: preserve the schema, read zero rows
            return reader.parquet(*dirs).limit(0)
        return reader.parquet(*kept)

    # ------------------------------------------------------------ commits

    def write_table(self, name: str, df: DataFrame, snap_id: int) -> str:
        """Write table ``name`` of snapshot ``snap_id`` (orphan-guarded,
        errorifexists) and return its dir. ``commit`` writes every table of
        a snapshot through here. snap ids are strictly newer than every
        COMMITTED snapshot, so an existing dir at this path can only be an
        orphan from a crash between data writes and the current.json commit
        point. Atomically RENAME it aside before deleting: a
        contract-violating concurrent same-id writer then still fails loudly
        on its own errorifexists write (whoever wins the rename removes only
        the dir it renamed)."""
        path = os.path.join(self.root, "data", name, f"snap-{snap_id}")
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
        return path

    def commit(
        self,
        tables: dict[str, DataFrame],
        counters: Optional[dict] = None,
        lineage: Optional[list[dict]] = None,
        append_tables: Optional[dict[str, DataFrame]] = None,
        trace: Optional[dict] = None,
        note: str = "",
    ) -> int:
        """Atomically commit a new snapshot; writes every table of ``tables``
        and ``append_tables`` through ``write_table``. Every other table of
        the parent is carried unchanged (manifest points at the parent's
        files, with their schema and stats; no IO).

        ``tables``        — DataFrames replacing the table in this snapshot.
        ``append_tables`` — DataFrames appended: the manifest entry becomes
                            the parent's file list + this snapshot's files
                            (Iceberg append-snapshot semantics, no rewrite).
        ``counters``      — round metrics (fetched/skipped/dup…, north_rule).
        ``lineage``       — per-partition provenance rows.
        ``trace``         — the writer's phase walls (s); the manifest's
                            ``trace`` adds ``write_s``, this commit's
                            table-write wall.
        """
        parent = self.current_snapshot_id()
        snap_id = 0 if parent is None else parent + 1
        parent_snap = self.snapshot(parent) if parent is not None else {}
        parent_tables = parent_snap.get("tables", {})

        # The table writes are independent Spark jobs; submit them all at
        # once from a thread pool so the scheduler overlaps them: the writes
        # are LATENCY-bound chains of small stages, and writing them a few
        # at a time serialized their fixed DAG/scheduling latencies
        # (measured: commit 33 s at 16 one-core executors with sum-of-walls
        # 110 s). Failure of any write aborts the commit before the commit
        # point, leaving orphan files inert.
        appends = append_tables or {}
        jobs = {**tables, **appends}
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=min(12, max(1, len(jobs)))) as pool:
            futs = {name: pool.submit(self.write_table, name, df, snap_id) for name, df in jobs.items()}
        written = {name: fut.result() for name, fut in futs.items()}
        write_s = round(time.perf_counter() - t0, 2)
        manifest_tables = dict(parent_tables)
        for name, path in written.items():
            if name in appends:
                prev = parent_tables.get(name, [])
                prev = prev if isinstance(prev, list) else [prev]
                manifest_tables[name] = prev + [path]
            else:
                manifest_tables[name] = path
        schemas = {
            **parent_snap.get("schemas", {}),
            **{name: df.schema.json() for name, df in jobs.items()},
        }
        # File stats (Iceberg manifest semantics): the parent's entries for
        # files still live in this snapshot (append tables keep history,
        # replaced tables drop dead files) plus footer stats of every new
        # file, so one manifest read answers pruning and row counts for the
        # whole file list.
        parent_stats = parent_snap.get("stats", {})
        stats: dict[str, dict] = {}
        for name, live in manifest_tables.items():
            live_dirs = set(live if isinstance(live, list) else [live])
            stats[name] = {
                f: st for f, st in parent_stats.get(name, {}).items() if os.path.dirname(f) in live_dirs
            }
            if name in written:
                stats[name].update(_file_stats(written[name]))
        manifest = {
            "id": snap_id,
            "parent": parent,
            "committed_at": time.time(),
            "note": note,
            "tables": manifest_tables,
            "schemas": schemas,
            "stats": stats,
            "counters": counters or {},
            "trace": {**(trace or {}), "write_s": write_s},
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
    the current snapshot lineage if absent, keeping the parent's counters."""
    sid = store.current_snapshot_id()
    if sid is not None and name in store.snapshot(sid)["tables"]:
        return
    # an always-false filter (Catalyst folds it to an empty relation), not
    # spark.createDataFrame([], ddl): see urlseen.extend_shards
    empty = spark.range(1).where(F.lit(False)).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in T.StructType.fromDDL(ddl)]
    )
    store.commit(
        tables={name: empty},
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
