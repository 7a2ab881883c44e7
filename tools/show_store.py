"""Print the history of an IceLite store from its manifests alone (no Spark).

For each snapshot, oldest first: its note, counters and trace, then one line
per table with its live files and rows, and the rows in files this snapshot
wrote (0 for a table it carried). Files and rows come from the manifest's
per-file stats.

Usage: python tools/show_store.py <store_root>
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from frontier_engine.icelite import IceLite  # noqa: E402


def show(root: str) -> None:
    parent_stats: dict = {}
    for snap in IceLite(root).snapshots():
        print(f"snapshot {snap['id']} (parent {snap['parent']})")
        print(f"  note: {snap['note']}")
        print(f"  counters: {json.dumps(snap['counters'], sort_keys=True)}")
        print(f"  trace: {json.dumps(snap.get('trace', {}), sort_keys=True)}")
        stats = snap.get("stats", {})
        for table in sorted(snap["tables"]):
            files = stats.get(table)
            if not files:
                print(f"  {table}: no file stats")
                continue
            rows = sum(s["rows"] for s in files.values())
            new = sum(s["rows"] for f, s in files.items() if f not in parent_stats.get(table, {}))
            print(f"  {table}: {len(files)} files {rows} rows {new} new_rows")
        parent_stats = stats


if __name__ == "__main__":
    if len(sys.argv) != 2 or not os.path.isfile(os.path.join(sys.argv[1], "metadata", "current.json")):
        sys.exit(__doc__.strip().splitlines()[-1])
    show(sys.argv[1])
