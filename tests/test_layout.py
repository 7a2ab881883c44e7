"""README's Layout table names every module of the package, and only those."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_layout_matches_package():
    with open(os.path.join(ROOT, "README.md"), encoding="utf-8") as f:
        readme = f.read()
    table = readme.split("## Layout", 1)[1].split("\n## ", 1)[0]
    listed = set(re.findall(r"^\| `(frontier_engine/[^`]+)`", table, re.M))
    on_disk = set()
    for dirpath, _, files in os.walk(os.path.join(ROOT, "frontier_engine")):
        for name in files:
            if name.endswith(".py") and name != "__init__.py":
                on_disk.add(os.path.relpath(os.path.join(dirpath, name), ROOT).replace(os.sep, "/"))
    assert listed == on_disk
