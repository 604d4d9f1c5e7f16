"""Knob inventory: the package reads exactly these SPARK_GRAFT_* env
vars, and each store cache root is named in exactly one file.

A new name here means a new user-facing knob (an A/B twin kept alive
behind a flag, a copied cache-root lookup); it should be a deliberate
change to this list, not drift.
"""

from __future__ import annotations

import os
import re
from collections import defaultdict

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "xml_to_sqlite3_spark"
)

EXPECTED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_GRAPH_CACHE",
    "SPARK_GRAFT_INDEX_CACHE",
    "SPARK_GRAFT_MINHASH_CACHE",
    "SPARK_GRAFT_CODEBOOK_CACHE",
}


def _knob_files() -> dict[str, set[str]]:
    """{env var name: package files (relative) that mention it}."""
    found: dict[str, set[str]] = defaultdict(set)
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as f:
                for knob in re.findall(r"SPARK_GRAFT_\w+", f.read()):
                    found[knob].add(os.path.relpath(path, PKG))
    return found


def test_knob_set_is_exactly_the_expected_eight():
    assert set(_knob_files()) == EXPECTED


def test_each_cache_root_is_named_in_one_file():
    found = _knob_files()
    for knob in sorted(k for k in EXPECTED if k.endswith("_CACHE")):
        assert len(found[knob]) == 1, (knob, sorted(found[knob]))
