"""Compute the expected output hash of every benchmark query with the
DuckDB oracle SQL and store it in ``expected.json``, keyed by the
identity of the input tables.  The oracles are slow (minutes), so the
benchmark never runs them itself; rerun this after changing the tables
or the query lists.

Usage (from the repository root): python3 perfbench/oracle.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import bench  # noqa: E402
import workloads  # noqa: E402
from tools.driver_sim import _canon, _hash  # noqa: E402
from tools.oracle_check import duck_connect  # noqa: E402
from torcharrow_spark.queries import ORACLES  # noqa: E402


def main() -> None:
    key = workloads.input_identity()
    try:
        with open(workloads.EXPECTED) as fh:
            stored = json.load(fh)
    except FileNotFoundError:
        stored = {}
    hashes = stored.setdefault(key, {})
    con = duck_connect(workloads.SF_DIR)
    for w in workloads.QUERY_WORKLOADS:
        for name in workloads.query_names(w, bench.HEADLINE):
            if name in hashes:
                continue
            t0 = time.perf_counter()
            hashes[name] = _hash(_canon(con.execute(ORACLES[name]).df()))
            print(f"{name}: {hashes[name]} ({time.perf_counter() - t0:.1f} s)", flush=True)
            with open(workloads.EXPECTED, "w") as fh:
                json.dump(stored, fh, indent=1, sort_keys=True)
                fh.write("\n")


if __name__ == "__main__":
    main()
