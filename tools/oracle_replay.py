"""Value-compare every declared query against its DuckDB oracle.

Usage: python tools/oracle_replay.py [sf_dir] [--only a,b,c]

The session comes from ``kats_spark.session.get_spark``: set
``SPARK_GRAFT_CPUS`` (default 32) and ``SPARK_DRIVER_MEMORY`` (default
8g) to size it for the box.

Unlike driver_sim (rows/err only), this runs harness.compare — the same
value-hash the external driver applies — for every queries() entry that
declares an oracle.  Prints one line per query and a final tally.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kats_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
    only = None
    for i, a in enumerate(sys.argv):
        if a == "--only":
            only = set(sys.argv[i + 1].split(","))

    spark = get_spark("oracle-replay")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from kats_spark.plans.harness import compare, duck_run

    q = entry.queries()
    o = entry.oracle_sql()
    names = [n for n in q if n in o]
    if only:
        names = [n for n in names if n in only]

    t0 = time.time()
    bad = []
    for i, name in enumerate(names):
        try:
            ok, msg = compare(q[name](spark, sf_dir), duck_run(o[name], sf_dir))
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            bad.append((name, msg[:200]))
        print(f"{i+1:3d} {name:30s} {'MATCH' if ok else 'MISMATCH: ' + msg[:150]}", flush=True)
        # bound accumulated cache blocks: 190 queries' persists in one
        # session OOM a default-heap driver; dropping them between
        # queries mirrors bench.py hygiene and cannot change values
        spark.catalog.clearCache()
    print(f"\nTOTAL {time.time()-t0:.0f}s  {len(names)} compared  BAD {len(bad)}")
    for name, msg in bad:
        print(f"  BAD {name}: {msg}")
    with open("/tmp/oracle_replay.json", "w") as f:
        json.dump({"n": len(names), "bad": bad}, f, indent=1)


if __name__ == "__main__":
    main()
