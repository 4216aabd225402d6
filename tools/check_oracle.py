"""Local approximation of the driver's correctness gate.

Runs every query — the 50 driver-recorded contract entries AND the
extras registry — on Spark and, where an oracle exists, the oracle on
DuckDB over the same parquet tables; then compares row count + column
names + order-insensitive canonicalized values.  Each line ends with a
digest of the Spark result's canonical form, so two checkouts' outputs
can be compared query by query.  Usage::

    python tools/check_oracle.py [sf_dir] [query ...]

It checks the checkout it lives in, whatever the working directory.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# The Python workers inherit the JVM's environment, not this sys.path.
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import __spark_entry__ as entrymod
from plda_spark.oracle import canon, compare_frames, duckdb_connection
from plda_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb_connection(sf_dir)

    qs = entrymod.all_queries()
    oracles = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark query raised")
            traceback.print_exc()
            failures.append(name)
            continue
        el = time.time() - t0
        digest = hashlib.sha256(canon(sdf).to_csv(index=False).encode()).hexdigest()[:16]
        if name not in oracles:
            print(f"ok    {name}: rows-only, {len(sdf)} rows ({el:.1f}s) {digest}")
            if len(sdf) == 0:
                print(f"      WARNING: {name} returned 0 rows")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: oracle SQL raised")
            traceback.print_exc()
            failures.append(name)
            continue
        diff = compare_frames(sdf, ddf)
        if diff is not None:
            print(f"FAIL  {name}: {diff}")
            failures.append(name)
            continue
        print(f"OK    {name}: {len(sdf)} rows match ({el:.1f}s) {digest}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
