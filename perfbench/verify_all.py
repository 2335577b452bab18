#!/usr/bin/env python3
"""Check every registered query against its DuckDB oracle on the sf0.1 tables.

    python3 perfbench/verify_all.py

Generates the sf0.1 tables the benchmark reads, runs each registered query
once (construct plus ``toPandas``) and compares it with its oracle under
the benchmark's rules.  Prints one line per mismatch or error and, last,
a JSON summary; exits 1 when any query does not match.  This covers the
whole registry, where a benchmark run covers only its workload's panel.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import fixtures, workloads
    from perfbench.oracle import Oracle, mismatch

    cfg = workloads.load_config()
    work = os.path.join(ROOT, ".perfbench", f"verify-{os.getpid()}")
    workloads.isolate(ROOT, work)
    sf_dir = os.path.join(work, "sf")
    fixtures.generate(sf_dir)
    from s3_manifest_spark import registry

    registry.load_all()
    spark = workloads.start_session(cfg, work)
    oracle = Oracle(sf_dir, workloads.nproc())
    bad = {}
    try:
        for name in sorted(registry.QUERIES):
            try:
                why = mismatch(registry.QUERIES[name](spark, sf_dir).toPandas(),
                               oracle.answer(registry.ORACLES[name]))
            except Exception:
                why = traceback.format_exc(limit=3)
            if why is not None:
                bad[name] = why
                print(f"MISMATCH {name}: {why}", flush=True)
    finally:
        oracle.close()
        workloads.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"queries": len(registry.QUERIES),
                      "mismatched": sorted(bad)}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
