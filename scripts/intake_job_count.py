"""Count Spark jobs per intake trigger (weather-independent evidence
for driver-action fusion work in Engine.dedup_corpus_incremental).

Seeds a small corpus state, runs one warm-up batch, then wraps a second
constant batch in a job group and reports how many Spark jobs that one
trigger submitted, plus its wall. Job counts are deterministic for a
given code version, so they A/B cleanly under co-tenant load that makes
single-box walls swing 3-4x.

Usage: python scripts/intake_job_count.py [state_rows]
Prints ONE JSON line: {"state_rows": n, "jobs": n, "wall_sec": s}
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intake_state_growth import seed_state, synth_docs  # noqa: E402

from sparvi_spark.engine import Engine  # noqa: E402
from sparvi_spark.session import get_spark  # noqa: E402

STATE_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
N, NUM_HASHES = 3, 64


def main() -> None:
    spark = get_spark()
    root = tempfile.mkdtemp(prefix="intake_jobs_")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        eng = Engine(spark, root)
        seed_state(spark, eng, "c", STATE_ROWS, "xxhash64")
        # warm-up trigger (JVM + cache warm; separate doc range)
        warm = synth_docs(spark, 10_000_000, 5_000).localCheckpoint()
        eng.dedup_corpus_incremental(warm, "c", n=N,
                                     num_hashes=NUM_HASHES,
                                     hash_fn="xxhash64")
        batch = synth_docs(spark, 20_000_000, 5_000).localCheckpoint()
        sc = spark.sparkContext
        sc.setJobGroup("intake-trigger", "one intake trigger")
        t0 = time.perf_counter()
        eng.dedup_corpus_incremental(batch, "c", n=N,
                                     num_hashes=NUM_HASHES,
                                     hash_fn="xxhash64")
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        tracker = sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup("intake-trigger"))
        if "-v" in sys.argv:
            for j in jobs:
                info = tracker.getJobInfo(j)
                names = []
                for s in sorted(info.stageIds):
                    si = tracker.getStageInfo(s)
                    if si is not None:
                        names.append(si.name.split("+details")[0].strip())
                print(f"# job {j}: {names}", file=sys.stderr)
        print(json.dumps({"state_rows": STATE_ROWS, "jobs": len(jobs),
                          "wall_sec": round(wall, 3)}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
