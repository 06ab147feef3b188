"""Controlled A/B for the curation_pipeline bench delta (VERDICT r4
finding #1: driver BENCH_r04 8.31s vs r3 4.37s at identical sf0.1,
committed run 4.19s — same discipline as the r4 minhash A/B).

Arms, each wall-clocked with Spark-free host controls before/after:

  curation   — the full curation_pipeline query (curation.curate)
  clusters   — dedup_clusters alone (the r4-changed inner loop)

Each arm runs `trials` times twice: COLD (clearCache + JVM gc before
every trial) and WARM (no cache hygiene between trials — the resident
steady state bench.py's min-of-trials records).

Usage: python3 tools/ab_curation.py [sf_dir] [trials]
Output: one JSON line per arm.
"""

from __future__ import annotations

import gc
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bench import _host_control  # noqa: E402
from simple_html_parser_spark.operators import dedup as D  # noqa: E402
from simple_html_parser_spark.runtime.session import get_spark  # noqa: E402


def _hygiene(spark):
    spark.catalog.clearCache()
    gc.collect()
    try:
        spark._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    import __spark_entry__ as entry

    spark = get_spark(master="local[32]", shuffle_partitions=32)
    raw = entry._raw_docs(spark, sf_dir)
    qs = entry.queries()

    arms = {
        "curation": lambda: qs["curation_pipeline"](spark, sf_dir),
        "clusters": lambda: D.dedup_clusters(
            raw, threshold=0.30, max_shingle_df="auto"),
    }

    for name, fn in arms.items():
        for mode in ("cold", "warm"):
            walls, ctls = [], [_host_control(400_000)]
            # one unmeasured warmup so 'warm' measures steady state
            if mode == "warm":
                fn().count()
            for _ in range(trials):
                if mode == "cold":
                    _hygiene(spark)
                t0 = time.perf_counter()
                n = fn().count()
                walls.append(round(time.perf_counter() - t0, 3))
                ctls.append(_host_control(400_000))
            if mode == "warm":
                _hygiene(spark)
            print(json.dumps({
                "arm": name, "mode": mode, "rows": n, "walls": walls,
                "min": min(walls), "host_ctls": ctls,
                "clean": min(ctls) >= 0.85}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
