"""Controlled A/B for the curate_web bench regression (VERDICT r5
finding #1: driver r4 6.34s -> driver r5 12.15s, builder 12.52s).

Decomposes curate_web into its component subplans and wall-clocks each
with Spark-free host controls (the ab_curation.py protocol):

  full        — the whole curate_web query
  base        — scrub + lang/quality/oov gate only (no dedup tail)
  exact       — dedup_exact on the scrubbed corpus
  lsh         — dedup_minhash_lsh pairs on the scrubbed corpus
  clusters    — dedup_clusters (LSH + the CC loop)

Usage: python3 tools/ab_curate_web.py [sf_dir] [trials] [arm ...]
Output: one JSON line per (arm, mode).
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
from pyspark.sql import functions as F  # noqa: E402

from simple_html_parser_spark.operators import curation as CU  # noqa: E402
from simple_html_parser_spark.operators import dedup as D  # noqa: E402
from simple_html_parser_spark.operators.pii import scrub_col  # noqa: E402
from simple_html_parser_spark.operators.textstats import (  # noqa: E402
    oov_stats,
)
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
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    only = set(sys.argv[3:])

    import __spark_entry__ as entry
    from simple_html_parser_spark.sources.documents import with_contacts

    spark = get_spark("ab-curate-web", master="local[32]",
                      shuffle_partitions=64)
    docs = with_contacts(entry._raw_docs(spark, sf_dir))
    docs2 = docs.select("doc_id", "lang",
                        scrub_col(F.col("text")).alias("text"))

    def base_arm():
        return CU._quality_lang_base(
            docs2, 5500, extra=F.col("oov_bp") <= 600,
            extra_frames=[oov_stats(docs2).select("doc_id", "oov_bp")])

    arms = {
        "full": lambda: CU.curate_web(docs),
        "base": base_arm,
        "exact": lambda: D.dedup_exact(docs2).select("doc_id"),
        "lsh": lambda: D.dedup_minhash_lsh(
            docs2, threshold=0.30, max_shingle_df="auto"),
        "clusters": lambda: D.dedup_clusters(
            docs2, threshold=0.30, max_shingle_df="auto"),
    }
    if only:
        arms = {k: v for k, v in arms.items() if k in only}

    for name, fn in arms.items():
        for mode in ("cold", "warm"):
            walls, ctls = [], [_host_control(400_000)]
            if mode == "warm":
                fn().count()
            for _ in range(trials):
                if mode == "cold":
                    _hygiene(spark)
                spark.sparkContext.setJobDescription(f"{name}/{mode}")
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
