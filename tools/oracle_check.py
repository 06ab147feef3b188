"""Driver-mimic: run every __spark_entry__.queries() entry in Spark and
its oracle_sql() in DuckDB on the same sf dir; compare row counts,
column names, and order-insensitive values (exact — floats must match
to the bit after the in-query rounding, like the driver's value-hash).

    python3 tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from simple_html_parser_spark.runtime.session import get_spark  # noqa: E402
from simple_html_parser_spark.sources.documents import TABLES  # noqa: E402


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 vs 0.0 and representation noise at 1e-9
        return round(v + 0.0, 9)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def _check_one(con, spark, name, fn, oracles, sf_dir, t0) -> bool:
    """Run one query and compare it with its oracle; True on failure."""
    try:
        df = fn(spark, sf_dir)
        spark_cols = df.columns
        spark_rows = [tuple(r) for r in df.collect()]
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: spark error {e}")
        return True
    finally:
        # several operators persist intermediates (LSH shingles,
        # line-dedup segments); 73 queries in one session would
        # accrete cached blocks and degrade later queries (the
        # r3 bench hygiene lesson) — release between queries
        spark.catalog.clearCache()
    if name not in oracles:
        print(f"rows-only {name}: {len(spark_rows)} rows "
              f"({time.time()-t0:.1f}s)")
        return False
    try:
        rel = con.sql(oracles[name])
        duck_cols = [c.lower() for c in rel.columns]
        duck_rows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: duckdb error {e}")
        return True
    sc, srows = _norm_rows([c.lower() for c in spark_cols], spark_rows)
    dc, drows = _norm_rows(duck_cols, duck_rows)
    if sc != dc:
        print(f"FAIL {name}: columns {sc} vs {dc}")
        return True
    if len(srows) != len(drows):
        print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
        print(f"  spark[:2]={srows[:2]}\n  duck[:2]={drows[:2]}")
        return True
    bad = [(a, b) for a, b in zip(srows, drows) if a != b]
    if bad:
        print(f"FAIL {name}: {len(bad)}/{len(srows)} rows differ; "
              f"first: \n  spark={bad[0][0]}\n  duck ={bad[0][1]}")
        return True
    print(f"ok  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
    return False


def check(sf_dir: str, only: list[str] | None = None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    seconds: dict[str, float] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        failures += _check_one(con, spark, name, fn, oracles, sf_dir, t0)
        seconds[name] = time.time() - t0
    spark.stop()
    print("slowest queries (s):")
    for name in sorted(seconds, key=seconds.get, reverse=True)[:10]:
        print(f"  {seconds[name]:7.1f}  {name}")
    print("FAILURES:", failures)
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    raise SystemExit(1 if check(sf, only) else 0)
