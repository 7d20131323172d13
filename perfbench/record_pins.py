"""Record the result pins of the ``analytics_scan`` queries into pins.json.

For each scale factor, the inputs are staged with two seeds and every
query is forced with ``measure.force``.  A checksum that
differs between the seeds is a determinism defect of the program and is
reported, not pinned.  With ``--oracle``, each result is also compared
once with its DuckDB ``oracle_sql()`` twin on the staged tables (row
count, columns and order-insensitive value hash).  The benchmark and its
smoke test both run the queries at sf0.001, the default.

Usage (from the repository root):

    python3 perfbench/record_pins.py [--oracle] [--sf 0.001 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

SEEDS = (1, 2)


def oracle_check(spark_df, con, sql: str) -> str | None:
    """None when Spark and DuckDB agree, else the difference."""
    from tools.check_correctness import frame_hash

    s = frame_hash(spark_df.toPandas())
    o = frame_hash(con.sql(sql).df())
    return None if s == o else f"spark {s} != duckdb {o}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, nargs="+", default=[0.001])
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()

    import bench
    import __spark_entry__
    import datagen
    from measure import force
    from run import start_spark, stop_spark

    work = tempfile.mkdtemp(prefix="perfbench_pins_")
    spark, _ = start_spark(work)
    registry = __spark_entry__.queries()
    pins: dict = {}
    problems = []
    try:
        for sf in args.sf:
            seen: dict[str, list] = {}
            for seed in SEEDS:
                d = os.path.join(work, f"sf{sf}-{seed}")
                datagen.stage(d, sf, tuple(datagen.TABLES), seed)
                con = None
                if args.oracle and seed == SEEDS[0]:
                    import duckdb
                    con = duckdb.connect()
                    for t in datagen.TABLES:
                        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{d}/{t}.parquet/*.parquet')")
                    oracles = __spark_entry__.oracle_sql()
                for q in bench.SHARED16:
                    try:
                        chk = list(force(registry[q](spark, d))[0])
                    except Exception as exc:  # noqa: BLE001
                        problems.append(f"sf{sf} {q}: {exc}"[:500])
                        continue
                    seen.setdefault(q, []).append(chk)
                    if con is not None:
                        diff = oracle_check(registry[q](spark, d), con,
                                            oracles[q])
                        print(f"oracle sf{sf} {q}: {diff or 'ok'}",
                              flush=True)
                        if diff:
                            problems.append(f"oracle sf{sf} {q}: {diff}")
                    spark.catalog.clearCache()
                shutil.rmtree(d)
            for q, chks in seen.items():
                if all(c == chks[0] for c in chks):
                    pins.setdefault("analytics_scan", {}).setdefault(
                        str(sf), {})[q] = chks[0]
                else:
                    problems.append(f"seed-dependent result sf{sf} {q}: "
                                    f"{chks}")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for p in problems:
        print("PROBLEM", p)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
