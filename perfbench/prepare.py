"""One-off fixture steps, each run in its own process by ``run.py``.

  python3 perfbench/prepare.py scale <src_dir> <dst_dir>
      the 10x fixture, built by the engine's own ``benchscale.ensure_scaled_dir``
  python3 perfbench/prepare.py oracle <fixture_dir> <out_dir> <query>...
      the DuckDB answer of each query's oracle SQL, pickled per query

Oracle answers are computed while no JVM runs, so DuckDB never competes with
the measured engine for memory.
"""

from __future__ import annotations

import os
import pickle
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def scale(src: str, dst: str) -> None:
    from flink_ci_flink_spark.benchscale import ensure_scaled_dir
    from flink_ci_flink_spark.session import get_spark

    spark = get_spark("perfbench-scale")
    try:
        ensure_scaled_dir(spark, src, dst, 10)
    finally:
        spark.stop()


def oracle(fixture: str, out: str, names: list[str]) -> None:
    import duckdb

    from flink_ci_flink_spark.catalog import TABLE_NAMES
    from flink_ci_flink_spark.queries import QUERIES

    con = duckdb.connect(config={"threads": os.cpu_count() or 1, "memory_limit": "4GB"})
    for t in TABLE_NAMES:
        path = os.path.join(fixture, f"{t}.parquet")
        glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    os.makedirs(out, exist_ok=True)
    for name in names:
        sql = QUERIES[name].oracle
        if sql is None:
            raise SystemExit(f"{name} has no oracle SQL")
        path = os.path.join(out, f"{name}.pkl")
        with open(path + ".partial", "wb") as fh:
            pickle.dump(con.execute(sql).fetchdf(), fh)
        os.replace(path + ".partial", path)
    con.close()


if __name__ == "__main__":
    if sys.argv[1] == "scale":
        scale(sys.argv[2], sys.argv[3])
    elif sys.argv[1] == "oracle":
        oracle(sys.argv[2], sys.argv[3], sys.argv[4:])
    else:
        raise SystemExit(f"unknown step {sys.argv[1]!r}")
