"""Driver simulation: exercise the __spark_entry__ contract end-to-end.

Mimics what the grading driver does, deliberately NOT using our tuned
session builder: a plain SparkSession (as the driver would create), import
__spark_entry__, run entry(), then run every queries()[name] at sf0.01 and
compare against oracle_sql()[name] via DuckDB (row count + sorted-column
value multiset).

Usage: python tools/verify_driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
from pyspark.sql import SparkSession

from tests.compare import assert_frames_match


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Plain session, as the driver would build it — no engine tuning.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    print("== entry() smoke ==")
    df = e.entry(spark)
    rows = df.collect()
    print(f"entry -> {len(rows)} rows, schema: {df.schema.simpleString()}")
    assert len(rows) >= 0

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failed, passed, weak = [], 0, 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
            if name in oracles:
                opdf = con.execute(oracles[name]).fetchdf()
                assert_frames_match(spdf, opdf, name)
                passed += 1
                status = f"OK    ({len(spdf)} rows)"
            else:
                weak += 1
                status = f"WEAK  ({len(spdf)} rows, no oracle)"
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            status = f"FAIL  {type(ex).__name__}: {str(ex)[:200]}"
        print(f"{name:45s} {time.time() - t0:6.2f}s  {status}")

    print(f"\npassed={passed} weak={weak} failed={len(failed)}")
    if failed:
        print("FAILED:", failed)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
