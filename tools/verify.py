#!/usr/bin/env python
"""Driver-contract check of the catalog against its DuckDB oracles.

    python tools/verify.py [entry ...]
    VERIFY_SF_DIR=/root/testdata/sf0.1 python tools/verify.py ...

Builds a vanilla SparkSession, not the package's tuned one, with the
America/New_York session timezone (it catches window/date code that
forgot the UTC pin in operators/common.t()), the way the external
driver supplies its own session. With no names it runs the ``entry()``
smoke check and then every entry. Each entry with an ``oracle_sql()``
twin is compared with tests/test_oracle_parity.assert_frames_match
against DuckDB over the $VERIFY_SF_DIR parquet tables (default
sf0.01); rows-only entries are run and counted. Exits 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as driver  # noqa: E402
from aliyun_emapreduce_datasources_spark.registry import TABLES  # noqa: E402
from aliyun_emapreduce_datasources_spark.session import default_parallelism  # noqa: E402
from tests.test_oracle_parity import assert_frames_match  # noqa: E402

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")


def main(names: list[str]) -> int:
    cores = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("verify")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{SF_DIR}/{tbl}.parquet'")

    failed: list[str] = []
    if not names:
        n = driver.entry(spark).count()
        print(f"entry(): {n} rows", flush=True)
        if n <= 0:
            failed.append("entry()")
    queries, oracles = driver.queries(), driver.oracle_sql()
    names = names or list(queries)
    ok = rows_only = 0
    for i, name in enumerate(names, 1):
        t0 = time.perf_counter()
        try:
            got = queries[name](spark, SF_DIR).toPandas()
            if name in oracles:
                assert_frames_match(got, con.execute(oracles[name]).df(), name)
                ok += 1
                status = f"OK ({len(got)} rows)"
            else:
                rows_only += 1
                status = f"ROWS ({len(got)} rows, no oracle)"
        except Exception:  # noqa: BLE001 — report every failure, keep going
            failed.append(name)
            status = "FAIL"
            traceback.print_exc()
        print(f"[{i}/{len(names)}] {name}: {status} [{time.perf_counter() - t0:.1f}s]", flush=True)
    print(
        f"VERIFY {'FAIL' if failed else 'PASS'}: {len(names)} entries, {ok} oracle-backed OK, "
        f"{rows_only} rows-only, failed={failed}",
        flush=True,
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
