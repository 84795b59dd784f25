"""Simulate the grading driver's correctness pass exactly: fresh
process, PLAIN SparkSession (not the package's get_spark — any config
the engine needs must be set at runtime inside the package), DuckDB
side-by-side, order-insensitive value-hash compare at sf0.01.

Run it before claiming any queries() entry is done. pytest (cwd=/root/repo)
cannot catch cloudpickle by-reference serialization of distributed
Python — only this out-of-repo-style run does.

Usage:
    python tools/driver_sim.py                  # all registry entries
    python tools/driver_sim.py name [name ...]  # focused re-check
Exit 0 = all compared clean.

Every `OK`/`OK-rows-only` line ends with the entry's row count and
value hash, and per-entry timings go to stderr, so the stdout of two
checkouts compares with a plain `diff`:

    python tools/driver_sim.py > a.txt   # in each checkout, then
    diff a.txt b.txt
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = os.environ.get("SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def vhash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return hashlib.md5(
        "\n".join(
            sorted("|".join(str(r[i]) for i in order) for r in rows)
        ).encode()
    ).hexdigest()


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    E.entry(spark).collect()
    print("SMOKE-OK", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )

    qs, osql = E.queries(), E.oracle_sql()
    names = sys.argv[1:] or sorted(qs)
    n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            h = vhash(sdf.columns, srows)
            if name in osql:
                res = con.execute(osql[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                ok = (
                    len(srows) == len(drows)
                    and sorted(sdf.columns) == sorted(dcols)
                    and h == vhash(dcols, drows)
                )
                print(
                    ("OK  " if ok else "FAIL") + f" {name} {len(srows)} rows {h}",
                    flush=True,
                )
                n_fail += 0 if ok else 1
            else:
                assert len(sdf.columns) > 0
                print(f"OK-rows-only {name} {len(srows)} rows {h}", flush=True)
            print(f"{name} {time.time() - t0:.1f}s", file=sys.stderr, flush=True)
        except Exception as e:  # noqa: BLE001 — report every entry
            print(f"ERR {name}: {type(e).__name__}: {str(e)[:200]}", flush=True)
            n_fail += 1
    print(f"DONE fail={n_fail}/{len(names)}", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
