"""One-off full-registry partitioning-invariance audit.

tests/test_partition_invariance.py guards one representative per
device family on every pytest run; this tool sweeps ALL registry
entries: each query is built at sf0.01 under the session's default
shuffle width and again under a hostile width (7), and the
order-insensitive value multisets must match. A mismatch is a
determinism bug (a value that depends on shuffle topology) even when
the DuckDB oracle agrees at the default width.

Streaming-materialized artifacts rebuild their whole tempdir pipeline
per call, so they are audited too — slower but legitimate.

Run:  python tools/invariance_audit.py [name ...]
Prints one line per entry and a summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    # rebuild shared artifacts under each width, never read them from disk
    os.environ["SPARK_GRAFT_SHARED_CACHE"] = "0"
    from kafka_flink_streaming_pipeline_spark import get_spark
    from kafka_flink_streaming_pipeline_spark.operators import shared_cache
    from kafka_flink_streaming_pipeline_spark.plans import merged

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark("kfsp-invariance-audit")
    spark.sparkContext.setLogLevel("ERROR")

    plans = merged()
    names = sys.argv[1:] or list(plans)
    default_width = spark.conf.get("spark.sql.shuffle.partitions")

    def values(spec):
        df = spec.build(spark, sf_dir)
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    bad = []
    for i, name in enumerate(names, 1):
        spec = plans[name]
        t0 = time.time()
        try:
            shared_cache.clear()
            base = values(spec)
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            shared_cache.clear()
            hostile = values(spec)
        except Exception as e:  # noqa: BLE001 — audit must keep going
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:100]}", flush=True)
            bad.append(name)
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", default_width)
        ok = hostile == base
        print(
            f"{'OK  ' if ok else 'DIFF'} {name} ({time.time() - t0:.1f}s, "
            f"{len(base)} rows) [{i}/{len(names)}]",
            flush=True,
        )
        if not ok:
            bad.append(name)
            for a, b in list(zip(base, hostile))[:3]:
                if a != b:
                    print(f"      base {a}\n      host {b}", flush=True)
    print(f"DONE mismatch={len(bad)}/{len(names)} {bad}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
