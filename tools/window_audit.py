"""Type-audit the driver-facing PRIORITY_WINDOW before each rotation.

The driver's value hash is stricter than `tests/harness._canon` (which
collapses Decimal -> float): round-1 showed that DecimalType /
ArrayType outputs hash-mismatch even when values agree numerically.
This tool runs every window entry at sf0.01 through the exact-equality
harness gate AND flags schema/value types that have historically caused
driver hash mismatches:

  * DecimalType / ArrayType / MapType in the Spark output schema
  * decimal.Decimal values in the DuckDB oracle result
  * Spark vs DuckDB Python-type disagreement in any column
  * engine-native round() in the oracle SQL (round is a different
    algorithm per engine and hash-diverged in the r4 driver run —
    hashed contracts must use det_round/det_round_sql or integer
    micro-units; tests/test_plans.py enforces the same registry-wide)
  * DECIMAL/HUGEINT *integer division* in a hashed contract (the
    curation_token_budget class: Spark's IntegralDivide over DECIMAL
    is version/ANSI-flag sensitive and hash-diverged in the r5 driver
    even though local runs agreed — integer division must be
    pure-BIGINT two-step; exact decimal MULTIPLY/COMPARE is fine, it
    has no engine-defined rounding)

It also prints a DEVICE COVERAGE table: for each cross-engine
determinism device (md5 split-bucket, det_round/floor-half-up,
integer division) and each session-shared artifact an entry's build
and check read (`shared_cache.recording`, the map BENCH_DETAIL's
`shared` holds), which audited entries exercise it — a device carried
by a single window entry means a red row on that entry would not
bisect, so singletons are flagged.

Usage: python tools/window_audit.py [name ...]   (default: full window)
Exit 0 = all compared clean with no flags.
"""

from __future__ import annotations

import decimal
import inspect
import re
import sys
import time
from pathlib import Path

#: engine-native round( call in oracle SQL (not part of an identifier)
_ROUND_RE = re.compile(r"(?<![a-z_])round\s*\(", re.IGNORECASE)

#: integer-division operator (DuckDB // or SQL DIV) on the same line as
#: a DECIMAL/HUGEINT mention — the line-local approximation of
#: "decimal-typed integral division in this expression"
_INTDIV_RE = re.compile(r"//|(?<![A-Za-z_])DIV(?![A-Za-z_])")
_DECTYPE_RE = re.compile(r"DECIMAL|HUGEINT", re.IGNORECASE)

#: determinism devices, detected in oracle SQL and/or builder source
_DEVICES: dict[str, tuple[re.Pattern, re.Pattern]] = {
    # (oracle_sql pattern, python builder-source pattern)
    "md5-bucket": (re.compile(r"md5\s*\("), re.compile(r"F\.md5|\bmd5\(")),
    "floor-half-up": (re.compile(r"\+\s*0\.5\)"), re.compile(r"\+\s*F\.lit\(0\.5\)|\+\s*0\.5\)")),
    "integer-div": (re.compile(r"//|(?<![A-Za-z_])DIV(?![A-Za-z_])"), re.compile(r"(?<![A-Za-z_])DIV(?![A-Za-z_])")),
    "det_round": (re.compile(r"$^"), re.compile(r"det_round")),
}

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _decimal_intdiv_lines(sql: str) -> list[str]:
    return [
        ln.strip()
        for ln in sql.splitlines()
        if _INTDIV_RE.search(ln) and _DECTYPE_RE.search(ln)
    ]


def _entry_devices(spec) -> set[str]:
    try:
        src = inspect.getsource(spec.build)
    except (OSError, TypeError):
        src = ""
    sql = spec.oracle or ""
    found = set()
    for dev, (sql_re, src_re) in _DEVICES.items():
        if sql_re.search(sql) or src_re.search(src):
            found.add(dev)
    return found


def main() -> int:
    from kafka_flink_streaming_pipeline_spark import get_spark
    from kafka_flink_streaming_pipeline_spark.operators import shared_cache
    from kafka_flink_streaming_pipeline_spark.plans import PRIORITY_WINDOW, merged
    from tests.conftest import SF_CORRECT, make_duck
    from tests.harness import compare

    names = sys.argv[1:] or list(PRIORITY_WINDOW)
    spark = get_spark("kfsp-window-audit")
    spark.sparkContext.setLogLevel("ERROR")
    plans = merged()
    duck = make_duck(SF_CORRECT)

    n_fail = 0
    coverage: dict[str, set[str]] = {}
    shared: dict[str, dict[str, str]] = {}
    for name in names:
        spec = plans.get(name)
        if spec is None:
            print(f"FAIL {name}: not in registry")
            n_fail += 1
            continue
        t0 = time.time()
        flags: list[str] = []
        # engine-native round() is a different algorithm per engine
        # (Spark: BigDecimal HALF_UP; DuckDB: std::round(x*p)/p) and
        # hash-diverged in the r4 driver environment — hashed contracts
        # must use the floor-based det_round/det_round_sql pair instead
        if spec.oracle and _ROUND_RE.search(spec.oracle):
            flags.append("oracle:engine-round()")
        if spec.oracle:
            for ln in _decimal_intdiv_lines(spec.oracle):
                flags.append(f"oracle:decimal-intdiv[{ln[:60]}]")
        coverage.setdefault(name, _entry_devices(spec))
        with shared_cache.recording(name) as shared[name]:
            try:
                df = spec.build(spark, SF_CORRECT)
                try:
                    plan = df._jdf.queryExecution().analyzed().toString()
                    if any(
                        " div " in ln and "decimal(" in ln
                        for ln in plan.splitlines()
                    ):
                        flags.append("spark:decimal-intdiv")
                except Exception:  # noqa: BLE001 — plan introspection is best-effort
                    pass
                for f in df.schema.fields:
                    s = f.dataType.simpleString()
                    if any(t in s for t in ("decimal", "array", "map", "interval")):
                        flags.append(f"spark:{f.name}:{s}")
                if spec.oracle is None:
                    df.count()
                    print(f"WARN {name}: no oracle (rows-only check)")
                    continue
                res = duck.execute(spec.oracle)
                d_cols = [d[0] for d in res.description]
                d_rows = res.fetchall()
                if d_rows:
                    for i, c in enumerate(d_cols):
                        v = next((r[i] for r in d_rows if r[i] is not None), None)
                        if isinstance(v, decimal.Decimal):
                            flags.append(f"duck:{c}:Decimal")
                        if isinstance(v, (list, tuple)):
                            flags.append(f"duck:{c}:list")
                    s_row = df.limit(1).collect()
                    if s_row:
                        s_map = s_row[0].asDict()
                        d_map = dict(zip(d_cols, d_rows[0]))
                        for c in s_map:
                            sv, dv = s_map.get(c), d_map.get(c)
                            if sv is not None and dv is not None:
                                st, dt = type(sv).__name__, type(dv).__name__
                                if st != dt and {st, dt} not in ({"int", "float"},):
                                    flags.append(f"pytype:{c}:{st}!={dt}")
                compare(df, duck, spec.oracle, name)
                dt = time.time() - t0
                status = "OK  " if not flags else "FLAG"
                print(f"{status} {name} ({dt:.1f}s)" + (f" {flags}" if flags else ""))
                if flags:
                    n_fail += 1
            except Exception as e:  # noqa: BLE001 — audit reports, never dies
                print(f"FAIL {name}: {type(e).__name__}: {str(e)[:300]}")
                n_fail += 1
    print("\nDEVICE COVERAGE (entries per determinism device in this set):")
    by_dev: dict[str, list[str]] = {}
    for entry, devs in coverage.items():
        for dev in devs | {f"shared:{a}" for a in shared.get(entry, {})}:
            by_dev.setdefault(dev, []).append(entry)
    for dev in sorted(set(_DEVICES) | set(by_dev)):
        users = by_dev.get(dev, [])
        mark = " SINGLETON — a red row here would not bisect" if len(users) == 1 else ""
        shown = ", ".join(sorted(users)[:6]) + (" …" if len(users) > 6 else "")
        print(f"  {dev:<32} {len(users):>3}  {shown}{mark}")

    print(f"\n{len(names) - n_fail}/{len(names)} clean")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
