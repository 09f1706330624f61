"""Local replica of the driver's correctness gate: run each registered
query in Spark AND its DuckDB oracle at sf0.01, compare row count, column
names, and order-insensitive values.

Two hardenings from the r5 postmortem (all 7 r5 driver hash failures were
DuckDB HUGEINT output columns that the driver's pandas fetch coerces to
float64, rendering "15000.0" vs Spark's "15000"):

* values are compared at EXACT repr level — no float rounding — so
  local-green implies driver-green up to environment;
* any oracle whose DuckDB result includes a type that pandas coerces
  asymmetrically (HUGEINT / UHUGEINT / DECIMAL — types Spark-side sums
  never produce) is a hard FAIL even when values match, because the
  driver's compare would mangle it.

Usage: python scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from parkour_spark.queries import ORACLES, QUERIES  # noqa: E402
from parkour_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# DuckDB result types the driver's pandas fetch renders differently from
# the Spark side (int128/decimal -> float64). Oracles must cast these away.
ASYMMETRIC_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # exact: driver does not forgive last-ulp drift
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple("∅" if r[i] is None else str(norm(r[i])) for i in order) for r in rows)


def write_gate_env():
    """Environment canary (r5 verdict #7): record the versions the gate
    ran under so any future driver-vs-local divergence is diagnosable
    from artifacts alone."""
    import pyspark

    env = {
        "duckdb": duckdb.__version__,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "sf_dir": SF_DIR,
        "asymmetric_types_rejected": list(ASYMMETRIC_TYPES),
    }
    try:
        import pandas

        env["pandas"] = pandas.__version__
    except Exception:
        pass
    with open(ROOT / "GATE_ENV.json", "w") as f:
        json.dump(env, f, indent=2)
        f.write("\n")


def main(names):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    spark = build_session("oracle_check")
    write_gate_env()

    failures = []
    for name in names:
        fn = QUERIES[name]
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in ORACLES:
            print(f"weak  {name}: rows={len(s_rows)} (no oracle)")
            continue
        try:
            d_types = [str(t) for t in con.sql(ORACLES[name]).types]
            res = con.execute(ORACLES[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        bad = [
            f"{c}:{t}"
            for c, t in zip(d_cols, d_types)
            if any(t.startswith(a) for a in ASYMMETRIC_TYPES)
        ]
        if bad:
            problems.append(f"pandas-asymmetric oracle types (cast to BIGINT/DOUBLE): {bad}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            sk, dk = rows_key(s_cols, s_rows), rows_key(d_cols, d_rows)
            if sk != dk:
                diff = next((i, a, b) for i, (a, b) in enumerate(zip(sk, dk)) if a != b)
                problems.append(f"values differ, first diff at sorted idx {diff[0]}: spark={diff[1]} duck={diff[2]}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name}: rows={len(s_rows)}")
    print(f"\n{len(names) - len(failures)}/{len(names)} ok")
    if failures:
        print("failures:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    args = sys.argv[1:] or list(QUERIES)
    main(args)
