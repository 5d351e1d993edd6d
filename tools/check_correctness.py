"""Local mimic of the driver's t2 differential check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, comparing row count, column names,
canonical dtypes and an order-insensitive value hash. Each Spark plan
executes once (``collect()``); its dtypes come from the Arrow schema of
the plan's own schema. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = f"{v:.10g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def canon_type(t) -> str:
    """Canonical arrow-type tag: strict on numeric class and width
    (int64 != decimal128(38,0) != float64), lenient only on encoding
    variants that carry identical values (string vs large_string,
    list vs large_list, timestamp unit).

    The driver's value hash is type-sensitive (round-2 verdict: DuckDB
    HUGEINT sums red-flagged vs Spark bigint while the old string
    normalize passed them), so the local gate must be at least as
    strict on numeric typing. Calibration against round-2 driver
    results: int32-vs-int64 queries (rank/window/size columns) were
    driver-GREEN, so integer widths collapse (both sides become Python
    int); decimal-vs-int was driver-RED, so decimal stays distinct, with
    scale significant (Decimal('5.00') != Decimal('5') by repr) but
    precision not.
    """
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        return f"decimal(s={t.scale})"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp[tz={t.tz is not None}]"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{canon_type(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{canon_type(t.key_type)},{canon_type(t.item_type)}>"
    return str(t)  # ints, floats, decimals, bool, date32 — exact


def type_mismatches(s_schema, d_schema):
    """Column-by-column canonical dtype diffs between two arrow schemas."""
    d_by_name = {f.name: f.type for f in d_schema}
    diffs = []
    for f in s_schema:
        if f.name not in d_by_name:
            continue
        a, b = canon_type(f.type), canon_type(d_by_name[f.name])
        if a != b:
            diffs.append(f"{f.name}: spark={a} oracle={b}")
    return diffs


def check(spark, sf_dir, con, oracles, name, builder) -> bool:
    """Run one query once and compare it with its oracle; print the
    verdict line and return whether it passed."""
    from pyspark.sql.pandas.types import to_arrow_schema

    t0 = time.time()
    sdf = builder(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns
    if name not in oracles:
        # No SQL oracle (VERDICT r6 #3): the output embeds engine-internal
        # bytes/hashes, so plans/bounds.py checks it against the exact
        # answer DuckDB/stdlib/Python computes, or its analytic error
        # band around it. A query with neither is ungated: it fails.
        from ingestion_pipeline_spark.plans.bounds import BOUND_CHECKS

        chk = BOUND_CHECKS.get(name)
        if chk is None:
            print(f"FAIL {name}: no oracle (no SQL and no BOUND_CHECKS entry)")
            return False
        try:
            viol = chk(con, srows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: bound-check error: {e}")
            return False
        if viol:
            print(f"FAIL {name}: bound violations: {viol[:3]}")
            return False
        print(f"PASS {name} [bounds] ({len(srows)} rows, {time.time()-t0:.1f}s)")
        return True
    try:
        dtab = con.execute(oracles[name]).fetch_arrow_table()
        ddf = dtab.to_pandas()
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: duckdb error: {e}")
        return False
    dcols = list(ddf.columns)
    if sorted(scols) != sorted(dcols):
        print(f"FAIL {name}: schema {sorted(scols)} != {sorted(dcols)}")
        return False
    # the Arrow schema Spark's own toArrow() would produce, derived from
    # the plan schema so the query runs once
    tdiffs = type_mismatches(to_arrow_schema(sdf.schema), dtab.schema)
    if tdiffs:
        print(f"FAIL {name}: dtype mismatch: {'; '.join(tdiffs)}")
        return False
    if len(srows) != len(ddf):
        print(f"FAIL {name}: rowcount {len(srows)} != {len(ddf)}")
        return False
    s_norm = normalize([r.asDict() for r in srows], sorted(scols))
    d_norm = normalize(ddf.to_dict("records"), sorted(scols))
    if s_norm != d_norm:
        diffs = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:3]
        print(f"FAIL {name}: value mismatch, e.g. {diffs}")
        return False
    print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    return True


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql
    from ingestion_pipeline_spark.plans import run_each
    from ingestion_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None

    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    results = run_each(spark, partial(check, spark, sf_dir, con, oracle_sql()), only)
    failed = []
    for name, res in results.items():
        if isinstance(res, Exception):
            print(f"FAIL {name}: spark error: {res}")
        if res is not True:
            failed.append(name)

    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
