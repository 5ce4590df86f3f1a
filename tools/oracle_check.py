"""Local differential harness mimicking the driver's t2 gate.

Runs every registered query on Spark AND its DuckDB oracle at the
given sf dir, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
values stringified). Exact-match discipline: floats are compared by
repr, so any query that passes here is robust to the driver's hash.

Usage: python tools/oracle_check.py [--json OUT.json] [sf_dir] [query ...]

Each ``ok``/``FAIL`` line ends with the query's Spark wall seconds
(building the frame and collecting it, oracle excluded).

``--json`` writes a driver-shaped report (one row per query with
rows_match / schema_match / hash_match and spark_s) covering EVERY
registered query — the full-surface complement to an external
checker that samples a subset.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
    return df


def value_repr(df: pd.DataFrame) -> list[tuple]:
    rows = [tuple(repr(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: oracle_check.py [--json OUT.json] [sf_dir] [query ...]",
                  file=sys.stderr)
            return 2
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from big_data_processing_spark.plans.registry import SPECS

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # simulate the grading driver: default-config session, no
        # tuned shuffle partitions / UTC pin / Arrow flags
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from big_data_processing_spark import get_spark

        spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    from big_data_processing_spark.sources.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    report: dict[str, dict] = {}

    def record(name, rows=None, schema=None, values=None, s_rows=None,
               o_rows=None, err=None):
        report[name] = {
            "rows_match": rows, "schema_match": schema,
            "hash_match": values, "spark_rows": s_rows,
            "oracle_rows": o_rows, "err": err, "spark_s": spark_s,
        }

    from big_data_processing_spark.partitioning import pin_scope

    for name, spec in SPECS.items():
        if only and name not in only:
            continue
        start = time.perf_counter()
        try:
            # each query frees its own pins; the memoized near-dup
            # frames leave the scope and stay pinned for later queries
            with pin_scope():
                sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            spark_s = round(time.perf_counter() - start, 3)
            failures.append(name)
            record(name, err=f"spark: {e}")
            print(f"FAIL {name}: spark error: {e} [{spark_s:.2f} s]", flush=True)
            continue
        spark_s = round(time.perf_counter() - start, 3)
        took = f"[{spark_s:.2f} s]"
        if spec.oracle is None:
            record(name, s_rows=len(sdf), err="no_oracle")
            print(f"ok   {name}: rows-only ({len(sdf)} rows) {took}", flush=True)
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            record(name, s_rows=len(sdf), err=f"oracle: {e}")
            print(f"FAIL {name}: oracle error: {e} {took}", flush=True)
            continue
        s, o = normalize(sdf), normalize(odf)
        if len(s) != len(o):
            failures.append(name)
            record(name, rows=False, s_rows=len(s), o_rows=len(o))
            print(f"FAIL {name}: rows {len(s)} vs {len(o)} {took}", flush=True)
            continue
        if list(s.columns) != list(o.columns):
            failures.append(name)
            record(name, rows=True, schema=False, s_rows=len(s),
                   o_rows=len(o))
            print(f"FAIL {name}: cols {list(s.columns)} vs {list(o.columns)} {took}",
                  flush=True)
            continue
        sv, ov = value_repr(s), value_repr(o)
        if sv != ov:
            failures.append(name)
            ndiff = sum(1 for a, b in zip(sv, ov) if a != b)
            record(name, rows=True, schema=True, values=False,
                   s_rows=len(s), o_rows=len(o))
            print(f"FAIL {name}: values differ ({ndiff}/{len(sv)} rows) {took}",
                  flush=True)
            for a, b in zip(sv, ov):
                if a != b:
                    print(f"  spark : {a}")
                    print(f"  oracle: {b}")
                    break
        else:
            record(name, rows=True, schema=True, values=True,
                   s_rows=len(s), o_rows=len(o))
            print(f"ok   {name}: {len(s)} rows, {len(s.columns)} cols {took}", flush=True)

    if json_out:
        with open(json_out, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "n_queries": len(report),
                 "n_failures": len(failures), "queries": report},
                fh, indent=1, default=str)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
