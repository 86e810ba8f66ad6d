"""Local replica of the driver's correctness gate: run every queries() entry
on Spark at the given sf dir, run the matching oracle_sql() on DuckDB over
the same parquet views, compare row-count + schema-width + order-insensitive
value multiset (floats rounded to 9 significant-ish decimals; columns sorted
by name).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tools.host import host_cpus, host_mem_gb


def norm_value(v):
    if v is None:
        return "\N{NULL}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return format(v, ".9g")
    return str(v)


def norm_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted(columns), out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    mem_gb = max(host_mem_gb() // 4, 1)
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', host_cpus())}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # collect()-side heap: the sf1 evidence run (tools/make_bigsf.py)
        # pulls up to ~28M oracle rows through the driver
        # the Spark driver and DuckDB share the host: a quarter of it each
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{mem_gb}g"))
        .getOrCreate()
    )

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    # bound the oracle engine: an unbounded DuckDB shares the address space
    # with the Spark driver, and one heavyweight oracle plan can OOM-kill
    # the whole gate process (observed at sf1). With a cap it spills to disk
    # and finishes instead.
    con.execute(f"SET memory_limit='{os.environ.get('SPARK_GRAFT_DUCKDB_MEM', f'{mem_gb}GB')}'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(s_rows)} rows ({time.time() - t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sc, sr = norm_rows(s_cols, s_rows)
        oc, orr = norm_rows(o_cols, o_rows)
        status = []
        if sc != oc:
            status.append(f"schema mismatch: spark={sc} oracle={oc}")
        if len(sr) != len(orr):
            status.append(f"rowcount: spark={len(sr)} oracle={len(orr)}")
        if not status and sr != orr:
            o_set, s_set = set(orr), set(sr)
            diff_a = [r for r in sr if r not in o_set][:3]
            diff_b = [r for r in orr if r not in s_set][:3]
            status.append(f"values differ; spark-only={diff_a} oracle-only={diff_b}")
        if status:
            print(f"FAIL {name}: {'; '.join(status)}")
            failures.append(name)
        else:
            print(f"OK   {name}: {len(sr)} rows ({time.time() - t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
