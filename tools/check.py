"""Local mimic of the driver's correctness gate: run each suite query on
Spark AND its DuckDB oracle at a given sf, compare row count + column names
+ order-insensitive values. Usage:

    python tools/check.py [sf_dir] [--vanilla] [query ...]

``--vanilla`` builds a BARE SparkSession (no lance_spark.session confs, no
SQL UDF registry, no env breadcrumbs) — the driver's harness does exactly
that, and r12 went red on two entries the get_spark sweep couldn't catch.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(pdf):
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    # canonicalize dtypes: everything to string via repr-stable conversion
    out = pdf.copy()
    for c in out.columns:
        col = out[c]
        if col.dtype.kind == "f":
            out[c] = col.round(9)
        elif col.dtype == object or str(col.dtype).startswith("datetime"):
            out[c] = col.astype(str)
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def main():
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(a for a in args if not os.path.isdir(a))

    import duckdb
    import pandas as pd

    from lance_spark.session import get_spark
    from lance_spark import suite

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    # driver heap: a quarter of RAM clamped to 1-4g (perfbench/run.py's
    # rule); the session's own 48g default can outgrow a small host
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(4, int(mem_gb // 4)))}g")
    if vanilla:
        os.environ.pop("LANCE_SPARK_PUSHDOWN", None)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("check-vanilla")
            .master(f"local[{cpus}]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("check", cpus=cpus)

    failures = []
    names = [n for n in suite.QUERIES if not only or n in only]
    for name in names:
        t0 = time.time()
        try:
            sdf = suite.QUERIES[name](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in suite.ORACLE:
            print(f"ok?  {name}: rows={len(sdf)} (no oracle, rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(suite.ORACLE[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        a, b = normalize(sdf), normalize(odf)
        status = None
        if list(a.columns) != list(b.columns):
            status = f"COLUMN MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
        elif len(a) != len(b):
            status = f"ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}"
        else:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-8)
            except AssertionError as e:
                status = "VALUE MISMATCH: " + str(e).split("\n")[0]
                diff = a.compare(b) if a.shape == b.shape else None
                if diff is not None and len(diff):
                    status += f" | first diffs:\n{diff.head(5)}"
        if status:
            print(f"FAIL {name}: {status}")
            failures.append(name)
        else:
            print(f"PASS {name}: rows={len(a)} [{time.time()-t0:.1f}s]")

    print(f"\n{len(names) - len(failures)}/{len(names)} pass")
    if failures:
        print("failed:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
