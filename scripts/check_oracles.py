#!/usr/bin/env python3
"""Developer harness mimicking the driver's correctness gate: run each
registry query on Spark and its DuckDB oracle on the same parquet dir,
compare row counts + sorted values (column order normalized by name).

Usage: python3 scripts/check_oracles.py [sf_dir] [query ...]

Spark runs at local[$SPARK_GRAFT_CPUS], the variable bench.py reads and
the tier-1 command in ROADMAP.md exports; unset, it uses every core.
"""

import math
import os
import sys

sys.path.insert(0, ".")


def normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def main():
    import duckdb

    from pdftotext_plus_plus_spark.datapipe import registry
    from pdftotext_plus_plus_spark.engine import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(registry.QUERIES)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = build_session(cpus=cpus, driver_memory="6g")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = registry.oracle_sql()
    qs = registry.queries()
    failures = 0
    for name in names:
        fn = qs[name]
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        rel = con.sql(oracles[name])
        drows = rel.fetchall()
        dcols = [d[0] for d in rel.description]
        sn = normalize([tuple(r) for r in srows], scols)
        dn = normalize(drows, dcols)
        ok = sn == dn and sorted(scols) == sorted(dcols)
        status = "OK " if ok else "FAIL"
        print(f"{name:24s} {status} spark={len(sn)} duck={len(dn)} cols={sorted(scols)}")
        if not ok:
            failures += 1
            if sorted(scols) != sorted(dcols):
                print("  spark cols:", sorted(scols))
                print("  duck cols: ", sorted(dcols))
            sset, dset = set(map(repr, sn)), set(map(repr, dn))
            diff_s = [r for r in sn if repr(r) not in dset][:3]
            diff_d = [r for r in dn if repr(r) not in sset][:3]
            print("  only-spark:", diff_s)
            print("  only-duck: ", diff_d)
    print("failures:", failures)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
