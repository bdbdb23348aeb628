"""Record the curate workload's expected result digests.

    python3 perfbench/record_digests.py

For every input size in run.SIZES, builds the curation tables under two
row orders, runs each curate query on Spark, requires the two Spark results
to agree with each other and with the query's DuckDB oracle
(``registry.oracle_sql()``), and writes the digests to curate_digests.json.
Takes several minutes: some oracles are slow.
"""

from __future__ import annotations

import json
import sys

import duckdb

import inputs
import run
import workloads


def main() -> int:
    run._prepare_environment()
    from pdftotext_plus_plus_spark.datapipe import registry

    oracles = registry.oracle_sql()
    spark = workloads.start_session()
    record, bad = {}, []
    for size in run.SIZES.values():
        key = "d%d_v%d" % (size["curate_docs"], size["curate_vecs"])
        if key in record:
            continue
        record[key] = {}
        dirs = [inputs.curation_tables(run.CACHE_DIR, size["curate_docs"],
                                       size["curate_vecs"], seed)["dir"]
                for seed in (1, 2)]
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                    % (t, dirs[0], t))
        for q in workloads.CURATE_QUERIES:
            got = [workloads.digest(*workloads.collect_query(spark, q, d))
                   for d in dirs]
            rel = con.sql(oracles[q])
            oracle = workloads.digest(rel.fetchall(),
                                      [c[0] for c in rel.description])
            ok = got[0] == got[1] == oracle
            print(key, q, "OK" if ok else "MISMATCH", got, oracle,
                  file=sys.stderr, flush=True)
            if not ok:
                bad.append((key, q))
            record[key][q] = oracle
    spark.stop()
    if bad:
        print("not recorded, mismatches:", bad, file=sys.stderr)
        return 1
    with open(workloads.DIGESTS_PATH, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
