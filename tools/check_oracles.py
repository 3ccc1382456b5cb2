"""Local replica of the driver's correctness gate, STRICTER than
tests/test_entry_oracle.py: compares row count, sorted column names,
pandas dtypes (the driver's value hash is dtype-sensitive — DuckDB
HUGEINT vs Spark BIGINT was round-1's only failure mode), and exact
cell values after column-name sort.

Usage: python tools/check_oracles.py [sf_dir] [--json OUT.json] [query ...]

``--json`` writes the full per-query result table as a committed-able
artifact (CORRECTNESS_local_rN.json): the local replica of the driver's
CORRECTNESS_rN.json covering ALL registered queries, not just the
driver's 50-query window.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        # one JVM runs all ~61 queries back-to-back; the 1g default
        # heap OOMs around query 40 from accumulated session state
        .config("spark.driver.memory", "8g")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    qs, oracles = em.queries(), em.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failed = []
    records = []
    for name in sorted(oracles):
        if only and name not in only:
            continue
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            ddf = con.execute(oracles[name]).fetch_df()
        except Exception as ex:  # noqa: BLE001 — a FAIL record, keep checking
            problems = [f"{type(ex).__name__}: {ex}"[:300]]
            print(f"FAIL {name}: {problems[0]}")
            records.append({"query": name, "ok": False, "rows": None, "problems": problems})
            failed.append(name)
            continue
        cols = sorted(sdf.columns)
        problems = []
        if sorted(ddf.columns) != cols:
            problems.append(f"cols {cols} vs {sorted(ddf.columns)}")
        else:
            if len(sdf) != len(ddf):
                problems.append(f"rows {len(sdf)} vs {len(ddf)}")
            sd = {c: str(sdf[c].dtype) for c in cols}
            dd = {c: str(ddf[c].dtype) for c in cols}
            if sd != dd:
                problems.append(
                    "dtypes " + str({c: (sd[c], dd[c]) for c in cols if sd[c] != dd[c]})
                )
            if not problems:
                a = sdf[cols].sort_values(cols, ignore_index=True)
                b = ddf[cols].sort_values(cols, ignore_index=True)
                if not a.equals(b):
                    diff = (a != b) & ~(a.isna() & b.isna())
                    problems.append(f"values ({int(diff.to_numpy().sum())} cells differ)")
        status = "OK " if not problems else "FAIL"
        print(f"{status} {name}: {len(sdf)} rows" + ("; " + "; ".join(problems) if problems else ""))
        records.append(
            {
                "query": name,
                "ok": not problems,
                "rows": len(sdf),
                "problems": problems,
            }
        )
        if problems:
            failed.append(name)
    spark.stop()
    # oracle-less queries (non-SQL-expressible ops) are listed so the
    # artifact is explicit about what the oracle sweep does NOT cover
    no_oracle = sorted(set(qs) - set(oracles))
    print("FAILED:", failed if failed else "none")
    if json_out:
        Path(json_out).write_text(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "n_checked": len(records),
                    "n_ok": sum(1 for r in records if r["ok"]),
                    "n_failed": len(failed),
                    "failed": failed,
                    "queries_without_oracle": no_oracle,
                    "results": records,
                },
                indent=1,
            )
        )
        print("wrote", json_out)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
