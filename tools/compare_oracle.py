"""Replicates the driver's correctness gate locally: runs each
__spark_entry__.queries()[name] on Spark and oracle_sql()[name] on DuckDB
at the given sf dir, compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted).

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "src"))


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return v


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as entry
    from extraction.job import build_session

    def fresh_con():
        c = duckdb.connect()
        # the host shows intermittent allocation failures under invisible
        # neighbor pressure (std::bad_alloc on KB-sized blocks with 100G
        # "available"); a bounded limit + spill dir makes duckdb degrade
        # to spilling instead of poisoning the connection, and fewer
        # threads shrink the peak
        c.execute("SET memory_limit='12GB'")
        c.execute("SET threads TO 8")
        c.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
        for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return c

    con = fresh_con()

    spark = build_session("local[8]", shuffle_partitions=16, app="oracle-compare")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    ok_rows: dict[str, int] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        try:
            try:
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
            except duckdb.OutOfMemoryException:
                # transient host pressure can poison the long-lived
                # connection; retry once on a fresh one
                con.close()
                con = fresh_con()
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL  {name}: columns spark={scols} duck={dcols}")
            continue
        order = sorted(range(len(scols)), key=lambda i: scols[i])
        dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
        sset = sorted(
            tuple(norm_cell(r[i]) for i in order) for r in srows
        )
        dset = sorted(
            tuple(norm_cell(r[i]) for i in dorder) for r in drows
        )
        if len(sset) != len(dset):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(sset)} duck={len(dset)}")
            continue
        if sset != dset:
            failures.append(name)
            bad = next(i for i in range(len(sset)) if sset[i] != dset[i])
            print(f"FAIL  {name}: values differ at sorted row {bad}:")
            print(f"      spark: {sset[bad]}")
            print(f"      duck:  {dset[bad]}")
            continue
        print(f"OK    {name}: {len(sset)} rows match")
        ok_rows[name] = len(sset)
    spark.stop()
    print(f"\n{'ALL PASS' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {
                    "note": "LOCALLY-RUN full driver-contract comparison "
                            "(the driver's own CORRECTNESS file caps at 50 "
                            "rows); reproduce with: python "
                            f"tools/compare_oracle.py {sf_dir} --json <path>",
                    "sf_dir": sf_dir,
                    "n_queries": len(ok_rows) + len(failures),
                    "all_pass": not failures,
                    "failures": failures,
                    "rows_matched": ok_rows,
                },
                f,
                indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
