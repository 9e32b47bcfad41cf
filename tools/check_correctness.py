"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over
the same sf dir, compares row count + column names + order-insensitive
values (stringified, floats pre-rounded by the queries themselves).

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]   # both call sites pass dicts keyed by column name
            if isinstance(v, bool):
                vals.append(str(v).lower())
            elif isinstance(v, float):
                vals.append(f"{v:.6f}".rstrip("0").rstrip("."))
            elif v is None:
                vals.append("")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> int:
    import duckdb
    from graphrag_rs_spark.session import get_spark
    import __spark_entry__ as entry_mod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle; rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            if len(srows) == 0:
                print(f"  WARNING: {name} returned 0 rows")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            # Types with no pyarrow/pandas equivalent (HUGEINT = int128)
            # stringify identically here but canonicalize differently in
            # the driver's arrow-based value hash — the exact failure mode
            # of the r4 pack_bins red row. Fail fast on them.
            exotic = [(c, str(t)) for c, t in zip(dcols, rel.types)
                      if str(t) in ("HUGEINT", "UHUGEINT")
                      or str(t).startswith("DECIMAL")]
            if exotic:
                failures.append(name)
                print(f"FAIL  {name}: oracle emits non-portable types "
                      f"{exotic} — cast to BIGINT/DOUBLE in the SQL")
                continue
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL  {name}: columns spark={scols} duck={dcols}")
            continue
        cols = sorted(scols)
        s_n = normalize([r.asDict() for r in srows], cols)
        d_n = normalize([dict(zip(dcols, r)) for r in drows], cols)
        if s_n == d_n:
            print(f"OK    {name}: {len(s_n)} rows match "
                  f"[{time.time()-t0:.1f}s]")
            if len(s_n) == 0:
                print(f"  WARNING: {name} matched on 0 rows")
        else:
            failures.append(name)
            only_s = [r for r in s_n if r not in set(d_n)][:3]
            only_d = [r for r in d_n if r not in set(s_n)][:3]
            print(f"FAIL  {name}: spark {len(s_n)} rows, duck {len(d_n)} rows")
            print(f"  only_spark: {only_s}")
            print(f"  only_duck:  {only_d}")
    print("=" * 60)
    print("FAILURES:", failures if failures else "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
