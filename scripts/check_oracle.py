"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the given sf dir, compare
row count, column names, and order-insensitive values.

Each line also prints ``rdds+N``: the RDDs the query left persisted
(cached frames and ``localCheckpoint`` blocks that nothing released).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    import math
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def df_to_rows(cols, rows):
    return sorted(tuple(norm_cell(v) for v in r) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        # crawl queries cycle through more generated classes than the
        # default 100-entry codegen cache holds (README, deployment)
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    import __spark_entry__ as entry

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        before = persisted()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = [c.lower() for c in sdf.columns]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:300]}")
            continue
        leak = f"rdds+{len(persisted() - before)}"
        if sql is None:
            print(f"okN  {name}: rows={len(srows)} {leak} (rows-only, no oracle)")
            if len(srows) == 0 and name != "minhash_lsh_pairs":
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            # the driver value-hash is type-WIDTH-sensitive: any cross-engine
            # type mismatch (HUGEINT vs BIGINT, INTEGER vs BIGINT, ...) can
            # hash-differ even when the values match — compare the full
            # column type maps, not just values.
            rel = con.sql(sql)
            duck_types = {
                c.lower(): str(t).upper() for c, t in zip(rel.columns, rel.types)
            }
            spark_types = {c.lower(): t for c, t in sdf.dtypes}
            _MAP = {
                "BIGINT": "bigint", "INTEGER": "int", "SMALLINT": "smallint",
                "TINYINT": "tinyint", "VARCHAR": "string",
                "BOOLEAN": "boolean", "DOUBLE": "double", "FLOAT": "float",
                "TIMESTAMP": "timestamp",
            }
            mismatches = []
            for c, dt in duck_types.items():
                st = spark_types.get(c)
                want = _MAP.get(dt)
                if st is None or want is None:
                    if want is None:
                        mismatches.append((c, dt, st, "unmapped-duck-type"))
                elif st != want:
                    mismatches.append((c, dt, st, "width/type"))
            if mismatches:
                failures.append((name, f"column type mismatch {mismatches}"))
                print(f"FAIL {name}: {leak} column type mismatch {mismatches}")
                continue
            cur = con.execute(sql)
            dcols = [d[0].lower() for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: {leak} duckdb error {str(e)[:300]}")
            continue
        problems = []
        if scols != dcols:
            # order-insensitive column compare (driver sorts by name)
            if sorted(scols) != sorted(dcols):
                problems.append(f"cols {scols} vs {dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if not problems:
            # align column order by name
            sidx = [scols.index(c) for c in sorted(scols)]
            didx = [dcols.index(c) for c in sorted(dcols)]
            sset = df_to_rows(scols, [[r[i] for i in sidx] for r in srows])
            dset = df_to_rows(dcols, [[r[i] for i in didx] for r in drows])
            if sset != dset:
                diff = [
                    (a, b) for a, b in zip(sset, dset) if a != b
                ][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {leak} {'; '.join(p[:400] for p in problems)}")
        else:
            print(f"OK   {name}: rows={len(srows)} {leak}")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, p in failures:
            print(" -", n, ":", p[:300])
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
