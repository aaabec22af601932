"""Local replica of the driver's correctness gate: run each queries() entry
on Spark at sf0.01, run oracle_sql() in DuckDB (tables pre-registered as
views), compare row-count + schema-insensitive sorted value hash.

Per-query wall times are printed inline (spark=…s duck=…s) plus a sorted
top-10 summary at the end (VERDICT r8 #6): the gate is ~7 min and grows
with every composite — the summary keeps its budget honest and flags any
oracle that quietly goes quadratic."""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

# the checkout this script lives in — never a fixed path, so a second
# checkout checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # Type-tagged: a float64 3083.0 must NOT hash-equal int 3083 — the
        # driver compares dtypes, and masking that difference hid the
        # DuckDB HUGEINT->float64 artifact in round 1 (VERDICT r1 wrong #1).
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v:.6g}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    from pyspark.sql import SparkSession
    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .appName("oracle-check").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = sys.argv[1:] or list(qs)
    failures = 0
    timings: list[tuple[float, float, str]] = []
    for name in only:
        fn = qs[name]
        t0 = time.monotonic()
        try:
            df = fn(spark, SF_DIR)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        t_spark = time.monotonic() - t0
        if name not in oracles:
            timings.append((t_spark, 0.0, name))
            print(f"ROWS-ONLY {name}: {len(spark_rows)} rows "
                  f"[spark={t_spark:.1f}s]")
            continue
        t0 = time.monotonic()
        try:
            rel = con.sql(oracles[name])
            duck_cols = rel.columns
            duck_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        t_duck = time.monotonic() - t0
        timings.append((t_spark, t_duck, name))
        ok_count = len(spark_rows) == len(duck_rows)
        ok_schema = sorted(spark_cols) == sorted(duck_cols)
        sh = table_hash(spark_rows, spark_cols)
        dh = table_hash(duck_rows, duck_cols)
        ok_hash = sh == dh
        status = "OK  " if (ok_count and ok_schema and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{status} {name}: rows {len(spark_rows)}/{len(duck_rows)} "
              f"schema={'ok' if ok_schema else sorted(spark_cols)} "
              f"hash={'ok' if ok_hash else 'MISMATCH'} "
              f"[spark={t_spark:.1f}s duck={t_duck:.1f}s]")
        if not ok_hash and ok_count and ok_schema:
            # show first differing line for debugging
            order_s = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
            order_d = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
            ls = sorted("|".join(norm_cell(r[i]) for i in order_s) for r in spark_rows)
            ld = sorted("|".join(norm_cell(r[i]) for i in order_d) for r in duck_rows)
            for a, b in zip(ls, ld):
                if a != b:
                    print(f"    spark: {a[:200]}")
                    print(f"    duck : {b[:200]}")
                    break
    if timings:
        total_s = sum(t[0] for t in timings)
        total_d = sum(t[1] for t in timings)
        print(f"\ngate wall time: spark={total_s:.1f}s duck={total_d:.1f}s "
              f"over {len(timings)} queries; slowest (spark+duck):")
        for ts, td, name in sorted(timings,
                                   key=lambda t: t[0] + t[1],
                                   reverse=True)[:10]:
            print(f"  {ts + td:6.1f}s  {name} (spark={ts:.1f} duck={td:.1f})")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
