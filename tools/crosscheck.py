#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads the parquet
results Verify.scala wrote, runs each oracle SQL in DuckDB against the
same sf tables, and compares (row count, sorted-by-name columns, values).

Usage: python3 tools/crosscheck.py <sfDir> <verifyOutDir> [jsonOut]

With jsonOut, also writes a CORRECTNESS-style JSON (one object per
query: rows_match / schema_match / hash_match / spark_rows /
oracle_rows / err / ordered) so out-of-band gates (the sf1.0 decade-up
run) produce the same artifact shape as the correctness gate's.
`ordered` is the compare mode: rows by position when the oracle ends
in a top-level ORDER BY, else as a multiset.
"""
import sys, json, glob, os, re
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def has_top_level_order_by(sql):
    # Only a final ORDER BY at paren depth 0 makes the result ordered;
    # ORDER BY inside OVER(...) or a parenthesized subquery does not.
    depth = 0
    low = sql.lower()
    for m in re.finditer(r"[()]|order\s+by", low):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return True
    return False


def canon(df, ordered=False):
    # sort columns by name; for queries whose contract includes a final
    # ORDER BY, compare rows positionally (the declared order is part of
    # the result) — only unordered results get the row re-sort
    df = df[sorted(df.columns)]
    if not ordered:
        df = df.sort_values(by=list(df.columns))
    return df.reset_index(drop=True)


def main(sf_dir, out_dir, json_out=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table = directory of parts
            p = f"{p}/*.parquet"
        if glob.glob(p) or os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    n_ordered = 0
    report = {}

    for name, sql in sorted(oracles.items()):
        ordered = has_top_level_order_by(sql)
        n_ordered += ordered
        mode = "ordered" if ordered else "multiset"

        def rec(rows=None, schema=None, values=None,
                s_rows=None, o_rows=None, err=None):
            report[name] = {"rows_match": rows, "schema_match": schema,
                            "hash_match": values, "spark_rows": s_rows,
                            "oracle_rows": o_rows, "err": err,
                            "ordered": ordered}

        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name} [{mode}]: no spark result written"); n_fail += 1
            rec(err="no_spark_result")
            continue
        try:
            spark_df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            duck_df = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name} [{mode}]: {e}"); n_fail += 1
            rec(err=str(e)[:200])
            continue
        s, d = canon(spark_df, ordered), canon(duck_df, ordered)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name} [{mode}]: columns {list(s.columns)} vs {list(d.columns)}"); n_fail += 1
            rec(rows=len(s) == len(d), schema=False,
                s_rows=len(s), o_rows=len(d))
            continue
        if len(s) != len(d):
            print(f"FAIL {name} [{mode}]: rows {len(s)} vs {len(d)}"); n_fail += 1
            rec(rows=False, schema=True, s_rows=len(s), o_rows=len(d))
            continue
        if [str(t) for t in s.dtypes] != [str(t) for t in d.dtypes]:
            print(f"WARN {name}: dtypes spark={dict(zip(s.columns, map(str, s.dtypes)))} duck={dict(zip(d.columns, map(str, d.dtypes)))}")
            d = d.astype(dict(zip(s.columns, s.dtypes)))
        if not s.equals(d):
            neq = (s != d) & ~(s.isna() & d.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name} [{mode}]: {int(bad.sum())}/{len(s)} rows differ; first:")
            idx = bad.idxmax()
            print("  spark:", s.loc[idx].to_dict())
            print("  duck :", d.loc[idx].to_dict())
            n_fail += 1
            rec(rows=True, schema=True, values=False,
                s_rows=len(s), o_rows=len(d))
            continue
        print(f"PASS {name} [{mode}] ({len(s)} rows)")
        n_pass += 1
        rec(rows=True, schema=True, values=True,
            s_rows=len(s), o_rows=len(d))
    print(f"== {n_pass} pass / {n_fail} fail"
          f" ({n_ordered} ordered, {len(oracles) - n_ordered} multiset) ==")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
