#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [names]

[names] is an optional comma-separated query filter matching graft.Verify's
third arg ('q30_lsh_topk,q41*' — a trailing '*' is a prefix match); only
matching oracle entries are checked.

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs
the matching SQL from oracle_sql.json in DuckDB against the sf tables,
sorts columns by name and rows by value, and compares cell-by-cell
(exact for ints/strings, tiny tolerance report for floats so we can see
how close to a hash match we are). Before the closing pass/fail count it
prints the ten slowest queries, each split into the seconds DuckDB spent
on the oracle SQL and the seconds of the compare.
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def duck_types(con, sql):
    """{column: duckdb type string} for a query, pre-pandas-coercion."""
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return {r[0]: r[1] for r in rows}

def dtype_check(con, files, sql):
    """The driver's hasher distinguishes DuckDB HUGEINT (int128, what
    sum() over integers widens to) from Spark's int64 even when values
    are equal; pandas float-coerces HUGEINT and masks it. Compare the
    un-coerced DuckDB types of both relations: a HUGEINT on either side
    is a hard fail, other mismatches (e.g. INTEGER vs BIGINT) are
    reported as warnings since the driver hash tolerates them."""
    got_t = duck_types(con, f"SELECT * FROM read_parquet({files!r})")
    want_t = duck_types(con, f"({sql})")
    hard, soft = [], []
    for c in sorted(set(got_t) | set(want_t)):
        g, w = got_t.get(c, "?"), want_t.get(c, "?")
        if g == w:
            continue
        msg = f"{c}: spark={g} oracle={w}"
        if "HUGEINT" in g or "HUGEINT" in w:
            hard.append(msg)
        else:
            soft.append(msg)
    return hard, soft

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    pats = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    def selected(name):
        if pats is None:
            return True
        return any(name.startswith(p[:-1]) if p.endswith("*") else name == p
                   for p in pats)
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    timings = []  # (total seconds, oracle SQL seconds, name)
    for name in sorted(oracle):
        if not selected(name):
            continue
        t0 = time.perf_counter()
        ok, sql_s = check(con, name, glob.glob(f"{out_dir}/{name}/*.parquet"), oracle[name])
        n_pass, n_fail = (n_pass + 1, n_fail) if ok else (n_pass, n_fail + 1)
        timings.append((time.perf_counter() - t0, sql_s, name))
    print("-- ten slowest queries: total = oracle SQL in DuckDB + compare "
          "(dtype check, Spark output read, canonical sort, cell compare) --")
    for total, sql, name in sorted(timings, reverse=True)[:10]:
        print(f"SLOW {name}: total {total:.2f} s, sql {sql:.2f} s, compare {total - sql:.2f} s")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

def check(con, name, files, sql):
    """Compares one query's Spark output with its oracle SQL and prints
    PASS or FAIL: (passed, seconds DuckDB spent on the SQL)."""
    sql_s = 0.0
    if not files:
        print(f"FAIL {name}: no spark output"); return False, sql_s
    try:
        hard, soft = dtype_check(con, files, sql)
        got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        t0 = time.perf_counter()
        want = con.execute(sql).df()
        sql_s = time.perf_counter() - t0
        want = canon(want)
    except Exception as e:
        print(f"FAIL {name}: {e}"); return False, sql_s
    if soft:
        print(f"WARN {name}: dtype " + "; ".join(soft))
    if hard:
        print(f"FAIL {name}: HUGEINT dtype " + "; ".join(hard)); return False, sql_s
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: cols {list(got.columns)} vs {list(want.columns)}"); return False, sql_s
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); return False, sql_s
    bad = []
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == 'f' or w.dtype.kind == 'f':
            import numpy as np
            ga, wa = g.astype(float).values, w.astype(float).values
            mask = ~(np.isclose(ga, wa, rtol=0, atol=0, equal_nan=True))
            if mask.any():
                exact_bad = int(mask.sum())
                close = np.isclose(ga, wa, rtol=1e-12, atol=1e-12, equal_nan=True)
                bad.append(f"{c}: {exact_bad} cells differ (within 1e-12: {int((~close).sum())==0})")
        else:
            if not g.astype(str).equals(w.astype(str)):
                bad.append(f"{c}: value mismatch")
    if bad:
        print(f"FAIL {name}: " + "; ".join(bad)); return False, sql_s
    print(f"PASS {name} ({len(got)} rows)"); return True, sql_s

if __name__ == "__main__":
    main()
