#!/usr/bin/env python3
"""Dev-only mirror of the driver's DuckDB correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB against the sfDir tables,
and compares: schema (column names, sorted), row count, and values (rows
sorted, columns sorted by name). Exact match required; floats reported with
max abs diff when close-but-not-equal. Each verdict line carries the oracle's
DuckDB seconds; the five slowest oracles are listed before the summary line.

DuckDB results are cached in .oracle_cache/ at the repository root (gitignored),
keyed by sha256 of the DuckDB version, the SQL text and the bytes of every
input parquet the SQL names. A cached result is read back in place of running
the oracle; the Spark output is still read and compared fresh on every run.
Changing an oracle's SQL or its input data misses the cache. Delete the
directory for a cold run.
"""
import sys, os, json, glob, time, re, hashlib
import duckdb
import pandas as pd

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         os.pardir, ".oracle_cache")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def file_sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()

def cache_key(sql, table_sha):
    """sha256 over the DuckDB version, the SQL and each named input's bytes."""
    h = hashlib.sha256(f"duckdb {duckdb.__version__}\0{sql}\0".encode())
    for t, digest in sorted(table_sha.items()):
        if re.search(rf"\b{t}\b", sql, re.IGNORECASE):
            h.update(f"{t}\0{digest}\0".encode())
    return h.hexdigest()

def oracle_result(con, sql, key):
    """(DuckDB frame, seconds or None when read from the cache)."""
    path = os.path.join(CACHE_DIR, f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path), None
    t0 = time.perf_counter()
    df = con.sql(sql).df()
    secs = time.perf_counter() - t0
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df, secs

def main(sf_dir, out_dir):
    con = duckdb.connect()
    table_sha = {}
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            table_sha[t] = file_sha256(p)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    n_pass = n_fail = n_cached = 0
    duck_s = {}
    cached = set()
    def took(name):
        if name in cached:
            return " [duckdb cached]"
        return f" [duckdb {duck_s[name]:.2f}s]" if name in duck_s else ""
    for name, sql in sorted(oracles.items()):
        pdir = os.path.join(out_dir, name)
        if not os.path.isdir(pdir):
            print(f"FAIL {name}: no spark output dir"); n_fail += 1; continue
        try:
            spark_df = pd.concat([pd.read_parquet(p) for p in
                                  sorted(glob.glob(f"{pdir}/*.parquet"))])
            duck_df, secs = oracle_result(con, sql, cache_key(sql, table_sha))
            if secs is None:
                cached.add(name); n_cached += 1
            else:
                duck_s[name] = secs
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}"); n_fail += 1; continue
        s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
        if s_cols != d_cols:
            print(f"FAIL {name}: cols spark={s_cols} duck={d_cols}{took(name)}"); n_fail += 1; continue
        s = spark_df[s_cols].sort_values(s_cols).reset_index(drop=True)
        d = duck_df[d_cols].sort_values(d_cols).reset_index(drop=True)
        if len(s) != len(d):
            print(f"FAIL {name}: rows spark={len(s)} duck={len(d)}{took(name)}"); n_fail += 1; continue
        bad = []
        for c in s_cols:
            sv, dv = s[c], d[c]
            if sv.dtype.kind == 'f' or dv.dtype.kind == 'f':
                diff = (sv.astype(float) - dv.astype(float)).abs()
                if not ((sv.isna() == dv.isna()).all() and
                        (diff.fillna(0) == 0).all()):
                    bad.append(f"{c} (maxdiff={diff.max():.3e})")
            else:
                svs, dvs = sv.astype(str), dv.astype(str)
                if not (svs == dvs).all():
                    ex = svs[svs != dvs].index[0]
                    bad.append(f"{c} (e.g. row {ex}: {sv[ex]!r} vs {dv[ex]!r})")
        if bad:
            print(f"FAIL {name}: value mismatch in {bad}{took(name)}"); n_fail += 1
        else:
            print(f"PASS {name} ({len(s)} rows){took(name)}"); n_pass += 1
    print("\nslowest DuckDB oracles:")
    for name, secs in sorted(duck_s.items(), key=lambda kv: -kv[1])[:5]:
        print(f"  {secs:8.2f}s  {name}")
    print(f"\n{n_cached} oracles read from {os.path.normpath(CACHE_DIR)}")
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{len(oracles)} oracles total")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
