#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: read Verify's parquet
dumps + oracle_sql.json, run each oracle in DuckDB over the same testdata
parquet, and compare EXACTLY (column names, row counts, sorted-value string
hashes — no float tolerance, matching the driver's exact-hash compare; a
DuckDB HUGEINT that lands as float64 will fail here just as it fails
driver-side). Usage: check.py <sfDir> <outDir>.

Each oracle runs in a child process of its own (`check.py <sfDir> <outDir>
<query>`, DuckDB's default settings), so an oracle whose process is killed
(out of memory, exit 137) fails alone: the remaining oracles are still
checked and the summary line is always printed."""
import glob, json, os, subprocess, sys

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def check_one(sfdir, outdir, name, sql):
    """Compares one query's dump with its oracle; prints one line, returns
    True when they match."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures ship <table>.parquet as a single FILE; ScaleUp
        # rehearsal corpora write it as a DIRECTORY of part files — glob those
        path = f"{sfdir}/{t}.parquet"
        pat = path if os.path.isfile(path) else f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")
    try:
        got = pd.read_parquet(f"{outdir}/{name}")
    except Exception as e:
        print(f"FAIL {name}: no spark result ({e})"); return False
    try:
        exp = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}"); return False
    if sorted(got.columns) != sorted(exp.columns):
        print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}"); return False
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); return False
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    bad = None
    for c in cols:
        gv, ev = g[c], e[c]
        # Exact compare, like the driver: stringify and demand equality.
        # Dtype mismatches (e.g. int64 vs float64 from an uncast DuckDB
        # HUGEINT sum) surface as "42" vs "42.0" string diffs — by design.
        if gv.dtype.kind != ev.dtype.kind:
            print(f"WARN {name}: column {c} dtype {gv.dtype} (spark) vs {ev.dtype} (oracle)")
        gs, es = gv.astype(str), ev.astype(str)
        if not (gs == es).all():
            bad = c; break
    if bad:
        m = (g[bad].astype(str) != e[bad].astype(str))
        print(f"FAIL {name}: column {bad} differs; first: got={g[bad][m].iloc[0]!r} exp={e[bad][m].iloc[0] if m.any() else '?'!r}")
        return False
    print(f"OK   {name}: {len(got)} rows")
    return True


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    if len(sys.argv) > 3:  # child: one oracle, exit 0 when it matches
        name = sys.argv[3]
        sys.exit(0 if check_one(sfdir, outdir, name, oracle[name]) else 1)
    fails = 0
    for name in sorted(oracle):
        sys.stdout.flush()
        p = subprocess.run([sys.executable, os.path.abspath(__file__), sfdir, outdir, name])
        if p.returncode not in (0, 1):
            how = f"signal {-p.returncode}" if p.returncode < 0 else f"exit {p.returncode}"
            print(f"FAIL {name}: oracle process killed ({how})")
            # a killed DuckDB leaves its spill files in the default temp dir
            for f in glob.glob(".tmp/duckdb_temp*"):
                os.remove(f)
        fails += p.returncode != 0
    print(f"\n{len(oracle)-fails}/{len(oracle)} queries match")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
