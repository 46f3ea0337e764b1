#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify output
against DuckDB oracles and compare row-sets. Usage:
    python3 scripts/check.py <sfDir> <verifyOutDir> [queryName...] [--digests FILE]

--digests FILE also writes one line per query with readable Spark output:
the query name and a SHA-256 over its column names and normalized, sorted
rows (order-independent). Diffing two such files shows whether a change
kept every query's output.
"""
import sys, json, glob, os, math, hashlib, tempfile
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)

def digest(cols, rows):
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(b"\n" + repr(r).encode())
    return h.hexdigest()

def main():
    args = sys.argv[1:]
    digests_path = None
    if "--digests" in args:
        i = args.index("--digests")
        digests_path = args[i + 1]
        del args[i:i + 2]
    sf_dir, out_dir = args[0], args[1]
    only = set(args[2:])
    digests = {}
    # an in-memory database cannot spill without a temp directory; with
    # one, large oracles (q268 at sf0.1) spill instead of running out of
    # memory
    spill = tempfile.TemporaryDirectory(prefix="check_spill_")
    con = duckdb.connect(config={"temp_directory": spill.name})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        if only and name not in only:
            continue
        sql = oracles[name]
        pq = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not pq:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({pq!r})").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}"); n_fail += 1; continue
        gcols = sorted(got.columns)
        g = sorted(tuple(norm(v) for v in row) for row in got[gcols].itertuples(index=False, name=None))
        digests[name] = digest(gcols, g)
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        wcols = sorted(want.columns)
        if gcols != wcols:
            print(f"FAIL {name}: schema {gcols} vs {wcols}"); n_fail += 1; continue
        # dtype families must agree too (the driver's schema_match may check)
        def fam(dt):
            k = str(dt)
            if "int" in k: return "int"
            if "float" in k or "double" in k: return "float"
            if "bool" in k: return "bool"
            if "datetime" in k or "date" in k: return "datetime"
            return "obj"
        mism = [(c, str(got[c].dtype), str(want[c].dtype)) for c in gcols
                if fam(got[c].dtype) != fam(want[c].dtype)]
        if mism:
            print(f"WARN {name}: dtype families differ: {mism}")
        w = sorted(tuple(norm(v) for v in row) for row in want[wcols].itertuples(index=False, name=None))
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}"); n_fail += 1; continue
        if g != w:
            diff = [(a, b) for a, b in zip(g, w) if a != b][:3]
            print(f"FAIL {name}: values differ, e.g. {diff}"); n_fail += 1; continue
        print(f"PASS {name} ({len(g)} rows)"); n_pass += 1
    if digests_path:
        with open(digests_path, "w") as f:
            for name in sorted(digests):
                f.write(f"{name} {digests[name]}\n")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    con.close()
    spill.cleanup()
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
