#!/usr/bin/env python3
"""Local pre-check of the registered queries' oracle SQL vs the Verify
parquet dumps.

Mimics the driver's DuckDB-oracle compare: registers each testdata table as a
DuckDB view, runs oracle_sql.json, canonicalizes both sides (sort columns by
name, total row sort, stringify), and hash-compares. Dev tool only — the
graded check is driver-side.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

The last line is `checked=N failed=M`; the exit code is non-zero when any
query fails or when there is nothing to check (N = 0).
"""
import json, os, sys, hashlib
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]


def source_fingerprint(path):
    """Mirror of graft.ops.PersistedIndex.sourceFingerprint: md5 over the sorted
    'name:size:mtime_ms' entries of the data files under path (recursive;
    _/. -prefixed marker files excluded). Java File.lastModified() is
    st_mtime_ns // 10**6 on this FS."""
    entries = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append(
            f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns // 10**6}")
    else:
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, f))
                entries.append(f"{f}:{st.st_size}:{st.st_mtime_ns // 10**6}")
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()


# Drift gate: a Verify dump is only comparable against the SAME testdata it
# was computed from. The manifest (written by graft.Verify) pins each
# table's source fingerprint; any mismatch means the testdata was
# regenerated since the dump — refuse to compare rather than emit
# misleading FAIL rows (the r6/r7 stale-compare burns).
manifest_path = os.path.join(outdir, "manifest.json")
if os.path.exists(manifest_path):
    manifest = json.load(open(manifest_path))
    stale = []
    for t, meta in manifest.get("tables", {}).items():
        live = source_fingerprint(os.path.join(sfdir, f"{t}.parquet"))
        if live != meta["fingerprint"]:
            stale.append(f"{t}: manifest={meta['fingerprint']} live={live}")
    if stale:
        print("REFUSING to compare: testdata changed since the Verify dump "
              "was written (re-run graft.Verify against the current data):",
              file=sys.stderr)
        for line in stale:
            print(f"  {line}", file=sys.stderr)
        sys.exit(2)
else:
    print("WARN: no manifest.json in dump dir — drift-unguarded compare "
          "(dump predates the fingerprint stamp?)", file=sys.stderr)

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(df):
    # sort columns by name, then rows lexicographically, stringify all values
    df = df[sorted(df.columns)]
    rows = [tuple(str(v) for v in r) for r in df.itertuples(index=False)]
    rows.sort()
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()

fails = checked = 0
for name, sql in sorted(oracle.items()):
    checked += 1
    try:
        want = canon(con.execute(sql).df())
        got = canon(duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").df())
        ok = want == got
        if not ok:
            fails += 1
        print(f"{'OK  ' if ok else 'FAIL'} {name}: spark={got} oracle={want}")
    except Exception as e:
        fails += 1
        print(f"ERR  {name}: {e}")
print(f"checked={checked} failed={fails}")
if checked == 0:
    # an empty oracle_sql.json (a filter that matched nothing, a dump that
    # never ran) must not read as a pass
    print("FAIL: no oracle queries to check", file=sys.stderr)
    sys.exit(1)
sys.exit(1 if fails else 0)
