"""Correctness checks for every workload, computed with DuckDB only.

Nothing here goes through Spark: expected subsets are recomputed from the
source lake with the predicates in `spec.expect`, and the program's output
is read back from the parquet files, the SQL text or the Derby dump it
left behind. A table digest is (rows, order-independent hash): the sum of
one hash per row over canonicalised values (integers as BIGINT, doubles
rounded to 4 places, timestamps as UTC text, float vectors rounded), so row
order, table order and engine type spelling do not matter.

Checks per steal output:
  - row count and content digest of the non-anonymised columns;
  - literal columns hold exactly the literal;
  - faker columns are non-NULL and never equal a source value;
  - IgnoreData tables are empty, unconfigured tables are whole copies;
  - the cold repetition and the last one are identical (all columns).
`queries` outputs are digested the same way and compared with the digests
pinned in `pins.json`.
"""
import json
import os
import re

import duckdb

from lake import DB_TABLES, SCHEMAS, TABLES
import spec


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def canon(col, kind):
    c = f'"{col}"'
    if kind in ("int", "long"):
        return f"CAST({c} AS BIGINT)"
    if kind == "double":
        return f"round(CAST({c} AS DOUBLE), 4)"
    if kind == "ts":
        return f"strftime(CAST({c} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
    if kind == "vec":
        return f"list_transform(CAST({c} AS FLOAT[]), x -> round(x::DOUBLE, 4))"
    return f"CAST({c} AS VARCHAR)"


def digest(con, rel, cols):
    """(rows, hash) of relation `rel` over `cols` = [(name, kind)]."""
    if not cols:
        return list(con.execute(f"SELECT count(*), 0 FROM {rel}").fetchone())
    h = ", ".join(canon(c, k) for c, k in cols)
    rows, hsum = con.execute(
        f"SELECT count(*), coalesce(sum(hash({h})::HUGEINT), 0) FROM {rel}"
    ).fetchone()
    return [int(rows), str(hsum)]


def source_views(con, lake):
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW src_{t} AS SELECT * FROM "
                    f"read_parquet('{lake}/{t}.parquet')")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM src_{t}")


# ---------------------------------------------------------------- outputs

def parquet_rel(rep_dir, table):
    """Relation over one table of a ParquetSink output, or None."""
    d = os.path.join(rep_dir, f"{table}.parquet")
    if not os.path.isdir(d) or not any(
            f.endswith(".parquet") for f in os.listdir(d)):
        return None
    return f"read_parquet('{d}/*.parquet')"


def csv_rel(rep_dir, table):
    """Relation over one table of a Derby dump (upper-case file names)."""
    p = os.path.join(rep_dir, f"{table.upper()}.csv")
    if not os.path.exists(p):
        return None
    return (f"read_csv('{p}', header=true, all_varchar=true, quote='\"', "
            f"escape='\"', allow_quoted_nulls=false)")


_VALUE = re.compile(r"\s*(?:'((?:[^']|'')*)'|(NULL)|([^,\s]+))\s*(?:,|$)")


def parse_sql_text(path):
    """{table: (columns, rows as lists of text or None)} from a SqlTextSink
    dump, whatever order the tables were written in."""
    tables = {}
    cur = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("CREATE TABLE "):
                name = line[len("CREATE TABLE "):].split(" ", 1)[0]
                if name in tables:
                    raise ValueError(f"table {name} dumped twice")
                cur = tables.setdefault(name, ([], []))
            elif line.startswith("INSERT INTO "):
                cols = line[line.index("(") + 1:line.rindex(") VALUES")]
                names = [c.strip().strip('"') for c in cols.split(",")]
                if not cur[0]:
                    cur[0].extend(names)
            elif line.startswith("  ("):
                body = line.rstrip("\n").rstrip(",;")[3:-1]
                row = []
                for m in _VALUE.finditer(body):
                    s, null, lit = m.groups()
                    row.append(None if null else
                               s.replace("''", "'") if s is not None else lit)
                cur[1].append(row)
    return tables


def register_sql_text(con, path):
    """One all-VARCHAR view per dumped table, named txt_<table>."""
    import pyarrow as pa
    names = []
    for t, (cols, rows) in parse_sql_text(path).items():
        if not cols:  # empty table: no INSERT, columns from the lake schema
            cols = [c for c, _ in SCHEMAS[t]]
        arrays = [pa.array([r[i] for r in rows], pa.string())
                  for i in range(len(cols))]
        tbl = pa.table(arrays, names=cols)
        con.register(f"txt_{t}", tbl)
        names.append(t)
    return names


def canon_text(col, kind):
    """`canon` for a value parsed from SQL text. Timestamp-without-zone
    values arrive as ISO local date-times (`1996-09-14T00:00`, zero
    seconds dropped); float vectors as `'ArraySeq(…)'`."""
    c = f'"{col}"'
    if kind == "ts":
        iso = (f"regexp_replace(replace({c}, 'T', ' '), "
               f"'^(\\d+-\\d+-\\d+ \\d+:\\d+)$', '\\1:00')")
        return f"strftime(CAST({iso} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
    if kind == "vec":
        items = (f"string_split(regexp_extract({c}, 'ArraySeq\\((.*)\\)', 1), ', ')")
        return f"list_transform({items}, x -> round(CAST(x AS FLOAT)::DOUBLE, 4))"
    return canon(col, kind)


# ---------------------------------------------------------------- checks

def check_subset(con, segment, rel_of, tables):
    """Failures of one subset-steal output; `rel_of(t)` gives the output
    relation of table t (or None)."""
    fails = []
    for t, (tail, anon, ignore) in spec.expect(segment).items():
        if t not in tables:
            continue
        rel = rel_of(t)
        if rel is None:
            fails.append(f"{t}: missing from output")
            continue
        keep = [(c, k) for c, k in SCHEMAS[t] if c not in anon]
        exp_rel = f"(SELECT * FROM src_{t} {tail})"
        want = [0, "0"] if ignore else digest(con, exp_rel, keep)
        got = digest(con, rel, keep)
        if got != want:
            fails.append(f"{t}: rows/hash {got} != expected {want}")
        for c, how in anon.items():
            if how.startswith("literal:"):
                lit = how[len("literal:"):].replace("'", "''")
                bad = con.execute(f"SELECT count(*) FROM {rel} WHERE "
                                  f"\"{c}\" IS DISTINCT FROM '{lit}'").fetchone()[0]
                if bad:
                    fails.append(f"{t}.{c}: {bad} rows differ from the literal")
            else:
                nulls, same = con.execute(
                    f"SELECT count(*) FILTER (WHERE \"{c}\" IS NULL), "
                    f"count(*) FILTER (WHERE \"{c}\" IN (SELECT \"{c}\" FROM src_{t})) "
                    f"FROM {rel}").fetchone()
                if nulls or same:
                    fails.append(f"{t}.{c}: faker left {nulls} NULLs and "
                                 f"{same} source values")
    return fails


def check_repeat(con, rel0, rel1, tables):
    """Failures where two repetitions differ (all columns)."""
    fails = []
    for t in tables:
        a, b = rel0(t), rel1(t)
        if a is None or b is None:
            continue
        cols = [(c, "str") for c, _ in SCHEMAS[t]]
        if digest(con, a, cols) != digest(con, b, cols):
            fails.append(f"{t}: output differs between repetitions")
    return fails


def check_steal(workload, segment, lake, outs):
    """All failures of one steal run. `outs` are the repetitions to check:
    output directories (parquet, Derby dump) or SQL-text files. Each is
    checked in full, and all must be identical."""
    con = connect()
    source_views(con, lake)
    fails = []
    if workload == "lake_full_sqltext":
        seen = {}
        for i, path in enumerate(outs):
            dumped = register_sql_text(con, path)
            fails += [f"rep{i}: {t} missing from SQL text"
                      for t in sorted(set(TABLES) - set(dumped))]
            for t in dumped:
                cols = [canon_text(c, k) for c, k in SCHEMAS[t]]
                want = digest(con, f"src_{t}", SCHEMAS[t])
                got = con.execute(
                    f"SELECT count(*), coalesce(sum(hash({', '.join(cols)})::HUGEINT), 0) "
                    f"FROM txt_{t}").fetchone()
                got = [int(got[0]), str(got[1])]
                if got != want:
                    fails.append(f"rep{i}: {t}: rows/hash {got} != expected {want}")
                seen.setdefault(t, set()).add(json.dumps(got))
        fails += [f"{t}: output differs between repetitions"
                  for t, ds in seen.items() if len(ds) > 1]
        return fails
    if workload == "lake_subset_parquet":
        rel_of = lambda d: (lambda t: parquet_rel(d, t))
        tables = TABLES
    else:
        rel_of = lambda d: (lambda t: csv_rel(d, t))
        tables = DB_TABLES
    for i, d in enumerate(outs):
        fails += [f"rep{i}: {f}" for f in check_subset(con, segment, rel_of(d), tables)]
    for d in outs[1:]:
        fails += check_repeat(con, rel_of(outs[0]), rel_of(d), tables)
    return fails


def query_digest(con, path):
    """Digest of one query's parquet output over every column."""
    rel = f"read_parquet('{path}/*.parquet')"
    cols = []
    for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall():
        c = f'"{name}"'
        if typ in ("FLOAT", "DOUBLE"):
            cols.append(f"round({c}::DOUBLE, 3)")
        elif typ in ("FLOAT[]", "DOUBLE[]"):
            cols.append(f"list_transform({c}, x -> round(x::DOUBLE, 3))")
        else:
            cols.append(f"CAST({c} AS VARCHAR)")
    rows, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(cols)})::HUGEINT), 0) "
        f"FROM {rel}").fetchone()
    return [int(rows), str(h)]


def query_digests(base):
    """{query: digest} of the per-query parquet outputs under `base`."""
    con = connect()
    return {q: query_digest(con, os.path.join(base, q))
            for q in sorted(os.listdir(base))} if os.path.isdir(base) else {}


def check_queries(base, pins):
    """Failures of the query outputs under `base` against `pins`."""
    got = query_digests(base)
    fails = [f"{q}: no output" for q in sorted(set(pins) - set(got))]
    fails += [f"{q}: {got[q]} != pinned {pins[q]}"
              for q in sorted(pins) if q in got and got[q] != pins[q]]
    fails += [f"{q}: not pinned" for q in sorted(set(got) - set(pins))]
    return fails
