#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Reads Verify output (parquet per query + oracle_sql.json), runs each
oracle SQL in DuckDB over the sf tables, and compares: schema (column
names, sorted), row count, and values (rows sorted by all columns,
column order = sorted by name — mirroring the driver's described
compare). Floats compared exactly AND with max-abs-diff reporting so
near-misses are visible. A zero-row result fails unless the catalog
declared the query semantically empty (empty_ok.json, from
Catalog.Q.emptyOk) — an oracle cannot see a degeneracy it shares.

DuckDB runs with half of physical memory and spills to a temporary
directory removed at exit, so an oracle larger than memory spills, or
fails naming its query, instead of growing to DuckDB's default limit
(80% of RAM) on a shared host.

Usage: check.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, json, os, math, tempfile
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", v)
    if isinstance(v, bytes):
        return ("b", v.hex())
    if isinstance(v, list):
        return ("l", tuple(norm_cell(x) for x in v))
    return (type(v).__name__[0], v)


def sorted_rows(cols, rows):
    # column order: sorted by name; row order: sorted by all values
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: [repr(x) for x in t])
    return [cols[i] for i in order], out


def main(spill_dir):
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    half_ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    con = duckdb.connect(config={"memory_limit": f"{half_ram}B",
                                 "temp_directory": spill_dir})
    # Mirror spark.sql.session.timeZone=UTC: without this, DuckDB's
    # CAST(TIMESTAMPTZ AS TIMESTAMP) uses the host-local zone and the
    # LTZ-encoded events.ts branch diverges from Spark on non-UTC hosts.
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Zero-row non-degeneracy gate (round-19): the oracle runs the same
    # SQL over the same data, so a fixture or constant change that
    # collapses a query to 0 rows still hash-matches (SURVEY §7.10:
    # hourly buckets once left the sf0.1 graph EMPTY while every query
    # stayed green). Emptiness is therefore adjudicated against the
    # catalog's OWN declaration (Catalog.Q.emptyOk, exported by Verify
    # as empty_ok.json): any query outside that set returning 0 rows is
    # a FAIL even when the oracle agrees. Missing file (pre-round-19
    # Verify output) degrades to an empty allowlist — stricter, never
    # looser.
    empty_ok_path = os.path.join(out_dir, "empty_ok.json")
    empty_ok = set(json.load(open(empty_ok_path))) \
        if os.path.exists(empty_ok_path) else set()
    n_pass = n_fail = 0
    # Anti-false-green: every expected query (oracle keys, plus any
    # explicitly requested names) must have an output dir. A query dropped
    # from Catalog, a Verify crash mid-run, or a typo'd filter otherwise
    # silently shrinks the comparison set and still exits 0.
    have = {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}
    expected = only if only else set(oracles)
    for name in sorted(expected - have):
        print(f"  ✗ {name}: NO OUTPUT (expected but missing from {out_dir})")
        n_fail += 1
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir) or (only and name not in only):
            continue
        got_tbl = pq.read_table(qdir)
        got_cols = list(got_tbl.column_names)
        got_rows = [tuple(r) for r in zip(*[got_tbl.column(c).to_pylist()
                                            for c in got_cols])] if got_cols else []
        if name not in oracles:
            if not got_rows and name not in empty_ok:
                print(f"  ✗ {name}: DEGENERATE 0 rows (rows-only query "
                      f"not in the declared semantically-empty set)")
                n_fail += 1
            else:
                print(f"  ~ {name}: no oracle (rows-only): "
                      f"{len(got_rows)} rows")
            continue
        try:
            # ONE execution: the arrow table provides both the values and
            # the schema (some oracles — recursive CTEs, levenshtein
            # self-joins — are expensive enough that a second run for the
            # type check would double the gate's wall clock).
            exp_tbl = con.execute(oracles[name]).arrow()
            exp_cols = list(exp_tbl.column_names)
            exp_rows = [tuple(r) for r in
                        zip(*[exp_tbl.column(c).to_pylist()
                              for c in exp_cols])] if exp_cols else []
            # Arrow-level type parity: the driver hashes typed values, so a
            # DuckDB HUGEINT/DECIMAL column (e.g. window sum) hash-mismatches
            # a Spark BIGINT even when every value is equal — compare the
            # arrow schemas' type *families* explicitly.
            def fam(t):
                t = str(t)
                if t.startswith("int") or t.startswith("uint"):
                    return "int"
                if t in ("float", "double") or t.startswith("halffloat"):
                    return "float"
                return t  # decimal128(...), string, bool, ... compare verbatim
            exp_types = {f.name: fam(f.type) for f in exp_tbl.schema}
            got_types = {f.name: fam(f.type) for f in got_tbl.schema}
            type_ok = True
            for c in set(exp_types) & set(got_types):
                if exp_types[c] != got_types[c]:
                    print(f"  ✗ {name}: TYPE {c} oracle={exp_types[c]} "
                          f"spark={got_types[c]} (driver hash would differ)")
                    type_ok = False
        except Exception as e:
            print(f"  ✗ {name}: ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        gc, gr = sorted_rows(got_cols, got_rows)
        ec, er = sorted_rows(exp_cols, exp_rows)
        ok = type_ok
        if gc != ec:
            print(f"  ✗ {name}: SCHEMA got={gc} exp={ec}")
            ok = False
        elif len(gr) != len(er):
            print(f"  ✗ {name}: ROWCOUNT got={len(gr)} exp={len(er)}")
            ok = False
        elif gr != er:
            # find first diff + max float diff
            maxd, nd, first = 0.0, 0, None
            for i, (a, b) in enumerate(zip(gr, er)):
                if a != b:
                    nd += 1
                    if first is None:
                        first = (i, a, b)
                    for x, y in zip(a, b):
                        if x[0] == "f" == y[0] and isinstance(x[1], float) and isinstance(y[1], float):
                            maxd = max(maxd, abs(x[1] - y[1]))
            print(f"  ✗ {name}: VALUES {nd} differing rows; maxFloatDiff={maxd:.3e}")
            if first:
                print(f"      row {first[0]}:\n      got {first[1]}\n      exp {first[2]}")
            ok = False
        if ok and not gr and name not in empty_ok:
            # the oracle happily matched an empty result — but the
            # catalog never declared this query semantically empty, so
            # an empty answer is a degeneracy, not a pass
            print(f"  ✗ {name}: DEGENERATE 0 rows (oracle matches, but "
                  f"the query is not in the declared semantically-empty "
                  f"set — a fixture/constant change likely collapsed it)")
            ok = False
        if ok:
            print(f"  ✓ {name}: {len(gr)} rows")
            n_pass += 1
        else:
            n_fail += 1
    con.close()
    print(f"PASS {n_pass} FAIL {n_fail}")
    return n_fail


if __name__ == "__main__":
    with tempfile.TemporaryDirectory(prefix="oracle-spill-") as spill:
        n_fail = main(spill)
    sys.exit(1 if n_fail else 0)
