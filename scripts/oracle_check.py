#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables, load our Verify dump, sort columns by
name and rows by value, and compare.

Usage: oracle_check.py SF_DIR VERIFY_OUT [GATES]

GATES is an optional comma-separated gate list, the same one
SPARK_GRAFT_VERIFY_ONLY takes. With it, only those gates are checked, and a
listed gate without a dump under VERIFY_OUT fails; a listed gate without an
oracle (rows-only) is reported and not compared."""
import duckdb, json, sys, os, math

sfdir, outdir = sys.argv[1], sys.argv[2]
only = ({g.strip() for g in sys.argv[3].split(",") if g.strip()}
        if len(sys.argv) > 3 else None)
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail = 0
if only is not None:
    for name in sorted(only):
        if not os.path.isdir(f"{outdir}/{name}"):
            print(f"FAIL {name}: no dump under {outdir}"); fail += 1
        elif name not in oracle:
            print(f"ROWS {name}: no oracle (rows-only), not compared")
    oracle = {n: q for n, q in oracle.items()
              if n in only and os.path.isdir(f"{outdir}/{n}")}
for name, sql in sorted(oracle.items()):
    try:
        exp = con.sql(sql).df()
        got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}"); fail += 1; continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}"); fail += 1; continue
        # DuckDB SUM over ints yields HUGEINT -> pandas float64 ("14.0"),
        # which hash-mismatches Spark's int64 ("14") in the driver even when
        # values are numerically equal. Treat float-vs-int dtype skew as FAIL.
        dbad = [c for c in exp.columns
                if (str(exp[c].dtype).startswith('float')) != (str(got[c].dtype).startswith('float'))]
        if dbad:
            print(f"FAIL {name}: dtype skew {[(c, str(exp[c].dtype), str(got[c].dtype)) for c in dbad]}"); fail += 1; continue
        er = exp.sort_values(by=list(exp.columns), na_position='first').reset_index(drop=True)
        gr = got.sort_values(by=list(got.columns), na_position='first').reset_index(drop=True)
        bad = None
        for c in exp.columns:
            for i in range(len(er)):
                a, b = er[c][i], gr[c][i]
                sa, sb = str(a), str(b)
                if sa in ('None','nan','NaT') or sb in ('None','nan','NaT'):
                    ok = (sa in ('None','nan','NaT')) == (sb in ('None','nan','NaT'))
                elif isinstance(a, float):
                    ok = (a == b) or (abs(a - b) < 1e-12 * max(1, abs(a)))
                else:
                    ok = sa == sb
                if not ok:
                    bad = (c, i, a, b); break
            if bad: break
        if bad:
            print(f"FAIL {name}: col={bad[0]} row={bad[1]} exp={bad[2]!r} got={bad[3]!r}"); fail += 1
        else:
            print(f"OK   {name} ({len(exp)} rows)")
    except Exception as e:
        print(f"ERROR {name}: {str(e)[:200]}"); fail += 1
sys.exit(1 if fail else 0)
