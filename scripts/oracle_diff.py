#!/usr/bin/env python3
"""Show that an oracle SQL rewrite leaves every result as it was.

usage: python3 scripts/oracle_diff.py OLD_DIR NEW_DIR SF_DIR

OLD_DIR and NEW_DIR each hold an oracle_sql.json (as written by
graft.Verify). For each query whose SQL text differs between the two, both
versions run in DuckDB over views of SF_DIR/*.parquet and are compared
with check.py's canon/eq: the same column names, row count and values,
rows sorted, -0.0 told apart from +0.0. Prints `SAME <q>` or
`DIFF <q>: ...` per changed query; exits 1 on any DIFF.
"""
import json, os, sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import TABLES, canon, eq  # noqa: E402
import duckdb  # noqa: E402


def run(con, sql):
    rel = con.execute(sql)
    return canon(rel.fetchall(), [d[0] for d in rel.description])


def diff(con, old_sql, new_sql):
    """None when both return the same result, else a one-line reason."""
    (old_rows, old_cols), (new_rows, new_cols) = run(con, old_sql), run(con, new_sql)
    if old_cols != new_cols:
        return f"columns: old={old_cols} new={new_cols}"
    if len(old_rows) != len(new_rows):
        return f"rowcount: old={len(old_rows)} new={len(new_rows)}"
    for i, (o, n) in enumerate(zip(old_rows, new_rows)):
        if not all(eq(a, b) for a, b in zip(o, n)):
            return f"sorted-row {i}: old={o} new={n} cols={old_cols}"
    return None


def main(old_dir, new_dir, sfdir):
    old = json.load(open(f"{old_dir}/oracle_sql.json"))
    new = json.load(open(f"{new_dir}/oracle_sql.json"))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    n_diff = 0
    for q in sorted(set(old) | set(new)):
        if q not in old or q not in new:
            why = f"only in {'NEW' if q in new else 'OLD'}"
        elif old[q] == new[q]:
            continue
        else:
            try:
                why = diff(con, old[q], new[q])
            except Exception as e:
                why = f"ERROR {e}"
        if why is None:
            print(f"SAME {q}")
        else:
            n_diff += 1
            print(f"DIFF {q}: {why}")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
