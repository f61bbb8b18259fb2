#!/usr/bin/env python3
"""Parent-vs-change output diff for two `graft.Verify` output dirs.

    python3 tools/diff_verify.py PARENT_OUT CHANGE_OUT SF_DIR

1. Every entry's Spark parquet output must be row-identical between the
   two dirs: same column names and types, same rows (compared as a
   multiset, doubles bit-exact, so -0.0 != 0.0).
2. Entries whose `oracle_sql.json` text changed are listed.
3. Each changed pair of oracle texts is run in DuckDB over SF_DIR's
   tables; they must return identical columns and rows.

Exits 1 on any difference. `tools/check.py` stays the engine-vs-oracle
gate; this script only answers "did the change move any output?".
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(rows):
    """Rows as sorted tuples of (type, repr): repr round-trips doubles
    exactly and tells -0.0 from 0.0, so equal keys mean equal bits."""
    return sorted(tuple((type(v).__name__, repr(v)) for v in row) for row in rows)


def spark_output(out_dir, name):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    t = pq.read_table(files)
    schema = [(f.name, str(f.type)) for f in t.schema]
    return schema, canon(tuple(r.values()) for r in t.to_pylist())


def duck_rows(con, sql):
    cur = con.execute(sql)
    schema = [(d[0], str(d[1])) for d in cur.description]
    return schema, canon(cur.fetchall())


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    parent, change, sf_dir = sys.argv[1:]
    fails = 0

    p_sql = json.load(open(f"{parent}/oracle_sql.json"))
    c_sql = json.load(open(f"{change}/oracle_sql.json"))
    names = sorted(set(p_sql) | set(c_sql))
    for name in sorted(set(p_sql) ^ set(c_sql)):
        print(f"FAIL {name}: entry only in {'parent' if name in p_sql else 'change'}")
        fails += 1

    same = 0
    for name in names:
        p, c = spark_output(parent, name), spark_output(change, name)
        if p is None or c is None:
            print(f"FAIL {name}: no spark output in {'parent' if p is None else 'change'}")
            fails += 1
        elif p[0] != c[0]:
            print(f"FAIL {name}: spark schema {p[0]} -> {c[0]}")
            fails += 1
        elif p[1] != c[1]:
            print(f"FAIL {name}: spark rows differ ({len(p[1])} -> {len(c[1])} rows)")
            fails += 1
        else:
            same += 1
    print(f"{same}/{len(names)} entries: spark output row-identical")

    changed = [n for n in names if n in p_sql and n in c_sql and p_sql[n] != c_sql[n]]
    print(f"{len(changed)} oracle SQL texts changed")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for name in changed:
        try:
            p, c = duck_rows(con, p_sql[name]), duck_rows(con, c_sql[name])
        except Exception as e:  # a text that no longer runs is a failure
            print(f"FAIL {name}: duckdb error {e}")
            fails += 1
            continue
        if p != c:
            detail = "columns" if p[0] != c[0] else f"rows ({len(p[1])} -> {len(c[1])})"
            print(f"FAIL {name}: oracle text changed and its DuckDB {detail} differ")
            fails += 1
        else:
            print(f"SAME {name}: changed oracle text, identical DuckDB rows ({len(c[1])})")

    print("OK" if fails == 0 else f"{fails} differences")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
