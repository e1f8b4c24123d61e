"""Bitwise DuckDB cross-check of a `graft.Verify` dump.

Usage: python3 tools/oracle_check.py <sf_dir> <verify_out>

<sf_dir> holds the contract tables as <table>.parquet; <verify_out> is the
directory `runMain graft.Verify <sf_dir> <verify_out>` wrote (one parquet
dir per query plus oracle_sql.json). Every query's oracle SQL runs in
DuckDB over <sf_dir>; the result is compared with Spark's output after
sorting rows and columns. Float columns are compared BITWISE (uint64 view):
pandas' exact compare treats -0.0 == 0.0, which hides the sign-of-zero
divergences a representation-hashing compare reports.

Prints one line per query and a final "<ok>/<total> bitwise" line; exits
non-zero on any mismatch, any missing output and a missing oracle_sql.json.
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ['documents', 'embeddings', 'events', 'lineitem', 'orders',
          'customer', 'part', 'supplier', 'nation', 'region']


def check(want, got):
    """Raise AssertionError unless `got` equals `want` bit for bit."""
    cols = sorted(want.columns)
    assert sorted(got.columns) == cols, \
        f"columns differ: oracle={cols} spark={sorted(got.columns)}"
    want = want[cols].sort_values(by=cols).reset_index(drop=True)
    got = got[cols].sort_values(by=cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(want, got, check_dtype=False,
                                  check_exact=True)
    for c in cols:
        w, g = want[c], got[c]
        if w.dtype.kind == 'f' or g.dtype.kind == 'f':
            wb = w.astype('float64').to_numpy().view('uint64')
            gb = g.astype('float64').to_numpy().view('uint64')
            bad = np.nonzero(wb != gb)[0]
            assert bad.size == 0, (
                f"col {c}: {bad.size} bit-divergent cells, first at row "
                f"{bad[0]}: oracle={w.iloc[bad[0]]!r} "
                f"spark={g.iloc[bad[0]]!r} (signbit "
                f"o={np.signbit(w.iloc[bad[0]])} "
                f"s={np.signbit(g.iloc[bad[0]])})")


def main(sf, out):
    sql_path = os.path.join(out, 'oracle_sql.json')
    if not os.path.exists(sql_path):
        print(f'MISSING {sql_path}')
        return 1
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf, f'{t}.parquet')
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracles = json.load(open(sql_path))
    ok = 0
    for name, sql in sorted(oracles.items()):
        got_path = os.path.join(out, name)
        if not os.path.exists(got_path):
            print(name, 'MISSING output')
            continue
        try:
            want = con.execute(sql).df()
            got = pd.read_parquet(got_path)
            check(want, got)
            ok += 1
            print(name, 'OK rows=', len(got))
        except Exception as e:  # one bad query must not hide the rest
            print(name, 'MISMATCH', str(e)[:300])
    print(f'{ok}/{len(oracles)} bitwise')
    return 0 if ok == len(oracles) else 1


if __name__ == '__main__':
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
