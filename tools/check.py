#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check.py [sfdir] [outdir]
Assumes `sbt "runMain graft.Verify <sfdir> <outdir>"` has already run.
Compares each <outdir>/<name>/*.parquet against its DuckDB oracle from
<outdir>/oracle_sql.json: columns sorted by name, rows sorted, exact value
compare (floats compared by bits via equality after round-trip).
Writes the names of the failing rows, one a line, to
<outdir>/check_failures.txt (empty when every row passes).
"""
import duckdb, pandas as pd, json, sys

TABLES = ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f'{out}/oracle_sql.json'))
    failed = []
    for name in sorted(oracle):
        try:
            exp = con.execute(oracle[name]).df()
            got = duckdb.connect().execute(
                f"SELECT * FROM '{out}/{name}/*.parquet'").df()
            exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
            if [str(c) for c in exp.columns] != [str(c) for c in got.columns]:
                print(f'{name}: SCHEMA expected {list(exp.columns)} got {list(got.columns)}')
                failed.append(name); continue
            cols = list(exp.columns)
            exp = exp.sort_values(by=cols, ignore_index=True)
            got = got.sort_values(by=cols, ignore_index=True)
            if len(exp) != len(got):
                print(f'{name}: ROWS expected {len(exp)} got {len(got)}')
                failed.append(name); continue
            if not exp.equals(got):
                diff = (exp != got) & ~(exp.isna() & got.isna())
                bad = diff.any(axis=1)
                print(f'{name}: VALUES {int(diff.values.sum())} cells differ; first rows:')
                print(pd.concat([exp[bad].head(2).assign(side='oracle'),
                                 got[bad].head(2).assign(side='spark')]).to_string())
                failed.append(name); continue
            print(f'{name}: OK ({len(exp)} rows)')
        except Exception as e:
            print(f'{name}: ERROR {type(e).__name__}: {e}')
            failed.append(name)
    with open(f'{out}/check_failures.txt', 'w') as f:
        f.write(''.join(n + '\n' for n in failed))
    sys.exit(1 if failed else 0)

if __name__ == '__main__':
    main()
