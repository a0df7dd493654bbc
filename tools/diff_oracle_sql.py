"""Compare the oracle SQL of two Verify outputs (a refactor's parent and its
change). Each side's `<out>_gen` dump path is mapped to one placeholder, then
every entry is listed as byte-identical or changed; each changed entry's two
SQL texts run in DuckDB over the CHANGE's gen dir and the sf tables, and their
sorted results are compared. Usage:
    python3 tools/diff_oracle_sql.py PARENT_OUT CHANGE_OUT [SF_DIR]
PARENT_OUT and CHANGE_OUT each hold an `oracle_sql.json` (Verify writes one;
so can any dump of `SparkEntry.oracleSql` with `__GEN_DIR__` replaced by
`<out>_gen`). SF_DIR holds the sf tables (`<table>.parquet`) the oracles
read; without it only the gen dumps are readable. Exits 1 when an entry
exists on one side only, an oracle fails on either side, or the two results
differ.
"""
import glob
import json
import os
import sys

import duckdb

PLACEHOLDER = '__GEN_DIR__'


def load(out):
    out = os.path.abspath(out.rstrip('/'))
    with open(f'{out}/oracle_sql.json') as f:
        sqls = json.load(f)
    return {k: v.replace(f'{out}_gen', PLACEHOLDER) for k, v in sqls.items()}


def norm(df):
    df = df[sorted(df.columns)]
    df = df.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(argv):
    if len(argv) < 3:
        print(__doc__)
        return 2
    parent, change = argv[1], argv[2]
    sf = argv[3] if len(argv) > 3 else None
    gen = os.path.abspath(change.rstrip('/')) + '_gen'
    a, b = load(parent), load(change)
    bad = []
    for k in sorted(set(a) ^ set(b)):
        print(f'ONLY-{"PARENT" if k in a else "CHANGE"} {k}')
        bad.append(k)
    common = sorted(set(a) & set(b))
    same = [k for k in common if a[k] == b[k]]
    changed = [k for k in common if a[k] != b[k]]
    print(f'{len(same)} byte-identical, {len(changed)} changed')
    con = duckdb.connect()
    for p in glob.glob(f'{sf}/*.parquet') if sf else []:
        name = os.path.basename(p)[:-len('.parquet')]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    for k in changed:
        try:
            ra = con.execute(a[k].replace(PLACEHOLDER, gen)).df()
            rb = con.execute(b[k].replace(PLACEHOLDER, gen)).df()
        except Exception as e:  # an oracle that fails cannot be compared
            print(f'ERROR   {k}: {e}')
            bad.append(k)
            continue
        dtypes_a = [str(ra[c].dtype) for c in sorted(ra.columns)]
        dtypes_b = [str(rb[c].dtype) for c in sorted(rb.columns)]
        ok = dtypes_a == dtypes_b and norm(ra).equals(norm(rb))
        print(f'{"SAME   " if ok else "DIFFER "} {k} ({len(rb)} rows)')
        if not ok:
            bad.append(k)
    print(f'{len(changed) - len([k for k in bad if k in changed])}/'
          f'{len(changed)} changed entries give the same result')
    return 1 if bad else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
