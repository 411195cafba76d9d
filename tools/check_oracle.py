import duckdb, json, glob, sys
import pandas as pd
# usage: check_oracle.py [verifyOutDir] [dataDir]
out = sys.argv[1] if len(sys.argv) > 1 else '/tmp/verify_out'
sf = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracle = json.load(open(f'{out}/oracle_sql.json'))
fails = []
for name, sql in sorted(oracle.items()):
    try:
        odf = con.sql(sql).df()
        files = glob.glob(f'{out}/{name}/*.parquet')
        sdf = pd.concat([pd.read_parquet(f) for f in files])
    except Exception as e:
        fails.append((name, f'ERROR {e}')); continue
    o = odf.reindex(sorted(odf.columns), axis=1)
    s = sdf.reindex(sorted(sdf.columns), axis=1)
    if list(o.columns) != list(s.columns):
        fails.append((name, f'cols oracle={list(o.columns)} spark={list(s.columns)}')); continue
    if len(o) != len(s):
        fails.append((name, f'rows oracle={len(o)} spark={len(s)}')); continue
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    eq = True
    for c in o.columns:
        oc, sc = o[c], s[c]
        if str(oc.dtype).startswith('datetime') or str(sc.dtype).startswith('datetime'):
            oc = pd.to_datetime(oc).astype('datetime64[us]'); sc = pd.to_datetime(sc).astype('datetime64[us]')
        try:
            same = (oc.fillna('@N') == sc.fillna('@N')).all() if oc.dtype==object else ((oc.isna()==sc.isna()).all() and (oc.dropna().values==sc.dropna().values).all())
        except Exception as e:
            same = False
        if not same:
            eq = False
            print(f'  {name}.{c}: oracle={oc.head(3).tolist()} spark={sc.head(3).tolist()}')
    if not eq: fails.append((name,'values'))
    else: print(f'OK   {name} ({len(o)} rows)')
print()
if fails:
    print('FAILURES:'); [print(' ', n, m) for n, m in fails]; sys.exit(1)
print('ALL MATCH')
