"""Simulate the driver's correctness gate: vanilla session, sf0.01, oracle compare."""
import sys, math, hashlib, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession

SF = '/root/testdata/sf0.01'
spark = SparkSession.builder.master('local[8]').config('spark.ui.enabled','false').getOrCreate()
spark.sparkContext.setLogLevel('ERROR')
import __spark_entry__ as e

# smoke
rows = e.entry(spark).collect()
print(f'entry: {len(rows)} rows OK')

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def canon(v):
    if v is None: return 'NULL'
    if isinstance(v, float):
        if math.isnan(v): return 'NaN'
        return repr(v + 0.0)
    if hasattr(v, 'isoformat'): return v.isoformat()
    return str(v)

def vhash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted('|'.join(canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256('\n'.join(lines).encode()).hexdigest()[:12]

qs, os_ = e.queries(), e.oracle_sql()
# optional argv filters: each arg is a name prefix; no args = full registry
if len(sys.argv) > 1:
    pref = tuple(sys.argv[1:])
    qs = {k: v for k, v in qs.items() if k.startswith(pref)}
fail = 0
for name, fn in sorted(qs.items()):
    try:
        df = fn(spark, SF)
        s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
        if name not in os_:
            print(f'{name}: rows-only, {len(s_rows)} rows')
            continue
        rel = con.sql(os_[name])
        d_cols, d_rows = list(rel.columns), [tuple(r) for r in rel.fetchall()]
        ok_schema = sorted(s_cols) == sorted(d_cols)
        ok_rows = len(s_rows) == len(d_rows)
        ok_hash = vhash(s_cols, s_rows) == vhash(d_cols, d_rows)
        status = 'OK' if (ok_schema and ok_rows and ok_hash) else f'MISMATCH schema={ok_schema} rows={ok_rows} hash={ok_hash}'
        if 'OK' != status: fail += 1
        print(f'{name}: {status} ({len(s_rows)} rows)')
    except Exception as ex:
        fail += 1
        print(f'{name}: ERROR {type(ex).__name__}: {str(ex)[:160]}')
print(f'\n{"ALL PASS" if fail==0 else f"{fail} FAILURES"}')
