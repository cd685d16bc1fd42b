"""Double-invocation idempotency sweep: every queries() entry runs twice
in one session and must return identical rows -- catches cache-dependent
second-invocation bugs (session stores, persisted fixtures) that the
single-shot oracle sweep cannot see. Writes per-entry lines + a final
"BAD: [...]" to stdout. Usage: python3 tools/idempotency_check.py"""
import os, sys
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO); sys.path.insert(0, REPO)
from pyspark.sql import SparkSession
import __spark_entry__ as e
spark = (SparkSession.builder.master('local[8]')
         .config('spark.sql.shuffle.partitions','8')
         .config('spark.ui.enabled','false').getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
qs = e.queries()
bad = []
for name in list(qs):
    try:
        a = sorted(map(str, qs[name](spark, '/root/testdata/sf0.01').collect()))
        b = sorted(map(str, qs[name](spark, '/root/testdata/sf0.01').collect()))
        ok = a == b
        print(name, 'idempotent:', ok, len(a), flush=True)
        if not ok: bad.append(name)
    except Exception as ex:
        print(name, 'ERROR:', repr(ex)[:200], flush=True)
        bad.append(name)
print('BAD:', bad, flush=True)
sys.exit(1 if bad else 0)
