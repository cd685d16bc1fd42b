"""Double-invocation idempotency sweep: every queries() entry runs twice
in one session and must return identical rows -- catches second-invocation
bugs (an on-disk store that the second call reuses) that the oracle sweep
cannot see. Writes per-entry lines + a final "BAD: [...]" to stdout.
Usage: python3 tools/idempotency_check.py"""
import os, sys
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO); sys.path.insert(0, REPO)
import __spark_entry__ as e
from scipi_spark.session import get_spark
spark = get_spark(app_name='scipi-spark-idempotency-check')
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
