"""Driver-contract verification: entry() smoke + every queries() entry
vs its oracle_sql() at sf0.01, with the driver-exact compare
(column-name-sorted values AND the pandas dtype-kind audit that catches
the DuckDB HUGEINT -> float64 hash-mismatch class).

Usage (fresh process, any cwd):
  python3 tools/full_verify.py                  # entry() smoke + every entry
  python3 tools/full_verify.py name1 [name2 ...]  # only the named entries
Env:   SPARK_GRAFT_VERIFY_SF (default /root/testdata/sf0.01)
Writes per-entry lines + a final "FAILS: [...]" to stdout.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

import __spark_entry__ as e  # noqa: E402
from scipi_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="scipi-spark-full-verify")
spark.sparkContext.setLogLevel("ERROR")

qs, osql = e.queries(), e.oracle_sql()
names = sys.argv[1:]
if not names:
    names = list(qs)
    df = e.entry(spark)
    print("entry rows:", len(df.collect()), df.schema.simpleString(), flush=True)

import duckdb  # noqa: E402

from oracle import TABLES, _dtype_kind_audit  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
    )

fails = []
for name in names:
    if name not in qs:
        print(name, "ERROR: not in registry", flush=True)
        fails.append(name)
        continue
    try:
        sdf = qs[name](spark, SF_DIR)
        if name not in osql:
            print(name, "rows-only:", len(sdf.collect()), flush=True)
            continue
        duck_pdf = con.execute(osql[name]).df()
        _dtype_kind_audit(sdf, duck_pdf)
        srows = sorted(
            [
                tuple(sorted(zip(sdf.columns, r), key=lambda kv: kv[0]))
                for r in map(tuple, sdf.collect())
            ],
            key=str,
        )
        dcols = [d[0] for d in con.execute(osql[name]).description]
        drows = sorted(
            [
                tuple(sorted(zip(dcols, r), key=lambda kv: kv[0]))
                for r in con.execute(osql[name]).fetchall()
            ],
            key=str,
        )
        ok = srows == drows
        print(name, "match:", ok, len(srows), flush=True)
        if not ok:
            fails.append(name)
    except Exception as ex:  # noqa: BLE001 - report and continue
        print(name, "ERROR:", repr(ex)[:300], flush=True)
        fails.append(name)
print("FAILS:", fails, flush=True)
sys.exit(1 if fails else 0)
