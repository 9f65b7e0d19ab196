"""Mimic the driver: plain session, import __spark_entry__, smoke + oracle compare.

Runs from any working directory. PARITY_SF_DIR picks the fixtures
(default sf0.01), PARITY_ONLY=a,b checks only the named queries, and
PARITY_OUT writes every row of a full run as JSON."""
import os, sys
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))
# the Python workers inherit this from the JVM, which inherits it from us
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
from pyspark.errors import PythonException
from pyspark.sql import SparkSession
from parity_core import compare, duck_connection  # the shared checker (mutation-tested)

spark = SparkSession.builder.master("local[8]").appName("driver-mimic").getOrCreate()  # NO special configs
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

df = E.entry(spark)
rows = df.collect()
print("entry rows:", len(rows), "schema:", df.schema.simpleString()[:120])
assert len(rows) > 0

qs, osql = E.queries(), E.oracle_sql()
print("declared:", len(qs), "with oracle:", len(osql))

sf = __import__("os").environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")
con = duck_connection(sf)
# cap oracle spill so one runaway plan degrades to a per-query err row
# instead of filling the disk and killing every query after it (the
# r14 sf1 lesson); harmless at the driver's sf0.01
con.execute("SET max_temp_directory_size='40GiB'")

only = __import__("os").environ.get("PARITY_ONLY")
names = sorted(qs) if not only else [n for n in sorted(qs) if n in set(only.split(","))]
ok = bad = 0
results = {}
for name in names:
    try:
        spdf = qs[name](spark, sf).toPandas()
        if name not in osql:
            print(f"  {name}: rows-only, {len(spdf)} rows")
            results[name] = {"rows_match": None, "schema_match": None, "hash_match": None,
                             "spark_rows": len(spdf), "oracle_rows": None, "err": "no_oracle"}
            continue
        dpdf = con.execute(osql[name]).df()
    except Exception as e:  # noqa: BLE001 — an err row, like the driver records
        bad += 1
        lines = [l.strip() for l in str(e).splitlines() if l.strip()] or [""]
        # a worker's PythonException opens with a banner and ends with the
        # worker's own exception line; Spark's own errors lead with theirs
        line = lines[-1] if isinstance(e, PythonException) else lines[0]
        msg = f"{type(e).__name__}: {line}"[:300]
        print(f"  {name}: ERR {msg}")
        results[name] = {"rows_match": None, "schema_match": None, "hash_match": False,
                         "spark_rows": None, "oracle_rows": None, "err": msg}
        continue
    row = compare(spdf, dpdf)
    status = "MATCH" if row["hash_match"] else "MISMATCH"
    ok += row["hash_match"]; bad += not row["hash_match"]
    print(f"  {name}: {status} ({len(spdf)} rows)")
    results[name] = row
print(f"hash-match {ok}, mismatch {bad}")
# full-coverage artifact in the driver's CORRECTNESS format (the driver's
# own artifact caps at 50 entries; this records every query, same check)
out = __import__("os").environ.get("PARITY_OUT")
if out and not only:
    import json
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print("wrote", out)
spark.stop()
sys.exit(1 if bad else 0)
