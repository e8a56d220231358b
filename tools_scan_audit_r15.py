"""r15 scale audit: for every bench query, execute once (noop sink) and
count 'Scan parquet' in the AQE FINAL plan — a corpus re-scanned N times
in one plan is masked at fixture scale and fatal at 100 TB (the
events_anomaly_mad finding generalized). Streaming queries are skipped
(their plan is per-microbatch). Usage: python tools_scan_audit_r15.py"""
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
os.chdir(ROOT)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[32]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
q = e.queries()
SF = "/root/testdata/sf0.1"
SKIP = {"stream_tumbling_hourly", "stream_session_windows",
        "dedup_semantic_stream_ingest"}
out = {}


# a plan line's node name: the first word after the tree glyphs and an
# optional whole-stage-codegen "*(n) " prefix
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)\b", re.M)


def nodes(plan: str, name: str) -> int:
    """Plan nodes named exactly ``name``: Exchange matches neither
    ReusedExchange nor BroadcastExchange, nor the Exchange that a
    ReusedExchange line names as its source."""
    return sum(1 for m in _NODE.finditer(plan) if m.group(1) == name)


names = [n for n in json.load(open("plans/r15/BENCH_r15_head_run1.json"))["queries"] if n not in SKIP]
for name in names:
    try:
        df = q[name](spark, SF)
        df.write.format("noop").mode("overwrite").save()
        s = df._jdf.queryExecution().executedPlan().toString()
        out[name] = {"scan_parquet": s.count("Scan parquet"),
                     "reused_exchange": nodes(s, "ReusedExchange"),
                     "exchanges": nodes(s, "Exchange"),
                     "existing_rdd": s.count("Scan ExistingRDD")}
        print(f"{name}: scans={out[name]['scan_parquet']} reuse={out[name]['reused_exchange']} exch={out[name]['exchanges']} rdd={out[name]['existing_rdd']}", flush=True)
    except Exception as ex:
        print(f"{name}: ERR {str(ex)[:120]}", flush=True)
json.dump(out, open("plans/r15/SCAN_AUDIT_r15.json", "w"), indent=1)
spark.stop()
