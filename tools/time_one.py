"""Time one gate query cold (fresh session), for A/B receipts.
Usage: python tools/time_one.py <key> [sf_dir] [n_reps]"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from obadiah_spark.session import get_spark  # noqa: E402

key = sys.argv[1]
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

spark = get_spark(f"time_{key}")
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e  # noqa: E402

q = e.queries()[key]
print("partitions_env:", os.environ.get("OBADIAH_STREAM_SHUFFLE_PARTITIONS","derived"))
for i in range(reps):
    t0 = time.time()
    n = q(spark, sf).count()
    print(f"rep{i}: {time.time()-t0:.2f}s rows={n}", flush=True)
spark.stop()
