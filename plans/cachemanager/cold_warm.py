"""Cold and warm wall time of registered queries in one session.

    python3 plans/cachemanager/cold_warm.py SF_DIR q_a,q_b,...

Cold: Spark's cache and the session memos are cleared first. Warm: the
same query again right after. Each is the minimum of two runs; the timed
action writes every row to the noop sink.
"""

import os
import sys
import time

sys.path.insert(0, os.getcwd())

from aws_etl_microservice_redshift_datalake_spark import all_queries, get_session
from aws_etl_microservice_redshift_datalake_spark.operators._memo import clear_session_memos

sf, names = sys.argv[1], sys.argv[2].split(",")
spark = get_session("cold-warm", shuffle_partitions=8)
qs = all_queries()


def timed(name: str) -> float:
    t = time.perf_counter()
    qs[name](spark, sf).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


timed("q_pricing_summary")  # JVM and footer warm-up
for name in names:
    cold, warm = [], []
    for _ in range(2):
        spark.catalog.clearCache()
        clear_session_memos(spark)
        cold.append(timed(name))
        warm.append(timed(name))
    print(f"{name} cold={min(cold):.2f} warm={min(warm):.2f}", flush=True)
