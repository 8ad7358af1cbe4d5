"""Profile ONE streaming registry query's drain: perfbench's
``BatchListener`` collects the progress record of every micro-batch the
query runs, and each batch's trigger, addBatch, WAL and state-commit
times are printed per run — guide §1: find where the wall time actually
goes before touching anything.  Usage:

    python tools/prof_stream_progress.py streaming_ewma_events

For the ``lag_batch`` drain, ``perfbench/run.py --trace 1`` reports the
same records as ``microbatch_*`` and ``stream.state_commit_ms``.
"""

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from perfbench.probes import BatchListener  # noqa: E402
from time_sift_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    name = sys.argv[1]
    spark = get_spark("prof_stream",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    from time_sift_spark.queries import REGISTRY

    for run in range(2):
        listener = BatchListener()
        spark.streams.addListener(listener)
        t0 = time.perf_counter()
        REGISTRY[name].spark_fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        # progress events reach the listener asynchronously
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)
        print(f"run {run}: wall {wall:.2f}s, {len(listener.batches)} batches")
        for rec in listener.batches:
            print("  " + ", ".join(f"{k}={v}" for k, v in rec.items()))


if __name__ == "__main__":
    main()
