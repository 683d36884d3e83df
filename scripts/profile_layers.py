"""Layered profile of registry queries: construction, Catalyst, execution.

Usage: python scripts/profile_layers.py NAME[,NAME...] [SF_DIR]

``SF_DIR`` defaults to ``$SPARK_GRAFT_SF_DIR``; each query is warmed up
at the ``sf0.001`` directory beside it. As in perfbench's
``analytics_mix``, the query is built (``spec.fn``, with any eager jobs
it fires) and fetched (``toPandas``) inside ``perfbench.tracing`` spans
that count the Spark jobs, stages, tasks, executor time and bytes; the
execute layer adds Catalyst phase times. One JSON line per query gives
each layer's wall and CPU seconds (driver plus JVM) and those counters.
CDC batch phases: ``perfbench/run.py --workload cdc_bulk_drain --trace 1``.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from milvus_cdc_spark import suite  # noqa: E402
from milvus_cdc_spark.session import get_spark  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import cpu_s  # noqa: E402


def layer(span) -> dict:
    return {k: round(v, 4) for k, v in {"wall_s": span.duration, **span.counters}.items()}


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ["SPARK_GRAFT_SF_DIR"]
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    spark = get_spark("profile_layers")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(True, "profile_layers")
    tracer.spark = spark
    for name in sys.argv[1].split(","):
        spec = suite.QUERIES[name]
        spec.fn(spark, warm_dir).toPandas()
        spark.catalog.clearCache()
        with tracer.span(f"suite.{name}.construct", spark=True) as built:
            c = cpu_s(spark)
            df = spec.fn(spark, sf_dir)
            built.set(cpu_s=cpu_s(spark) - c)
        with tracer.span(f"suite.{name}.execute", spark=True) as fetched:
            c = cpu_s(spark)
            rows = len(df.toPandas())
            fetched.set(cpu_s=cpu_s(spark) - c)
        tracer.catalyst(fetched, df)
        spark.catalog.clearCache()
        print(json.dumps({"query": name, "rows": rows, "construct": layer(built),
                          "execute": layer(fetched)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
