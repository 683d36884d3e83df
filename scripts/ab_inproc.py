"""Within-JVM interleaved A/B of two code paths, by wall, CPU and codegen.

Usage:
  python scripts/ab_inproc.py swap MODULE:FUNC FILE.py:FUNC NAMES [PAIRS] [SF_DIR]
  python scripts/ab_inproc.py swap MODULE:Class.method FILE.py:FUNC NAMES [PAIRS] [SF_DIR]

``NAMES`` is a comma-separated list of registry queries; ``SF_DIR``
defaults to ``$SPARK_GRAFT_SF_DIR``, and the warm-up runs at the
``sf0.001`` directory beside it.

Arm A runs the engine as it is; arm B replaces the attribute ``FUNC``
of module ``MODULE`` with function ``FUNC`` loaded from ``FILE.py``.
Callers that look the function up through its module
(``similarity.ivf_train(...)``, or a bare call inside that module) see
the replacement, so an A/B needs no engine knob. Either ``FUNC`` may be
a dotted ``Class.method`` (say ``CdcApplyPipeline._apply_batch_inner``):
swapping it on the class makes every instance run arm B, including ones
a query builds. Static Spark confs and JVM flags cannot change inside
one JVM; ``scripts/ab_bench.py`` A/Bs those across fresh processes.

Each query runs as alternating A/B pairs inside ONE session (order
A B B A A B ...), timing fn+count with the bench's warm-up/cache-clear
discipline. Because both arms share the JVM, codegen cache, and the
VM's minute-scale weather, the pairwise deltas are far tighter than
fresh-JVM draws. Per arm it reports the median wall seconds, CPU
seconds of this Python driver plus its JVM (perfbench's ``cpu_s``, the
measure behind ``op_cpu_s``), and generated classes compiled (Spark's
``CodegenMetrics`` compilation count); ratios are B/A.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from milvus_cdc_spark import suite  # noqa: E402
from milvus_cdc_spark.session import get_spark  # noqa: E402
from perfbench.workloads import cpu_s  # noqa: E402


def compiles(spark) -> int:
    """Generated classes compiled so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _owner(root, dotted: str) -> tuple[object, str]:
    """``(object holding the last name, last name)`` of a dotted path
    under ``root``: ``Class.method`` -> ``(Class, "method")``."""
    *outer, name = dotted.split(".")
    for part in outer:
        root = getattr(root, part)
    return root, name


def swap_arms(target: str, replacement: str) -> dict:
    mod_name, _, attr = target.partition(":")
    path, _, fn_name = replacement.partition(":")
    spec = importlib.util.spec_from_file_location("_ab_replacement", path)
    repl_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(repl_mod)
    owner, name = _owner(importlib.import_module(mod_name), attr)
    repl_owner, repl_name = _owner(repl_mod, fn_name)
    # vars(), not getattr(): a class keeps its raw function (or
    # staticmethod) so restoring arm A puts back exactly what was there
    original, swapped = vars(owner)[name], vars(repl_owner)[repl_name]
    return {
        "a": lambda: setattr(owner, name, original),
        "b": lambda: setattr(owner, name, swapped),
    }


def main() -> None:
    if sys.argv[1:2] != ["swap"] or len(sys.argv) < 5:
        sys.exit(__doc__)
    arms = swap_arms(*sys.argv[2:4])
    rest = sys.argv[4:]
    names = rest[0].split(",")
    pairs = int(rest[1]) if len(rest) > 1 else 5
    sf_dir = rest[2] if len(rest) > 2 else os.environ["SPARK_GRAFT_SF_DIR"]
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")

    spark = get_spark("ab_inproc")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    def run(name: str, sf: str) -> tuple[float, float, int]:
        c, n, t0 = cpu_s(spark), compiles(spark), time.time()
        suite.QUERIES[name].fn(spark, sf).count()
        sample = (time.time() - t0, cpu_s(spark) - c, compiles(spark) - n)
        spark.catalog.clearCache()
        return sample

    for name in names:
        # warm both arms (codegen for both plan shapes)
        for arm in ("a", "b"):
            arms[arm]()
            try:
                run(name, warm_dir)
            except Exception as e:
                print(f"{name} warm-up failed: {e!r}", file=sys.stderr)
        samples = {"a": [], "b": []}
        for p in range(pairs):
            for arm in ("ab" if p % 2 == 0 else "ba"):
                arms[arm]()
                samples[arm].append(run(name, sf_dir))
        arms["a"]()
        med = {
            arm: [statistics.median(col) for col in zip(*s)]
            for arm, s in samples.items()
        }
        (wa, ca, na), (wb, cb, nb) = med["a"], med["b"]
        print(
            f"{name}: wall A={wa:.3f} B={wb:.3f} ratio={wb / wa:.3f}  "
            f"cpu A={ca:.3f} B={cb:.3f} ratio={cb / ca:.3f}  "
            f"compiles A={na:g} B={nb:g}"
        )
        for arm, s in samples.items():
            walls, cpus, comps = zip(*s)
            print(
                f"  {arm}: wall={['%.2f' % t for t in walls]} "
                f"cpu={['%.2f' % t for t in cpus]} compiles={list(comps)}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
