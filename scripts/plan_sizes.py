"""Plan size of every golden chain under ``attach_chain``.

Starts one local SparkSession, then for every scalar and nested golden
chain id (``tests/test_goldens.py``) builds the chain over a frame of
its golden inputs and prints one row:

    build_s    seconds to compile the chain (``attach_chain``)
    analyse_s  seconds to analyse the resulting plan
    optimise_s seconds to optimise it
    analysed   bytes of the analysed plan string
    optimised  bytes of the optimised plan string

A chain whose plan string grows faster than its steps shows here first:
the sizes should stay in the kilobytes, and a megabyte-sized plan means
some expression is repeated inside another instead of being bound once.

    PYTHONPATH=. python scripts/plan_sizes.py [CHAIN_ID ...]

With chain ids, only those are measured (``nested:`` / ``scalar:``
prefixes are optional).  Nothing is collected, so no job runs.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from filters_spark.core.compiler import attach_chain  # noqa: E402
from filters_spark.session import get_spark  # noqa: E402
from tests.golden_utils import decode, load_goldens  # noqa: E402
from tests.test_goldens import NESTED_SPEC_CHAINS, SPEC_CHAINS  # noqa: E402


def _chains():
    for group, chains in (("scalar", SPEC_CHAINS), ("nested", NESTED_SPEC_CHAINS)):
        goldens = load_goldens(group)
        for chain_id in sorted(chains):
            yield f"{group}:{chain_id}", chains[chain_id], goldens[chain_id]


def measure(spark, chain, golden) -> dict:
    inputs = [decode(c["input"]) for c in golden["cases"]]
    df = spark.createDataFrame(
        list(enumerate(inputs)), f"case_idx int, v {golden['input_type']}"
    )
    t0 = time.perf_counter()
    out, _, _ = attach_chain(df, "v", chain(), key="")
    t1 = time.perf_counter()
    qe = out._jdf.queryExecution()
    analysed = len(qe.analyzed().toString().encode())
    t2 = time.perf_counter()
    optimised = len(qe.optimizedPlan().toString().encode())
    t3 = time.perf_counter()
    return {
        "build_s": t1 - t0,
        "analyse_s": t2 - t1,
        "optimise_s": t3 - t2,
        "analysed": analysed,
        "optimised": optimised,
    }


def main(argv: list[str]) -> None:
    wanted = set(argv)
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    print(f"{'chain':32} {'build_s':>8} {'analyse_s':>9} {'optimise_s':>10} "
          f"{'analysed':>12} {'optimised':>12}")
    for name, chain, golden in _chains():
        if wanted and name not in wanted and name.split(":")[1] not in wanted:
            continue
        m = measure(spark, chain, golden)
        print(f"{name:32} {m['build_s']:8.2f} {m['analyse_s']:9.2f} "
              f"{m['optimise_s']:10.2f} {m['analysed']:12,} "
              f"{m['optimised']:12,}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
