"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin on the
same sf dir, compare row count, column names, and order-insensitive
values.  Usage::

    PYTHONPATH=/root/repo python scripts/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalise(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, float):
            # exact: the driver's value-hash may be byte-strict; any
            # query whose doubles differ at ulp level must be caught here
            return repr(v)
        return str(v)

    out = df.map(canon)
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(spark, con, sf_dir: str, name: str) -> tuple[int, list[str]]:
    """Run registry query ``name`` on Spark and its oracle on ``con``
    over ``sf_dir``; returns ``(spark row count, problems)``, where an
    empty ``problems`` means row count, column names and
    order-insensitive values all match.  A query without an oracle
    only has to run."""
    import __spark_entry__ as e

    try:
        sdf = e.queries()[name](spark, sf_dir).toPandas()
    except Exception as ex:
        return 0, [f"spark error: {ex}"]
    oracle = e.oracle_sql().get(name)
    if oracle is None:
        return len(sdf), []
    try:
        odf = con.sql(oracle).df()
    except Exception as ex:
        return len(sdf), [f"oracle error: {ex}"]
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(
            f"schema {sorted(sdf.columns)} vs {sorted(odf.columns)}"
        )
    if not problems:
        a, b = normalise(sdf), normalise(odf)
        if not a.equals(b):
            diff = (a != b).any(axis=1)
            idx = diff[diff].index[:3]
            problems.append(
                "values differ, first rows:\n"
                + "\n".join(
                    f"  spark={a.loc[i].to_dict()}\n  duck ={b.loc[i].to_dict()}"
                    for i in idx
                )
            )
    return len(sdf), problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # self-join-heavy queries (jaccard/LSH) at sf0.1 overflow the 1g
        # default heap; the driver's own harness also runs with headroom
        .config("spark.driver.memory", "16g")
        .appName("check_oracles")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = connect(sf_dir)

    import __spark_entry__ as e

    oracles = e.oracle_sql()
    failures = []
    for name in e.queries():
        if only and name not in only:
            continue
        t0 = time.time()
        n, problems = compare(spark, con, sf_dir, name)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        elif name not in oracles:
            print(f"ok   {name}: rows-only ({n} rows, "
                  f"{time.time()-t0:.1f}s)")
        else:
            print(f"ok   {name}: {n} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
