"""Arrow pandas-kernel plumbing — the fenced "Python-only" path.

A handful of reference semantics have no JVM equivalent (NFC
normalisation, ``str.casefold``, codepoint-safe byte truncation, TOML,
``dateutil`` fuzzy parsing, IPv6 canonicalisation — see SURVEY.md §4.3).
Those compile to **one Arrow-batched pandas UDF per step** returning a
``struct<value, code>``; everything else stays in whole-stage codegen.

Never row-at-a-time Python UDFs: all kernels are ``pandas_udf`` (Arrow
batch transfer), and the compiler materialises each kernel call once per
chain so it is evaluated exactly once per batch.  A kernel in the
element chain of a ``FilterRepeater`` runs once over all elements of
the row's array: :func:`call_kernel` turns it into one array-in /
array-out UDF, and the repeater's lambda reads its element by index.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql.classic.column import _to_seq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from filters_spark.core.spec import CODE_EXCEPTION


def kernel_schema(value_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("value", value_type),
            T.StructField("code", T.StringType()),
        ]
    )


def _is_null(x) -> bool:
    if x is None:
        return True
    try:
        return bool(pd.isna(x))
    except (TypeError, ValueError):
        return False


def elementwise(f: Callable):
    """Lift a scalar function ``x -> (value, code|None)`` into a batch
    function ``pd.Series -> pd.DataFrame{value, code}``.

    Nulls skip the function entirely (the None-passes rule,
    ``base.py:226-233``); exceptions become the ``exception`` code
    (``base.py:71-73`` catch-all).
    """

    def run(s: pd.Series) -> pd.DataFrame:
        vals, codes = [], []
        append_v, append_c = vals.append, codes.append
        for x in s:
            if _is_null(x):
                append_v(None)
                append_c(None)
                continue
            try:
                v, c = f(x)
            except Exception:  # noqa: BLE001 — mirrors apply()'s catch-all
                v, c = None, CODE_EXCEPTION
            append_v(v)
            append_c(c)
        return pd.DataFrame({"value": vals, "code": codes})

    return run


def _transform(array: Column, body: Column, variables: tuple) -> Column:
    """``transform(array, (x, i) -> body)`` over the lambda variables of
    an enclosing ``F.transform`` call, so that ``body`` — built inside
    that call — evaluates the same per element here."""
    sc = SparkContext._active_spark_context
    utils = sc._jvm.PythonSQLUtils
    fn = utils.lambdaFunction(body._jc, _to_seq(sc, [v._jc for v in variables]))
    return Column(utils.fn("transform", _to_seq(sc, [array._jc, fn])))


def call_kernel(
    ctx,
    tag: str,
    batch_fn: Callable[[pd.Series], pd.DataFrame],
    value_type: T.DataType,
    arg: Column,
) -> tuple[Column, dict[str, Column]]:
    """One Arrow kernel call of a compiled step: ``(res, pre)``, where
    ``pre`` (the step's ``pre``) materialises the kernel as a temp
    column and ``res`` is the ``struct<value, code>`` the step reads.

    Inside a ``FilterRepeater`` lambda (``ctx.elements``) the temp column
    is ONE array-in / array-out UDF over every element's ``arg``, and
    ``res`` is its element at the lambda's index: the kernel never runs
    inside the lambda, and the repeater stays one projection.
    """
    name = ctx.name(tag)
    schema = kernel_schema(value_type)
    if not ctx.elements:

        @pandas_udf(schema)
        def k(s: pd.Series) -> pd.DataFrame:
            return batch_fn(s)

        return F.col(name), {name: k(arg)}
    array, variables = ctx.elements[-1]

    @pandas_udf(T.ArrayType(schema))
    def ks(s: pd.Series) -> pd.Series:
        # batch_fn over all elements of the batch's arrays in one call,
        # then each array its elements' records (a NULL array NULL)
        flat = [x for xs in s if xs is not None for x in xs]
        res = batch_fn(pd.Series(flat, dtype=None if flat else object))
        # NaN / NaT are NULL, as Arrow reads them in a batch_fn's frame
        vals, codes = (
            res[c].astype(object).where(res[c].notna(), None).tolist()
            for c in ("value", "code")
        )
        records = [{"value": v, "code": c} for v, c in zip(vals, codes)]
        out, at = [], 0
        for xs in s:
            out.append(None if xs is None else records[at : at + len(xs)])
            at += 0 if xs is None else len(xs)
        return pd.Series(out, dtype=object)

    return F.col(name)[variables[1]], {name: ks(_transform(array, arg, variables))}
