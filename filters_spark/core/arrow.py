"""Arrow pandas-kernel plumbing — the fenced "Python-only" path.

A handful of reference semantics have no JVM equivalent (NFC
normalisation, ``str.casefold``, codepoint-safe byte truncation, TOML,
``dateutil`` fuzzy parsing, IPv6 canonicalisation — see SURVEY.md §4.3).
Those compile to **one Arrow-batched pandas UDF per step** returning a
``struct<value, code>``; everything else stays in whole-stage codegen.

Never row-at-a-time Python UDFs: all kernels are ``pandas_udf`` (Arrow
batch transfer).  :func:`call_kernel` binds each kernel call like any
compiled value (:meth:`Ctx.bind <filters_spark.core.spec.Ctx.bind>`), so
the compiler materialises it once per chain and it is evaluated exactly
once per batch.  A kernel in the element chain of a ``FilterRepeater``
is bound outside the lambda and runs once over all elements of the
row's array, as one array-in / array-out UDF whose element the lambda
reads by index.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from filters_spark.core.spec import CODE_EXCEPTION, CompileError, _transform


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


def call_kernel(
    ctx,
    tag: str,
    batch_fn: Callable[[pd.Series], pd.DataFrame],
    value_type: T.DataType,
    arg: Column,
) -> tuple[Column, dict[str, Column]]:
    """One Arrow kernel call of a compiled step, bound by
    :meth:`Ctx.bind <filters_spark.core.spec.Ctx.bind>`: ``(res, pre)``,
    where ``pre`` (the step's ``pre``) materialises the kernel as a temp
    column and ``res`` is the ``struct<value, code>`` the step reads.

    A kernel never runs inside a ``FilterRepeater`` lambda.  Inside one
    (``ctx.elements``) the temp column is bound outside it: ONE array-in /
    array-out UDF over every element's ``arg``, of which ``res`` reads the
    lambda's index, so the repeater stays one projection.  Two lambdas
    deep its input would read the outer lambda's variable outside that
    lambda, a :class:`CompileError`.
    """
    schema = kernel_schema(value_type)
    if not ctx.elements:

        @pandas_udf(schema)
        def k(s: pd.Series) -> pd.DataFrame:
            return batch_fn(s)

        return ctx.bind(tag, k(arg))
    if len(ctx.elements) > 1:
        raise CompileError(
            "a FilterRepeater whose element chain needs an Arrow kernel "
            "cannot run inside another FilterRepeater"
        )

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

    # bound at the top of the chain, outside the lambda
    lambdas, ctx.elements = ctx.elements, []
    ((array, variables),) = lambdas
    try:
        res, pre = ctx.bind(tag, ks(_transform(array, arg, variables)))
    finally:
        ctx.elements = lambdas
    return res[variables[1]], pre
