"""Chain compiler: spec tree → Spark columns.

Compiles a :class:`~filters_spark.core.spec.Chain` into a cleaned value, an
error mask and one *fired* mask, folding the steps in order:

- ``value_i = (err_{i-1} OR null-pass) ? NULL : step_i.value``
- ``err_i   = err_{i-1} OR step_i.invalid``   (first-error short-circuit,
  mirroring ``FilterChain._apply`` at ``src/filters/base.py:462-473``)
- ``fired   = OR_i (NOT err_{i-1} AND fires_i)``, where ``fires_i`` is the
  OR of step ``i``'s null-guarded violation conditions, or, for a
  structural step that emits a ready ``violations_array``, its
  ``invalid`` (then the term is ``err_i AND NOT err_{i-1}``, read off the
  bound masks)

The violations are built once per chain, and only where the fired mask
is set: ``fired ? concat(part_1, …, part_n) : []``, where ``part_i`` is
step ``i``'s violations gated on ``NOT err_{i-1}`` (only the first
failing filter reports, like the reference's break-on-error), built as a
``concat`` of one-element arrays so that no ``ArrayFilter`` (a codegen
fallback) leaves the projection outside whole-stage codegen.  Valid
rows — almost all of them in practice — evaluate the masks and the value
only, never an ``array<struct>``; :func:`validate` derives ``_is_valid``
from the fired masks alone.

The mask is a *data dependency*, so Catalyst cannot reorder steps in a way
that changes semantics, while still fusing the whole chain into one
whole-stage-codegen projection (plus at most a few ArrowEvalPython stages
for pandas kernels).

There is one fold (:func:`_fold`), and one way to bind a value in it:
:meth:`Ctx.bind <filters_spark.core.spec.Ctx.bind>`.  Each step's value
and error mask (and a structural step's violation array) are bound once,
so later steps read column references and the plan grows linearly with
the steps, and the violations are guarded by the fired mask.  A binding
is a temp column: at the top of a chain the value itself, inside
``FilterRepeater`` lambdas the value per element (one ``transform`` per
enclosing lambda) read by the lambdas' indices.  Steps bind their own
intermediates (an Arrow kernel's output, a numeric coercion's normalised
string and cast) the same way and hand them over in ``Step.pre``.  The
fold returns every binding in order in ``ChainResult.pre``:

- :func:`attach_chain` — DataFrame-level; materialises them as temp
  columns before the chain's output (Catalyst collapses the stacked
  projections).  :func:`validate` compiles every rule through it.
- :func:`compile_chain_expr` — expression-level, for the chains nested
  in structural combinators (``FilterMapper`` / ``FilterSwitch`` fields,
  a ``FilterRepeater``'s elements); the combinator passes them up as its
  step's ``pre``.  So every chain, nested or not, is one projection.

The chain's key passes unchanged to every step: a column name (``""`` at
the root), or a Column inside a ``FilterRepeater`` lambda, from which
structural steps build their children's dotted keys.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filters_spark.core.spec import (
    BaseSpec,
    Chain,
    CompileError,
    Ctx,
    _empty_viols,
    as_chain,
    null_of,
)

def _any(masks: list[Column]) -> Column:
    return functools.reduce(operator.or_, masks) if masks else F.lit(False)


def _step_violations(step, err: Column, value: Column, key):
    """``(fires, part)`` for one step, or ``None`` if it never reports.

    ``fires`` is True where the step reports a violation, ignoring the
    chain's earlier errors — ``None`` for a structural step, whose error
    mask the fold reads off ``part``; ``part`` is the array of violation
    structs it reports, already empty where ``err`` (an earlier step
    failed) is set.
    """
    if step.violations_array is not None:
        arr = step.violations_array
        if not step.handles_null:
            arr = F.when(value.isNull(), _empty_viols()).otherwise(arr)
        part = F.when(err, _empty_viols()).otherwise(
            F.coalesce(arr, _empty_viols())
        )
        return None, part
    conds = []
    for v in step.violations:
        cond = F.coalesce(v.cond, F.lit(False))
        if not step.handles_null:
            cond = value.isNotNull() & cond
        conds.append(cond)
    if not conds:
        return None
    # a concat of one-element arrays, not filter(array(when…)):
    # ArrayFilter is a CodegenFallback and keeps its whole projection out
    # of whole-stage codegen
    singles = [
        F.when(~err & c, F.array(make_violation_col(key, v))).otherwise(
            _empty_viols()
        )
        for c, v in zip(conds, step.violations)
    ]
    return _any(conds), singles[0] if len(singles) == 1 else F.concat(*singles)


def make_violation_col(key, v) -> Column:
    # root key "" mirrors the reference's top-level error key
    # (src/filters/pytest.py:81-82: bare codes ≡ key "")
    if isinstance(key, str) and key == "":
        key_col = v.key_suffix if v.key_suffix is not None else F.lit("")
    else:
        key_col = key if isinstance(key, Column) else F.lit(key)
        if v.key_suffix is not None:
            key_col = F.concat_ws(".", key_col, v.key_suffix)
    return F.struct(
        key_col.alias("key"), v.code.alias("code"), v.message.alias("message")
    )


@dataclass
class ChainResult:
    value: Column
    dtype: T.DataType
    violations: Column  # array<struct<key,code,message>>
    #: the chain's bindings (:meth:`Ctx.bind`), to be materialised in
    #: order before ``value``/``violations`` are read
    pre: dict[str, Column]


def _step_invalid(step, value: Column) -> Column:
    if step.invalid is None:
        return F.lit(False)
    inv = F.coalesce(step.invalid, F.lit(False))
    if not step.handles_null:
        inv = value.isNotNull() & inv
    return inv


def _fold(chain, value, dtype, ctx, key):
    """The chain step-fold of both entry points; returns the
    :class:`ChainResult` and the chain's fired mask (True exactly where
    its violations are non-empty)."""
    pre: dict[str, Column] = {}

    def bind(tag, col):
        ref, p = ctx.bind(tag, col)
        pre.update(p)
        return ref

    err = F.lit(False)
    parts: list[Column] = []
    fresh: list[Column] = []  # per step: it reports, no earlier step failed
    partial_possible = False  # True once a keep_value_on_error step ran
    for spec in as_chain(chain).specs:
        step = spec.compile(value, dtype, ctx, key)
        pre.update(step.pre)
        reported = _step_violations(step, err, value, key)
        if step.violations_array is None:
            inv = _step_invalid(step, value)
        else:
            # a structural step's invalid is its array's non-emptiness:
            # build the array once per row and read the mask off it (every
            # use of inv below is ORed with err or taken where err is unset)
            part = bind("viol", reported[1])
            reported, inv = (None, part), F.size(part) > 0
        skip_null = F.lit(False) if step.handles_null else value.isNull()
        # Chain break carries the FAILING step's output forward (the
        # reference's FilterChain._apply, base.py:462-473, breaks and
        # returns the last-applied filter's value — a structural
        # combinator's PARTIAL output, not None).  Scalar steps replace
        # with NULL on error, so the carry is only observable once a
        # keep_value_on_error (structural) step has run; gating on that
        # keeps scalar-only chains on the cheap formula (no extra
        # reference to the previous value expression — measured ~40%
        # chain-throughput cost when applied unconditionally).  When the
        # step changes the column type the frozen value is
        # unrepresentable and degrades to NULL.
        if partial_possible and step.dtype == dtype:
            own_nulled = skip_null if step.keep_value_on_error else (
                skip_null | inv
            )
            own = F.when(own_nulled, null_of(step.dtype)).otherwise(step.value)
            new_value = F.when(err, value).otherwise(own)
        else:
            nulled = err | skip_null if step.keep_value_on_error else (
                err | skip_null | inv
            )
            new_value = F.when(nulled, null_of(step.dtype)).otherwise(step.value)
        new_value, new_err = bind("val", new_value), bind("err", err | inv)
        if reported is not None:
            fires, part = reported
            parts.append(part)
            # a structural step reports exactly where the (bound) error
            # mask turns on
            fresh.append(new_err & ~err if fires is None else ~err & fires)
        value, err, dtype = new_value, new_err, step.dtype
        partial_possible = partial_possible or step.keep_value_on_error
    fired = _any(fresh)
    violations = (
        _empty_viols() if not parts
        else parts[0] if len(parts) == 1
        else F.concat(*parts)
    )
    if parts:
        violations = F.when(fired, violations).otherwise(_empty_viols())
    return ChainResult(value, dtype, violations, pre), fired


def compile_chain_expr(
    chain: BaseSpec | Chain,
    value: Column,
    dtype: T.DataType,
    ctx: Ctx,
    key: str | Column,
) -> ChainResult:
    """Expression-level compile: the chain's value and violations over
    its bindings, which the caller materialises in order from
    ``ChainResult.pre`` (a structural combinator passes them up as its
    step's ``pre``)."""
    return _fold(chain, value, dtype, ctx, key)[0]


def _attach(
    df, col_name, chain, key, ctx,
    out_value=None, out_violations=None, out_fired=None,
):
    """:func:`attach_chain`; also attaches the chain's fired mask as
    ``out_fired`` when that is given."""
    if col_name not in df.columns:
        raise CompileError(f"column {col_name!r} not found in DataFrame")
    r, fired = _fold(
        chain, F.col(col_name), df.schema[col_name].dataType, ctx, key
    )
    # sequential: later bindings read earlier ones
    for name, col in r.pre.items():
        df = df.withColumn(name, col)
    out_value = out_value or ctx.name("cleaned")
    out_violations = out_violations or ctx.name("violset")
    cols = {out_value: r.value, out_violations: r.violations}
    if out_fired is not None:
        cols[out_fired] = fired
    return df.withColumns(cols).drop(*r.pre), out_value, out_violations


def attach_chain(
    df: DataFrame,
    col_name: str,
    chain: BaseSpec | Chain,
    *,
    key: str | None = None,
    out_value: str | None = None,
    out_violations: str | None = None,
    ctx: Ctx | None = None,
) -> tuple[DataFrame, str, str]:
    """Attach a compiled chain to ``df``.

    Returns ``(df, value_col, violations_col)`` where ``value_col`` holds
    the cleaned value (NULL where the chain failed — the reference's
    replacement semantics) and ``violations_col`` an
    ``array<struct<key,code,message>>`` with the first failing filter's
    violations (usually 0 or 1 element; structural combinators may emit
    several).

    Each binding is materialised as a temp column so the expression tree
    stays linear; Catalyst collapses the stacked projections.
    """
    return _attach(
        df, col_name, chain, col_name if key is None else key, ctx or Ctx(),
        out_value, out_violations,
    )


def validate(
    df: DataFrame,
    rules: dict[str, BaseSpec | Chain],
    *,
    violations_col: str = "_violations",
    valid_col: str = "_is_valid",
    replace: bool = True,
) -> DataFrame:
    """Table-level analogue of ``FilterRunner`` (``handlers.py:155-346``).

    Applies one chain per column in a single projection pass.  Output keeps
    every input column; validated columns are replaced by their cleaned
    values (``replace=True``) or kept alongside as ``<col>__cleaned``.
    Adds ``violations_col`` (array of violation structs across all rules,
    first-error-per-chain) and ``valid_col`` (``is_valid`` ≡ no messages,
    ``handlers.py:326-332``).  ``valid_col`` is ``NOT OR(fired masks)``
    over the rules — no violation array is built for it — and
    ``violations_col`` concatenates the rules' arrays only where it is
    false, so valid rows never build one.

    Scale notes: no shuffle — pure projection, whatever the rules;
    Column-expression kernels stay in whole-stage codegen; pandas kernels
    ride Arrow batches, a ``FilterRepeater``'s element kernels as one
    array-in / array-out UDF per kernel over the row's elements.
    """
    ctx = Ctx()
    produced: list[tuple[str, str, str]] = []
    fired: list[Column] = []
    for col_name, chain in rules.items():
        f = ctx.name("fired")
        df, v, w = _attach(df, col_name, chain, col_name, ctx, out_fired=f)
        fired.append(F.col(f))
        produced.append((col_name, v, w))

    invalid = _any(fired)
    viols = (
        F.when(invalid, F.concat(*[F.col(w) for _, _, w in produced]))
        .otherwise(_empty_viols())
        if produced
        else _empty_viols()
    )
    out_cols: list[Column] = []
    for c in df.columns:
        hit = next((p for p in produced if p[0] == c), None)
        if hit and replace:
            out_cols.append(F.col(hit[1]).alias(c))
        elif not c.startswith(ctx.prefix + "_"):
            out_cols.append(F.col(c))
    if not replace:
        for col_name, v, _ in produced:
            out_cols.append(F.col(v).alias(f"{col_name}__cleaned"))
    out_cols.append(viols.alias(violations_col))
    out_cols.append((~invalid).alias(valid_col))
    return df.select(*out_cols)
