"""Explode route of ``FilterRepeater``: element chains that need Arrow
kernels (SURVEY.md §2.7, FilterRepeater general path).

``FilterRepeater`` compiles to ``F.transform`` lambdas — pure JVM, the
fast path — but Python UDFs cannot run inside higher-order-function
lambdas, so a repeater whose element chain contains Arrow kernels
(``Unicode``, ``CaseFold``, ``MaxBytes`` truncation, ...) validates its
column here, with one core for arrays and maps.  ``FilterRepeater.compile``
returns such a repeater as a step whose DataFrame rewrite
(``Step.rewrite``) calls :func:`explode_repeater`; the chain fold of
``validate`` / ``attach_chain`` runs it in its place in the rule chain.
:func:`explode_validate` calls it directly.  The route:

    posexplode_outer of the elements (an array as it is, a map through
    ``map_entries``) carrying the row payload → the repeater's own
    per-element rule (``FilterRepeater.element_key`` / ``element``: the
    element key and ``restrict_keys``), its kernels materialised once
    (ONE Arrow batch pass over all elements of all rows) → one hash
    aggregation keyed by a synthetic row id that collects the element
    results and orders them by position → ``FilterRepeater.assemble``
    (an ordered array, or ``map_from_entries``).

So the cleaned values and the violations — ordered by position, a
map's ``unexpected`` keys after the entries' own violations — are the
ones the lambda route gives.

Single-lineage, single-pass: the row's other columns ride through the
explode as ONE conditional struct (built only on the first exploded row
of each input row) and come back via a map-side-combined ``first()`` in
the same aggregation that rebuilds the column — so there is no
self-join and no persist.  The synthetic ``monotonically_increasing_id``
row id is produced and consumed inside one plan branch, which removes
the cross-branch id-mismatch hazard a join design would have; what it
does NOT remove (ADVICE r2) is the retry sensitivity inherited from
nondeterministic expressions: if the INPUT lineage is itself
order-nondeterministic (reads an upstream shuffle, ``coalesce`` over a
race-y union, ...), a shuffle-fetch-failure retry may regenerate
different ids for recomputed map tasks and split/merge rows
incorrectly.  Call sites must hand this route deterministic lineage
(file scans, cached/checkpointed frames — what ``validate`` sees in
practice); persist or ``localCheckpoint`` the input first otherwise.
A second kernel repeater in the same ``validate`` call reads the first
one's aggregation output, so that hazard applies to it.

Scale shape: explode multiplies rows by mean column length inside the
map task only; the shuffle carries one pre-merged row per input row
(partial aggregation collapses elements and payload in-task because a
row's elements are adjacent in the scan partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filters_spark.core.compiler import compile_chain_expr
from filters_spark.core.spec import CompileError, Ctx
from filters_spark.operators.structural import FilterRepeater

_RID = "__fs_rid"


def explode_repeater(
    df: DataFrame,
    col_name: str,
    rep: FilterRepeater,
    *,
    key: str,
    ctx: Ctx,
    out_value: str | None = None,
    out_violations: str | None = None,
) -> tuple[DataFrame, str, str]:
    """Validate the array or map column ``col_name`` with the repeater
    ``rep`` (Arrow kernels allowed in its element chain); returns
    ``(df, value_col, violations_col)`` like ``attach_chain``.  A NULL
    column stays NULL, an empty one empty, both without violations."""
    dtype = df.schema[col_name].dataType
    is_map = isinstance(dtype, T.MapType)
    if not (is_map or isinstance(dtype, T.ArrayType)):
        raise CompileError(
            f"explode_validate needs an array or map column, got {dtype}"
        )
    payload_cols = list(df.columns)
    exploded = df.withColumn(_RID, F.monotonically_increasing_id()).select(
        *payload_cols,
        _RID,
        F.posexplode_outer(
            F.map_entries(col_name) if is_map else F.col(col_name)
        ).alias("__fs_pos", "__fs_e"),
    )
    pos, e = F.col("__fs_pos"), F.col("__fs_e")
    k = e["key"] if is_map else pos
    elem_key = rep.element_key(key, k)
    r = compile_chain_expr(
        rep.chain,
        e["value"] if is_map else e,
        dtype.valueType if is_map else dtype.elementType,
        ctx,
        elem_key,
        allow_pre=True,
    )
    for pname, pcol in r.pre.items():
        exploded = exploded.withColumn(pname, pcol)

    # posexplode_outer emits pos 0 for a row's first element and one row
    # with pos NULL for an empty or NULL column: exactly one exploded row
    # per input row carries the payload, and the pos-NULL row carries no
    # element (collect_list skips its NULL)
    per_elem = exploded.select(
        _RID,
        F.when(pos.isNull() | (pos == 0), F.struct(*payload_cols)).alias(
            "__fs_row"
        ),
        F.when(
            pos.isNotNull(),
            F.struct(pos.alias("p"), *rep.element(r, k, elem_key, is_map)),
        ).alias("__fs_elem"),
    )
    # ordered by position alone, whatever the collect order; comparing
    # whole structs would also fail on unorderable (map) element values
    by_pos = F.array_sort(
        F.collect_list("__fs_elem"),
        lambda a, b: F.signum(a["p"] - b["p"]).cast("int"),
    )
    assembled = per_elem.groupBy(_RID).agg(
        F.first("__fs_row", ignorenulls=True).alias("__fs_row"),
        by_pos.alias("__fs_elems"),
    )
    value, viols = rep.assemble(F.col("__fs_elems"), is_map)
    row = F.col("__fs_row")
    out_value = out_value or ctx.name("cleaned")
    out_violations = out_violations or ctx.name("violset")
    out = assembled.select(
        *[row[c].alias(c) for c in payload_cols],
        F.when(row[col_name].isNotNull(), value).alias(out_value),
        viols.alias(out_violations),
    )
    return out, out_value, out_violations


def explode_validate(
    df: DataFrame,
    col_name: str,
    chain,
    *,
    key: str | None = None,
    ctx: Ctx | None = None,
    out_value: str | None = None,
    out_violations: str | None = None,
) -> tuple[DataFrame, str, str]:
    """Validate every element of an array column (every value of a map
    column) with an arbitrary chain (Arrow kernels allowed): the
    explode route of ``FilterRepeater(chain)``.

    Returns ``(df, value_col, violations_col)`` like ``attach_chain``:
    the cleaned column has invalid elements nulled IN PLACE (reference
    FilterRepeater semantics, complex.py:113-129), violations carry
    ``key.pos`` / ``key.mapkey`` dotted keys (``key`` defaults to the
    column name; under the root key ``""`` the bare index or map key),
    empty columns stay empty, NULL columns pass through as NULL.
    """
    return explode_repeater(
        df,
        col_name,
        FilterRepeater(chain),
        key=col_name if key is None else key,
        ctx=ctx or Ctx(),
        out_value=out_value,
        out_violations=out_violations,
    )
