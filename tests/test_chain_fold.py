"""Randomized cross-check of the mask-first chain fold.

``validate`` builds each chain's violation array only where the chain's
fired mask is set and derives ``_is_valid`` from the masks alone.  This
file keeps the earlier per-step fold — every step threads
``viols_i = err ? viols : concat(viols, fired_i)`` and ``_is_valid`` is
``size(concat(all chains)) == 0`` — as a reference implementation, and
checks on seeded random chains that both give identical cleaned values,
``_violations`` (order included) and ``_is_valid``.  The reference is
also swapped in for the nested chains of the structural combinators, so
the two sides share no fold code.

A ``FilterRepeater`` compiles, in ``validate``, to one projection: its
element chain's values are bound per element outside the ``F.transform``
lambda and read by index inside it, an Arrow kernel as one array-in /
array-out UDF.  The reference validates every repeater on an
independent route instead: it explodes the column's elements, runs the
element chain over them as rows, and regroups them by a row id.

Numeric coercion (``Int`` / ``Decimal`` over strings, which bind their
normalised text and cast) is cross-checked in the three positions a
chain can take: at the top of a rule, as a ``FilterMapper`` field and as
a ``FilterRepeater``'s element chain.
"""

from __future__ import annotations

import random
from unittest import mock

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import filters_spark as fs
from filters_spark.core.compiler import (
    ChainResult,
    _empty_viols,
    _step_invalid,
    make_violation_col,
)
from filters_spark.core.spec import Chain, CompileError, Ctx, as_chain, null_of

# -- reference: the per-step violation fold ---------------------------------


def _ref_fired(step, err, value, key):
    if step.violations_array is not None:
        arr = step.violations_array
        if not step.handles_null:
            arr = F.when(value.isNull(), _empty_viols()).otherwise(arr)
        return F.when(err, _empty_viols()).otherwise(
            F.coalesce(arr, _empty_viols())
        )
    guards = []
    for v in step.violations:
        cond = F.coalesce(v.cond, F.lit(False))
        if not step.handles_null:
            cond = value.isNotNull() & cond
        guards.append(F.when(~err & cond, make_violation_col(key, v)))
    if not guards:
        return _empty_viols()
    return F.filter(F.array(*guards), lambda x: x.isNotNull())


def _ref_step(step, key, value, dtype, err, viols, partial_possible):
    inv = _step_invalid(step, value)
    fired = _ref_fired(step, err, value, key)
    new_viols = F.when(err, viols).otherwise(F.concat(viols, fired))
    skip_null = F.lit(False) if step.handles_null else value.isNull()
    if partial_possible and step.dtype == dtype:
        own_nulled = skip_null if step.keep_value_on_error else skip_null | inv
        own = F.when(own_nulled, null_of(step.dtype)).otherwise(step.value)
        new_value = F.when(err, value).otherwise(own)
    else:
        nulled = (
            err | skip_null if step.keep_value_on_error
            else err | skip_null | inv
        )
        new_value = F.when(nulled, null_of(step.dtype)).otherwise(step.value)
    return new_value, err | inv, new_viols


def ref_compile_chain_expr(chain, value, dtype, ctx, key):
    err, viols, pre, partial_possible = F.lit(False), _empty_viols(), {}, False
    for spec in as_chain(chain).specs:
        step = spec.compile(value, dtype, ctx, key if isinstance(key, str) else "")
        pre.update(step.pre)
        value, err, viols = _ref_step(
            step, key, value, dtype, err, viols, partial_possible
        )
        dtype = step.dtype
        partial_possible = partial_possible or step.keep_value_on_error
    return ChainResult(value=value, dtype=dtype, violations=viols, pre=pre)


def ref_attach_chain(df, col_name, chain, *, key, ctx):
    value, dtype = F.col(col_name), df.schema[col_name].dataType
    err, viols, temps, partial_possible = F.lit(False), _empty_viols(), [], False
    for spec in as_chain(chain).specs:
        step = spec.compile(value, dtype, ctx, key)
        for pname, pcol in step.pre.items():
            df = df.withColumn(pname, pcol)
        temps.extend(step.pre)
        cols = _ref_step(step, key, value, dtype, err, viols, partial_possible)
        names = [ctx.name("val"), ctx.name("err"), ctx.name("viol")]
        df = df.withColumns(dict(zip(names, cols)))
        temps.extend(names)
        value, err, viols = (F.col(n) for n in names)
        dtype = step.dtype
        partial_possible = partial_possible or step.keep_value_on_error
    v, w = ctx.name("cleaned"), ctx.name("violset")
    return df.withColumns({v: value, w: viols}).drop(*temps), v, w


def _repeater_route(df, col_name, chain):
    """Detect chains the reference validates on the explode route:
    exactly one FilterRepeater, over an array or map.

    The repeater may sit anywhere in the chain (ADVICE r2: composed
    chains like ``Required() | FilterRepeater(Unicode())`` must compose
    like the reference's) — returns ``(prefix_chain, repeater,
    suffix_chain)`` with the surrounding segments (either may be
    ``None``), or ``None`` when the chain has no repeater to explode."""
    from filters_spark.operators.structural import FilterRepeater

    specs = as_chain(chain).specs
    reps = [i for i, s in enumerate(specs) if isinstance(s, FilterRepeater)]
    if len(reps) != 1 or col_name not in df.columns:
        return None
    if df.isStreaming:
        # the explode path re-assembles via a grouped aggregation, which
        # a streaming plan cannot host in append mode
        return None
    i = reps[0]
    # thread the dtype through the prefix segment (presence/structural
    # steps may change it); any prefix compile error surfaces later via
    # the normal path, so bail quietly here
    dtype = df.schema[col_name].dataType
    probe = Ctx(prefix="__probe")
    value = F.col(col_name)
    try:
        for s in specs[:i]:
            st = s.compile(value, dtype, probe, col_name)
            value, dtype = st.value, st.dtype
    except CompileError:
        return None
    if not isinstance(dtype, (T.ArrayType, T.MapType)):
        return None
    prefix = Chain(specs[:i]) if i else None
    suffix = Chain(specs[i + 1 :]) if i + 1 < len(specs) else None
    return prefix, specs[i], suffix


_RID = "__fs_rid"


def ref_explode_repeater(df, col_name, rep, *, key, ctx):
    """Validate the array or map column ``col_name`` with the repeater
    ``rep`` (Arrow kernels allowed in its element chain) on the explode
    route; returns ``(df, value_col, violations_col)`` like
    ``attach_chain``.

    posexplode_outer of the elements (an array as it is, a map through
    ``map_entries``) carrying the row as one payload struct → the
    repeater's own per-element rule (``FilterRepeater.element_key`` /
    ``element``), its kernels materialised over the exploded rows → one
    aggregation keyed by a ``monotonically_increasing_id`` row id that
    collects the element results and orders them by position →
    ``FilterRepeater.assemble``.  A NULL column stays NULL, an empty one
    empty, both without violations."""
    dtype = df.schema[col_name].dataType
    is_map = isinstance(dtype, T.MapType)
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
    r = ref_compile_chain_expr(
        rep.chain,
        e["value"] if is_map else e,
        dtype.valueType if is_map else dtype.elementType,
        ctx,
        elem_key,
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
    # ordered by position alone: comparing whole structs would fail on
    # unorderable (map) element values
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
    out_value, out_violations = ctx.name("cleaned"), ctx.name("violset")
    out = assembled.select(
        *[row[c].alias(c) for c in payload_cols],
        F.when(row[col_name].isNotNull(), value).alias(out_value),
        viols.alias(out_violations),
    )
    return out, out_value, out_violations


def _ref_validate(df, rules):
    ctx, produced = Ctx(), []
    for col_name, chain in rules.items():
        route = _repeater_route(df, col_name, chain)
        if route is None:
            df, v, w = ref_attach_chain(df, col_name, chain, key=col_name, ctx=ctx)
            produced.append((col_name, v, w))
            continue
        prefix, rep, suffix = route
        cur, w1 = col_name, None
        if prefix is not None:
            df, cur, w1 = ref_attach_chain(df, col_name, prefix, key=col_name, ctx=ctx)
        df, v2, w2 = ref_explode_repeater(df, cur, rep, key=col_name, ctx=ctx)
        v, w = v2, w2
        if w1 is not None or suffix is not None:
            v3, w3 = v2, w2
            if suffix is not None:
                df, v3, w3 = ref_attach_chain(df, v2, suffix, key=col_name, ctx=ctx)
            err1 = F.size(F.col(w1)) > 0 if w1 is not None else F.lit(False)
            err2 = F.size(F.col(w2)) > 0
            val = F.when(err1, F.col(cur)).when(err2, F.col(v2)).otherwise(F.col(v3))
            viols = (
                F.when(err1, F.col(w1) if w1 is not None else _empty_viols())
                .when(err2, F.col(w2))
                .otherwise(F.col(w3))
            )
            v, w = ctx.name("cleaned"), ctx.name("violset")
            df = df.withColumns({v: val, w: viols})
        produced.append((col_name, v, w))
    viols = F.concat(*[F.col(w) for _, _, w in produced])
    out = [
        F.col(c) for c in df.columns
        if c not in rules and not c.startswith(ctx.prefix + "_")
    ]
    out += [F.col(v).alias(c) for c, v, _ in produced]
    return df.select(
        *out, viols.alias("_violations"), (F.size(viols) == 0).alias("_is_valid")
    )


def ref_validate(df, rules):
    """The reference fold end to end, nested chains included."""
    with mock.patch(
        "filters_spark.core.compiler.compile_chain_expr", ref_compile_chain_expr
    ):
        return _ref_validate(df, rules)


# -- seeded random chains ---------------------------------------------------

CHOICES = ["user", "assistant", "tool", "User", "a"]


def _str_op(r: random.Random):
    return r.choice(
        [
            lambda: fs.Required(),
            lambda: fs.NotEmpty(allow_none=r.random() < 0.5),
            lambda: fs.Optional(default=r.choice(["dflt", "user", ""])),
            lambda: fs.Choice(
                r.sample(CHOICES, k=r.randint(1, 3)),
                case_sensitive=r.random() < 0.5,
            ),
            lambda: fs.MaxLength(r.randint(0, 6), truncate=r.random() < 0.5),
            lambda: fs.Strip(),
            lambda: fs.Unicode(),
        ]
    )()


def _str_chain(r, lo=1, hi=4, kernels=True):
    ops, n = [], r.randint(lo, hi)
    while len(ops) < n:
        op = _str_op(r)
        if kernels or not isinstance(op, fs.Unicode):
            ops.append(op)
    return fs.Chain(ops)


def _int_chain(r):
    ops = [
        r.choice(
            [
                lambda: fs.Required(),
                lambda: fs.Optional(default=r.randint(-1, 4)),
                lambda: fs.Min(r.randint(-2, 5), exclusive=r.random() < 0.5),
            ]
        )()
        for _ in range(r.randint(1, 3))
    ]
    return fs.Chain(ops)


def _switch(r):
    """FilterSwitch over a string column, dispatching on its length."""
    return fs.FilterSwitch(
        lambda v: F.length(v) > 2,
        {True: _str_chain(r), False: _str_chain(r)},
        default=_str_chain(r) if r.random() < 0.5 else None,
    )


def _mapper(r):
    fmap = {"a": _str_chain(r), "b": _int_chain(r)}
    if r.random() < 0.5:
        fmap["z"] = _str_chain(r)  # missing from the struct
    return fs.FilterMapper(
        fmap,
        allow_missing_keys=r.random() < 0.5,
        allow_extra_keys=r.random() < 0.5,
    )


def _repeater(r, explode: bool):
    """FilterRepeater over array<string>, with a Unicode element kernel
    on odd seeds."""
    inner = _str_chain(r, 0, 2, kernels=False)
    if explode:
        inner = inner | fs.Unicode()
    chain = fs.FilterRepeater(inner)
    if r.random() < 0.5:
        chain = r.choice([fs.Required(), fs.NotEmpty()]) | chain
    if r.random() < 0.5:
        chain = chain | fs.MaxLength(r.randint(1, 3), truncate=r.random() < 0.5)
    return as_chain(chain)


def random_rules(seed: int) -> dict:
    r = random.Random(seed)
    s_chain = _str_chain(r)
    if r.random() < 0.5:
        s_chain = s_chain | _switch(r) if r.random() < 0.5 else _switch(r) | s_chain
    rec = _mapper(r)
    if r.random() < 0.5:
        rec = fs.Required() | rec
    return {
        "s": s_chain,
        "n": _int_chain(r),
        "rec": rec,
        "arr": _repeater(r, explode=seed % 2 == 1),
    }


STRINGS = [
    None, "", "   ", "a", "user", " user ", "User", "assistant", "tool",
    "x" * 9, "é", "\x00ab\x01", "a\r\nb", " tool ",
]
INTS = [None, -5, -2, 0, 1, 3, 100]


def random_frame(spark, seed: int, n_rows: int = 48):
    r = random.Random(1000 + seed)

    def rec():
        if r.random() < 0.15:
            return None
        return (r.choice(STRINGS), r.choice(INTS), r.choice(STRINGS))

    def arr():
        roll = r.random()
        if roll < 0.1:
            return None
        if roll < 0.2:
            return []
        return [r.choice(STRINGS) for _ in range(r.randint(1, 4))]

    rows = [
        (i, r.choice(STRINGS), r.choice(INTS), rec(), arr())
        for i in range(n_rows)
    ]
    return spark.createDataFrame(
        rows,
        "id int, s string, n int, rec struct<a:string,b:int,extra:string>, "
        "arr array<string>",
    )


def _rows(df):
    cols = ["id", "s", "n", "rec", "arr", "_violations", "_is_valid"]
    return [r.asDict(recursive=True) for r in df.select(cols).orderBy("id").collect()]


def _failing(rows, col):
    """Rows where rule ``col`` reported a violation."""
    return {
        row["id"]
        for row in rows
        for v in row["_violations"]
        if v["key"] == col or v["key"].startswith(col + ".")
    }


@pytest.mark.parametrize("seed", range(8))
def test_mask_first_fold_matches_per_step_fold(spark, seed):
    df = random_frame(spark, seed)
    rules = random_rules(seed)
    got = _rows(fs.validate(df, rules))
    assert got == _rows(ref_validate(df, rules)), rules
    # one rule alone that both fails and passes rows, so that valid rows
    # occur too
    cols = list(rules)[seed % len(rules):] + list(rules)[: seed % len(rules)]
    col = next(c for c in cols if 0 < len(_failing(got, c)) < len(got))
    one = {col: rules[col]}
    got = _rows(fs.validate(df, one))
    assert got == _rows(ref_validate(df, one)), one
    assert {row["_is_valid"] for row in got} == {True, False}, one


# -- numeric coercion in every chain position -----------------------------

NUMBERS = [
    None, "", " ", "0", "7", " 42 ", "-3", "+5", "1_000", "\uff13", "1.5",
    "2.00", ".5", "0.125", "1.005", "1e3", "nan", "-Infinity", "abc", "5.",
    "5." + "0" * 19 + "1", "99999999999999999999", "-99999999999999999999",
    "12345678901234567890.5", "\x007", "\u00a09\u00a0",
]


def _num_chain(r):
    if r.random() < 0.5:
        chain = fs.Int() | fs.Max(r.choice([0, 10, 1000]))
    else:
        chain = fs.Decimal(2)
    if r.random() < 0.3:
        chain = fs.Required() | chain
    return as_chain(chain)


def numeric_rules(seed: int) -> dict:
    r = random.Random(seed)
    return {
        "t": _num_chain(r),
        "rec": fs.FilterMapper(
            {"t": _num_chain(r), "a": _str_chain(r, kernels=False)}
        ),
        "ts": fs.FilterRepeater(_num_chain(r)),
    }


def numeric_frame(spark, seed: int, n_rows: int = 48):
    r = random.Random(2000 + seed)

    def ts():
        roll = r.random()
        if roll < 0.1:
            return None
        return [r.choice(NUMBERS) for _ in range(r.randint(0, 4))]

    rows = [
        (
            i,
            r.choice(NUMBERS),
            None if r.random() < 0.1 else (r.choice(NUMBERS), r.choice(STRINGS)),
            ts(),
        )
        for i in range(n_rows)
    ]
    return spark.createDataFrame(
        rows, "id int, t string, rec struct<t:string,a:string>, ts array<string>"
    )


@pytest.mark.parametrize("seed", range(4))
def test_numeric_chains_match_per_step_fold(spark, seed):
    df = numeric_frame(spark, seed)
    rules = numeric_rules(seed)
    cols = ["id", "t", "rec", "ts", "_violations", "_is_valid"]

    def rows(out):
        return [
            r.asDict(recursive=True)
            for r in out.select(cols).orderBy("id").collect()
        ]

    got = rows(fs.validate(df, rules))
    assert got == rows(ref_validate(df, rules)), rules
    for col in rules:
        one = {col: rules[col]}
        assert rows(fs.validate(df, one)) == rows(ref_validate(df, one)), one
