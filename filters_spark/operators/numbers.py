"""Numeric specs (``number.py``).

Parity caveats vs the reference (documented, also in SURVEY.md §7):

- The reference's ``decimal.Decimal`` is unbounded; Spark decimals are
  bounded at ``DecimalType(38, s)``.  Default working scale is 18 digits.
- ``Decimal(max_precision=...)`` quantizes with the decimal context
  default (ROUND_HALF_EVEN) in the reference; here it maps to a decimal
  cast/round.  HALF_UP and HALF_EVEN are JVM-side; other modes are not
  supported (``Round`` covers the general grid case).
- String inputs with more than 18 fractional digits are sticky-truncated
  (:func:`_sticky_truncate`) before the bounded cast when a quantize at
  scale ≤ 17 follows, so the HALF_EVEN result matches the reference's
  single unbounded quantize exactly.  Residual edges: quantizing at
  scale 18 itself (the cast's HALF_UP at digit 18 decides ties from
  digit 19 information the bounded type cannot hold) and scientific
  notation carrying ≥ 19 effective fractional digits.
"""

from __future__ import annotations

import decimal as py_decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filters_spark.core.spec import (
    BaseSpec,
    CompileError,
    Ctx,
    Step,
    Violation,
)

CODE_INVALID = "not_numeric"  # number.py:18
CODE_NON_FINITE = "not_finite"  # number.py:19
CODE_NOT_INT = "not_int"  # number.py:116
CODE_TOO_BIG = "too_big"  # number.py:148
CODE_TOO_SMALL = "too_small"  # number.py:207

MSG_NUMERIC = "Numeric value expected."
DEFAULT_SCALE = 18

#: strings Python's Decimal parses as non-finite (decimal.Decimal._parser)
_NON_FINITE_RE = r"^\s*[-+]?(nan|snan|inf(inity)?)\s*$"


def _decimal_type(scale: int = DEFAULT_SCALE) -> T.DecimalType:
    return T.DecimalType(38, scale)


_ND_CACHE: tuple[str, str] | None = None


def _nd_translation() -> tuple[str, str]:
    """CPython's ``PyUnicode_TransformDecimalAndSpaceToASCII``
    equivalent, as a (from, to) pair for ``F.translate``: every Unicode
    decimal digit (category Nd, 660 codepoints) maps to its ASCII
    value.  ``Decimal('１２３')`` is 123 in the reference because
    CPython applies this transform before the ASCII numeric parse —
    fuzz-found gap, now replicated JVM-side with one translate."""
    global _ND_CACHE
    if _ND_CACHE is None:
        import sys as _sys
        import unicodedata

        src, dst = [], []
        for cp in range(_sys.maxunicode + 1):
            ch = chr(cp)
            if unicodedata.category(ch) == "Nd":
                src.append(ch)
                dst.append(str(unicodedata.decimal(ch)))
        _ND_CACHE = ("".join(src), "".join(dst))
    return _ND_CACHE


def _py_numeric_string(value: Column) -> Column:
    """Normalise a string column the way CPython's numeric constructors
    do before parsing: Unicode digits → ASCII (see
    :func:`_nd_translation`), ALL underscores removed (``Decimal``
    strips them regardless of position: ``Decimal('_1') == 1``),
    Unicode whitespace stripped at both ends (``str.strip`` semantics,
    which Spark's cast trim does not cover — e.g. NBSP).

    Residual boundary CONTROL characters poison the parse: Spark's
    string→decimal cast trims every char ≤ 0x20 while CPython strips
    only whitespace, so ``'7\\x00'`` parses in a bare cast but raises in
    the reference (deep-fuzz-found r5 on ``'٧\\x00'``).  Controls that
    are NOT Python whitespace (``\\x00–\\x08``, ``\\x0e–\\x1b``) left at
    either end after the strip are rewritten to an unparseable sentinel
    so ``try_cast`` fails → ``not_numeric``, matching CPython."""
    src, dst = _nd_translation()
    s = F.translate(value, src, dst)
    s = F.replace(s, F.lit("_"), F.lit(""))
    s = F.regexp_replace(s, r"(?U)^\s+|\s+$", "")
    bad = s.rlike(r"^[\x00-\x08\x0e-\x1b]|[\x00-\x08\x0e-\x1b]$")
    return F.when(bad, F.lit("?")).otherwise(s)


def _sticky_truncate(s: Column) -> Column:
    """Collapse fractional digits beyond the 18-digit working scale into
    a *sticky* 18th digit so a later HALF_EVEN ``bround`` at scale ≤ 17
    sees the same >/==/< relation to the rounding boundary as an
    unbounded quantize of the original string would.

    Plain-decimal strings with ≥ 19 fractional digits are rewritten to
    exactly 18: digits 1–17 kept verbatim; digit 18 kept, except that a
    nonzero dropped tail bumps ``0 → 1`` and ``5 → 6`` (any other digit
    already decides the comparison on its own).  The rewritten string
    casts to ``DecimalType(38, 18)`` exactly — no HALF_UP tie can be
    manufactured by the bounded cast, so the double-rounding divergence
    (e.g. ``'1.0149999999999999995' @2 → 1.02`` instead of the
    reference's 1.01) is gone for every quantize scale ≤ 17.  Exponent
    forms (``1.5e-20``) are left alone — a documented residual edge."""
    m = r"^([+-]?\d*\.)(\d{17})(\d)(\d+)$"
    intdot = F.regexp_extract(s, m, 1)
    first17 = F.regexp_extract(s, m, 2)
    d18 = F.regexp_extract(s, m, 3)
    sticky = F.regexp_extract(s, m, 4).rlike("[1-9]")
    d18_adj = (
        F.when(sticky & (d18 == "0"), F.lit("1"))
        .when(sticky & (d18 == "5"), F.lit("6"))
        .otherwise(d18)
    )
    return F.when(
        s.rlike(r"^[+-]?\d*\.\d{19,}$"),
        F.concat(intdot, first17, d18_adj),
    ).otherwise(s)


def coerce_decimal(
    value: Column,
    dtype: T.DataType,
    ctx: Ctx,
    scale: int = DEFAULT_SCALE,
    sticky_guard: bool = False,
) -> tuple[Column, Column, Column, Column | None, dict]:
    """Shared Decimal coercion: returns ``(casted, not_numeric_cond,
    not_finite_cond, text, pre)``.  Mirrors ``number.py:63-95``: parse
    failure → ``not_numeric``; NaN/±Inf → ``not_finite``.  A string
    input's normalised text (:func:`_py_numeric_string`; ``text``, else
    None) and its cast are each bound once (:meth:`Ctx.bind`, the
    bindings in ``pre``), so the conditions read them as references.

    ``sticky_guard`` applies :func:`_sticky_truncate` to string inputs —
    set it when (and only when) the caller re-rounds HALF_EVEN at a
    scale ≤ 17; without a downstream quantize, the bounded cast's own
    nearest-value rounding at digit 18 is the better approximation."""
    target = _decimal_type(scale)
    if isinstance(dtype, T.DecimalType):
        # try_cast, NOT cast: a wider input decimal whose value exceeds
        # the (38, scale) envelope must become INVALID, not an ANSI
        # CAST_OVERFLOW that kills the job (deep-fuzz-found in r5 via
        # the float branch; same hazard here)
        casted = value.try_cast(target)
        return casted, value.isNotNull() & casted.isNull(), F.lit(False), None, {}
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return value.cast(target), F.lit(False), F.lit(False), None, {}
    if isinstance(dtype, T.BooleanType):
        return value.cast("int").cast(target), F.lit(False), F.lit(False), None, {}
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        non_finite = F.isnan(value) | (F.abs(value) == F.lit(float("inf")))
        # try_cast: doubles beyond ~1e20 cannot fit DECIMAL(38, 18) —
        # bounded-envelope INVALID (DEVIATIONS #4/#6), never a crash
        casted = F.when(non_finite, F.lit(None)).otherwise(value).try_cast(
            target
        )
        not_numeric = value.isNotNull() & ~non_finite & casted.isNull()
        return casted, not_numeric, non_finite, None, {}
    if isinstance(dtype, T.StringType):
        text, pre = ctx.bind("numtext", _py_numeric_string(value))
        s = _sticky_truncate(text) if sticky_guard else text
        casted, pre_cast = ctx.bind("numcast", s.try_cast(target))
        # the sticky rewrite only touches plain digit strings, which are
        # never non-finite
        non_finite = F.lower(text).rlike(_NON_FINITE_RE)
        not_numeric = casted.isNull() & ~non_finite
        return casted, not_numeric, non_finite, text, {**pre, **pre_cast}
    raise CompileError(f"cannot interpret column of type {dtype} as Decimal")


class Decimal(BaseSpec):
    """Interpret the value as a decimal (``number.py:15-100``).

    ``max_precision`` = max number of decimal places (int) or a
    ``decimal.Decimal`` quantize target (e.g. ``Decimal('0.01')``).
    """

    templates = {CODE_INVALID: MSG_NUMERIC, CODE_NON_FINITE: MSG_NUMERIC}

    def __init__(
        self,
        max_precision=None,
        allow_tuples: bool = False,
        scale: int = DEFAULT_SCALE,
    ) -> None:
        if allow_tuples:
            # reference number.py:63-68 accepts (sign, digits, exponent)
            # tuples; a tuple-typed cell is not representable in a typed
            # column (DEVIATIONS.md #5) — refuse at config time rather
            # than mis-parse.  allow_tuples=False (the reference default)
            # is accepted so ports passing it explicitly work unchanged.
            raise CompileError(
                "Decimal(allow_tuples=True) is not supported: tuple cells"
                " have no columnar representation (DEVIATIONS.md #5)"
            )
        if max_precision is not None and not isinstance(
            max_precision, py_decimal.Decimal
        ):
            max_precision = py_decimal.Decimal(".1") ** max_precision
        self.max_precision = max_precision
        self.scale = scale

    def _out_scale(self) -> int:
        if self.max_precision is None:
            return self.scale
        return max(0, -self.max_precision.as_tuple().exponent)

    def compile(self, value, dtype, ctx, key) -> Step:
        out_scale = self._out_scale()
        # sticky_guard: string inputs with >18 fractional digits would
        # otherwise HALF_UP into an exact tie at the working scale and
        # the bround below would then double-round (advisor-found:
        # '1.0149999999999999995' @2 → 1.02 vs reference 1.01); the
        # sticky 18th digit makes the bround exact for out_scale ≤ 17.
        casted, not_numeric, non_finite, _, pre = coerce_decimal(
            value,
            dtype,
            ctx,
            self.scale,
            sticky_guard=self.max_precision is not None and out_scale <= 17,
        )
        out = casted
        if self.max_precision is not None:
            # the reference quantizes with the decimal-context default
            # rounding (ROUND_HALF_EVEN, number.py:97-98); a bare
            # decimal cast would round HALF_UP (fuzz-found on 1.005@2)
            out = F.bround(out, out_scale)
        out = out.cast(_decimal_type(out_scale))
        inv = not_numeric | non_finite
        return Step(
            value=out,
            dtype=_decimal_type(out_scale),
            invalid=inv,
            violations=[
                Violation(not_numeric, F.lit(CODE_INVALID), F.lit(MSG_NUMERIC)),
                Violation(non_finite, F.lit(CODE_NON_FINITE), F.lit(MSG_NUMERIC)),
            ],
            pre=pre,
        )

    def __repr__(self):
        return f"Decimal(max_precision={self.max_precision!r})"


_I64_MIN = py_decimal.Decimal(-(2**63))
_I64_MAX = py_decimal.Decimal(2**63 - 1)


class Int(BaseSpec):
    """Interpret the value as an int; floats with fractional parts are
    INVALID (``number.py:103-136``).

    Deviation: the reference's ints are unbounded; output here is
    ``LongType`` (64-bit).  Integral values outside the 64-bit range are
    INVALID with ``too_big``/``too_small`` (the bounded-type principle
    from DEVIATIONS #4/#6: invalid rather than silently wrong — and
    never a job-killing ANSI cast overflow; deep-fuzz-found in r5 on a
    21-digit id string).  Values needing more digits should use
    ``Decimal`` directly.
    """

    templates = {
        CODE_INVALID: MSG_NUMERIC,
        CODE_NON_FINITE: MSG_NUMERIC,
        CODE_NOT_INT: "Integer value expected.",
        CODE_TOO_BIG: f"Value is too large (must be <= {2**63 - 1}).",
        CODE_TOO_SMALL: f"Value is too small (must be >= {-(2**63)}).",
    }

    def compile(self, value, dtype, ctx, key) -> Step:
        if isinstance(
            dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            return Step(value=value.cast("long"), dtype=T.LongType())
        # sticky_guard: integer-ness is a scale-0 grid question, so the
        # sticky 18th digit makes it exact for arbitrary-length strings
        # ('5.' + 19 zeros + '1' must be not_int, not a false integral 5)
        casted, not_numeric, non_finite, text, pre = coerce_decimal(
            value, dtype, ctx, sticky_guard=True
        )
        fractional = (casted % 1) != 0
        # Strings that failed the bounded cast but have plain numeric
        # SYNTAX are envelope overflows, not junk: classify them the way
        # the reference experiences the value — fractional syntax →
        # not_int (exact reference parity); integral syntax → too_big /
        # too_small by sign (the documented 64-bit deviation, DEVIATIONS
        # #6).  Exponent forms that overflow stay not_numeric (residue).
        if text is not None:
            int_syn = not_numeric & text.rlike(r"^[+-]?\d+(\.0*)?$")
            frac_syn = not_numeric & text.rlike(
                r"^[+-]?(\d+\.\d*[1-9]\d*|\.\d*[1-9]\d*)$"
            )
            neg = F.substring(text, 1, 1) == "-"
            over_syn = int_syn & ~neg
            under_syn = int_syn & neg
            not_numeric = not_numeric & ~int_syn & ~frac_syn
        else:
            over_syn = under_syn = frac_syn = F.lit(False)
        numeric = ~not_numeric & ~non_finite
        # fractional outranks the range check: the reference reports
        # not_int for any fractional value regardless of magnitude
        over = (
            numeric & ~fractional & ~frac_syn & (casted > F.lit(_I64_MAX))
        ) | over_syn
        under = (
            numeric & ~fractional & ~frac_syn & (casted < F.lit(_I64_MIN))
        ) | under_syn
        not_int = (numeric & fractional) | frac_syn
        inv = not_numeric | non_finite | not_int | over | under
        return Step(
            value=F.when(inv, F.lit(None)).otherwise(casted).cast("long"),
            dtype=T.LongType(),
            invalid=inv,
            violations=[
                Violation(not_numeric, F.lit(CODE_INVALID), F.lit(MSG_NUMERIC)),
                Violation(non_finite, F.lit(CODE_NON_FINITE), F.lit(MSG_NUMERIC)),
                Violation(
                    not_int,
                    F.lit(CODE_NOT_INT),
                    F.lit(self.render(CODE_NOT_INT)),
                ),
                Violation(
                    over, F.lit(CODE_TOO_BIG), F.lit(self.render(CODE_TOO_BIG))
                ),
                Violation(
                    under,
                    F.lit(CODE_TOO_SMALL),
                    F.lit(self.render(CODE_TOO_SMALL)),
                ),
            ],
            pre=pre,
        )


class Max(BaseSpec):
    """Enforce a maximum value (``number.py:139-195``)."""

    templates = {CODE_TOO_BIG: "Value is too large (must be {operator} {max})."}

    def __init__(self, max_value, exclusive: bool = False) -> None:
        self.max_value = max_value
        self.exclusive = exclusive

    def compile(self, value, dtype, ctx, key) -> Step:
        lim = F.lit(self.max_value)
        inv = (value >= lim) if self.exclusive else (value > lim)
        op = "<" if self.exclusive else "<="
        msg = self.render(CODE_TOO_BIG, operator=op, max=self.max_value)
        return Step(
            value=value,
            dtype=dtype,
            invalid=inv,
            violations=[Violation(inv, F.lit(CODE_TOO_BIG), F.lit(msg))],
        )

    def __repr__(self):
        return f"Max({self.max_value!r}, exclusive={self.exclusive!r})"


class Min(BaseSpec):
    """Enforce a minimum value (``number.py:198-254``)."""

    templates = {
        CODE_TOO_SMALL: "Value is too small (must be {operator} {min})."
    }

    def __init__(self, min_value, exclusive: bool = False) -> None:
        self.min_value = min_value
        self.exclusive = exclusive

    def compile(self, value, dtype, ctx, key) -> Step:
        lim = F.lit(self.min_value)
        inv = (value <= lim) if self.exclusive else (value < lim)
        op = ">" if self.exclusive else ">="
        msg = self.render(CODE_TOO_SMALL, operator=op, min=self.min_value)
        return Step(
            value=value,
            dtype=dtype,
            invalid=inv,
            violations=[Violation(inv, F.lit(CODE_TOO_SMALL), F.lit(msg))],
        )

    def __repr__(self):
        return f"Min({self.min_value!r}, exclusive={self.exclusive!r})"


#: every :mod:`decimal` rounding mode, expressed as an exact-decimal
#: Spark expression over the scaled value (scale → round → unscale)
_ROUNDING_MODES = (
    "ROUND_HALF_UP",
    "ROUND_HALF_EVEN",
    "ROUND_HALF_DOWN",
    "ROUND_CEILING",
    "ROUND_FLOOR",
    "ROUND_UP",
    "ROUND_DOWN",
    "ROUND_05UP",
)


def _round_expr(scaled, mode: str):
    """Integer-quantize ``scaled`` (a decimal column) under a
    :mod:`decimal` rounding mode.  All arithmetic stays in Spark decimal
    (exact), mirroring ``Decimal.quantize(1, rounding=mode)``."""
    ceil_x, floor_x = F.ceil(scaled), F.floor(scaled)
    toward_zero = F.when(scaled >= 0, floor_x).otherwise(ceil_x)
    away_zero = F.when(scaled >= 0, ceil_x).otherwise(floor_x)
    if mode == "ROUND_HALF_UP":
        return F.round(scaled, 0)  # Java HALF_UP = ties away from zero
    if mode == "ROUND_HALF_EVEN":
        return F.bround(scaled, 0)
    if mode == "ROUND_HALF_DOWN":
        # ties toward zero: x>=0 → ceil(x - 1/2), x<0 → floor(x + 1/2)
        half = F.lit(py_decimal.Decimal("0.5"))
        return F.when(scaled >= 0, F.ceil(scaled - half)).otherwise(
            F.floor(scaled + half)
        )
    if mode == "ROUND_CEILING":
        return ceil_x
    if mode == "ROUND_FLOOR":
        return floor_x
    if mode == "ROUND_UP":
        return away_zero
    if mode == "ROUND_DOWN":
        return toward_zero
    if mode == "ROUND_05UP":
        # away from zero only when truncation would end in 0 or 5
        return F.when(
            (F.pmod(F.abs(toward_zero), F.lit(5)) == 0)
            & (scaled != toward_zero),
            away_zero,
        ).otherwise(toward_zero)
    raise CompileError(f"unsupported rounding mode {mode!r}")


class Round(BaseSpec):
    """Round to an arbitrary grid: scale → round → unscale in exact
    decimal arithmetic (``number.py:257-305``).

    Every :mod:`decimal` rounding mode is supported, JVM-side
    (``rounding=`` one of ``ROUND_HALF_UP`` (default), ``ROUND_HALF_EVEN``,
    ``ROUND_HALF_DOWN``, ``ROUND_CEILING``, ``ROUND_FLOOR``, ``ROUND_UP``,
    ``ROUND_DOWN``, ``ROUND_05UP``) — semantics mirror
    ``Decimal.quantize`` exactly (unit-tested against it).

    ``result_type`` mirrors ``number.py:264`` (the reference feeds the
    rounded string to the given constructor): ``decimal.Decimal``
    (default) keeps the exact decimal column, ``float`` casts to
    ``double``, ``str`` to ``string``, and ``int`` to ``long`` —
    ``int`` requires an integral ``to_nearest`` (a fractional grid
    would make ``int(...)`` raise per value in the reference; here it
    fails at compile time instead)."""

    _RESULT_CASTS = {
        py_decimal.Decimal: None,
        float: "double",
        str: "string",
        int: "long",
    }

    def __init__(
        self,
        to_nearest=1,
        rounding: str = "ROUND_HALF_UP",
        result_type: type = py_decimal.Decimal,
    ) -> None:
        self.to_nearest = py_decimal.Decimal(str(to_nearest))
        if self.to_nearest < 0:
            raise ValueError("Rounding to negative values isn't supported.")
        if rounding not in _ROUNDING_MODES:
            raise CompileError(f"unsupported rounding mode {rounding!r}")
        self.rounding = rounding
        if result_type not in self._RESULT_CASTS:
            raise CompileError(
                f"Round: unsupported result_type {result_type!r} — one of "
                "decimal.Decimal, float, int, str (arbitrary constructors "
                "cannot run inside a column expression)"
            )
        if result_type is int and self.to_nearest % 1 != 0:
            raise CompileError(
                "Round: result_type=int needs an integral to_nearest "
                f"(got {self.to_nearest}) — int('2.5') would raise per "
                "value in the reference"
            )
        self.result_type = result_type

    def compile(self, value, dtype, ctx, key) -> Step:
        casted, not_numeric, non_finite, _, pre = coerce_decimal(value, dtype, ctx)
        n = F.lit(self.to_nearest)
        scaled = casted / n
        rounded = _round_expr(scaled, self.rounding)
        out_scale = max(0, -self.to_nearest.as_tuple().exponent)
        out_type = _decimal_type(out_scale)
        inv = not_numeric | non_finite
        out = (rounded * n).cast(out_type)
        final_cast = self._RESULT_CASTS[self.result_type]
        if final_cast is not None:
            out = out.cast(final_cast)
            out_type = {
                "double": T.DoubleType(),
                "string": T.StringType(),
                "long": T.LongType(),
            }[final_cast]
        return Step(
            value=out,
            dtype=out_type,
            invalid=inv,
            violations=[
                Violation(not_numeric, F.lit(CODE_INVALID), F.lit(MSG_NUMERIC)),
                Violation(non_finite, F.lit(CODE_NON_FINITE), F.lit(MSG_NUMERIC)),
            ],
            pre=pre,
        )

    def __repr__(self):
        return f"Round(to_nearest={self.to_nearest!r})"
