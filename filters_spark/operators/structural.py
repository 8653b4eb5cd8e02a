"""Structural combinators (``complex.py``) and projection/type specs
(``simple.py``, ``base.py:543-633``).

These map the reference's dynamic, dict-shaped records onto Spark's
static ``StructType`` / ``ArrayType`` / ``MapType`` columns:

- ``FilterMapper``  → per-field chains over struct fields; missing/extra
  key policy is *static* against the schema (``complex.py:158-344``).
- ``FilterRepeater`` → ``F.transform`` with the chain compiled as an
  element-level expression (its Arrow kernels as array UDFs read by
  index); per-index dotted violation keys (``complex.py:16-155``).
- ``FilterSwitch``  → ``CASE WHEN`` dispatch (``complex.py:347-390``).
- ``NamedTuple``    → struct with exact fields (``complex.py:393-481``).
"""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filters_spark.core.arrow import call_kernel, elementwise
from filters_spark.core.spec import (
    CODE_EXCEPTION,
    MSG_EXCEPTION,
    BaseSpec,
    CompileError,
    Step,
    Violation,
    _empty_viols,
    as_chain,
    null_of,
)

CODE_MISSING_KEY = "missing"  # complex.py:172, simple.py:391
CODE_EXTRA_KEY = "unexpected"  # complex.py:27,171
CODE_WRONG_TYPE = "wrong_type"  # base.py:546

MSG_MISSING = "{key} is required."
MSG_EXTRA = 'Unexpected key "{actual_key}".'

def _key_col(key) -> Column:
    """A violation key as a Column: ``key`` is a name, or a Column
    inside a ``FilterRepeater`` lambda."""
    return key if isinstance(key, Column) else F.lit(key)


def _sub_key(key, name: str):
    """Dotted key of the child ``name`` under ``key`` (a Column if
    ``key`` is one)."""
    if isinstance(key, Column):
        return F.concat_ws(".", key, F.lit(name))
    return f"{key}.{name}" if key else name


def _keyed_viol(key, code: str, message: Column) -> Column:
    """One-element violation array."""
    return F.array(
        F.struct(
            _key_col(key).alias("key"),
            F.lit(code).alias("code"),
            message.alias("message"),
        )
    )


def _chain_expr(chain, value, dtype, ctx, key):
    # local import to avoid a circular module dependency
    from filters_spark.core.compiler import compile_chain_expr

    return compile_chain_expr(chain, value, dtype, ctx, key)


# -- Type / Array -----------------------------------------------------------

#: Python type → acceptable Spark types (static schema analysis)
_TYPE_MAP = {
    str: (T.StringType,),
    bytes: (T.BinaryType,),
    bytearray: (T.BinaryType,),
    bool: (T.BooleanType,),
    int: (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    float: (T.FloatType, T.DoubleType),
    decimal.Decimal: (T.DecimalType,),
    datetime.datetime: (T.TimestampType,),
    datetime.date: (T.DateType, T.TimestampType),
    list: (T.ArrayType,),
    tuple: (T.ArrayType,),
    dict: (T.MapType, T.StructType),
}


#: Spark type → the Python type a value of it arrives as (for naming the
#: incoming side of the wrong_type message)
_SPARK_TO_PY = {
    T.StringType: str,
    T.BinaryType: bytes,
    T.BooleanType: bool,
    T.ByteType: int,
    T.ShortType: int,
    T.IntegerType: int,
    T.LongType: int,
    T.FloatType: float,
    T.DoubleType: float,
    T.DecimalType: decimal.Decimal,
    T.TimestampType: datetime.datetime,
    T.DateType: datetime.date,
    T.ArrayType: list,
    T.MapType: dict,
    T.StructType: dict,
}


class Type(BaseSpec):
    """isinstance check (``base.py:543-633``).

    With a fixed table schema this is fully *static*: a mismatch is a
    compile-time error instead of a per-row violation.  (The reference's
    per-row behaviour only matters for dynamically-typed inputs, which
    don't exist in a Spark column.)
    """

    templates = {
        CODE_WRONG_TYPE: "{incoming} is not valid (allowed types: {allowed})."
    }

    def __init__(self, allowed_types, allow_subclass: bool = True,
                 aliases=None) -> None:
        if not isinstance(allowed_types, tuple):
            allowed_types = (allowed_types,)
        self.allowed_types = allowed_types
        self.allow_subclass = allow_subclass
        # base.py:564-575: type→name mapping masking Python names in the
        # wrong_type message (e.g. filters_spark.aliases.JSON_ALIASES)
        self.aliases = dict(aliases or {})

    def get_type_name(self, type_, aliased: bool = True) -> str:
        """Display name for a type, alias first (``base.py:633-660``,
        incl. the typing-generic ``_name`` dance of bpo-34422)."""
        candidates = [
            getattr(type_, "_name", None),
            getattr(type_, "__name__", None),
            str(type_),
        ]
        if aliased:
            candidates.insert(0, self.aliases.get(type_))
        return next(n for n in candidates if n)

    def get_allowed_type_names(self, aliased: bool = True) -> str:
        """Sorted, deduplicated allowed-type names (``base.py:622-631``)."""
        return ", ".join(
            sorted({self.get_type_name(t, aliased) for t in self.allowed_types})
        )

    def render_wrong_type(self, incoming: type) -> str:
        """The reference's ``wrong_type`` message, byte-identical
        (``base.py:546-551`` template + aliased names)."""
        return self.templates[CODE_WRONG_TYPE].format(
            incoming=self.get_type_name(incoming),
            allowed=self.get_allowed_type_names(),
        )

    def compile(self, value, dtype, ctx, key) -> Step:
        ok_spark: tuple = ()
        for py_t in self.allowed_types:
            ok_spark += _TYPE_MAP.get(py_t, ())
        if ok_spark and not isinstance(dtype, ok_spark):
            incoming = _SPARK_TO_PY.get(type(dtype), object)
            what = f"column {key!r}" if isinstance(key, str) else "an element"
            raise CompileError(
                f"{what} has Spark type {dtype}, which cannot hold "
                f"{self.get_allowed_type_names(aliased=False)} (Type filter "
                f"would reject every row: "
                f"{self.render_wrong_type(incoming)})"
            )
        return Step(value=value, dtype=dtype)

    def __repr__(self):
        names = ", ".join(t.__name__ for t in self.allowed_types)
        return f"Type(({names}))"


class Array(Type):
    """Non-string Sequence check (``simple.py:121-146``) — static: the
    column must be an ``ArrayType``.  ``aliases=`` mirrors the
    reference's error-message type-name mapping (forwarded to
    :class:`Type`)."""

    def __init__(self, aliases=None) -> None:
        super().__init__((list, tuple), aliases=aliases)


# -- projections ------------------------------------------------------------


class Item(BaseSpec):
    """Extract one item from a struct/map/array (``simple.py:388-448``);
    default = first struct field / element 0.  Missing → ``missing``."""

    templates = {CODE_MISSING_KEY: MSG_MISSING}

    def __init__(self, key=None) -> None:
        self.item_key = key

    def compile(self, value, dtype, ctx, key) -> Step:
        if isinstance(dtype, T.StructType):
            k = self.item_key or dtype.names[0]
            if k not in dtype.names:
                return self._missing_step(value, k)
            out_t = dtype[k].dataType
            return Step(value=value[k], dtype=out_t)
        if isinstance(dtype, T.MapType):
            if self.item_key is None:
                raise CompileError("Item() on a map column requires a key")
            got = F.element_at(value, F.lit(self.item_key))
            inv = got.isNull()
            return Step(
                value=got,
                dtype=dtype.valueType,
                invalid=inv,
                violations=[
                    Violation(
                        inv,
                        F.lit(CODE_MISSING_KEY),
                        F.lit(MSG_MISSING.format(key=self.item_key)),
                    )
                ],
            )
        if isinstance(dtype, T.ArrayType):
            idx = int(self.item_key or 0)
            got = F.element_at(value, idx + 1)
            inv = F.size(value) <= idx
            return Step(
                value=got,
                dtype=dtype.elementType,
                invalid=inv,
                violations=[
                    Violation(
                        inv,
                        F.lit(CODE_MISSING_KEY),
                        F.lit(MSG_MISSING.format(key=idx)),
                    )
                ],
            )
        raise CompileError(f"Item cannot index into column type {dtype}")

    def _missing_step(self, value, k) -> Step:
        inv = F.lit(True)
        return Step(
            value=F.lit(None).cast("string"),
            dtype=T.StringType(),
            invalid=inv,
            violations=[
                Violation(
                    inv,
                    F.lit(CODE_MISSING_KEY),
                    F.lit(MSG_MISSING.format(key=k)),
                )
            ],
        )


class Pick(BaseSpec):
    """Projection copy with only ``keys`` (``simple.py:872-968``); absent
    keys become null fields; disallowed-missing keys emit per-key
    ``missing`` violations."""

    templates = {CODE_MISSING_KEY: MSG_MISSING}

    def __init__(self, keys, allow_missing_keys: bool = True) -> None:
        self.keys = list(keys)
        self.allow_missing_keys = allow_missing_keys

    def _missing_allowed(self, k) -> bool:
        if self.allow_missing_keys is True:
            return True
        if self.allow_missing_keys is False:
            return False
        return k in self.allow_missing_keys

    def compile(self, value, dtype, ctx, key) -> Step:
        if not isinstance(dtype, T.StructType):
            raise CompileError(f"Pick needs a struct column, got {dtype}")
        fields, out_fields, violations = [], [], []
        for k in self.keys:
            if k in dtype.names:
                fields.append(value[k].alias(k))
                out_fields.append(T.StructField(k, dtype[k].dataType))
            else:
                fields.append(F.lit(None).cast("string").alias(k))
                out_fields.append(T.StructField(k, T.StringType()))
                if not self._missing_allowed(k):
                    violations.append(
                        Violation(
                            F.lit(True),
                            F.lit(CODE_MISSING_KEY),
                            F.lit(MSG_MISSING.format(key=k)),
                            key_suffix=F.lit(k),
                        )
                    )
        inv = F.lit(bool(violations))
        return Step(
            value=F.struct(*fields),
            dtype=T.StructType(out_fields),
            invalid=inv if violations else None,
            violations=violations,
            keep_value_on_error=True,
        )


class Omit(BaseSpec):
    """Copy without ``keys`` (``simple.py:736-781``)."""

    def __init__(self, keys) -> None:
        self.keys = set(keys)

    def compile(self, value, dtype, ctx, key) -> Step:
        if not isinstance(dtype, T.StructType):
            raise CompileError(f"Omit needs a struct column, got {dtype}")
        keep = [f for f in dtype.fields if f.name not in self.keys]
        return Step(
            value=F.struct(*[value[f.name].alias(f.name) for f in keep]),
            dtype=T.StructType(keep),
        )


class ByteArray(BaseSpec):
    """Coerce str/bytes/int-sequence → bytes (``simple.py:149-213``).
    Int sequences must be 0..255 (nested ``Int | Min(0) | Max(255)`` in
    the reference, :195-208) — per-index violations preserved."""

    CODE_BAD_ENCODING = "bad_encoding"
    templates = {
        CODE_BAD_ENCODING: "Unable to encode this value using {encoding}."
    }

    def __init__(self, encoding: str = "utf-8") -> None:
        self.encoding = encoding

    def compile(self, value, dtype, ctx, key) -> Step:
        if isinstance(dtype, T.BinaryType):
            return Step(value=value, dtype=dtype)
        if isinstance(dtype, T.StringType):
            return Step(value=F.encode(value, self.encoding), dtype=T.BinaryType())
        if isinstance(dtype, T.ArrayType) and isinstance(
            dtype.elementType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        ):
            def viol(i, code: str, message: str) -> Column:
                return F.struct(
                    FilterRepeater.element_key(key, i).alias("key"),
                    F.lit(code).alias("code"),
                    F.lit(message).alias("message"),
                )

            small = "Value is too small (must be >= 0)."
            big = "Value is too large (must be <= 255)."
            viols = F.filter(
                F.transform(
                    value,
                    lambda x, i: F.when(x < 0, viol(i, "too_small", small)).when(
                        x > 255, viol(i, "too_big", big)
                    ),
                ),
                lambda v: v.isNotNull(),
            )
            inv = F.size(viols) > 0
            packed, pre = call_kernel(
                ctx,
                "kbytearray",
                elementwise(lambda xs: (bytes(int(i) for i in xs), None)),
                T.BinaryType(),
                value,
            )
            return Step(
                value=F.when(inv, F.lit(None)).otherwise(packed["value"]),
                dtype=T.BinaryType(),
                invalid=inv,
                violations_array=viols,
                pre=pre,
            )
        raise CompileError(f"ByteArray cannot coerce column type {dtype}")


class Call(BaseSpec):
    """Arbitrary-callable escape hatch (``simple.py:216-254``) — the
    custom-constraint plugin point.

    ``fn`` is a *scalar* function ``x -> cleaned`` (exceptions → invalid
    with the catch-all ``exception`` code, like the reference), executed
    inside one Arrow kernel.  Pass ``out_type`` (Spark DataType) for the
    cleaned value; defaults to the input type.
    """

    def __init__(
        self,
        fn=None,
        *args,
        out_type: T.DataType | None = None,
        callable_=None,
        **kwargs,
    ):
        # `callable_` mirrors the reference keyword (simple.py Call);
        # `fn` is the engine-native name — either works, not both
        if callable_ is not None:
            if fn is not None:
                raise TypeError("Call: pass fn or callable_, not both")
            fn = callable_
        if fn is None:
            raise TypeError("Call: a callable is required")
        self.fn = fn
        self.args = args
        self.kwargs = kwargs
        self.out_type = out_type

    def compile(self, value, dtype, ctx, key) -> Step:
        fn, args, kwargs = self.fn, self.args, self.kwargs
        out_t = self.out_type or dtype
        res, pre = call_kernel(
            ctx, "kcall", elementwise(lambda x: (fn(x, *args, **kwargs), None)),
            out_t, value,
        )
        code = res["code"]
        return Step(
            value=res["value"],
            dtype=out_t,
            invalid=code.isNotNull(),
            violations=[
                Violation(
                    code == F.lit(CODE_EXCEPTION),
                    F.lit(CODE_EXCEPTION),
                    F.lit(MSG_EXCEPTION),
                )
            ],
            pre=pre,
        )


# -- combinators -------------------------------------------------------------


class FilterSwitch(BaseSpec):
    """Dispatch to one of several chains based on a getter over the value
    (``complex.py:347-390``).  No default → non-matching values are
    invalid with the ``Choice`` code (:377-390)."""

    templates = {"not_valid_choice": "Valid options are: {choices}"}

    def __init__(self, getter, cases: dict, default=None) -> None:
        self.getter = getter  # callable Column -> Column, or struct field name
        self.cases = dict(cases)
        self.default = default

    def compile(self, value, dtype, ctx, key) -> Step:
        disc = (
            self.getter(value)
            if callable(self.getter)
            else value[self.getter]
        )
        results = []
        out_dtype = None
        pre: dict = {}
        for case_key, chain in self.cases.items():
            r = _chain_expr(chain, value, dtype, ctx, key)
            pre.update(r.pre)
            if out_dtype is None:
                out_dtype = r.dtype
            elif str(out_dtype) != str(r.dtype):
                raise CompileError(
                    "FilterSwitch cases must produce the same output type; "
                    f"got {out_dtype} vs {r.dtype} for case {case_key!r}"
                )
            results.append((case_key, r))
        if self.default is not None:
            default_r = _chain_expr(self.default, value, dtype, ctx, key)
            pre.update(default_r.pre)
            default_value = default_r.value
            default_viols = default_r.violations
        else:
            choices = str(sorted(map(str, self.cases.keys())))
            default_value = null_of(out_dtype)
            default_viols = _keyed_viol(
                key,
                "not_valid_choice",
                F.lit(self.render("not_valid_choice", choices=choices)),
            )
        val_expr, viol_expr = None, None
        for case_key, r in results:
            cond = disc == F.lit(case_key)
            val_expr = (
                F.when(cond, r.value)
                if val_expr is None
                else val_expr.when(cond, r.value)
            )
            viol_expr = (
                F.when(cond, r.violations)
                if viol_expr is None
                else viol_expr.when(cond, r.violations)
            )
        val_expr = val_expr.otherwise(default_value)
        viol_expr = viol_expr.otherwise(default_viols)
        return Step(
            value=val_expr,
            dtype=out_dtype,
            invalid=F.size(viol_expr) > 0,
            violations_array=viol_expr,
            pre=pre,
            keep_value_on_error=True,
        )


class FilterRepeater(BaseSpec):
    """Apply one chain to every element of an array (or every value of a
    map); invalid elements become NULL **in place** (``complex.py:113-129``);
    violation keys carry the element index / map key
    (``test/test_filter_repeater.py:44-49``).

    Compiles to an ``F.transform`` lambda over the elements (a map's
    through ``map_entries``) that applies the repeater's rule for one
    element (:meth:`element_key`, :meth:`element`), bound once as the
    array of element results, from which :meth:`assemble` rebuilds the
    column and its ordered violations, in any position.  The element
    chain binds its values inside the lambda like any chain
    (:meth:`Ctx.bind <filters_spark.core.spec.Ctx.bind>`): each binding is
    a temp column computed per element outside the lambda and read by
    index inside it, so the plan grows linearly with the steps, and an
    Arrow kernel runs as one array-in / array-out pandas UDF over all of
    the row's elements (:func:`filters_spark.core.arrow.call_kernel`).
    A repeater is one projection — in ``validate``, on a stream, as a
    ``FilterMapper`` / ``FilterSwitch`` field — except a kernel two
    repeater levels deep, a :class:`CompileError`.
    """

    templates = {CODE_EXTRA_KEY: MSG_EXTRA}

    def __init__(self, chain=None, restrict_keys=None, filter_chain=None) -> None:
        # `filter_chain` mirrors the reference keyword (complex.py:110)
        if filter_chain is not None:
            if chain is not None:
                raise TypeError(
                    "FilterRepeater: pass chain or filter_chain, not both"
                )
            chain = filter_chain
        if chain is None:
            raise TypeError("FilterRepeater: a filter chain is required")
        self.chain = as_chain(chain)
        self.restrict_keys = set(restrict_keys) if restrict_keys else None

    @staticmethod
    def element_key(key, k: Column) -> Column:
        """Violation key of the element at index or map key ``k`` under
        ``key`` (a name, or a Column inside an enclosing lambda)."""
        ks = k.cast("string")
        if isinstance(key, str) and key == "":
            return ks
        return F.concat_ws(".", _key_col(key), ks)

    def element(self, r, k: Column, elem_key: Column, is_map: bool) -> list:
        """Fields of one element's result struct, from the element
        chain's result ``r``: ``v`` (cleaned value), ``w`` (violations)
        and, for a map, ``k`` (its key).  Under ``restrict_keys`` an
        array element outside the set is NULL and reports ``unexpected``
        in place; a map entry outside it gets a NULL ``k`` (dropped by
        :meth:`assemble`) and reports in ``x``, after every entry's own
        violations (``complex.py:97-112``)."""
        v, w = r.value, r.violations
        if self.restrict_keys is None:
            fields = [v.alias("v"), w.alias("w")]
            return [k.alias("k"), *fields] if is_map else fields
        keys = list(self.restrict_keys)
        allowed = k.isin(keys if is_map else [int(x) for x in keys])
        unexpected = _keyed_viol(
            elem_key,
            CODE_EXTRA_KEY,
            F.format_string(MSG_EXTRA.format(actual_key="%s"), k.cast("string")),
        )
        if not is_map:
            return [
                F.when(allowed, v).alias("v"),
                F.when(allowed, w).otherwise(unexpected).alias("w"),
            ]
        return [
            F.when(allowed, k).alias("k"),
            v.alias("v"),
            F.when(allowed, w).otherwise(_empty_viols()).alias("w"),
            F.when(allowed, _empty_viols()).otherwise(unexpected).alias("x"),
        ]

    def assemble(self, elems: Column, is_map: bool) -> tuple[Column, Column]:
        """``(cleaned column, violations)`` from the (bound) array of
        :meth:`element` structs, in element order."""
        viols = F.flatten(F.transform(elems, lambda s: s["w"]))
        if not is_map:
            return F.transform(elems, lambda s: s["v"]), viols
        if self.restrict_keys is not None:
            viols = F.concat(
                viols, F.flatten(F.transform(elems, lambda s: s["x"]))
            )
            elems = F.filter(elems, lambda s: s["k"].isNotNull())
        entries = F.transform(elems, lambda s: F.struct(s["k"], s["v"]))
        return F.map_from_entries(entries), viols

    def compile(self, value, dtype, ctx, key) -> Step:
        is_map = isinstance(dtype, T.MapType)
        if not (is_map or isinstance(dtype, T.ArrayType)):
            raise CompileError(f"FilterRepeater needs array/map, got {dtype}")
        elem_t = dtype.valueType if is_map else dtype.elementType
        array = F.map_entries(value) if is_map else value
        results: list = []  # the element chain's compiled result

        def per_element(e, i):
            elem, k = (e["value"], e["key"]) if is_map else (e, i)
            elem_key = self.element_key(key, k)
            ctx.elements.append((array, (e, i)))
            try:
                r = _chain_expr(self.chain, elem, elem_t, ctx, elem_key)
            finally:
                ctx.elements.pop()
            results.append(r)
            return F.struct(*self.element(r, k, elem_key, is_map))

        elems, pre = ctx.bind("elems", F.transform(array, per_element))
        values, viols = self.assemble(elems, is_map)
        (r,) = results
        out_t = (
            T.MapType(dtype.keyType, r.dtype) if is_map else T.ArrayType(r.dtype)
        )
        return Step(
            value=values,
            dtype=out_t,
            invalid=F.size(viols) > 0,
            violations_array=viols,
            pre={**r.pre, **pre},
            keep_value_on_error=True,
        )


class FilterMapper(BaseSpec):
    """Per-key chains over a struct (``complex.py:158-344``).

    Missing/extra-key policy is *static* against the struct schema:

    - missing key, allowed → chain applied to NULL (:263-265);
    - missing key, disallowed → ``missing`` violation, field NULL (:267-273);
    - extra field, allowed → passed through (output order: filter_map
      order first, then extras sorted, :259,275-279);
    - extra field, disallowed → ``unexpected`` violation, field dropped
      (:279-296).

    Violation keys are dotted paths (``test/test_filter_mapper.py:541-542``).
    """

    templates = {CODE_MISSING_KEY: MSG_MISSING, CODE_EXTRA_KEY: MSG_EXTRA}

    def __init__(
        self,
        filter_map: dict,
        allow_missing_keys=True,
        allow_extra_keys=True,
    ) -> None:
        self.filter_map = dict(filter_map)
        self.allow_missing_keys = allow_missing_keys
        self.allow_extra_keys = allow_extra_keys

    def _allowed(self, policy, k) -> bool:
        if policy is True:
            return True
        if policy is False:
            return False
        return k in policy

    def compile(self, value, dtype, ctx, key) -> Step:
        if not isinstance(dtype, T.StructType):
            raise CompileError(f"FilterMapper needs a struct column, got {dtype}")
        out_fields: list[T.StructField] = []
        out_cols: list[Column] = []
        viol_arrays: list[Column] = []
        pre: dict = {}

        for k, chain in self.filter_map.items():
            sub_key = _sub_key(key, k)
            if k in dtype.names:
                field_t = dtype[k].dataType
                field_v = value[k]
            else:
                if not self._allowed(self.allow_missing_keys, k):
                    message = F.format_string(
                        MSG_MISSING.format(key="%s"), _key_col(sub_key)
                    )
                    viol_arrays.append(
                        _keyed_viol(sub_key, CODE_MISSING_KEY, message)
                    )
                    out_cols.append(F.lit(None).cast("string").alias(k))
                    out_fields.append(T.StructField(k, T.StringType()))
                    continue
                # allowed-missing: run the chain on NULL so Required fires
                field_t = T.StringType()
                field_v = F.lit(None).cast("string")
            if chain is None:
                # presence-checked pass-through (complex.py:223-236)
                out_cols.append(field_v.alias(k))
                out_fields.append(T.StructField(k, field_t))
                continue
            r = _chain_expr(chain, field_v, field_t, ctx, sub_key)
            pre.update(r.pre)
            out_cols.append(r.value.alias(k))
            out_fields.append(T.StructField(k, r.dtype))
            viol_arrays.append(r.violations)

        extras = [n for n in dtype.names if n not in self.filter_map]
        for k in sorted(extras):
            if self._allowed(self.allow_extra_keys, k):
                out_cols.append(value[k].alias(k))
                out_fields.append(T.StructField(k, dtype[k].dataType))
            else:
                message = F.lit(MSG_EXTRA.format(actual_key=k))
                viol_arrays.append(
                    _keyed_viol(_sub_key(key, k), CODE_EXTRA_KEY, message)
                )

        viols = (
            F.concat(*viol_arrays) if viol_arrays else _empty_viols()
        )
        return Step(
            value=F.struct(*out_cols),
            dtype=T.StructType(out_fields),
            invalid=F.size(viols) > 0,
            violations_array=viols,
            pre=pre,
            keep_value_on_error=True,
        )


class NamedTuple(BaseSpec):
    """Coerce a struct to an exact field set, then optionally apply a
    ``FilterMapper`` (``complex.py:393-481``).  Field-set exactness is
    static here."""

    def __init__(
        self,
        type_or_fields=None,
        filter_map: dict | None = None,
        type_=None,
    ) -> None:
        # `type_` mirrors the reference keyword (complex.py NamedTuple)
        if type_ is not None:
            if type_or_fields is not None:
                raise TypeError(
                    "NamedTuple: pass type_or_fields or type_, not both"
                )
            type_or_fields = type_
        if type_or_fields is None:
            raise TypeError("NamedTuple: a namedtuple type or field list "
                            "is required")
        if hasattr(type_or_fields, "_fields"):
            self.fields = list(type_or_fields._fields)
        else:
            self.fields = list(type_or_fields)
        self.filter_map = filter_map

    def compile(self, value, dtype, ctx, key) -> Step:
        if not isinstance(dtype, T.StructType):
            raise CompileError(f"NamedTuple needs a struct column, got {dtype}")
        if set(dtype.names) != set(self.fields):
            raise CompileError(
                f"NamedTuple fields {self.fields} != struct fields "
                f"{list(dtype.names)} (exact keys required, complex.py:443-457)"
            )
        ordered = F.struct(*[value[f].alias(f) for f in self.fields])
        ordered_t = T.StructType(
            [T.StructField(f, dtype[f].dataType) for f in self.fields]
        )
        if self.filter_map is None:
            return Step(value=ordered, dtype=ordered_t)
        mapper = FilterMapper(self.filter_map)
        return mapper.compile(ordered, ordered_t, ctx, key)
