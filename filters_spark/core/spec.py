"""Spec DSL core: the compile-time filter graph.

The reference builds chains at runtime with ``|`` on filter instances AND
filter classes (``FilterMeta.__or__`` at ``src/filters/base.py:52-63``,
``BaseFilter.__or__`` at ``:107-124``).  Here the same surface builds a
*spec tree* that is compiled ONCE on the driver into Spark ``Column``
expressions — the executors never see spec objects.

Chain semantics compiled in (see core/compiler.py):

- **None-pass**: ``None`` passes through every filter untouched unless the
  filter opts in to handling nulls (``base.py:226-233,247-249``).  Encoded
  per-step as a null-guard, never left to accident.
- **First-error short-circuit**: a chain stops at the first failing filter
  and the row's value becomes the replacement (``None``)
  (``base.py:462-473``).  Encoded as a data dependency (cumulative error
  mask), NOT as separate Spark filters that Catalyst could reorder.
- **Violations are data**: a failure emits a coded message struct
  (mirroring ``FilterMessage``, ``src/filters/handlers.py:48-97``) into a
  per-row ``violations`` array column — Spark's exception model is never
  used for data errors.
"""

from __future__ import annotations

import itertools
import typing
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql.classic.column import _to_seq
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Violation row schema — mirrors FilterMessage {code, message} plus the
#: dotted chain path ("key") from base.py:176-192.
VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("code", T.StringType()),
        T.StructField("message", T.StringType()),
    ]
)

_VIOL_ARRAY = T.ArrayType(VIOLATION_SCHEMA)


def _empty_viols() -> Column:
    return F.array().cast(_VIOL_ARRAY)


CODE_EXCEPTION = "exception"  # base.py:69
MSG_EXCEPTION = "An error occurred while processing this value."  # base.py:72


class CompileError(ValueError):
    """Raised at compile time when a chain cannot be applied to a column
    of the given Spark type.  This is the static-analysis equivalent of
    the reference's runtime ``Type`` filter (``base.py:543-633``): with a
    fixed table schema, type errors are detectable before any data moves.
    """


def _transform(array: Column, body: Column, variables: tuple) -> Column:
    """``transform(array, (x, i) -> body)`` over the lambda variables of
    an enclosing ``F.transform`` call, so that ``body`` — built inside
    that call — evaluates the same per element here."""
    sc = SparkContext._active_spark_context
    utils = sc._jvm.PythonSQLUtils
    fn = utils.lambdaFunction(body._jc, _to_seq(sc, [v._jc for v in variables]))
    return Column(utils.fn("transform", _to_seq(sc, [array._jc, fn])))


class Ctx:
    """Per-compilation context: unique temp-column names, the
    ``FilterRepeater`` lambdas being compiled, and :meth:`bind`."""

    def __init__(self, prefix: str = "__fs") -> None:
        self._counter = itertools.count()
        self.prefix = prefix
        #: ``(array, (x, i))`` per enclosing ``FilterRepeater`` lambda,
        #: innermost last: the array it transforms and its variables
        self.elements: list[tuple[Column, tuple[Column, Column]]] = []

    def name(self, tag: str) -> str:
        return f"{self.prefix}_{tag}_{next(self._counter)}"

    def bind(self, tag: str, col: Column) -> tuple[Column, dict[str, Column]]:
        """Bind a compiled value once: ``(ref, pre)``, where ``pre`` names
        the temp column that holds ``col`` and ``ref`` reads it.

        At the top of a chain the temp column is ``col`` and ``ref`` is
        ``F.col(name)``.  Inside ``FilterRepeater`` lambdas it is ``col``
        evaluated per element, wrapped in one ``transform`` per enclosing
        lambda (outermost outside), and ``ref`` reads the current element,
        ``F.col(name)[i1][i2]…``.  Whoever compiles the chain materialises
        ``pre`` in order before any ``ref`` is read, so every later use of
        the value is a column reference, never a copy of ``col``."""
        name = self.name(tag)
        ref = F.col(name)
        for array, variables in reversed(self.elements):
            col = _transform(array, col, variables)
        for _, (_, i) in self.elements:
            ref = ref[i]
        return ref, {name: col}


@dataclass
class Violation:
    """One potential violation emitted by a compiled step.

    ``cond`` is a boolean Column that is True exactly when the violation
    fires (must be null-safe: null input never fires unless the spec
    handles nulls).  ``key_suffix`` extends the dotted chain path (e.g.
    struct field name, array index) — empty string means the chain's own
    key.
    """

    cond: Column
    code: Column
    message: Column
    key_suffix: Column | None = None


@dataclass
class Step:
    """Result of compiling one spec against a (value, dtype) state.

    ``value`` must already encode "on invalid → replacement" for scalar
    specs (the compiler additionally nulls it when an *earlier* step in
    the chain failed).  ``invalid`` is the chain-short-circuit trigger:
    True when this spec recorded any error (``base.py:251-282`` —
    ``_has_errors`` propagation).
    """

    value: Column
    dtype: T.DataType
    invalid: Column | None = None
    violations: list[Violation] = field(default_factory=list)
    #: Structural combinators (FilterMapper / FilterRepeater / FilterSwitch)
    #: emit fully-built ``array<struct<key,code,message>>`` columns with
    #: their own dotted keys; when set, the compiler uses this directly
    #: instead of ``violations`` and reads the step's error mask off it
    #: (non-empty ⇔ invalid), so ``invalid`` must agree with it.
    violations_array: Column | None = None
    #: The step's bindings (:meth:`Ctx.bind`), materialised in order
    #: before ``value`` / ``invalid`` are evaluated: an Arrow kernel's
    #: output (so the UDF runs once per row-batch), a value the step
    #: reads more than once, a nested chain's bindings.
    pre: dict[str, Column] = field(default_factory=dict)
    #: True if this spec inspects/replaces null inputs (Required,
    #: NotEmpty(allow_none=False), Optional) — the only exceptions to the
    #: None-passes rule (simple.py:971-984, :729-733, :856-858).
    handles_null: bool = False
    #: Structural combinators return their PARTIAL output when elements/
    #: fields fail (``FilterChain._apply`` breaks but returns the last
    #: filter's value, ``base.py:462-473``; e.g. a failing repeater
    #: yields ``[4, None, None]``, ``test_filter_repeater.py:49``).  When
    #: True the compiler keeps ``value`` despite ``invalid`` (later chain
    #: steps are still skipped).
    keep_value_on_error: bool = False


class SpecMeta(type):
    """Lets a spec *class* start a chain, mirroring ``FilterMeta.__or__``
    (``base.py:52-63``): ``Unicode | MaxLength(5)`` works without
    instantiating ``Unicode``.
    """

    def __or__(cls, other):  # noqa: D105
        return Chain([cls()]) | other

    def __ror__(cls, other):  # noqa: D105
        return resolve(other) | cls()


class BaseSpec(metaclass=SpecMeta):
    """Base class for all filter specs.  Subclasses implement
    ``compile(value, dtype, ctx, key) -> Step``.
    """

    #: code → message template (str.format), merged down the class tree
    #: like FilterMeta does (base.py:29-50).
    templates: dict[str, str] = {CODE_EXCEPTION: MSG_EXCEPTION}

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        merged = {}
        for base in reversed(cls.__mro__[1:]):
            merged.update(getattr(base, "templates", {}) or {})
        merged.update(cls.__dict__.get("templates", {}) or {})
        cls.templates = merged

    def __or__(self, other) -> "Chain":
        return Chain([self]) | other

    def __ror__(self, other) -> "Chain":
        return resolve(other) | self

    # -- scalar facade (reference base.py:219-249) -------------------------

    def set_handler(self, handler) -> "BaseSpec":
        """Attach an invalid-value handler consulted by :meth:`apply`
        (reference ``base.py:219-224``).  Columnar runs
        (:func:`filters_spark.validate`) keep violations as data and
        ignore it."""
        self._scalar_handler = handler
        return self

    def apply(self, value):
        """Scalar entry point — reference ``base.py:226-249``: returns
        the cleaned value, or routes violations through the attached
        handler (default raises ``FilterError``).  Runs the compiled
        chain through a 1-row DataFrame on the active SparkSession."""
        from filters_spark.runner import scalar_apply

        return scalar_apply(
            self, value, getattr(self, "_scalar_handler", None)
        )

    # -- helpers -----------------------------------------------------------

    def render(self, code: str, **vars) -> str:
        """Render a message template with static (config-time) vars."""
        return self.templates[code].format(**vars)

    def compile(self, value: Column, dtype: T.DataType, ctx: Ctx, key: str) -> Step:
        raise NotImplementedError

    def __repr__(self) -> str:
        return f"{type(self).__name__}()"


class Chain(BaseSpec):
    """Ordered composition of specs — the compiled analogue of
    ``FilterChain`` (``base.py:416-476``).  Immutable: ``|`` copies
    (mirrors the copy-on-write build at ``base.py:431-444``).
    """

    def __init__(self, specs=()):
        self.specs: tuple[BaseSpec, ...] = tuple(specs)

    def __or__(self, other) -> "Chain":
        other = resolve(other)
        if isinstance(other, Chain):
            return Chain(self.specs + other.specs)
        return Chain(self.specs + (other,))

    def __repr__(self) -> str:
        return " | ".join(repr(s) for s in self.specs) or "Chain()"


#: PEP-484 alias for "anything :func:`resolve` accepts" — a spec
#: instance, a spec class, or a zero-arg callable returning one;
#: mirrors the reference's ``FilterCompatible`` (``base.py:21-23``).
FilterCompatible = typing.Optional[
    typing.Union["BaseSpec", "SpecMeta", typing.Callable[[], "BaseSpec"]]
]


def resolve(spec) -> BaseSpec:
    """Normalise class / instance / chain → spec instance, mirroring
    ``resolve_filter`` (``base.py:380-408``).  Macro instances
    (``filter_macro`` results carry ``expand()``) expand to their chain
    so a macro is usable anywhere a spec is."""
    if hasattr(spec, "expand") and callable(spec.expand):
        return spec.expand()
    if isinstance(spec, BaseSpec):
        return spec
    if isinstance(spec, SpecMeta):
        return spec()
    raise TypeError(f"cannot resolve {spec!r} to a filter spec")


def as_chain(spec) -> Chain:
    spec = resolve(spec)
    return spec if isinstance(spec, Chain) else Chain([spec])


# -- shared column helpers -------------------------------------------------


def null_of(dtype: T.DataType) -> Column:
    return F.lit(None).cast(dtype)


def length_of(value: Column, dtype: T.DataType) -> Column | None:
    """Spark length expression for "len(value)" semantics, or None for
    types without a length (numbers, booleans, timestamps) — which the
    reference treats as *never empty* (simple.py:365-385).
    """
    if isinstance(dtype, T.StringType):
        return F.length(value)
    if isinstance(dtype, T.BinaryType):
        return F.octet_length(value)
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return F.size(value)
    return None


