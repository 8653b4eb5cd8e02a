"""Explode-path array validation (kernel chains over array elements)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import filters_spark as fs
from filters_spark.engine import explode_validate


@pytest.fixture(scope="module")
def arr_df(spark):
    schema = T.StructType(
        [
            T.StructField("rid", T.LongType()),
            T.StructField("texts", T.ArrayType(T.StringType())),
        ]
    )
    rows = [
        (0, ["café", "café", "plain"]),  # NFC, NFD, ascii
        (1, ["ok", "", "x\r\ny"]),  # empty elem fails Required
        (2, []),
        (3, None),
        (4, ["only"]),
    ]
    return spark.createDataFrame(rows, schema).cache()


def test_kernel_chain_over_array(arr_df):
    chain = fs.Required() | fs.Unicode()  # Unicode = Arrow kernel
    out, v, w = explode_validate(arr_df, "texts", chain)
    rows = {r["rid"]: r for r in out.collect()}
    # NFD element normalises to the NFC form, in place, order kept
    assert rows[0][v] == ["café", "café", "plain"]
    # CRLF -> LF; empty element nulled in place with per-index key
    assert rows[1][v] == ["ok", None, "x\ny"]
    assert [(x["key"], x["code"]) for x in rows[1][w]] == [
        ("texts.1", "empty")
    ]
    assert rows[2][v] == [] and rows[2][w] == []
    assert rows[3][v] is None and rows[3][w] == []
    assert rows[4][v] == ["only"] and rows[4][w] == []


def test_pure_expression_chain_matches_repeater(arr_df, spark):
    # same chain through both paths must agree where both apply
    df = arr_df.where(F.col("texts").isNotNull())
    chain = fs.MinLength(2)
    out, v, w = explode_validate(df, "texts", chain)
    exploded = {r["rid"]: (r[v], sorted((x["key"], x["code"]) for x in r[w]))
                for r in out.collect()}
    rep = fs.validate(df, {"texts": fs.FilterRepeater(chain)})
    repeater = {
        r["rid"]: (
            r["texts"],
            sorted((x["key"], x["code"]) for x in r["_violations"]),
        )
        for r in rep.collect()
    }
    assert exploded == repeater


def test_rejects_non_array(arr_df):
    from filters_spark.core.spec import CompileError

    with pytest.raises(CompileError):
        explode_validate(arr_df, "rid", fs.Min(0))


def test_single_pass_plan_no_join_no_persist(arr_df):
    """The explode path must be single-lineage: no self-join, no
    InMemoryRelation introduced by explode_validate itself (VERDICT r1
    item 8)."""
    chain = fs.Required() | fs.Unicode()
    out, v, w = explode_validate(arr_df.unpersist(), "texts", chain)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    arr_df.cache()


def test_chain_break_returns_partial_array(arr_df, spark):
    """A structural combinator that fails mid-chain still returns its
    PARTIAL output (FilterChain._apply breaks and returns the failing
    filter's value, base.py:462-473; test_filter_repeater.py:49)."""
    df = spark.createDataFrame(
        [(0, [1, 5, 2]), (1, [1, 2, 3])], "rid long, arr array<long>"
    )
    res = fs.validate(df, {"arr": fs.FilterRepeater(fs.Max(3)) | fs.MinLength(1)})
    rows = {r["rid"]: r for r in res.collect()}
    # element 5 fails Max(3) -> nulled in place; chain breaks but the
    # partial array survives, and MinLength never fires
    assert rows[0]["arr"] == [1, None, 2]
    assert [(x["key"], x["code"]) for x in rows[0]["_violations"]] == [
        ("arr.1", "too_big")
    ]
    assert rows[1]["arr"] == [1, 2, 3] and rows[1]["_violations"] == []


def test_validate_autoroutes_kernel_repeater(arr_df, spark):
    """validate() with a rule that is exactly FilterRepeater(kernel
    chain) over an array column routes through the explode path instead
    of raising CompileError (UX parity: the reference repeater takes any
    chain)."""
    rules = {"texts": fs.FilterRepeater(fs.Required() | fs.Unicode())}
    out = fs.validate(arr_df, rules)
    rows = {r["rid"]: r for r in out.collect()}
    assert rows[0]["texts"] == ["café", "café", "plain"]
    assert [(x["key"], x["code"]) for x in rows[1]["_violations"]] == [
        ("texts.1", "empty")
    ]
    assert rows[3]["texts"] is None
    assert rows[1]["_is_valid"] is False and rows[4]["_is_valid"] is True
    # pure-expression repeaters must STILL take the transform path
    pure = fs.validate(arr_df, {"texts": fs.FilterRepeater(fs.MinLength(2))})
    plan = pure._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "HashAggregate" not in plan


def test_validate_routes_composed_repeater_chain(arr_df, spark):
    """ADVICE r2: a COMPOSED chain around a kernel-bearing repeater
    (Required() | FilterRepeater(Unicode()) | ...) must compose like the
    reference instead of dying in CompileError, with first-error break
    preserved across the segments."""
    rules = {
        "texts": fs.Required() | fs.FilterRepeater(fs.Required() | fs.Unicode())
    }
    out = fs.validate(arr_df, rules)
    rows = {r["rid"]: r for r in out.collect()}
    # prefix Required fires on the NULL array; repeater suppressed
    assert rows[3]["_is_valid"] is False
    assert [(x["key"], x["code"]) for x in rows[3]["_violations"]] == [
        ("texts", "empty")
    ]
    # clean rows still flow through the kernel repeater
    assert rows[0]["texts"] == ["café", "café", "plain"]
    # element violations intact when the prefix passes
    assert [(x["key"], x["code"]) for x in rows[1]["_violations"]] == [
        ("texts.1", "empty")
    ]
    # ... and a suffix segment runs after the repeater (type-preserving)
    rules2 = {
        "texts": fs.FilterRepeater(fs.Unicode()) | fs.MinLength(2)
    }
    out2 = fs.validate(arr_df, rules2)
    rows2 = {r["rid"]: r for r in out2.collect()}
    assert rows2[0]["_is_valid"] is True
    assert [(x["key"], x["code"]) for x in rows2[4]["_violations"]] == [
        ("texts", "too_short")
    ]
    # empty array: repeater passes, suffix MinLength(2) fires
    assert rows2[2]["_is_valid"] is False


def test_explode_validate_map_values(spark):
    """Map variant: kernel chain over every map VALUE, violation keys
    carry the map key, NULL/empty maps pass through (reference
    FilterRepeater over mappings, complex.py:97-129)."""
    df = spark.createDataFrame(
        [
            (0, {"a": "café", "b": "x\r\ny"}),   # NFD + CRLF normalise
            (1, {"a": "ok", "b": ""}),            # empty value fails Required
            (2, {}),
            (3, None),
        ],
        "rid long, m map<string,string>",
    )
    chain = fs.Required() | fs.Unicode()
    out, v, w = explode_validate(df, "m", chain)
    rows = {r["rid"]: r for r in out.collect()}
    assert rows[0][v] == {"a": "café", "b": "x\ny"}
    assert rows[1][v] == {"a": "ok", "b": None}
    assert [(x["key"], x["code"]) for x in rows[1][w]] == [("m.b", "empty")]
    assert rows[2][v] == {} and rows[2][w] == []
    assert rows[3][v] is None and rows[3][w] == []
    # auto-route through validate() too
    res = fs.validate(df, {"m": fs.FilterRepeater(chain)})
    got = {r["rid"]: r["m"] for r in res.collect()}
    assert got[0] == {"a": "café", "b": "x\ny"} and got[3] is None


@pytest.fixture(scope="module")
def nfc_df(spark):
    # NFC, printable text: Unicode() leaves every value as it is, so the
    # kernel chain and its kernel-free twin clean to the same values
    return spark.createDataFrame(
        [
            (0, ["a", "b", "c"], {"a": "x", "b": "", "c": "z"}),
            (1, ["", "q", "café"], {"b": "y", "d": "", "a": ""}),
            (2, [], {}),
            (3, None, None),
        ],
        "rid long, texts array<string>, m map<string,string>",
    ).cache()


def _rows(out, v, w):
    return {
        r["rid"]: (r[v], [(x["key"], x["code"], x["message"]) for x in r[w]])
        for r in out.collect()
    }


@pytest.mark.parametrize("route", ["column", "root", "attach", "two"])
@pytest.mark.parametrize("required", [False, True], ids=["bare", "required"])
@pytest.mark.parametrize(
    "col,restrict",
    [("texts", [0, 2]), ("texts", None), ("m", ["a", "b"]), ("m", None)],
    ids=["array_restrict", "array", "map_restrict", "map"],
)
def test_kernel_repeater_matches_lambda_route(nfc_df, col, restrict, required, route):
    """A repeater whose element chain needs an Arrow kernel (explode
    route) gives the cleaned values and the ordered violation lists of
    the same repeater over its kernel-free twin (``F.transform`` lambda
    route): element keys, ``restrict_keys`` and order included.  Routes:
    ``validate`` under the column name, ``explode_validate`` /
    ``explode_repeater`` and ``attach_chain`` under the root key, and a
    ``validate`` chain of two such repeaters."""
    from filters_spark.core.compiler import attach_chain
    from filters_spark.core.spec import Ctx
    from filters_spark.engine.explode import explode_repeater

    def rep(normalize):
        chain = fs.Unicode(normalize=normalize)
        if required:
            chain = fs.Required() | chain
        return fs.FilterRepeater(chain, restrict_keys=restrict)

    if route == "column":
        kernel = _rows(fs.validate(nfc_df, {col: rep(True)}), col, "_violations")
        lam = _rows(fs.validate(nfc_df, {col: rep(False)}), col, "_violations")
    elif route == "two":
        twice = {n: {col: rep(n) | rep(n)} for n in (True, False)}
        kernel = _rows(fs.validate(nfc_df, twice[True]), col, "_violations")
        lam = _rows(fs.validate(nfc_df, twice[False]), col, "_violations")
    elif route == "attach":
        kernel = _rows(*attach_chain(nfc_df, col, rep(True), key=""))
        lam = _rows(*attach_chain(nfc_df, col, rep(False), key=""))
    else:
        if restrict is None:
            out = explode_validate(nfc_df, col, rep(True).chain, key="")
        else:
            out = explode_repeater(nfc_df, col, rep(True), key="", ctx=Ctx())
        kernel = _rows(*out)
        lam = _rows(*attach_chain(nfc_df, col, rep(False), key=""))
    assert kernel == lam


def test_explode_route_orders_map_elements(spark):
    """The explode route orders elements by position alone, so elements
    of an unorderable type (maps) rebuild in place instead of failing
    analysis on a whole-struct sort."""
    df = spark.createDataFrame(
        [(0, [{"k": "a"}, {"k": "b"}, {"j": "c"}]), (1, None)],
        "rid long, ms array<map<string,string>>",
    )
    out = fs.validate(df, {"ms": fs.FilterRepeater(fs.Call(lambda m: m))})
    rows = {r["rid"]: r for r in out.collect()}
    assert rows[0]["ms"] == [{"k": "a"}, {"k": "b"}, {"j": "c"}]
    assert rows[0]["_violations"] == [] and rows[1]["ms"] is None


def test_kernel_repeater_inside_an_expression_is_a_compile_error(arr_df):
    """A kernel repeater's explode route rewrites the DataFrame, which no
    expression (a FilterMapper field, a lambda) can host."""
    from filters_spark.core.spec import CompileError

    df = arr_df.select(F.struct(F.col("texts").alias("xs")).alias("s"))
    rule = {"s": fs.FilterMapper({"xs": fs.FilterRepeater(fs.Unicode())})}
    with pytest.raises(CompileError, match="top of a rule chain"):
        fs.validate(df, rule)


def test_kernel_repeater_on_a_stream_is_a_compile_error(spark):
    """The explode route re-assembles rows in a grouped aggregation,
    which an append-mode stream cannot host: compiling it fails before
    any query starts."""
    from filters_spark.core.spec import CompileError

    stream = spark.readStream.format("rate").load().select(
        F.array(F.col("value").cast("string")).alias("texts")
    )
    with pytest.raises(CompileError, match="streaming"):
        fs.validate(stream, {"texts": fs.FilterRepeater(fs.Unicode())})
