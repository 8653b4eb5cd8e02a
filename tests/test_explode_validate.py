"""FilterRepeater element chains that need Arrow kernels.

Such a repeater compiles to one projection like any other: each element
kernel runs as one array-in / array-out pandas UDF over the row's
elements, and the ``F.transform`` lambda reads its element by index.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import filters_spark as fs
from filters_spark.core.compiler import attach_chain
from filters_spark.core.spec import CompileError


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
    out, v, w = attach_chain(arr_df, "texts", fs.FilterRepeater(chain))
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
    # attach_chain and validate give the same repeater results
    df = arr_df.where(F.col("texts").isNotNull())
    chain = fs.MinLength(2)
    out, v, w = attach_chain(df, "texts", fs.FilterRepeater(chain))
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
    with pytest.raises(CompileError):
        attach_chain(arr_df, "rid", fs.FilterRepeater(fs.Min(0)))


def test_kernel_repeater_plan_is_one_projection(spark):
    """A kernel repeater compiles to a projection: no shuffle, no
    aggregation, no synthetic row id, no join or persist, and ONE
    ArrowEvalPython for its one kernel."""
    df = spark.createDataFrame([(0, ["a", "b"]), (1, None)], "rid long, texts array<string>")
    out = fs.validate(df, {"texts": fs.FilterRepeater(fs.Required() | fs.Unicode())})
    plan = out._jdf.queryExecution().executedPlan().toString()
    for absent in ("Exchange", "Aggregate", "monotonically_increasing_id",
                   "Join", "InMemoryTableScan"):
        assert absent not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan


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
    """validate() takes a FilterRepeater over a kernel chain instead of
    raising CompileError (UX parity: the reference repeater takes any
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
    # pure-expression repeaters run no kernel
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
    out, v, w = attach_chain(df, "m", fs.FilterRepeater(chain))
    rows = {r["rid"]: r for r in out.collect()}
    assert rows[0][v] == {"a": "café", "b": "x\ny"}
    assert rows[1][v] == {"a": "ok", "b": None}
    assert [(x["key"], x["code"]) for x in rows[1][w]] == [("m.b", "empty")]
    assert rows[2][v] == {} and rows[2][w] == []
    assert rows[3][v] is None and rows[3][w] == []
    # through validate() too
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


def _rep(normalize, required=False, restrict=None):
    chain = fs.Unicode(normalize=normalize)
    if required:
        chain = fs.Required() | chain
    return fs.FilterRepeater(chain, restrict_keys=restrict)


@pytest.mark.parametrize("route", ["column", "root", "attach", "two"])
@pytest.mark.parametrize("required", [False, True], ids=["bare", "required"])
@pytest.mark.parametrize(
    "col,restrict",
    [("texts", [0, 2]), ("texts", None), ("m", ["a", "b"]), ("m", None)],
    ids=["array_restrict", "array", "map_restrict", "map"],
)
def test_kernel_repeater_matches_lambda_route(nfc_df, col, restrict, required, route):
    """A repeater whose element chain needs an Arrow kernel gives the
    cleaned values and the ordered violation lists of the same repeater
    over its kernel-free twin (no kernel at all): element keys,
    ``restrict_keys`` and order included.  Routes: ``validate`` under the
    column name, ``attach_chain`` under the root key and under the
    column name, and a ``validate`` chain of two such repeaters."""

    def rules(normalize):
        rep = _rep(normalize, required, restrict)
        return {col: rep | _rep(normalize, required, restrict) if route == "two" else rep}

    def run(normalize):
        if route in ("column", "two"):
            return _rows(fs.validate(nfc_df, rules(normalize)), col, "_violations")
        key = "" if route == "root" else None
        return _rows(*attach_chain(nfc_df, col, rules(normalize)[col], key=key))

    assert run(True) == run(False)


def test_explode_route_orders_map_elements(spark):
    """A kernel over elements of an unorderable type (maps) rebuilds them
    in place, in order."""
    df = spark.createDataFrame(
        [(0, [{"k": "a"}, {"k": "b"}, {"j": "c"}]), (1, None)],
        "rid long, ms array<map<string,string>>",
    )
    out = fs.validate(df, {"ms": fs.FilterRepeater(fs.Call(lambda m: m))})
    rows = {r["rid"]: r for r in out.collect()}
    assert rows[0]["ms"] == [{"k": "a"}, {"k": "b"}, {"j": "c"}]
    assert rows[0]["_violations"] == [] and rows[1]["ms"] is None


@pytest.mark.parametrize("field", ["texts", "m"])
def test_kernel_repeater_as_a_mapper_field_matches_lambda_route(nfc_df, field):
    """A kernel repeater as a FilterMapper field or a FilterSwitch case
    (an expression, with no DataFrame step of its own) gives what its
    kernel-free twin gives."""
    df = nfc_df.select(
        "rid", F.struct(F.col(field).alias("xs"), F.col("rid").alias("n")).alias("s")
    )
    restrict, first = ([0, 2], "0") if field == "texts" else (["a", "b"], "a")

    def run(normalize):
        rep = _rep(normalize, required=True, restrict=restrict)
        out = fs.validate(df, {"s": fs.FilterMapper({"xs": rep, "n": fs.Max(2)})})
        return _rows(out, "s", "_violations")

    kernel = run(True)
    assert kernel == run(False)
    assert kernel[1][1][0] == (f"s.xs.{first}", "empty", "This value is required.")

    def switch(normalize):
        rep = _rep(normalize, required=True, restrict=restrict)
        rule = fs.FilterSwitch(lambda v: F.size(v) > 0, {True: rep}, default=rep)
        return _rows(fs.validate(nfc_df, {field: rule}), field, "_violations")

    assert switch(True) == switch(False)


def test_kernel_repeater_two_levels_deep_is_a_compile_error(spark):
    """An element kernel of a repeater inside a repeater would read the
    outer lambda's variable outside that lambda."""
    df = spark.createDataFrame([(0, [["a"]])], "rid long, a array<array<string>>")
    with pytest.raises(CompileError, match="inside another FilterRepeater"):
        fs.validate(df, {"a": fs.FilterRepeater(fs.FilterRepeater(fs.Unicode()))})
    # kernel-free, the same nesting compiles
    fs.validate(df, {"a": fs.FilterRepeater(fs.FilterRepeater(fs.Strip()))})


def test_kernel_repeater_on_a_stream_matches_batch(spark, tmp_path):
    """A kernel repeater validates a streaming frame: one availableNow
    batch into a memory sink gives what the batch run gives."""
    src = tmp_path / "src"
    spark.createDataFrame(
        [
            (0, ["café", "x\r\ny"], {"a": "café"}),
            (1, ["", "ok"], {"b": ""}),
            (2, [], {}),
            (3, None, None),
        ],
        "rid long, texts array<string>, m map<string,string>",
    ).coalesce(1).write.parquet(str(src))
    rules = {
        "texts": fs.FilterRepeater(fs.Required() | fs.Unicode()),
        "m": fs.FilterRepeater(fs.Required() | fs.Unicode()),
    }
    df = spark.read.parquet(str(src))
    batch = fs.validate(df, rules)
    stream = fs.validate(spark.readStream.schema(df.schema).parquet(str(src)), rules)
    q = (
        stream.writeStream.format("memory")
        .queryName("kernel_repeater_stream")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.table("kernel_repeater_stream")

    def rows(out):
        return sorted(tuple(r) for r in out.select(
            "rid", "texts", F.map_entries("m"), "_violations", "_is_valid"
        ).collect())

    assert rows(got) == rows(batch)
    assert len(rows(got)) == 4
