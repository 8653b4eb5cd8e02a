"""Coverage for the remaining SURVEY §2 operators: Type (static),
NamedTuple, Call (custom-constraint plugin point), filter_macro, and the
extension registry."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

import filters_spark as fs
from filters_spark.core.spec import CompileError


@pytest.fixture(scope="module")
def sdf(spark):
    return spark.createDataFrame(
        [(1, "alpha", 10), (2, "", -3), (3, None, 7)],
        "id long, name string, score int",
    ).cache()


# -- Type (static schema check) ---------------------------------------------


def test_type_matching_is_noop(sdf):
    out = fs.validate(sdf, {"name": fs.Type(str) | fs.NotEmpty()})
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["_is_valid"] and not rows[2]["_is_valid"]


def test_type_mismatch_is_compile_error(sdf):
    with pytest.raises(CompileError, match="cannot hold"):
        fs.validate(sdf, {"score": fs.Type(str)})


def test_array_requires_array_column(sdf):
    with pytest.raises(CompileError):
        fs.validate(sdf, {"name": fs.Array()})


def test_type_aliases_in_message(sdf):
    """Type(aliases=...) masks Python type names in the wrong_type
    message (base.py:543-633 + aliases.py:10-24); the rendered message
    byte-matches the reference's aliased output."""
    from filters_spark.aliases import JSON_ALIASES

    t = fs.Type(str, aliases=JSON_ALIASES)
    assert t.render_wrong_type(int) == (
        "Number is not valid (allowed types: String)."
    )
    assert t.get_allowed_type_names(aliased=False) == "str"
    # dedup through aliasing: int and float both alias to Number
    t2 = fs.Type((int, float), aliases=JSON_ALIASES)
    assert t2.get_allowed_type_names() == "Number"
    with pytest.raises(CompileError, match="Number"):
        fs.validate(sdf, {"score": fs.Type(str, aliases=JSON_ALIASES)})


def test_type_aliases_match_live_reference(sdf):
    """Byte-compare the aliased wrong_type message against the live
    reference implementation."""
    from tests.test_property_parity import ref

    if ref is None:
        pytest.skip("reference library unavailable")
    from filters.aliases import JSON_ALIASES as REF_ALIASES

    from filters_spark.aliases import JSON_ALIASES

    assert {k.__name__ if hasattr(k, "__name__") else str(k): v
            for k, v in JSON_ALIASES.items()} == {
        k.__name__ if hasattr(k, "__name__") else str(k): v
        for k, v in REF_ALIASES.items()
    }
    ref_type = ref.Type(str, aliases=REF_ALIASES)
    runner = ref.FilterRunner(ref_type, 42)
    assert not runner.is_valid()
    ref_msg = runner.get_errors()[""][0]["message"]
    ours = fs.Type(str, aliases=JSON_ALIASES).render_wrong_type(int)
    assert ours == ref_msg


# -- NamedTuple --------------------------------------------------------------


Point = collections.namedtuple("Point", ["x", "y"])


@pytest.fixture(scope="module")
def struct_df(spark):
    return spark.createDataFrame(
        [(0, {"y": "2", "x": "1"}), (1, {"y": "oops", "x": "3"})],
        "rid long, p struct<y:string, x:string>",
    ).cache()


def test_namedtuple_reorders_and_filters(struct_df):
    out = fs.validate(
        struct_df,
        {"p": fs.NamedTuple(Point, {"x": fs.Int(), "y": fs.Int()})},
    )
    rows = {r["rid"]: r for r in out.collect()}
    # fields reordered to _fields order and filtered
    assert rows[0]["p"].asDict() == {"x": 1, "y": 2}
    assert rows[1]["p"]["x"] == 3 and rows[1]["p"]["y"] is None
    assert [v["key"] for v in rows[1]["_violations"]] == ["p.y"]


def test_namedtuple_exact_fields(struct_df):
    with pytest.raises(CompileError, match="exact keys"):
        fs.validate(
            struct_df, {"p": fs.NamedTuple(("x", "y", "z"))}
        )


# -- Call (custom constraint via Arrow kernel) -------------------------------


def test_call_custom_function(sdf):
    out = fs.validate(sdf, {"name": fs.Call(lambda s: s.upper())})
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["name"] == "ALPHA"
    assert rows[3]["name"] is None  # None passes untouched


def test_call_exception_becomes_violation(sdf):
    def boom(s):
        raise ValueError("nope")

    out = fs.validate(sdf, {"name": fs.Call(boom)})
    rows = {r["id"]: r for r in out.collect()}
    assert not rows[1]["_is_valid"]
    assert rows[1]["_violations"][0]["code"] == "exception"
    assert rows[3]["_is_valid"]  # None never reaches the callable


# -- filter_macro ------------------------------------------------------------


def test_filter_macro_composes(sdf):
    @fs.filter_macro
    def clean_name():
        return fs.Required() | fs.CaseFold() | fs.MaxLength(3, truncate=True)

    out = fs.validate(sdf, {"name": clean_name() | fs.MinLength(1)})
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["name"] == "alp"
    assert not rows[2]["_is_valid"]  # empty fails Required

    # macro usable directly as a rule too
    out2 = fs.validate(sdf, {"name": clean_name()})
    assert {r["id"]: r["name"] for r in out2.collect()}[1] == "alp"


# -- extension registry ------------------------------------------------------


def test_extension_registry_manual_registration(sdf):
    reg = fs.FilterExtensionRegistry(group="filters_spark.test_ext")
    reg.register("Shout", fs.CaseFold)
    assert reg.Shout is fs.CaseFold
    assert dict(iter(reg))["Shout"] is fs.CaseFold
    with pytest.raises(AttributeError):
        _ = reg.Missing


def test_round_all_decimal_modes(spark):
    """Every decimal rounding mode must mirror Decimal.quantize exactly
    (reference number.py:257-305 passes `rounding` straight through)."""
    import decimal as d

    import filters_spark as fs
    from filters_spark.operators.numbers import _ROUNDING_MODES

    values = [
        "2.5", "3.5", "-2.5", "-3.5", "1.25", "-1.25", "5.01", "-5.01",
        "0.049999", "7.5", "2.0", "-2.0", "10.0", "4.999", "-0.5", "0.5",
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i int, v string")
    for mode in _ROUNDING_MODES:
        for nearest in ("1", "0.05", "0.25"):
            out = fs.validate(df, {"v": fs.Round(nearest, rounding=mode)})
            got = {r["i"]: r["v"] for r in out.collect()}
            tn = d.Decimal(nearest)
            for i, v in enumerate(values):
                exp = (d.Decimal(v) / tn).quantize(
                    d.Decimal(1), rounding=getattr(d, mode)
                ) * tn
                assert got[i] == exp, (mode, nearest, v, got[i], exp)


def test_round_rejects_unknown_mode():
    import filters_spark as fs
    from filters_spark.core.spec import CompileError

    with pytest.raises(CompileError):
        fs.Round(1, rounding="ROUND_SIDEWAYS")


def test_datetime_tzinfo_objects(spark):
    """Datetime(timezone=tzinfo): fixed-offset tzinfos via utcoffset,
    IANA-named zones with real DST rules (DEVIATIONS #2 closed)."""
    import datetime as dt

    import filters_spark as fs

    df = spark.createDataFrame(
        [(0, "2024-01-15 12:00:00"), (1, "2024-07-15 12:00:00")],
        "i int, ts string",
    )
    # fixed offset +05:30 (datetime.timezone object)
    fixed = dt.timezone(dt.timedelta(hours=5, minutes=30))
    out = fs.validate(df, {"ts": fs.Datetime(timezone=fixed)})
    got = {r["i"]: r["ts"] for r in out.collect()}
    assert got[0] == dt.datetime(2024, 1, 15, 6, 30)
    assert got[1] == dt.datetime(2024, 7, 15, 6, 30)

    try:
        from zoneinfo import ZoneInfo

        ny = ZoneInfo("America/New_York")
    except Exception:
        pytest.skip("tzdata unavailable")
    out = fs.validate(df, {"ts": fs.Datetime(timezone=ny)})
    got = {r["i"]: r["ts"] for r in out.collect()}
    assert got[0] == dt.datetime(2024, 1, 15, 17, 0)  # EST -5
    assert got[1] == dt.datetime(2024, 7, 15, 16, 0)  # EDT -4 (DST!)
    # kernel path agrees with the JVM path
    out2 = fs.validate(df, {"ts": fs.Datetime(timezone=ny, strict=False)})
    got2 = {r["i"]: r["ts"] for r in out2.collect()}
    assert got2 == got


def test_datetime_pytz_normalised_to_real_rules(spark):
    """pytz zones attached with replace() yield LMT offsets (Kolkata
    +5:53); both our paths must instead apply the real zone rules and
    agree with each other (ADVICE r2, DEVIATIONS #2)."""
    import datetime as dt

    pytz = pytest.importorskip("pytz")

    df = spark.createDataFrame([(0, "2020-01-01 00:00:00")], "i int, ts string")
    kolkata = pytz.timezone("Asia/Kolkata")
    expect = dt.datetime(2019, 12, 31, 18, 30)  # real +5:30, NOT +5:53 LMT
    for strict in (True, False):
        out = fs.validate(
            df, {"ts": fs.Datetime(timezone=kolkata, strict=strict)}
        )
        assert out.collect()[0]["ts"] == expect, f"strict={strict}"


def test_json_decode_rejects_python_only_tokens(spark):
    """DEVIATIONS #15: Python's json.loads accepts bare NaN / Infinity
    / -Infinity (a CPython extension the reference inherits); the
    engine is strict RFC 8259 and codes them not_json.  Standard JSON
    both grammars accept must still parse."""
    import filters_spark as fs

    rows = [
        ("NaN",), ("Infinity",), ("-Infinity",), ('{"a": NaN}',),
        ('{"a": 1.5}',), ("[1, 2]",), ('"x"',),
    ]
    df = spark.createDataFrame(rows, "v string")
    out = fs.validate(df, {"v": fs.JsonDecode()}).collect()
    by_idx = [
        (r["_violations"][0]["code"] if r["_violations"] else None)
        for r in out
    ]
    assert by_idx[:4] == ["not_json"] * 4  # python-only tokens rejected
    assert by_idx[4:] == [None, None, None]  # real JSON passes


def test_int_and_decimal_overflow_is_invalid_not_crash(spark):
    """Bounded-envelope principle (DEVIATIONS #4/#6): values outside the
    engine's 64-bit / DECIMAL(38,18) envelopes become INVALID rows with
    codes — never an ANSI CAST_OVERFLOW that kills the job (deep-fuzz
    found r5: a 20-digit integral string crashed Int(); a 1e30 double
    crashed the float coercion branch)."""
    import filters_spark as fs
    from filters_spark.core.compiler import attach_chain

    cases = [
        ("9223372036854775807", 9223372036854775807, []),       # i64 max
        ("-9223372036854775808", -9223372036854775808, []),     # i64 min
        ("9223372036854775808", None, ["too_big"]),             # max+1
        ("-9223372036854775809", None, ["too_small"]),          # min-1
        ("82827072928308621121", None, ["too_big"]),            # 20 digits
        ("-82827072928308621121", None, ["too_small"]),
        # fractional outranks range (reference: not_int)
        ("82827072928308621121.5", None, ["not_int"]),
        # beyond the DECIMAL(38,18) envelope: numeric SYNTAX classifies
        # the overflow (integral -> too_big/too_small by sign,
        # fractional -> not_int matching the reference exactly)
        ("9" * 25, None, ["too_big"]),
        ("-" + "9" * 25, None, ["too_small"]),
        ("-" + "9" * 25 + ".25", None, ["not_int"]),
        # >18 zeros then a digit must NOT round to a false integral
        ("5." + "0" * 19 + "1", None, ["not_int"]),
        ("5." + "0" * 25, 5, []),
        # exponent overflow residue stays not_numeric (documented)
        ("1e99", None, ["not_numeric"]),
    ]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _, _) in enumerate(cases)], "i int, v string"
    )
    out, val_col, viol_col = attach_chain(df, "v", fs.Int(), key="v")
    got = {
        r["i"]: (r[val_col], sorted(x["code"] for x in r[viol_col]))
        for r in out.collect()
    }
    for i, (v, exp_val, exp_codes) in enumerate(cases):
        assert got[i] == (exp_val, exp_codes), f"Int({v!r}) -> {got[i]}"

    # float branch: 1e30 double cannot fit DECIMAL(38,18) -> invalid
    fdf = spark.createDataFrame(
        [(0, 1e30), (1, -1e30), (2, 12.0), (3, float("inf"))],
        "i int, v double",
    )
    out2, val2, viol2 = attach_chain(fdf, "v", fs.Decimal(), key="v")
    got2 = {
        r["i"]: (r[val2], sorted(x["code"] for x in r[viol2]))
        for r in out2.collect()
    }
    assert got2[0] == (None, ["not_numeric"])
    assert got2[1] == (None, ["not_numeric"])
    assert got2[2][1] == [] and float(got2[2][0]) == 12.0
    assert got2[3] == (None, ["not_finite"])

    # wider decimal input beyond the envelope -> invalid, not crash
    ddf = spark.createDataFrame(
        [(0, "9" * 30), (1, "5")], "i int, v string"
    ).selectExpr("i", "cast(v as decimal(38,0)) v")
    out3, val3, viol3 = attach_chain(ddf, "v", fs.Int(), key="v")
    got3 = {
        r["i"]: (r[val3], sorted(x["code"] for x in r[viol3]))
        for r in out3.collect()
    }
    assert got3[0] == (None, ["not_numeric"])
    assert got3[1] == (5, [])


@pytest.mark.parametrize(
    "col,rule,key",
    [
        ("a", fs.FilterRepeater(fs.FilterRepeater(fs.Max(100))), "a.0.1"),
        ("t", fs.FilterRepeater(fs.FilterMapper({"n": fs.Max(100)})), "t.0.n"),
        (
            "t",
            fs.FilterRepeater(fs.FilterSwitch("n", {7: fs.Required()})),
            "t.0",
        ),
        (
            "t",
            fs.FilterRepeater(
                fs.FilterMapper({"n": None, "z": None}, allow_missing_keys=False)
            ),
            "t.0.z",
        ),
        ("s", fs.FilterMapper({"xs": fs.FilterRepeater(fs.Max(100))}), "s.xs.1"),
    ],
    ids=["repeater_in_repeater", "mapper_in_repeater", "switch_in_repeater",
         "missing_in_repeater", "repeater_in_mapper"],
)
def test_nested_structural_keys_keep_their_parent_key(spark, col, rule, key):
    """A structural step nested in a FilterRepeater builds its children's
    keys, and the messages that name them, from the element key
    (``a.0.1``), not from an empty one."""
    df = spark.createDataFrame(
        [([[1, 500], [7]], [{"n": 500}], {"xs": [3, 500]})],
        "a array<array<int>>, t array<struct<n:int>>, s struct<xs:array<int>>",
    )
    (row,) = fs.validate(df, {col: rule}).collect()
    assert [v["key"] for v in row["_violations"]] == [key]
    for v in row["_violations"]:
        if v["code"] == "missing":
            assert v["message"] == f"{key} is required."


def test_bytearray_root_key_is_the_bare_index(spark):
    """Under the root key ``""`` ByteArray keys an out-of-range byte by
    its bare index, as FilterRepeater does (``1``, not ``.1``)."""
    from filters_spark.core.compiler import attach_chain

    df = spark.createDataFrame([([1, 300, -2],)], "a array<int>")
    out, _, w = attach_chain(df, "a", fs.ByteArray(), key="")
    assert [(v["key"], v["code"]) for v in out.collect()[0][w]] == [
        ("1", "too_big"), ("2", "too_small")
    ]
