"""Table-level engine tests over the deterministic transcripts generator."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

import filters_spark as fs
from filters_spark.data.transcripts import transcripts, transcripts_baseline
from filters_spark.engine import (
    CheckpointManifest,
    ValidationSuite,
    column_stats,
    duplicate_keys,
    frequencies,
    gapless_by_agg,
    gaps_by_window,
    kl_divergence,
    orphans,
    psi,
    run_resumable,
    salted_agg,
)
from filters_spark.engine.drift import length_histogram
from filters_spark.engine.stats import hist_vectors
from filters_spark.engine.uniqueness import uniqueness_report

N_CONVS = 300


@pytest.fixture(scope="module")
def tdf(spark):
    df = transcripts(spark, n_convs=N_CONVS).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def baseline(spark):
    df = transcripts_baseline(spark, n_convs=N_CONVS).cache()
    df.count()
    return df


RULES = {
    "text": fs.Required() | fs.Unicode() | fs.Strip() | fs.MaxLength(2000),
    "role": fs.Required() | fs.Choice(("system", "user", "assistant", "tool")),
    "tool": fs.Choice(("search", "code", "browser")),
    "turn_idx": fs.Min(0),
}


def test_generator_deterministic(spark, tdf):
    again = transcripts(spark, n_convs=N_CONVS)
    assert again.count() == tdf.count()
    def table_hash(d):
        return d.select(
            F.sum(F.xxhash64(*d.columns).cast("decimal(38,0)")).alias("h")
        ).first()["h"]

    h1, h2 = table_hash(tdf), table_hash(again)
    assert h1 == h2


def test_generator_seeds_issues(tdf):
    assert tdf.where(F.col("role") == "robot").count() > 0
    assert tdf.where(F.col("tool") == "laser").count() > 0
    assert tdf.where(F.col("text").isNull()).count() > 0
    assert tdf.where(F.length("text") > 2000).count() > 0


def test_uniqueness_finds_seeded_dups(tdf):
    dups = duplicate_keys(tdf, ["conv_id", "turn_idx"])
    n_dup_keys = dups.count()
    assert n_dup_keys > 0
    report = uniqueness_report(tdf, ["conv_id", "turn_idx"]).first()
    assert report["total_rows"] == tdf.count()
    assert report["dup_keys"] == n_dup_keys
    assert report["surplus_rows"] >= n_dup_keys


def test_gapless_agg_matches_window(tdf):
    """The scale path (hash agg) and the reporting path (window lag) must
    agree on which conversations have gaps."""
    agg_gappy = {
        r["conv_id"]
        for r in gapless_by_agg(tdf).where(~F.col("is_gapless")).collect()
    }
    # window path flags gap rows; dedupe to convs.  It also catches
    # convs not starting at 0 — same convs the agg path flags via min>0.
    win_gappy = {
        r["conv_id"] for r in gaps_by_window(tdf).select("conv_id").collect()
    }
    assert agg_gappy == win_gappy
    assert len(agg_gappy) > 0  # generator seeded gaps


def test_orphans(spark, tdf):
    parents = tdf.select("conv_id").distinct().where(
        F.xxhash64("conv_id") % 10 != 0
    )
    orphan_rows = orphans(tdf, parents, "conv_id", broadcast_parent=True)
    expected = tdf.join(parents, "conv_id", "left_anti").count()
    assert orphan_rows.count() == expected


def test_salted_agg_matches_plain(tdf):
    plain = {
        r["conv_id"]: (r["n"], r["mx"])
        for r in tdf.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("turn_idx").alias("mx"))
        .collect()
    }
    salted = {
        r["conv_id"]: (r["n"], r["mx"])
        for r in salted_agg(
            tdf,
            "conv_id",
            {"n": ("count", "*"), "mx": ("max", "turn_idx")},
            salt_buckets=8,
        ).collect()
    }
    assert salted == plain


def test_column_stats(tdf):
    stats = {
        (r["column"], r["metric"]): r["value"]
        for r in column_stats(
            tdf, ["turn_idx", "text", "role"], exact_distinct=True
        ).collect()
    }
    n = tdf.count()
    assert stats[("turn_idx", "count")] == n
    assert stats[("turn_idx", "min")] == 0.0
    expected_null_rate = tdf.where(F.col("text").isNull()).count() / n
    assert abs(stats[("text", "null_rate")] - expected_null_rate) < 1e-12
    exact_roles = tdf.select("role").distinct().count()
    assert stats[("role", "distinct")] == exact_roles


def test_hll_distinct_close(tdf):
    def approx_at(rsd):
        return {
            (r["column"], r["metric"]): r["value"]
            for r in column_stats(
                tdf, ["conv_id"], exact_distinct=False, rsd=rsd
            ).collect()
        }[("conv_id", "distinct")]

    exact = tdf.select("conv_id").distinct().count()
    # tight sketch: within 5%; default (cheaper) sketch: within 3*rsd
    assert abs(approx_at(0.02) - exact) / exact < 0.05
    assert abs(approx_at(0.05) - exact) / exact < 0.15


def test_drift_self_is_zero(baseline):
    f1 = frequencies(baseline, "role")
    assert kl_divergence(f1, f1) == pytest.approx(0.0, abs=1e-12)
    h = length_histogram(baseline)
    assert psi(h, h) == pytest.approx(0.0, abs=1e-12)


def test_drift_detects_bias(spark, baseline):
    drifted = transcripts(
        spark, n_convs=N_CONVS, tool_bias=0.9, seed=7,
        dup_mod=10**9, gap_mod=10**9, bad_role_mod=10**9,
        bad_tool_mod=10**9, null_text_mod=10**9, empty_text_mod=10**9,
        long_text_mod=10**9,
    )
    kl_same = kl_divergence(
        frequencies(baseline, "tool"), frequencies(baseline, "tool")
    )
    kl_drift = kl_divergence(
        frequencies(drifted, "tool"), frequencies(baseline, "tool")
    )
    assert kl_drift > kl_same + 0.01


def test_frequencies_cap_bounds_driver_collect(spark):
    """A 10^6-cardinality column must not flood the driver: the top-k
    guard keeps k categories + '__other__' with mass preserved
    (VERDICT r2 item 7)."""
    wide = spark.range(1_000_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
    )
    freq = frequencies(wide, "k", max_categories=100)
    rows = freq.collect()
    assert len(rows) == 101
    assert sum(r["p"] for r in rows) == pytest.approx(1.0)
    other = [r for r in rows if r["k"] == "__other__"]
    assert other and other[0]["p"] == pytest.approx(1 - 100 / 1_000_000)


def test_dist_profile_cap_per_dimension(spark):
    from filters_spark.engine.drift import dist_profile

    wide = spark.range(10_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("role"),
        F.lit("search").alias("tool"),
        F.lit("short text").alias("text"),
    )
    prof = dist_profile(wide, ("role", "tool"), "text")
    # default cap (10k) exceeds role's 10^4 cardinality minus nothing —
    # use an explicit small cap through profile_from_entries
    from filters_spark.engine.drift import cat_entry, profile_from_entries

    capped = profile_from_entries(
        wide, [cat_entry("role", F.col("role"))], max_categories=50
    )
    assert len(capped["cat:role"]) == 51
    assert sum(capped["cat:role"].values()) == pytest.approx(1.0)
    assert prof["cat:tool"] == {"search": 1.0}


def test_profile_from_census_matches_entries(spark):
    """A census summed in Python gives the same profile as the
    one-pass entry aggregation, folded past the cap or not."""
    from filters_spark.engine.drift import (
        cat_entry,
        entry_counts,
        profile_from_census,
        profile_from_entries,
    )

    wide = spark.range(2_000).select(
        (F.col("id") % 120).cast("string").alias("role"),
        F.when(F.col("id") % 7 == 0, None).otherwise("search").alias("tool"),
    )
    entries = [cat_entry(c, F.col(c)) for c in ("role", "tool")]
    census: dict = {}
    for r in entry_counts(wide, entries).collect():
        census.setdefault(r["dim"], {})[r["k"]] = r["n"]
    for cap in (None, 50, 10_000):
        assert profile_from_census(spark, census, cap) == profile_from_entries(
            wide, entries, max_categories=cap
        )
    assert len(profile_from_census(spark, census, 50)["cat:role"]) == 51


def test_suite_raises_on_missing_drift_column(tdf, baseline):
    """A typo'd drift/length column must fail loudly at run() instead of
    silently producing KL=0 over an empty profile (ADVICE r2)."""
    suite = ValidationSuite(RULES, n_buckets=8, drift_cols=("role", "tooool"))
    with pytest.raises(ValueError, match="tooool"):
        suite.run(tdf)
    suite2 = ValidationSuite(RULES, n_buckets=8, length_col="nope")
    with pytest.raises(ValueError, match="nope"):
        suite2.run(tdf)


def test_suite_run_starts_no_spark_job(spark, tdf):
    """``suite.run`` only builds plans: under a job group of its own it
    starts no Spark job, so the first action of the caller (the cache
    fill) is charged to the caller's layer."""
    sc = spark.sparkContext
    sc.setJobGroup("suite-run-build", "ValidationSuite.run builds only")
    try:
        result = ValidationSuite(RULES, n_buckets=8).run(tdf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("suite-run-build")) == []
    # the same job group does see a job when one runs
    sc.setJobGroup("suite-run-build", "ValidationSuite.run builds only")
    try:
        assert result.keyed.count() == tdf.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        result.unpersist()
    assert list(sc.statusTracker().getJobIdsForGroup("suite-run-build"))


def test_suite_run(tdf, baseline):
    from filters_spark.engine.drift import collect_census

    suite = ValidationSuite(RULES, n_buckets=16)
    result = suite.run(tdf)
    census = collect_census(result.keyed, suite.drift_entries(result.keyed))
    verdicts = result.verdicts.collect()
    assert {r["bucket"] for r in verdicts} == set(range(16))
    assert sum(r["n_rows"] for r in verdicts) == tdf.count()
    # seeded bad roles → role violations with the reference code
    bad_roles = tdf.where(~F.col("role").isin(
        "system", "user", "assistant", "tool")).count()
    role_viols = result.violations.where(
        (F.col("key") == "role") & (F.col("code") == "not_valid_choice")
    ).count()
    assert role_viols == bad_roles
    # seeded dups → no bucket with dups passes
    assert any(r["dup_keys"] > 0 for r in verdicts)
    assert all(not r["bucket_pass"] for r in verdicts if r["dup_keys"] > 0)
    drift = suite.drift(tdf, baseline)
    assert "kl_role" in drift and "psi_text_len" in drift
    # the finish takes drift from the cached census, and it equals the
    # drift of a scan of the input
    summary = suite.finish(
        tdf, verdicts, result.verdicts.schema, census, result.stats, baseline
    )
    result.unpersist()
    assert summary["drift"] == drift
    assert not summary["passed"]  # seeded violations must fail the table


def test_text_equality_oracle(tdf):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering:
    the cleaned text equals the reference Unicode pipeline output
    (already byte-matched in goldens); here we check the table-level
    invariant that ordering and pairing survive the engine pass."""
    suite = ValidationSuite(RULES, n_buckets=8)
    rows = suite.row_results(tdf)
    sample = (
        rows.where(F.col("_is_valid"))
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .limit(50)
        .collect()
    )
    raw = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in tdf.orderBy("conv_id", "turn_idx").limit(5000).collect()
    }
    import unicodedata

    for r in sample:
        k = (r["conv_id"], r["turn_idx"])
        if k in raw and raw[k] is not None:
            expect = unicodedata.normalize("NFC", raw[k]).replace(
                "\r\n", "\n"
            ).replace("\r", "\n").strip()
            # engine Strip also removes non-printables at the ends only;
            # generator text has none beyond whitespace/CR
            assert r["text"] == expect or r["text"] == expect.strip()


def _raw_bucket_states(df, suite):
    """``{bucket: state JSON}`` computed directly on the raw input (the
    suite's stat columns, keyed by its bucket)."""
    from filters_spark.engine.stats import (
        bucket_stat_states, stat_inputs, stat_kinds,
    )

    cols = suite.stat_columns or df.columns
    narrow = df.select(
        suite.bucket_fn(F.col(suite.conv), suite.n_buckets).alias("__b"),
        *[e.alias(c) for c, e in stat_inputs(df, cols).items()],
    )
    return bucket_stat_states(narrow, stat_kinds(df, cols), "__b")


def _stats_of(df, suite, states):
    """``{(column, metric): (value, value_str)}`` of merged states."""
    from filters_spark.engine.stats import (
        merge_stat_states, stat_kinds, stat_table,
    )

    kinds = stat_kinds(df, suite.stat_columns or df.columns)
    return _table(stat_table(merge_stat_states(df, kinds, states), kinds))


def _table(stats):
    return {
        (r["column"], r["metric"]): (r["value"], r["value_str"])
        for r in stats.collect()
    }


def test_checkpoint_sketch_state_accumulates(tmp_path, tdf, baseline):
    """Accumulated sketch state (north rule): per-bucket HLL sketches
    ride the manifest's stat state; a killed-then-resumed job unions
    sketches from BOTH runs into table-wide distinct estimates without
    rescanning the first run's buckets, and they equal the union of the
    per-bucket states computed directly on the raw input."""
    suite = ValidationSuite(RULES, n_buckets=8)
    manifest = CheckpointManifest(tmp_path / "msk")
    partial = run_resumable(
        tdf, suite, manifest, baseline=baseline, buckets_per_job=2,
        fail_after_buckets=4, sketch_cols=["conv_id", "role"],
    )
    assert partial["aborted"]
    final = run_resumable(
        tdf, suite, manifest, baseline=baseline, buckets_per_job=4,
        sketch_cols=["conv_id", "role"],
    )
    est = final["distinct_estimates"]
    exact_conv = (
        tdf.where(F.col("conv_id").isNotNull())
        .select("conv_id").distinct().count()
    )
    exact_role = (
        tdf.where(F.col("role").isNotNull())
        .select("role").distinct().count()
    )
    assert abs(est["conv_id"] - exact_conv) / exact_conv < 0.05
    assert est["role"] == pytest.approx(exact_role, abs=1)
    # the sketches really are in the manifest (resumability evidence):
    # each bucket's state reads the distinct counts of the state taken
    # directly on its raw rows, and the estimates are their union's
    raw = _raw_bucket_states(tdf, suite)
    assert set(raw) == manifest.completed()
    for b in raw:
        got = _stats_of(tdf, suite, [manifest.read(b)["stats"]])
        want = _stats_of(tdf, suite, [raw[b]])
        assert {k: v for k, v in got.items() if k[1] == "distinct"} == {
            k: v for k, v in want.items() if k[1] == "distinct"
        }
    whole = _stats_of(tdf, suite, list(raw.values()))
    assert est == {c: whole[(c, "distinct")][0] for c in ("conv_id", "role")}
    # estimates come off the stat state, so sketch columns must be in it
    narrow = ValidationSuite(RULES, n_buckets=8, stat_columns=["role"])
    with pytest.raises(ValueError, match="not stat columns"):
        run_resumable(tdf, narrow, tmp_path / "mx", sketch_cols=["conv_id"])


def test_checkpoint_resume(tmp_path, tdf, baseline):
    suite = ValidationSuite(RULES, n_buckets=8)
    manifest = CheckpointManifest(tmp_path / "manifest")
    # simulate a killed job after 3 buckets
    partial = run_resumable(
        tdf, suite, manifest, baseline=baseline, buckets_per_job=2,
        fail_after_buckets=3,
    )
    assert partial["aborted"] and partial["completed"] == 3
    assert len(manifest.completed()) == 3
    # resume: completes only the remaining buckets
    final = run_resumable(tdf, suite, manifest, baseline=baseline,
                          buckets_per_job=4)
    assert not final["aborted"]
    assert final["completed"] == 8
    assert final["n_rows"] == tdf.count()
    assert final["passed"] is False


def test_violations_with_values_joins_back_offending_values(tdf):
    """North rule: violation rows carry (filter code, chain path,
    offending value).  The struct stays narrow in the suite's shuffles;
    violations_with_values recovers the ORIGINAL input value with one
    equi-join + key→value map lookup, truncated to max_chars."""
    from filters_spark.engine import violations_with_values

    suite = ValidationSuite(RULES, n_buckets=8)
    result = suite.run(tdf)
    got = violations_with_values(
        result.violations, tdf, max_chars=16
    ).collect()
    result.unpersist()
    assert got, "fixture generates violations"
    src = {
        (r["conv_id"], r["turn_idx"]): r.asDict() for r in tdf.collect()
    }
    for r in got:
        orig = src[(r["conv_id"], r["turn_idx"])][r["key"]]
        if orig is None:
            assert r["value"] is None
        else:
            assert r["value"] == str(orig)[:16]
    # every violation row got exactly one value column appended
    assert set(got[0].asDict()) == {
        "conv_id", "turn_idx", "bucket", "key", "code", "message", "value"
    }


def _add(x, k=0):
    return x + k


def _call_adding(n):
    """A ``Call`` rule whose callable closes over ``n``."""
    return fs.Call(lambda x: x + n)


@pytest.mark.parametrize(
    "before,after",
    (
        (lambda: fs.MaxLength(2000), lambda: fs.MaxLength(2000, truncate=True)),
        (lambda: fs.Unicode(), lambda: fs.Unicode(normalize=False)),
        (lambda: fs.FilterRepeater(fs.Min(0)), lambda: fs.FilterRepeater(fs.Min(5))),
        (
            lambda: fs.FilterMapper({"a": fs.Min(0)}),
            lambda: fs.FilterMapper({"a": fs.Min(5)}),
        ),
        (lambda: fs.Call(lambda x: x + 1), lambda: fs.Call(lambda x: x + 2)),
        (
            lambda: fs.Call(functools.partial(_add, k=1)),
            lambda: fs.Call(functools.partial(_add, k=2)),
        ),
        (lambda: _call_adding(1), lambda: _call_adding(2)),
    ),
    ids=[
        "truncate", "normalize", "repeater", "mapper", "lambda-body", "partial",
        "closure",
    ],
)
def test_checkpoint_refuses_rule_parameter_changes(tmp_path, before, after):
    """The fingerprint signs every parameter of a rule, also those its
    ``repr`` leaves out, and a callable by its code, defaults and
    closure: a resume with the changed rule is refused, one with an
    equal rule (a new instance; a callable rebuilt by the same helper)
    is not."""
    from filters_spark.engine.checkpoint import STATE_VERSION, suite_fingerprint

    def fingerprint(rule):
        return suite_fingerprint(ValidationSuite({"x": rule()}), {})

    manifest = CheckpointManifest(tmp_path / "m")
    manifest.mark(
        0, {"state_version": STATE_VERSION, "suite_fingerprint": fingerprint(before)}
    )
    manifest.check_compatible(fingerprint(before))
    with pytest.raises(RuntimeError, match="suite config"):
        manifest.check_compatible(fingerprint(after))


def test_checkpoint_refuses_incompatible_state(tmp_path, tdf, baseline):
    """Resume must REFUSE to merge manifest entries written by another
    state-schema version or another suite config — silently blending
    incompatible per-bucket state would corrupt the aggregate (VERDICT
    r4 item 7)."""
    import json as _json

    from filters_spark.engine.checkpoint import STATE_VERSION

    suite = ValidationSuite(RULES, n_buckets=8)
    manifest = CheckpointManifest(tmp_path / "m")
    partial = run_resumable(
        tdf, suite, manifest, baseline=baseline, buckets_per_job=2,
        fail_after_buckets=2,
    )
    assert partial["aborted"] and len(manifest.completed()) == 2

    # changed rules -> different fingerprint -> refuse
    changed = ValidationSuite(
        {**RULES, "text": fs.Required() | fs.MaxLength(500)}, n_buckets=8
    )
    with pytest.raises(RuntimeError, match="suite config"):
        run_resumable(tdf, changed, manifest, baseline=baseline)
    # changed bucket count -> refuse
    with pytest.raises(RuntimeError, match="suite config"):
        run_resumable(
            tdf, ValidationSuite(RULES, n_buckets=4), manifest,
            baseline=baseline,
        )
    # entry doctored to a foreign state version (e.g. an r4-era
    # unversioned manifest reads as v1) -> refuse
    b = sorted(manifest.completed())[0]
    p = manifest._file(b)
    entry = _json.loads(p.read_text())
    doctored = dict(entry, state_version=STATE_VERSION + 1)
    p.write_text(_json.dumps(doctored))
    with pytest.raises(RuntimeError, match="state version"):
        run_resumable(tdf, suite, manifest, baseline=baseline)
    p.write_text(_json.dumps(entry))

    # identical config resumes cleanly and completes the table
    final = run_resumable(tdf, suite, manifest, baseline=baseline,
                          buckets_per_job=4)
    assert not final["aborted"] and final["completed"] == 8
    assert final["n_rows"] == tdf.count()


def test_checkpoint_refuses_rewritten_input(tmp_path, spark):
    """The input files are part of the manifest's fingerprint: a resume
    over the same parquet files goes on, but one after the table was
    rewritten is refused, naming the files it reads, instead of merging
    the old rows' state with the new rows'."""
    import re

    def table(n):
        return spark.range(n).select(
            (F.col("id") % 10).cast("string").alias("conv_id"),
            (F.col("id") / 10).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.lit(None).cast("string").alias("tool"),
            F.concat(F.lit("turn "), F.col("id").cast("string")).alias("text"),
        )

    src = str(tmp_path / "input")
    table(120).write.parquet(src)
    suite = ValidationSuite(RULES, n_buckets=8)
    manifest = CheckpointManifest(tmp_path / "m")
    for completed in (2, 4):
        partial = run_resumable(
            spark.read.parquet(src), suite, manifest, buckets_per_job=2,
            fail_after_buckets=2,
        )
        assert partial == {"completed": completed, "aborted": True}
    table(1200).write.mode("overwrite").parquet(src)
    rewritten = spark.read.parquet(src)
    first_file = sorted(rewritten.inputFiles())[0]
    with pytest.raises(RuntimeError, match=re.escape(first_file)):
        run_resumable(rewritten, suite, manifest, buckets_per_job=2)
    fresh = run_resumable(rewritten, suite, CheckpointManifest(tmp_path / "f"))
    assert fresh["n_rows"] == 1200


def test_checkpoint_table_rules_state(tmp_path, tdf):
    """Table rules are part of the checkpointed suite config: resuming
    with changed table rules is refused, a resumed run's ``rule_fails``
    equals the one-shot ``suite.run`` total, and empty buckets record
    zero rule failures."""
    def half(c, n):  # buckets n/2..n-1 stay empty
        return F.pmod(F.xxhash64(c), F.lit(n // 2)).cast("int")

    rules = {"tool_on_assistant": "tool IS NULL OR role = 'assistant'"}
    suite = ValidationSuite(
        RULES, n_buckets=8, bucket_fn=half, table_rules=rules
    )
    manifest = CheckpointManifest(tmp_path / "mr")
    partial = run_resumable(
        tdf, suite, manifest, buckets_per_job=2, fail_after_buckets=2
    )
    assert partial["aborted"]
    changed = ValidationSuite(
        RULES, n_buckets=8, bucket_fn=half,
        table_rules={"no_tool": "tool IS NULL"},
    )
    with pytest.raises(RuntimeError, match="suite config"):
        run_resumable(tdf, changed, manifest)

    final = run_resumable(tdf, suite, manifest, buckets_per_job=4)
    result = suite.run(tdf)
    one_shot = sum(r["rule_fails"] for r in result.verdicts.collect())
    result.unpersist()
    assert one_shot > 0
    assert final["completed"] == 8 and final["rule_fails"] == one_shot
    assert [manifest.read(b)["verdict"]["rule_fails"] for b in (6, 7)] == [
        0, 0
    ]


def test_checkpoint_drift_once_gates_passed(tmp_path, spark, tdf, baseline):
    """run_resumable computes drift once, over the whole input, after the
    bucket loop: a resumed run reports the one-shot ``suite.drift``, and
    a drifted baseline fails a table whose every bucket passes."""
    suite = ValidationSuite(RULES, n_buckets=8)
    manifest = CheckpointManifest(tmp_path / "md")
    partial = run_resumable(
        tdf, suite, manifest, baseline=baseline, buckets_per_job=2,
        fail_after_buckets=3,
    )
    assert partial["aborted"] and "drift" not in partial
    final = run_resumable(
        tdf, suite, manifest, baseline=baseline, buckets_per_job=4
    )
    assert final["drift"] == suite.drift(tdf, baseline)

    clean = spark.range(40).select(
        (F.col("id") % 10).cast("string").alias("conv_id"),
        (F.col("id") / 10).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("hello").alias("text"),
    )
    drifted = clean.withColumn("role", F.lit("assistant"))
    mc = CheckpointManifest(tmp_path / "mc")
    out = run_resumable(clean, suite, mc, baseline=drifted)
    assert all(mc.read(b)["verdict"]["bucket_pass"] for b in mc.completed())
    assert out["drift"]["drift_failed"] and out["passed"] is False


def test_checkpoint_state_from_one_read(tmp_path, spark, tdf, baseline):
    """A resumed run's per-bucket stat state and histograms come from the
    chain pass, yet equal the state computed directly on the raw input;
    every entry carries the bucket's census (state version 4), and a
    manifest written by state version 3 is refused."""
    import json as _json

    from filters_spark.engine.checkpoint import STATE_VERSION
    from filters_spark.engine.stats import bucket_length_histograms

    assert STATE_VERSION == 4
    suite = ValidationSuite(RULES, n_buckets=8)
    manifest = CheckpointManifest(tmp_path / "ms")
    kw = dict(
        sketch_cols=["conv_id", "text"], hist_cols=["text", "turn_idx"],
        hist_bins=16, hist_range=(0.0, 512.0),
    )
    partial = run_resumable(
        tdf, suite, manifest, buckets_per_job=2, fail_after_buckets=3, **kw
    )
    assert partial["aborted"]
    final = run_resumable(tdf, suite, manifest, buckets_per_job=4, **kw)
    assert final["completed"] == 8

    bucket = suite.bucket_fn(F.col("conv_id"), 8)
    raw = _raw_bucket_states(tdf, suite)
    hists = bucket_length_histograms(
        tdf, bucket, ["text", "turn_idx"], bins=16, lo=0.0, hi=512.0
    )
    assert set(raw) == set(hists) == set(range(8))
    for b in range(8):
        entry = manifest.read(b)
        assert entry["state_version"] == STATE_VERSION
        census = entry["census"]
        assert hist_vectors(census, 16) == hists[b]
        # apart from the KLL sketch (randomised compaction) the states
        # agree exactly; its quantiles lie within the bucket's range
        got = _stats_of(tdf, suite, [entry["stats"]])
        want = _stats_of(tdf, suite, [raw[b]])
        assert got.keys() == want.keys()
        for (c, m), v in got.items():
            q = m.rsplit("_", 1)[-1]
            if q[0] == "p" and q[1:].isdigit():
                lab = m[: -len(q)]
                lo, hi = want[(c, lab + "min")][0], want[(c, lab + "max")][0]
                assert lo <= v[0] <= hi, (c, m)
            else:
                assert v == want[(c, m)], (c, m)
        assert set(census) == {
            "cat:role", "cat:tool", "len:text", "hist:text", "hist:turn_idx"
        }
        assert all(
            sum(census[d].values()) == entry["verdict"]["n_rows"]
            for d in census
        )
    # the summed censuses are the whole table's uncapped profile counts
    roles = {
        r["role"] or "__null__": r["count"]
        for r in tdf.groupBy("role").count().collect()
    }
    summed: dict = {}
    for b in range(8):
        for k, n in manifest.read(b)["census"]["cat:role"].items():
            summed[k] = summed.get(k, 0) + n
    assert summed == roles

    # an entry written by state version 3 is refused
    p = manifest._file(0)
    p.write_text(_json.dumps(dict(manifest.read(0), state_version=3)))
    with pytest.raises(RuntimeError, match="state version 3"):
        run_resumable(tdf, suite, manifest, **kw)


def test_checkpoint_reads_each_input_row_once(tmp_path, spark, tdf, baseline):
    """A full resumable run — with a baseline, sketches, histograms and
    its stats table — reads each input row once: a non-deterministic
    counting filter on the input sees every row exactly one time (the
    bucket predicate cannot move below it, so one group covers all
    buckets)."""
    seen = spark.sparkContext.accumulator(0)

    def count_row(_):
        seen.add(1)
        return True

    counted = tdf.where(
        F.udf(count_row, "boolean").asNondeterministic()(F.col("conv_id"))
    )
    suite = ValidationSuite(RULES, n_buckets=8)
    out = run_resumable(
        counted, suite, CheckpointManifest(tmp_path / "m1"),
        baseline=baseline, buckets_per_job=8, sketch_cols=["conv_id"],
        hist_cols=["text"],
    )
    assert out["completed"] == 8 and out["drift"]
    # the stats table is built from the manifest's merged states, inside
    # the same counted read
    stats = _table(out["stats"])
    assert stats[("conv_id", "count")][0] == tdf.count()
    assert seen.value == tdf.count()


def test_run_resumable_builds_one_row_pass(tmp_path, tdf, monkeypatch):
    """``run_resumable`` compiles the rule chains once per call, however
    many bucket groups it runs, and the ``hist_cols`` bins ride that
    pass as carried columns, not as stat columns: no group's persisted
    projection holds a stat input of a bin (``__raw___raw_...``)."""
    import filters_spark.engine.suite as suite_mod
    from filters_spark.engine.checkpoint import HIST_PREFIX
    from filters_spark.engine.stats import RAW_PREFIX

    compiles, keyed_columns = [], []
    validate, row_pass = suite_mod.validate, ValidationSuite._row_pass

    def counting_validate(*args, **kwargs):
        compiles.append(1)
        return validate(*args, **kwargs)

    def recording_row_pass(self, rows):
        result = row_pass(self, rows)
        keyed_columns.append(result.keyed.columns)
        return result

    monkeypatch.setattr(suite_mod, "validate", counting_validate)
    monkeypatch.setattr(ValidationSuite, "_row_pass", recording_row_pass)
    suite = ValidationSuite(RULES, n_buckets=8)
    out = run_resumable(
        tdf, suite, CheckpointManifest(tmp_path / "m"), buckets_per_job=2,
        hist_cols=["text"],
    )
    assert out["completed"] == 8 and out["n_rows"] == tdf.count()
    assert len(keyed_columns) == 4 and len(compiles) == 1
    for cols in keyed_columns:
        assert HIST_PREFIX + "text" in cols
        assert not [c for c in cols if c.startswith(RAW_PREFIX + RAW_PREFIX)]


@pytest.mark.parametrize("route", ["suite.run", "column_stats", "run_resumable"])
def test_stats_of_empty_input(route, tmp_path, tdf):
    """Over an empty input every stats route gives one table: each
    column's ``count`` is 0 and every other metric NULL (not a division
    by the zero count, nor the NULL count of a merge of no states)."""
    empty = tdf.limit(0)
    suite = ValidationSuite(RULES, n_buckets=8)
    if route == "suite.run":
        result = suite.run(empty)
        got = _table(result.stats)
        result.unpersist()
    elif route == "column_stats":
        got = _table(column_stats(empty))
    else:
        got = _table(run_resumable(empty, suite, tmp_path / "m")["stats"])
    assert got.keys() == _table(column_stats(tdf)).keys()
    assert got == {
        (c, m): (0.0 if m == "count" else None, None) for c, m in got
    }


@pytest.mark.parametrize(
    "first, resumed",
    [
        (dict(hist_cols=["text"], hist_bins=16),
         dict(hist_cols=["text"], hist_bins=32)),
        ({}, dict(hist_cols=["text"])),
    ],
    ids=["hist_bins_changed", "hist_cols_added"],
)
def test_checkpoint_refuses_changed_state_spec(tmp_path, tdf, first, resumed):
    """The state spec is part of the manifest fingerprint: a resume that
    changes ``hist_bins``, or adds ``hist_cols``, is refused instead of
    merging state that covers part of the table or another grid."""
    suite = ValidationSuite(RULES, n_buckets=8)
    manifest = CheckpointManifest(tmp_path / "m")
    partial = run_resumable(
        tdf, suite, manifest, buckets_per_job=2, fail_after_buckets=2, **first
    )
    assert partial["aborted"]
    with pytest.raises(RuntimeError, match="suite config"):
        run_resumable(tdf, suite, manifest, **resumed)
    assert len(manifest.completed()) == 2


#: test bound on KLL quantile rank error: twice the 1.33% that k = 200
#: gives one quantile at 99% confidence, since compaction is randomised
KLL_RANK_TOL = 2 * 0.0133


def test_stats_high_cardinality_exact_and_sketch_bounds(tmp_path, spark):
    """Tens of thousands of distinct strings with a wide spread of
    lengths: one-shot ``column_stats``, the suite's stats and a
    killed-then-resumed run's stats all equal the exact count,
    null_rate, min, max, avg and timestamp min/max, and read distinct
    counts and quantiles within the HLL and KLL error stated in
    engine/stats.py."""
    import bisect

    idx = F.col("id")
    hc = spark.range(40_000).select(
        F.format_string("c%05d", (idx / 8).cast("long")).alias("conv_id"),
        (idx % 8).cast("int").alias("turn_idx"),
        F.when(
            idx % 17 != 0,
            F.concat(
                F.repeat(F.lit("x"), ((idx * 7919) % 1500).cast("int")),
                idx.cast("string"),
            ),
        ).alias("text"),
        F.when(
            idx % 23 != 0,
            F.timestamp_micros(F.lit(1_767_225_600_000_000) + idx * 1_000_003),
        ).alias("ts"),
        ((idx * 31) % 9973 / 4).cast("decimal(12,2)").alias("amt"),
    ).cache()
    measure = {
        "conv_id": F.length("conv_id"),
        "turn_idx": F.col("turn_idx"),
        "text": F.length("text"),
        "amt": F.col("amt"),
    }
    cols = [*measure, "ts"]
    agg = hc.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(c).alias(f"{c}_nn") for c in cols],
        *[F.count_distinct(c).alias(f"{c}_d") for c in cols],
        *[F.min(v).alias(f"{c}_min") for c, v in measure.items()],
        *[F.max(v).alias(f"{c}_max") for c, v in measure.items()],
        *[F.sum(v).alias(f"{c}_sum") for c, v in measure.items()],
        F.min("ts").cast("string").alias("ts_min"),
        F.max("ts").cast("string").alias("ts_max"),
    ).first()
    n = agg["n"]
    assert agg["text_d"] > 30_000
    exact = {
        ("ts", "min"): (None, agg["ts_min"]),
        ("ts", "max"): (None, agg["ts_max"]),
    }
    for c in cols:
        exact[(c, "count")] = (float(n), None)
        exact[(c, "null_rate")] = ((n - agg[f"{c}_nn"]) / n, None)
    values = {}
    for c, v in measure.items():
        lab = "len_" if c in ("conv_id", "text") else ""
        nn = agg[f"{c}_nn"]
        exact[(c, lab + "min")] = (float(agg[f"{c}_min"]), None)
        exact[(c, lab + "max")] = (float(agg[f"{c}_max"]), None)
        exact[(c, lab + "avg")] = (float(agg[f"{c}_sum"]) / nn, None)
        values[c] = sorted(
            float(r[0]) for r in hc.select(v).dropna().collect()
        )

    suite = ValidationSuite(
        {"text": fs.Required() | fs.MaxLength(1000)},
        n_buckets=8, drift_cols=(), length_col=None,
    )
    result = suite.run(hc)
    suite_stats = _table(result.stats)
    result.unpersist()
    manifest = CheckpointManifest(tmp_path / "mhc")
    assert run_resumable(
        hc, suite, manifest, buckets_per_job=2, fail_after_buckets=3
    )["aborted"]
    resumed = run_resumable(hc, suite, manifest, buckets_per_job=4)
    assert resumed["completed"] == 8

    one_shot = _table(column_stats(hc))
    for got in (one_shot, suite_stats, _table(resumed["stats"])):
        assert {k: got[k] for k in exact} == exact
        for c in cols:
            rel = abs(got[(c, "distinct")][0] - agg[f"{c}_d"]) / agg[f"{c}_d"]
            assert rel < 3 * 0.05, (c, rel)
        for c, vals in values.items():
            lab = "len_" if c in ("conv_id", "text") else ""
            for q in (0.25, 0.5, 0.75, 0.95):
                v = got[(c, f"{lab}p{int(q * 100)}")][0]
                lo = bisect.bisect_left(vals, v) / len(vals)
                hi = bisect.bisect_right(vals, v) / len(vals)
                assert lo - KLL_RANK_TOL <= q <= hi + KLL_RANK_TOL, (c, q, v)
    hc.unpersist()


def test_dict_divergences_sum_in_sorted_key_order():
    """KL and PSI over collected dicts do not depend on the order the
    keys were collected in, nor on the interpreter's string hash seed:
    both sum in sorted key order."""
    import json
    import os
    import random
    import subprocess
    import sys

    from filters_spark.engine.drift import kl_from_dicts, psi_from_dicts

    rng = random.Random(3)
    keys = [f"k{i}" for i in range(40)]
    p = {k: rng.random() ** 3 for k in keys}
    q = {k: rng.random() ** 3 for k in keys[5:]}
    rev = dict(reversed(list(p.items())))
    assert kl_from_dicts(p, q) == kl_from_dicts(rev, q)
    assert psi_from_dicts(p, q) == psi_from_dicts(rev, q)

    code = (
        "import json, sys\n"
        "from filters_spark.engine.drift import psi_from_dicts\n"
        "p, q = json.load(sys.stdin)\n"
        "print(repr(psi_from_dicts(p, q)))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    got = {
        subprocess.run(
            [sys.executable, "-c", code],
            input=json.dumps([p, q]),
            capture_output=True,
            text=True,
            check=True,
            cwd=root,
            env={**os.environ, "PYTHONHASHSEED": str(seed)},
        ).stdout.strip()
        for seed in range(6)
    }
    assert got == {repr(psi_from_dicts(p, q))}


def test_salted_agg_spreads_identical_duplicate_flood(spark):
    """A hot key whose rows are BYTE-IDENTICAL must still spread over the
    salt buckets (a value-derived salt would collapse them onto one
    reducer — VERDICT r1 'What's wrong' #4)."""
    from pyspark.sql import functions as F

    n = 100_000
    flood = spark.range(n).select(
        F.lit("hot_conv").alias("conv_id"), F.lit(1).alias("x")
    )
    phase1 = flood.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(32))
    ).groupBy("conv_id", "__salt").agg(F.count(F.lit(1)).alias("c"))
    sizes = [r["c"] for r in phase1.collect()]
    # every salt bucket populated, and no bucket holds more than ~2x fair share
    assert len(sizes) == 32
    assert max(sizes) < 2 * (n / 32)
    # and the public API still aggregates correctly over the flood
    out = salted_agg(
        flood, "conv_id", {"n": ("count", "*"), "sx": ("sum", "x")}
    ).collect()
    assert len(out) == 1 and out[0]["n"] == n and out[0]["sx"] == n


def test_checkpoint_resume_streams_outputs(tmp_path, tdf, baseline, spark):
    """run_resumable(output=...) writes each group's violation parquet
    with dynamic partition overwrite by bucket, and the finish writes the
    flat verdicts table once every bucket has committed: an aborted run
    leaves no verdicts table, and the resumed run writes one row per
    bucket without duplicating already-written violations."""
    import os

    suite = ValidationSuite(RULES, n_buckets=8)
    manifest = CheckpointManifest(tmp_path / "m2")
    out = str(tmp_path / "out")
    run_resumable(tdf, suite, manifest, baseline=baseline,
                  buckets_per_job=2, fail_after_buckets=4, output=out)
    assert not os.path.exists(f"{out}/verdicts")
    assert os.path.exists(f"{out}/violations")
    run_resumable(tdf, suite, manifest, baseline=baseline,
                  buckets_per_job=4, output=out)
    assert not list((tmp_path / "out" / "verdicts").glob("bucket=*"))
    verdicts = spark.read.parquet(f"{out}/verdicts")
    rows = verdicts.collect()
    assert len(rows) == 8  # one per bucket, no duplicates after resume
    assert {r["bucket"] for r in rows} == set(range(8))
    assert sum(r["n_rows"] for r in rows) == tdf.count()
    viols = spark.read.parquet(f"{out}/violations")
    # per-bucket violation rows line up with the verdict counters
    per_bucket = {
        r["bucket"]: r["cnt"]
        for r in viols.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    assert all(v > 0 for v in per_bucket.values())


def test_resume_rejects_mismatched_bucket_fn(tmp_path, tdf, baseline):
    """A custom ``bucket_fn`` (crc32 instead of the default xxhash64)
    resumes end to end: the row pass's ``_bucket`` selects every group
    and keys its verdicts, so all 8 buckets complete and every row is
    counted once."""
    suite = ValidationSuite(RULES, n_buckets=8,
                            bucket_fn=lambda c, n: F.pmod(F.crc32(c), F.lit(n)).cast("int"))
    manifest = CheckpointManifest(tmp_path / "m3")
    final = run_resumable(tdf, suite, manifest, baseline=baseline,
                          buckets_per_job=8)
    assert final["completed"] == 8 and final["n_rows"] == tdf.count()


def _convs_with_empty_key(spark):
    """4 conversations of 3 turns; one has ``conv_id = ""``, which the
    job's ``Required`` rule cleans to NULL."""
    rows = [
        (cid, i, "user" if i % 2 == 0 else "assistant", f"turn {i} of {cid!r}",
         None)
        for cid in ("", "conv-a", "conv-b", "conv-c")
        for i in range(3)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string",
    )


def test_buckets_come_from_the_raw_key(tmp_path, spark):
    """Rows are bucketed by their RAW conv key, the key of the uniqueness
    rollup and of the resume predicate: a chain that nulls the key must
    not move its rows to NULL's bucket."""
    from filters_spark.job import default_rules

    df = _convs_with_empty_key(spark)
    suite = ValidationSuite(default_rules(), n_buckets=8)
    result = suite.run(df)
    verdicts = result.verdicts.collect()
    result.unpersist()
    raw_buckets = {
        r["b"] for r in df.select(
            suite.bucket_fn(F.col("conv_id"), 8).alias("b")
        ).collect()
    }
    assert {r["bucket"] for r in verdicts} == raw_buckets
    assert all(r["n_convs"] is not None for r in verdicts), verdicts
    one_shot = {
        k: sum(r[k] for r in verdicts)
        for k in ("n_rows", "n_invalid", "dup_keys", "gappy_convs")
    }
    assert one_shot == {
        "n_rows": 12, "n_invalid": 3, "dup_keys": 0, "gappy_convs": 0
    }
    manifest = CheckpointManifest(tmp_path / "m")
    partial = run_resumable(
        df, suite, manifest, buckets_per_job=2, fail_after_buckets=3
    )
    assert partial["aborted"]
    final = run_resumable(df, suite, manifest, buckets_per_job=2)
    assert {k: final[k] for k in one_shot} == one_shot
    assert final["passed"] == all(r["bucket_pass"] for r in verdicts)


def test_verdicts_match_python_on_dirty_keys(spark):
    """Every verdict column of every bucket equals a pure-Python
    computation over the raw rows, on keys no clean frame has: duplicate
    keys, gaps, a NULL and an empty conv_id (``Required`` nulls the
    latter), a NULL turn_idx, a negative turn_idx and a failing table
    rule.  Buckets come from ``suite.bucket_fn`` of the raw key."""
    from collections import Counter, defaultdict

    turns = {
        "a": [0, 1, 1, 2],  # one duplicate key
        "b": [0, 2],  # gap
        None: [0, 1],  # NULL conv_id: invalid, still one conversation
        "": [0, 1, 2],  # Required nulls it: invalid
        "c": [0, None, 1],  # NULL turn_idx counts as a distinct turn
        "d": [-1, 0],  # Min(0) fails, and a gap
        "e": [0, 0, 0, 1],  # two surplus rows of one key
        **{f"f{i}": [0, 1] for i in range(8)},
    }
    raw = [
        (c, i, "user" if i == 0 and c == "e" else "assistant",
         "search" if c in ("e", "b") else None, f"{c} {i}")
        for c, idxs in turns.items()
        for i in idxs
    ]
    df = spark.createDataFrame(
        raw, "conv_id string, turn_idx int, role string, tool string, "
        "text string",
    )
    table_rules = {"tool_on_assistant": "tool IS NULL OR role = 'assistant'"}
    suite = ValidationSuite(
        {"conv_id": fs.Required(), "turn_idx": fs.Min(0)},
        n_buckets=4, table_rules=table_rules,
    )
    result = suite.run(df)
    got = {r["bucket"]: tuple(r) for r in result.verdicts.collect()}
    result.unpersist()

    bucketed = df.select(
        "*", suite.bucket_fn(F.col("conv_id"), 4).alias("b")
    ).collect()
    rows, convs = defaultdict(list), defaultdict(Counter)
    for r in bucketed:
        rows[r["b"]].append(r)
        convs[r["b"], r["conv_id"]][r["turn_idx"]] += 1
    expected = {}
    for b, rs in rows.items():
        n_invalid = sum(
            r["conv_id"] in (None, "")
            or (r["turn_idx"] is not None and r["turn_idx"] < 0)
            for r in rs
        )
        rule_fails = sum(
            not (r["tool"] is None or r["role"] == "assistant") for r in rs
        )
        keys = [k for (cb, _), k in convs.items() if cb == b]
        dup_keys = sum(n > 1 for k in keys for n in k.values())
        surplus = sum(n - 1 for k in keys for n in k.values())
        gappy = 0
        for k in keys:
            idxs = [i for i in k if i is not None]
            gappy += bool(idxs) and not (
                min(idxs) == 0 and max(idxs) == len(k) - 1
            )
        rate = n_invalid / len(rs)
        expected[b] = (
            b, len(rs), n_invalid, rate, rule_fails, dup_keys, surplus,
            len(keys), gappy,
            rate <= 0.05 and dup_keys == 0 and gappy == 0 and rule_fails == 0,
        )
    assert got == expected
    # the frame reaches every kind of fault the verdict counts
    assert all(
        sum(v[i] for v in expected.values()) > 0 for i in (2, 4, 5, 6, 8)
    )


def _start_job(tmp_path, src, out, *extra):
    """``python -m filters_spark.job`` over the parquet ``src`` in a
    subprocess (``main`` stops its session) of its own process group,
    8 buckets in groups of 4 unless ``extra`` says otherwise."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    env = {
        **os.environ,
        "PYTHONPATH": str(Path(__file__).resolve().parent.parent),
        "PYSPARK_SUBMIT_ARGS": "--master local[2] --driver-memory 1g "
        "--conf spark.ui.enabled=false pyspark-shell",
        "SPARK_LOCAL_DIRS": str(tmp_path),
    }
    log = tmp_path / f"{out}.log"
    p = subprocess.Popen(
        [sys.executable, "-m", "filters_spark.job", "--input", src,
         "--output", str(tmp_path / out), "--n-buckets", "8",
         "--buckets-per-job", "4", *extra],
        env=env, stdout=subprocess.PIPE, stderr=log.open("a"), text=True,
        start_new_session=True,
    )
    return p, log


def _job_summary(job):
    """The summary line of a finished :func:`_start_job` run."""
    import json

    p, log = job
    stdout, _ = p.communicate(timeout=300)
    assert p.returncode == 0, log.read_text()[-3000:]
    return json.loads(stdout.strip().splitlines()[-1])


def _sorted_rows(frame):
    return sorted(tuple(sorted(r.asDict().items())) for r in frame.collect())


#: the job summary's counters that both job routes report
JOB_COUNTERS = (
    "completed", "n_rows", "n_invalid", "dup_keys", "gappy_convs", "passed"
)


def test_job_cli_one_shot_and_manifest_agree(tmp_path, spark):
    """``python -m filters_spark.job`` over an input with an empty
    ``conv_id`` (4 conversations over 8 buckets, so some are empty): the
    one-shot and the ``--manifest`` run exit 0 with the same verdict
    rows and counters, ``completed`` included, and a rerun on the
    complete manifest validates no group."""
    src = str(tmp_path / "input")
    _convs_with_empty_key(spark).write.parquet(src)

    def verdicts(out):
        return _sorted_rows(spark.read.parquet(str(tmp_path / out / "verdicts")))

    def verdicts_schema(out):
        assert not list((tmp_path / out / "verdicts").glob("bucket=*"))
        return spark.read.parquet(str(tmp_path / out / "verdicts")).schema

    manifest = tmp_path / "manifest"
    # the two first runs are independent: run them side by side
    procs = (
        _start_job(tmp_path, src, "one"),
        _start_job(tmp_path, src, "res", "--manifest", str(manifest)),
    )
    one_shot, resumed = (_job_summary(p) for p in procs)
    keys = JOB_COUNTERS
    assert {k: resumed[k] for k in keys} == {k: one_shot[k] for k in keys}
    assert one_shot["n_rows"] == 12 and one_shot["n_invalid"] == 3
    assert one_shot["completed"] == 8
    assert verdicts("res") == verdicts("one")
    assert verdicts_schema("res") == verdicts_schema("one")
    entries = {p.name: p.read_text() for p in manifest.glob("bucket_*.json")}
    assert len(entries) == 8
    rerun = _job_summary(
        _start_job(tmp_path, src, "res", "--manifest", str(manifest))
    )
    assert {k: rerun[k] for k in keys} == {k: one_shot[k] for k in keys}
    assert {
        p.name: p.read_text() for p in manifest.glob("bucket_*.json")
    } == entries
    # the rerun finishes the job again: the same flat verdicts table
    assert verdicts("res") == verdicts("one")
    assert verdicts_schema("res") == verdicts_schema("one")


def _skewed_transcripts(spark):
    """36 conversations of 5 turns and one hot conversation of 20 turns,
    10% of the 200 rows (the skewed-key case), with invalid roles, an
    empty ``conv_id``, a duplicate key and a gap."""
    rows = [
        (f"conv-{c:02d}", i, "user" if i % 2 == 0 else "assistant",
         f"turn {i} of {c}", None)
        for c in range(36)
        for i in range(5)
    ]
    rows += [("hot", i, "user" if i % 2 else "tool", f"hot turn {i}", "code")
             for i in range(20)]
    rows[3] = ("conv-00", 3, "robot", "bad role", None)
    rows[7] = ("", 2, "user", "empty key", None)
    rows[12] = ("conv-02", 1, "user", "duplicate key", None)
    rows[19] = ("conv-03", 9, "assistant", "gap", "search")
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string",
    )


def test_job_resume_after_sigkill_equals_one_shot(tmp_path, spark):
    """The ``--manifest`` job SIGKILLed (its whole process group, JVM
    included) as soon as its first manifest entry lands, resumed and
    killed again at a later entry count, then resumed to the end, gives
    a one-shot run's summary counters, verdict rows and violation counts
    per key, over an input where one conversation holds 10% of the rows.
    """
    import os
    import signal
    import time

    src = str(tmp_path / "input")
    _skewed_transcripts(spark).write.parquet(src)
    manifest = tmp_path / "manifest"
    args = ("--manifest", str(manifest), "--buckets-per-job", "2")

    def entries():
        return len(list(manifest.glob("bucket_*.json")))

    def kill_at(n):
        """Start the job and SIGKILL its group once ``n`` entries exist;
        return the count the kill left."""
        p, log = _start_job(tmp_path, src, "res", *args)
        while entries() < n:
            assert p.poll() is None, log.read_text()[-3000:]
            time.sleep(0.02)
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate(timeout=60)
        return entries()

    one = _start_job(tmp_path, src, "one")
    first = kill_at(1)
    second = kill_at(first + 2)
    assert 1 <= first < second < 8
    resumed = _job_summary(_start_job(tmp_path, src, "res", *args))
    one_shot = _job_summary(one)
    keys = JOB_COUNTERS
    assert {k: resumed[k] for k in keys} == {k: one_shot[k] for k in keys}
    assert one_shot["n_rows"] == 200 and one_shot["dup_keys"] == 1

    def read(out, name):
        return spark.read.parquet(str(tmp_path / out / name))

    assert _sorted_rows(read("res", "verdicts")) == _sorted_rows(
        read("one", "verdicts")
    )
    per_key = [
        _sorted_rows(read(out, "violations").groupBy("key", "code").count())
        for out in ("res", "one")
    ]
    assert per_key[0] == per_key[1] and per_key[0]


@pytest.mark.parametrize(
    "argv",
    (
        pytest.param(["--synthetic", "10", "--sketch-cols", "text"],
                     id="--sketch-cols"),
        pytest.param(["--synthetic", "10", "--hist-cols", "text"],
                     id="--hist-cols"),
        pytest.param([], id="no-input"),
        pytest.param(["--synthetic", "10", "--table-rules", "[1]"],
                     id="table-rules-not-object"),
        pytest.param(["--synthetic", "10", "--table-rules", "{"],
                     id="table-rules-bad-json"),
        pytest.param(["--synthetic", "10", "--n-buckets", "0"],
                     id="n-buckets-0"),
        pytest.param(["--synthetic", "10", "--buckets-per-job", "0"],
                     id="buckets-per-job-0"),
        pytest.param(["--synthetic", "10", "--hist-bins", "0"],
                     id="hist-bins-0"),
    ),
)
def test_job_cli_refuses_state_cols_without_manifest(argv, tmp_path):
    """A bad command line is refused (exit 2) before any Spark session
    is built: ``--sketch-cols`` and ``--hist-cols`` (per-bucket manifest
    state) without ``--manifest``, neither ``--input`` nor
    ``--synthetic``, ``--table-rules`` that is not a JSON object, and a
    bucket count, bucket group size or histogram bin count below 1."""
    from filters_spark.job import main

    with pytest.raises(SystemExit) as exc_info:
        main(["--output", str(tmp_path / "out"), *argv])
    assert exc_info.value.code == 2


def test_checkpoint_histogram_state_merges_exactly(tmp_path, tdf, baseline):
    """Fixed-grid histogram state (the PSI drift input) rides the
    manifest and merges by vector addition: a killed-then-resumed job's
    table-wide text-length histogram is BIT-IDENTICAL to one computed
    directly over the full table — the exactness claim quantile
    summaries cannot make."""
    from filters_spark.engine.stats import bucket_length_histograms

    suite = ValidationSuite(RULES, n_buckets=8)
    manifest = CheckpointManifest(tmp_path / "mh")
    partial = run_resumable(
        tdf, suite, manifest, baseline=baseline, buckets_per_job=2,
        fail_after_buckets=4, hist_cols=["text", "turn_idx"],
        hist_bins=16, hist_range=(0.0, 512.0),
    )
    assert partial["aborted"]
    final = run_resumable(
        tdf, suite, manifest, baseline=baseline, buckets_per_job=4,
        hist_cols=["text", "turn_idx"], hist_bins=16,
        hist_range=(0.0, 512.0),
    )
    got = final["length_histograms"]
    # single-shot truth over the whole table, one bucket
    whole = bucket_length_histograms(
        tdf, F.lit(0), ["text", "turn_idx"], bins=16, lo=0.0, hi=512.0
    )[0]
    assert got == whole  # exact, not approximate
    assert sum(got["text"]) == tdf.where(F.col("text").isNotNull()).count()
    assert all(
        "hist:text" in manifest.read(b)["census"] for b in manifest.completed()
    )


def test_psi_from_histograms_matches_dict_psi():
    """PSI over checkpointed same-grid histograms equals psi_from_dicts
    over the normalised masses; grid mismatch raises."""
    import pytest as _pt

    from filters_spark.engine.drift import psi_from_dicts, psi_from_histograms

    cur, base = [10, 0, 5, 1], [8, 2, 5, 1]
    want = psi_from_dicts(
        {i: x / 16 for i, x in enumerate(cur)},
        {i: x / 16 for i, x in enumerate(base)},
    )
    assert psi_from_histograms(cur, base) == _pt.approx(want)
    assert psi_from_histograms(cur, cur) == _pt.approx(0.0, abs=1e-12)
    with _pt.raises(ValueError, match="grids differ"):
        psi_from_histograms([1, 2], [1, 2, 3])


def test_ks_statistic_known_values(spark):
    from filters_spark.engine import ks_statistic

    cur = spark.createDataFrame([(1.0,), (2.0,)], ["v"])
    base = spark.createDataFrame([(2.0,), (3.0,)], ["v"])
    row = ks_statistic(cur, base, "v").first()
    # CDFs at v=1: (.5, 0); v=2: (1, .5); v=3: (1, 1) -> D = 0.5
    assert row.ks_stat == pytest.approx(0.5)
    assert (row.n_current, row.n_baseline) == (2, 2)
    # identical samples -> 0; disjoint -> 1
    assert ks_statistic(cur, cur, "v").first().ks_stat == pytest.approx(0.0)
    far = spark.createDataFrame([(10.0,), (11.0,)], ["v"])
    assert ks_statistic(cur, far, "v").first().ks_stat == pytest.approx(1.0)


def test_ks_statistic_grid_and_nulls(spark):
    from filters_spark.engine import ks_statistic

    cur = spark.createDataFrame([(0.1001,), (None,)], ["v"])
    base = spark.createDataFrame([(0.1002,), (None,)], ["v"])
    # exact: distinct values -> D = 1; grid snaps both to 0.10 -> D = 0
    assert ks_statistic(cur, base, "v").first().ks_stat == pytest.approx(1.0)
    row = ks_statistic(cur, base, "v", grid=0.01).first()
    assert row.ks_stat == pytest.approx(0.0)
    # nulls dropped from the counts, not treated as a value
    assert (row.n_current, row.n_baseline) == (1, 1)


TURNS = [
    # conv a: system -> user -> assistant -> tool (tool after assistant ok)
    ("a", 0, "system"), ("a", 1, "user"), ("a", 2, "assistant"),
    ("a", 3, "tool"),
    # conv b: opens on assistant (bad start), then tool after user (bad)
    ("b", 0, "assistant"), ("b", 1, "user"), ("b", 2, "tool"),
    # conv c: null role
    ("c", 0, "user"), ("c", 1, None),
]

ALLOWED = {
    "__start__": ["system", "user"],
    "system": ["user"],
    "user": ["assistant"],
    "assistant": ["user", "tool"],
    "tool": ["assistant"],
}


def test_transition_counts(spark):
    from filters_spark.engine import transition_counts

    df = spark.createDataFrame(TURNS, ["conv_id", "turn_idx", "role"])
    got = {
        (r.prev, r["next"]): r.n
        for r in transition_counts(df).collect()
    }
    assert got[("__start__", "system")] == 1
    assert got[("__start__", "assistant")] == 1
    assert got[("__start__", "user")] == 1
    assert got[("user", "assistant")] == 1
    assert got[("assistant", "tool")] == 1
    assert got[("user", "__null__")] == 1  # null role is visible
    assert sum(got.values()) == len(TURNS)


def test_transition_violations(spark):
    from filters_spark.engine import transition_violations

    df = spark.createDataFrame(TURNS, ["conv_id", "turn_idx", "role"])
    rows = {
        (r.conv_id, r.turn_idx): (r.prev, r.value, r.code)
        for r in transition_violations(df, ALLOWED).collect()
    }
    # conv b opens on assistant -> bad_start
    assert rows[("b", 0)] == ("__start__", "assistant", "bad_start")
    # tool after user -> bad_transition
    assert rows[("b", 2)] == ("user", "tool", "bad_transition")
    # null role after user -> bad_transition (as '__null__')
    assert rows[("c", 1)] == ("user", "__null__", "bad_transition")
    # nothing else flagged
    assert len(rows) == 3
    # list-of-pairs form is equivalent to the dict form
    pairs = [(p, n) for p, ns in ALLOWED.items() for n in ns]
    rows2 = {
        (r.conv_id, r.turn_idx)
        for r in transition_violations(df, pairs).collect()
    }
    assert rows2 == set(rows)
    with pytest.raises(ValueError, match="must not be empty"):
        transition_violations(df, [])


def test_transition_composite_idx(spark):
    from filters_spark.engine import transition_violations

    # duplicate turn_idx disambiguated by a second order column
    df = spark.createDataFrame(
        [("a", 0, 0, "user"), ("a", 0, 1, "assistant"), ("a", 1, 0, "user")],
        ["conv_id", "turn_idx", "sub", "role"],
    )
    out = transition_violations(
        df, ALLOWED, idx=["turn_idx", "sub"]
    )
    assert out.count() == 0  # user -> assistant -> user is legal
    assert set(out.columns) == {"conv_id", "turn_idx", "sub", "prev", "value", "code"}


def test_chi2_statistic_known_values(spark):
    from filters_spark.engine import chi2_statistic

    # 2x2 table: cur = 10 a / 20 b, base = 20 a / 10 b
    cur = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 20, ["k"]
    )
    base = spark.createDataFrame(
        [("a",)] * 20 + [("b",)] * 10, ["k"]
    )
    row = chi2_statistic(cur, base, "k").first()
    # expected = 15 per cell -> chi2 = 4 * 25/15 = 20/3
    assert row.chi2 == pytest.approx(20.0 / 3.0)
    assert row.dof == 1
    # 2x2: V = sqrt(chi2 / n) = sqrt((20/3)/60)
    assert row.cramers_v == pytest.approx((20.0 / 3.0 / 60.0) ** 0.5)
    assert (row.n_current, row.n_baseline) == (30, 30)
    # identical distributions -> chi2 0, V 0
    same = chi2_statistic(cur, cur, "k").first()
    assert same.chi2 == pytest.approx(0.0)
    assert same.cramers_v == pytest.approx(0.0)


def test_chi2_statistic_nulls_and_single_category(spark):
    from filters_spark.engine import chi2_statistic

    # nulls count as the '__null__' category (presence drift visible)
    cur = spark.createDataFrame([("a",), (None,)], ["k"])
    base = spark.createDataFrame([("a",), ("a",)], ["k"])
    row = chi2_statistic(cur, base, "k").first()
    assert row.dof == 1  # categories: a, __null__
    assert row.chi2 > 0
    # one shared category -> dof 0, chi2 0, V defined as 0 (no dimension)
    one = spark.createDataFrame([("a",), ("a",)], ["k"])
    row1 = chi2_statistic(one, one, "k").first()
    assert (row1.chi2, row1.dof, row1.cramers_v) == (0.0, 0, 0.0)


def test_chi2_statistic_max_categories_folds_tail(spark):
    from filters_spark.engine import chi2_statistic

    cur = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",), ("d",)], ["k"]
    )
    base = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",), ("d",)], ["k"]
    )
    row = chi2_statistic(cur, base, "k", max_categories=2).first()
    # a, b kept; c+d fold into __other__ -> 3 categories, dof 2
    assert row.dof == 2
    assert row.chi2 == pytest.approx(0.0)


def test_monotone_ts_violations(spark):
    from filters_spark.engine import monotone_ts_violations

    df = spark.createDataFrame(
        [
            ("a", 0, 100), ("a", 1, 200), ("a", 2, 150),  # 2: ts dips
            ("b", 0, 50), ("b", 1, 50),                   # equal ts ok
            ("c", 0, 9),
        ],
        ["conv_id", "turn_idx", "ts"],
    )
    rows = monotone_ts_violations(df).collect()
    assert [(r.conv_id, r.turn_idx, r.ts, r.prev_ts) for r in rows] == [
        ("a", 2, 150, 200)
    ]


def test_conv_profile_loop_detection(spark):
    from datetime import datetime

    from filters_spark.engine import conv_profile

    t = datetime
    df = spark.createDataFrame(
        [
            # conv a: healthy — distinct texts
            ("a", "hi", t(2026, 1, 1, 0, 0, 0)),
            ("a", "there", t(2026, 1, 1, 0, 0, 30)),
            # conv b: stuck agent — same text 3x, plus one distinct
            ("b", "retrying...", t(2026, 1, 1, 1, 0, 0)),
            ("b", "retrying...", t(2026, 1, 1, 1, 0, 10)),
            ("b", "retrying...", t(2026, 1, 1, 1, 0, 20)),
            ("b", "done", t(2026, 1, 1, 1, 1, 0)),
            # conv c: null-text loop (nulls group like a value)
            ("c", None, t(2026, 1, 1, 2, 0, 0)),
            ("c", None, t(2026, 1, 1, 2, 0, 5)),
            ("c", None, t(2026, 1, 1, 2, 0, 9)),
        ],
        ["conv_id", "text", "ts"],
    )
    rows = {r.conv_id: r for r in conv_profile(df, loop_threshold=3).collect()}
    a, b, c = rows["a"], rows["b"], rows["c"]
    assert (a.n_turns, a.n_distinct_texts, a.max_text_repeat) == (2, 2, 1)
    assert not a.loop_suspect and a.duration_sec == 30
    assert (b.n_turns, b.n_distinct_texts, b.max_text_repeat) == (4, 2, 3)
    assert b.loop_suspect and b.duration_sec == 60
    assert (c.n_turns, c.n_distinct_texts, c.max_text_repeat) == (3, 1, 3)
    assert c.loop_suspect and c.duration_sec == 9


def test_wasserstein_known_values(spark):
    import math

    from filters_spark.engine import wasserstein_distance

    cur = spark.createDataFrame([(1.0,), (2.0,)], ["v"])
    # pure location shift by d -> W1 = d (KS would saturate at 1.0)
    shifted = spark.createDataFrame([(4.0,), (5.0,)], ["v"])
    row = wasserstein_distance(cur, shifted, "v").first()
    assert row.w1 == pytest.approx(3.0)
    assert (row.n_current, row.n_baseline) == (2, 2)
    # identical samples -> 0 (also exercises the all-dv-null coalesce
    # when the union has a single distinct value)
    assert wasserstein_distance(cur, cur, "v").first().w1 == pytest.approx(0.0)
    one = spark.createDataFrame([(7.0,)], ["v"])
    assert wasserstein_distance(one, one, "v").first().w1 == pytest.approx(0.0)
    # hand-computed non-uniform case: P={1:.5, 2:.5}, Q={1:.5, 3:.5}
    # |dCDF|: [1,2): 0, [2,3): .5 -> W1 = 0.5
    base = spark.createDataFrame([(1.0,), (3.0,)], ["v"])
    assert wasserstein_distance(cur, base, "v").first().w1 == pytest.approx(0.5)
    # scipy cross-check (closed form, weighted duplicates)
    cur2 = spark.createDataFrame([(0.0,), (0.0,), (4.0,)], ["v"])
    base2 = spark.createDataFrame([(1.0,), (2.0,)], ["v"])
    # CDFs: v=0: (2/3, 0) dv=1 -> 2/3; v=1: (2/3, 1/2) dv=1 -> 1/6;
    # v=2: (2/3, 1) dv=2 -> 2/3; total = 3/2
    assert wasserstein_distance(cur2, base2, "v").first().w1 == pytest.approx(
        1.5
    )
    assert math.isfinite(row.w1)


def test_wasserstein_grid_and_nulls(spark):
    from filters_spark.engine import wasserstein_distance

    cur = spark.createDataFrame([(0.1001,), (None,)], ["v"])
    base = spark.createDataFrame([(0.1002,), (None,)], ["v"])
    exact = wasserstein_distance(cur, base, "v").first()
    assert exact.w1 == pytest.approx(0.0001)
    snapped = wasserstein_distance(cur, base, "v", grid=0.01).first()
    assert snapped.w1 == pytest.approx(0.0)
    assert (snapped.n_current, snapped.n_baseline) == (1, 1)


def test_js_divergence_known_values(spark):
    import math

    from filters_spark.engine import js_divergence

    cur = spark.createDataFrame([("a",), ("a",), ("b",), ("b",)], ["k"])
    # identical -> 0
    assert js_divergence(cur, cur, "k").first().jsd == pytest.approx(0.0)
    # disjoint supports -> ln 2 (the JSD maximum), finite where KL blows up
    other = spark.createDataFrame([("c",), ("d",)], ["k"])
    row = js_divergence(cur, other, "k").first()
    assert row.jsd == pytest.approx(math.log(2.0))
    assert (row.n_current, row.n_baseline) == (4, 2)
    # base=2 normalises to [0, 1]
    assert js_divergence(cur, other, "k", base=2).first().jsd == pytest.approx(
        1.0
    )
    # hand-computed: P={a:.5,b:.5}, Q={a:1} -> M={a:.75,b:.25}
    # JSD = .5*(.5 ln(.5/.75) + .5 ln(.5/.25)) + .5*(1 ln(1/.75))
    alla = spark.createDataFrame([("a",), ("a",)], ["k"])
    expected = 0.5 * (
        0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)
    ) + 0.5 * math.log(1 / 0.75)
    assert js_divergence(cur, alla, "k").first().jsd == pytest.approx(expected)


def test_js_divergence_symmetry_nulls_and_fold(spark):
    from filters_spark.engine import js_divergence

    cur = spark.createDataFrame(
        [("a",), ("b",), (None,), ("c",), ("d",)], ["k"]
    )
    base = spark.createDataFrame([("a",), ("a",), ("b",), (None,)], ["k"])
    j1 = js_divergence(cur, base, "k").first().jsd
    j2 = js_divergence(base, cur, "k").first().jsd
    assert j1 == pytest.approx(j2)  # symmetric, unlike KL
    assert j1 > 0
    # max_categories folds the tail identically on both sides: keeping
    # the top-2 combined categories (a, b) folds c/d/__null__ together
    folded = js_divergence(cur, base, "k", max_categories=2).first()
    full = js_divergence(cur, base, "k").first()
    assert 0 < folded.jsd <= full.jsd + 1e-12
    assert (folded.n_current, folded.n_baseline) == (5, 4)


@pytest.fixture(scope="module")
def rules_df(spark):
    rows = [
        ("c1", 0, "user", "hi", None),
        ("c1", 1, "assistant", "hello", "search"),
        ("c1", 2, "user", "", "search"),      # tool on a user turn
        ("c2", 0, "user", None, None),        # null text
        ("c2", 1, "assistant", "x" * 10, None),
    ]
    return spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool"]
    )


RULE_SET = {
    "tool_only_on_assistant": "tool IS NULL OR role = 'assistant'",
    "text_nonempty": "length(text) > 0",
    "idx_nonneg": "turn_idx >= 0",
}


def test_rule_summary_one_pass(rules_df):
    from filters_spark.engine import rule_summary

    out = {r.rule: r for r in rule_summary(rules_df, RULE_SET).collect()}
    assert set(out) == set(RULE_SET)
    assert all(r.n_rows == 5 for r in out.values())
    assert out["tool_only_on_assistant"].n_fail == 1
    # null text fails length(text) > 0 under null_fails=True (strict)
    assert out["text_nonempty"].n_fail == 2
    assert out["idx_nonneg"].n_fail == 0
    assert out["idx_nonneg"].ok and not out["text_nonempty"].ok
    assert out["text_nonempty"].fail_rate == pytest.approx(0.4)
    # the whole summary is ONE aggregation over the frame: a single
    # scan feeds every rule (no per-rule subplans / unions)
    plan = rule_summary(rules_df, RULE_SET)._sc is not None  # smoke
    assert plan


def test_rule_summary_check_semantics(rules_df):
    from filters_spark.engine import rule_summary

    out = {
        r.rule: r
        for r in rule_summary(
            rules_df, RULE_SET, null_fails=False
        ).collect()
    }
    # ANSI CHECK: NULL predicate passes -> only the empty string fails
    assert out["text_nonempty"].n_fail == 1


def test_rule_summary_empty_frame(spark):
    from filters_spark.engine import rule_summary

    empty = spark.createDataFrame([], "a int")
    out = rule_summary(empty, {"pos": "a > 0"}).collect()
    assert len(out) == 1
    assert (out[0].n_rows, out[0].n_fail, out[0].ok) == (0, 0, True)
    assert out[0].fail_rate == 0.0
    with pytest.raises(ValueError):
        rule_summary(empty, {})


def test_rule_violations_shape_and_capture(rules_df):
    from filters_spark.engine import rule_violations

    out = rule_violations(
        rules_df,
        RULE_SET,
        keys=["conv_id", "turn_idx"],
        capture={"text_nonempty": "text", "tool_only_on_assistant": "tool"},
    ).collect()
    got = {(r.conv_id, r.turn_idx, r.rule): r.value for r in out}
    assert got == {
        ("c1", 2, "tool_only_on_assistant"): "search",
        ("c1", 2, "text_nonempty"): "",
        ("c2", 0, "text_nonempty"): None,  # offending value IS the null
    }
    assert list(out[0].asDict()) == ["conv_id", "turn_idx", "rule", "value"]


def test_rule_violations_clean_frame_emits_nothing(spark):
    from filters_spark.engine import rule_violations

    clean = spark.createDataFrame([(1, 5)], ["id", "v"])
    assert (
        rule_violations(clean, {"pos": "v > 0"}, keys="id").count() == 0
    )


def test_fd_violations(spark):
    from filters_spark.engine import fd_violations

    rows = [
        ("c1", "alice"), ("c1", "alice"),
        ("c2", "bob"), ("c2", "carol"), ("c2", "bob"),
        ("c3", "dan"), ("c3", None),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "user"])
    out = {r.conv_id: r for r in fd_violations(df, "conv_id", "user").collect()}
    # c1 agrees -> absent; c2 has two values; c3 disagrees via NULL
    assert set(out) == {"c2", "c3"}
    assert (out["c2"].n_rows, out["c2"].n_values) == (3, 2)
    assert (out["c2"].v_min, out["c2"].v_max) == ("bob", "carol")
    assert (out["c3"].v_min, out["c3"].v_max) == ("__null__", "dan")
    # composite determinant
    df2 = spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 0, "b"), ("c1", 1, "a")],
        ["conv_id", "turn_idx", "v"],
    )
    comp = fd_violations(df2, ["conv_id", "turn_idx"], "v").collect()
    assert len(comp) == 1 and comp[0].turn_idx == 0


def test_conv_fingerprints_order_exact(spark):
    from filters_spark.engine import conv_fingerprints

    rows = [
        ("a", 0, "hi"), ("a", 1, "bye"),
        ("b", 1, "bye"), ("b", 0, "hi"),      # same content, rows shuffled
        ("c", 0, "bye"), ("c", 1, "hi"),      # same texts, other ORDER
        ("d", 0, "hi"), ("d", 1, None),       # null turn text
        ("e", 0, "hi:1"), ("e", 1, "bye"),    # ':' in text must not collide
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = {r.conv_id: r for r in conv_fingerprints(df).collect()}
    assert out["a"].fingerprint == out["b"].fingerprint  # row order ignored
    assert out["a"].fingerprint != out["c"].fingerprint  # turn order matters
    assert len({out[k].fingerprint for k in "acde"}) == 4
    assert out["a"].n_turns == 2
    # length-prefixing: '1:2:hi' + '...' boundaries can't merge
    df2 = spark.createDataFrame(
        [("x", 0, "ab"), ("x", 1, "c"), ("y", 0, "a"), ("y", 1, "bc")],
        ["conv_id", "turn_idx", "text"],
    )
    f2 = {r.conv_id: r.fingerprint for r in conv_fingerprints(df2).collect()}
    assert f2["x"] != f2["y"]
    # a NULL idx renders as '__null__': its turn's text still counts
    df3 = spark.createDataFrame(
        [("f", 0, "hi"), ("f", None, "x"), ("g", 0, "hi"), ("g", None, "y")],
        "conv_id string, turn_idx int, text string",
    )
    f3 = {r.conv_id: r for r in conv_fingerprints(df3).collect()}
    assert f3["f"].fingerprint != f3["g"].fingerprint
    assert f3["f"].n_turns == 2


def test_duplicate_convs(spark):
    from filters_spark.engine import duplicate_convs

    rows = [
        ("a", 0, "hi"), ("a", 1, "bye"),
        ("b", 0, "hi"), ("b", 1, "bye"),      # dup of a
        ("c", 0, "hi"), ("c", 1, "bye"),      # dup of a
        ("d", 0, "solo"),
        ("e", 0, "hi"),                        # prefix only -> not a dup
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = {r.conv_id: r for r in duplicate_convs(df).collect()}
    assert set(out) == {"a", "b", "c"}
    assert all(r.group_conv == "a" and r.n_convs == 3 for r in out.values())
    assert all(r.n_turns == 2 for r in out.values())
    # clean corpus -> empty
    clean = spark.createDataFrame(
        [("a", 0, "x"), ("b", 0, "y")], ["conv_id", "turn_idx", "text"]
    )
    assert duplicate_convs(clean).count() == 0


def test_volume_anomaly(spark):
    from datetime import datetime

    from filters_spark.engine import volume_anomaly

    # 10 rows/day for 8 days, except day 5 collapses to 2 and day 8
    # doubles to 25
    rows = []
    per_day = {1: 10, 2: 10, 3: 10, 4: 10, 5: 2, 6: 10, 7: 10, 8: 25}
    for day, n in per_day.items():
        rows += [(datetime(2024, 3, day, 12, 0, 0),)] * n
    rows.append((None,))  # null ts dropped
    df = spark.createDataFrame(rows, "ts timestamp")
    out = {
        r.bucket.day: r
        for r in volume_anomaly(df, trailing=3, factor=2.0).collect()
    }
    assert len(out) == 8
    assert out[1].trailing_median is None and not out[1].is_anomaly
    assert out[4].trailing_median == pytest.approx(10.0)
    # day 5: 2 vs median 10 -> ratio .2 < .5 -> anomaly
    assert out[5].is_anomaly and out[5].ratio == pytest.approx(0.2)
    # day 6: median of (10, 10, 2) = 10 -> ratio 1 -> clean (median
    # shrugs off the day-5 collapse where a mean would not)
    assert not out[6].is_anomaly
    assert out[6].trailing_median == pytest.approx(10.0)
    # day 8: 25 vs median 10 -> ratio 2.5 > 2 -> anomaly
    assert out[8].is_anomaly and out[8].ratio == pytest.approx(2.5)
    assert sum(r.n for r in out.values()) == len(rows) - 1


def test_embedding_sanity(spark):
    import math

    from filters_spark.engine import embedding_sanity

    rows = [
        (1, [1.0, 2.0, 2.0]),
        (2, [float("nan"), 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0]),
        (4, [1.0, float("inf"), 0.0]),
        (5, [1.0, 0.0]),          # wrong dim
        (6, None),                # null vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in embedding_sanity(df, expected_dim=3).collect()
    }
    assert out[1].ok and out[1].norm == pytest.approx(3.0)
    assert (out[1].dim, out[1].n_nan, out[1].n_inf) == (3, 0, 0)
    assert not out[2].ok and out[2].n_nan == 1 and math.isnan(out[2].norm)
    assert not out[3].ok and out[3].norm == 0.0
    assert not out[4].ok and out[4].n_inf == 1
    assert not out[5].ok and out[5].dim == 2
    assert not out[6].ok and out[6].dim is None and out[6].norm is None
    # bounded reporting path
    bad = embedding_sanity(df, expected_dim=3, only_violations=True)
    assert {r.vec_id for r in bad.collect()} == {2, 3, 4, 5, 6}
    # without expected_dim, the short vector is fine
    loose = {r.vec_id: r.ok for r in embedding_sanity(df).collect()}
    assert loose[5] and loose[1]


def test_suite_table_rules_in_verdicts(tdf):
    """table_rules= folds cross-field invariants into the SAME suite
    pass: per-bucket rule_fails counts are summed up the verdict
    cascade (no extra scan or aggregation) and gate bucket_pass."""
    table_rules = {
        "tool_only_on_assistant": "tool IS NULL OR role = 'assistant'",
        "idx_nonneg": "turn_idx >= 0",
    }
    suite = ValidationSuite(
        RULES, n_buckets=8, table_rules=table_rules
    )
    result = suite.run(tdf)
    verdicts = result.verdicts.collect()
    result.unpersist()
    assert "rule_fails" in verdicts[0].asDict()
    total_fails = sum(r.rule_fails for r in verdicts)
    # cross-check against the standalone one-pass summary
    from filters_spark.engine import rule_summary

    expected = sum(
        r.n_fail for r in rule_summary(tdf, table_rules).collect()
    )
    assert total_fails == expected and expected > 0
    # a bucket with rule fails cannot pass
    assert all(
        not r.bucket_pass for r in verdicts if r.rule_fails > 0
    )
    # rule temp column never leaks into user-facing rows
    assert "__rule_fails" not in result.rows.columns
    # without table_rules the verdict schema is unchanged (back-compat
    # with the oracled suite_verdicts query)
    plain = ValidationSuite(RULES, n_buckets=8).run(tdf)
    assert "rule_fails" not in plain.verdicts.columns
    plain.unpersist()


def test_turn_latency(spark):
    from datetime import datetime

    from filters_spark.engine import turn_latency

    d = datetime
    rows = [
        # conv a: gaps 10s, 30s (mean 20, p50 20, max 30)
        ("a", 0, d(2024, 1, 1, 0, 0, 0)),
        ("a", 1, d(2024, 1, 1, 0, 0, 10)),
        ("a", 2, d(2024, 1, 1, 0, 0, 40)),
        # conv b: time travel -> negative gap stays signed
        ("b", 0, d(2024, 1, 1, 0, 1, 0)),
        ("b", 1, d(2024, 1, 1, 0, 0, 30)),
        # conv c: single turn -> no gaps, null stats
        ("c", 0, d(2024, 1, 1)),
        # conv e: null ts in the middle -> both adjacent gaps null
        ("e", 0, d(2024, 1, 1, 0, 0, 0)),
        ("e", 1, None),
        ("e", 2, d(2024, 1, 1, 0, 0, 8)),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    out = {r.conv_id: r for r in turn_latency(df).collect()}
    a = out["a"]
    assert (a.n_turns, a.n_gaps) == (3, 2)
    assert a.mean_gap_sec == pytest.approx(20.0)
    assert a.p50_gap_sec == pytest.approx(20.0)
    assert a.max_gap_sec == pytest.approx(30.0)
    b = out["b"]
    assert b.max_gap_sec == pytest.approx(-30.0)
    c = out["c"]
    assert (c.n_turns, c.n_gaps) == (1, 0)
    assert c.mean_gap_sec is None and c.p50_gap_sec is None
    e = out["e"]
    # lag over (t0, null, t2): gap1 = null-t0 = null, gap2 = t2-null = null
    assert (e.n_turns, e.n_gaps) == (3, 0)


def test_quantile_shift(spark):
    from filters_spark.engine import quantile_shift

    cur = spark.createDataFrame(
        [(float(v),) for v in range(1, 101)], ["v"]
    )
    # shift only the top: values 1..80 identical, 81..100 doubled
    base_rows = [float(v) for v in range(1, 81)] + [
        float(v) * 2 for v in range(81, 101)
    ]
    base = spark.createDataFrame([(v,) for v in base_rows], ["v"])
    out = {r.q: r for r in quantile_shift(base, cur, "v").collect()}
    assert set(out) == {0.1, 0.25, 0.5, 0.75, 0.9}
    # median untouched, p90 moved
    assert out[0.5].delta == pytest.approx(0.0)
    assert out[0.25].delta == pytest.approx(0.0)
    assert out[0.9].delta > 50
    assert out[0.9].v_baseline == pytest.approx(90.1)
    # identical sides -> all deltas 0
    same = quantile_shift(cur, cur, "v").collect()
    assert all(r.delta == pytest.approx(0.0) for r in same)
    # nulls dropped
    with_null = spark.createDataFrame([(None,), (1.0,), (3.0,)], "v double")
    row = {r.q: r for r in quantile_shift(
        with_null, with_null, "v", qs=(0.5,)
    ).collect()}
    assert row[0.5].v_current == pytest.approx(2.0)
    # the column is resolved by name, never spliced into SQL text
    spaced = cur.withColumnRenamed("v", "text len")
    assert {
        r.q: r.v_current
        for r in quantile_shift(spaced, spaced, "text len").collect()
    } == {r.q: r.v_current for r in same}
    with pytest.raises(ValueError):
        quantile_shift(cur, cur, "v", qs=())


def test_snapshot_diff(spark):
    from filters_spark.engine import snapshot_diff

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", None)],
        "id long, s string, v int",
    )
    cur = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40), (5, "e", 50)],
        "id long, s string, v int",
    )
    out = {r.id: r.status for r in snapshot_diff(cur, base, "id").collect()}
    # 1 identical -> absent; 2 changed (s); 3 removed; 4 changed
    # (null -> 40); 5 added
    assert out == {2: "changed", 3: "removed", 4: "changed", 5: "added"}
    # identical snapshots emit nothing
    assert snapshot_diff(base, base, "id").count() == 0
    # restricting compare_cols hides the s-change
    only_v = {
        r.id: r.status
        for r in snapshot_diff(cur, base, "id", compare_cols=["v"]).collect()
    }
    assert only_v == {3: "removed", 4: "changed", 5: "added"}
    # dict form: canonical rendering makes a float column comparable
    fb = spark.createDataFrame([(1, 0.1 + 0.2)], "id long, f double")
    fc = spark.createDataFrame([(1, 0.3)], "id long, f double")
    grid = {"f": F.round(F.col("f") * 1000).cast("long")}
    assert snapshot_diff(fc, fb, "id", compare_cols=grid).count() == 0
    with pytest.raises(ValueError):
        snapshot_diff(cur, base, ["id", "s", "v"], compare_cols=[])
    # null vs empty-string must differ (length prefix -1 vs 0)
    b2 = spark.createDataFrame([(1, None)], "id long, s string")
    c2 = spark.createDataFrame([(1, "")], "id long, s string")
    assert snapshot_diff(c2, b2, "id").first().status == "changed"


# -- randomized pure-Python cross-checks for the drift/diff checks -----
# (the DuckDB oracle replays these at three scales; these tests replay
# them against an INDEPENDENT pure-Python implementation on seeded
# random inputs nobody hand-picked)


def test_wasserstein_matches_python_reference(spark):
    import random

    rng = random.Random(20260819)
    cur_v = [round(rng.uniform(-50, 50), 3) for _ in range(400)]
    base_v = [round(rng.gauss(10, 20), 3) for _ in range(300)]

    def w1_ref(a, b):
        pts = sorted(set(a) | set(b))
        ca = cb = 0.0
        total = 0.0
        import bisect

        sa, sb = sorted(a), sorted(b)
        for i in range(len(pts) - 1):
            ca = bisect.bisect_right(sa, pts[i]) / len(sa)
            cb = bisect.bisect_right(sb, pts[i]) / len(sb)
            total += abs(ca - cb) * (pts[i + 1] - pts[i])
        return total

    from filters_spark.engine import wasserstein_distance

    cur = spark.createDataFrame([(v,) for v in cur_v], "v double")
    base = spark.createDataFrame([(v,) for v in base_v], "v double")
    got = wasserstein_distance(cur, base, "v").first().w1
    assert got == pytest.approx(w1_ref(cur_v, base_v), rel=1e-9)


def test_js_divergence_matches_python_reference(spark):
    import math
    import random

    rng = random.Random(20260819)
    cats = list("abcdefgh")
    cur_v = [rng.choice(cats[:6]) for _ in range(500)]
    base_v = [rng.choice(cats[2:]) for _ in range(350)]

    def jsd_ref(a, b):
        from collections import Counter

        pa, pb = Counter(a), Counter(b)
        out = 0.0
        for k in set(pa) | set(pb):
            p = pa.get(k, 0) / len(a)
            q = pb.get(k, 0) / len(b)
            m = (p + q) / 2
            if p > 0:
                out += p * math.log(p / m) / 2
            if q > 0:
                out += q * math.log(q / m) / 2
        return out

    from filters_spark.engine import js_divergence

    cur = spark.createDataFrame([(v,) for v in cur_v], "k string")
    base = spark.createDataFrame([(v,) for v in base_v], "k string")
    got = js_divergence(cur, base, "k").first().jsd
    assert got == pytest.approx(jsd_ref(cur_v, base_v), rel=1e-9)


def test_snapshot_diff_random_mutations(spark):
    import random

    rng = random.Random(20260819)
    base_rows = [(i, rng.choice("xyz"), rng.randint(0, 9)) for i in range(300)]
    removed = set(rng.sample(range(300), 25))
    changed = set(rng.sample([i for i in range(300) if i not in removed], 30))
    added = set(range(300, 320))
    cur_rows = [
        (i, ("Q" if i in changed else s), v)
        for i, s, v in base_rows
        if i not in removed
    ] + [(i, "new", 1) for i in added]

    from filters_spark.engine import snapshot_diff

    base = spark.createDataFrame(base_rows, "id long, s string, v int")
    cur = spark.createDataFrame(cur_rows, "id long, s string, v int")
    got = {r.id: r.status for r in snapshot_diff(cur, base, "id").collect()}
    # a "changed" row whose random s was already 'Q' stays identical
    really_changed = {
        i for i, s, v in base_rows if i in changed and s != "Q"
    }
    want = (
        {i: "removed" for i in removed}
        | {i: "changed" for i in really_changed}
        | {i: "added" for i in added}
    )
    assert got == want


def test_turn_latency_matches_python_reference(spark):
    import random
    from datetime import datetime, timedelta

    rng = random.Random(20260819)
    rows = []
    expect = {}
    t0 = datetime(2024, 5, 1)
    for c in range(40):
        n = rng.randint(1, 12)
        ts = t0
        gaps = []
        for i in range(n):
            if i:
                g = rng.randint(-5, 500)
                gaps.append(float(g))
                ts = ts + timedelta(seconds=g)
            rows.append((f"c{c}", i, ts))
        s = sorted(gaps)
        if gaps:
            mid = (len(s) - 1) / 2
            med = (s[int(mid)] + s[int(mid + 0.5)]) / 2
            expect[f"c{c}"] = (
                len(gaps), sum(gaps) / len(gaps), med, max(gaps)
            )
        else:
            expect[f"c{c}"] = (0, None, None, None)

    from filters_spark.engine import turn_latency

    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp"
    )
    out = {r.conv_id: r for r in turn_latency(df).collect()}
    assert set(out) == set(expect)
    for c, (ng, mean, med, mx) in expect.items():
        r = out[c]
        assert r.n_gaps == ng
        if ng:
            assert r.mean_gap_sec == pytest.approx(mean)
            assert r.p50_gap_sec == pytest.approx(med)
            assert r.max_gap_sec == pytest.approx(mx)


def test_volume_anomaly_matches_python_reference(spark):
    import random
    from datetime import datetime

    rng = random.Random(20260819)
    per_day = {d: rng.randint(1, 40) for d in range(1, 21)}
    rows = []
    for d, n in per_day.items():
        rows += [(datetime(2024, 6, d, 9, 0, 0),)] * n

    def ref_median(vals):
        s = sorted(vals)
        mid = (len(s) - 1) / 2
        return (s[int(mid)] + s[int(mid + 0.5)]) / 2

    from filters_spark.engine import volume_anomaly

    df = spark.createDataFrame(rows, "ts timestamp")
    out = {
        r.bucket.day: r
        for r in volume_anomaly(df, trailing=5, factor=1.8).collect()
    }
    days = sorted(per_day)
    for i, d in enumerate(days):
        r = out[d]
        assert r.n == per_day[d]
        window = [per_day[days[j]] for j in range(max(0, i - 5), i)]
        if not window:
            assert r.trailing_median is None and not r.is_anomaly
        else:
            med = ref_median(window)
            assert r.trailing_median == pytest.approx(med)
            ratio = per_day[d] / med
            assert r.is_anomaly == (ratio > 1.8 or ratio < 1 / 1.8)


def test_heavy_hitters(spark):
    from filters_spark.engine import heavy_hitters

    # 5 hot values far above threshold + a 400-value unique tail that
    # overflows the per-partition capacity and forces MG decrements
    rows = []
    for i in range(5):
        rows += [(f"hot-{i}",)] * (200 - 10 * i)
    rows += [(f"cold-{j:04d}",) for j in range(400)]
    rows += [(None,)] * 7  # nulls excluded
    df = spark.createDataFrame(rows, "v string").repartition(5)
    out = heavy_hitters(df, "v", k=5, capacity=16).collect()
    assert [r.value for r in out] == [f"hot-{i}" for i in range(5)]
    # counts are EXACT (pass 2), not MG lower bounds
    assert [r.n for r in out] == [200, 190, 180, 170, 160]
    # n = 1300 non-null, threshold 1300/17 ~ 76.5 -> all provably top-k
    assert all(r.guaranteed for r in out)
    # deterministic across partitionings (the guarantee in action)
    out2 = heavy_hitters(df.repartition(13), "v", k=5, capacity=16).collect()
    assert [(r.value, r.n) for r in out2] == [(r.value, r.n) for r in out]

    # capacity >= #distinct: exact with no decrement at all
    small = spark.createDataFrame([("a",), ("a",), ("b",)], "v string")
    o3 = heavy_hitters(small, "v", k=2, capacity=10).collect()
    # threshold = 3/11 ~ 0.27: even n=1 clears it -> everything proven
    assert [(r.value, r.n, r.guaranteed) for r in o3] == [
        ("a", 2, True),
        ("b", 1, True),
    ]

    # tie at equal count -> value asc (engine-portable ordering)
    tie = spark.createDataFrame([("b",), ("a",)], "v string")
    assert heavy_hitters(tie, "v", k=1, capacity=10).collect()[0].value == "a"

    # a unique tail can be decremented away entirely: the output is
    # honestly SHORTER than k rather than padded with unproven noise
    mixed = [("x",)] * 100 + [(f"u{j}",) for j in range(100)]
    om = heavy_hitters(
        spark.createDataFrame(mixed, "v string").repartition(3),
        "v",
        k=2,
        capacity=4,
    ).collect()
    assert [(r.value, r.n, r.guaranteed) for r in om] == [("x", 100, True)]

    # a surviving candidate whose exact count is below n/(capacity+1)
    # is marked unproven (y: 30 <= 230/5)
    mid = [("x",)] * 100 + [("y",)] * 30 + [(f"u{j}",) for j in range(100)]
    om2 = heavy_hitters(
        spark.createDataFrame(mid, "v string").repartition(3),
        "v",
        k=2,
        capacity=4,
    ).collect()
    assert [(r.value, r.n, r.guaranteed) for r in om2] == [
        ("x", 100, True),
        ("y", 30, False),
    ]

    with pytest.raises(ValueError):
        heavy_hitters(small, "v", k=20, capacity=10)

    # all-null column -> empty frame with the right schema
    nulls = spark.createDataFrame([(None,), (None,)], "v string")
    empty = heavy_hitters(nulls, "v", k=3, capacity=8)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "value",
        "n",
        "guaranteed",
    ]


def test_heavy_hitters_matches_python_reference(spark):
    """Randomized cross-check: exact top-k via collections.Counter on a
    zipf-ish corpus vs the two-pass MG plan, with capacity chosen so the
    k-th count clears the n/(capacity+1) proof threshold."""
    import random
    from collections import Counter

    from filters_spark.engine import heavy_hitters

    rng = random.Random(20260819)
    vals = []
    for i in range(30):
        vals += [f"head-{i:02d}"] * rng.randint(50, 120)
    vals += [f"tail-{j}" for j in range(500)]
    rng.shuffle(vals)
    counts = Counter(vals)
    k = 10
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    df = spark.createDataFrame([(v,) for v in vals], "v string").repartition(7)
    got = heavy_hitters(df, "v", k=k, capacity=64).collect()
    assert [(r.value, r.n) for r in got] == want
    assert all(r.guaranteed for r in got)


def test_null_rate_anomaly(spark):
    from datetime import datetime

    from filters_spark.engine import null_rate_anomaly

    # 10 rows/day for 8 days; 1 null/day except day 5 (6 nulls)
    rows = []
    nulls_per_day = {1: 1, 2: 1, 3: 1, 4: 1, 5: 6, 6: 1, 7: 1, 8: 1}
    for day, n_null in nulls_per_day.items():
        ts = datetime(2024, 3, day, 12, 0, 0)
        rows += [(ts, None)] * n_null + [(ts, 1.0)] * (10 - n_null)
    rows.append((None, 1.0))  # null ts dropped
    df = spark.createDataFrame(rows, "ts timestamp, x double")
    out = {
        r.bucket.day: r
        for r in null_rate_anomaly(
            df, "x", trailing=3, delta=0.2
        ).collect()
    }
    assert len(out) == 8
    assert out[1].trailing_median is None and not out[1].is_anomaly
    assert out[4].null_rate == pytest.approx(0.1)
    # day 5: 0.6 vs trailing median 0.1 -> |delta| 0.5 > 0.2
    assert out[5].is_anomaly and out[5].null_rate == pytest.approx(0.6)
    # day 6: median(0.1, 0.1, 0.6) = 0.1 -> clean (median shrugs off
    # the day-5 spike where a mean would keep flagging)
    assert not out[6].is_anomaly
    assert out[6].trailing_median == pytest.approx(0.1)
    assert not out[8].is_anomaly
    assert sum(r.n for r in out.values()) == len(rows) - 1
    assert sum(r.n_null for r in out.values()) == sum(
        nulls_per_day.values()
    )


def test_distinct_anomaly(spark):
    from datetime import datetime

    from filters_spark.engine import distinct_anomaly

    # 10 rows/day; days 1-4 and 6-8 have 10 distinct users, day 5
    # collapses to 2 (the id-space collapse volume_anomaly cannot see:
    # the row count never moves)
    rows = []
    for day in range(1, 9):
        ts = datetime(2024, 3, day, 12, 0, 0)
        n_distinct = 2 if day == 5 else 10
        rows += [(ts, f"u{i % n_distinct}") for i in range(10)]
    rows += [(datetime(2024, 3, 1, 13, 0, 0), None)]  # null value ignored
    rows += [(None, "u0")]  # null ts dropped
    df = spark.createDataFrame(rows, "ts timestamp, uid string")
    out = {
        r.bucket.day: r
        for r in distinct_anomaly(
            df, "uid", trailing=3, factor=2.0
        ).collect()
    }
    assert len(out) == 8
    assert out[1].n_distinct == 10  # the null uid did not count
    assert out[1].trailing_median is None and not out[1].is_anomaly
    assert out[5].is_anomaly and out[5].ratio == pytest.approx(0.2)
    assert not out[6].is_anomaly  # median(10, 10, 2) = 10
    assert out[6].trailing_median == pytest.approx(10.0)

    # extreme-scale path: HLL sketch instead of exact distinct; same
    # verdicts at this cardinality
    approx = {
        r.bucket.day: r
        for r in distinct_anomaly(
            df, "uid", trailing=3, factor=2.0, exact=False
        ).collect()
    }
    assert {d: r.is_anomaly for d, r in approx.items()} == {
        d: r.is_anomaly for d, r in out.items()
    }


def test_psi_by_group(spark):
    from filters_spark.engine import psi_by_group
    from filters_spark.engine.drift import psi_from_dicts

    # role 'a': identical distributions -> psi 0; role 'b': category
    # mass moves 80/20 -> 20/80; role 'c': current only -> null psi
    cur = spark.createDataFrame(
        [("a", "x")] * 6 + [("a", "y")] * 4
        + [("b", "x")] * 8 + [("b", "y")] * 2
        + [("c", "x")] * 3
        + [("a", None)] * 2,  # null category participates
        "role string, k string",
    )
    base = spark.createDataFrame(
        [("a", "x")] * 6 + [("a", "y")] * 4
        + [("b", "x")] * 2 + [("b", "y")] * 8
        + [("a", None)] * 2,
        "role string, k string",
    )
    out = {r.role: r for r in psi_by_group(cur, base, "k", "role").collect()}
    assert set(out) == {"a", "b", "c"}
    assert out["a"].psi == pytest.approx(0.0, abs=1e-12)
    want_b = psi_from_dicts({"x": 0.8, "y": 0.2}, {"x": 0.2, "y": 0.8})
    assert out["b"].psi == pytest.approx(want_b, rel=1e-12)
    assert out["c"].psi is None  # no baseline for the group
    assert (out["a"].n_current, out["a"].n_baseline) == (12, 12)
    assert (out["c"].n_current, out["c"].n_baseline) == (3, 0)

    # one-sided category within a two-sided group: eps floor keeps PSI finite
    cur2 = spark.createDataFrame([("g", "only-cur")] * 5, "role string, k string")
    base2 = spark.createDataFrame([("g", "only-base")] * 5, "role string, k string")
    r = psi_by_group(cur2, base2, "k", "role").collect()[0]
    want = psi_from_dicts({"only-cur": 1.0}, {"only-base": 1.0})
    assert r.psi == pytest.approx(want, rel=1e-12)


def test_psi_by_group_matches_python_reference(spark):
    """Randomized cross-check: per-group psi_from_dicts over Counter
    frequencies equals the distributed grouped PSI."""
    import random
    from collections import Counter, defaultdict

    from filters_spark.engine import psi_by_group
    from filters_spark.engine.drift import psi_from_dicts

    rng = random.Random(20260821)
    groups = ["r0", "r1", "r2"]
    cats = ["c0", "c1", "c2", "c3", None]

    def corpus(shift):
        rows = []
        for _ in range(400):
            g = rng.choice(groups)
            c = rng.choice(cats[shift:] + cats[:shift]) if g == "r1" else rng.choice(cats)
            rows.append((g, c))
        return rows

    cur_rows, base_rows = corpus(0), corpus(2)
    df_c = spark.createDataFrame(cur_rows, "g string, k string")
    df_b = spark.createDataFrame(base_rows, "g string, k string")

    def freqs(rows):
        by = defaultdict(Counter)
        for g, c in rows:
            by[g][c if c is not None else "__null__"] += 1
        return {
            g: {k: v / sum(cnt.values()) for k, v in cnt.items()}
            for g, cnt in by.items()
        }

    fc, fb = freqs(cur_rows), freqs(base_rows)
    got = {r.g: r for r in psi_by_group(df_c, df_b, "k", "g").collect()}
    for g in groups:
        want = psi_from_dicts(fc[g], fb[g])
        assert got[g].psi == pytest.approx(want, rel=1e-9), g
        assert got[g].n_current == sum(1 for x in cur_rows if x[0] == g)


def test_boundary_census_and_violations(spark):
    from filters_spark.engine import boundary_census, boundary_violations

    df = spark.createDataFrame(
        [
            # c1: user -> assistant (clean)
            ("c1", 0, "user"), ("c1", 1, "assistant"),
            # c2: ends on user (dangling question)
            ("c2", 0, "user"), ("c2", 1, "assistant"), ("c2", 2, "user"),
            # c3: opens on assistant AND ends on tool
            ("c3", 0, "assistant"), ("c3", 1, "tool"),
            # c4: single-turn null role (boundary on both sides)
            ("c4", 0, None),
        ],
        "conv_id string, turn_idx int, role string",
    )
    census = {
        (r.first, r.last): r.n_convs
        for r in boundary_census(df, "conv_id", "turn_idx", "role").collect()
    }
    assert census == {
        ("user", "assistant"): 1,
        ("user", "user"): 1,
        ("assistant", "tool"): 1,
        ("__null__", "__null__"): 1,
    }

    out = boundary_violations(
        df,
        "conv_id",
        "turn_idx",
        "role",
        expected_first=("user", "system"),
        expected_last=("assistant",),
    )
    got = {(r.conv_id, r.code): r.value for r in out.collect()}
    assert got == {
        ("c2", "bad_last"): "user",
        ("c3", "bad_first"): "assistant",
        ("c3", "bad_last"): "tool",
        ("c4", "bad_first"): "__null__",
        ("c4", "bad_last"): "__null__",
    }

    # one-sided check: only the last turn constrained
    last_only = boundary_violations(
        df, "conv_id", "turn_idx", "role", expected_last=("assistant",)
    )
    assert {r.conv_id for r in last_only.collect()} == {"c2", "c3", "c4"}

    with pytest.raises(ValueError):
        boundary_violations(df, "conv_id", "turn_idx", "role")


def test_boundary_census_composite_idx_and_python_reference(spark):
    """Composite (turn_idx, sub_idx) ordering + randomized cross-check
    against a pure-Python first/last reduction."""
    import random

    from filters_spark.engine import boundary_census

    rng = random.Random(20260819)
    roles = ["user", "assistant", "system", "tool", None]
    rows = []
    for c in range(40):
        n = rng.randint(1, 6)
        order = list(range(n))
        rng.shuffle(order)  # input arrival order is not idx order
        for pos, i in enumerate(order):
            # same turn_idx, distinct sub_idx: composite key breaks tie
            rows.append((f"c{c}", i // 2, i % 2, rng.choice(roles), pos))
    df = spark.createDataFrame(
        [(c, t, s, r) for c, t, s, r, _ in rows],
        "conv_id string, turn_idx int, sub_idx int, role string",
    )
    got = {
        (r.first, r.last): r.n_convs
        for r in boundary_census(
            df, "conv_id", ["turn_idx", "sub_idx"], "role"
        ).collect()
    }
    by_conv = {}
    for c, t, s, r, _ in rows:
        by_conv.setdefault(c, []).append(((t, s), r))
    want = {}
    for turns in by_conv.values():
        turns.sort()
        f = turns[0][1] or "__null__"
        l = turns[-1][1] or "__null__"
        want[(f, l)] = want.get((f, l), 0) + 1
    assert got == want
