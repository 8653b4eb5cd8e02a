"""Physical-plan discipline tests: assert the plans we designed for are
the plans Catalyst actually produces (the 100 TB contract — SURVEY §4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import filters_spark as fs
from filters_spark.engine.referential import orphans
from filters_spark.engine.suite import ValidationSuite


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tdf(spark):
    """Plain (union-free) transcripts-shaped frame: the synthetic
    generator contains a unionAll, which legitimately duplicates the
    validation projection into both branches — fine for execution, noisy
    for plan-shape assertions."""
    rows = [
        (f"c{i % 7}", i % 5, "user" if i % 2 else "assistant",
         f"text {i}", None)
        for i in range(100)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


RULES = {
    "role": fs.Choice(("system", "user", "assistant", "tool")),
    "text": fs.Required() | fs.Unicode() | fs.Strip() | fs.MaxLength(100, truncate=True),
    "tool": fs.Choice(("search", "code", "browser")),
}


def test_validate_is_shuffle_free_single_kernel(tdf):
    """The whole multi-column chain compiles to a projection: zero
    exchanges, exactly ONE ArrowEvalPython (the Unicode kernel), and
    whole-stage codegen segments for everything else."""
    out = fs.validate(tdf, RULES)
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    # "*(n)" prefixes mark whole-stage-codegen spans in the plan string
    assert "*(" in plan


def test_is_valid_builds_no_violation_arrays(tdf):
    """Mask-first compile: ``_is_valid`` is read off the chains' error
    and fired masks, so selecting it alone leaves none of the
    violation-array plumbing (``ArrayFilter``, ``concat``) in the plan."""
    plan = plan_of(fs.validate(tdf, RULES).select("_is_valid"))
    assert "filter(" not in plan and "ArrayFilter" not in plan, plan
    assert "concat(" not in plan, plan


def test_violations_build_without_array_filter(tdf):
    """The chains' violation arrays are concats of one-element arrays:
    ``ArrayFilter`` is a codegen fallback, and one in a chain keeps its
    whole projection out of whole-stage codegen."""
    plan = plan_of(fs.validate(tdf, RULES))
    assert "filter(" not in plan and "ArrayFilter" not in plan, plan


def test_chain_plans_grow_linearly(spark):
    """Every compiled value is bound once (``Ctx.bind``), at the top of a
    chain and inside ``FilterRepeater`` lambdas alike, so a chain's
    analysed plan grows linearly with its steps.  Inlined, ``Int`` alone
    analysed to megabytes (its conditions repeated its cast and
    normalised text), and each repeater step multiplied the lambda's
    tree."""
    from filters_spark.core.compiler import attach_chain
    from tests.golden_utils import decode, load_goldens
    from tests.test_goldens import NESTED_SPEC_CHAINS

    def analysed(df, chain):
        out, _, _ = attach_chain(df, "v", chain)
        return len(out._jdf.queryExecution().analyzed().toString().encode())

    strings = spark.createDataFrame([("1",), (" 2.5",), (None,)], "v string")
    assert analysed(strings, fs.Int()) < 100_000
    goldens = load_goldens("nested")
    for chain_id in ("repeater_int", "mapper_basic"):
        group = goldens[chain_id]
        rows = [(decode(c["input"]),) for c in group["cases"]]
        df = spark.createDataFrame(rows, f"v {group['input_type']}")
        assert analysed(df, NESTED_SPEC_CHAINS[chain_id]()) < 1_000_000, chain_id
    longs = spark.createDataFrame([([1, 200, None],), (None,)], "v array<long>")
    three = fs.Required() | fs.Min(0) | fs.Max(100)
    five = three | fs.Min(1) | fs.Max(99)
    assert analysed(longs, fs.FilterRepeater(five)) <= 2 * analysed(
        longs, fs.FilterRepeater(three)
    )


def test_column_pruning_reaches_parquet_scan(spark, tmp_path):
    """A chain over one column must not read the others (ReadSchema
    pruning through the compiled projection)."""
    from filters_spark.data.transcripts import transcripts

    transcripts(spark, n_convs=50).write.mode("overwrite").parquet(
        str(tmp_path / "t")
    )
    df = spark.read.parquet(str(tmp_path / "t"))
    out = fs.validate(
        df.select("conv_id", "text"), {"text": fs.Required()}
    ).select("conv_id", "_is_valid")
    plan = plan_of(out)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "conv_id" in scan_line and "text" in scan_line
    assert "role" not in scan_line and "tool" not in scan_line


def test_predicate_pushdown_reaches_parquet_scan(spark, tmp_path):
    from filters_spark.data.transcripts import transcripts

    transcripts(spark, n_convs=50).write.mode("overwrite").parquet(
        str(tmp_path / "t2")
    )
    df = spark.read.parquet(str(tmp_path / "t2"))
    out = fs.validate(df, {"text": fs.Required()}).where(
        F.col("turn_idx") > 3
    )
    plan = plan_of(out)
    assert "PushedFilters: [IsNotNull(turn_idx), GreaterThan(turn_idx,3)]" in plan


def test_bucket_predicate_reaches_scan_below_kernel_repeater(spark, tmp_path):
    """A ``_bucket IN (group)`` filter over the suite's row pass sits on
    the parquet scan, below the Arrow kernel, both of a ``FilterRepeater``
    element chain and of the job's own rules (``Unicode`` at the top of
    ``text``): the row pass is a projection, so one bucket group reads
    only its own rows (what ``run_resumable``, which builds the row pass
    once per job and selects each group by its buckets, relies on)."""
    from filters_spark.data.transcripts import transcripts
    from filters_spark.engine.suite import BUCKET_COL
    from filters_spark.job import default_rules

    rows = [(f"c{i % 9}", i % 4, [f"t{i}", "", "café"]) for i in range(40)]
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, texts array<string>"
    ).write.parquet(str(tmp_path / "t3"))
    transcripts(spark, n_convs=20).write.parquet(str(tmp_path / "t4"))
    cases = (
        (
            "t3",
            ValidationSuite(
                {"texts": fs.FilterRepeater(fs.Required() | fs.Unicode())},
                n_buckets=8, drift_cols=(), length_col=None,
            ),
        ),
        ("t4", ValidationSuite(default_rules(), n_buckets=8)),
    )
    for path, suite in cases:
        df = spark.read.parquet(str(tmp_path / path))
        out = suite.row_results(df).where(F.col(BUCKET_COL).isin([1, 5]))
        lines = plan_of(out).splitlines()
        kernel = next(i for i, l in enumerate(lines) if "ArrowEvalPython" in l)
        bucket = next(
            i for i, l in enumerate(lines) if "Filter" in l and "xxhash64" in l
        )
        scan = next(i for i, l in enumerate(lines) if "FileScan parquet" in l)
        assert kernel < bucket < scan, "\n".join(lines)
        # nothing but the columnar-to-row bridge between filter and scan
        assert all("ColumnarToRow" in l for l in lines[bucket + 1 : scan]), lines


def test_orphans_broadcast_anti_join(spark, tdf):
    parent = spark.range(10).select(
        F.format_string("conv-%010d", F.col("id")).alias("conv_id")
    )
    o = orphans(tdf, parent, on="conv_id", broadcast_parent=True)
    plan = plan_of(o)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_verdicts_single_keyed_shuffle(tdf):
    """Uniqueness + gaplessness must come from ONE (conv, idx) shuffle —
    the aggregation cascade makes this structural (measured: Spark does
    not dedupe twin exchanges over a shared pre-agg, so branching
    designs silently double the big shuffle)."""
    spark = tdf.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        suite = ValidationSuite(RULES, n_buckets=8)
        rows = suite.row_results(tdf)
        v = suite.verdicts(rows)
        plan = plan_of(v)
        import re

        keyed = re.findall(
            r"hashpartitioning\(conv_id#\d+, turn_idx#\d+", plan
        )
        assert len(keyed) == 1, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _docs(spark):
    rows = [(i, f"doc text number {i % 20} words {i % 5}") for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_verify_never_broadcasts_corpus_sizes(spark):
    """The per-doc shingle-size relation has one row per document in the
    corpus; a hinted broadcast of it is a driver OOM at 10^8+ docs.  The
    verify stage must (a) candidate-restrict it with a semi-join and
    (b) leave the strategy to AQE — the only *hinted* broadcasts allowed
    anywhere in the dedup plans are the flood-guard anti-joins, whose
    build side is bounded by construction.  With the auto-broadcast
    threshold disabled, any surviving BroadcastHashJoin must therefore
    be a LeftAnti."""
    from filters_spark.pipeline.dedup import jaccard_pairs, minhash_lsh_pairs

    prev_t = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_a = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for df in (
            jaccard_pairs(_docs(spark), threshold=0.1, max_df=50),
            minhash_lsh_pairs(_docs(spark), verify_threshold=0.1),
        ):
            plan = plan_of(df)
            assert "LeftSemi" in plan  # candidate restriction is present
            for line in plan.splitlines():
                if "BroadcastHashJoin" in line:
                    assert "LeftAnti" in line, line
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_t)
        spark.conf.set("spark.sql.adaptive.enabled", prev_a)


def test_pack_plan_prefix_sum_reuses_window_exchange(spark):
    """pack_plan's shard-offset branch must reuse the per-shard window's
    hashpartitioning(shard) Exchange — otherwise the entire upstream
    (scan, filters, and any dedup/curation chain feeding the pack, e.g.
    curation_e2e) executes twice.  Requires the shard-notnull filter in
    `base`: without it the offsets join pushes isnotnull(shard) into
    only one branch and the two Exchanges stop being canonically equal.
    Pinned with AQE off so the static ReuseExchange rule is visible in
    the plan string; with AQE on the same reuse happens at stage level
    (verified: ReusedExchange in the final adaptive plan)."""
    from filters_spark.pipeline import pack_plan

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.createDataFrame(
            [(i, "a b c d e") for i in range(50)], "doc_id long, text string"
        )
        plan = plan_of(pack_plan(df, 4))
        assert "ReusedExchange" in plan, plan[:3000]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_stats_single_aggregation_pass(tdf):
    from filters_spark.engine.stats import column_stats

    plan = plan_of(column_stats(tdf, ["turn_idx", "text"]))
    # one aggregation over the input: exactly one pair of partial/final
    # (Hash/ObjectHashAggregate or SortAggregate), no join
    # one partial/final pair (imperative sketch aggs may split across
    # Hash/ObjectHash operators), a single global exchange, no join
    n_aggs = sum(
        plan.count(k)
        for k in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
    )
    assert 2 <= n_aggs <= 4, plan[:2000]
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # SinglePartition (+AQE wrapper)


def test_every_registered_query_avoids_unbounded_nested_loops(spark):
    """Whole-surface plan discipline: build ALL driver-contract queries
    at sf0.001 and assert no CartesianProduct / BroadcastNestedLoopJoin
    anywhere except the documented bounded-build-side cases.  This is
    the net that catches a future operator silently degrading into the
    O(n^2) plan that works at test scale and dies at 100 TB."""
    import __spark_entry__ as e

    # every entry here must carry a WHY; an unexplained hit fails
    allowed = {
        # 1-row global-total relation broadcast-crossed onto the data
        # (bounded build side by construction):
        "tfidf_top_terms",     # n_docs count
        "drift_frequencies",   # total-count normaliser
        "length_histogram",    # total-count normaliser
        "unigram_logprob",     # vocab total-count normaliser
        "ks_drift",            # 1-row (n_cur, n_base) totals onto the CDF
        "chi2_drift",          # 1-row (tc, tb) totals onto the K-row census
        "js_drift",            # 1-row (tc, tb) totals onto the K-row census
        "vocab_drift",         # same js_divergence 1-row totals join
        "wasserstein_drift",   # 1-row (tc, tb) totals onto the CDF
        "pmi_collocations",    # 1-row (T, B) totals onto the bigram census
        # documented O(n^2) opt-in: the exact all-pairs baseline the
        # DuckDB oracle replays (default API path is SRP-bucketed)
        "embed_near_dups",
    }
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in e.queries().items():
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan(
        ).toString()
        hits = [
            pat
            for pat in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if pat in plan
        ]
        if hits and name not in allowed:
            offenders[name] = hits
    assert not offenders, offenders
