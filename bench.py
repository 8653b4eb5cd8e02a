"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>, ...extras}

The headline is the BASELINE.json north-rule metric: turns/sec through
the FULL validation chain (row chains + stats + uniqueness + referential
+ drift) over the synthetic transcripts table.  Scaling evidence across
two parallelism levels is produced by ``scripts/scaling.py`` (separate,
because it needs two SparkContexts).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def read_steal_sec() -> float:
    """Cumulative hypervisor steal time (seconds) — this sandbox sees
    multi-× run-to-run variance from host contention, so every benchmark
    records the steal accumulated during its window; numbers with
    significant steal are not comparable."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def get_spark(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.default.parallelism", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .appName("filters_spark_bench")
        .getOrCreate()
    )


def materialize(df) -> int:
    """Run the full plan without collecting results to the driver (noop
    sink would skip the final exchange metrics; a count over a cached-free
    plan keeps every operator live)."""
    return df.write.format("noop").mode("overwrite").save() or 0


def bench_suite(spark: SparkSession, n_convs: int) -> dict:
    """Full-chain validation (the north-rule job) over the deterministic
    synthetic transcripts table; returns timings + turn counts."""
    import filters_spark as fs
    from filters_spark.data.transcripts import (
        transcripts,
        transcripts_baseline,
    )
    from filters_spark.engine.suite import ValidationSuite

    df = transcripts(spark, n_convs=n_convs)
    baseline = transcripts_baseline(spark, n_convs=max(n_convs // 4, 1))
    rules = {
        "conv_id": fs.Required(),
        "turn_idx": fs.Min(0),
        "role": fs.Choice(("system", "user", "assistant", "tool")),
        "text": fs.Required() | fs.Unicode() | fs.Strip() | fs.MaxLength(2000, truncate=True),
        "tool": fs.Choice(("search", "code", "browser")),
    }
    suite = ValidationSuite(rules, stat_columns=["turn_idx", "role", "text", "tool"])

    t0 = time.time()
    result = suite.run(df)  # builds only
    # filling the narrow verdict cache executes the full validation
    # chain once (incl. Arrow kernels) — this is the "turns validated"
    # pass; the wide cleaned rows stay lazy for the caller's sink
    n_turns = result.keyed.count()
    rows_s = time.time() - t0
    gen_s = 0.0  # generation is fused into the chain pass (no pre-count)

    t0 = time.time()
    verdicts = result.verdicts.collect()
    stats = result.stats.collect()
    n_viol = result.violations.count()
    agg_s = time.time() - t0

    # release the suite's persisted cache — repeated bench runs in one
    # JVM otherwise accumulate cached partitions until spill
    result.unpersist()

    # drift is its own layer: one profile scan per side
    t0 = time.time()
    drift = suite.drift(df, baseline)
    drift_s = time.time() - t0

    total = rows_s + agg_s + drift_s
    return {
        "n_turns": n_turns,
        "gen_sec": round(gen_s, 3),
        "rows_pass_sec": round(rows_s, 3),
        "agg_sec": round(agg_s, 3),
        "drift_sec": round(drift_s, 3),
        "suite_sec": round(total, 3),
        "turns_per_sec": round(n_turns / total, 1),
        "n_buckets": len(verdicts),
        "n_stat_rows": len(stats),
        "n_violations": n_viol,
        "drift": drift,
    }


def bench_queries(
    spark: SparkSession, sf_dir: str, cpus: int
) -> tuple[dict[str, float], dict[str, list[dict]]]:
    """Headline per-query timings from the driver contract at sf_dir.

    Per query: attempts repeat (cap 4) until one is steal-CLEAN
    (<5% of the window's CPU-seconds) and the two fastest agree within
    1.5x; the KEPT number is the fastest clean attempt, falling back to
    min-wall only when no attempt is clean (recorded as clean=false).
    This Firecracker host intermittently loses 25-300 CPU-s to steal in
    bursts, and a burst landing on one heavy query masquerades as a 3x
    regression (r2's dedup_simhash read 8.2s in one record and 2.9s
    isolated — identical code; r4's suite record was 25.0s vs 13.2s
    reproduced).  Operator caches are released after each attempt so a
    query's persisted intermediates never pollute the next measurement.
    """
    import __spark_entry__ as e
    from filters_spark.pipeline.dedup import release

    names = [
        "flagship_validate",
        "min_max",
        "round_quarter",
        "uuid_canonical",
        "datetime_utc",
        "uniqueness",
        "gapless",
        "column_stats",
        "suite_verdicts",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "cosine_topk",
        "embed_near_dups",
        "fingerprint",
        "multimodal_bytestats",
        "pack_plan",
        "stratified_sample",
        # skew-stress twins beside their uniform-key baselines: the
        # design claim (hot key = one sorted run / one window
        # partition) is measured, not argued — skew cost must stay
        # within ~2x of uniform (VERDICT r3 item 5)
        "asof_join",
        "asof_join_skew",
        "sessionize",
        "sessionize_skew",
        "interval_join_mixed",
        # new r5 surface: corpus-fit quality score, violation-value
        # reporting, and one REAL Structured Streaming job driven to
        # completion (its wall includes stream startup/teardown — that
        # is the honest cost)
        "unigram_logprob",
        "violation_values",
        "streaming_sessionize",
        # late-r5 web-curation surface: URL blocklist verdicts
        # (explode + broadcast semi-join + per-doc agg), HTML
        # boilerplate strip (pure regexp projection — should be
        # scan-speed), robust median/MAD outlier verdicts (two
        # percentile aggs + broadcast join-back)
        "domain_filter",
        "html_strip",
        "robust_outliers",
        # validation-tier drift/sequence checks: exact two-sample KS
        # (agg-to-distinct + CDF window) and transition validation
        # (one conversation-keyed window pass)
        "ks_drift",
        "transition_violations",
        # final-r5 additions: chi-squared categorical drift (hash agg
        # on the tiny category domain — should be near scan-speed),
        # timestamp-monotonicity violations (one conversation-keyed
        # window pass), per-doc token entropy (explode + two
        # map-side-combining hash aggs)
        "chi2_drift",
        "ts_monotonic",
        "token_entropy",
        # per-conversation census + agent-loop detection (two-level
        # agg cascade; map-side combine collapses the loop spam)
        "conv_profile",
        # this-session additions: W1 drift (KS shape + lead), JS drift
        # (chi2 shape), declarative rule summary (ONE Aggregate node
        # however many rules — should be scan-speed), FD check (one
        # determinant-keyed agg), whole-conversation dup detection
        # (conv-keyed agg + group join-back)
        "wasserstein_drift",
        "js_drift",
        "rules_summary",
        "fd_check",
        "conv_dups",
        # volume gate (day-keyed agg + ~30-row trailing window) and
        # embedding sanity (pure aggregate() projection — scan-speed)
        "volume_anomaly",
        "embedding_sanity",
        # vocabulary drift: corpus token explode -> token-keyed agg ->
        # 200-category fold -> JSD (the heaviest of the new checks)
        "vocab_drift",
        # inter-turn latency profile (one conversation-keyed lag window
        # + conv-keyed agg with exact per-group median)
        "turn_latency",
        # per-quantile drift report (one exact percentile-array agg per
        # side, rows moved after the aggs: 2x|qs|)
        "quantile_shift",
        # snapshot regression diff (two narrow (key, digest) scans +
        # one full-outer hash join)
        "snapshot_diff",
        # stateless rules projection driven as a REAL streaming job
        # (wall includes stream startup/teardown — the honest cost)
        "streaming_rules",
        # this-session additions: bounded-memory Misra-Gries top-k
        # (two full scans: mapInPandas summary pass + pushed-down
        # isin exact-count pass), the completeness and cardinality
        # trend gates (day-keyed agg + ~30-row trailing window; the
        # distinct gate's exact path shuffles one row per distinct
        # (day, uid)), the mojibake census (pure regexp_count
        # projection — scan-speed), and canned-response detection
        # (two-level (fp, conv) -> fp hash agg)
        "heavy_hitters",
        "null_rate_anomaly",
        "distinct_anomaly",
        "text_sanity",
        "boilerplate_texts",
        # bigram PMI collocation census (two corpus explodes into
        # map-side-combining aggs + two (token, count) equi-joins)
        "pmi_collocations",
        # dimension-sliced drift: ONE union + (group, category)-keyed
        # hash agg; totals + PSI sum over the bounded census
        "psi_by_group",
        # conversation boundary-contract violations: one min_by/max_by
        # conversation-keyed agg, no window, explode bounded by violators
        "boundary_violations",
    ]
    qs = e.queries()
    out: dict[str, float] = {}
    attempts: dict[str, list[dict]] = {}
    for name in names:
        recs = []
        while True:
            s0 = read_steal_sec()
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            materialize(df)
            dt = round(time.time() - t0, 3)
            release(df)
            recs.append(
                {"sec": dt, "steal_cpu_sec": round(read_steal_sec() - s0, 1)}
            )
            if _settled(recs, cpus, cap=4):
                break
            _wait_for_quiet(30.0)
        kept, clean = _pick(recs, cpus)
        attempts[name] = recs
        kept_i = recs.index(kept)
        recs[kept_i] = dict(recs[kept_i], kept=True, clean=clean)
        out[name] = kept["sec"]
    return out, attempts


def _attempt_clean(rec: dict, cpus: int) -> bool:
    """An attempt is steal-clean when the steal accumulated in its window
    is below 5% of the window's CPU-seconds (floor 3 CPU-s for very short
    windows, where one stray tick dominates the ratio)."""
    return rec["steal_cpu_sec"] <= max(3.0, 0.05 * rec["sec"] * cpus)


def _pick(recs: list[dict], cpus: int) -> tuple[dict, bool]:
    """Keep the fastest CLEAN attempt; only if no attempt is clean fall
    back to the fastest overall (and say so).  r4's record kept a
    min-wall attempt from two equally-contaminated runs and overstated
    the suite cost 2x — preferring clean wall over min wall is the fix."""
    clean = [r for r in recs if _attempt_clean(r, cpus)]
    pool = clean or recs
    return min(pool, key=lambda r: r["sec"]), bool(clean)


def _settled(recs: list[dict], cpus: int, cap: int) -> bool:
    """Stop retrying once a clean attempt exists AND the two fastest
    attempts agree within 1.5x (bursts can throttle the guest without
    moving the steal counter, so cleanliness alone is not enough) — or
    at the attempt cap."""
    if len(recs) >= cap:
        return True
    if len(recs) < 2:
        return False
    secs = sorted(r["sec"] for r in recs)
    agree = secs[0] > 0 and secs[1] / secs[0] <= 1.5
    return agree and any(_attempt_clean(r, cpus) for r in recs)


def _wait_for_quiet(max_wait_sec: float = 90.0) -> float:
    """Between contaminated attempts, wait (bounded) for the hypervisor
    burst to pass: probe the steal rate over 2 s and sleep while it
    exceeds ~0.3 stolen cores.  Returns seconds waited."""
    waited = 0.0
    while waited < max_wait_sec:
        s0 = read_steal_sec()
        time.sleep(2.0)
        rate = (read_steal_sec() - s0) / 2.0
        waited += 2.0
        if rate <= 0.3:
            break
        time.sleep(8.0)
        waited += 8.0
    return waited


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    # transcripts sized so the suite dominates JVM fixed costs: ~1.7M
    # turns at sf0.1 (scales linearly with sf)
    n_convs = max(int(1_200_000 * sf), 2_000)

    spark = get_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    steal0 = read_steal_sec()
    # Suite: retry (cap 5, with bounded quiet-window waits between
    # contaminated attempts) until an attempt is steal-CLEAN (<5% of the
    # window's CPU-seconds) and the two fastest agree; keep the fastest
    # CLEAN attempt.  r4's record kept min-wall over two attempts that
    # were BOTH contaminated and published 25.0s for a 13.2s suite —
    # the kept number must be a clean measurement, not a lucky minimum
    # (VERDICT r4 item 2).
    attempts = []
    while True:
        s0 = read_steal_sec()
        d = bench_suite(spark, n_convs)
        d["steal_cpu_sec"] = round(read_steal_sec() - s0, 1)
        attempts.append(d)
        as_recs = [
            {"sec": a["suite_sec"], "steal_cpu_sec": a["steal_cpu_sec"]}
            for a in attempts
        ]
        if _settled(as_recs, cpus, cap=5):
            break
        _wait_for_quiet(90.0)
    kept_rec, suite_clean = _pick(as_recs, cpus)
    suite = attempts[as_recs.index(kept_rec)]
    queries, query_attempts = bench_queries(spark, sf_dir, cpus)
    steal_sec = round(read_steal_sec() - steal0, 1)
    total = round(suite["suite_sec"] + sum(queries.values()), 3)

    # Bulky per-attempt detail goes on its OWN earlier stdout line and a
    # sidecar file; the FINAL stdout line stays compact so the driver's
    # tail-window JSON parse always succeeds (r3's BENCH record came back
    # `parsed: null` once query_attempts outgrew the tail window).
    detail = {
        "suite_detail": {
            k: v
            for k, v in suite.items()
            if k not in ("n_turns", "turns_per_sec")
        },
        "suite_attempts": [
            {"suite_sec": a["suite_sec"], "steal_cpu_sec": a["steal_cpu_sec"]}
            for a in attempts
        ],
        "query_attempts": query_attempts,
    }
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print("BENCH_DETAIL " + json.dumps(detail), flush=True)

    out = {
        "metric": "full_chain_validation_plus_headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": {"full_validation_suite": suite["suite_sec"], **queries},
        "sf": sf,
        "cpus": cpus,
        "n_turns": suite["n_turns"],
        "turns_per_sec_full_chain": suite["turns_per_sec"],
        "hypervisor_steal_cpu_sec": steal_sec,
        # record quality: the kept suite attempt's own steal window and
        # whether every kept number came from a steal-clean attempt
        "suite_kept_steal_cpu_sec": suite["steal_cpu_sec"],
        "suite_kept_clean": suite_clean,
        "all_queries_clean": all(
            any(r.get("clean") for r in recs if r.get("kept"))
            for recs in query_attempts.values()
        ),
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
