"""spark-submit entry point for the full validation job.

The BASELINE.json north rule runs the engine via ``spark-submit
--py-files`` on a multi-executor cluster::

    scripts/package.sh                      # builds dist/filters_spark.zip
    spark-submit --py-files dist/filters_spark.zip \\
        --master <cluster> \\
        -- scripts/submit_main.py \\
        --input  <parquet dir | iceberg table> \\
        --baseline <parquet dir | iceberg table | synthetic> \\
        --output /path/out --manifest /path/manifest

or locally, ``python -m filters_spark.job --synthetic 2000 --output /tmp/o``.

Reads the transcripts input, runs the ValidationSuite (row chains +
stats + uniqueness + referential + drift), writes
``verdicts/ violations/ stats/`` parquet under ``--output``, commits the
per-bucket checkpoint manifest as it goes (resume = rerun the same
command), and prints one summary JSON line on stdout.  Either path reads
the input once: the column stats come from the stat inputs carried in
the chain pass (resumed: from the manifest's merged per-bucket states).
Both paths end in ``ValidationSuite.finish``, which turns the collected
verdict rows, drift census and stats into the summary and writes
``verdicts/`` and ``stats/``.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession

import filters_spark as fs
from filters_spark.engine.checkpoint import CheckpointManifest, run_resumable
from filters_spark.engine.drift import collect_census
from filters_spark.engine.suite import ValidationSuite


def default_rules() -> dict:
    """The transcript-schema rule set (BASELINE.json input_hint)."""
    return {
        "conv_id": fs.Required(),
        "turn_idx": fs.Min(0),
        "role": fs.Choice(("system", "user", "assistant", "tool")),
        "text": fs.Required()
        | fs.Unicode()
        | fs.Strip()
        | fs.MaxLength(2000, truncate=True),
        "tool": fs.Choice(("search", "code", "browser")),
    }


def load_table(spark: SparkSession, ref: str, fmt: str) -> DataFrame:
    if fmt == "iceberg":
        return spark.read.table(ref)
    return spark.read.parquet(ref)


def table_rules_arg(text: str) -> dict:
    """``--table-rules``: a JSON object of name -> SQL predicate."""
    try:
        rules = json.loads(text)
    except json.JSONDecodeError as e:
        raise argparse.ArgumentTypeError(f"not valid JSON ({e})") from None
    if not (
        isinstance(rules, dict)
        and all(isinstance(v, str) for v in rules.values())
    ):
        raise argparse.ArgumentTypeError(
            "must be a JSON object of name -> SQL predicate"
        )
    return rules


def positive_int(text: str) -> int:
    """``--n-buckets``, ``--buckets-per-job``, ``--hist-bins``: 1 or more."""
    try:
        n = int(text)
    except ValueError:
        raise argparse.ArgumentTypeError(f"not an int: {text!r}") from None
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be 1 or more, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="filters_spark.job")
    p.add_argument("--input", help="transcripts parquet path / iceberg table")
    p.add_argument("--format", choices=("parquet", "iceberg"), default="parquet")
    p.add_argument("--baseline", help="undrifted snapshot (same format)")
    p.add_argument(
        "--synthetic",
        type=int,
        metavar="N_CONVS",
        help="use the deterministic synthetic generator instead of --input",
    )
    p.add_argument("--output", required=True, help="output dir for result tables")
    p.add_argument("--manifest", help="checkpoint manifest dir (enables resume)")
    p.add_argument("--conv-col", default="conv_id")
    p.add_argument("--idx-col", default="turn_idx")
    p.add_argument("--n-buckets", type=positive_int, default=64)
    p.add_argument("--max-invalid-rate", type=float, default=0.05)
    p.add_argument("--buckets-per-job", type=positive_int, default=8)
    p.add_argument(
        "--sketch-cols",
        help="comma-separated stat columns whose HLL distinct estimates, "
        "unioned from the per-bucket stat state in the manifest, go in "
        "the summary line (accumulated sketch state; needs --manifest)",
    )
    p.add_argument(
        "--hist-cols",
        help="comma-separated columns whose per-bucket fixed-grid "
        "histograms (string columns by length — the PSI drift input) "
        "are checkpointed in the manifest and vector-added on resume; "
        "EXACTLY equal to a single-shot run (needs --manifest)",
    )
    p.add_argument("--hist-bins", type=positive_int, default=32)
    p.add_argument(
        "--table-rules",
        type=table_rules_arg,
        help="JSON object of named TABLE-level boolean SQL predicates "
        '(cross-field invariants, e.g. {"tool_on_assistant": '
        "\"tool IS NULL OR role = 'assistant'\"}); evaluated on the "
        "raw rows in the same suite pass — verdicts gain a per-bucket "
        "rule_fails count that gates bucket_pass",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if not args.manifest and (args.sketch_cols or args.hist_cols):
        parser.error("--sketch-cols and --hist-cols need --manifest")
    if not (args.synthetic or args.input):
        parser.error("either --input or --synthetic is required")
    spark = (
        SparkSession.builder.appName("filters_spark_validation")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    if args.synthetic:
        from filters_spark.data.transcripts import (
            transcripts,
            transcripts_baseline,
        )

        df = transcripts(spark, n_convs=args.synthetic)
        baseline = transcripts_baseline(spark, n_convs=args.synthetic // 4)
    else:
        df = load_table(spark, args.input, args.format)
        baseline = (
            load_table(spark, args.baseline, args.format)
            if args.baseline
            else None
        )

    suite = ValidationSuite(
        default_rules(),
        conv=args.conv_col,
        idx=args.idx_col,
        n_buckets=args.n_buckets,
        max_invalid_rate=args.max_invalid_rate,
        table_rules=args.table_rules,
    )

    out = args.output.rstrip("/")
    if args.manifest:
        # run_resumable builds the row pass once and writes violations
        # per bucket group as it goes (dynamic partition overwrite keyed
        # by bucket), reading each group's input once; it finishes the
        # job from the manifest's summed censuses, merged stat states
        # and verdicts, so no input row is read twice.
        summary = run_resumable(
            df,
            suite,
            CheckpointManifest(args.manifest),
            baseline=baseline,
            buckets_per_job=args.buckets_per_job,
            output=out,
            sketch_cols=(
                args.sketch_cols.split(",") if args.sketch_cols else None
            ),
            hist_cols=(
                args.hist_cols.split(",") if args.hist_cols else None
            ),
            hist_bins=args.hist_bins,
        )
        del summary["stats"]  # written by the finish
    else:
        result = suite.run(df)
        # the census is one count aggregation: it runs first and fills
        # the cache from one branch (the verdict cascade reads it from
        # two)
        census = collect_census(result.keyed, suite.drift_entries(result.keyed))
        # computed once: the collected rows are written back as they are
        # (a persisted verdicts frame would lose AQE's partition
        # coalescing)
        verdicts = result.verdicts.collect()
        result.violations.write.mode("overwrite").parquet(f"{out}/violations")
        summary = suite.finish(
            df, verdicts, result.verdicts.schema, census, result.stats,
            baseline, out,
        )
        result.unpersist()

    summary["output"] = out
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
