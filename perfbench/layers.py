"""Traced layer run: times each layer's public function in one Spark
session, one span per call.

Run by ``run.py --trace 1`` as its own process, with the same submit
arguments as the job plus the event log::

    python3 perfbench/layers.py <config.json>

The config names the input and baseline parquet, the checkpoint settings
of the resumable job, and where to write the result.  Before each call
the span's name becomes the Spark job group, so ``eventlog.summarize``
attributes every task to its layer.  Spans stay in memory and are written
out, with the layer counts, when the session ends.

The layers are timed as separate actions, never as phases inside one
``suite.run()`` with a baseline (that computes drift eagerly and fills
the cache): ``suite.run(df)`` without a baseline only builds the plan,
and its cache, verdicts and violations are each forced here in turn.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

#: the fast-path pattern of ``Unicode``'s Arrow kernel
#: (``operators/strings.py``), in Java regex syntax
FAST_TEXT = r"^[\x20-\x7e\t\n]*\z"


class Tracer:
    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(name, name)
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(
                {
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "run": self.run_id,
                }
            )
            self.sc.setJobGroup(parent or "layers", parent or "layers")

    def seconds(self, name: str) -> float:
        (s,) = [s for s in self.spans if s["name"] == name]
        return s["end"] - s["start"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cache_bytes(sc) -> int:
    return sum(
        int(i.memSize()) + int(i.diskSize())
        for i in sc._jsc.sc().getRDDStorageInfo()
    )


def manifest_ts(manifest_dir: str) -> dict[int, float]:
    """Commit time of each bucket entry in a checkpoint manifest."""
    ts = {}
    for name in os.listdir(manifest_dir):
        if name.startswith("bucket_") and name.endswith(".json"):
            with open(os.path.join(manifest_dir, name), encoding="utf-8") as f:
                e = json.load(f)
            ts[e["bucket"]] = e["ts"]
    return ts


def group_seconds(manifest_dir: str, per_group: int, starts: list[float]) -> list[float]:
    """Seconds each bucket group took, from the manifest's ``ts`` fields.

    A group counts from the previous group's commit, or from the latest
    of ``starts`` (the epoch start of each process that ran groups) when
    that is later, i.e. the group was the first its process ran."""
    ts = manifest_ts(manifest_dir)
    ends = sorted(
        max(ts[b] for b in range(g, min(g + per_group, len(ts))))
        for g in range(0, len(ts), per_group)
    )
    return [
        end - max([t for t in starts if t < end] + ends[:i][-1:])
        for i, end in enumerate(ends)
    ]


def main(config_path: str) -> int:
    with open(config_path, encoding="utf-8") as f:
        cfg = json.load(f)
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import filters_spark as fs
    from filters_spark.core.compiler import validate
    from filters_spark.core.spec import Chain
    from filters_spark.engine.checkpoint import run_resumable
    from filters_spark.engine.stats import column_stats
    from filters_spark.engine.suite import ValidationSuite
    from filters_spark.job import default_rules

    spark = (
        SparkSession.builder.appName("perfbench_layers")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    sc = spark.sparkContext
    tr = Tracer(sc, cfg["run_id"])
    rules = default_rules()
    jvm_rules = {
        k: Chain([s for s in v.specs if not isinstance(s, fs.Unicode)])
        if isinstance(v, Chain)
        else v
        for k, v in rules.items()
    }
    suite = ValidationSuite(rules)
    df = spark.read.parquet(cfg["input"])
    baseline = spark.read.parquet(cfg["baseline"])
    counts: dict[str, tuple] = {}

    with tr.span("layers"):
        with tr.span("warmup"):
            _noop(df)
        with tr.span("scan"):
            _noop(df)
        with tr.span("core.compiler.validate"):
            _noop(validate(df, jvm_rules))
        with tr.span("core.arrow.kernel"):
            _noop(validate(df, rules))
        with tr.span("core.arrow.slow_rows"):
            slow = df.where(
                F.col("text").isNotNull() & ~F.col("text").rlike(FAST_TEXT)
            ).count()
            counts["core.arrow.slow_rows"] = (slow, "count")
        with tr.span("engine.suite.run"):
            result = suite.run(df)
        with tr.span("engine.suite.cache_write"):
            result.keyed.count()
        counts["engine.suite.cache_bytes"] = (_cache_bytes(sc), "bytes")
        with tr.span("engine.suite.verdicts"):
            result.verdicts.collect()
        with tr.span("engine.suite.violations"):
            n = result.violations.count()
            counts["engine.suite.violation_rows"] = (n, "count")
        result.unpersist()
        with tr.span("engine.stats.column_stats"):
            column_stats(df, suite.stat_columns).collect()
        with tr.span("engine.drift.profile"):
            suite.drift(df, baseline)
        ck = cfg["checkpoint"]
        if ck is not None:
            with tr.span("engine.checkpoint.run_resumable"):
                start = time.time()
                run_resumable(
                    df,
                    suite,
                    ck["manifest"],
                    baseline=baseline,
                    buckets_per_job=ck["buckets_per_job"],
                    output=ck["output"],
                    sketch_cols=ck["sketch_cols"],
                    hist_cols=ck["hist_cols"],
                )
            groups = group_seconds(ck["manifest"], ck["buckets_per_job"], [start])
            counts["engine.checkpoint.group_s"] = (statistics.median(groups), "s")
            counts["engine.checkpoint.groups_run"] = (len(groups), "count")
    spark.stop()

    sec = tr.seconds
    metrics = {
        "scan.s": (sec("scan"), "s"),
        "core.compiler.validate_s": (
            sec("core.compiler.validate") - sec("scan"),
            "s",
        ),
        "core.arrow.kernel_s": (
            sec("core.arrow.kernel") - sec("core.compiler.validate"),
            "s",
        ),
        "engine.suite.cache_write_s": (sec("engine.suite.cache_write"), "s"),
        "engine.suite.verdicts_s": (sec("engine.suite.verdicts"), "s"),
        "engine.suite.violations_s": (sec("engine.suite.violations"), "s"),
        "engine.stats.column_stats_s": (sec("engine.stats.column_stats"), "s"),
        "engine.drift.profile_s": (sec("engine.drift.profile"), "s"),
        **counts,
    }
    with open(cfg["result"], "w", encoding="utf-8") as f:
        json.dump({"spans": tr.spans, "metrics": metrics}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
