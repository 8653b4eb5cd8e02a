"""Checkpoint/resume for batch validation (BASELINE.json north rule:
"resumable from checkpoint with per-partition lineage + metrics").

There is no Spark builtin for *batch* resumability (SURVEY.md §4.3(5)),
so the engine keeps a filesystem manifest: one JSON file per completed
conv-bucket, written atomically (tmp + rename), recording lineage (input
fingerprint, suite config hash) and the bucket's verdict counters.

Resume = enumerate incomplete buckets and re-run ONLY those, pushing the
bucket predicate into the scan.  The default bucket transform is
``pmod(xxhash64(conv_id), N)``; on an Iceberg table partitioned by
``bucket(N, conv_id)`` use
``filters_spark.sources.iceberg.iceberg_bucket_fn`` instead (Iceberg's
transform is Murmur3-32, not xxhash64) so the resume predicate matches
the partition transform and becomes true partition pruning — on raw
parquet the default is a scan-level filter.

A killed job re-validates at most the buckets that had not committed
their manifest entry — per-bucket exactly-once, per-row at-least-once.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filters_spark.engine.suite import ValidationSuite

#: manifest state-schema version.  v1 = the unversioned r4 format
#: (verdict + metrics + optional sketches/histograms); v2 adds this
#: field plus the suite fingerprint.  Bump whenever the meaning or
#: mergeability of stored state changes — resume REFUSES to merge
#: entries from another version instead of silently mixing state.
STATE_VERSION = 2


def suite_fingerprint(suite: ValidationSuite) -> str:
    """Stable digest of the suite config that determines what the stored
    per-bucket state MEANS (rules, table rules, keys, bucket count,
    stat/drift columns).  Specs without a stable ``__repr__`` fall back
    to their class name, so the fingerprint can never false-refuse a
    valid resume on object identity — it only catches real config
    drift."""
    import hashlib

    def sig(v) -> str:
        r = repr(v)
        return type(v).__name__ if " object at 0x" in r else r

    spec = repr(
        {
            "rules": {k: sig(v) for k, v in sorted(suite.rules.items())},
            "table_rules": sorted((suite.table_rules or {}).items()),
            "conv": suite.conv,
            "idx": suite.idx,
            "n_buckets": suite.n_buckets,
            "stat_columns": suite.stat_columns,
            "drift_cols": suite.drift_cols,
            "length_col": suite.length_col,
        }
    )
    return hashlib.sha256(spec.encode()).hexdigest()[:16]


class CheckpointManifest:
    def __init__(self, path: str | Path) -> None:
        self.dir = Path(path)
        self.dir.mkdir(parents=True, exist_ok=True)

    def check_compatible(self, fingerprint: str) -> None:
        """Refuse to resume over a manifest whose entries were written by
        a different state-schema version or a different suite config —
        merging them would silently blend incompatible state (VERDICT r4
        item 7).  Unversioned (pre-v2) entries read as version 1."""
        for b in sorted(self.completed()):
            entry = self.read(b)
            v = int(entry.get("state_version", 1))
            if v != STATE_VERSION:
                raise RuntimeError(
                    f"checkpoint manifest {self.dir} bucket {b} was written "
                    f"by state version {v}, this engine writes "
                    f"{STATE_VERSION}; refusing to merge mixed-version "
                    "state — delete the manifest directory to re-validate, "
                    "or finish the job with the engine version that wrote it"
                )
            fp = entry.get("suite_fingerprint")
            if fp != fingerprint:
                raise RuntimeError(
                    f"checkpoint manifest {self.dir} bucket {b} was written "
                    f"with suite config {fp}, current config is "
                    f"{fingerprint}; refusing to resume with changed rules/"
                    "buckets — delete the manifest directory to re-validate"
                )

    def _file(self, bucket: int) -> Path:
        return self.dir / f"bucket_{bucket:05d}.json"

    def completed(self) -> set[int]:
        return {
            int(p.stem.split("_")[1]) for p in self.dir.glob("bucket_*.json")
        }

    def mark(self, bucket: int, payload: dict) -> None:
        """Atomic commit: write-tmp + rename (POSIX rename is atomic on
        one filesystem, the property object stores emulate with PUT)."""
        target = self._file(bucket)
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump({"bucket": bucket, "ts": time.time(), **payload}, f)
            os.replace(tmp, target)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def read(self, bucket: int) -> dict:
        return json.loads(self._file(bucket).read_text())


def run_resumable(
    df: DataFrame,
    suite: ValidationSuite,
    manifest: CheckpointManifest | str,
    baseline: DataFrame | None = None,
    buckets_per_job: int = 8,
    fail_after_buckets: int | None = None,
    output: str | None = None,
    sketch_cols: list[str] | None = None,
    hist_cols: list[str] | None = None,
    hist_bins: int = 32,
    hist_range: tuple[float, float] = (0.0, 2048.0),
) -> dict:
    """Run the suite bucket-group by bucket-group, committing the manifest
    after each group.  Returns aggregate counters across ALL completed
    buckets (this run + prior runs).

    The resume predicate uses ``suite.bucket_fn`` — the SAME transform
    that keys the suite's verdicts — so selected rows and verdict buckets
    can never diverge (with a custom transform, e.g. ``iceberg_bucket_fn``
    on a ``bucket(N, conv_id)`` table, both sides speak Iceberg's
    Murmur3-32).  A verdict keyed outside the requested group means the
    two transforms disagree after all and is raised, never silently
    recorded.

    ``output`` (optional) streams each group's verdicts + violations to
    ``{output}/verdicts`` / ``{output}/violations`` parquet, partitioned
    by bucket with dynamic partition overwrite — re-running a bucket
    after a crash replaces exactly its own partition, so the result
    tables stay consistent with the manifest without a second full
    validation pass over the table.

    ``sketch_cols`` enables ACCUMULATED SKETCH STATE (north rule): each
    completed bucket's manifest entry carries a base64 Datasketches-HLL
    sketch per listed column (one extra aggregation per group, keyed by
    bucket); the final return includes ``distinct_estimates`` — the
    union of every completed bucket's sketches across ALL runs, so a
    resumed job reports table-wide distinct counts without rescanning
    the partitions a previous run already validated.

    ``hist_cols`` is the distribution twin of ``sketch_cols``: each
    completed bucket's manifest entry carries a FIXED-GRID histogram
    per listed column (string columns histogrammed by length —
    the PSI drift input; numeric columns by value).  Fixed-grid
    histograms merge by vector addition, so the resumed job's
    table-wide ``length_histograms`` is EXACTLY what a single-shot run
    over the full table would report — quantile summaries cannot make
    that claim (merge-of-merges degrades).

    ``baseline`` (optional) is the drift reference snapshot.  Groups run
    without it; once every bucket has committed, ``suite.drift`` runs ONCE
    over the whole input, is returned as ``drift`` and gates ``passed``
    exactly as the one-shot ``suite.run`` does.

    ``fail_after_buckets`` is a test hook: abort after N newly-completed
    buckets to simulate a killed job.
    """
    if not isinstance(manifest, CheckpointManifest):
        manifest = CheckpointManifest(manifest)
    fingerprint = suite_fingerprint(suite)
    manifest.check_compatible(fingerprint)
    n = suite.n_buckets
    done = manifest.completed()
    todo = [b for b in range(n) if b not in done]
    newly = 0
    counters = ("n_rows", "n_invalid", "dup_keys", "gappy_convs") + (
        ("rule_fails",) if suite.table_rules else ()
    )
    conv_bucket = suite.bucket_fn(F.col(suite.conv), n)

    for i in range(0, len(todo), buckets_per_job):
        group = todo[i : i + buckets_per_job]
        # On Iceberg with bucket(N, conv_id) partitioning (and
        # bucket_fn=iceberg_bucket_fn) this predicate prunes to exactly
        # these partitions.
        sub = df.where(conv_bucket.isin(group))
        sketches: dict[int, dict[str, str]] = {}
        if sketch_cols:
            from filters_spark.engine.stats import bucket_distinct_sketches

            sketches = bucket_distinct_sketches(
                sub, conv_bucket, sketch_cols
            )
        histograms: dict[int, dict[str, list[int]]] = {}
        if hist_cols:
            from filters_spark.engine.stats import bucket_length_histograms

            histograms = bucket_length_histograms(
                sub,
                conv_bucket,
                hist_cols,
                bins=hist_bins,
                lo=hist_range[0],
                hi=hist_range[1],
            )
        result = suite.run(sub)
        try:
            if output is not None:
                out = output.rstrip("/")
                for name, frame in (
                    ("verdicts", result.verdicts),
                    ("violations", result.violations),
                ):
                    (
                        frame.write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("bucket")
                        .parquet(f"{out}/{name}")
                    )
            verdict_rows = {
                r["bucket"]: r.asDict() for r in result.verdicts.collect()
            }
        finally:
            result.unpersist()
        stray = set(verdict_rows) - set(group)
        if stray:
            raise RuntimeError(
                f"verdict buckets {sorted(stray)} fall outside the requested "
                f"group {group}: the resume predicate and suite.bucket_fn "
                "disagree (mixed bucket transforms?)"
            )
        for b in group:
            row = verdict_rows.get(b)
            if row is None:
                # No verdict for a requested bucket ⇒ the predicate
                # matched zero rows for it ⇒ genuinely empty (same
                # transform on both sides, checked above).
                row = {
                    **dict.fromkeys(counters + ("surplus_rows", "n_convs"), 0),
                    "bucket_pass": True,
                }
            row.pop("bucket", None)
            payload = {
                "state_version": STATE_VERSION,
                "suite_fingerprint": fingerprint,
                "verdict": row,
            }
            if b in sketches:
                payload["sketches"] = sketches[b]
            if b in histograms:
                payload["histograms"] = histograms[b]
            manifest.mark(b, payload)
            newly += 1
            if fail_after_buckets is not None and newly >= fail_after_buckets:
                return {"completed": len(done) + newly, "aborted": True}

    # aggregate lineage across all manifest entries
    total = dict.fromkeys(counters, 0)
    passed = True
    states: list[dict[str, str]] = []
    hist_states: list[dict[str, list[int]]] = []
    for b in manifest.completed():
        entry = manifest.read(b)
        v = entry["verdict"]
        for k in total:
            total[k] += int(v.get(k) or 0)
        passed = passed and bool(v.get("bucket_pass", True))
        if entry.get("sketches"):
            states.append(entry["sketches"])
        if entry.get("histograms"):
            hist_states.append(entry["histograms"])
    drift = suite.drift(df, baseline) if baseline is not None else {}
    out = {
        "completed": len(manifest.completed()),
        "aborted": False,
        "passed": passed and not drift.get("drift_failed", False),
        **total,
        "drift": drift,
    }
    if states:
        from filters_spark.engine.stats import merge_distinct_sketches

        out["distinct_estimates"] = merge_distinct_sketches(
            df.sparkSession, states
        )
    if hist_states:
        from filters_spark.engine.stats import merge_length_histograms

        out["length_histograms"] = merge_length_histograms(hist_states)
    return out
