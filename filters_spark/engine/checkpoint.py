"""Checkpoint/resume for batch validation (BASELINE.json north rule:
"resumable from checkpoint with per-partition lineage + metrics").

There is no Spark builtin for *batch* resumability (SURVEY.md §4.3(5)),
so the engine keeps a filesystem manifest: one JSON file per completed
conv-bucket, written atomically (tmp + rename), recording lineage (one
fingerprint of the suite config, the stored state's spec and the input
files) and the bucket's state: its verdict counters, drift census and
stat state.  The manifest is the job's state: once every bucket has
committed, the job is finished from it (``ValidationSuite.finish``)
without rereading a validated row; only the violation rows are written
as the groups run.

Resume = enumerate incomplete buckets and re-run ONLY those: one row
pass per job (the suite's ``row_results``, chains compiled once), each
bucket group a filter on that pass's own ``_bucket``, which the
optimizer pushes below the chains into the scan.  The default bucket
transform is ``pmod(xxhash64(conv_id), N)``; on an Iceberg table
partitioned by ``bucket(N, conv_id)`` use
``filters_spark.sources.iceberg.iceberg_bucket_fn`` instead (Iceberg's
transform is Murmur3-32, not xxhash64) so the group filter matches the
partition transform and becomes true partition pruning — on raw
parquet the default is a scan-level filter.

A killed job re-validates at most the buckets that had not committed
their manifest entry — per-bucket exactly-once, per-row at-least-once.
"""

from __future__ import annotations

import functools
import json
import os
import tempfile
import time
import types
from collections import Counter
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filters_spark.core.spec import BaseSpec, SpecMeta, resolve
from filters_spark.engine.drift import collect_census
from filters_spark.engine.stats import (
    RAW_PREFIX,
    bucket_stat_states,
    hist_bin,
    hist_entry,
    hist_vectors,
    merge_stat_states,
    stat_kinds,
    stat_table,
)
from filters_spark.engine.suite import (
    BUCKET_COL,
    ValidationSuite,
    verdict_totals,
)

#: manifest state-schema version.  v1 = the unversioned r4 format
#: (verdict + metrics + optional sketches/histograms); v2 adds this
#: field plus the suite fingerprint; v3 adds the per-bucket drift
#: census; v4 replaces the sketches and histograms with the per-bucket
#: stat state and histogram census dimensions.  Bump whenever the
#: meaning or mergeability of stored state changes — resume REFUSES to
#: merge entries from another version instead of silently mixing state.
STATE_VERSION = 4

#: raw-copy prefix of the histogram bins that ride the chain pass into
#: ``SuiteResult.keyed``
HIST_PREFIX = RAW_PREFIX + "hist_"


def _sig(v, _enclosing=()):
    """A stable signature of a rule value: a spec (a spec class, macro
    or chain resolved first) by its class and instance attributes,
    recursing into specs, chains, dicts, sequences and sorted sets; a
    callable by what defines it — a function by its qualified name, its
    code (bytecode, names and constants, nested code objects included)
    and the signatures of its defaults and closure cells, a ``partial``
    by its function, args and keywords, a type or builtin by its
    qualified name, any other callable by its class and attributes;
    anything else by its ``repr``, or its class name where that shows an
    object address.  Nothing is signed by ``id()`` or ``hash()``, so the
    same source signs the same in every process and a valid resume is
    never refused on object identity.  ``repr`` alone drops parameters
    (``MaxLength(2000, truncate=True)`` prints ``MaxLength(2000)``)."""
    if isinstance(v, (BaseSpec, SpecMeta)):
        v = resolve(v)
        return [type(v).__qualname__, {k: _sig(x) for k, x in sorted(vars(v).items())}]
    if isinstance(v, dict):
        return [[_sig(k), _sig(x)] for k, x in v.items()]
    if isinstance(v, (list, tuple)):
        return [_sig(x, _enclosing) for x in v]
    if isinstance(v, (set, frozenset)):
        return sorted((_sig(x) for x in v), key=repr)
    if isinstance(v, functools.partial):
        return ["partial", _sig(v.func), _sig(v.args), _sig(v.keywords)]
    if isinstance(v, types.CodeType):
        return [v.co_code.hex(), v.co_names, _sig(v.co_consts)]
    if isinstance(v, types.CellType):
        try:
            return _sig(v.cell_contents, _enclosing)
        except ValueError:  # an empty cell
            return None
    # a function that a closure cell leads back to signs by its name
    if isinstance(v, types.FunctionType) and all(v is not f for f in _enclosing):
        return [
            f"{v.__module__}.{v.__qualname__}", _sig(v.__code__),
            _sig(v.__defaults__), _sig(v.__kwdefaults__),
            _sig(v.__closure__ or (), (*_enclosing, v)),
        ]
    if callable(v) and hasattr(v, "__qualname__"):
        return f"{v.__module__}.{v.__qualname__}"
    if callable(v) and hasattr(v, "__dict__"):
        return [type(v).__qualname__, _sig(vars(v))]
    r = repr(v)
    return type(v).__name__ if " at 0x" in r else r


def suite_fingerprint(suite: ValidationSuite, state: dict) -> str:
    """Stable digest of the config that determines what the stored
    per-bucket state MEANS: the suite's (rules, table rules, keys,
    bucket count, stat/drift columns) and the run's ``state`` spec
    (resolved stat columns, histogram columns and grid, input files).
    Each rule is signed by :func:`_sig`, so a changed parameter anywhere
    in it is config drift."""
    import hashlib

    spec = repr(
        {
            "rules": {k: _sig(v) for k, v in sorted(suite.rules.items())},
            "table_rules": sorted((suite.table_rules or {}).items()),
            "conv": suite.conv,
            "idx": suite.idx,
            "n_buckets": suite.n_buckets,
            "stat_columns": suite.stat_columns,
            "drift_cols": suite.drift_cols,
            "length_col": suite.length_col,
            "state": state,
        }
    )
    return hashlib.sha256(spec.encode()).hexdigest()[:16]


class CheckpointManifest:
    def __init__(self, path: str | Path) -> None:
        self.dir = Path(path)
        self.dir.mkdir(parents=True, exist_ok=True)

    def check_compatible(self, fingerprint: str, inputs: list = ()) -> None:
        """Refuse to resume over a manifest whose entries were written by
        a different state-schema version or a different fingerprint (suite
        config, state spec or ``inputs``, the input files) — merging them
        would silently blend incompatible state (VERDICT r4 item 7).
        Unversioned (pre-v2) entries read as version 1."""
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
                    f"{fingerprint}; refusing to resume with changed rules, "
                    "buckets, stat state or input (this run reads "
                    f"{len(inputs)} input files: {list(inputs)[:5]}) — "
                    "delete the manifest directory to re-validate"
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

    One row pass per job: ``suite.row_results`` is built once, over the
    input plus the ``hist_cols`` bins, so the rule chains compile once
    whatever the number of groups.  Each group is that pass filtered to
    the group's values of its own ``_bucket`` column; the filter reaches
    the input scan below the chains, so each group reads only its own
    rows, and reads them ONCE: the suite's persisted narrow projection
    (``SuiteResult.keyed``) is filled from the filtered pass, and the
    group's verdicts, violations, drift census and stat state are all
    aggregated from it.

    A row's bucket is decided in one place, ``suite.row_results`` (with
    ``suite.bucket_fn``; a custom transform, e.g. ``iceberg_bucket_fn``
    on a ``bucket(N, conv_id)`` table, makes the group filter true
    partition pruning), and the group filter, the verdicts and the
    per-bucket state all read that column.  A verdict keyed outside the
    requested group is still raised, never recorded in the manifest.

    ``output`` (optional): each group writes its violation rows to
    ``{output}/violations`` parquet, partitioned by bucket with dynamic
    partition overwrite — re-running a bucket after a crash replaces
    exactly its own partition, so the table stays consistent with the
    manifest without a second validation pass.  Once every bucket has
    committed, :meth:`ValidationSuite.finish` writes ``{output}/verdicts``
    (flat, one row per non-empty bucket, from the manifest's verdicts)
    and ``{output}/stats``; an aborted run writes neither.

    Every manifest entry carries the bucket's STAT STATE (engine/stats.py:
    counts, min/max/sum, HLL and KLL sketches of each of the suite's
    stat columns, aggregated by bucket from the narrow stat inputs in
    ``keyed``).  Once every bucket has committed, the states of all
    completed buckets across ALL runs are merged and finished into the
    returned ``stats`` — the same long table ``suite.run`` gives, with
    count, null rate, min, max and avg exactly equal and distinct and
    quantiles within the sketches' error — without rescanning the
    partitions a previous run validated.  ``sketch_cols`` (stat columns)
    adds their merged HLL estimates as ``distinct_estimates``.

    Every manifest entry also carries the bucket's uncapped census
    ``{dim: {key: count}}``: the counts the suite's current-side drift
    profile is built from, plus, per ``hist_cols`` column, its
    FIXED-GRID histogram bins (string columns by length, numeric
    columns by value; ``hist_bins`` bins over ``hist_range``, the bin
    riding the chain pass).  Counts merge by addition, so the returned
    ``length_histograms`` is EXACTLY a single-shot run's.  ``baseline``
    (optional) is the drift reference snapshot.  Groups run without it;
    once every bucket has committed, the censuses of all completed
    buckets are summed and the job is finished by
    :meth:`ValidationSuite.finish`, as the one-shot job is: drift runs
    ONCE over the summed census, so only the baseline is scanned, and
    gates ``passed``.

    The stat columns, the histogram spec and the input files
    (``df.inputFiles()``) are part of the manifest's fingerprint:
    resuming with other ones is refused, not merged.

    ``fail_after_buckets`` is a test hook: abort after N newly-completed
    buckets to simulate a killed job.
    """
    for name, v in (("buckets_per_job", buckets_per_job), ("hist_bins", hist_bins)):
        if v < 1:
            raise ValueError(f"{name} must be a positive int, got {v}")
    suite.check_drift_columns(df)
    if not isinstance(manifest, CheckpointManifest):
        manifest = CheckpointManifest(manifest)
    kinds = stat_kinds(df, suite.stat_columns_of(df))
    unknown = set(sketch_cols or ()) - set(kinds)
    if unknown:
        raise ValueError(
            f"sketch_cols {sorted(unknown)} are not stat columns of the "
            f"suite ({list(kinds)})"
        )
    inputs = sorted(df.inputFiles())
    fingerprint = suite_fingerprint(
        suite,
        {
            "stat_columns": list(kinds),
            "hist": [sorted(hist_cols), hist_bins, list(hist_range)]
            if hist_cols
            else None,
            "inputs": inputs,
        },
    )
    manifest.check_compatible(fingerprint, inputs)
    done = manifest.completed()
    todo = [b for b in range(suite.n_buckets) if b not in done]
    newly = 0
    # the verdict of a bucket no row of the pass falls in
    empty = verdict_totals([], suite.table_rules)
    empty["bucket_pass"] = empty.pop("passed")
    rows = suite.row_results(
        df,
        {
            HIST_PREFIX + c: hist_bin(df, c, hist_bins, *hist_range)
            for c in hist_cols or ()
        },
    )

    for i in range(0, len(todo), buckets_per_job):
        group = todo[i : i + buckets_per_job]
        # the filter reaches the scan below the chains; on Iceberg with
        # bucket(N, conv_id) partitioning (and bucket_fn=
        # iceberg_bucket_fn) it prunes to exactly these partitions
        result = suite._row_pass(rows.where(F.col(BUCKET_COL).isin(group)))
        try:
            # per-bucket state keyed by the row pass's bucket.  The census
            # (drift dimensions and histogram bins) is one count
            # aggregation; it runs first and fills the cache from one
            # branch (the verdict cascade reads the cache from two).
            keyed = result.keyed
            entries = suite.drift_entries(keyed) + [
                hist_entry(c, F.col(HIST_PREFIX + c)) for c in hist_cols or ()
            ]
            census = collect_census(keyed, entries, BUCKET_COL)
            states = bucket_stat_states(keyed, kinds, BUCKET_COL)
            verdicts = result.verdicts.collect()
            if output is not None:
                (
                    result.violations.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket")
                    .parquet(f"{output.rstrip('/')}/violations")
                )
        finally:
            result.unpersist()
        verdict_rows = {r["bucket"]: r.asDict() for r in verdicts}
        stray = set(verdict_rows) - set(group)
        if stray:
            raise RuntimeError(
                f"verdict buckets {sorted(stray)} fall outside the requested "
                f"group {group}; refusing to record them in the manifest"
            )
        for b in group:
            # No verdict for a requested bucket ⇒ no row of the pass has
            # that _bucket ⇒ genuinely empty.
            row = verdict_rows.get(b, empty)
            row.pop("bucket", None)
            manifest.mark(
                b,
                {
                    "state_version": STATE_VERSION,
                    "suite_fingerprint": fingerprint,
                    "verdict": row,
                    "census": census.get(b, {}),
                    "stats": states.get(b),
                },
            )
            newly += 1
            if fail_after_buckets is not None and newly >= fail_after_buckets:
                return {"completed": len(done) + newly, "aborted": True}

    # finish the job from the state of all manifest entries
    entries = [manifest.read(b) for b in sorted(manifest.completed())]
    stat_states = [e["stats"] for e in entries if e["stats"] is not None]
    census_sum: dict[str, Counter] = {}
    for entry in entries:
        for dim, kn in entry["census"].items():
            census_sum.setdefault(dim, Counter()).update(kn)
    stats = stat_table(merge_stat_states(df, kinds, stat_states), kinds)
    # the verdicts table holds the buckets with rows, as the one-shot's
    verdict_rows = [
        {"bucket": e["bucket"], **e["verdict"]}
        for e in entries
        if e["verdict"]["n_rows"] > 0
    ]
    summary = suite.finish(
        df, verdict_rows, suite.verdicts(rows).schema, census_sum, stats,
        baseline, output,
    )
    out = {"aborted": False, **summary, "stats": stats}
    if sketch_cols:
        out["distinct_estimates"] = {
            r["column"]: r["value"]
            for r in stats.where(
                (F.col("metric") == "distinct")
                & F.col("column").isin(list(sketch_cols))
            ).collect()
        }
    if hist_cols:
        out["length_histograms"] = hist_vectors(census_sum, hist_bins)
    return out
