"""Single-pass per-column statistics (BASELINE.json north_star: "emits
per-column stats (count/null-rate/distinct via HyperLogLog sketches,
min/max/quantiles via t-digest)").

All metrics for all columns ride ONE aggregation job: Spark's builtin
partial aggregation gives the two-phase (map-side combine → final merge)
treeAggregate behaviour for free — ``approx_count_distinct`` is an HLL++
sketch, ``percentile_approx`` an approximate quantile sketch, both
mergeable across partitions, so the pattern scales to any executor count
without a second shuffle.

Output is long-format: ``(column, metric, value: double, value_str)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filters_spark.engine.drift import entry_counts


def _numeric(dtype) -> bool:
    return isinstance(
        dtype,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.DecimalType,
        ),
    )


def hist_bin(
    df: DataFrame, column: str, bins: int, lo: float, hi: float
) -> Column:
    """Fixed-grid bin index of ``column`` in ``df``: ``bins`` equal-width
    bins over ``[lo, hi)``, underflow clamped into bin 0 and overflow
    into the last bin; string columns bin by ``length()``, numeric
    columns by value; null values get a null bin (they fall in no bin).
    """
    dt = df.schema[column].dataType
    v = (
        F.length(F.col(column)).cast("double")
        if isinstance(dt, T.StringType)
        else F.col(column).cast("double")
    )
    width = (float(hi) - float(lo)) / bins
    raw = F.floor((v - F.lit(float(lo))) / F.lit(width))
    # least/greatest SKIP nulls in Spark (unlike standard SQL), so an
    # unguarded clamp would drop null values into bin 0 — gate the whole
    # expression on v being present
    return F.when(
        v.isNotNull(), F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))
    )


def bucket_distinct_sketches(
    df: DataFrame,
    bucket_col: Column,
    columns: list[str],
    lg_k: int = 12,
) -> dict[int, dict[str, str]]:
    """Per-bucket Datasketches-HLL state for ``columns``, base64-encoded:
    ``{bucket: {column: sketch_b64}}``.

    This is the checkpointable "accumulated sketch state" of the north
    rule: unlike ``approx_count_distinct`` (whose HLL++ buffer is
    internal to one aggregation), ``hll_sketch_agg`` EXPORTS the sketch
    as bytes, so a resumable job can persist each completed bucket's
    sketch in its manifest entry and later union them
    (:func:`merge_distinct_sketches`) into table-wide distinct counts
    WITHOUT rescanning completed partitions.  One hash aggregation
    keyed by bucket; a sketch is ~2^lg_k bytes, so a manifest entry
    stays a few KB per column."""
    aggs = [
        F.hll_sketch_agg(F.col(c).cast("string"), lg_k).alias(c)
        for c in columns
    ]
    rows = df.groupBy(bucket_col.alias("__b")).agg(*aggs).collect()
    import base64

    return {
        int(r["__b"]): {
            c: base64.b64encode(bytes(r[c])).decode("ascii") for c in columns
        }
        for r in rows
    }


#: ``dim`` prefix of histogram-bin entries in an ``entry_counts`` census
HIST_DIM = "hist:"


def hist_entry(name: str, bin_col: Column) -> Column:
    """One ``(dim, k)`` count entry for the histogram bin of ``name``."""
    return F.struct(
        F.lit(HIST_DIM + name).alias("dim"), bin_col.cast("string").alias("k")
    )


def hist_vectors(rows, bins: int) -> dict[int, dict[str, list[int]]]:
    """``{bucket: {column: [count, ...]}}`` from the ``(__b, dim, k, n)``
    rows of an :func:`~filters_spark.engine.drift.entry_counts` census:
    the :func:`hist_entry` rows, a null bin (a null value) counted in no
    bin.  Other dimensions are ignored."""
    out: dict[int, dict[str, list[int]]] = {}
    for r in rows:
        if r["dim"].startswith(HIST_DIM):
            vec = out.setdefault(int(r["__b"]), {}).setdefault(
                r["dim"][len(HIST_DIM) :], [0] * bins
            )
            if r["k"] is not None:
                vec[int(r["k"])] += r["n"]
    return out


def bucket_length_histograms(
    df: DataFrame,
    bucket_col: Column,
    columns: list[str],
    bins: int = 32,
    lo: float = 0.0,
    hi: float = 2048.0,
) -> dict[int, dict[str, list[int]]]:
    """Per-bucket FIXED-GRID histograms — ``{bucket: {column:
    [count, ...]}}`` over the :func:`hist_bin` grid (``bins``
    equal-width bins over ``[lo, hi)``; string columns by length).

    This is the EXACTLY-mergeable distribution state for the
    checkpoint manifest: merging two fixed-grid histograms is vector
    addition, so a resumed job's table-wide text-length distribution
    (the PSI drift input) is bit-identical to a single-shot run —
    unlike quantile summaries, whose merge-of-merges degrades.  One
    hash aggregation keyed by ``(bucket, column, bin)``; state is
    ``bins`` longs per column (a few hundred bytes per manifest entry).
    Nulls fall in no bin.
    """
    entries = [hist_entry(c, hist_bin(df, c, bins, lo, hi)) for c in columns]
    return hist_vectors(
        entry_counts(
            df.withColumn("__b", bucket_col), entries, by=("__b",)
        ).collect(),
        bins,
    )


def merge_length_histograms(
    states: list[dict[str, list[int]]],
) -> dict[str, list[int]]:
    """Vector-add per-bucket fixed-grid histograms into table-wide
    counts — EXACT (integer addition is associative/commutative), no
    Spark job, no data rescan.  Input dicts must share a key set."""
    if not states:
        return {}
    cols = sorted(states[0])
    out = {c: [0] * len(states[0][c]) for c in cols}
    for s in states:
        for c in cols:
            acc = out[c]
            for i, x in enumerate(s[c]):
                acc[i] += int(x)
    return out


def merge_distinct_sketches(
    spark, states: list[dict[str, str]]
) -> dict[str, float]:
    """Union per-bucket base64 HLL sketches into table-wide distinct
    estimates — runs ``hll_union_agg`` over the tiny sketch rows, no
    data rescan.  Input dicts must share a key set."""
    import base64

    if not states:
        return {}
    cols = sorted(states[0])
    rows = [
        tuple(bytearray(base64.b64decode(s[c])) for c in cols)
        for s in states
    ]
    schema = T.StructType([T.StructField(c, T.BinaryType()) for c in cols])
    sk = spark.createDataFrame(rows, schema)
    est = sk.agg(
        *[
            F.hll_sketch_estimate(F.hll_union_agg(F.col(c))).alias(c)
            for c in cols
        ]
    ).first()
    return {c: float(est[c]) for c in cols}


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    quantiles: tuple = (0.25, 0.5, 0.75, 0.95),
    exact_distinct: bool = False,
    rsd: float = 0.05,
    quantile_accuracy: int = 2000,
) -> DataFrame:
    """Compute per-column stats in a single aggregation pass.

    ``exact_distinct=True`` swaps HLL for exact ``count_distinct`` (used
    by the DuckDB oracle queries; the HLL sketch is the scale path).

    Sketch sizing: ``rsd``/``quantile_accuracy`` control the HLL and
    quantile-summary buffer sizes.  The defaults keep per-partition
    partial buffers small — with many columns in one pass, tight
    settings (rsd 0.02 / accuracy 10000) multiply into hundreds of MB of
    partial-aggregate allocation, which measurably throttles the agg
    stage; stats feed drift/verdict thresholds where ±5% distinct and
    ~1e-3-quantile error are immaterial.
    """
    columns = columns or df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    aggs: list[Column] = [F.count(F.lit(1)).alias("__total")]
    for c in columns:
        dt = schema[c]
        col = F.col(c)
        aggs.append(F.count(col).alias(f"{c}__nonnull"))
        if exact_distinct:
            aggs.append(F.count_distinct(col).alias(f"{c}__distinct"))
        else:
            aggs.append(
                F.approx_count_distinct(col, rsd).alias(f"{c}__distinct")
            )
        if _numeric(dt):
            aggs.append(F.min(col).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(col).cast("double").alias(f"{c}__max"))
            aggs.append(F.avg(col.cast("double")).alias(f"{c}__avg"))
            aggs.append(
                F.percentile_approx(
                    col.cast("double"), list(quantiles), quantile_accuracy
                ).alias(f"{c}__quantiles")
            )
        elif isinstance(dt, T.StringType):
            ln = F.length(col)
            aggs.append(F.min(ln).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(ln).cast("double").alias(f"{c}__max"))
            aggs.append(F.avg(ln).alias(f"{c}__avg"))
            aggs.append(
                F.percentile_approx(
                    ln.cast("double"), list(quantiles), quantile_accuracy
                ).alias(f"{c}__quantiles")
            )
        elif isinstance(dt, (T.TimestampType, T.DateType)):
            aggs.append(
                F.min(col).cast("string").alias(f"{c}__min_str")
            )
            aggs.append(
                F.max(col).cast("string").alias(f"{c}__max_str")
            )
    wide = df.agg(*aggs)

    # unpivot the single wide row into long format on the driver side of
    # the plan (the wide row is one row — this is a stack over literals,
    # not a shuffle)
    row_exprs = []
    for c in columns:
        dt = schema[c]
        metrics = [
            ("count", F.col("__total").cast("double"), None),
            (
                "null_rate",
                (F.col("__total") - F.col(f"{c}__nonnull"))
                / F.col("__total"),
                None,
            ),
            ("distinct", F.col(f"{c}__distinct").cast("double"), None),
        ]
        if _numeric(dt) or isinstance(dt, T.StringType):
            label = "" if _numeric(dt) else "len_"
            metrics += [
                (f"{label}min", F.col(f"{c}__min"), None),
                (f"{label}max", F.col(f"{c}__max"), None),
                (f"{label}avg", F.col(f"{c}__avg"), None),
            ]
            for i, q in enumerate(quantiles):
                metrics.append(
                    (
                        f"{label}p{int(q * 100)}",
                        F.col(f"{c}__quantiles")[i],
                        None,
                    )
                )
        elif isinstance(dt, (T.TimestampType, T.DateType)):
            metrics += [
                ("min", None, F.col(f"{c}__min_str")),
                ("max", None, F.col(f"{c}__max_str")),
            ]
        for m, v, vs in metrics:
            row_exprs.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(m).alias("metric"),
                    (v if v is not None else F.lit(None).cast("double")).alias(
                        "value"
                    ),
                    (vs if vs is not None else F.lit(None).cast("string")).alias(
                        "value_str"
                    ),
                )
            )
    return wide.select(
        F.explode(F.array(*row_exprs)).alias("s")
    ).select("s.column", "s.metric", "s.value", "s.value_str")


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] | list[str] = (),
    id_cols: tuple[str, ...] | list[str] = (),
    k: float = 3.5,
    broadcast_stats: bool = True,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Median/MAD outlier detection per group — the robust counterpart of
    a z-score check, the standard way a validation suite flags numeric
    anomalies without letting the anomalies themselves poison the
    threshold (mean/stddev break down under the very outliers being
    hunted; median/MAD have a 50% breakdown point).

    Returns one row per input row: ``(*id_cols, *group_cols, value,
    med, mad, robust_z, is_outlier)`` where ``robust_z`` is the
    Iglewicz-Hoaglin modified z-score ``0.6745 * (x - median) / MAD``
    (null when MAD = 0) and ``is_outlier`` is ``|robust_z| > k``
    (``k = 3.5`` is their recommended cut).

    Scale shape: two hash aggregations keyed by the group columns (one
    for the median, one for the MAD — the MAD *needs* the median first,
    so two passes is the exact algorithm's floor), each with map-side
    combine; the per-group stats frame has #groups rows and broadcasts
    back onto the corpus (set ``broadcast_stats=False`` for
    pathological group cardinality and Catalyst plans an ordinary
    shuffle join).  Exact ``percentile`` (interpolated, type R-7 — the
    same definition as DuckDB/Postgres ``quantile_cont``) keeps the
    verdicts engine-portable; ``exact=False`` swaps in
    ``percentile_approx`` (Greenwald-Khanna sketch, error ≤ 1/accuracy
    of rank, partial-aggregable map-side) — the extreme-scale path when
    a group's exact sort-based percentile buffer would not fit an
    executor, at the cost of oracle bit-parity.
    """
    groups = list(group_cols)
    ids = list(id_cols)
    x = F.col(value_col).cast("double")
    gb = [F.col(g) for g in groups]
    pct = (
        "percentile({0}, 0.5)"
        if exact
        else "percentile_approx({0}, 0.5, %d)" % int(accuracy)
    )

    med = df.groupBy(*gb).agg(
        F.expr(pct.format(f"cast({value_col} as double)")).alias("med")
    )
    med_b = F.broadcast(med) if broadcast_stats else med
    with_med = (
        df.join(med_b, groups) if groups else df.crossJoin(med_b)
    )
    mad = with_med.groupBy(*gb).agg(
        F.expr(
            pct.format(f"abs(cast({value_col} as double) - med)")
        ).alias("mad")
    )
    stats = med.join(mad, groups) if groups else med.crossJoin(mad)
    stats_b = F.broadcast(stats) if broadcast_stats else stats
    joined = df.join(stats_b, groups) if groups else df.crossJoin(stats_b)

    z = F.when(
        F.col("mad") > 0,
        F.lit(0.6745) * (x - F.col("med")) / F.col("mad"),
    )
    return joined.select(
        *[F.col(c) for c in ids],
        *[F.col(c) for c in groups],
        x.alias("value"),
        F.col("med"),
        F.col("mad"),
        z.alias("robust_z"),
        F.coalesce(F.abs(z) > F.lit(float(k)), F.lit(False)).alias(
            "is_outlier"
        ),
    )


def volume_anomaly(
    df: DataFrame,
    ts: str = "ts",
    bucket: str = "day",
    trailing: int = 7,
    factor: float = 2.0,
) -> DataFrame:
    """Ingest-volume anomaly detection: per-time-bucket row counts
    compared against the trailing-window MEDIAN — the freshness/volume
    gate that catches a dropped ingest partition (count collapses) or
    a double-delivered batch (count doubles) the moment the bucket
    lands, which no per-row chain and no distribution-drift check can
    see (every individual row is valid; it is the ROW COUNT that is
    wrong).

    Returns one row per bucket: ``(bucket, n, trailing_median, ratio,
    is_anomaly)`` with ``ratio = n / median(previous `trailing`
    buckets)`` and ``is_anomaly = ratio outside [1/factor, factor]``.
    The first buckets (no trailing history) report a null median and
    never flag.  The median (exact interpolated ``percentile``, the
    same R-7 type as DuckDB/Postgres ``quantile_cont``) is used rather
    than the mean so one anomalous day cannot poison the detector for
    the following week (50% breakdown point).

    Scale shape: ONE hash aggregation keyed by ``date_trunc(bucket,
    ts)`` collapses 10^12 rows to #buckets rows map-side; the trailing
    window then runs over that aggregated table only — a global sort
    of #buckets rows (days/hours of history: thousands), the same
    deliberately-bounded single-partition shape as the KS CDF window.
    Null timestamps are dropped (they are presence drift).
    """
    from pyspark.sql import Window

    counts = (
        df.where(F.col(ts).isNotNull())
        .groupBy(F.date_trunc(bucket, F.col(ts)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("bucket").rowsBetween(-int(trailing), -1)
    med = F.expr("percentile(n, 0.5)").over(w)
    out = counts.select(
        "bucket",
        F.col("n").cast("long").alias("n"),
        med.alias("trailing_median"),
    )
    ratio = F.col("n") / F.col("trailing_median")
    return out.select(
        "bucket",
        "n",
        "trailing_median",
        ratio.alias("ratio"),
        F.coalesce(
            (ratio > F.lit(float(factor)))
            | (ratio < F.lit(1.0 / float(factor))),
            F.lit(False),
        ).alias("is_anomaly"),
    )


def embedding_sanity(
    df: DataFrame,
    vec: str = "embedding",
    keys: str | tuple = ("vec_id",),
    expected_dim: int | None = None,
    only_violations: bool = False,
) -> DataFrame:
    """Embedding-vector sanity check: per-row ``(keys…, dim, n_nan,
    n_inf, norm, ok)`` over an ``array<float>`` column — the validator
    every similarity/ANN operator silently assumes (a NaN poisons any
    dot product it touches, a zero vector makes cosine undefined, a
    truncated vector breaks the unrolled dot-product codegen).  ``ok``
    requires: non-null vector, ``dim == expected_dim`` (when given),
    no NaN, no ±Inf, and a strictly positive norm.

    ``only_violations=True`` returns just the failing rows — the
    bounded reporting shape (a healthy corpus emits nothing).

    Scale shape: a pure projection — ``size`` + two ``aggregate``
    higher-order functions (JVM-side, whole-stage codegen, no Python,
    no shuffle); the violation filter composes with parquet scan
    pruning to read only the vector and key columns.
    """
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    v = F.col(vec)
    n_nan = F.aggregate(
        v,
        F.lit(0),
        lambda acc, x: acc + F.when(F.isnan(x), 1).otherwise(0),
    )
    n_inf = F.aggregate(
        v,
        F.lit(0),
        lambda acc, x: acc
        + F.when(F.abs(x.cast("double")) == F.lit(float("inf")), 1).otherwise(
            0
        ),
    )
    norm = F.sqrt(
        F.aggregate(
            v,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    dim = F.size(v)
    out = df.select(
        *key_cols,
        F.when(v.isNotNull(), dim).alias("dim"),
        F.when(v.isNotNull(), n_nan).alias("n_nan"),
        F.when(v.isNotNull(), n_inf).alias("n_inf"),
        F.when(v.isNotNull(), norm).alias("norm"),
    )
    ok = (
        F.col("dim").isNotNull()
        & (
            F.lit(expected_dim is None)
            | (F.col("dim") == F.lit(expected_dim or 0))
        )
        & (F.col("n_nan") == 0)
        & (F.col("n_inf") == 0)
        & (F.col("norm") > 0)
    )
    out = out.select("*", F.coalesce(ok, F.lit(False)).alias("ok"))
    if only_violations:
        out = out.where(~F.col("ok"))
    return out


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    capacity: int = 1024,
) -> DataFrame:
    """Top-k most frequent values with BOUNDED memory: a two-pass
    Misra-Gries / mergeable-summaries plan (Agarwal et al., "Mergeable
    Summaries", PODS'12) — the frequency census a plain
    ``groupBy(col).count().orderBy(...).limit(k)`` cannot deliver at
    10^12 rows when the value domain itself is huge (every distinct
    token / conv_id / URL becomes a hash-aggregate key; the map-side
    hash spills and the shuffle carries #distinct rows).

    Pass 1 streams each partition through a Misra-Gries summary of at
    most ``capacity`` counters (Arrow-batched ``mapInPandas``; per batch
    a C-speed ``value_counts`` merges into the counter dict, and when it
    overflows, the (capacity+1)-th largest count is subtracted from all
    — the batched decrement step, total undercount ≤ n/(capacity+1)).
    The per-partition summaries are BOUNDED driver-side model state
    (≤ capacity rows each) and merge on the driver by summation plus
    one more decrement — the mergeable-summaries theorem keeps the
    global error ≤ n/(capacity+1).  Pass 2 re-scans with the merged
    candidate set as a LITERAL ``isin`` filter — pushed into the
    parquet scan — and exact-counts only those ≤ capacity values, so
    the final counts are EXACT, not estimates.

    Correctness guarantee: any value with true frequency
    > n/(capacity+1) is certainly in the candidate set, so when every
    emitted row has ``guaranteed = true`` (exact count above that
    threshold) the emitted rows are PROVABLY the true top-k; a
    ``false`` row may in principle be displaced by an uncounted tail
    value of equal-or-lower-than-threshold frequency.  Ties order by
    ``(n desc, value asc)`` — engine-portable.  Nulls are excluded
    (null *rate* is presence drift, not a frequent value).

    Eager: pass 1 runs at call time (like ``ivf_centroids`` /
    ``interval_join(bucket_width="auto")``); the returned frame holds
    only the bounded pass-2 plan.
    """
    if capacity < max(k, 1):
        raise ValueError("heavy_hitters: capacity must be >= k")
    vcol = F.col(col).cast("string")
    src = df.select(vcol.alias("__hh_v")).where(F.col("__hh_v").isNotNull())

    cap = int(capacity)

    def mg(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        total = 0
        for pdf in batches:
            s = pdf["__hh_v"]
            total += len(s)
            for v, c in s.value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > cap:
                d = sorted(counters.values(), reverse=True)[cap]
                counters = {v: c - d for v, c in counters.items() if c > d}
        yield pd.DataFrame(
            {
                "value": list(counters.keys()) + [None],
                "n": list(counters.values()) + [total],
            }
        )

    summaries = src.mapInPandas(mg, "value string, n long").collect()
    merged: dict[str, int] = {}
    n_total = 0
    for row in summaries:
        if row["value"] is None:
            n_total += int(row["n"])
        else:
            merged[row["value"]] = merged.get(row["value"], 0) + int(row["n"])
    if len(merged) > cap:
        d = sorted(merged.values(), reverse=True)[cap]
        merged = {v: c - d for v, c in merged.items() if c > d}
    threshold = n_total / (cap + 1)

    candidates = sorted(merged)
    if not candidates:
        schema = "value string, n long, guaranteed boolean"
        return df.sparkSession.createDataFrame([], schema)
    exact = (
        df.where(vcol.isin(candidates))
        .groupBy(vcol.alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.orderBy(F.col("n").desc(), F.col("value").asc())
        .limit(int(k))
        .select(
            "value",
            F.col("n").cast("long").alias("n"),
            (F.col("n") > F.lit(float(threshold))).alias("guaranteed"),
        )
    )


def null_rate_anomaly(
    df: DataFrame,
    col: str,
    ts: str = "ts",
    bucket: str = "day",
    trailing: int = 7,
    delta: float = 0.1,
) -> DataFrame:
    """Per-time-bucket NULL-rate of ``col`` against the trailing-window
    median — the completeness trend check that catches a field going
    dark (an upstream producer stops populating ``tool``, a schema
    migration silently maps a column to null) the moment the bucket
    lands.  Corpus-global null rate (``column_stats``) averages the
    regression away; per-bucket drift vs a FIXED baseline needs a
    baseline snapshot — this needs neither.

    Returns one row per bucket: ``(bucket, n, n_null, null_rate,
    trailing_median, is_anomaly)`` with ``is_anomaly =
    |null_rate - median(previous `trailing` buckets' rates)| > delta``
    (absolute-rate delta, not a ratio: a 0% → 12% jump must flag even
    though the ratio is infinite, and 49% → 51% must not even though
    tiny rates make ratios scream).  First buckets (no history) report
    a null median and never flag.

    Scale shape: ONE hash aggregation keyed by ``date_trunc`` collapses
    10^12 rows to #buckets rows map-side (the null indicator is a
    ``sum(case)``, partial-aggregable); the trailing median window then
    runs over the aggregated #buckets-row table only — the same
    deliberately-bounded single-partition window as
    ``volume_anomaly``.  Null timestamps are dropped (unbucketable).
    """
    from pyspark.sql import Window

    counts = (
        df.where(F.col(ts).isNotNull())
        .groupBy(F.date_trunc(bucket, F.col(ts)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col(col).isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_null"),
        )
    )
    rate = F.col("n_null").cast("double") / F.col("n")
    w = Window.orderBy("bucket").rowsBetween(-int(trailing), -1)
    out = counts.select(
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.col("n_null").cast("long").alias("n_null"),
        rate.alias("null_rate"),
    ).select(
        "*",
        F.expr("percentile(null_rate, 0.5)").over(w).alias("trailing_median"),
    )
    diff = F.abs(F.col("null_rate") - F.col("trailing_median"))
    return out.select(
        "*",
        F.coalesce(diff > F.lit(float(delta)), F.lit(False)).alias(
            "is_anomaly"
        ),
    )


def distinct_anomaly(
    df: DataFrame,
    col: str,
    ts: str = "ts",
    bucket: str = "day",
    trailing: int = 7,
    factor: float = 2.0,
    exact: bool = True,
    rsd: float = 0.01,
) -> DataFrame:
    """Per-time-bucket DISTINCT cardinality of ``col`` against the
    trailing-window median — the ID-space trend check that completes
    the volume/completeness/cardinality triple (``volume_anomaly``
    counts rows, ``null_rate_anomaly`` tracks presence, this tracks
    identity): a key-generation bug that maps every conversation to the
    same handful of conv_ids, or a fan-out bug that mints fresh ids per
    row, changes neither the row count nor the null rate — only the
    per-bucket distinct count moves.

    Returns one row per bucket: ``(bucket, n_distinct,
    trailing_median, ratio, is_anomaly)``; ``is_anomaly = ratio outside
    [1/factor, factor]``, first buckets never flag.

    Scale shape: ONE aggregation keyed by ``date_trunc``.  The default
    ``exact=True`` plans Spark's two-level distinct expansion (groupBy
    (bucket, col) map-side, then bucket — shuffle carries one row per
    distinct (bucket, value)); ``exact=False`` swaps in
    ``approx_count_distinct`` (HLL++, partial-aggregable map-side, the
    same mergeable sketch as ``column_stats``) so the shuffle carries
    one SKETCH per bucket per task — the 10^12-row path, at the cost of
    oracle bit-parity (rsd default 1%).  The trailing window runs over
    the #buckets-row aggregate only.  Null values do not count toward
    the cardinality; null timestamps are dropped.
    """
    from pyspark.sql import Window

    nd = (
        F.count_distinct(F.col(col))
        if exact
        else F.approx_count_distinct(F.col(col), float(rsd))
    )
    counts = (
        df.where(F.col(ts).isNotNull())
        .groupBy(F.date_trunc(bucket, F.col(ts)).alias("bucket"))
        .agg(nd.alias("n_distinct"))
    )
    w = Window.orderBy("bucket").rowsBetween(-int(trailing), -1)
    out = counts.select(
        "bucket",
        F.col("n_distinct").cast("long").alias("n_distinct"),
    ).select(
        "*",
        F.expr("percentile(n_distinct, 0.5)")
        .over(w)
        .alias("trailing_median"),
    )
    ratio = F.col("n_distinct") / F.col("trailing_median")
    return out.select(
        "*",
        ratio.alias("ratio"),
        F.coalesce(
            (ratio > F.lit(float(factor)))
            | (ratio < F.lit(1.0 / float(factor))),
            F.lit(False),
        ).alias("is_anomaly"),
    )
