"""Per-column statistics from one mergeable state (BASELINE.json
north_star: "emits per-column stats (count/null-rate/distinct via
HyperLogLog sketches, min/max/quantiles via t-digest)").

Every stat comes from one **state row** per group, taken by ONE
aggregation over each stat column's narrow input (:func:`stat_inputs`):
the raw value, or for a string its length and a NULL-guarded 64-bit
hash, so text never has to travel with the state.  Per column the state
holds count, non-null count, min, max, sum, a Datasketches HLL sketch
and a Datasketches KLL sketch.  Every part merges: counts and sums add,
min/max fold, and the sketches merge with ``hll_union_agg`` /
``kll_merge_agg_double`` (the mergeable-summary design), so the state of
a table is the merge of its buckets' states (:func:`merge_stat_states`)
and one finish (:func:`stat_table`) turns either into the long-format
``(column, metric, value: double, value_str)`` table.

Error bounds:

- count, null_rate, min, max and avg are exact.  avg is sum / non-null
  count; the sum is exact for integral, decimal and string-length
  inputs (float columns sum in double precision).
- distinct: HLL with ``lgConfigK = ceil(2 log2(1.04 / rsd))``, whose
  relative standard error ``1.04 / sqrt(2^lgConfigK)`` is at most
  ``rsd`` (default 0.05, i.e. ``lgConfigK = 9``).  A single sketch and
  a union of per-bucket sketches read slightly different estimates
  (the union uses the composite estimator), both within that error.
- quantiles: KLL with ``k = KLL_K = 200``, whose normalised rank error
  is 1.33% for one quantile at 99% confidence (1.65% for the whole
  distribution).  KLL compaction is randomised, so quantiles can move
  within that error between runs or partitionings.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filters_spark.engine.drift import collect_census

#: prefix of the narrow stat inputs and of the other raw copies riding
#: the suite's row pass (NOT "__fs_": validate() prunes its own temps
#: by that prefix)
RAW_PREFIX = "__raw_"
HASH_PREFIX = RAW_PREFIX + "hash_"
LEN_PREFIX = RAW_PREFIX + "len_"

#: KLL sketch size: Datasketches' default, 1.33% rank error (see above)
KLL_K = 200

#: options that round-trip a state row through JSON exactly
#: (microsecond timestamps; binary sketches go as base64)
_STATE_JSON = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


def stat_kinds(df: DataFrame, columns: list[str]) -> dict[str, str]:
    """``{column: kind}``: ``num``, ``str``, ``time`` (timestamp/date)
    or ``other`` (count, null rate and distinct only)."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    kinds = {}
    for c in columns:
        dt = schema[c]
        kinds[c] = (
            "num" if isinstance(dt, T.NumericType)
            else "str" if isinstance(dt, T.StringType)
            else "time" if isinstance(dt, (T.TimestampType, T.DateType))
            else "other"
        )
    return kinds


def stat_inputs(df: DataFrame, columns: list[str]) -> dict[str, Column]:
    """The narrow input of each stat column, by carrier name: the raw
    value of a numeric or temporal column; otherwise a NULL-guarded
    ``xxhash64`` (``xxhash64(NULL)`` is not NULL), plus the length of a
    string."""
    out = {}
    for c, kind in stat_kinds(df, columns).items():
        col = F.col(c)
        if kind in ("num", "time"):
            out[RAW_PREFIX + c] = col
            continue
        out[HASH_PREFIX + c] = F.when(col.isNotNull(), F.xxhash64(col))
        if kind == "str":
            out[LEN_PREFIX + c] = F.length(col)
    return out


def stat_aggs(kinds: dict[str, str], rsd: float = 0.05) -> list[Column]:
    """The stat-state aggregates over a frame carrying
    :func:`stat_inputs`: ``__total`` and, per column ``c``,
    ``c__nonnull``, ``c__hll`` and (by kind) ``c__min``, ``c__max``,
    ``c__sum``, ``c__kll``.  Grouped by a key, they give one state row
    per key."""
    lg_k = max(4, min(21, math.ceil(2 * math.log2(1.04 / rsd))))
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c, kind in kinds.items():
        raw = F.col(RAW_PREFIX + c)
        key = (
            F.when(raw.isNotNull(), F.xxhash64(raw))
            if kind in ("num", "time")
            else F.col(HASH_PREFIX + c)
        )
        aggs += [
            F.count(key).alias(f"{c}__nonnull"),
            F.hll_sketch_agg(key, lg_k).alias(f"{c}__hll"),
        ]
        if kind == "other":
            continue
        v = F.col(LEN_PREFIX + c) if kind == "str" else raw
        aggs += [F.min(v).alias(f"{c}__min"), F.max(v).alias(f"{c}__max")]
        if kind != "time":
            aggs += [
                F.sum(v).alias(f"{c}__sum"),
                F.kll_sketch_agg_double(v.cast("double"), KLL_K).alias(
                    f"{c}__kll"
                ),
            ]
    return aggs


def bucket_stat_states(
    narrow: DataFrame, kinds: dict[str, str], by: str
) -> dict:
    """``{key: state}``: the stat state of ``narrow`` (a frame carrying
    :func:`stat_inputs`) per value of column ``by``, each state row as a
    JSON string — the form a checkpoint manifest stores."""
    state = narrow.groupBy(by).agg(*stat_aggs(kinds))
    body = F.struct(*[c for c in state.columns if c != by])
    return {
        r[by]: r["s"]
        for r in state.select(
            by, F.to_json(body, _STATE_JSON).alias("s")
        ).collect()
    }


def merge_stat_states(
    df: DataFrame, kinds: dict[str, str], states: list[str]
) -> DataFrame:
    """Merge :func:`bucket_stat_states` JSON rows taken over the columns
    ``kinds`` of ``df`` into one state row: counts and sums add, min/max
    fold, sketches union — one tiny aggregation, no data rescan (``df``
    only types the rows: its state aggregation is planned, not run)."""
    schema = df.select(
        *[e.alias(c) for c, e in stat_inputs(df, list(kinds)).items()]
    ).agg(*stat_aggs(kinds)).schema
    merge = {
        "min": F.min,
        "max": F.max,
        "hll": F.hll_union_agg,
        "kll": F.kll_merge_agg_double,
    }
    rows = df.sparkSession.createDataFrame(
        [(s,) for s in states], "s string"
    ).select(F.from_json("s", schema, _STATE_JSON).alias("s"))
    return rows.select("s.*").agg(
        *[
            merge.get(f.name.rsplit("__", 1)[1], F.sum)(f.name).alias(f.name)
            for f in schema.fields
        ]
    )


def stat_table(
    state: DataFrame,
    kinds: dict[str, str],
    quantiles: tuple = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """The finish: one state row to the long ``(column, metric, value,
    value_str)`` table.  A ``c__distinct`` column, when present,
    replaces the HLL estimate (``column_stats(exact_distinct=True)``).
    The unpivot is a stack over the one row, not a shuffle.  Over no
    rows (a one-shot state of an empty frame, or a merge of no states)
    ``count`` is 0 and every other metric NULL."""
    total, none = F.col("__total"), F.lit(None)
    rows = []
    for c, kind in kinds.items():
        def s(m: str) -> Column:
            return F.col(f"{c}__{m}")

        nonnull = s("nonnull")
        metrics = [
            # a merge of no states sums to a NULL total
            ("count", F.coalesce(total, F.lit(0)), none),
            ("null_rate", (total - nonnull) / F.nullif(total, F.lit(0)), none),
            (
                "distinct",
                F.when(
                    total > 0,
                    s("distinct")
                    if f"{c}__distinct" in state.columns
                    else F.hll_sketch_estimate(s("hll")),
                ),
                none,
            ),
        ]
        if kind in ("num", "str"):
            label = "len_" if kind == "str" else ""
            qs = F.when(
                nonnull > 0,
                F.kll_sketch_get_quantile_double(
                    s("kll"), F.array(*[F.lit(float(q)) for q in quantiles])
                ),
            )
            metrics += [
                (f"{label}min", s("min"), none),
                (f"{label}max", s("max"), none),
                (f"{label}avg", s("sum").cast("double") / nonnull, none),
            ] + [
                (f"{label}p{int(q * 100)}", qs[i], none)
                for i, q in enumerate(quantiles)
            ]
        elif kind == "time":
            metrics += [("min", none, s("min")), ("max", none, s("max"))]
        rows += [
            F.struct(
                F.lit(c).alias("column"),
                F.lit(m).alias("metric"),
                v.cast("double").alias("value"),
                vs.cast("string").alias("value_str"),
            )
            for m, v, vs in metrics
        ]
    return state.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    quantiles: tuple = (0.25, 0.5, 0.75, 0.95),
    exact_distinct: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-column stats of ``df`` in one aggregation pass: the stat state
    of the whole frame, finished by :func:`stat_table`.  count,
    null_rate, min, max and avg are exact; distinct is within the HLL's
    relative standard error (at most ``rsd``) and quantiles within the
    KLL's rank error (1.33% at 99% confidence); see the module
    docstring.

    ``exact_distinct=True`` adds an exact ``count_distinct`` per column
    that replaces the HLL estimate (used by the DuckDB oracle queries;
    the sketch is the scale path).  ``rsd`` sizes the HLL sketch.
    """
    columns = columns or df.columns
    kinds = stat_kinds(df, columns)
    exact = columns if exact_distinct else []
    narrow = df.select(
        *[e.alias(n) for n, e in stat_inputs(df, columns).items()], *exact
    )
    state = narrow.agg(
        *stat_aggs(kinds, rsd),
        *[F.count_distinct(c).alias(f"{c}__distinct") for c in exact],
    )
    return stat_table(state, kinds, quantiles)


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


#: ``dim`` prefix of histogram-bin entries in an ``entry_counts`` census
HIST_DIM = "hist:"


def hist_entry(name: str, bin_col: Column) -> Column:
    """One ``(dim, k)`` census entry for the histogram bin of ``name``; a
    null value counts under ``'__null__'``, in no bin."""
    return F.struct(
        F.lit(HIST_DIM + name).alias("dim"),
        F.coalesce(bin_col.cast("string"), F.lit("__null__")).alias("k"),
    )


def hist_vectors(census: dict, bins: int) -> dict[str, list[int]]:
    """``{column: [count, ...]}`` from the :func:`hist_entry` dimensions
    of a ``{dim: {k: n}}`` census; other dimensions are ignored.
    Fixed-grid histograms merge by vector addition, so the vectors of a
    summed census equal those of the whole table, exactly."""
    out: dict[str, list[int]] = {}
    for dim, kn in census.items():
        if dim.startswith(HIST_DIM):
            vec = out[dim[len(HIST_DIM) :]] = [0] * bins
            for k, n in kn.items():
                if k != "__null__":
                    vec[int(k)] += n
    return out


def bucket_length_histograms(
    df: DataFrame,
    bucket_col: Column,
    columns: list[str],
    bins: int = 32,
    lo: float = 0.0,
    hi: float = 2048.0,
) -> dict[int, dict[str, list[int]]]:
    """Per-bucket fixed-grid histograms computed directly on ``df`` —
    ``{bucket: {column: [count, ...]}}`` over the :func:`hist_bin` grid
    (string columns by length): the reference for the histograms a
    resumable run keeps in its per-bucket census.  One hash aggregation
    keyed by ``(bucket, column, bin)``."""
    entries = [hist_entry(c, hist_bin(df, c, bins, lo, hi)) for c in columns]
    census = collect_census(df.withColumn("__b", bucket_col), entries, "__b")
    return {int(b): hist_vectors(c, bins) for b, c in census.items()}


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


def _trend(
    df: DataFrame,
    ts: str,
    bucket: str,
    trailing: int,
    value: str,
    aggs: list,
    derived: tuple = (),
) -> DataFrame:
    """The shared core of the trend gates: ONE aggregation keyed by
    ``date_trunc(bucket, ts)`` over the rows with a timestamp (``aggs``,
    then the ``derived`` columns over them), plus ``trailing_median``,
    the exact interpolated ``percentile(value, 0.5)`` of the previous
    ``trailing`` buckets (null for the first bucket)."""
    from pyspark.sql import Window

    counts = (
        df.where(F.col(ts).isNotNull())
        .groupBy(F.date_trunc(bucket, F.col(ts)).alias("bucket"))
        .agg(*aggs)
    )
    w = Window.orderBy("bucket").rowsBetween(-int(trailing), -1)
    return counts.select("*", *derived).select(
        "*",
        F.expr(f"percentile({value}, 0.5)").over(w).alias("trailing_median"),
    )


def _ratio_band(trend: DataFrame, value: str, factor: float) -> DataFrame:
    """``ratio = value / trailing_median`` and ``is_anomaly`` when it
    falls outside ``[1/factor, factor]`` (never with no history)."""
    ratio = F.col(value) / F.col("trailing_median")
    return trend.select(
        "*",
        ratio.alias("ratio"),
        F.coalesce(
            (ratio > F.lit(float(factor)))
            | (ratio < F.lit(1.0 / float(factor))),
            F.lit(False),
        ).alias("is_anomaly"),
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
    out = _trend(df, ts, bucket, trailing, "n", [F.count(F.lit(1)).alias("n")])
    return _ratio_band(out, "n", factor)


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
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col(col).isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_null"),
    ]
    rate = F.col("n_null").cast("double") / F.col("n")
    out = _trend(
        df, ts, bucket, trailing, "null_rate", aggs, (rate.alias("null_rate"),)
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
    nd = (
        F.count_distinct(F.col(col))
        if exact
        else F.approx_count_distinct(F.col(col), float(rsd))
    )
    out = _trend(
        df, ts, bucket, trailing, "n_distinct", [nd.alias("n_distinct")]
    )
    return _ratio_band(out, "n_distinct", factor)
