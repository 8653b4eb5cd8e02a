"""Distribution-drift checks (BASELINE.json north_star: "role/tool
frequency KL-divergence and text-length PSI against a baseline snapshot").

One-sided profiles (:func:`frequencies`, :func:`length_histogram`,
:func:`dist_profile`) aggregate one snapshot with one hash agg; the
KL/PSI math runs on the collected tables, which are tiny (|categories|
or |buckets| rows), per SURVEY.md §4.3(6).

Every TWO-snapshot estimator sits on one census, ``_census``: both
sides are tagged ``(nc, nb) = (1, 0) | (0, 1)``, unioned and fed to ONE
hash aggregation keyed by ``(by…, k)`` — map-side combine collapses
10^12 rows to |keys| rows before the shuffle — giving the mergeable
per-key count state ``(by…, k, nc, nb)``.  Two wrappers fix the key:

- the CATEGORICAL census keys by the column as a string, nulls as the
  literal ``'__null__'`` (presence drift stays visible), and folds keys
  ranked past ``max_categories`` into ``'__other__'`` (rank by combined
  count, ties by key, so both engines fold identically) — under
  :func:`chi2_statistic`, :func:`js_divergence` and :func:`psi_by_group`;
- the NUMERIC census keys by the value as a double and drops nulls
  (presence drift is :func:`frequencies`' job).  ``grid=`` snaps values
  to a fixed lattice first, bounding the distinct-value count of a truly
  continuous column; one window over the AGGREGATED table then gives the
  running CDFs and each value's gap to its successor (a CDF is a global
  order, so that window is one sorted run) — under :func:`ks_statistic`
  and :func:`wasserstein_distance`.

Side totals ``(tc, tb)`` ride a broadcast 1-row cross join, or a
group-keyed join under ``by``; each estimator is then one aggregation
of its cell formula.  EXACT, never sampled, and no driver action.  The
census is the same per-key count state that checkpoint resume merges
exactly through :func:`psi_from_histograms`.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: driver-safety ceiling on collected category tables: role/tool-style
#: drift columns have a handful of categories by construction, but an
#: accidental ``frequencies()`` over a free-text / id column must not
#: flood the driver with 10^8 rows.
DEFAULT_MAX_CATEGORIES = 10_000


def frequencies(
    df: DataFrame,
    col: str | Column,
    alias: str = "k",
    max_categories: int | None = DEFAULT_MAX_CATEGORIES,
) -> DataFrame:
    """Normalised category frequencies: ``(k, p)`` with sum(p)=1.
    Nulls become the literal category '__null__' so presence drift is
    visible.

    ``max_categories`` is a top-k driver-safety guard: only the k most
    frequent categories keep their identity; the tail is collapsed into
    ``'__other__'`` (probability mass preserved, so KL/PSI stay
    well-defined).  The ranking runs distributed over the *aggregated*
    counts table — the driver never sees more than k+1 rows however
    high the column's cardinality.  ``None`` disables."""
    c = F.col(col) if isinstance(col, str) else col
    counts = df.groupBy(
        F.coalesce(c.cast("string"), F.lit("__null__")).alias(alias)
    ).agg(F.count(F.lit(1)).alias("n"))
    counts = _cap_categories(counts, alias, max_categories)
    total = counts.agg(F.sum("n").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        alias, (F.col("n") / F.col("t")).alias("p")
    )


def _cap_categories(
    counts: DataFrame,
    alias: str,
    max_categories: int | None,
    partition_cols: tuple = (),
    count_cols: tuple = ("n",),
) -> DataFrame:
    """Collapse all but the ``max_categories`` keys with the largest
    total over ``count_cols`` (per ``partition_cols`` group, if any)
    into ``'__other__'``, summing each count column — distributed
    (window rank + re-aggregate over the already-aggregated counts).
    Ties rank by key value, so every engine folds the same keys.

    The rank runs over the counts table (one row per DISTINCT key, i.e.
    post-aggregation), sorted with Spark's external sort — a
    pathological 10^8-distinct-key column makes one sorter spill to
    disk and finish, never a driver transfer.  That bounded worst case
    is the point of the guard; columns one actually tracks drift on
    have thousands of categories at most."""
    if max_categories is None:
        return counts
    w = Window.partitionBy(*partition_cols).orderBy(
        F.desc(reduce(Column.__add__, map(F.col, count_cols))),
        F.col(alias),
    )
    keep = F.row_number().over(w) <= max_categories
    return (
        counts.withColumn(
            alias, F.when(keep, F.col(alias)).otherwise(F.lit("__other__"))
        )
        .groupBy(*partition_cols, alias)
        .agg(*[F.sum(c).alias(c) for c in count_cols])
    )


def _census(
    current: DataFrame,
    baseline: DataFrame,
    key: Column,
    by: tuple = (),
    where: Column | None = None,
) -> DataFrame:
    """The two-snapshot census ``(by…, k, nc, nb)``: ``where``-filtered
    sides tagged, unioned and counted by ONE ``(by…, key)``-keyed hash
    aggregation."""

    def side(df: DataFrame, c: int, b: int) -> DataFrame:
        if where is not None:
            df = df.where(where)
        return df.select(
            *by, key.alias("k"), F.lit(c).alias("nc"), F.lit(b).alias("nb")
        )

    return (
        side(current, 1, 0)
        .unionAll(side(baseline, 0, 1))
        .groupBy(*by, "k")
        .agg(F.sum("nc").alias("nc"), F.sum("nb").alias("nb"))
    )


def _cat_census(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    max_categories: int | None,
    by: tuple = (),
) -> DataFrame:
    """Categorical census: nulls as ``'__null__'``, keys ranked past
    ``max_categories`` (per ``by`` group) folded into ``'__other__'``."""
    key = F.coalesce(F.col(col).cast("string"), F.lit("__null__"))
    return _cap_categories(
        _census(current, baseline, key, by), "k", max_categories, by,
        ("nc", "nb"),
    )


def _num_census(
    current: DataFrame, baseline: DataFrame, col: str, grid: float | None
) -> DataFrame:
    """Numeric census: the value as a double, nulls dropped, snapped to
    the ``grid`` lattice when one is given."""
    v = F.col(col).cast("double")
    if grid is not None:
        v = F.round(v / F.lit(float(grid)), 0) * F.lit(float(grid))
    return _census(current, baseline, v, where=F.col(col).isNotNull())


def _with_totals(counts: DataFrame, by: tuple = ()) -> DataFrame:
    """Attach each side's total ``(tc, tb)`` — per ``by`` group through
    a group-keyed join (AQE broadcasts when #groups is small), else a
    broadcast 1-row cross join."""
    tot = counts.groupBy(*by).agg(
        F.sum("nc").alias("tc"), F.sum("nb").alias("tb")
    )
    if by:
        return counts.join(tot, list(by))
    return counts.crossJoin(F.broadcast(tot))


def _cdf(counts: DataFrame) -> DataFrame:
    """Running counts ``cc``/``cb`` and the gap ``dv`` to the successor
    value over a numeric census, from one window ordered by value."""
    order = Window.orderBy("k")
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return counts.select(
        "*",
        F.sum("nc").over(run).alias("cc"),
        F.sum("nb").over(run).alias("cb"),
        (F.lead("k").over(order) - F.col("k")).alias("dv"),
    )


def _sizes() -> list[Column]:
    """The ``(n_current, n_baseline)`` outputs over attached totals."""
    return [
        F.max("tc").cast("long").alias("n_current"),
        F.max("tb").cast("long").alias("n_baseline"),
    ]


def _freq_dict(freq: DataFrame, alias: str = "k") -> dict[str, float]:
    return {r[alias]: r["p"] for r in freq.collect()}


# Both dict divergences sum in sorted key order: a float sum depends on
# its order, and a set's (or a dict's insertion) order would make the
# result vary with PYTHONHASHSEED or with the order rows were collected.


def kl_from_dicts(p: dict, q: dict, eps: float = 1e-9) -> float:
    kl = 0.0
    for k in sorted(p):
        pv, qv = p[k], q.get(k, eps)
        if pv > 0:
            kl += pv * math.log(pv / max(qv, eps))
    return kl


def psi_from_dicts(p: dict, q: dict, eps: float = 1e-6) -> float:
    out = 0.0
    for k in sorted(set(p) | set(q)):
        pv = max(p.get(k, 0.0), eps)
        qv = max(q.get(k, 0.0), eps)
        out += (pv - qv) * math.log(pv / qv)
    return out


def psi_from_histograms(
    current: list[int] | list[float],
    baseline: list[int] | list[float],
    eps: float = 1e-6,
) -> float:
    """PSI between two SAME-GRID count histograms — the drift check
    over the exactly-mergeable histogram state ``run_resumable``
    checkpoints (``hist_cols=``), so a resumed job can compute
    text-length drift against a baseline snapshot's histogram without
    any rescan.  Bins are the categories; counts normalise to mass."""
    if len(current) != len(baseline):
        raise ValueError(
            f"histogram grids differ: {len(current)} vs {len(baseline)} bins"
        )
    cs, bs = float(sum(current)), float(sum(baseline))
    p = {i: (x / cs if cs else 0.0) for i, x in enumerate(current)}
    q = {i: (x / bs if bs else 0.0) for i, x in enumerate(baseline)}
    return psi_from_dicts(p, q, eps)


def kl_divergence(
    current: DataFrame, baseline: DataFrame, alias: str = "k", eps: float = 1e-9
) -> float:
    """KL(P_current ‖ Q_baseline) over two frequency tables from
    :func:`frequencies`.  Missing categories get ``eps`` mass."""
    return kl_from_dicts(
        _freq_dict(current, alias), _freq_dict(baseline, alias), eps
    )


def length_bucket(col: str, bucket_width: int = 20, n_buckets: int = 50) -> Column:
    """Length→bucket expression shared by :func:`length_histogram` and the
    single-pass profile."""
    ln = F.length(F.col(col))
    return (
        F.when(ln.isNull(), F.lit(-1))
        .when(ln >= bucket_width * n_buckets, F.lit(n_buckets))
        .otherwise(F.floor(ln / bucket_width))
    ).cast("int")


def dist_profile(
    df: DataFrame,
    cat_cols: tuple = ("role", "tool"),
    length_col: str | None = "text",
    bucket_width: int = 20,
    n_buckets: int = 50,
) -> dict[str, dict[str, float]]:
    """ALL drift distributions in ONE scan + ONE hash aggregation.

    Each row explodes to one ``(dim, key)`` pair per tracked dimension
    (category columns + the length histogram); map-side partial
    aggregation collapses the 3× row blow-up to |categories| rows per
    task before the shuffle.  Returns ``{dim: {key: probability}}`` —
    the driver-side divergence math consumes these directly.
    """
    entries = []
    for c in cat_cols:
        entries.append(cat_entry(c, F.col(c)))
    if length_col:
        entries.append(
            len_entry(
                length_col, length_bucket(length_col, bucket_width, n_buckets)
            )
        )
    return profile_from_entries(df, entries)


def cat_entry(name: str, col: Column) -> Column:
    """One ``(dim, key)`` profile entry for a categorical column."""
    return F.struct(
        F.lit(f"cat:{name}").alias("dim"),
        F.coalesce(col.cast("string"), F.lit("__null__")).alias("k"),
    )


def len_entry(name: str, bucket_col: Column) -> Column:
    """One ``(dim, key)`` profile entry for a pre-computed length bucket."""
    return F.struct(
        F.lit(f"len:{name}").alias("dim"),
        bucket_col.cast("string").alias("k"),
    )


def entry_counts(df: DataFrame, entries: list, by: tuple = ()) -> DataFrame:
    """The uncapped profile census ``(by…, dim, k, n)``: explode the
    per-row entry structs, ONE hash aggregation keyed by ``(by…, dim,
    k)``.  Counts merge by addition, so per-bucket censuses summed in
    Python equal the census of their union."""
    return (
        df.select(*by, F.explode(F.array(*entries)).alias("e"))
        .groupBy(*by, F.col("e.dim").alias("dim"), F.col("e.k").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def collect_census(df: DataFrame, entries: list, by: str | None = None) -> dict:
    """:func:`entry_counts` collected as ``{dim: {key: n}}``, or, with a
    ``by`` column, as ``{by value: {dim: {key: n}}}``."""
    census: dict = {}
    if not entries:
        return census
    for r in entry_counts(df, entries, by=(by,) if by else ()).collect():
        acc = census.setdefault(r[by], {}) if by else census
        acc.setdefault(r["dim"], {})[r["k"]] = r["n"]
    return census


def _normalise(rows) -> dict[str, dict[str, float]]:
    """``{dim: {key: n / total_of_dim}}`` from ``(dim, k, n)`` rows."""
    totals: dict[str, int] = {}
    for dim, _, n in rows:
        totals[dim] = totals.get(dim, 0) + n
    out: dict[str, dict[str, float]] = {}
    for dim, k, n in rows:
        out.setdefault(dim, {})[k] = n / totals[dim]
    return out


def profile_from_counts(
    counts: DataFrame, max_categories: int | None = DEFAULT_MAX_CATEGORIES
) -> dict:
    """Normalised ``{dim: {key: probability}}`` from a ``(dim, k, n)``
    census.  The collect is bounded to ``max_categories`` keys *per
    dimension* (tail → ``'__other__'``, see :func:`frequencies`)."""
    return _normalise(
        _cap_categories(
            counts, "k", max_categories, partition_cols=("dim",)
        ).collect()
    )


def profile_from_census(
    spark,
    census: dict[str, dict[str, int]],
    max_categories: int | None = DEFAULT_MAX_CATEGORIES,
) -> dict:
    """:func:`profile_from_counts` over an already collected census,
    ``{dim: {key: n}}`` (e.g. summed per-bucket checkpoint censuses).
    The fold changes only a dimension with more than ``max_categories``
    keys, so only such a census goes through Spark."""
    rows = [(d, k, n) for d, kn in census.items() for k, n in kn.items()]
    if max_categories is not None and any(
        len(kn) > max_categories for kn in census.values()
    ):
        return profile_from_counts(
            spark.createDataFrame(rows, "dim string, k string, n long"),
            max_categories,
        )
    return _normalise(rows)


def profile_from_entries(
    df: DataFrame,
    entries: list,
    max_categories: int | None = DEFAULT_MAX_CATEGORIES,
) -> dict:
    """Shared core of :func:`dist_profile`: :func:`entry_counts`, then
    :func:`profile_from_counts`."""
    return profile_from_counts(entry_counts(df, entries), max_categories)


def length_histogram(
    df: DataFrame,
    col: str = "text",
    bucket_width: int = 20,
    n_buckets: int = 50,
) -> DataFrame:
    """Text-length histogram: fixed-width buckets with an overflow bucket;
    nulls get bucket -1.  Distributed hash agg, ``(bucket, p)``."""
    bucket = length_bucket(col, bucket_width, n_buckets)
    counts = df.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "bucket", (F.col("n") / F.col("t")).alias("p")
    )


def psi(
    current: DataFrame, baseline: DataFrame, alias: str = "bucket",
    eps: float = 1e-6,
) -> float:
    """Population Stability Index over two histograms:
    ``Σ (p-q) · ln(p/q)``.  <0.1 stable, 0.1-0.25 moderate, >0.25 drifted
    (the standard industry thresholds)."""
    p = {r[alias]: r["p"] for r in current.collect()}
    q = {r[alias]: r["p"] for r in baseline.collect()}
    return psi_from_dicts(p, q, eps)


def ks_statistic(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    grid: float | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between a numeric
    column's distribution in ``current`` and ``baseline`` — the
    nonparametric drift check for CONTINUOUS columns, complementing KL
    (categorical) and PSI (binned): ``D = sup_v |F_cur(v) - F_base(v)|``
    needs no binning choice and is sensitive to location AND shape
    shifts.  Returns ONE row ``(ks_stat, n_current, n_baseline)``;
    compare ``ks_stat`` against ``c(α)·sqrt((n+m)/(n·m))``
    (c(0.05)=1.358) for a significance gate.  Nulls are dropped (they
    are presence drift, ``frequencies``' job).

    Runs on the numeric census (module docstring).  ``grid=0.01`` snaps
    values to a fixed lattice first; the KS error introduced is at most
    the mass of one lattice cell.
    """
    cdf = _cdf(_with_totals(_num_census(current, baseline, col, grid)))
    return cdf.agg(
        F.max(
            F.abs(F.col("cc") / F.col("tc") - F.col("cb") / F.col("tb"))
        ).alias("ks_stat"),
        *_sizes(),
    )


def chi2_statistic(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    max_categories: int | None = None,
) -> DataFrame:
    """Pearson chi-squared homogeneity test between a CATEGORICAL
    column's distribution in ``current`` and ``baseline`` — the
    significance-testable counterpart to :func:`kl_divergence` (KL says
    how far apart two frequency profiles are, chi-squared says whether
    the gap is explainable by sampling noise given the sample sizes).
    Returns ONE row ``(chi2, dof, cramers_v, n_current, n_baseline)``
    over the 2×K contingency table (sides × categories):

    - ``chi2 = Σ_cells (observed − expected)² / expected`` with
      ``expected = row_total · col_total / grand_total``;
    - ``dof = K − 1`` (2 rows ⇒ (2−1)·(K−1));
    - ``cramers_v = sqrt(chi2 / (n · min(1, K−1)))`` — the [0,1]
      effect size, comparable across sample sizes (chi2 itself grows
      with n, so at 10^12 rows everything is "significant"; gate drift
      alerts on V, not on the p-value).

    Nulls count as the literal ``'__null__'`` (presence drift stays
    visible, mirroring :func:`frequencies`).  Categories with zero
    total never arise (every key comes from an observed row), so no
    expected-count division by zero.

    Runs on the categorical census (module docstring): no window unless
    ``max_categories`` is set, no driver action.  For
    unbounded-cardinality columns set ``max_categories``: category
    ranks beyond it fold into ``'__other__'``.
    """
    t = _with_totals(_cat_census(current, baseline, col, max_categories))
    row = F.col("nc") + F.col("nb")
    grand = (F.col("tc") + F.col("tb")).cast("double")
    ec = row * F.col("tc") / grand
    eb = row * F.col("tb") / grand
    cell = (F.col("nc") - ec) * (F.col("nc") - ec) / ec + (
        F.col("nb") - eb
    ) * (F.col("nb") - eb) / eb
    return (
        t.agg(
            F.sum(cell).alias("chi2"),
            (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
            *_sizes(),
            F.sum(row).cast("double").alias("__n"),
            F.least(
                F.count(F.lit(1)) - F.lit(1), F.lit(1)
            ).cast("double").alias("__mindim"),
        )
        .select(
            "chi2",
            "dof",
            F.when(
                F.col("__mindim") > 0,
                F.sqrt(F.col("chi2") / (F.col("__n") * F.col("__mindim"))),
            )
            .otherwise(F.lit(0.0))
            .alias("cramers_v"),
            "n_current",
            "n_baseline",
        )
    )


def wasserstein_distance(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    grid: float | None = None,
) -> DataFrame:
    """First Wasserstein (earth-mover) distance between a numeric
    column's distribution in ``current`` and ``baseline`` — the
    integral counterpart to :func:`ks_statistic`:
    ``W1 = ∫ |F_cur(v) − F_base(v)| dv``.  KS reports the single worst
    CDF gap (sup-norm) and so saturates once any one quantile has
    shifted; W1 accumulates the gap over the whole support (L1 norm),
    measuring drift in the COLUMN'S OWN UNITS — "the text lengths moved
    by ~37 characters on average" — which makes it the right alerting
    number for magnitude-thresholded gates where KS is the right one
    for significance gates.  Returns ONE row
    ``(w1, n_current, n_baseline)``.  Nulls are dropped (presence drift
    is ``frequencies``' job).

    ``Σ |ΔCDF| · Δv`` over the numeric census's CDF is a final 1-row
    aggregation.  With ``grid=`` (fixed lattice) the W1 error
    introduced is at most half a lattice step.
    """
    cdf = _cdf(_with_totals(_num_census(current, baseline, col, grid)))
    return cdf.agg(
        F.coalesce(
            F.sum(
                F.abs(F.col("cc") / F.col("tc") - F.col("cb") / F.col("tb"))
                * F.col("dv")
            ),
            F.lit(0.0),
        ).alias("w1"),
        *_sizes(),
    )


def js_divergence(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    max_categories: int | None = None,
    base: float | None = None,
) -> DataFrame:
    """Jensen-Shannon divergence between a CATEGORICAL column's
    distribution in ``current`` and ``baseline`` — the bounded,
    symmetric companion to :func:`kl_divergence`:
    ``JSD = ½·KL(P‖M) + ½·KL(Q‖M)`` with ``M = (P+Q)/2``.  Unlike KL it
    needs no epsilon floor (a category present on only one side
    contributes ``½·ln 2`` of its mass, never infinity), it is
    symmetric (no "which snapshot is the baseline" asymmetry), and it
    is bounded — ``[0, ln 2]`` in nats, ``[0, 1]`` with ``base=2`` —
    so one alert threshold works across columns of any cardinality.
    Returns ONE row ``(jsd, n_current, n_baseline)``.  Nulls count as
    the literal ``'__null__'`` (presence drift stays visible);
    ``max_categories=`` folds the cardinality tail into ``'__other__'``.
    """
    t = _with_totals(_cat_census(current, baseline, col, max_categories))
    p = F.col("nc") / F.col("tc")
    q = F.col("nb") / F.col("tb")
    m = (p + q) / F.lit(2.0)
    # p=0 or q=0 terms contribute 0 by the 0·ln(0) = 0 convention;
    # m > 0 always holds on observed categories, so ln(m) is safe.
    cell = (
        F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    scale = F.lit(1.0 / math.log(base)) if base is not None else F.lit(1.0)
    return t.agg((F.sum(cell) * scale).alias("jsd"), *_sizes())


def quantile_shift(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    qs: tuple = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Per-quantile drift report: ``(q, v_current, v_baseline, delta)``
    for each requested quantile — WHERE the distribution moved, in the
    column's own units, completing the numeric-drift toolkit
    (:func:`ks_statistic` says whether the shift is significant,
    :func:`wasserstein_distance` how much total mass moved, this says
    which part of the distribution did the moving — "p90 text length
    grew 400 chars, the median didn't" is an actionable alert where a
    single scalar is not).  Quantiles are EXACT interpolated
    ``percentile`` (R-7, = DuckDB/Postgres ``quantile_cont``).  Nulls
    are dropped (presence drift is ``frequencies``' job).

    Scale shape: ONE aggregation per side computes every requested
    quantile in a single pass (one ``percentile(col, array(...))``
    agg; Spark's sort-based percentile state holds the side's
    distinct-value histogram), then the two 1-row results explode and
    equi-join on the quantile — rows moved after the aggs: 2·|qs|.
    """
    if not qs:
        raise ValueError("quantile_shift needs at least one quantile")
    probs = F.array(*[F.lit(float(q)) for q in qs])

    def side(df: DataFrame, name: str) -> DataFrame:
        agg = df.where(F.col(col).isNotNull()).agg(
            F.percentile(F.col(col), probs).alias("__vs")
        )
        return agg.select(
            F.posexplode("__vs").alias("__i", name)
        ).select(
            F.element_at(probs, F.col("__i") + 1).alias("q"), name
        )

    cur = side(current, "v_current")
    base = side(baseline, "v_baseline")
    return cur.join(base, "q").select(
        "q",
        "v_current",
        "v_baseline",
        (F.col("v_current") - F.col("v_baseline")).alias("delta"),
    )


def snapshot_diff(
    current: DataFrame,
    baseline: DataFrame,
    keys: str | list[str],
    compare_cols: list | dict | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots of the same table: one row
    per differing key — ``(*keys, status)`` with status ``'added'``
    (key only in current), ``'removed'`` (only in baseline) or
    ``'changed'`` (present in both, compared values differ) — the
    snapshot regression check for re-ingested / re-processed tables
    (distribution drift says the corpus moved; this says WHICH rows,
    at key granularity, without ever shipping the wide rows).

    ``compare_cols``: list of column names, or a dict name → Column
    giving a canonical rendering (REQUIRED for float columns if the
    digest must reproduce across engines — cast to a fixed grid);
    default = every common non-key column, in the current frame's
    column order.  Values are digested per row as md5 over
    length-prefixed string renderings (null → length ``-1``), so no
    concatenation boundary can collide and the digest is a pure
    function of the rendered values.

    Keys must be unique per side (run the uniqueness check first —
    duplicate keys would make "the row changed" ill-posed and the
    join multiplicative).

    Scale shape: each side collapses to a NARROW ``(keys, digest)``
    projection at scan time (the wide row never leaves the scan), then
    ONE full-outer hash join keyed by the keys — shuffle carries
    ~16 B + keys per row; AQE splits skewed key ranges.  The output is
    filtered to differing rows only: a healthy re-run emits nothing.
    """
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    if compare_cols is None:
        base_cols = set(baseline.columns)
        compare_cols = [
            c for c in current.columns
            if c not in key_cols and c in base_cols
        ]
    if isinstance(compare_cols, dict):
        rendered = [
            (name, col if isinstance(col, Column) else F.col(col))
            for name, col in compare_cols.items()
        ]
    else:
        rendered = [(c, F.col(c)) for c in compare_cols]
    if not rendered:
        raise ValueError("snapshot_diff needs at least one compare column")

    def digest(side: DataFrame, name: str) -> DataFrame:
        parts = []
        for _, col in rendered:
            s = col.cast("string")
            parts.append(
                F.concat(
                    F.coalesce(F.length(s), F.lit(-1)).cast("string"),
                    F.lit(":"),
                    F.coalesce(s, F.lit("")),
                )
            )
        return side.select(
            *key_cols, F.md5(F.concat(*parts)).alias(name)
        )

    cur = digest(current, "__dc")
    base = digest(baseline, "__db")
    joined = cur.join(base, key_cols, "full_outer")
    status = (
        F.when(F.col("__db").isNull(), F.lit("added"))
        .when(F.col("__dc").isNull(), F.lit("removed"))
        .when(F.col("__dc") != F.col("__db"), F.lit("changed"))
    )
    return (
        joined.select(*key_cols, status.alias("status"))
        .where(F.col("status").isNotNull())
    )


def psi_by_group(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    group_cols: str | tuple | list = (),
    eps: float = 1e-6,
    max_categories: int | None = DEFAULT_MAX_CATEGORIES,
) -> DataFrame:
    """Per-group population-stability index between two snapshots —
    drift SLICED BY A DIMENSION (per role, per lang, per source):
    ``(group…, psi, n_current, n_baseline)``.  A corpus-global PSI
    (:func:`psi`) dilutes a drift that hits one slice (the assistant
    role's text-length distribution shifts; user turns don't) by every
    slice that didn't move — at 10^12 turns the global number stays
    asleep while one role is on fire.  Same estimator as
    :func:`psi_from_dicts`: ``sum over the category union of
    (p − q) · ln(p / q)`` with both masses floored at ``eps``; nulls
    are the literal category ``'__null__'``; a group absent from
    either snapshot reports a null psi (no distribution to compare —
    presence is `volume_anomaly`'s job).

    ``max_categories`` caps per-GROUP category identity (tail collapses
    into ``'__other__'``, mass preserved) — the same driver-safety
    guard as :func:`frequencies`, ranked within each group.

    Runs on the categorical census keyed by ``(group…, category)``
    (module docstring): the corpus collapses to #groups × #categories
    rows before the group-keyed totals join; the PSI sum is a final
    group-keyed agg.  No window over raw data, no driver state.
    """
    by = (group_cols,) if isinstance(group_cols, str) else tuple(group_cols)
    t = _with_totals(
        _cat_census(current, baseline, col, max_categories, by), by
    )
    p = F.greatest(F.col("nc") / F.col("tc"), F.lit(float(eps)))
    q = F.greatest(F.col("nb") / F.col("tb"), F.lit(float(eps)))
    term = F.when(
        (F.col("tc") > 0) & (F.col("tb") > 0),
        (p - q) * F.log(p / q),
    )
    return t.groupBy(*by).agg(F.sum(term).alias("psi"), *_sizes())
