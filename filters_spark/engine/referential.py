"""Referential-integrity checks (BASELINE.json north_star: "every turn's
conv_id resolves, turn_idx gapless per conversation via window lag").

Two gaplessness strategies:

- :func:`gapless_by_agg` — the SCALE path.  ``0..n-1`` gapless ≡
  ``min(idx)=0 ∧ max(idx)=count-1 ∧ count_distinct(idx)=count``, which is
  a pure hash aggregation: no sort, no window state, partial-aggregates
  map-side, and composes with :func:`salted_agg` for hot conversations.
- :func:`gaps_by_window` — the REPORTING path: ``lag`` over
  ``Window.partitionBy(conv).orderBy(idx)`` pinpoints each gap position.
  A window sort over a 10^8-turn conversation is exactly the skew trap
  the agg path avoids, so this is for violation drill-down, not the
  per-partition verdict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def orphans(
    child: DataFrame,
    parent: DataFrame,
    on: str | list[str],
    broadcast_parent: bool | None = None,
) -> DataFrame:
    """Child rows whose FK has no match in ``parent`` (anti join).

    ``broadcast_parent=True`` forces a broadcast hash anti-join (right
    side is a dimension table); default leaves the choice to AQE, which
    also splits skewed shuffle partitions for hot FK values.
    """
    keys = [on] if isinstance(on, str) else list(on)
    p = parent.select(*keys).dropDuplicates(keys)
    if broadcast_parent:
        p = F.broadcast(p)
    return child.join(p, on=keys, how="left_anti")


def gapless_by_agg(
    df: DataFrame, conv: str = "conv_id", idx: str = "turn_idx"
) -> DataFrame:
    """Per-conversation gaplessness verdict via hash aggregation only.

    Returns ``(conv, n_turns, distinct_turns, min_idx, max_idx,
    is_gapless)``.  Duplicates are tolerated here (count_distinct);
    uniqueness is a separate check.
    """
    return df.groupBy(conv).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count_distinct(F.col(idx)).alias("distinct_turns"),
        F.min(idx).alias("min_idx"),
        F.max(idx).alias("max_idx"),
    ).select(
        F.col(conv),
        "n_turns",
        "distinct_turns",
        "min_idx",
        "max_idx",
        (
            (F.col("min_idx") == 0)
            & (F.col("max_idx") == F.col("distinct_turns") - 1)
        ).alias("is_gapless"),
    )


def gaps_by_window(
    df: DataFrame, conv: str = "conv_id", idx: str = "turn_idx"
) -> DataFrame:
    """Exact gap locations: rows where ``idx - lag(idx) > 1`` (or the
    first idx ≠ 0).  Returns ``(conv, prev_idx, idx)`` per gap."""
    w = Window.partitionBy(conv).orderBy(idx)
    lagged = df.select(conv, idx).withColumn("prev_idx", F.lag(idx).over(w))
    return lagged.where(
        (F.col("prev_idx").isNull() & (F.col(idx) != 0))
        | (F.col(idx) - F.col("prev_idx") > 1)
    ).select(conv, "prev_idx", F.col(idx).alias("gap_at"))


def monotone_ts_violations(
    df: DataFrame,
    conv: str = "conv_id",
    idx: str = "turn_idx",
    ts: str = "ts",
) -> DataFrame:
    """Rows whose timestamp decreases within a conversation (window path,
    reporting granularity)."""
    w = Window.partitionBy(conv).orderBy(idx)
    lagged = df.select(conv, idx, ts).withColumn("prev_ts", F.lag(ts).over(w))
    return lagged.where(F.col(ts) < F.col("prev_ts"))


def conv_profile(
    df: DataFrame,
    conv: str = "conv_id",
    text: str = "text",
    ts: str = "ts",
    loop_threshold: int = 5,
) -> DataFrame:
    """Per-conversation shape census + agent-loop detection:
    ``(conv, n_turns, n_distinct_texts, max_text_repeat, first_ts,
    last_ts, duration_sec, loop_suspect)``.

    ``max_text_repeat`` is the highest count of any one verbatim text
    within the conversation — the stuck-agent signature (a looping
    agent emits the same turn over and over, which no per-turn chain
    and no corpus-level dedup flags: the text is valid and the
    conversation is unique, it is the WITHIN-conversation repetition
    that is broken).  ``loop_suspect = max_text_repeat >=
    loop_threshold``.  Null texts group like a value (a run of null
    turns is also a loop).  ``duration_sec`` is whole seconds between
    the first and last turn timestamps (floor-of-epoch difference,
    engine-portable).

    Scale shape: one two-level aggregation cascade, no join and no
    window — pre-agg keyed by ``(conv, text)`` (map-side combine
    collapses the loop spam itself, so the hotter the loop the LESS
    it shuffles), then a hash agg keyed by ``conv`` combining counts
    and timestamp extremes.  A 10^8-turn hot conversation arrives at
    the second stage as one row per distinct text, not per turn.
    """
    per_text = df.groupBy(conv, text).agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(ts).alias("__min_ts"),
        F.max(ts).alias("__max_ts"),
    )
    return (
        per_text.groupBy(conv)
        .agg(
            F.sum("__n").cast("long").alias("n_turns"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_texts"),
            F.max("__n").cast("long").alias("max_text_repeat"),
            F.min("__min_ts").alias("first_ts"),
            F.max("__max_ts").alias("last_ts"),
        )
        .select(
            F.col(conv),
            "n_turns",
            "n_distinct_texts",
            "max_text_repeat",
            "first_ts",
            "last_ts",
            (
                # NTZ has no direct long cast; via timestamp is exact
                # under the suite's pinned UTC session timezone
                F.col("last_ts").cast("timestamp").cast("long")
                - F.col("first_ts").cast("timestamp").cast("long")
            ).alias("duration_sec"),
            (F.col("max_text_repeat") >= F.lit(int(loop_threshold))).alias(
                "loop_suspect"
            ),
        )
    )


def _order_cols(idx: str | list[str]) -> list:
    """Sequence checks need a TOTAL order within the conversation
    (ties make ``lag`` engine/partition-dependent); pass a composite
    list when one column does not order turns uniquely."""
    return [F.col(c) for c in ([idx] if isinstance(idx, str) else idx)]


def transition_counts(
    df: DataFrame,
    conv: str = "conv_id",
    idx: str | list[str] = "turn_idx",
    col: str = "role",
) -> DataFrame:
    """Per-transition census over conversation sequences:
    ``(prev, next, n)`` where ``prev`` is the previous turn's ``col``
    within the conversation (the literal ``'__start__'`` for each
    conversation's first turn) — the dialogue-structure fingerprint a
    drift check compares against a baseline snapshot (feed both sides
    through :func:`filters_spark.engine.drift.psi_from_dicts` keyed by
    ``prev || '>' || next``).

    Scale shape: ONE shuffle keyed by the conversation (the ``lag``
    window sort), then a hash aggregation on the tiny (prev, next)
    domain with map-side combine.  Null values count as the literal
    ``'__null__'`` so presence drift is visible, mirroring
    ``drift.frequencies``.
    """
    w = Window.partitionBy(conv).orderBy(*_order_cols(idx))
    val = F.coalesce(F.col(col).cast("string"), F.lit("__null__"))
    pairs = df.select(
        F.coalesce(F.lag(val).over(w), F.lit("__start__")).alias("prev"),
        val.alias("next"),
    )
    return pairs.groupBy("prev", "next").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def transition_violations(
    df: DataFrame,
    allowed: dict[str, list[str]] | list[tuple[str, str]],
    conv: str = "conv_id",
    idx: str | list[str] = "turn_idx",
    col: str = "role",
) -> DataFrame:
    """Sequence-shape validation: rows whose ``col`` transition is not
    in the ``allowed`` map — e.g. agent transcripts where a ``tool``
    turn may only follow ``assistant``, and a conversation must open
    with ``system`` or ``user``.

    ``allowed`` maps each previous value to its permitted successors
    (``{'__start__': ['system', 'user'], 'user': ['assistant'], ...}``),
    or equivalently a list of ``(prev, next)`` pairs.  Returns one
    violation row per offending turn: ``(conv, idx, prev, value,
    code)`` with ``code = 'bad_transition'`` (unknown successor) or
    ``'bad_start'`` (conversation opens on a value ``'__start__'``
    does not allow) — the north-star structured-violation shape
    (filter code + offending value), same contract as the scalar
    chains' ``_violations`` rows.

    Scale shape: the same single conversation-keyed window shuffle as
    :func:`transition_counts`; the allowed set is a literal map baked
    into the plan (codegen-friendly, no join), so violations stream out
    of the window pass with no further exchange.
    """
    if isinstance(allowed, dict):
        items = [(p, n) for p, ns in allowed.items() for n in ns]
    else:
        items = list(allowed)
    if not items:
        raise ValueError("allowed transition set must not be empty")
    by_prev: dict[str, list[str]] = {}
    for p, n in items:
        by_prev.setdefault(p, []).append(n)
    # literal map prev -> array of permitted successors; absent prev =>
    # nothing permitted after it
    map_args = []
    for p, ns in sorted(by_prev.items()):
        map_args.append(F.lit(p))
        map_args.append(F.array(*[F.lit(n) for n in sorted(set(ns))]))
    allowed_map = F.create_map(*map_args)

    order = _order_cols(idx)
    w = Window.partitionBy(conv).orderBy(*order)
    val = F.coalesce(F.col(col).cast("string"), F.lit("__null__"))
    idx_names = [idx] if isinstance(idx, str) else list(idx)
    lagged = df.select(
        F.col(conv),
        *[F.col(c) for c in idx_names],
        F.coalesce(F.lag(val).over(w), F.lit("__start__")).alias("prev"),
        val.alias("value"),
    )
    ok = F.coalesce(
        F.array_contains(allowed_map[F.col("prev")], F.col("value")),
        F.lit(False),
    )
    return lagged.where(~ok).select(
        conv,
        *idx_names,
        "prev",
        "value",
        F.when(F.col("prev") == "__start__", F.lit("bad_start"))
        .otherwise(F.lit("bad_transition"))
        .alias("code"),
    )


def conv_fingerprints(
    df: DataFrame,
    conv: str = "conv_id",
    idx: str = "turn_idx",
    text: str = "text",
) -> DataFrame:
    """Order-exact conversation fingerprint: ``(conv, fingerprint,
    n_turns)`` with ``fingerprint = md5`` of the turn texts
    concatenated in ``(idx, text)`` order, each turn length-prefixed
    (``idx ':' len ':' text``, null idx → ``'__null__'``, null text →
    length ``-1``) so no
    concatenation boundary can collide and the SAME conversation
    content always produces the SAME digest on any engine.

    The per-conversation state is ``collect_list`` of ``(idx, entry)``
    structs sorted with ``sort_array`` — bounded by turns-per-
    conversation, the same per-group ceiling the north rule's
    "per-turn text equality under stable (conv_id, turn_idx) ordering"
    check already needs; ties on ``idx`` fall back to the entry text so
    the order (and the digest) stays deterministic even on corpora with
    seeded duplicate turn keys.  One hash aggregation, no window, no
    join.
    """
    entry = F.concat(
        F.coalesce(F.col(idx).cast("string"), F.lit("__null__")),
        F.lit(":"),
        F.coalesce(F.length(F.col(text)), F.lit(-1)).cast("string"),
        F.lit(":"),
        F.coalesce(F.col(text), F.lit("")),
    )
    return (
        df.groupBy(conv)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(idx).alias("i"),
                                        entry.alias("e")))
            ).alias("__turns")
        )
        .select(
            F.col(conv),
            F.md5(
                F.array_join(F.transform("__turns", lambda t: t["e"]), "")
            ).alias("fingerprint"),
            F.size("__turns").cast("long").alias("n_turns"),
        )
    )


def duplicate_convs(
    df: DataFrame,
    conv: str = "conv_id",
    idx: str = "turn_idx",
    text: str = "text",
) -> DataFrame:
    """Conversations whose ENTIRE ordered transcript is a verbatim copy
    of another conversation's — the transcript-level exact-duplicate
    check (corpus-level doc dedup sees turns, not conversations;
    :func:`conv_profile` sees within-conversation repeats; this finds
    whole-dialogue duplicates, the classic symptom of a re-ingested
    batch or a forked agent run).

    Returns one row per conversation that belongs to a duplicate group:
    ``(conv, fingerprint, n_turns, group_conv, n_convs)`` where
    ``group_conv`` is the smallest conv id sharing the fingerprint (the
    canonical keeper) and ``n_convs`` the group size (≥ 2 by
    construction).

    Scale shape: :func:`conv_fingerprints` (one hash agg), then a
    fingerprint-keyed hash agg computing ``(min(conv), count)`` over
    the ALREADY-AGGREGATED one-row-per-conversation table, joined back
    by fingerprint equi-join.  The join's build side is only the
    duplicate groups — a vanishing fraction of conversations on a
    healthy corpus — but it is NOT force-broadcast: a pathologically
    re-ingested corpus can make half its conversations duplicates, and
    AQE already picks broadcast when the group table is actually small.
    """
    fps = conv_fingerprints(df, conv=conv, idx=idx, text=text)
    groups = (
        fps.groupBy("fingerprint")
        .agg(
            F.min(conv).alias("group_conv"),
            F.count(F.lit(1)).cast("long").alias("n_convs"),
        )
        .where(F.col("n_convs") > 1)
    )
    return fps.join(groups, "fingerprint").select(
        F.col(conv), "fingerprint", "n_turns", "group_conv", "n_convs"
    )


def turn_latency(
    df: DataFrame,
    conv: str = "conv_id",
    idx: str | list[str] = "turn_idx",
    ts: str = "ts",
) -> DataFrame:
    """Per-conversation inter-turn latency profile: ``(conv, n_turns,
    n_gaps, mean_gap_sec, p50_gap_sec, max_gap_sec)`` where a gap is
    the signed seconds between a turn's timestamp and its
    predecessor's in ``idx`` order — the agent-responsiveness /
    ingest-lag metric (a conversation whose median gap jumps from 2 s
    to 2 h is a stalled agent or a backfilled batch; a NEGATIVE max
    means time travel, which :func:`monotone_ts_violations` pinpoints
    row-by-row — gaps here stay signed so the profile does not hide
    it).  Null timestamps produce null gaps and drop out of the stats
    (presence is ``column_stats``' job); the median is the EXACT
    interpolated percentile (R-7, DuckDB/Postgres ``quantile_cont``).

    ``idx`` must totally order turns within a conversation (composite
    list supported, same contract as the transition checks).

    Scale shape: ONE conversation-keyed ``lag`` window shuffle, then a
    hash agg keyed by the conversation.  The exact per-group median's
    state is bounded by turns-per-conversation — the same per-group
    ceiling the ordering contract already imposes.
    """
    w = Window.partitionBy(conv).orderBy(*_order_cols(idx))
    sec = F.col(ts).cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    lagged = df.select(F.col(conv), gap.alias("__gap"))
    return lagged.groupBy(conv).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.count("__gap").cast("long").alias("n_gaps"),
        F.avg("__gap").alias("mean_gap_sec"),
        F.expr("percentile(__gap, 0.5)").alias("p50_gap_sec"),
        F.max("__gap").alias("max_gap_sec"),
    )


def _boundary_values(
    df: DataFrame, conv: str, idx: str | list[str], col: str
) -> DataFrame:
    """Per-conversation first/last value of ``col`` in ``idx`` order as
    ``(conv, first, last)`` — ONE conversation-keyed hash aggregation
    via ``min_by``/``max_by`` over the (composite) order key.  No
    window and no sort: the extremes combine map-side, so the corpus
    collapses to one row per conversation inside the mappers and the
    single shuffle carries three columns per conversation."""
    ordk = F.struct(*_order_cols(idx))
    v = F.coalesce(F.col(col).cast("string"), F.lit("__null__"))
    return df.groupBy(conv).agg(
        F.min_by(v, ordk).alias("first"),
        F.max_by(v, ordk).alias("last"),
    )


def boundary_census(
    df: DataFrame,
    conv: str = "conv_id",
    idx: str | list[str] = "turn_idx",
    col: str = "role",
) -> DataFrame:
    """Conversation boundary-shape census: ``(first, last, n_convs)``
    counting conversations by the ``col`` value of their FIRST and
    LAST turn in ``idx`` order — the truncation fingerprint.  The
    transition checks cannot see the terminal turn (no transition
    exists after it): a corpus where 30 % of conversations end on a
    ``user`` turn (dangling question — the generation was cut off or
    the ingest dropped the reply) has perfectly legal transitions
    everywhere.  This census is also the natural drift input: feed two
    snapshots' ``(first || '>' || last)`` frequencies through
    ``psi_from_dicts``.

    Null boundary values report as the literal ``'__null__'``.
    ``idx`` must totally order turns within a conversation (composite
    list supported, same contract as the transition checks).

    Scale shape: one ``min_by``/``max_by`` hash agg keyed by the
    conversation (map-side combine, no window, no join), then a second
    hash agg on the tiny (first, last) domain over the
    one-row-per-conversation table.
    """
    return (
        _boundary_values(df, conv, idx, col)
        .groupBy("first", "last")
        .agg(F.count(F.lit(1)).cast("long").alias("n_convs"))
    )


def boundary_violations(
    df: DataFrame,
    conv: str = "conv_id",
    idx: str | list[str] = "turn_idx",
    col: str = "role",
    expected_first: list | tuple | None = None,
    expected_last: list | tuple | None = None,
) -> DataFrame:
    """Structured violation rows for conversations whose boundary turn
    breaks the contract: ``(conv, code, value)`` with code
    ``'bad_first'`` (conversation opens on a value outside
    ``expected_first``) or ``'bad_last'`` (ends outside
    ``expected_last``) and the offending boundary value — the
    north-star violation-row shape, keyed by the conversation.  A
    transcript corpus contract is typically ``expected_first=('user',
    'system')`` and ``expected_last=('assistant',)``; a conversation
    ending on ``user`` or ``tool`` is a truncated generation no
    per-turn chain and no transition rule can flag.  Only supplied
    sides are checked; at least one must be.  A null boundary value is
    the literal ``'__null__'`` (list it to allow it).

    Scale shape: the :func:`boundary_census` aggregation (one
    conversation-keyed ``min_by``/``max_by`` hash agg, map-side
    combine), then a pure projection — the two checks become an
    array-filter + explode, so output is bounded by violating
    conversations and a clean corpus emits nothing.
    """
    if expected_first is None and expected_last is None:
        raise ValueError(
            "boundary_violations: supply expected_first and/or "
            "expected_last; with neither there is nothing to check "
            "(use boundary_census for the unconstrained census)"
        )
    fl = _boundary_values(df, conv, idx, col)
    checks = []
    for side, allowed in (
        ("first", expected_first),
        ("last", expected_last),
    ):
        if allowed is None:
            continue
        ok = F.col(side).isin([str(a) for a in allowed])
        checks.append(
            F.when(
                ~ok,
                F.struct(
                    F.lit(f"bad_{side}").alias("code"),
                    F.col(side).alias("value"),
                ),
            )
        )
    arr = F.filter(F.array(*checks), lambda x: x.isNotNull())
    return fl.select(F.col(conv), F.explode(arr).alias("__v")).select(
        conv,
        F.col("__v.code").alias("code"),
        F.col("__v.value").alias("value"),
    )
