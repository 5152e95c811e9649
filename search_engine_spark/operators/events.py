"""Event-time operators over the events table (engine additions).

The reference has no time semantics at all (SURVEY §2.8 — its only
timestamps are crawl bookkeeping); a training-data pipeline needs them
for log/telemetry joins, so the engine adds the canonical shapes:

- tumbling-window aggregation: `F.window` (Catalyst-native; the same
  expression powers the Structured-Streaming path with a watermark);
- gap-based sessionization: lag/cumsum window functions — one shuffle
  on user_id, all JVM-side;
- AS-OF join (asof_join): Spark has no native ASOF — expressed as the
  tagged-union + last(ignorenulls) window pattern (ONE shuffle, no
  range blowup);
- RANGE join (range_join): pairs within a time delta — expressed as
  the bucketed-interval join (each left row probes 2 buckets; join
  cost O(matches), never the |A|·|B| cross product an inequality-only
  join degenerates to).

All are ANSI-SQL-expressible, so all carry DuckDB oracles in
__spark_entry__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from search_engine_spark.operators.query import _rank_cut


def windowed_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """(ws, event_type, n, sum_value): tumbling event-time windows."""
    return (
        events.groupBy(
            F.window(F.col("ts"), window).alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )


def user_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(user_id, session_id, n_events, duration_s): split each user's
    event stream at gaps > gap_minutes.

    session_id = running count of gap-breaks (ts - lag(ts) > gap) per
    user — two window passes over the same (user_id, ts) sort, so
    Catalyst plans ONE shuffle + one sort for both.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts arrives as TIMESTAMP_NTZ; ANSI forbids a direct long cast, so go
    # via timestamp (session tz pinned to UTC → deterministic epoch)
    e = F.col("ts").cast("timestamp").cast("long")
    gap = e - F.lag(e).over(w)
    with_break = events.withColumn(
        "brk", F.when(gap > gap_minutes * 60, 1).otherwise(0)
    )
    with_sess = with_break.withColumn(
        "session_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.max(F.col("ts").cast("timestamp").cast("long"))
                - F.min(F.col("ts").cast("timestamp").cast("long"))
            ).alias("duration_s"),
        )
    )


def asof_join(
    events: DataFrame, left_type: str, right_type: str
) -> DataFrame:
    """For each `left_type` event: the value of the most recent
    `right_type` event at-or-before it for the same user (NULL when no
    prior right event exists).

    Spark lacks a native ASOF join; the scalable expression is the
    tagged UNION + last(ignorenulls) running window: both sides shuffle
    ONCE on user_id and a single sort by (ts, side, event_id) resolves
    every lookup — no per-row subquery, no range-join blowup, identical
    cost profile at 10^12 events. Tie rule: a right event at exactly
    the left event's ts counts (right rows sort before left rows at
    equal ts); equal-ts right duplicates resolve to the max event_id —
    a total order, so the result is a pure function of the data.
    """
    tagged = events.filter(
        F.col("event_type").isin([left_type, right_type])
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == right_type, F.col("value")).alias("r_val"),
        (F.col("event_type") == left_type).cast("int").alias("is_l"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_l", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn(
            "asof_value", F.round(F.last("r_val", ignorenulls=True).over(w), 6)
        )
        .filter(F.col("is_l") == 1)
        .select("user_id", "event_id", "asof_value")
    )


def range_join(
    events: DataFrame,
    left_type: str,
    right_type: str,
    delta_s: int = 600,
) -> DataFrame:
    """(user_id, a_id, b_id, gap_us): every (left, right) event pair of
    the same user with 0 ≤ right.ts - left.ts ≤ delta_s.

    The naive inequality join is a per-user cross product; the scalable
    expression buckets time into delta_s-wide cells and equi-joins on
    (user_id, bucket) with the LEFT side exploded into its own and the
    next bucket — every qualifying pair co-locates in exactly one
    bucket pair, so join input is O(|A|·2 + |B|) rows and join output
    is O(candidates within ≤2·delta_s), then the exact predicate
    filters. Timestamps compare as integral microseconds (exact, no
    float).
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    delta_us = delta_s * 1_000_000
    a = (
        events.filter(F.col("event_type") == left_type)
        .select(
            "user_id",
            F.col("event_id").alias("a_id"),
            us.alias("a_us"),
        )
        .withColumn(
            "bk",
            # integer div: float floor can be off-by-one at exact
            # bucket boundaries on microsecond-scale longs
            F.explode(
                F.array(
                    F.expr(f"a_us div {delta_us}"),
                    F.expr(f"a_us div {delta_us}") + 1,
                )
            ),
        )
    )
    b = events.filter(F.col("event_type") == right_type).select(
        "user_id",
        F.col("event_id").alias("b_id"),
        us.alias("b_us"),
    ).withColumn("bk", F.expr(f"b_us div {delta_us}"))
    return (
        a.join(b, ["user_id", "bk"])
        .filter(
            (F.col("b_us") >= F.col("a_us"))
            & (F.col("b_us") - F.col("a_us") <= delta_us)
        )
        .select(
            "user_id",
            "a_id",
            "b_id",
            (F.col("b_us") - F.col("a_us")).alias("gap_us"),
        )
    )


def funnel(
    events: DataFrame, steps: list[str], within_s: int | None = None
) -> DataFrame:
    """(step, event_type, n_users): ordered-funnel conversion counts —
    how many users performed steps[0], then steps[1] STRICTLY later,
    then steps[2] later still… (greedy earliest-completion semantics,
    the standard product-analytics funnel). `within_s` optionally
    bounds each step to at most that many seconds after the PREVIOUS
    step's match.

    Greedy-earliest is the right fixpoint: taking min(ts) at every
    step never misses a completion that any other witness ordering
    would find (any valid chain's step-i time is ≥ the greedy one).

    Scale shape: len(steps)-1 equi-joins keyed user_id, each side
    pre-filtered to ONE event type at the scan (predicate pushdown on
    event_type), aggregates map-side combined; no window over the full
    event stream, no per-user UDF state. Counts are integers end to
    end — replayable exactly.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    spark = events.sparkSession
    reached = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
        .persist()
    )
    # each step's reached-set is persisted so step i+1 builds on the
    # materialized frontier, not a re-derivation of steps 1…i; the
    # per-step count() is a 1-scalar driver barrier (the documented
    # k-scalar pattern — len(steps) tiny)
    stages = [reached]
    counts = [(1, steps[0], reached.count())]
    for i, step in enumerate(steps[1:], start=2):
        nxt = events.filter(F.col("event_type") == step).join(
            reached, "user_id"
        )
        cond = F.col("ts") > F.col("t")
        if within_s is not None:
            cond = cond & (
                F.col("ts").cast("timestamp").cast("long")
                - F.col("t").cast("timestamp").cast("long")
                <= F.lit(int(within_s))
            )
        reached = (
            nxt.filter(cond)
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
            .persist()
        )
        stages.append(reached)
        counts.append((i, step, reached.count()))
    for s in stages:
        s.unpersist()
    return spark.createDataFrame(
        counts, "step int, event_type string, n_users long"
    )


def cohort_retention(events: DataFrame, period_s: int = 604800) -> DataFrame:
    """(cohort, offset, n_users): classic cohort-retention grid —
    cohort = the user's first-activity period (epoch-aligned, default
    weekly), offset = how many periods later the user was active,
    n_users = distinct users from that cohort active at that offset.
    offset 0 row = cohort size.

    Period ids are integer epoch divisions (⌊epoch/period⌋), so the
    whole grid is integral and replays exactly; calendar-aligned
    variants are a date_trunc swap away.

    Scale shape: one groupBy(user) for first-activity, one broadcast-
    sized… no — the cohort dim is per-user, so it's a user_id equi-join
    (users ≪ events rows, AQE may broadcast), then one distinct-count
    agg keyed (cohort, offset). Two shuffles total.
    """
    # TIMESTAMP_NTZ: no direct long cast under ANSI — via timestamp (UTC tz)
    ep = F.floor(
        F.col("ts").cast("timestamp").cast("long") / F.lit(period_s)
    ).cast("long")
    first = (
        events.select("user_id", ep.alias("p"))
        .groupBy("user_id")
        .agg(F.min("p").alias("cohort"))
    )
    active = events.select("user_id", ep.alias("p")).distinct()
    return (
        active.join(first, "user_id")
        .groupBy("cohort", (F.col("p") - F.col("cohort")).alias("offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def related_items(
    events: DataFrame,
    gap_minutes: int = 30,
    min_pairs: int = 2,
    k: int = 10,
) -> DataFrame:
    """(item, related, n_ab, lift): co-session recommendation — "users
    who engaged with X in a session also engaged with Y", the mechanism
    behind related-searches / people-also-viewed panels, mined from the
    event log's item ids (`props.k`).

    Sessionize (same gap-break windows as `user_sessions` — one shuffle
    + one sort for both passes), reduce to DISTINCT (session, item)
    incidences, self-join within session for co-occurrence counts, and
    score each pair by session-lift

        lift(a,b) = n_ab · N_sessions / (n_a · n_b)

    (>1 ⇒ co-occur more than independence predicts). Per-item top-k by
    (lift DESC, n_ab DESC, related ASC), emitted symmetrically.

    Scale shape: the self-join is keyed on (user, session) — pair work
    is Σ|session|², bounded by the session gap, never corpus²; the
    only driver barrier is the 1-scalar session count. min_pairs cuts
    the long noise tail before the window.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = F.col("ts").cast("timestamp").cast("long")
    gap = e - F.lag(e).over(w)
    sess = (
        events.withColumn(
            "brk", F.when(gap > gap_minutes * 60, 1).otherwise(0)
        )
        .withColumn(
            "session_id",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "item",
            F.regexp_extract(F.col("props"), '"k": (\\d+)', 1).cast("int"),
        )
        .filter(F.col("item").isNotNull())
        .select("user_id", "session_id", "item")
        .distinct()
        .persist()
    )
    n_sessions = sess.select("user_id", "session_id").distinct().count()
    per_item = sess.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a, b = sess.alias("a"), sess.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_id") == F.col("b.session_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    sym = pairs.select(
        F.col("item_a").alias("item"),
        F.col("item_b").alias("related"),
        "n_ab",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"),
            F.col("item_a").alias("related"),
            "n_ab",
        )
    )
    na = per_item.select(F.col("item"), F.col("n").alias("n_i"))
    nb = per_item.select(
        F.col("item").alias("related"), F.col("n").alias("n_r")
    )
    scored = (
        sym.join(na, "item")
        .join(nb, "related")
        .select(
            "item",
            "related",
            "n_ab",
            F.round(
                F.col("n_ab")
                * F.lit(float(n_sessions))
                / (F.col("n_i") * F.col("n_r")),
                6,
            ).alias("lift"),
        )
    )
    return _rank_cut(
        scored,
        k,
        ["item"],
        F.col("lift").desc(),
        F.col("n_ab").desc(),
        F.col("related").asc(),
    )
