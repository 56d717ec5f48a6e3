"""Event-sequence analytics: ordered funnels and retention cohorts.

The reference profiles its event stream per variable (SURVEY §2 A5-A7);
production event tables also get asked the two classic sequence
questions — "how many users progress through step1→step2→…→stepK in
order?" (funnel) and "of the users who first appeared in week W, how
many were active k weeks later?" (retention).

Scale shapes:
- ``funnel_steps``: ONE shuffle. Every step time is an unordered
  window aggregate over the same ``partitionBy(user)`` spec — step i's
  time is ``min(ts WHERE type=step_i AND ts > t_{i-1})`` with t_{i-1} a
  previously materialized column, so Catalyst plans one Exchange and
  stacks the window passes on it; the per-user reduction then REUSES
  that partitioning (no second exchange), and the final step-count
  fold is a single row-set the size of the step list.
- ``retention_cohorts``: distinct (user, week) activity plus the
  per-user cohort week in one chain of user-keyed aggregations, then a
  (cohort, offset) count — cardinalities bounded by users and
  weeks², not events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.operators.scale import (
    bounded_global_partition,
    bounded_global_window,
)


def funnel_steps(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel counts: step i counts users with an event of type
    ``steps[i]`` STRICTLY AFTER their step i-1 time (first qualifying
    occurrence). Returns one row per step: (step_order, step, n_users,
    pct_of_first) with pct rounded to 6dp.
    """
    w = Window.partitionBy(user_col)
    out = df.select(user_col, ts_col, type_col)
    prev: str | None = None
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        out = out.withColumn(
            f"_t{i}", F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev = f"_t{i}"
    per_user = out.groupBy(user_col).agg(
        *[F.first(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))]
    )
    counts = per_user.agg(
        *[
            F.count(f"_t{i}").alias(f"_n{i}")
            for i in range(len(steps))
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step_order"),
                F.lit(step).alias("step"),
                F.col(f"_n{i}").alias("n_users"),
                F.round(
                    F.col(f"_n{i}") / F.greatest(F.col("_n0"), F.lit(1)), 6
                ).alias("pct_of_first"),
            )
            for i, step in enumerate(steps)
        ]
    )
    return counts.select(F.explode(rows).alias("s")).select(
        "s.step_order", "s.step", "s.n_users", "s.pct_of_first"
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention matrix: cohort = the user's first-event week
    (Monday-truncated); for every (cohort_week, week_offset) pair,
    the count of cohort users active that week and the retention rate
    vs the cohort's week-0 size. Returns (cohort_week date,
    week_offset int, n_active long, retention_rate double[6dp])."""
    week = F.date_trunc("week", F.col(ts_col)).cast("date")
    activity = (
        df.select(F.col(user_col), week.alias("week")).distinct()
    )
    cohorts = activity.groupBy(user_col).agg(
        F.min("week").alias("cohort_week")
    )
    joined = activity.join(cohorts, user_col).select(
        "cohort_week",
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
        F.col(user_col),
    )
    counts = joined.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    # distinct (user, week) upstream makes the count per cell distinct
    # users already; week-0 size arrives via an unpartitioned-free
    # cohort window (cohort count of cells is bounded by weeks²).
    w0 = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(Window.partitionBy("cohort_week"))
    return counts.withColumn(
        "retention_rate",
        F.round(F.col("n_active") / F.greatest(w0, F.lit(1)), 6),
    )


def association_rules(
    events: DataFrame,
    user_col: str = "user_id",
    item_col: str = "event_type",
    min_pair_users: int = 1,
) -> DataFrame:
    """Market-basket association metrics over (user, item) activity:
    for every item pair a < b, support = P(a ∧ b), confidence both
    directions, and lift = P(a ∧ b)/(P(a)·P(b)) — the co-occurrence
    analysis behind "users who did X also did Y".

    Shape at scale: ONE distinct pass compresses events to the distinct
    (user, item) incidence table; the pair join is keyed on user, so
    fan-out per user is (items-per-user choose 2) — bounded by the item
    VOCABULARY, never by event count. Item marginals and the user total
    are item-cardinality / 1-row frames, broadcast into the final
    projection.

    Output: (item_a, item_b, n_ab, support, conf_a_to_b, conf_b_to_a,
    lift), 6dp-rounded.
    """
    from pyspark import StorageLevel

    # NULL users/items can never contribute pairs (the join drops NULL
    # keys) so they must not inflate the marginals either; persisted
    # because FOUR consumers read it (user total, marginals, both
    # self-join sides) — without the pin the events scan + distinct
    # shuffle would run four times. Cache lifetime: Spark's CacheManager
    # dedups by canonical plan, so repeated calls on the SAME input
    # reuse one entry; distinct inputs each pin one incidence table for
    # the session (the minhash shingle-cache trade, documented there)
    inc = (
        events.select(user_col, item_col)
        .filter(F.col(user_col).isNotNull() & F.col(item_col).isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_users = inc.select(user_col).distinct().count()
    marg = inc.groupBy(item_col).agg(F.count(F.lit(1)).alias("n_item"))
    a = inc.select(
        F.col(user_col), F.col(item_col).alias("item_a")
    )
    b = inc.select(
        F.col(user_col), F.col(item_col).alias("item_b")
    )
    pairs = (
        a.join(b, user_col)
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_users)
    )
    ma = marg.select(
        F.col(item_col).alias("item_a"), F.col("n_item").alias("n_a")
    )
    mb = marg.select(
        F.col(item_col).alias("item_b"), F.col("n_item").alias("n_b")
    )
    n = F.lit(float(n_users))
    return (
        pairs.join(F.broadcast(ma), "item_a")
        .join(F.broadcast(mb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.round(F.col("n_ab") / n, 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(F.col("n_ab") / F.col("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                (F.col("n_ab") * n) / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
    )


def concurrency_profile(
    events: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    bucket_unit: str = "hour",
) -> DataFrame:
    """Concurrent-session load profile: how many sessions (each event
    opens one of length ``duration``) are active in each time bucket —
    the capacity-planning curve behind "peak concurrent users".

    The classic +1/−1 sweep, made scale-safe by bucketing: raw boundary
    instants are 2×|events| (unbounded), but bucketed deltas aggregate
    to ONE row per time bucket, so the running sum's ordered window
    runs over a TIME-SPAN-bounded row set (like the resample grid),
    never over event-cardinality data. Granularity trade is explicit:
    concurrency is reported at bucket resolution.

    Output: (bucket_start, delta, concurrent) ordered by bucket.
    """
    start_b = F.date_trunc(bucket_unit, F.col(ts_col))
    end_b = F.date_trunc(
        bucket_unit, F.col(ts_col) + F.expr(f"INTERVAL {duration}")
    )
    starts = events.select(start_b.alias("b"), F.lit(1).alias("d"))
    ends = events.select(end_b.alias("b"), F.lit(-1).alias("d"))
    deltas = (
        starts.unionByName(ends)
        .groupBy("b")
        .agg(F.sum("d").alias("delta"))
    )
    w = bounded_global_window("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return deltas.select(
        F.col("b").alias("bucket_start"),
        "delta",
        F.sum("delta").over(w).alias("concurrent"),
    )


def rolling_distinct_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window distinct actives per day (7-day rolling DAU→WAU
    curve): for every calendar day, the EXACT count of users with at
    least one event in the previous ``window_days`` days.

    Exact sliding distinct does not decompose into mergeable per-day
    state (unlike sums), so the scalable exact form is contribute-and-
    count: compress to the distinct (user, day) incidence table (one
    shuffle, the only data-sized one), explode each incidence into the
    ``window_days`` target days it supports (bounded fan-out), and
    count DISTINCT users per target day — the second distinct is over
    user×window pairs, day-bounded. Swap HLL sketch union for the
    approximate tier when window_days is large.

    Output: (day, n_active) for EVERY calendar day from the first to
    the last observed day — activity gaps longer than the window emit
    explicit zeros (a consumer joining a calendar spine must see 0,
    not a missing row). The spine is span-bounded, like the resample
    grid.
    """
    if window_days < 1:
        # a non-positive window would make F.sequence run DESCENDING,
        # silently attributing activity to days BEFORE the event
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    daily = events.select(F.col(user_col), day.alias("day")).distinct()
    bounds = daily.agg(
        F.min("day").alias("__min_day"), F.max("day").alias("__max_day")
    )
    contrib = (
        daily.crossJoin(F.broadcast(bounds))
        .select(
            user_col,
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(
                        F.date_add(F.col("day"), window_days - 1),
                        F.col("__max_day"),
                    ),
                )
            ).alias("day"),
        )
    )
    counts = contrib.groupBy("day").agg(
        F.countDistinct(user_col).alias("n_active")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("__min_day"), F.col("__max_day"))
        ).alias("day")
    )
    return spine.join(counts, "day", "left").select(
        "day", F.coalesce("n_active", F.lit(0)).alias("n_active")
    )


def transition_matrix(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | type), the standard behavioral-model /
    anomaly-screen summary. The lead window partitions by user (bounded
    per-user state, shuffles once on user_id); the probability
    normalization then runs over the |types|² aggregate, not the event
    stream. Ordering carries a unique tiebreak so ties can't flip the
    successor. Output: (event_type, next_type, n_transitions, prob)
    with prob rounded to 6dp (exact-integer division — engine-stable)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = df.select(
        F.col(type_col),
        F.lead(type_col).over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = pairs.groupBy(type_col, "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    per_source = Window.partitionBy(type_col)
    return counts.select(
        type_col,
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(per_source),
            6,
        ).alias("prob"),
    )


def markov_steady_state(
    df: DataFrame,
    states: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    iters: int = 10,
    round_dp: int = 9,
) -> DataFrame:
    """Long-run occupancy of the per-user event Markov chain: power-
    iterate π ← πP on the ``transition_matrix`` counts — where does a
    user's session DRIFT given enough steps (the behavioral summary a
    single-step transition matrix doesn't show).

    ``states`` is the caller's fixed, SORTED state alphabet (a data
    contract like the funnel steps); transitions outside it are
    ignored. The event stream reduces to the K² count matrix in one
    pass (the lead window shuffles once on user); the power iteration
    runs on the driver as a deterministic expression tree over the
    exact integer counts — fixed state order, left-associated sums,
    ``P_ij = double(c_ij)/double(r_i)`` recomputed identically per
    use, rows with no out-transitions treated as self-absorbing —
    bit-reproducible in the oracle's unrolled replay (the
    fs_em_estimate pattern). Final π floor-quantized at ``round_dp``.

    Output per state: ``(state, pi, out_transitions)``.
    """
    import math

    if sorted(states) != list(states):
        raise ValueError("states must be sorted (the oracle contract)")
    k = len(states)
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = df.select(
        F.col(type_col).alias("__a"),
        F.lead(type_col).over(w).alias("__b"),
    ).filter(
        F.col("__b").isNotNull()
        & F.col("__a").isin(*states)
        & F.col("__b").isin(*states)
    )
    rows = (
        pairs.groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    c = {(r["__a"], r["__b"]): int(r["__c"]) for r in rows}
    r_out = [
        sum(c.get((states[i], states[j]), 0) for j in range(k))
        for i in range(k)
    ]

    def p(i: int, j: int) -> float:
        if r_out[i] == 0:
            return 1.0 if i == j else 0.0
        return float(c.get((states[i], states[j]), 0)) / float(r_out[i])

    pi = [1.0 / k] * k
    for _ in range(iters):
        nxt = []
        for j in range(k):
            s = 0.0
            for i in range(k):
                s = s + pi[i] * p(i, j)
            nxt.append(s)
        pi = nxt
    scale = 10.0**round_dp
    out = [
        (states[i], math.floor(pi[i] * scale + 0.5) / scale, r_out[i])
        for i in range(k)
    ]
    return df.sparkSession.createDataFrame(
        out, "state string, pi double, out_transitions long"
    )
