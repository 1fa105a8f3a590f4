"""Events workload: windowed aggregations, sessionization, JSON props.

The reference has no streaming surface (SURVEY §2.11); these are
north-star extensions over the `events` table. Each query here is the
*batch-equivalent* plan of a streaming.events streaming job (same
grouping, same windows) so the DuckDB oracle can check it; the streaming
variants (readStream + watermark + the identical aggregations) live in
streaming/events.py and are exercised by tests/test_streaming.py.

Timestamps are emitted as 'yyyy-MM-dd HH:mm:ss' strings — engine-neutral
hashing (Spark session TZ is pinned UTC; DuckDB timestamps are naive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast

from ..functions.scalar import dec
from ..sources.registry import load_tables
from ._registry import query

TS_FMT = "yyyy-MM-dd HH:mm:ss"


#: Ordered funnel steps (X-FUNNEL): step k counts users with a strictly
#: later step-k event than their step-(k-1) anchor — the standard
#: product-analytics funnel (Snowflake users express it with
#: MATCH_RECOGNIZE; the engine uses the min-after chain, which is the
#: same relation).
FUNNEL_STEPS = ("signup", "view", "click", "purchase")

#: Fail-loud bound on per-user funnel state (r9, VERDICT r8 #2): the
#: greedy fold collects each user's step-typed events into ONE array in
#: ONE task, so a pathological bot user (10^7 step events at 100×)
#: would become a single giant in-memory array. Same discipline as the
#: span-scrub entry cap and the SemDeDup cell-width guard: raise with
#: the offending key instead of silently OOMing an executor. 100k
#: structs ≈ a few MB — far above any human user, far below task
#: memory. Callers with known-hot corpora pre-prune or raise the cap
#: explicitly.
FUNNEL_MAX_EVENTS_PER_USER = 100_000


#: Time bound for q40's bounded-funnel leg (X-FUNNEL-BOUNDED): step k
#: must land within this many seconds of the step-(k-1) anchor. Six
#: hours is discriminative for the synthetic events (150/15/1/0 at
#: sf0.01 vs 150/150/150/150 unbounded), so the bound is visibly
#: doing work in the attested counts.
FUNNEL_WITHIN_SECONDS = 21_600


def _funnel_oracle_ctes(tag: str = "fu",
                        within_seconds: int | None = None) -> str:
    bound = ("" if within_seconds is None else
             f" AND e.ts <= u.t + INTERVAL {int(within_seconds)} SECOND")
    ctes = [f"""
    {tag}0 AS (SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id)"""]
    for i, s in enumerate(FUNNEL_STEPS[1:], start=1):
        ctes.append(f"""
    {tag}{i} AS (SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN {tag}{i - 1} u USING (user_id)
              WHERE e.event_type = '{s}' AND e.ts > u.t{bound}
              GROUP BY e.user_id)""")
    counts = ", ".join(f"(SELECT COUNT(*) FROM {tag}{i}) AS n{i}"
                       for i in range(len(FUNNEL_STEPS)))
    ctes.append(f"""
    {tag}n AS (SELECT {counts})""")
    return ",".join(ctes)


def _funnel_leg_sql(label: str, counts_cte: str) -> str:
    return " UNION ALL ".join(
        f"SELECT '{label}' AS window_start, '{i + 1}_{s}' AS event_type, "
        f"n{i} AS n_events, n{i} AS n_users, "
        f"CAST(n{i} AS DOUBLE) / NULLIF(n0, 0) AS total_value "
        f"FROM {counts_cte}"
        for i, s in enumerate(FUNNEL_STEPS))


_FUNNEL_LEG_SQL = _funnel_leg_sql("funnel", "fun")
_FUNNEL_BOUNDED_LEG_SQL = _funnel_leg_sql("funnel_6h", "fbn")

_RETENTION_ORACLE = """
    rf AS (SELECT user_id, MIN(ts) AS first_ts FROM events
           GROUP BY user_id),
    ro AS (SELECT e.user_id,
                  CAST(floor(date_diff('day', CAST(r.first_ts AS DATE),
                                       CAST(e.ts AS DATE)) / 7) AS INT)
                      AS wk
           FROM events e JOIN rf r USING (user_id)),
    rt AS (SELECT COUNT(*) AS nu FROM rf)"""

_RETENTION_LEG_SQL = """
    SELECT 'retention', 'week' || CAST(wk AS VARCHAR),
           COUNT(*), COUNT(DISTINCT user_id),
           CAST(COUNT(DISTINCT user_id) AS DOUBLE) / rt.nu
    FROM ro CROSS JOIN rt GROUP BY wk, rt.nu"""


def funnel_anchors(ev: DataFrame,
                   steps: tuple[str, ...] = FUNNEL_STEPS,
                   within_seconds: int | None = None,
                   max_events_per_user: int =
                   FUNNEL_MAX_EVENTS_PER_USER) -> DataFrame:
    """(user_id, a: struct<t0..t{k-1}>) — per-user funnel anchors by
    the SINGLE-PASS greedy fold: walking the user's step-typed events
    in ts order, step k's anchor is the first event strictly later
    than the step-(k-1) anchor, which IS MIN(ts) over all qualifying
    events (ts-ascending walk ⇒ first qualifying = min) — the same
    relation as the SQL min-after join chain the q40 oracle runs.
    One user-keyed shuffle; state per user = k timestamps.

    ``within_seconds`` adds the time-bounded variant every funnel
    tool ships (step k must land within T of step k-1): the anchor
    condition gains ``t <= prev + T``. Greedy still equals min-after
    under the bound — the first qualifying event in the walk is the
    min of the (now doubly-bounded) qualifying set. Note the
    deliberately simple semantics shared with the unbounded form: a
    too-late step-k event neither converts nor resets the anchor (no
    backtracking — MATCH_RECOGNIZE's greedy first-match, not the
    maximal-match optimum).

    Per-user state is the user's step-typed event array, bounded by
    ``max_events_per_user`` with a fail-loud guard folded INTO the
    output expression (Catalyst prunes side-channel asserts — the
    mean_pool lesson): a user over the cap raises with their id
    rather than materializing an unbounded array in one task."""
    return _step_seq(ev, steps).select(
        "user_id",
        _guarded_fold(ev, steps, within_seconds,
                      max_events_per_user).alias("a"))


def _step_seq(ev: DataFrame, steps: tuple[str, ...]) -> DataFrame:
    """(user_id, seq): the user's step-typed events as one ts-sorted
    array — the single user-keyed shuffle every funnel variant folds
    over (funnel_anchor_variants shares ONE of these across bounds)."""
    return (ev.filter(F.col("event_type").isin(*steps))
            .groupBy("user_id")
            .agg(F.array_sort(F.collect_list(F.struct(
                F.col("ts").alias("t"),
                F.col("event_type").alias("y")))).alias("seq")))


def _guarded_fold(ev: DataFrame, steps: tuple[str, ...],
                  within_seconds: int | None,
                  max_events_per_user: int):
    """The capped greedy-fold expression over a `seq` column."""
    def step_fold(acc, x):
        fields = []
        for i, s in enumerate(steps):
            cur = acc.getField(f"t{i}")
            hit = cur.isNull() & (x.getField("y") == F.lit(s))
            if i > 0:
                prev = acc.getField(f"t{i - 1}")
                hit = hit & prev.isNotNull() & (x.getField("t") > prev)
                if within_seconds is not None:
                    hit = hit & (x.getField("t") <= prev + F.expr(
                        f"INTERVAL {int(within_seconds)} SECOND"))
            fields.append(F.when(hit, x.getField("t")).otherwise(cur)
                          .alias(f"t{i}"))
        return F.struct(*fields)

    # the accumulator's NULL slots must carry ts's OWN type: aggregate()
    # requires zero-type == merge-result-type, and a hardcoded
    # timestamp_ntz fails analysis on plain TIMESTAMP (LTZ) inputs
    # (r8 review finding — the fixture parquet merely happens to read
    # back NTZ)
    ts_type = dict(ev.dtypes)["ts"]
    init = F.struct(*[F.lit(None).cast(ts_type).alias(f"t{i}")
                      for i in range(len(steps))])
    a_type = "struct<" + ",".join(
        f"t{i}:{ts_type}" for i in range(len(steps))) + ">"
    return F.when(
        F.size("seq") <= F.lit(int(max_events_per_user)),
        F.aggregate("seq", init, step_fold),
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("funnel_anchors: user "),
            F.col("user_id").cast("string"),
            F.lit(f" has more than {int(max_events_per_user)} "
                  "step events (max_events_per_user) — per-user fold "
                  "state would be unbounded; pre-prune the corpus or "
                  "raise the cap explicitly"))).cast(a_type))


def funnel_anchor_variants(ev: DataFrame,
                           steps: tuple[str, ...] = FUNNEL_STEPS,
                           bounds: "list[int | None]" = (None,),
                           max_events_per_user: int =
                           FUNNEL_MAX_EVENTS_PER_USER) -> DataFrame:
    """(user_id, a0, a1, …): one anchor struct PER BOUND from a single
    collected sequence — running k time-bound variants costs ONE
    user-keyed shuffle and one pass over each user's array, not k
    (r9: q40's bounded leg re-shuffled the events before this)."""
    return _step_seq(ev, steps).select(
        "user_id",
        *[_guarded_fold(ev, steps, b, max_events_per_user)
          .alias(f"a{i}") for i, b in enumerate(bounds)])


def retention_offsets(ev: DataFrame) -> DataFrame:
    """(user_id, wk) per event: week offset from the user's OWN first
    event (cohort-free retention) — one user-keyed min-aggregate + one
    co-partitioned join back. Extracted so tests exercise the SAME
    computation the q40 leg aggregates (r8 review finding)."""
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    return (ev.join(firsts, "user_id")
            .withColumn("wk",
                        F.floor(F.datediff(F.to_date("ts"),
                                           F.to_date("first_ts")) / 7)
                        .cast("int")))


@query(
    "q40_events_tumbling_window",
    covers=("E1", "X-FUNNEL", "X-FUNNEL-BOUNDED",
            "X-RETENTION"),
    oracle=f"""
    WITH {_funnel_oracle_ctes()},
    {_funnel_oracle_ctes('fb', FUNNEL_WITHIN_SECONDS)},
    {_RETENTION_ORACLE}
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type
    UNION ALL {_FUNNEL_LEG_SQL}
    UNION ALL {_FUNNEL_BOUNDED_LEG_SQL}
    UNION ALL {_RETENTION_LEG_SQL}
    """,
    prepared=True)
def q40_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — batch twin of the streaming
    tumbling_counts job (streaming/events.py). window() is a built-in
    Catalyst expression; with a watermark the same plan runs incremental
    state cleanup under Structured Streaming.

    r8 legs — the two product-analytics staples a warehouse user runs
    daily, folded into the same (grain-tagged) shape:

    - FUNNEL (X-FUNNEL): users reaching each ordered step
      signup→view→click→purchase, where step k needs an event strictly
      later than the user's step-(k-1) anchor — the min-after relation,
      exactly what MATCH_RECOGNIZE's greedy first-match computes here.
      Plan: ONE user-keyed shuffle of the step-typed events + a greedy
      per-user fold over the ts-sorted sequence (equal to min-after —
      the ts-ascending walk makes the first qualifying event the MIN),
      then one count aggregate for all steps; the oracle keeps the
      join-chain formulation, so the equivalence itself is
      driver-attested. total_value = conversion vs step 1.
    - RETENTION (X-RETENTION): week-offset activity from each user's
      OWN first event (cohort-free retention curve): one user-keyed
      min-aggregate, one co-partitioned join back, one offset
      group-by; total_value = retained share of all users."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    base = (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum(dec("value")).cast("double").alias("total_value"))
            .select(F.date_format("w.start", TS_FMT).alias("window_start"),
                    "event_type", "n_events", "n_users", "total_value"))
    ev = e.select("user_id", "event_type", "ts")
    # funnel — SINGLE-PASS greedy fold per user, provably the same
    # relation as the oracle's min-after chain: walking the user's
    # step-typed events in ts order, the first step-k event strictly
    # later than the step-(k-1) anchor IS MIN(ts) over all such
    # events. One user-keyed shuffle + one fold, instead of k-1 joins
    # whose per-step counts would each re-execute the chain prefix.
    # State per user = len(steps) timestamps; the collected sequence
    # is the user's step-typed events only, fail-loud-capped at
    # FUNNEL_MAX_EVENTS_PER_USER (r9 — see funnel_anchors / SCALE.md).
    k_n = len(FUNNEL_STEPS)
    # BOTH funnel variants (unbounded + the r9 6h-bounded leg,
    # X-FUNNEL-BOUNDED — the more common product funnel) fold the SAME
    # collected sequence and aggregate in ONE pass: one user-keyed
    # shuffle, one single-row aggregate of 2·k counts. The oracle runs
    # the bounded min-after chain, so greedy≡min-after under the bound
    # is itself driver-attested.
    variants = funnel_anchor_variants(
        ev, FUNNEL_STEPS, bounds=[None, FUNNEL_WITHIN_SECONDS])
    # COALESCE to 0: a corpus with zero funnel-step events leaves
    # anchors empty and SUM returns NULL while the oracle's COUNT(*)
    # returns 0; NULLIF-guard the conversion denominator the same way
    # on both sides (r8 review finding)
    ns = variants.agg(*[
        F.coalesce(
            F.sum(F.col(f"a{v}").getField(f"t{i}").isNotNull()
                  .cast("long")),
            F.lit(0).cast("long"))
        .alias(f"n{v}_{i}")
        for v in range(2) for i in range(k_n)])

    # BOTH variants explode from ONE reference to `ns` (r17): the
    # previous per-variant legs referenced `ns` twice in the union, so
    # the whole collect_list subplan — including its user-keyed
    # exchange — was planned (and absent exchange reuse, executed)
    # twice. One 2·k-struct explode keeps the single-pass contract the
    # comment above promises; row values unchanged.
    funnel_both = (ns.select(F.explode(F.array(*[
        F.struct(F.lit(label).alias("lbl"),
                 F.lit(f"{i + 1}_{s}").alias("step"),
                 F.col(f"n{v}_{i}").alias("n"),
                 (F.col(f"n{v}_{i}").cast("double")
                  / F.nullif(F.col(f"n{v}_0"), F.lit(0)))
                 .alias("conv"))
        for v, label in ((0, "funnel"), (1, "funnel_6h"))
        for i, s in enumerate(FUNNEL_STEPS)])).alias("x"))
        .select(F.col("x.lbl").alias("window_start"),
                F.col("x.step").alias("event_type"),
                F.col("x.n").alias("n_events"),
                F.col("x.n").alias("n_users"),
                F.col("x.conv").alias("total_value")))
    # retention: week offsets from each user's own first event
    offs = retention_offsets(ev)
    total = (ev.select("user_id").distinct()
             .agg(F.count("*").alias("nu")))
    retention = (offs.groupBy("wk")
                 .agg(F.count("*").alias("n_events"),
                      F.countDistinct("user_id").alias("n_users"))
                 .crossJoin(bounded_broadcast(
                     total, bound="one-row user total", max_rows=1))
                 .select(F.lit("retention").alias("window_start"),
                         F.concat(F.lit("week"),
                                  F.col("wk").cast("string"))
                         .alias("event_type"),
                         "n_events", "n_users",
                         (F.col("n_users").cast("double") / F.col("nu"))
                         .alias("total_value")))
    return base.unionByName(funnel_both).unionByName(retention)


@query(
    "q41_events_sliding_window",
    covers=("E2", "X-ROLLUP-TIME", "X-ANOMALY"),
    oracle="""
    WITH an_h AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
               COUNT(*) AS n
        FROM events GROUP BY 1),
    an_st AS (SELECT COUNT(*) AS b, SUM(n) AS s1, SUM(n * n) AS s2
              FROM an_h),
    an_z AS (
        SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start, n,
               (CAST(n AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(b AS DOUBLE)))
               / sqrt(((CAST(b AS DOUBLE) * CAST(s2 AS DOUBLE))
                       - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))
                      / (CAST(b AS DOUBLE)
                         * (CAST(b AS DOUBLE) - CAST(1.0 AS DOUBLE))))
                   AS z
        FROM an_h CROSS JOIN an_st),
    an_top AS (SELECT bucket_start, n, z FROM an_z
               ORDER BY abs(z) DESC, bucket_start LIMIT 5)
    SELECT 'anomaly_hour' AS grain, bucket_start,
           CAST(n AS BIGINT) AS n_events, z AS total_value
    FROM an_top
    UNION ALL
    SELECT 'sliding_1h_15m' AS grain,
           strftime(time_bucket(INTERVAL 15 MINUTE, ts)
                        - k.k * INTERVAL 15 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS bucket_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    GROUP BY time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE
    UNION ALL
    SELECT 'hour',
           strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S'),
           COUNT(*), CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'day', strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
                           '%Y-%m-%d %H:%M:%S'),
           COUNT(*), CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'month', strftime(date_trunc('month', CAST(ts AS TIMESTAMP)),
                             '%Y-%m-%d %H:%M:%S'),
           COUNT(*), CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
    FROM events GROUP BY 2
    """,
    prepared=True)
def q41_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 15 min hop): every event lands in 4
    overlapping windows. Spark's window() enumerates the windows natively;
    the oracle reproduces them by exploding k=0..3 hops back from the
    15-minute floor — same window-start set by construction.

    Unioned with the former q46's hypertable-style multi-resolution
    rollup: the same measure at hour/day/month grains with a grain tag
    (the continuous-aggregate pattern; at scale each grain materializes
    incrementally from the next-finer one instead of from raw).

    **Anomaly leg** (X-ANOMALY — r9): the monitoring op every event
    pipeline runs over its rollups — z-scores of hourly event counts
    against the global hourly distribution, top-5 by |z| emitted with
    the z as the measure. Engine-portable by construction: the
    moments are exact integer aggregates (counts, Σn, Σn² as longs —
    order-invariant), the variance is the textbook
    (B·Σn² − (Σn)²)/(B·(B−1)) over those exact values, and sqrt is
    IEEE correctly-rounded — so the z doubles hash-match with NO
    quantization, unlike ln/exp-bearing scores. At scale this is a
    bucket-count-sized computation over the hourly rollup, never the
    raw events."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    sliding = (e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
               .agg(F.count("*").alias("n_events"),
                    F.sum(dec("value")).cast("double").alias("total_value"))
               .select(F.lit("sliding_1h_15m").alias("grain"),
                       F.date_format("w.start", TS_FMT).alias("bucket_start"),
                       "n_events", "total_value"))
    # the hourly rollup is shared by the 'hour' grain leg and the
    # anomaly leg (the continuous-aggregate pattern the docstring
    # describes: monitoring reads the rollup, not raw events) —
    # session-cached since it's bucket-count-sized
    from ..operators._cache import cached_relation
    hourly_full = cached_relation(
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").alias("n_events"),
             F.sum(dec("value")).cast("double").alias("total_value")),
        "q41_hourly")
    hourly = hourly_full.select("bucket",
                                F.col("n_events").alias("n"))
    an_st = hourly.agg(F.count("*").alias("b"),
                       F.sum("n").alias("s1"),
                       F.sum(F.col("n") * F.col("n")).alias("s2"))
    b_d = F.col("b").cast("double")
    s1_d = F.col("s1").cast("double")
    s2_d = F.col("s2").cast("double")
    z = ((F.col("n").cast("double") - (s1_d / b_d))
         / F.sqrt(((b_d * s2_d) - (s1_d * s1_d))
                  / (b_d * (b_d - F.lit(1.0)))))
    anomaly = (hourly.crossJoin(bounded_broadcast(
        an_st, bound="one-row anomaly moments", max_rows=1))
               .select(F.date_format("bucket", TS_FMT)
                       .alias("bucket_start"),
                       F.col("n").alias("n_events"), z.alias("z"))
               .orderBy(F.abs(F.col("z")).desc(), F.asc("bucket_start"))
               .limit(5)
               .select(F.lit("anomaly_hour").alias("grain"),
                       "bucket_start", "n_events",
                       F.col("z").alias("total_value")))
    out = sliding.unionByName(anomaly).unionByName(
        hourly_full.select(F.lit("hour").alias("grain"),
                           F.date_format("bucket", TS_FMT)
                           .alias("bucket_start"),
                           "n_events", "total_value"))
    for grain in ("day", "month"):
        out = out.unionByName(
            e.groupBy(F.date_trunc(grain, "ts").alias("bucket"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(dec("value")).cast("double").alias("total_value"))
            .select(F.lit(grain).alias("grain"),
                    F.date_format("bucket", TS_FMT).alias("bucket_start"),
                    "n_events", "total_value"))
    return out


@query(
    "q42_events_sessionize",
    covers=("E3", "W1"),
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, value,
               CASE WHEN floor(epoch(ts)) - floor(epoch(LAG(ts) OVER w)) > 1800
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM gaps
    )
    SELECT user_id, CAST(session_seq AS INT) AS session_seq,
           COUNT(*) AS n_events,
           CAST(floor(epoch(MAX(ts))) - floor(epoch(MIN(ts))) AS BIGINT) AS duration_sec,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    prepared=True)
def q42_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative-sum
    session ids, then per-session rollup — the batch twin of streaming
    session_window(ts, '30 minutes'). Scale: both stages partition by
    user_id, so one shuffle serves the window and the final group-by."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (e.withColumn(
        "new_session",
        F.when(gap > 1800, 1).when(F.lag("ts").over(w).isNull(), 1).otherwise(0))
        .withColumn("session_seq",
                    F.sum("new_session").over(
                        w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id",
                         F.col("session_seq").cast("int").alias("session_seq"))
            .agg(F.count("*").alias("n_events"),
                 (F.unix_timestamp(F.max("ts"))
                  - F.unix_timestamp(F.min("ts"))).alias("duration_sec"),
                 F.sum(dec("value")).cast("double").alias("session_value")))


# One PageRank power-iteration round as DuckDB CTEs (mirrors
# operators.graph.pagerank): per-edge contribution rank//deg summed on
# the destination, dangling mass redistributed uniformly, damped with
# the uniform teleport base — ALL exact integer ops (`//`), so the
# driver attests the whole 3-round trajectory bit-for-bit (the same
# round-replay pattern as q63's k-means and q58's BPE oracles).
_PR_N_ITER = 3


def _pr_round_cte(r: int) -> str:
    from ..operators.graph import PAGERANK_SCALE as S
    return f"""
    prc{r} AS (SELECT e.d AS node, SUM(r.rank // g.deg) AS s
               FROM pr{r - 1} r
               JOIN prdeg g ON g.s = r.node
               JOIN predges e ON e.s = r.node
               GROUP BY e.d),
    prd{r} AS (SELECT COALESCE(SUM(r.rank), 0) AS dm FROM pr{r - 1} r
               WHERE r.node NOT IN (SELECT s FROM prdeg)),
    pr{r} AS (SELECT n.node,
                     CAST((15 * {S}) // (100 * nn.n)
                          + (85 * (COALESCE(c.s, 0) + d.dm // nn.n)) // 100
                          AS BIGINT) AS rank
              FROM prnodes n CROSS JOIN prn nn CROSS JOIN prd{r} d
              LEFT JOIN prc{r} c ON c.node = n.node)"""


def _pr_oracle_ctes() -> str:
    from ..operators.graph import PAGERANK_SCALE as S
    rounds = ",".join(_pr_round_cte(r) for r in range(1, _PR_N_ITER + 1))
    return f"""
    prtr AS (SELECT prev AS s, event_type AS d FROM (
        SELECT event_type,
               LAG(event_type) OVER w AS prev,
               floor(epoch(ts)) - floor(epoch(LAG(ts) OVER w)) AS gap
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        WHERE prev IS NOT NULL AND gap <= 1800),
    predges AS (SELECT DISTINCT s, d FROM prtr),
    prnodes AS (SELECT s AS node FROM predges
                UNION SELECT d FROM predges),
    prn AS (SELECT COUNT(*) AS n FROM prnodes),
    prdeg AS (SELECT s, COUNT(*) AS deg FROM predges GROUP BY s),
    pr0 AS (SELECT node, {S} // nn.n AS rank
            FROM prnodes CROSS JOIN prn nn),
    {rounds}"""


@query(
    "q43_events_json_props",
    covers=("E4", "F2", "X-GRAPH-PAGERANK"),
    oracle=f"""
    WITH {_pr_oracle_ctes()}
    SELECT 'props' AS leg, event_type,
           CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type, CAST(json_extract(props, '$.k') AS INT) % 10
    UNION ALL
    SELECT 'pagerank', node, CAST(NULL AS INT), rank
    FROM pr{_PR_N_ITER}
    """,
    prepared=True)
def q43_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: JSON field extraction + cast +
    group — get_json_object stays JVM-side (no UDF).

    Unioned (tagged `leg`, r7) with the CLICK-GRAPH PAGERANK leg
    (operators.graph.pagerank, X-GRAPH-PAGERANK): nodes are event
    types, edges the distinct within-session transitions (consecutive
    events of a user ≤ 30 min apart — q42's gap rule), ranks after 3
    exact fixed-point power-iteration rounds. The event-type graph is
    deliberately small — the driver attests the full trajectory; graph
    scale behavior (hubs, cycles, dangling mass, random graphs) is
    pytest-pinned against a Python reference (tests/test_pagerank.py).
    """
    e = load_tables(spark, sf_dir, ("events",))["events"]
    k = F.get_json_object("props", "$.k").cast("int")
    props_leg = (e.groupBy("event_type", (k % 10).alias("k_mod"))
                 .agg(F.count("*").alias("n_events"))
                 .select(F.lit("props").alias("leg"), "event_type",
                         "k_mod", "n_events"))
    from ..operators.graph import pagerank
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    edges = (e.select(F.lag("event_type").over(w).alias("src"),
                      F.col("event_type").alias("dst"),
                      gap.alias("gap"))
             .filter(F.col("src").isNotNull() & (F.col("gap") <= 1800))
             .select("src", "dst"))
    # checkpoint_every=0: at a FIXED 3 rounds the whole trajectory is
    # one analyzable plan — mid-loop materialization jobs cost more
    # than the re-analysis they save (the BPE cadence trade, measured);
    # deep/convergence runs keep the default per-round cut
    pr_leg = (pagerank(edges, n_iter=_PR_N_ITER, checkpoint_every=0)
              .select(F.lit("pagerank").alias("leg"),
                      F.col("node").alias("event_type"),
                      F.lit(None).cast("int").alias("k_mod"),
                      F.col("rank").alias("n_events")))
    return props_leg.unionByName(pr_leg)
