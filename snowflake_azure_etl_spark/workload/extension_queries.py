"""Beyond-reference extension workload (SURVEY §2 notes these as
"not present in reference — built-in if extended"; the north star asks
for them as first-class): as-of join, range join, a deterministic KMV
distinct sketch, window frames + lag/lead (one window stage, q35),
ROLLUP, INTERSECT/EXCEPT, skew-salted join. The hypertable multi-grain
rollup lives with its sibling event windows (events_queries.q41).
Every query keeps the DuckDB-oracle contract — including the as-of
join, checked against DuckDB's native ASOF JOIN."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast

from ..functions.scalar import dec
from ..operators import asof
from ..operators.sampling import MIX_BUDGET
from ..sources.registry import load_tables
from ._registry import query, union_legs
from .pipeline_queries import (_CLF_LSAT_SQL, _CLF_MARGIN_SQL,
                               _CLF_STOP_SQL, _CLF_TTR_SQL, _DSIR_CTES,
                               _clf_fx_cte, _clf_round_cte, _squash_sql)


def _epoch_us(df: DataFrame, colname: str):
    """Timezone-stable epoch microseconds, dispatched by column type
    (ADVICE r4): for TIMESTAMP (LTZ — an absolute instant) unix_micros
    is the tz-independent form; for TIMESTAMP_NTZ (wall clock, which
    unix_micros rejects and a cast would shift with the session tz) the
    NTZ-epoch timestampdiff is. Using the NTZ expression on an LTZ
    column would re-interpret the instant in the session zone — only
    session.py's pinned UTC masked that."""
    if dict(df.dtypes).get(colname) == "timestamp_ntz":
        return F.expr("timestampdiff(MICROSECOND, "
                      f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {colname})")
    return F.unix_micros(F.col(colname))


#: Daily grid for the q44 gap-fill leg (epoch microseconds).
_GAPFILL_STEP_US = 86_400_000_000


@query(
    "q44_asof_join",
    covers=("X-ASOF", "X-TS-GAPFILL"),
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
    v0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
           FROM events WHERE event_type = 'view'),
    v AS (SELECT user_id, ts, max_by(value, event_id) AS view_value
          FROM v0 GROUP BY user_id, ts),
    o0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                  max_by(value, event_id) AS val
           FROM events GROUP BY user_id, CAST(ts AS TIMESTAMP)),
    o AS (SELECT user_id, epoch_us(ts) AS tsu, val FROM o0),
    -- a NULL-valued observation is NO observation for the fill (the
    -- operator NULLs _src alongside _val and the window skips it),
    -- but it still widens the grid bounds — so gbnd scans `o` while
    -- the ASOF fill joins `onn`
    onn AS (SELECT * FROM o WHERE val IS NOT NULL),
    gbnd AS (SELECT user_id,
                    (MIN(tsu) // {_GAPFILL_STEP_US}) * {_GAPFILL_STEP_US}
                        AS lo,
                    (MAX(tsu) // {_GAPFILL_STEP_US}) * {_GAPFILL_STEP_US}
                        AS hi
             FROM o GROUP BY user_id),
    sp AS (SELECT user_id,
                  unnest(generate_series(lo, hi, {_GAPFILL_STEP_US})) AS g
           FROM gbnd)
    SELECT 'asof' AS leg, p.event_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(v.ts) AS view_ts_us,
           v.view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    UNION ALL
    SELECT 'gapfill', CAST(NULL AS BIGINT), sp.user_id, sp.g,
           onn.tsu, onn.val
    FROM sp ASOF LEFT JOIN onn
      ON sp.user_id = onn.user_id AND sp.g >= onn.tsu
    """,
    prepared=True)
def q44_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase gets the user's most recent
    view at-or-before it (operators.asof — union+window plan, one
    shuffle, no range blowup), checked against DuckDB's native ASOF
    JOIN."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    views = (e.filter(F.col("event_type") == "view")
             .select("user_id", "ts", "event_id",
                     F.col("value").alias("view_value")))
    views = asof.dedupe_right(views, ["user_id"], "ts", "event_id")
    joined = asof.asof_join_backward(purchases, views, ["user_id"],
                                     "ts", "ts")
    asof_leg = joined.select(
        "event_id", "user_id",
        _epoch_us(joined, "ts").alias("purchase_ts_us"),
        _epoch_us(joined, "asof_ts").alias("view_ts_us"),
        "view_value")
    # second leg (r7, X-TS-GAPFILL): daily-grid forward-fill resampling
    # of each user's event-value series (operators.timeseries — the
    # union+window plan; a gap-fill IS an as-of join of the grid, and
    # DuckDB's native ASOF over the generated spine is the oracle).
    # Column reuse: purchase_ts_us = grid point, view_ts_us = the
    # filled-from observation, view_value = carried value.
    from ..operators.timeseries import resample_ffill
    obs = (e.groupBy("user_id", "ts")
           .agg(F.max_by("value", "event_id").alias("val")))
    obs = obs.select("user_id", _epoch_us(obs, "ts").alias("tsu"), "val")
    gap_leg = (resample_ffill(obs, ["user_id"], "tsu", "val",
                              _GAPFILL_STEP_US)
               .select(F.lit(None).cast("long").alias("event_id"),
                       "user_id",
                       F.col("grid_ts").alias("purchase_ts_us"),
                       F.col("src_ts").alias("view_ts_us"),
                       F.col("value").alias("view_value")))
    return union_legs("leg", {"asof": asof_leg, "gapfill": gap_leg})


@query(
    "q45_range_join",
    covers=("X-RANGEJOIN", "J6"),
    oracle="""
    WITH bounds AS (SELECT CAST(MIN(ts) AS DATE) AS lo FROM events),
    iv AS (SELECT CAST(lo AS TIMESTAMP) + k.k * INTERVAL 1 DAY AS start_ts,
                  CAST(lo AS TIMESTAMP) + (k.k + 1) * INTERVAL 1 DAY AS end_ts
           FROM bounds
           CROSS JOIN (SELECT unnest(generate_series(0, 40)) AS k) k),
    j AS (SELECT iv.start_ts, e.value
          FROM events e JOIN iv
            ON CAST(e.ts AS TIMESTAMP) >= iv.start_ts
           AND CAST(e.ts AS TIMESTAMP) < iv.end_ts)
    SELECT strftime(start_ts, '%Y-%m-%d') AS interval_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM j GROUP BY start_ts
    """,
    prepared=True)
def q45_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment range join: events against a generated
    interval dim via (ts >= start AND ts < end). The interval side is
    dim-sized and broadcast → BroadcastNestedLoopJoin, which is the
    right plan at this shape; for big×big range joins the scale path is
    coarse-bucket equi-join + residual predicate (SCALE.md)."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    # one-row lower bound kept lazy (cross join, not a driver collect)
    lo = e.agg(F.date_trunc("day", F.min("ts")).alias("lo"))
    iv = (spark.range(41).crossJoin(bounded_broadcast(
        lo, bound="one-row date lower bound", max_rows=1))
          .select((F.col("lo") + F.make_interval(days=F.col("id").cast("int")))
                  .alias("start_ts"))
          .withColumn("end_ts",
                      F.col("start_ts") + F.expr("interval 1 day")))
    j = e.join(bounded_broadcast(iv, bound="41-row date spine",
                                 max_rows=41),
               (e.ts >= iv.start_ts) & (e.ts < iv.end_ts))
    return (j.groupBy("start_ts")
            .agg(F.count("*").alias("n_events"),
                 F.sum(dec("value")).cast("double").alias("total_value"))
            .select(F.date_format("start_ts", "yyyy-MM-dd")
                    .alias("interval_start"), "n_events", "total_value"))


KMV_K = 16

#: Heavy-hitter threshold for q47's CMS leg — discriminative for the
#: synthetic events table's per-user count distribution (~45-99 at
#: every sf), so the leg emits a real subset, not all-or-nothing.
CMS_HEAVY_MIN = 80


def _mix_rate_ctes(px: str, src: str, keys: str,
                   tilt: str | None = None) -> str:
    """The oracle of sampling.mixture_rates: from the
    CTE `src` (keys, toks), `{px}q` (fixed-point √toks weight, times
    `tilt` when given), `{px}t` (one-row totals) and `{px}r` (keys,
    toks, rate)."""
    tilted = f" * ({tilt})" if tilt else ""
    return f"""
        {px}q AS (SELECT {keys}, toks,
                         CAST(floor(sqrt(CAST(toks AS DOUBLE))
                                    * CAST(1048576.0 AS DOUBLE))
                              AS BIGINT){tilted} AS qs
                  FROM {src}),
        {px}t AS (SELECT SUM(toks) AS tot, SUM(qs) AS qq FROM {px}q),
        {px}r AS (SELECT {keys}, toks,
                         least(CAST(1.0 AS DOUBLE),
                               ((CAST(qs AS DOUBLE) / CAST(qq AS DOUBLE))
                                * (CAST(tot AS DOUBLE)
                                   * CAST({MIX_BUDGET} AS DOUBLE)))
                               / CAST(toks AS DOUBLE)) AS rate
                  FROM {px}q CROSS JOIN {px}t)"""


def _mix_keep_sql(salt: str, doc: str, rates: str) -> str:
    """The oracle of sampling.apply_mixture's keep decision for row
    alias `doc` against its rate row `rates`."""
    return f"""CAST('0x' || substr(md5('{salt}:'
                       || CAST({doc}.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  % 10000
              < CAST(round({rates}.rate * 10000.0) AS BIGINT)"""


# --- X-MIXTURE-QUALITY oracle (r11, VERDICT r10 #5) -----------------
# Quality-weighted mixture: a BINARY quality probe trained in-engine
# (classifier.train_probes with one label, 2 GD rounds — q57's
# per-probe replay fragments with prefix "q"), its rational-sigmoid
# score bucketed to 4 quality strata, per-(source, bucket) rates from
# the mixture replay tilted by (qb+1), and the kept set replayed row
# for row. The weak label is text.quality_score >= 0.5 over q57's
# feature fragments.
_QMIX_SQL = f"""
    SELECT 'qmix' AS leg, source || ':' || CAST(qb AS VARCHAR),
           CAST(COALESCE(kn, 0) AS BIGINT), CAST(rate AS DOUBLE)
    FROM (
        WITH {_clf_fx_cte(
            "q", {"q": f"(({_CLF_LSAT_SQL} + LEAST(({_CLF_STOP_SQL}) / 0.2,"
                       f" 1.0) + {_CLF_TTR_SQL}) / 3) >= CAST(0.5 AS DOUBLE)"},
            extra="source, len(string_split(text, ' ')) AS nt, ")},
        {_clf_round_cte("q", "q", 1)},
        {_clf_round_cte("q", "q", 2)},
        qsc AS (SELECT doc_id, source, nt, {_squash_sql("z")} AS p
                FROM (SELECT doc_id, source, nt, {_CLF_MARGIN_SQL} AS z
                      FROM qfx CROSS JOIN qwq2)),
        qcell AS (SELECT doc_id, source, nt,
                         CAST(LEAST(CAST(floor(p * 4) AS BIGINT),
                                    CAST(3 AS BIGINT)) AS INT) AS qb
                  FROM qsc),
        qcs AS (SELECT source, qb, SUM(nt) AS toks
                FROM qcell GROUP BY 1, 2),
        {_mix_rate_ctes("qm_", "qcs", "source, qb",
                        tilt="CAST(qb AS BIGINT) + 1")},
        qk AS (SELECT c.source, c.qb, COUNT(*) AS kn
               FROM qcell c JOIN qm_r r USING (source, qb)
               WHERE {_mix_keep_sql("qmix", "c", "r")}
               GROUP BY 1, 2)
        SELECT r.source, r.qb, qk.kn, r.rate
        FROM qm_r r LEFT JOIN qk USING (source, qb))"""


#: q47 oracle histogram fragments — the DuckDB replay of the engine's
#: `equiwidth_histogram` (HIST_BINS = 16 bins over [0, 1024)) and
#: `histogram_quantiles`:
#: the clamped equi-width bin of `value`, and the in-bin linear
#: quantile estimate over a cumulative relation (bin, cnt, cum, prev,
#: n) joined to a probe row q(lbl, p) on the bin that brackets rank
#: p·(n − 1). Shared by the global and per-event-type quantile legs.
_HIST_BIN_SQL = """GREATEST(CAST(0 AS BIGINT), LEAST(CAST(floor(
        ((CAST(value AS DOUBLE) - CAST(0.0 AS DOUBLE)) * CAST(16.0 AS DOUBLE))
        / (CAST(1024.0 AS DOUBLE) - CAST(0.0 AS DOUBLE)))
        AS BIGINT), CAST(15 AS BIGINT)))"""
_HIST_QUANTILE_SQL = """(CAST(0.0 AS DOUBLE)
        + (CAST(bin AS DOUBLE)
           + ((q.p * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))
               - CAST(prev AS DOUBLE)) / CAST(cnt AS DOUBLE)))
          * ((CAST(1024.0 AS DOUBLE) - CAST(0.0 AS DOUBLE))
             / CAST(16.0 AS DOUBLE)))"""
_HIST_BRACKET_SQL = """CAST(prev AS DOUBLE)
        <= q.p * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))
        AND q.p * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))
        < CAST(cum AS DOUBLE)"""

@query(
    "q47_kmv_sketch",
    covers=("X-SKETCH-KMV", "X-SKETCH-HLL", "X-SKETCH-CMS",
            "X-SKETCH-BLOOM", "X-SKETCH-HIST", "X-MIXTURE",
            "X-SKETCH-ROLLUP", "X-SKETCH-HIST-GROUPED",
            "X-MIXTURE-APPLY", "X-MIXTURE-QUALITY",
            "X-SAMPLE-DSIR-TOPK"),
    oracle=f"""
    WITH h AS (SELECT DISTINCT event_type,
                      md5(CAST(user_id AS VARCHAR)) AS hv
               FROM events),
    r AS (SELECT event_type, hv,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY hv) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n_exact
          FROM h)
    SELECT 'kmv_users' AS leg, event_type,
           CAST(n_exact AS BIGINT) AS exact_n,
           CAST({KMV_K} - 1 AS DOUBLE)
               / (CAST(CAST('0x' || substr(hv, 1, 8) AS BIGINT) AS DOUBLE)
                  / 4294967296.0) AS estimate
    FROM r WHERE rn = {KMV_K}
    UNION ALL
    SELECT 'hll_nations', e.event_type,
           COUNT(DISTINCT c.c_nationkey),
           CAST(COUNT(DISTINCT c.c_nationkey) AS DOUBLE)
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY e.event_type
    UNION ALL
    SELECT 'mix', source, CAST(toks AS BIGINT), rate
    FROM (
        WITH mx_src AS (
            SELECT source, SUM(len(string_split(text, ' '))) AS toks
            FROM documents GROUP BY 1),
        {_mix_rate_ctes("mx_", "mx_src", "source")}
        SELECT source, toks, rate FROM mx_r)
    UNION ALL
    SELECT 'mix_applied', source, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(nt) AS DOUBLE)
    FROM (
        WITH ma_doc AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS nt
            FROM documents),
        ma_src AS (SELECT source, SUM(nt) AS toks FROM ma_doc
                   GROUP BY 1),
        {_mix_rate_ctes("ma_", "ma_src", "source")}
        SELECT d.source, d.nt
        FROM ma_doc d JOIN ma_r r USING (source)
        WHERE {_mix_keep_sql("mixture", "d", "r")}
    ) GROUP BY source
    UNION ALL
    SELECT 'hist_value', CAST(bin AS VARCHAR), CAST(cnt AS BIGINT),
           CAST(cum AS DOUBLE) / CAST(n AS DOUBLE)
    FROM (
        WITH hb AS (
            SELECT {_HIST_BIN_SQL} AS bin
            FROM events),
        hc AS (SELECT bin, COUNT(*) AS cnt FROM hb GROUP BY 1)
        SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum,
               (SELECT SUM(cnt) FROM hc) AS n
        FROM hc)
    UNION ALL
    SELECT 'hist_quantile', lbl, CAST(NULL AS BIGINT), est
    FROM (
        WITH hb2 AS (
            SELECT {_HIST_BIN_SQL} AS bin
            FROM events),
        hc2 AS (SELECT bin, COUNT(*) AS cnt FROM hb2 GROUP BY 1),
        hm AS (SELECT bin, cnt,
                      SUM(cnt) OVER (ORDER BY bin) AS cum,
                      SUM(cnt) OVER (ORDER BY bin) - cnt AS prev
               FROM hc2),
        hn AS (SELECT SUM(cnt) AS n FROM hc2)
        SELECT q.lbl,
               {_HIST_QUANTILE_SQL} AS est
        FROM hm CROSS JOIN hn
        JOIN (VALUES ('p50', CAST(0.5 AS DOUBLE)),
                     ('p90', CAST(0.9 AS DOUBLE)),
                     ('p99', CAST(0.99 AS DOUBLE))) q(lbl, p)
          ON {_HIST_BRACKET_SQL})
    UNION ALL
    SELECT 'bloom_prune', l_returnflag, CAST(exact_n AS BIGINT),
           CAST(est AS DOUBLE)
    FROM (
        WITH bl_mem AS (
            SELECT DISTINCT CAST(s_suppkey AS VARCHAR) AS k, s_suppkey
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'),
        bl_words AS (
            SELECT CAST(floor(pos / 32) AS BIGINT) AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))
                       AS word
            FROM (SELECT CAST('0x' || substr(md5(CAST(j AS VARCHAR)
                              || ':' || k), 1, 15) AS BIGINT) % 4096
                         AS pos
                  FROM bl_mem, (SELECT unnest(range(0, 3)) AS j))
            GROUP BY 1),
        bl_probe AS (
            SELECT l_suppkey,
                   MIN((COALESCE(w.word, CAST(0 AS BIGINT))
                        >> CAST(p.pos % 32 AS INT)) & 1) AS ok
            FROM (SELECT l_suppkey,
                         CAST('0x' || substr(md5(CAST(j AS VARCHAR)
                              || ':' || CAST(l_suppkey AS VARCHAR)),
                              1, 15) AS BIGINT) % 4096 AS pos
                  FROM (SELECT DISTINCT l_suppkey FROM lineitem),
                       (SELECT unnest(range(0, 3)) AS j)) p
            LEFT JOIN bl_words w
              ON w.word_idx = CAST(floor(p.pos / 32) AS BIGINT)
            GROUP BY 1)
        SELECT l.l_returnflag,
               SUM(CASE WHEN m.s_suppkey IS NOT NULL
                        THEN 1 ELSE 0 END) AS exact_n,
               SUM(CASE WHEN p.ok = 1 THEN 1 ELSE 0 END) AS est
        FROM lineitem l
        JOIN bl_probe p ON p.l_suppkey = l.l_suppkey
        LEFT JOIN bl_mem m ON m.s_suppkey = l.l_suppkey
        GROUP BY l.l_returnflag)
    UNION ALL
    SELECT 'cms_heavy', k, CAST(n AS BIGINT), CAST(est AS DOUBLE)
    FROM (
        WITH cms AS (
            SELECT j, CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                           || CAST(user_id AS VARCHAR)), 1, 15)
                          AS BIGINT) % 512 AS bucket,
                   COUNT(*) AS cnt
            FROM events, (SELECT unnest(range(0, 4)) AS j)
            GROUP BY 1, 2),
        probe AS (
            SELECT u.k, jj.j,
                   CAST('0x' || substr(md5(CAST(jj.j AS VARCHAR) || ':'
                                || u.k), 1, 15) AS BIGINT) % 512 AS bucket
            FROM (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
                  FROM events) u,
                 (SELECT unnest(range(0, 4)) AS j) jj),
        est AS (
            SELECT p.k, MIN(COALESCE(s.cnt, 0)) AS est
            FROM probe p LEFT JOIN cms s
              ON s.j = p.j AND s.bucket = p.bucket
            GROUP BY p.k),
        ex AS (SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS n
               FROM events GROUP BY 1)
        SELECT k, n, est FROM est JOIN ex USING (k)
        WHERE est >= {CMS_HEAVY_MIN})
    UNION ALL
    SELECT 'cms_rollup',
           CAST(j AS VARCHAR) || ':' || CAST(bucket AS VARCHAR),
           CAST(full_cnt AS BIGINT), CAST(m_cnt AS DOUBLE)
    FROM (
        WITH cr_ep AS (
            SELECT CAST(floor(value) AS BIGINT) % 3 AS ep, j,
                   CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                        || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 512 AS bucket,
                   COUNT(*) AS cnt
            FROM events, (SELECT unnest(range(0, 4)) AS j)
            GROUP BY 1, 2, 3),
        cr_m AS (SELECT j, bucket, SUM(cnt) AS m_cnt
                 FROM cr_ep GROUP BY 1, 2),
        cr_f AS (SELECT j, bucket, SUM(cnt) AS full_cnt
                 FROM cr_ep GROUP BY 1, 2)
        SELECT COALESCE(f.j, m.j) AS j,
               COALESCE(f.bucket, m.bucket) AS bucket,
               COALESCE(f.full_cnt, 0) AS full_cnt,
               COALESCE(m.m_cnt, 0) AS m_cnt
        FROM cr_f f FULL JOIN cr_m m
          ON f.j = m.j AND f.bucket = m.bucket)
    UNION ALL
    SELECT 'bloom_rollup', CAST(word_idx AS VARCHAR),
           CAST(full_w AS BIGINT), CAST(m_w AS DOUBLE)
    FROM (
        WITH br_mem AS (
            SELECT DISTINCT s_suppkey
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'),
        br_pos AS (SELECT s_suppkey % 3 AS ep,
                          CAST('0x' || substr(md5(CAST(j AS VARCHAR)
                               || ':' || CAST(s_suppkey AS VARCHAR)),
                               1, 15) AS BIGINT) % 4096 AS pos
                   FROM br_mem, (SELECT unnest(range(0, 3)) AS j)),
        br_ep AS (SELECT ep, CAST(floor(pos / 32) AS BIGINT) AS word_idx,
                         bit_or(CAST(1 AS BIGINT)
                                << CAST(pos % 32 AS INT)) AS word
                  FROM br_pos GROUP BY 1, 2),
        br_m AS (SELECT word_idx, bit_or(word) AS m_w
                 FROM br_ep GROUP BY 1),
        br_f AS (SELECT CAST(floor(pos / 32) AS BIGINT) AS word_idx,
                        bit_or(CAST(1 AS BIGINT)
                               << CAST(pos % 32 AS INT)) AS full_w
                 FROM br_pos GROUP BY 1)
        SELECT COALESCE(f.word_idx, m.word_idx) AS word_idx,
               COALESCE(f.full_w, 0) AS full_w,
               COALESCE(m.m_w, 0) AS m_w
        FROM br_f f FULL JOIN br_m m ON f.word_idx = m.word_idx)
    UNION ALL
    SELECT 'hist_group_quantile', event_type || ':' || lbl,
           CAST(NULL AS BIGINT), est
    FROM (
        WITH gb AS (
            SELECT event_type,
                   {_HIST_BIN_SQL} AS bin
            FROM events),
        gc2 AS (SELECT event_type, bin, COUNT(*) AS cnt
                FROM gb GROUP BY 1, 2),
        gm AS (SELECT event_type, bin, cnt,
                      SUM(cnt) OVER (PARTITION BY event_type
                                     ORDER BY bin) AS cum,
                      SUM(cnt) OVER (PARTITION BY event_type
                                     ORDER BY bin) - cnt AS prev,
                      SUM(cnt) OVER (PARTITION BY event_type) AS n
               FROM gc2)
        SELECT gm.event_type, q.lbl,
               {_HIST_QUANTILE_SQL} AS est
        FROM gm
        JOIN (VALUES ('p50', CAST(0.5 AS DOUBLE)),
                     ('p95', CAST(0.95 AS DOUBLE))) q(lbl, p)
          ON {_HIST_BRACKET_SQL})
    UNION ALL
    {_QMIX_SQL}
    UNION ALL
    SELECT 'dsir_topk', CAST(doc_id AS VARCHAR), CAST(s AS BIGINT),
           CAST(rk AS DOUBLE)
    FROM (
        WITH {_DSIR_CTES},
        qdu AS (SELECT d.doc_id, COALESCE(ds.s, CAST(0 AS BIGINT)) AS s
                FROM documents d LEFT JOIN dsir_sc ds USING (doc_id)),
        qdr AS (SELECT doc_id, s,
                       ROW_NUMBER() OVER (ORDER BY s DESC, doc_id)
                           AS rk
                FROM qdu)
        SELECT doc_id, s, rk FROM qdr WHERE rk <= 5)
    """,
    prepared=True)
def q47_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (deterministic, portable —
    unlike HLL whose register layout is engine-specific): estimate =
    (k-1)/fraction(k-th smallest hash).

    Bounded merge tree (operators.sketches.kmv_mins, VERDICT r5 #4):
    level 0 buckets the hash space into `fine` buckets — sized from
    the parquet-footer row-count attestation so expected distincts per
    aggregation state stay ≤ the state budget — and keeps each
    bucket's k smallest via slice(array_sort(collect_set)); the merge
    levels (fine → coarse → group) each hold ≤ k·fan-in hashes per
    state, a structural constant. The union of per-bucket k-minima is
    a superset of the global k-minima, so the tree is exact and the
    oracle keeps the direct ROW_NUMBER formulation. The exact count
    (carried for error inspection) sums per-bucket distinct sizes —
    buckets partition the hash space, so sizes add without
    double-counting.

    **HLL leg** (operators.sketches.hll_partials/hll_rollup,
    X-SKETCH-HLL): distinct user NATIONS per event type via DataSketches
    HLL — per-(event_type, day) sketch partials (fixed 2^lgk-byte
    state each) unioned up to event_type, the
    persist-partials/answer-any-rollup pattern for distinct counts at
    100 TB. Cardinality is structurally bounded by the 25-nation
    schema, so the sketch stays in its exact coupon phase at EVERY
    scale factor and the estimate hash-matches the oracle's
    COUNT(DISTINCT); dense-mode error bounds and the coupon-regime
    merge law are pytest-pinned (tests/test_sketches.py).

    **CMS leg** (operators.sketches.cms_build/cms_estimate,
    X-SKETCH-CMS — r9): heavy-hitter users by Count-Min estimate. The
    sketch is a d×w=4×512 counter RELATION built in one exact groupBy
    over per-row probe pairs (bounded artifact, broadcastable; merge
    law = plain SUM, pinned in tests); point estimates are
    min-over-rows probes for a caller-provided candidate set (a CMS
    cannot enumerate keys — probing all distincts of a 100 TB stream
    would be the distinct-agg the sketch avoids; the fixture's
    watchlist is all users). Exact counts ride along for error
    inspection (the kmv contract), and the DuckDB oracle replays
    every counter, probe, and min — heavy selection filters on the
    ESTIMATE, which is deterministic and ≥ exact on both engines.

    **Mixture leg** (operators.sampling.mixture_rates, X-MIXTURE —
    r9): per-source sampling rates hitting a 50% token budget with
    temperature-2 flattened shares (share ∝ √tokens — the standard
    multi-domain LM mixing step). Source-count-sized after one
    weighted aggregate; the fixed-point share weights make the
    denominator an order-invariant integer sum, so the rate doubles
    hash-match.

    **Histogram legs** (operators.sketches.equiwidth_histogram /
    histogram_quantiles, X-SKETCH-HIST — r9): the mergeable-quantiles
    sketch class (production t-digest/KLL role). Bin counts are exact
    integer aggregates over catalog bounds [0, 1024) (strays clamp
    into edge bins) that merge by SUM; p50/p90/p99 are answered from
    the 16-row relation by linear interpolation — never by sorting
    the corpus; error ≤ one bin width. All inputs to the divides are
    exact longs, so the estimate doubles hash-match unquantized.

    **Rollup legs** (cms_build/bloom_build `group_cols` +
    merge_partials under CMS_MERGE/BLOOM_MERGE, X-SKETCH-ROLLUP — r10,
    VERDICT r9 #2): the streaming
    maintenance claim, driver-attested. Rows/keys land in 3 epochs;
    each epoch's bounded PARTIAL (d×w counters / m∕32 words — the
    relation `streaming.sketches` lands per micro-batch) is built in
    one grouped aggregate, rolled up by the merge law (SUM / aligned
    bit_or), and emitted cell-by-cell BESIDE the full-stream build
    while the oracle replays the partial-union independently.
    Linearity — the reason per-epoch partials answer stream-lifetime
    frequency/membership questions with bounded state at 100 TB — is
    hash-checked cross-engine, not just pytest-pinned.

    **Grouped quantile leg** (equiwidth_histogram/histogram_quantiles
    `group_cols`, X-SKETCH-HIST-GROUPED — r10): per-event-type value
    p50/p95 from the (group, bin) relation — groups×bins state, same
    exact-long interpolation arithmetic with a group-partitioned
    window replacing the global totals relation.

    **Bloom leg** (operators.sketches.bloom_build/bloom_probe,
    X-SKETCH-BLOOM — r9): runtime semi-join pruning. A 4096-bit/3-hash
    filter over EUROPE's supplier keys is probed by lineitem's
    DISTINCT suppkeys (probe cost = O(distinct keys), not O(fact
    rows)), the per-key verdict broadcast back onto the fact, and
    pruned counts grouped by returnflag emitted BESIDE the exact
    semi-join counts — estimate ≥ exact_n shows the false-positive
    cost, zero false negatives is the correctness contract, and the
    oracle rebuilds every word and probe bit. The 100 TB use: when
    the build side is too big to broadcast raw, broadcast its m/32
    words instead (Spark's runtime bloom join, as a persistable,
    mergeable, attestable relation)."""
    from ..operators.sketches import (BLOOM_MERGE, CMS_MERGE,
                                      bloom_build, bloom_probe,
                                      cms_build, cms_estimate,
                                      hll_partials, hll_rollup,
                                      kmv_mins, merge_partials)
    from ..sources.registry import stage_row_count
    e = load_tables(spark, sf_dir, ("events",))["events"]
    n_rows = stage_row_count(sf_dir, "events")
    # r12 (VERDICT r11 #4): ONE narrow events base feeds every
    # events-derived sketch family (KMV, HLL, both CMS legs, both
    # histogram legs) — the four independent parquet scans + column
    # decodes r11 paid become one cached (event_type, user_id, value,
    # day) relation; each family still pays only its own aggregate.
    # At 100 TB this is the maintenance job's shared scan, persisted
    # columnar (MEMORY_AND_DISK spills).
    from ..operators._cache import cached_persist, cached_relation, plan_key
    e = cached_relation(e.select("event_type", "user_id", "value",
                                 F.to_date("ts").alias("day")),
                        "q47_events_base")
    h = e.select("event_type",
                 F.md5(F.col("user_id").cast("string")).alias("hv"))
    # r16: the merged per-group k-minima RELATION is the KMV sketch
    # ARTIFACT (the persisted state the docstring's merge tree
    # maintains) — session-cached like the CMS/bloom counters below;
    # the estimate still derives per invocation. group-count-sized,
    # so it lands as one partition.
    merged = cached_relation(
        kmv_mins(h, "event_type", "hv", KMV_K, n_rows=n_rows)
        .coalesce(1), "q47_kmv_mins")
    kth = F.element_at("mins", KMV_K)
    frac = (F.conv(F.substring(kth, 1, 8), 16, 10).cast("double")
            / F.lit(4294967296.0))
    kmv_leg = (merged.filter(F.size("mins") >= KMV_K)
               .select("event_type",
                       F.col("n_exact").cast("long").alias("exact_n"),
                       (F.lit(float(KMV_K - 1)) / frac).alias("estimate")))
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    nations = (e.join(c, e.user_id == c.c_custkey)
               .select("event_type", "day", "c_nationkey"))
    # r16: the per-(event_type, day) sketch PARTIALS are exactly the
    # persist-partials half of the documented pattern — session-cached
    # artifact ((type, day)-count-sized, one partition); the rollup to
    # event_type still runs per invocation.
    daily = cached_relation(
        hll_partials(nations, ["event_type", "day"], "c_nationkey")
        .coalesce(1), "q47_hll_daily")
    hll_leg = (hll_rollup(daily, ["event_type"])
               .select("event_type",
                       F.col("hll_estimate").cast("long").alias("exact_n"),
                       F.col("hll_estimate").cast("double")
                       .alias("estimate")))
    from ..operators.sampling import mixture_rates
    from ..operators.sketches import (equiwidth_histogram,
                                      histogram_quantiles)
    from ..operators.text import n_tokens

    # every r9 leg below reduces to a LEG-COUNT-sized output; memoize
    # each on its small SOURCE plan (the q54 giant-plan lesson) with a
    # lazy persist so repeat invocations skip both the rebuild
    # analysis and the scans. Each build ends in coalesce(1) (r16): a
    # leg-count-sized relation persisted across 32 partitions made
    # every serve-phase union scan pay 32 near-empty tasks per leg —
    # one partition per leg is the right layout at ANY scale for a
    # bounded artifact.

    # ONE events pass for BOTH CMS legs: the per-(epoch, key) count
    # aggregate is the epoch-partial build input AND (summed over
    # epochs) the exact-count watchlist riding THROUGH the probe
    # (cms_estimate carries candidate columns) — no distinct()
    # shuffle, no estimate↔exact join, keys hashed once per epoch
    # instead of once per occurrence. localCheckpoint: referenced
    # three times (partials + full build + candidates).
    #
    # cms_rollup leg (r10, VERDICT r9 #2 — the streaming merge-law
    # attestation): rows land in 3 epochs (floor(value) mod 3 — keys
    # span epochs, so the split is a real stream, not a key
    # partition); each epoch's d×w PARTIAL is built in one grouped
    # aggregate (cms_build group_cols — the relation
    # streaming.sketches.cms_ingest_sink lands per micro-batch) and
    # merge_partials under CMS_MERGE (plain SUM) rolls them up. The
    # leg emits the merged
    # counter BESIDE the full-stream build's counter for every
    # non-empty cell, and the DuckDB oracle replays the partial-union
    # independently — linearity, the whole reason per-epoch partials
    # answer stream-lifetime frequency questions at 100 TB, is now
    # driver-hashed, not just pytest-pinned.
    def build_cms_leg():
        ep = F.pmod(F.floor(F.col("value")).cast("long"), F.lit(3))
        ep_exact = (e.select(ep.alias("ep"),
                             F.col("user_id").cast("string").alias("k"))
                    .groupBy("ep", "k").agg(F.count("*").alias("n"))
                    .localCheckpoint(eager=True))
        exact = ep_exact.groupBy("k").agg(F.sum("n").alias("n"))
        cms = cms_build(exact, "k", weight="n")
        heavy = (cms_estimate(cms, exact, "k")
                 .filter(F.col("cms_estimate") >= CMS_HEAVY_MIN)
                 .select(F.col("k").alias("event_type"),
                         F.col("n").cast("long").alias("exact_n"),
                         F.col("cms_estimate").cast("double")
                         .alias("estimate")))
        partials = cms_build(ep_exact, "k", weight="n",
                             group_cols=("ep",))
        merged = merge_partials(partials.select("j", "bucket", "cnt"),
                                CMS_MERGE)
        rollup = (merged.join(cms.withColumnRenamed("cnt", "_full"),
                              ["j", "bucket"], "full")
                  .select(F.concat(F.col("j").cast("string"), F.lit(":"),
                                   F.col("bucket").cast("string"))
                          .alias("event_type"),
                          F.coalesce(F.col("_full"), F.lit(0).cast("long"))
                          .alias("exact_n"),
                          F.coalesce(F.col("cnt"), F.lit(0).cast("long"))
                          .cast("double").alias("estimate")))
        return union_legs("leg", {"cms_heavy": heavy,
                                  "cms_rollup": rollup}).coalesce(1)

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # r12 (VERDICT r11 #4): ONE documents feature base for the three
    # mixture legs — token counts, the qmix probe's three feature
    # doubles, and its weak label are all tokenization-heavy row-local
    # expressions that mix/mix_applied/qmix (2 GD training scans + a
    # scoring scan) each re-evaluated from raw text; evaluating them
    # once into a cached narrow relation leaves every later scan a
    # columnar read. Values are bit-identical (deterministic row-local
    # doubles), so the oracle's replay-from-text is unchanged.
    from ..operators.text import (quality_score, stopword_ratio,
                                  type_token_ratio)
    dbase = cached_relation(
        docs.select("doc_id", "source", n_tokens("text").alias("nt"),
                    stopword_ratio("text").alias("_f1"),
                    type_token_ratio("text").alias("_f2"),
                    F.least(F.length("text").cast("double") / 200,
                            F.lit(1.0)).alias("_f3"),
                    (quality_score("text") >= F.lit(0.5)).alias("_lbl")),
        "q47_doc_feats")
    mix_leg = cached_persist(
        spark, ("q47_mix_leg", plan_key(docs)),
        lambda: mixture_rates(dbase.select("source", "nt"), ["source"],
                              "nt")
        .select(F.col("source").alias("event_type"),
                F.col("toks").cast("long").alias("exact_n"),
                F.col("rate").alias("estimate"))
        .coalesce(1))

    # mix_applied leg (r10): the APPLICATION of the mixture plan —
    # apply_mixture keeps each source's docs at its rate via the
    # deterministic md5-bucket threshold (hash_keep semantics, rate
    # from the broadcast plan relation, one row-local corpus filter);
    # emitted as per-source kept-doc and kept-token counts, both
    # exact integers the oracle replays row for row. Rates come FROM
    # the memoized mix leg, so plan and application are attested
    # consistent.
    def build_mix_applied():
        from ..operators.sampling import apply_mixture
        rates = mix_leg.select(F.col("event_type").alias("source"),
                               F.col("estimate").alias("rate"))
        nt = dbase.select("doc_id", "source", "nt")
        kept = apply_mixture(nt, rates, ["source"], "doc_id")
        return (kept.groupBy("source")
                .agg(F.count("*").alias("_n"),
                     F.sum("nt").alias("_t"))
                .select(F.col("source").alias("event_type"),
                        F.col("_n").cast("long").alias("exact_n"),
                        F.col("_t").cast("double").alias("estimate"))
                .coalesce(1))

    # the grouped histogram is built first and the GLOBAL histogram
    # derived from it by the SUM merge law (r10): one events pass
    # serves both legs, and the merge that makes the sketch mergeable
    # is exercised inside the plan itself (exact integers — identical
    # counts either way)
    ghist = cached_relation(
        equiwidth_histogram(e, "value", 0.0, 1024.0,
                            group_cols=("event_type",)),
        "q47_ghist")
    hist = cached_relation(
        ghist.groupBy("bin").agg(F.sum("cnt").alias("cnt")),
        "q47_hist")
    n_rel = hist.agg(F.sum("cnt").alias("n"))
    wb = Window.orderBy("bin")
    hist_leg = (hist.withColumn("cum", F.sum("cnt").over(wb))
                .crossJoin(bounded_broadcast(
                    n_rel, bound="one-row histogram total", max_rows=1))
                .select(F.col("bin").cast("string").alias("event_type"),
                        F.col("cnt").cast("long").alias("exact_n"),
                        (F.col("cum").cast("double")
                         / F.col("n").cast("double")).alias("estimate")))
    lbl = (F.when(F.col("p") == 0.5, "p50")
           .when(F.col("p") == 0.9, "p90").otherwise("p99"))
    q_leg = (histogram_quantiles(hist, 0.0, 1024.0, [0.5, 0.9, 0.99])
             .select(lbl.alias("event_type"),
                     F.lit(None).cast("long").alias("exact_n"),
                     F.col("est").alias("estimate")))
    # grouped quantile leg (r10, VERDICT r9 #7): per-event-type value
    # p50/p95 from the (group, bin) histogram relation — the
    # per-source distribution question every corpus report asks;
    # groups×bins state, quantiles interpolated per group by the same
    # exact-long arithmetic (window partitioned by the group replaces
    # the global totals relation)
    glbl = F.when(F.col("p") == 0.5, "p50").otherwise("p95")
    gq_leg = (histogram_quantiles(ghist, 0.0, 1024.0, [0.5, 0.95],
                                  group_cols=("event_type",))
              .select(F.concat(F.col("event_type"), F.lit(":"), glbl)
                      .alias("event_type"),
                      F.lit(None).cast("long").alias("exact_n"),
                      F.col("est").alias("estimate")))
    t = load_tables(spark, sf_dir,
                    ("supplier", "nation", "region", "lineitem"))
    mem = (t["supplier"]
           .join(t["nation"],
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .join(t["region"],
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .filter(F.col("r_name") == "EUROPE")
           .select("s_suppkey").distinct())
    bloom = bloom_build(mem.select(F.col("s_suppkey").alias("k")), "k")
    li = t["lineitem"]

    # ONE fact pass: pre-aggregate lineitem to (suppkey, returnflag)
    # counts — key-cardinality-sized — then the bloom verdicts and the
    # exact membership join against THAT, never the raw fact
    def build_bloom_leg():
        per_key = (li.groupBy("l_suppkey", "l_returnflag")
                   .agg(F.count("*").alias("_n")))
        flags = (bloom_probe(bloom, per_key, "l_suppkey")
                 .join(bounded_broadcast(
                     mem.select(F.col("s_suppkey").alias("l_suppkey"),
                                F.lit(1).alias("_mem")),
                     bound="bloom membership dim (supplier-bounded)"),
                     "l_suppkey", "left"))
        return (flags.groupBy("l_returnflag")
                .agg(F.sum(F.when(F.col("_mem").isNotNull(),
                                  F.col("_n")).otherwise(0))
                     .alias("_exact"),
                     F.sum(F.when(F.col("bloom_pass"), F.col("_n"))
                           .otherwise(0)).alias("_est"))
                .select(F.col("l_returnflag").alias("event_type"),
                        F.col("_exact").cast("long").alias("exact_n"),
                        F.col("_est").cast("double").alias("estimate"))
                .coalesce(1))


    # bloom_rollup leg (r10, VERDICT r9 #2): the membership sibling of
    # cms_rollup — the build keys land in 3 epochs (suppkey mod 3),
    # each epoch's m/32-word PARTIAL comes from one grouped bit_or
    # (bloom_build group_cols — streaming.sketches.bloom_ingest_sink's
    # per-micro-batch relation) and merge_partials under BLOOM_MERGE
    # rolls them up; the leg
    # emits the merged word BESIDE the full build's word for every
    # non-empty word_idx, oracle-replayed word for word:
    # filter(∪ epochs) == ∪ filter(epoch), the law that lets a stream
    # maintain membership state as idempotent epoch partials
    def build_bloom_rollup_leg():
        keyed = mem.select(
            F.pmod(F.col("s_suppkey"), F.lit(3)).alias("ep"),
            F.col("s_suppkey").cast("string").alias("k"))
        partials = bloom_build(keyed, "k", group_cols=("ep",))
        merged = merge_partials(partials.select("word_idx", "word"),
                                BLOOM_MERGE)
        return (merged.join(bloom.withColumnRenamed("word", "_full"),
                            ["word_idx"], "full")
                .select(F.col("word_idx").cast("string")
                        .alias("event_type"),
                        F.coalesce(F.col("_full"), F.lit(0).cast("long"))
                        .alias("exact_n"),
                        F.coalesce(F.col("word"), F.lit(0).cast("long"))
                        .cast("double").alias("estimate"))
                .coalesce(1))


    # qmix leg (r11, X-MIXTURE-QUALITY — VERDICT r10 #5): the trained
    # classifier score composed into the mixture. A binary quality
    # probe (operators.classifier — 2 fixed-point GD rounds, weak
    # label = text.quality_score >= 0.5, the same feature vector as
    # q57's language probe — train_probes with ONE label) scores every
    # doc; scores bucket to 4 quality strata; the mixture pair keyed
    # by (source, qb) derives per-cell rates with the share tilted by
    # (qb+1) and keeps docs row-locally. Emits rate + kept count per
    # cell, oracle-replayed end to end INCLUDING the training loop.
    def build_qmix_leg():
        from ..operators import classifier
        from ..operators.sampling import apply_mixture, quality_bucket
        # features/label read from the shared base — the 2 GD rounds
        # and the scoring pass scan cached doubles, not raw text
        feats = [F.col("_f1"), F.col("_f2"), F.col("_f3")]
        w = classifier.train_probes(dbase, feats, [F.col("_lbl")],
                                    n_iter=2)
        scored = classifier.score_with(
            dbase.select("doc_id", "source", "nt",
                         "_f1", "_f2", "_f3"),
            feats, w, out_cols=["p"])
        cells = scored.select("doc_id", "source", "nt",
                              quality_bucket(F.col("p"), 4).alias("qb"))
        cell = ["source", "qb"]
        rates = mixture_rates(cells, cell, "nt", tilt=F.col("qb") + 1)
        kept = (apply_mixture(cells, rates, cell, "doc_id", salt="qmix")
                .groupBy(*cell).agg(F.count("*").alias("_kn")))
        return (rates.join(kept, cell, "left")
                .select(F.concat(F.col("source"), F.lit(":"),
                                 F.col("qb").cast("string"))
                        .alias("event_type"),
                        F.coalesce(F.col("_kn"), F.lit(0).cast("long"))
                        .cast("long").alias("exact_n"),
                        F.col("rate").alias("estimate"))
                .coalesce(1))


    # dsir_topk leg (r11, X-SAMPLE-DSIR-TOPK): the SELECTION half of
    # DSIR — sampling.dsir_resample's k most target-like documents by
    # the exact-integer importance score. The feature map is the
    # session artifact SHARED with q50's scoring legs
    # (sampling.dsir_feats_artifact — one corpus featurization across
    # both queries), and the oracle ranks the identical scores.
    def build_dsir_topk_leg():
        from ..operators.sampling import dsir_feats_artifact, dsir_resample
        top = dsir_resample(
            docs.select("doc_id"),
            dsir_feats_artifact(docs, "doc_id", "text"),
            docs.filter(F.col("lang") == "en").select("doc_id"),
            "doc_id", k=5)
        return (top.select(F.col("doc_id").cast("string")
                           .alias("event_type"),
                           F.col("dsir_score").cast("long")
                           .alias("exact_n"),
                           F.col("dsir_rank").cast("double")
                           .alias("estimate"))
                .coalesce(1))

    # the cached leg artifacts build concurrently in union_legs (the
    # CMS epoch checkpoint and the qmix GD training rounds run eager
    # jobs while they build); warm invocations hit the session cache
    # inside their thread at ~0 cost.
    return union_legs("leg", {
        "kmv_users": kmv_leg, "hll_nations": hll_leg, "mix": mix_leg,
        "mix_applied": lambda: cached_persist(
            spark, ("q47_mix_applied", plan_key(docs)), build_mix_applied),
        "hist_value": hist_leg, "hist_quantile": q_leg,
        "hist_group_quantile": gq_leg,
        "bloom_prune": lambda: cached_persist(
            spark, ("q47_bloom_leg", plan_key(li)), build_bloom_leg),
        "bloom_rollup": lambda: cached_persist(
            spark, ("q47_bloom_rollup", plan_key(mem)),
            build_bloom_rollup_leg),
        "cms": lambda: cached_persist(
            spark, ("q47_cms_leg", plan_key(e)), build_cms_leg),
        "qmix": lambda: cached_persist(
            spark, ("q47_qmix_leg", plan_key(docs)), build_qmix_leg),
        "dsir_topk": lambda: cached_persist(
            spark, ("q47_dsir_topk", plan_key(docs)), build_dsir_topk_leg),
    })


@query(
    "q35_window_frame_rolling",
    covers=("W5", "W6", "W7"),
    oracle="""
    WITH daily AS (
        SELECT l_suppkey AS suppkey, l_shipdate AS ship_date,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        FROM lineitem WHERE l_suppkey % 20 = 0
        GROUP BY 1, 2)
    SELECT suppkey, strftime(ship_date, '%Y-%m-%d') AS ship_date,
           CAST(SUM(rev) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rolling_7_rev,
           CAST(rev - LAG(rev) OVER w AS DOUBLE) AS delta_prev,
           CAST(LEAD(rev) OVER w - rev AS DOUBLE) AS delta_next,
           CAST(NTILE(4) OVER wr AS INT) AS rev_quartile,
           PERCENT_RANK() OVER wr AS rev_pct_rank,
           CUME_DIST() OVER wr AS rev_cume_dist
    FROM daily WINDOW w AS (PARTITION BY suppkey ORDER BY ship_date),
        wr AS (PARTITION BY suppkey ORDER BY rev, ship_date)
    """,
    prepared=True)
def q35_window_frame_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frame spec (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW):
    7-row rolling revenue per supplier over daily aggregates, PLUS the
    former q36's lag/lead deltas over the identical partition+ordering —
    window shapes the reference never uses (SURVEY §2.5 'not present').
    One shuffle and one sort serve the frame sum and both offsets;
    the NTILE(4) revenue quartile plus PERCENT_RANK/CUME_DIST over the
    same revenue ordering (W7 — Catalyst merges all three into ONE
    extra Window stage) complete the ranked-window-function family."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    daily = (li.filter(F.col("l_suppkey") % 20 == 0)
             .groupBy(F.col("l_suppkey").alias("suppkey"),
                      F.col("l_shipdate").alias("ship_date"))
             .agg(F.sum(dec("l_extendedprice")).alias("rev")))
    wo = Window.partitionBy("suppkey").orderBy("ship_date")
    wf = wo.rowsBetween(-6, 0)
    return daily.select(
        "suppkey", F.date_format("ship_date", "yyyy-MM-dd").alias("ship_date"),
        F.sum("rev").over(wf).cast("double").alias("rolling_7_rev"),
        (F.col("rev") - F.lag("rev").over(wo)).cast("double")
        .alias("delta_prev"),
        (F.lead("rev").over(wo) - F.col("rev")).cast("double")
        .alias("delta_next"),
        F.ntile(4).over(Window.partitionBy("suppkey")
                        .orderBy("rev", "ship_date"))
        .cast("int").alias("rev_quartile"),
        F.percent_rank().over(Window.partitionBy("suppkey")
                              .orderBy("rev", "ship_date"))
        .alias("rev_pct_rank"),
        F.cume_dist().over(Window.partitionBy("suppkey")
                           .orderBy("rev", "ship_date"))
        .alias("rev_cume_dist"))


@query(
    "q37_rollup_hierarchy",
    covers=("A9", "X-CUBE", "X-GROUPING-SETS"),
    oracle="""
    SELECT 'rollup' AS scope, r_name AS dim1, n_name AS dim2,
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid,
           COUNT(c_custkey) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    UNION ALL
    SELECT 'cube', c_mktsegment, r_name,
           CAST(GROUPING(c_mktsegment) * 2 + GROUPING(r_name) AS INT),
           COUNT(c_custkey),
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY CUBE(c_mktsegment, r_name)
    UNION ALL
    SELECT 'sets', c_mktsegment, r_name,
           CAST(GROUPING(c_mktsegment) * 2 + GROUPING(r_name) AS INT),
           COUNT(c_custkey),
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((c_mktsegment), (r_name), ())
    """,
    prepared=True)
def q37_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional subtotal aggregation (SURVEY §2.4 'not present
    in reference'): GROUP BY ROLLUP over the region→nation hierarchy
    AND GROUP BY CUBE over the independent segment×region pair, each
    with explicit GROUPING() markers (gid disambiguates a genuine NULL
    dim value from a subtotal row — the standard cube-consumer
    contract). Both legs are stock Spark rollup()/cube(): one Expand +
    one hash aggregate each, subtotals computed in the same shuffle as
    the leaves (map-side partials carry every grouping-set id), which
    is why cube beats N re-aggregations at any scale."""
    t = load_tables(spark, sf_dir, ("customer", "nation", "region"))
    j = (t["customer"]
         .join(bounded_broadcast(t["nation"], bound="TPC-H dim (dim-grain relation)"),
               t["customer"].c_nationkey == t["nation"].n_nationkey)
         .join(bounded_broadcast(t["region"], bound="TPC-H dim (dim-grain relation)"),
               t["nation"].n_regionkey == t["region"].r_regionkey))
    def measures():
        return [F.count("c_custkey").alias("n_customers"),
                F.sum(dec("c_acctbal")).cast("double")
                .alias("total_balance")]
    gid = (F.grouping("dim1") * 2 + F.grouping("dim2")).cast("int")
    rollup_leg = (j.select(F.col("r_name").alias("dim1"),
                           F.col("n_name").alias("dim2"),
                           "c_custkey", "c_acctbal")
                  .rollup("dim1", "dim2")
                  .agg(gid.alias("gid"), *measures()))
    cube_leg = (j.select(F.col("c_mktsegment").alias("dim1"),
                         F.col("r_name").alias("dim2"),
                         "c_custkey", "c_acctbal")
                .cube("dim1", "dim2")
                .agg(gid.alias("gid"), *measures()))
    # explicit GROUPING SETS (X-GROUPING-SETS): the per-dimension
    # totals + grand total WITHOUT the cross cells — the shape neither
    # rollup nor cube expresses; same single Expand + hash aggregate,
    # just a hand-picked set list (Spark 4 DataFrame.groupingSets)
    sets_leg = (j.select(F.col("c_mktsegment").alias("dim1"),
                         F.col("r_name").alias("dim2"),
                         "c_custkey", "c_acctbal")
                .groupingSets([["dim1"], ["dim2"], []], "dim1", "dim2")
                .agg(gid.alias("gid"), *measures()))
    return union_legs("scope", {"rollup": rollup_leg, "cube": cube_leg,
                                "sets": sets_leg})


@query(
    "q38_intersect_except",
    covers=("U3",),
    oracle="""
    SELECT 'both' AS op, n_nationkey AS nationkey FROM (
        SELECT n_nationkey FROM nation
        WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
        INTERSECT
        SELECT n_nationkey FROM nation
        WHERE n_nationkey IN (SELECT s_nationkey FROM supplier))
    UNION ALL
    SELECT 'customer_only', n_nationkey FROM (
        SELECT n_nationkey FROM nation
        WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
        EXCEPT
        SELECT n_nationkey FROM nation
        WHERE n_nationkey IN (SELECT s_nationkey FROM supplier))
    """,
    prepared=True)
def q38_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct semantics) over customer- vs
    supplier-present nations (SURVEY §2.7 'not present in reference')."""
    t = load_tables(spark, sf_dir, ("customer", "supplier", "nation"))
    cust_n = (t["nation"].join(
        t["customer"].select(F.col("c_nationkey").alias("n_nationkey"))
        .distinct(), "n_nationkey", "leftsemi").select("n_nationkey"))
    supp_n = (t["nation"].join(
        t["supplier"].select(F.col("s_nationkey").alias("n_nationkey"))
        .distinct(), "n_nationkey", "leftsemi").select("n_nationkey"))
    return union_legs("op", {
        "both": cust_n.intersect(supp_n),
        "customer_only": cust_n.exceptAll(supp_n).distinct(),
    }).withColumnRenamed("n_nationkey", "nationkey")


@query(
    "q48_salted_skew_join",
    covers=("X-SALT", "J1", "A1", "A2"),
    oracle="""
    SELECT s.s_nationkey AS nationkey,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
    prepared=True)
def q48_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (plans/layout.py::salted_join): lineitem's
    supplier key is split across 16 deterministic salt buckets and
    supplier is replicated 16-fold, so a hot key's rows land on 16
    reducers instead of one. Semantically identical to the plain join —
    the oracle IS the plain join."""
    from ..plans.layout import salted_join
    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    big = t["lineitem"].select(
        F.col("l_suppkey").alias("suppkey"),
        (dec("l_extendedprice") * (1 - dec("l_discount"))).alias("_rev"))
    small = t["supplier"].select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey")
    joined = salted_join(big, small, on=["suppkey"], how="inner", salt=16)
    return (joined.groupBy(F.col("s_nationkey").alias("nationkey"))
            .agg(F.count("*").alias("n_lines"),
                 F.sum("_rev").cast("double").alias("revenue")))
