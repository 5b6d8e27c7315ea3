"""Markov removal-effect attribution (Anderl et al., 'Mapping the
customer journey', IJRM 2016) — the chain-counterfactual upgrade of
t_attribution_last_touch: credit each touch channel by how much the
journey-level conversion probability DROPS when that channel is removed
from the first-order Markov chain of journeys.

Journey unit: the 30-minute-gap SESSION (w_sessionize_30min's exact
gaps-and-islands convention — whole-user histories are saturated on
this data: ~67 events/user makes every user convert and the chain
degenerate at p=1). Within a session, events order by (ts, event_id)
and truncate at the FIRST purchase; states are START, the four touch
channels (view, click, signup, error), CONV (purchase) and NULL
(session end without purchase), CONV/NULL absorbing. Channel removal
redirects the removed channel's inbound mass to NULL (the standard
non-renormalized counterfactual).

Absorption probabilities come from SEVEN MATRIX-SQUARING rounds
(T^128): value iteration would need ~60 rounds to drain the transient
mass, squaring reaches the same horizon in 7 tiny matmuls — and all
five chain variants (full + four removals) ride ONE variant-keyed
frame, so the whole counterfactual family is 7 joins on a <=245-row
DataFrame regardless of input size.

Determinism (FIXTURES.md §6): transition probabilities are exact int64
divisions; each squaring round's <=7-term cell sums quantize at 1e-9
on both sides (the t_markov_stationary stance); outputs land in q6.

Oracle note: every squaring CTE references its predecessor twice, and
DuckDB v1.0 inlines CTEs — un-annotated, the journey scan re-evaluates
2^7 times (measured 132 s); AS MATERIALIZED pins each round to one
evaluation. The Spark side needs the mirror-image discipline: the
matrix feeds its own join twice per round, so each round is
repartition(1) + materialized by ``fixpoint`` (without it the lineage doubles
per round and default-width exchanges on a 245-row frame dominate —
the naive loop measured 150+ s, this one a few seconds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import fixpoint
from ..operators.numeric import q6 as _q6
from ..sources import load_table
from . import register

_CHANNELS = ["click", "error", "signup", "view"]
_SQUARINGS = 7  # T^(2^7) = T^128


def _attribution_oracle() -> str:
    sql = """
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                       OR floor(epoch(ts))
                          - floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id))) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), seq AS (
      SELECT user_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gn
      FROM g
    ), sq AS (
      SELECT user_id, sid, event_type,
             row_number() OVER (PARTITION BY user_id, sid ORDER BY gn) AS rn
      FROM seq
    ), fp AS (
      SELECT user_id, sid, min(rn) AS conv_rn
      FROM sq WHERE event_type = 'purchase' GROUP BY user_id, sid
    ), s2 AS (
      SELECT sq.user_id, sq.sid, sq.rn,
             CASE WHEN sq.event_type = 'purchase' THEN 'CONV'
                  ELSE sq.event_type END AS state
      FROM sq LEFT JOIN fp ON sq.user_id = fp.user_id AND sq.sid = fp.sid
      WHERE fp.conv_rn IS NULL OR sq.rn <= fp.conv_rn
    ), tr AS (
      SELECT coalesce(lag(state) OVER (PARTITION BY user_id, sid ORDER BY rn),
                      'START') AS src,
             state AS dst
      FROM s2
      UNION ALL
      SELECT state AS src, 'NULL' AS dst
      FROM (SELECT state,
                   row_number() OVER (PARTITION BY user_id, sid
                                      ORDER BY rn DESC) AS rrn
            FROM s2) t
      WHERE rrn = 1 AND state != 'CONV'
    ), cnt AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2
    ), tp AS (
      SELECT src, dst, n * 1.0 / sum(n) OVER (PARTITION BY src) AS p FROM cnt
    ), ch AS (
      SELECT unnest(['click', 'error', 'signup', 'view']) AS rc
    ), vt AS (
      SELECT 'full' AS variant, src, dst, p FROM tp
      UNION ALL
      SELECT ch.rc AS variant, tp.src,
             CASE WHEN tp.dst = ch.rc THEN 'NULL' ELSE tp.dst END AS dst,
             tp.p
      FROM tp, ch WHERE tp.src != ch.rc
    ), vts AS (
      SELECT variant, src, dst, sum(p) AS p FROM vt GROUP BY 1, 2, 3
    ), vl AS (
      SELECT 'full' AS variant UNION ALL SELECT rc FROM ch
    ), m0 AS MATERIALIZED (
      SELECT * FROM vts
      UNION ALL SELECT variant, 'CONV', 'CONV', 1.0 FROM vl
      UNION ALL SELECT variant, 'NULL', 'NULL', 1.0 FROM vl
      UNION ALL SELECT rc AS variant, rc AS src, 'NULL' AS dst, 1.0 AS p FROM ch
    )"""
    prev = "m0"
    for k in range(1, _SQUARINGS + 1):
        sql += f""", m{k} AS MATERIALIZED (
      SELECT a.variant, a.src, b.dst,
             floor(sum(a.p * b.p) * 1000000000 + 0.5) / 1000000000 AS p
      FROM {prev} a JOIN {prev} b
        ON a.variant = b.variant AND a.dst = b.src
      GROUP BY 1, 2, 3
    )"""
        prev = f"m{k}"
    sql += f"""
    , pc AS (
      SELECT variant, p FROM {prev} WHERE src = 'START' AND dst = 'CONV'
    ), eff AS (
      SELECT ch.rc AS channel,
             f.p AS p_full,
             coalesce(r.p, 0.0) AS p_removed,
             1.0 - coalesce(r.p, 0.0) / f.p AS removal_effect
      FROM ch
      LEFT JOIN pc r ON r.variant = ch.rc
      CROSS JOIN (SELECT p FROM pc WHERE variant = 'full') f
    )
    SELECT channel,
           floor(p_full * 1000000 + 0.5) / 1000000 AS p_conv_full,
           floor(p_removed * 1000000 + 0.5) / 1000000 AS p_conv_removed,
           floor(removal_effect * 1000000 + 0.5) / 1000000 AS removal_effect,
           floor((removal_effect / sum(removal_effect) OVER ()) * 1000000 + 0.5)
             / 1000000 AS attribution_share
    FROM eff ORDER BY channel
    """
    return sql


@register("t_attribution_markov_removal", oracle=_attribution_oracle())
def t_attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal-effect attribution over the per-session journey Markov
    chain — model, counterfactual and squaring-vs-value-iteration
    argument in the module docstring.

    Scale: ONE fact-sized stage (the per-user ordered windows for
    sessionization + journey steps, all sharing the user_id exchange);
    everything downstream is |states|^2 x |variants| <= 245 rows,
    repartition(1)+checkpointed per squaring so the iterated plan stays
    flat. At 100 TB the cost is the journey scan, full stop."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    seq = ev.select(
        "user_id",
        "event_type",
        F.sum(new_sess).over(cum).alias("sid"),
        F.row_number().over(w).alias("gn"),
    )
    wj = Window.partitionBy("user_id", "sid").orderBy("gn")
    sq = seq.select(
        "user_id", "sid", "event_type", F.row_number().over(wj).alias("rn")
    )
    fp = (
        sq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "sid")
        .agg(F.min("rn").alias("conv_rn"))
    )
    s2 = (
        sq.join(fp, ["user_id", "sid"], "left")
        .filter(F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn")))
        .select(
            "user_id",
            "sid",
            "rn",
            F.when(F.col("event_type") == "purchase", "CONV")
            .otherwise(F.col("event_type"))
            .alias("state"),
        )
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("rn")
    steps = s2.select(
        F.coalesce(F.lag("state").over(ws), F.lit("START")).alias("src"),
        F.col("state").alias("dst"),
    )
    wl = Window.partitionBy("user_id", "sid").orderBy(F.desc("rn"))
    ends = (
        s2.withColumn("rrn", F.row_number().over(wl))
        .filter((F.col("rrn") == 1) & (F.col("state") != "CONV"))
        .select(F.col("state").alias("src"), F.lit("NULL").alias("dst"))
    )
    cnt = steps.unionByName(ends).groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tp = cnt.select(
        "src",
        "dst",
        (F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("src"))).alias("p"),
    )

    ch = spark.createDataFrame([(c,) for c in _CHANNELS], ["rc"])
    full = tp.select(F.lit("full").alias("variant"), "src", "dst", "p")
    removed = (
        tp.crossJoin(F.broadcast(ch))
        .filter(F.col("src") != F.col("rc"))
        .select(
            F.col("rc").alias("variant"),
            "src",
            F.when(F.col("dst") == F.col("rc"), "NULL")
            .otherwise(F.col("dst"))
            .alias("dst"),
            "p",
        )
    )
    vts = (
        full.unionByName(removed)
        .groupBy("variant", "src", "dst")
        .agg(F.sum("p").alias("p"))
    )
    vl = spark.createDataFrame([("full",)] + [(c,) for c in _CHANNELS], ["variant"])
    absorb = vl.select(
        "variant",
        F.lit("CONV").alias("src"),
        F.lit("CONV").alias("dst"),
        F.lit(1.0).alias("p"),
    ).unionByName(
        vl.select(
            "variant",
            F.lit("NULL").alias("src"),
            F.lit("NULL").alias("dst"),
            F.lit(1.0).alias("p"),
        )
    ).unionByName(
        ch.select(
            F.col("rc").alias("variant"),
            F.col("rc").alias("src"),
            F.lit("NULL").alias("dst"),
            F.lit(1.0).alias("p"),
        )
    )
    q9 = lambda c: F.floor(c * 1000000000 + F.lit(0.5)) / 1000000000  # noqa: E731

    def square(m: DataFrame, r: int) -> DataFrame:
        a = m.select(
            F.col("variant"),
            F.col("src"),
            F.col("dst").alias("mid"),
            F.col("p").alias("pa"),
        )
        b = m.select(
            F.col("variant").alias("v2"),
            F.col("src").alias("mid2"),
            "dst",
            F.col("p").alias("pb"),
        )
        return (
            a.join(F.broadcast(b), (a["variant"] == b["v2"]) & (a["mid"] == b["mid2"]))
            .groupBy("variant", "src", "dst")
            .agg(q9(F.sum(F.col("pa") * F.col("pb"))).alias("p"))
            .repartition(1)
        )

    # <=245 rows for ever after — one partition, materialized per round
    # (the matrix feeds its own join twice per squaring; see module
    # docstring for the measured cost of skipping this).
    m, _ = fixpoint(vts.unionByName(absorb).repartition(1), square, _SQUARINGS)
    pc = m.filter((F.col("src") == "START") & (F.col("dst") == "CONV")).select(
        "variant", "p"
    )
    fullp = pc.filter(F.col("variant") == "full").select(F.col("p").alias("p_full"))
    eff = (
        ch.join(pc.withColumnRenamed("variant", "rc"), "rc", "left")
        .crossJoin(F.broadcast(fullp))
        .select(
            F.col("rc").alias("channel"),
            "p_full",
            F.coalesce(F.col("p"), F.lit(0.0)).alias("p_removed"),
            (1.0 - F.coalesce(F.col("p"), F.lit(0.0)) / F.col("p_full")).alias(
                "removal_effect"
            ),
        )
    )
    from ..operators.tswindow import spine_window

    eff, wg = spine_window(eff, [], max_rows=64, label="removal-effect-channels")
    return eff.select(
        "channel",
        _q6(F.col("p_full")).alias("p_conv_full"),
        _q6(F.col("p_removed")).alias("p_conv_removed"),
        _q6(F.col("removal_effect")).alias("removal_effect"),
        _q6(
            F.col("removal_effect") / F.sum("removal_effect").over(wg)
        ).alias("attribution_share"),
    ).orderBy("channel")


# --- Heuristic multi-touch attribution (time-decay, position/U-shaped) --
# Shares the Markov query's session-journey construction; conversions
# with no preceding touch in their session credit the 'none' channel
# (the t_attribution_last_touch convention). The decay half-life is a
# pinned config literal like the mSPRT variances.
_DECAY_HALFLIFE_SEC = 600.0

_SESSION_PREFIX_SQL = """
    WITH g AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                       OR floor(epoch(ts))
                          - floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id))) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), seq AS (
      SELECT user_id, event_type, value, floor(epoch(ts)) AS sec,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gn
      FROM g
    ), sq AS (
      SELECT user_id, sid, event_type, value, sec,
             row_number() OVER (PARTITION BY user_id, sid ORDER BY gn) AS rn
      FROM seq
    ), conv AS (
      SELECT user_id, sid, min(rn) AS conv_rn
      FROM sq WHERE event_type = 'purchase' GROUP BY user_id, sid
    ), convs AS (
      SELECT c.user_id, c.sid, c.conv_rn, p.sec AS conv_sec,
             p.value AS conv_value
      FROM conv c JOIN sq p
        ON p.user_id = c.user_id AND p.sid = c.sid AND p.rn = c.conv_rn
    ), touches AS (
      SELECT s.user_id, s.sid, s.rn, s.event_type AS channel, s.sec,
             c.conv_sec, c.conv_value,
             count(*) OVER (PARTITION BY s.user_id, s.sid) AS k,
             min(s.rn) OVER (PARTITION BY s.user_id, s.sid) AS first_rn,
             max(s.rn) OVER (PARTITION BY s.user_id, s.sid) AS last_rn
      FROM sq s JOIN convs c ON s.user_id = c.user_id AND s.sid = c.sid
      WHERE s.rn < c.conv_rn
    ), none_convs AS (
      SELECT c.conv_value
      FROM convs c
      WHERE NOT EXISTS (SELECT 1 FROM touches t
                        WHERE t.user_id = c.user_id AND t.sid = c.sid)
    )
"""


def _session_touches(spark: SparkSession, sf_dir: str):
    """(touches, none_convs) — the shared journey frames: every touch
    of a CONVERTED session joined with its conversion's epoch second
    and value plus per-journey k/first/last, and the zero-touch
    conversions (purchase opened the session)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    seq = ev.select(
        "user_id",
        "event_type",
        "value",
        F.unix_timestamp("ts").alias("sec"),
        F.sum(new_sess).over(cum).alias("sid"),
        F.row_number().over(w).alias("gn"),
    )
    # Everything below rides the ONE user_id exchange: the
    # (user_id, sid) windows are a refinement of hashpartitioning
    # (user_id) (Spark's subset rule — no re-shuffle, sort only), and
    # because EVERY row before the first purchase is a touch, the
    # journey stats are closed-form in conv_rn (k = conv_rn - 1,
    # first_rn = 1, last_rn = conv_rn - 1) — no self-joins, no
    # anti-join. This took the executed plan from 12 exchanges to the
    # sessionize exchange plus the final channel rollup.
    wj = Window.partitionBy("user_id", "sid").orderBy("gn")
    wk = Window.partitionBy("user_id", "sid")
    sq = seq.select(
        "user_id", "sid", "event_type", "value", "sec",
        F.row_number().over(wj).alias("rn"),
    ).withColumn(
        "conv_rn",
        F.min(F.when(F.col("event_type") == "purchase", F.col("rn"))).over(wk),
    )
    sq = sq.withColumn(
        "conv_sec",
        F.max(F.when(F.col("rn") == F.col("conv_rn"), F.col("sec"))).over(wk),
    ).withColumn(
        "conv_value",
        F.max(F.when(F.col("rn") == F.col("conv_rn"), F.col("value"))).over(wk),
    )
    touches = sq.filter(F.col("rn") < F.col("conv_rn")).select(
        "user_id", "sid", "rn",
        F.col("event_type").alias("channel"),
        "sec", "conv_sec", "conv_value",
        (F.col("conv_rn") - 1).cast("long").alias("k"),
        F.lit(1).alias("first_rn"),
        (F.col("conv_rn") - 1).alias("last_rn"),
    )
    # zero-touch conversion == the purchase opened the session
    none_convs = sq.filter(
        (F.col("rn") == F.col("conv_rn")) & (F.col("conv_rn") == 1)
    ).select(F.col("value").alias("conv_value"))
    return touches, none_convs


@register(
    "t_attribution_time_decay",
    oracle=_SESSION_PREFIX_SQL + f"""
    , wtd AS (
      SELECT channel, conv_value,
             power(0.5, (conv_sec - sec) / {_DECAY_HALFLIFE_SEC!r}) AS w,
             sum(power(0.5, (conv_sec - sec) / {_DECAY_HALFLIFE_SEC!r}))
               OVER (PARTITION BY user_id, sid) AS wsum
      FROM touches
    ), credit AS (
      SELECT channel, w / wsum AS credit, conv_value * (w / wsum) AS rev
      FROM wtd
      UNION ALL
      SELECT 'none' AS channel, 1.0 AS credit, conv_value AS rev
      FROM none_convs
    )
    SELECT channel,
           floor(sum(credit) * 1000000 + 0.5) / 1000000
             AS credited_conversions,
           floor(sum(rev) * 1000000 + 0.5) / 1000000 AS credited_revenue
    FROM credit GROUP BY channel ORDER BY channel
    """,
)
def t_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every touch in a converted
    session shares the conversion's credit with weight 0.5^(dt/600s)
    (10-minute half-life — recency-biased but smoother than last-touch,
    the standard middle ground). Per-conversion weights normalize to 1,
    so credited_conversions sums to the conversion count.

    Scale: the sessionize/journey windows are the one fact-sized stage
    (all on the user_id exchange); credits are map-side arithmetic plus
    one per-journey window and one final channel rollup."""
    touches, none_convs = _session_touches(spark, sf_dir)
    w = F.pow(
        F.lit(0.5), (F.col("conv_sec") - F.col("sec")) / F.lit(_DECAY_HALFLIFE_SEC)
    )
    wk = Window.partitionBy("user_id", "sid")
    wtd = touches.select(
        "channel",
        "conv_value",
        w.alias("w"),
        F.sum(w).over(wk).alias("wsum"),
    )
    credit = wtd.select(
        "channel",
        (F.col("w") / F.col("wsum")).alias("credit"),
        (F.col("conv_value") * (F.col("w") / F.col("wsum"))).alias("rev"),
    ).unionByName(
        none_convs.select(
            F.lit("none").alias("channel"),
            F.lit(1.0).alias("credit"),
            F.col("conv_value").alias("rev"),
        )
    )
    return (
        credit.groupBy("channel")
        .agg(
            _q6(F.sum("credit")).alias("credited_conversions"),
            _q6(F.sum("rev")).alias("credited_revenue"),
        )
        .orderBy("channel")
    )


@register(
    "t_attribution_position",
    oracle=_SESSION_PREFIX_SQL + """
    , credit AS (
      SELECT channel,
             CASE WHEN k = 1 THEN 1.0
                  WHEN k = 2 THEN 0.5
                  WHEN rn = first_rn OR rn = last_rn THEN 0.4
                  ELSE 0.2 / (k - 2) END AS credit,
             conv_value
      FROM touches
    ), rows_out AS (
      SELECT channel, credit, conv_value * credit AS rev FROM credit
      UNION ALL
      SELECT 'none' AS channel, 1.0 AS credit, conv_value AS rev
      FROM none_convs
    )
    SELECT channel,
           floor(sum(credit) * 1000000 + 0.5) / 1000000
             AS credited_conversions,
           floor(sum(rev) * 1000000 + 0.5) / 1000000 AS credited_revenue
    FROM rows_out GROUP BY channel ORDER BY channel
    """,
)
def t_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) attribution: first and last
    touch of a converted session get 40% each, the middle splits the
    remaining 20% evenly; 1-touch journeys take 100%, 2-touch 50/50.
    Exact rational credits (integer-ratio doubles), so only the final
    channel rollup is order-sensitive.

    Scale: identical shape to t_attribution_time_decay — one fact-sized
    user_id exchange, then map-side credit arithmetic + one rollup."""
    touches, none_convs = _session_touches(spark, sf_dir)
    credit_expr = (
        F.when(F.col("k") == 1, 1.0)
        .when(F.col("k") == 2, 0.5)
        .when((F.col("rn") == F.col("first_rn")) | (F.col("rn") == F.col("last_rn")), 0.4)
        .otherwise(0.2 / (F.col("k") - 2))
    )
    credit = touches.select(
        "channel",
        credit_expr.alias("credit"),
        (F.col("conv_value") * credit_expr).alias("rev"),
    ).unionByName(
        none_convs.select(
            F.lit("none").alias("channel"),
            F.lit(1.0).alias("credit"),
            F.col("conv_value").alias("rev"),
        )
    )
    return (
        credit.groupBy("channel")
        .agg(
            _q6(F.sum("credit")).alias("credited_conversions"),
            _q6(F.sum("rev")).alias("credited_revenue"),
        )
        .orderBy("channel")
    )
