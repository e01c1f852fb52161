"""Oracle registry — join family: equi/broadcast/asof/interval/window/salted.

Cut verbatim from the monolithic __spark_entry__.py (r14); every key
registers a Spark query and its DuckDB oracle SQL into this module's
local dicts, merged in frozen order by kdb_spark/oracles/__init__.py.
"""

from __future__ import annotations

from kdb_spark.oracles._shared import *  # noqa: F401,F403

QUERIES, ORACLES, _reg = make_registry()


# --------------------------------------------------------------------- joins

_reg(
    "join_enrich_broadcast",
    lambda s, d: jn.join_enrich_broadcast(
        load(s, d, "orders"), load(s, d, "customer"), load(s, d, "nation"), load(s, d, "region")
    ),
    """
    SELECT r_name, n_name, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
)


_reg(
    "join_equi_shuffle",
    lambda s, d: jn.join_equi_shuffle(load(s, d, "lineitem"), load(s, d, "orders")),
    """
    SELECT o_orderpriority, count(*) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)


# identical result contract to join_equi_shuffle — the salt must not change
# the answer, only the shuffle layout; hence the same oracle SQL
_reg(
    "join_skew_salted",
    lambda s, d: jn.join_skew_salted(load(s, d, "lineitem"), load(s, d, "orders")),
    """
    SELECT o_orderpriority, count(*) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)


_reg(
    "join_asof",
    lambda s, d: jn.join_asof(events_us(s, d)),
    """
    WITH err AS (
      SELECT user_id, epoch_us(ts) AS ts_us, arg_max(value, event_id) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY 1, 2),
    clk AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, e.err_value AS asof_value
    FROM clk c ASOF JOIN err e
      ON c.user_id = e.user_id AND c.ts_us >= e.ts_us
    """,
)


_reg(
    "join_asof_forward",
    lambda s, d: jn.join_asof_forward(events_us(s, d)),
    """
    WITH err AS (
      SELECT user_id, epoch_us(ts) AS ts_us, arg_max(value, event_id) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY 1, 2),
    clk AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, e.err_value AS next_value
    FROM clk c ASOF JOIN err e
      ON c.user_id = e.user_id AND c.ts_us <= e.ts_us
    """,
)


_reg(
    "join_asof_tolerance",
    lambda s, d: jn.join_asof_tolerance(events_us(s, d)),
    """
    WITH err AS (
      SELECT user_id, epoch_us(ts) AS ts_us, arg_max(value, event_id) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY 1, 2),
    clk AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, e.err_value AS asof_value,
           c.ts_us - e.ts_us AS staleness_us
    FROM clk c ASOF JOIN err e
      ON c.user_id = e.user_id AND c.ts_us >= e.ts_us
    WHERE c.ts_us - e.ts_us <= 1800000000
    """,
)


_reg(
    "join_interval",
    lambda s, d: jn.join_interval(events_us(s, d)),
    """
    SELECT e.event_id, e.user_id, count(*) AS n_clicks
    FROM events e JOIN events c
      ON c.user_id = e.user_id AND c.event_type = 'click'
     AND epoch_us(c.ts) >= epoch_us(e.ts)
     AND epoch_us(c.ts) < epoch_us(e.ts) + 600000000
    WHERE e.event_type = 'error'
    GROUP BY 1, 2
    """,
)


_reg(
    "join_window",
    lambda s, d: jn.join_window(events_us(s, d)),
    """
    WITH err AS (
      SELECT event_id, user_id, epoch_us(ts) AS err_us
      FROM events WHERE event_type = 'error'),
    clk AS (
      SELECT user_id, epoch_us(ts) AS c_us, value
      FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id,
           CAST(count(c.c_us) AS BIGINT) AS n_in_win,
           round(avg(c.value), 4) AS avg_in_win
    FROM err e LEFT JOIN clk c
      ON e.user_id = c.user_id
     AND c.c_us >= e.err_us - 600000000 AND c.c_us < e.err_us + 600000000
    GROUP BY 1, 2
    """,
)


# The oracle is the naive per-probe LATERAL scan (fine for DuckDB at
# sf0.01); the engine's union-and-carry form is the O(n log n) scale path.
_reg(
    "join_nearest",
    lambda s, d: jn.join_nearest(events_us(s, d)),
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             arg_max(value, event_id) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY 1, 2),
    c AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, n.nearest_value, n.dist_us
    FROM c, LATERAL (
      SELECT e.err_value AS nearest_value,
             abs(e.ts_us - c.ts_us) AS dist_us
      FROM e WHERE e.user_id = c.user_id
      ORDER BY abs(e.ts_us - c.ts_us), e.ts_us
      LIMIT 1) n
    """,
)


_reg(
    "join_semi",
    lambda s, d: jn.join_semi(load(s, d, "customer"), load(s, d, "orders"), MIN_PRICE),
    f"""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > {MIN_PRICE})
    """,
)


_reg(
    "join_anti",
    lambda s, d: jn.join_anti(load(s, d, "customer"), load(s, d, "orders"), MIN_PRICE),
    f"""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > {MIN_PRICE})
    """,
)


_reg(
    "join_multiway",
    lambda s, d: jn.join_multiway(
        load(s, d, "customer"), load(s, d, "orders"), load(s, d, "lineitem"),
        load(s, d, "supplier"), load(s, d, "nation"), load(s, d, "region"),
    ),
    """
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
    GROUP BY n_name
    """,
)


# Point-in-time SCD2 join: each order sees the customer-segment version
# valid at its instant — the feature-store correctness contract
def _q_join_pit(s: SparkSession, d: str) -> DataFrame:
    from kdb_spark.tables import cents

    cust = load(s, d, "customer").select(
        "c_custkey", "c_mktsegment", cents("c_acctbal").alias("bal_c")
    )
    up = F.col("bal_c") >= 500_000
    hist = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("valid_from"),
        F.when(up, F.lit(1)).cast("long").alias("valid_to"),
    ).unionByName(
        cust.filter(up).select(
            "c_custkey",
            F.lit("UPGRADED").alias("segment"),
            F.lit(1).cast("long").alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
        )
    )
    facts = load(s, d, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        cents("o_totalprice").alias("price_c"),
        F.when(F.year("o_orderdate") < 1996, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("pit"),
    )
    j = jn.join_pit(facts, hist, "c_custkey", "pit")
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("price_c").cast("long").alias("revenue_c"),
    )


_reg(
    "join_pit",
    _q_join_pit,
    """
    WITH c AS (
      SELECT c_custkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer),
    f AS (
      SELECT o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             CASE WHEN year(o_orderdate) < 1996 THEN 0 ELSE 1 END AS pit
      FROM orders),
    j AS (
      SELECT CASE WHEN f.pit = 1 AND c.bal_c >= 500000
                  THEN 'UPGRADED' ELSE c.c_mktsegment END AS segment,
             f.price_c
      FROM f JOIN c ON c.c_custkey = f.o_custkey)
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(price_c) AS BIGINT) AS revenue_c
    FROM j GROUP BY 1
    """,
)


# Interval-overlap join: user sessions × daily maintenance windows via
# day-bucket blocking; oracle does the tiny cartesian directly
def _q_join_interval_overlap(s: SparkSession, d: str) -> DataFrame:
    ev = events_us(s, d)
    sess = wn.sessionize(ev)
    a = sess.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("a_start"),
        (F.max("ts_us") + 1).alias("a_end"),
    ).select(
        # 1e6 packing stride: a user would need >999,999 sessions to
        # collide (the old *1000 stride collided past 999 sessions)
        (F.col("user_id") * 1_000_000 + F.col("session_id")).alias("a_id"),
        "a_start",
        "a_end",
    )
    day0 = 19723
    b = s.range(30).select(
        F.col("id").cast("long").alias("b_id"),
        ((F.lit(day0) + F.col("id")) * F.lit(DAY_US) + F.lit(2 * HOUR_US))
        .cast("long")
        .alias("b_start"),
        ((F.lit(day0) + F.col("id")) * F.lit(DAY_US) + F.lit(4 * HOUR_US))
        .cast("long")
        .alias("b_end"),
    )
    # canonical output order: the final stage upstream is a distinct
    # shuffle — the single most order-unstable output in the registry
    return jn.join_interval_overlap(a, b).orderBy("a_id", "b_id")


_reg(
    "join_interval_overlap",
    _q_join_interval_overlap,
    f"""
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS tu, event_id FROM events),
    m AS (
      SELECT user_id, tu, event_id,
             CASE WHEN lag(tu) OVER w IS NULL THEN 1
                  WHEN tu - lag(tu) OVER w >= 1800000000 THEN 1
                  ELSE 0 END AS ns
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
    sgrp AS (
      SELECT user_id, tu,
             sum(ns) OVER (PARTITION BY user_id ORDER BY tu, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM m),
    iv AS (
      -- CAST is load-bearing: session_id is a DuckDB window SUM() and
      -- therefore HUGEINT; without the cast a_id surfaces as float64 in
      -- pandas (23000026.0) while Spark emits bigint — the r13/r14 driver
      -- hash FAIL (rows/schema matched, values didn't). Diagnosed with
      -- tools/check_oracle.py --rows.
      SELECT CAST(user_id * 1000000 + session_id AS BIGINT) AS a_id,
             CAST(min(tu) AS BIGINT) AS a_start,
             CAST(max(tu) + 1 AS BIGINT) AS a_end
      FROM sgrp GROUP BY user_id, session_id),
    w AS (
      SELECT CAST(i AS BIGINT) AS b_id,
             CAST((19723 + i) * 86400000000 + 7200000000 AS BIGINT) AS b_start,
             CAST((19723 + i) * 86400000000 + 14400000000 AS BIGINT) AS b_end
      FROM range(0, 30) t(i))
    SELECT iv.a_id, w.b_id, iv.a_start, iv.a_end, w.b_start, w.b_end,
           CAST(least(iv.a_end, w.b_end) - greatest(iv.a_start, w.b_start)
                AS BIGINT) AS overlap_us
    FROM iv, w
    WHERE iv.a_start < w.b_end AND w.b_start < iv.a_end
    """,
)


# Value-band join: clicks matched to purchases priced within 50¢ via
# tol-bucket blocking; per-click match census with a deterministic closest
def _q_join_band(s: SparkSession, d: str) -> DataFrame:
    ev = events_us(s, d)
    from kdb_spark.tables import cents as _cents

    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"), _cents("value").alias("a_c")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b_id"), _cents("value").alias("b_c")
    )
    pairs = jn.join_band(a, b, tol_c=50)
    # HASH-AGG census, not a rank window (r16, guide §2.3 "aggregate before
    # you shuffle"): min(struct(diff, b_id)) is the rn=1 row of the
    # (abs diff, b_id) order bit-for-bit (diff/b_id are longs; struct
    # comparison is lexicographic), count(*) the per-key window count. The
    # window shape shuffled and SORTED every candidate pair (4M rows at
    # sf0.1); the agg's map-side partials shuffle ≤1 row per (a_id, map
    # partition) and nothing sorts. Oracle unchanged — same rows.
    # (diff, b_id) packed into ONE long — min(struct) plans a SortAggregate
    # (struct buffers aren't hash-able), which re-sorts every map partition;
    # the packed long keeps the whole census a true two-phase HASH aggregate.
    # diff ≤ tol=50 < 64 lives in the top 6 bits, b_id in the low 57 — the
    # range guard raises (never wraps) on an id outside the pack domain,
    # same discipline as dedup_ngram_jaccard's 32-bit doc pack.
    diff = F.abs(F.col("a_c") - F.col("b_c"))
    b_ok = F.when(
        F.col("b_id").between(0, (1 << 57) - 1), F.col("b_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("join_band: b_id outside 57-bit pack range: "),
                F.col("b_id").cast("string"),
            )
        )
    )
    packed = F.shiftleft(diff.cast("long"), 57) + b_ok
    return (
        pairs.groupBy("a_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min(packed).alias("m"),
        )
        .select(
            "a_id",
            "n_matches",
            F.col("m").bitwiseAND(F.lit((1 << 57) - 1)).alias("closest_b_id"),
            F.shiftrightunsigned("m", 57).cast("long").alias("min_diff_c"),
        )
    )


_reg(
    "join_band",
    _q_join_band,
    """
    WITH a AS (
      SELECT event_id AS a_id, CAST(round(value * 100) AS BIGINT) AS a_c
      FROM events WHERE event_type = 'click'),
    b AS (
      SELECT event_id AS b_id, CAST(round(value * 100) AS BIGINT) AS b_c
      FROM events WHERE event_type = 'purchase'),
    p AS (
      SELECT a_id, a_c, b_id, b_c,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY abs(a_c - b_c), b_id) AS rn,
             count(*) OVER (PARTITION BY a_id) AS n_matches
      FROM a JOIN b ON abs(a_c - b_c) <= 50)
    SELECT a_id, CAST(n_matches AS BIGINT) AS n_matches,
           b_id AS closest_b_id,
           CAST(abs(a_c - b_c) AS BIGINT) AS min_diff_c
    FROM p WHERE rn = 1
    """,
)


# k-closest value matches: the top-3 nearest-priced purchases per click —
# join_band's census kept one winner; retrieval/entity-resolution wants the
# candidate SHORTLIST with ranks (the k-NN-in-value-space contract)
def _q_join_band_topk(s: SparkSession, d: str) -> DataFrame:
    ev = events_us(s, d)
    from kdb_spark.tables import cents as _cents

    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"), _cents("value").alias("a_c")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b_id"), _cents("value").alias("b_c")
    )
    return jn.join_band_topk(a, b, tol_c=50, k=3)


_reg(
    "join_band_topk",
    _q_join_band_topk,
    """
    WITH a AS (
      SELECT event_id AS a_id, CAST(round(value * 100) AS BIGINT) AS a_c
      FROM events WHERE event_type = 'click'),
    b AS (
      SELECT event_id AS b_id, CAST(round(value * 100) AS BIGINT) AS b_c
      FROM events WHERE event_type = 'purchase'),
    p AS (
      SELECT a_id, b_id,
             CAST(abs(a_c - b_c) AS BIGINT) AS diff_c,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY abs(a_c - b_c), b_id) AS rn
      FROM a JOIN b ON abs(a_c - b_c) <= 50)
    SELECT a_id, CAST(rn AS BIGINT) AS rank, b_id, diff_c
    FROM p WHERE rn <= 3
    """,
)


# spatial proximity census: users placed on a 10k×10k grid by the md5_slot
# device, every pair within 150 units — 2D grid-cell blocking
def _q_join_grid_neighbors(s: SparkSession, d: str) -> DataFrame:
    from kdb_spark.tables import load, md5_slot

    users = (
        load(s, d, "events")
        .select(F.col("user_id").cast("long").alias("pid"))
        .distinct()
    )
    pts = users.select(
        "pid",
        md5_slot(F.concat(F.lit("x:"), F.col("pid").cast("string")), mod=10_000)
        .alias("px"),
        md5_slot(F.concat(F.lit("y:"), F.col("pid").cast("string")), mod=10_000)
        .alias("py"),
    )
    return jn.join_grid_neighbors(pts, radius=150)


_reg(
    "join_grid_neighbors",
    _q_join_grid_neighbors,
    """
    WITH users AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS pid FROM events),
    pts AS (
      SELECT pid,
             ('0x' || substr(md5('x:' || CAST(pid AS VARCHAR)), 1, 6))::BIGINT
               % 10000 AS px,
             ('0x' || substr(md5('y:' || CAST(pid AS VARCHAR)), 1, 6))::BIGINT
               % 10000 AS py
      FROM users)
    SELECT a.pid AS pid_a, b.pid AS pid_b,
           CAST((a.px - b.px) * (a.px - b.px)
                + (a.py - b.py) * (a.py - b.py) AS BIGINT) AS dist2
    FROM pts a JOIN pts b
      ON a.pid < b.pid
     AND (a.px - b.px) * (a.px - b.px)
         + (a.py - b.py) * (a.py - b.py) <= 22500
    """,
)


_reg(
    "join_window_anti",
    lambda s, d: jn.join_window_anti(events_us(s, d)),
    """
    WITH err AS (
      SELECT event_id, user_id, epoch_us(ts) AS err_us
      FROM events WHERE event_type = 'error'),
    clk AS (
      SELECT user_id, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id, e.err_us
    FROM err e
    WHERE NOT EXISTS (
      SELECT 1 FROM clk c
      WHERE c.user_id = e.user_id
        AND c.c_us >= e.err_us - 600000000
        AND c.c_us < e.err_us + 600000000)
    """,
)


# Spatial k-NN shortlist: same md5-grid points, exact integer distances,
# (dist2, pid_b) rank — the radius bound makes grid blocking COMPLETE,
# so the oracle's brute-force within-radius rank matches exactly
def _q_join_grid_knn(s: SparkSession, d: str) -> DataFrame:
    from kdb_spark.tables import load, md5_slot

    users = (
        load(s, d, "events")
        .select(F.col("user_id").cast("long").alias("pid"))
        .distinct()
    )
    pts = users.select(
        "pid",
        md5_slot(F.concat(F.lit("x:"), F.col("pid").cast("string")), mod=10_000)
        .alias("px"),
        md5_slot(F.concat(F.lit("y:"), F.col("pid").cast("string")), mod=10_000)
        .alias("py"),
    )
    return jn.join_grid_knn(pts, radius=150, k=3)


_reg(
    "join_grid_knn",
    _q_join_grid_knn,
    """
    WITH users AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS pid FROM events),
    pts AS (
      SELECT pid,
             ('0x' || substr(md5('x:' || CAST(pid AS VARCHAR)), 1, 6))::BIGINT
               % 10000 AS px,
             ('0x' || substr(md5('y:' || CAST(pid AS VARCHAR)), 1, 6))::BIGINT
               % 10000 AS py
      FROM users),
    cand AS (
      SELECT a.pid AS pid_a, b.pid AS pid_b,
             CAST((a.px - b.px) * (a.px - b.px)
                  + (a.py - b.py) * (a.py - b.py) AS BIGINT) AS dist2
      FROM pts a JOIN pts b
        ON a.pid <> b.pid
       AND (a.px - b.px) * (a.px - b.px)
           + (a.py - b.py) * (a.py - b.py) <= 22500)
    SELECT pid_a, CAST(rank AS BIGINT) AS rank, pid_b, dist2
    FROM (SELECT *, row_number() OVER (PARTITION BY pid_a
                     ORDER BY dist2, pid_b) AS rank
          FROM cand)
    WHERE rank <= 3
    """,
)
