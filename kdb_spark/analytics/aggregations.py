"""Aggregations (SURVEY.md §2.B) — partial+final hash aggregation built-in.

The reference has none of these (aggregation lives downstream of the dense
grid, SURVEY.md §2.B); these are the rollups the grid exists to feed.
Money sums use bigint cents (see kdb_spark.tables.cents) so results are
order-independent and oracle-exact at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kdb_spark.analytics.exact import floor_div_sql, iround_col
from kdb_spark.tables import DAY_US, HOUR_US, NTZ_EPOCH, cents, ts_us_expr


def agg_resample(events: DataFrame, width_us: int = HOUR_US) -> DataFrame:
    """Per-series time rollup: groupBy(tags, time bucket) + multi-agg.

    One shuffle on (event_type, hour); map-side combine makes this scan-bound
    at 100 TB. The time bucket is plain long arithmetic → stays inside
    whole-stage codegen.
    """
    hour = (F.col("ts_us") - F.col("ts_us") % F.lit(width_us)).alias("hour_us")
    g = events.groupBy("event_type", hour).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("value")).alias("sum_value_c"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    # avg = Σc/(100n): exact integer ratio rounded half-away-from-zero to
    # 4 dp in integer space (r11 hardening — round(avg(double), 4) was the
    # engine half-boundary class AND an addition-order float fold)
    avg4 = F.expr(
        "(CASE WHEN sum_value_c < 0 THEN -1 ELSE 1 END) * "
        + floor_div_sql(
            "20000 * CAST(abs(sum_value_c) AS DECIMAL(38,0))"
            " + 100 * CAST(n AS DECIMAL(38,0))",
            "200 * CAST(n AS DECIMAL(38,0))",
        )
    )
    return g.select(
        "event_type",
        "hour_us",
        "n",
        "sum_value_c",
        (avg4.cast("double") / F.lit(1e4)).alias("avg_value"),
        "min_value",
        "max_value",
    )


def agg_distinct(lineitem: DataFrame) -> DataFrame:
    """Exact distinct counts per group — expand+two-phase agg under AQE."""
    return lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def agg_approx_distinct(events: DataFrame) -> DataFrame:
    """HLL++ approximate distinct — sketches merge associatively, so this is
    one pass + tiny shuffle at any scale (the 100 TB answer to exact
    distinct's expand). Engine-specific estimates → rows-only check."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n"),
    )


def agg_hll_merge(events: DataFrame) -> DataFrame:
    """Re-aggregatable distinct counting: build a Datasketches HLL sketch per
    (event_type, day) shard, then union the binary sketches per event_type
    and estimate.

    This is the materialized-rollup pattern a 100 TB pipeline needs: daily
    partitions each persist a few-KB sketch once, and any later rollup
    (weekly, all-time, cross-table) merges sketches instead of rescanning
    raw data. `hll_sketch_agg`/`hll_union_agg` are JVM aggregates with
    map-side partials. Estimates are engine-specific → rows-only check.
    """
    per_day = events.groupBy(
        "event_type", (F.col("ts_us") - F.col("ts_us") % DAY_US).alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        per_day.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.count(F.lit(1)).alias("n_day_sketches"),
        )
    )


def agg_percentile(events: DataFrame) -> DataFrame:
    """Exact interpolated percentiles (median / p95) per event_type.

    `percentile` is exact (sort-based within the aggregate); the approximate
    sketch path for 100 TB is `approx_percentile`, which merges like HLL —
    this op is the exact baseline the sketch is judged against. Rounded to
    4dp: both engines evaluate the SAME linear-interpolation expression
    over identical doubles, so the pre-round double is bit-identical;
    a round(·, 4) flip would additionally need that exact double to sit
    within one repr-ulp of a 5e-5 half boundary (r11 audit: absent from
    the driver corpus, hash-checked every round since r6 — and not
    integer-convertible without re-deriving the engine's percentile
    interpolation in rational form).
    """
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


def agg_stats(events: DataFrame) -> DataFrame:
    """Second-moment statistics per event_type: stddev/variance (sample),
    min/max spread.

    Exact-parity contract (r11): the engine-native stddev_samp/var_samp
    accumulate in PARTITION-DEPENDENT order (the one remaining real
    cross-engine divergence class after the double-round sweep), so the
    moments are exact integer cents sums instead — sample variance is the
    exact rational (n·Σc² − (Σc)²)/(n·(n−1)·10⁴) in value units
    (numerator/denominator exact decimal(38,0); n·Σc² stays under 10³⁸
    for any practical per-group count at tick-scale cents), rounded
    half-up to 4 dp in integer space. sd = sqrt of the SAME exact-rational
    double on both engines (one decimal→double cast + one IEEE sqrt —
    identical), rounded 4 dp (same-double round; only a value within one
    repr-ulp of a 5e-5 half could flip, the documented residual class).
    spread = (max−min) cents exactly. n = 1 groups: null variance/sd.
    """
    c = cents("value")
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        # widen INSIDE the sum (r12, ADVICE): sum(long) wraps int64 at
        # ~1e12 tick-scale cents rows/group — the oracle sums in HUGEINT
        F.sum(c.cast("decimal(38,0)")).alias("s1"),
        F.sum(c.cast("decimal(38,0)") * c).alias("s2"),
        F.max(c).alias("mx"),
        F.min(c).alias("mn"),
    )
    # num = n·Σc² − (Σc)² ≥ 0 (Cauchy–Schwarz); den = n·(n−1)·10^4.
    # n is widened to decimal BEFORE the (n−1) multiply (r12, ADVICE) —
    # long·long wraps silently past n ≈ 2.1e9/group, where the oracle's
    # HUGEINT does not.
    vr4 = F.when(
        F.col("n") > 1,
        F.expr(
            floor_div_sql(
                "20000 * (n * s2 - s1 * s1)"
                " + CAST(n AS DECIMAL(38,0)) * (n - 1) * 10000",
                "2 * CAST(n AS DECIMAL(38,0)) * (n - 1) * 10000",
            )
        ),
    )
    sd = F.when(
        F.col("n") > 1,
        F.round(
            F.sqrt(
                F.expr("CAST(n * s2 - s1 * s1 AS DOUBLE)")
                # exact decimal product, ONE rounding cast to double —
                # same semantics as the oracle's CAST(n*(n-1) AS DOUBLE)
                # on HUGEINT (r12: the long·long form wrapped past 2.1e9)
                / F.expr("CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE)")
                / F.lit(1e4)
            ),
            4,
        ),
    )
    spr4 = F.expr("(mx - mn) * CAST(100 AS BIGINT)")
    return g.select(
        "event_type",
        sd.alias("sd"),
        (vr4.cast("double") / F.lit(1e4)).alias("vr"),
        (spr4.cast("double") / F.lit(1e4)).alias("spread"),
        F.col("n").alias("n"),
    )


def agg_pivot(events: DataFrame, event_types: tuple[str, ...] | None = None) -> DataFrame:
    """Pivot event_type into per-user count columns.

    The pivot value list is EXPLICIT — without it Spark runs an extra
    distinct-collect job over the full table to discover columns, which is
    both a second scan and a nondeterministic column order at 100 TB.
    """
    types = list(event_types or ("click", "view", "purchase", "error", "signup"))
    return (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


def agg_unpivot(events: DataFrame, event_types: tuple[str, ...] | None = None) -> DataFrame:
    """Wide→long melt of the pivoted per-user counts — `DataFrame.unpivot`
    (native UNPIVOT: a generate over the already-aggregated wide table, no
    extra shuffle). Emits one row per (user, type) including zero counts —
    the dense form a model-feature export wants."""
    types = list(event_types or ("click", "view", "purchase", "error", "signup"))
    wide = agg_pivot(events, tuple(types))
    return (
        wide.unpivot("user_id", [f"n_{t}" for t in types], "event_type", "n")
        .select(
            "user_id",
            F.expr("substring(event_type, 3)").alias("event_type"),
            F.col("n").cast("long").alias("n"),
        )
    )


def agg_rollup(lineitem: DataFrame) -> DataFrame:
    """ROLLUP(l_returnflag, l_linestatus) with GROUPING id — one expand +
    one hash agg; Catalyst plans grouping sets natively."""
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("l_quantity")).alias("sum_qty_c"),
        F.sum(cents("l_extendedprice")).alias("sum_price_c"),
        F.grouping_id().cast("long").alias("g"),
    )


def agg_grouping_sets(lineitem: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((l_returnflag), (l_linestatus)) — the general
    form rollup/cube specialize; one expand + one hash agg, no union of
    scans."""
    return lineitem.groupingSets(
        [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("l_quantity")).alias("sum_qty_c"),
        F.grouping_id().cast("long").alias("g"),
    )


def agg_cube(orders: DataFrame) -> DataFrame:
    """CUBE(o_orderstatus, o_orderpriority) — all 4 grouping sets."""
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("o_totalprice")).alias("sum_price_c"),
        F.grouping_id().cast("long").alias("g"),
    )


def agg_mode(events: DataFrame) -> DataFrame:
    """Deterministic per-group mode: each user's most frequent event_type
    (ties → lexicographically lowest). Two hash aggregates — counts, then
    `max_by` on (count, reversed-key) — no window, no sort of the fact:
    shuffle bytes are |groups|, not |rows|. Built-in `F.mode` is avoided:
    its tie choice is accumulation-order-dependent, which breaks the
    engine's determinism-at-any-parallelism contract.
    """
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # min_by on (-count, key): higher count wins, exact lexicographic
    # low-key tie-break — struct comparison, no string-encoding tricks
    return (
        counts.groupBy("user_id")
        .agg(
            F.min_by(
                F.struct(F.col("event_type"), F.col("n")),
                F.struct((-F.col("n")).alias("nn"), F.col("event_type")),
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.event_type").alias("mode_event_type"),
            F.col("m.n").cast("long").alias("n_events"),
        )
    )


def agg_ohlc(events: DataFrame) -> DataFrame:
    """Candlestick rollup: open/high/low/close per (event_type, hour).

    open/close are min_by/max_by picks keyed by the packed in-hour
    (ts, event_id) long (`tables.pick_key` — a struct key would demote the
    whole fact rollup to SortAggregate) — exact picks of stored values (no
    accumulation), deterministic under ties by the unique event_id. One
    partial+final hash agg, same shape as `agg_resample`.
    """
    from kdb_spark.tables import pick_key

    key = pick_key(3_600_000_000)
    return (
        events.groupBy(
            "event_type",
            (F.col("ts_us") - F.col("ts_us") % F.lit(3_600_000_000)).alias("hour_us"),
        )
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def agg_histogram(events: DataFrame, width: float = 10.0) -> DataFrame:
    """Fixed-width numeric histogram of `value` — one partial+final hash agg
    whose shuffle carries |bins| rows, the classic distribution profile.

    Bin edges from floor(value / width): floats divided by an exact literal
    and floored are engine-deterministic (no accumulation).
    """
    return (
        events.groupBy(F.floor(F.col("value") / F.lit(width)).alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .withColumn("bin_start", F.col("bin") * F.lit(width))
        .select("bin", "bin_start", "n", "lo", "hi")
    )


def agg_corr(events: DataFrame) -> DataFrame:
    """Pearson correlation / sample covariance of (value, hour-of-day) per
    event_type — the per-group bivariate statistics family.

    r12 EXACT-co-moment contract (closing the r11 audit note — this was
    the last accumulation-order-dependent pre-round in the batch
    registry): the time coordinate is the integer hour-of-day BUCKET
    0..23 (agg_seasonality's fold coordinate, pmod(ts div HOUR, 24) — no
    calendar functions), the value joins the exact-cents convention, and
    every co-moment is an exact decimal(38,0) sum. That fits the ceiling
    at any 100 TB group size (Σu² ≤ 529·n; n·Σv² ≤ 1e36 at 1e12
    tick-scale-cents rows — the µs-of-day coordinate the pre-r12
    engine-native version centered on overflowed at ~1.2e8 rows, which
    is why it stayed float until now; corr against the hour bucket is
    the seasonality-grade statistic, exactly computable).

    corr is shift/scale-invariant, so corr(cents, hour_idx) IS
    corr(value, hour_idx): C/√(A·B) takes ONE divide/sqrt on doubles cast
    from exact decimals — identical expression both engines — and lands
    on the 1e-4 output grid via floor(x·1e4 + 0.5), exact given identical
    x (the repo's irrational-statistic grid device). cov_vh =
    C/(100·n·(n−1)) (dollar·hour units) is an exact RATIONAL → the
    standard sign-aware integer device, never round(double, 4).
    Degenerate groups (n < 2, or zero variance on either axis) emit NULL.
    """
    u = F.pmod(F.expr(f"ts_us div {HOUR_US}"), F.lit(24)).cast("long")
    v = cents("value")
    g = (
        events.select("event_type", u.alias("u"), v.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
            F.sum(F.col("u").cast("decimal(38,0)") * F.col("u")).alias("suu"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("svv"),
            F.sum(F.col("u").cast("decimal(38,0)") * F.col("v")).alias("suv"),
        )
    )
    t = g.select(
        "event_type",
        "n",
        F.expr("CAST(n AS DECIMAL(38,0)) * suv - su * sv").alias("cm"),
        F.expr("CAST(n AS DECIMAL(38,0)) * suu - su * su").alias("a"),
        F.expr("CAST(n AS DECIMAL(38,0)) * svv - sv * sv").alias("b"),
    )
    corr4 = F.when(
        (F.col("a") > 0) & (F.col("b") > 0),
        F.floor(
            F.expr(
                "CAST(cm AS DOUBLE)"
                " / sqrt(CAST(a AS DOUBLE) * CAST(b AS DOUBLE))"
            )
            * F.lit(1e4)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e4),
    )
    cov4 = F.when(
        F.col("n") > 1,
        F.expr(
            "(CASE WHEN cm < 0 THEN -1 ELSE 1 END) * "
            + floor_div_sql(
                "20000 * abs(cm) + 100 * CAST(n AS DECIMAL(38,0)) * (n - 1)",
                "200 * CAST(n AS DECIMAL(38,0)) * (n - 1)",
            )
        ).cast("double")
        / F.lit(1e4),
    )
    return t.select(
        "event_type",
        corr4.alias("corr_vh"),
        cov4.alias("cov_vh"),
        "n",
    )


def agg_wavg(lineitem: DataFrame) -> DataFrame:
    """Weighted average — kdb's ``wavg``: quantity-weighted mean price (in
    cents) per return flag.

    Both the numerator and denominator are exact bigint sums (quantity is
    integral in this schema; price goes through the cents convention), so
    the final division runs on identical integers in both engines and the
    result is bit-deterministic — no accumulation-order float noise.
    """
    qty = F.col("l_quantity").cast("long")
    g = lineitem.groupBy("l_returnflag").agg(
        F.sum(qty.cast("decimal(38,0)") * cents("l_extendedprice")).alias("swx"),
        F.sum(qty).cast("decimal(38,0)").alias("sw"),
        F.count(F.lit(1)).alias("n"),
    )
    # wavg = Σ(q·c)/Σq: exact integer ratio rounded half-away-from-zero
    # to 4 dp in integer space (r11 hardening; q·c widened to decimal
    # BEFORE the multiply — tick-scale cents × bulk quantities overflow
    # int64 long before 100 TB)
    w4 = F.expr(
        "(CASE WHEN swx < 0 THEN -1 ELSE 1 END) * "
        + floor_div_sql("20000 * abs(swx) + sw", "2 * sw")
    )
    return g.select(
        "l_returnflag",
        (w4.cast("double") / F.lit(1e4)).alias("wavg_price_c"),
        "n",
    )


# Count-min sketch geometry. Hashes are md5-prefix based (engine-portable,
# seed-free) so the sketch — and therefore its estimates — is DETERMINISTIC
# and cross-engine reproducible, unlike seeded native sketch aggregates.
CMS_DEPTH = 4
CMS_WIDTH = 64


def agg_count_min(events: DataFrame, k: int = 20) -> DataFrame:
    """Count-min-sketch heavy hitters: exact per-user event counts beside
    the CMS estimate (estimate >= exact always; equality when no collision).

    The 100 TB shape: the sketch is CMS_DEPTH x CMS_WIDTH counters built by
    one hash-aggregate with map-side combine (the d hash rows explode from
    each group AFTER the per-user pre-aggregate, so the explode runs on
    |users| rows, not |events|). Sketches from different partitions /
    days / tables merge by cell-wise addition — the same re-aggregatable
    rollup contract as `agg_hll_merge`, but with a point-query estimate
    that is exactly reproducible in any engine (md5 is md5 everywhere).
    Top-k exact counts come from a TakeOrdered (sort+limit, no global
    shuffle); the tiny sketch broadcasts onto the probe side.
    """
    # counts feeds THREE branches (sketch build, top-k, probe side);
    # localCheckpoint materializes the |users|-row aggregate once instead
    # of re-running the full-events hash agg per branch
    counts = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    hashes = counts.select(
        "user_id",
        "n",
        F.explode(F.array(*[F.lit(j) for j in range(CMS_DEPTH)])).alias("j"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH,
    )
    cms = hashes.groupBy("j", "bucket").agg(F.sum("n").alias("bsum"))
    top = counts.orderBy(F.desc("n"), "user_id").limit(k)
    return (
        top.join(hashes.select("user_id", "j", "bucket"), "user_id")
        .join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("user_id", "n")
        .agg(F.min("bsum").alias("n_cms"))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_exact"),
            F.col("n_cms").cast("long").alias("n_cms"),
        )
    )


def table_profile(df: DataFrame, approx: bool = False) -> DataFrame:
    """Per-column table statistics — the ANALYZE surface (row count, null
    count, exact NDV, min/max) that feeds CBO-style planning and data-quality
    monitoring.

    ONE aggregate pass emits every column's count/NDV/numeric stats side by
    side (Spark plans the multi-countDistinct via a single expand +
    two-phase hash agg under AQE — the same shape as `agg_distinct`), then
    a map-only explode unpivots the 1-row result to long format. Numerics
    and timestamps profile min/max as doubles (µs for timestamps), strings
    lexically — no cross-engine float formatting anywhere.

    String min/max run as a SECOND, group-less pass (r16): a string agg
    buffer is not fixed-width, so folding lexical min/max into the NDV
    aggregate demoted the WHOLE expand chain to SortAggregate — a full
    sort of (n_cols+1)·|rows| expanded rows (measured: 3 SortAggregates +
    2 Sorts at sf0.1, ~3.8 s warm). Split, the expand pass is a pure
    two-phase HashAggregate and the string pass is a grouping-free fold
    (no Sort node at all); the two 1-row results cross-join for free. Two
    scans of the pruned columns beat one sort of a 7× expansion at any
    scale.

    ``approx=True`` IS the 100 TB mode: `approx_count_distinct` (HLL) per
    column — one pass, no Expand, rsd 5% — while every other stat stays
    exact. Default stays exact NDV for oracle parity; the two modes share
    the whole plan except the NDV expression.
    """
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double", "boolean"}
    aggs = [F.count(F.lit(1)).alias("__n")]
    cols: list[tuple[str, str]] = []  # (name, kind)
    for fld in df.schema.fields:
        name = fld.name
        t = fld.dataType.simpleString()
        # explicit kind dispatch: only genuinely numeric types take the
        # double-cast branch; date rides the timestamp path (µs at
        # midnight); everything else (binary, array, struct, map)
        # profiles null-count/NDV only — casting those to double would
        # yield NULL stats or fail analysis outright.
        if t == "string":
            kind = "str"
        elif t.startswith("timestamp") or t == "date":
            kind = "ts"
        elif t in numeric or t.startswith("decimal"):
            kind = "num"
        else:
            kind = "other"
        cols.append((name, kind))
        num_null = F.lit(None).cast("double")
        if kind in ("str", "other"):
            # string columns: lexical min/max go to the separate
            # grouping-free pass below — keeping them out of the expand
            # aggregate is what keeps it hash-able (see docstring)
            mn_n, mx_n = num_null, num_null
        else:
            c = (ts_us_expr(df, name) if kind == "ts" else F.col(name)).cast("double")
            mn_n, mx_n = F.min(c), F.max(c)
        # map columns are not comparable in Spark — countDistinct would
        # fail analysis, so their NDV is null (count of non-nulls stands)
        if "map<" in t:
            ndv = F.lit(None).cast("long")
        elif approx:
            ndv = F.approx_count_distinct(name)
        else:
            ndv = F.countDistinct(name)
        aggs += [
            F.count(name).alias(f"{name}__nn"),
            ndv.alias(f"{name}__ndv"),
            mn_n.alias(f"{name}__mn_n"),
            mx_n.alias(f"{name}__mx_n"),
        ]
    str_pass = [
        a
        for name, kind in cols
        if kind == "str"
        for a in (
            F.min(name).alias(f"{name}__mn_s"),
            F.max(name).alias(f"{name}__mx_s"),
        )
    ]
    one = df.agg(*aggs)
    if str_pass:
        one = one.crossJoin(df.agg(*str_pass))
    structs = [
        F.struct(
            F.lit(name).alias("col_name"),
            F.col("__n").cast("long").alias("n_rows"),
            (F.col("__n") - F.col(f"{name}__nn")).cast("long").alias("n_null"),
            F.col(f"{name}__ndv").cast("long").alias("ndv"),
            F.col(f"{name}__mn_n").alias("min_num"),
            F.col(f"{name}__mx_n").alias("max_num"),
            (
                F.col(f"{name}__mn_s")
                if kind == "str"
                else F.lit(None).cast("string")
            ).alias("min_str"),
            (
                F.col(f"{name}__mx_s")
                if kind == "str"
                else F.lit(None).cast("string")
            ).alias("max_str"),
        )
        for name, kind in cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# Histogram-sketch geometry: 64 equi-width bins over a PRE-AGREED domain.
# Fixed edges are what make per-shard histograms cell-wise mergeable (the
# same contract as the CMS grid) — a data-dependent domain would need a
# second pass and break merges across shards/days.
QSK_BINS = 64
QSK_LO = 0.0
QSK_HI = 1024.0


def agg_quantile_sketch(events: DataFrame) -> DataFrame:
    """Mergeable quantile estimation per event_type: a fixed-domain 64-bin
    histogram + linear interpolation inside the target bin (p50/p95).

    The third re-aggregatable sketch family (HLL = distinct, CMS =
    frequency, this = quantiles): each shard's histogram is ≤64 bigint
    cells, shards merge by addition, and the estimate is pure integer
    arithmetic over the merged cells — deterministic, engine-portable, and
    oracle-checkable, unlike t-digest/KLL whose estimates depend on
    accumulation order. One hash-aggregate with map-side combine (shuffle
    bytes = |types|·64 cells); the quantile walk runs on the tiny
    histogram, never the raw data. Out-of-domain values clamp into the
    edge bins (the documented fixed-domain trade; `agg_percentile` is the
    exact-but-full-sort alternative).

    r12 exactness hardening: with LO = 0 and integer bin width w = 16,
    the in-bin interpolated estimate is the exact RATIONAL
    16·(bin·c + target − cum_before)/c, so the 4 dp output rounds via the
    sign-free integer device — the former round(double, 4) on this
    rational was the engine half-boundary class (r9 win_macd), the last
    one in the sketch family. `stream_quantile` replays the identical
    grid integers in Python ints, so stream ≡ batch ≡ oracle bitwise.
    """
    assert QSK_LO == 0.0 and (QSK_HI - QSK_LO) % QSK_BINS == 0
    w = (QSK_HI - QSK_LO) / QSK_BINS
    b = F.floor((F.col("value") - QSK_LO) / F.lit(w)).cast("long")
    bin_id = F.least(F.lit(QSK_BINS - 1), F.greatest(F.lit(0), b))
    hist = events.groupBy(
        "event_type", bin_id.alias("bin")
    ).agg(F.count(F.lit(1)).alias("c"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "bin",
        "c",
        F.sum("c").over(win).alias("cum"),
        F.sum("c").over(
            Window.partitionBy("event_type").orderBy("bin").rowsBetween(
                Window.unboundedPreceding, -1
            )
        ).alias("cum_before"),
        F.sum("c").over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    ).withColumn("cum_before", F.coalesce("cum_before", F.lit(0)))
    cum = cum.withColumn(
        "t50", F.ceil(F.lit(0.5) * F.col("n")).cast("long")
    ).withColumn("t95", F.ceil(F.lit(0.95) * F.col("n")).cast("long"))
    w_int = int(w)

    def est(tcol: str):
        # rank of the q-quantile in the merged histogram (0-indexed,
        # nearest-rank target), then linear interpolation inside its bin:
        # val = w·(bin·c + t − cum_before)/c — exact integer ratio ≥ 0,
        # device-rounded half-up to 4 dp (never round(double, 4))
        in_bin = (F.col("cum") >= F.col(tcol)) & (F.col("cum_before") < F.col(tcol))
        val = (
            F.expr(
                floor_div_sql(
                    f"20000 * ({w_int} * (CAST(bin AS DECIMAL(38,0)) * c"
                    f"                    + {tcol} - cum_before)) + c",
                    "2 * CAST(c AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(1e4)
        )
        return F.max(F.when(in_bin, val))

    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        est("t50").alias("est_p50"),
        est("t95").alias("est_p95"),
    )


def udaf_max_gap(events: DataFrame, event_type: str | None = None) -> DataFrame:
    """Largest silence per series — max gap between consecutive events of a
    (user, type) series, via a grouped-aggregate pandas UDF.

    This is the §2.B UDAF surface demo: a custom aggregate whose logic
    (sort inside the group, adjacent diff, max) a built-in can't express
    in one aggregate. Arrow ships each group's column once; the body is
    numpy on exact int64 µs, so parity with the window-lag oracle is
    exact. At 100 TB the shuffle is the same single groupBy any aggregate
    pays; groups are series-sized, not corpus-sized.

    ``event_type`` scopes the demo to one series type (pushed to the scan
    — the filter, not the UDAF, prunes): the registered query uses
    'purchase' so the benched key pays Arrow transfer for the series it
    demonstrates rather than the whole tape (r12 verdict item 8 — the key
    was the slowest warm entry in the registry purely on transfer volume,
    which the demo doesn't need to make its point).
    """
    if event_type is not None:
        events = events.filter(F.col("event_type") == event_type)
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module uses `from __future__ import
    # annotations`, which stringifies type hints beyond the resolver
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def max_gap(ts):
        a = np.sort(ts.to_numpy())
        if len(a) < 2:
            return None
        return int(np.diff(a).max())

    # Spark disallows mixing a group-agg pandas UDF with JVM aggregates in
    # one agg, so the row count is a second pandas aggregate
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(ts):
        return len(ts)

    return (
        events.groupBy("user_id", "event_type")
        .agg(
            max_gap("ts_us").alias("max_gap_us"),
            n_rows("ts_us").alias("n"),
        )
        .filter(F.col("max_gap_us").isNotNull())
    )


def sql_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """The SQL entry point, exercised end-to-end: a TPC-H-Q1-shaped pricing
    summary submitted as SQL TEXT over a temp view — same Catalyst plan as
    the DataFrame form (`spark.sql` and the DSL meet in the same logical
    plan), so everything the engine guarantees (pushdown, partial aggs,
    cents-exact money) holds for SQL users too.

    The relation is bound per-call via a DataFrame parameter marker rather
    than a session-global temp view, so concurrent callers in one session
    can't clobber each other's registration between register and query.
    """
    return lineitem.sparkSession.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qty_c,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_price_c,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                 AS sum_disc_price_c,
               round(avg(l_discount), 6) AS avg_disc
        FROM {lineitem_v}
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """,
        lineitem_v=lineitem,
    )


def agg_mad(events: DataFrame) -> DataFrame:
    """Median absolute deviation per event_type — the robust spread measure
    (`agg_stats`' stddev is one outlier away from useless; MAD isn't).

    Two exact percentile aggregates over the same grouping: the per-group
    median, broadcast back (|groups| rows), then the median of absolute
    deviations. Exact interpolated percentiles both times, same engine
    contract as `agg_percentile`.

    round(·, 4) safety rationale (r11 audit): interpolated medians of
    cents-representable values live on the 1/200 grid (a value or the
    midpoint of two), 0.005 ≫ the 5e-5 half boundary — the round can
    never sit on an engine-divergent boundary, it only trims repr noise.
    """
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    return (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 4).alias("median"),
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)), 4
            ).alias("mad"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def agg_gini(events: DataFrame) -> DataFrame:
    """Gini concentration coefficient of value per event_type — the
    inequality rollup (is activity value spread evenly or dominated by a
    few events?).

    Rank formula on exact bigint cents: G = (2·Σ i·x_i − (n+1)·Σ x_i)
    / (n·Σ x_i) over values sorted ascending (ties broken by event_id for
    a deterministic rank). One window for the rank (single shuffle on
    event_type) + one aggregate.

    Exact-parity contract (r11, the VERDICT r10 double-round hardening):
    every term is an exact integer (Σ i·x widened to decimal(38,0) BEFORE
    the multiply — i·x overflows int64 once ranks reach ~1e12 at tick-
    scale cents), so G is a ratio of exact integers rounded half-away-
    from-zero to 6 dp IN INTEGER SPACE (sign-aware DIV, the _iround6
    device) — the float subtraction + round(double, 6) it replaces was
    the r9 win_macd half-boundary hazard class.
    """
    w = Window.partitionBy("event_type").orderBy(cents("value"), "event_id")
    ranked = events.select(
        "event_type",
        cents("value").alias("xc"),
        F.row_number().over(w).cast("long").alias("i"),
    )
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xc").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("xc")).alias("six"),
    )
    # num = 2·Σix − (n+1)·Σx, den = n·Σx — both exact decimals; sign-aware
    # half-up on the 1e-6 grid (den sign folds into the quotient sign)
    g6 = F.expr(
        "(CASE WHEN (2 * six - (n + 1) * sx) < 0 THEN -1 ELSE 1 END)"
        " * (CASE WHEN sx < 0 THEN -1 ELSE 1 END)"
        " * " + floor_div_sql(
            "2000000 * abs(2 * six - (n + 1) * sx) + abs(n * sx)",
            "2 * abs(n * sx)",
        )
    )
    return g.select(
        "event_type",
        (g6.cast("double") / F.lit(1e6)).alias("gini"),
        F.col("n").cast("long").alias("n"),
    )


def agg_entropy(events: DataFrame) -> DataFrame:
    """Shannon entropy (bits) of each user's event_type distribution — the
    behavioral-diversity / label-balance metric (0 = one event type only;
    log2(k) = uniform over k types). Standard data-quality rollup before
    training on behavioral data.

    Two hash aggregates with map-side combine: per-(user, type) counts
    (shuffle bytes = |user × type| pairs), then per-user
    H = log2(n) − (Σ cᵢ·log2(cᵢ))/n on exact bigint counts — one log per
    GROUP member, not per row, and round(6) on both engines (the repo's
    standard float-emission contract, see module docstring).
    """
    per_type = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c").cast("double")
    return per_type.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(
            F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 6
        ).alias("entropy_bits"),
    )


def agg_twap(events: DataFrame) -> DataFrame:
    """Time-weighted average price — kdb's canonical tick rollup: each
    observation is weighted by how long it remained the latest value
    (piecewise-constant-left), so irregularly-sampled series average
    correctly where a row-weighted mean over-counts burst periods.

    twap = Σ vᵢ·(tᵢ₊₁−tᵢ) / Σ (tᵢ₊₁−tᵢ) over each (user, type) series; the
    final tick carries no duration. Exactness: value joins the engine's
    bigint-cents convention and Δt is integer µs; the cents factor is cast
    to decimal(38,0) BEFORE the multiply so the product itself can never
    overflow long (large cents × multi-day µs gaps would, and Spark 4 ANSI
    makes that a runtime error), the SUM stays in decimal(38,0), and a
    single double division ends the pipeline —
    no accumulation-order float noise, same as agg_wavg. One series-key
    window shuffle reused by the rollup.
    """
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    ticks = events.select(
        "user_id", "event_type", "ts_us", cents("value").alias("c"),
        F.lead("ts_us").over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    dt = F.col("t_next") - F.col("ts_us")
    g = ticks.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(dt).cast("long").alias("duration_us"),
        F.sum(F.col("c").cast("decimal(38,0)") * dt).alias("scd"),
    )
    # twap = Σc·Δt/ΣΔt: exact integer ratio rounded half-away-from-zero
    # to 4 dp in integer space (r11 hardening — never round(double, 4))
    t4 = F.expr(
        "(CASE WHEN scd < 0 THEN -1 ELSE 1 END) * "
        + floor_div_sql(
            "20000 * abs(scd) + duration_us",
            "2 * CAST(duration_us AS DECIMAL(38,0))",
        )
    )
    return g.select(
        "user_id",
        "event_type",
        "n_intervals",
        "duration_us",
        (t4.cast("double") / F.lit(1e4)).alias("twap_c"),
    )


def agg_distinct_overlap(
    events: DataFrame, split_us: int = 1_705_276_800_000_000
) -> DataFrame:
    """Audience overlap between two periods: per event_type, how many
    distinct users were active before AND after the split (plus each
    period's exclusive counts) — the retention/churn rollup behind every
    "returning users" metric.

    ONE pass, no self-join: per (type, user) aggregate the min/max
    timestamp, then a conditional count per type. Two bounded-key
    hash aggregates; contrast the naive period-A ∩ period-B semi-join,
    which scans twice and shuffles the fact table twice. split defaults
    to 2024-01-15T00:00Z (mid-corpus).
    """
    per_user = events.groupBy("event_type", "user_id").agg(
        F.min("ts_us").alias("first_us"), F.max("ts_us").alias("last_us")
    )
    before = F.col("first_us") < split_us  # has activity before the split
    after = F.col("last_us") >= split_us  # has activity at/after it
    return per_user.groupBy("event_type").agg(
        F.sum((before & after).cast("long")).alias("n_both"),
        F.sum((before & ~after).cast("long")).alias("n_only_before"),
        F.sum((~before & after).cast("long")).alias("n_only_after"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )


def agg_autocorr(events: DataFrame, min_n: int = 3) -> DataFrame:
    """Lag-1 autocorrelation per series — the persistence / mean-reversion
    diagnostic (kdb users compute it over every tick stream; near +1 =
    trending, near −1 = oscillating).

    One series-key window (lag) reusing the engine's standard sort, then
    Pearson on the CENTS grid from exact integer moments (decimal(38,0)
    sums — correlation is affine-invariant, so the cents quantization is
    the only contract change, and exact moments mean both engines derive
    the identical double before round(4): no accumulation-order tolerance,
    unlike a built-in `corr`). Zero-variance series emit null via the
    den>0 guard — the built-in would throw a divide-by-zero under ANSI
    mode (Spark 4 default; caught by test). Series with < min_n lagged
    pairs are dropped.
    """
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    c = cents("value")
    pairs = events.select(
        "user_id", "event_type", c.alias("x"),
        F.lag(c).over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    dec = "decimal(38,0)"
    agg_df = pairs.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    n = F.col("n").cast(dec)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        agg_df.filter(F.col("n") >= min_n)
        .select(
            "user_id", "event_type", F.col("n").alias("n_pairs"),
            F.round(
                F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy)), 4
            ).alias("ac1"),
        )
    )


def sql_region_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H-Q5-shaped revenue rollup submitted as SQL TEXT: discounted
    revenue per region and order priority, descending. The second SQL
    entry point (after sql_pricing_summary) — this one exercises the
    optimizer's JOIN planning from SQL: the dimension chain
    (nation→region) is broadcast-sized at any realistic scale, the
    fact-side orders⋈lineitem equi-join shuffles on the order key, and
    revenue rides the engine's bigint-cents convention. Relations bind via
    per-call parameter markers (no session-global temp views).
    """
    return lineitem.sparkSession.sql(
        """
        SELECT r.r_name AS region, o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                        AS BIGINT)) AS revenue_c
        FROM {lineitem_v} l
        JOIN {orders_v} o ON l.l_orderkey = o.o_orderkey
        JOIN {customer_v} c ON o.o_custkey = c.c_custkey
        JOIN {nation_v} n ON c.c_nationkey = n.n_nationkey
        JOIN {region_v} r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, o.o_orderpriority
        ORDER BY revenue_c DESC, region, o_orderpriority
        """,
        lineitem_v=lineitem,
        orders_v=orders,
        customer_v=customer,
        nation_v=nation,
        region_v=region,
    )


def sql_ship_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, k: int = 10
) -> DataFrame:
    """TPC-H-Q3-shaped shipping-priority query as SQL TEXT: top unshipped
    orders (ordered before / shipped after the cut date) by discounted
    revenue within one market segment.

    Optimizer exercise: both date predicates and the segment filter are
    raw column-vs-literal comparisons, so they push into the parquet scans
    (row-group stat skipping on the TIMESTAMP_NTZ columns); customer is
    the smallest relation post-filter and broadcasts, the orders⋈lineitem
    fact join shuffles on the order key. Revenue in exact bigint cents;
    the top-k cut orders by the integer with o_orderkey as total
    tie-break, so the LIMIT is engine-independent
    (TakeOrderedAndProject, never a global sort).
    """
    return lineitem.sparkSession.sql(
        f"""
        SELECT l.l_orderkey,
               timestampdiff(MICROSECOND, {NTZ_EPOCH}, o.o_orderdate)
                 AS orderdate_us,
               o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                        AS BIGINT)) AS revenue_c
        FROM {{customer_v}} c
        JOIN {{orders_v}} o ON c.c_custkey = o.o_custkey
        JOIN {{lineitem_v}} l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue_c DESC, l.l_orderkey
        LIMIT {{k_v}}
        """,
        customer_v=customer,
        orders_v=orders,
        lineitem_v=lineitem,
        k_v=k,
    )


def sql_returned_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    k: int = 20,
) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report as SQL TEXT: customers ranked
    by revenue lost to returns ('R' flag) over one order-date year.

    The year predicate is a half-open raw-literal range (pushes to the
    orders scan); the returnflag filter pushes to the lineitem scan; the
    nation dimension broadcasts. Revenue in exact bigint cents; the k=20
    cut orders by (revenue_c DESC, c_custkey) — a deterministic total
    order, executed as TakeOrderedAndProject.
    """
    return lineitem.sparkSession.sql(
        """
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_items,
               sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                        AS BIGINT)) AS revenue_c
        FROM {customer_v} c
        JOIN {orders_v} o ON c.c_custkey = o.o_custkey
        JOIN {lineitem_v} l ON l.l_orderkey = o.o_orderkey
        JOIN {nation_v} n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue_c DESC, c.c_custkey
        LIMIT {k_v}
        """,
        customer_v=customer,
        orders_v=orders,
        lineitem_v=lineitem,
        nation_v=nation,
        k_v=k,
    )


def agg_kmv_overlap(
    events: DataFrame, k: int = 64, split_us: int = 1_705_276_800_000_000
) -> DataFrame:
    """K-Minimum-Values sketch overlap: estimate each period's distinct
    users AND their intersection per event_type — the set-operation
    sketches HLL cannot give (HLL unions; it cannot intersect). KMV keeps
    the k smallest normalized hashes of a set; |S| ≈ (k−1)/u_k, sketches
    union by merging+truncating, and intersection falls out of
    inclusion–exclusion on the union sketch.

    Engine-portable by construction: the sketch is the k smallest
    md5-prefix hashes (the same seed-free convention as agg_count_min —
    48 bits fit a double exactly, and DuckDB computes the identical md5),
    so unlike `agg_approx_distinct` (engine-specific HLL, rows-only check)
    every estimate here replays EXACTLY in the oracle. Plan: one distinct
    on (type, period, user-hash), per-key window top-k (k rows/key
    shuffle — the mergeable-rollup shape of agg_hll_merge), then a
    bounded rollup. Keys with < k members short-circuit to exact counts.
    """
    period = (F.col("ts_us") >= split_us).alias("late")
    # normalized rank in [0,1): first 48 md5 bits over 2^48 (exact double)
    u = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("double") / F.lit(281474976710656.0)
    ).alias("u")
    members = events.select("event_type", period, u).distinct()
    w = Window.partitionBy("event_type", "late").orderBy("u")
    sketch = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )

    def est(kth: F.Column, n: F.Column) -> F.Column:
        return F.when(n < k, n.cast("double")).otherwise((k - 1) / kth)

    per_side = sketch.groupBy("event_type", "late").agg(
        F.max("u").alias("kth"), F.count(F.lit(1)).alias("n")
    )
    a = per_side.filter(~F.col("late")).select(
        "event_type", F.col("kth").alias("kth_a"), F.col("n").alias("n_a")
    )
    b = per_side.filter(F.col("late")).select(
        "event_type", F.col("kth").alias("kth_b"), F.col("n").alias("n_b")
    )
    # union sketch: merge the two k-sets, dedup shared hashes, re-truncate
    wu = Window.partitionBy("event_type").orderBy("u")
    uni = (
        sketch.select("event_type", "u").distinct()
        .withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= k)
        .groupBy("event_type")
        .agg(F.max("u").alias("kth_u"), F.count(F.lit(1)).alias("n_u"))
    )
    est_a = est(F.col("kth_a"), F.col("n_a"))
    est_b = est(F.col("kth_b"), F.col("n_b"))
    est_u = est(F.col("kth_u"), F.col("n_u"))
    return (
        a.join(b, "event_type").join(uni, "event_type")
        .select(
            "event_type",
            F.round(est_a, 4).alias("est_before"),
            F.round(est_b, 4).alias("est_after"),
            F.round(est_u, 4).alias("est_union"),
            F.round(est_a + est_b - est_u, 4).alias("est_both"),
        )
    )


def agg_vwap(events: DataFrame) -> DataFrame:
    """Volume-weighted average price per series — the other half of kdb's
    canonical tick rollup pair (`agg_twap` weights by holding TIME; VWAP
    weights by traded SIZE, the execution-quality benchmark every trading
    stack reports).

    The size comes out of the row's JSON payload (`props.$.k`, an int —
    the engine's semi-structured column, extracted JVM-side with
    `get_json_object`, never a Python UDF). Exactness follows agg_twap:
    cents cast to decimal(38,0) BEFORE the multiply so cents×volume can
    never overflow long under ANSI, and the numerator sums in decimal.
    round(4) happens in INTEGER space (sign-aware half-away-from-zero
    DIV, the agg_linreg device) — a double round() on the exact integer
    ratio is the cross-engine half-boundary trap, live here once total
    volume reaches ~2e4 (ADVICE r9). Zero-volume series (all k=0) emit
    null rather than a divide error. ONE series-key hash-agg shuffle —
    partial aggregation map-side; at 100 TB the JSON extraction fuses
    into the scan stage.
    """
    k = F.get_json_object("props", "$.k").cast("long")
    c = cents("value")
    g = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
        F.sum(k).cast("long").alias("volume"),
        F.sum(c.cast("decimal(38,0)") * k).alias("vnum"),
    )
    return g.select(
        "user_id",
        "event_type",
        "n_ticks",
        "volume",
        F.when(
            F.col("volume") > 0,
            F.expr(
                "(CASE WHEN vnum < 0 THEN -1 ELSE 1 END) * "
                + floor_div_sql(
                    "20000 * abs(vnum) + CAST(volume AS DECIMAL(38,0))",
                    "2 * CAST(volume AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(1e4),
        ).alias("vwap_c"),
    )


def agg_seasonality(events: DataFrame) -> DataFrame:
    """Hour-of-day seasonality profile per event_type — the periodic FOLD
    of the time axis (all Mondays 9am pooled together), where
    `agg_resample` buckets it LINEARLY (each hour its own bucket). The
    diurnal-shape matrix behind capacity planning and anomaly baselines.

    Hour index is integer arithmetic on the µs epoch (truncating div by
    HOUR_US — Spark's long cast and DuckDB's // both truncate toward
    zero — then pmod 24, so the index stays in 0..23 even for pre-1970
    epochs where a plain % would go negative; no timezone/calendar
    functions anywhere). Counts and cents sums are exact bigints; the
    4-decimal mean is rounded IN INTEGER SPACE — half-up of the rational
    sum·100/n via (200·sum + n) div (2n) on decimals — because a double
    round() here is a cross-engine trap: a mean landing exactly on a
    half-boundary (e.g. 55143/8/100 = 68.92875) rounds UP in Spark
    (which rounds the shortest decimal rendering) and DOWN in
    C-rounding engines (which round the binary double, stored a hair
    below the boundary). Values are nonnegative (cents ≥ 1), so
    floor-div half-up is exact. Output is a bounded |types|×24 matrix
    from ONE hash-agg shuffle with map-side partials.
    """
    hod = F.pmod((F.col("ts_us") / F.lit(HOUR_US)).cast("long"), F.lit(24)).cast(
        "int"
    )
    c = cents("value")
    g = events.groupBy(F.col("event_type"), hod.alias("hour_of_day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("long").alias("sum_value_c"),
    )
    return g.select(
        "event_type",
        "hour_of_day",
        "n",
        F.col("sum_value_c").alias("sum_value_c"),
        (
            F.expr(
                "(CASE WHEN sum_value_c < 0 THEN -1 ELSE 1 END) * "
                + floor_div_sql(
                    "200 * abs(CAST(sum_value_c AS DECIMAL(38,0)))"
                    " + CAST(n AS DECIMAL(38,0))",
                    "2 * CAST(n AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(10000.0)
        ).alias("avg_value"),
    )


def sql_top_supplier(
    supplier: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H-Q15-shaped top-supplier query as SQL TEXT: revenue per
    supplier over one shipdate quarter, returning the supplier(s) whose
    revenue equals the global max.

    Q15's textbook form reads the revenue CTE twice (rollup + scalar max
    subquery) — Catalyst plans that as TWO lineitem scans. Here the max
    is an empty-frame window over the aggregate instead, so the fact
    table scans ONCE and the single-partition window runs over the
    |suppliers|-row revenue table — dimension-bounded, never fact-sized,
    exactly where a global window is safe at 100 TB. The quarter
    predicate is a raw literal compare pushed into that one scan. Revenue
    in exact bigint cents so the equality-with-max predicate is
    engine-exact (a double revenue would make ties float-fragile);
    supplier is dimension-sized and broadcasts.
    """
    return lineitem.sparkSession.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT)) AS total_revenue_c
          FROM {lineitem_v}
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey),
        ranked AS (
          SELECT supplier_no, total_revenue_c,
                 max(total_revenue_c) OVER () AS max_revenue_c
          FROM revenue)
        SELECT s.s_suppkey, s.s_name, r.total_revenue_c
        FROM {supplier_v} s
        JOIN ranked r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue_c = r.max_revenue_c
        ORDER BY s.s_suppkey
        """,
        supplier_v=supplier,
        lineitem_v=lineitem,
    )


def agg_bitmap_distinct(events: DataFrame) -> DataFrame:
    """Exact per-(type, day) distinct users via BITMAP WORDS — the bitmap-
    index acceleration every OLAP engine ships (Druid/ClickHouse/Pinot
    groupBitmap): pack user ids into 62-bit words with bit_or, count set
    bits. All JVM built-ins (shiftleft / bit_or / bit_count), no sketch
    error — this is the exact-answer mid-point between COUNT(DISTINCT)
    and HLL.

    Scale shape: the FIRST aggregate collapses up to 62 users into one
    bigint map-side, so the (type, day, word) shuffle carries ≤ |users|/62
    rows per group where COUNT(DISTINCT) shuffles every distinct (type,
    day, user) triple; the second aggregate is a bounded rollup of word
    popcounts. 62-bit words, not 64: bit index 63 would need 1<<63, which
    overflows signed BIGINT range-checked engines (DuckDB rejects it) —
    62 keeps every word positive and portable.
    """
    day = (F.col("ts_us") / F.lit(DAY_US)).cast("long")
    word_idx = (F.col("user_id") / F.lit(62)).cast("long")
    # expr form: the Python shiftleft wrapper only takes a literal count
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
    words = (
        events.select(
            "event_type", day.alias("day_idx"), word_idx.alias("w"), bit.alias("b")
        )
        .groupBy("event_type", "day_idx", "w")
        .agg(F.bit_or("b").alias("word"))
    )
    return words.groupBy("event_type", "day_idx").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )


def sql_forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q6-shaped forecast-revenue-change query as SQL TEXT: the
    discount revenue that would have been kept if small-discount,
    low-quantity lines had shipped undiscounted in one year.

    Pure single-table scan-aggregate — the canonical predicate-pushdown
    probe: all three conjuncts (shipdate range, discount band, quantity
    cap) must reach the parquet scan as PushedFilters, the scan prunes to
    the 4 referenced columns, and the answer is one partial-aggregated
    row. At 100 TB the shipdate range predicate also prunes partitions
    when the table is date-partitioned. Discount literals are CAST to
    DOUBLE explicitly: a bare 0.05 parses as DECIMAL in some engines and
    a decimal-vs-double compare is a cross-engine parity trap (the EWMA
    oracles hit the same one). Money kept in exact bigint cents.
    """
    return lineitem.sparkSession.sql(
        """
        SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
                             AS BIGINT)) AS BIGINT) AS revenue_c,
               CAST(count(*) AS BIGINT) AS n_items
        FROM {lineitem_v}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= CAST(0.05 AS DOUBLE)
          AND l_discount <= CAST(0.07 AS DOUBLE)
          AND l_quantity < CAST(24 AS DOUBLE)
        """,
        lineitem_v=lineitem,
    )


def sql_nation_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H-Q7-shaped bilateral shipping volume as SQL TEXT: revenue
    between two trading nations per shipment year, both directions.

    Scale shape: the ONLY fact-sized input is lineitem; orders is
    fact-adjacent and join-ordered against it by Catalyst (AQE picks
    SMJ); customer / supplier / nation are dimensions that broadcast.
    The nation-pair disjunction is applied AFTER the s/c nation joins on
    dimension columns, so it prunes rows before the group-by — the final
    aggregate is |2 pairs × years| rows. year() stays a built-in so the
    whole pipeline is codegen'd.
    """
    return lineitem.sparkSession.sql(
        """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
               CAST(count(*) AS BIGINT) AS n_items
        FROM {lineitem_v} l
        JOIN {orders_v} o ON l.l_orderkey = o.o_orderkey
        JOIN {customer_v} c ON o.o_custkey = c.c_custkey
        JOIN {supplier_v} s ON l.l_suppkey = s.s_suppkey
        JOIN {nation_v} n1 ON s.s_nationkey = n1.n_nationkey
        JOIN {nation_v2} n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        """,
        lineitem_v=lineitem,
        orders_v=orders,
        customer_v=customer,
        supplier_v=supplier,
        nation_v=nation,
        nation_v2=nation,
    )


def sql_market_share(
    part: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H-Q8-shaped market-share query as SQL TEXT: one supplier
    nation's share of ECONOMY-part revenue sold into ASIA, per order
    year. (Trimmed schema: share is attributed by the SUPPLIER's nation
    via s_nationkey on the supplier dim folded into the conditional sum.)

    Numerator and denominator are both exact bigint-cent sums computed in
    ONE pass over the joined fact rows (a conditional-aggregation CASE,
    not two scans); the share division happens on the per-year aggregate
    rows only. part/customer/nation/region broadcast; the p_type filter
    reaches the part scan and prunes the fact join by partkey.
    """
    return lineitem.sparkSession.sql(
        """
        WITH flat AS (
          SELECT year(o.o_orderdate) AS o_year,
                 CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT) AS vol_c,
                 n2.n_name AS supp_nation
          FROM {part_v} p
          JOIN {lineitem_v} l ON p.p_partkey = l.l_partkey
          JOIN {orders_v} o ON l.l_orderkey = o.o_orderkey
          JOIN {customer_v} c ON o.o_custkey = c.c_custkey
          JOIN {nation_v} n ON c.c_nationkey = n.n_nationkey
          JOIN {region_v} r ON n.n_regionkey = r.r_regionkey
          JOIN {supplier_v} s ON l.l_suppkey = s.s_suppkey
          JOIN {nation_v2} n2 ON s.s_nationkey = n2.n_nationkey
          WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA')
        , agg AS (
          SELECT o_year,
                 CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol_c
                               ELSE 0 END) AS BIGINT) AS nation_vol_c,
                 CAST(sum(vol_c) AS BIGINT) AS total_vol_c
          FROM flat
          GROUP BY o_year)
        SELECT o_year, nation_vol_c, total_vol_c,
               CAST("""
        + floor_div_sql(
            "2000000 * CAST(nation_vol_c AS DECIMAL(38,0)) + total_vol_c",
            "2 * CAST(total_vol_c AS DECIMAL(38,0))",
        )
        + """ AS DOUBLE) / 1000000.0 AS mkt_share
        FROM agg
        """,
        part_v=part,
        lineitem_v=lineitem,
        orders_v=orders,
        customer_v=customer,
        nation_v=nation,
        region_v=region,
        supplier_v=supplier,
        nation_v2=nation,
    )


def sql_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H-Q14-shaped promotion-effect query as SQL TEXT: PROMO-part
    share of revenue per shipment month (Q14's single-month scalar
    widened to a monthly series).

    One fact scan; part is a broadcast dimension; promo share is a
    conditional sum over exact bigint cents so the numerator/denominator
    are order-independent, divided only on the |months| aggregate rows.
    year()/month() are codegen built-ins, so the fact pipeline is one
    WholeStageCodegen span into a partial aggregate.
    """
    return lineitem.sparkSession.sql(
        """
        WITH agg AS (
          SELECT year(l.l_shipdate) AS y, month(l.l_shipdate) AS m,
                 CAST(sum(CASE WHEN p.p_type = 'PROMO'
                               THEN CAST(round(l.l_extendedprice
                                               * (1 - l.l_discount) * 100)
                                         AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS promo_revenue_c,
                 CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                     * 100) AS BIGINT)) AS BIGINT)
                   AS total_revenue_c
          FROM {lineitem_v} l
          JOIN {part_v} p ON l.l_partkey = p.p_partkey
          GROUP BY year(l.l_shipdate), month(l.l_shipdate))
        SELECT y, m, promo_revenue_c, total_revenue_c,
               CAST("""
        + floor_div_sql(
            "200000000 * CAST(promo_revenue_c AS DECIMAL(38,0))"
            " + total_revenue_c",
            "2 * CAST(total_revenue_c AS DECIMAL(38,0))",
        )
        + """ AS DOUBLE) / 1000000.0 AS promo_pct
        FROM agg
        """,
        lineitem_v=lineitem,
        part_v=part,
    )


def sql_small_qty_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H-Q17-shaped small-quantity-order revenue as SQL TEXT: revenue
    from lines of one brand whose quantity is under half the part's
    average order quantity.

    Q17's textbook correlated scalar subquery is written as an explicit
    per-part aggregate CTE joined back — the exact decorrelation Catalyst
    would do, stated declaratively so BOTH engines plan one fact scan for
    the average and one for the probe (no per-row re-scan). The avg is
    over integer-valued quantities: the double sum is exact (< 2^53), so
    avg and the 0.5× threshold are bit-identical across engines and
    partition orders — safe for an exact-match gate. Brand filter prunes
    the probe side via the broadcast part dim.
    """
    return lineitem.sparkSession.sql(
        """
        WITH part_avg AS (
          SELECT l_partkey, avg(l_quantity) AS avg_qty
          FROM {lineitem_v}
          GROUP BY l_partkey)
        SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_c,
               CAST(count(*) AS BIGINT) AS n_items
        FROM {lineitem_v2} l
        JOIN {part_v} p ON p.p_partkey = l.l_partkey
        JOIN part_avg pa ON pa.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity < 0.5 * pa.avg_qty
        """,
        lineitem_v=lineitem,
        lineitem_v2=lineitem,
        part_v=part,
    )


def sql_large_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H-Q18-shaped large-volume-customer query as SQL TEXT: the top
    orders whose summed line quantity exceeds a threshold, with their
    customers.

    The quantity rollup happens FIRST on lineitem alone (partial-agg
    friendly, one shuffle on orderkey), and only the >200 survivors —
    a few hundred rows at any scale, because the threshold binds per
    order, not per table — join to orders and the broadcast customer
    dim. Q18's textbook IN-subquery form is the same plan; stated as a
    CTE join so both engines agree. Exact: quantities are integer-valued
    doubles, so sum_qty is order-independent; totalprice goes to bigint
    cents for the ORDER BY so ties break exactly.
    """
    return lineitem.sparkSession.sql(
        """
        WITH big AS (
          SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM {lineitem_v}
          GROUP BY l_orderkey
          HAVING sum(l_quantity) > CAST(200 AS DOUBLE))
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_c,
               b.sum_qty
        FROM big b
        JOIN {orders_v} o ON o.o_orderkey = b.l_orderkey
        JOIN {customer_v} c ON c.c_custkey = o.o_custkey
        ORDER BY totalprice_c DESC, o.o_orderkey
        LIMIT 100
        """,
        lineitem_v=lineitem,
        orders_v=orders,
        customer_v=customer,
    )


def sql_bracketed_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H-Q19-shaped bracketed-predicate revenue as SQL TEXT: revenue
    from three (brand, size-range, quantity-range) brackets OR'd
    together.

    The classic disjunctive-predicate planning probe: the OR spans
    columns from BOTH tables, so neither side's scan can evaluate it
    alone — but each side's derivable envelope (p_size upper bound,
    quantity bands) still pushes down, and the residual OR runs post-join
    in codegen. part broadcasts; one fact scan; one scalar aggregate row
    out. Quantity literals cast to DOUBLE for decimal-literal parity.
    """
    return lineitem.sparkSession.sql(
        """
        SELECT CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_c,
               CAST(count(*) AS BIGINT) AS n_items
        FROM {lineitem_v} l
        JOIN {part_v} p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN CAST(1 AS DOUBLE)
                                    AND CAST(11 AS DOUBLE))
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
               AND l.l_quantity BETWEEN CAST(10 AS DOUBLE)
                                    AND CAST(20 AS DOUBLE))
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN CAST(20 AS DOUBLE)
                                    AND CAST(30 AS DOUBLE))
        """,
        lineitem_v=lineitem,
        part_v=part,
    )


def sql_idle_rich_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H-Q22-shaped sales-opportunity query as SQL TEXT: per nation,
    the customers whose balance beats the positive-balance average but
    who placed no order since 2000 (trimmed schema: nation key replaces
    Q22's phone country code, a recency anti-join replaces NOT EXISTS
    over all orders — this corpus has no order-less customers).

    The global average is computed over exact integer cents (one tiny
    scalar aggregate both engines agree on bit-for-bit), then the
    NOT EXISTS becomes a LEFT ANTI join against the date-filtered orders
    projection — at scale that filter prunes order partitions by date
    and the anti join shuffles only (custkey) pairs. Output is a
    |nations|-row rollup: count + exact summed balance cents.
    """
    return customer.sparkSession.sql(
        """
        WITH avg_bal AS (
          SELECT avg(CAST(round(c_acctbal * 100) AS BIGINT)) AS ab_c
          FROM {customer_v}
          WHERE c_acctbal > CAST(0 AS DOUBLE))
        SELECT c.c_nationkey,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT))
                    AS BIGINT) AS total_bal_c
        FROM {customer_v2} c, avg_bal
        WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) > avg_bal.ab_c
          AND NOT EXISTS (
            SELECT 1 FROM {orders_v} o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY c.c_nationkey
        """,
        customer_v=customer,
        customer_v2=customer,
        orders_v=orders,
    )


def agg_skew_kurtosis(events: DataFrame) -> DataFrame:
    """Per-series higher-moment profile: mean, population skewness and
    excess kurtosis from EXACT integer power sums.

    Spark's own skewness()/kurtosis() aggregate float partials whose merge
    order varies run-to-run; here the four power sums accumulate in
    decimal(38,0) over bigint cents — order-independent and overflow-safe
    (cents⁴ ≤ ~6e18 per row, ×rows ≪ 1e38) — and the central-moment
    algebra runs once on the |groups| aggregate rows in doubles. One
    partial+final hash agg, same shuffle shape as agg_stats; ANSI-safe
    because every multiply happens in decimal, never long.
    """
    xc = cents("value")
    d1 = xc.cast("decimal(19,0)")
    sq = d1 * d1
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xc).cast("long").alias("s1"),
        F.sum(sq).alias("s2"),
        F.sum(sq * d1).alias("s3"),
        F.sum(sq * sq).alias("s4"),
    )
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    m = s1 / nd
    m2 = s2 / nd - m * m
    m3 = s3 / nd - F.lit(3.0) * m * (s2 / nd) + F.lit(2.0) * m * m * m
    m4 = (
        s4 / nd
        - F.lit(4.0) * m * (s3 / nd)
        + F.lit(6.0) * m * m * (s2 / nd)
        - F.lit(3.0) * m * m * m * m
    )
    return g.select(
        "event_type",
        "n",
        # mean = s1/n/100 rounded 4, in INTEGER space (sign-aware
        # half-away-from-zero) — a double round() on an exact integer
        # ratio is the cross-engine half-boundary trap agg_seasonality
        # documents, and plain DIV mis-rounds negative sums
        (
            F.expr(
                "(CASE WHEN s1 < 0 THEN -1 ELSE 1 END) * "
                + floor_div_sql(
                    "200 * abs(CAST(s1 AS DECIMAL(38,0)))"
                    " + CAST(n AS DECIMAL(38,0))",
                    "2 * CAST(n AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(10000.0)
        ).alias("mean"),
        F.round(
            F.when(m2 > 0, m3 / F.pow(F.sqrt(m2), F.lit(3.0))), 6
        ).alias("skewness"),
        F.round(F.when(m2 > 0, m4 / (m2 * m2) - F.lit(3.0)), 6).alias(
            "kurtosis_excess"
        ),
    )


def agg_hdr_histogram(events: DataFrame) -> DataFrame:
    """HdrHistogram-style log2-bucketed latency percentiles per series:
    p50/p95/p99 lower bounds from power-of-two buckets over exact cents.

    The bucket index is pure integer bit math (length of the binary
    string, no float log whose 1-ulp drift could flip exact powers of
    two), so the histogram is engine-exact; the percentile picks compare
    100·cum ≥ q·n in integers. Scale shape: the only fact-sized pass is
    the (type, bucket) partial agg — ≤ 64 buckets per series survive to
    the window cumsum, so the second stage is dimension-sized. This is
    the fixed-memory alternative to exact percentile sort at 100 TB.
    """
    xc = cents("value")
    bucket = (F.length(F.bin(xc)) - F.lit(1)).cast("int").alias("bucket")
    # latency semantics: nonpositive samples are excluded (and the binary-
    # string trick is only a log2 on positive ints — engines disagree on
    # the binary form of negatives)
    events = events.where(xc >= F.lit(1))
    per = events.groupBy("event_type", bucket).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    cum = per.select(
        "event_type",
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wall).alias("total"),
    )

    def pick(q: int) -> F.Column:
        hit = F.when(
            F.col("cum") * F.lit(100) >= F.lit(q) * F.col("total"),
            F.col("bucket"),
        )
        return F.min(hit).alias(f"p{q}_bucket")

    out = cum.groupBy("event_type").agg(
        F.max("total").cast("long").alias("n"), pick(50), pick(95), pick(99)
    )
    return out.select(
        "event_type",
        "n",
        "p50_bucket",
        (F.pow(F.lit(2.0), F.col("p50_bucket")) / F.lit(100.0)).alias("p50_lo"),
        "p95_bucket",
        (F.pow(F.lit(2.0), F.col("p95_bucket")) / F.lit(100.0)).alias("p95_lo"),
        "p99_bucket",
        (F.pow(F.lit(2.0), F.col("p99_bucket")) / F.lit(100.0)).alias("p99_lo"),
    )


def agg_linreg(events: DataFrame) -> DataFrame:
    """Per-series OLS time trend: slope (value units per hour) and
    intercept from the five exact sufficient sums — the distributed
    closed-form regression every monitoring engine ships.

    x is the integer hour index, y is integer cents; n, Σx, Σy, Σx²,
    Σxy accumulate in decimal(38,0) (order-independent, ANSI
    overflow-safe at any row count), and the slope/intercept algebra
    runs once per group on the aggregate row in doubles. One
    partial+final hash agg — the same one-shuffle shape as agg_stats,
    and the sums compose under partial merge, so map-side combine does
    most of the work at 100 TB.
    """
    h = (F.col("ts_us") / F.lit(HOUR_US)).cast("long")
    y = cents("value")
    hd = h.cast("decimal(19,0)")
    yd = y.cast("decimal(19,0)")
    g = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(hd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(hd * hd).alias("sxx"),
        F.sum(hd * yd).alias("sxy"),
    )
    # slope = num/det and intercept = (sy·det − num·sx)/(n·det) are EXACT
    # integer ratios — round them in integer space (sign-aware half-up,
    # matching both engines' away-from-zero round), never with a double
    # round(): an exact ratio landing on a half boundary is the
    # cross-engine trap agg_seasonality documents
    g = (
        g.withColumn(
            "deti", F.expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx")
        )
        .withColumn("num", F.expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy"))
        .withColumn("inum", F.expr("sy * deti - num * sx"))
    )
    slope_e6 = F.expr(
        "CASE WHEN deti > 0 THEN"
        " (CASE WHEN num < 0 THEN -1 ELSE 1 END)"
        " * " + floor_div_sql("2000000 * abs(num) + 100 * deti", "200 * deti")
        + " END"
    )
    inter_e4 = F.expr(
        "CASE WHEN deti > 0 THEN"
        " (CASE WHEN inum < 0 THEN -1 ELSE 1 END)"
        " * " + floor_div_sql(
            "20000 * abs(inum) + 100 * CAST(n AS DECIMAL(38,0)) * deti",
            "200 * CAST(n AS DECIMAL(38,0)) * deti",
        )
        + " END"
    )
    return g.select(
        "user_id",
        "event_type",
        "n",
        (slope_e6.cast("double") / F.lit(1.0e6)).alias("slope_per_hour"),
        (inter_e4.cast("double") / F.lit(1.0e4)).alias("intercept"),
    )


# Benford first-digit expected frequencies, log10(1 + 1/d), pinned as IEEE
# literals so both engines use bit-identical constants (no cross-engine
# log() ulp drift enters the result).
BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def agg_benford(events: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit per series — the classic
    data-quality / fraud screen: observed leading-digit frequencies of
    the cent amounts against the log10(1+1/d) expectation, with a
    per-digit binomial z-score.

    The only fact-sized pass is one (type, digit) hash agg over exact
    integer cents (first digit via string head — pure integer-derived,
    no float log); totals are an order-independent integer window sum
    over ≤ 9 rows per series, and every float op afterward is per-row
    arithmetic on exact counts and pinned literals — no cross-row float
    accumulation anywhere, so the audit is bit-stable at any parallelism.
    """
    xc = cents("value")
    digit = F.substring(xc.cast("string"), 1, 1).cast("int").alias("digit")
    per = (
        events.where(xc >= F.lit(1))
        .groupBy("event_type", digit)
        .agg(F.count(F.lit(1)).cast("long").alias("n_d"))
    )
    w = Window.partitionBy("event_type")
    p = F.lit(None).cast("double")
    for d, pd in BENFORD_P.items():
        p = F.when(F.col("digit") == d, F.lit(pd)).otherwise(p)
    t = per.select(
        "event_type", "digit", "n_d", F.sum("n_d").over(w).cast("long").alias("n")
    )
    n = F.col("n").cast("double")
    nd = F.col("n_d").cast("double")
    z = (nd - n * p) / F.sqrt(n * p * (F.lit(1.0) - p))
    return t.select(
        "event_type",
        "digit",
        "n_d",
        "n",
        # freq = n_d/n rounded 6 IN INTEGER SPACE — a double round() on an
        # exact integer ratio is the cross-engine half-boundary trap
        # agg_seasonality documents (counts are positive, half-up is exact)
        (
            F.expr(
                floor_div_sql(
                    "2000000 * CAST(n_d AS DECIMAL(38,0))"
                    " + CAST(n AS DECIMAL(38,0))",
                    "2 * CAST(n AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(1.0e6)
        ).alias("freq"),
        F.round(p, 6).alias("p_benford"),
        F.round(z, 4).alias("z"),
    )


def agg_overlap_matrix(events: DataFrame) -> DataFrame:
    """Pairwise audience-overlap matrix: EXACT distinct-user Jaccard
    between every pair of event types, via the same 62-bit bitmap words
    as agg_bitmap_distinct — the all-pairs generalization of
    agg_kmv_overlap's two-set sketch, exact because the id space packs.

    Scale shape: the only fact-sized pass is the (type, word) bit_or
    rollup (≤ |users|/62 rows per type survive). The pair intersection
    is a self-join ON THE WORD INDEX — each word row meets only the
    |types| rows sharing its index, so the join output is
    |types|²·|words|, never |users|². Per-type totals broadcast; pairs
    with zero shared words are restored by a |types|² cross frame with
    coalesce-0 so the matrix is always complete. All counts are exact
    integers; the one double division happens on the |types|² rows.
    """
    word_idx = (F.col("user_id") / F.lit(62)).cast("long")
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
    words = (
        events.select("event_type", word_idx.alias("w"), bit.alias("b"))
        .groupBy("event_type", "w")
        .agg(F.bit_or("b").alias("word"))
    )
    totals = words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_users")
    )
    a = words.select(
        F.col("event_type").alias("type_a"), "w", F.col("word").alias("wa")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "w", F.col("word").alias("wb")
    )
    inter = (
        a.join(b, "w")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
            .cast("long")
            .alias("n_common")
        )
    )
    ta = totals.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    tb = totals.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    frame = ta.crossJoin(tb).where(F.col("type_a") < F.col("type_b"))
    out = frame.join(inter, ["type_a", "type_b"], "left").withColumn(
        "n_common", F.coalesce(F.col("n_common"), F.lit(0))
    )
    # jaccard = n_common/union rounded 6 IN INTEGER SPACE — a double
    # round() on an exact integer ratio is the cross-engine
    # half-boundary trap agg_seasonality documents
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_common",
        (
            F.expr(
                floor_div_sql(
                    "2000000 * CAST(n_common AS DECIMAL(38,0))"
                    " + CAST(n_a + n_b - n_common AS DECIMAL(38,0))",
                    "2 * CAST(n_a + n_b - n_common AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(1.0e6)
        ).alias("jaccard"),
    )


def agg_ks_test(events: DataFrame) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between every pair of
    event types' value distributions — the drift detector run between a
    reference corpus and an increment before retraining.

    D = max_v |F_a(v) − F_b(v)| is computed ENTIRELY in integers: per-type
    cent-value counts roll up once (the only fact-sized pass — distinct
    cents are domain-bounded, so the count table is dimension-sized at any
    corpus scale), a |pairs|×|values| spine left-joins both sides' counts,
    one window cumsum per pair gives the empirical CDF numerators, and the
    sup statistic is max|cum_a·n_b − cum_b·n_a| — a cross-multiplied exact
    integer, divided (and integer-rounded, the agg_seasonality discipline)
    only on the |pairs| output rows. No float ever orders or accumulates.
    """
    xc = cents("value")
    counts = events.groupBy(F.col("event_type").alias("t"), xc.alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = counts.groupBy("t").agg(F.sum("c").cast("long").alias("n"))
    types = totals.select("t", "n")
    pairs = (
        types.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))
        .crossJoin(
            types.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))
        )
        .where(F.col("type_a") < F.col("type_b"))
    )
    values = counts.select("v").distinct()
    spine = pairs.crossJoin(values)
    ca = counts.select(
        F.col("t").alias("type_a"), "v", F.col("c").alias("c_a")
    )
    cb = counts.select(
        F.col("t").alias("type_b"), "v", F.col("c").alias("c_b")
    )
    j = (
        spine.join(ca, ["type_a", "v"], "left")
        .join(cb, ["type_b", "v"], "left")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "v",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    w = (
        Window.partitionBy("type_a", "type_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # cross-products widened to decimal(38,0) BEFORE the multiply: in
    # long, cum_a·n_b overflows int64 once both sides hold ~3e9+ rows and
    # the query errors under ANSI (ADVICE r9). The d statistic is then
    # exact at any corpus scale with no int64 ceiling anywhere (r11: the
    # diagnostic d_num column was dropped from the output rather than
    # surfaced with a bigint cap).
    cum = j.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        (
            F.sum("c_a").over(w).cast("decimal(38,0)")
            * F.col("n_b").cast("decimal(38,0)")
            - F.sum("c_b").over(w).cast("decimal(38,0)")
            * F.col("n_a").cast("decimal(38,0)")
        ).alias("diff"),
    )
    # d_num stays decimal(38,0) internally and is NOT surfaced (r11): as a
    # bigint output column it would overflow once n_a·n_b > 9.2e18, and as
    # a decimal/HUGEINT output the two engines' pandas conversions diverge
    # (DuckDB degrades HUGEINT to float64) — so the raw cross-product feeds
    # the statistic and nothing else. The d statistic itself is exact at
    # any corpus scale.
    g = cum.groupBy("type_a", "type_b").agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max(F.abs(F.col("diff"))).cast("decimal(38,0)").alias("d_num"),
    )
    return g.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        (
            F.expr(
                floor_div_sql(
                    "2000000 * CAST(d_num AS DECIMAL(38,0))"
                    " + CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))",
                    "2 * CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(1.0e6)
        ).alias("d"),
    )


def agg_chi2_drift(documents: DataFrame) -> DataFrame:
    """Pairwise chi-square homogeneity test between sources over the lang
    distribution — the CATEGORICAL companion to `agg_ks_test` (KS compares
    numeric CDFs; chi² compares category frequencies), the standard drift
    gate between a reference corpus and an increment before retraining.

    For each source pair (a < b) and each lang present in the pair, the
    2×L contingency cells are exact integer counts; expected counts are
    the exact rationals n_side·col_lang/T. Each cell's (O−E)²/E is then
    ONE deterministic double — ((O·T − n_side·col)² as a correctly-rounded
    cast of an exact decimal)/(n_side·col·T) — and the statistic folds
    those doubles in a FIXED order: collect_list → array_sort by lang →
    left fold (side a then b inside each lang). The oracle replays the
    identical fold via list(ORDER BY)+list_reduce, so the sum is
    bit-deterministic cross-engine with no order-dependent float
    accumulation anywhere (the agg_ks_test discipline, extended to a
    genuinely fractional statistic). Output rounds via floor(x·1e6+0.5) —
    exact on both engines given identical x, unlike a decimal-string
    half-up round. The fold is over |langs| ≤ a few dozen elements per
    pair — driver-bounded dimension data, not corpus data.

    Scale shape: ONE fact-sized hash-agg to the (source, lang) count table
    (dimension-bounded forever after); pairs/cells are |sources|²·|langs|.
    The count table is PERSISTED — it feeds six aliased references
    (totals via both pair sides, ca, cb, pair_langs twice) and Spark does
    not reuse an exchange across aliased self-join sides, so without the
    persist the documents scan + agg would re-run per reference (r10
    review finding).
    """
    from kdb_spark.llm.dedup import _reused

    counts = _reused(
        "chi2_counts",
        documents.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
    )
    totals = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    pairs = (
        totals.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
        .crossJoin(
            totals.select(
                F.col("source").alias("source_b"), F.col("n").alias("n_b")
            )
        )
        .where(F.col("source_a") < F.col("source_b"))
    )
    ca = counts.select(
        F.col("source").alias("source_a"), "lang", F.col("c").alias("c_a")
    )
    cb = counts.select(
        F.col("source").alias("source_b"), "lang", F.col("c").alias("c_b")
    )
    pair_langs = (
        pairs.join(ca, "source_a").select("source_a", "source_b", "lang")
        .unionByName(
            pairs.join(cb, "source_b").select("source_a", "source_b", "lang")
        )
        .distinct()
    )
    cells = (
        pairs.join(pair_langs, ["source_a", "source_b"])
        .join(ca, ["source_a", "lang"], "left")
        .join(cb, ["source_b", "lang"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "lang",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
        .withColumn("col_l", F.col("c_a") + F.col("c_b"))
        .withColumn("t", F.col("n_a") + F.col("n_b"))
    )

    def _cell(o: str, n: str) -> F.Column:
        num = F.expr(
            f"CAST({o} AS DECIMAL(38,0)) * t"
            f" - CAST({n} AS DECIMAL(38,0)) * col_l"
        ).cast("double")
        den = F.expr(
            f"CAST({n} AS DECIMAL(38,0)) * col_l * t"
        ).cast("double")
        return num * num / den

    per_pair = cells.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "lang",
        _cell("c_a", "n_a").alias("cell_a"),
        _cell("c_b", "n_b").alias("cell_b"),
    )
    g = per_pair.groupBy("source_a", "source_b").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "cell_a", "cell_b"))),
            F.lit(0.0),
            lambda acc, x: acc + x["cell_a"] + x["cell_b"],
        ).alias("chi2_raw"),
    )
    return g.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        (F.col("n_langs") - 1).cast("long").alias("dof"),
        (
            F.floor(F.col("chi2_raw") * F.lit(1e6) + F.lit(0.5)).cast("long")
            .cast("double")
            / F.lit(1e6)
        ).alias("chi2"),
    )


def table_key_skew(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Count-of-counts skew profile of a key column: how many keys hold
    2^b..2^(b+1)-1 rows each — the first diagnostic every shuffle-skew
    investigation runs (is the key uniform, Zipfian, or one-hub?), and the
    input to choosing a salting factor for `join_skew_salted`.

    Two bounded aggregates: ONE fact-sized hash-agg to per-key counts
    (map-side combine — the same pass any groupBy pays), then a ≤64-row
    log2 rollup via the agg_hdr_histogram bit-math bucket (length of the
    binary string — no float log whose 1-ulp drift could flip exact
    powers of two). Everything emitted is an exact integer; pct_rows is
    the only ratio and rounds in integer space.

    Reference tie: the reference sizes its bucket maps by observed series
    cardinality (/root/reference/mindex/mindex.go — one index node per
    distinct tag path); this is that cardinality census as an operator.
    """
    per = events.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    g = (
        per.groupBy((F.length(F.bin("n")) - F.lit(1)).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max("n").cast("long").alias("max_per_key"),
        )
    )
    # the grand total is a window over the ≤64-row BUCKET table, not a
    # second aggregate of the fact lineage — an agg+crossJoin here would
    # re-run the |events| per-key pass for the total (r10 review finding)
    t = F.sum("n_rows").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return (
        g.withColumn("t", t)
        .select(
            "bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket)").alias("lo"),
            "n_keys",
            "n_rows",
            "max_per_key",
            (
                F.expr(
                    floor_div_sql(
                        "2000000 * CAST(n_rows AS DECIMAL(38,0))"
                        " + CAST(t AS DECIMAL(38,0))",
                        "2 * CAST(t AS DECIMAL(38,0))",
                    )
                ).cast("double")
                / F.lit(1e6)
            ).alias("pct_rows"),
        )
    )


def sql_late_orders(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q4-shaped order-priority check as SQL TEXT: how many orders
    per priority, in one quarter, had at least one line shipped more than
    30 days after the order date (the trimmed schema has no
    commit/receipt dates, so late SHIPMENT stands in for Q4's late
    receipt — same correlated-EXISTS shape).

    The planning probe Q4 exists for: the EXISTS decorrelates to a LEFT
    SEMI join on orderkey — one shuffle pair, lineitem never aggregates —
    and the quarter predicate prunes the orders scan (pushed filter).
    Counts are exact integers; output is ≤5 rows.
    """
    return orders.sparkSession.sql(
        """
        SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM {orders_v} o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM {lineitem_v} l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """,
        orders_v=orders,
        lineitem_v=lineitem,
    )


def sql_cust_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H-Q13-shaped customer order-count distribution as SQL TEXT:
    LEFT join customers to their non-final orders, count per customer
    (zero included — the LEFT is the point), then histogram the counts.
    (The trimmed schema has no o_comment, so Q13's not-like filter is
    stood in by excluding status 'F'.)

    Planning shape: one shuffle pair for the outer join (orders pre-
    filtered map-side), one |customers| agg, then a ≤dozens-row histogram
    agg — the count-of-counts pattern `table_key_skew` generalizes, here
    in its canonical TPC-H statement. All-integer output.
    """
    return orders.sparkSession.sql(
        """
        WITH co AS (
          SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
          FROM {customer_v} c
          LEFT JOIN {orders_v} o
            ON o.o_custkey = c.c_custkey AND o.o_orderstatus <> 'F'
          GROUP BY c.c_custkey)
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM co
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
        """,
        customer_v=customer,
        orders_v=orders,
    )


def sql_priority_lines(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q12-shaped shipping-priority split as SQL TEXT: per return
    flag (standing in for Q12's ship mode, absent from the trimmed
    schema), how many 1997-shipped lines belong to URGENT/HIGH orders vs
    the rest — the two-CASE conditional-count idiom.

    One shuffle join lineitem⋈orders on orderkey with the year predicate
    pushed to the lineitem scan; the split is two CASE sums inside ONE
    final agg over ≤3 groups. Exact integer counts.
    """
    return orders.sparkSession.sql(
        """
        SELECT l.l_returnflag,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM {lineitem_v} l
        JOIN {orders_v} o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag
        """,
        orders_v=orders,
        lineitem_v=lineitem,
    )


def sql_waiting_supplier(supplier: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q21-shaped blame-the-last-supplier query as SQL TEXT: in
    orders involving ≥2 suppliers, find the supplier whose latest line
    shipped STRICTLY after every other supplier's — Q21's
    exists/not-exists pair restated over shipdate (the trimmed schema has
    no commit/receipt dates) as "unique maximum per order".

    Decomposition keeps every step an equi-join/agg: per-(order, supplier)
    max shipdate (one shuffle — the only fact-sized agg), orders kept at
    ≥2 suppliers, the per-order max and its holder count via a second
    dimension-sized agg, blame where the holder is unique, count per
    supplier, top 10. No correlated subquery survives to the plan — the
    same decorrelation Q21 forces every optimizer through, done in the
    text.
    """
    return lineitem.sparkSession.sql(
        f"""
        WITH sm AS (
          SELECT l_orderkey,
                 CASE WHEN l_suppkey BETWEEN 0 AND 2147483647 THEN l_suppkey
                      ELSE raise_error(concat(
                        'sql_waiting_supplier: suppkey outside 31-bit pack range: ',
                        l_suppkey)) END AS l_suppkey,
                 timestampdiff(SECOND, {NTZ_EPOCH}, max(l_shipdate)) AS s
          FROM {{lineitem_v}}
          GROUP BY l_orderkey, l_suppkey),
        po AS (
          -- one hash agg replaces the multi/mx/at_mx join tree: the max
          -- shipdate is held by a UNIQUE supplier iff the argmax under
          -- suppkey-ASC and suppkey-DESC tiebreaks agree. The (date, supp)
          -- key is packed into ONE BIGINT (seconds<<31 | suppkey — the repo's
          -- packed-long device, cf. join_band_topk) because max(LONG) stays
          -- a partial-aggregated HashAggregate while max(STRUCT) planned as
          -- SortAggregate and re-sorted the order-grain table (r16 — the
          -- prior CTE tree also re-expanded sm per reference, shuffling
          -- the fact-sized agg 4x). Key = exact epoch seconds of the NTZ
          -- shipdate << 31 | suppkey; sm raises on a suppkey outside
          -- [0, 2^31) (TPC-H SF ~2e5 stays inside), and the packed key
          -- fits BIGINT through year 2106.
          SELECT l_orderkey,
                 count(*) AS n_supp,
                 max(s * 2147483648 + l_suppkey) AS hi,
                 max(s * 2147483648 + (2147483647 - l_suppkey)) AS lo
          FROM sm GROUP BY l_orderkey),
        blamed AS (
          SELECT hi % 2147483648 AS l_suppkey FROM po
          WHERE n_supp >= 2
            AND hi % 2147483648 = 2147483647 - lo % 2147483648)
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM blamed b JOIN {{supplier_v}} s ON s.s_suppkey = b.l_suppkey
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 10
        """,
        supplier_v=supplier,
        lineitem_v=lineitem,
    )


def agg_dau_mau(events: DataFrame, window_days: int = 30) -> DataFrame:
    """DAU / trailing-MAU stickiness per day — the product-analytics
    ratio every engagement dashboard reports: distinct actives that day
    over distinct actives in the trailing ``window_days`` window.

    Shape: ONE fact-sized pass dedupes to the (user, day) incidence
    (hash-agg, map-side combine) — dimension-sized forever after
    (|users|·|active days|). DAU is a count over that table. The trailing
    distinct is the contribute-forward device: each (user, day) row
    explodes into the ≤window_days day-slots it keeps the user active in
    (a bounded sequence — no self-join, no 30-pass window), and MAU(d) is
    a count DISTINCT over the exploded table grouped by slot. Days where
    the user was already counted collapse in the same distinct — exact,
    not approximate. Ratio rounds in integer space (sign-free DIV). Days
    with no trailing window-days history still report (the ratio is over
    whatever the window holds — standard dashboard semantics).
    """
    from kdb_spark.llm.dedup import _reused

    # integer day index — a double floor(ts/DAY) could mis-bucket at slot
    # boundaries once ts_us outgrows double's 53-bit exact range
    day = F.expr(f"ts_us div {DAY_US}")
    # persist the incidence: it feeds BOTH the DAU count and the
    # contribute-forward explode — without it the fact table scans twice
    ud = _reused(
        "dau_mau_incidence",
        events.select("user_id", day.alias("day")).distinct(),
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(window_days - 1))
        ).alias("day"),
    )
    # only days that actually had activity report a row (inner join):
    # trailing windows ending on a dead day are dashboard noise
    mau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            (
                F.expr(
                    floor_div_sql(
                        "2000000 * CAST(dau AS DECIMAL(38,0))"
                        " + CAST(mau AS DECIMAL(38,0))",
                        "2 * CAST(mau AS DECIMAL(38,0))",
                    )
                ).cast("double")
                / F.lit(1e6)
            ).alias("stickiness"),
        )
    )


def agg_tvd_drift(documents: DataFrame) -> DataFrame:
    """Pairwise total-variation distance between sources over the lang
    distribution — the MAGNITUDE companion to the drift trio (agg_ks_test
    answers "numeric CDFs differ?", agg_chi2_drift "is the categorical
    difference significant?", TVD "by how much, in probability mass"):
    TVD(a,b) = ½ Σ_l |p_a(l) − p_b(l)|, the fraction of one corpus you
    would have to relabel to match the other.

    EXACT end to end: with integer cell counts, the statistic is
    Σ|c_a·n_b − c_b·n_a| / (2·n_a·n_b) — one integer sum over cells
    (order-independent, no fold-order contract needed, unlike chi2's
    fractional cells), integer-rounded to 6 dp. Reuses the persisted
    (source, lang) count table `agg_chi2_drift` builds — running both
    drift tests costs ONE fact pass total.
    """
    from kdb_spark.llm.dedup import _reused

    counts = _reused(
        "chi2_counts",
        documents.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
    )
    totals = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    pairs = (
        totals.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
        .crossJoin(
            totals.select(
                F.col("source").alias("source_b"), F.col("n").alias("n_b")
            )
        )
        .where(F.col("source_a") < F.col("source_b"))
    )
    ca = counts.select(
        F.col("source").alias("source_a"), "lang", F.col("c").alias("c_a")
    )
    cb = counts.select(
        F.col("source").alias("source_b"), "lang", F.col("c").alias("c_b")
    )
    pair_langs = (
        pairs.join(ca, "source_a").select("source_a", "source_b", "lang")
        .unionByName(
            pairs.join(cb, "source_b").select("source_a", "source_b", "lang")
        )
        .distinct()
    )
    cells = (
        pairs.join(pair_langs, ["source_a", "source_b"])
        .join(ca, ["source_a", "lang"], "left")
        .join(cb, ["source_b", "lang"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.abs(
                F.coalesce("c_a", F.lit(0)).cast("decimal(38,0)")
                * F.col("n_b")
                - F.coalesce("c_b", F.lit(0)).cast("decimal(38,0)")
                * F.col("n_a")
            ).alias("num"),
        )
    )
    g = cells.groupBy("source_a", "source_b").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum("num").alias("s"),
    )
    return g.select(
        "source_a",
        "source_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (
            # tvd = s / (2·n_a·n_b), half-up to 6 dp in integer space:
            # (2·10^6·s + 2·n_a·n_b) DIV (2 · 2·n_a·n_b)
            F.expr(
                floor_div_sql(
                    "2000000 * s + 2 * CAST(n_a AS DECIMAL(38,0)) * n_b",
                    "4 * CAST(n_a AS DECIMAL(38,0)) * n_b",
                )
            ).cast("double")
            / F.lit(1e6)
        ).alias("tvd"),
    )


def agg_hhi(events: DataFrame) -> DataFrame:
    """Herfindahl–Hirschman concentration of activity per event_type: how
    concentrated an event stream is over users, HHI = Σ_u (n_u/N)² — the
    standard market-concentration index, here the "is this event type
    driven by a few whales?" gate a pipeline runs before trusting
    per-type aggregates (HHI → 1 means one user dominates; → 1/n_users
    means uniform). kdb parity: a grouped-count composition (`select
    count i by type, user` then a by-type reduce) — reference storage
    verbs compose it, no native verb exists, so this is engine surface.

    EXACT end to end: with integer per-user counts, HHI = Σn_u² / N² is a
    ratio of exact integers (Σn_u² widened to decimal(38,0) BEFORE the
    square — n_u² overflows int64 once a user holds >3e9 rows), rounded
    half-up to 6 dp IN INTEGER SPACE (the donchian DIV device; a double
    round() on an exact ratio is the cross-engine half-boundary trap).

    Scale shape: one partial-agg shuffle on (event_type, user_id) — high
    cardinality, no skew amplification — then a by-type reduce over
    |users-per-type| rows. No window, no join, map-side combine on both
    stages; the 100 TB cost is one pass over the fact table.
    """
    per = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_u")
    )
    g = per.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_u").cast("long").alias("n_events"),
        F.sum(
            F.col("n_u").cast("decimal(38,0)") * F.col("n_u")
        ).alias("s2"),
    )
    return g.select(
        "event_type",
        "n_users",
        "n_events",
        (
            # hhi = s2/N², half-up to 6 dp in integer space
            F.expr(
                floor_div_sql(
                    "2000000 * s2 + CAST(n_events AS DECIMAL(38,0)) * n_events",
                    "2 * CAST(n_events AS DECIMAL(38,0)) * n_events",
                )
            ).cast("double")
            / F.lit(1e6)
        ).alias("hhi"),
    )


def agg_top_share(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, k: int = 10
) -> DataFrame:
    """Revenue share of each nation's top-k customers — the concentration
    companion to `agg_hhi` on the TPC-H side ("how much of a market do
    the top accounts own?"), the shape every curation/BI pipeline runs
    as top-N-share-of-total.

    EXACT: per-customer revenue is an integer cents sum; the top-k set is
    deterministic (revenue desc, custkey asc tiebreak); the share is the
    exact integer ratio top_c/total_c rounded half-up to 6 dp in integer
    space (never round(double, 6) — cross-engine half-boundary trap).

    Scale shape: the fact pass is ONE partial-agg shuffle on o_custkey
    (high cardinality). The top-k per nation does NOT window over whole
    nations (25 groups ⇒ one reducer per nation holds |customers|/25 rows
    — the low-cardinality-group window anti-pattern): a salt splits each
    nation into 32 shards, a local row_number keeps ≤k per shard, and the
    final row_number ranks the ≤32·k survivors per nation — two windows,
    both bounded, the standard two-phase top-k. Totals reduce from the
    same per-customer aggregate, so the fact table is read once.
    """
    from kdb_spark.tables import cents

    per = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).cast("long").alias("rev_c")
    )
    cust = per.join(
        customer.select("c_custkey", "c_nationkey"),
        per.o_custkey == customer.c_custkey,
    ).select("c_nationkey", "o_custkey", "rev_c")
    totals = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("rev_c").cast("long").alias("total_c"),
    )
    salt = F.pmod(F.xxhash64("o_custkey"), F.lit(32))
    w_local = Window.partitionBy("c_nationkey", "salt").orderBy(
        F.desc("rev_c"), "o_custkey"
    )
    w_final = Window.partitionBy("c_nationkey").orderBy(
        F.desc("rev_c"), "o_custkey"
    )
    top = (
        cust.withColumn("salt", salt)
        .withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= k)
        .withColumn("rnk", F.row_number().over(w_final))
        .filter(F.col("rnk") <= k)
        .groupBy("c_nationkey")
        .agg(F.sum("rev_c").cast("long").alias("top_c"))
    )
    return (
        totals.join(top, "c_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            totals.c_nationkey == nation.n_nationkey,
        )
        .select(
            "n_name",
            "n_cust",
            "top_c",
            "total_c",
            (
                # total_c > 0 guard (r12, ADVICE): a zero total yields NULL
                # by contract on BOTH engines — unguarded, Spark's device
                # NULLs while DuckDB's // raises division-by-zero
                # (unreachable with positive o_totalprice, pinned anyway,
                # mirroring agg_lorenz's share guard)
                F.when(
                    F.col("total_c") > 0,
                    F.expr(
                        floor_div_sql(
                            "2000000 * CAST(top_c AS DECIMAL(38,0)) + total_c",
                            "2 * CAST(total_c AS DECIMAL(38,0))",
                        )
                    ).cast("double")
                    / F.lit(1e6),
                )
            ).alias("top_share"),
        )
    )


def agg_lorenz(events: DataFrame) -> DataFrame:
    """Lorenz concentration curve of value per event_type over log2 cents
    buckets — the distribution-shape companion to `agg_gini` (gini is the
    scalar; this is the curve a dashboard draws: "the top bucket holds X%
    of rows but Y% of value"). Buckets follow `agg_hdr_histogram`'s
    bit-math rule (length of the binary string — no float log whose 1-ulp
    drift could flip exact powers of two); non-positive cents route to the
    SENTINEL bucket −1 so the domain is total WITHOUT colliding with the
    legitimate [1,2)-cent bucket 0 (r12, ADVICE — bucket 0 used to be the
    union of c ≤ 0 and c = 1).

    Scale shape: ONE fact-sized hash-agg to (type, bucket) partials
    (map-side combine), then cumulative shares via a window over the
    ≤64-row-per-type BUCKET table — never a whole-type row window (the
    exact-rank Lorenz needs a per-type global sort; the bucketed curve is
    the 100 TB formulation, with resolution = the bucket grid). Shares
    are ratios of exact integers, rounded half-up to 6 dp in integer
    space (the DIV device).
    """
    c = cents("value")
    per = events.groupBy(
        "event_type",
        F.when(c <= 0, F.lit(-1))
        .otherwise(F.length(F.bin(c)) - F.lit(1))
        .cast("int")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(c).cast("long").alias("sum_c"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = per.select(
        "event_type",
        "bucket",
        "n_rows",
        "sum_c",
        F.sum("n_rows").over(wcum).alias("cn"),
        F.sum("sum_c").over(wcum).alias("cv"),
        F.sum("n_rows").over(wall).alias("tn"),
        F.sum("sum_c").over(wall).alias("tv"),
    )
    # sign-aware: a negative-cents prefix makes cv negative even with a
    # positive total; a non-positive total nulls the value share outright
    share = lambda num, den: (  # noqa: E731
        F.when(
            F.col(den) > 0,
            F.expr(
                f"(CASE WHEN {num} < 0 THEN -1 ELSE 1 END) * "
                + floor_div_sql(
                    f"2000000 * CAST(abs({num}) AS DECIMAL(38,0)) + {den}",
                    f"2 * CAST({den} AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(1e6),
        )
    )
    return t.select(
        "event_type",
        "bucket",
        "n_rows",
        "sum_c",
        share("cn", "tn").alias("cum_row_share"),
        share("cv", "tv").alias("cum_value_share"),
    )


def sql_part_supplier_variety(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q16-shaped supplier-variety census on the trimmed schema: how
    many DISTINCT suppliers ship each (brand, type-class, size-band) part
    group, excluding one brand and one type prefix — the assortment-
    breadth report (Q16 proper counts partsupp suppliers; this schema's
    supplier-part bridge is lineitem, same shape, observed-shipments
    semantics). Registered as a SQL text (the §2 SQL entry-point family).

    Scale shape: the part dim filters/buckets BEFORE the join (predicate
    pushdown visible in the scan), the join key is high-cardinality
    l_partkey, and count(DISTINCT l_suppkey) per group is Spark's
    two-stage distinct-expand — no row-window, no collect. Exact integers
    end to end.
    """
    return part.sparkSession.sql(
        """
        SELECT p.p_brand,
               substring(p.p_type, 1, instr(p.p_type, ' ') - 1) AS type_class,
               CAST(p.p_size DIV 10 AS BIGINT) AS size_band,
               CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt,
               CAST(count(*) AS BIGINT) AS n_shipments
        FROM {part_v} p JOIN {lineitem_v} l ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#45'
          AND p.p_type NOT LIKE 'MEDIUM%'
        GROUP BY 1, 2, 3
        """,
        part_v=part,
        lineitem_v=lineitem,
    )


def agg_runs_test(events: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test per series: the count of sign-runs in the
    tick-to-tick deltas against its null-hypothesis expectation — the
    standard randomness screen a tick pipeline runs before trusting a
    series for model features (too few runs ⇒ trending, too many ⇒
    mean-reverting oscillation).

    EXACT cross-engine, no sqrt surfaced: per (user, type) series the
    deltas' signs are exact (cents differences; ZERO deltas are dropped,
    per the test's definition), n_runs / n_pos / n_neg are exact
    integers, and both moments of the null distribution are exact
    rationals through the decimal device — mu_runs = (N + 2pn)/N and
    var_runs = 2pn(2pn − N)/(N²(N−1)) with N = p+n — rounded half-up to
    6 dp in integer space (p, n widened to decimal BEFORE the multiplies,
    the agg_stats r12 rule: 2pn wraps int64 past p·n ≈ 4.6e18). The
    z-statistic needs a sqrt; callers derive it from the exact moments —
    surfacing it would reintroduce the round(double) class for no
    analytic gain. Series with N < 2 report null moments (and var needs
    N > 1 anyway); mu is null when N = 0.

    Scale shape: ONE series-key Exchange serves both window passes (delta
    sign, then run-boundary lag over the zero-filtered signs — filters
    preserve hash partitioning) and the final groupBy lands on the SAME
    key, so Catalyst plans zero additional shuffles after the first. No
    UDF, no collect.
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    c = cents("value")
    d = events.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.signum((c - F.lag(c).over(wo)).cast("double")).cast("int").alias("s"),
    ).where(F.col("s").isNotNull() & (F.col("s") != 0))
    r = d.select(
        "user_id",
        "event_type",
        "s",
        F.when(
            F.lag("s").over(wo).isNull() | (F.lag("s").over(wo) != F.col("s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("boundary"),
    )
    g = r.groupBy("user_id", "event_type").agg(
        F.sum("boundary").cast("long").alias("n_runs"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).cast("long").alias("n_neg"),
    )
    # N = p + n; mu = (N + 2pn)/N; var = 2pn(2pn − N) / (N²(N−1))
    p_d = "CAST(n_pos AS DECIMAL(38,0))"
    n_d = "CAST(n_neg AS DECIMAL(38,0))"
    big_n = f"({p_d} + {n_d})"
    two_pn = f"(2 * {p_d} * {n_d})"
    mu = F.when(
        F.col("n_pos") + F.col("n_neg") > 0,
        iround_col(f"{big_n} + {two_pn}", big_n, 6, signed=False),
    )
    var = F.when(
        F.col("n_pos") + F.col("n_neg") > 1,
        iround_col(
            f"{two_pn} * ({two_pn} - {big_n})",
            f"{big_n} * {big_n} * ({big_n} - 1)",
            6,
        ),
    )
    return g.select(
        "user_id",
        "event_type",
        "n_runs",
        "n_pos",
        "n_neg",
        mu.alias("mu_runs"),
        var.alias("var_runs"),
    )


def agg_poisson_dispersion(events: DataFrame) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of the hourly event
    counts per event_type — the burstiness test every arrival-rate
    monitor runs (D ≈ 1 ⇒ Poisson arrivals; D ≫ 1 ⇒ clustering/bursts,
    D ≪ 1 ⇒ regular spacing). Pairs with agg_seasonality (where the rate
    moves) by asking whether the process is even Poisson to begin with.

    EXACT cross-engine: hourly counts are exact integers, and both
    surfaced statistics are exact rationals through the decimal device —
    mean_per_hour = S/H and dispersion = (H·Q − S²)/((H−1)·S) (the
    sample-variance-to-mean ratio; S = Σcount, Q = Σcount², H = #hours) —
    rounded half-up to 6 dp in integer space. Q is summed in
    decimal(38,0) (the agg_stats r12 widen-inside-the-sum rule) and
    H·Q − S² ≥ 0 by Cauchy–Schwarz, so the dispersion numerator is
    unsigned. Types with a single active hour report null dispersion
    (H − 1 = 0); S > 0 always holds when a group exists (counts ≥ 1).

    Scale shape: two-level aggregation — the (type, hour) partial agg is
    the only fact-sized pass (map-side combine before ONE exchange), the
    per-type reduce runs over the dimension-sized hourly table on the
    same hash key family. No windows, no UDF.
    """
    hourly = events.groupBy(
        "event_type",
        (F.col("ts_us") - F.col("ts_us") % F.lit(HOUR_US)).alias("hour_us"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    g = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("h"),
        F.sum("cnt").cast("long").alias("s"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt")).alias("q"),
    )
    h_d = "CAST(h AS DECIMAL(38,0))"
    s_d = "CAST(s AS DECIMAL(38,0))"
    return g.select(
        "event_type",
        F.col("h").alias("n_hours"),
        F.col("s").alias("n_events"),
        iround_col(s_d, h_d, 6, signed=False).alias("mean_per_hour"),
        F.when(
            F.col("h") > 1,
            iround_col(
                f"{h_d} * q - {s_d} * {s_d}",
                f"({h_d} - 1) * {s_d}",
                6,
                signed=False,
            ),
        ).alias("dispersion"),
    )


def agg_interarrival_stats(events: DataFrame) -> DataFrame:
    """Inter-arrival time profile per series: count, mean, spread, and
    dispersion of the gaps between consecutive ticks — the cadence report
    a TSDB runs before choosing a resample width or a staleness alert
    threshold (kdb: deltas over the time column). The distribution-level
    companion to agg_poisson_dispersion (which tests COUNTS per hour;
    this profiles the gaps themselves).

    EXACT cross-engine: gaps are exact µs integers from one series lag;
    mean_gap_s = Σg/(n·10⁶) is an exact rational through the decimal
    device at 6 dp; min/max gaps are exact integer picks surfaced as
    seconds through one deterministic divide; sd_gap_s is the sqrt of the
    exact rational (n·Σg² − (Σg)²)/(n(n−1)) — Σg² folded in
    decimal(38,0) (µs² wraps int64 past |g| ≈ 3e9 µs only in the sum;
    widen-inside-the-sum rule) — with the one sqrt+round(6) documented as
    the irrational-statistic class (the agg_stats sd rationale). Series
    with a single tick (no gap) produce no row; n = 1 gaps → null sd.

    Scale shape: one series-key Exchange serves the lag window AND the
    groupBy (same hash key family) — one shuffle end to end, no UDF.
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    d = events.select(
        "user_id",
        "event_type",
        (F.col("ts_us") - F.lag("ts_us").over(wo)).alias("g"),
    ).where(F.col("g").isNotNull())
    g = d.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("s1"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("s2"),
        F.min("g").alias("mn"),
        F.max("g").alias("mx"),
    )
    mean = iround_col("s1", "CAST(n AS DECIMAL(38,0)) * 1000000", 6, signed=False)
    sd = F.when(
        F.col("n") > 1,
        F.round(
            F.sqrt(
                F.expr("CAST(CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)")
                / F.expr("CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE)")
            )
            / F.lit(1e6),
            6,
        ),
    )
    return g.select(
        "user_id",
        "event_type",
        F.col("n").alias("n_gaps"),
        mean.alias("mean_gap_s"),
        (F.col("mn").cast("double") / F.lit(1e6)).alias("min_gap_s"),
        (F.col("mx").cast("double") / F.lit(1e6)).alias("max_gap_s"),
        sd.alias("sd_gap_s"),
    )


def agg_acf_table(events: DataFrame, max_lag: int = 5, min_n: int = 3) -> DataFrame:
    """Autocorrelation function per series: Pearson r at EVERY lag
    1..max_lag in long format — the ACF table behind correlogram plots
    and AR-order selection (agg_autocorr is the lag-1 scalar; model
    diagnostics need the whole ladder).

    Exact-parity contract: same derivation as agg_autocorr at each lag —
    exact decimal(38,0) cents moments per (series, lag), Pearson as ONE
    double expression over exact integers, round(4) on the same double
    both engines (the agg_corr class). Per-lag pairs exclude the series
    head (lag k drops k rows), which the long-format grouping handles
    naturally. Zero-variance groups → null r; groups with < min_n pairs
    are dropped.

    Scale shape: ONE series-key window node carries all max_lag lag()
    columns (shared sort/frame buffer), a map-side stack() expands to
    long format (an Expand node, no shuffle), and the (series, lag)
    groupBy REUSES the window's hash partitioning — HashPartitioning on
    (user, type) satisfies ClusteredDistribution on (user, type, lag)
    since each group is a subset of one series partition — so the plan
    carries exactly ONE Exchange despite the K× row expansion (partial
    aggregation eats the fan-out map-side).
    """
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    c = cents("value")
    sel = events.select(
        "user_id",
        "event_type",
        c.alias("x"),
        *[F.lag(c, k).over(w).alias(f"y{k}") for k in range(1, max_lag + 1)],
    )
    stack_args = ", ".join(f"{k}, y{k}" for k in range(1, max_lag + 1))
    pairs = sel.selectExpr(
        "user_id",
        "event_type",
        "x",
        f"stack({max_lag}, {stack_args}) AS (lag, y)",
    ).filter(F.col("y").isNotNull())
    dec = "decimal(38,0)"
    g = pairs.groupBy("user_id", "event_type", F.col("lag").cast("int").alias("lag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    n = F.col("n").cast(dec)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        g.filter(F.col("n") >= min_n)
        .select(
            "user_id",
            "event_type",
            "lag",
            F.col("n").alias("n_pairs"),
            F.round(
                F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy)), 4
            ).alias("ac"),
        )
    )


def sql_rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation as a SQL text (the §2 SQL entry-point
    family): every ACTIVE customer banded by Recency (days from last
    order to the fixed 2001-09-01 reference — one day past the order
    book), Frequency (order count), and Monetary (lifetime cents), then
    the per-(R,F,M)-cell census — the canonical BI/CRM cohort cut and the
    value-stratification input a curation pipeline samples against.

    EXACT cross-engine: recency is integer day arithmetic on DATE-cast
    timestamps, frequency/monetary are exact integer counts/cents, and
    all three bands are the log₂ bit-math device (length(bin(x))−1 — no
    float log; monetary banded on whole-$1000 units to keep the band
    count small). Every surfaced aggregate is an exact integer.

    Scale shape: one fact-sized per-customer partial agg (the only big
    shuffle), map-only banding, then a ≤ |bands³| reduce. No window, no
    join — customers with zero orders are out of scope by construction
    (the Q13-style outer-join census is sql_cust_distribution's job).
    """
    return orders.sparkSession.sql(
        """
        WITH per AS (
          SELECT o.o_custkey AS custkey,
                 CAST(datediff(DATE'2001-09-01', CAST(max(o.o_orderdate) AS DATE))
                      AS BIGINT) AS r_days,
                 CAST(count(*) AS BIGINT) AS f_orders,
                 CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS m_cents
          FROM {orders_v} o GROUP BY 1),
        b AS (
          SELECT custkey, r_days, f_orders, m_cents,
                 CAST(length(bin(r_days)) - 1 AS INT) AS r_band,
                 CAST(length(bin(f_orders)) - 1 AS INT) AS f_band,
                 CAST(length(bin(m_cents DIV 100000)) - 1 AS INT) AS m_band
          FROM per)
        SELECT r_band, f_band, m_band,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(m_cents) AS BIGINT) AS revenue_c,
               CAST(min(r_days) AS BIGINT) AS min_r_days,
               CAST(max(r_days) AS BIGINT) AS max_r_days
        FROM b GROUP BY 1, 2, 3
        """,
        orders_v=orders,
    )


def agg_round_number_bias(events: DataFrame) -> DataFrame:
    """Round-number clustering per event_type: the share of tick prices
    landing on whole dollars / half-dollars / quarters / dimes — the
    market-microstructure screen (human-quoted series cluster on round
    numbers; uniform cent mass ⇒ synthetic or mid-point data). Pairs with
    agg_benford as the second price-forensics gate.

    EXACT cross-engine: divisibility tests on exact cents (c % k = 0 is
    sign-indifferent for the = 0 predicate, so no pmod dance), integer
    conditional counts, and each share rides the decimal device at 6 dp.
    A uniform-cents baseline expects 1%/2%/4%/10% — the deltas are the
    signal; surfacing shares (not deltas) keeps every column exact.

    Scale shape: ONE fact-sized partial+final hash agg on event_type —
    map-side combine reduces the exchange to |types| rows per task. No
    window, no join, no UDF.
    """
    c = cents("value")
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(c % 100 == 0, 1).otherwise(0)).cast("long").alias("n_whole"),
        F.sum(F.when(c % 50 == 0, 1).otherwise(0)).cast("long").alias("n_half"),
        F.sum(F.when(c % 25 == 0, 1).otherwise(0)).cast("long").alias("n_quarter"),
        F.sum(F.when(c % 10 == 0, 1).otherwise(0)).cast("long").alias("n_dime"),
    )
    def share(col: str) -> F.Column:
        return iround_col(col, "CAST(n AS DECIMAL(38,0))", 6, signed=False)
    return g.select(
        "event_type",
        "n",
        "n_whole",
        "n_half",
        "n_quarter",
        "n_dime",
        share("n_whole").alias("whole_share"),
        share("n_half").alias("half_share"),
        share("n_quarter").alias("quarter_share"),
        share("n_dime").alias("dime_share"),
    )


def agg_spearman(events: DataFrame) -> DataFrame:
    """Spearman rank correlation per event_type between price (cents) and
    time-of-day (µs) — the monotone-association companion to agg_corr's
    Pearson (rank correlation is what kdb analysts reach for when the
    price/time relation is nonlinear but ordered).

    Tie semantics: textbook average ranks (the tie-corrected form — with
    ties, Spearman IS Pearson on average ranks; the naive 1 − 6Σd²/… is
    wrong under ties). 2·avg_rank = 2·min_rank + ties − 1 is an exact
    INTEGER on both engines (rank() + a partition-by-value count), and
    scaling both coordinates by 2 leaves the correlation unchanged, so
    every co-moment input is exact.

    EXACT cross-engine: decimal(38,0) co-moments on the doubled ranks
    (the agg_corr device), then rho = C/√(A·B) takes ONE divide/sqrt on
    doubles cast from exact decimals — identical IEEE ops both engines —
    and lands on the 1e-4 grid via floor(x·1e4 + 0.5). Degenerate groups
    (n < 2 or a constant axis) emit NULL. Domain: co-moments stay inside
    decimal(38,0) for n ≲ 10⁹ rows/group (n·Σr² ~ 16·n⁴ ≤ 10³⁸) —
    disclosed here because ranks grow with n, unlike agg_corr's bounded
    coordinates; past that, rank on coarser buckets first.

    Scale shape: one event_type-key Exchange; both rank passes and both
    tie counts sort within the same hash partition (Catalyst plans one
    Exchange, consecutive Window nodes), then a partial+final hash agg.
    Note rank() over a full type-partition is a per-group sort — the same
    posture as agg_gini/agg_lorenz, documented there.
    """
    base = events.select(
        "event_type",
        cents("value").alias("x"),
        F.pmod(F.col("ts_us"), F.lit(DAY_US)).cast("long").alias("y"),
    )
    wx = Window.partitionBy("event_type").orderBy("x")
    wy = Window.partitionBy("event_type").orderBy("y")
    tx = Window.partitionBy("event_type", "x")
    ty = Window.partitionBy("event_type", "y")
    r = base.select(
        "event_type",
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(tx) - 1)
        .cast("long")
        .alias("rx"),
        (2 * F.rank().over(wy) + F.count(F.lit(1)).over(ty) - 1)
        .cast("long")
        .alias("ry"),
    )
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("rx").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("ry").cast("decimal(38,0)")).alias("sv"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("rx")).alias("suu"),
        F.sum(F.col("ry").cast("decimal(38,0)") * F.col("ry")).alias("svv"),
        F.sum(F.col("rx").cast("decimal(38,0)") * F.col("ry")).alias("suv"),
    )
    t = g.select(
        "event_type",
        "n",
        F.expr("CAST(n AS DECIMAL(38,0)) * suv - su * sv").alias("cm"),
        F.expr("CAST(n AS DECIMAL(38,0)) * suu - su * su").alias("a"),
        F.expr("CAST(n AS DECIMAL(38,0)) * svv - sv * sv").alias("b"),
    )
    rho4 = F.when(
        (F.col("a") > 0) & (F.col("b") > 0),
        F.floor(
            F.expr(
                "CAST(cm AS DOUBLE)"
                " / sqrt(CAST(a AS DOUBLE) * CAST(b AS DOUBLE))"
            )
            * F.lit(1e4)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e4),
    )
    return t.select("event_type", "n", rho4.alias("spearman_rho"))


def agg_mann_whitney(events: DataFrame) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) per event_type: does the
    weekend price distribution differ from the weekday one? The
    nonparametric two-sample location test — the drift gate that, unlike
    agg_ks_test's D statistic, comes with a closed-form normal
    approximation and exact tie correction.

    Sample split is pure integer arithmetic on the epoch day (day 0 =
    Thursday, so d % 7 ∈ {2, 3} ⇔ Sat/Sun) — identical on both engines.
    Tie semantics: average ranks, kept INTEGER as 2·min_rank + ties − 1
    (the agg_spearman device), so 2U_b = ΣR2_b − n_b(n_b+1) is exact; the
    tie-corrected variance Var·(12n(n−1)) = n_a·n_b·((n³−n) − Σ(t³−t)) is
    an exact decimal from a second (event_type, value) tie-spectrum agg.
    z = (U_b − n_a·n_b/2)/σ takes ONE divide/sqrt on doubles cast from
    exact decimals and lands on the 1e-4 grid (the agg_corr pattern).
    Degenerate groups (either sample empty, or all values tied ⇒ zero
    variance) emit NULL z. Domain: the variance product is ~n⁵ ≤ 10³⁸ ⇒
    n ≲ 4·10⁷ rows/group — disclosed; bucket values first past that.

    Scale shape: one event_type Exchange (rank window + per-type agg
    share it) plus one Zipf-bounded (event_type, value) tie agg, joined
    on the |types|-row output. No UDF, no fact-side join.
    """
    base = events.select(
        "event_type",
        cents("value").alias("x"),
        (F.expr(f"(ts_us div {DAY_US}) % 7").isin(2, 3)).alias("is_b"),
    )
    wx = Window.partitionBy("event_type").orderBy("x")
    tx = Window.partitionBy("event_type", "x")
    r = base.select(
        "event_type",
        "is_b",
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(tx) - 1)
        .cast("long")
        .alias("rx"),
    )
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(
            F.when(F.col("is_b"), F.col("rx")).otherwise(0).cast("decimal(38,0)")
        ).alias("r2b"),
    )
    ties = (
        base.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.expr(
                    "CAST(t AS DECIMAL(38,0)) * t * t - t"
                )
            ).alias("tcorr")
        )
    )
    j = g.join(ties, "event_type").select(
        "event_type",
        "n",
        (F.col("n") - F.col("n_b")).alias("n_a"),
        "n_b",
        # 2·U_b = ΣR2_b − n_b(n_b+1), exact integer (R2 is doubled ranks)
        F.expr(
            "CAST(r2b - CAST(n_b AS DECIMAL(38,0)) * (n_b + 1) AS BIGINT)"
        ).alias("u2_b"),
        # Var · 12n(n−1) = n_a·n_b·((n³−n) − Σ(t³−t)), exact decimal
        F.expr(
            "CAST(n - n_b AS DECIMAL(38,0)) * n_b"
            " * (CAST(n AS DECIMAL(38,0)) * n * n - n"
            "    - tcorr)"
        ).alias("vnum"),
    )
    z4 = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (F.col("vnum") > 0),
        F.floor(
            F.expr(
                # exact decimal difference, ONE cast to double; then one
                # IEEE divide/sqrt chain identical on both engines
                "CAST(CAST(u2_b AS DECIMAL(38,0))"
                " - CAST(n_a AS DECIMAL(38,0)) * n_b AS DOUBLE)"
                " / (2 * sqrt(CAST(vnum AS DOUBLE)"
                "     / CAST(12 * CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE)))"
            )
            * F.lit(1e4)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e4),
    )
    return j.select("event_type", "n_a", "n_b", "u2_b", z4.alias("z"))


def sql_monthly_growth(orders: DataFrame) -> DataFrame:
    """Month-over-month revenue growth as a SQL text (the §2 SQL
    entry-point family): per calendar month — order count, exact revenue
    cents, the previous month's cents, and the MoM growth rate — the
    canonical finance trend table.

    EXACT cross-engine: the month key is the integer year·100 + month
    (no date_trunc surface — a DATE column would compare fine, but the
    int is simpler and sorts identically), revenue is exact cents, and
    growth = (rev − prev)/prev rides the sign-aware decimal device at
    6 dp. The first month (no predecessor) and any zero-prev month emit
    NULL growth. Consecutive-month semantics: lag is by BOOK order (the
    previous month WITH ORDERS) — gap months don't exist in TPC-H order
    books; documented rather than spine-filled.

    Scale shape: one fact-sized per-month partial agg; the lag window
    runs over the ≤|months| aggregate rows (single-partition by design —
    the win_pivot_points posture: the window NEVER sees fact rows).
    """
    from kdb_spark.analytics.exact import iround_sql

    growth = iround_sql(
        "revenue_c - prev_c", "CAST(prev_c AS DECIMAL(38,0))", 6, signed=True
    )
    return orders.sparkSession.sql(
        f"""
        WITH m AS (
          SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS revenue_c
          FROM {{orders_v}} GROUP BY 1),
        l AS (
          SELECT ym, n_orders, revenue_c,
                 lag(revenue_c) OVER (ORDER BY ym) AS prev_c
          FROM m)
        SELECT ym, n_orders, revenue_c, prev_c,
               CASE WHEN prev_c > 0 THEN {growth} END AS mom_growth
        FROM l
        """,
        orders_v=orders,
    )


def agg_cohens_d(events: DataFrame) -> DataFrame:
    """Cohen's d effect size per event_type: the standardized
    weekend-vs-weekday mean price difference on the pooled standard
    deviation — the PARAMETRIC twin of agg_mann_whitney (same integer
    epoch-day split), answering "how big is the shift" where the rank
    test answers "is there one".

    EXACT cross-engine: per-sample sums and second moments accumulate in
    decimal(38,0) on exact cents; the pooled-variance numerator clears
    denominators to Vnum = n_b·(n_a·q_a − s_a²) + n_a·(n_b·q_b − s_b²)
    (exact decimal), so d = (s_b·n_a − s_a·n_b) / (n_a·n_b·σ_pooled)
    takes ONE IEEE divide/multiply/sqrt chain on doubles cast from exact
    decimals and lands on the 1e-4 grid. Sample means surface in dollars
    through the standard device at 6 dp. Degenerate groups (either
    sample empty, n ≤ 2, or zero pooled variance) emit NULL d. Domain:
    Vnum ~ n³·c² ≤ 10³⁸ ⇒ n ≲ 2·10⁷ rows/group at tick-scale cents —
    disclosed (same class as agg_mann_whitney's n⁵).

    Scale shape: ONE fact-sized conditional-moment hash agg (map-side
    combined), then scalar math on |types| rows. No window, no join.
    """
    base = events.select(
        "event_type",
        cents("value").alias("x"),
        (F.expr(f"(ts_us div {DAY_US}) % 7").isin(2, 3)).alias("is_b"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    g = base.groupBy("event_type").agg(
        F.sum(F.when(~F.col("is_b"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~F.col("is_b"), xd).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("s_a"),
        F.sum(F.when(F.col("is_b"), xd).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("s_b"),
        F.sum(F.when(~F.col("is_b"), xd * F.col("x")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("q_a"),
        F.sum(F.when(F.col("is_b"), xd * F.col("x")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("q_b"),
    )
    t = g.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr(
            "CAST(n_b AS DECIMAL(38,0)) * (CAST(n_a AS DECIMAL(38,0)) * q_a - s_a * s_a)"
            " + CAST(n_a AS DECIMAL(38,0)) * (CAST(n_b AS DECIMAL(38,0)) * q_b - s_b * s_b)"
        ).alias("vnum"),
        F.expr("s_b * CAST(n_a AS DECIMAL(38,0)) - s_a * CAST(n_b AS DECIMAL(38,0))").alias("diff"),
        "s_a",
        "s_b",
    )
    d4 = F.when(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("n_a") + F.col("n_b") > 2)
        & (F.col("vnum") > 0),
        F.floor(
            F.expr(
                "CAST(diff AS DOUBLE)"
                " / (CAST(CAST(n_a AS DECIMAL(38,0)) * n_b AS DOUBLE)"
                "    * sqrt(CAST(vnum AS DOUBLE)"
                "           / CAST(CAST(n_a AS DECIMAL(38,0)) * n_b * (n_a + n_b - 2)"
                "                  AS DOUBLE)))"
            )
            * F.lit(1e4)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e4),
    )
    mean_a = F.when(
        F.col("n_a") > 0,
        iround_col("s_a", "100 * CAST(n_a AS DECIMAL(38,0))", 6, signed=True),
    )
    mean_b = F.when(
        F.col("n_b") > 0,
        iround_col("s_b", "100 * CAST(n_b AS DECIMAL(38,0))", 6, signed=True),
    )
    return t.select(
        "event_type",
        "n_a",
        "n_b",
        mean_a.alias("mean_weekday"),
        mean_b.alias("mean_weekend"),
        d4.alias("cohens_d"),
    )


def agg_cramers_v(events: DataFrame) -> DataFrame:
    """Cramér's V association between event_type and day-of-week — "does
    WHAT happens depend on WHEN": the normalized chi-square over the full
    R×C contingency table, one global statistic row (agg_chi2_drift is
    the 2×L pairwise-drift form; this is the classic association census).

    EXACT cross-engine (the agg_chi2_drift discipline): contingency cells
    INCLUDE structural zeros (margin cross join, so every E > 0 cell
    exists even when O = 0); each cell's (O·n − r·k)²/(n·r·k) is ONE
    deterministic double from exact decimals (the square is a
    self-multiply of the cast value, never pow); the statistic folds the
    ≤ R·C cell doubles in a FIXED (event_type, dow) order via array_sort
    + left fold, replayed identically by the oracle's list(ORDER BY) +
    list_reduce. chi2 surfaces on the 1e-6 grid, V = √(chi2_raw/
    (n·min(R−1, C−1))) on the 1e-4 grid (one IEEE divide/sqrt from the
    same unrounded fold). Degenerate tables (R < 2 or C < 2) emit NULL V.
    Domain: (c·n)² ≤ 10³⁸ ⇒ n ≲ 3·10⁹ rows — disclosed.

    Scale shape: ONE fact-sized (type, dow) hash agg; margins, the
    ≤ R·C cross join, and the global fold are all dimension-sized.
    """
    base = events.select(
        "event_type",
        F.expr(f"CAST((ts_us div {DAY_US}) % 7 AS INT)").alias("dow"),
    )
    counts = base.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rows_t = counts.groupBy("event_type").agg(F.sum("c").cast("long").alias("r"))
    cols_t = counts.groupBy("dow").agg(F.sum("c").cast("long").alias("k"))
    tot = counts.agg(F.sum("c").cast("long").alias("n"))
    cells = (
        rows_t.crossJoin(cols_t)
        .join(counts, ["event_type", "dow"], "left")
        .crossJoin(tot)
        .select(
            "event_type",
            "dow",
            "r",
            "k",
            "n",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    cell = cells.select(
        "event_type",
        "dow",
        "n",
        F.expr(
            "CAST(CAST(c AS DECIMAL(38,0)) * n"
            " - CAST(r AS DECIMAL(38,0)) * k AS DOUBLE)"
        ).alias("dnum"),
        F.expr("CAST(CAST(r AS DECIMAL(38,0)) * k * n AS DOUBLE)").alias("e"),
    ).select(
        "event_type",
        "dow",
        "n",
        (F.col("dnum") * F.col("dnum") / F.col("e")).alias("term"),
    )
    g = cell.agg(
        F.max("n").alias("n"),
        F.countDistinct("event_type").cast("long").alias("n_rows"),
        F.countDistinct("dow").cast("long").alias("n_cols"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_type", "dow", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("chi2_raw"),
    )
    minrc = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    v4 = F.when(
        minrc >= 1,
        F.floor(
            F.sqrt(
                F.col("chi2_raw")
                / F.expr("CAST(CAST(n AS DECIMAL(38,0))"
                         " * least(n_rows - 1, n_cols - 1) AS DOUBLE)")
            )
            * F.lit(1e4)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e4),
    )
    return g.select(
        "n",
        "n_rows",
        "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).cast("long").alias("dof"),
        (
            F.floor(F.col("chi2_raw") * F.lit(1e6) + F.lit(0.5)).cast("double")
            / F.lit(1e6)
        ).alias("chi2"),
        v4.alias("cramers_v"),
    )


def sql_repeat_rate(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Repeat-purchase census per market segment as a SQL text: active
    customers, repeaters (≥ 2 orders), the repeat share, and mean orders
    per active customer — the retention KPI every commerce dashboard
    leads with (sql_cust_distribution is the full count histogram; this
    is its two-number executive cut).

    EXACT cross-engine: integer counts, both ratios through the decimal
    device at 6 dp (active customers > 0 whenever a segment row exists —
    inner join, no guard needed). One fact-sized per-customer agg, a
    broadcast-sized customer-dimension join, then a ≤|segments| reduce.
    """
    from kdb_spark.analytics.exact import iround_sql

    share = iround_sql(
        "n_repeat", "CAST(n_active AS DECIMAL(38,0))", 6, signed=False
    )
    mean_o = iround_sql(
        "n_orders", "CAST(n_active AS DECIMAL(38,0))", 6, signed=False
    )
    return orders.sparkSession.sql(
        f"""
        WITH per AS (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
          FROM {{orders_v}} GROUP BY 1),
        seg AS (
          SELECT c.c_mktsegment AS segment,
                 CAST(count(*) AS BIGINT) AS n_active,
                 CAST(sum(CASE WHEN p.n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repeat,
                 CAST(sum(p.n) AS BIGINT) AS n_orders
          FROM per p JOIN {{customer_v}} c ON c.c_custkey = p.o_custkey
          GROUP BY 1)
        SELECT segment, n_active, n_repeat, n_orders,
               {share} AS repeat_share,
               {mean_o} AS orders_per_active
        FROM seg
        """,
        orders_v=orders,
        customer_v=customer,
    )


def agg_var_es(events: DataFrame, q: int = 95) -> DataFrame:
    """Empirical Value-at-Risk and Expected Shortfall per event_type at
    the ``q``-th percentile of the price distribution (value read as the
    loss variable): VaR = the exact ⌈q·n/100⌉-th order statistic, ES =
    the exact mean of the tail at/above it — the risk-desk pair beside
    agg_percentile (which interpolates; order statistics are exact VALUE
    PICKS, so this op is bit-deterministic with no grid device on VaR).

    EXACT cross-engine: k = ⌈q·n/100⌉ is integer arithmetic
    ((q·n + 99) div 100 at integer q), the order statistic is a stored
    cents value (row_number over a deterministic (value, event_id) sort —
    duplicate values make any tiebreak pick the same cents), and ES =
    Σtail/(100·m) rides the unsigned decimal device at 6 dp. Groups of
    any size work (k ≥ 1 whenever n ≥ 1).

    Scale shape (r15 rewrite — the VERDICT r14 2.2× key): VALUE-COUNT
    DEVICE instead of a full per-type row sort. Pass 1 is a hash agg on
    (event_type, cents) — map-side combine, shuffle bounded by distinct
    price points, not rows. Pass 2 windows over DISTINCT VALUES only
    (|distinct cents| ≪ |rows| — at 100 TB prices repeat millions of
    times; the old row_number sorted every row of a type through one
    reducer, the genuine skew-killer the verdict flagged). The rank-k
    order statistic falls in the unique value row where the running
    count first reaches k (prefix ≥ k AND prefix − c < k); ES comes from
    the suffix sum: tail = (total − prefix·sum) + var·(prefix_cnt−k+1).
    Bit-identical to the sort form: duplicate cents make every tiebreak
    pick the same value, so event_id never mattered to the answer.
    """
    x = cents("value")
    vc = (
        events.select("event_type", x.alias("x"))
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wo = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("event_type")
    xd = F.col("x").cast("decimal(38,0)")
    r = vc.select(
        "event_type",
        "x",
        "c",
        F.sum("c").over(wo).cast("long").alias("pcnt"),
        F.sum(xd * F.col("c")).over(wo).alias("psum"),
        F.sum("c").over(wp).cast("long").alias("n"),
        F.sum(xd * F.col("c")).over(wp).alias("tot"),
    )
    k = F.expr(f"({q} * n + 99) div 100")
    hit = r.filter((F.col("pcnt") >= k) & (F.col("pcnt") - F.col("c") < k))
    g = hit.select(
        "event_type",
        "n",
        (F.col("n") - k + 1).cast("long").alias("tail_n"),
        F.col("x").cast("long").alias("var_c"),
        (
            F.col("tot")
            - F.col("psum")
            + F.col("x").cast("decimal(38,0)")
            * (F.col("pcnt") - k + 1).cast("decimal(38,0)")
        ).alias("tail_sum_c"),
    )
    # sign-aware: the tail of a signed loss variable can sum negative
    es6 = iround_col(
        "tail_sum_c", "100 * CAST(tail_n AS DECIMAL(38,0))", 6, signed=True
    )
    return g.select(
        "event_type",
        "n",
        "tail_n",
        (F.col("var_c").cast("double") / F.lit(100.0)).alias("var_usd"),
        es6.alias("es_usd"),
    )


def sql_lead_time(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order-to-ship lead time per order priority as SQL text: mean days,
    the exact p95 order statistic, and the late-line share (> 90 days) —
    the fulfillment SLA table (TPC-H's shipping-delay family, cut by
    priority instead of Q12's ship mode).

    EXACT cross-engine: lead days are integer date arithmetic on the
    DATE-cast timestamps, the mean rides the decimal device at 6 dp,
    p95 is the exact ⌈95·n/100⌉-th order statistic (the agg_var_es
    discipline — no interpolation), and the late share is a device
    ratio of exact conditional counts.

    Scale shape: one fact-fact join on orderkey (both sides huge at
    100 TB — the shuffle join Catalyst picks is right; bucketing both
    tables on orderkey would co-locate it, cf. sink_bucketed), then a
    rank window + final agg sharing one priority-key Exchange.
    """
    from kdb_spark.analytics.exact import iround_sql

    mean6 = iround_sql(
        "sum_days", "CAST(n AS DECIMAL(38,0))", 6, signed=False
    )
    late6 = iround_sql(
        "n_late", "CAST(n AS DECIMAL(38,0))", 6, signed=False
    )
    return orders.sparkSession.sql(
        f"""
        WITH ld AS (
          SELECT o.o_orderpriority AS priority,
                 CAST(datediff(CAST(l.l_shipdate AS DATE),
                               CAST(o.o_orderdate AS DATE)) AS BIGINT) AS d
          FROM {{orders_v}} o JOIN {{lineitem_v}} l
            ON l.l_orderkey = o.o_orderkey),
        r AS (
          SELECT priority, d,
                 row_number() OVER (PARTITION BY priority ORDER BY d) AS rn,
                 count(*) OVER (PARTITION BY priority) AS n
          FROM ld),
        g AS (
          SELECT priority,
                 CAST(max(n) AS BIGINT) AS n,
                 CAST(sum(d) AS BIGINT) AS sum_days,
                 CAST(sum(CASE WHEN d > 90 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_late,
                 CAST(min(CASE WHEN rn >= (95 * n + 99) DIV 100 THEN d END)
                      AS BIGINT) AS p95_days
          FROM r GROUP BY 1)
        SELECT priority, n, p95_days,
               {mean6} AS mean_days,
               {late6} AS late_share
        FROM g
        """,
        orders_v=orders,
        lineitem_v=lineitem,
    )


def sql_ltv_deciles(orders: DataFrame) -> DataFrame:
    """Customer lifetime-value decile table as SQL text: active customers
    ranked by exact LTV cents, cut into ten equal-count bands — per
    decile the census, the LTV mass, and its share of total (the lift /
    value-concentration chart every growth review opens with; agg_lorenz
    is the continuous curve, this is the ten-row BI cut).

    EXACT cross-engine: deciles are pure integer arithmetic on the
    global LTV rank ((rn−1)·10 div n — no ntile, whose remainders Spark
    and DuckDB could distribute differently... actually both put
    remainders in the LOW tiles, but the explicit form makes the
    contract readable and provably identical), ties broken by custkey;
    shares ride the device against the exact grand total.

    Scale shape: one fact-sized per-customer agg, then a GLOBAL
    row_number over the per-customer AGGREGATE — customer-dimension-
    sized, disclosed: this is the one table in the repo with a
    deliberate single-partition sort, acceptable because its input is a
    dimension aggregate (≈n_customers rows), never fact rows; at true
    100 TB dimension scale, band on value thresholds from
    agg_quantile_sketch instead.
    """
    from kdb_spark.analytics.exact import iround_sql

    share = iround_sql(
        "ltv_c", "CAST(total_c AS DECIMAL(38,0))", 6, signed=False
    )
    return orders.sparkSession.sql(
        f"""
        WITH per AS (
          SELECT o_custkey,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS ltv_c
          FROM {{orders_v}} GROUP BY 1),
        r AS (
          SELECT o_custkey, ltv_c,
                 row_number() OVER (ORDER BY ltv_c DESC, o_custkey) AS rn,
                 count(*) OVER () AS n,
                 sum(ltv_c) OVER () AS tot
          FROM per),
        d AS (
          SELECT CAST(((rn - 1) * 10) DIV n AS INT) AS decile,
                 ltv_c, tot
          FROM r),
        g AS (
          SELECT decile,
                 CAST(count(*) AS BIGINT) AS n_customers,
                 CAST(sum(ltv_c) AS BIGINT) AS ltv_c,
                 CAST(max(tot) AS BIGINT) AS total_c
          FROM d GROUP BY 1)
        SELECT decile, n_customers, ltv_c,
               {share} AS ltv_share
        FROM g
        """,
        orders_v=orders,
    )


def agg_winsorized(events: DataFrame, p: int = 5) -> DataFrame:
    """Robust location estimates per event_type: the ``p``-percent
    trimmed mean (drop both tails) and winsorized mean (clamp both tails
    to the cut values) beside the raw mean — the outlier-resistant
    trio a risk/quality review quotes together (agg_var_es owns the tail
    itself; these summarize the CENTER robustly).

    EXACT cross-engine: cut ranks are integer arithmetic (lo = ⌈p·n/100⌉,
    hi = n − lo; rows with lo < rn ≤ hi survive the trim), the cut
    VALUES are exact order statistics, the winsorized sum replaces each
    tail row's value with its cut value (lo·q_lo + hi-tail·q_hi added to
    the interior sum — all exact cents), and all three means ride the
    sign-aware device at 6 dp (dollars). Degenerate groups (trim empties
    the interior: n ≤ 2·lo) emit NULL trimmed/winsorized.

    Scale shape: one event_type Exchange shared by the rank sort, the
    partition count, and the conditional aggregates (the agg_var_es
    posture).
    """
    x = cents("value")
    wo = Window.partitionBy("event_type").orderBy("x", "event_id")
    wp = Window.partitionBy("event_type")
    r = events.select("event_type", x.alias("x"), "event_id").select(
        "event_type",
        "x",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    lo = F.expr(f"({p} * n + 99) div 100")
    r = r.withColumn("lo", lo).withColumn("hi", F.col("n") - lo)
    g = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("lo").cast("long").alias("n_cut"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s_all"),
        F.sum(
            F.when(
                (F.col("rn") > F.col("lo")) & (F.col("rn") <= F.col("hi")),
                F.col("x"),
            )
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("s_mid"),
        F.sum(
            F.when(
                (F.col("rn") > F.col("lo")) & (F.col("rn") <= F.col("hi")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_mid"),
        # standard winsorization clamps to the INTERIOR boundary values:
        # q_lo = x at rn = lo+1 (lowest survivor), q_hi = x at rn = hi
        # (highest survivor) — each tail row is replaced by its clamp
        F.max(F.when(F.col("rn") == F.col("lo") + 1, F.col("x"))).alias("q_lo"),
        F.max(F.when(F.col("rn") == F.col("hi"), F.col("x"))).alias("q_hi"),
    )

    def mean6(num: str, den: str) -> F.Column:
        return iround_col(num, f"100 * CAST({den} AS DECIMAL(38,0))", 6, signed=True)

    ok = F.col("n_mid") > 0
    return g.select(
        "event_type",
        "n",
        "n_cut",
        mean6("s_all", "n").alias("mean"),
        F.when(ok, mean6("s_mid", "n_mid")).alias("trimmed_mean"),
        F.when(
            ok,
            iround_col(
                "s_mid + CAST(n_cut AS DECIMAL(38,0)) * q_lo"
                " + CAST(n_cut AS DECIMAL(38,0)) * q_hi",
                "100 * CAST(n AS DECIMAL(38,0))",
                6,
                signed=True,
            ),
        ).alias("winsorized_mean"),
    )


def agg_iqr_fence(events: DataFrame) -> DataFrame:
    """Tukey fence outlier census per event_type: exact quartile order
    statistics, the 1.5·IQR fences, and the count/share of rows outside
    them — the box-plot outlier rule as a query (win_hampel is the
    rolling/local form; this is the global census).

    EXACT cross-engine: q1/q3 are the ⌈n/4⌉-th and ⌈3n/4⌉-th order
    statistics (exact value picks), and the fences stay INTEGER by
    doubling: 2·lo_fence = 5·q1 − 3·q3 and 2·hi_fence = 5·q3 − 3·q1
    (±1.5·IQR cleared of the half), so the outlier predicate 2·x <
    2·lo_fence is pure integer comparison. The share rides the unsigned
    device. Fences surface in dollars via one exact /200 cast-divide.

    Scale shape: the agg_var_es single-Exchange posture (rank sort +
    partition count + final conditional agg).
    """
    x = cents("value")
    wo = Window.partitionBy("event_type").orderBy("x", "event_id")
    wp = Window.partitionBy("event_type")
    r = events.select("event_type", x.alias("x"), "event_id").select(
        "event_type",
        "x",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    k1 = F.expr("(25 * n + 99) div 100")
    k3 = F.expr("(75 * n + 99) div 100")
    r = r.withColumn("k1", k1).withColumn("k3", k3)
    q = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.col("k1"), F.col("x"))).alias("q1"),
        F.max(F.when(F.col("rn") == F.col("k3"), F.col("x"))).alias("q3"),
    )
    vals = r.select("event_type", "x")
    j = vals.join(F.broadcast(q), "event_type")
    out = j.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("q1").cast("long").alias("q1_c"),
        F.max("q3").cast("long").alias("q3_c"),
        F.sum(
            F.when(
                (2 * F.col("x") < 5 * F.col("q1") - 3 * F.col("q3"))
                | (2 * F.col("x") > 5 * F.col("q3") - 3 * F.col("q1")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )
    return out.select(
        "event_type",
        "n",
        (F.col("q1_c").cast("double") / F.lit(100.0)).alias("q1"),
        (F.col("q3_c").cast("double") / F.lit(100.0)).alias("q3"),
        (
            F.expr("CAST(5 * q1_c - 3 * q3_c AS DOUBLE)") / F.lit(200.0)
        ).alias("lo_fence"),
        (
            F.expr("CAST(5 * q3_c - 3 * q1_c AS DOUBLE)") / F.lit(200.0)
        ).alias("hi_fence"),
        "n_outliers",
        iround_col(
            "n_outliers", "CAST(n AS DECIMAL(38,0))", 6, signed=False
        ).alias("outlier_share"),
    )


def agg_roll_spread(events: DataFrame) -> DataFrame:
    """Roll's implied bid-ask spread per event_type: 2·√(−cov(Δp_t,
    Δp_{t−1})) — the classic microstructure estimator that reads the
    effective spread out of the negative serial covariance bounce of
    trade prices (joins agg_benford / agg_round_number_bias as the third
    price-forensics gate). Deltas are per (user, event_type) series
    (bounces don't cross users); the covariance pools every consecutive
    delta pair of the type.

    EXACT cross-engine: deltas and the lagged pairs are exact cents; the
    co-moment C = n·Σab − Σa·Σb accumulates in decimal(38,0); the spread
    takes ONE divide/sqrt chain on doubles cast from exact decimals and
    lands on the 1e-4 grid in dollars. Positive serial covariance (no
    bounce — trending tape) emits NULL spread, the estimator's standard
    undefined region; cov itself surfaces via the sign-aware device in
    cents² so the NULL case is still diagnosable.

    Scale shape: one series-key window Exchange for the two lags, then
    one per-type hash agg; co-moments never leave decimal.
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    c = cents("value")
    t = events.select("user_id", "event_type", "ts_us", "event_id", c.alias("c")).select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        (F.col("c") - F.lag("c").over(wo)).alias("a"),
    )
    t = t.withColumn("b", F.lag("a").over(wo)).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    g = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("b")).alias("sab"),
    )
    g = g.withColumn(
        "cm", F.expr("CAST(n AS DECIMAL(38,0)) * sab - sa * sb")
    )
    cov4 = F.when(
        F.col("n") > 1,
        F.expr(
            "(CASE WHEN cm < 0 THEN -1 ELSE 1 END) * "
            + floor_div_sql(
                "20000 * abs(cm) + CAST(n AS DECIMAL(38,0)) * (n - 1)",
                "2 * CAST(n AS DECIMAL(38,0)) * (n - 1)",
            )
        ).cast("double")
        / F.lit(1e4),
    )
    spread4 = F.when(
        (F.col("n") > 1) & (F.col("cm") < 0),
        F.floor(
            F.expr(
                "2 * sqrt(CAST(-cm AS DOUBLE)"
                " / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE)) / 100"
            )
            * F.lit(1e4)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e4),
    )
    return g.select(
        "event_type",
        "n",
        cov4.alias("delta_autocov_c2"),
        spread4.alias("roll_spread_usd"),
    )


def agg_amihud(lineitem: DataFrame) -> DataFrame:
    """Amihud illiquidity per supplier over the shipment tape: the mean
    of |return| per million dollars of flow — price impact per unit
    traded, the workhorse cross-sectional liquidity measure (win_mfi
    reads flow DIRECTION; this reads flow COST).

    Per print: illq = 10⁶·|Δpc|/(pc_prev · pc·q/100) — an exact rational
    (return over dollar volume, scaled to per-million). Each print's
    value lands on its own 1e-6 grid integer (sign-free — |Δpc| ≥ 0),
    and the per-supplier mean averages those exact grid integers through
    the device again: the two-stage grid accumulation win_stochastic's
    %D pinned (documented: the mean is over GRID values, not raw
    rationals — both engines do the identical two roundings).

    Scale shape: one supplier-key window Exchange (the lag), then one
    per-supplier hash agg of grid integers.
    """
    wo = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    pc = cents("l_extendedprice")
    q = F.round(F.col("l_quantity")).cast("long")
    t = lineitem.select(
        "l_suppkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        pc.alias("pc"),
        q.alias("q"),
        F.lag(pc).over(wo).alias("ppc"),
    ).filter(F.col("ppc").isNotNull() & (F.col("ppc") > 0) & (F.col("q") > 0))
    # per-print grid integer: round(1e6·100·|dp| / (ppc·pc·q), 6)·1e6
    g6 = F.expr(
        floor_div_sql(
            "2000000 * CAST(100000000 AS DECIMAL(38,0)) * abs(pc - ppc)"
            " + CAST(ppc AS DECIMAL(38,0)) * pc * q",
            "2 * CAST(ppc AS DECIMAL(38,0)) * pc * q",
        )
    )
    s = t.select("l_suppkey", g6.alias("g"))
    agg_ = s.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_prints"),
        F.sum(F.col("g")).alias("sg"),
    )
    return agg_.select(
        "l_suppkey",
        "n_prints",
        (
            F.expr(
                floor_div_sql(
                    "2 * sg + CAST(n_prints AS DECIMAL(38,0))",
                    "2 * CAST(n_prints AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(1e6)
        ).alias("amihud_pm"),
    )


def agg_burstiness(events: DataFrame) -> DataFrame:
    """Burstiness coefficient per event_type: B = (σ−μ)/(σ+μ) over the
    pooled per-series inter-arrival gaps — the Goh–Barabási cadence
    classifier (−1 = metronome, 0 = Poisson, →1 = bursty), the single
    number behind "is this traffic organic or scripted"
    (agg_interarrival_stats reports the raw moments per series; this is
    the normalized population verdict).

    EXACT cross-engine: gaps are exact µs integers pooled per type; the
    moment pieces stay decimal (vnum = n·Σg² − (Σg)², the agg_stats
    second-moment form); B takes ONE deterministic IEEE expression —
    (s−m)/(s+m) with s = √(vnum/(n(n−1))) and m = Σg/n as doubles cast
    from exact decimals — and lands on the 1e-4 grid. Degenerate types
    (n < 2 or zero mean and variance) emit NULL.

    Scale shape: one series-key lag Exchange, then one per-type hash agg.
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    t = events.select(
        "user_id",
        "event_type",
        (F.col("ts_us") - F.lag("ts_us").over(wo)).alias("g"),
    ).filter(F.col("g").isNotNull())
    a = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("g").cast("decimal(38,0)")).alias("sg"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("sgg"),
    )
    a = a.withColumn(
        "vnum", F.expr("CAST(n AS DECIMAL(38,0)) * sgg - sg * sg")
    )
    b4 = F.when(
        (F.col("n") > 1) & ((F.col("vnum") > 0) | (F.col("sg") > 0)),
        F.floor(
            F.expr(
                "(sqrt(CAST(vnum AS DOUBLE)"
                "      / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))"
                " - CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))"
                " / (sqrt(CAST(vnum AS DOUBLE)"
                "         / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))"
                "    + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))"
            )
            * F.lit(1e4)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e4),
    )
    return a.select("event_type", "n", b4.alias("burstiness"))


def sql_cohort_retention(orders: DataFrame) -> DataFrame:
    """Cohort revenue-retention triangle as SQL text: customers grouped by
    first-order month (the cohort), every later order attributed to its
    month age, and each (cohort, age) cell reported as exact revenue plus
    its share of the cohort's age-0 revenue — the classic retention
    triangle (retention_cohort counts active users on events; this is
    the REVENUE-weighted orders-side form the finance review reads).

    EXACT cross-engine: integer month keys (year·12 + month makes age a
    plain subtraction — no date interval arithmetic to disagree on),
    exact cents, device shares against the age-0 cell (cohorts with a
    zero first-month cell — impossible by construction, the cohort month
    IS an order month — still guarded).

    Scale shape: one per-customer min-month agg (fact-sized) joined back
    to orders on custkey (the one fact-fact shuffle; bucketing
    co-locates it), then a ≤|months|² reduce + a cohort-key window over
    aggregate rows only.
    """
    from kdb_spark.analytics.exact import iround_sql

    share = iround_sql(
        "revenue_c", "CAST(base_c AS DECIMAL(38,0))", 6, signed=False
    )
    return orders.sparkSession.sql(
        f"""
        WITH m AS (
          SELECT o_custkey,
                 CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS ym,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM {{orders_v}}),
        first_m AS (
          SELECT o_custkey, min(ym) AS cohort FROM m GROUP BY 1),
        cells AS (
          SELECT f.cohort, m.ym - f.cohort AS age,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(m.c) AS BIGINT) AS revenue_c
          FROM m JOIN first_m f ON f.o_custkey = m.o_custkey
          GROUP BY 1, 2),
        b AS (
          SELECT cohort, age, n_orders, revenue_c,
                 max(CASE WHEN age = 0 THEN revenue_c END)
                   OVER (PARTITION BY cohort) AS base_c
          FROM cells)
        SELECT cohort, age, n_orders, revenue_c,
               CASE WHEN base_c > 0 THEN {share} END AS revenue_retention
        FROM b
        """,
        orders_v=orders,
    )


def agg_downside_risk(events: DataFrame) -> DataFrame:
    """Downside risk per event_type: the semi-deviation (root mean square
    of NEGATIVE tick deltas over ALL deltas — the Sortino denominator)
    and the downside share — the asymmetric companion to
    win_realized_vol's symmetric variance (risk desks price drawdowns,
    not wiggles).

    EXACT cross-engine: per-series deltas are exact cents; the downside
    second moment Σd²·[d<0] accumulates in decimal(38,0); semidev =
    √(Σd²_neg/n) takes ONE IEEE divide/sqrt from exact decimals onto the
    1e-4 dollar grid (the agg_corr discipline); the downside share rides
    the unsigned device. Groups with no deltas emit nothing (no pairs —
    same contract as agg_roll_spread).

    Scale shape: one series-key lag Exchange + one per-type hash agg.
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    c = cents("value")
    t = events.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        c.alias("c"),
    ).select(
        "event_type",
        (F.col("c") - F.lag("c").over(wo)).alias("d"),
    ).filter(F.col("d").isNotNull())
    g = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).cast("long").alias("n_down"),
        F.sum(
            F.when(F.col("d") < 0, F.col("d").cast("decimal(38,0)") * F.col("d"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("sdd"),
    )
    semidev4 = F.floor(
        F.expr("sqrt(CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE)) / 100")
        * F.lit(1e4)
        + F.lit(0.5)
    ).cast("double") / F.lit(1e4)
    return g.select(
        "event_type",
        "n",
        "n_down",
        semidev4.alias("semidev_usd"),
        iround_col("n_down", "CAST(n AS DECIMAL(38,0))", 6, signed=False)
        .alias("down_share"),
    )


def agg_underwater(events: DataFrame) -> DataFrame:
    """Underwater-spell census per event_type: the longest and mean run
    of consecutive ticks below the running high per series, pooled per
    type — drawdown DURATION where win_drawdown measures drawdown DEPTH
    (recovery time is the risk number investors actually feel).

    EXACT cross-engine: underwater = c < running max (exact cents);
    spells segment with the sessionize cumsum trick (a new spell starts
    at every underwater tick whose predecessor was not); spell lengths
    are exact integer counts, the mean rides the device. Types with no
    underwater ticks emit nothing (empty spell set — disclosed; an
    all-time-high-only tape has no spells to describe).

    Scale shape: one series-key Exchange shared by the running max, the
    lag, and the spell cumsum (consecutive Window nodes), then two hash
    aggs (per-spell length → per-type stats).
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    run = wo.rowsBetween(Window.unboundedPreceding, 0)
    c = cents("value")
    t = events.select(
        "user_id", "event_type", "ts_us", "event_id", c.alias("c")
    ).select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        (F.col("c") < F.max("c").over(run)).alias("uw"),
    )
    t = t.withColumn(
        "new_spell",
        F.when(
            F.col("uw")
            & (~F.coalesce(F.lag("uw").over(wo), F.lit(False))),
            1,
        ).otherwise(0),
    ).withColumn(
        "spell_id",
        F.sum("new_spell").over(run),
    )
    spells = (
        t.filter(F.col("uw"))
        .groupBy("user_id", "event_type", "spell_id")
        .agg(F.count(F.lit(1)).cast("long").alias("len"))
    )
    g = spells.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_spells"),
        F.max("len").cast("long").alias("max_spell"),
        F.sum(F.col("len").cast("decimal(38,0)")).alias("sl"),
    )
    return g.select(
        "event_type",
        "n_spells",
        "max_spell",
        iround_col("sl", "CAST(n_spells AS DECIMAL(38,0))", 6, signed=False)
        .alias("mean_spell"),
    )


def sql_abc_parts(lineitem: DataFrame) -> DataFrame:
    """ABC inventory classification as SQL text: parts ranked by revenue,
    classed A (cumulative share ≤ 80%), B (≤ 95%), C (rest), reported as
    a per-class census — the warehouse-management standard cut
    (sql_ltv_deciles bands customers into ten; ABC bands parts into the
    three classes ops teams actually staff around).

    EXACT cross-engine: revenue is exact cents; the cumulative share
    test stays INTEGER — class A ⟺ 100·cum_c ≤ 80·total_c (no device
    needed on the predicate itself); the census shares ride the device.
    Rank ties break on partkey.

    Scale shape: one fact agg to per-part revenue (part-dimension-
    sized), then the disclosed dimension-sized global cumulative sort
    (the sql_ltv_deciles posture), then a 3-row reduce.
    """
    from kdb_spark.analytics.exact import iround_sql

    share = iround_sql(
        "class_c", "CAST(total_c AS DECIMAL(38,0))", 6, signed=False
    )
    return lineitem.sparkSession.sql(
        f"""
        WITH rev AS (
          SELECT l.l_partkey AS partkey,
                 CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_c
          FROM {{lineitem_v}} l GROUP BY 1),
        r AS (
          SELECT partkey, rev_c,
                 sum(rev_c) OVER (ORDER BY rev_c DESC, partkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_c,
                 sum(rev_c) OVER () AS total_c
          FROM rev),
        cls AS (
          SELECT partkey, rev_c, total_c,
                 CASE WHEN 100 * cum_c <= 80 * total_c THEN 'A'
                      WHEN 100 * cum_c <= 95 * total_c THEN 'B'
                      ELSE 'C' END AS abc
          FROM r),
        g AS (
          SELECT abc,
                 CAST(count(*) AS BIGINT) AS n_parts,
                 CAST(sum(rev_c) AS BIGINT) AS class_c,
                 CAST(max(total_c) AS BIGINT) AS total_c
          FROM cls GROUP BY 1)
        SELECT abc, n_parts, class_c,
               {share} AS revenue_share
        FROM g
        """,
        lineitem_v=lineitem,
    )


def agg_activity_heatmap(events: DataFrame) -> DataFrame:
    """Day-of-week × hour-of-day activity heat map: exact per-cell counts
    and value, plus each cell's share of its day's row total — the BI
    heat map feed (agg_seasonality profiles the hour axis alone;
    agg_cramers_v tests whether the two axes associate; this is the
    table both of them summarize).

    EXACT cross-engine: both coordinates are integer epoch arithmetic
    (day 0 = Thursday, the agg_mann_whitney convention), counts/cents
    exact, shares on the unsigned device against the day's total via a
    ≤168-cell window.

    Scale shape: ONE fact-sized hash agg to ≤ 7·24 cells (map-side
    combined); everything after is constant-size.
    """
    t = events.select(
        F.expr(f"CAST((ts_us div {DAY_US}) % 7 AS INT)").alias("dow"),
        F.expr(f"CAST((ts_us div {HOUR_US}) % 24 AS INT)").alias("hod"),
        cents("value").alias("c"),
    )
    g = t.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).cast("long").alias("sum_c"),
    )
    wd = Window.partitionBy("dow")
    g = g.withColumn("day_n", F.sum("n").over(wd).cast("long"))
    return g.select(
        "dow",
        "hod",
        "n",
        "sum_c",
        "day_n",
        iround_col("n", "CAST(day_n AS DECIMAL(38,0))", 6, signed=False)
        .alias("day_share"),
    )


def agg_gap_histogram(events: DataFrame) -> DataFrame:
    """Log₂-bucketed inter-arrival gap distribution per event_type — the
    cadence histogram (agg_interarrival_stats gives moments per series;
    agg_burstiness the one-number verdict; this is the full shape the
    resample-width decision actually looks at). Buckets are bit-math
    (length(bin(gap_ms)) − 1 — no float log), zero-gap ticks (same-µs
    duplicates) get the sentinel bucket −1.

    EXACT cross-engine: gaps are exact µs from one series lag, bucketed
    on whole milliseconds (gap div 1000), counts and min/max exact,
    share-of-type on the unsigned device.

    Scale shape: one series-key lag Exchange + one ≤|types|·64-cell hash
    agg, map-side combined.
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    t = events.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
    ).select(
        "event_type",
        (F.col("ts_us") - F.lag("ts_us").over(wo)).alias("g"),
    ).filter(F.col("g").isNotNull())
    b = t.select(
        "event_type",
        "g",
        F.when(F.col("g") < 1000, F.lit(-1))
        .otherwise(F.expr("CAST(length(bin(g div 1000)) - 1 AS INT)"))
        .alias("bucket"),
    )
    g = b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("g").cast("long").alias("min_gap_us"),
        F.max("g").cast("long").alias("max_gap_us"),
    )
    wt = Window.partitionBy("event_type")
    g = g.withColumn("type_n", F.sum("n").over(wt).cast("long"))
    return g.select(
        "event_type",
        "bucket",
        "n",
        "min_gap_us",
        "max_gap_us",
        iround_col("n", "CAST(type_n AS DECIMAL(38,0))", 6, signed=False)
        .alias("share"),
    )


def agg_record_stats(events: DataFrame) -> DataFrame:
    """Tape-health census per event_type: new record highs (strictly
    above the prior running max), stale ticks (zero delta), and their
    shares — record-statistics forensics (an honest random tape sets
    records at the harmonic rate and goes stale rarely; too many records
    = trend/manipulation, too many stale = a dead feed quoting) beside
    agg_round_number_bias and agg_roll_spread in the price-forensics
    family.

    EXACT cross-engine: records and stale flags are pure integer
    predicates against the PRIOR running max / previous tick (per
    series, pooled per type; the first tick of a series is neither —
    it has no prior), shares ride the unsigned device.

    Scale shape: one series-key Exchange (running max + lag share the
    sort) + one per-type hash agg.
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    prior = wo.rowsBetween(Window.unboundedPreceding, -1)
    c = cents("value")
    t = events.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        c.alias("c"),
    ).select(
        "event_type",
        "c",
        F.max("c").over(prior).alias("prior_max"),
        F.lag("c").over(wo).alias("pc"),
    ).filter(F.col("pc").isNotNull())
    g = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("c") > F.col("prior_max"), 1).otherwise(0))
        .cast("long")
        .alias("n_records"),
        F.sum(F.when(F.col("c") == F.col("pc"), 1).otherwise(0))
        .cast("long")
        .alias("n_stale"),
    )
    return g.select(
        "event_type",
        "n",
        "n_records",
        "n_stale",
        iround_col("n_records", "CAST(n AS DECIMAL(38,0))", 6, signed=False)
        .alias("record_share"),
        iround_col("n_stale", "CAST(n AS DECIMAL(38,0))", 6, signed=False)
        .alias("stale_share"),
    )


def sql_seasonal_index(orders: DataFrame) -> DataFrame:
    """Month-of-year seasonal index as SQL text: each calendar month's
    average monthly revenue against the all-months average — the
    classical seasonal index (sql_monthly_growth reads the trend;
    this reads the SEASON, the pair a forecaster decomposes with).

    EXACT cross-engine: index = mean_month/mean_all clears to the exact
    rational Σrev_m·n_all / (n_m·Σrev_all) — means of means never
    materialize as floats; month keys are integers; the index and the
    per-month mean ride the device at 6 dp. n_m ≥ 1 by construction
    (a month-of-year row exists only with orders), Σrev_all > 0 with
    TPC-H's positive prices — guarded anyway.

    Scale shape: one per-(year, month) partial agg (fact-sized) → a
    ≤12-row reduce; the global totals ride a window over those 12 rows.
    """
    from kdb_spark.analytics.exact import iround_sql

    idx = iround_sql(
        "rev_c * CAST(n_all AS DECIMAL(38,0))",
        "CAST(n_m AS DECIMAL(38,0)) * total_c",
        6,
        signed=False,
    )
    mean_m = iround_sql(
        "rev_c", "100 * CAST(n_m AS DECIMAL(38,0))", 6, signed=False
    )
    return orders.sparkSession.sql(
        f"""
        WITH ym AS (
          SELECT CAST(year(o_orderdate) AS INT) AS y,
                 CAST(month(o_orderdate) AS INT) AS m,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_c
          FROM {{orders_v}} GROUP BY 1, 2),
        mo AS (
          SELECT m,
                 CAST(count(*) AS BIGINT) AS n_m,
                 CAST(sum(rev_c) AS BIGINT) AS rev_c
          FROM ym GROUP BY 1),
        t AS (
          SELECT m, n_m, rev_c,
                 CAST(sum(n_m) OVER () AS BIGINT) AS n_all,
                 CAST(sum(rev_c) OVER () AS BIGINT) AS total_c
          FROM mo)
        SELECT m, n_m, rev_c,
               {mean_m} AS mean_month_usd,
               CASE WHEN total_c > 0 THEN {idx} END AS seasonal_index
        FROM t
        """,
        orders_v=orders,
    )


def agg_user_churn(events: DataFrame) -> DataFrame:
    """Adjacent-period user churn per event_type: for every consecutive
    day pair — retained, new, and churned user counts plus the rates —
    the product-analytics flow census (agg_dau_mau reads stock;
    retention_cohort anchors to FIRST touch; churn reads the
    period-over-period FLOW, which is what alerts fire on).

    EXACT cross-engine: active sets are exact (type, day, user)
    distincts; retained = active-today ∩ active-yesterday via one
    self-join on (type, user) at day+1; new/churned by difference; the
    rates ride the unsigned device against yesterday's actives (day
    pairs exist only where yesterday had actives — inner join from the
    yesterday side keeps the denominator > 0; a day with no prior day
    emits nothing).

    Scale shape: one fact-sized distinct to the (type, day, user) grain,
    then a self-join keyed (type, user) — co-partitioned, one Exchange —
    and a per-(type, day) reduce.
    """
    d = events.select(
        "event_type",
        F.expr(f"ts_us div {DAY_US}").cast("long").alias("day"),
        "user_id",
    ).distinct()
    # self-join: aliased sides with qualified refs (Spark's ambiguous-
    # self-join analyzer rejects lineage-shared columns otherwise)
    y = d.select(
        F.col("event_type").alias("y_et"),
        (F.col("day") + 1).alias("y_day"),
        F.col("user_id").alias("yu"),
        F.lit(1).alias("was"),
    )
    t = d.select(
        F.col("event_type").alias("t_et"),
        F.col("day").alias("t_day"),
        F.col("user_id").alias("tu"),
        F.lit(1).alias("is_t"),
    )
    j = t.join(
        y,
        (F.col("t_et") == F.col("y_et"))
        & (F.col("t_day") == F.col("y_day"))
        & (F.col("tu") == F.col("yu")),
        "full_outer",
    ).select(
        F.coalesce(F.col("t_et"), F.col("y_et")).alias("event_type"),
        F.coalesce(F.col("t_day"), F.col("y_day")).alias("day"),
        F.col("is_t"),
        F.col("was"),
    )
    g = j.groupBy("event_type", "day").agg(
        F.sum(F.when(F.col("is_t").isNotNull() & F.col("was").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("retained"),
        F.sum(F.when(F.col("is_t").isNotNull() & F.col("was").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(F.when(F.col("is_t").isNull() & F.col("was").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("churned"),
    )
    # keep only days with a prior-day denominator
    g = g.withColumn("prev_active", F.col("retained") + F.col("churned")).filter(
        F.col("prev_active") > 0
    )
    return g.select(
        "event_type",
        "day",
        "retained",
        "new_users",
        "churned",
        "prev_active",
        iround_col("retained", "CAST(prev_active AS DECIMAL(38,0))", 6, signed=False)
        .alias("retention_rate"),
        iround_col("churned", "CAST(prev_active AS DECIMAL(38,0))", 6, signed=False)
        .alias("churn_rate"),
    )


def sql_discount_bands(lineitem: DataFrame) -> DataFrame:
    """Discount-band elasticity census as SQL text: lines grouped by the
    integer discount percent — count, exact revenue, exact quantity, and
    mean quantity per line — the pricing table that shows whether deeper
    discounts actually move more units (TPC-H Q19's bracket logic as a
    full census instead of one filter).

    EXACT cross-engine: the band is round(l_discount·100) (the same
    per-row cents convention as prices — bit-deterministic both
    engines), sums exact, the mean on the device.

    Scale shape: ONE fact-sized hash agg to ≤ ~11 bands, map-side
    combined.
    """
    from kdb_spark.analytics.exact import iround_sql

    mean_q = iround_sql("sum_qty", "CAST(n AS DECIMAL(38,0))", 6, signed=False)
    return lineitem.sparkSession.sql(
        f"""
        WITH b AS (
          SELECT CAST(round(l_discount * 100) AS INT) AS disc_pct,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
                 CAST(round(l_quantity) AS BIGINT) AS q
          FROM {{lineitem_v}}),
        g AS (
          SELECT disc_pct,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(pc) AS BIGINT) AS revenue_c,
                 CAST(sum(q) AS BIGINT) AS sum_qty
          FROM b GROUP BY 1)
        SELECT disc_pct, n, revenue_c, sum_qty,
               {mean_q} AS mean_qty
        FROM g
        """,
        lineitem_v=lineitem,
    )


def agg_bowley_skew(events: DataFrame) -> DataFrame:
    """Bowley (quartile) skewness per event_type: (q3 + q1 − 2·q2) /
    (q3 − q1) on exact quartile order statistics — the ROBUST sibling of
    agg_skew_kurtosis's moment skew (outliers move the third moment
    arbitrarily; they cannot move a quartile past its neighbor), the
    pair every distribution-health dashboard shows side by side.

    EXACT cross-engine: q1/q2/q3 are the ⌈n/4⌉ / ⌈n/2⌉ / ⌈3n/4⌉-th order
    statistics in exact cents (the agg_iqr_fence rank device, one
    deterministic (x, event_id) sort), the numerator and denominator are
    bigint cent arithmetic, and the ratio rides the SIGNED decimal device
    at 6 dp; q3 = q1 (no spread) → null skew, surfaced with the
    quartiles so the caller sees why.

    Scale shape: the agg_var_es single-Exchange posture — one series
    sort carrying row_number + partition count, one conditional agg to
    a ≤|types|-row result.
    """
    x = cents("value")
    wo = Window.partitionBy("event_type").orderBy("x", "event_id")
    wp = Window.partitionBy("event_type")
    r = events.select("event_type", x.alias("x"), "event_id").select(
        "event_type",
        "x",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    r = (
        r.withColumn("k1", F.expr("(25 * n + 99) div 100"))
        .withColumn("k2", F.expr("(50 * n + 99) div 100"))
        .withColumn("k3", F.expr("(75 * n + 99) div 100"))
    )
    q = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.col("k1"), F.col("x"))).cast("long").alias("q1_c"),
        F.max(F.when(F.col("rn") == F.col("k2"), F.col("x"))).cast("long").alias("q2_c"),
        F.max(F.when(F.col("rn") == F.col("k3"), F.col("x"))).cast("long").alias("q3_c"),
    )
    skew6 = iround_col(
        "CAST(q3_c + q1_c - 2 * q2_c AS DECIMAL(38,0))",
        "CAST(q3_c - q1_c AS DECIMAL(38,0))",
        6,
        signed=True,
    )
    return q.select(
        "event_type",
        "n",
        "q1_c",
        "q2_c",
        "q3_c",
        F.when(F.col("q3_c") > F.col("q1_c"), skew6).alias("bowley_skew"),
    )


def agg_quantile_drift(events: DataFrame, split_us: int) -> DataFrame:
    """Location drift per event_type: exact p50/p90 of the value
    distribution BEFORE vs AT-OR-AFTER a fixed timestamp boundary, and
    their differences in cents — the value-scale drift monitor
    (agg_chi2_drift / agg_tvd_drift test the SHAPE of categorical
    frequencies; this tracks where the numeric mass sits, which is what
    moves first when an upstream unit or fee changes).

    EXACT cross-engine: the half label is integer µs comparison, each
    half's p50/p90 are ⌈n/2⌉ / ⌈9n/10⌉-th order statistics in exact
    cents (rank device within (type, half)), drifts are bigint
    differences; a type missing one half surfaces null drifts rather
    than dropping the row.

    Scale shape: one Exchange on (type, half) for the rank sort, then a
    ≤2·|types|-row pivot — the conditional-aggregate pivot is driver-free
    and the fact is shuffled once.
    """
    x = cents("value")
    t = events.select(
        "event_type",
        x.alias("x"),
        "event_id",
        (F.col("ts_us") >= F.lit(split_us)).cast("int").alias("h"),
    )
    wo = Window.partitionBy("event_type", "h").orderBy("x", "event_id")
    wp = Window.partitionBy("event_type", "h")
    r = t.select(
        "event_type",
        "h",
        "x",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    r = r.withColumn("k50", F.expr("(50 * n + 99) div 100")).withColumn(
        "k90", F.expr("(90 * n + 99) div 100")
    )
    half = r.groupBy("event_type", "h").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.col("k50"), F.col("x"))).alias("p50"),
        F.max(F.when(F.col("rn") == F.col("k90"), F.col("x"))).alias("p90"),
    )
    out = half.groupBy("event_type").agg(
        F.sum(F.when(F.col("h") == 0, F.col("n"))).cast("long").alias("n_before"),
        F.sum(F.when(F.col("h") == 1, F.col("n"))).cast("long").alias("n_after"),
        F.max(F.when(F.col("h") == 0, F.col("p50"))).cast("long").alias("p50_before_c"),
        F.max(F.when(F.col("h") == 1, F.col("p50"))).cast("long").alias("p50_after_c"),
        F.max(F.when(F.col("h") == 0, F.col("p90"))).cast("long").alias("p90_before_c"),
        F.max(F.when(F.col("h") == 1, F.col("p90"))).cast("long").alias("p90_after_c"),
    )
    return out.select(
        "event_type",
        "n_before",
        "n_after",
        "p50_before_c",
        "p50_after_c",
        "p90_before_c",
        "p90_after_c",
        (F.col("p50_after_c") - F.col("p50_before_c")).cast("long").alias("p50_drift_c"),
        (F.col("p90_after_c") - F.col("p90_before_c")).cast("long").alias("p90_drift_c"),
    )


def agg_flow_imbalance(events: DataFrame) -> DataFrame:
    """Hourly tick-flow imbalance per event_type: within each (user,
    type) series, every tick gets the SIGN of its cent-delta vs the
    previous tick; per (type, hour) the imbalance is Σsign over the
    ticks that have a predecessor — the order-flow pressure gauge
    (win_obv accumulates signed VOLUME along one sequence; this censuses
    signed TICK COUNTS across the whole tape per clock hour).

    EXACT cross-engine, all integers: the delta sign compares exact
    cents after one series lag on the deterministic (ts_us, event_id)
    order, the hour is integer µs `div`, sums/counts are bigints, and
    the imbalance ratio rides the SIGNED device at 6 dp (n_ticks > 0 by
    construction — only rows with a predecessor enter).

    Scale shape: one Exchange on (user, type) for the lag, one hash agg
    Exchange to ≤ |types|·|hours| cells — the same two-stage shape as
    agg_user_churn, with map-side combine collapsing the second.
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    c = cents("value")
    t = events.select(
        "event_type", "ts_us", "user_id", "event_id", c.alias("c")
    ).withColumn("prev_c", F.lag("c").over(wo))
    sgn = F.when(F.col("c") > F.col("prev_c"), 1).when(
        F.col("c") < F.col("prev_c"), -1
    ).otherwise(0)
    g = (
        t.filter(F.col("prev_c").isNotNull())
        .select(
            "event_type",
            F.expr(f"ts_us div {HOUR_US}").alias("hour"),
            sgn.alias("s"),
        )
        .groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
            F.sum("s").cast("long").alias("imbalance"),
        )
    )
    ratio6 = iround_col(
        "CAST(imbalance AS DECIMAL(38,0))",
        "CAST(n_ticks AS DECIMAL(38,0))",
        6,
        signed=True,
    )
    return g.select(
        "event_type",
        F.col("hour").cast("long").alias("hour"),
        "n_ticks",
        "imbalance",
        ratio6.alias("flow_ratio"),
    )


def agg_volume_profile(events: DataFrame, top_k: int = 5) -> DataFrame:
    """Volume profile per event_type: the ``top_k`` most-traded price
    levels (exact cents) ranked by tick count, with each level's share
    of the type's tape — where the liquidity sits (agg_mode reports the
    single densest level; the profile is the ladder traders actually
    read, and the high-traffic levels a partitioner would salt).

    EXACT cross-engine: levels are exact cents, counts bigints, the rank
    is deterministic (count DESC, then LOWER level — ties resolved by
    price, never arrival), shares ride the unsigned device against the
    type total taken over the level table BEFORE the top-k cut.

    Scale shape: one fact-sized hash agg to the (type, level) grain
    (map-side combined — the shuffle carries distinct levels, not
    ticks), then rank + total windows over that level table on one
    (type) Exchange; output ≤ |types|·k rows.
    """
    lv = events.select("event_type", cents("value").alias("c")).groupBy(
        "event_type", "c"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ticks"))
    wr = Window.partitionBy("event_type").orderBy(F.desc("n_ticks"), F.asc("c"))
    wt = Window.partitionBy("event_type")
    t = lv.select(
        "event_type",
        "c",
        "n_ticks",
        F.row_number().over(wr).alias("level_rank"),
        F.sum("n_ticks").over(wt).cast("long").alias("type_total"),
    ).filter(F.col("level_rank") <= top_k)
    share6 = F.expr(
        floor_div_sql(
            "2000000 * CAST(n_ticks AS DECIMAL(38,0)) + type_total",
            "2 * CAST(type_total AS DECIMAL(38,0))",
        )
    )
    return t.select(
        "event_type",
        F.col("level_rank").cast("long").alias("level_rank"),
        F.col("c").cast("long").alias("c"),
        "n_ticks",
        "type_total",
        (share6.cast("double") / F.lit(1e6)).alias("share"),
    )


def table_freshness(events: DataFrame, now_us: int) -> DataFrame:
    """Freshness/liveness census per event_type against an explicit
    ``now_us`` (the engine's virtual clock, as everywhere — never
    wall-clock): last-seen age, total rows, and rows in the trailing
    1h/24h/7d windows — the feed-health panel an ingest pipeline alarms
    on (kernel_ingest_validate gates rows; this watches the tape level:
    a type whose 1h count hits zero is a dead upstream long before
    retention notices).

    EXACT: all integer µs arithmetic and conditional counts in ONE
    map-side-combined aggregate; output ≤|types| rows.
    """
    t = events.select("event_type", "ts_us")
    in_win = lambda w: F.sum(  # noqa: E731
        F.when(F.col("ts_us") > F.lit(now_us - w), 1).otherwise(0)
    ).cast("long")
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.max("ts_us").cast("long").alias("last_ts_us"),
        (F.lit(now_us) - F.max("ts_us")).cast("long").alias("age_us"),
        in_win(HOUR_US).alias("n_1h"),
        in_win(24 * HOUR_US).alias("n_24h"),
        in_win(7 * DAY_US).alias("n_7d"),
    )


def agg_changepoint(events: DataFrame) -> DataFrame:
    """Single-changepoint detection per event_type (binary segmentation,
    depth 1): the split of the time-ordered cent sequence that maximizes
    the absolute mean difference between the two sides — where the level
    SHIFTED (agg_quantile_drift measures drift across a GIVEN boundary;
    this finds the boundary), the first step of the standard recursive
    segmentation.

    EXACT cross-engine: prefix sums/counts are one expanding integer
    window; the split score |S_k·(n−k) − (S−S_k)·k| / (k·(n−k)) is a
    single IEEE divide of two EXACT integers (identical on both
    engines), and the argmax is one max over a struct whose tiebreak
    (score, then EARLIEST (ts, id) via negation) is total — no
    engine-dependent pick anywhere. Means surface through the signed
    device at 4 dp. Types with n < 2 have no valid split and emit
    nothing (surfaced by absence, like every rank-device op).

    Scale shape: one (type) Exchange for the expanding window, one agg
    to ≤|types| rows — the same single-sort posture as agg_var_es; at
    100 TB the window input is the fact, so this is the disclosed
    full-series sort every exact changepoint pays (the sketch path is a
    binned approximation over agg_histogram).
    """
    c = cents("value")
    wo = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wp = Window.partitionBy("event_type")
    t = events.select(
        "event_type", "ts_us", "event_id", c.alias("c")
    ).select(
        "event_type",
        "ts_us",
        "event_id",
        # widen INSIDE the fold (r12 rule): summing in long and casting
        # after would wrap at extreme per-type row counts while the
        # oracle's HUGEINT stays exact
        F.sum(F.col("c").cast("decimal(38,0)")).over(wo).alias("sk"),
        F.count(F.lit(1)).over(wo).cast("long").alias("k"),
        F.sum(F.col("c").cast("decimal(38,0)")).over(wp).alias("s"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    ).filter(F.col("k") < F.col("n"))
    num = F.abs(
        F.col("sk") * (F.col("n") - F.col("k")) - (F.col("s") - F.col("sk")) * F.col("k")
    )
    den = (F.col("k").cast("decimal(38,0)") * (F.col("n") - F.col("k")))
    scored = t.select(
        "event_type",
        F.struct(
            (num.cast("double") / den.cast("double")).alias("score"),
            (-F.col("ts_us")).alias("nts"),
            (-F.col("event_id")).alias("neid"),
            F.col("ts_us").alias("split_ts_us"),
            F.col("k").alias("n_left"),
            (F.col("n") - F.col("k")).alias("n_right"),
            F.col("sk").alias("sl"),
            (F.col("s") - F.col("sk")).alias("sr"),
        ).alias("cand"),
    )
    best = scored.groupBy("event_type").agg(F.max("cand").alias("b"))
    ml = iround_col("b.sl", "100 * CAST(b.n_left AS DECIMAL(38,0))", 4, signed=True)
    mr = iround_col("b.sr", "100 * CAST(b.n_right AS DECIMAL(38,0))", 4, signed=True)
    return best.select(
        "event_type",
        F.col("b.split_ts_us").cast("long").alias("split_ts_us"),
        F.col("b.n_left").cast("long").alias("n_left"),
        F.col("b.n_right").cast("long").alias("n_right"),
        ml.alias("mean_left"),
        mr.alias("mean_right"),
        F.round("b.score", 4).alias("score"),
    )


def agg_user_lifetime(events: DataFrame) -> DataFrame:
    """User-engagement-depth census: per user the number of DISTINCT
    active days and the event total, pooled per active-day count — the
    engagement-depth distribution a retention model trains on
    (retention_cohort tracks the calendar grid; agg_dau_mau the daily
    stock; this is the per-user depth histogram, censoring disclosed:
    depth is bounded by the tape length, not by churn).

    EXACT cross-engine, all integers: active days are a per-(user, day)
    distinct grain collapsed user-wise, the census pools exact counts
    and event sums, and the per-depth mean events rides the unsigned
    device.

    Scale shape: one (user, day) pre-aggregate (map-side combined — the
    shuffle carries active user-days, not events), one user collapse
    reusing the same hash partitioning (superset clustering), then a
    ≤tape-days reduce.
    """
    per_day = events.select(
        "user_id", F.expr(f"ts_us div {DAY_US}").alias("day")
    ).groupBy("user_id", "day").agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_user = per_day.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("active_days"),
        F.sum("n").cast("long").alias("n_events"),
    )
    g = per_user.groupBy("active_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("sum_events"),
    )
    mean6 = F.expr(
        floor_div_sql(
            "2000000 * CAST(sum_events AS DECIMAL(38,0)) + n_users",
            "2 * CAST(n_users AS DECIMAL(38,0))",
        )
    )
    return g.select(
        "active_days",
        "n_users",
        "sum_events",
        (mean6.cast("double") / F.lit(1e6)).alias("mean_events"),
    )


def sql_rapid_reorders(orders: DataFrame, within_days: int = 7) -> DataFrame:
    """Rapid-reorder screen as SQL text: consecutive orders by the same
    customer placed within ``within_days`` of each other — the
    double-submission / impulsive-reorder forensics cut (the order-table
    sibling of agg_gap_histogram's cadence profile, with the business
    threshold made explicit): per customer the rapid-pair count, the
    tightest gap, and the money involved.

    EXACT: integer epoch-day gaps off one customer-ordered lag (ties
    broken by orderkey), exact cents; one HAVING cut keeps only
    customers with at least one rapid pair.

    Scale shape: one customer-key window Exchange, one customer agg
    reusing the same partitioning — the fact is shuffled once.
    """
    return orders.sparkSession.sql(
        f"""
        WITH t AS (
          SELECT o_custkey, o_orderkey,
                 timestampdiff(MICROSECOND, {NTZ_EPOCH}, o_orderdate)
                   DIV 86400000000 AS day,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
          FROM {{orders_v}}),
        l AS (
          SELECT o_custkey, day, price_c,
                 day - lag(day) OVER (PARTITION BY o_custkey
                                      ORDER BY day, o_orderkey) AS gap_d
          FROM t)
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CASE WHEN gap_d <= {within_days} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rapid,
               CAST(min(gap_d) AS BIGINT) AS min_gap_d,
               CAST(sum(CASE WHEN gap_d <= {within_days} THEN price_c ELSE 0 END)
                    AS BIGINT) AS rapid_c
        FROM l
        GROUP BY 1
        HAVING sum(CASE WHEN gap_d <= {within_days} THEN 1 ELSE 0 END) > 0
        """,
        orders_v=orders,
    )


def agg_event_study(events: DataFrame, horizons: int = 5) -> DataFrame:
    """Event-study impact curve: after every 'error' event, the average
    signed cent move of the SAME series at +1..+``horizons`` ticks ahead
    — does the shock decay, persist, or build (the classic announcement-
    impact table; agg_flow_imbalance censuses instantaneous pressure,
    this traces the response path).

    EXACT cross-engine: the k-tick-ahead values are window leads on the
    deterministic (ts_us, event_id) series order, deltas are bigint
    cents, per-horizon means ride the SIGNED device at 4 dp; shocks too
    close to the series end contribute only the horizons that exist
    (n_obs per horizon surfaces the attrition).

    Scale shape: ONE series Exchange carrying all ``horizons`` leads in
    one window buffer, then an unpivot to a ≤horizons-row aggregate.
    """
    wo = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    c = cents("value")
    t = events.select(
        "user_id", "event_type", "ts_us", "event_id", c.alias("c")
    )
    for k in range(1, horizons + 1):
        t = t.withColumn(f"d{k}", F.lead("c", k).over(wo) - F.col("c"))
    shocks = t.filter(F.col("event_type") == "error")
    pairs = F.array(
        *[
            F.struct(F.lit(k).alias("h"), F.col(f"d{k}").alias("d"))
            for k in range(1, horizons + 1)
        ]
    )
    flat = shocks.select(F.explode(pairs).alias("p")).select(
        F.col("p.h").cast("long").alias("horizon"), F.col("p.d").alias("d")
    ).filter(F.col("d").isNotNull())
    g = flat.groupBy("horizon").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("d").cast("long").alias("sum_d_c"),
    )
    m4 = iround_col(
        "CAST(sum_d_c AS DECIMAL(38,0))",
        "100 * CAST(n_obs AS DECIMAL(38,0))",
        4,
        signed=True,
    )
    return g.select("horizon", "n_obs", "sum_d_c", m4.alias("mean_move"))


def sql_open_order_aging(orders: DataFrame, now_day: int = 11536) -> DataFrame:
    """Open-order aging census as SQL text: orders still OPEN (status
    'O') bucketed by age in 90-day bands against an explicit as-of day
    (default: epoch day 11536 = 2001-08-02, the day after the synthetic
    order book's last date — every open order has age ≥ 1) —
    the AR/backlog aging report every ops review starts with (the
    order-table sibling of table_freshness's feed ages; the as-of clock
    is a parameter, never wall time).

    EXACT: integer epoch-day ages, fixed integer band edges, exact cent
    totals; one filtered scan + hash agg.
    """
    return orders.sparkSession.sql(
        f"""
        WITH o AS (
          SELECT CAST(({now_day} - timestampdiff(MICROSECOND, {NTZ_EPOCH}, o_orderdate)
                       DIV 86400000000) AS BIGINT) AS age_d,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
          FROM {{orders_v}} WHERE o_orderstatus = 'O'),
        b AS (
          SELECT CAST(LEAST(age_d DIV 90, 8) AS BIGINT) AS band, age_d, price_c
          FROM o)
        SELECT band, CAST(band * 90 AS BIGINT) AS min_age_d,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(price_c) AS BIGINT) AS total_c,
               CAST(max(age_d) AS BIGINT) AS oldest_d
        FROM b GROUP BY 1
        """,
        orders_v=orders,
    )


def agg_grid_completeness(
    events: DataFrame, resolution_us: int = HOUR_US
) -> DataFrame:
    """Dense-grid completeness census per series: how many of the
    resolution slots between a series' first and last tick actually hold
    data — the reference's core data model turned into a health metric
    (its Get() materializes the dense slot grid and ZERO-FILLS the holes,
    /root/reference/dbase/dbase.go:75-81; this measures how much of the
    grid those zero-fills would fabricate, which is the first question
    before trusting any dense read), pooled per event_type.

    EXACT cross-engine, all integers: slots are µs `div` buckets, present
    slots a per-(series, slot) distinct collapse, expected = last−first
    slot span + 1, completeness the unsigned device over the per-type
    totals.

    Scale shape: one (series, slot) pre-aggregate (map-side combined —
    the shuffle carries occupied slots, not ticks), one series collapse
    on the same partitioning (superset clustering), a ≤|types| reduce.
    """
    slot = F.expr(f"ts_us div {resolution_us}")
    per_slot = (
        events.select("user_id", "event_type", slot.alias("slot"))
        .groupBy("user_id", "event_type", "slot")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    per_series = per_slot.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("present"),
        (F.max("slot") - F.min("slot") + 1).cast("long").alias("expected"),
    )
    g = per_series.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_series"),
        F.sum("present").cast("long").alias("present_slots"),
        F.sum("expected").cast("long").alias("expected_slots"),
    )
    c6 = F.expr(
        floor_div_sql(
            "2000000 * CAST(present_slots AS DECIMAL(38,0)) + expected_slots",
            "2 * CAST(expected_slots AS DECIMAL(38,0))",
        )
    )
    return g.select(
        "event_type",
        "n_series",
        "present_slots",
        "expected_slots",
        (c6.cast("double") / F.lit(1e6)).alias("completeness"),
    )


def sql_segment_migration(orders: DataFrame, split_day: int = 10227) -> DataFrame:
    """Customer-value segment migration as SQL text: spend-quartile in
    the first half of the book vs the second (split at an explicit epoch
    day; default 1998-01-01), transition census with spend deltas — the
    "who moved up, who churned down" matrix every CRM review opens with
    (sql_rfm_segments is the point-in-time cut; this is its flow form).

    EXACT: per-half spend is exact cents; quartiles come from ntile(4)
    over the TOTAL order (spend, custkey — deterministic, engine-common
    SQL-standard semantics); the census is an inner join on customer
    (present-both-halves; entries/exits are a different report and are
    deliberately out of frame), exact sums and counts.

    Scale shape: two conditional half-aggregates off ONE fact scan, two
    |customers|-sized ntile windows, one co-keyed join, a ≤16-cell
    census.
    """
    return orders.sparkSession.sql(
        f"""
        WITH spend AS (
          SELECT o_custkey,
                 CAST(sum(CASE WHEN timestampdiff(MICROSECOND, {NTZ_EPOCH}, o_orderdate)
                                    DIV 86400000000 < {split_day}
                               THEN round(o_totalprice * 100) ELSE 0 END)
                      AS BIGINT) AS h1_c,
                 CAST(sum(CASE WHEN timestampdiff(MICROSECOND, {NTZ_EPOCH}, o_orderdate)
                                    DIV 86400000000 >= {split_day}
                               THEN round(o_totalprice * 100) ELSE 0 END)
                      AS BIGINT) AS h2_c
          FROM {{orders_v}}
          GROUP BY 1),
        both_halves AS (
          SELECT * FROM spend WHERE h1_c > 0 AND h2_c > 0),
        seg AS (
          SELECT o_custkey, h1_c, h2_c,
                 ntile(4) OVER (ORDER BY h1_c, o_custkey) AS seg_h1,
                 ntile(4) OVER (ORDER BY h2_c, o_custkey) AS seg_h2
          FROM both_halves)
        SELECT CAST(seg_h1 AS BIGINT) AS seg_h1,
               CAST(seg_h2 AS BIGINT) AS seg_h2,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(h1_c) AS BIGINT) AS h1_total_c,
               CAST(sum(h2_c) AS BIGINT) AS h2_total_c
        FROM seg
        GROUP BY 1, 2
        """,
        orders_v=orders,
    )


def sql_nation_product_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    token: str = "bolt",
) -> DataFrame:
    """TPC-H-Q9-shaped product-line profit by supplier nation and order
    year as SQL TEXT, adapted to this schema: the synthetic tables carry
    no partsupp, so profit is the discounted revenue Σ extprice·(1−disc)
    (Q9's ps_supplycost·quantity subtrahend has no source column —
    documented adaptation, not an approximation of available data).
    Parts are selected by name token, Q9's `p_name like '%green%'`
    device (`%bolt%` here — the synthetic vocabulary's frequent token).

    Scale shape: lineitem is the only fact; orders joins fact-sized (AQE
    picks SMJ), part/supplier/nation broadcast, and the p_name filter
    prunes the fact rows at the broadcast-hash-join probe before any
    shuffle. Exact bigint cents; the final aggregate is
    |nations × years| rows.
    """
    return lineitem.sparkSession.sql(
        """
        SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
               CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT) AS profit_c,
               CAST(count(*) AS BIGINT) AS n_items
        FROM {lineitem_v} l
        JOIN {orders_v} o ON l.l_orderkey = o.o_orderkey
        JOIN {part_v} p ON l.l_partkey = p.p_partkey
        JOIN {supplier_v} s ON l.l_suppkey = s.s_suppkey
        JOIN {nation_v} n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%"""
        + token
        + """%'
        GROUP BY n.n_name, year(o.o_orderdate)
        """,
        lineitem_v=lineitem,
        orders_v=orders,
        part_v=part,
        supplier_v=supplier,
        nation_v=nation,
    )


def agg_cov_matrix(events: DataFrame) -> DataFrame:
    """Pairwise covariance matrix of the event types' hourly revenue
    series — the cross-series dependence report (do 'purchase' hours
    co-move with 'click' hours?) a risk/anomaly layer reads; agg_corr is
    within-group value-vs-value, this is series-vs-series across the
    bounded type alphabet.

    Exact: hourly totals are bigint cent sums; for each unordered type
    pair the population covariance over their COMMON hours is the exact
    rational (n·Σxy − Σx·Σy) / n², carried in decimal(38,0) and rounded
    once by the signed device at 4 dp (units: cents²). Pairs with no
    common hours simply don't appear (surfaced by absence).

    Scale shape: one fact-sized (type, hour) hash agg collapses the tape
    to ≤ |types|·|hours| rows (dimension-sized), then a self-equi-join on
    hour and a ≤ |types|² aggregate — the fact is never self-joined.
    """
    hourly = events.groupBy(
        "event_type",
        F.expr(f"ts_us div {HOUR_US}").alias("hour"),
    ).agg(F.sum(cents("value")).alias("c"))
    a = hourly.alias("a")
    b = hourly.alias("b")
    pairs = a.join(b, "hour").filter(
        F.col("a.event_type") < F.col("b.event_type")
    )
    g = pairs.groupBy(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.col("a.c").cast("decimal(38,0)") * F.col("b.c")).alias("sxy"),
        F.sum(F.col("a.c").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("b.c").cast("decimal(38,0)")).alias("sy"),
    )
    cov4 = iround_col(
        "CAST(n_hours AS DECIMAL(38,0)) * sxy - sx * sy",
        "CAST(n_hours AS DECIMAL(38,0)) * CAST(n_hours AS DECIMAL(38,0))",
        4,
    )
    return g.select(
        "type_a", "type_b", "n_hours",
        F.col("sx").cast("long").alias("sum_a_c"),
        F.col("sy").cast("long").alias("sum_b_c"),
        cov4.alias("cov_c2"),
    )


def agg_robust_zscore(events: DataFrame, thresh_tenths: int = 35) -> DataFrame:
    """Robust (median/MAD) outlier census per event_type: how many values
    sit more than ``thresh_tenths``/10 MADs from the median — the
    outlier rate win_zscore's mean/stddev flag UNDERcounts whenever the
    outliers themselves inflate the stddev (masking). agg_mad reports
    the spread; this flags and counts against it.

    EXACT cross-engine, all integers: the median is the ⌈n/2⌉-th order
    statistic in exact cents (the agg_bowley_skew rank device — the
    documented order-statistic median, not the interpolated one), MAD is
    the same statistic of |x − med|, and the flag 10·|x − med| >
    thresh_tenths·MAD never leaves int64. A zero MAD (over half the
    values identical) degenerates the rule — flagged rows are then
    exactly the x ≠ med rows — which is the standard MAD caveat,
    disclosed rather than patched. Outlier rate rides the unsigned
    device at 6 dp.

    Scale shape: two (type) sorts (value ranks, then deviation ranks)
    and a broadcast of the ≤|types| medians between them — the
    agg_var_es Exchange class, never a fact self-join.
    """
    x = cents("value")
    wo = Window.partitionBy("event_type").orderBy("x", "event_id")
    wp = Window.partitionBy("event_type")
    r = events.select("event_type", x.alias("x"), "event_id").select(
        "event_type",
        "x",
        "event_id",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    med = (
        r.filter(F.col("rn") == F.expr("(50 * n + 99) div 100"))
        .select("event_type", F.col("x").cast("long").alias("med_c"))
    )
    d = r.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("x") - F.col("med_c")).alias("dev"),
        "med_c",
    )
    wd = Window.partitionBy("event_type").orderBy("dev", "event_id")
    dd = d.select(
        "event_type",
        "dev",
        "med_c",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    mad = (
        dd.filter(F.col("rn") == F.expr("(50 * n + 99) div 100"))
        .select("event_type", F.col("dev").cast("long").alias("mad_c"))
    )
    flagged = dd.join(F.broadcast(mad), "event_type").groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("med_c").cast("long").alias("med_c"),
        F.max("mad_c").cast("long").alias("mad_c"),
        F.sum(
            F.when(
                F.lit(10) * F.col("dev") > F.lit(thresh_tenths) * F.col("mad_c"), 1
            ).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )
    rate6 = iround_col(
        "CAST(n_outliers AS DECIMAL(38,0))", "CAST(n AS DECIMAL(38,0))", 6,
        signed=False,
    )
    return flagged.select(
        "event_type", "n", "med_c", "mad_c", "n_outliers", rate6.alias("outlier_rate")
    )


def sql_top_customer_share(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation revenue concentration as SQL TEXT: each nation's total
    order revenue, its single largest customer, and that customer's
    revenue share — the key-account concentration report (sql_market_share
    tracks a NATION's share of a market; agg_top_share pools event types;
    this is the argmax-per-group + share composition at the customer
    grain).

    Deterministic argmax: ties on revenue break to the LOWEST custkey via
    the (revenue, -custkey) struct max. Exact bigint cents end to end;
    the share is one unsigned device round at 4 dp on the aggregate rows.

    Scale shape: one fact pass to per-customer totals (map-side combine),
    customer/nation broadcast onto the ≤|customers| aggregate, then a
    ≤|nations| argmax — the fact never shuffles twice.
    """
    return orders.sparkSession.sql(
        """
        WITH pc AS (
          SELECT c.c_nationkey, o.o_custkey,
                 CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_c
          FROM {orders_v} o
          JOIN {customer_v} c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_nationkey, o.o_custkey),
        agg AS (
          SELECT n.n_name AS nation,
                 CAST(sum(rev_c) AS BIGINT) AS nation_rev_c,
                 max(named_struct('r', rev_c, 'k', -o_custkey)) AS top
          FROM pc
          JOIN {nation_v} n ON pc.c_nationkey = n.n_nationkey
          GROUP BY n.n_name)
        SELECT nation, nation_rev_c,
               CAST(-top.k AS BIGINT) AS top_custkey,
               CAST(top.r AS BIGINT) AS top_rev_c,
               CAST("""
        + floor_div_sql(
            "20000 * CAST(top.r AS DECIMAL(38,0)) + nation_rev_c",
            "2 * CAST(nation_rev_c AS DECIMAL(38,0))",
        )
        + """ AS DOUBLE) / 1e4 AS top_share
        FROM agg
        """,
        orders_v=orders,
        customer_v=customer,
        nation_v=nation,
    )


def agg_psi(events: DataFrame, split_us: int) -> DataFrame:
    """Population Stability Index terms per event_type across a time
    boundary — the standard ML-monitoring drift score (chi2/tvd watch
    categorical SHAPE; PSI weights each bin's share shift by its
    log-odds, the banking/monitoring convention). Emitted PER BIN rather
    than summed: the cross-bin Σ would be an order-sensitive double sum
    (the one float trap this repo's exact devices exist to avoid), and
    the per-bin view is the more diagnostic table anyway — Σ is one
    trivial reader-side fold over ≤|types| rows.

    Laplace-smoothed (+1 per bin per side, disclosed): PSI is undefined
    on empty bins and the smoothing keeps ln finite. Shares p, q are
    device-rounded at 6 dp FIRST (exact rationals), so the ln input —
    and therefore the rounded psi_term — is bit-deterministic on both
    engines (the agg_entropy precedent: libm logs agree on identical
    doubles).

    Scale shape: one (type, side) hash agg with map-side combine —
    shuffle bytes = 2·|types|; everything after runs on ≤|types| rows.
    """
    side = F.when(F.col("ts_us") < F.lit(split_us), F.lit(0)).otherwise(F.lit(1))
    g = (
        events.select("event_type", side.alias("side"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("c_before"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("c_after"),
        )
    )
    wp = Window.partitionBy()
    t = g.select(
        "event_type",
        "c_before",
        "c_after",
        (F.sum(F.col("c_before") + 1).over(wp)).cast("long").alias("n_before_s"),
        (F.sum(F.col("c_after") + 1).over(wp)).cast("long").alias("n_after_s"),
    )
    p6 = iround_col(
        "1000000 * CAST(c_before + 1 AS DECIMAL(38,0))",
        "1000000 * CAST(n_before_s AS DECIMAL(38,0))",
        6,
        signed=False,
    )
    q6 = iround_col(
        "1000000 * CAST(c_after + 1 AS DECIMAL(38,0))",
        "1000000 * CAST(n_after_s AS DECIMAL(38,0))",
        6,
        signed=False,
    )
    t = t.select(
        "event_type", "c_before", "c_after", p6.alias("p"), q6.alias("q")
    )
    return t.select(
        "event_type",
        "c_before",
        "c_after",
        "p",
        "q",
        F.round((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 6)
        .alias("psi_term"),
    )


def _mk_inversions(vals) -> int:
    """Strict inversion count (#pairs i<j with vals[i] > vals[j]) by
    vectorized merge counting: divide, recurse, then for each right-half
    element count left-half elements STRICTLY greater via searchsorted on
    the sorted left half — O(n log² n), numpy-vectorized per level (no
    Python-per-row loop). Pure integers in, an int out."""
    import numpy as np

    a = np.asarray(vals, dtype=np.int64)

    def rec(x):
        n = len(x)
        if n < 2:
            return 0, x
        mid = n // 2
        li, left = rec(x[:mid])
        ri, right = rec(x[mid:])
        # left elements strictly greater than each right element
        cross = int(
            (len(left) - np.searchsorted(left, right, side="right")).sum()
        )
        merged = np.concatenate([left, right])
        merged.sort(kind="mergesort")
        return li + ri + cross, merged

    total, _ = rec(a)
    return total


def _mk_group_schema() -> str:
    return (
        "event_type string, grp long, n long, s_stat long, tie18 long"
    )


def _mk_group_stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Per-group Mann–Kendall sufficient statistics, O(n log² n) exact:
    rows sort by the deterministic (ts_us, event_id) tiebreak; with
    tie_pairs = Σt(t−1)/2 over equal-value runs and inv = strict
    inversions of the time-ordered value sequence,
    S = C(n,2) − tie_pairs − 2·inv — the identity that replaces the
    O(n²) pair join (pytest-pinned equal to the pairwise form). tie18 =
    Σt(t−1)(2t+5) feeds the variance correction downstream."""
    import pandas as pd

    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    x = pdf["x"].to_numpy()
    n = len(x)
    t = pdf.groupby("x").size().to_numpy()
    tie_pairs = int((t * (t - 1) // 2).sum())
    tie18 = int((t * (t - 1) * (2 * t + 5)).sum())
    inv = _mk_inversions(x)
    s_stat = n * (n - 1) // 2 - tie_pairs - 2 * inv
    return pd.DataFrame(
        {
            "event_type": [pdf["event_type"].iloc[0]],
            "grp": [int(pdf["grp"].iloc[0])],
            "n": [n],
            "s_stat": [int(s_stat)],
            "tie18": [tie18],
        }
    )


def _mk_z(col_s: str = "s_stat", col_v: str = "var18") -> F.Column:
    """The shared MK z-score expression: continuity-corrected
    (S∓1)/√(var18/18) — one float expression of exact ints (int→double
    casts exact, IEEE ÷ and √ correctly rounded → bit-identical
    cross-engine); NULL when var18 ≤ 0."""
    sd = F.sqrt(F.col(col_v) / F.lit(18.0))
    return (
        F.when(F.col(col_v) <= 0, F.lit(None).cast("double"))
        .when(F.col(col_s) > 0, (F.col(col_s) - 1).cast("double") / sd)
        .when(F.col(col_s) < 0, (F.col(col_s) + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )


def agg_mann_kendall(events: DataFrame) -> DataFrame:
    """Mann–Kendall trend test per (event_type, day): S = Σ_{i<j}
    sign(x_j − x_i) over the day's prints in time order — the
    distribution-free "is this series trending?" screen (monotone drift
    in latency, spend, error rates) that pairs with `agg_runs_test`
    (randomness) and `agg_spearman` (rank association with a second
    variable; MK is rank association with TIME itself).

    EXACT cross-engine: pairs are ordered by the deterministic
    (ts_us, event_id) tiebreak, S and the tie-corrected variance
    numerator var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) are pure bigint
    arithmetic on cents, and the z-score (continuity-corrected:
    (S∓1)/√(var18/18)) is a single float expression — int→double casts
    are exact, and IEEE-754 division and sqrt are correctly rounded, so
    both engines produce the same bits. z is NULL when var18 = 0 (n < 2
    or all values tied — no variance to normalize by).

    Scale shape (r15 rewrite — the pair join measured 36× at the K=8
    scale probe, SCALE.md): S comes from the INVERSION-COUNT identity
    S = C(n,2) − tie_pairs − 2·inv, computed per (event_type, day) group
    in ONE Arrow `applyInPandas` pass with a vectorized merge count —
    O(n log² n) per group instead of O(n²) pairs (K=8 probe: 35.8×
    super-linear before, flat after — SCALE.md r15). The oracle keeps
    the literal pairwise SQL
    (fine at driver scale), and the identity is pytest-pinned against
    the pairwise form on hand data. Tie/total counts ride one hash agg.
    """
    day = (F.col("ts_us") / F.lit(DAY_US)).cast("long")
    base = events.select(
        "event_type",
        day.alias("grp"),
        "ts_us",
        "event_id",
        cents("value").alias("x"),
    )
    stats = base.groupBy("event_type", "grp").applyInPandas(
        _mk_group_stats, _mk_group_schema()
    )
    g = stats.select(
        "event_type",
        F.col("grp").alias("day"),
        "n",
        "s_stat",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie18")
        )
        .cast("long")
        .alias("var18"),
    )
    return g.select(
        "event_type", "day", "n", "s_stat", "var18", _mk_z().alias("z")
    )


# Poisson(1) CDF on the md5_slot's 1e6 grid — floor(cum_k * 1e6). The
# shared constant list BOTH engines' CASE chains are generated from, so
# replicate weights are a pure function of (event_id, replicate).
_POISSON1_CUM_1E6 = [
    367879, 735758, 919698, 981011, 996340,
    999405, 999916, 999989, 999998, 999999,
]


def agg_bootstrap_ci(events: DataFrame, reps: int = 32) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean value per
    event_type: ``reps`` resampled means, CI = their 2nd and (reps−1)-th
    order statistics (≈94% coverage at 32 reps) — the error bar every
    per-group mean in this registry silently lacks.

    POISSON BOOTSTRAP is the at-scale bootstrap (Chamandy et al.'s
    production form): classic resampling draws n rows WITH replacement —
    impossible without global coordination — but each row's multiplicity
    in a replicate is ≈ Poisson(1), independent per row, so every row
    computes its own 32 weights LOCALLY and the replicate means fall out
    of one hash agg. No global n, no sort, no sampling pass.

    Determinism device: weight w(row, b) inverts the Poisson(1) CDF at
    the md5_slot of "event_id:b" (thresholds = the shared
    `_POISSON1_CUM_1E6` grid constants) — resampling as a pure function,
    bit-identical cross-engine, repartition-stable. Replicate means ride
    the unsigned decimal device at 6 dp; the CI picks are exact order
    statistics with (mean, b) tie-break.

    Scale shape: the 32× explode happens MAP-SIDE and is absorbed by the
    partial hash agg before the shuffle — what crosses the wire is
    |types|·reps partial rows, not 32× the fact table. The CI pick is a
    rank window over a |types|·reps table. Two tiny shuffles total.
    """
    from kdb_spark.analytics.exact import iround_col

    x = cents("value")
    sc = events.sparkSession.sparkContext
    base = (
        events.select(
            "event_type", F.col("event_id").cast("string").alias("eid"), x.alias("x")
        )
        # md5-per-replicate map work on every core (r17: 2.6× at 32 cores)
        .repartition(sc.defaultParallelism, "eid")
        .withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
    )
    # one digest per (row, replicate): an A/B against carving 5 slots out
    # of each md5 (one digest per five replicates) showed NO win — the
    # explode+partial-agg, not the hash, is the hot loop, and the
    # column-position substr costs what the saved digests buy back. The
    # simple form keeps the oracle SQL one line.
    slot = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("eid"), F.col("b").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    w = F.lit(len(_POISSON1_CUM_1E6))
    for k in range(len(_POISSON1_CUM_1E6) - 1, -1, -1):
        w = F.when(slot < _POISSON1_CUM_1E6[k], F.lit(k)).otherwise(w)
    rep = (
        base.withColumn("w", w.cast("long"))
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("x")).alias("swx"),
            F.sum("w").cast("long").alias("sw"),
        )
        .withColumn(
            "mean_b",
            F.when(
                F.col("sw") > 0,
                iround_col("swx", "100 * CAST(sw AS DECIMAL(38,0))", 6, signed=True),
            ),
        )
    )
    # sw=0 replicates (all-Poisson-zero, P≈e^-n per replicate — only
    # reachable on tiny groups) yield NULL mean_b; Spark's Window.orderBy
    # sorts NULLS FIRST, DuckDB NULLS LAST, so they must not reach the
    # rank (ADVICE r15) — drop them on BOTH engines
    wr = Window.partitionBy("event_type").orderBy("mean_b", "b")
    picks = (
        rep.filter(F.col("sw") > 0)
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn").isin(2, reps - 1))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("ci_lo"),
            F.min(F.when(F.col("rn") == reps - 1, F.col("mean_b"))).alias("ci_hi"),
        )
    )
    overall = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast("decimal(38,0)")).alias("sx"),
    )
    mean6 = iround_col("sx", "100 * CAST(n AS DECIMAL(38,0))", 6, signed=True)
    return overall.join(picks, "event_type").select(
        "event_type", "n", mean6.alias("mean_usd"), "ci_lo", "ci_hi"
    )


def agg_permutation_test(
    events: DataFrame,
    type_a: str = "click",
    type_b: str = "purchase",
    reps: int = 32,
) -> DataFrame:
    """Randomization test for the mean-value difference between two event
    types: ``reps`` deterministic random relabelings of the pooled rows,
    p-value = add-one share of relabeled |mean diffs| ≥ the observed —
    the nonparametric significance gold standard beside the asymptotic
    tests already in the registry (`agg_mann_whitney` ranks,
    `agg_cohens_d` effect size; this one makes NO distributional
    assumption at all).

    Determinism device: relabel(row, b) = md5_slot("event_id:b") <
    500000 (the agg_bootstrap_ci discipline — per-row LOCAL
    randomization, no global permutation state, which is what makes the
    test runnable at 100 TB; random relabeling is the standard Monte
    Carlo null for exchangeability). EXACT: every comparison
    |d'| ≥ |d_obs| is cross-multiplied integers —
    pnum·obs_den ≥ obs_num·pden on decimal(38,0), no float mean ever
    compared — and the p-value/diff surface through the devices.

    Scale shape: one 32× map-side explode absorbed by the partial hash
    agg (2·reps rows cross the wire), one broadcast of the 2-row
    observed aggregate. Nothing driver-side.

    DISCLOSED DECIMAL BOUND (the permutation-test analog of the cents-
    grid bounds): the cross-multiplied comparison is a quadruple product
    ≈ |Σx|·n³ ≈ mean_cents·n⁴, which exceeds decimal(38,0) around
    n ≈ 5e8 rows in the two compared types (mean ~1e4 cents) — past
    that, non-ANSI Spark NULLs the comparison and silently drops it
    from n_exceed. Reducing by gcd-style common factors does not change
    the asymptotics (every common-denominator form of the mean
    comparison carries an n³ product), so the bound is documented
    rather than papered over; beyond it, pre-aggregate to a coarser
    unit (dollars: /100 → n ≈ 1.6e9) or subsample per the test's own
    Monte Carlo contract.
    """
    from kdb_spark.analytics.exact import iround_col

    x = cents("value")
    two = events.filter(F.col("event_type").isin(type_a, type_b)).select(
        "event_type", F.col("event_id").cast("string").alias("eid"), x.alias("x")
    )
    obs = (
        two.groupBy()
        .agg(
            F.sum(
                F.when(F.col("event_type") == type_a, F.col("x")).cast(
                    "decimal(38,0)"
                )
            ).alias("sxa"),
            F.sum(
                F.when(F.col("event_type") == type_a, 1).otherwise(0)
            ).cast("long").alias("na"),
            F.sum(
                F.when(F.col("event_type") == type_b, F.col("x")).cast(
                    "decimal(38,0)"
                )
            ).alias("sxb"),
            F.sum(
                F.when(F.col("event_type") == type_b, 1).otherwise(0)
            ).cast("long").alias("nb"),
        )
        .select(
            "na",
            "nb",
            (
                F.col("sxa") * F.col("nb") - F.col("sxb") * F.col("na")
            ).alias("obs_num_signed"),
            (F.col("na").cast("decimal(38,0)") * F.col("nb")).alias("obs_den"),
            "sxa",
        )
    )
    slot = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("eid"), F.col("b").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    rep = (
        two.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .withColumn("grp_a", slot < 500_000)
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("grp_a"), F.col("x")).cast("decimal(38,0)")).alias(
                "psxa"
            ),
            F.sum(F.when(F.col("grp_a"), 1).otherwise(0)).cast("long").alias("pna"),
            F.sum(
                F.when(~F.col("grp_a"), F.col("x")).cast("decimal(38,0)")
            ).alias("psxb"),
            F.sum(F.when(~F.col("grp_a"), 1).otherwise(0)).cast("long").alias("pnb"),
        )
        # a degenerate relabel (either side empty) carries no mean diff —
        # counts as NOT exceeding (impossible beyond toy n; documented)
        .filter((F.col("pna") > 0) & (F.col("pnb") > 0))
    )
    j = rep.crossJoin(F.broadcast(obs)).select(
        "na",
        "nb",
        "obs_num_signed",
        "obs_den",
        "sxa",
        (
            F.abs(F.col("psxa") * F.col("pnb") - F.col("psxb") * F.col("pna"))
            * F.col("obs_den")
            >= F.abs(F.col("obs_num_signed"))
            * (F.col("pna").cast("decimal(38,0)") * F.col("pnb"))
        )
        .cast("int")
        .alias("exceeds"),
    )
    g = j.groupBy("na", "nb", "obs_num_signed", "obs_den", "sxa").agg(
        F.sum("exceeds").cast("long").alias("n_exceed"),
        F.count(F.lit(1)).cast("long").alias("n_reps"),
    )
    diff6 = iround_col(
        "obs_num_signed", "100 * obs_den", 6, signed=True
    )
    p6 = iround_col(
        "(1 + n_exceed)", "(1 + n_reps)", 6, signed=False
    )
    return g.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        diff6.alias("mean_diff_usd"),
        F.col("n_exceed"),
        p6.alias("p_value"),
    )


def agg_busy_spans(
    events: DataFrame, gap_us: int = 30 * 60 * 1_000_000
) -> DataFrame:
    """Interval UNION (merge-overlapping) per event_type: sessionize each
    user's activity, then flatten all users' session intervals into the
    maximal busy spans — "when was at least one session of this type
    open, and how many sessions does each busy window absorb". The
    occupancy/coverage primitive (on-call load, market open stretches,
    incident overlap) that `sessionize` (per-user) and
    `join_interval_overlap` (pairwise) both stop short of.

    Spark-first merge-intervals: sort spans by start within the type,
    running max of PRIOR ends (cumulative-max window, rows frame to -1),
    a span opens a new group iff its start exceeds every prior end, and
    the running sum of that flag is the span id — the classic O(n log n)
    sweep as two Window expressions over ONE event_type Exchange, no
    self-join, no explode. All integer µs arithmetic.

    Scale shape: the per-(type, user) sessionize agg shuffles fact rows
    once (hash agg with partials); the sweep windows then run over
    SESSION-count rows only. The per-type sort is the dimension-sized
    disclosure class (sessions-per-type, not events). Half-open ends
    ([min_ts, max_ts + 1)): back-to-back sessions sharing an instant
    merge, matching interval-overlap semantics everywhere else in the
    repo.
    """
    w_sess = Window.partitionBy("event_type", "user_id").orderBy(
        "ts_us", "event_id"
    )
    new_s = F.when(
        F.lag("ts_us").over(w_sess).isNull()
        | (F.col("ts_us") - F.lag("ts_us").over(w_sess) >= gap_us),
        1,
    ).otherwise(0)
    sess = (
        events.select("event_type", "user_id", "ts_us", "event_id")
        .select(
            "event_type",
            "user_id",
            "ts_us",
            F.sum(new_s)
            .over(w_sess.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("sid"),
        )
        .groupBy("event_type", "user_id", "sid")
        .agg(
            F.min("ts_us").alias("s_start"),
            (F.max("ts_us") + 1).alias("s_end"),
        )
    )
    w_sweep = Window.partitionBy("event_type").orderBy(
        "s_start", "s_end", "user_id", "sid"
    )
    prior_max_end = F.max("s_end").over(
        w_sweep.rowsBetween(Window.unboundedPreceding, -1)
    )
    opens = F.when(
        prior_max_end.isNull() | (F.col("s_start") > prior_max_end), 1
    ).otherwise(0)
    spans = sess.select(
        "event_type",
        "s_start",
        "s_end",
        F.sum(opens)
        .over(w_sweep.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("span_id"),
    )
    return spans.groupBy("event_type", "span_id").agg(
        F.min("s_start").cast("long").alias("span_start"),
        F.max("s_end").cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
    )


def agg_survival_table(
    events: DataFrame, gap_us: int = 30 * 60 * 1_000_000
) -> DataFrame:
    """Kaplan–Meier risk table over session durations per event_type: at
    each observed duration t (minutes), how many sessions ENDED there
    (n_event) out of how many survived AT LEAST that long (n_risk), and
    the discrete hazard d/n — the life-table form of "how long do
    sessions last" that a plain duration histogram (`agg_gap_histogram`)
    can't answer, because hazard conditions on survival. (The survival
    CURVE is the running product Π(1−dᵢ/nᵢ) — deliberately left to the
    caller: a float product is a cross-engine trap, while this table is
    exact integers + one device ratio.)

    EXACT: durations are integer µs (session max−min ts), bucketed to
    whole minutes by truncating div; n_event is a hash-agg count and
    n_risk the suffix count via ONE descending cumulative window over
    the |types|×|distinct durations| table (dimension-sized — the
    windows never see session rows); hazard rides the unsigned device
    at 6 dp.

    Scale shape: the per-(type, user) sessionize agg is the one
    fact-sized shuffle; everything after runs on the distinct-duration
    census. The standard survival-at-scale reduction.
    """
    from kdb_spark.analytics.exact import iround_col

    w_sess = Window.partitionBy("event_type", "user_id").orderBy(
        "ts_us", "event_id"
    )
    new_s = F.when(
        F.lag("ts_us").over(w_sess).isNull()
        | (F.col("ts_us") - F.lag("ts_us").over(w_sess) >= gap_us),
        1,
    ).otherwise(0)
    sess = (
        events.select("event_type", "user_id", "ts_us", "event_id")
        .select(
            "event_type",
            "user_id",
            "ts_us",
            F.sum(new_s)
            .over(w_sess.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("sid"),
        )
        .groupBy("event_type", "user_id", "sid")
        .agg(
            ((F.max("ts_us") - F.min("ts_us")) / F.lit(60_000_000))
            .cast("long")
            .alias("dur_min")
        )
    )
    census = sess.groupBy("event_type", "dur_min").agg(
        F.count(F.lit(1)).cast("long").alias("n_event")
    )
    w_risk = (
        Window.partitionBy("event_type")
        .orderBy(F.col("dur_min").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = census.select(
        "event_type",
        "dur_min",
        "n_event",
        F.sum("n_event").over(w_risk).cast("long").alias("n_risk"),
    )
    hz6 = iround_col("n_event", "CAST(n_risk AS DECIMAL(38,0))", 6, signed=False)
    return t.select("event_type", "dur_min", "n_event", "n_risk", hz6.alias("hazard"))


def table_fk_integrity(tables: dict) -> DataFrame:
    """Referential-integrity census across the schema's foreign keys: for
    each child→parent relation, the child row count and how many child
    rows reference a parent key that DOES NOT EXIST — the first table a
    data-quality sweep prints after any ingest/backfill (one orphan in
    lineitem→orders means the join-based revenue numbers silently drop
    rows). Complements `table_profile` (per-column shape) and
    `scan_csv_malformed` (parse-level quarantine) with RELATIONSHIP-level
    quality.

    Implementation: one LEFT ANTI join per relation counts orphans —
    Catalyst broadcasts the parent key set when dimension-sized and
    falls back to shuffle for fact-fact (lineitem→orders), exactly the
    strategy split the join family documents; the distinct parent-key
    projection prunes to one column pre-join. Results union into one
    |relations|-row table. All integers.

    ``tables``: name → DataFrame for region/nation/customer/supplier/
    orders/lineitem (the kernel schema's FK graph).
    """
    rels = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for child, ck, parent, pk in rels:
        c = tables[child].select(F.col(ck).alias("k"))
        p = tables[parent].select(F.col(pk).alias("k")).distinct()
        row = (
            c.join(p, "k", "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
            .crossJoin(
                c.agg(F.count(F.lit(1)).cast("long").alias("n_child_rows"))
            )
            .select(
                F.lit(f"{child}.{ck}->{parent}.{pk}").alias("relation"),
                "n_child_rows",
                "n_orphans",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def agg_uptime(
    events: DataFrame, gap_us: int = 30 * 60 * 1_000_000
) -> DataFrame:
    """Coverage rollup of `agg_busy_spans`: per event_type, how much
    wall-clock was covered by at least one open session (busy_us), over
    how many disjoint spans, with the longest span and the covered share
    of the observed [first, last) extent — the uptime / utilization
    one-liner ops reviews ask for after the span table gets too long to
    read. Pure integer µs; the share rides the device at 6 dp.

    Scale shape: everything downstream of the busy-span sweep is a
    |types|-sized aggregate; one extra broadcast joins the per-type
    extent. Inherits the sweep's disclosed per-type session sort.
    """
    from kdb_spark.analytics.exact import iround_col

    spans = agg_busy_spans(events, gap_us=gap_us)
    g = spans.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).cast("long").alias("busy_us"),
        F.max(F.col("span_end") - F.col("span_start")).cast("long").alias(
            "max_span_us"
        ),
        F.min("span_start").cast("long").alias("t0"),
        F.max("span_end").cast("long").alias("t1"),
    )
    share6 = iround_col(
        "busy_us", "CAST(t1 - t0 AS DECIMAL(38,0))", 6, signed=False
    )
    return g.select(
        "event_type",
        "n_spans",
        "busy_us",
        "max_span_us",
        share6.alias("busy_share"),
    )


def agg_seasonal_mk(events: DataFrame) -> DataFrame:
    """Seasonal Mann–Kendall (Hirsch–Slack) trend test per event_type:
    the MK statistic computed WITHIN each hour-of-day stratum (9am
    compares only against other 9am's) and summed — the seasonal-series
    form of `agg_mann_kendall`, immune to the diurnal cycle that makes
    the plain test scream "trend!" at every sunrise. Same exactness
    story: stratum S and tie-corrected var18 are pure bigint arithmetic,
    the totals add across strata (independent under the null), and z is
    the one float expression of exact ints (`_mk_z`).

    Scale shape (r15 rewrite, with the parent op): per-stratum S via the
    inversion-count identity in ONE Arrow `applyInPandas` pass —
    O(n log² n) per (event_type, hour) stratum instead of O(n²) pairs
    (the pair join measured 44× at the K=8 probe; see SCALE.md). The
    oracle keeps the literal pairwise SQL.
    """
    hod = F.pmod((F.col("ts_us") / F.lit(HOUR_US)).cast("long"), F.lit(24))
    base = events.select(
        "event_type",
        hod.alias("grp"),
        "ts_us",
        "event_id",
        cents("value").alias("x"),
    )
    stats = base.groupBy("event_type", "grp").applyInPandas(
        _mk_group_stats, _mk_group_schema()
    )
    g = stats.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s_stat").cast("long").alias("s_stat"),
        F.sum(
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie18")
        )
        .cast("long")
        .alias("var18"),
    )
    return g.select(
        "event_type", "n", "s_stat", "var18", _mk_z().alias("z")
    )



def agg_eta_squared(events: DataFrame) -> DataFrame:
    """Seasonality strength per event_type: η² — the fraction of value
    variance explained by the hour-of-day profile (between-group sum of
    squares over total), the one number that says whether
    `agg_seasonality`'s diurnal matrix actually MATTERS for this metric
    (η² ≈ 0: the profile is flat noise; → 1: the hour determines the
    value). The ANOVA companion to `agg_seasonal_mk` (which detrends BY
    the strata this op scores).

    Exactness: all sufficient statistics (n, Σx, Σx², per-stratum
    S_g, n_g) are exact integers; η² = (n·ΣS_g²/n_g − S²)/(n·Σx²·n... 
    algebraically (n·A − S²)/(n·T − S²) needs the rational A = ΣS_g²/n_g,
    so the per-stratum terms are each ONE deterministic double from
    exact ints (decimal square, cast, divide) folded in FIXED hod order
    (array_sort + aggregate — the agg_chi2_drift discipline: the same
    IEEE addition chain on both engines), and the final ratio is
    floor-device rounded at 6 dp. Degenerate variance (all values equal)
    → NULL.

    Scale shape: one (type, hod) hash agg (≤ 24·|types| rows), one
    |types| rollup; the fold runs over 24-element arrays. Fact rows are
    touched once.
    """
    hod = F.pmod((F.col("ts_us") / F.lit(HOUR_US)).cast("long"), F.lit(24))
    x = cents("value")
    cells = (
        events.select("event_type", hod.alias("hod"), x.alias("x"))
        .groupBy("event_type", "hod")
        .agg(
            F.sum(F.col("x").cast("decimal(38,0)")).alias("s_g"),
            F.count(F.lit(1)).cast("long").alias("n_g"),
        )
    )
    tot = (
        events.select("event_type", x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("t"),
        )
    )
    folded = cells.groupBy("event_type").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("hod", "s_g", "n_g"))),
            F.lit(0.0),
            lambda acc, r: acc
            + (r["s_g"] * r["s_g"]).cast("double") / r["n_g"].cast("double"),
        ).alias("a")
    )
    g = tot.join(folded, "event_type")
    s2d = (F.col("s") * F.col("s")).cast("double")
    td = F.col("t").cast("double")
    nd = F.col("n").cast("double")
    den = nd * td - s2d
    eta = (nd * F.col("a") - s2d) / den
    eta6 = F.floor(eta * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    # BIGINT finals (driver hash contract — decimal(38,0) outputs hash
    # as Decimal objects vs the oracle's float64, r15 FAIL class).
    # Bound: Σx² in cents² ≈ n·(100·max|v|)² — fits int64 to ~1e5 rows
    # per type at |v|≤1e4; at larger n the internal decimals still carry
    # the exact stats, only these diagnostic casts would need rescaling.
    return g.select(
        "event_type",
        "n",
        F.col("s").cast("long").alias("sum_c"),
        F.col("t").cast("long").alias("sumsq_c"),
        F.when(den > 0, eta6).alias("eta_sq"),
    )


def agg_kruskal_wallis(events: DataFrame) -> DataFrame:
    """Kruskal–Wallis H test across ALL event types at once — the
    k-sample generalization of `agg_mann_whitney` (which compares two):
    do the k value distributions share a location, judged on ranks, no
    normality assumed. LONG-FORMAT output: one row per event type with
    its group size and mean rank (who deviates), the global n/k/tie3/H
    repeated on every row — scalar columns only, because array-typed
    final columns crash the driver's pandas canonicalization (r15).

    Exactness devices: global ranks come from the VALUE-COUNT table
    (agg_var_es discipline — never a row sort): the average rank of a
    tied value is cum_before + (c+1)/2, a rational in HALF units, so
    rank sums R_g ride as exact bigints scaled ×2. H's two float terms
    (Σ(2R_g)²/n_g folded in FIXED type order — the chi2/eta² chain
    discipline — and the tie correction Σ(t³−t)) are each one
    deterministic double from exact ints; H lands on the floor device
    at 6 dp.

    Scale shape: one (type, value) hash agg (distinct cents × types),
    one value-spine window for cumulative counts, |types|-sized
    everything after. Fact rows are touched once.
    """
    x = cents("value")
    vc = (
        events.select("event_type", x.alias("x"))
        .groupBy("x", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_val = vc.groupBy("x").agg(F.sum("c").cast("long").alias("t"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_val.select(
        "x",
        "t",
        F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long").alias("cum0"),
    )
    # avg rank of value x in half units: 2*cum0 + t + 1
    joined = vc.join(ranked, "x").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("c").cast("long").alias("n_g"),
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * (2 * F.col("cum0") + F.col("t") + 1)
        ).alias("r2_g"),  # 2 * rank sum, exact
    )
    ties = per_val.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie3"),
        F.sum("t").cast("long").alias("n"),
    )
    folded = joined.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_type", "r2_g", "n_g"))),
            F.lit(0.0),
            lambda acc, r: acc
            + (r["r2_g"] * r["r2_g"]).cast("double") / r["n_g"].cast("double"),
        ).alias("s4"),  # Σ (2R_g)²/n_g  (4× the classic term)
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    g = folded.crossJoin(ties)
    nd = F.col("n").cast("double")
    # H = 12/(n(n+1)) · ΣR_g²/n_g − 3(n+1); ΣR_g²/n_g = s4/4
    h_raw = F.lit(12.0) / (nd * (nd + 1)) * (F.col("s4") / F.lit(4.0)) - F.lit(
        3.0
    ) * (nd + 1)
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (nd * nd * nd - nd)
    h = F.when(corr > 0, h_raw / corr)
    h6 = F.floor(h * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    # tie3 = Σ(t³−t) ≤ n³ only in the degenerate all-one-value case; on
    # cents-diverse data it is tiny. BIGINT final (driver hash contract).
    glob = g.select(
        "n",
        "k",
        F.col("tie3").cast("long").alias("tie3"),
        h6.alias("h_stat"),
    )
    per_type = joined.select(
        "event_type",
        "n_g",
        (
            F.floor(
                F.col("r2_g").cast("double")
                / (F.lit(2.0) * F.col("n_g").cast("double"))
                * F.lit(1e4)
                + F.lit(0.5)
            )
            / F.lit(1e4)
        ).alias("mean_rank"),
    )
    return per_type.crossJoin(F.broadcast(glob))


def agg_welch_t(
    events: DataFrame, type_a: str = "click", type_b: str = "purchase"
) -> DataFrame:
    """Welch's unequal-variance two-sample t between two event types —
    the parametric counterpart of `agg_permutation_test` (same A/B
    question, normal-theory answer with the Welch–Satterthwaite df
    instead of resampling) and the significance companion of
    `agg_cohens_d` (which reports effect size with a POOLED variance;
    Welch never pools, so unequal spread can't masquerade as a mean
    shift).

    EXACT: each side reduces to integer sufficient statistics (n, Σx,
    Σx² on the cents grid in decimal(38,0)); mean/variance/t/df are then
    a FIXED chain of IEEE doubles from those exact ints — identical on
    both engines with no accumulation-order tolerance — and the surfaced
    t/df go through the floor device at 6 dp. mean_diff is the exact
    rational (Σa·n_b − Σb·n_a)/(100·n_a·n_b) via the signed device.
    Degenerate sides (n < 2 or zero variance) emit NULL t/df.

    Scale shape: ONE partial hash agg over the two filtered types (map-
    side combine; 2 rows cross the wire), then scalar arithmetic. The
    filter prunes at the scan. Nothing driver-side.
    """
    dec = "decimal(38,0)"
    x = cents("value")
    two = events.filter(F.col("event_type").isin(type_a, type_b))
    g = two.groupBy().agg(
        *[
            f
            for t, tag in ((type_a, "a"), (type_b, "b"))
            for f in (
                F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
                .cast("long")
                .alias(f"n_{tag}"),
                F.sum(F.when(F.col("event_type") == t, x).cast(dec)).alias(
                    f"s_{tag}"
                ),
                F.sum(
                    F.when(F.col("event_type") == t, x * x).cast(dec)
                ).alias(f"t_{tag}"),
            )
        ]
    )

    def var_over_n(tag: str) -> F.Column:
        # (sample variance)/n in cents², one double from exact ints:
        # (n·Σx² − (Σx)²) / (n²(n−1))
        n = F.col(f"n_{tag}").cast(dec)
        num = (n * F.col(f"t_{tag}") - F.col(f"s_{tag}") * F.col(f"s_{tag}")).cast(
            "double"
        )
        den = (n * n * (n - 1)).cast("double")
        return num / den

    va_n, vb_n = var_over_n("a"), var_over_n("b")
    se2 = va_n + vb_n
    md = (
        F.col("s_a").cast("double") / F.col("n_a").cast("double")
        - F.col("s_b").cast("double") / F.col("n_b").cast("double")
    )
    t_raw = md / F.sqrt(se2)
    df_raw = (se2 * se2) / (
        va_n * va_n / (F.col("n_a") - 1).cast("double")
        + vb_n * vb_n / (F.col("n_b") - 1).cast("double")
    )
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se2 > 0)
    f6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    diff6 = iround_col(
        "s_a * CAST(n_b AS DECIMAL(38,0)) - s_b * CAST(n_a AS DECIMAL(38,0))",
        "100 * CAST(n_a AS DECIMAL(38,0)) * n_b",
        6,
        signed=True,
    )
    return g.select(
        "n_a",
        "n_b",
        diff6.alias("mean_diff_usd"),
        F.when(ok, f6(t_raw)).alias("t_stat"),
        F.when(ok, f6(df_raw)).alias("df"),
    )


def agg_ljung_box(events: DataFrame, max_lag: int = 5) -> DataFrame:
    """Ljung–Box portmanteau white-noise test per event_type: are the
    first ``max_lag`` autocorrelations jointly zero? The SERIES-LEVEL
    companion of `agg_autocorr` (which reports lag-1 per user-series):
    Q ~ χ²(max_lag) under independence, so a large Q says the type's
    value stream has structure — the pre-flight check before trusting
    any iid-assuming statistic in this registry on that stream.

    EXACT: the global print order is (ts_us, event_id); every rho_k is a
    ratio of exact integers via the n²-scaled centering device —
    Σ(x_t−x̄)(x_{t−k}−x̄) · n² = n²·Σx_t·x_{t−k} − n·S·(Σ_t x + Σ_{t−k} x)
    + (n−k)·S² — all decimal(38,0) from cents, so rho_k is ONE double
    per lag (num/(n·den)) and Q folds the five rho²/(n−k) terms in
    WRITTEN order (a literal left-to-right sum — the same IEEE chain on
    both engines). Surfaced rho_k and Q use the floor device at 6 dp.
    DISCLOSED BOUND: n²·Σ(x·lag) caps decimal(38,0) near 1e8 rows per
    type at ~1e6 max cents — the permutation-test class, documented.

    Scale shape: one per-type window (the engine's standard series sort)
    to lag 5 columns, then ONE partial hash agg — |types| rows cross the
    wire. The per-type global sort is the gini/tick_bars disclosed
    posture: the statistic is DEFINED by the type's total print order.
    """
    dec = "decimal(38,0)"
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    x = cents("value")
    r = events.select("event_type", "ts_us", "event_id", x.alias("x"))
    for k in range(1, max_lag + 1):
        r = r.withColumn(f"l{k}", F.lag("x", k).over(w))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("t"),
    ]
    for k in range(1, max_lag + 1):
        lk = F.col(f"l{k}")
        aggs += [
            F.sum((F.col("x") * lk).cast(dec)).alias(f"sxy{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("x")).cast(dec)).alias(f"sx{k}"),
            F.sum(lk.cast(dec)).alias(f"sy{k}"),
            F.count(lk).cast("long").alias(f"c{k}"),
        ]
    g = r.groupBy("event_type").agg(*aggs)
    n = F.col("n").cast(dec)
    den = (n * F.col("t") - F.col("s") * F.col("s")).alias("den")
    g = g.withColumn("den", den)
    rhos = []
    for k in range(1, max_lag + 1):
        num = (
            n * n * F.col(f"sxy{k}")
            - n * F.col("s") * (F.col(f"sx{k}") + F.col(f"sy{k}"))
            + F.col(f"c{k}").cast(dec) * F.col("s") * F.col("s")
        )
        # den=0 (zero variance) must not reach the divide — ANSI mode
        # (Spark 4 default) throws instead of yielding inf/NaN
        rhos.append(
            F.when(
                F.col("den") > 0,
                num.cast("double") / (n * F.col("den")).cast("double"),
            ).alias(f"rho{k}_raw")
        )
    g = g.select("event_type", "n", "den", *rhos)
    nd = F.col("n").cast("double")
    # literal left-to-right sum — the written order IS the fold order
    q_sum = F.lit(0.0)
    for k in range(1, max_lag + 1):
        q_sum = q_sum + F.col(f"rho{k}_raw") * F.col(f"rho{k}_raw") / (
            nd - F.lit(float(k))
        )
    q_raw = nd * (nd + F.lit(2.0)) * q_sum
    f6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ok = (F.col("n") > max_lag) & (F.col("den") > 0)
    return g.select(
        "event_type",
        "n",
        *[F.when(ok, f6(F.col(f"rho{k}_raw"))).alias(f"rho{k}") for k in range(1, max_lag + 1)],
        F.when(ok, f6(q_raw)).alias("q_stat"),
    )
