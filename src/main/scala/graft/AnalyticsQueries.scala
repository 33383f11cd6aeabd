package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{ChAnalytics, StatTests}

/** Round-3 widening of the ClickHouse query surface (SURVEY.md §2.B):
  * LIMIT BY, windowFunnel, retention, WITH TOTALS (rollup), array
  * higher-order functions, and regex scrubbing — each with a DuckDB
  * oracle, each designed to plan a single shuffle (or none).
  */
object AnalyticsQueries {

  private def Q(f: (SparkSession, String) => DataFrame) = f

  private val d2 = DecimalType(18, 2)
  private val d4 = DecimalType(18, 4)

  private val dayUs = 86400000000L

  /** Fixed test quad for q_point_in_polygon (integer centi-degrees in
    * the supplier coordinate grid — non-convex-safe ray casting). */
  private val PipQuad: Seq[(Long, Long)] =
    Seq((5000L, 3000L), (25000L, 5000L), (30000L, 15000L), (8000L, 16000L))

  /** Shared A/B prep for the per-day two-sample tests (welch/ks/mw):
    * click = sample 0, view = sample 1, value in exact cents. */
  private def abEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).where(col("event_type").isin("click", "view"))
      .select(expr(s"ts_us div $dayUs").as("day"),
        when(col("event_type") === "click", 0L).otherwise(1L).as("i"),
        (col("value").cast(d2) * 100).cast(LongType).as("cents"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // B32 (round 12): ClickHouse sumMap — every event contributes its
    // parallel (key, value) arrays [per-type + an 'all' rollup]; the
    // operator merges them per user into one sorted map. The gate
    // explodes the aligned output arrays back to rows (array columns
    // don't survive the hash gate's canonicalizer; the ARRAY shape
    // itself is spec-pinned), decimal-exact sums, double output.
    "q_sum_map" -> Q { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          array(col("event_type"), lit("all")).as("ks"),
          array(col("value").cast(d2), col("value").cast(d2)).as("vs"))
      ChAnalytics.sumMap(ev, col("user_id"), col("ks"), col("vs"))
        .select(col("grp"),
          explode(zip_with(col("keys"), col("values"),
            (k, v) => struct(k.as("k"), v.as("v")))).as("__kv"))
        .select(col("grp"), col("__kv.k").as("k"),
          col("__kv.v").cast(DoubleType).as("v"))
        .orderBy("grp", "k")
    },

    // B33 (round 12): ClickHouse maxIntersections — peak concurrent
    // users per day: one [first-event, last-event+1µs) interval per
    // (user, day), then the half-open sweep. Peer-inclusive RANGE
    // frames make the tie order irrelevant on both engines.
    "q_max_intersections" -> Q { (s, d) =>
      val iv = Tables.events(s, d)
        .groupBy(col("user_id"),
          expr(s"ts_us div $dayUs").as("day"))
        .agg(min(col("ts_us")).as("s"),
          (max(col("ts_us")) + 1L).as("e"))
      ChAnalytics.maxIntersections(iv, col("day"), col("s"), col("e"))
        .select(col("grp").as("day"), col("max_intersections"))
        .orderBy("day")
    },

    // B34 (round 12): ClickHouse intervalLengthSum — per day, the
    // total time covered by ≥1 user's [first-event, last-event+1µs)
    // activity interval: union length, overlaps counted once.
    // Integer-µs arithmetic end to end → exact on both engines.
    "q_interval_union" -> Q { (s, d) =>
      val iv = Tables.events(s, d)
        .groupBy(col("user_id"),
          expr(s"ts_us div $dayUs").as("day"))
        .agg(min(col("ts_us")).as("s"),
          (max(col("ts_us")) + 1L).as("e"))
      ChAnalytics.intervalLengthSum(iv, col("day"), col("s"), col("e"))
        .select(col("grp").as("day"),
          col("interval_length_sum").as("covered_us"))
        .orderBy("day")
    },

    // B35 (round 12): ClickHouse minMap/maxMap — sumMap's extrema
    // sibling: per user, per key ((type, 'all')), the min and max
    // value. Ordering-only aggregate → doubles are cross-engine exact
    // with no decimal detour. Array shape spec-pinned; gate explodes.
    "q_minmax_map" -> Q { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          array(col("event_type"), lit("all")).as("ks"),
          array(col("value"), col("value")).as("vs"))
      ChAnalytics.minMaxMap(ev, col("user_id"), col("ks"), col("vs"))
        .select(col("grp"),
          explode(arrays_zip(col("keys"), col("mins"), col("maxs")))
            .as("__kv"))
        .select(col("grp"), col("__kv.keys").as("k"),
          col("__kv.mins").as("vmin"), col("__kv.maxs").as("vmax"))
        .orderBy("grp", "k")
    },

    // B36 (round 12): ClickHouse argMin/argMax — per event type, which
    // user produced the extreme value (deterministic (v, event_id)
    // tie rule on both engines). One struct-min/max aggregate: fully
    // map-side combinable, no window.
    "q_arg_minmax" -> Q { (s, d) =>
      ChAnalytics.argMinMax(Tables.events(s, d), col("event_type"),
        col("value"), col("event_id"), col("user_id"))
        .select(col("grp").as("event_type"), col("min_val"),
          col("arg_min"), col("max_val"), col("arg_max"))
        .orderBy("event_type")
    },

    // B37 (round 12): ClickHouse deltaSum — per user, the sum of
    // positive value deltas along the (ts, event_id)-ordered stream
    // (counter semantics: resets ignored). Decimal-exact deltas.
    "q_delta_sum" -> Q { (s, d) =>
      ChAnalytics.deltaSum(Tables.events(s, d), col("user_id"),
        Seq(col("ts_us"), col("event_id")), col("value").cast(d2))
        .select(col("series").as("user_id"),
          col("delta_sum").cast(DoubleType).as("delta_sum"))
        .orderBy("user_id")
    },

    // B38 (round 12): ClickHouse boundingRatio — per user, net value
    // change per µs between their first and last event (single-event
    // users → NULL). Endpoints exact via the struct rule; one IEEE
    // divide.
    "q_bounding_ratio" -> Q { (s, d) =>
      ChAnalytics.boundingRatio(Tables.events(s, d), col("user_id"),
        col("ts_us"), col("event_id"), col("value"))
        .select(col("grp").as("user_id"), col("bounding_ratio"))
        .orderBy("user_id")
    },

    // B39 (round 12): ClickHouse simpleLinearRegression — whole-dollar
    // price regressed on quantity per return flag. Long-integer
    // moments, two final long→double casts, one divide per output.
    "q_linreg" -> Q { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_quantity").cast(DecimalType(18, 0)).cast(LongType).as("x"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) div 100")
          .as("y"))
      StatTests.simpleLinearRegression(li, col("l_returnflag"),
        col("x"), col("y"))
        .select(col("grp").as("l_returnflag"), col("slope"),
          col("intercept"), col("n"))
        .orderBy("l_returnflag")
    },

    // B73 (round 14): multiple linear regression — ClickHouse's
    // stochasticLinearRegression niche done deterministically: SGD is
    // sample-order-dependent (irreproducible distributed), so the
    // batch engine solves the same linear model EXACTLY via the 3×3
    // normal equations. Integer moments (quantity, discount-in-cents,
    // whole-unit price — the q_linreg discipline), Cramer's rule as
    // one fixed IEEE tree, singular groups → NULL.
    "q_multi_linreg" -> Q { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_quantity").cast(DecimalType(18, 0)).cast(LongType).as("x1"),
        expr("cast(cast(l_discount as decimal(18,2)) * 100 as bigint)")
          .as("x2"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) div 100")
          .as("y"))
      StatTests.multipleLinearRegression2(li, col("l_returnflag"),
        col("x1"), col("x2"), col("y"))
        .select(col("grp").as("l_returnflag"), col("n"),
          col("intercept"), col("beta1").as("beta_qty"),
          col("beta2").as("beta_disc"))
        .orderBy("l_returnflag")
    },

    // B75 (round 14): ClickHouse corrMatrix — all pairwise Pearson
    // correlations of (quantity, whole-unit price, discount-cents) in
    // ONE pass, 10 longs of state per group. Whole units (not cents)
    // for the price keep the Σx² envelope inside 2⁶³ at ~1e6-row
    // groups; √ is the one portable power function, so the tree
    // replays exactly.
    "q_corr_matrix" -> Q { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_quantity").cast(DecimalType(18, 0)).cast(LongType).as("x1"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) div 100")
          .as("x2"),
        expr("cast(cast(l_discount as decimal(18,2)) * 100 as bigint)")
          .as("x3"))
      StatTests.corrMatrix3(li, col("l_returnflag"),
        col("x1"), col("x2"), col("x3"))
        .select(col("grp").as("l_returnflag"), col("n"),
          col("corr_12").as("corr_qty_price"),
          col("corr_13").as("corr_qty_disc"),
          col("corr_23").as("corr_price_disc"))
        .orderBy("l_returnflag")
    },

    // B40 (round 12): ClickHouse welchTTest — does click value differ
    // from view value, per day? Cents-exact moments, fixed IEEE tree.
    "q_welch_ttest" -> Q { (s, d) =>
      StatTests.welchTTest(abEvents(s, d), col("day"), col("i"),
        col("cents"))
        .select(col("grp").as("day"), col("t_stat"), col("df_ws"),
          col("n1"), col("n2"))
        .orderBy("day")
    },

    // B41 (round 12): ClickHouse kolmogorovSmirnovTest — per day, the
    // two-sample D between click and view value distributions,
    // all-integer ECDF cross-products, one final divide.
    "q_ks_test" -> Q { (s, d) =>
      StatTests.ksTest(abEvents(s, d), col("day"), col("i"), col("cents"))
        .select(col("grp").as("day"), col("d_stat"), col("n1"), col("n2"))
        .orderBy("day")
    },

    // B42 (round 12): ClickHouse mannWhitneyUTest — per day, rank-sum
    // U (carried as the integer 2·R₁) + tie-corrected z.
    "q_mann_whitney" -> Q { (s, d) =>
      StatTests.mannWhitneyU(abEvents(s, d), col("day"), col("i"),
        col("cents"))
        .select(col("grp").as("day"), col("u1"), col("z"),
          col("n1"), col("n2"))
        .orderBy("day")
    },

    // B43 (round 12): ClickHouse quantileExactWeighted(0.5) — the
    // quantity-weighted median price (in cents) per return flag,
    // picked by an integer cumulative-weight comparison.
    "q_quantile_weighted" -> Q { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)")
          .as("cents"),
        col("l_quantity").cast(DecimalType(18, 0)).cast(LongType).as("w"))
      StatTests.quantileExactWeighted(li, col("l_returnflag"),
        col("cents"), col("w"))
        .select(col("grp").as("l_returnflag"),
          col("wq").cast(DoubleType).as("wmedian_cents"))
        .orderBy("l_returnflag")
    },

    // B44 (round 12): ClickHouse geohashEncode — suppliers get
    // deterministic integer-derived coordinates (exact binary-fraction
    // lat/lon), encoded at precisions 8 and 4; gh4 is a prefix of gh8
    // (spec-pinned), making it the geo partition/bucket key.
    "q_geohash" -> Q { (s, d) =>
      import graft.operators.GeoHash
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") * 7919 % 36000).cast(DoubleType) / 100.0
          - 180.0).as("lon"),
        ((col("s_suppkey") * 104729 % 18000).cast(DoubleType) / 100.0
          - 90.0).as("lat"))
      sup.select(col("s_suppkey"),
          GeoHash.encode(col("lon"), col("lat"), 8).as("gh8"),
          GeoHash.encode(col("lon"), col("lat"), 4).as("gh4"))
        .orderBy("s_suppkey")
    },

    // B45 (round 12): ClickHouse sparkbar — hour-of-day activity bar
    // per event type; integer ceil(8n/max) glyph levels replay exactly.
    "q_sparkbar" -> Q { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          expr("(ts_us div 3600000000) % 24").as("hr"))
      ChAnalytics.sparkbar(ev, col("event_type"), col("hr"), 24)
        .select(col("grp").as("event_type"), col("bar"))
        .orderBy("event_type")
    },

    // B46 (round 12): ClickHouse exponentialTimeDecayedAvg (half-life
    // = 1 day) — per type, the decayed average of cents at the series
    // end; exact power-of-2 integer weights, one final divide.
    "q_exp_decay_avg" -> Q { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"),
        expr(s"ts_us div $dayUs").as("day"),
        (col("value").cast(d2) * 100).cast(LongType).as("cents"))
      ChAnalytics.expDecayedAvg(ev, col("event_type"), col("day"),
        col("cents"))
        .select(col("grp").as("event_type"), col("decayed_avg"))
        .orderBy("event_type")
    },

    // B75 (round 14): Holt double-exponential smoothing (linear
    // trend) — the forecasting rung above q6's plain OLS line and the
    // level-only q_exp_decay_avg. Recurrence (the part no closed form
    // removes) is a SINGLE ordered fold over the per-type daily
    // series: the raw table collapses to #days exact-cents rows per
    // type in one map-side-combined shuffle (calendar-bounded, the
    // Series discipline), then aggregate() folds the sorted array
    // with all-integer state — α=1/4, β=1/8 dyadic, every division an
    // explicit FLOOR div ((a − pmod(a,n)) div n, exact on both
    // engines regardless of trunc-vs-floor `div` semantics, the sign
    // trap the trend term would otherwise hit). Init l₁=y₁,
    // b₁=y₂−y₁; forecast_7 = l_n + 7·b_n. The oracle replays the
    // fold as a recursive CTE over row-numbered days. Observed days
    // only (gaps fold as adjacent observations — documented).
    "q_holt_linear" -> Q { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType)).as("cents"))
      val ser = daily.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("day"), col("cents"))))
          .as("arr"))
        .where(size(col("arr")) >= 2)
      def fd(a: String, n: Int) = s"((($a) - pmod($a, $n)) div $n)"
      val lp = fd("x.cents + 3 * acc.l + 3 * acc.b", 4)
      val bp = fd(s"$lp - acc.l + 7 * acc.b", 8)
      ser.select(col("event_type"),
          size(col("arr")).cast(LongType).as("n_days"),
          expr(
            s"""aggregate(slice(arr, 2, size(arr) - 1),
               | named_struct(
               |  'l', CAST(arr[0].cents AS BIGINT),
               |  'b', CAST(arr[1].cents - arr[0].cents AS BIGINT)),
               | (acc, x) -> named_struct('l', $lp, 'b', $bp),
               | acc -> acc)""".stripMargin).as("st"))
        .select(col("event_type"), col("n_days"),
          col("st.l").as("level_c"), col("st.b").as("trend_c"),
          (col("st.l") + lit(7L) * col("st.b")).as("forecast7_c"))
        .orderBy("event_type")
    },

    // B85 (round 14): Holt-Winters ADDITIVE seasonal smoothing —
    // the triple-smoothing completion of the family (EMA →
    // q_exp_decay_avg, Holt → q_holt_linear, Holt-Winters here):
    // level + trend + a period-7 seasonal queue, all-dyadic α=1/4,
    // β=1/8, γ=1/4, every division the explicit floor div. Init is
    // the textbook two-period form (l₀ = mean of week 1, b₀ = mean
    // day-over-week-ago difference, s = week-1 deviations; requires
    // n ≥ 14 — enforced); the seasonal state rides the fold as a
    // 7-long rolling queue (consume head, append fresh). Forecasts:
    // h=1 uses the queue head (phase n+1−7), h=7 the tail (same
    // phase as day n). One calendar-bounded ordered fold per type,
    // the q_holt_linear shape; the oracle's recursive CTE carries
    // the queue as a LIST column.
    "q_holt_winters" -> Q { (s, d) =>
      val p = 7
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType)).as("cents"))
      val ser = daily.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("day"), col("cents"))))
          .as("arr"))
        .where(size(col("arr")) >= 2 * p)
      def fd(a: String, n: Int) = s"((($a) - pmod($a, $n)) div $n)"
      def sumSlice(from: Int) =
        s"aggregate(slice(arr, $from, $p), CAST(0 AS BIGINT), " +
          "(a, e) -> a + e.cents)"
      val l0 = fd(sumSlice(1), p)
      val b0 = fd(s"${sumSlice(p + 1)} - ${sumSlice(1)}", p * p)
      val lp = fd("x.cents - acc.s[0] + 3 * acc.l + 3 * acc.b", 4)
      val bp = fd(s"$lp - acc.l + 7 * acc.b", 8)
      val sp = fd(s"x.cents - $lp + 3 * acc.s[0]", 4)
      ser.select(col("event_type"),
          size(col("arr")).cast(LongType).as("n_days"),
          expr(
            s"""aggregate(slice(arr, ${p + 1}, size(arr) - $p),
               | named_struct(
               |  'l', CAST($l0 AS BIGINT),
               |  'b', CAST($b0 AS BIGINT),
               |  's', transform(slice(arr, 1, $p),
               |        e -> CAST(e.cents - $l0 AS BIGINT))),
               | (acc, x) -> named_struct(
               |  'l', $lp, 'b', $bp,
               |  's', concat(slice(acc.s, 2, ${p - 1}), array($sp))),
               | acc -> acc)""".stripMargin).as("st"))
        .select(col("event_type"), col("n_days"),
          col("st.l").as("level_c"), col("st.b").as("trend_c"),
          (col("st.l") + col("st.b") + element_at(col("st.s"), 1))
            .as("forecast1_c"),
          (col("st.l") + lit(7L) * col("st.b") +
            element_at(col("st.s"), p)).as("forecast7_c"))
        .orderBy("event_type")
    },

    // B47 (round 12): ClickHouse largestTriangleThreeBuckets — each
    // event type's (ts, cents) series downsampled to 30 points for
    // plotting (bucket-anchor variant — see Downsample.lttb).
    "q_lttb" -> Q { (s, d) =>
      import graft.operators.Downsample
      val ev = Tables.events(s, d).select(col("event_type"),
        col("ts_us"),
        (col("value").cast(d2) * 100).cast(LongType).as("cents"))
      Downsample.lttb(ev, col("event_type"), col("ts_us"),
        col("cents"), 30)
        .select(col("grp").as("event_type"), col("bucket"),
          col("t").as("t_us"), col("v").as("cents"))
        .orderBy("event_type", "bucket")
    },

    // B48 (round 12): WITH FILL … INTERPOLATE — sparse per-user hourly
    // spend series densified with linear interpolation across gaps
    // (known rows exact, edges NULL, one fixed IEEE tree per gap row).
    "q_fill_interp" -> Q { (s, d) =>
      val src = Tables.events(s, d).where(col("user_id") % 100 === 0)
        .groupBy(col("user_id"), expr("ts_us div 3600000000").as("hour"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType)).as("cents"))
      ChAnalytics.withFillInterpolate(src, col("user_id"), col("hour"),
        col("cents"))
        .select(col("grp").as("user_id"), col("o").as("hour"),
          col("v_interp"))
        .orderBy("user_id", "hour")
    },

    // B48b (round 12): WITH FILL … carry (LOCF) — the staircase mode:
    // gap rows repeat the previous known cents total; exact, no
    // arithmetic. Same sparse per-user hourly series as B48.
    "q_fill_locf" -> Q { (s, d) =>
      val src = Tables.events(s, d).where(col("user_id") % 100 === 0)
        .groupBy(col("user_id"), expr("ts_us div 3600000000").as("hour"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType)).as("cents"))
      ChAnalytics.withFillLocf(src, col("user_id"), col("hour"),
        col("cents"))
        .select(col("grp").as("user_id"), col("o").as("hour"),
          col("v_locf"))
        .orderBy("user_id", "hour")
    },

    // B49 (round 12): cramersV — association strength between event
    // type and hour-of-day; the χ² sum runs as an ordered sequential
    // fold over the (tiny) cell table so it replays bit-exactly.
    "q_cramers_v" -> Q { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("(ts_us div 3600000000) % 24").as("hr"))
      StatTests.cramersV(ev, col("event_type"), col("hr"))
    },

    // B50 (round 12): sequenceNextNode — what does each user do
    // immediately after their first adjacent view→click? NULL when
    // the chain never fires or the stream ends there.
    "q_sequence_next_node" -> Q { (s, d) =>
      ChAnalytics.sequenceNextNode(
        Tables.events(s, d).select("user_id", "event_id", "ts_us",
          "event_type"),
        col("user_id"), col("ts_us"), col("event_id"),
        Seq(col("event_type") === "view", col("event_type") === "click"),
        col("event_type"))
        .select(col("entity").as("user_id"), col("next_node"))
        .orderBy("user_id")
    },

    // B51 (round 12): ClickHouse uniqUpTo(N) — exact distinct count
    // capped at N+1, as a genuinely BOUNDED-STATE aggregate (≤ N+1
    // values per group at any corpus size, map-side combinable — CH's
    // own state contract; least(countDistinct, N+1) computes the same
    // number but shuffles every distinct value). Per event type:
    // distinct users up to 100.
    "q_uniq_upto" -> Q { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(graft.functions.UniqUpTo.uniqUpTo(100)(col("user_id"))
          .as("uniq_upto_100"))
        .orderBy("event_type")
    },

    // B52 (round 12): ClickHouse groupBitmapAnd/Or/Xor — audience set
    // algebra over three behavior segments, as the bitmap-free
    // relational identity: per-user presence flags, then one count
    // per combinator. One user shuffle, 3 bits of state per user.
    "q_group_bitmap" -> Q { (s, d) =>
      val flags = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "view", 1L).otherwise(0L)).as("f1"),
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("f2"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("f3"))
      flags.agg(
        sum(col("f1") * col("f2") * col("f3")).as("and_users"),
        sum(greatest(col("f1"), col("f2"), col("f3"))).as("or_users"),
        sum((col("f1") + col("f2") + col("f3")) % 2).as("xor_users"))
    },

    // B53 (round 12): ClickHouse pointInPolygon — which suppliers'
    // integer centi-degree coordinates fall inside a fixed quad;
    // division-free integer ray casting, exact on both engines.
    "q_point_in_polygon" -> Q { (s, d) =>
      import graft.operators.GeoHash
      Tables.supplier(s, d).select(col("s_suppkey"),
          (col("s_suppkey") * 7919 % 36000).as("px"),
          (col("s_suppkey") * 104729 % 18000).as("py"))
        .select(col("s_suppkey"),
          GeoHash.pointInPolygon(col("px"), col("py"), PipQuad)
            .cast(LongType).as("inside"))
        .orderBy("s_suppkey")
    },

    // B54 (round 12): arrayAUC as a grouped aggregate — per day, does
    // value separate clicks from views? AUC ≡ normalized Mann–Whitney
    // U, so the integer 2·R₁ machinery serves verbatim; one divide.
    "q_auc" -> Q { (s, d) =>
      StatTests.auc(abEvents(s, d), col("day"), col("i") === 0,
        col("cents"))
        .select(col("grp").as("day"), col("auc"), col("n_pos"),
          col("n_neg"))
        .orderBy("day")
    },

    // B55 (round 12): ClickHouse rankCorr (Spearman) — per day, rank
    // correlation between event value and time; integer doubled-rank
    // moments, two sqrts at the end. Envelope: 4n⁴ < 2^63 → n ≲ 39k
    // per group (ANSI-loud beyond; group finer — here days).
    "q_rank_corr" -> Q { (s, d) =>
      val src = Tables.events(s, d).select(
        expr(s"ts_us div $dayUs").as("day"),
        (col("value").cast(d2) * 100).cast(LongType).as("cents"),
        col("ts_us"))
      StatTests.rankCorr(src, col("day"), col("cents"), col("ts_us"))
        .select(col("grp").as("day"), col("rank_corr"), col("n"))
        .orderBy("day")
    },

    // B56 (round 12): dictGet — suppliers per nation name with the
    // nation dim compiled into the plan as a literal map (no join, no
    // broadcast exchange; the missing-key → default path exercised
    // via dictGetOrDefault on an impossible key domain shift).
    "q_dict_get" -> Q { (s, d) =>
      import graft.operators.Dict
      val nations = Dict.fromTable(Tables.nation(s, d),
        "n_nationkey", "n_name")
      Tables.supplier(s, d)
        .select(Dict.getOrDefault(nations, col("s_nationkey"),
          "UNKNOWN").as("n_name"))
        .groupBy("n_name").agg(count(lit(1)).as("n_suppliers"))
        .orderBy("n_name")
    },

    // B57 (round 12): nonNegativeDerivative — per-user counter rate
    // (cents per µs) against the previous event; resets clamp to 0,
    // first rows NULL. One window, no aggregate.
    "q_nn_derivative" -> Q { (s, d) =>
      ChAnalytics.nonNegativeDerivative(Tables.events(s, d),
        col("user_id"), Seq(col("ts_us"), col("event_id")),
        col("ts_us"), (col("value").cast(d2) * 100).cast(LongType))
        .select(col("series").as("user_id"), col("t").as("ts_us"),
          col("rate"))
        .orderBy("user_id", "ts_us")
    },

    // B58 (round 12): skewPop + kurtPop — shape statistics of the
    // whole-dollar value distribution per event type, from exact long
    // power sums (Σx..Σx⁴).
    "q_skew_kurt" -> Q { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint) div 100")
          .as("x"))
      StatTests.skewKurt(ev, col("event_type"), col("x"))
        .select(col("grp").as("event_type"), col("skew_pop"),
          col("kurt_pop"), col("n"))
        .orderBy("event_type")
    },

    // B13: ClickHouse `LIMIT 2 BY user_id` — first two events per user.
    // WindowGroupLimit prunes to ≤2 rows/user/partition pre-shuffle.
    "q_limit_by" -> Q { (s, d) =>
      ChAnalytics.limitBy(
        Tables.events(s, d).select("user_id", "event_id", "ts_us"),
        Seq(col("user_id")), 2, Seq(col("ts_us"), col("event_id")))
        .orderBy("user_id", "ts_us", "event_id")
    },

    // B14: windowFunnel(24h): view -> click -> purchase; per-level user
    // counts. k stacked window-mins, one shuffle on user_id.
    "q_funnel" -> Q { (s, d) =>
      ChAnalytics.windowFunnel(
        Tables.events(s, d).select("user_id", "ts_us", "event_type"),
        col("user_id"), col("ts_us"), dayUs,
        Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"))
        .groupBy("level").agg(count(lit(1)).as("n_users"))
        .orderBy("level")
    },

    // B14b (round 10): windowFunnel 'strict_order' — interventions
    // break the chain (CH: A→B→D→C stops the A→B→C search at D). The
    // per-user sequence number (row_number over (ts, event_id) — total
    // order, so both engines see the same chain) reduces "immediately
    // next event" to seq == anchor_seq + i; 'strict_increase' is
    // implied. Same single user_id shuffle as q_funnel.
    "q_funnel_strict" -> Q { (s, d) =>
      ChAnalytics.windowFunnelStrictOrder(
        Tables.events(s, d).select("user_id", "event_id", "ts_us", "event_type"),
        col("user_id"), col("ts_us"), col("event_id"), dayUs,
        Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"))
        .groupBy(col("level").cast("long").as("level"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("level")
    },

    // B15: retention(signup, purchase, view) — cohort counts, one pass.
    "q_retention" -> Q { (s, d) =>
      ChAnalytics.retention(
        Tables.events(s, d).select("user_id", "event_type"),
        col("user_id"),
        Seq(col("event_type") === "signup",
          col("event_type") === "purchase",
          col("event_type") === "view"))
        .agg(
          sum(when(col("r0"), 1L).otherwise(0L)).as("r0_cnt"),
          sum(when(col("r1"), 1L).otherwise(0L)).as("r1_cnt"),
          sum(when(col("r2"), 1L).otherwise(0L)).as("r2_cnt"))
    },

    // B16: ClickHouse WITH TOTALS via ROLLUP — per-type revenue plus
    // the grand-total row, one aggregation (Expand feeds both levels).
    "q_rollup_totals" -> Q { (s, d) =>
      Tables.events(s, d)
        .rollup("event_type")
        .agg(count(lit(1)).as("n_events"),
          // exact decimal sum, double output (r03 hash-gate root cause:
          // trailing-zero decimals mismatch the driver's canonicalization)
          sum(col("value").cast(d2)).cast(DoubleType).as("sum_value"),
          grouping(col("event_type")).as("__g"))
        .select(
          when(col("__g") === 1, lit("TOTAL"))
            .otherwise(col("event_type")).as("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("event_type")
    },

    // B20: the ClickHouse-compat SQL surface END-TO-END — verbatim
    // CH-style SQL through spark.sql against GraftCatalog views with
    // injected functions (uniqExact, countIf, sumIf), gated like any
    // other query. uniqExact/countIf compile to the same exchanges the
    // DataFrame forms do.
    // B20d (round 10): the CH temporal function family end-to-end
    // through spark.sql — partition-key idioms (toYYYYMM/ toYYYYMMDD),
    // component extractors (toYear…toHour, ISO toDayOfWeek/ toISOWeek),
    // truncations (toStartOfHour/ toMonday/ toStartOfQuarter) and
    // date arithmetic (addDays), all injected Catalyst expressions
    // (zero UDFs). Post-agg projection over ≤ #hours rows; the one
    // corpus shuffle is the hour rollup. Output sticks to
    // BIGINT/DATE (timestamps leave as epoch seconds) per the hash
    // gate's type rules.
    "q_ch_datetime" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(
        """WITH t AS (SELECT toDateTime(ts_us div 1000000) AS dt FROM events),
          |g AS (SELECT toStartOfHour(dt) AS hr, count(*) AS n
          |      FROM t GROUP BY 1)
          |SELECT CAST(toUnixTimestamp(hr) AS BIGINT) AS unix_hr,
          |  toDate(hr) AS day,
          |  CAST(toYYYYMM(hr) AS BIGINT) AS yyyymm,
          |  CAST(toYYYYMMDD(hr) AS BIGINT) AS yyyymmdd,
          |  CAST(toYear(hr) AS BIGINT) AS y,
          |  CAST(toQuarter(hr) AS BIGINT) AS qtr,
          |  CAST(toMonth(hr) AS BIGINT) AS m,
          |  CAST(toDayOfMonth(hr) AS BIGINT) AS dom,
          |  CAST(toDayOfYear(hr) AS BIGINT) AS doy,
          |  CAST(toDayOfWeek(hr) AS BIGINT) AS dow,
          |  CAST(toISOWeek(hr) AS BIGINT) AS isowk,
          |  CAST(toHour(hr) AS BIGINT) AS h,
          |  toMonday(hr) AS monday,
          |  toStartOfQuarter(hr) AS q_start,
          |  toDate(addDays(hr, 7)) AS plus7,
          |  n
          |FROM g ORDER BY unix_hr""".stripMargin)
    },

    "q_ch_sql" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(
        """SELECT event_type,
          |  uniqExact(user_id) AS n_users,
          |  countIf(value > 100.0) AS n_big,
          |  CAST(sumIf(CAST(value AS DECIMAL(18,2)), value > 100.0)
          |       AS DOUBLE) AS sum_big
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // B20e (round 15): the ClickHouse DIALECT adapter end-to-end —
    // literal CH query text (clause-level CH-isms included) through
    // ChDialect.translate into spark.sql. Three gates, one per clause
    // family; each lands on an already-audited distributed plan
    // (LIMIT BY → one keyed window shuffle; ARRAY JOIN → explode in
    // the scan stage; WITH TOTALS → one Expand).
    "q_ch_dialect_limit_by" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(graft.ChDialect.translate(
        """SELECT user_id, event_type, ts_us, event_id FROM events
          |ORDER BY user_id, ts_us, event_id
          |LIMIT 2 BY user_id
          |FORMAT TabSeparated""".stripMargin))
    },

    "q_ch_dialect_array_join" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(graft.ChDialect.translate(
        """SELECT doc_id, tok
          |FROM (SELECT doc_id, splitByChar(' ', text) AS toks
          |      FROM documents)
          |ARRAY JOIN toks AS tok
          |WHERE length(tok) > 3
          |ORDER BY doc_id, tok
          |LIMIT 500""".stripMargin))
    },

    // B20h (round-15 tier 2): FROM t FINAL — the ReplacingMergeTree
    // read idiom (the tables reference main.py migrates INTO are read
    // with FINAL daily). The adapter turns it into the window dedup
    // bit-identical to ReplacingMerge.latestByKeyWindow, given the CH
    // DDL's ORDER BY/version metadata.
    "q_ch_dialect_final" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(graft.ChDialect.translate(
        """SELECT event_id, ts_us, user_id, event_type, value
          |FROM events FINAL
          |ORDER BY user_id, event_type""".stripMargin,
        Map("events" -> graft.ChDialect.TableMeta(
          finalKeys = Seq("user_id", "event_type"),
          finalOrder = Seq("ts_us", "event_id")))))
    },

    // B20i (round-15 tier 2): FROM t SAMPLE f — the deterministic
    // keyed sample (CH SAMPLE BY), lowered to the engine-portable md5
    // bucket so the SAME rows are kept here, in DuckDB, and in a real
    // ClickHouse replaying the predicate.
    "q_ch_dialect_sample" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(graft.ChDialect.translate(
        """SELECT doc_id, lang FROM documents SAMPLE 0.2
          |ORDER BY doc_id""".stripMargin,
        Map("documents" -> graft.ChDialect.TableMeta(
          sampleKey = Some("doc_id")))))
    },

    // B20j (round 16): multi-array ARRAY JOIN — CH's positional ZIP
    // of parallel arrays, the r15 verdict's #1 missing item — now
    // translates to inline(arrays_zip(...)) with positional aliases
    // instead of refusing. Round 17 made the gate ALIGNMENT-sensitive
    // (r16 verdict #4): the second array is the token's ORDINAL
    // position — not derivable from the element value — so a zip
    // that misaligned positions cannot hash green (the oracle
    // re-derives pos by ordinality on the DuckDB side).
    "q_ch_dialect_array_zip" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(graft.ChDialect.translate(
        """SELECT doc_id, tok, pos
          |FROM (SELECT doc_id, splitByChar(' ', text) AS toks,
          |        sequence(CAST(1 AS BIGINT),
          |                 CAST(size(splitByChar(' ', text)) AS BIGINT))
          |          AS poss
          |      FROM documents)
          |ARRAY JOIN toks AS tok, poss AS pos
          |WHERE length(tok) > 3
          |ORDER BY doc_id, tok, pos
          |LIMIT 500""".stripMargin))
    },

    // B20m (round 17): bare ARRAY JOIN under a SUBQUERY FROM — the
    // r16 verdict's top remaining refusal. The renaming-subquery
    // shadow rewrite now wraps ANY single top-level FROM relation;
    // only multi-relation FROMs (join/comma) still refuse.
    "q_ch_dialect_array_sub" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(graft.ChDialect.translate(
        """SELECT doc_id, toks
          |FROM (SELECT doc_id, splitByChar(' ', text) AS toks
          |      FROM documents WHERE doc_id % 2 = 0)
          |ARRAY JOIN toks
          |WHERE length(toks) > 3
          |ORDER BY doc_id, toks
          |LIMIT 500""".stripMargin))
    },

    // B20k (round 16): bare ARRAY JOIN — CH SHADOWS the array column
    // with its element. The adapter wraps the FROM table in a
    // renaming subquery so the LATERAL VIEW alias can take the
    // original column name; references after the clause see the
    // ELEMENT, exactly CH's scoping.
    "q_ch_dialect_array_shadow" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW docs_arr AS
          |SELECT doc_id, split(text, ' ', -1) AS toks
          |FROM documents""".stripMargin)
      s.sql(graft.ChDialect.translate(
        """SELECT doc_id, toks FROM docs_arr ARRAY JOIN toks
          |WHERE length(toks) > 3
          |ORDER BY doc_id, toks
          |LIMIT 500""".stripMargin))
    },

    // B20n (round 17): bare-EXPRESSION ARRAY JOIN — CH names the
    // element after the expression's text and resolves same-text
    // references query-wide to the element. The adapter aliases the
    // element to the normalized source text (backticked) and rewrites
    // same-text references outside subqueries, so WHERE/SELECT/ORDER
    // BY all see the element exactly like CH.
    "q_ch_dialect_array_expr" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(graft.ChDialect.translate(
        """SELECT doc_id, splitByChar(' ', text) AS tok,
          |  CAST(length(splitByChar(' ', text)) AS BIGINT) AS tok_len
          |FROM documents
          |ARRAY JOIN splitByChar(' ', text)
          |WHERE length(splitByChar(' ', text)) > 3
          |ORDER BY doc_id, splitByChar(' ', text)
          |LIMIT 500""".stripMargin))
    },

    // B20l (round 16): FINAL SAMPLE composed — CH samples the
    // post-FINAL state, so the portable md5 bucket predicate lands
    // beside the rn=1 filter of the dedup subquery (refused in r15).
    "q_ch_dialect_final_sample" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(graft.ChDialect.translate(
        """SELECT event_id, ts_us, user_id, event_type, value
          |FROM events FINAL SAMPLE 0.5
          |ORDER BY user_id, event_type""".stripMargin,
        Map("events" -> graft.ChDialect.TableMeta(
          finalKeys = Seq("user_id", "event_type"),
          finalOrder = Seq("ts_us", "event_id"),
          sampleKey = Some("user_id")))))
    },

    "q_ch_dialect_totals" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      // the totals row carries NULL keys (Spark's grouping-sets
      // convention); labeled post-adapter for a deterministic gate
      s.sql(graft.ChDialect.translate(
        """SELECT event_type, count(*) AS cnt, uniqExact(user_id) AS users
          |FROM events
          |PREWHERE value > 10
          |GROUP BY event_type WITH TOTALS""".stripMargin))
        .withColumn("event_type",
          coalesce(col("event_type"), lit("__TOTALS__")))
        .orderBy("event_type")
    },

    // B20b: the CH array-HOF SQL surface END-TO-END through spark.sql —
    // splitByChar + lambda-first arrayMap + arraySum + multiIf, the
    // composition a ClickHouse user types daily. All codegen'd HOFs in
    // the scan stage; zero shuffle.
    "q_ch_sql_arrays" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(
        """SELECT doc_id,
          |  CAST(size(splitByChar(' ', text)) AS BIGINT) AS n_parts,
          |  CAST(arraySum(arrayMap(t -> length(t), splitByChar(' ', text)))
          |       AS BIGINT) AS sum_len,
          |  multiIf(length(text) > 500, 'long',
          |          length(text) > 100, 'mid', 'short') AS bucket
          |FROM documents ORDER BY doc_id""".stripMargin)
    },

    // B20c: the round-5 CH array-function batch END-TO-END through
    // spark.sql over token-length arrays. Array-valued results are
    // serialized to strings for the gate (array output columns are
    // untested in the driver's hash canonicalization); every element
    // is integer-valued so the double folds are exact on both engines.
    "q_ch_array_funcs" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(
        """WITH base AS (
          |  SELECT doc_id,
          |    arrayMap(t -> length(t), splitByChar(' ', text)) AS lens
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(arrayMin(lens) AS BIGINT) AS min_len,
          |  CAST(arrayMax(lens) AS BIGINT) AS max_len,
          |  arrayAvg(lens) AS avg_len,
          |  CAST(arrayCount(x -> x > 3, lens) AS BIGINT) AS n_gt3,
          |  arrayExists(x -> x = 1, lens) AS has_one,
          |  arrayAll(x -> x > 0, lens) AS all_pos,
          |  arrayStringConcat(arrayMap(x -> CAST(x AS STRING),
          |    arrayDifference(lens)), ',') AS diffs,
          |  arrayStringConcat(arrayMap(x -> CAST(CAST(x AS BIGINT) AS STRING),
          |    arrayCumSum(lens)), ',') AS cumsum,
          |  arrayStringConcat(arrayMap(x -> CAST(x AS STRING),
          |    arrayCompact(lens)), ',') AS compacted,
          |  CAST(arrayReduce('uniqExact', lens) AS BIGINT) AS n_uniq
          |FROM base ORDER BY doc_id""".stripMargin)
    },

    // B19: ORDER BY … WITH FILL — gap-filled sparse hourly series
    // (rare-event rollup densified to every hour in range).
    "q_with_fill" -> Q { (s, d) =>
      val sparse = Tables.events(s, d)
        .filter(col("event_type") === "error" && col("value") > 95)
        .groupBy(expr("ts_us div 3600000000").as("hour_bucket"))
        .agg(count(lit(1)).as("n_events"))
      ChAnalytics.withFill(sparse, "hour_bucket")
        .select(col("hour_bucket"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("hour_bucket")
    },

    // B17: array higher-order functions (CH arrayFilter/arrayMap/
    // arrayReduce ≙ Spark filter/transform/aggregate) — fully codegen'd
    // lambdas, zero shuffle.
    "q_array_hof" -> Q { (s, d) =>
      val toks = when(length(trim(col("text"))) === 0,
        typedlit(Seq.empty[String]))
        .otherwise(split(trim(col("text")), "\\s+"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).cast(LongType).as("n_toks"),
        size(filter(toks, t => length(t) > 4)).cast(LongType).as("n_long"),
        aggregate(transform(toks, t => length(t).cast(LongType)),
          lit(0L), (a, x) => a + x).as("sum_len"))
        .orderBy("doc_id")
    },

    // B18: regex scrubbing (PII-shaped normalization for training
    // corpora): emails then digit runs, zero shuffle.
    // B31: ClickHouse sequenceMatch('(?1).*(?2).*(?3)') +
    // sequenceCount('(?1).*(?2)') — did each user view→click→purchase
    // in order, and how many non-overlapping view→click hops? Both
    // derive from ONE per-user code-string aggregation (one shuffle;
    // 1 byte/event state). The count gap is LAZY (`.*?`) — greedy
    // would swallow the string and cap every count at 1.
    "q_sequence_match" -> Q { (s, d) =>
      ChAnalytics.sequenceAgg(
        Tables.events(s, d).select("user_id", "ts_us", "event_id", "event_type"),
        col("user_id"), Seq(col("ts_us"), col("event_id")),
        Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"))
        .select(col("entity").as("user_id"),
          col("seq").rlike("1.*2.*3").as("matched"),
          regexp_count(col("seq"), lit("1.*?2")).cast(LongType).as("n_vc"))
        .orderBy("user_id")
    },

    // B31b (round 15): sequenceMatch WITH TIME CONSTRAINTS — the CH
    // `(?1)(?t<=3600)(?2)(?t<=7200)(?3)` form the code-string regex
    // cannot express. view →(≤1h)→ click →(≤2h)→ purchase, decided by
    // the latest-completion window chain (ONE user shuffle, K window
    // passes sharing it, no HOF); oracle replays the same SQL.
    "q_sequence_match_timed" -> Q { (s, d) =>
      ChAnalytics.sequenceMatchTimed(
        Tables.events(s, d)
          .select("user_id", "ts_us", "event_id", "event_type"),
        col("user_id"), col("ts_us"), col("event_id"),
        Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        Seq(3600000000L, 7200000000L))
        .select(col("entity").as("user_id"), col("matched"),
          col("first_done"))
        .orderBy("user_id")
    },

    // B69 (round 14): top-k SEQUENCE-SIMILARITY search — the
    // interactive "find entities whose event trajectory looks like
    // this pattern" shape (EDBT'20 top-k similarity sessions / ICDE'21
    // distributed trajectory top-k, re-expressed relationally): per
    // user the order-sorted condition-code string (ONE user shuffle,
    // the sequenceMatch family's shared base, 1 byte/event state), a
    // bounded 24-event journey prefix, exact edit distance to the
    // query pattern (codegen'd levenshtein — integer, oracle-exact),
    // TakeOrdered top-20 by (dist, user) — never a global sort.
    "q_journey_topk" -> Q { (s, d) =>
      ChAnalytics.sequenceAgg(
        Tables.events(s, d).select("user_id", "ts_us", "event_id", "event_type"),
        col("user_id"), Seq(col("ts_us"), col("event_id")),
        Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"))
        .select(col("entity").as("user_id"),
          substring(col("seq"), 1, 24).as("journey"))
        .withColumn("dist",
          levenshtein(col("journey"), lit("123121312")).cast(LongType))
        .orderBy(col("dist"), col("user_id"))
        .limit(20)
    },

    // B32: conditional-aggregate pivot (the CH countIf/sumIf idiom for
    // wide rollups): daily event counts by type + purchase revenue in
    // one partial-agg pass — a pivot with zero extra shuffles.
    "q_pivot_if" -> Q { (s, d) =>
      val dayStart = (col("ts_us") - pmod(col("ts_us"), lit(dayUs))).as("day_start_us")
      Tables.events(s, d).groupBy(dayStart)
        .agg(
          count(lit(1)).as("n_events"),
          count(when(col("event_type") === "view", 1)).as("n_view"),
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          sum(when(col("event_type") === "purchase",
            col("value").cast(d2))).cast(d4).cast(DoubleType).as("rev_purchase"))
        .orderBy("day_start_us")
    },

    // B33: corr/covarSamp/covarPop from EXACT decimal power sums — the
    // q_stat_aggs strategy extended to co-moments. Order-independent
    // sums make the result identical under any partitioning (the
    // cluster-safe form of CH's corr/covar aggregates); one fixed
    // double formula at the end. Products of DECIMAL(18,2) need
    // DECIMAL(38,4) sums: price² sums exceed DECIMAL(18,*) range.
    "q_corr" -> Q { (s, d) =>
      val d38 = DecimalType(38, 4)
      val x = col("l_quantity").cast(d2)
      val y = col("l_extendedprice").cast(d2)
      val base = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(x.cast(d38)).as("sx"), sum(y.cast(d38)).as("sy"),
          sum((x * x).cast(d38)).as("sxx"),
          sum((y * y).cast(d38)).as("syy"),
          sum((x * y).cast(d38)).as("sxy"))
      val nD = col("n").cast(DoubleType)
      def dbl(c: String) = col(c).cast(DoubleType)
      val cxy = nD * dbl("sxy") - dbl("sx") * dbl("sy")
      val vx = nD * dbl("sxx") - dbl("sx") * dbl("sx")
      val vy = nD * dbl("syy") - dbl("sy") * dbl("sy")
      base.select(col("l_returnflag"), col("n"),
        (cxy / (nD * nD)).as("covar_pop"),
        (cxy / (nD * (nD - lit(1.0)))).as("covar_samp"),
        (cxy / (sqrt(vx) * sqrt(vy))).as("corr"))
        .orderBy("l_returnflag")
    },

    // B34: the CH URL function family END-TO-END through spark.sql,
    // over URLs synthesized from event columns (the corpus has no URL
    // column); the oracle re-states each part directly from the same
    // columns, so it independently pins the parsing semantics. All
    // codegen'd string ops in the scan stage; zero shuffle.
    "q_url_parse" -> Q { (s, d) =>
      GraftCatalog.registerTables(s, d)
      s.sql(
        """SELECT event_id,
          |  protocol(u) AS proto,
          |  domain(u) AS dom,
          |  domainWithoutWWW(u) AS dom_nw,
          |  topLevelDomain(u) AS tld,
          |  path(u) AS upath,
          |  queryString(u) AS qs,
          |  extractURLParameter(u, 'q') AS q_param,
          |  fragment(u) AS frag
          |FROM (
          |  SELECT event_id,
          |    concat('https://www.', event_type, '.example.com/u/',
          |           CAST(user_id AS STRING), '?q=', CAST(event_id AS STRING),
          |           '&x=1#sec') AS u
          |  FROM events)
          |ORDER BY event_id""".stripMargin)
    },

    "q_text_scrub" -> Q { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
          "[0-9]+", "<NUM>").as("scrubbed"))
        .orderBy("doc_id")
    },

    // B16 (oracle, round 9): rate-spike detection — hour-over-hour
    // event-count jumps per event_type. The spike rule is an INTEGER
    // cross-multiplication (n·100 > prev·150, i.e. +50%), the Gopher
    // discipline — no float ratio can flap the decision cross-engine.
    // One (type, hour) agg + one lag window over the tiny hourly
    // series.
    "q_rate_spike" -> Q { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("ts_us DIV 3600000000").as("hour"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("hour")
      hourly.withColumn("prev_n", lag("n", 1).over(w))
        .where(col("prev_n").isNotNull)
        .select(col("event_type"), col("hour"), col("n"), col("prev_n"),
          (col("n") * 100 > col("prev_n") * 150).cast("long").as("is_spike"))
        .orderBy("event_type", "hour")
    },

    // B15 (oracle, round 9): portable count-min sketch — mergeable
    // per-key frequency state (Cormode & Muthukrishnan 2005) in SPARSE
    // RELATIONAL form (j, bucket, cnt): build = groupBy count, merge =
    // union+sum (associative, exact — the gate builds TWO half
    // sketches and merges them), estimate = broadcast join. Buckets
    // derive from the proven xxhash64 long kernel + seeded affine
    // rows, so the oracle replays every bucket decision bit-exactly.
    "q_cms_counts" -> Q { (s, d) =>
      val CS = graft.operators.CmSketch
      val e = Tables.events(s, d)
      val sk = CS.merge(
        CS.sketch(e.filter(col("event_id") % 2 === 0), "user_id"),
        CS.sketch(e.filter(col("event_id") % 2 =!= 0), "user_id"))
      val probes = e.select("user_id").distinct()
        .filter(col("user_id") % 7 === 0)
      val trueCnt = e.groupBy("user_id").agg(count(lit(1)).as("true_cnt"))
      CS.estimate(sk, probes, "user_id")
        .join(trueCnt, "user_id")
        .select(col("user_id"), col("est_cnt"), col("true_cnt"))
        .orderBy("user_id")
    },

    // B28b (oracle, round 10): the streaming CMS's settled STATE — the
    // exact (j, bucket, cnt) relation streaming.CmsStream.sketchStream
    // maintains in update mode is the same union+groupBy-count
    // relation in batch (build = merge = one associative aggregation),
    // so the gate runs the STREAM OPERATOR'S OWN transform over the
    // events table and the oracle replays every bucket decision off
    // the long-kernel CTEs. CmsStreamSpec proves the incremental
    // stream settles to this; the gate pins the relation itself.
    "cms_stream_relation" -> Q { (s, d) =>
      graft.streaming.CmsStream.sketchStream(
          Tables.events(s, d).select("user_id"), "user_id")
        .orderBy("j", "bucket")
    },

    // B13 (oracle, round 9): audience overlap — |users(a) ∩ users(b)|
    // for every event-type pair, the CH groupBitmap /
    // bitmapAndCardinality pattern. Per-group sorted user arrays ARE
    // the aggregate state (one shuffle builds all of them); the pair
    // join is #groups² rows and each intersection is the round-9
    // sorted-merge kernel — no re-shuffle of user ids per pair. At
    // audiences beyond memory the same query swaps the exact array
    // state for the reaggregatable HLL sketch (uniqState/uniqMerge),
    // trading exactness for O(1) state — both ends of that trade ship.
    "q_audience_overlap" -> Q { (s, d) =>
      // checkpointed: both sides of the pair join read it, and
      // re-evaluating means a second full events scan + collect_set
      val aud = Tables.events(s, d).groupBy("event_type")
        .agg(sort_array(collect_set(col("user_id"))).as("users"))
        .localCheckpoint(true)
      val a = aud.select(col("event_type").as("type_a"),
        col("users").as("users_a"))
      val b = aud.select(col("event_type").as("type_b"),
        col("users").as("users_b"))
      a.join(b, col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          size(col("users_a")).cast("long").as("aud_a"),
          size(col("users_b")).cast("long").as("aud_b"),
          graft.functions.SetOps.sortedIntersectCount(
            col("users_a"), col("users_b"), lit(0L)).as("overlap"))
        .orderBy("type_a", "type_b")
    },

    // B13b (oracle, round 10): the BOUNDED-STATE twin of
    // q_audience_overlap — per-group HLL register states (≤1024 bytes
    // of aggregation state per audience regardless of its size) with
    // register-max union merge and inclusion-exclusion, the shape that
    // survives a 100M-user audience where the exact collect_set array
    // is one ~800 MB in-memory aggregate. Same portable sketch as
    // q_uniq_approx, so the estimate is hash-gated bit-exactly; the
    // exact query above stays as the small-audience path, and
    // AudienceOverlapSpec bounds this one's error against it.
    "q_audience_overlap_sketch" -> Q { (s, d) =>
      graft.functions.HllPortable
        .pairwiseOverlap(Tables.events(s, d), "event_type", col("user_id"))
        .select(col("g_a").as("type_a"), col("g_b").as("type_b"),
          col("uniq_a"), col("uniq_b"), col("uniq_union"), col("overlap_est"))
        .orderBy("type_a", "type_b")
    },

    // B73 (round 14): KMV / theta sketch set algebra — click vs view
    // audiences: distinct estimates, union, intersection AND the set
    // DIFFERENCE (click-only users), the operation the HLL family
    // cannot express on sketch state. One (set, h40) distinct shuffle
    // + one bounded k-minima aggregation (≤256 longs of state per
    // set); all estimators are integer divides, replayed bit-exactly
    // by the DuckDB oracle's XXH64 kernel + LIMIT-k minima.
    "q_kmv_sketch" -> Q { (s, d) =>
      graft.functions.KmvSketch.setAlgebra(Tables.events(s, d),
        col("event_type"), col("user_id"), "click", "view", 256)
    },

    // B74 (round 14): deterministic integer PageRank over the
    // event-type transition graph — which journey state holds the
    // steady-state mass. Edge derivation = one lag-window pass + one
    // (src,dst) count shuffle; 12 power-iteration supersteps run on
    // the bounded edge relation with per-superstep localCheckpoint
    // (the Pregel lineage discipline). All-integer fixed point: the
    // DuckDB recursive CTE replays every division bit-for-bit.
    "q_pagerank" -> Q { (s, d) =>
      import graft.operators.PageRank
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val edges = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          col("event_id"))
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .where(col("src").isNotNull)
        .select(col("src"), col("event_type").as("dst"), lit(1L).as("w"))
      PageRank.ranks(edges)
        .select(col("node").as("event_type"), col("rank_ppb"))
        .orderBy("event_type")
    },

    // B76 (round 14): item co-occurrence with lift — the
    // collaborative-filtering primitive ("users who clicked X also
    // clicked Y") over the props.k item ids. Scale shape: one
    // (user, item) distinct shuffle; heavy users are CAPPED at 256
    // items BEFORE the self-join (a user's pair fan-out is quadratic
    // in their item count and near-uniform co-clicks carry no signal
    // — the standard CF downsampling, loud in the operator contract);
    // the pair aggregation is bounded by distinct item pairs. Lift is
    // integer ppm with early division: ((co·10⁶) div cnt_a) stays
    // ≤ 10⁶ because co ≤ cnt_a, so the ·n_users step is safe while
    // n_users < 2⁴³ (envelope documented). Top-3 co-items per item by
    // (co desc, item_b) — a bounded window over the pair relation.
    "q_item_cooccur" -> Q { (s, d) =>
      val pres = Tables.events(s, d)
        .where(col("event_type") === "click")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("item"))
        .where(col("item").isNotNull)
        .distinct()
      val capped = pres
        .withColumn("_n", count(lit(1))
          .over(Window.partitionBy(col("user_id"))))
        .where(col("_n") <= 256)
        .drop("_n")
        .localCheckpoint(true) // 3 readers: both join sides + counts
      val nUsers1 = capped.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users")).localCheckpoint(true)
      val cnt = capped.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      val a = capped.select(col("user_id"), col("item").as("item_a"))
      val b = capped.select(col("user_id"), col("item").as("item_b"))
      val co = a.join(b, Seq("user_id"))
        .where(col("item_a") < col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("co"))
      val w = Window.partitionBy(col("item_a"))
        .orderBy(col("co").desc, col("item_b"))
      co.join(cnt.select(col("item").as("item_a"), col("cnt").as("cnt_a")),
          "item_a")
        .join(cnt.select(col("item").as("item_b"), col("cnt").as("cnt_b")),
          "item_b")
        .crossJoin(nUsers1)
        .withColumn("lift_ppm",
          expr("((co * 1000000) div cnt_a) * n_users div cnt_b"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .where(col("rk") <= 3)
        .select(col("item_a"), col("item_b"), col("co"), col("cnt_a"),
          col("cnt_b"), col("lift_ppm"), col("rk"))
        .orderBy("item_a", "rk")
    },

    // B77 (round 14): A/B-test minimum sample size per variant — the
    // ClickHouse minSampleSizeConversion helper. Baseline conversion
    // per day = purchasers among viewers (exact integer counts); the
    // required n is the textbook two-proportion formula as ONE fixed
    // IEEE tree on z-constants inlined from Scala doubles (shortest
    // round-trip literals — the PipQuad/hyperplane transport rule),
    // with mde = 1/64 (exactly representable). No shuffle beyond the
    // one per-day user rollup.
    "q_ab_sample_size" -> Q { (s, d) =>
      val za = 1.9599639845400545 // z_{1-α/2}, α = 0.05
      val zb = 0.8416212335729143 // z_{power},  power = 0.8
      val mde = 0.015625          // 1/64, exact in binary
      val byUser = Tables.events(s, d)
        .where(col("event_type").isin("view", "purchase"))
        .groupBy(expr(s"ts_us div $dayUs").as("day"), col("user_id"))
        .agg(max(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("viewed"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("purchased"))
      byUser.where(col("viewed") === 1L)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("viewers"),
          sum(col("purchased")).as("converters"))
        .withColumn("p1",
          col("converters").cast("double") / col("viewers").cast("double"))
        .withColumn("p2", col("p1") + lit(mde))
        .withColumn("n_required",
          ceil((lit((za + zb) * (za + zb)) *
            (col("p1") * (lit(1.0) - col("p1")) +
              col("p2") * (lit(1.0) - col("p2")))) /
            lit(mde * mde)).cast(LongType))
        .select(col("day"), col("viewers"), col("converters"),
          col("p1"), col("n_required"))
        .orderBy("day")
    },

    // B79 (round 14): cohort LTV — the revenue companion to the
    // retention matrix: cumulative purchase revenue per (cohort week,
    // weeks-since) and the per-user LTV in exact cents. Same two
    // shuffles as q_retention_cohort (user-grain min-week, cohort
    // grid agg) + one calendar-bounded running-sum window per cohort;
    // the per-user divide is integer cents (envelope: cum_rev < 2⁶³).
    "q_cohort_ltv" -> Q { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us DIV 604800000000").as("w"),
          when(col("event_type") === "purchase",
            (col("value").cast(d2) * 100).cast(LongType))
            .otherwise(0L).as("cents"))
      val coh = ev.groupBy("user_id").agg(min("w").as("cw"))
        .localCheckpoint(true) // read by the grid AND the size agg
      val sizes = coh.groupBy(col("cw")).agg(count(lit(1)).as("cohort_users"))
      val grid = ev.join(coh, "user_id")
        .groupBy(col("cw").as("cohort_week"),
          (col("w") - col("cw")).as("offset_weeks"))
        .agg(sum(col("cents")).as("rev_cents"))
      val wi = Window.partitionBy(col("cohort_week"))
        .orderBy(col("offset_weeks"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("cum_rev_cents", sum(col("rev_cents")).over(wi))
        .join(sizes.withColumnRenamed("cw", "cohort_week"), "cohort_week")
        .withColumn("ltv_cents_per_user",
          expr("cum_rev_cents div cohort_users"))
        .select(col("cohort_week"), col("offset_weeks"),
          col("cohort_users"), col("rev_cents"), col("cum_rev_cents"),
          col("ltv_cents_per_user"))
        .orderBy("cohort_week", "offset_weeks")
    },

    // B80 (round 14): Benford first-digit audit — does a value column
    // follow the log-10 first-digit law (the classic fraud /
    // synthetic-data tell)? Counts are exact integers from ONE
    // bounded agg; the expected share p_d = log10(1+1/d) is a Scala
    // double literal per digit (shortest round-trip transport — no
    // runtime libm log anywhere); expected count and the χ²
    // contribution are one fixed IEEE tree per digit row. This
    // fixture's totalprice is uniform-ish, so the audit FIRES —
    // contributions far above the χ²(8) 5% critical value.
    "q_benford" -> Q { (s, d) =>
      val digitP: Seq[Double] =
        (1 to 9).map(dd => math.log10(1.0 + 1.0 / dd))
      val first = Tables.orders(s, d)
        .select((col("o_totalprice").cast(d2) * 100).cast(LongType)
          .as("cents"))
        .where(col("cents") > 0)
        .select(substring(col("cents").cast(StringType), 1, 1)
          .cast(LongType).as("digit"))
      val counts = first.groupBy(col("digit"))
        .agg(count(lit(1)).as("obs"))
      val n1 = first.agg(count(lit(1)).as("n"))
      // CAST the literal: a bare decimal literal parses as DECIMAL in
      // Spark SQL (and DuckDB), sending the multiply through decimal
      // rounding instead of one IEEE op — the cast restores the
      // original double bit-for-bit on both engines
      val pExpr = (1 to 9).map(dd =>
        s"WHEN digit = $dd THEN CAST(${digitP(dd - 1)} AS DOUBLE)")
        .mkString(" ")
      counts.crossJoin(n1) // 9 rows × 1 row
        .withColumn("p", expr(s"CASE $pExpr END"))
        .withColumn("expected", col("n").cast("double") * col("p"))
        .withColumn("chi2_contrib",
          (col("obs").cast("double") - col("expected")) *
            (col("obs").cast("double") - col("expected")) /
            col("expected"))
        .select(col("digit"), col("obs"), col("expected"),
          col("chi2_contrib"))
        .orderBy("digit")
    },

    // B81 (round 14): Gini coefficient — revenue concentration across
    // users ("do 10% of users drive 90% of spend"), the inequality
    // metric that also reads on training-data source concentration.
    // Exact rank formula: G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) with
    // ranks from one (cents, user) total order — numerator and
    // denominator are exact BIGINTs (envelope: n·maxSpend < 2⁶³, i.e.
    // ~10⁹ users at $10k — past that pre-scale to dollars), the
    // quotient is the ONE IEEE divide. Ties don't disturb Σi·xᵢ
    // (equal x under permuted ranks), the tie order is total anyway.
    "q_gini" -> Q { (s, d) =>
      val perUser = Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType)).as("x"))
      // Distributed rank (round 18, guide §2): the old global
      // `row_number() over (order by x, user_id)` sorted the whole
      // user-grain relation on ONE task (the bench's "No Partition
      // Defined" warning). Σi·x is TIE-INVARIANT (equal x under
      // permuted ranks — the envelope comment below), so aggregate to
      // unique spend values first (x, c), range-partition by x, and
      // reconstruct each x-group's rank block B+1..B+c from
      // per-partition offsets: Σranks over the group = c·B + c(c+1)/2.
      // The checkpoint pins the sampled range boundaries so the
      // bounded per-partition-count collect (≤ shuffle partitions
      // rows) and the main pass see the SAME partitioning. Integer
      // arithmetic throughout; every group term equals the sum of its
      // old per-user terms, so _ix (and the one IEEE divide) are
      // bit-identical.
      import s.implicits._
      val dist = perUser.groupBy(col("x")).agg(count(lit(1)).as("c"))
      val shufflePartitions =
        s.conf.get("spark.sql.shuffle.partitions").toInt
      val ranged = dist.repartitionByRange(shufflePartitions, col("x"))
        .localCheckpoint(true)
      val withPid = ranged.withColumn("pid", spark_partition_id())
      val pidCounts = withPid.groupBy("pid")
        .agg(sum(col("c")).as("pc"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val offsets = {
        var acc = 0L
        pidCounts.map { case (pid, pc) => val o = acc; acc += pc; (pid, o) }
      }.toSeq.toDF("pid", "off")
      val w = Window.partitionBy("pid").orderBy(col("x"))
      withPid.withColumn("runc", sum(col("c")).over(w))
        .join(broadcast(offsets), "pid")
        // rank block of this x-group: B+1 .. B+c with B = off+runc−c
        .select(col("x"), col("c"),
          (col("x") * ((col("off") + col("runc") - col("c")) * col("c") +
            shiftright(col("c") * (col("c") + 1L), 1))).as("gx"))
        // coalesce: count(*) in the oracle gives 0 users on an empty
        // purchase set, where a bare sum over zero rows is NULL
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_users"),
          sum(col("x") * col("c")).as("total_cents"),
          sum(col("gx")).as("_ix"))
        .select(col("n_users"), col("total_cents"),
          ((lit(2L) * col("_ix") - (col("n_users") + 1L) *
            col("total_cents")).cast("double") /
            (col("n_users") * col("total_cents")).cast("double"))
            .as("gini"))
    },

    // B82 (round 14): CUPED variance reduction (Deng et al. 2013) —
    // the experiment-analytics workhorse: use each user's PRE-period
    // spend as the covariate, report θ = cov(x,y)/var(x) and the
    // variance reduction 1−ρ² the adjustment buys. The pre/post
    // split is the data's own midpoint day ((min+max+1) div 2 — an
    // exact integer both engines derive identically). All moments are
    // exact integer sums in ONE user-grain shuffle; each moment is
    // double-CAST before any product (the covar overflow-envelope
    // lesson); θ, the variances and ρ² are fixed IEEE trees.
    "q_cuped" -> Q { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr(s"ts_us div $dayUs").as("day"),
          when(col("event_type") === "purchase",
            (col("value").cast(d2) * 100).cast(LongType))
            .otherwise(0L).as("cents"))
      val mid1 = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
        .localCheckpoint(true)
      val xy = ev.crossJoin(mid1)
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("mid"), col("cents"))
          .otherwise(0L)).as("x"),
          sum(when(col("day") >= col("mid"), col("cents"))
            .otherwise(0L)).as("y"))
      // Squared moments in DECIMAL(38,0) (HUGEINT in the oracle) —
      // per-user cents near 3e9 square past 2^63, where BIGINT wraps
      // silently in non-ANSI Spark while DuckDB raises (round-15
      // ADVICE fix). Exact integers on both engines, THEN one double
      // cast each — summation order stays irrelevant, hashes stay
      // deterministic (a double-sum would not be).
      val xw = col("x").cast("decimal(38,0)")
      val yw = col("y").cast("decimal(38,0)")
      val m = xy.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(xw * xw).as("sxx"),
        sum(yw * yw).as("syy"),
        sum(xw * yw).as("sxy"))
      def dd(c: String) = col(c).cast("double")
      m.select(col("n").as("n_users"),
          (dd("n") * dd("sxy") - dd("sx") * dd("sy")).as("_cov_n2"),
          (dd("n") * dd("sxx") - dd("sx") * dd("sx")).as("_varx_n2"),
          (dd("n") * dd("syy") - dd("sy") * dd("sy")).as("_vary_n2"))
        .select(col("n_users"),
          (col("_cov_n2") / col("_varx_n2")).as("theta"),
          ((col("_cov_n2") * col("_cov_n2")) /
            (col("_varx_n2") * col("_vary_n2"))).as("rho2"))
        .withColumn("var_reduction", lit(1.0) - col("rho2"))
    },

    // B83 (round 14): difference-in-differences — the quasi-
    // experimental estimate over a deterministic user-id assignment
    // (user_id % 2 — the hash-bucket split real experiments use;
    // "ever clicked" would make everyone treated on this fixture);
    // pre/post at the same midpoint day; DiD = (ȳ_t,post − ȳ_t,pre) −
    // (ȳ_c,post − ȳ_c,pre). Four exact sums in one user-grain shuffle
    // + one bounded 2×2 agg; each mean is one IEEE divide, the
    // estimate one fixed tree over them.
    "q_did" -> Q { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr(s"ts_us div $dayUs").as("day"),
          when(col("event_type") === "purchase",
            (col("value").cast(d2) * 100).cast(LongType))
            .otherwise(0L).as("cents"))
      val mid1 = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
        .localCheckpoint(true)
      val perUser = ev.crossJoin(mid1)
        .groupBy(col("user_id"))
        .agg(max(pmod(col("user_id"), lit(2L))).as("treated"),
          sum(when(col("day") < col("mid"), col("cents"))
            .otherwise(0L)).as("pre"),
          sum(when(col("day") >= col("mid"), col("cents"))
            .otherwise(0L)).as("post"))
      val g = perUser.groupBy(col("treated"))
        .agg(count(lit(1)).as("n"), sum(col("pre")).as("sp"),
          sum(col("post")).as("so"))
        .select(col("treated"),
          (col("sp").cast("double") / col("n").cast("double")).as("m_pre"),
          (col("so").cast("double") / col("n").cast("double")).as("m_post"))
        .localCheckpoint(true) // both arm filters read this 2-row frame
      val t = g.where(col("treated") === 1L)
        .select(col("m_pre").as("t_pre"), col("m_post").as("t_post"))
      val c = g.where(col("treated") === 0L)
        .select(col("m_pre").as("c_pre"), col("m_post").as("c_post"))
      t.crossJoin(c) // two 1-row bounded frames
        .select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
          ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
            .as("did_cents"))
    },

    // B84 (round 14): RFM segmentation — the classic marketing
    // triple: per-user Recency (days since last purchase), Frequency
    // (purchase count), Monetary (total cents), each cut into
    // quartiles by ntile over a TOTAL order (metric, user_id — no
    // float ties), segment = concatenated quartile digits, output =
    // segment sizes + per-segment exact averages. One user-grain
    // shuffle; the three ntile windows run on the bounded user-grain
    // relation (the q_gini global-window note applies: user-grain,
    // not raw rows).
    "q_rfm" -> Q { (s, d) =>
      val pu = Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(expr(s"ts_us div $dayUs")).as("last_day"),
          count(lit(1)).as("freq"),
          sum((col("value").cast(d2) * 100).cast(LongType)).as("cents"))
      val ref1 = pu.agg(max(col("last_day")).as("ref_day"))
        .localCheckpoint(true)
      def q(metric: Column, asc: Boolean) = ntile(4).over(
        if (asc) Window.orderBy(metric.asc, col("user_id"))
        else Window.orderBy(metric.desc, col("user_id")))
      val scored = pu.crossJoin(ref1)
        .withColumn("recency_days", col("ref_day") - col("last_day"))
        // recency: LOWER days = better = quartile 1 → ascending;
        // frequency/monetary: HIGHER = quartile 1 → descending
        .withColumn("rq", q(col("recency_days"), asc = true)
          .cast(LongType))
        .withColumn("fq", q(col("freq"), asc = false).cast(LongType))
        .withColumn("mq", q(col("cents"), asc = false).cast(LongType))
      scored.groupBy(concat(col("rq"), col("fq"), col("mq"))
          .as("segment"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents")).as("cents"),
          sum(col("freq")).as("purchases"))
        .orderBy("segment")
    },

    // B86 (round 14): CUSUM change-point detection — where did each
    // series' level shift? dev_t = y_t − ⌊mean⌋ (floor mean keeps
    // everything exact BIGINT), cusum_t = running Σdev, the change
    // point = argmax |cusum| with earliest-day tie-break — all exact
    // integers, zero libm. One calendar-bounded daily agg + one
    // per-type frame + one argmax window (the Series scale shape:
    // windows partition BY TYPE over the bounded daily relation).
    "q_cusum" -> Q { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType)).as("cents"))
      val m = daily.groupBy("event_type")
        .agg(expr("sum(cents) div count(1)").as("mean_f"),
          count(lit(1)).as("n_days"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPick = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("cusum")).desc, col("day"))
      daily.join(broadcast(m), "event_type")
        .withColumn("cusum", sum(col("cents") - col("mean_f")).over(wRun))
        .withColumn("rk", row_number().over(wPick))
        .where(col("rk") === 1)
        .select(col("event_type"), col("n_days"),
          col("day").as("change_day"),
          abs(col("cusum")).as("max_abs_cusum"))
        .orderBy("event_type")
    },

    // B14 (oracle, round 9): weekly cohort-retention matrix — the
    // classic product-analytics grid (cohort week × weeks-since),
    // complementing q_retention's CH retention() flags. Two shuffles:
    // one user-grain min-week agg, one (cohort, offset) distinct-count
    // — the cohort join is co-partitioned on user_id.
    "q_retention_cohort" -> Q { (s, d) =>
      val wk = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us DIV 604800000000").as("w"))
      val coh = wk.groupBy("user_id").agg(min("w").as("cw"))
      wk.join(coh, "user_id")
        .groupBy(col("cw").as("cohort_week"),
          (col("w") - col("cw")).as("offset_weeks"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy("cohort_week", "offset_weeks")
    },

    // C36 (oracle, round 9): URL-canonicalization dedup — crawl-corpus
    // URL dedup after normalizing scheme/host case, www, default
    // ports, trailing slashes, utm_* params and param order. The gate
    // PLANTS the mess derivably from event fields (like q_url_parse /
    // text_pii_scrub), so every rule is exercised and the group counts
    // prove the variants collapse.
    "dedup_url" -> Q { (s, d) =>
      val scheme = when(col("event_id") % 2 === 0, lit("HTTPS://"))
        .otherwise(lit("https://"))
      val www = when(col("event_id") % 3 === 0, lit("www.")).otherwise(lit(""))
      val host = when(col("event_id") % 5 === 0, upper(col("event_type")))
        .otherwise(col("event_type"))
      val port = when(col("event_id") % 7 === 0, lit(":443")).otherwise(lit(""))
      val slash = when(col("event_id") % 2 === 0, lit("/")).otherwise(lit(""))
      val qs = when(col("event_id") % 3 === 0, lit("?b=2&a=1&utm_source=x"))
        .otherwise(lit("?a=1&b=2"))
      val u = concat(scheme, www, host, lit(".example.com"), port,
        lit("/u/"), (col("user_id") % 50).cast("string"), slash, qs)
      Tables.events(s, d)
        .select(graft.functions.UrlCanon.canonicalize(u).as("url"),
          col("event_id"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_events"), min("event_id").as("first_event"))
        .orderBy("url")
    },

    // B59 (round 13): ClickHouse studentTTest — the pooled-variance
    // sibling of q_welch_ttest on the identical 6-long moment state;
    // df is an exact long (n1+n2-2), unlike Welch's fractional df.
    "q_student_ttest" -> Q { (s, d) =>
      StatTests.studentTTest(abEvents(s, d), col("day"), col("i"),
        col("cents"))
        .select(col("grp").as("day"), col("t_stat"), col("df_p"),
          col("n1"), col("n2"))
        .orderBy("day")
    },

    // B60 (round 13): ClickHouse meanZTest — two-sample z with KNOWN
    // population variances (caller-supplied, as in CH; cents² here).
    // Means from exact long sums, z one fixed IEEE tree.
    "q_mean_ztest" -> Q { (s, d) =>
      StatTests.meanZTest(abEvents(s, d), col("day"), col("i"),
        col("cents"), 4000000.0, 9000000.0)
        .select(col("grp").as("day"), col("z_stat"), col("n1"), col("n2"))
        .orderBy("day")
    },

    // B61 (round 13): ClickHouse entropy — per day, Shannon entropy
    // (bits) of the event-type mix. log2 via the deterministic dyadic
    // bit-squaring kernel (StatTests.log2Dyadic — libm log2 is not
    // cross-engine reproducible); the fractional Σ c·log2 c runs as
    // the ordered fold (cramersV rule), replayed in DuckDB with a
    // recursive CTE computing the SAME 30 squarings.
    "q_entropy" -> Q { (s, d) =>
      val ev = Tables.events(s, d)
        .select(expr(s"ts_us div $dayUs").as("day"), col("event_type"))
      StatTests.entropy(ev, col("day"), col("event_type"))
        .select(col("grp").as("day"), col("entropy_bits"), col("n"))
        .orderBy("day")
    },

    // B62 (round 13): ClickHouse theilsU — how much of the event-type
    // entropy the hour-of-day explains (asymmetric uncertainty
    // coefficient, [0,1]); three ordered entropy folds off one cell
    // table + one dyadic log2 of n.
    "q_theils_u" -> Q { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("(ts_us div 3600000000) % 24").as("hr"))
      StatTests.theilsU(ev, col("event_type"), col("hr"))
    },

    // B64 (round 13): ClickHouse topK — SpaceSaving heavy hitters
    // (Metwally et al. 2005), the sketch family's missing member.
    // The GATE builds registers DETERMINISTICALLY: foldOrdered over
    // the (type, user) cell table in ascending item order, so DuckDB
    // replays them register-for-register with a recursive CTE. The
    // production path is SpaceSaving.topKSketch (k-bounded mergeable
    // Aggregator) — spec-pinned to the same insert kernel.
    "q_topk_sketch" -> Q { (s, d) =>
      val cells = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
      cells.groupBy(col("event_type"))
        .agg(graft.functions.SpaceSaving.foldOrdered(
          array_sort(collect_list(struct(col("user_id").as("v"),
            col("c").as("c")))), 8).as("regs"))
        .select(col("event_type"), explode(col("regs")).as("r"))
        .select(col("event_type"), col("r.v").as("item"),
          col("r.c").as("cnt_est"), col("r.e").as("err_bound"))
        .orderBy(col("event_type"), col("cnt_est").desc, col("item"))
    },

    // B64b (round 13): ClickHouse topKWeighted — the same SpaceSaving
    // registers with WEIGHTED inserts: top users per type by total
    // cents instead of event count. Identical deterministic fold +
    // recursive-CTE replay; weights are exact cent sums (> 0 by the
    // events contract, required by the insert rule).
    "q_topk_weighted" -> Q { (s, d) =>
      val cells = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType)).as("c"))
        .where(col("c") > 0)
      cells.groupBy(col("event_type"))
        .agg(graft.functions.SpaceSaving.foldOrdered(
          array_sort(collect_list(struct(col("user_id").as("v"),
            col("c").as("c")))), 8).as("regs"))
        .select(col("event_type"), explode(col("regs")).as("r"))
        .select(col("event_type"), col("r.v").as("item"),
          col("r.c").as("cents_est"), col("r.e").as("err_bound"))
        .orderBy(col("event_type"), col("cents_est").desc, col("item"))
    },

    // B49b (round 13): ClickHouse cramersVBiasCorrected — the
    // Bergsma-Wicher small-sample correction on the SAME shared chi2
    // kernel as q_cramers_v / q_contingency; one more fixed tree.
    "q_cramers_v_bc" -> Q { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("(ts_us div 3600000000) % 24").as("hr"))
      StatTests.cramersVBiasCorrected(ev, col("event_type"), col("hr"))
    },

    // B39b (round 13): ClickHouse covarPop/covarSamp — quantity vs
    // whole-dollar price covariance per return flag, exact 4-long
    // moments (the linreg kernel) combined double-first (r14: the
    // all-long numerator multiplied Σxy by n before any cast,
    // shrinking the overflow envelope by a factor of n vs the t-test
    // siblings; the oracle mirrors the same IEEE cast points).
    "q_covar" -> Q { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_quantity").cast(DecimalType(18, 0)).cast(LongType).as("x"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) div 100")
          .as("y"))
      StatTests.covariance(li, col("l_returnflag"), col("x"), col("y"))
        .select(col("grp").as("l_returnflag"), col("covar_pop"),
          col("covar_samp"), col("n"))
        .orderBy("l_returnflag")
    },

    // B65 (round 13): portable Bloom filter — the sketch family's
    // set-membership member: purchaser user-ids built into a sparse
    // bit relation IN TWO HALVES and merged (the merge-of-partials
    // gate precedent — union+distinct IS bitwise OR), then every
    // distinct user probed. in_bloom has NO false negatives
    // (is_purchaser=1 ⇒ in_bloom=1, provable and oracle-checked row
    // by row); false positives at the documented (1−e^(−kn/m))^k rate.
    "q_bloom_filter" -> Q { (s, d) =>
      val BF = graft.operators.BloomFilter
      // m sized for the gate corpus per the operator's FPR contract:
      // the seen-set is ~1/7 of users, m=1024/k=3 puts the FPR near
      // 10% at sf0.1 — false positives genuinely occur, false
      // negatives provably never do (the oracle checks every row)
      val m = 1024
      val ev = Tables.events(s, d)
      val seen = ev.filter(col("event_type") === "purchase" &&
          col("user_id") % 7 === 0)
        .select("user_id").distinct()
      val bf = BF.merge(
        BF.build(seen.filter(col("user_id") % 2 === 0), "user_id", m),
        BF.build(seen.filter(col("user_id") % 2 =!= 0), "user_id", m))
      val probes = ev.select("user_id").distinct()
      BF.contains(bf, probes, "user_id", m)
        .join(seen.withColumn("is_member", lit(1L)),
          Seq("user_id"), "left")
        .select(col("user_id"), col("in_bloom"),
          coalesce(col("is_member"), lit(0L)).as("is_member"))
        .orderBy("user_id")
    },

    // B66 (round 13): ClickHouse IPv4 functions — IPv4NumToString /
    // IPv4StringToNum / IPv4CIDRToRange. Addresses synthesized
    // derivably from user ids (the dedup_url planting pattern); the
    // gate proves BOTH directions (ip_rt = parse(format(ip)) must
    // equal ip on every row) and the /24 CIDR bounds. All integer +
    // string ops — exact on any engine.
    "q_ipv4_funcs" -> Q { (s, d) =>
      import graft.functions.IpFuncs
      val u = Tables.events(s, d).select("user_id").distinct()
        .withColumn("ip",
          pmod(col("user_id") * 2654435761L, lit(4294967296L)))
      val (lo, hi) = IpFuncs.ipv4CidrRange(col("ip"), 24)
      u.select(col("user_id"), col("ip"),
          IpFuncs.ipv4NumToString(col("ip")).as("ip_str"),
          lo.as("net24_lo"), hi.as("net24_hi"))
        .withColumn("ip_rt", IpFuncs.ipv4StringToNum(col("ip_str")))
        .orderBy("user_id")
    },

    // B67 (round 13): bucketized interval join — `t BETWEEN lo AND hi`
    // as a co-partitioned EQUI-join (grid bucketing; Spark's native
    // plan for range predicates is BroadcastNestedLoop). Per user: how
    // much total traffic fell inside their first-2h window. Each pair
    // meets in exactly the point's bucket — no dedup pass.
    "q_interval_join" -> Q { (s, d) =>
      // spread (round 18): the join probes with the POINTS side (the
      // operator broadcasts its dimension-sized intervals), so probe
      // parallelism is this scan's partition count — an under-split
      // events file serialized the ~42M-pair sweep at 10× data
      // (JobProfile: 4 tasks, Σtask 96 s). Identity at scale.
      val ev = Tables.spread(Tables.events(s, d)
        .select(col("user_id"), col("ts_us")))
      val win = ev.groupBy(col("user_id").as("w_user"))
        .agg(min(col("ts_us")).as("w_lo"))
        .withColumn("w_hi", col("w_lo") + 7200000000L)
      graft.operators.IntervalJoin.join(
          ev.select(col("ts_us"), col("user_id").as("p_user")),
          col("ts_us"),
          win, col("w_lo"), col("w_hi"), bucketWidth = 900000000L)
        .groupBy(col("w_user").as("user_id"))
        .agg(count(lit(1)).as("n_events_in_window"),
          countDistinct(col("p_user")).as("n_users_in_window"))
        .orderBy("user_id")
    },

    // B68 (round 13): ClickHouse analysisOfVariance — per day, does
    // mean spend differ across the event types? Exact long moments
    // per (day, type); the fractional sum(s²/n) runs as the ordered
    // fold over the <=5 type cells; F is one fixed tree.
    "q_anova" -> Q { (s, d) =>
      val ev = Tables.events(s, d).select(
        expr(s"ts_us div $dayUs").as("day"), col("event_type"),
        (col("value").cast(d2) * 100).cast(LongType).as("cents"))
      StatTests.anova(ev, col("day"), col("event_type"), col("cents"))
        .select(col("grp").as("day"), col("f_stat"), col("df_between"),
          col("df_within"), col("k"), col("n"))
        .orderBy("day")
    },

    // B63 (round 13): ClickHouse contingency — Pearson's contingency
    // coefficient C = sqrt(chi2/(chi2+n)) on the SAME zero-densified
    // ordered-fold chi2 kernel as q_cramers_v (shared chi2Agg).
    "q_contingency" -> Q { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("(ts_us div 3600000000) % 24").as("hr"))
      StatTests.contingency(ev, col("event_type"), col("hr"))
    },

    // B70 (round 14): ClickHouse histogram(N) — the ADAPTIVE-bin
    // aggregate (Ben-Haim/Tom-Tov streaming histogram: insert each
    // point as a bin, merge the closest adjacent pair while over N).
    // CH's version is explicitly order-dependent ("the results are
    // non-deterministic... depend on the order"); the gate pins the
    // DETERMINISTIC ordered-fold discipline the repo's other
    // order-sensitive kernels use (chi2, entropy, topK): pre-aggregate
    // to exact (value, count) pairs — ONE bounded partial-agg shuffle,
    // ≤ #distinct-values rows per group at any scale — then fold in
    // ascending value order with ties-leftmost min-gap merges, as one
    // Catalyst HOF tree (aggregate/transform/slice) whose IEEE ops the
    // oracle replays lambda for lambda (list_reduce/list_transform).
    // Output = (center, weight) bin state; CH's lower/upper are
    // interpolation cosmetics over the same state (documented
    // deviation).
    "q_histogram_adaptive" -> Q { (s, d) =>
      val vals = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"),
          expr("cast(cast(l_quantity as decimal(18,0)) as bigint)")
            .as("v"))
        .agg(count(lit(1)).as("n"))
      val arr = vals.groupBy("l_returnflag")
        .agg(expr("array_sort(collect_list(struct(v, n)))").as("arr"))
      // the fold: size < 8 -> append (ascending order keeps centers
      // sorted); else append + merge the min-gap adjacent pair. The
      // single-element-array transform(...)[0] idiom is SQL's let.
      val fold =
        """aggregate(
          |  arr,
          |  cast(array() as array<struct<c: double, w: bigint>>),
          |  (acc, x) -> CASE WHEN size(acc) < 8
          |   THEN concat(acc,
          |     array(named_struct('c', cast(x.v as double), 'w', x.n)))
          |   ELSE transform(
          |    array(concat(acc,
          |      array(named_struct('c', cast(x.v as double), 'w', x.n)))),
          |    b -> transform(
          |     array(transform(sequence(1, size(b) - 1),
          |       j -> element_at(b, cast(j + 1 as int)).c
          |            - element_at(b, cast(j as int)).c)),
          |     g -> transform(
          |      array(cast(array_position(g, array_min(g)) as int)),
          |      jm -> concat(
          |       slice(b, 1, jm - 1),
          |       array(named_struct(
          |        'c', (element_at(b, jm).c * element_at(b, jm).w
          |              + element_at(b, jm + 1).c * element_at(b, jm + 1).w)
          |             / (element_at(b, jm).w + element_at(b, jm + 1).w),
          |        'w', element_at(b, jm).w + element_at(b, jm + 1).w)),
          |       slice(b, jm + 2, size(b) - jm - 1)))[0])[0])[0]
          |  END)""".stripMargin
      arr.select(col("l_returnflag"), expr(fold).as("bins"))
        .select(col("l_returnflag"),
          expr("explode(sequence(1, size(bins)))").as("bin_idx"),
          col("bins"))
        .select(col("l_returnflag"), col("bin_idx"),
          expr("element_at(bins, cast(bin_idx as int)).c").as("center"),
          expr("element_at(bins, cast(bin_idx as int)).w").as("cnt"))
        .orderBy("l_returnflag", "bin_idx")
    },

    // B69 (round 14): ClickHouse groupArrayMovingSum/MovingAvg — the
    // frame-bounded moving window over each series, CH semantics: the
    // moving AVG divides by the FIXED window size N even on the
    // partial head (CH's documented contract, not a running count
    // like q_moving_avg's ma7). Per-day exact cents pre-agg bounds
    // each window partition to #days rows; per-row transport instead
    // of CH's array (the q_sum_map precedent — arrays don't survive
    // the gate canonicalizer; the frame math is what's under test).
    "q_moving_sum" -> Q { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType))
          .as("cents"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-2, 0)
      daily.select(col("event_type"), col("day"),
          sum(col("cents")).over(w).as("ms3_cents"))
        .withColumn("mavg3",
          col("ms3_cents").cast(DoubleType) / 100.0 / 3.0)
        .orderBy("event_type", "day")
    },

    // B76 (round 14): classical additive seasonal decomposition — the
    // ClickHouse seriesDecomposeSTL niche done DETERMINISTICALLY (STL
    // runs loess fits that no second engine replays bit-for-bit; the
    // classical form's arithmetic is exact — the q_multi_linreg
    // precedent of swapping an iterative method for its closed
    // classical twin, deviation documented). Trend = centered 7-day
    // MA kept as an exact ×7-scaled long (RANGE frame: calendar gaps
    // leave the window incomplete and the trend NULL instead of
    // sliding over them); seasonal = per-(type, weekday-phase) mean
    // of the exact detrended values — ONE IEEE divide; resid = the
    // fixed double tree value − trend − seasonal. Raw rows collapse
    // to the per-(type, day) cents relation in one map-side-combined
    // shuffle; everything after is calendar-bounded.
    "q_stl_decompose" -> Q { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType)).as("cents"))
      graft.operators.Series.decompose(daily, "event_type", "day", "cents", 7)
        .orderBy("event_type", "day")
    },

    // B77 (round 14): autocorrelation period detection — the CH
    // seriesPeriodDetectFFT niche without the libm FFT: integer ACF
    // over the FLOOR-mean-centered daily series (non-negative sums,
    // so Spark div and DuckDB // agree), every product and sum an
    // exact BIGINT, ONE IEEE divide per lag for the normalized
    // score, peak = row_number over (score DESC, lag ASC) — a total
    // order. The lag self-join runs on the calendar-bounded daily
    // relation, never raw rows.
    "q_period_detect" -> Q { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
        .agg(sum((col("value").cast(d2) * 100).cast(LongType)).as("cents"))
      graft.operators.Series.periodDetect(
          daily, "event_type", "day", "cents", 2, 10)
        .orderBy("event_type", "lag")
    },

    // B78 (round 14): WoE / Information Value — ClickHouse
    // `categoricalInformationValue`, the feature-selection aggregate.
    // Real-valued WoE = ln((g_c/G)/(b_c/B)) rides libm, so the gate
    // pins three deterministic forms per category: the exact odds-
    // ratio integers num = g_c·B, den = b_c·G (cross-multiplied — no
    // division), their IEEE ratio (ONE divide, the score-tree rule),
    // and the DYADIC log form floor(log2 num) − floor(log2 den) with
    // the ×(num − den) IV numerator kept integer (the §11 discipline:
    // the log2-floor ranking a 100 TB feature scan can compute with
    // zero libm). Zero cells → NULL woe, the CH contract. One
    // partial-agg shuffle + a broadcast 1-row totals frame.
    "q_info_value" -> Q { (s, d) =>
      val o = Tables.orders(s, d)
      val isBad = col("o_orderstatus") === "F"
      val tot = o.agg(
        sum(when(isBad, 0L).otherwise(1L)).as("g_tot"),
        sum(when(isBad, 1L).otherwise(0L)).as("b_tot"))
      val per = o.groupBy("o_orderpriority")
        .agg(sum(when(isBad, 0L).otherwise(1L)).as("n_good"),
          sum(when(isBad, 1L).otherwise(0L)).as("n_bad"))
      def flog2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        length(bin(c)).cast(LongType) - 1L
      per.crossJoin(broadcast(tot)) // bounded: 1 row
        .withColumn("odds_num", col("n_good") * col("b_tot"))
        .withColumn("odds_den", col("n_bad") * col("g_tot"))
        .withColumn("odds_ratio",
          when(col("odds_den") > 0,
            col("odds_num").cast(DoubleType) / col("odds_den").cast(DoubleType)))
        .withColumn("woe2",
          when(col("n_good") > 0 && col("n_bad") > 0,
            flog2(col("odds_num")) - flog2(col("odds_den"))))
        .withColumn("iv2_scaled",
          (col("odds_num") - col("odds_den")) * col("woe2"))
        .select(col("o_orderpriority"), col("n_good"), col("n_bad"),
          col("odds_num"), col("odds_den"), col("odds_ratio"),
          col("woe2"), col("iv2_scaled"))
        .orderBy("o_orderpriority")
    }
  )

  /** q_bloom_filter oracle: purchaser hashes through the long-kernel
    * CTEs, the proven 32-bit fold, the operator's inlined affine
    * coefficients → the distinct set-bit relation; probes re-derive
    * their k bits the same way and membership = all k present.
    */
  private def bloomSql: String = {
    val BF = graft.operators.BloomFilter
    val rows = BF.rowCoeffs.zipWithIndex
      .map { case ((a, b), j) => s"($j, ${a}::HUGEINT, ${b}::HUGEINT)" }
      .mkString(", ")
    val p = graft.operators.Dedup.MinhashPrime
    s"""WITH uu AS (
       | SELECT DISTINCT user_id, user_id AS v FROM events
       |), ${graft.DedupOracles.xxh64LongCtes("uu", "user_id", "v")},
       |x3 AS (
       | SELECT user_id,
       |  CAST(xor(hu // 4294967296, hu % 4294967296) AS HUGEINT) AS x32
       | FROM xh
       |), bits AS (
       | SELECT user_id, j,
       |  CAST(((aj * x32 + bj) % $p) % 1024 AS BIGINT) AS bit
       | FROM x3 CROSS JOIN (VALUES $rows) t(j, aj, bj)
       |), seen AS (
       | SELECT DISTINCT user_id FROM events
       | WHERE event_type = 'purchase' AND user_id % 7 = 0
       |), bf AS (
       | SELECT DISTINCT bit FROM bits JOIN seen USING (user_id)
       |), hits AS (
       | SELECT b.user_id, count(s.bit) AS nhit
       | FROM bits b LEFT JOIN bf s ON s.bit = b.bit
       | GROUP BY 1)
       |SELECT h.user_id,
       | CAST(CASE WHEN h.nhit = ${BF.NumHashes} THEN 1 ELSE 0 END
       |      AS BIGINT) AS in_bloom,
       | CAST(CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |  AS is_member
       |FROM hits h LEFT JOIN seen p ON p.user_id = h.user_id
       |ORDER BY h.user_id""".stripMargin
  }

  /** q_cms_counts oracle: distinct user hashes through the long-kernel
    * CTEs, the proven 32-bit fold, the operator's inlined affine row
    * coefficients, then the same build/merge/estimate relations.
    */
  private def cmsSql: String = {
    val CS = graft.operators.CmSketch
    val rows = CS.rowCoeffs.zipWithIndex
      .map { case ((a, b), j) => s"($j, ${a}::HUGEINT, ${b}::HUGEINT)" }
      .mkString(", ")
    val p = graft.operators.Dedup.MinhashPrime
    s"""WITH uu AS (
       | SELECT DISTINCT user_id, user_id AS v FROM events
       |), ${graft.DedupOracles.xxh64LongCtes("uu", "user_id", "v")},
       |x3 AS (
       | SELECT user_id,
       |  CAST(xor(hu // 4294967296, hu % 4294967296) AS HUGEINT) AS x32
       | FROM xh
       |), bk AS (
       | SELECT user_id, j,
       |  CAST(((aj * x32 + bj) % $p) % ${CS.Width} AS BIGINT) AS bucket
       | FROM x3 CROSS JOIN (VALUES $rows) t(j, aj, bj)
       |), cnts AS (
       | SELECT user_id, count(*) AS c FROM events GROUP BY 1
       |), sk AS (
       | SELECT j, bucket, sum(c) AS cnt
       | FROM bk JOIN cnts USING (user_id) GROUP BY 1, 2
       |), est AS (
       | SELECT b.user_id, min(coalesce(s.cnt, 0)) AS est_cnt
       | FROM bk b LEFT JOIN sk s USING (j, bucket)
       | WHERE b.user_id % 7 = 0 GROUP BY 1)
       |SELECT e.user_id, CAST(e.est_cnt AS BIGINT) AS est_cnt,
       | CAST(c.c AS BIGINT) AS true_cnt
       |FROM est e JOIN cnts c USING (user_id)
       |ORDER BY user_id""".stripMargin
  }

  /** cms_stream_relation oracle: the sketch relation itself — distinct
    * user hashes through the long-kernel CTEs and the operator's
    * inlined affine rows (as [[cmsSql]]), then per-(j, bucket) count
    * totals instead of the estimate join.
    */
  private def cmsStreamSql: String = {
    val CS = graft.operators.CmSketch
    val rows = CS.rowCoeffs.zipWithIndex
      .map { case ((a, b), j) => s"($j, ${a}::HUGEINT, ${b}::HUGEINT)" }
      .mkString(", ")
    val p = graft.operators.Dedup.MinhashPrime
    s"""WITH uu AS (
       | SELECT DISTINCT user_id, user_id AS v FROM events
       |), ${graft.DedupOracles.xxh64LongCtes("uu", "user_id", "v")},
       |x3 AS (
       | SELECT user_id,
       |  CAST(xor(hu // 4294967296, hu % 4294967296) AS HUGEINT) AS x32
       | FROM xh
       |), bk AS (
       | SELECT user_id, j,
       |  CAST(((aj * x32 + bj) % $p) % ${CS.Width} AS BIGINT) AS bucket
       | FROM x3 CROSS JOIN (VALUES $rows) t(j, aj, bj)
       |), cnts AS (
       | SELECT user_id, count(*) AS c FROM events GROUP BY 1
       |)
       |SELECT j, bucket, CAST(sum(c) AS BIGINT) AS cnt
       |FROM bk JOIN cnts USING (user_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_cms_counts" -> cmsSql,
    "q_bloom_filter" -> bloomSql,
    "cms_stream_relation" -> cmsStreamSql,

    // sumMap replay: the same per-row (type, 'all') expansion, the
    // same decimal-exact per-(grp, key) sums
    "q_sum_map" ->
      """WITH pairs AS (
        | SELECT user_id AS grp,
        |  unnest([event_type, 'all']) AS k,
        |  CAST(value AS DECIMAL(18,2)) AS v
        | FROM events)
        |SELECT grp, k, CAST(sum(v) AS DOUBLE) AS v
        |FROM pairs GROUP BY grp, k ORDER BY grp, k""".stripMargin,

    // maxIntersections replay: identical intervals, identical delta
    // sort, DuckDB's own default RANGE frame (peer-inclusive too)
    "q_max_intersections" ->
      s"""WITH iv AS (
         | SELECT user_id, epoch_us(ts) // $dayUs AS day,
         |  min(epoch_us(ts)) AS s, max(epoch_us(ts)) + 1 AS e
         | FROM events GROUP BY 1, 2
         |), pts AS (
         | SELECT day, s AS t, 1 AS d FROM iv
         | UNION ALL
         | SELECT day, e AS t, -1 AS d FROM iv
         |), run AS (
         | SELECT day,
         |  sum(d) OVER (PARTITION BY day ORDER BY t, d) AS r
         | FROM pts)
         |SELECT day, CAST(max(r) AS BIGINT) AS max_intersections
         |FROM run GROUP BY day ORDER BY day""".stripMargin,

    // intervalLengthSum replay: same sweep; covered iff run>0; among
    // equal-(t,d) peers only the engine-chosen last row gets a
    // nonzero lead(t)−t, and all peers share one run — tie-order-free
    "q_interval_union" ->
      s"""WITH iv AS (
         | SELECT user_id, epoch_us(ts) // $dayUs AS day,
         |  min(epoch_us(ts)) AS s, max(epoch_us(ts)) + 1 AS e
         | FROM events GROUP BY 1, 2
         |), pts AS (
         | SELECT day, s AS t, 1 AS d FROM iv
         | UNION ALL
         | SELECT day, e AS t, -1 AS d FROM iv
         |), run AS (
         | SELECT day, t,
         |  sum(d) OVER (PARTITION BY day ORDER BY t, d) AS r,
         |  lead(t) OVER (PARTITION BY day ORDER BY t, d) AS nt
         | FROM pts)
         |SELECT day, CAST(sum(nt - t) AS BIGINT) AS covered_us
         |FROM run WHERE r > 0 AND nt IS NOT NULL
         |GROUP BY day ORDER BY day""".stripMargin,

    // minMap/maxMap replay: same per-row (type, 'all') expansion,
    // plain min/max per (grp, key) — ordering-only, no decimal needed
    "q_minmax_map" ->
      """WITH pairs AS (
        | SELECT user_id AS grp,
        |  unnest([event_type, 'all']) AS k, value AS v
        | FROM events)
        |SELECT grp, k, min(v) AS vmin, max(v) AS vmax
        |FROM pairs GROUP BY grp, k ORDER BY grp, k""".stripMargin,

    // argMin/argMax replay: the struct rule (v, event_id, user_id)
    // becomes two ranked windows — event_id is unique, so the third
    // key never decides, but both sides carry it for bit-safety
    "q_arg_minmax" ->
      """WITH r AS (
        | SELECT event_type, value AS v, user_id AS a,
        |  row_number() OVER (PARTITION BY event_type
        |   ORDER BY value, event_id, user_id) AS rn,
        |  row_number() OVER (PARTITION BY event_type
        |   ORDER BY value DESC, event_id DESC, user_id DESC) AS rx
        | FROM events)
        |SELECT event_type,
        | min(CASE WHEN rn = 1 THEN v END) AS min_val,
        | min(CASE WHEN rn = 1 THEN a END) AS arg_min,
        | min(CASE WHEN rx = 1 THEN v END) AS max_val,
        | min(CASE WHEN rx = 1 THEN a END) AS arg_max
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // deltaSum replay: identical decimal deltas along the identical
    // (ts, event_id) total order; negative and first-row deltas → 0
    "q_delta_sum" ->
      """WITH s AS (
        | SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
        |  lag(CAST(value AS DECIMAL(18,2))) OVER (
        |   PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pv
        | FROM events)
        |SELECT user_id,
        | CAST(sum(CASE WHEN v > pv THEN v - pv ELSE 0 END) AS DOUBLE)
        |  AS delta_sum
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // boundingRatio replay: endpoint rows via the same (x, event_id,
    // y) total order, then the identical (Δy)/CAST(Δx AS DOUBLE)
    // expression tree — one IEEE subtract + divide on each engine
    "q_bounding_ratio" ->
      """WITH r AS (
        | SELECT user_id, epoch_us(ts) AS x, value AS y,
        |  row_number() OVER (PARTITION BY user_id
        |   ORDER BY epoch_us(ts), event_id, value) AS rn,
        |  row_number() OVER (PARTITION BY user_id
        |   ORDER BY epoch_us(ts) DESC, event_id DESC, value DESC) AS rx
        | FROM events), e AS (
        | SELECT user_id,
        |  min(CASE WHEN rn = 1 THEN x END) AS x0,
        |  min(CASE WHEN rn = 1 THEN y END) AS y0,
        |  min(CASE WHEN rx = 1 THEN x END) AS x1,
        |  min(CASE WHEN rx = 1 THEN y END) AS y1
        | FROM r GROUP BY 1)
        |SELECT user_id,
        | CASE WHEN x1 = x0 THEN NULL
        |  ELSE (y1 - y0) / CAST(x1 - x0 AS DOUBLE) END AS bounding_ratio
        |FROM e ORDER BY user_id""".stripMargin,

    // simpleLinearRegression replay: identical long moments, the
    // identical (n·Σxy−Σx·Σy)/(n·Σx²−Σx²) double tree — every cast is
    // long→double (single correctly-rounded conversion on both engines)
    "q_linreg" ->
      """WITH src AS (
        | SELECT l_returnflag AS grp,
        |  CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS x,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   // 100 AS y
        | FROM lineitem),
        |m AS (
        | SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy,
        |  CAST(sum(x*x) AS BIGINT) AS sxx
        | FROM src GROUP BY 1),
        |k AS (
        | SELECT grp, n, sx, sy,
        |  CASE WHEN n*sxx - sx*sx = 0 THEN NULL
        |   ELSE CAST(n*sxy - sx*sy AS DOUBLE) /
        |        CAST(n*sxx - sx*sx AS DOUBLE) END AS slope
        | FROM m)
        |SELECT grp AS l_returnflag, slope,
        | CASE WHEN slope IS NULL THEN NULL
        |  ELSE (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) /
        |       CAST(n AS DOUBLE) END AS intercept, n
        |FROM k ORDER BY 1""".stripMargin,

    // B73 replay: identical integer moments, identical first-row
    // cofactor expansion (left-assoc a*(ei−fh) − b*(di−fg) + c*(dh−eg))
    // on double-cast moments — term-for-term the operator's tree
    "q_multi_linreg" -> {
      def det3(a: String, b: String, c: String, d: String, e: String,
               f: String, g: String, h: String, i: String) =
        s"$a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g)"
      val det = det3("nn", "f1", "f2", "f1", "f11", "f12", "f2", "f12", "f22")
      val det0 = det3("fy", "f1", "f2", "f1y", "f11", "f12", "f2y", "f12", "f22")
      val det1 = det3("nn", "fy", "f2", "f1", "f1y", "f12", "f2", "f2y", "f22")
      val det2 = det3("nn", "f1", "fy", "f1", "f11", "f1y", "f2", "f12", "f2y")
      s"""WITH src AS (
         | SELECT l_returnflag AS grp,
         |  CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS x1,
         |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
         |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |   // 100 AS y
         | FROM lineitem),
         |m AS (
         | SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |  CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x1*x1) AS BIGINT) AS s11,
         |  CAST(sum(x2*x2) AS BIGINT) AS s22,
         |  CAST(sum(x1*x2) AS BIGINT) AS s12,
         |  CAST(sum(x1*y) AS BIGINT) AS s1y,
         |  CAST(sum(x2*y) AS BIGINT) AS s2y
         | FROM src GROUP BY 1),
         |f AS (
         | SELECT grp, n, CAST(n AS DOUBLE) AS nn,
         |  CAST(s1 AS DOUBLE) AS f1, CAST(s2 AS DOUBLE) AS f2,
         |  CAST(sy AS DOUBLE) AS fy, CAST(s11 AS DOUBLE) AS f11,
         |  CAST(s22 AS DOUBLE) AS f22, CAST(s12 AS DOUBLE) AS f12,
         |  CAST(s1y AS DOUBLE) AS f1y, CAST(s2y AS DOUBLE) AS f2y
         | FROM m),
         |k AS (
         | SELECT grp, n, $det AS det, $det0 AS det0, $det1 AS det1,
         |  $det2 AS det2
         | FROM f)
         |SELECT grp AS l_returnflag, n,
         | CASE WHEN det = 0 THEN NULL ELSE det0/det END AS intercept,
         | CASE WHEN det = 0 THEN NULL ELSE det1/det END AS beta_qty,
         | CASE WHEN det = 0 THEN NULL ELSE det2/det END AS beta_disc
         |FROM k ORDER BY 1""".stripMargin
    },

    // B75 replay: same integer moments, same per-pair tree
    // (n·Σxy−ΣxΣy)/(√(n·Σxx−Σx²)·√(n·Σyy−Σy²)) on double casts
    "q_corr_matrix" -> {
      def corr(si: String, sj: String, sij: String, sii: String,
               sjj: String) =
        s"CASE WHEN sqrt(nn*$sii - $si*$si) * sqrt(nn*$sjj - $sj*$sj) = 0" +
          s" THEN NULL ELSE (nn*$sij - $si*$sj) /" +
          s" (sqrt(nn*$sii - $si*$si) * sqrt(nn*$sjj - $sj*$sj)) END"
      s"""WITH src AS (
         | SELECT l_returnflag AS grp,
         |  CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS x1,
         |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |   // 100 AS x2,
         |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x3
         | FROM lineitem),
         |m AS (
         | SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |  CAST(sum(x3) AS BIGINT) AS s3,
         |  CAST(sum(x1*x1) AS BIGINT) AS s11,
         |  CAST(sum(x2*x2) AS BIGINT) AS s22,
         |  CAST(sum(x3*x3) AS BIGINT) AS s33,
         |  CAST(sum(x1*x2) AS BIGINT) AS s12,
         |  CAST(sum(x1*x3) AS BIGINT) AS s13,
         |  CAST(sum(x2*x3) AS BIGINT) AS s23
         | FROM src GROUP BY 1),
         |f AS (
         | SELECT grp, n, CAST(n AS DOUBLE) AS nn,
         |  CAST(s1 AS DOUBLE) AS f1, CAST(s2 AS DOUBLE) AS f2,
         |  CAST(s3 AS DOUBLE) AS f3, CAST(s11 AS DOUBLE) AS f11,
         |  CAST(s22 AS DOUBLE) AS f22, CAST(s33 AS DOUBLE) AS f33,
         |  CAST(s12 AS DOUBLE) AS f12, CAST(s13 AS DOUBLE) AS f13,
         |  CAST(s23 AS DOUBLE) AS f23
         | FROM m)
         |SELECT grp AS l_returnflag, n,
         | ${corr("f1", "f2", "f12", "f11", "f22")} AS corr_qty_price,
         | ${corr("f1", "f3", "f13", "f11", "f33")} AS corr_qty_disc,
         | ${corr("f2", "f3", "f23", "f22", "f33")} AS corr_price_disc
         |FROM f ORDER BY 1""".stripMargin
    },

    // welchTTest replay: same cents moments, same fixed IEEE tree —
    // m, v, e, se staged in CTEs exactly as the operator's withColumns
    "q_welch_ttest" ->
      """WITH src AS (
        | SELECT epoch_us(ts) // 86400000000 AS day,
        |  CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS i,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events WHERE event_type IN ('click', 'view')),
        |m AS (
        | SELECT day,
        |  CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN i = 0 THEN v ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(sum(CASE WHEN i = 0 THEN v*v ELSE 0 END) AS BIGINT) AS q1,
        |  CAST(sum(CASE WHEN i <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN i <> 0 THEN v ELSE 0 END) AS BIGINT) AS s2,
        |  CAST(sum(CASE WHEN i <> 0 THEN v*v ELSE 0 END) AS BIGINT) AS q2
        | FROM src GROUP BY 1),
        |f AS (
        | SELECT day, n1, n2,
        |  CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
        |  CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |  CAST(q1 AS DOUBLE) AS q1d, CAST(q2 AS DOUBLE) AS q2d
        | FROM m WHERE n1 > 1 AND n2 > 1),
        |g AS (
        | SELECT day, n1, n2, n1d, n2d,
        |  s1d/n1d AS m1, s2d/n2d AS m2,
        |  (q1d - s1d*s1d/n1d)/(n1d - 1) AS v1,
        |  (q2d - s2d*s2d/n2d)/(n2d - 1) AS v2
        | FROM f),
        |h AS (
        | SELECT day, n1, n2, n1d, n2d, m1, m2,
        |  v1/n1d AS e1, v2/n2d AS e2 FROM g),
        |k AS (
        | SELECT day, n1, n2, n1d, n2d, m1, m2, e1, e2,
        |  e1 + e2 AS se FROM h)
        |SELECT day, (m1 - m2)/sqrt(se) AS t_stat,
        | se*se/(e1*e1/(n1d - 1) + e2*e2/(n2d - 1)) AS df_ws, n1, n2
        |FROM k ORDER BY day""".stripMargin,

    // KS replay: same (day, v) collapse, same integer ECDF
    // cross-products, one final divide
    "q_ks_test" ->
      """WITH src AS (
        | SELECT epoch_us(ts) // 86400000000 AS day,
        |  CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS i,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events WHERE event_type IN ('click', 'view')),
        |c AS (
        | SELECT day, v,
        |  CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |  CAST(sum(CASE WHEN i <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        | FROM src GROUP BY 1, 2),
        |r AS (
        | SELECT day,
        |  sum(c1) OVER (PARTITION BY day ORDER BY v) AS f1,
        |  sum(c2) OVER (PARTITION BY day ORDER BY v) AS f2,
        |  sum(c1) OVER (PARTITION BY day) AS n1,
        |  sum(c2) OVER (PARTITION BY day) AS n2
        | FROM c),
        |a AS (
        | SELECT day, CAST(max(abs(f1*n2 - f2*n1)) AS BIGINT) AS dmax,
        |  CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2
        | FROM r GROUP BY 1)
        |SELECT day, CAST(dmax AS DOUBLE)/CAST(n1*n2 AS DOUBLE) AS d_stat,
        | n1, n2
        |FROM a WHERE n1 > 0 AND n2 > 0 ORDER BY day""".stripMargin,

    // Mann–Whitney replay: the integer 2·R₁ rank sum over the same
    // tie classes, same tie-corrected z tree
    "q_mann_whitney" ->
      """WITH src AS (
        | SELECT epoch_us(ts) // 86400000000 AS day,
        |  CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS i,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events WHERE event_type IN ('click', 'view')),
        |c AS (
        | SELECT day, v,
        |  CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |  CAST(sum(CASE WHEN i <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        | FROM src GROUP BY 1, 2),
        |r AS (
        | SELECT day, c1, c2, c1 + c2 AS c,
        |  sum(c1 + c2) OVER (PARTITION BY day ORDER BY v) AS cum
        | FROM c),
        |a AS (
        | SELECT day,
        |  CAST(sum(c1*(2*cum - c + 1)) AS BIGINT) AS tr1,
        |  CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |  CAST(sum(c*c*c - c) AS BIGINT) AS ties
        | FROM r GROUP BY 1),
        |b AS (
        | SELECT day, n1, n2, tr1 - n1*(n1 + 1) AS tu1, ties
        | FROM a WHERE n1 > 0 AND n2 > 0),
        |f AS (
        | SELECT day, n1, n2, CAST(tu1 AS DOUBLE)/2.0 AS u1,
        |  CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
        |  CAST(n1 + n2 AS DOUBLE) AS nd, CAST(ties AS DOUBLE) AS tiesd
        | FROM b),
        |g AS (
        | SELECT day, n1, n2, u1, n1d, n2d,
        |  n1d*n2d/12.0*((nd + 1) - tiesd/(nd*(nd - 1))) AS var
        | FROM f)
        |SELECT day, u1,
        | CASE WHEN var = 0 THEN NULL
        |  ELSE (u1 - n1d*n2d/2.0)/sqrt(var) END AS z, n1, n2
        |FROM g ORDER BY day""".stripMargin,

    // quantileExactWeighted replay: same (grp, v) weight collapse,
    // same integer cum·2 ≥ total·1 pick
    "q_quantile_weighted" ->
      """WITH src AS (
        | SELECT l_returnflag AS grp,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |  CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS w
        | FROM lineitem),
        |g AS (SELECT grp, v, CAST(sum(w) AS BIGINT) AS w
        |      FROM src GROUP BY 1, 2),
        |r AS (SELECT grp, v,
        |  sum(w) OVER (PARTITION BY grp ORDER BY v) AS cum,
        |  sum(w) OVER (PARTITION BY grp) AS total FROM g)
        |SELECT grp AS l_returnflag, CAST(min(v) AS DOUBLE) AS wmedian_cents
        |FROM r WHERE cum * 2 >= total * 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // sparkbar replay: same dense 24-bucket grid, same integer
    // ceil(8n/max) levels, same glyph string (substring is
    // character-based in DuckDB, element_at over a char array in Spark)
    "q_sparkbar" ->
      """WITH c AS (
        | SELECT event_type AS grp, (epoch_us(ts) // 3600000000) % 24 AS b,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2),
        |g AS (
        | SELECT grp, gs.b FROM (SELECT DISTINCT grp FROM c) t
        | CROSS JOIN (SELECT unnest(range(0, 24)) AS b) gs),
        |d AS (
        | SELECT g.grp, g.b, coalesce(c.n, 0) AS n
        | FROM g LEFT JOIN c ON g.grp = c.grp AND g.b = c.b),
        |m AS (SELECT grp, b, n, max(n) OVER (PARTITION BY grp) AS mx
        |      FROM d),
        |l AS (SELECT grp, b,
        |  CASE WHEN n = 0 THEN 0 ELSE (n * 8 + mx - 1) // mx END AS lvl
        | FROM m)
        |SELECT grp AS event_type,
        | string_agg(substring(' ▁▂▃▄▅▆▇█', CAST(lvl AS INTEGER) + 1, 1),
        |            '' ORDER BY b) AS bar
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,

    // exponentialTimeDecayedAvg replay: identical 2^(t−tmin) integer
    // weights, one BIGINT→DOUBLE cast per sum, one divide
    "q_exp_decay_avg" ->
      """WITH src AS (
        | SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS t,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events),
        |m AS (SELECT grp, t, v, min(t) OVER (PARTITION BY grp) AS tmin
        |      FROM src),
        |w AS (SELECT grp, v,
        |  (CAST(1 AS BIGINT) << CAST(t - tmin AS INTEGER)) AS wt FROM m)
        |SELECT grp AS event_type,
        | CAST(CAST(sum(v * wt) AS BIGINT) AS DOUBLE) /
        | CAST(CAST(sum(wt) AS BIGINT) AS DOUBLE) AS decayed_avg
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // Holt replay: row-numbered daily series, the same integer floor
    // divisions ((a − pmod(a,n)) // n with pmod spelled as the
    // nonneg ((a%n)+n)%n), recursion t = 1..n
    "q_holt_linear" -> {
      def fd(a: String, n: Int) =
        s"((($a) - ((($a) % $n + $n) % $n)) // $n)"
      val lp = fd("i.cents + 3 * h.l + 3 * h.b", 4)
      val bp = fd(s"$lp - h.l + 7 * h.b", 8)
      s"""WITH RECURSIVE daily AS (
         | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |    AS BIGINT) AS cents
         | FROM events GROUP BY 1, 2
         |), idx AS (
         | SELECT event_type, cents,
         |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS n
         | FROM daily
         |), h AS (
         | SELECT a.event_type, 1 AS t, a.n,
         |  a.cents AS l, b.cents - a.cents AS b
         | FROM (SELECT * FROM idx WHERE rn = 1 AND n >= 2) a
         | JOIN (SELECT * FROM idx WHERE rn = 2) b USING (event_type)
         | UNION ALL
         | SELECT h.event_type, h.t + 1, h.n, $lp AS l, $bp AS b
         | FROM h JOIN idx i
         |  ON i.event_type = h.event_type AND i.rn = h.t + 1
         | WHERE h.t < h.n
         |)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         | CAST(l AS BIGINT) AS level_c, CAST(b AS BIGINT) AS trend_c,
         | CAST(l + 7 * b AS BIGINT) AS forecast7_c
         |FROM h WHERE t = n ORDER BY event_type""".stripMargin
    },

    // Holt-Winters replay: same init sums, same queue-in-a-LIST
    // recursion, same floor divisions
    "q_holt_winters" -> {
      def fd(a: String, n: Int) =
        s"((($a) - ((($a) % $n + $n) % $n)) // $n)"
      val lp = fd("i.cents - h.s[1] + 3 * h.l + 3 * h.b", 4)
      val bp = fd(s"$lp - h.l + 7 * h.b", 8)
      val sp = fd(s"i.cents - $lp + 3 * h.s[1]", 4)
      val l0 = fd("sum1", 7)
      val b0 = fd("sum2 - sum1", 49)
      s"""WITH RECURSIVE daily AS (
         | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |    AS BIGINT) AS cents
         | FROM events GROUP BY 1, 2
         |), idx AS (
         | SELECT event_type, cents,
         |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS n
         | FROM daily
         |), sums AS (
         | SELECT event_type, max(n) AS n,
         |  CAST(sum(CASE WHEN rn <= 7 THEN cents ELSE 0 END) AS BIGINT)
         |   AS sum1,
         |  CAST(sum(CASE WHEN rn BETWEEN 8 AND 14 THEN cents ELSE 0 END)
         |   AS BIGINT) AS sum2
         | FROM idx WHERE n >= 14 GROUP BY event_type
         |), init AS (
         | SELECT event_type, n, $l0 AS l0, $b0 AS b0 FROM sums
         |), s0 AS (
         | SELECT i.event_type,
         |  list(i.cents - init.l0 ORDER BY i.rn) AS s
         | FROM idx i JOIN init USING (event_type)
         | WHERE i.rn <= 7 GROUP BY i.event_type
         |), h AS (
         | SELECT init.event_type, 7 AS t, init.n,
         |  init.l0 AS l, init.b0 AS b, s0.s AS s
         | FROM init JOIN s0 USING (event_type)
         | UNION ALL
         | SELECT h.event_type, h.t + 1, h.n,
         |  $lp AS l, $bp AS b, list_append(h.s[2:], $sp) AS s
         | FROM h JOIN idx i
         |  ON i.event_type = h.event_type AND i.rn = h.t + 1
         | WHERE h.t < h.n
         |)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         | CAST(l AS BIGINT) AS level_c, CAST(b AS BIGINT) AS trend_c,
         | CAST(l + b + s[1] AS BIGINT) AS forecast1_c,
         | CAST(l + 7 * b + s[7] AS BIGINT) AS forecast7_c
         |FROM h WHERE t = n ORDER BY event_type""".stripMargin
    },

    // pointInPolygon replay: same unrolled integer edge tests
    "q_point_in_polygon" -> {
      import graft.operators.GeoHash
      s"""WITH src AS (
         | SELECT s_suppkey, s_suppkey * 7919 % 36000 AS px,
         |  s_suppkey * 104729 % 18000 AS py
         | FROM supplier)
         |SELECT s_suppkey,
         | CAST(${GeoHash.pointInPolygonSql("px", "py", PipQuad)} AS BIGINT)
         |  AS inside
         |FROM src ORDER BY s_suppkey""".stripMargin
    },

    // nonNegativeDerivative replay: same lag pair, same clamp, one
    // cast + one divide
    "q_nn_derivative" ->
      """WITH src AS (
        | SELECT user_id, epoch_us(ts) AS t, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events),
        |l AS (
        | SELECT user_id, t, v,
        |  lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pv,
        |  lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
        | FROM src)
        |SELECT user_id, t AS ts_us,
        | CASE WHEN pv IS NULL OR t = pt THEN NULL
        |  ELSE CAST(greatest(v - pv, 0) AS DOUBLE) /
        |       CAST(t - pt AS DOUBLE) END AS rate
        |FROM l ORDER BY user_id, ts_us""".stripMargin,

    // skew/kurt replay: same long power sums, same central-moment
    // algebra tree (every subterm parenthesized identically)
    "q_skew_kurt" ->
      """WITH src AS (
        | SELECT event_type AS grp,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS x
        | FROM events),
        |m AS (
        | SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS s1, CAST(sum(x*x) AS BIGINT) AS s2,
        |  CAST(sum(x*x*x) AS BIGINT) AS s3,
        |  CAST(sum(x*x*x*x) AS BIGINT) AS s4
        | FROM src GROUP BY 1),
        |f AS (
        | SELECT grp, n, CAST(n AS DOUBLE) AS nd,
        |  CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |  CAST(s3 AS DOUBLE) AS s3d, CAST(s4 AS DOUBLE) AS s4d
        | FROM m),
        |g AS (SELECT grp, n, nd, s1d/nd AS mu, s2d, s3d, s4d FROM f),
        |h AS (
        | SELECT grp, n, mu,
        |  s2d/nd - mu*mu AS m2,
        |  s3d/nd - 3.0*mu*(s2d/nd) + 2.0*mu*mu*mu AS m3,
        |  s4d/nd - 4.0*mu*(s3d/nd) + 6.0*mu*mu*(s2d/nd)
        |   - 3.0*mu*mu*mu*mu AS m4
        | FROM g),
        |k AS (SELECT grp, n, m2, m3, m4, sqrt(m2) AS sig FROM h)
        |SELECT grp AS event_type,
        | CASE WHEN m2 <= 0.0 THEN NULL
        |  ELSE m3 / (sig*sig*sig) END AS skew_pop,
        | CASE WHEN m2 <= 0.0 THEN NULL
        |  ELSE m4 / m2 / m2 END AS kurt_pop, n
        |FROM k ORDER BY 1""".stripMargin,

    // AUC replay: the Mann–Whitney chain (positives = sample 0 =
    // click) normalized by n1·n2
    "q_auc" ->
      """WITH src AS (
        | SELECT epoch_us(ts) // 86400000000 AS day,
        |  CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS i,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events WHERE event_type IN ('click', 'view')),
        |c AS (
        | SELECT day, v,
        |  CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |  CAST(sum(CASE WHEN i <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        | FROM src GROUP BY 1, 2),
        |r AS (
        | SELECT day, c1, c2, c1 + c2 AS c,
        |  sum(c1 + c2) OVER (PARTITION BY day ORDER BY v) AS cum
        | FROM c),
        |a AS (
        | SELECT day,
        |  CAST(sum(c1*(2*cum - c + 1)) AS BIGINT) AS tr1,
        |  CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        | FROM r GROUP BY 1),
        |b AS (
        | SELECT day, n1, n2,
        |  CAST(tr1 - n1*(n1 + 1) AS DOUBLE)/2.0 AS u1
        | FROM a WHERE n1 > 0 AND n2 > 0)
        |SELECT day, u1 / CAST(n1 * n2 AS DOUBLE) AS auc,
        | n1 AS n_pos, n2 AS n_neg
        |FROM b ORDER BY day""".stripMargin,

    // rankCorr replay: same doubled-rank windows per dimension, same
    // integer moments, same num/(sqrt·sqrt) tree
    "q_rank_corr" ->
      """WITH src AS (
        | SELECT epoch_us(ts) // 86400000000 AS grp,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |  epoch_us(ts) AS y
        | FROM events),
        |cx AS (SELECT grp, x, CAST(count(*) AS BIGINT) AS c
        |       FROM src GROUP BY 1, 2),
        |rx AS (SELECT grp, x,
        |  2*(sum(c) OVER (PARTITION BY grp ORDER BY x)) - c + 1 AS rx
        | FROM cx),
        |cy AS (SELECT grp, y, CAST(count(*) AS BIGINT) AS c
        |       FROM src GROUP BY 1, 2),
        |ry AS (SELECT grp, y,
        |  2*(sum(c) OVER (PARTITION BY grp ORDER BY y)) - c + 1 AS ry
        | FROM cy),
        |j AS (SELECT s.grp, rx.rx, ry.ry FROM src s
        | JOIN rx ON s.grp = rx.grp AND s.x = rx.x
        | JOIN ry ON s.grp = ry.grp AND s.y = ry.y),
        |m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
        |  CAST(sum(rx*ry) AS BIGINT) AS sxy,
        |  CAST(sum(rx*rx) AS BIGINT) AS sxx,
        |  CAST(sum(ry*ry) AS BIGINT) AS syy
        | FROM j GROUP BY 1)
        |SELECT grp AS day,
        | CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN NULL
        |  ELSE CAST(n*sxy - sx*sy AS DOUBLE) /
        |   (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
        |    sqrt(CAST(n*syy - sy*sy AS DOUBLE))) END AS rank_corr, n
        |FROM m ORDER BY day""".stripMargin,

    "q_uniq_upto" ->
      """SELECT event_type,
        | least(CAST(count(DISTINCT user_id) AS BIGINT), 101)
        |  AS uniq_upto_100
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_group_bitmap" ->
      """WITH flags AS (
        | SELECT user_id,
        |  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f1,
        |  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS f2,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS f3
        | FROM events GROUP BY 1)
        |SELECT CAST(sum(f1 * f2 * f3) AS BIGINT) AS and_users,
        | CAST(sum(greatest(f1, f2, f3)) AS BIGINT) AS or_users,
        | CAST(sum((f1 + f2 + f3) % 2) AS BIGINT) AS xor_users
        |FROM flags""".stripMargin,

    // sequenceNextNode replay: same (ts, event_id) total order, same
    // adjacent-chain leads, same earliest anchor, same anchor+len pick
    "q_sequence_next_node" ->
      """WITH s AS (
        | SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |   ORDER BY epoch_us(ts), event_id) AS seq
        | FROM events),
        |m AS (
        | SELECT user_id, seq, event_type,
        |  (event_type = 'view') AND
        |   lead(event_type = 'click', 1) OVER (PARTITION BY user_id
        |    ORDER BY seq) AS mm
        | FROM s),
        |a AS (
        | SELECT user_id, seq, event_type,
        |  min(CASE WHEN mm THEN seq END) OVER (PARTITION BY user_id)
        |   AS anchor
        | FROM m)
        |SELECT user_id,
        | max(CASE WHEN seq = anchor + 2 THEN event_type END) AS next_node
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    // fill+interpolate replay: same grid (range is end-exclusive =
    // sequence inclusive), same IGNORE NULLS neighbor scan, same
    // pv + (nv−pv)(o−po)/(no−po) tree
    "q_fill_interp" ->
      """WITH src AS (
        | SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM events WHERE user_id % 100 = 0 GROUP BY 1, 2),
        |b AS (SELECT user_id, min(hour) AS lo, max(hour) AS hi
        |      FROM src GROUP BY 1),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hour FROM b),
        |j AS (SELECT g.user_id, g.hour, src.cents
        |      FROM g LEFT JOIN src
        |      ON g.user_id = src.user_id AND g.hour = src.hour),
        |w AS (SELECT user_id, hour, cents,
        |  last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS pv,
        |  last_value(CASE WHEN cents IS NOT NULL THEN hour END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS po,
        |  first_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |   AS nv,
        |  first_value(CASE WHEN cents IS NOT NULL THEN hour END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxo
        | FROM j)
        |SELECT user_id, hour,
        | CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
        |  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |   CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
        |    CAST(hour - po AS DOUBLE) / CAST(nxo - po AS DOUBLE)
        |  ELSE NULL END AS v_interp
        |FROM w ORDER BY user_id, hour""".stripMargin,

    // dictGet replay: the dictionary IS a left join semantically —
    // the oracle replays the semantic contract, not the literal-map
    // plan shape
    "q_dict_get" ->
      """SELECT coalesce(n.n_name, 'UNKNOWN') AS n_name,
        | CAST(count(*) AS BIGINT) AS n_suppliers
        |FROM supplier s LEFT JOIN nation n
        | ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // LOCF replay: same grid, one IGNORE NULLS carry window
    "q_fill_locf" ->
      """WITH src AS (
        | SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM events WHERE user_id % 100 = 0 GROUP BY 1, 2),
        |b AS (SELECT user_id, min(hour) AS lo, max(hour) AS hi
        |      FROM src GROUP BY 1),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hour FROM b),
        |j AS (SELECT g.user_id, g.hour, src.cents
        |      FROM g LEFT JOIN src
        |      ON g.user_id = src.user_id AND g.hour = src.hour)
        |SELECT user_id, hour,
        | last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
        |  ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS v_locf
        |FROM j ORDER BY user_id, hour""".stripMargin,

    // cramersV replay: same cell table and marginals, the χ² fold via
    // list_reduce over list(term ORDER BY a, b) — same order, same
    // IEEE adds as the Spark aggregate() HOF
    "q_cramers_v" ->
      """WITH seen AS (
        | SELECT event_type AS a, (epoch_us(ts) // 3600000000) % 24 AS b,
        |  CAST(count(*) AS BIGINT) AS o
        | FROM events GROUP BY 1, 2),
        |cells AS (
        | SELECT da.a, db.b, coalesce(seen.o, 0) AS o
        | FROM (SELECT DISTINCT a FROM seen) da
        | CROSS JOIN (SELECT DISTINCT b FROM seen) db
        | LEFT JOIN seen ON da.a = seen.a AND db.b = seen.b),
        |t AS (
        | SELECT a, b, o,
        |  CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS r,
        |  CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS c,
        |  CAST(sum(o) OVER () AS BIGINT) AS n
        | FROM cells),
        |tm AS (
        | SELECT a, b, n,
        |  CAST(o AS DOUBLE)*CAST(n AS DOUBLE) -
        |   CAST(r AS DOUBLE)*CAST(c AS DOUBLE) AS d,
        |  CAST(r AS DOUBLE)*CAST(c AS DOUBLE)*CAST(n AS DOUBLE) AS rcn
        | FROM t),
        |tt AS (SELECT a, b, n, d*d/rcn AS term FROM tm),
        |ag AS (
        | SELECT list_reduce(list(term ORDER BY a, b),
        |         (acc, x) -> acc + x) AS chi2,
        |  CAST(count(DISTINCT a) AS BIGINT) AS ra,
        |  CAST(count(DISTINCT b) AS BIGINT) AS cb,
        |  CAST(max(n) AS BIGINT) AS n
        | FROM tt)
        |SELECT chi2,
        | sqrt(chi2 / CAST(n AS DOUBLE) /
        |      CAST(least(ra - 1, cb - 1) AS DOUBLE)) AS cramers_v,
        | n, ra, cb
        |FROM ag""".stripMargin,

    // lttb replay: same integer buckets/moments, same fixed IEEE area
    // tree over exact-long-derived doubles, argmax via ranked windows
    // mirroring the (area, t, v) struct rule
    "q_lttb" ->
      """WITH src AS (
        | SELECT event_type AS grp, epoch_us(ts) AS t,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events),
        |b AS (
        | SELECT grp, t, v,
        |  min(t) OVER (PARTITION BY grp) AS tmin,
        |  max(t) OVER (PARTITION BY grp) AS tmax
        | FROM src),
        |kx AS (
        | SELECT grp, t, v, t - tmin AS x,
        |  ((t - tmin) * 30) // (tmax - tmin + 1) AS k
        | FROM b),
        |km AS (SELECT grp, t, v, x, k,
        |       max(k) OVER (PARTITION BY grp) AS kmx FROM kx),
        |bs AS (SELECT grp, k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(v) AS BIGINT) AS sy
        | FROM kx GROUP BY 1, 2),
        |nb AS (SELECT grp, k,
        |  lag(n) OVER (PARTITION BY grp ORDER BY k) AS pn,
        |  lag(sx) OVER (PARTITION BY grp ORDER BY k) AS psx,
        |  lag(sy) OVER (PARTITION BY grp ORDER BY k) AS psy,
        |  lead(n) OVER (PARTITION BY grp ORDER BY k) AS nn,
        |  lead(sx) OVER (PARTITION BY grp ORDER BY k) AS nsx,
        |  lead(sy) OVER (PARTITION BY grp ORDER BY k) AS nsy
        | FROM bs),
        |c AS (
        | SELECT km.grp, km.k, km.t, km.v, km.x, km.kmx,
        |  CAST(psx AS DOUBLE)/CAST(pn AS DOUBLE) AS px,
        |  CAST(psy AS DOUBLE)/CAST(pn AS DOUBLE) AS py,
        |  CAST(nsx AS DOUBLE)/CAST(nn AS DOUBLE) AS nx,
        |  CAST(nsy AS DOUBLE)/CAST(nn AS DOUBLE) AS ny
        | FROM km JOIN nb ON km.grp = nb.grp AND km.k = nb.k),
        |a AS (
        | SELECT grp, k, t, v, kmx,
        |  CASE WHEN k > 0 AND k < kmx THEN
        |   abs((px - nx) * (CAST(v AS DOUBLE) - py) -
        |       (px - CAST(x AS DOUBLE)) * (ny - py))
        |  END AS area
        | FROM c),
        |r AS (
        | SELECT grp, k, t, v, kmx,
        |  row_number() OVER (PARTITION BY grp, k ORDER BY t, v) AS rf,
        |  row_number() OVER (PARTITION BY grp, k
        |   ORDER BY t DESC, v DESC) AS rl,
        |  row_number() OVER (PARTITION BY grp, k
        |   ORDER BY area DESC, t DESC, v DESC) AS ra
        | FROM a)
        |SELECT grp AS event_type, k AS bucket, t AS t_us, v AS cents
        |FROM r
        |WHERE (k = 0 AND rf = 1) OR (k = kmx AND k > 0 AND rl = 1)
        |   OR (k > 0 AND k < kmx AND ra = 1)
        |ORDER BY event_type, bucket""".stripMargin,

    // geohash replay: same integer-derived coordinates, same affine
    // grid map, same Morton rounds (GeoHash.encodeSql mirrors
    // ZOrder.zValueSql), same base32 alphabet
    "q_geohash" -> {
      import graft.operators.GeoHash
      s"""WITH src AS (
         | SELECT s_suppkey,
         |  CAST(s_suppkey * 7919 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon,
         |  CAST(s_suppkey * 104729 % 18000 AS DOUBLE) / 100.0 - 90.0 AS lat
         | FROM supplier)
         |SELECT s_suppkey,
         | ${GeoHash.encodeSql("lon", "lat", 8)} AS gh8,
         | ${GeoHash.encodeSql("lon", "lat", 4)} AS gh4
         |FROM src ORDER BY s_suppkey""".stripMargin
    },

    "q_rate_spike" ->
      """WITH hourly AS (
        | SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2
        |), lagged AS (
        | SELECT event_type, hour, n,
        |  lag(n) OVER (PARTITION BY event_type ORDER BY hour) AS prev_n
        | FROM hourly)
        |SELECT event_type, hour, CAST(n AS BIGINT) AS n,
        | CAST(prev_n AS BIGINT) AS prev_n,
        | CAST(n * 100 > prev_n * 150 AS BIGINT) AS is_spike
        |FROM lagged WHERE prev_n IS NOT NULL
        |ORDER BY event_type, hour""".stripMargin,

    "q_retention_cohort" ->
      """WITH wk AS (
        | SELECT user_id, epoch_us(ts) // 604800000000 AS w FROM events
        |), coh AS (
        | SELECT user_id, min(w) AS cw FROM wk GROUP BY 1)
        |SELECT c.cw AS cohort_week, w.w - c.cw AS offset_weeks,
        | CAST(count(DISTINCT w.user_id) AS BIGINT) AS active_users
        |FROM wk w JOIN coh c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_audience_overlap" ->
      """WITH aud AS (
        | SELECT event_type, count(DISTINCT user_id) AS n
        | FROM events GROUP BY 1
        |), du AS (
        | SELECT DISTINCT event_type, user_id FROM events
        |), pairs AS (
        | SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  a.n AS aud_a, b.n AS aud_b
        | FROM aud a JOIN aud b ON a.event_type < b.event_type
        |), inter AS (
        | SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS overlap
        | FROM du a JOIN du b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        | GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        | CAST(p.aud_a AS BIGINT) AS aud_a, CAST(p.aud_b AS BIGINT) AS aud_b,
        | CAST(coalesce(i.overlap, 0) AS BIGINT) AS overlap
        |FROM pairs p LEFT JOIN inter i
        | ON i.type_a = p.type_a AND i.type_b = p.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    "q_audience_overlap_sketch" ->
      s"""SELECT g_a AS type_a, g_b AS type_b, uniq_a, uniq_b, uniq_union,
         | overlap_est
         |FROM (${graft.functions.HllPortable
               .pairwiseOverlapSql("events", "event_type", "user_id")})
         |ORDER BY type_a, type_b""".stripMargin,

    "q_kmv_sketch" -> graft.functions.KmvSketch.oracleSql(
      "events", "event_type", "user_id", "click", "view", 256),

    "q_pagerank" ->
      graft.operators.PageRank.transitionOracleSql("events"),

    // item co-occurrence replay: same distinct presence, same ≤256
    // per-user cap, same pair join, same early-divide integer lift
    "q_item_cooccur" ->
      """WITH pres AS (
        | SELECT DISTINCT user_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS item
        | FROM events WHERE event_type = 'click'
        |  AND json_extract(props, '$.k') IS NOT NULL),
        |capped AS (
        | SELECT user_id, item FROM (
        |  SELECT user_id, item,
        |   count(*) OVER (PARTITION BY user_id) AS _n FROM pres)
        | WHERE _n <= 256),
        |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |       FROM capped),
        |cnt AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt
        |        FROM capped GROUP BY 1),
        |co AS (
        | SELECT a.item AS item_a, b.item AS item_b,
        |  CAST(count(*) AS BIGINT) AS co
        | FROM capped a JOIN capped b
        |  ON a.user_id = b.user_id AND a.item < b.item
        | GROUP BY 1, 2),
        |lifted AS (
        | SELECT item_a, item_b, co, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  ((co * 1000000) // ca.cnt) * n_users // cb.cnt AS lift_ppm,
        |  row_number() OVER (PARTITION BY item_a
        |    ORDER BY co DESC, item_b) AS rk
        | FROM co
        | JOIN cnt ca ON ca.item = co.item_a
        | JOIN cnt cb ON cb.item = co.item_b
        | CROSS JOIN nu)
        |SELECT item_a, item_b, co, cnt_a, cnt_b,
        | CAST(lift_ppm AS BIGINT) AS lift_ppm, CAST(rk AS BIGINT) AS rk
        |FROM lifted WHERE rk <= 3 ORDER BY item_a, rk""".stripMargin,

    // CUSUM replay: same floor mean, same running frame, same argmax
    "q_cusum" ->
      """WITH daily AS (
        | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM events GROUP BY 1, 2),
        |m AS (
        | SELECT event_type, CAST(sum(cents) // count(*) AS BIGINT)
        |   AS mean_f,
        |  CAST(count(*) AS BIGINT) AS n_days
        | FROM daily GROUP BY 1),
        |c AS (
        | SELECT d.event_type, m.n_days, d.day,
        |  CAST(sum(d.cents - m.mean_f) OVER (PARTITION BY d.event_type
        |    ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum
        | FROM daily d JOIN m USING (event_type)),
        |p AS (
        | SELECT event_type, n_days, day, abs(cusum) AS max_abs_cusum,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(cusum) DESC, day) AS rk
        | FROM c)
        |SELECT event_type, n_days, day AS change_day, max_abs_cusum
        |FROM p WHERE rk = 1 ORDER BY event_type""".stripMargin,

    // RFM replay: same user-grain triple, same total-order ntiles,
    // same segment digits
    "q_rfm" ->
      """WITH pu AS (
        | SELECT user_id,
        |  max(epoch_us(ts) // 86400000000) AS last_day,
        |  CAST(count(*) AS BIGINT) AS freq,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r1 AS (SELECT max(last_day) AS ref_day FROM pu),
        |sc AS (
        | SELECT user_id, freq, cents,
        |  ref_day - last_day AS recency_days,
        |  CAST(ntile(4) OVER (ORDER BY ref_day - last_day ASC, user_id)
        |   AS BIGINT) AS rq,
        |  CAST(ntile(4) OVER (ORDER BY freq DESC, user_id) AS BIGINT)
        |   AS fq,
        |  CAST(ntile(4) OVER (ORDER BY cents DESC, user_id) AS BIGINT)
        |   AS mq
        | FROM pu CROSS JOIN r1)
        |SELECT CAST(rq AS VARCHAR) || CAST(fq AS VARCHAR) ||
        |  CAST(mq AS VARCHAR) AS segment,
        | CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(cents) AS BIGINT) AS cents,
        | CAST(sum(freq) AS BIGINT) AS purchases
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    // Gini replay: same rank order, same exact integer numerator/
    // denominator, one divide
    "q_gini" ->
      """WITH pu AS (
        | SELECT user_id,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS x
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT x,
        |  CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i
        | FROM pu),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(x) AS BIGINT) AS total_cents,
        |  CAST(sum(i * x) AS BIGINT) AS ix FROM r)
        |SELECT n_users, total_cents,
        | CAST(2 * ix - (n_users + 1) * total_cents AS DOUBLE) /
        | CAST(n_users * total_cents AS DOUBLE) AS gini
        |FROM a""".stripMargin,

    // CUPED replay: same midpoint split, same exact moments, each
    // moment double-cast before any product, same fixed trees
    "q_cuped" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |  CASE WHEN event_type = 'purchase'
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END AS cents
        | FROM events),
        |m1 AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
        |xy AS (
        | SELECT user_id,
        |  CAST(sum(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT)
        |   AS x,
        |  CAST(sum(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT)
        |   AS y
        | FROM ev CROSS JOIN m1 GROUP BY 1),
        |m AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(y AS HUGEINT) * y) AS syy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy
        | FROM xy),
        |t AS (
        | SELECT n AS n_users,
        |  CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n2,
        |  CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx_n2,
        |  CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary_n2
        | FROM m)
        |SELECT n_users, cov_n2 / varx_n2 AS theta,
        | (cov_n2 * cov_n2) / (varx_n2 * vary_n2) AS rho2,
        | 1.0e0 - (cov_n2 * cov_n2) / (varx_n2 * vary_n2)
        |  AS var_reduction
        |FROM t""".stripMargin,

    // DiD replay: same treated flag, same midpoint, same four means,
    // same one-tree estimate
    "q_did" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
        |  CASE WHEN event_type = 'purchase'
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END AS cents
        | FROM events),
        |m1 AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
        |pu AS (
        | SELECT user_id,
        |  max(((user_id % 2) + 2) % 2) AS treated,
        |  CAST(sum(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT)
        |   AS pre,
        |  CAST(sum(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT)
        |   AS post
        | FROM ev CROSS JOIN m1 GROUP BY 1),
        |g AS (
        | SELECT treated,
        |  CAST(sum(pre) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m_pre,
        |  CAST(sum(post) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m_post
        | FROM pu GROUP BY 1)
        |SELECT t.m_pre AS t_pre, t.m_post AS t_post,
        | c.m_pre AS c_pre, c.m_post AS c_post,
        | (t.m_post - t.m_pre) - (c.m_post - c.m_pre) AS did_cents
        |FROM (SELECT * FROM g WHERE treated = 1) t,
        |     (SELECT * FROM g WHERE treated = 0) c""".stripMargin,

    // cohort-LTV replay: same min-week cohorts, same grid, same
    // running-sum frame, same integer per-user divide
    "q_cohort_ltv" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(ts) // 604800000000 AS w,
        |  CASE WHEN event_type = 'purchase'
        |   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   ELSE 0 END AS cents
        | FROM events),
        |coh AS (SELECT user_id, min(w) AS cw FROM ev GROUP BY 1),
        |sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_users
        |          FROM coh GROUP BY 1),
        |grid AS (
        | SELECT coh.cw AS cohort_week, ev.w - coh.cw AS offset_weeks,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        | FROM ev JOIN coh USING (user_id) GROUP BY 1, 2),
        |cum AS (
        | SELECT cohort_week, offset_weeks, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
        |    ORDER BY offset_weeks
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        | FROM grid)
        |SELECT cohort_week, offset_weeks, cohort_users, rev_cents,
        | cum_rev_cents,
        | CAST(cum_rev_cents // cohort_users AS BIGINT)
        |  AS ltv_cents_per_user
        |FROM cum JOIN sizes ON sizes.cw = cum.cohort_week
        |ORDER BY cohort_week, offset_weeks""".stripMargin,

    // Benford replay: same first-digit extraction, same Scala double
    // p_d literals, same fixed IEEE (obs−exp)²/exp tree
    "q_benford" -> {
      // E-notation, NOT a CAST: DuckDB types a bare decimal literal
      // as DECIMAL and its DECIMAL→DOUBLE cast is NOT correctly
      // rounded at 17 significant digits (measured: ...93 literal →
      // the ...92 double), while `<digits>e0` parses straight to the
      // correctly-rounded double — the only transport that preserves
      // the Scala value bit-for-bit
      val pCase = (1 to 9).map(dd =>
        s"WHEN digit = $dd THEN ${math.log10(1.0 + 1.0 / dd)}e0")
        .mkString(" ")
      s"""WITH f AS (
         | SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
         |  AS digit
         | FROM (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |        AS BIGINT) AS cents FROM orders)
         | WHERE cents > 0),
         |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS obs
         |      FROM f GROUP BY 1),
         |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)
         |SELECT digit, obs,
         | CAST(n AS DOUBLE) * (CASE $pCase END) AS expected,
         | (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * (CASE $pCase END)) *
         | (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * (CASE $pCase END)) /
         | (CAST(n AS DOUBLE) * (CASE $pCase END)) AS chi2_contrib
         |FROM c CROSS JOIN n1 ORDER BY digit""".stripMargin
    },

    // A/B sample-size replay: same exact counts, same z/mde literals
    // (Scala shortest-round-trip doubles), same one IEEE tree
    "q_ab_sample_size" -> {
      val za = 1.9599639845400545
      val zb = 0.8416212335729143
      val mde = 0.015625
      // double literal transport: E-notation parses straight to
      // DOUBLE; a repr that already carries an exponent is one
      def e0(v: Double): String =
        if (v.toString.exists(c => c == 'E' || c == 'e')) v.toString
        else s"${v}e0"
      s"""WITH bu AS (
         | SELECT epoch_us(ts) // 86400000000 AS day, user_id,
         |  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
         |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS purchased
         | FROM events WHERE event_type IN ('view', 'purchase')
         | GROUP BY 1, 2),
         |agg AS (
         | SELECT day, CAST(count(*) AS BIGINT) AS viewers,
         |  CAST(sum(purchased) AS BIGINT) AS converters
         | FROM bu WHERE viewed = 1 GROUP BY 1),
         |f AS (
         | SELECT day, viewers, converters,
         |  CAST(converters AS DOUBLE) / CAST(viewers AS DOUBLE) AS p1
         | FROM agg)
         |SELECT day, viewers, converters, p1,
         | CAST(ceil((${e0((za + zb) * (za + zb))} *
         |   (p1 * (1.0e0 - p1) + (p1 + ${e0(mde)}) *
         |    (1.0e0 - (p1 + ${e0(mde)})))) /
         |   ${e0(mde * mde)}) AS BIGINT) AS n_required
         |FROM f ORDER BY day""".stripMargin
    },

    "dedup_url" ->
      """WITH u0 AS (
        | SELECT event_id,
        |  (CASE WHEN event_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
        |  (CASE WHEN event_id % 3 = 0 THEN 'www.' ELSE '' END) ||
        |  (CASE WHEN event_id % 5 = 0 THEN upper(event_type) ELSE event_type END) ||
        |  '.example.com' ||
        |  (CASE WHEN event_id % 7 = 0 THEN ':443' ELSE '' END) ||
        |  '/u/' || CAST(user_id % 50 AS VARCHAR) ||
        |  (CASE WHEN event_id % 2 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN event_id % 3 = 0 THEN '?b=2&a=1&utm_source=x'
        |   ELSE '?a=1&b=2' END) AS u
        | FROM events
        |), parts AS (
        | SELECT event_id,
        |  lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS proto,
        |  regexp_extract(u, '^[A-Za-z]+://(.*)$', 1) AS rest
        | FROM u0
        |), hostp AS (
        | SELECT event_id, proto,
        |  regexp_replace(regexp_replace(
        |    lower(regexp_extract(rest, '^([^/?#]+)', 1)),
        |    '^www\.', ''), ':(443|80)$', '') AS host,
        |  regexp_extract(rest, '^[^/?#]+([/?#].*)?$', 1) AS pathq
        | FROM parts
        |), pq AS (
        | SELECT event_id, proto, host,
        |  regexp_replace(regexp_extract(pathq, '^([^?#]*)', 1), '/$', '') AS path,
        |  list_filter(string_split(regexp_extract(pathq, '\?([^#]*)', 1), '&'),
        |   p -> NOT (starts_with(p, 'utm_') OR p = '')) AS params
        | FROM hostp
        |), canon AS (
        | SELECT event_id, proto || '://' || host || path ||
        |  CASE WHEN len(params) > 0
        |   THEN '?' || list_aggregate(list_sort(params), 'string_agg', '&')
        |   ELSE '' END AS url
        | FROM pq)
        |SELECT url, count(*) AS n_events, min(event_id) AS first_event
        |FROM canon GROUP BY 1 ORDER BY url""".stripMargin,

    "q_sequence_match" ->
      """WITH agg AS (
        | SELECT user_id, string_agg(c, '' ORDER BY ts_us, event_id) AS seq
        | FROM (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |   CASE event_type WHEN 'view' THEN '1' WHEN 'click' THEN '2'
        |        WHEN 'purchase' THEN '3' ELSE 'x' END AS c
        |  FROM events)
        | GROUP BY user_id)
        |SELECT user_id, regexp_matches(seq, '1.*2.*3') AS matched,
        | CAST(len(regexp_extract_all(seq, '1.*?2')) AS BIGINT) AS n_vc
        |FROM agg ORDER BY user_id""".stripMargin,

    // B31b: the SAME latest-completion window chain, generated from
    // the shared builder — frame, strict precedence and BIGINT gap
    // arithmetic identical by construction
    "q_sequence_match_timed" -> {
      val inner = graft.operators.ChAnalytics.sequenceMatchTimedSql(
        "(SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type " +
          "FROM events)",
        "user_id", "ts_us", "event_id",
        Seq("event_type = 'view'", "event_type = 'click'",
          "event_type = 'purchase'"),
        Seq(3600000000L, 7200000000L))
      s"""SELECT entity AS user_id, matched, first_done
         |FROM ($inner) ORDER BY user_id""".stripMargin
    },

    // B69: identical code-string aggregation (ORDER BY ts_us, event_id
    // ≡ the array_sort on the unique (ts, id) struct), DuckDB's own
    // levenshtein as the independent verifier, same (dist, user) tie
    // order at the top-20 cut.
    "q_journey_topk" ->
      """WITH agg AS (
        | SELECT user_id, string_agg(c, '' ORDER BY ts_us, event_id) AS seq
        | FROM (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |   CASE event_type WHEN 'view' THEN '1' WHEN 'click' THEN '2'
        |        WHEN 'purchase' THEN '3' ELSE 'x' END AS c
        |  FROM events)
        | GROUP BY user_id),
        |j AS (SELECT user_id, substring(seq, 1, 24) AS journey FROM agg)
        |SELECT user_id, journey,
        | CAST(levenshtein(journey, '123121312') AS BIGINT) AS dist
        |FROM j ORDER BY dist, user_id LIMIT 20""".stripMargin,

    "q_pivot_if" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_start_us,
        | count(*) AS n_events,
        | count(*) FILTER (WHERE event_type = 'view') AS n_view,
        | count(*) FILTER (WHERE event_type = 'click') AS n_click,
        | count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        | CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
        |        FILTER (WHERE event_type = 'purchase') AS DECIMAL(18,4))
        |      AS DOUBLE) AS rev_purchase
        |FROM events GROUP BY 1 ORDER BY day_start_us""".stripMargin,

    "q_corr" ->
      """WITH base AS (
        | SELECT l_returnflag, count(*) AS n,
        |  sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sx,
        |  sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sy,
        |  sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
        |  sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
        |  sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS covar_pop,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS covar_samp,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr
        |FROM base ORDER BY l_returnflag""".stripMargin,

    "q_url_parse" ->
      """SELECT event_id,
        | 'https' AS proto,
        | 'www.' || event_type || '.example.com' AS dom,
        | event_type || '.example.com' AS dom_nw,
        | 'com' AS tld,
        | '/u/' || CAST(user_id AS VARCHAR) AS upath,
        | 'q=' || CAST(event_id AS VARCHAR) || '&x=1' AS qs,
        | CAST(event_id AS VARCHAR) AS q_param,
        | 'sec' AS frag
        |FROM events ORDER BY event_id""".stripMargin,

    "q_ch_array_funcs" ->
      """WITH base AS (
        | SELECT doc_id,
        |  list_transform(string_split(text, ' '), t -> length(t)) AS lens
        | FROM documents)
        |SELECT doc_id,
        | CAST(list_min(lens) AS BIGINT) AS min_len,
        | CAST(list_max(lens) AS BIGINT) AS max_len,
        | CAST(list_sum(lens) AS DOUBLE) / len(lens) AS avg_len,
        | CAST(len(list_filter(lens, x -> x > 3)) AS BIGINT) AS n_gt3,
        | len(list_filter(lens, x -> x = 1)) > 0 AS has_one,
        | len(list_filter(lens, x -> NOT (x > 0))) = 0 AS all_pos,
        | array_to_string(list_transform(range(1, len(lens) + 1),
        |   i -> CAST(CASE WHEN i = 1 THEN 0
        |        ELSE lens[CAST(i AS BIGINT)] - lens[CAST(i - 1 AS BIGINT)] END AS VARCHAR)), ',') AS diffs,
        | array_to_string(list_transform(range(1, len(lens) + 1),
        |   i -> CAST(CAST(list_sum(lens[1:CAST(i AS BIGINT)]) AS BIGINT) AS VARCHAR)), ',') AS cumsum,
        | array_to_string(list_transform(
        |   list_filter(range(1, len(lens) + 1),
        |     i -> i = 1 OR lens[CAST(i AS BIGINT)] <> lens[CAST(i - 1 AS BIGINT)]),
        |   i -> CAST(lens[CAST(i AS BIGINT)] AS VARCHAR)), ',') AS compacted,
        | CAST(len(list_distinct(lens)) AS BIGINT) AS n_uniq
        |FROM base ORDER BY doc_id""".stripMargin,

    "q_limit_by" ->
      """SELECT user_id, event_id, ts_us FROM (
        | SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  row_number() OVER (PARTITION BY user_id
        |                     ORDER BY epoch_us(ts), event_id) AS rn
        | FROM events)
        |WHERE rn <= 2 ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_funnel" ->
      """WITH base AS (
        | SELECT user_id, epoch_us(ts) AS ts, event_type FROM events
        |), s0 AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS t0
        | FROM base GROUP BY user_id
        |), s1 AS (
        | SELECT b.user_id, min(b.ts) AS t1
        | FROM base b JOIN s0 ON b.user_id = s0.user_id
        | WHERE b.event_type = 'click' AND s0.t0 IS NOT NULL
        |   AND b.ts > s0.t0 AND b.ts <= s0.t0 + 86400000000
        | GROUP BY b.user_id
        |), s2 AS (
        | SELECT b.user_id, min(b.ts) AS t2
        | FROM base b JOIN s1 ON b.user_id = s1.user_id
        |             JOIN s0 ON b.user_id = s0.user_id
        | WHERE b.event_type = 'purchase'
        |   AND b.ts > s1.t1 AND b.ts <= s0.t0 + 86400000000
        | GROUP BY b.user_id)
        |SELECT level, count(*) AS n_users FROM (
        | SELECT s0.user_id,
        |  CASE WHEN s2.t2 IS NOT NULL THEN 3
        |       WHEN s1.t1 IS NOT NULL THEN 2
        |       WHEN s0.t0 IS NOT NULL THEN 1
        |       ELSE 0 END AS level
        | FROM s0
        | LEFT JOIN s1 ON s0.user_id = s1.user_id
        | LEFT JOIN s2 ON s0.user_id = s2.user_id)
        |GROUP BY level ORDER BY level""".stripMargin,

    // strict_order replay: per-user total-order sequence numbers, the
    // anchor's seq/ts via self-join, consecutive-position step matches
    "q_funnel_strict" ->
      """WITH base AS (
        | SELECT user_id, epoch_us(ts) AS ts, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS seq
        | FROM events
        |), a AS (
        | SELECT user_id, min(CASE WHEN event_type = 'view' THEN seq END) AS s0
        | FROM base GROUP BY user_id
        |), a2 AS (
        | SELECT a.user_id, a.s0, b.ts AS t0
        | FROM a LEFT JOIN base b ON b.user_id = a.user_id AND b.seq = a.s0
        |), m AS (
        | SELECT a2.user_id, a2.s0,
        |  max(CASE WHEN b.seq = a2.s0 + 1 AND b.event_type = 'click'
        |        AND b.ts <= a2.t0 + 86400000000 THEN 1 ELSE 0 END) AS m1,
        |  max(CASE WHEN b.seq = a2.s0 + 2 AND b.event_type = 'purchase'
        |        AND b.ts <= a2.t0 + 86400000000 THEN 1 ELSE 0 END) AS m2
        | FROM a2 LEFT JOIN base b ON b.user_id = a2.user_id
        | GROUP BY a2.user_id, a2.s0, a2.t0
        |)
        |SELECT level, count(*) AS n_users FROM (
        | SELECT user_id, CAST(CASE WHEN s0 IS NULL THEN 0
        |   ELSE 1 + m1 + m1 * m2 END AS BIGINT) AS level
        | FROM m)
        |GROUP BY level ORDER BY level""".stripMargin,

    "q_retention" ->
      """WITH f AS (
        | SELECT user_id,
        |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS f0,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS f1,
        |  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f2
        | FROM events GROUP BY user_id)
        |SELECT
        | CAST(sum(CASE WHEN f0 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r0_cnt,
        | CAST(sum(CASE WHEN f0 = 1 AND f1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1_cnt,
        | CAST(sum(CASE WHEN f0 = 1 AND f2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r2_cnt
        |FROM f""".stripMargin,

    "q_rollup_totals" ->
      """SELECT
        | CASE WHEN GROUPING(event_type) = 1 THEN 'TOTAL'
        |      ELSE event_type END AS event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY ROLLUP(event_type)
        |ORDER BY event_type""".stripMargin,

    // temporal family replay on DuckDB natives: date_trunc/date_part/
    // strftime/isodow/epoch — ISO conventions align on both engines
    // (dow Monday=1, week = ISO week, week-trunc = Monday)
    "q_ch_datetime" ->
      """WITH g AS (
        | SELECT date_trunc('hour', ts) AS hr, count(*) AS n
        | FROM events GROUP BY 1)
        |SELECT CAST(epoch(hr) AS BIGINT) AS unix_hr,
        | CAST(hr AS DATE) AS day,
        | CAST(strftime(hr, '%Y%m') AS BIGINT) AS yyyymm,
        | CAST(strftime(hr, '%Y%m%d') AS BIGINT) AS yyyymmdd,
        | CAST(date_part('year', hr) AS BIGINT) AS y,
        | CAST(date_part('quarter', hr) AS BIGINT) AS qtr,
        | CAST(date_part('month', hr) AS BIGINT) AS m,
        | CAST(date_part('day', hr) AS BIGINT) AS dom,
        | CAST(date_part('dayofyear', hr) AS BIGINT) AS doy,
        | CAST(isodow(hr) AS BIGINT) AS dow,
        | CAST(date_part('week', hr) AS BIGINT) AS isowk,
        | CAST(date_part('hour', hr) AS BIGINT) AS h,
        | CAST(date_trunc('week', hr) AS DATE) AS monday,
        | CAST(date_trunc('quarter', hr) AS DATE) AS q_start,
        | CAST(hr + INTERVAL 7 DAY AS DATE) AS plus7,
        | n
        |FROM g ORDER BY unix_hr""".stripMargin,

    "q_ch_sql" ->
      """SELECT event_type,
        | count(DISTINCT user_id) AS n_users,
        | count(*) FILTER (WHERE value > 100.0) AS n_big,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE value > 100.0)
        |      AS DOUBLE) AS sum_big
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // dialect replays: the SAME semantics the CH text asks for,
    // recomputed in plain ANSI SQL (window top-n, unnest, grouping
    // sets) — the adapter's translation is what is under test
    "q_ch_dialect_limit_by" ->
      """WITH q AS (
        | SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        | FROM events),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id ORDER BY user_id, ts_us, event_id) AS rn
        | FROM q)
        |SELECT user_id, event_type, ts_us, event_id FROM r
        |WHERE rn <= 2 ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_ch_dialect_array_join" ->
      """SELECT doc_id, tok FROM (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents)
        |WHERE length(tok) > 3
        |ORDER BY doc_id, tok LIMIT 500""".stripMargin,

    "q_ch_dialect_final" ->
      """SELECT event_id, ts_us, user_id, event_type, value FROM (
        | SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |  value,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q_ch_dialect_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${graft.DedupQueries.md5BucketSql(
              "CAST(doc_id AS VARCHAR)", 42L)} < 200000
         |ORDER BY doc_id""".stripMargin,

    // alignment-sensitive (r17): pos is re-derived by ORDINALITY on
    // this side (DuckDB zips parallel unnests positionally), so a
    // positionally-misaligned zip cannot hash green
    "q_ch_dialect_array_zip" ->
      """SELECT doc_id, tok, pos FROM (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |  unnest(generate_series(CAST(1 AS BIGINT),
        |    CAST(len(string_split(text, ' ')) AS BIGINT))) AS pos
        | FROM documents)
        |WHERE length(tok) > 3
        |ORDER BY doc_id, tok, pos LIMIT 500""".stripMargin,

    "q_ch_dialect_array_expr" ->
      """SELECT doc_id, tok, CAST(length(tok) AS BIGINT) AS tok_len
        |FROM (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents)
        |WHERE length(tok) > 3
        |ORDER BY doc_id, tok LIMIT 500""".stripMargin,

    "q_ch_dialect_array_sub" ->
      """SELECT doc_id, toks FROM (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS toks
        | FROM documents WHERE doc_id % 2 = 0)
        |WHERE length(toks) > 3
        |ORDER BY doc_id, toks LIMIT 500""".stripMargin,

    "q_ch_dialect_array_shadow" ->
      """SELECT doc_id, toks FROM (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS toks
        | FROM documents)
        |WHERE length(toks) > 3
        |ORDER BY doc_id, toks LIMIT 500""".stripMargin,

    "q_ch_dialect_final_sample" ->
      s"""SELECT event_id, ts_us, user_id, event_type, value FROM (
         | SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
         |  value,
         |  row_number() OVER (PARTITION BY user_id, event_type
         |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
         | FROM events)
         |WHERE rn = 1 AND ${graft.DedupQueries.md5BucketSql(
              "CAST(user_id AS VARCHAR)", 42L)} < 500000
         |ORDER BY user_id, event_type""".stripMargin,

    "q_ch_dialect_totals" ->
      """SELECT coalesce(event_type, '__TOTALS__') AS event_type,
        | count(*) AS cnt,
        | count(DISTINCT user_id) AS users
        |FROM events WHERE value > 10
        |GROUP BY GROUPING SETS ((event_type), ())
        |ORDER BY event_type""".stripMargin,

    "q_ch_sql_arrays" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_parts,
        | CAST(coalesce(list_aggregate(
        |   list_transform(string_split(text, ' '), t -> length(t)),
        |   'sum'), 0) AS BIGINT) AS sum_len,
        | CASE WHEN length(text) > 500 THEN 'long'
        |      WHEN length(text) > 100 THEN 'mid'
        |      ELSE 'short' END AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_with_fill" ->
      """WITH agg AS (
        | SELECT epoch_us(ts) // 3600000000 AS hour_bucket,
        |        count(*) AS n
        | FROM events WHERE event_type = 'error' AND value > 95
        | GROUP BY hour_bucket
        |), b AS (
        | SELECT min(hour_bucket) AS lo, max(hour_bucket) AS hi FROM agg
        |), grid AS (
        | SELECT unnest(generate_series(lo, hi)) AS hour_bucket FROM b)
        |SELECT g.hour_bucket,
        | CAST(coalesce(a.n, 0) AS BIGINT) AS n_events
        |FROM grid g LEFT JOIN agg a USING (hour_bucket)
        |ORDER BY hour_bucket""".stripMargin,

    "q_array_hof" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n_toks,
        | CAST(len(list_filter(toks, t -> length(t) > 4)) AS BIGINT) AS n_long,
        | CAST(coalesce(
        |   list_aggregate(list_transform(toks, t -> length(t)), 'sum'),
        |   0) AS BIGINT) AS sum_len
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_text_scrub" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(text,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |   '[0-9]+', '<NUM>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // studentTTest replay: welch's moment CTEs, then the pooled sp²
    // tree mirrored term-for-term; df_p stays BIGINT
    "q_student_ttest" ->
      """WITH src AS (
        | SELECT epoch_us(ts) // 86400000000 AS day,
        |  CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS i,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events WHERE event_type IN ('click', 'view')),
        |m AS (
        | SELECT day,
        |  CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN i = 0 THEN v ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(sum(CASE WHEN i = 0 THEN v*v ELSE 0 END) AS BIGINT) AS q1,
        |  CAST(sum(CASE WHEN i <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN i <> 0 THEN v ELSE 0 END) AS BIGINT) AS s2,
        |  CAST(sum(CASE WHEN i <> 0 THEN v*v ELSE 0 END) AS BIGINT) AS q2
        | FROM src GROUP BY 1),
        |f AS (
        | SELECT day, n1, n2,
        |  CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
        |  CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |  CAST(q1 AS DOUBLE) AS q1d, CAST(q2 AS DOUBLE) AS q2d
        | FROM m WHERE n1 > 1 AND n2 > 1),
        |g AS (
        | SELECT day, n1, n2, n1d, n2d,
        |  s1d/n1d AS m1, s2d/n2d AS m2,
        |  (q1d - s1d*s1d/n1d)/(n1d - 1) AS v1,
        |  (q2d - s2d*s2d/n2d)/(n2d - 1) AS v2
        | FROM f),
        |k AS (
        | SELECT day, n1, n2, n1d, n2d, m1, m2,
        |  ((n1d - 1)*v1 + (n2d - 1)*v2)/(n1d + n2d - 2) AS sp2
        | FROM g)
        |SELECT day,
        | (m1 - m2)/sqrt(sp2*(1.0/n1d + 1.0/n2d)) AS t_stat,
        | n1 + n2 - 2 AS df_p, n1, n2
        |FROM k ORDER BY day""".stripMargin,

    // meanZTest replay: 4-long moment state, the same fixed z tree
    // with the gate's inlined population variances (cents²)
    "q_mean_ztest" ->
      """WITH src AS (
        | SELECT epoch_us(ts) // 86400000000 AS day,
        |  CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS i,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events WHERE event_type IN ('click', 'view')),
        |m AS (
        | SELECT day,
        |  CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN i = 0 THEN v ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(sum(CASE WHEN i <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN i <> 0 THEN v ELSE 0 END) AS BIGINT) AS s2
        | FROM src GROUP BY 1),
        |f AS (
        | SELECT day, n1, n2,
        |  CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
        |  CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d
        | FROM m WHERE n1 > 0 AND n2 > 0)
        |SELECT day,
        | (s1d/n1d - s2d/n2d) /
        |  sqrt(4000000.0/n1d + 9000000.0/n2d) AS z_stat, n1, n2
        |FROM f ORDER BY day""".stripMargin,

    // entropy replay: the dyadic log2 kernel as a recursive CTE — the
    // IDENTICAL 30 squarings (one rounding each; halving/compare/bit
    // accumulation exact), then the same ordered fold and final tree
    "q_entropy" ->
      """WITH RECURSIVE src AS (
        | SELECT epoch_us(ts) // 86400000000 AS day, event_type AS v
        | FROM events),
        |cells AS (
        | SELECT day, v, CAST(count(*) AS BIGINT) AS c
        | FROM src GROUP BY 1, 2),
        |tot AS (SELECT day, CAST(sum(c) AS BIGINT) AS c
        |        FROM cells GROUP BY 1),
        |need AS (
        | SELECT day, v, c FROM cells
        | UNION ALL SELECT day, NULL AS v, c FROM tot),
        |prep AS (
        | SELECT day, v, c, length(bin(c)) - 1 AS e,
        |  CAST(c AS DOUBLE) /
        |   CAST((1::BIGINT << (length(bin(c)) - 1)) AS DOUBLE) AS m
        | FROM need),
        |lg AS (
        | SELECT day, v, c, e, 0 AS i, m,
        |  CAST(0 AS DOUBLE) AS acc, CAST(0.5 AS DOUBLE) AS w
        | FROM prep
        | UNION ALL
        | SELECT day, v, c, e, i + 1,
        |  CASE WHEN m*m >= 2 THEN m*m/2 ELSE m*m END,
        |  CASE WHEN m*m >= 2 THEN acc + w ELSE acc END, w/2
        | FROM lg WHERE i < 30),
        |fin AS (SELECT day, v, c, CAST(e AS DOUBLE) + acc AS l2
        |        FROM lg WHERE i = 30),
        |sm AS (
        | SELECT day, list_reduce(list(CAST(c AS DOUBLE) * l2 ORDER BY v),
        |         (a_, x_) -> a_ + x_) AS s
        | FROM fin WHERE v IS NOT NULL GROUP BY 1),
        |nl AS (SELECT day, c AS n, l2 AS lgn FROM fin WHERE v IS NULL)
        |SELECT nl.day, nl.lgn - sm.s / CAST(nl.n AS DOUBLE) AS entropy_bits,
        | nl.n AS n
        |FROM nl JOIN sm ON nl.day = sm.day ORDER BY nl.day""".stripMargin,

    // theilsU replay: one recursive log2 CTE over the union of
    // a-marginals / b-marginals / joint cells / n (kind-tagged, keys
    // split into VARCHAR + BIGINT so each kind's fold order matches
    // the Spark struct sort), three ordered folds, same final tree
    "q_theils_u" ->
      """WITH RECURSIVE src AS (
        | SELECT event_type AS a, (epoch_us(ts) // 3600000000) % 24 AS b
        | FROM events),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
        |          FROM src GROUP BY 1, 2),
        |am AS (SELECT a, CAST(sum(c) AS BIGINT) AS c FROM cells GROUP BY 1),
        |bm AS (SELECT b, CAST(sum(c) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS c FROM cells),
        |need AS (
        | SELECT 'a' AS kind, a AS ks, CAST(0 AS BIGINT) AS kn, c FROM am
        | UNION ALL SELECT 'b', '', b, c FROM bm
        | UNION ALL SELECT 'j', a, b, c FROM cells
        | UNION ALL SELECT 'n', '', 0, c FROM tot),
        |prep AS (
        | SELECT kind, ks, kn, c, length(bin(c)) - 1 AS e,
        |  CAST(c AS DOUBLE) /
        |   CAST((1::BIGINT << (length(bin(c)) - 1)) AS DOUBLE) AS m
        | FROM need),
        |lg AS (
        | SELECT kind, ks, kn, c, e, 0 AS i, m,
        |  CAST(0 AS DOUBLE) AS acc, CAST(0.5 AS DOUBLE) AS w
        | FROM prep
        | UNION ALL
        | SELECT kind, ks, kn, c, e, i + 1,
        |  CASE WHEN m*m >= 2 THEN m*m/2 ELSE m*m END,
        |  CASE WHEN m*m >= 2 THEN acc + w ELSE acc END, w/2
        | FROM lg WHERE i < 30),
        |fin AS (SELECT kind, ks, kn, c, CAST(e AS DOUBLE) + acc AS l2
        |        FROM lg WHERE i = 30),
        |sums AS (
        | SELECT kind,
        |  list_reduce(list(CAST(c AS DOUBLE) * l2 ORDER BY ks, kn),
        |   (a_, x_) -> a_ + x_) AS s
        | FROM fin WHERE kind IN ('a', 'b', 'j') GROUP BY 1),
        |base AS (SELECT
        |  (SELECT s FROM sums WHERE kind = 'a') AS sa,
        |  (SELECT s FROM sums WHERE kind = 'b') AS sb,
        |  (SELECT s FROM sums WHERE kind = 'j') AS sab,
        |  (SELECT c FROM fin WHERE kind = 'n') AS n,
        |  (SELECT l2 FROM fin WHERE kind = 'n') AS lgn),
        |h AS (SELECT n,
        |  lgn - sa / CAST(n AS DOUBLE) AS ha,
        |  lgn - sb / CAST(n AS DOUBLE) AS hb,
        |  lgn - sab / CAST(n AS DOUBLE) AS hab FROM base)
        |SELECT CASE WHEN ha <= 0 THEN NULL
        |        ELSE (ha + hb - hab) / ha END AS theils_u,
        | ha AS h_a, hb AS h_b, hab AS h_ab, n
        |FROM h""".stripMargin,

    // topK replay: the SpaceSaving fold register-for-register — a
    // recursive CTE threads the ≤8-counter list through the identical
    // insert rule (tracked += w; free slot (w,0); else replace the
    // least (count,item) counter, inheriting its count as err) over
    // the row-numbered cell table in the same ascending-item order
    "q_topk_sketch" ->
      """WITH RECURSIVE cells0 AS (
        | SELECT event_type AS grp, CAST(user_id AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |cells AS (
        | SELECT grp, v, c,
        |  CAST(row_number() OVER (PARTITION BY grp ORDER BY v)
        |       AS BIGINT) AS rn
        | FROM cells0),
        |nmax AS (SELECT grp, max(rn) AS mx FROM cells GROUP BY 1),
        |st AS (
        | SELECT grp, CAST(0 AS BIGINT) AS i,
        |  CAST([] AS STRUCT(v BIGINT, c BIGINT, e BIGINT)[]) AS regs
        | FROM nmax
        | UNION ALL
        | SELECT st.grp, st.i + 1,
        |  CASE
        |   WHEN len(list_filter(st.regs, s -> s.v = x.v)) > 0 THEN
        |    list_transform(st.regs, s -> CASE WHEN s.v = x.v
        |     THEN {'v': s.v, 'c': s.c + x.c, 'e': s.e} ELSE s END)
        |   WHEN len(st.regs) < 8 THEN
        |    list_append(st.regs,
        |     {'v': x.v, 'c': x.c, 'e': CAST(0 AS BIGINT)})
        |   ELSE
        |    list_transform(st.regs, s ->
        |     CASE WHEN {'c': s.c, 'v': s.v} =
        |       list_min(list_transform(st.regs,
        |         t2 -> {'c': t2.c, 'v': t2.v}))
        |      THEN {'v': x.v, 'c': s.c + x.c, 'e': s.c} ELSE s END)
        |  END
        | FROM st JOIN cells x ON x.grp = st.grp AND x.rn = st.i + 1),
        |fin AS (SELECT st.grp, st.regs FROM st JOIN nmax
        |        ON st.grp = nmax.grp AND st.i = nmax.mx),
        |ex AS (SELECT grp, unnest(regs) AS r FROM fin)
        |SELECT grp AS event_type, r.v AS item, r.c AS cnt_est,
        | r.e AS err_bound
        |FROM ex ORDER BY event_type, cnt_est DESC, item""".stripMargin,

    // topKWeighted replay: the identical recursive SpaceSaving fold
    // over weighted (cent-sum) cells in the same ascending-item order
    "q_topk_weighted" ->
      """WITH RECURSIVE cells0 AS (
        | SELECT event_type AS grp, CAST(user_id AS BIGINT) AS v,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |cells1 AS (SELECT grp, v, c FROM cells0 WHERE c > 0),
        |cells AS (
        | SELECT grp, v, c,
        |  CAST(row_number() OVER (PARTITION BY grp ORDER BY v)
        |       AS BIGINT) AS rn
        | FROM cells1),
        |nmax AS (SELECT grp, max(rn) AS mx FROM cells GROUP BY 1),
        |st AS (
        | SELECT grp, CAST(0 AS BIGINT) AS i,
        |  CAST([] AS STRUCT(v BIGINT, c BIGINT, e BIGINT)[]) AS regs
        | FROM nmax
        | UNION ALL
        | SELECT st.grp, st.i + 1,
        |  CASE
        |   WHEN len(list_filter(st.regs, s -> s.v = x.v)) > 0 THEN
        |    list_transform(st.regs, s -> CASE WHEN s.v = x.v
        |     THEN {'v': s.v, 'c': s.c + x.c, 'e': s.e} ELSE s END)
        |   WHEN len(st.regs) < 8 THEN
        |    list_append(st.regs,
        |     {'v': x.v, 'c': x.c, 'e': CAST(0 AS BIGINT)})
        |   ELSE
        |    list_transform(st.regs, s ->
        |     CASE WHEN {'c': s.c, 'v': s.v} =
        |       list_min(list_transform(st.regs,
        |         t2 -> {'c': t2.c, 'v': t2.v}))
        |      THEN {'v': x.v, 'c': s.c + x.c, 'e': s.c} ELSE s END)
        |  END
        | FROM st JOIN cells x ON x.grp = st.grp AND x.rn = st.i + 1),
        |fin AS (SELECT st.grp, st.regs FROM st JOIN nmax
        |        ON st.grp = nmax.grp AND st.i = nmax.mx),
        |ex AS (SELECT grp, unnest(regs) AS r FROM fin)
        |SELECT grp AS event_type, r.v AS item, r.c AS cents_est,
        | r.e AS err_bound
        |FROM ex ORDER BY event_type, cents_est DESC, item""".stripMargin,

    // cramersVBiasCorrected replay: the shared chi2 CTEs + the
    // Bergsma-Wicher tree mirrored term-for-term
    "q_cramers_v_bc" ->
      """WITH seen AS (
        | SELECT event_type AS a, (epoch_us(ts) // 3600000000) % 24 AS b,
        |  CAST(count(*) AS BIGINT) AS o
        | FROM events GROUP BY 1, 2),
        |cells AS (
        | SELECT da.a, db.b, coalesce(seen.o, 0) AS o
        | FROM (SELECT DISTINCT a FROM seen) da
        | CROSS JOIN (SELECT DISTINCT b FROM seen) db
        | LEFT JOIN seen ON da.a = seen.a AND db.b = seen.b),
        |t AS (
        | SELECT a, b, o,
        |  CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS r,
        |  CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS c,
        |  CAST(sum(o) OVER () AS BIGINT) AS n
        | FROM cells),
        |tm AS (
        | SELECT a, b, n,
        |  CAST(o AS DOUBLE)*CAST(n AS DOUBLE) -
        |   CAST(r AS DOUBLE)*CAST(c AS DOUBLE) AS d,
        |  CAST(r AS DOUBLE)*CAST(c AS DOUBLE)*CAST(n AS DOUBLE) AS rcn
        | FROM t),
        |tt AS (SELECT a, b, n, d*d/rcn AS term FROM tm),
        |ag AS (
        | SELECT list_reduce(list(term ORDER BY a, b),
        |         (acc, x) -> acc + x) AS chi2,
        |  CAST(count(DISTINCT a) AS BIGINT) AS ra,
        |  CAST(count(DISTINCT b) AS BIGINT) AS cb,
        |  CAST(max(n) AS BIGINT) AS n
        | FROM tt),
        |f AS (
        | SELECT chi2, n, ra, cb, CAST(n AS DOUBLE) AS nd,
        |  CAST(ra AS DOUBLE) AS rad, CAST(cb AS DOUBLE) AS cbd
        | FROM ag),
        |g AS (
        | SELECT chi2, n, ra, cb,
        |  greatest(0.0, chi2/nd - (rad - 1)*(cbd - 1)/(nd - 1)) AS phi2bc,
        |  least(rad - (rad - 1)*(rad - 1)/(nd - 1),
        |        cbd - (cbd - 1)*(cbd - 1)/(nd - 1)) - 1 AS den
        | FROM f)
        |SELECT chi2,
        | CASE WHEN den <= 0 THEN NULL ELSE sqrt(phi2bc/den) END
        |  AS cramers_v_bc,
        | n, ra, cb
        |FROM g""".stripMargin,

    // IPv4 replay: identical shift/mask/concat assembly, string-split
    // parse, and the /24 mask arithmetic
    "q_ipv4_funcs" ->
      """WITH u AS (
        | SELECT DISTINCT user_id,
        |  (user_id * 2654435761) % 4294967296 AS ip
        | FROM events),
        |f AS (
        | SELECT user_id, ip,
        |  CAST((ip // 16777216) % 256 AS VARCHAR) || '.' ||
        |  CAST((ip // 65536) % 256 AS VARCHAR) || '.' ||
        |  CAST((ip // 256) % 256 AS VARCHAR) || '.' ||
        |  CAST(ip % 256 AS VARCHAR) AS ip_str,
        |  ip & 4294967040 AS net24_lo,
        |  (ip & 4294967040) + 255 AS net24_hi
        | FROM u)
        |SELECT user_id, ip, ip_str, net24_lo, net24_hi,
        | CAST(string_split(ip_str, '.')[1] AS BIGINT) * 16777216 +
        | CAST(string_split(ip_str, '.')[2] AS BIGINT) * 65536 +
        | CAST(string_split(ip_str, '.')[3] AS BIGINT) * 256 +
        | CAST(string_split(ip_str, '.')[4] AS BIGINT) AS ip_rt
        |FROM f ORDER BY user_id""".stripMargin,

    // interval-join replay: a plain range join — DuckDB can afford the
    // naive plan at gate scale, which makes it the perfect oracle for
    // the bucketized rewrite (any bucket-boundary bug shows up as a
    // count mismatch)
    "q_interval_join" ->
      """WITH ev AS (
        | SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |win AS (
        | SELECT user_id AS w_user, min(ts_us) AS lo,
        |  min(ts_us) + 7200000000 AS hi
        | FROM ev GROUP BY 1)
        |SELECT w.w_user AS user_id,
        | CAST(count(*) AS BIGINT) AS n_events_in_window,
        | CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users_in_window
        |FROM win w JOIN ev e ON e.ts_us >= w.lo AND e.ts_us <= w.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // anova replay: per-(day,type) long moments, the ordered s²/n
    // fold (list_reduce over list ORDER BY type), the identical tree
    "q_anova" ->
      """WITH src AS (
        | SELECT epoch_us(ts) // 86400000000 AS day, event_type AS s,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        | FROM events),
        |cells AS (
        | SELECT day, s, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(v) AS BIGINT) AS sv, CAST(sum(v*v) AS BIGINT) AS qv
        | FROM src GROUP BY 1, 2),
        |t AS (
        | SELECT day, s, n, sv, qv,
        |  CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
        |   AS tt
        | FROM cells),
        |ag AS (
        | SELECT day,
        |  list_reduce(list(tt ORDER BY s), (a_, x_) -> a_ + x_) AS st,
        |  CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |  CAST(sum(sv) AS BIGINT) AS ss, CAST(sum(qv) AS BIGINT) AS sq
        | FROM t GROUP BY 1),
        |f AS (
        | SELECT day, k, n,
        |  st - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) /
        |       CAST(n AS DOUBLE) AS ssb,
        |  CAST(sq AS DOUBLE) - st AS ssw
        | FROM ag)
        |SELECT day,
        | CASE WHEN k < 2 OR n <= k OR ssw <= 0 THEN NULL
        |  ELSE (ssb / CAST(k - 1 AS DOUBLE)) /
        |       (ssw / CAST(n - k AS DOUBLE)) END AS f_stat,
        | k - 1 AS df_between, n - k AS df_within, k, n
        |FROM f ORDER BY day""".stripMargin,

    // covariance replay: identical long moments, one exact integer
    // numerator, one cast + one divide per flavor
    "q_covar" ->
      """WITH src AS (
        | SELECT l_returnflag AS grp,
        |  CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS x,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |   // 100 AS y
        | FROM lineitem),
        |m AS (
        | SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy
        | FROM src GROUP BY 1)
        |SELECT grp AS l_returnflag,
        | (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
        |   - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) AS covar_pop,
        | CASE WHEN n < 2 THEN NULL
        |  ELSE (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |   / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1))
        | END AS covar_samp, n
        |FROM m ORDER BY 1""".stripMargin,

    // contingency replay: q_cramers_v's cell/marginal/fold CTEs with
    // the C = sqrt(chi2/(chi2+n)) final select
    "q_contingency" ->
      """WITH seen AS (
        | SELECT event_type AS a, (epoch_us(ts) // 3600000000) % 24 AS b,
        |  CAST(count(*) AS BIGINT) AS o
        | FROM events GROUP BY 1, 2),
        |cells AS (
        | SELECT da.a, db.b, coalesce(seen.o, 0) AS o
        | FROM (SELECT DISTINCT a FROM seen) da
        | CROSS JOIN (SELECT DISTINCT b FROM seen) db
        | LEFT JOIN seen ON da.a = seen.a AND db.b = seen.b),
        |t AS (
        | SELECT a, b, o,
        |  CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS r,
        |  CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS c,
        |  CAST(sum(o) OVER () AS BIGINT) AS n
        | FROM cells),
        |tm AS (
        | SELECT a, b, n,
        |  CAST(o AS DOUBLE)*CAST(n AS DOUBLE) -
        |   CAST(r AS DOUBLE)*CAST(c AS DOUBLE) AS d,
        |  CAST(r AS DOUBLE)*CAST(c AS DOUBLE)*CAST(n AS DOUBLE) AS rcn
        | FROM t),
        |tt AS (SELECT a, b, n, d*d/rcn AS term FROM tm),
        |ag AS (
        | SELECT list_reduce(list(term ORDER BY a, b),
        |         (acc, x) -> acc + x) AS chi2,
        |  CAST(count(DISTINCT a) AS BIGINT) AS ra,
        |  CAST(count(DISTINCT b) AS BIGINT) AS cb,
        |  CAST(max(n) AS BIGINT) AS n
        | FROM tt)
        |SELECT chi2,
        | sqrt(chi2 / (chi2 + CAST(n AS DOUBLE))) AS contingency_coeff,
        | n, ra, cb
        |FROM ag""".stripMargin,

    // adaptive-histogram replay: the identical ordered fold, lambda
    // for lambda — list_reduce needs acc/element type equality, so
    // each (v,n) pair is pre-wrapped as a single-bin LIST and the
    // fold concatenates (the list_prepend-seed idiom of the FNV
    // oracle); [x][1] single-element lists are SQL's let-binding on
    // this side too
    "q_histogram_adaptive" ->
      """WITH vals AS (
        | SELECT l_returnflag,
        |  CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS v,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM lineitem GROUP BY 1, 2),
        |arr AS (
        | SELECT l_returnflag,
        |  list_transform(list({'v': v, 'n': n} ORDER BY v),
        |    x -> [{'c': CAST(x.v AS DOUBLE), 'w': x.n}]) AS singles
        | FROM vals GROUP BY 1),
        |hist AS (
        | SELECT l_returnflag,
        |  list_reduce(singles, (acc, x) ->
        |   CASE WHEN len(acc) < 8 THEN list_concat(acc, x)
        |   ELSE list_transform([list_concat(acc, x)], b ->
        |    list_transform([list_transform(range(1, len(b)),
        |      j -> b[j + 1].c - b[j].c)], g ->
        |     list_transform([list_position(g, list_aggregate(g, 'min'))],
        |      jm -> list_concat(list_concat(
        |       b[1:jm - 1],
        |       [{'c': (b[jm].c * b[jm].w + b[jm + 1].c * b[jm + 1].w)
        |              / (b[jm].w + b[jm + 1].w),
        |         'w': b[jm].w + b[jm + 1].w}]),
        |       b[jm + 2:len(b)]))[1])[1])[1]
        |   END) AS bins
        | FROM arr)
        |SELECT h.l_returnflag, r.j AS bin_idx,
        | h.bins[r.j].c AS center, h.bins[r.j].w AS cnt
        |FROM hist h, (SELECT unnest(range(1, 9)) AS j) r
        |WHERE r.j <= len(h.bins)
        |ORDER BY l_returnflag, bin_idx""".stripMargin,

    // moving-window replay: identical frame, identical two-divide tree
    "q_moving_sum" ->
      """WITH daily AS (
        | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM events GROUP BY 1, 2)
        |SELECT event_type, day,
        | CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS ms3_cents,
        | CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  / 100.0 / 3.0 AS mavg3
        |FROM daily ORDER BY event_type, day""".stripMargin,

    // decomposition replay: identical RANGE frame, identical ×7-scaled
    // integer detrending, the same single divides in the same spots
    "q_stl_decompose" ->
      """WITH daily AS (
        | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM events GROUP BY 1, 2),
        |w AS (
        | SELECT event_type, day, cents,
        |  CAST(sum(cents) OVER win AS BIGINT) AS tsum,
        |  count(*) OVER win AS tn
        | FROM daily
        | WINDOW win AS (PARTITION BY event_type ORDER BY day
        |   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t AS (
        | SELECT event_type, day, cents,
        |  CASE WHEN tn = 7 THEN tsum END AS tsum, day % 7 AS phase
        | FROM w),
        |dd AS (SELECT *, 7 * cents - tsum AS dt FROM t),
        |seas AS (
        | SELECT event_type, phase,
        |  CAST(sum(dt) AS DOUBLE) / CAST(7 * count(*) AS DOUBLE)
        |   AS seasonal
        | FROM dd WHERE dt IS NOT NULL GROUP BY 1, 2)
        |SELECT dd.event_type, dd.day, dd.cents,
        | CAST(dd.tsum AS DOUBLE) / 7.0 AS trend,
        | CASE WHEN dd.tsum IS NOT NULL THEN s.seasonal END AS seasonal,
        | CAST(dd.cents AS DOUBLE) - CAST(dd.tsum AS DOUBLE) / 7.0
        |  - CASE WHEN dd.tsum IS NOT NULL THEN s.seasonal END AS resid
        |FROM dd LEFT JOIN seas s
        | ON s.event_type = dd.event_type AND s.phase = dd.phase
        |ORDER BY dd.event_type, dd.day""".stripMargin,

    // ACF replay: same floor-mean centering (non-negative sums, // =
    // div), same exact products, same one-divide score, same peak rule
    "q_period_detect" ->
      """WITH daily AS (
        | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |   AS BIGINT) AS cents
        | FROM events GROUP BY 1, 2),
        |st AS (
        | SELECT event_type, CAST(sum(cents) // count(*) AS BIGINT) AS m
        | FROM daily GROUP BY 1),
        |c AS (
        | SELECT d.event_type, d.day, d.cents - st.m AS y
        | FROM daily d JOIN st USING (event_type)),
        |acf AS (
        | SELECT a.event_type, l.lag,
        |  CAST(sum(a.y * b.y) AS BIGINT) AS acf_num,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        | FROM c a CROSS JOIN (SELECT unnest(range(2, 11)) AS lag) l
        | JOIN c b ON b.event_type = a.event_type AND b.day = a.day + l.lag
        | GROUP BY 1, 2),
        |sc AS (
        | SELECT *, CAST(acf_num AS DOUBLE) / CAST(n_pairs AS DOUBLE)
        |  AS score
        | FROM acf),
        |r AS (
        | SELECT *, CASE WHEN n_pairs >= 2 THEN row_number() OVER (
        |   PARTITION BY event_type ORDER BY score DESC, lag ASC) END AS rn
        | FROM sc)
        |SELECT event_type, CAST(lag AS BIGINT) AS lag, acf_num, n_pairs,
        | score, coalesce(rn = 1, false) AS is_best
        |FROM r ORDER BY event_type, lag""".stripMargin,

    // WoE/IV replay: cross-multiplied integer odds, one IEEE ratio
    // divide, dyadic log2 via length(bin(x)) − 1
    "q_info_value" ->
      """WITH o AS (
        | SELECT o_orderpriority, o_orderstatus = 'F' AS is_bad
        | FROM orders),
        |tot AS (
        | SELECT CAST(sum(CASE WHEN is_bad THEN 0 ELSE 1 END) AS BIGINT)
        |   AS g_tot,
        |  CAST(sum(CASE WHEN is_bad THEN 1 ELSE 0 END) AS BIGINT)
        |   AS b_tot
        | FROM o),
        |per AS (
        | SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN is_bad THEN 0 ELSE 1 END) AS BIGINT)
        |   AS n_good,
        |  CAST(sum(CASE WHEN is_bad THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_bad
        | FROM o GROUP BY 1),
        |j AS (
        | SELECT p.*, t.g_tot, t.b_tot,
        |  p.n_good * t.b_tot AS odds_num,
        |  p.n_bad * t.g_tot AS odds_den
        | FROM per p CROSS JOIN tot t)
        |SELECT o_orderpriority, n_good, n_bad, odds_num, odds_den,
        | CASE WHEN odds_den > 0 THEN
        |  CAST(odds_num AS DOUBLE) / CAST(odds_den AS DOUBLE) END
        |  AS odds_ratio,
        | CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |  (length(bin(odds_num)) - 1) - (length(bin(odds_den)) - 1) END
        |  AS woe2,
        | CAST((odds_num - odds_den) *
        |  (CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |   (length(bin(odds_num)) - 1) - (length(bin(odds_den)) - 1) END)
        |  AS BIGINT) AS iv2_scaled
        |FROM j ORDER BY o_orderpriority""".stripMargin
  )
}
