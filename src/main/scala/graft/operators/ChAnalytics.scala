package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ClickHouse behavioral-analytics operators (reference main.py:65 —
  * ReplacingMergeTree tables exist to serve exactly this query family):
  * LIMIT BY, windowFunnel, retention.
  *
  * All three are per-entity computations: every window/aggregate below
  * partitions on the SAME entity key, so Catalyst plans exactly one
  * hash exchange per query regardless of how many stages stack — the
  * property that keeps them one-shuffle at 100 TB.
  */
object ChAnalytics {

  /** ClickHouse `LIMIT n BY key`: the first `n` rows of each key group
    * in `order`. row_number + filter compiles to WindowGroupLimit —
    * partial per-partition top-n BEFORE the exchange, so only ≤n rows
    * per key per input partition shuffle.
    */
  def limitBy(df: DataFrame, keys: Seq[Column], n: Int,
              order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** ClickHouse-style windowFunnel: per entity, how deep into the
    * `conds` sequence did it get, with every step inside `windowUs`
    * microseconds of the step-1 time.
    *
    * Semantics (documented deviation, deterministic on both engines):
    * greedy-from-earliest — step 1 anchors at the EARLIEST cond(0)
    * event; step i+1 is the earliest cond(i) event strictly after step
    * i and within the window of the anchor. ClickHouse searches all
    * chains (an O(n·k) stateful scan); the greedy variant is the
    * standard SQL-expressible form and identical on well-separated
    * funnels.
    *
    * Returns (entity, level): 0 if cond(0) never fired, else the
    * deepest step reached. The k stacked window-mins all share one
    * partitioning: one shuffle total.
    */
  def windowFunnel(events: DataFrame, entity: Column, ts: Column,
                   windowUs: Long, conds: Seq[Column]): DataFrame = {
    require(conds.nonEmpty)
    val w = Window.partitionBy("__ent")
    var df = events.select(
      entity.as("__ent") +: ts.as("__ts") +:
        conds.zipWithIndex.map { case (c, i) => c.as(s"__c$i") }: _*)
    df = df.withColumn("__t0", min(when(col("__c0"), col("__ts"))).over(w))
    for (i <- 1 until conds.length) {
      df = df.withColumn(s"__t$i",
        min(when(
          col(s"__c$i") && col(s"__t${i - 1}").isNotNull &&
            col("__ts") > col(s"__t${i - 1}") &&
            col("__ts") <= col("__t0") + windowUs,
          col("__ts"))).over(w))
    }
    val levels = conds.indices.map(i =>
      when(col(s"max_t$i").isNotNull, lit(i + 1)).otherwise(lit(0)))
    val aggs = conds.indices.map(i => max(col(s"__t$i")).as(s"max_t$i"))
    df.groupBy(col("__ent").as("entity"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("entity"), greatest(levels: _*).as("level"))
  }

  /** ClickHouse windowFunnel(window, 'strict_order') (round 10): like
    * [[windowFunnel]], but interventions break the chain — step i+1
    * must be the IMMEDIATELY NEXT event in the entity's stream after
    * step i (CH: "in A→B→D→C, the search for A→B→C stops at D"). With
    * a per-entity sequence number (row_number over (ts, tieBreak) — the
    * tie-break makes the stream a total order so both engines see the
    * same chain), "immediately next" is just seq == anchor_seq + i,
    * and 'strict_increase' is implied because seq strictly increases.
    *
    * Same greedy-from-earliest anchor as [[windowFunnel]] — and the
    * same DOCUMENTED DEVIATION: the chain is searched only from the
    * EARLIEST cond(0) event, while ClickHouse searches all chains and
    * returns the max level (stream A,X,A,B for pattern A→B→C: CH
    * strict_order returns 2, this returns 1 because the first A's
    * chain is broken by X). Greedy-from-earliest is the standard
    * SQL-expressible form; identical on well-separated funnels. Every
    * step must still fall within `windowUs` of the anchor. Level =
    * 1 + the longest consecutive prefix of matched steps (0 if
    * cond(0) never fired). One shuffle: the ranking window and every
    * per-step window min share the entity partitioning.
    */
  def windowFunnelStrictOrder(events: DataFrame, entity: Column, ts: Column,
                              tieBreak: Column, windowUs: Long,
                              conds: Seq[Column]): DataFrame = {
    require(conds.nonEmpty)
    val wOrd = Window.partitionBy("__ent").orderBy(col("__ts"), col("__tie"))
    val w = Window.partitionBy("__ent")
    var df = events.select(
      entity.as("__ent") +: ts.as("__ts") +: tieBreak.as("__tie") +:
        conds.zipWithIndex.map { case (c, i) => c.as(s"__c$i") }: _*)
      .withColumn("__seq", row_number().over(wOrd).cast("long"))
    df = df.withColumn("__s0", min(when(col("__c0"), col("__seq"))).over(w))
    df = df.withColumn("__t0",
      min(when(col("__c0") && col("__seq") === col("__s0"), col("__ts"))).over(w))
    for (i <- 1 until conds.length) {
      df = df.withColumn(s"__m$i",
        max(when(
          col(s"__c$i") && col("__seq") === col("__s0") + i &&
            col("__ts") <= col("__t0") + windowUs,
          lit(1)).otherwise(lit(0))).over(w))
    }
    val aggs = max(col("__s0")).as("__a0") +:
      (1 until conds.length).map(i => max(col(s"__m$i")).as(s"__a$i"))
    val agg = df.groupBy(col("__ent").as("entity")).agg(aggs.head, aggs.tail: _*)
    var chain: Column = lit(1)
    var lvl: Column = lit(1)
    for (i <- 1 until conds.length) {
      chain = chain * col(s"__a$i")
      lvl = lvl + chain
    }
    agg.select(col("entity"),
      when(col("__a0").isNull, lit(0)).otherwise(lvl).as("level"))
  }

  /** ClickHouse `ORDER BY … WITH FILL STEP s`: densify an integer
    * series so every step between min and max is present (missing rows
    * get NULLs — coalesce defaults at the call site).
    *
    * Scale shape: the bounds are a 2-value aggregate; the grid
    * (`sequence` + explode) materializes (hi-lo)/step rows. WITH FILL
    * is applied to already-aggregated series (rollups), so the join is
    * a small shuffle on the series key — never on raw events.
    */
  def withFill(df: DataFrame, orderCol: String, step: Long = 1L): DataFrame = {
    val b = df.agg(min(col(orderCol)).as("__lo"), max(col(orderCol)).as("__hi"))
    val grid = b.select(
      explode(sequence(col("__lo"), col("__hi"), lit(step))).as(orderCol))
    grid.join(df, Seq(orderCol), "left")
  }

  /** `WITH FILL` densified grid, per series, with gap rows LINEARLY
    * INTERPOLATED between their neighboring known points: v = v₀ +
    * (v₁−v₀)·(o−o₀)/(o₁−o₀). Known rows pass through exactly; rows
    * before the first / after the last known point stay NULL (no
    * extrapolation).
    *
    * DOCUMENTED DEVIATION from ClickHouse (like Downsample.lttb):
    * CH's `WITH FILL … INTERPOLATE (v AS expr)` evaluates `expr`
    * against the PREVIOUS row (LOCF-style carry) — that CH-faithful
    * mode is [[withFillLocf]]. Linear interpolation toward the next
    * known point is this library's own gap-fill semantics, offered
    * because monitoring backfills usually want it.
    *
    * Portability: order and value are exact longs; the interpolation
    * is ONE fixed IEEE tree per gap row (three correctly-rounded
    * long→double casts, one multiply, one divide) — bit-identical
    * cross-engine. The prev/next scan is two frame-bounded
    * last/first(ignoreNulls) windows sharing the series partitioning.
    *
    * Scale shape: like withFill, this applies to POST-AGGREGATED
    * series — the grid is (hi−lo)/step rows per series, the join and
    * both windows shuffle once on the series key, never on raw events.
    *
    * OUTPUT-CARDINALITY ENVELOPE (round 13): the output is input-
    * INDEPENDENT — one row per grid step per series, so a single
    * series spanning years at step=1µs would explode one `sequence`
    * array regardless of how few input points it has (the r12 scale
    * study's 11.1× at 100× users was exactly grid ∝ users × span).
    * `maxRowsPerSeries` bounds the worst span loudly (one tiny
    * aggregate over the per-series bounds — #series rows, not data);
    * pathological spans should coarsen `step` (or bucket upstream)
    * instead of raising the cap past executor memory.
    */
  def withFillInterpolate(df: DataFrame, series: Column, orderCol: Column,
                          value: Column, step: Long = 1L,
                          maxRowsPerSeries: Long = 1000000L): DataFrame = {
    val src = df.select(series.as("grp"), orderCol.as("__o"),
      value.as("__v"))
    // materialize the (#series)-row bounds once: the guard's check and
    // the grid both read it, and without the checkpoint the guard
    // would re-run the full input aggregation a second time
    val bounds = src.groupBy(col("grp"))
      .agg(min(col("__o")).as("__lo"), max(col("__o")).as("__hi"))
      .transform(graft.Tables.materialize)
    guardGrid(bounds, step, maxRowsPerSeries, "withFillInterpolate")
    val grid = bounds.select(col("grp"),
      explode(sequence(col("__lo"), col("__hi"), lit(step))).as("__o"))
    val wPrev = Window.partitionBy("grp").orderBy("__o")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("grp").orderBy("__o")
      .rowsBetween(0, Window.unboundedFollowing)
    grid.join(src, Seq("grp", "__o"), "left")
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(wPrev))
      .withColumn("__po",
        last(when(col("__v").isNotNull, col("__o")), ignoreNulls = true)
          .over(wPrev))
      .withColumn("__nv", first(col("__v"), ignoreNulls = true).over(wNext))
      .withColumn("__no",
        first(when(col("__v").isNotNull, col("__o")), ignoreNulls = true)
          .over(wNext))
      .select(col("grp"), col("__o").as("o"),
        when(col("__v").isNotNull, col("__v").cast("double"))
          .when(col("__pv").isNotNull && col("__nv").isNotNull,
            col("__pv").cast("double") +
              (col("__nv") - col("__pv")).cast("double") *
              (col("__o") - col("__po")).cast("double") /
              (col("__no") - col("__po")).cast("double"))
          .as("v_interp"))
  }

  /** ClickHouse `WITH FILL … INTERPOLATE (v AS v)` — the CARRY
    * (staircase / LOCF) mode (round 12): gap rows take the previous
    * known value verbatim; rows before the first known point stay
    * NULL. The monitoring-dashboard default. Exact — no arithmetic at
    * all, so any value type replays cross-engine. Same grid + one
    * frame-bounded ignoreNulls window as [[withFillInterpolate]] —
    * and the same output-cardinality envelope guard.
    */
  def withFillLocf(df: DataFrame, series: Column, orderCol: Column,
                   value: Column, step: Long = 1L,
                   maxRowsPerSeries: Long = 1000000L): DataFrame = {
    val src = df.select(series.as("grp"), orderCol.as("__o"),
      value.as("__v"))
    val bounds = src.groupBy(col("grp"))
      .agg(min(col("__o")).as("__lo"), max(col("__o")).as("__hi"))
      .transform(graft.Tables.materialize) // see withFillInterpolate
    guardGrid(bounds, step, maxRowsPerSeries, "withFillLocf")
    val grid = bounds.select(col("grp"),
      explode(sequence(col("__lo"), col("__hi"), lit(step))).as("__o"))
    val wPrev = Window.partitionBy("grp").orderBy("__o")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(src, Seq("grp", "__o"), "left")
      .select(col("grp"), col("__o").as("o"),
        last(col("__v"), ignoreNulls = true).over(wPrev).as("v_locf"))
  }

  /** Loud output-grid envelope check shared by the WITH FILL family:
    * refuses when any series would densify to more than `cap` grid
    * rows ((hi−lo)/step + 1 — a single `sequence` array on one
    * executor). Costs one aggregate over the per-series BOUNDS
    * relation (#series rows, post-aggregation), never over raw data.
    */
  private def guardGrid(bounds: DataFrame, step: Long, cap: Long,
                        op: String): Unit = {
    require(step > 0, s"$op: step must be positive, got $step")
    val worst = bounds
      .agg(max(expr(s"(__hi - __lo) div $step") + 1L).as("__w"))
      .collect()(0)
    if (!worst.isNullAt(0) && worst.getLong(0) > cap)
      throw new IllegalStateException(
        s"$op: a series would densify to ${worst.getLong(0)} grid rows " +
          s"(> maxRowsPerSeries=$cap) — one sequence() array per series " +
          "must fit in executor memory; coarsen step (or bucket the " +
          "order column upstream) instead of raising the cap")
  }

  /** ClickHouse retention(c0, c1, …): per entity, flag r0 = "c0 ever
    * held" and ri = "c0 held AND ci held". One aggregation pass.
    */
  def retention(events: DataFrame, entity: Column,
                conds: Seq[Column]): DataFrame = {
    require(conds.nonEmpty)
    val flags = conds.zipWithIndex.map { case (c, i) =>
      max(when(c, 1).otherwise(0)).as(s"__f$i")
    }
    val base = events.groupBy(entity.as("entity"))
      .agg(flags.head, flags.tail: _*)
    val rs = conds.indices.map { i =>
      (if (i == 0) col("__f0") === 1
       else col("__f0") === 1 && col(s"__f$i") === 1).as(s"r$i")
    }
    base.select(col("entity") +: rs: _*)
  }

  /** ClickHouse sequenceMatch(pattern)(ts, cond1, …): did the entity's
    * event stream contain the pattern? The CH pattern language maps
    * onto a plain regex over a per-entity code string: each event
    * becomes one character — the 1-based index of the first matching
    * condition, or 'x' — ordered by `order`; `(?N)` becomes the digit
    * N and `.*` stays `.*`. Strictly more general than CH (any regex
    * over the event alphabet works, e.g. `1x*2` for "nothing between").
    *
    * Conditions should be disjoint per event (as in CH practice);
    * overlaps resolve to the first matching condition.
    *
    * One groupBy on the entity = one shuffle; per-entity state is the
    * code string (1 byte/event) — the same order of buffering CH's
    * own sequenceMatch keeps per entity, and thousands of times
    * smaller than the events themselves.
    */
  def sequenceMatch(events: DataFrame, entity: Column,
                    order: Seq[Column], conds: Seq[Column],
                    pattern: String): DataFrame =
    sequenceAgg(events, entity, order, conds)
      .select(col("entity"), col("seq").rlike(pattern).as("matched"))

  /** ClickHouse sequenceCount(pattern)(ts, cond1, …): how many times
    * the pattern occurs, scanning left-to-right and restarting after
    * each match. That is exactly non-overlapping regex counting with
    * LAZY gaps — pass `1.*?2`, not `1.*2` (a greedy gap would swallow
    * the whole string and always count at most 1).
    */
  def sequenceCount(events: DataFrame, entity: Column,
                    order: Seq[Column], conds: Seq[Column],
                    pattern: String): DataFrame =
    sequenceAgg(events, entity, order, conds)
      .select(col("entity"),
        regexp_count(col("seq"), lit(pattern)).cast("long").as("n_matches"))

  /** ClickHouse `sequenceNextNode('forward', 'first_match')` (round
    * 12): per entity, the value of the event IMMEDIATELY AFTER the
    * first occurrence of the adjacent event chain `conds` — the path-
    * analysis primitive ("what do users do right after view→click?").
    *
    * The chain is ADJACENT (CH first_match semantics): cond(i) must
    * hold at exactly anchor+i in the (ts, tieBreak) total order.
    * matched(s) = AND_i lead(cond_i, i)(s); anchor = earliest matched
    * seq; the answer is `nextVal` at anchor + len(conds) (NULL if the
    * stream ends first or no match). Every window shares the entity
    * partitioning — one shuffle.
    */
  def sequenceNextNode(events: DataFrame, entity: Column, ts: Column,
                       tieBreak: Column, conds: Seq[Column],
                       nextVal: Column): DataFrame = {
    require(conds.nonEmpty)
    val wOrd = Window.partitionBy("__ent").orderBy(col("__ts"), col("__tie"))
    val w = Window.partitionBy("__ent")
    val base = events.select(
      entity.as("__ent") +: ts.as("__ts") +: tieBreak.as("__tie") +:
        nextVal.as("__nv") +:
        conds.zipWithIndex.map { case (c, i) => c.as(s"__c$i") }: _*)
      .withColumn("__seq", row_number().over(wOrd).cast("long"))
    val matched = conds.indices.map { i =>
      if (i == 0) col("__c0") else lead(col(s"__c$i"), i).over(wOrd)
    }.reduce(_ && _)
    base.withColumn("__m", matched)
      .withColumn("__anchor", min(when(col("__m"), col("__seq"))).over(w))
      .groupBy(col("__ent").as("entity"))
      .agg(max(when(col("__seq") === col("__anchor") + conds.length,
        col("__nv"))).as("next_node"))
  }

  /** Shared base of sequenceMatch/sequenceCount: per entity, the
    * order-sorted condition-code string (one char per event).
    */
  def sequenceAgg(events: DataFrame, entity: Column,
                  order: Seq[Column], conds: Seq[Column]): DataFrame = {
    require(conds.nonEmpty && conds.size <= 9)
    val code = conds.zipWithIndex.foldRight(lit("x")) { case ((c, i), acc) =>
      when(c, lit((i + 1).toString)).otherwise(acc)
    }
    events
      .select(entity.as("entity"),
        struct(order :+ code.as("__c"): _*).as("__e"))
      .groupBy("entity")
      .agg(array_join(
        transform(array_sort(collect_list(col("__e"))), e => e.getField("__c")),
        "").as("seq"))
  }

  /** ClickHouse `sequenceMatch` with TIME CONSTRAINTS (round 15) —
    * the `(?1)(?t<=X)(?2)(?t<=Y)(?3)` pattern family the plain
    * [[sequenceAgg]]-regex form cannot express (the code string drops
    * timestamps). Decides, per entity, whether an in-order event
    * subsequence exists matching every condition with each adjacent
    * gap ≤ its bound.
    *
    * Algorithm: one pass in (order) sequence as a CHAIN OF WINDOW
    * FUNCTIONS over one entity partitioning — stage k's state is the
    * LATEST timestamp at which stages 1..k completed among strictly
    * earlier rows (`max(...) OVER (ROWS UNBOUNDED PRECEDING .. 1
    * PRECEDING)`), and a row completes stage k when cond_k holds and
    * `ts − state_{k−1} ≤ gap_k`. Keeping the LATEST completion is
    * optimal for ≤-gap chains (monotone: a later stage-k completion
    * can only relax stage k+1's constraint), so the greedy decides
    * subsequence-EXISTENCE exactly — including the "backtracking"
    * cases (c1@0, c1@60, c2@100, X=50 matches via the @60 anchor,
    * which the latest-state rule picks up automatically; spec-pinned).
    *
    * Scale shape: ONE entity shuffle; the K window passes share the
    * partitioning and ordering (consecutive WindowExecs, no extra
    * exchange); per-row state is K BIGINTs. All codegen-friendly
    * column ops — no HOF, no per-entity array materialization. The
    * same SQL replays verbatim in DuckDB ([[sequenceMatchTimedSql]]).
    *
    * Output per entity: `matched` (full pattern seen), `first_done`
    * (earliest completion timestamp of the final stage; null when
    * unmatched).
    *
    * @param gaps   gap_k bounds maximum `order.head` distance between
    *               stage k and stage k+1 completions (size =
    *               conds.size − 1); the first condition has no gap
    */
  def sequenceMatchTimed(events: DataFrame, entity: Column, ts: Column,
                         tieBreak: Column, conds: Seq[Column],
                         gaps: Seq[Long]): DataFrame = {
    require(conds.size >= 2 && gaps.size == conds.size - 1,
      s"need n conds and n-1 gaps, got ${conds.size}/${gaps.size}")
    import org.apache.spark.sql.expressions.Window
    val baseCols = Seq(entity.as("entity"), ts.as("ts"),
      tieBreak.as("tb")) ++ conds.zipWithIndex.map { case (c, i) =>
        c.as(s"c${i + 1}") }
    val base = events.select(baseCols: _*)
    val w = Window.partitionBy("entity").orderBy(col("ts"), col("tb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // done1 = this row completes stage 1; sk = latest stage-k
    // completion among STRICTLY earlier rows
    var df = base.withColumn("done1",
      when(col("c1"), col("ts")))
    for (k <- 2 to conds.size) {
      df = df
        .withColumn(s"s${k - 1}", max(col(s"done${k - 1}")).over(w))
        .withColumn(s"done$k",
          when(col(s"c$k") &&
            col("ts") - col(s"s${k - 1}") <= gaps(k - 2), col("ts")))
    }
    df.groupBy("entity")
      .agg(max(col(s"done${conds.size}")).isNotNull.as("matched"),
        min(col(s"done${conds.size}")).as("first_done"))
  }

  /** The identical chain as engine-portable SQL (DuckDB replay): same
    * frame, same strict-precedence rule, same BIGINT gap arithmetic.
    * `condSqls` are boolean SQL expressions over the `from` relation's
    * columns; `tsSql`/`tieSql` name its order columns.
    */
  def sequenceMatchTimedSql(from: String, entitySql: String,
                            tsSql: String, tieSql: String,
                            condSqls: Seq[String],
                            gaps: Seq[Long]): String = {
    require(condSqls.size >= 2 && gaps.size == condSqls.size - 1)
    val over = s"OVER (PARTITION BY entity ORDER BY ts, tb " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    val base = s"SELECT $entitySql AS entity, $tsSql AS ts, " +
      s"$tieSql AS tb, " +
      condSqls.zipWithIndex.map { case (c, i) => s"($c) AS c${i + 1}" }
        .mkString(", ") + s" FROM $from"
    val chain = (2 to condSqls.size).foldLeft(
      s"SELECT *, CASE WHEN c1 THEN ts END AS done1 FROM ($base)") {
      (acc, k) =>
        s"""SELECT *, CASE WHEN c$k AND ts - s${k - 1} <= ${gaps(k - 2)}
           | THEN ts END AS done$k FROM (
           | SELECT *, max(done${k - 1}) $over AS s${k - 1}
           | FROM ($acc))""".stripMargin
    }
    s"""SELECT entity,
       | (max(done${condSqls.size}) IS NOT NULL) AS matched,
       | min(done${condSqls.size}) AS first_done
       |FROM ($chain) GROUP BY entity""".stripMargin
  }

  /** ClickHouse `sumMap(keys, values)` (round 12): per group, merge
    * every row's parallel key/value arrays into one map — sum per
    * distinct key, keys ascending. Output: (grp, keys array, values
    * array), positionally aligned.
    *
    * Shape at 100 TB: explode → two partial-aggregated groupBys
    * ((g,k) then g) — the same merge a ClickHouse `sumMap` state tree
    * does, except both levels map-side combine; per-group output is
    * bounded by the distinct-key count, never the row count. Pass a
    * DECIMAL value column for cross-engine-exact sums (the repo's
    * float-aggregate rule).
    */
  def sumMap(df: DataFrame, group: Column, keys: Column,
             values: Column): DataFrame = {
    val pairs = df.select(group.as("grp"),
        explode(zip_with(keys, values,
          (k, v) => struct(k.as("k"), v.as("v")))).as("__kv"))
      .select(col("grp"), col("__kv.k").as("__k"), col("__kv.v").as("__v"))
    pairs.groupBy(col("grp"), col("__k"))
      .agg(sum(col("__v")).as("__s"))
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("__k"), col("__s"))))
        .as("__arr"))
      .select(col("grp"),
        transform(col("__arr"), e => e.getField("__k")).as("keys"),
        transform(col("__arr"), e => e.getField("__s")).as("values"))
  }

  /** ClickHouse `minMap(keys, values)` / `maxMap(keys, values)` (round
    * 12): the per-key MIN and MAX sibling of [[sumMap]] — per group,
    * merge every row's parallel key/value arrays into one sorted map
    * carrying both extrema per distinct key. Output: (grp, keys,
    * mins, maxs), positionally aligned.
    *
    * Same 100 TB shape as [[sumMap]]: explode → two map-side-combinable
    * groupBys; per-group state is bounded by the distinct-key count.
    * min/max need no decimal detour — they ORDER values, never add
    * them, so any orderable type is cross-engine exact.
    */
  def minMaxMap(df: DataFrame, group: Column, keys: Column,
                values: Column): DataFrame = {
    val pairs = df.select(group.as("grp"),
        explode(zip_with(keys, values,
          (k, v) => struct(k.as("k"), v.as("v")))).as("__kv"))
      .select(col("grp"), col("__kv.k").as("__k"), col("__kv.v").as("__v"))
    pairs.groupBy(col("grp"), col("__k"))
      .agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(
        struct(col("__k"), col("__mn"), col("__mx")))).as("__arr"))
      .select(col("grp"),
        transform(col("__arr"), e => e.getField("__k")).as("keys"),
        transform(col("__arr"), e => e.getField("__mn")).as("mins"),
        transform(col("__arr"), e => e.getField("__mx")).as("maxs"))
  }

  /** ClickHouse `argMin(arg, val)` / `argMax(arg, val)` (round 12) with
    * a DETERMINISTIC tie rule (CH leaves ties unspecified): the winning
    * row is the lexicographic min/max of (val, tie, arg), so argMin
    * breaks equal values toward the smallest tie then smallest arg, and
    * argMax toward the largest of both. Implemented as ONE struct
    * min/max aggregate — fully map-side combinable, no window, no
    * second pass; per-group state is two structs regardless of row
    * count. Returns (grp, min_val, arg_min, max_val, arg_max).
    */
  def argMinMax(df: DataFrame, group: Column, value: Column,
                tie: Column, arg: Column): DataFrame =
    df.select(group.as("grp"),
        struct(value.as("v"), tie.as("t"), arg.as("a")).as("__s"))
      .groupBy(col("grp"))
      .agg(min(col("__s")).as("__mn"), max(col("__s")).as("__mx"))
      .select(col("grp"),
        col("__mn.v").as("min_val"), col("__mn.a").as("arg_min"),
        col("__mx.v").as("max_val"), col("__mx.a").as("arg_max"))

  /** ClickHouse `deltaSum(v)` (round 12): the sum of POSITIVE deltas
    * between consecutive values of a per-series stream — the standard
    * monotonic-counter rate aggregate (counter resets contribute a
    * negative delta, which is ignored; the first row has no
    * predecessor and contributes nothing, matching CH).
    *
    * `order` must be a total order within each series (pass a
    * tie-break column) or the consecutive pairs themselves are
    * engine-dependent. Pass a DECIMAL value column for cross-engine
    * exact sums (the repo's float-aggregate rule); each delta is one
    * exact decimal subtraction.
    *
    * Shape at 100 TB: the lag window and the final groupBy share the
    * series partitioning — exactly one shuffle; per-series state is
    * one running sum.
    */
  def deltaSum(df: DataFrame, series: Column, order: Seq[Column],
               value: Column): DataFrame = {
    val ord = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val w = Window.partitionBy("__s")
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    df.select(series.as("__s") +: value.as("__v") +: ord: _*)
      .withColumn("__d", col("__v") - lag(col("__v"), 1).over(w))
      .groupBy(col("__s").as("series"))
      .agg(sum(when(col("__d") > 0, col("__d")).otherwise(lit(0)))
        .as("delta_sum"))
  }

  /** ClickHouse `nonNegativeDerivative(v, t)` (round 12): per series,
    * the per-row rate max(0, Δv)/Δt against the previous point — the
    * PromQL-style counter rate as a window function (deltaSum's
    * per-row sibling; negative deltas are counter resets and clamp to
    * 0 rather than emitting a negative rate). First row of a series →
    * NULL (no predecessor); Δt = 0 (duplicate timestamps under a
    * total order cannot happen, but defensively) → NULL.
    *
    * Pass DECIMAL values: Δv is then one exact subtraction, and the
    * rate is one decimal→double cast + one IEEE divide — both
    * replayable. One window on the series partitioning, no aggregate.
    */
  def nonNegativeDerivative(df: DataFrame, series: Column,
                            order: Seq[Column], t: Column,
                            value: Column): DataFrame = {
    val ord = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val w = Window.partitionBy("__s")
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    df.select(series.as("__s") +: t.as("__t") +: value.as("__v") +: ord: _*)
      .withColumn("__pv", lag(col("__v"), 1).over(w))
      .withColumn("__pt", lag(col("__t"), 1).over(w))
      .select(col("__s").as("series"), col("__t").as("t"),
        when(col("__pv").isNull || col("__t") === col("__pt"), lit(null))
          .otherwise(
            greatest(col("__v") - col("__pv"), lit(0)).cast("double") /
              (col("__t") - col("__pt")).cast("double"))
          .as("rate"))
  }

  /** ClickHouse `boundingRatio(x, y)` (round 12): the slope between the
    * first and last point of each group — (argMax(y,x) − argMin(y,x)) /
    * (max(x) − min(x)), i.e. net change per unit x. Ties on x resolve
    * deterministically via `tie` (lexicographic struct order, same rule
    * as [[argMinMax]]); a single-x-value group divides by zero in CH —
    * here it returns NULL.
    *
    * One struct-min/max aggregate (map-side combinable, no window),
    * then one IEEE divide — deterministic cross-engine given identical
    * (x, y) endpoints.
    */
  def boundingRatio(df: DataFrame, group: Column, x: Column,
                    tie: Column, y: Column): DataFrame =
    df.select(group.as("grp"),
        struct(x.as("x"), tie.as("t"), y.as("y")).as("__s"))
      .groupBy(col("grp"))
      .agg(min(col("__s")).as("__mn"), max(col("__s")).as("__mx"))
      .select(col("grp"),
        when(col("__mx.x") === col("__mn.x"), lit(null))
          .otherwise((col("__mx.y") - col("__mn.y")) /
            (col("__mx.x") - col("__mn.x")).cast("double"))
          .as("bounding_ratio"))

  /** ClickHouse `sparkbar(buckets)(x)` (round 12): per group, an
    * inline unicode bar chart — one block glyph per x bucket, height
    * proportional to the bucket's ROW COUNT (the y-less CH overload;
    * a weighted variant would thread a value column through the same
    * shape). Bucket values outside [0, nBuckets) are DISCARDED by the
    * grid left-join — callers bucket first (`x % n`, `div`), exactly
    * like CH's own x-range clamp. Level rule is INTEGER:
    * level = ceil(8·n / max) ∈ [1, 8] for n ≥ 1 (computed as
    * (8n + max − 1) div max), 0 (space) for empty buckets — so the
    * glyph picks replay exactly cross-engine. Buckets are densified
    * against `grid` (a per-group cross join with the bucket domain) so
    * missing buckets render as gaps, like CH.
    *
    * Shape: one (grp, bucket) aggregate + one grp window for the max +
    * one collect bounded by the bucket count. The bar is ≤`buckets`
    * chars of state per group — a rollup artifact, never row-scale.
    */
  def sparkbar(df: DataFrame, group: Column, bucket: Column,
               nBuckets: Int): DataFrame = {
    val glyphs = " ▁▂▃▄▅▆▇█"
    val alpha = array(glyphs.map(c => lit(c.toString)): _*)
    val counts = df.select(group.as("grp"), bucket.as("__b"))
      .groupBy(col("grp"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val grid = counts.select(col("grp")).distinct()
      .select(col("grp"),
        explode(sequence(lit(0L), lit((nBuckets - 1).toLong))).as("__b"))
    val dense = grid.join(counts, Seq("grp", "__b"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    val w = Window.partitionBy("grp")
    dense
      .withColumn("__mx", max(col("__n")).over(w))
      .withColumn("__lvl",
        when(col("__n") === 0, lit(0L)).otherwise(
          expr("(__n * 8 + __mx - 1) div __mx")))
      .withColumn("__ch",
        element_at(alpha, (col("__lvl") + 1L).cast("int")))
      .groupBy(col("grp"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__b"), col("__ch")))),
        e => e.getField("__ch")), "").as("bar"))
  }

  /** ClickHouse `exponentialTimeDecayedAvg` with half-life = one time
    * unit (round 12): per group, the exponentially-decayed average of
    * `value` at the series end — newer points weigh 2× per unit.
    *
    * EXACT integer kernel: weight(t) = 2^(t − tmin) as a 64-bit shift
    * (the scaling by 2^tmin cancels in num/den), so the decayed
    * average is ONE final long→double divide — no pow/exp anywhere
    * (libm-portable by construction, the repo's τ=1/2 lesson).
    *
    * Envelope: Σ value·2^(span) must fit in a long — callers window
    * the horizon to ≲ 30 units (CH's own function takes an explicit
    * window for the same reason). The weight-sum overflow fails
    * loudly under ANSI, but the SHIFT ITSELF would not: Java shifts
    * take the amount mod 64, so a 70-unit span would produce silently
    * WRONG weights — hence the explicit raise_error guard at span >
    * 62. One aggregate + one window sharing the group partitioning.
    */
  def expDecayedAvg(df: DataFrame, group: Column, t: Column,
                    value: Column): DataFrame = {
    val w = Window.partitionBy("grp")
    df.select(group.as("grp"), t.as("__t"), value.as("__v"))
      .withColumn("__tmin", min(col("__t")).over(w))
      .withColumn("__w",
        when(col("__t") - col("__tmin") > 62,
          raise_error(concat(lit("expDecayedAvg: span exceeds the 62-"),
            lit("unit 64-bit weight envelope — window the horizon "),
            lit("(shift amounts wrap mod 64 SILENTLY past this point)"))))
          .otherwise(
            expr("shiftleft(cast(1 as bigint), cast(__t - __tmin as int))")))
      .groupBy(col("grp"))
      .agg((sum(col("__v") * col("__w")).cast("double") /
        sum(col("__w")).cast("double")).as("decayed_avg"))
  }

  /** ClickHouse `maxIntersections(start, end)` (round 12): the
    * maximum number of simultaneously open [start, end) intervals
    * per group — peak concurrency.
    *
    * Semantics: half-open — intervals sharing only an endpoint never
    * overlap. The delta sort (t asc, then −1 before +1) applies every
    * close before any open at the same instant, and the running sum
    * uses the DEFAULT RANGE frame, so PEER rows (equal (t, d))
    * aggregate together — tie order between equal rows cannot change
    * the result, which is what lets the oracle replay it with its own
    * default-frame window.
    *
    * Shape at 100 TB: 2 rows per interval, one window partitioned by
    * the group key (one shuffle), max per group. Never materializes
    * pairwise overlaps.
    */
  def maxIntersections(df: DataFrame, group: Column, start: Column,
                       end: Column): DataFrame = {
    val deltas = df.select(group.as("grp"), start.as("__t"),
        lit(1L).as("__d"))
      .unionAll(df.select(group.as("grp"), end.as("__t"),
        lit(-1L).as("__d")))
    val w = Window.partitionBy("grp").orderBy(col("__t"), col("__d"))
    deltas.withColumn("__run", sum(col("__d")).over(w))
      .groupBy(col("grp"))
      .agg(max(col("__run")).as("max_intersections"))
  }

  /** ClickHouse `intervalLengthSum(start, end)` (round 12): total
    * length of the UNION of [start, end) intervals per group —
    * overlaps counted once, touching endpoints merge seamlessly
    * (half-open).
    *
    * Same delta sweep as [[maxIntersections]]: a segment between one
    * sweep row and the next is covered iff the running interval count
    * is > 0 there. Tie rows (equal (t, d)) are RANGE-frame peers with
    * identical running sums, and every segment between same-t rows
    * has zero length, so exactly one row per distinct t contributes
    * `next_t − t` — the total is independent of the engine's tie
    * order, which lets the oracle replay it with its own lead()
    * ordering. All-integer arithmetic → exact on both engines.
    *
    * Shape at 100 TB: 2 rows per interval, one window partitioned by
    * the group key (one shuffle), sum per group. Never materializes
    * the merged interval list.
    */
  def intervalLengthSum(df: DataFrame, group: Column, start: Column,
                        end: Column): DataFrame = {
    val deltas = df.select(group.as("grp"), start.as("__t"),
        lit(1L).as("__d"))
      .unionAll(df.select(group.as("grp"), end.as("__t"),
        lit(-1L).as("__d")))
    val w = Window.partitionBy("grp").orderBy(col("__t"), col("__d"))
    deltas
      .withColumn("__run", sum(col("__d")).over(w))
      .withColumn("__next_t", lead(col("__t"), 1).over(w))
      .where(col("__run") > 0 && col("__next_t").isNotNull)
      .groupBy(col("grp"))
      .agg(sum(col("__next_t") - col("__t")).as("interval_length_sum"))
  }
}
