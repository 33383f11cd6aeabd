package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Portable fixed-parameter HyperLogLog (SURVEY.md §2 B6b): the
  * approximate-distinct sketch behind `q_uniq_approx`, defined so that
  * a DuckDB SQL reimplementation produces BIT-IDENTICAL estimates —
  * which is what lets the gate hash-compare it (HLL++'s internals are
  * not portable; `uniq()` CH-compat in GraftExtensions keeps mapping to
  * HLL++, this sketch is the gated twin).
  *
  * Sketch definition (classic Flajolet HLL, m = 2^10 registers):
  *  - h   = xxhash64(value as BIGINT), seed 42 (8-byte LE block);
  *  - register index = low P bits of h; rest = h >>> P (54 bits);
  *  - rho = (W+1) - bitlength(rest), i.e. leading zeros in rest + 1,
  *    with rest == 0 -> W+1; registers saturate at Cap = 31;
  *  - estimate = alpha * m^2 / sum(2^-M_j), with the standard
  *    linear-counting branch (E <= 2.5m and empty registers exist).
  *
  * Cross-engine determinism by construction:
  *  - the register sum is kept as the exact INTEGER sum of
  *    2^(Cap - M_j) (max m * 2^Cap = 2^41 — exact in BIGINT, in
  *    HUGEINT, and in the one double conversion), so it is reduction-
  *    order-independent — on a 1000-executor cluster as much as
  *    between engines;
  *  - bitlength via length(bin(x)) — `bin` prints the minimal binary
  *    form identically in Spark and DuckDB;
  *  - the raw branch is one IEEE multiply + divide on Scala-
  *    precomputed double constants (inlined into the SQL via shortest
  *    round-trip literals) — correctly rounded, hence engine-identical;
  *  - the linear-counting branch needs ln, which libms do NOT round
  *    identically — but its argument is the integer empty-register
  *    count V in [1, m], so both engines read m*ln(m/V) from the same
  *    1024-entry constant table ([[Lut]]) instead of calling ln.
  *
  * Scale shape: one shuffle of (group, register, rho) — 2^10 registers
  * of one byte each per group bound the state regardless of input
  * size; map-side partial max applies. No row-level state survives
  * the first aggregation.
  */
object HllPortable {

  val P = 10
  val M: Int = 1 << P            // 1024 registers
  val W: Int = 64 - P            // bits feeding rho
  val Cap = 31                   // register saturation (keeps sums in BIGINT)

  /** Standard alpha_m approximation for m >= 128, fixed at build time. */
  val Alpha: Double = 0.7213 / (1.0 + 1.079 / M)

  /** alpha * m^2 * 2^Cap — numerator of the raw estimator over the
    * SCALED register sum (sum of 2^(Cap-M_j)).
    */
  val Num: Double = Alpha * M.toDouble * M.toDouble * (1L << Cap).toDouble

  /** Linear-counting table: Lut(v-1) = m * ln(m/v), v = 1..m. */
  val Lut: Array[Double] =
    Array.tabulate(M)(i => M.toDouble * math.log(M.toDouble / (i + 1)))

  private val RawThreshold: Double = 2.5 * M

  /** Approximate distinct `value` per `groupCol`, as column `outCol`
    * (BIGINT). NULL values are ignored (count-distinct semantics).
    *
    * Hash dispatch (round-7, closes the long-only wart): integral /
    * boolean values go through the 8-byte-LE kernel (`cast("long")`)
    * that [[oracleSql]] reproduces bit-exactly in DuckDB; every other
    * type (string, binary, float, …) is hashed NATIVELY by Spark's
    * xxhash64 over its own representation — same sketch math, same
    * accuracy, but no cross-engine oracle (DuckDB would need a
    * variable-length XXH64 kernel). Previously a string column
    * silently cast to NULL → one register → estimate ~1.
    */
  def estimate(df: DataFrame, groupCol: String, value: Column,
               outCol: String): DataFrame =
    estimateFromRegisters(registers(df, Seq(groupCol), value),
      Seq(groupCol), outCol)

  /** The sketch STATE per group: one (groupCols..., _idx, _reg) row
    * per populated register — the CH `uniqState` analog for this
    * portable sketch. States are REAGGREGATABLE: union sketches by
    * taking max(_reg) per (coarser-group, _idx), then estimate with
    * [[estimateFromRegisters]] — per-day partials roll up to any
    * coarser grain without touching raw data, because register max is
    * associative and commutative.
    */
  def registers(df: DataFrame, groupCols: Seq[String],
                value: Column): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = df.select(value).schema.head.dataType
    val hv = dt match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType =>
        xxhash64(value.cast("long"))
      case _ => xxhash64(value)
    }
    val hashed = df.where(value.isNotNull)
      .select(groupCols.map(col) :+ hv.as("_h"): _*)
    val rest = expr(s"shiftrightunsigned(_h, $P)")
    val rho = when(rest === 0L, lit(W + 1))
      .otherwise(lit(W + 1) - length(bin(rest)))
    hashed
      .groupBy(groupCols.map(col) :+
        col("_h").bitwiseAND(lit((M - 1).toLong)).as("_idx"): _*)
      .agg(max(least(rho, lit(Cap))).as("_reg"))
  }

  /** Estimate from (possibly merged) register rows. */
  def estimateFromRegisters(regs: DataFrame, groupCols: Seq[String],
                            outCol: String): DataFrame = {
    val agg = regs.groupBy(groupCols.map(col): _*)
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $Cap - _reg)")).as("_s"),
        count(lit(1)).as("_c"))
    val scaledSum = (col("_s") + (lit(M.toLong) - col("_c")) * lit(1L << Cap))
      .cast("double")
    val v = (lit(M.toLong) - col("_c")).cast("int")
    val eRaw = lit(Num) / scaledSum
    val e = when(v > 0 && eRaw <= lit(RawThreshold), element_at(typedlit(Lut), v))
      .otherwise(eRaw)
    agg.select(groupCols.map(col) :+ floor(e).cast("long").as(outCol): _*)
  }

  /** SLIDING-WINDOW distinct (round 14): distinct `value` per `dayCol`
    * over the TRAILING `windowDays`-day window — the "distinct users
    * over the last N days, per day" rollup — computed by register-max
    * MERGING the per-day sketches instead of re-counting raw rows per
    * window. This is the -State/-Merge pattern's killer use: raw
    * recount touches each row `windowDays` times (N× the I/O at
    * 100 TB); here each row feeds ONE day sketch and the merge runs
    * over bounded state (#days × m one-byte registers). Windows at the
    * start of history merge fewer than `windowDays` sketches
    * (truncated trailing window — deterministic, oracle-mirrored).
    *
    * Plan: one shuffle builds daily registers; the day↔window mapping
    * is a bounded #days×windowDays relation (explode over offsets,
    * broadcast-joined); the merge aggregates #days×windowDays×m
    * register rows. No raw value ever crosses twice.
    */
  def slidingDistinct(df: DataFrame, dayCol: String, value: Column,
                      windowDays: Int, outCol: String): DataFrame = {
    require(windowDays >= 1)
    val daily = registers(df, Seq(dayCol), value)
    val days = daily.select(dayCol).distinct()
    val mapping = days
      .select(col(dayCol).as("_day_in"),
        explode(sequence(lit(0L), lit(windowDays - 1L))).as("_off"))
      .select(col("_day_in"), (col("_day_in") + col("_off")).as("_day_out"))
    val merged = daily
      .join(broadcast(mapping), col(dayCol) === col("_day_in"))
      .groupBy(col("_day_out").as(dayCol), col("_idx"))
      .agg(max("_reg").as("_reg"))
      // day_out slots past the last observed day exist in the mapping
      // but are not report rows — keep the observed days only
      .join(broadcast(days), Seq(dayCol), "left_semi")
    estimateFromRegisters(merged, Seq(dayCol), outCol)
  }

  /** [[slidingDistinct]]'s DuckDB twin over a BIGINT value column. */
  def slidingDistinctSql(table: String, dayExpr: String, valueCol: String,
                         windowDays: Int, outCol: String): String = {
    val lut = Lut.mkString("[", ",", "]")
    val kernel = graft.DedupOracles.xxh64LongCtes("base", "day", "uv")
    s"""WITH base AS (
       | SELECT DISTINCT $dayExpr AS day, $valueCol AS uv FROM $table
       | WHERE $valueCol IS NOT NULL
       |), $kernel,
       |regs AS (
       | SELECT day, CAST(hu % $M AS BIGINT) AS idx,
       |  max(least(CASE WHEN hu // $M = 0 THEN ${W + 1}
       |       ELSE ${W + 1} - length(bin(CAST(hu // $M AS BIGINT))) END,
       |      $Cap)) AS reg
       | FROM xh GROUP BY 1, 2
       |), days AS (SELECT DISTINCT day FROM regs),
       |mapping AS (
       | SELECT day AS day_in, day + off AS day_out
       | FROM days, unnest(range(0, $windowDays)) AS t(off)),
       |merged AS (
       | SELECT m.day_out AS day, r.idx, max(r.reg) AS reg
       | FROM regs r JOIN mapping m ON r.day = m.day_in
       | WHERE m.day_out IN (SELECT day FROM days)
       | GROUP BY 1, 2
       |), agg AS (
       | SELECT day,
       |  sum(CAST(1 AS BIGINT) << CAST($Cap - reg AS BIGINT)) AS s_present,
       |  count(*) AS c
       | FROM merged GROUP BY 1
       |), est AS (
       | SELECT day,
       |  CAST(s_present + ($M - c) * ${1L << Cap} AS DOUBLE) AS sd,
       |  CAST($M - c AS BIGINT) AS v
       | FROM agg)
       |SELECT day,
       | CAST(floor(CASE WHEN v > 0 AND ($Num / sd) <= $RawThreshold
       |   THEN (($lut)::DOUBLE[])[CAST(v AS BIGINT)] ELSE ($Num / sd) END) AS BIGINT)
       |  AS $outCol
       |FROM est ORDER BY day""".stripMargin
  }

  /** BOUNDED-STATE pairwise audience overlap (SURVEY.md §2 B13b): for
    * every pair of groups, estimate |users(a) ∩ users(b)| by
    * inclusion-exclusion over HLL register states —
    * |A∩B| = Ê(A) + Ê(B) − Ê(A∪B), where Ê(A∪B) comes from the
    * register-wise MAX of the two sketches (exactly the distribution
    * of the union's sketch, the classic HLL merge).
    *
    * This is the 100-TB shape of `q_audience_overlap`: per-group state
    * is ≤ m = 1024 one-byte registers REGARDLESS of audience size —
    * never a collected user array — so a 100M-user audience costs the
    * same 1 KB of aggregation state as a 10-user one. One shuffle
    * builds every group's registers; the pair stage runs over
    * #groups² × m rows of sketch state, no user ids. The estimate's
    * error is the usual HLL ±1.04/√m per cardinality (≈3.3% at
    * m=1024), so the DIFFERENCE can be off by a few percent of the
    * union — the exact-array query remains the small-audience path.
    *
    * Returns (g_a, g_b, uniq_a, uniq_b, uniq_union, overlap_est) for
    * g_a < g_b, all BIGINT; bit-identical to [[pairwiseOverlapSql]].
    */
  def pairwiseOverlap(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    // registers: #groups × ≤1024 rows — materialize once, reused by
    // the per-group estimates and both sides of every pair merge
    val regs = registers(df, Seq(groupCol), value).transform(graft.Tables.materialize)
    val est = estimateFromRegisters(regs, Seq(groupCol), "uniq")
    val groups = regs.select(col(groupCol)).distinct()
    val pairs = groups.select(col(groupCol).as("g_a"))
      .join(groups.select(col(groupCol).as("g_b")), col("g_a") < col("g_b"))
    val contrib = pairs
      .join(regs.withColumnRenamed(groupCol, "g_a"), "g_a")
      .select(col("g_a"), col("g_b"), col("_idx"), col("_reg"))
      .union(pairs
        .join(regs.withColumnRenamed(groupCol, "g_b"), "g_b")
        .select(col("g_a"), col("g_b"), col("_idx"), col("_reg")))
    val uregs = contrib.groupBy("g_a", "g_b", "_idx")
      .agg(max(col("_reg")).as("_reg"))
    estimateFromRegisters(uregs, Seq("g_a", "g_b"), "uniq_union")
      .join(est.select(col(groupCol).as("g_a"), col("uniq").as("uniq_a")), "g_a")
      .join(est.select(col(groupCol).as("g_b"), col("uniq").as("uniq_b")), "g_b")
      .select(col("g_a"), col("g_b"), col("uniq_a"), col("uniq_b"),
        col("uniq_union"),
        greatest(lit(0L), col("uniq_a") + col("uniq_b") - col("uniq_union"))
          .as("overlap_est"))
  }

  /** The identical sketch as DuckDB SQL over `table`, with the XXH64
    * long kernel from [[graft.DedupOracles.xxh64LongCtes]]; set
    * `stringKernel = true` for string-typed `valueCol` — then the hash
    * is the round-8 VARIABLE-LENGTH byte kernel
    * ([[graft.DedupOracles.xxh64BytesCtes]], bit-exact vs Spark's
    * `xxhash64` over strings in XxHashBytesOracleSpec), closing the
    * "native-hash path has no cross-engine oracle" asymmetry.
    */
  def oracleSql(table: String, groupCol: String, valueCol: String,
                outCol: String, stringKernel: Boolean = false): String = {
    val lut = Lut.mkString("[", ",", "]")
    val kernel =
      if (stringKernel) graft.DedupOracles.xxh64BytesCtes("base", groupCol, "uv")
      else graft.DedupOracles.xxh64LongCtes("base", groupCol, "uv")
    s"""WITH base AS (
       | SELECT DISTINCT $groupCol, $valueCol AS uv FROM $table
       | WHERE $valueCol IS NOT NULL
       |), $kernel,
       |regs AS (
       | SELECT $groupCol, CAST(hu % $M AS BIGINT) AS idx,
       |  max(least(CASE WHEN hu // $M = 0 THEN ${W + 1}
       |       ELSE ${W + 1} - length(bin(CAST(hu // $M AS BIGINT))) END,
       |      $Cap)) AS reg
       | FROM xh GROUP BY 1, 2
       |), agg AS (
       | SELECT $groupCol,
       |  sum(CAST(1 AS BIGINT) << CAST($Cap - reg AS BIGINT)) AS s_present,
       |  count(*) AS c
       | FROM regs GROUP BY 1
       |), est AS (
       | SELECT $groupCol,
       |  CAST(s_present + ($M - c) * ${1L << Cap} AS DOUBLE) AS sd,
       |  CAST($M - c AS BIGINT) AS v
       | FROM agg)
       |SELECT $groupCol,
       | CAST(floor(CASE WHEN v > 0 AND ($Num / sd) <= $RawThreshold
       |   THEN (($lut)::DOUBLE[])[CAST(v AS BIGINT)] ELSE ($Num / sd) END) AS BIGINT)
       |  AS $outCol
       |FROM est ORDER BY $groupCol""".stripMargin
  }

  /** [[pairwiseOverlap]]'s DuckDB twin — registers, per-group and
    * register-max-merged union estimates, inclusion-exclusion — over
    * a BIGINT `valueCol` (the proven 8-byte-LE XXH64 kernel). Output
    * column names follow the Spark side: (g_a, g_b, uniq_a, uniq_b,
    * uniq_union, overlap_est), ordered by (g_a, g_b).
    */
  def pairwiseOverlapSql(table: String, groupCol: String,
                         valueCol: String): String = {
    val lut = Lut.mkString("[", ",", "]")
    val kernel = graft.DedupOracles.xxh64LongCtes("base", "g", "uv")
    // per-group estimate CTE body, parameterized on the grouping keys;
    // lutt carries the 1024-entry linear-counting table once
    def estSql(regsCte: String, g: String, outCol: String): String =
      s"""SELECT $g,
         |  CAST(floor(CASE WHEN v > 0 AND ($Num / sd) <= $RawThreshold
         |    THEN arr[CAST(v AS BIGINT)] ELSE ($Num / sd) END) AS BIGINT) AS $outCol
         | FROM (SELECT $g,
         |    CAST(s_present + ($M - c) * ${1L << Cap} AS DOUBLE) AS sd,
         |    CAST($M - c AS BIGINT) AS v
         |  FROM (SELECT $g,
         |     sum(CAST(1 AS BIGINT) << CAST($Cap - reg AS BIGINT)) AS s_present,
         |     count(*) AS c
         |    FROM $regsCte GROUP BY $g)), lutt""".stripMargin
    s"""WITH lutt AS (SELECT ($lut)::DOUBLE[] AS arr),
       |base AS (
       | SELECT DISTINCT $groupCol AS g, $valueCol AS uv FROM $table
       | WHERE $valueCol IS NOT NULL
       |), $kernel,
       |regs AS (
       | SELECT g, CAST(hu % $M AS BIGINT) AS idx,
       |  max(least(CASE WHEN hu // $M = 0 THEN ${W + 1}
       |       ELSE ${W + 1} - length(bin(CAST(hu // $M AS BIGINT))) END,
       |      $Cap)) AS reg
       | FROM xh GROUP BY 1, 2
       |), est AS (
       |${estSql("regs", "g", "uniq")}
       |), pairs AS (
       | SELECT a.g AS g_a, b.g AS g_b
       | FROM (SELECT DISTINCT g FROM regs) a
       | JOIN (SELECT DISTINCT g FROM regs) b ON a.g < b.g
       |), uregs AS (
       | SELECT g_a, g_b, idx, max(reg) AS reg FROM (
       |  SELECT p.g_a, p.g_b, r.idx, r.reg FROM pairs p JOIN regs r ON r.g = p.g_a
       |  UNION ALL
       |  SELECT p.g_a, p.g_b, r.idx, r.reg FROM pairs p JOIN regs r ON r.g = p.g_b)
       | GROUP BY 1, 2, 3
       |), uest AS (
       |${estSql("uregs", "g_a, g_b", "uniq_union")}
       |)
       |SELECT u.g_a, u.g_b, ea.uniq AS uniq_a, eb.uniq AS uniq_b,
       | u.uniq_union,
       | greatest(0, ea.uniq + eb.uniq - u.uniq_union) AS overlap_est
       |FROM uest u
       | JOIN est ea ON ea.g = u.g_a
       | JOIN est eb ON eb.g = u.g_b
       |ORDER BY u.g_a, u.g_b""".stripMargin
  }
}
