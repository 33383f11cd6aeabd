package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic fixed-point PageRank over a weighted edge relation
  * (SURVEY.md §2 B74) — the Markov-steady-state rank of a transition
  * graph, the quality-weighting primitive behind CommonCrawl-style
  * domain ranking (harmonic/PageRank centrality feeds crawl and
  * training-mix decisions) and behind "which journey state dominates"
  * questions on event graphs.
  *
  * Determinism discipline (§11): the textbook power iteration is a
  * float fixpoint — unreproducible across engines and across
  * reduction orders. This form is EXACT INTEGER arithmetic end to
  * end, so a 1000-executor run, a local[32] run and the DuckDB
  * recursive-CTE oracle produce identical ranks:
  *  - ranks live at ×10⁹ fixed point (ppb);
  *  - edge probabilities at ×2³⁰ fixed point: p30 = (w·2³⁰) div outw
  *    (envelope: per-edge weight < 2³³ keeps w·2³⁰ in BIGINT —
  *    heavier graphs pre-scale weights by a power of two, the covar
  *    envelope rule);
  *  - one iteration: contrib(u,v) = (r(u)·p30) div 2³⁰ (each term
  *    floor-divided BEFORE the sum, so the sum is an exact integer —
  *    reduction-order-free), then
  *    r'(v) = (15·10⁹ div 100) div N + (85·Σcontrib) div 100 —
  *    damping 0.85 as exact integer ops;
  *  - iteration count is FIXED (no float convergence test).
  *
  * Documented deviation: rank mass lost to flooring and to dangling
  * nodes (no out-edges) is dropped, not redistributed — transition
  * graphs built from adjacent event pairs have no dangling nodes by
  * construction (every src appears), and the fixed-iteration ranks
  * are comparable ACROSS nodes, which is what the rank is for. Zero
  * self-edges are added so every node appears as a destination each
  * iteration (the oracle's recursive CTE references the rank relation
  * once; the same augmented edge set keeps both sides identical).
  *
  * Scale shape (100 TB): edge derivation is the heavy part — one
  * map-side-combined (src,dst) count shuffle over raw rows. The
  * iteration runs on the EDGE relation only (#distinct node pairs),
  * each superstep one shuffle join on src + one partial-agg on dst,
  * with [[graft.Tables.materialize]] truncating lineage per superstep (the
  * Pregel discipline — without it the plan doubles per iteration).
  * Ranks are #nodes rows; at dimension-table size Spark's AQE
  * broadcasts the rank side of the join on its own.
  */
object PageRank {

  val Scale = 1000000000L          // rank fixed point (ppb)
  val P30 = 1073741824L            // edge-probability fixed point, 2^30

  /** PageRank over `edges` (src: string, dst: string, w: long>0).
    * Returns (node, rank_ppb) — rank at iteration `iters`.
    *
    * Serving policy (round 15, the NSW walk-vs-scan precedent): the
    * EDGE DERIVATION is always distributed (that is the 100 TB-heavy
    * part — one map-side-combined count shuffle over raw rows), but
    * when the derived transition graph is SMALL (≤ `smallGraphEdges`
    * augmented edges — a bounded-model collect in the IvfIndex
    * training-envelope discipline), the fixed-point iteration runs
    * driver-side with the IDENTICAL integer arithmetic instead of
    * paying `iters` Spark jobs of fixed overhead on a relation of a
    * few rows (the gate's 5-node event-type graph spent 3.1 s on 12
    * supersteps of pure scheduling). Same floor divisions in the same
    * order → bit-identical ranks (spec-pinned both paths); pass
    * `smallGraphEdges = 0` to force the distributed loop.
    */
  def ranks(edges: DataFrame, damping100: Int = 85,
            iters: Int = 12, smallGraphEdges: Long = 100000L): DataFrame = {
    require(damping100 > 0 && damping100 < 100, s"damping $damping100")
    require(iters >= 1 && iters <= 100, s"iters $iters")
    val spark = edges.sparkSession
    val w = edges.groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))
    val ow = w.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val nodes = w.select(col("src").as("node"))
      .union(w.select(col("dst")))
      .distinct()
    // p30 floor-divided once, up front; zero self-edges make every
    // node a destination every iteration (contribution 0)
    val eAug = w.join(ow, "src")
      .select(col("src"), col("dst"), expr(s"(w * $P30) div outw").as("p30"))
      .union(nodes.select(col("node").as("src"), col("node").as("dst"),
        lit(0L).as("p30")))
      .transform(graft.Tables.materialize)
    val nEdges = eAug.count() // bounded action on the checkpointed relation

    if (nEdges <= smallGraphEdges) {
      // ---- small-graph fast path: same ops, zero supersteps -------
      val es = eAug.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
      val ns = es.map(_._2).distinct.sorted // every node is a dst (self-edges)
      val n = ns.length.toLong
      val teleport = ((100L - damping100) * Scale / 100) / n
      var r = ns.map(_ -> Scale / n).toMap
      for (_ <- 1 to iters) {
        val csum = new scala.collection.mutable.HashMap[String, Long]()
        ns.foreach(csum.put(_, 0L)) // self-edges guarantee presence
        es.foreach { case (s0, d0, p30) =>
          csum.put(d0, csum(d0) + (r(s0) * p30) / P30)
        }
        r = ns.map(nd => nd -> (teleport + damping100 * csum(nd) / 100)).toMap
      }
      import spark.implicits._
      return ns.map(nd => (nd, r(nd))).toSeq
        .toDF("node", "rank_ppb")
    }

    // ---- distributed Pregel loop ---------------------------------
    // N as a 1-row bounded relation (the 1-row crossJoin composition)
    val n1 = nodes.agg(count(lit(1)).as("n")).transform(graft.Tables.materialize)
    // Per-node teleport mass derives from the SAME damping parameter
    // as the contribution term — (1-d)·Scale — so teleport + damped
    // mass sums to 1 for ANY damping100, not just the default 85
    // (round-15 fix: was a hardcoded 15).
    val teleport = expr(s"(${(100L - damping100) * Scale / 100}L div n)")
    var r = nodes.crossJoin(n1)
      .select(col("node"), expr(s"${Scale}L div n").as("r"))
      .transform(graft.Tables.materialize)
    for (_ <- 1 to iters) {
      val contrib = r.join(eAug, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(expr(s"(r * p30) div $P30")).as("csum"))
      r = contrib.crossJoin(n1)
        .select(col("dst").as("node"),
          (teleport + expr(s"(${damping100}L * csum) div 100"))
            .as("r"))
        .transform(graft.Tables.materialize)
    }
    r.select(col("node"), col("r").as("rank_ppb"))
  }

  /** The identical computation as a DuckDB recursive CTE, over the
    * event-type transition graph of `table` (adjacent pairs per user
    * in (ts, event_id) order) — the oracle for `q_pagerank`.
    */
  def transitionOracleSql(table: String, damping100: Int = 85,
                          iters: Int = 12): String =
    s"""WITH RECURSIVE seqd AS (
       | SELECT event_type AS dst,
       |  lag(event_type) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS src
       | FROM $table
       |), w AS (
       | SELECT src, dst, count(*) AS w FROM seqd
       | WHERE src IS NOT NULL GROUP BY 1, 2
       |), ow AS (SELECT src, sum(w) AS outw FROM w GROUP BY 1),
       |nodes AS (
       | SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM w UNION SELECT dst FROM w)
       |), eaug AS (
       | SELECT w.src, w.dst, (w.w * $P30) // ow.outw AS p30
       | FROM w JOIN ow USING (src)
       | UNION ALL SELECT node, node, 0 FROM nodes
       |), nn AS (SELECT count(*) AS n FROM nodes),
       |pr AS (
       | SELECT 0 AS iter, node, $Scale // (SELECT n FROM nn) AS r
       | FROM nodes
       | UNION ALL
       | SELECT iter + 1, dst AS node,
       |  ${(100L - damping100) * Scale / 100} // (SELECT n FROM nn)
       |   + ($damping100 * csum) // 100 AS r
       | FROM (SELECT iter, dst, sum((r * p30) // $P30) AS csum
       |       FROM pr JOIN eaug ON pr.node = eaug.src
       |       WHERE iter < $iters GROUP BY 1, 2)
       |)
       |SELECT node AS event_type, CAST(r AS BIGINT) AS rank_ppb
       |FROM pr WHERE iter = $iters ORDER BY 1""".stripMargin
}
