package graft

import org.apache.spark.CheckpointDirScope
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Scale-behavior spec: the fixed 500-doc test corpus can't exercise
  * candidate-generation blowup, so this derives a ~12k-doc corpus
  * deterministically from lineitem keys (diverse hex-word shingles,
  * near-zero cross-doc Jaccard) and plants 5% exact duplicates.
  * Asserts full recall AND that LSH candidate count stays linear-ish —
  * the property that decides whether the operator survives 100 TB.
  */
class DedupStressSpec extends SparkFunSuite {

  private lazy val corpus = {
    val base = Tables.lineitem(spark, sf) // ~6k rows at sf0.001
      // full corpus: affordable since the fused MinHash128 kernel
      // (the %2 runtime-budget filter predates it)
      .select(col("l_orderkey"), col("l_linenumber"))
      .withColumn("doc_id",
        col("l_orderkey") * 10 + col("l_linenumber"))
      .withColumn("text", expr(
        // 20 pseudo-random hex words per doc, seeded by the key
        """array_join(transform(sequence(1, 20),
          |  i -> hex(xxhash64(l_orderkey * 7919 + l_linenumber * 104729 + i))),
          |' ')""".stripMargin))
      .select("doc_id", "text")
      // the synthetic lineitem repeats (orderkey, linenumber) pairs —
      // dedup ids so the corpus has one row per doc
      .dropDuplicates("doc_id")
    // doc_id = orderkey*10 + linenumber(1..7): plant on the %40==1
    // residue (orderkey%4==0, linenumber 1) — a real, nonempty slice
    val dupes = base.filter(col("doc_id") % 40 === 1)
      .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
    base.unionByName(dupes).localCheckpoint(eager = true)
  }

  test("fused MinHash128 kernel is bit-identical to the declarative form") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .union(corpus.limit(200)) // mixed real + synthetic shapes
      .union(Seq((9000001L, ""), (9000002L, "ab"), (9000003L, "exact"),
        // multi-byte UTF-8 edges: the r17 byte-offset walk must agree
        // with the char-indexed substringSQL form on 2/3/4-byte chars
        (9000004L, "héllo wörld ßtraße"), (9000005L, "中文分词测试句子"),
        (9000006L, "mixé中ab🙂x yz🙂🙂"), (9000007L, "éé"))
        .toDF("doc_id", "text")) // shorter-than-shingle edges
    val both = docs.select(
      graft.functions.MinHash128.signature(col("text")).as("fused"),
      Dedup.minhashSignature(Dedup.shingleHashes(col("text"))).as("ref"))
    assert(both.filter(col("fused") =!= col("ref")).count() == 0)
  }

  test("fused ShingleSet kernel is bit-identical to " +
      "array_sort(array_distinct(shingleHashes)) — incl. multi-byte UTF-8") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .union(corpus.limit(200))
      .union(Seq((9000001L, ""), (9000002L, "ab"), (9000003L, "exact"),
        (9000004L, "héllo wörld ßtraße"), (9000005L, "中文分词测试句子"),
        (9000006L, "mixé中ab🙂x yz🙂🙂"), (9000007L, "éé"),
        (9000008L, "aaaaaaaaaaaaaaaa")) // duplicate shingles collapse
        .toDF("doc_id", "text"))
    val both = docs.select(
      graft.functions.ShingleSet.sorted(col("text")).as("fused"),
      array_sort(array_distinct(Dedup.shingleHashes(col("text")))).as("ref"))
    assert(both.filter(col("fused") =!= col("ref")).count() == 0)
  }

  test("sigAgreeCount kernel agrees with the declarative zip_with " +
      "estimate at the filter seam (exact for every keepable pair)") {
    val t = 0.5; val need = math.ceil(t * 128 - 1e-9).toLong
    val sigs = DedupQueries.corpus(spark, sf).limit(300)
      .select(col("doc_id"),
        graft.functions.MinHash128.signature(col("text")).as("sig"))
      .localCheckpoint(eager = true)
    val both = sigs.as("l").join(sigs.as("r"),
        col("l.doc_id") < col("r.doc_id"))
      .select(
        graft.functions.SetOps.sigAgreeCount(col("l.sig"), col("r.sig"),
          lit(need)).as("kern"),
        aggregate(zip_with(col("l.sig"), col("r.sig"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("long").as("decl"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val (kern, decl) = (r.getLong(0), r.getLong(1))
      // same verdict on both sides of the threshold...
      assert((kern >= need) == (decl >= need))
      // ...and the exact count whenever the filter could keep the row
      if (decl >= need) assert(kern == decl)
    }
  }

  test("thresholded editDistancePairs is row-identical to the unbounded form") {
    // the r17 swap to levenshtein(a, b, maxDist) must keep every pair
    // the old filter(dist <= maxDist) kept, with the same exact dist
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .union(Seq( // planted block-mates: within, at, and beyond maxDist
        (8000001L, "prefixab hello world from the fuzzy dedup spec"),
        (8000002L, "prefixab hello w0rld from the fuzzy dedup spec"),
        (8000003L, "prefixab hello world from the fuzzy dedup spev"),
        (8000004L, "prefixab zzz qqq entirely different tail text here"))
        .toDF("doc_id", "text"))
    val bounded = Dedup.editDistancePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val p = docs.select(col("doc_id"),
        substring(lower(trim(col("text"))), 1, 64).as("pre"))
      .withColumn("blk", substring(col("pre"), 1, 8))
    val unbounded = p.as("a").join(p.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.pre"), col("b.pre")).cast("long").as("dist"))
      .filter(col("dist") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bounded == unbounded)
    assert(bounded.nonEmpty) // a vacuous equality proves nothing
  }

  test("incremental minhashPairsAgainst agrees with the symmetric operator") {
    import spark.implicits._
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val incoming = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")) // exact copies
      .union(Seq((2000001L, "totally novel zzqx wvut plomk content " * 8))
        .toDF("doc_id", "text"))
    val cross = Dedup.minhashPairsAgainst(
        Dedup.signatures(incoming, "doc_id", "text"),
        Dedup.signatures(base, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every exact copy must hit its original in the store
    val copies = base.filter(col("doc_id") % 10 === 0)
      .select("doc_id").as[Long].collect()
    copies.foreach { id =>
      assert(cross.contains((id + 1000000, id)), s"copy of $id missed") }
    // the novel doc hits nothing
    assert(!cross.exists(_._1 == 2000001L))
    // cross-side pairs of the symmetric operator over the union match
    val sym = Dedup.minhashPairs(base.unionByName(incoming), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val symCross = sym.collect {
      case (a, b) if a < 1000000 && b >= 1000000 && b < 2000000 => (b, a)
      case (a, b) if b < 1000000 && a >= 1000000 && a < 2000000 => (a, b)
    }
    assert(symCross == cross.filter(_._1 < 2000000))
  }

  test("minhash at 3k docs: full exact-dup recall, bounded candidates") {
    val n = corpus.count()
    val nPlanted = corpus.filter(col("doc_id") >= 100000000L).count()
    assert(nPlanted > 50, s"degenerate plant: $nPlanted")
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val planted = pairs.count { case (a, b) => b - a == 100000000L }
    assert(planted == nPlanted, s"recall $planted/$nPlanted")
    // candidate survivors must be ~only the planted pairs, not O(n^2)
    assert(pairs.length < nPlanted * 2,
      s"${pairs.length} pairs for $n docs - candidate blowup")
  }

  test("exact dedup at 3k docs: every group accounted for") {
    val res = Dedup.exact(corpus, "doc_id", "text")
    assert(res.agg(sum("n_copies")).collect()(0).getLong(0) == corpus.count())
    assert(res.filter(col("n_copies") === 2).count() ==
      corpus.filter(col("doc_id") >= 100000000L).count())
  }

  test("large/small-star CC: 10k-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // adversarial worst case for plain min-propagation: one path graph
    // of diameter 10k. Large/small-star roughly halves the diameter
    // per round — 15 rounds observed (incl. the fixed-point-confirming
    // round), bound asserted at 2*log2(10000)+2 = 28. maxIter=16 also
    // proves the loop THROWS rather than mislabeling if it were slower.
    val chain = (0L until 9999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // smallGraphEdges = 0 FORCES the distributed alternation (the
    // round-16 fast path would answer this driver-side)
    val (res, rounds) = Dedup.connectedComponentsWithRounds(chain,
      maxIter = 16, smallGraphEdges = 0L)
    val labels = res.select("cluster_id").distinct().as[Long].collect()
    assert(labels.toSeq == Seq(0L), s"chain not fully labeled: ${labels.length} labels")
    assert(res.count() == 10000L)
    assert(rounds <= 28, s"chain took $rounds rounds")
  }

  /** Driver-side union-find reference labeling. */
  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // materialize keys first: find() path-compresses (mutates the map),
    // which must not race the key iteration
    val keys = parent.keys.toVector
    keys.map(k => k -> find(k)).toMap
  }

  test("CC agrees between plain propagation shape and random graphs") {
    import spark.implicits._
    // deterministic pseudo-random graph: 2k nodes, ~3k edges — the
    // round-6 red case (needed 37 pointer-doubling rounds; maxIter=20
    // exhausted silently). Large/small-star closes it in 7.
    val edges = (1 to 3000).map { i =>
      val a = math.abs((i * 2654435761L) % 2000)
      val b = math.abs((i * 40503L + 7) % 2000)
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct.toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(got == want)
  }

  test("round-16 small-graph fast path is BIT-EQUAL to the forced-" +
      "distributed fixed point (labels identical, rounds seam = 0)") {
    import spark.implicits._
    for (n <- Seq(300L, 2000L); density <- Seq(0.8, 3.0)) {
      var s = n * 31 + (density * 10).toLong
      def next(): Long = {
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 33) % n
      }
      val es = Seq.fill((n * density).toInt)((next(), next()))
        .filter { case (a, b) => a != b }
      val df = es.toDF("doc_a", "doc_b").localCheckpoint(eager = true)
      val (fast, fastRounds) = Dedup.connectedComponentsWithRounds(df)
      val (dist, distRounds) = Dedup.connectedComponentsWithRounds(df,
        smallGraphEdges = 0L)
      assert(fastRounds == 0, s"fast path not taken at n=$n")
      assert(distRounds > 0, s"forced-distributed escape broken at n=$n")
      val a = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, s"n=$n density=$density fast/distributed disagree")
    }
    // self-pair-only singletons label themselves on BOTH paths
    val selfs = Seq((7L, 7L), (9L, 9L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val f = Dedup.connectedComponents(selfs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = Dedup.connectedComponents(selfs, smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f == d && f == Map(7L -> 7L, 9L -> 7L))
  }

  test("fast path tolerates NULL ids like the distributed path: null " +
      "edges drop, a null node self-labels (null, null) on BOTH paths") {
    import spark.implicits._
    // (null, 5) edge: canonicalization collapses it (greatest/least
    // return the non-null side), but null still enters the node set
    val rows = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)),
      (None, Some(5L)), (Some(8L), Some(8L)))
    val df = rows.toDF("doc_a", "doc_b").localCheckpoint(eager = true)
    def labels(sg: Long) = Dedup
      .connectedComponents(df, smallGraphEdges = sg).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val fast = labels(Dedup.SmallGraphEdges)
    val dist = labels(0L)
    assert(fast == dist, "null-id seam diverges fast vs distributed")
    assert(fast(None) == None && fast(Some(5L)) == Some(5L) &&
      fast(Some(3L)) == Some(1L) && fast(Some(8L)) == Some(8L))
  }

  test("CC convergence sweep: densities x sizes agree with union-find within the round bound") {
    import spark.implicits._
    // VERDICT r6 item 2: the two existing tests cover only the
    // extremes (one long chain, one fixed random graph); the failing
    // middle case was caught by luck. Sweep tree-like / ~1.5x / dense
    // random graphs across sizes, assert exact agreement with
    // union-find AND the ~2*log2(n) round bound.
    for (n <- Seq(300L, 1500L, 4000L); density <- Seq(0.5, 1.5, 4.0)) {
      // seeded splitmix-ish LCG — deterministic across runs/JVMs
      var s = n * 17 + (density * 10).toLong
      def next(): Long = {
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 33) % n
      }
      val es = Seq.fill((n * density).toInt)((next(), next()))
        .filter { case (a, b) => a != b }
      val df = es.toDF("doc_a", "doc_b")
      val (res, rounds) = Dedup.connectedComponentsWithRounds(df,
        smallGraphEdges = 0L) // force the distributed alternation
      val got = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(es.map { case (a, b) => (math.min(a, b), math.max(a, b)) })
      assert(got == want, s"n=$n density=$density disagreement")
      val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 2
      assert(rounds <= bound, s"n=$n density=$density took $rounds rounds (bound $bound)")
    }
  }

  test("dedup results identical under local and reliable persistence") {
    // the slice that contains the planted duplicates AND their
    // originals (limit() could miss every pair)
    val docs = corpus.filter(col("doc_id") % 40 === 1 ||
      col("doc_id") >= 100000000L)
    def clusters() = Dedup.minhashClusters(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = clusters()
    val durable = CheckpointDirScope.withCheckpointDir(spark.sparkContext) { dir =>
      val got = clusters()
      assert(CheckpointDirScope.filesUnder(dir) > 0,
        "no reliable checkpoint written under the checkpoint directory")
      got
    }
    assert(local == durable)
    assert(local.nonEmpty)
  }

  test("ngram jaccard prefix filtering stays bounded") {
    val nPlanted = corpus.filter(col("doc_id") >= 100000000L).count()
    assert(nPlanted > 50, s"degenerate plant: $nPlanted")
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val planted = pairs.count { case (a, b) => b - a == 100000000L }
    assert(planted == nPlanted, s"recall $planted/$nPlanted")
    assert(pairs.length < nPlanted * 2, s"${pairs.length} pairs")
  }

  test("allpairs sweep spreads a single-split corpus before the loop join") {
    // regression: the broadcast nested-loop join's parallelism is the
    // left side's partition count; a small corpus arrives as ONE
    // parquet split and once serialized n²/2 kernel merges onto one
    // core (observed live: 81 s vs 11 s). The sweep must repartition.
    val one = corpus.coalesce(1)
    val plan = Dedup.containmentPairs(one, "doc_id", "text", 0.9,
      strategy = "allpairs").queryExecution.executedPlan.toString
    val bnljIdx = plan.indexOf("BroadcastNestedLoopJoin")
    assert(bnljIdx >= 0, "allpairs sweep should plan a BNLJ")
    val below = plan.substring(bnljIdx)
    assert(below.contains("Exchange RoundRobinPartitioning") ||
      below.contains("Exchange hashpartitioning"),
      "no repartition under the nested-loop join — sweep would serialize")
  }

  test("prefix and allpairs candidate strategies return identical pairs") {
    def run(op: String, strategy: String): Set[(Long, Long, Double)] = {
      val df =
        if (op == "jaccard")
          Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 0.5,
            strategy = strategy)
        else
          Dedup.containmentPairs(corpus, "doc_id", "text", 0.9,
            strategy = strategy)
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    for (op <- Seq("jaccard", "containment")) {
      val p = run(op, "prefix")
      val a = run(op, "allpairs")
      assert(p == a, s"$op: prefix ${p.size} pairs != allpairs ${a.size}")
      assert(p.nonEmpty, s"$op: degenerate comparison, zero pairs")
    }
  }
}
