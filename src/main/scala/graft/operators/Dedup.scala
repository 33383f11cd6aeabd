package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables.materialize

/** Deduplication family for the training-data pipeline (SURVEY.md §2
  * C1-C4). Scale invariant shared by every member: FULL TEXT NEVER
  * SHUFFLES. Signatures (8-byte hashes, 128-long minhash vectors,
  * 64-bit simhashes) are computed map-side in one scan; only
  * (key, doc_id, signature) tuples cross the network. Candidate
  * generation is always bucket-equi-join (never cross join), so pair
  * count is bounded by bucket occupancy, not n². Multiply-referenced
  * intermediates (signature tables, per-round label tables: read by
  * self-joins, estimate joins and convergence checks) go through
  * [[graft.Tables.materialize]]; without it Spark recomputes the whole
  * upstream per reference.
  */
object Dedup {

  // ------------------------------------------------- cost-based side joins

  /** Conf key bounding what [[sideJoin]] ships as a broadcast. The
    * broadcast HINT bypasses `autoBroadcastJoinThreshold`, so an
    * unconditional hint on a table that grows linearly with the corpus
    * (signatures: ~1 KB/doc; gram sets: ~2.4 KB/doc) is a driver OOM
    * at 10^8-10^9 docs — the round-9 verdict's one structural 100-TB
    * blocker in this family. Default 256 MB: comfortably inside
    * executor/driver memory and Spark's 8 GB broadcast hard limit,
    * while keeping every corpus the broadcast plan actually helps
    * (≤ ~250k docs of signatures) on the fast path.
    */
  val MaxSideBroadcastBytesKey = "graft.dedup.maxSideBroadcastBytes"
  val DefaultMaxSideBroadcastBytes: Long = 256L << 20

  /** Estimated bytes of one (doc_id, 128-long sig) row: 8 id + 1024
    * array data + struct/array overhead.
    */
  private[graft] val SigRowBytes = 1100L

  private def maxSideBroadcastBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption(MaxSideBroadcastBytesKey)
      .map(_.toLong).getOrElse(DefaultMaxSideBroadcastBytes)

  /** COST-BASED side-table equi-join — the same discipline AQE applies
    * to join strategies, applied to the per-doc signature/gram-set
    * lookups this family does after candidate generation: broadcast
    * while the estimated side size fits [[MaxSideBroadcastBytesKey]]
    * (map-side join, no shuffle of the candidate pairs), otherwise a
    * plain shuffled equi-join on the doc-id key — both sides hash-
    * partition on doc_id and the join is co-located, the shape that
    * holds at any corpus size. The estimate is rows × fixed width —
    * one count off an already-persisted table, no sampling.
    */
  private[graft] def sideJoin(left: DataFrame, side: DataFrame, key: String,
                              estSideBytes: Long): DataFrame =
    if (estSideBytes <= maxSideBroadcastBytes(side)) left.join(broadcast(side), key)
    else left.join(side, key)

  /** Ceiling on predicted WEIGHTED WORK (estimated early-abort merge
    * steps: enumerations × (1 − need fraction)) an exact set-overlap
    * join will run without an explicit opt-in.
    *
    * Why weighted: per-ENUMERATION cost varies ~7× with the threshold
    * regime, because [[graft.functions.SetOps.sortedIntersectCount]]
    * aborts once the needed overlap is provably out of reach — at
    * t=0.9 containment (need 90% of A) dissimilar pairs abort almost
    * immediately, at t=0.4 Jaccard (need 29% of A∪B) the proof takes
    * ~71% of the merge. The round-10 10× measurements normalize under
    * this model to the SAME ~5e6 weighted steps/s on 32 local cores
    * (containment: 1.25e9 enums × 0.1 = 1.25e8 units in 28.5 s;
    * jaccard: 1.8e9 × 0.714 = 1.29e9 units in 254 s) — one bound now
    * means one wall-clock envelope across regimes.
    *
    * 3e8 ≈ one minute of local sweep (seconds on a real cluster):
    * within it the exact quadratic is a fine interactive tool; past it
    * `auto` refuses loudly with the sketch-bounded escape named
    * (round-9 verdict #1: the cheaper of two quadratics is still a
    * quadratic) — and the n²-scaling regimes the guard exists for sit
    * orders beyond (10⁸ docs → ~1e15 units). Callers with bigger
    * clusters raise `maxCandidates` explicitly.
    */
  val DefaultMaxCandidates: Long = 300000000L

  /** Vocabulary-size ceiling for the dense-bitset verify of the
    * all-pairs sweep (round 18): past 2¹⁶ distinct grams the collected
    * vocabulary / per-doc bitset (8 KB at the cap) stops being "bounded
    * driver metadata", and an OPEN vocabulary regime is exactly where
    * `auto` picks prefix filtering instead — the bitset only ever
    * fires where the sweep already won on cost.
    */
  val MaxBitmapVocab: Long = 1L << 16

  /** The `auto` probe's three-way verdict, as a pure function the
    * regime spec pins: compare the prefix join's enumeration estimate
    * (Σ dfp² ≈ (1-t)²·Σ df² unordered, Σ dfp·df ≈ (1-t)·Σ df²
    * ordered) against the size-filtered all-pairs sweep (n²/2
    * unordered, n² ordered); if even the CHEAPER one exceeds
    * `maxCandidates`, refuse with the sub-quadratic recommendation
    * rather than silently running n².
    */
  private[graft] def chooseCandidateStrategy(n: Double, sumDf2: Double,
                                             threshold: Double, ordered: Boolean,
                                             maxCandidates: Long): String = {
    val enumEst = (1.0 - threshold) *
      (if (ordered) 1.0 else 1.0 - threshold) * sumDf2
    val allEst = n * n * (if (ordered) 1.0 else 0.5)
    // weighted work: the early-abort kernel proves a losing pair loses
    // after ~(1 - needFrac) of its merge — see [[DefaultMaxCandidates]]
    val needFrac = if (ordered) threshold else threshold / (1.0 + threshold)
    val work = math.min(enumEst, allEst) * (1.0 - needFrac)
    if (work > maxCandidates.toDouble) {
      val escape =
        if (ordered) "pass strategy=\"prefix\"|\"allpairs\" explicitly or " +
          "raise maxCandidates to opt into the quadratic sweep"
        else "use strategy=\"lsh\" (minhash-banded candidates, exact " +
          "verification - sub-quadratic, recall bounded by the LSH bands) " +
          "or Dedup.minhashVerifiedPairs; to insist on the exact quadratic " +
          "sweep pass strategy=\"prefix\"|\"allpairs\" or raise maxCandidates"
      throw new IllegalStateException(
        f"exact set-overlap candidate generation predicts ~$work%.3g weighted " +
          f"merge steps (~${math.min(enumEst, allEst)}%.3g enumerations; " +
          f"prefix ~$enumEst%.3g, all-pairs ~$allEst%.3g) > " +
          s"maxCandidates=$maxCandidates - refusing to run a quadratic sweep " +
          s"silently; $escape")
    }
    else if (allEst < enumEst) "allpairs" else "prefix"
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group by 64-bit content hash, keep min doc_id.
    * Shuffles 16 bytes/row regardless of document size. Collision
    * probability at 100 TB (~1e10 docs) ~ 1e-? birthday bound 3e-[0]—
    * for a stronger guarantee swap xxhash64 for sha2(text, 256).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")

  /** Blocking + exact-verify fuzzy near-dup pairs by EDIT DISTANCE —
    * the entity-resolution shape (and ClickHouse's `editDistance`
    * niche) for SHORT text fields where character-level edits matter
    * more than shingle overlap: titles, names, URLs, doc prefixes.
    * Candidates come from an equi-join on a cheap blocking key (the
    * first `blkLen` chars of the compared prefix) so pair work is
    * Σ|block|² — bucketed, never all-pairs — and the verify stage is
    * the codegen'd `levenshtein` on the bounded `preLen`-char prefix
    * (O(preLen²) per pair, constant).
    *
    * Scale honesty: a hot blocking key (boilerplate openings: "the",
    * "<!DOCTYPE html>") concentrates Σ|block|² exactly like a hot LSH
    * band bucket — production composes the same escapes as minhash
    * (drop top-frequency blocks / lengthen the key); recall loss from
    * blocking (an edit INSIDE the first blkLen chars moves the pair to
    * different blocks) is the documented tradeoff every blocking
    * scheme makes. Content-scale near-dup stays minhash's job; this is
    * the character-level verifier.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        preLen: Int = 64, blkLen: Int = 8,
                        maxDist: Int = 6): DataFrame = {
    val p = docs.select(col(idCol),
        substring(lower(trim(col(textCol))), 1, preLen).as("pre"))
      .withColumn("blk", substring(col("pre"), 1, blkLen))
    val a = p.as("a"); val b = p.as("b")
    // THRESHOLDED levenshtein (round 17, guide §4: cheapest equivalent
    // built-in): the 3-arg form early-aborts the DP once the distance
    // provably exceeds maxDist — O(maxDist·preLen) per pair instead of
    // O(preLen²) — returning -1 for the pairs the old
    // `filter(dist <= maxDist)` dropped and the EXACT distance for
    // every pair it kept, so the output rows are bit-identical
    // (spec-pinned against the unbounded form).
    a.join(b, col(s"a.blk") === col(s"b.blk") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        levenshtein(col("a.pre"), col("b.pre"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  // -------------------------------------------------------------- minhash

  /** Char-5-gram shingle hashes of a text column (64-bit, xxhash64).
    * Pure Column construction (Column.substr accepts Column positions),
    * so any expression works as input, not just a named column.
    */
  def shingleHashes(text: Column): Column =
    transform(
      sequence(lit(1), greatest(lit(1), length(text) - 4)),
      i => xxhash64(text.substr(i, lit(5))))

  /** Deterministic permutation coefficients (seeded, 29-bit so that
    * a*x32+b stays within a signed 64-bit range: no ANSI overflow).
    */
  def coeffs(n: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(((rnd.nextInt(1 << 29) | 1).toLong, rnd.nextInt(1 << 29).toLong))
  }

  /** 128-long MinHash signature over the shingle-hash array.
    * h_j(x) = (a_j * fold32(x) + b_j) mod p, minimized over shingles —
    * the classic Broder min-wise universal-hash family, all in
    * codegen'd HOFs. The mod by a prime > 2^32 is what makes each h_j
    * a different ordering of the shingle space (without it a*x+b is
    * monotonic in x and every hash would pick the same shingle).
    * a <= 2^29 and x32 < 2^32 keep a*x32+b within a signed 64-bit
    * range — no overflow under ANSI mode.
    *
    * This declarative form re-evaluates the shingle array once PER
    * HASH (no CSE across aggregate HOFs — ~0.7 CPU-s/doc at 128
    * hashes); the pipeline uses the fused one-pass kernel
    * [[graft.functions.MinHash128]], spec-proven bit-identical. Kept
    * as the reference formulation and cross-check oracle.
    */
  val MinhashPrime = 4294967311L // smallest prime > 2^32

  def minhashSignature(shingles: Column, nHashes: Int = 128): Column = {
    val x32 = (h: Column) => shiftright(h, 32).bitwiseXOR(h).bitwiseAND(lit(0xFFFFFFFFL))
    array(coeffs(nHashes).map { case (a, b) =>
      aggregate(shingles, lit(Long.MaxValue),
        (acc, x) => least(acc, pmod(lit(a) * x32(x) + lit(b), lit(MinhashPrime))))
    }: _*)
  }

  /** MinHash+LSH near-dup pairs.
    *   1. one scan: doc -> 128-minhash signature        (no shuffle)
    *   2. explode into `bands` band-hashes per doc      (shuffle: 16B keys)
    *   3. self-join per (band, hash) bucket -> candidates
    *   4. signature-estimate Jaccard, threshold
    * Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b.
    *
    * EAGER: the hot-bucket guard (and the cost-based signature join)
    * run bounded Spark jobs at CONSTRUCTION time, not first action.
    * `maxCandidates` is the guard's bound — callers on known
    * low-entropy corpora raise it to opt into the larger band join
    * (the guard's own error message names the escapes).
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5, nHashes: Int = 128,
                   bands: Int = 32,
                   maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    require(nHashes == graft.functions.MinHash128.NumHashes,
      "the fused signature kernel is fixed at 128 hashes")
    // one fused-kernel pass per doc; materialize once (the self-join
    // and estimate would otherwise recompute signatures per reference;
    // at cluster scale this is a checkpoint of the signature table,
    // thousands of times smaller than the text)
    minhashPairsFromSigs(materialize(signatures(docs, idCol, textCol)),
      threshold, nHashes, bands, maxCandidates)
  }

  /** [[minhashPairs]] from a PRECOMPUTED (doc_id, sig) table — the
    * signature-store entry point (round 10): callers that already
    * materialized signatures (the persisted store, or a fused
    * sig+gram-set scan like [[minhashVerifiedPairs]]) get candidates
    * without a second corpus scan. `sigs` should be persisted — it is
    * read by both sides of the band self-join, the estimate joins,
    * and one bounded count.
    *
    * EAGER: the hot-bucket guard's prediction aggregate and the
    * sideJoin's sizing count run at CONSTRUCTION time (bounded jobs
    * over the persisted band/signature tables), so a guard refusal
    * surfaces here, not at first downstream action.
    */
  def minhashPairsFromSigs(sigs: DataFrame, threshold: Double = 0.5,
                           nHashes: Int = 128, bands: Int = 32,
                           maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    val rowsPerBand = nHashes / bands
    // candidates travel as BARE ID PAIRS (16 bytes/row) through the
    // band join and the dedup shuffle; the 1-KB signature arrays join
    // back only once per DISTINCT pair. Carrying sigs through the
    // dropDuplicates (the previous form) shuffled ~2 KB per duplicate
    // band hit — the dominant cost on low-entropy corpora where
    // candidates are plentiful.
    val banded = materialize(sigs.select(col("doc_id"),
        explode(expr(s"transform(sequence(0, ${bands - 1}), " +
          s"b -> named_struct('band', b, 'bh', xxhash64(slice(sig, b * $rowsPerBand + 1, $rowsPerBand))))")).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh")))
    // HOT-BUCKET GUARD (round 10, the quadratic-guard discipline
    // extended to LSH): the band self-join emits Σ g·(g-1)/2 pairs per
    // bucket — a single viral bucket (boilerplate, templated text)
    // of 10⁵ docs is 5·10⁹ pairs on its own, and nothing in the
    // banding bounds it. The prediction is one exact agg over the
    // persisted band table; past the bound refuse LOUDLY with the
    // escapes named rather than melt down in the join.
    // one action yields BOTH the pair prediction and the doc count the
    // sideJoin sizing needs (every doc emits exactly `bands` band rows,
    // so Σg / bands = |sigs| — round 17: folds the separate
    // sigs.count() job into this aggregate)
    val guardRow = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("g"))
      // integer `div`: Column / is ALWAYS double division
      .agg(coalesce(sum(expr("g * (g - 1) div 2")), lit(0L)).as("p"),
        coalesce(sum(col("g")), lit(0L)).as("rows"))
      .head()
    val predicted = guardRow.getLong(0)
    if (predicted > maxCandidates)
      throw new IllegalStateException(
        s"minhash band join predicts $predicted candidate pairs " +
          s"(> maxCandidates=$maxCandidates): hot band buckets — a " +
          "low-entropy corpus (verbatim boilerplate, templated text). " +
          "Escapes: exact-dedup first (verbatim copies collapse to one " +
          "bucket member), raise rows-per-band (fewer collisions), run " +
          "increments against a store (minhashPairsAgainst), or raise " +
          "maxCandidates to opt in.")
    val cand = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // signature lookup is COST-BASED (round 10): ~1 KB/doc — 5 MB at
    // sf0.1, where it broadcasts and the estimate is map-side over
    // bare id pairs; past [[MaxSideBroadcastBytesKey]] (~250k docs)
    // the same join runs shuffled, co-partitioned on doc id — chosen
    // per run from the persisted signature count, never hard-coded
    val sigBytes = (guardRow.getLong(1) / bands) * SigRowBytes
    // fused agreement kernel (round 17): exact count whenever the
    // filter can keep the pair, early-aborted (provably < need)
    // otherwise — replaces the zip_with+aggregate lambda pair that
    // allocated an intermediate array per candidate. The ε keeps a
    // last-ulp error in threshold·nHashes from rounding `need` UP past
    // the true ceiling (which could abort a borderline survivor);
    // rounding down merely counts a few extra positions (ADVICE-r9
    // epsilon discipline).
    val need = lit(math.ceil(threshold * nHashes - 1e-9).toLong)
    sideJoin(sideJoin(cand,
        sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a", sigBytes),
      sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
      "doc_b", sigBytes)
      .select(col("doc_a"), col("doc_b"),
        (graft.functions.SetOps.sigAgreeCount(col("sig_a"), col("sig_b"),
          need).cast("double") / nHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** The PRODUCTION near-dup shape (SURVEY §2 C39): LSH generates,
    * exact verifies — minhash band candidates (sub-quadratic, the only
    * thing that scales to the corpus) re-scored with the EXACT n-gram
    * Jaccard before anything is dropped, so sketch noise can neither
    * fabricate a duplicate (est high, true low → now filtered) nor is
    * it trusted for the verdict. Verification is the same cost-based
    * [[sideJoin]] + sorted-merge-kernel shape as [[exactSetPairs]],
    * over candidate pairs only — gram-set lookup broadcasts while it
    * fits, shuffles co-partitioned on doc id beyond that.
    *
    * EAGER (see [[minhashPairs]]): guard + cost probes run bounded
    * jobs at construction; `maxCandidates` is the hot-bucket bound.
    */
  def minhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                           threshold: Double = 0.5,
                           maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    // ONE corpus scan computes both per-doc artifacts (round 10 —
    // signatures for the candidate stage, sorted gram sets for the
    // exact verify; separately they each re-read and re-parsed the
    // text), materialized together; the selects below hit the blocks
    val both = materialize(graft.Tables.spread(docs).select(col(idCol).as("doc_id"),
      graft.functions.MinHash128.signature(col(textCol)).as("sig"),
      graft.functions.ShingleSet.sorted(col(textCol)).as("ngs")))
    val cand = minhashPairsFromSigs(both.select("doc_id", "sig"), threshold,
      maxCandidates = maxCandidates)
    val sets = both.select("doc_id", "ngs")
    val szA = size(col("ngs_a")); val szB = size(col("ngs_b"))
    val need = floor(lit(threshold / (1.0 + threshold)) *
      (szA + szB).cast("double")).cast("long")
    val icnt = graft.functions.SetOps.sortedIntersectCount(
      col("ngs_a"), col("ngs_b"), need)
    val st = sets.agg(count(lit(1)).cast("long"),
      coalesce(sum(size(col("ngs")).cast("long")), lit(0L))).head()
    val setBytes = st.getLong(0) * 32L + st.getLong(1) * 8L
    sideJoin(sideJoin(cand,
        sets.select(col("doc_id").as("doc_a"), col("ngs").as("ngs_a")),
        "doc_a", setBytes),
      sets.select(col("doc_id").as("doc_b"), col("ngs").as("ngs_b")),
      "doc_b", setBytes)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        (icnt.cast("double") / (szA + szB - icnt)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-doc fused minhash signatures — the persistable "signature
    * store" (SURVEY.md §5: thousands of times smaller than the text;
    * at 100 TB this table is what survives between pipeline runs).
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // spread under-split inputs first: the fused kernel otherwise runs
    // inside the (single-row-group) scan task — serial on one core
    // (r17; identity on any realistically-split source)
    graft.Tables.spread(docs).select(col(idCol).as("doc_id"),
      graft.functions.MinHash128.signature(col(textCol)).as("sig"))

  /** INCREMENTAL near-dup candidates: new documents against a
    * historical signature STORE, without re-pairing the store against
    * itself. Band buckets from both sides equi-join (store buckets can
    * be precomputed/bucketed-by `bh` for an exchange-free join); only
    * cross-side pairs emerge. The daily-increment shape at scale:
    * work is O(increment × bucket occupancy), never O(store²).
    *
    * Returns (doc_id, store_id, est_jaccard) with est >= threshold.
    */
  def minhashPairsAgainst(incomingSigs: DataFrame, storeSigs: DataFrame,
                          threshold: Double = 0.5,
                          nHashes: Int = 128, bands: Int = 32): DataFrame = {
    val rowsPerBand = nHashes / bands
    // bare ids through the band join (16 B keys — the minhashPairs
    // round-9 lesson applied to the incremental path too; carrying the
    // 1 KB signatures through the explode shuffled 32 KB/doc), then
    // the signatures join back ONCE per distinct cross pair via the
    // cost-based sideJoin — broadcast while either side fits, shuffled
    // co-partitioned on its id beyond. The two counts are bounded
    // actions over signature tables (persist them first on reuse).
    def banded(sigs: DataFrame, id: String) =
      sigs.select(col("doc_id").as(id),
          explode(expr(s"transform(sequence(0, ${bands - 1}), " +
            s"b -> named_struct('band', b, 'bh', xxhash64(slice(sig, b * $rowsPerBand + 1, $rowsPerBand))))")).as("bb"))
        .select(col(id), col("bb.band"), col("bb.bh"))
    val cand = banded(incomingSigs, "doc_id")
      .join(banded(storeSigs, "store_id"), Seq("band", "bh"))
      .select("doc_id", "store_id")
      .dropDuplicates("doc_id", "store_id")
    val incBytes = incomingSigs.count() * SigRowBytes
    val storeBytes = storeSigs.count() * SigRowBytes
    // fused agreement kernel — see minhashPairsFromSigs for the ε
    val need = lit(math.ceil(threshold * nHashes - 1e-9).toLong)
    sideJoin(sideJoin(cand,
        incomingSigs.select(col("doc_id"), col("sig").as("sa")),
        "doc_id", incBytes),
      storeSigs.select(col("doc_id").as("store_id"), col("sig").as("sb")),
      "store_id", storeBytes)
      .select(col("doc_id"), col("store_id"),
        (graft.functions.SetOps.sigAgreeCount(col("sa"), col("sb"),
          need).cast("double") / nHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Connected components over an undirected pair list: the
    * LARGE-STAR / SMALL-STAR alternation of Kiveris, Lattanzi,
    * Mirrokni, Rastogi & Vassilvitskii, "Connected Components in
    * MapReduce and Beyond" (SoCC '14) — the published algorithm with a
    * PROVEN convergence bound (O(log^2 n) rounds worst-case, a handful
    * in practice), replacing the round-6 pointer-doubling form whose
    * single doubling hop per round needed O(diameter-ish) rounds on
    * sparse random graphs and exhausted maxIter SILENTLY.
    *
    * Edge set is kept canonical (u > v, distinct). Per round:
    *   large-star — every node u links each LARGER neighbor to the
    *     minimum of u's closed neighborhood (one groupBy + one join);
    *   small-star — every node u links its SMALLER neighbors and
    *     itself to the smallest of them (one groupBy + one join).
    * Both steps preserve connectivity exactly (no sampling, no lossy
    * contraction); at the fixed point each component is a star rooted
    * at its minimum id. Everything shuffled is a bare (long, long)
    * pair — 16 bytes/row regardless of document size — so the 100-TB
    * dedup graph costs edges × a few rounds, never text.
    *
    * NON-CONVERGENCE IS LOUD: if the fixed point is not reached within
    * `maxIter` rounds this THROWS rather than returning a partial
    * clustering (the round-6 failure mode: mid-propagation labels
    * silently mislabel duplicate clusters downstream).
    *
    * No driver collect — per-round actions are the O(1) convergence
    * probes. Returns (doc_id, cluster_id) for every node appearing in
    * a pair (self-pairs label themselves), cluster_id = min doc_id of
    * the component.
    */
  def connectedComponents(pairs: DataFrame,
                          aCol: String = "doc_a", bCol: String = "doc_b",
                          maxIter: Int = 50,
                          smallGraphEdges: Long = SmallGraphEdges): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter,
      smallGraphEdges)._1

  /** Small-graph fast-path gate (round 16, the PageRank precedent):
    * when the CANONICAL edge set and the node set both fit under this
    * bound, the fixed point runs driver-side as union-find with
    * min-id representatives — bit-identical labels (spec-pinned), a
    * bounded collect of bare (long, long) pairs, and 2 Spark jobs
    * instead of ~2-3 per large/small-star round. The r15 GateSweep
    * profile attributed most of the dedup family's 8-9.5 s warm times
    * to ~8 fixed-overhead CC jobs on tiny relations — this removes
    * them. At 100 TB the candidate graph exceeds the bound and the
    * distributed alternation runs exactly as before; pass 0 to FORCE
    * the distributed path (the spec's bit-equality seam).
    */
  val SmallGraphEdges: Long = 100000L

  /** Test seam: also returns the number of large+small-star rounds the
    * fixed point took, so the convergence sweep can assert the bound
    * (0 = the driver-side small-graph fast path answered).
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 50,
      smallGraphEdges: Long = SmallGraphEdges): (DataFrame, Int) = {
    // driver-side union-find fast path: integral ids only (every
    // dedup caller keys on long doc ids; other key types take the
    // distributed loop untouched)
    val integralIds = pairs.schema(aCol).dataType ==
      org.apache.spark.sql.types.LongType &&
      pairs.schema(bCol).dataType == org.apache.spark.sql.types.LongType
    if (smallGraphEdges > 0 && integralIds) {
      // Round 17: ONE bounded take over the RAW pair list replaces the
      // previous probe (materialize nodes + edges, two counts, two
      // collects — 6 jobs). take(bound+1) stops scanning as soon as
      // the bound is provably exceeded, so the big-graph case pays one
      // partial limit scan before the distributed loop, and the
      // small-graph case never materializes nodes/edges at all —
      // canonicalization, distinct and the node set all happen inside
      // the union-find below. Gating on raw pairs (instead of distinct
      // edges AND nodes separately) only changes WHICH path runs for
      // graphs whose duplicate pairs collapse under the bound — label
      // bit-equality across the seam stays spec-pinned
      // (DedupStressSpec), and the raw bound keeps driver memory
      // strictly tighter than the old two-sided bound.
      val bound = math.min(smallGraphEdges, (Int.MaxValue - 2).toLong).toInt
      val raw = pairs.select(col(aCol), col(bCol)).take(bound + 1)
      if (raw.length <= bound) {
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r)
            r = parent.getOrDefault(r, r)
          var c = x
          while (parent.getOrDefault(c, c) != c) { // path compression
            val nxt = parent.getOrDefault(c, c)
            parent.put(c, r); c = nxt
          }
          r
        }
        // Null ids: a null endpoint never survives edge
        // canonicalization (greatest/least return the non-null side,
        // so u === v and the row is filtered), but a null NODE does
        // reach the node set and the distributed path self-labels it
        // (null fails the anti-join equi-condition, so it lands in
        // `roots` as (null, null)). Mirror that here.
        val nodeSet = new java.util.TreeSet[java.lang.Long]()
        var hasNullNode = false
        raw.foreach { r =>
          val aN = r.isNullAt(0); val bN = r.isNullAt(1)
          if (aN || bN) hasNullNode = true
          if (!aN) nodeSet.add(r.getLong(0))
          if (!bN) nodeSet.add(r.getLong(1))
          if (!aN && !bN) {
            val a = r.getLong(0); val b = r.getLong(1)
            if (a != b) {
              val ru = find(math.max(a, b)); val rv = find(math.min(a, b))
              // min id per component = the representative the
              // distributed fixed point converges to (roots chase to
              // the min because unions always point larger roots at
              // smaller ones). Union-by-rank is INTENTIONALLY
              // excluded: the min-id representative invariant depends
              // on always pointing the larger root under the smaller
              // one — a rank-based swap would silently pick a non-min
              // representative. At the 100k bound the worst-case chain
              // cost is microseconds and path compression amortizes it.
              if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
            }
          }
        }
        val labeled = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.Row]
        val it = nodeSet.iterator()
        while (it.hasNext) {
          val n: Long = it.next()
          labeled += org.apache.spark.sql.Row(n, find(n))
        }
        if (hasNullNode) labeled += org.apache.spark.sql.Row(null, null)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = hasNullNode),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType, nullable = hasNullNode)))
        val spark = pairs.sparkSession
        return (spark.createDataFrame(
          spark.sparkContext.parallelize(labeled.toSeq,
            math.max(1, math.min(32, labeled.length / 2000 + 1))),
          schema), 0)
      }
    }

    val nodes = materialize(pairs.select(col(aCol).as("n"))
      .union(pairs.select(col(bCol).as("n"))).distinct())
    var edges = materialize(pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct())

    // large-star: u's neighbors > u each link to min(closed nbhd of u).
    // Output stays canonical: v > u in sym, and m <= u < v.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("c"), least(col("u"), col("mn")).as("m"))
      // no intermediate distinct: duplicate (v, m) rows (several u
      // linking the same pair) are absorbed map-side by smallStar's
      // partial aggregates, and the round's FINAL distinct restores
      // the canonical form the convergence check compares — dropping
      // this stage removes one full shuffle+sort per round
      sym.filter(col("v") > col("u"))
        .join(mins, col("u") === col("c"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }

    // small-star: u links its smaller neighbors AND itself to the
    // smallest of them (input edges all satisfy u > v, so min(v) is
    // the closed-neighborhood min).
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins, "u")
        .select(col("v").as("n"), col("m"))
        .union(mins.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
    }

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = materialize(smallStar(largeStar(edges)))
      // canonical distinct sets: equal counts + empty one-way except
      // <=> set equality. The count gates the except: while the loop
      // is still moving, counts differ and each round pays ONE action,
      // not an extra anti-join job (the except runs only at candidate
      // fixed points, usually once)
      converged = next.count() == edges.count() &&
        next.except(edges).limit(1).count() == 0
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not reach its fixed point within $maxIter " +
          "large/small-star rounds - refusing to return a partial clustering " +
          "(raise maxIter; rounds grow ~log^2 of component size)")
    // fixed point = stars (member, root); add roots + self-pair-only
    // nodes, which label themselves
    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
    val roots = nodes.join(labels, nodes("n") === labels("doc_id"), "left_anti")
      .select(col("n").as("doc_id"), col("n").as("cluster_id"))
    (labels.union(roots), iter)
  }

  /** MinHash near-dup CLUSTERS (SURVEY §2 C2): LSH candidate pairs ->
    * threshold -> connected components. The pair list MATERIALIZES
    * before CC (round-10 profile: connectedComponents reads its input
    * twice — node set + initial edge set — and an unpersisted pairs
    * plan re-ran the whole band-join+estimate pipeline per read,
    * ~2× the candidate stage for nothing).
    */
  def minhashClusters(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.5,
                      maxCandidates: Long = DefaultMaxCandidates): DataFrame =
    connectedComponents(materialize(minhashPairs(docs, idCol, textCol, threshold,
      maxCandidates = maxCandidates)))

  /** Cluster-representative selection (SURVEY §2 C26): keep the
    * highest-QUALITY member of each near-dup cluster, not the smallest
    * id — what a production pipeline actually wants from dedup (drop
    * the boilerplate copy, keep the clean one). Docs in no cluster are
    * their own singleton (kept). Ties break on id, so selection is
    * total and rerun-stable given bit-identical quality scores (which
    * the portable quality kernel provides).
    *
    * Scale shape: the cluster labeling is [[minhashClusters]] (id-only
    * shuffles); the argmax is one window over cluster_id — a single
    * shuffle of (id, cluster, quality) triples, never text.
    */
  def keepBest(docs: DataFrame, idCol: String, textCol: String,
               quality: Column, threshold: Double = 0.5,
               maxCandidates: Long = DefaultMaxCandidates): DataFrame =
    keepBestWithClusters(docs, idCol,
      minhashClusters(docs, idCol, textCol, threshold, maxCandidates),
      quality)

  /** [[keepBest]] against PRECOMPUTED cluster labels (any DataFrame of
    * (idCol, cluster_id) — normally [[minhashClusters]]' output,
    * persisted). The one-scan path at scale, mirroring
    * [[DomainMix.sampleWithPlan]]: a pipeline that already labeled its
    * clusters (for dedup stats, for span work) selects representatives
    * without re-running signatures + LSH + connected components.
    */
  def keepBestWithClusters(docs: DataFrame, idCol: String,
                           clusters: DataFrame, quality: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = docs.select(col(idCol), quality.as("_q"))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"), col("_q"))
    val byCluster = Window.partitionBy("cluster_id")
    lab
      .withColumn("_rn", row_number().over(
        byCluster.orderBy(col("_q").desc, col(idCol))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("_rn") === 1)
      .select(col("cluster_id"), col(idCol).as("keeper"),
        col("n_members"), col("_q").as("best_quality"))
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of
    * FNV-1a token hashes. Delegates to the fused codegen kernel
    * [[graft.functions.SimHash64]] — one pass over the bytes per row
    * (the previous form was a 64-term Column vote tree that re-read
    * the token-hash array per bit), and FNV-1a makes the signature
    * engine-portable, so dedup_simhash carries a full DuckDB oracle.
    */
  def simhash(text: Column): Column =
    graft.functions.SimHash64.simhash(text)

  /** SimHash near-dup pairs: 4 x 16-bit bands (any shared band is a
    * candidate — guarantees recall of all pairs within hamming 3 by
    * pigeonhole), then exact hamming via bit_count(xor).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val sigs = materialize(docs.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sh")))
    val banded = sigs.select(col("doc_id"), col("sh"),
        explode(expr("transform(sequence(0, 3), " +
          "k -> named_struct('band', k, 'bh', (sh >> (k * 16)) & 65535))")).as("bb"))
      .select(col("doc_id"), col("sh"), col("bb.band"), col("bb.bh"))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard pairs. Candidate generation is COST-BASED
    * (see [[exactSetPairs]]): prefix filtering (Chaudhuri et al.'s
    * SSJoin / Bayardo et al.'s All-Pairs) when the corpus has rare
    * grams to filter on, a size-filtered broadcast all-pairs sweep
    * when it does not — Mann et al. 2016's evaluation found exactly
    * this crossover, and the round-9 bench reproduced it (95 s prefix
    * vs ~10 s all-pairs on the closed-vocabulary test corpus).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.4,
                        strategy: String = "auto",
                        maxCandidates: Long = DefaultMaxCandidates): DataFrame =
    exactSetPairs(docs, idCol, textCol, threshold, ordered = false,
      strategy, maxCandidates)

  /** Exact n-gram CONTAINMENT pairs (SURVEY §2 C28) — the ASYMMETRIC
    * overlap c(a→b) = |A∩B| / |A| that Jaccard misses: a short doc
    * fully quoted inside a long one scores near 1.0 on containment
    * but low on Jaccard (the union is dominated by the long doc).
    * Output is ORDERED pairs (doc_a, doc_b, containment >= t).
    * Candidate strategy is cost-based like [[ngramJaccardPairs]].
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.9,
                       strategy: String = "auto",
                       maxCandidates: Long = DefaultMaxCandidates): DataFrame =
    exactSetPairs(docs, idCol, textCol, threshold, ordered = true,
      strategy, maxCandidates)

  /** Shared core of the exact set-overlap pair joins.
    *
    * CANDIDATES — two exact generators, chosen by a cost probe:
    *  - `prefix`: order every doc's distinct grams by ascending global
    *    df; a qualifying pair MUST share a gram among the first
    *    |A| - ceil(t·|A|) + 1 of that order (pigeonhole), so only
    *    prefix grams enter the inverted index. The right regime when
    *    the vocabulary grows with the corpus: rare grams exist and
    *    candidate fan-out collapses.
    *  - `allpairs`: size-filtered broadcast nested-loop self-join. The
    *    right regime for a CLOSED vocabulary (the test corpus: 2,041
    *    distinct 5-grams, median df 291), where "rarest" grams still
    *    have posting lists proportional to the corpus and the prefix
    *    join ENUMERATES far more than n² rows (253M enumerations vs
    *    12.5M pairs at sf0.1).
    *  - `auto` probes Σ df(g)² (one row off the dfs agg the prefix
    *    plan needs anyway) and |docs|, and compares the prefix join's
    *    enumeration estimate — Σ dfp² ≈ (1-t)²·Σ df² unordered,
    *    Σ dfp·df ≈ (1-t)·Σ df² ordered — against the all-pairs sweep.
    *    Two bounded driver-side actions, the same cost-based-choice
    *    discipline AQE applies to join strategies.
    *  - `auto` has a THIRD verdict (round 10): when even the cheaper
    *    exact generator predicts more weighted merge-step work than
    *    `maxCandidates` (see [[DefaultMaxCandidates]] for the
    *    measured cost model), it REFUSES — loudly, naming the sub-quadratic
    *    escape (`strategy = "lsh"`, or [[minhashVerifiedPairs]]) —
    *    instead of silently running a quadratic at corpus scale. The
    *    dense closed-vocabulary regime makes EVERY exact algorithm
    *    ~n² (round-9 measurement: 30× wall-clock at 10× data), so the
    *    honest options are an explicit quadratic opt-in or sketch-
    *    bounded candidates; `auto` never picks the quadratic for you
    *    past the bound.
    *  - `lsh` (unordered only): minhash-banded candidates (sub-
    *    quadratic — the [[minhashPairs]] machinery), each verified
    *    with the EXACT jaccard before anything is emitted. Verdicts
    *    are exact; RECALL is the LSH band recall at the threshold
    *    (pairs whose signature estimate falls below `threshold` are
    *    never considered) — the [[minhashVerifiedPairs]] trade, with
    *    this operator's output shape.
    *
    * VERIFY — identical in all regimes: the per-doc sorted gram sets
    * join back via the cost-based [[sideJoin]] (broadcast while the
    * measured rows × width estimate fits, shuffled co-partitioned on
    * doc id beyond — never an unconditional hint), and
    * [[graft.functions.SetOps.sortedIntersectCount]] counts each
    * intersection with an early abort one unit of slack BELOW the
    * threshold (floor'd), so any pair the final double-division filter
    * could keep computes its exact count while losing pairs cost only
    * the steps needed to prove they lose. The final filter is the
    * IDENTICAL double comparison the DuckDB oracle runs. Candidates
    * are deduped AFTER the threshold filter, where survivors are few —
    * never before, where they are tens of millions.
    */
  private def exactSetPairs(docs: DataFrame, idCol: String, textCol: String,
                            threshold: Double, ordered: Boolean,
                            strategy: String,
                            maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = materialize(graft.Tables.spread(docs).select(col(idCol).as("doc_id"),
      graft.functions.ShingleSet.sorted(col(textCol)).as("ngs")))
    val inverted = sets.select(col("doc_id"), size(col("ngs")).as("sz"),
      explode(col("ngs")).as("ng"))
    val dfs = inverted.groupBy("ng").agg(count(lit(1)).as("df"))

    // (docs, total grams) off the persisted sets — sizes the verify
    // sideJoin; one bounded action, shared with the auto probe
    lazy val setStats: (Long, Long) = {
      val r = sets.agg(count(lit(1)).cast("long"),
        coalesce(sum(size(col("ngs")).cast("long")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    lazy val setBytes = setStats._1 * 32L + setStats._2 * 8L

    // (Σ df², |vocab|) in ONE bounded action off the dfs agg the
    // prefix plan needs anyway — Σ df² drives the auto strategy probe,
    // |vocab| the dense-bitmap verify decision (round 18).
    // coalesce: sum over an EMPTY corpus is NULL — getDouble would
    // throw instead of returning an empty pair set (ADVICE r9)
    lazy val dfStats: (Double, Long) = {
      val r = dfs.agg(coalesce(
          sum(col("df").cast("double") * col("df")), lit(0.0)),
        count(lit(1))).head()
      (r.getDouble(0), r.getLong(1))
    }

    val resolved = strategy match {
      case "allpairs" | "prefix" | "lsh" => strategy
      case "auto" =>
        val n = setStats._1.toDouble
        chooseCandidateStrategy(n, dfStats._1, threshold, ordered, maxCandidates)
      case other => throw new IllegalArgumentException(
        s"unknown candidate strategy '$other' (auto|prefix|allpairs|lsh)")
    }
    if (resolved == "lsh") require(!ordered,
      "lsh candidates bound JACCARD; containment has no such bound (a doc " +
        "fully quoted inside a much longer one scores near 1.0 containment " +
        "but arbitrarily low jaccard) - pass strategy=prefix|allpairs")

    val la = sets.select(col("doc_id").as("doc_a"), col("ngs").as("ngs_a"))
    val rb = sets.select(col("doc_id").as("doc_b"), col("ngs").as("ngs_b"))
    // size filters (exact, floor'd so the double product's last-ulp
    // error can only let a borderline pair THROUGH to verification):
    // ordered: |B| >= t·|A|; unordered: least >= t·greatest
    def szFilter(sa: Column, sb: Column): Column =
      if (ordered) sb >= floor(lit(threshold) * sa)
      else least(sa, sb) >= floor(lit(threshold) * greatest(sa, sb))
    def idCond(a: Column, b: Column): Column =
      if (ordered) a =!= b else a < b
    // overlap the caller's threshold requires, floor'd down so the
    // double product's last-ulp error can only send a borderline pair
    // through full (exact) verification
    def needOf(szA: Column, szB: Column): Column =
      if (ordered) floor(lit(threshold) * szA).cast("long")
      else floor(lit(threshold / (1.0 + threshold)) *
        (szA + szB).cast("double")).cast("long")
    // sorted-merge verify of a candidate relation carrying ngs_a/ngs_b
    // — the (doc_a, doc_b, szA, szB, icnt) shape all strategies share
    def mergeVerify(withSets: DataFrame): DataFrame = {
      val szA = size(col("ngs_a")); val szB = size(col("ngs_b"))
      withSets.select(col("doc_a"), col("doc_b"),
        szA.as("szA"), szB.as("szB"),
        graft.functions.SetOps.sortedIntersectCount(
          col("ngs_a"), col("ngs_b"), needOf(szA, szB)).as("icnt"))
    }

    // Dense-vocabulary bitset verify (round 18, guide §4): in the
    // closed-vocabulary regime that makes `allpairs` win, the per-pair
    // sorted-merge (O(|A|+|B|) branchy steps) is replaced by
    // Σ popcount(a&b) over |V|/64 packed words — branch-free and
    // allocation-free, with the broadcast side shrinking from |A|
    // longs/doc to |V|/64 words/doc. Fires only when the bitset is no
    // larger than the gram array it replaces (nWords <= avg set size)
    // and the vocabulary is small enough to collect (bounded driver
    // metadata, like the auto probe). Intersection counts are exact
    // (bit j ⇔ vocab(j) ∈ set), so the emitted pairs are IDENTICAL.
    val denseBitmapVerify = resolved == "allpairs" && {
      val (nDocs, totGrams) = setStats
      val avgSz = if (nDocs > 0) totGrams / nDocs else 0L
      val vocabN = dfStats._2
      val nWords = (vocabN + 63L) >>> 6
      vocabN > 0 && vocabN <= MaxBitmapVocab && nWords <= avgSz
    }

    val scored: DataFrame =
      if (resolved == "allpairs") {
        // the sweep is a broadcast nested-loop join whose parallelism
        // is the LEFT side's partition count — a small corpus arrives
        // as one parquet split, which would serialize n²/2 kernel
        // merges onto one core; spread the probe side first. The
        // broadcast here is INHERENT to the strategy, and bounded by
        // construction: auto only picks allpairs while n²/2 fits
        // maxCandidates (n ≤ ~14k docs at the default) — an explicit
        // strategy="allpairs" on a larger corpus is the caller's
        // quadratic opt-in
        val shufflePartitions =
          docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        if (denseBitmapVerify) {
          val vocab = dfs.select(col("ng")).orderBy("ng")
            .collect().map(_.getLong(0))
          val bsets = sets.select(col("doc_id"), size(col("ngs")).as("sz"),
            graft.functions.SetOps.vocabBitmap(col("ngs"), vocab).as("bm"))
          val la2 = bsets.select(col("doc_id").as("doc_a"),
            col("sz").as("sz_a"), col("bm").as("bm_a"))
          val rb2 = bsets.select(col("doc_id").as("doc_b"),
            col("sz").as("sz_b"), col("bm").as("bm_b"))
          la2.repartition(shufflePartitions).join(broadcast(rb2),
              idCond(col("doc_a"), col("doc_b")) &&
                szFilter(col("sz_a"), col("sz_b")))
            .select(col("doc_a"), col("doc_b"),
              col("sz_a").as("szA"), col("sz_b").as("szB"),
              graft.functions.SetOps.bitmapAndCount(col("bm_a"), col("bm_b"),
                needOf(col("sz_a"), col("sz_b"))).as("icnt"))
        } else {
          val swept = la.repartition(shufflePartitions).join(broadcast(rb),
            idCond(col("doc_a"), col("doc_b")) &&
              szFilter(size(col("ngs_a")), size(col("ngs_b"))))
          mergeVerify(swept)
        }
      }
      else if (resolved == "lsh") {
        val cand = minhashPairs(docs, idCol, textCol, threshold,
            maxCandidates = maxCandidates)
          .select("doc_a", "doc_b")
        mergeVerify(
          sideJoin(sideJoin(cand, la, "doc_a", setBytes), rb, "doc_b", setBytes))
      }
      else {
        // prefix bound: |A| - ceil(t*|A|) + 1. The epsilon keeps the
        // double product's last-ulp error from pushing ceil UP when
        // t*sz is mathematically an exact integer — overshooting would
        // SHORTEN the prefix below the pigeonhole bound and silently
        // drop qualifying pairs; undershooting merely lengthens it
        // (more candidates, still exact). Mirrors the floor'd size
        // filters, which round in the safe direction for the same
        // reason (ADVICE r9).
        val prefix = inverted.join(dfs, "ng")
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df"), col("ng"))))
          .filter(col("rn") <=
            col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
          .select("doc_id", "ng", "sz")
        val right =
          if (ordered) inverted.select(col("doc_id").as("rid"), col("ng"),
            col("sz").as("rsz"))
          else prefix.select(col("doc_id").as("rid"), col("ng"),
            col("sz").as("rsz"))
        val pairs = prefix.as("l").join(right.as("r"),
            col("l.ng") === col("r.ng") &&
              idCond(col("l.doc_id"), col("r.rid")) &&
              szFilter(col("l.sz"), col("r.rsz")))
          .select(col("l.doc_id").as("doc_a"), col("r.rid").as("doc_b"))
        mergeVerify(
          sideJoin(sideJoin(pairs, la, "doc_a", setBytes), rb, "doc_b", setBytes))
      }

    val (scoreName, score) =
      if (ordered) ("containment", col("icnt").cast("double") / col("szA"))
      else ("jaccard",
        col("icnt").cast("double") / (col("szA") + col("szB") - col("icnt")))
    scored
      .select(col("doc_a"), col("doc_b"), score.as(scoreName))
      .filter(col(scoreName) >= threshold)
      .dropDuplicates("doc_a", "doc_b")
  }
}
