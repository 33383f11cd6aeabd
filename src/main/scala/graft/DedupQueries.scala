package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** SURVEY.md §2 C1-C5 — the dedup family as gate queries. The test
  * corpus has no natural duplicates, so each query plants them
  * deterministically: exact copies (doc_id+1M for doc_id%10=0) and
  * near copies with the first two words dropped (doc_id+2M for
  * doc_id%10=5). The same construction is mirrored in every oracle.
  * C2/C2b/C3 carry full DuckDB oracles via [[DedupOracles]] (the hash
  * kernels rebuilt in SQL); C5's oracle inlines the seeded hyperplanes
  * the same way (sign-of-dot is exact — the dot folds bit-identically
  * on both engines).
  */
object DedupQueries {

  private def Q(f: (SparkSession, String) => DataFrame) = f

  /** Base docs + planted exact and near duplicates. */
  def corpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val exact = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val near = docs.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 2000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+\\S+\\s+", "").as("text"))
    docs.unionByName(exact).unionByName(near)
  }

  /** Embeddings + planted near-dup vectors (first component nudged). */
  def vecCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select("vec_id", "embedding")
    val near = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(x + 0.01 AS FLOAT) ELSE x END)")
          .as("embedding"))
    base.unionByName(near)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C1 (oracle): exact dedup via content-hash groupBy — 16 bytes/row
    // shuffle, equivalent to GROUP BY text.
    "dedup_exact" -> Q { (s, d) =>
      Dedup.exact(corpus(s, d), "doc_id", "text").orderBy("keeper")
    },

    // C2 (rows-only): MinHash+LSH near-dup clusters — LSH pairs then
    // distributed min-propagation connected components.
    "dedup_minhash" -> Q { (s, d) =>
      Dedup.minhashClusters(corpus(s, d), "doc_id", "text", threshold = 0.5)
        .orderBy("doc_id")
    },

    // C2b (rows-only): the underlying candidate-pair view.
    "dedup_minhash_pairs" -> Q { (s, d) =>
      Dedup.minhashPairs(corpus(s, d), "doc_id", "text", threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    },

    // C2c (oracle, round 10): the INCREMENTAL near-dup path — new
    // documents (the planted replicas, doc_id >= 1e6) against a
    // historical signature STORE (the base docs), without re-pairing
    // the store against itself: the daily-increment shape at scale
    // (work = O(increment × bucket occupancy), never O(store²)).
    // Previously spec-only; the oracle replays the full signature
    // chain with the cross-side-only band join.
    "dedup_minhash_incr" -> Q { (s, d) =>
      val c = corpus(s, d)
      Dedup.minhashPairsAgainst(
          Dedup.signatures(c.filter(col("doc_id") >= 1000000), "doc_id", "text"),
          Dedup.signatures(c.filter(col("doc_id") < 1000000), "doc_id", "text"),
          threshold = 0.5)
        .orderBy("doc_id", "store_id")
    },

    // C39 (oracle, round 9): the production near-dup shape — LSH
    // candidates, EXACT gram-Jaccard verdicts. The oracle replays the
    // signature chain AND recomputes the exact Jaccard over raw gram
    // strings, proving the composition and the hashed-gram
    // verification's collision-freedom at once.
    "dedup_minhash_verified" -> Q { (s, d) =>
      Dedup.minhashVerifiedPairs(corpus(s, d), "doc_id", "text",
        threshold = 0.5).orderBy("doc_a", "doc_b")
    },

    // C3 (rows-only): 64-bit SimHash, hamming <= 3 via 4-band pigeonhole.
    "dedup_simhash" -> Q { (s, d) =>
      Dedup.simhashPairs(corpus(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },

    // C4 (oracle): exact char-5-gram Jaccard, prefix-filtered
    // candidates (guaranteed recall at the threshold). The DuckDB
    // oracle recomputes Jaccard over the raw gram STRINGS with no
    // prefix filter — so it independently proves both the scores and
    // the filter's losslessness.
    "dedup_ngram_jaccard" -> Q { (s, d) =>
      Dedup.ngramJaccardPairs(corpus(s, d), "doc_id", "text", threshold = 0.4)
        .orderBy("doc_a", "doc_b")
    },

    // C28 (oracle, round 8): asymmetric n-gram CONTAINMENT — catches a
    // doc quoted inside another (near-1.0 containment, low Jaccard).
    // Ordered pairs; oracle recomputes over gram strings with no
    // prefix filter, proving the filter lossless in BOTH directions.
    "dedup_containment" -> Q { (s, d) =>
      Dedup.containmentPairs(corpus(s, d), "doc_id", "text", threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    },

    // C5 (oracle): embedding cosine near-dups via hyperplane LSH.
    "dedup_embedding" -> Q { (s, d) =>
      Similarity.embeddingPairs(vecCorpus(s, d), threshold = 0.99)
        .orderBy("vec_a", "vec_b")
    },

    // C1b (oracle): normalized exact dedup — lowercase, strip
    // non-alphanumerics, collapse whitespace, THEN hash-group: the
    // standard "exact dedup after normalization" pipeline stage. Same
    // 1-shuffle shape as dedup_exact.
    "dedup_exact_norm" -> Q { (s, d) =>
      Dedup.exact(
        corpus(s, d).select(col("doc_id"),
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
            .as("text")),
        "doc_id", "text").orderBy("keeper")
    },

    // C13 (oracle): reproducible ~20% sample keyed on doc_id —
    // byte-identical across runs/retries AND across engines (the
    // portable md5 bucket; the xxhash64 fast path is spec-checked).
    "sample_docs" -> Q { (s, d) =>
      graft.operators.Sampling.deterministicSample(
        Tables.documents(s, d).select("doc_id", "lang"),
        col("doc_id"), 0.2, portable = true).orderBy("doc_id")
    },

    // C14 (oracle): train/val/test split assignment by keyed hash.
    "split_assign" -> Q { (s, d) =>
      graft.operators.Sampling.splitAssign(
        Tables.documents(s, d).select("doc_id"),
        col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        portable = true)
        .orderBy("doc_id")
    },

    // C20 (oracle): quality-weighted Bernoulli sampling — keep docs
    // with probability = quality score (round 7). The weight gate is
    // one IEEE divide+multiply against the integer md5 bucket, so the
    // oracle reproduces decisions bit-identically (no ln/pow).
    "sample_weighted" -> Q { (s, d) =>
      import graft.functions.{TextFunctions => T}
      // spread + barrier (r17): the weight-gate filter otherwise
      // collapses into the single-row-group scan task and evaluates
      // the count-regex tree serially there, twice (once for the
      // filter, once for the projected quality). The barriered rows
      // are (doc_id, quality) — ~16 B/row, materialized by
      // Tables.barrier's default mode (Tables.materialize).
      val base = Tables.spread(Tables.documents(s, d)).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        T.alphaCount(col("text")).as("n_alpha"),
        T.whitespaceCount(col("text")).as("n_ws"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.stopwordHits(col("text"), T.stopwords.head._2).as("n_stop"))
      val scored = Tables.barrier(base.select(col("doc_id"), T.qualityScore(
        T.ratio(col("n_alpha"), col("n_chars")),
        T.ratio(col("n_chars") - col("n_ws"), col("n_tokens")),
        T.ratio(col("n_stop"), col("n_tokens"))).as("quality")))
      graft.operators.Sampling.weightedSample(
          scored, col("doc_id"), col("quality"), 1.0, seed = 7L, portable = true)
        .orderBy("doc_id")
    },

    // C21 (oracle): stratified sample — the 20 hash-first docs per
    // language (round 7). One shuffle on the stratum; WindowGroupLimit
    // prunes partitions to top-n before the final sort.
    "sample_stratified" -> Q { (s, d) =>
      graft.operators.Sampling.stratifiedSample(
          Tables.documents(s, d).select("doc_id", "lang"),
          col("lang"), col("doc_id"), 20, portable = true)
        .orderBy("doc_id")
    },

    // C25b (oracle, round 8): epoch-aware mixing — zh weighted 3:1
    // against en forces UPSAMPLING (zh runs 3 full epochs, en is
    // subsampled), the LLaMA-style repeated-pass mixture.
    "mix_epochs" -> Q { (s, d) =>
      import graft.functions.{TextFunctions => T}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        T.tokenCount(col("text")).as("n_tokens"))
      val targets = Seq(("en", 1L), ("zh", 3L))
      val kept = graft.operators.DomainMix
        .sampleEpochs(docs, "doc_id", "lang", "n_tokens", targets,
          maxEpochs = 3, seed = 7L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept_rows"), sum("n_tokens").as("kept_tokens"))
      graft.operators.DomainMix
        .planEpochs(docs, "lang", "n_tokens", targets, maxEpochs = 3)
        .join(kept, Seq("lang"), "left")
        .na.fill(0L, Seq("n_kept_rows", "kept_tokens"))
        .select(col("lang"), col("n_docs"), col("t_tokens"), col("weight"),
          col("budget_tokens"), col("goal_tokens"), col("epochs"),
          col("last_frac"), col("n_kept_rows"), col("kept_tokens"))
        .orderBy("lang")
    },

    // C30 (oracle, round 8): the round-8 pipeline composed END-TO-END
    // as one gated query — Gopher rule filter → domain mixing (en:de:
    // fr:es = 5:2:2:1 over the survivors) → sharded export manifest.
    // Each stage is independently gated; this proves the COMPOSITION
    // (the filter changes the domain totals the mix plans against, the
    // mix changes the population the manifest checksums).
    "pipeline_train_export" -> Q { (s, d) =>
      import graft.functions.{TextFunctions => T}
      val kept = graft.operators.QualityRules
        .ruleFlags(Tables.documents(s, d), "doc_id", "text")
        .filter(col("keep"))
        .select("doc_id", "n_tokens")
        .join(Tables.documents(s, d).select("doc_id", "lang"), Seq("doc_id"))
      val targets = Seq(("en", 5L), ("de", 2L), ("fr", 2L), ("es", 1L))
      // one-scan mixing: materialize the #domains-row plan once (the
      // only pass that aggregates the corpus), then the sample pays a
      // single filter-join scan instead of re-deriving the totals
      val mixPlan = graft.operators.DomainMix
        .plan(kept, "lang", "n_tokens", targets).cache()
      val mixed = graft.operators.DomainMix
        .sampleWithPlan(kept, "doc_id", "lang", mixPlan, seed = 7L)
      graft.operators.TrainExport
        .manifest(mixed, "doc_id", "n_tokens", 8)
        .orderBy("shard")
    },

    // C27 (oracle, round 8): training-export manifest — deterministic
    // shard assignment + order-independent bit_xor checksum per shard,
    // recomputable by ANY engine with md5 to audit a delivered corpus.
    "export_manifest" -> Q { (s, d) =>
      import graft.functions.{TextFunctions => T}
      val docs = Tables.documents(s, d).select(col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"))
      graft.operators.TrainExport.manifest(docs, "doc_id", "n_tokens", 8)
        .orderBy("shard")
    },

    // C26 (oracle, round 8): cluster-representative selection — keep
    // the highest-quality member of every minhash near-dup cluster
    // (the production dedup policy: drop the boilerplate copy, keep
    // the clean one), singletons kept as their own cluster.
    "dedup_keep_best" -> Q { (s, d) =>
      import graft.functions.{TextFunctions => T}
      val c = corpus(s, d)
      val quality = T.qualityScore(
        T.ratio(T.alphaCount(col("text")), length(col("text")).cast("long")),
        T.ratio(length(col("text")).cast("long") - T.whitespaceCount(col("text")),
          T.tokenCount(col("text"))),
        T.ratio(T.stopwordHits(col("text"), T.stopwords.head._2),
          T.tokenCount(col("text"))))
      Dedup.keepBest(c, "doc_id", "text", quality, threshold = 0.5)
        .orderBy("cluster_id")
    },

    // C25 (oracle, round 8): domain mixing toward target proportions —
    // weights en:de:fr:es = 5:2:2:1 over the lang column ('zh' absent
    // from targets = weight 0, dropped). Output is the per-domain plan
    // plus what the deterministic Bernoulli keep actually realized.
    "mix_domains" -> Q { (s, d) =>
      import graft.functions.{TextFunctions => T}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        T.tokenCount(col("text")).as("n_tokens"))
      val targets = Seq(("en", 5L), ("de", 2L), ("fr", 2L), ("es", 1L))
      val kept = graft.operators.DomainMix
        .sample(docs, "doc_id", "lang", "n_tokens", targets, seed = 7L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("n_tokens").as("kept_tokens"))
      graft.operators.DomainMix.plan(docs, "lang", "n_tokens", targets)
        .join(kept, Seq("lang"), "left")
        .na.fill(0L, Seq("n_kept", "kept_tokens"))
        .select(col("lang"), col("n_docs"), col("t_tokens"), col("weight"),
          col("budget_tokens"), col("goal_tokens"), col("keep_frac"),
          col("n_kept"), col("kept_tokens"))
        .orderBy("lang")
    },

    // C38 (oracle, round 9): the PRIVACY pipeline composed end-to-end
    // — PII scrub, THEN exact dedup over the scrubbed text: the order
    // every production pipeline uses (redaction first makes docs that
    // differed only in their PII collapse). Plants key on
    // doc_id % 1000000 so a replica (+1M id) carries the SAME planted
    // PII as its original — scrub must then collapse the pair; the
    // composition is the thing under test, and both halves are also
    // independently gated (text_pii_scrub / dedup_exact).
    "pipeline_privacy" -> Q { (s, d) =>
      val P = graft.operators.PiiScrub
      val bid = col("doc_id") % 1000000
      val planted = corpus(s, d).select(col("doc_id"), concat(
        col("text"),
        when(bid % 3 === 0,
          concat(lit(" contact user"), bid.cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(bid % 5 === 0,
          concat(lit(" from 10.0."), (bid % 251).cast("string"),
            lit("."), ((bid % 254) + 1).cast("string"))).otherwise(lit("")),
        when(bid % 7 === 0,
          concat(lit(" call 9"),
            lpad(((bid * 7919) % 100000000).cast("string"), 8, "0")))
          .otherwise(lit(""))).as("planted"))
      val (e, i, p, t) = P.scrub(col("planted"))
      val scrubbed = planted.select(col("doc_id"), e.as("n_emails"),
        i.as("n_ips"), p.as("n_phones"), t.as("scrubbed"))
      scrubbed.groupBy("scrubbed")
        .agg(min("doc_id").as("keeper"),
          count(lit(1)).as("n_copies"),
          min("n_emails").as("n_emails"), min("n_ips").as("n_ips"),
          min("n_phones").as("n_phones"))
        .select(col("keeper"), col("n_copies"),
          col("n_emails"), col("n_ips"), col("n_phones"))
        .orderBy("keeper")
    },

    // C37 (oracle, round 9): temperature mixing at τ=1/2 — weights
    // ∝ sqrt(domain tokens) flatten the natural distribution (the
    // mT5/UniMax knob). sqrt is the one portable power (IEEE
    // correctly-rounded on both engines); the rest is the integer
    // plan arithmetic, re-derived end-to-end by the oracle including
    // the data-dependent weight sum.
    "mix_temperature" -> Q { (s, d) =>
      import graft.functions.{TextFunctions => T}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        T.tokenCount(col("text")).as("n_tokens"))
      graft.operators.DomainMix.planTemperature(docs, "lang", "n_tokens")
        .orderBy("lang")
    },

    // C44 (oracle, round 14): blocking + exact-verify fuzzy pairs by
    // EDIT DISTANCE over the 64-char doc prefix — the entity-resolution
    // / ClickHouse-editDistance shape for character-level near-dups.
    // Candidates equi-join on the 8-char blocking key (Σ|block|²,
    // never all-pairs); verify is codegen'd levenshtein, exact on both
    // engines (unit-cost classic DP), so the gate is integer-exact.
    "dedup_fuzzy" -> Q { (s, d) =>
      graft.operators.Dedup
        .editDistancePairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // C44b (oracle, round 14): the fuzzy pairs closed into CLUSTERS —
    // the same large-star/small-star min-propagation that serves the
    // minhash family (16-byte edges, no driver collect, loud
    // non-convergence), composed over the edit-distance verifier.
    // Oracle = the recursive-reach closure precedent.
    "dedup_fuzzy_cluster" -> Q { (s, d) =>
      val pairs = graft.operators.Dedup
        .editDistancePairs(Tables.documents(s, d), "doc_id", "text")
      graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .orderBy("doc_id")
    }
  )

  /** DuckDB replica of Sampling.portableBucket: decode the first 8 hex
    * chars of md5("<key>:<seed>") positionally (DuckDB 1.0 has no
    * hex-to-int cast), then mod 1e6.
    */
  private[graft] def md5BucketSql(keyExpr: String, seed: Long): String = {
    val h = s"md5($keyExpr || ':$seed')"
    val terms = (1 to 8).map { i =>
      val p = 1L << (4 * (8 - i))
      s"(strpos('0123456789abcdef', substring($h,$i,1))-1)*$p"
    }.mkString(" + ")
    s"(($terms) % 1000000)"
  }

  val oracles: Map[String, String] = Map(
    // The planted +0.01 nudge must add in DOUBLE then narrow to FLOAT:
    // Spark coerces float + decimal-literal to double, while a bare
    // float + 0.01 in DuckDB adds in float32 — off by 1 ulp on some
    // components, which moves cosines in the 10th decimal.
    "dedup_embedding" ->
      s"""WITH vc AS (
         | SELECT vec_id, embedding FROM embeddings
         | UNION ALL
         | SELECT vec_id + 1000000,
         |   list_transform(embedding, (x, i) -> CASE WHEN i = 1 THEN CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT) ELSE x END)
         | FROM embeddings WHERE vec_id % 10 = 0
         |), dv AS (
         | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM vc
         |), sigs AS (
         | SELECT vec_id, dv, ${VectorQueries.sigBitsSql} AS sig FROM dv
         |), banded AS (
         | SELECT vec_id, unnest([sig % 256, 256 + sig // 256]) AS bh FROM sigs
         |), cand AS (
         | SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         | FROM banded a JOIN banded b ON a.bh = b.bh AND a.vec_id < b.vec_id
         |)
         |SELECT vec_a, vec_b,
         | list_inner_product(a.dv, b.dv) / (sqrt(list_inner_product(a.dv, a.dv)) * sqrt(list_inner_product(b.dv, b.dv))) AS cos
         |FROM cand
         | JOIN dv a ON a.vec_id = vec_a
         | JOIN dv b ON b.vec_id = vec_b
         |WHERE list_inner_product(a.dv, b.dv) / (sqrt(list_inner_product(a.dv, a.dv)) * sqrt(list_inner_product(b.dv, b.dv))) >= 0.99
         |ORDER BY vec_a, vec_b""".stripMargin,

    "dedup_simhash" -> DedupOracles.simhashSql,
    "dedup_minhash_pairs" -> DedupOracles.minhashPairsSql,
    "dedup_minhash" -> DedupOracles.minhashClustersSql,
    "dedup_minhash_verified" -> DedupOracles.minhashVerifiedSql,
    "dedup_minhash_incr" -> DedupOracles.minhashIncrSql,

    // Unfiltered exact recompute over the raw gram STRINGS (the
    // operator uses gram hashes + prefix filtering, so this
    // independently proves both the scores and the filter's
    // losslessness). Inverted-index form: pairs sharing zero grams
    // have jaccard 0 < threshold, so counting only co-occurring grams
    // is exhaustive — and O(Σ df²) instead of the all-pairs
    // list_intersect that took an hour at sf0.1.
    "dedup_ngram_jaccard" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        | UNION ALL
        | SELECT doc_id + 2000000, regexp_replace(text, '^\S+\s+\S+\s+', '')
        | FROM documents WHERE doc_id % 10 = 5
        |), g AS MATERIALIZED (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(length(text) - 4, 1) + 1),
        |   i -> substring(text, CAST(i AS BIGINT), 5)))) AS gram
        | FROM corpus
        |), sz AS MATERIALIZED (
        | SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
        |), inter AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        | FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        | JOIN sz sa ON sa.doc_id = doc_a
        | JOIN sz sb ON sb.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.4
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_exact_norm" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        | UNION ALL
        | SELECT doc_id + 2000000, regexp_replace(text, '^\S+\s+\S+\s+', '')
        | FROM documents WHERE doc_id % 10 = 5
        |)
        |SELECT min(doc_id) AS keeper, count(*) AS n_copies
        |FROM (SELECT doc_id,
        |        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        |      FROM corpus)
        |GROUP BY norm ORDER BY keeper""".stripMargin,

    "sample_docs" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${md5BucketSql("CAST(doc_id AS VARCHAR)", 42L)} < 200000
         |ORDER BY doc_id""".stripMargin,

    "split_assign" ->
      s"""SELECT doc_id,
         | CASE WHEN bkt < 800000 THEN 'train'
         |      WHEN bkt < 900000 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |        ${md5BucketSql("CAST(doc_id AS VARCHAR)", 42L)} AS bkt
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "sample_weighted" ->
      s"""WITH base AS (
         | SELECT doc_id, length(text) AS n_chars,
         |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
         |  length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_ws,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         |  len(regexp_extract_all(lower(text), '${TextQueries.stopRe("en")}')) AS n_stop
         | FROM documents
         |), q AS (
         | SELECT doc_id,
         |  0.4 * (CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_alpha AS DOUBLE) / n_chars END)
         |   + 0.3 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars - n_ws AS DOUBLE) / n_tokens END) / 8.0)
         |   + 0.3 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END) * 5.0) AS quality
         | FROM base)
         |SELECT doc_id, quality FROM q
         |WHERE CAST(${md5BucketSql("CAST(doc_id AS VARCHAR)", 7L)} AS DOUBLE)
         |      < (quality / 1.0) * 1000000
         |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM (
         | SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY ${md5BucketSql("CAST(doc_id AS VARCHAR)", 42L)}, doc_id) AS rn
         | FROM documents)
         |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    "dedup_keep_best" -> DedupOracles.keepBestSql,

    "dedup_containment" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        | UNION ALL
        | SELECT doc_id + 2000000, regexp_replace(text, '^\S+\s+\S+\s+', '')
        | FROM documents WHERE doc_id % 10 = 5
        |), g AS MATERIALIZED (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(length(text) - 4, 1) + 1),
        |   i -> substring(text, CAST(i AS BIGINT), 5)))) AS gram
        | FROM corpus
        |), sz AS MATERIALIZED (
        | SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
        |), inter AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        | FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / sa.n AS containment
        |FROM inter JOIN sz sa ON sa.doc_id = doc_a
        |WHERE CAST(i AS DOUBLE) / sa.n >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    "pipeline_train_export" -> {
      val QR = graft.operators.QualityRules
      // stopword regex from TextFunctions directly — referencing
      // TextQueries.stopRe from this val risks the object-init cycle
      // that NULLed keepBestSql (see DedupOracles.stopReEn)
      val stopReEn = s"\\b(${graft.functions.TextFunctions.stopwords.head._2})\\b"
      s"""WITH toks AS (
         | SELECT doc_id, lang,
         |  CASE WHEN length(trim(text)) > 0
         |       THEN regexp_split_to_array(lower(trim(text)), '\\s+')
         |       ELSE CAST([] AS VARCHAR[]) END AS tk,
         |  length(regexp_replace(trim(text), '\\s', '', 'g')) AS word_chars,
         |  len(regexp_extract_all(lower(text), '$stopReEn')) AS n_stop
         | FROM documents
         |), met AS (
         | SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |  CAST(word_chars AS BIGINT) AS word_chars,
         |  CAST(n_stop AS BIGINT) AS n_stop
         | FROM toks
         |), kept AS (
         | SELECT doc_id, lang, n_tokens FROM met
         | WHERE n_tokens >= ${QR.DefaultMinTokens} AND n_tokens <= ${QR.DefaultMaxTokens}
         |   AND word_chars >= ${QR.DefaultMinWordLen} * n_tokens
         |   AND word_chars <= ${QR.DefaultMaxWordLen} * n_tokens
         |   AND n_stop >= ${QR.DefaultMinStopHits}
         |   AND ${QR.DistinctRatioDen} * n_distinct >= ${QR.DistinctRatioNum} * n_tokens
         |), tw AS (
         | SELECT * FROM (VALUES ('en', 5), ('de', 2), ('fr', 2), ('es', 1)) t(lang, weight)
         |), totals AS (
         | SELECT lang, sum(n_tokens) AS t_tokens FROM kept GROUP BY 1
         |), pl AS (
         | SELECT tw.lang, CAST(coalesce(t_tokens, 0) AS BIGINT) AS t_tokens,
         |  CAST(weight AS BIGINT) AS weight
         | FROM tw LEFT JOIN totals USING (lang)
         |), p2 AS (
         | SELECT *, min((t_tokens * 10) // weight) OVER () AS budget_tokens FROM pl
         |), p3 AS (
         | SELECT *, (weight * budget_tokens) // 10 AS goal_tokens FROM p2
         |), p4 AS (
         | SELECT lang, CASE WHEN t_tokens = 0 THEN 0.0
         |  ELSE least(1.0, CAST(goal_tokens AS DOUBLE) / CAST(t_tokens AS DOUBLE)) END AS keep_frac
         | FROM p3
         |), mixed AS (
         | SELECT k.doc_id, k.n_tokens FROM kept k JOIN p4 USING (lang)
         | WHERE CAST(${md5BucketSql("CAST(doc_id AS VARCHAR)", 7L)} AS DOUBLE)
         |       < keep_frac * 1000000.0
         |)
         |${graft.operators.TrainExport.manifestSql("mixed", "doc_id", "n_tokens", 8)}"""
        .stripMargin
    },

    "export_manifest" -> graft.operators.TrainExport.manifestSql(
      "documents", "doc_id",
      """CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END""".stripMargin,
      8),

    "mix_epochs" ->
      s"""WITH tok AS (
         | SELECT doc_id, lang,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
         | FROM documents
         |), tw AS (
         | SELECT * FROM (VALUES ('en', 1), ('zh', 3)) t(lang, weight)
         |), totals AS (
         | SELECT lang, count(*) AS n_docs, sum(n_tokens) AS t_tokens FROM tok GROUP BY 1
         |), base AS (
         | SELECT tw.lang, CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
         |  CAST(coalesce(t_tokens, 0) AS BIGINT) AS t_tokens,
         |  CAST(weight AS BIGINT) AS weight
         | FROM tw LEFT JOIN totals USING (lang)
         |), p1 AS (
         | SELECT *, min((t_tokens * 3 * 4) // weight) OVER () AS budget_tokens FROM base
         |), p2 AS (
         | SELECT *, (weight * budget_tokens) // 4 AS goal_tokens FROM p1
         |), p3 AS (
         | SELECT *, CASE WHEN t_tokens = 0 THEN 0
         |   ELSE (goal_tokens + t_tokens - 1) // t_tokens END AS epochs FROM p2
         |), pl AS (
         | SELECT *, CASE WHEN t_tokens = 0 THEN 0.0
         |   ELSE CAST(goal_tokens - (epochs - 1) * t_tokens AS DOUBLE)
         |        / CAST(t_tokens AS DOUBLE) END AS last_frac
         | FROM p3
         |), exp0 AS (
         | SELECT t.doc_id, t.lang, t.n_tokens, pl.epochs, pl.last_frac
         | FROM tok t JOIN pl USING (lang) WHERE pl.epochs > 0
         |), exp AS (
         | SELECT doc_id, lang, n_tokens, epochs, last_frac,
         |  unnest(range(0, epochs)) AS epoch
         | FROM exp0
         |), kept AS (
         | SELECT lang, count(*) AS n_kept_rows, sum(n_tokens) AS kept_tokens
         | FROM exp
         | WHERE epoch < epochs - 1
         |    OR CAST(${md5BucketSql("CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)", 7L)} AS DOUBLE)
         |       < last_frac * 1000000.0
         | GROUP BY 1)
         |SELECT lang, n_docs, t_tokens, weight,
         | CAST(budget_tokens AS BIGINT) AS budget_tokens,
         | CAST(goal_tokens AS BIGINT) AS goal_tokens,
         | CAST(epochs AS BIGINT) AS epochs, last_frac,
         | CAST(coalesce(n_kept_rows, 0) AS BIGINT) AS n_kept_rows,
         | CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens
         |FROM pl LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin,

    "mix_domains" ->
      s"""WITH tok AS (
         | SELECT doc_id, lang,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
         | FROM documents
         |), tw AS (
         | SELECT * FROM (VALUES ('en', 5), ('de', 2), ('fr', 2), ('es', 1)) t(lang, weight)
         |), totals AS (
         | SELECT lang, count(*) AS n_docs, sum(n_tokens) AS t_tokens FROM tok GROUP BY 1
         |), pl AS (
         | SELECT tw.lang, CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
         |  CAST(coalesce(t_tokens, 0) AS BIGINT) AS t_tokens,
         |  CAST(weight AS BIGINT) AS weight
         | FROM tw LEFT JOIN totals USING (lang)
         |), pl2 AS (
         | SELECT *, min((t_tokens * 10) // weight) OVER () AS budget_tokens FROM pl
         |), pl3 AS (
         | SELECT *, (weight * budget_tokens) // 10 AS goal_tokens FROM pl2
         |), pl4 AS (
         | SELECT *, CASE WHEN t_tokens = 0 THEN 0.0
         |   ELSE least(1.0, CAST(goal_tokens AS DOUBLE) / CAST(t_tokens AS DOUBLE)) END AS keep_frac
         | FROM pl3
         |), kept AS (
         | SELECT t.lang, count(*) AS n_kept, sum(t.n_tokens) AS kept_tokens
         | FROM tok t JOIN pl4 USING (lang)
         | WHERE CAST(${md5BucketSql("CAST(doc_id AS VARCHAR)", 7L)} AS DOUBLE)
         |       < keep_frac * 1000000.0
         | GROUP BY 1)
         |SELECT lang, n_docs, t_tokens, weight,
         | CAST(budget_tokens AS BIGINT) AS budget_tokens,
         | CAST(goal_tokens AS BIGINT) AS goal_tokens, keep_frac,
         | CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         | CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens
         |FROM pl4 LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin,

    "pipeline_privacy" -> {
      val P = graft.operators.PiiScrub
      s"""WITH corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
         | UNION ALL
         | SELECT doc_id + 2000000, regexp_replace(text, '^\\S+\\s+\\S+\\s+', '')
         | FROM documents WHERE doc_id % 10 = 5
         |), planted AS (
         | SELECT doc_id, text ||
         |  CASE WHEN (doc_id % 1000000) % 3 = 0 THEN ' contact user' ||
         |   CAST(doc_id % 1000000 AS VARCHAR) || '@example.com'
         |   ELSE '' END ||
         |  CASE WHEN (doc_id % 1000000) % 5 = 0 THEN ' from 10.0.' ||
         |   CAST((doc_id % 1000000) % 251 AS VARCHAR) || '.' ||
         |   CAST((doc_id % 1000000) % 254 + 1 AS VARCHAR)
         |   ELSE '' END ||
         |  CASE WHEN (doc_id % 1000000) % 7 = 0 THEN ' call 9' ||
         |   lpad(CAST(((doc_id % 1000000) * 7919) % 100000000 AS VARCHAR), 8, '0')
         |   ELSE '' END AS planted
         | FROM corpus
         |), s1 AS (
         | SELECT doc_id,
         |  CAST(len(regexp_extract_all(planted, '${P.EmailRe}')) AS BIGINT) AS n_emails,
         |  regexp_replace(planted, '${P.EmailRe}', '${P.EmailTag}', 'g') AS t1
         | FROM planted
         |), s2 AS (
         | SELECT doc_id, n_emails,
         |  CAST(len(regexp_extract_all(t1, '${P.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  regexp_replace(t1, '${P.Ipv4Re}', '${P.IpTag}', 'g') AS t2
         | FROM s1
         |), s3 AS (
         | SELECT doc_id, n_emails, n_ips,
         |  CAST(len(regexp_extract_all(t2, '${P.PhoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(t2, '${P.PhoneRe}', '${P.PhoneTag}', 'g') AS scrubbed
         | FROM s2)
         |SELECT min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_copies,
         | min(n_emails) AS n_emails, min(n_ips) AS n_ips,
         | min(n_phones) AS n_phones
         |FROM s3 GROUP BY scrubbed ORDER BY keeper""".stripMargin
    },

    "mix_temperature" ->
      s"""WITH tok AS (
         | SELECT doc_id, lang,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
         | FROM documents
         |), totals AS (
         | SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS t_tokens
         | FROM tok GROUP BY 1
         |), wts AS (
         | SELECT lang, n_docs, t_tokens,
         |  greatest(1, CAST(floor(sqrt(CAST(t_tokens AS DOUBLE))) AS BIGINT)) AS weight
         | FROM totals
         |), ws AS (
         | SELECT CAST(sum(weight) AS BIGINT) AS w FROM wts
         |), pl2 AS (
         | SELECT wts.*, w,
         |  min((t_tokens * w) // weight) OVER () AS budget_tokens
         | FROM wts, ws
         |), pl3 AS (
         | SELECT *, (weight * budget_tokens) // w AS goal_tokens FROM pl2)
         |SELECT lang, n_docs, t_tokens, weight,
         | CAST(budget_tokens AS BIGINT) AS budget_tokens,
         | CAST(goal_tokens AS BIGINT) AS goal_tokens,
         | CASE WHEN t_tokens = 0 THEN 0.0
         |  ELSE least(1.0, CAST(goal_tokens AS DOUBLE) / CAST(t_tokens AS DOUBLE))
         | END AS keep_frac
         |FROM pl3 ORDER BY lang""".stripMargin,

    // C44: same blocking key, same prefix, DuckDB's own levenshtein
    // (identical unit-cost DP) as the independent verifier.
    "dedup_fuzzy" ->
      """WITH p AS (
        | SELECT doc_id, substring(lower(trim(text)), 1, 64) AS pre
        | FROM documents),
        |b AS (SELECT doc_id, pre, substring(pre, 1, 8) AS blk FROM p)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        | CAST(levenshtein(a.pre, c.pre) AS BIGINT) AS dist
        |FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.pre, c.pre) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    // C44b: the same pair derivation closed transitively (the
    // minhashClustersSql reach pattern), min-id cluster labels.
    "dedup_fuzzy_cluster" ->
      """WITH RECURSIVE p AS (
        | SELECT doc_id, substring(lower(trim(text)), 1, 64) AS pre
        | FROM documents),
        |b AS (SELECT doc_id, pre, substring(pre, 1, 8) AS blk FROM p),
        |pairs AS (
        | SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
        | FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
        | WHERE levenshtein(a.pre, c.pre) <= 6),
        |edges AS (
        | SELECT doc_a AS a, doc_b AS b FROM pairs
        | UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        | SELECT a, b FROM edges
        | UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, min(least(a, b)) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        | UNION ALL
        | SELECT doc_id + 2000000, regexp_replace(text, '^\S+\s+\S+\s+', '')
        | FROM documents WHERE doc_id % 10 = 5
        |)
        |SELECT min(doc_id) AS keeper, count(*) AS n_copies
        |FROM corpus GROUP BY text ORDER BY keeper""".stripMargin
  )
}
