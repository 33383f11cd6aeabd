package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.functions.{Fnv1a64, TextFunctions => T}

/** SURVEY.md §2 C8-C11 — text analysis over the documents table. All
  * single-pass, codegen'd column arithmetic: at 100 TB each of these is
  * one parquet scan with no shuffle at all (the gate's ORDER BY is for
  * comparison determinism only and would be dropped in production).
  */
object TextQueries {

  private def Q(f: (SparkSession, String) => DataFrame) = f

  /** documents read for the kernel-dense text gates: spread under-split
    * single-row-group inputs so regex/tokenize/shingle expression work
    * parallelizes past the one scan task (r17, guide §2.5; identity on
    * any realistically-split source — see Tables.spread).
    */
  private def docsIn(s: SparkSession, d: String) =
    Tables.spread(Tables.documents(s, d))

  /** Corpus-LEARNED BPE merges, memoized per data dir (the ivfModel
    * pattern: the gate's query run and the oracle build must see the
    * identical table; training is deterministic anyway — count desc,
    * pair lexicographic — the memo just avoids re-training).
    */
  private val bpeTrainedTables =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
  private[graft] def bpeTrainedMerges(s: SparkSession,
                                      d: String): Seq[(String, String)] =
    bpeTrainedTables.getOrElseUpdate(d,
      graft.functions.Bpe.train(docsIn(s, d), "text", 48))

  /** Fixed needle list for C47 `text_multisearch` (CH
    * multiSearchFirstIndex / multiSearchAny) — list ORDER is part of
    * the contract (ties on position resolve to the earlier needle).
    */
  private val MultiNeedles = Seq("spark", "hash", "window", "merge")

  /** Fixed query string for C48 `text_ngram_sim` (CH ngramDistance). */
  private val NgramQuery = "hash join table scan"

  /** Distinct 3-grams of [[NgramQuery]], computed once at build time
    * and inlined as a literal into BOTH engines (the trained-model-
    * literal precedent).
    */
  private val NgramQuerySet: Seq[String] =
    NgramQuery.toLowerCase.sliding(3).toSeq.distinct

  /** American Soundex as ONE expression string valid in BOTH engines
    * (C52) — upper/translate/replace/substring/rpad/concat behave
    * identically in Spark SQL and DuckDB, so a single generator keeps
    * the two sides in lockstep by construction. The classic rules,
    * expression-only:
    *  - H/W dropped from position 2 on BEFORE digit mapping (so
    *    consonants separated by h/w collapse as one code);
    *  - letters → digits incl. the first (vowels+Y → 0);
    *  - adjacent duplicate digits collapsed (runs handled by 5 rounds
    *    of pair-replaces per digit — RE2 has no backreferences, so
    *    the regexp '(\\d)\\1+' trick is NOT portable; chained
    *    replace() is);
    *  - drop the FIRST digit (the first letter's run — this is what
    *    makes 'Ashcraft' → A261, not A613), then strip the 0s
    *    (vowels acted as separators during collapsing), take 3,
    *    right-pad with 0.
    * Pinned against the textbook vectors in RfmPmiHwSpec's sibling.
    */
  private[graft] def soundexExprSql(c: String): String = {
    val up = s"upper($c)"
    val noHW =
      s"concat(substring($up, 1, 1), " +
        s"replace(replace(substring($up, 2), 'H', ''), 'W', ''))"
    val digits = s"translate($noHW, " +
      "'AEIOUYBFPVCGJKQSXZDTLMNR', '000000111122222222334556')"
    var x = digits
    for (_ <- 1 to 5; dd <- '0' to '6')
      x = s"replace($x, '$dd$dd', '$dd')"
    s"concat(substring($up, 1, 1), " +
      s"rpad(substring(replace(substring($x, 2), '0', ''), 1, 3), 3, '0'))"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C52 (round 14): Soundex phonetic bucketing — group the corpus
    // vocabulary by American Soundex code (the classic phonetic
    // blocking key for name/entity matching; as a DEDUP BLOCKING key
    // it's the textbook cheap candidate generator). One token-count
    // shuffle builds the vocabulary, the code is a pure expression
    // ([[soundexExprSql]] — identical string on both engines), one
    // bounded code-grain agg; top-20 codes by (n_words, code).
    "text_soundex" -> Q { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
        .groupBy(col("w")).agg(count(lit(1)).as("occ"))
      words
        .withColumn("code", expr(soundexExprSql("w")))
        .groupBy(col("code"))
        .agg(count(lit(1)).as("n_words"), sum(col("occ")).as("occurrences"),
          min(col("w")).as("example"))
        .orderBy(col("n_words").desc, col("code"))
        .limit(20)
    },

    // C47 (round 14): ClickHouse multiSearchFirstIndex /
    // multiSearchAny / multiSearchFirstPosition — one pass over each
    // document probing a fixed needle list: how many needles occur,
    // which needle hits FIRST by position (ties → earlier list
    // index), and where. Pure codegen'd string ops (locate), no
    // shuffle, embarrassingly parallel at any scale; the oracle
    // replays with instr() and the same in-order tie rule.
    "text_multisearch" -> Q { (s, d) =>
      val t = lower(col("text"))
      val pos = MultiNeedles.zipWithIndex.map { case (p, i) =>
        struct(locate(p, t).cast("long").as("pos"),
          lit(i + 1L).as("idx")).as(s"_p$i")
      }
      // array_min over (pos, idx) structs of the HITS: smallest
      // position wins, earlier needle on ties — a total order
      val hits = filter(array(pos: _*), e => e.getField("pos") > 0L)
      docsIn(s, d).select(
          col("doc_id"),
          size(filter(array(MultiNeedles.map(p =>
            locate(p, t).cast("long")): _*), x => x > 0L)).cast("long")
            .as("n_match"),
          coalesce(array_min(hits).getField("idx"), lit(0L))
            .as("first_idx"),
          coalesce(array_min(hits).getField("pos"), lit(0L))
            .as("first_pos"))
        .orderBy("doc_id")
    },

    // C48 (round 14): ClickHouse ngramDistance — 3-gram Jaccard
    // similarity of every document against a fixed query, kept in
    // EXACT integers: intersection count, union count, and the
    // similarity as parts-per-million via one integer division (the
    // float ratio is the caller's one divide away; the gate hashes
    // integers). Per-row work only — no shuffle; the query's gram set
    // is a build-time literal on both engines. Round 15: both counts
    // come from ONE codegen'd pass ([[graft.functions.NgramSim]]) —
    // the declarative HOF tree re-lowercased the document per trigram
    // AND ran interpreted (the round-14 weak flag, 11 s at sf0.1);
    // the kernel is the MinHash128 fused-pass precedent.
    "text_ngram_sim" -> Q { (s, d) =>
      docsIn(s, d)
        .select(col("doc_id"),
          graft.functions.NgramSim.counts(col("text"), NgramQuerySet)
            .as("nc"))
        .select(col("doc_id"),
          element_at(col("nc"), 1).as("n_grams"),
          element_at(col("nc"), 2).as("inter"))
        .withColumn("uni",
          col("n_grams") + lit(NgramQuerySet.size.toLong) - col("inter"))
        .withColumn("sim_ppm", expr("(inter * 1000000) div uni"))
        .orderBy("doc_id")
    },

    // C51 (round 14): PMI collocations — which word PAIRS co-occur
    // far above chance (the classic collocation-extraction /
    // multi-word-expression mining pass an NLP pipeline runs before
    // tokenizer training). PMI = log p(xy)/(p(x)p(y)) rides libm, so
    // the score ships QUANTIZED to the floor-log2 integer proxy
    // (§11): pmi_q = ⌊log2(c_xy·N)⌋ − ⌊log2(c_x·c_y)⌋ via
    // length(bin(·))−1 — exact BIGINTs end to end (envelope:
    // c_xy·N < 2⁶³, i.e. ~3·10⁹ grams — past that pre-scale counts).
    // Two map-side-combined count shuffles (unigrams, bigrams), the
    // unigram relation broadcast back twice, top-20 by
    // (pmi_q, c_xy, gram) total order via TakeOrdered. Min support
    // c_xy ≥ 4 keeps one-off juxtapositions out (standard practice).
    "text_pmi" -> Q { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("tk"))
        .where(size(col("tk")) >= 1 && element_at(col("tk"), 1) =!= "")
      val uni = toks.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val bi = toks.where(size(col("tk")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(tk) - 1),
            | i -> struct(tk[i - 1] AS w1, tk[i] AS w2))""".stripMargin))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
        .where(col("c_xy") >= 4)
      val n1 = bi.agg(sum(col("c_xy")).as("n"))
      bi.join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))),
          "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))),
          "w2")
        .crossJoin(n1)
        .select(concat(col("w1"), lit(" "), col("w2")).as("gram"),
          col("c_xy"), col("c_x"), col("c_y"),
          ((length(bin(col("c_xy") * col("n"))) - 1) -
            (length(bin(col("c_x") * col("c_y"))) - 1)).cast(LongType)
            .as("pmi_q"))
        .orderBy(col("pmi_q").desc, col("c_xy").desc, col("gram"))
        .limit(20)
    },

    // C30b (round 12): BPE TRAINING on the corpus itself — the
    // distributed word-frequency aggregate feeds the classic driver-
    // side merge loop (the bounded-collect k-means precedent), and the
    // gate tokenizes the SAME corpus under the learned table. The
    // oracle inlines the learned merges exactly like trained
    // centroids and replays tokenization with the recursive-CTE BPE.
    "text_bpe_trained" -> Q { (s, d) =>
      val merges = bpeTrainedMerges(s, d)
      val t = lower(trim(col("text")))
      docsIn(s, d)
        .where(length(t) > 0)
        .select(col("doc_id"),
          graft.functions.Bpe.tokenCount(col("text"), merges).as("n_bpe"))
        .orderBy("doc_id")
    },

    // C8: token / char / BPE-ish unit counting.
    "text_tokens" -> Q { (s, d) =>
      docsIn(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.bpeCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    },

    // C9b (round 12): Flesch readability — the classic corpus-quality
    // feature (Flesch 1948 / Kincaid 1975). Counts are integer regex
    // counts (words = whitespace splits; sentences = [.!?]+ runs,
    // min 1; syllables ≈ [aeiouy]+ vowel groups, floored at the word
    // count — each word has ≥1 syllable; the global floor is the
    // documented simplification of the per-word rule); both formulas
    // are one fixed IEEE tree over exact-long casts, so the scores
    // replay bit-exactly. One scan, no shuffle.
    "text_readability" -> Q { (s, d) =>
      val t = lower(trim(col("text")))
      docsIn(s, d)
        .where(length(t) > 0)
        .select(col("doc_id"),
          size(split(t, "\\s+")).cast("long").as("n_words"),
          greatest(lit(1L),
            regexp_count(col("text"), lit("[.!?]+")).cast("long"))
            .as("n_sentences"),
          regexp_count(t, lit("[aeiouy]+")).cast("long").as("__vg"))
        .withColumn("n_syllables", greatest(col("n_words"), col("__vg")))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          (lit(0.39) * (col("n_words").cast(DoubleType) /
              col("n_sentences").cast(DoubleType)) +
            lit(11.8) * (col("n_syllables").cast(DoubleType) /
              col("n_words").cast(DoubleType)) - lit(15.59))
            .as("fk_grade"),
          (lit(206.835) - lit(1.015) * (col("n_words").cast(DoubleType) /
              col("n_sentences").cast(DoubleType)) -
            lit(84.6) * (col("n_syllables").cast(DoubleType) /
              col("n_words").cast(DoubleType)))
            .as("flesch"))
        .orderBy("doc_id")
    },

    // C9: quality scoring from length/alpha/punct/stopword ratios.
    "text_quality" -> Q { (s, d) =>
      val base = docsIn(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        T.alphaCount(col("text")).as("n_alpha"),
        T.punctCount(col("text")).as("n_punct"),
        T.whitespaceCount(col("text")).as("n_ws"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.stopwordHits(col("text"), T.stopwords.head._2).as("n_stop"))
      base.select(
        col("doc_id"), col("n_chars"), col("n_tokens"),
        T.ratio(col("n_alpha"), col("n_chars")).as("alpha_ratio"),
        T.ratio(col("n_punct"), col("n_chars")).as("punct_ratio"),
        T.ratio(col("n_stop"), col("n_tokens")).as("stop_ratio"),
        T.ratio(col("n_chars") - col("n_ws"), col("n_tokens")).as("avg_token_len"),
        T.qualityScore(
          T.ratio(col("n_alpha"), col("n_chars")),
          T.ratio(col("n_chars") - col("n_ws"), col("n_tokens")),
          T.ratio(col("n_stop"), col("n_tokens"))).as("quality"))
        .orderBy("doc_id")
    },

    // C10: stopword-scoring language ID with deterministic tie-break.
    "text_langid" -> Q { (s, d) =>
      val scored = docsIn(s, d).select(
        col("doc_id") +: T.stopwords.map { case (lang, words) =>
          T.stopwordHits(col("text"), words).as(s"s_$lang")
        }: _*)
      scored.select(
        col("doc_id"),
        col("s_en"), col("s_de"), col("s_fr"), col("s_es"),
        T.langPredict(T.stopwords.map { case (lang, _) =>
          lang -> col(s"s_$lang")
        }).as("lang_pred"))
        .orderBy("doc_id")
    },

    // C11 (oracle): 64-bit FNV-1a fingerprint via the custom codegen
    // Expression — cross-validated bit-for-bit against an independent
    // DuckDB reimplementation (hex-decoded UTF-8 bytes folded with
    // list_reduce in HUGEINT, mod 2^64).
    "text_fingerprint" -> Q { (s, d) =>
      // unspread: one FNV pass per row is cheaper than the exchange
      // (measured +0.07 s under spread — the one light text gate)
      Tables.documents(s, d).select(
        col("doc_id"),
        Fnv1a64.fingerprint(col("text")).as("fp64"))
        .orderBy("doc_id")
    },

    // C16 (oracle): char-trigram frequency table (the shingle
    // distribution behind minhash/langid). Trigrams generate
    // executor-side inside the scan stage (sequence+transform+explode);
    // only (trigram, partial count) pairs cross the shuffle; top-100 by
    // a deterministic total order.
    "text_ngram_freq" -> Q { (s, d) =>
      // letCol: bind lower(trim(text)) ONCE per row — inlined in the
      // lambda it would recompute per trigram (see TextFunctions.letCol)
      val grams = T.letCol(lower(trim(col("text")))) { t =>
        when(length(t) >= 3,
          transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
          .otherwise(typedlit(Seq.empty[String]))
      }
      docsIn(s, d)
        .select(explode(grams).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(100)
    },

    // C17 (oracle): the END-TO-END training-data cleaning pipeline —
    // scrub PII -> quality-score -> threshold filter -> exact dedup on
    // the scrubbed text -> deterministic 50% sample. One composition of
    // the pipeline operators above, gated as a whole. Scale shape: the
    // dedup window shuffles (doc_id, counts, md5) — 40 bytes/row, never
    // the text; everything before it is codegen'd column math in the
    // scan stage; the sample filter is a pure function of doc_id.
    "pipeline_clean" -> Q { (s, d) =>
      // materialize the scored projection (r17): the quality filter
      // otherwise pushes through the spread exchange to the scan task,
      // evaluating the whole scrub-regex tree serially there (and a
      // second time above for the projection). The barrier makes scrub
      // run once, parallel, post-exchange; the stored rows are
      // (doc_id, n_tokens, quality, h) — ~32 B/row, materialized by
      // Tables.barrier's default mode (Tables.materialize).
      val scored = Tables.barrier(graft.operators.CleanPipeline.scored(
        docsIn(s, d).select("doc_id", "text")))
      val w = Window.partitionBy("h").orderBy("doc_id")
      val deduped = scored
        .filter(col("quality") >= 0.3)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      graft.operators.Sampling.deterministicSample(
          deduped, col("doc_id"), 0.5, portable = true)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy("doc_id")
    },

    // C18 (oracle): benchmark decontamination — train docs sharing a
    // 5-word shingle with the eval split (doc_id % 7 == 0). Corpus
    // explodes to 16-byte (doc_id, gram-hash) pairs in the scan stage;
    // the eval gram set broadcasts; the oracle joins on the gram
    // STRINGS, so the hash-bucketed operator is also proven collision-
    // free on this corpus.
    "text_contaminate" -> Q { (s, d) =>
      val docs = docsIn(s, d)
      val eval = docs.where(col("doc_id") % 7 === 0)
      val train = docs.where(col("doc_id") % 7 =!= 0)
      graft.operators.Contamination.report(train, eval, "doc_id", "text", 5)
        .orderBy("doc_id")
    },

    // C19 (oracle): GPT-style sequence packing — concatenate docs in
    // shard order, split at every 2048-token boundary. One shuffle on
    // shard; prefix sums per shard; output is the doc -> training-
    // window placement map.
    "pack_sequences" -> Q { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens"))
      graft.operators.SequencePacker.pack(docs, "doc_id", "n_tokens", 32, 2048)
        .orderBy("doc_id")
    },

    // C22 (oracle): Gopher-style rule filter — token-count bounds, mean
    // word length, stopword presence, distinct-token ratio, all as
    // integer cross-multiplications. Pure codegen scan, zero shuffle.
    "text_gopher_rules" -> Q { (s, d) =>
      graft.operators.QualityRules.ruleFlags(
          docsIn(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // C23 (oracle): repetition metrics — most frequent token / adjacent
    // bigram per doc. Tokens hash to 64 bits in the scan stage; the
    // oracle groups the strings, proving the hashing collision-free.
    "text_repetition" -> Q { (s, d) =>
      graft.operators.QualityRules.repetition(
          Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // C24 (oracle): cross-document duplicate spans (Lee et al. 2022)
    // over the planted-duplicate corpus — per doc, how many of its
    // distinct 8-token windows also occur in another document. Windows
    // hash to 64 bits in the scan stage (16-byte pairs, text never
    // shuffles); the oracle joins the window STRINGS, proving the
    // hashing collision-free on this corpus.
    "text_span_dedup" -> Q { (s, d) =>
      graft.operators.SpanDedup.report(
          DedupQueries.corpus(s, d), "doc_id", "text", 8)
        .orderBy("doc_id")
    },

    // C24c (oracle, round 10): the batch-settled answer of the
    // STREAMING span dedup (first-arrival-wins, as the streaming
    // reference in SpanDedupStreamSpec runs it): each distinct
    // 8-token window is claimed by its earliest doc (arrival order =
    // doc_id here, making the claim total and deterministic — the
    // stream's within-micro-batch arbitrariness disappears at the
    // settled batch answer), and every doc reports
    // how many of its windows it claimed (win_new) vs arrived-late
    // (win_dup). Spark joins 8-byte window HASHES (scan-stage hashing,
    // co-partitioned claim join — the SpanDedup scale shape); the
    // oracle joins the window STRINGS, proving the hashing
    // collision-free like text_contaminate.
    "span_stream_flags" -> Q { (s, d) =>
      // materialized once: the claim agg and the join-back both read
      // it, and the pruned claim-side scan defeats exchange reuse
      val rows = DedupQueries.corpus(s, d).select(col("doc_id"),
          explode(graft.operators.Contamination.wordShingles(col("text"), 8))
            .as("_w"))
        .select(col("doc_id"), xxhash64(col("_w")).as("_wh"))
        .transform(Tables.materialize)
      val claims = rows.groupBy("_wh").agg(min("doc_id").as("claimant"))
      rows.join(claims, "_wh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("win_total"),
          sum(when(col("claimant") === col("doc_id"), 1L).otherwise(0L))
            .as("win_new"))
        .select(col("doc_id"), col("win_total"), col("win_new"),
          (col("win_total") - col("win_new")).as("win_dup"))
        .orderBy("doc_id")
    },

    // C24b (oracle, round 8): the remediation half — rebuild each doc
    // with duplicated 8-token windows REMOVED; the oracle reconstructs
    // the scrubbed strings over the window strings themselves.
    "text_span_scrub" -> Q { (s, d) =>
      graft.operators.SpanDedup.scrub(
          DedupQueries.corpus(s, d), "doc_id", "text", 8)
        .orderBy("doc_id")
    },

    // C31 (oracle, round 9): REAL BPE token counts — greedy merge-table
    // encoding (Sennrich et al. 2016) via the codegen'd BpeTokensExpr
    // with its Zipf-exploiting executor-side word memo; replaces the
    // regex token proxy as the unit training budgets are planned in.
    // The oracle re-applies the identical embedded merge table with a
    // recursive CTE over the corpus's DISTINCT words, one leftmost
    // lowest-rank merge per recursion step — the exact kernel loop.
    "text_bpe_tokens" -> Q { (s, d) =>
      val t = lower(trim(col("text")))
      docsIn(s, d)
        .where(length(t) > 0)
        .select(col("doc_id"),
          size(split(t, "\\s+")).cast("long").as("n_words"),
          graft.functions.Bpe.tokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    },

    // C31b (oracle, round 9): sequence packing under the REAL BPE
    // budget — the packer unchanged, fed n_bpe instead of whitespace
    // counts, so training-window layout is planned in the unit the
    // model actually consumes. The oracle composes the BPE recursive
    // CTE with the packing prefix-sum SQL.
    "pack_sequences_bpe" -> Q { (s, d) =>
      val docs = docsIn(s, d)
        .select(col("doc_id"),
          graft.functions.Bpe.tokenCount(col("text")).as("n_bpe"))
      graft.operators.SequencePacker.pack(docs, "doc_id", "n_bpe", 32, 2048)
        .orderBy("doc_id")
    },

    // C32 (oracle, round 9): RAG-style overlapping chunking — 64-token
    // chunks advancing 48 tokens, so consecutive chunks share 16
    // tokens of context. Pure executor-side array work in the scan
    // stage, zero shuffle.
    "docs_chunk" -> Q { (s, d) =>
      graft.operators.Chunker.chunk(docsIn(s, d),
          "doc_id", "text", 64, 16)
        .orderBy("doc_id", "chunk_id")
    },

    // C24c (oracle, round 9): maximal duplicated runs — adjacent
    // duplicated 8-token windows merged into maximal token intervals
    // (the distributable approximation of Lee et al.'s exact-substring
    // dedup); the oracle re-merges the intervals with the same
    // lag + running-sum island detection over window STRINGS.
    "text_span_runs" -> Q { (s, d) =>
      graft.operators.SpanDedup.runs(
          DedupQueries.corpus(s, d), "doc_id", "text", 8)
        .orderBy("doc_id", "run_id")
    },

    // C32 (oracle, round 9): PII redaction. The synthetic corpus has
    // no organic PII, so the gate PLANTS it derivably (email / IPv4 /
    // phone built from doc_id+source by integer arithmetic, identical
    // on both engines) and verifies the scrubber finds and redacts
    // every instance — counts AND the rewritten text are gated.
    "text_pii_scrub" -> Q { (s, d) =>
      val P = graft.operators.PiiScrub
      val planted = docsIn(s, d).select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@"), col("source"), lit(".example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10."), (col("doc_id") % 223).cast("string"),
            lit("."), (col("doc_id") % 251).cast("string"),
            lit("."), ((col("doc_id") % 254) + 1).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 9"),
            lpad(((col("doc_id") * 7919) % 100000000).cast("string"), 8, "0")))
          .otherwise(lit(""))).as("planted"))
      val (e, i, p, t) = P.scrub(col("planted"))
      planted.select(col("doc_id"), e.as("n_emails"), i.as("n_ips"),
        p.as("n_phones"), t.as("scrubbed")).orderBy("doc_id")
    },

    // C33 (oracle, round 9): rarity-weighted keyword extraction — the
    // top-3 terms per doc by (tf DESC, df ASC, term): the all-integer
    // tf/df ranking, chosen over tf·idf because idf's ln() is a libm
    // call whose last ulp differs across engines (mathematically-equal
    // products like 2·ln(10) vs ln(100) then rank differently) —
    // SURVEY §11's "no ln/pow in a decision rule" discipline.
    "text_top_terms" -> Q { (s, d) =>
      val toks = Tables.documents(s, d).select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val ranked = tf.join(df, "term")
        .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("df").asc, col("term"))))
        .where(col("rk") <= 3)
      ranked.select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("rk").cast("long").as("rk")).orderBy("doc_id", "rk")
    },

    // C40 (oracle, round 10): bigram-LM typicality score — the
    // perplexity-filter idiom (CCNet/Gopher score docs with a KenLM;
    // here the LM is the corpus's own bigram counts, so atypical docs
    // full of rare word transitions score LOW). Portability: the
    // per-bigram "information" is the integer floor(log2(count)) =
    // length(bin(count))-1 — `bin` prints minimal binary identically on
    // both engines — so no libm ln/log2 enters the result (SURVEY §11
    // discipline); the one double is the final mean, a single division
    // of integers. Scale shape: bigrams hash to 64 bits in the scan
    // stage (16-byte (doc_id, h) pairs, text never shuffles); the count
    // table and the score join are co-partitioned equi-joins on the
    // hash. The oracle joins the bigram STRINGS — a pass also proves
    // the hashing collision-free on this corpus.
    "text_lm_score" -> Q { (s, d) =>
      graft.operators.QualityRules.lmScore(
          Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // C41 (oracle, round 10; boundary agg bounded round 11): CCNet-
    // style corpus bucketing — the composition that makes the LM score
    // a PIPELINE stage: corpus tertile boundaries over the typicality
    // score, then every doc labels head/middle/tail by a pure >=
    // decision — CCNet keeps 'head', retrains on 'middle', drops
    // 'tail'. The boundary aggregate is COST-SWITCHED
    // (QualityRules.ccnetBuckets): exact Percentile (≡ DuckDB
    // quantile_cont bit-for-bit, the q_quantiles precedent — the path
    // the gate corpus takes) while the measured corpus fits the
    // single-task-buffer envelope; the bounded adaptive
    // QuantileSketch grid (≤1024 rows of mergeable state) beyond —
    // never an unbounded global Percentile at corpus scale
    // (PlanGuardSpec pins the switch, CcnetBoundarySpec bounds the
    // drift).
    "pipeline_ccnet_buckets" -> Q { (s, d) =>
      // scores feed the count, the boundary agg AND the labeling
      // join — persist once (the multiply-referenced-intermediate rule)
      val scores = graft.operators.QualityRules.lmScore(
        Tables.documents(s, d), "doc_id", "text").transform(Tables.materialize)
      graft.operators.QualityRules.ccnetBuckets(scores, "doc_id")
        .orderBy("doc_id")
    },

    // C41b (round 12): CCNet's actual SHIP composed end-to-end —
    // bucket by LM-score tertiles, keep head+middle (drop the tail
    // third), export the sharded manifest. Proves the bucket labels
    // change the population the manifest checksums: both halves are
    // independently gated (pipeline_ccnet_buckets above,
    // export_manifest / pipeline_train_export in DedupQueries), this
    // gate is the composition. At 100 TB: one scored scan + a
    // broadcast of the 1-row boundary frame + one shuffle to shards.
    "pipeline_ccnet_export" -> Q { (s, d) =>
      val scores = graft.operators.QualityRules.lmScore(
        Tables.documents(s, d), "doc_id", "text").transform(Tables.materialize)
      val kept = graft.operators.QualityRules
        .ccnetBuckets(scores, "doc_id")
        .filter(col("bucket") =!= "tail")
        .join(Tables.documents(s, d).select(col("doc_id"),
          T.tokenCount(col("text")).as("n_tokens")), Seq("doc_id"))
      graft.operators.TrainExport.manifest(kept, "doc_id", "n_tokens", 8)
        .orderBy("shard")
    },

    // C42 (oracle, round 14): multinomial Naive Bayes classifier —
    // train on the 80% split (doc_id % 5 <> 0) labeled by lang, score
    // the held-out 20%. Dyadic floor-log2 likelihoods (integer BIGINT
    // scores) + the portable md5 feature bucket make training AND
    // scoring exactly replayable in DuckDB. At 100 TB: one
    // (bucket,label) count shuffle to train, the ≤ B·|classes|-row
    // model broadcast, scoring embarrassingly parallel with a per-doc
    // argmax window.
    "text_nb_classify" -> Q { (s, d) =>
      val docs = Tables.documents(s, d)
      val nb = graft.operators.NaiveBayes
      val model = nb.train(docs.filter(col("doc_id") % 5 =!= 0),
        "text", "lang", seed = 11L, nBuckets = 4096)
      val heldOut = docs.filter(col("doc_id") % 5 === 0)
      nb.classify(model, heldOut, "doc_id", "text")
        .join(heldOut.select(col("doc_id"), col("lang").as("true_lang")),
          Seq("doc_id"))
        .select("doc_id", "true_lang", "n_tokens", "pred", "score")
        .orderBy("doc_id")
    },

    // C45 (oracle, round 14): BM25 phrase-relevance top-20 — dyadic
    // constants (k1=1, b=3/4, floor-log2 idf) reduce each term weight
    // to one exact-integer rational and ONE IEEE divide; the doc score
    // is a fixed-order coalesce chain, so ranks replay exactly.
    "text_bm25" -> Q { (s, d) =>
      graft.operators.Bm25.rank(Tables.documents(s, d), "doc_id", "text",
        Seq("hash join", "window merge", "scan filter"), k = 20)
    },

    // C46 (oracle, round 14): DSIR — Data Selection via Importance
    // Resampling (Xie et al. 2023): score every document by how much
    // its hashed-unigram distribution looks like the TARGET subset
    // (lang = 'en') versus the raw corpus, then keep the top-50 by
    // the deterministic importance ranking. Dyadic floor-log2 ratios
    // make the score one exact BIGINT per doc (the text_lm_score /
    // text_nb_classify discipline — the documented deviation from the
    // paper's real-valued logs + Gumbel noise); both bucket-count
    // distributions are ≤ 4096-row broadcast relations; text never
    // shuffles.
    "text_dsir" -> Q { (s, d) =>
      val scored = graft.operators.Dsir.scores(
        docsIn(s, d), "doc_id", "text",
        col("lang") === "en", seed = 7L, nBuckets = 4096)
      graft.operators.Dsir.selectTopK(scored, "doc_id", 50)
    }
  )

  // text_gopher_rules oracle predicates — thresholds interpolated from
  // QualityRules' shared constants (the same values ruleFlags defaults
  // to), so changing a Scala default moves both sides together.
  private val QR = graft.operators.QualityRules
  private val gopherCount =
    s"(n_tokens >= ${QR.DefaultMinTokens} AND n_tokens <= ${QR.DefaultMaxTokens})"
  private val gopherWordlen =
    s"(word_chars >= ${QR.DefaultMinWordLen} * n_tokens AND " +
      s"word_chars <= ${QR.DefaultMaxWordLen} * n_tokens)"
  private val gopherStop = s"(n_stop >= ${QR.DefaultMinStopHits})"
  private val gopherDistinct =
    s"(${QR.DistinctRatioDen} * n_distinct >= ${QR.DistinctRatioNum} * n_tokens)"

  private[graft] val stopRe: Map[String, String] =
    T.stopwords.toMap.map { case (k, v) => k -> s"\\b($v)\\b" }

  /** The embedded demo merge table as a DuckDB VARCHAR[] literal of
    * 'a' || chr(1) || 'b' pair keys, in rank order — 1-based
    * list_position IS the (rank+1), and 0 means "not a merge".
    */
  private def mergeLit(ms: Seq[(String, String)]): String =
    ms.map { case (a, b) =>
      s"'${a.replace("'", "''")}' || chr(1) || '${b.replace("'", "''")}'"
    }.mkString("[", ",", "]")

  private def bpeMergeLit: String = mergeLit(graft.functions.Bpe.DemoMerges)

  /** text_bpe_tokens oracle: per-word greedy BPE as a recursive CTE —
    * each step merges the leftmost occurrence of the lowest-rank
    * adjacent pair; a word is final when no adjacent pair is in the
    * table. Runs over DISTINCT words, then joins counts back to the
    * word occurrences (the oracle-side mirror of the kernel's memo).
    * DuckDB 1.0 pitfall: list_position returns 0, not NULL, on a
    * miss — the filters test `x > 0`, not `IS NOT NULL`.
    */
  private def bpeCtes: String = bpeCtesWith(bpeMergeLit)

  private def bpeCtesWith(bpeLit: String): String =
    s"""toks AS (
       | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       | FROM documents WHERE length(trim(text)) > 0
       |), w AS (
       | SELECT DISTINCT unnest(tk) AS word FROM toks
       |), enc AS (
       | SELECT word,
       |  list_transform(range(1, length(word) + 1),
       |    i -> substring(word, CAST(i AS BIGINT), 1)) AS ts
       | FROM w
       | UNION ALL
       | SELECT word,
       |  list_concat(list_concat(list_slice(ts, 1, bi - 1),
       |    [ts[bi] || ts[bi + 1]]), list_slice(ts, bi + 2, len(ts))) AS ts
       | FROM (
       |  SELECT word, ts,
       |   list_position(pr, list_min(list_filter(pr, x -> x > 0))) AS bi
       |  FROM (
       |   SELECT word, ts,
       |    list_transform(range(1, len(ts)),
       |      i -> list_position($bpeLit, ts[i] || chr(1) || ts[i + 1])) AS pr
       |   FROM enc))
       | WHERE bi IS NOT NULL
       |), fin AS (
       | SELECT word, CAST(len(ts) AS BIGINT) AS n
       | FROM (
       |  SELECT word, ts,
       |   list_transform(range(1, len(ts)),
       |     i -> list_position($bpeLit, ts[i] || chr(1) || ts[i + 1])) AS pr
       |  FROM enc)
       | WHERE len(list_filter(pr, x -> x > 0)) = 0
       |), docw AS (
       | SELECT doc_id, unnest(tk) AS word FROM toks)""".stripMargin

  private def bpeTokensSql: String =
    s"""WITH RECURSIVE $bpeCtes
       |SELECT doc_id,
       | CAST(count(*) AS BIGINT) AS n_words,
       | CAST(sum(n) AS BIGINT) AS n_bpe
       |FROM docw JOIN fin USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def bpePackSql: String =
    s"""WITH RECURSIVE $bpeCtes, cnt AS (
       | SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens
       | FROM docw JOIN fin USING (word) GROUP BY doc_id
       |), t AS (
       | SELECT doc_id, doc_id % 32 AS shard, n_tokens
       | FROM cnt WHERE n_tokens > 0
       |), p AS (
       | SELECT doc_id, shard, n_tokens,
       |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
       | FROM t)
       |SELECT doc_id, shard, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
       | CAST(tok_offset // 2048 AS BIGINT) AS pack_first,
       | CAST((tok_offset + n_tokens - 1) // 2048 AS BIGINT) AS pack_last
       |FROM p ORDER BY doc_id""".stripMargin

  /** text_pii_scrub oracle: the same plant (integer arithmetic), the
    * same regex constants (Java∩RE2 subset — interpolated from
    * [[graft.operators.PiiScrub]] so both sides move together), the
    * same count-then-redact staging under RE2.
    */
  private def piiScrubSql: String = {
    val P = graft.operators.PiiScrub
    s"""WITH planted AS (
       | SELECT doc_id, text ||
       |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
       |   CAST(doc_id AS VARCHAR) || '@' || source || '.example.com'
       |   ELSE '' END ||
       |  CASE WHEN doc_id % 5 = 0 THEN ' from 10.' ||
       |   CAST(doc_id % 223 AS VARCHAR) || '.' ||
       |   CAST(doc_id % 251 AS VARCHAR) || '.' ||
       |   CAST(doc_id % 254 + 1 AS VARCHAR)
       |   ELSE '' END ||
       |  CASE WHEN doc_id % 7 = 0 THEN ' call 9' ||
       |   lpad(CAST((doc_id * 7919) % 100000000 AS VARCHAR), 8, '0')
       |   ELSE '' END AS planted
       | FROM documents
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
       |SELECT doc_id, n_emails, n_ips, n_phones, scrubbed
       |FROM s3 ORDER BY doc_id""".stripMargin
  }

  def oracles: Map[String, String] = staticOracles ++ bpeTrainedOracle

  /** text_bpe_trained oracle — LAZY binding (the pqOracle pattern):
    * the learned merges inline like k-means centroids; training is
    * deterministic (count desc, pair lexicographic), so the gate's
    * query run and this build see the identical table via the memo.
    */
  private def bpeTrainedOracle: Map[String, String] = (for {
    s <- SparkSession.getActiveSession
    d <- sys.props.get("graft.oracle.sfDir")
  } yield Map("text_bpe_trained" ->
    s"""WITH RECURSIVE ${bpeCtesWith(mergeLit(bpeTrainedMerges(s, d)))}
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bpe
       |FROM docw JOIN fin USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin)).getOrElse(Map.empty)

  /** multiSearch replay: per-needle instr positions, hit count, and
    * the first-by-position (ties → earlier needle, via the in-order
    * CASE chain) — generated from the SAME [[MultiNeedles]] list.
    */
  private val multiSearchSql: String = {
    val ps = MultiNeedles.zipWithIndex
      .map { case (p, i) =>
        s"instr(lower(text), ${graft.SqlLit.str(p)}) AS p${i + 1}" }
      .mkString(", ")
    val nMatch = MultiNeedles.indices
      .map(i => s"CASE WHEN p${i + 1} > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    val fpos = MultiNeedles.indices
      .map(i => s"CASE WHEN p${i + 1} > 0 THEN p${i + 1} " +
        s"ELSE 9223372036854775807 END")
      .mkString("least(", ", ", ")")
    val fidx = MultiNeedles.indices
      .map(i => s"WHEN p${i + 1} = fp THEN ${i + 1}")
      .mkString(" ")
    s"""WITH m AS (SELECT doc_id, $ps FROM documents),
       |f AS (SELECT *, $nMatch AS n_match, $fpos AS fp
       |       FROM m)
       |SELECT doc_id, CAST(n_match AS BIGINT) AS n_match,
       | CAST(CASE WHEN fp = 9223372036854775807 THEN 0 $fidx END
       |   AS BIGINT) AS first_idx,
       | CAST(CASE WHEN fp = 9223372036854775807 THEN 0 ELSE fp END
       |   AS BIGINT) AS first_pos
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** ngramDistance replay: the same 3-gram decomposition via a range
    * list-comprehension, the query gram set inlined from
    * [[NgramQuerySet]], sizes and one integer division.
    */
  private val ngramSimSql: String = {
    val qset = NgramQuerySet.map(graft.SqlLit.str).mkString("[", ", ", "]")
    s"""WITH g AS (
       | SELECT doc_id,
       |  CASE WHEN length(lower(text)) >= 3 THEN list_distinct(
       |    list_transform(range(1, length(lower(text)) - 1),
       |      i -> lower(text)[i:i+2]))
       |   ELSE [] END AS grams
       | FROM documents),
       |c AS (SELECT doc_id,
       |  CAST(len(grams) AS BIGINT) AS n_grams,
       |  CAST(len(list_filter(grams, x -> list_contains($qset, x)))
       |    AS BIGINT) AS inter
       | FROM g)
       |SELECT doc_id, n_grams, inter,
       | CAST(n_grams + ${NgramQuerySet.size} - inter AS BIGINT) AS uni,
       | CAST((inter * 1000000) //
       |   (n_grams + ${NgramQuerySet.size} - inter) AS BIGINT) AS sim_ppm
       |FROM c ORDER BY doc_id""".stripMargin
  }

  private val staticOracles: Map[String, String] = Map(
    "text_bpe_tokens" -> bpeTokensSql,
    "pack_sequences_bpe" -> bpePackSql,
    "text_pii_scrub" -> piiScrubSql,
    "text_multisearch" -> multiSearchSql,
    "text_ngram_sim" -> ngramSimSql,

    // Soundex replay: the SAME generated expression string (both
    // engines evaluate the identical upper/translate/replace chain)
    "text_soundex" -> {
      s"""WITH words AS (
         | SELECT w, CAST(count(*) AS BIGINT) AS occ FROM (
         |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
         |   AS w
         |  FROM documents)
         | WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
         |coded AS (
         | SELECT ${soundexExprSql("w")} AS code, w, occ FROM words)
         |SELECT code, CAST(count(*) AS BIGINT) AS n_words,
         | CAST(sum(occ) AS BIGINT) AS occurrences, min(w) AS example
         |FROM coded GROUP BY 1
         |ORDER BY n_words DESC, code LIMIT 20""".stripMargin
    },

    // PMI replay: same tokenization, same counts, same floor-log2
    // quantization, same (pmi_q, c_xy, gram) top-20
    "text_pmi" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        | FROM documents
        | WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 1
        |  AND regexp_split_to_array(lower(trim(text)), '\s+')[1] <> ''),
        |uni AS (
        | SELECT w, CAST(count(*) AS BIGINT) AS c
        | FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
        |bi AS (
        | SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM (
        |  SELECT tk[i] AS w1, tk[i + 1] AS w2
        |  FROM toks, unnest(range(1, len(tk))) AS u(i)
        |  WHERE len(tk) >= 2)
        | GROUP BY 1, 2 HAVING count(*) >= 4),
        |n1 AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM bi)
        |SELECT w1 || ' ' || w2 AS gram, c_xy, ux.c AS c_x, uy.c AS c_y,
        | CAST((length(bin(c_xy * n)) - 1) -
        |      (length(bin(ux.c * uy.c)) - 1) AS BIGINT) AS pmi_q
        |FROM bi
        |JOIN uni ux ON ux.w = bi.w1
        |JOIN uni uy ON uy.w = bi.w2
        |CROSS JOIN n1
        |ORDER BY pmi_q DESC, c_xy DESC, gram LIMIT 20""".stripMargin,

    "text_top_terms" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term
        | FROM documents
        |), toks2 AS (
        | SELECT doc_id, term FROM toks WHERE len(term) > 0
        |), tf AS (
        | SELECT doc_id, term, count(*) AS tf FROM toks2 GROUP BY 1, 2
        |), df AS (
        | SELECT term, count(DISTINCT doc_id) AS df FROM toks2 GROUP BY 1
        |), ranked AS (
        | SELECT doc_id, term, tf, df,
        |  row_number() OVER (PARTITION BY doc_id
        |   ORDER BY tf DESC, df ASC, term) AS rk
        | FROM tf JOIN df USING (term))
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        | CAST(df AS BIGINT) AS df, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "docs_chunk" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        | FROM documents WHERE length(trim(text)) > 0
        |), c AS (
        | SELECT doc_id, tk,
        |  unnest(range(0, (greatest(len(tk) - 16, 1) + 47) // 48)) AS chunk_id
        | FROM toks)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        | CAST(chunk_id * 48 AS BIGINT) AS chunk_start,
        | CAST(least(64, len(tk) - chunk_id * 48) AS BIGINT) AS n_chunk_tokens,
        | array_to_string(list_slice(tk, CAST(chunk_id * 48 + 1 AS BIGINT),
        |   CAST(chunk_id * 48 + 64 AS BIGINT)), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "text_fingerprint" ->
      """WITH h AS (
        | SELECT doc_id, lower(to_hex(encode(text))) AS hx,
        |   CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents
        |), b AS (
        | SELECT doc_id, list_transform(range(1, n + 1),
        |   i -> CAST((strpos('0123456789abcdef', substring(hx, CAST(2*i-1 AS BIGINT), 1)) - 1) * 16
        |        + (strpos('0123456789abcdef', substring(hx, CAST(2*i AS BIGINT), 1)) - 1) AS HUGEINT)) AS bytes
        | FROM h
        |), f AS (
        | SELECT doc_id,
        |   list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT), bytes),
        |     (acc, x) -> (xor(acc, x) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)) AS u
        | FROM b)
        |SELECT doc_id,
        | CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |      THEN u - CAST('18446744073709551616' AS HUGEINT)
        |      ELSE u END AS BIGINT) AS fp64
        |FROM f ORDER BY doc_id""".stripMargin,

    "pipeline_clean" ->
      s"""WITH scrub AS (
         | SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
         |    '[0-9]+', '<NUM>', 'g') AS t
         | FROM documents
         |), m AS (
         | SELECT doc_id, t, length(t) AS n_chars,
         |  length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS n_alpha,
         |  length(t) - length(regexp_replace(t, '\\s', '', 'g')) AS n_ws,
         |  CASE WHEN length(trim(t)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(t), '\\s+')) END AS n_tokens,
         |  len(regexp_extract_all(lower(t), '${stopRe("en")}')) AS n_stop
         | FROM scrub
         |), q AS (
         | SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, md5(t) AS h,
         |  0.4 * (CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_alpha AS DOUBLE) / n_chars END)
         |   + 0.3 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars - n_ws AS DOUBLE) / n_tokens END) / 8.0)
         |   + 0.3 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END) * 5.0) AS quality
         | FROM m
         |), d AS (
         | SELECT doc_id, n_tokens, quality,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
         | FROM q WHERE quality >= 0.3)
         |SELECT doc_id, n_tokens, quality FROM d
         |WHERE rn = 1
         |  AND ${DedupQueries.md5BucketSql("CAST(doc_id AS VARCHAR)", 42L)} < 500000
         |ORDER BY doc_id""".stripMargin,

    "text_ngram_freq" ->
      """WITH t AS (SELECT lower(trim(text)) AS s FROM documents),
        |g AS (
        | SELECT unnest(CASE WHEN length(s) >= 3
        |   THEN list_transform(range(1, length(s) - 1),
        |        i -> substring(s, CAST(i AS BIGINT), 3))
        |   ELSE CAST([] AS VARCHAR[]) END) AS gram
        | FROM t)
        |SELECT gram, count(*) AS cnt FROM g
        |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 100""".stripMargin,

    "text_tokens" ->
      s"""SELECT doc_id, length(text) AS n_chars,
         | CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         | len(regexp_extract_all(text, '${T.bpePattern}')) AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_readability" ->
      """WITH base AS (
        | SELECT doc_id, lower(trim(text)) AS t, text FROM documents
        | WHERE length(trim(text)) > 0),
        |c AS (
        | SELECT doc_id,
        |  CAST(len(regexp_split_to_array(t, '\s+')) AS BIGINT) AS n_words,
        |  greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
        |   AS BIGINT)) AS n_sentences,
        |  CAST(len(regexp_extract_all(t, '[aeiouy]+')) AS BIGINT) AS vg
        | FROM base),
        |f AS (SELECT doc_id, n_words, n_sentences,
        |      greatest(n_words, vg) AS n_syllables FROM c)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        | 0.39::DOUBLE * (CAST(n_words AS DOUBLE) /
        |   CAST(n_sentences AS DOUBLE)) +
        |  11.8::DOUBLE * (CAST(n_syllables AS DOUBLE) /
        |   CAST(n_words AS DOUBLE)) - 15.59::DOUBLE AS fk_grade,
        | 206.835::DOUBLE - 1.015::DOUBLE * (CAST(n_words AS DOUBLE) /
        |   CAST(n_sentences AS DOUBLE)) -
        |  84.6::DOUBLE * (CAST(n_syllables AS DOUBLE) /
        |   CAST(n_words AS DOUBLE)) AS flesch
        |FROM f ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH base AS (
         | SELECT doc_id, length(text) AS n_chars,
         |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
         |  length(text) - length(regexp_replace(text, '[.,;:!?''"-]', '', 'g')) AS n_punct,
         |  length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_ws,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         |  len(regexp_extract_all(lower(text), '${stopRe("en")}')) AS n_stop
         | FROM documents)
         |SELECT doc_id, n_chars, n_tokens,
         | CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_alpha AS DOUBLE) / n_chars END AS alpha_ratio,
         | CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
         | CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stop_ratio,
         | CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars - n_ws AS DOUBLE) / n_tokens END AS avg_token_len,
         | 0.4 * (CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_alpha AS DOUBLE) / n_chars END)
         |  + 0.3 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars - n_ws AS DOUBLE) / n_tokens END) / 8.0)
         |  + 0.3 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END) * 5.0) AS quality
         |FROM base ORDER BY doc_id""".stripMargin,

    "text_contaminate" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        | FROM documents WHERE length(trim(text)) > 0
        |), g AS (
        | SELECT doc_id, unnest(list_transform(range(0, len(tk) - 4),
        |   i -> array_to_string(list_slice(tk, CAST(i + 1 AS BIGINT), CAST(i + 5 AS BIGINT)), ' '))) AS gram
        | FROM toks WHERE len(tk) >= 5
        |), gd AS (SELECT DISTINCT doc_id, gram FROM g
        |), ev AS (SELECT DISTINCT gram FROM gd WHERE doc_id % 7 = 0
        |), agg AS (
        | SELECT doc_id, count(*) AS n_grams,
        |  sum(CASE WHEN gram IN (SELECT gram FROM ev) THEN 1 ELSE 0 END) AS n_hit
        | FROM gd WHERE doc_id % 7 <> 0 GROUP BY 1)
        |SELECT doc_id, n_grams, CAST(n_hit AS BIGINT) AS n_hit,
        | CAST(n_hit AS DOUBLE) / n_grams AS hit_ratio
        |FROM agg WHERE n_hit > 0 ORDER BY doc_id""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (
        | SELECT doc_id, doc_id % 32 AS shard,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        | FROM documents
        |), p AS (
        | SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        | FROM t WHERE n_tokens > 0)
        |SELECT doc_id, shard, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
        | CAST(tok_offset // 2048 AS BIGINT) AS pack_first,
        | CAST((tok_offset + n_tokens - 1) // 2048 AS BIGINT) AS pack_last
        |FROM p ORDER BY doc_id""".stripMargin,

    "text_gopher_rules" ->
      s"""WITH toks AS (
         | SELECT doc_id,
         |  CASE WHEN length(trim(text)) > 0
         |       THEN regexp_split_to_array(lower(trim(text)), '\\s+')
         |       ELSE CAST([] AS VARCHAR[]) END AS tk,
         |  length(regexp_replace(trim(text), '\\s', '', 'g')) AS word_chars,
         |  len(regexp_extract_all(lower(text), '${stopRe("en")}')) AS n_stop
         | FROM documents
         |), m AS (
         | SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |  CAST(word_chars AS BIGINT) AS word_chars,
         |  CAST(n_stop AS BIGINT) AS n_stop
         | FROM toks)
         |SELECT doc_id, n_tokens, n_distinct, word_chars, n_stop,
         | $gopherCount AS rule_count,
         | $gopherWordlen AS rule_wordlen,
         | $gopherStop AS rule_stop,
         | $gopherDistinct AS rule_distinct,
         | ($gopherCount AND $gopherWordlen AND $gopherStop AND $gopherDistinct) AS keep
         |FROM m ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH base AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        | FROM documents WHERE length(trim(text)) > 0
        |), b2 AS (
        | SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens
        | FROM base WHERE len(tk) >= 2
        |), wcnt AS (
        | SELECT doc_id, max(c) AS top_word_cnt FROM (
        |   SELECT doc_id, count(*) AS c FROM (
        |     SELECT doc_id, unnest(tk) AS u FROM b2) GROUP BY doc_id, u)
        | GROUP BY doc_id
        |), bcnt AS (
        | SELECT doc_id, max(c) AS top_bigram_cnt FROM (
        |   SELECT doc_id, count(*) AS c FROM (
        |     SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |       i -> tk[i] || ' ' || tk[i + 1])) AS u FROM b2)
        |   GROUP BY doc_id, u)
        | GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        | CAST(w.top_word_cnt AS BIGINT) AS top_word_cnt,
        | CAST(w.top_word_cnt AS DOUBLE) / b.n_tokens AS top_word_frac,
        | CAST(c.top_bigram_cnt AS BIGINT) AS top_bigram_cnt,
        | CAST(c.top_bigram_cnt AS DOUBLE) / (b.n_tokens - 1) AS top_bigram_frac
        |FROM b2 b JOIN wcnt w USING (doc_id) JOIN bcnt c USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH s AS (
         | SELECT doc_id,
         |  len(regexp_extract_all(lower(text), '${stopRe("en")}')) AS s_en,
         |  len(regexp_extract_all(lower(text), '${stopRe("de")}')) AS s_de,
         |  len(regexp_extract_all(lower(text), '${stopRe("fr")}')) AS s_fr,
         |  len(regexp_extract_all(lower(text), '${stopRe("es")}')) AS s_es
         | FROM documents)
         |SELECT doc_id, s_en, s_de, s_fr, s_es,
         | CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |      WHEN s_fr >= s_es THEN 'fr'
         |      ELSE 'es' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin,

    "text_span_dedup" ->
      s"""WITH ${DedupOracles.corpusSql}, toks AS (
         | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
         | FROM corpus WHERE length(trim(text)) > 0
         |), g AS (
         | SELECT doc_id, unnest(list_transform(range(0, len(tk) - 7),
         |   i -> array_to_string(list_slice(tk, CAST(i + 1 AS BIGINT), CAST(i + 8 AS BIGINT)), ' '))) AS win
         | FROM toks WHERE len(tk) >= 8
         |), gd AS (SELECT DISTINCT doc_id, win FROM g
         |), wd AS (SELECT win, count(*) AS n_docs FROM gd GROUP BY win)
         |SELECT gd.doc_id, count(*) AS win_total,
         | CAST(sum(CASE WHEN wd.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS win_dup,
         | CAST(sum(CASE WHEN wd.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
         |FROM gd JOIN wd USING (win)
         |GROUP BY gd.doc_id ORDER BY doc_id""".stripMargin,

    "span_stream_flags" ->
      s"""WITH ${DedupOracles.corpusSql}, toks AS (
         | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
         | FROM corpus WHERE length(trim(text)) > 0
         |), g AS (
         | SELECT doc_id, unnest(list_transform(range(0, len(tk) - 7),
         |   i -> array_to_string(list_slice(tk, CAST(i + 1 AS BIGINT), CAST(i + 8 AS BIGINT)), ' '))) AS win
         | FROM toks WHERE len(tk) >= 8
         |), gd AS (SELECT DISTINCT doc_id, win FROM g
         |), cl AS (SELECT win, min(doc_id) AS claimant FROM gd GROUP BY 1)
         |SELECT gd.doc_id, count(*) AS win_total,
         | CAST(sum(CASE WHEN cl.claimant = gd.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS win_new,
         | CAST(count(*) - sum(CASE WHEN cl.claimant = gd.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS win_dup
         |FROM gd JOIN cl USING (win)
         |GROUP BY gd.doc_id ORDER BY doc_id""".stripMargin,

    "text_span_scrub" ->
      s"""WITH ${DedupOracles.corpusSql}, toks AS (
         | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
         | FROM corpus WHERE length(trim(text)) > 0
         |), p0 AS (
         | SELECT doc_id, tk, unnest(range(0, len(tk) - 7)) AS s
         | FROM toks WHERE len(tk) >= 8
         |), g AS (
         | SELECT doc_id, s,
         |  array_to_string(list_slice(tk, CAST(s + 1 AS BIGINT), CAST(s + 8 AS BIGINT)), ' ') AS win
         | FROM p0
         |), wd AS (
         | SELECT win FROM (SELECT DISTINCT doc_id, win FROM g)
         | GROUP BY win HAVING count(*) > 1
         |), ds AS (
         | SELECT doc_id, list(s) AS starts FROM g JOIN wd USING (win) GROUP BY doc_id
         |), lab AS (
         | SELECT t.doc_id, t.tk, coalesce(ds.starts, []) AS starts
         | FROM toks t LEFT JOIN ds USING (doc_id)
         |), kept AS (
         | SELECT doc_id, tk, list_transform(list_filter(range(0, len(tk)),
         |   i -> NOT len(list_filter(starts, st -> i >= st AND i < st + 8)) > 0),
         |   i -> tk[CAST(i + 1 AS BIGINT)]) AS kt
         | FROM lab)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         | CAST(len(tk) - len(kt) AS BIGINT) AS n_removed,
         | coalesce(array_to_string(kt, ' '), '') AS scrubbed
         |FROM kept ORDER BY doc_id""".stripMargin,

    "text_span_runs" ->
      s"""WITH ${DedupOracles.corpusSql}, toks AS (
         | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
         | FROM corpus WHERE length(trim(text)) > 0
         |), p0 AS (
         | SELECT doc_id, tk, unnest(range(0, len(tk) - 7)) AS s
         | FROM toks WHERE len(tk) >= 8
         |), g AS (
         | SELECT doc_id, s,
         |  array_to_string(list_slice(tk, CAST(s + 1 AS BIGINT), CAST(s + 8 AS BIGINT)), ' ') AS win
         | FROM p0
         |), wd AS (
         | SELECT win FROM (SELECT DISTINCT doc_id, win FROM g)
         | GROUP BY win HAVING count(*) > 1
         |), ds AS (
         | SELECT doc_id, s FROM g JOIN wd USING (win)
         |), m AS (
         | SELECT doc_id, s,
         |  CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
         |    OR s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) > 8
         |   THEN 1 ELSE 0 END AS nw
         | FROM ds
         |), r AS (
         | SELECT doc_id, s,
         |  sum(nw) OVER (PARTITION BY doc_id ORDER BY s) - 1 AS run_id
         | FROM m)
         |SELECT doc_id, CAST(run_id AS BIGINT) AS run_id,
         | CAST(min(s) AS BIGINT) AS run_start,
         | CAST(max(s) + 7 AS BIGINT) AS run_end,
         | CAST(max(s) - min(s) + 8 AS BIGINT) AS run_tokens
         |FROM r GROUP BY doc_id, run_id ORDER BY doc_id, run_id""".stripMargin,

    // C40: bigram counts grouped by the bigram STRINGS (vs Spark's
    // 64-bit hashes — collision-freedom proof); floor(log2(cnt)) via
    // length(bin(cnt))-1 on both engines; one final double division
    "text_lm_score" ->
      s"""WITH $lmScoreCtes
        |SELECT doc_id, n_bigrams, sum_log2, avg_log2
        |FROM lmscore ORDER BY doc_id""".stripMargin,

    // C41: CCNet-style corpus bucketing — tertile boundaries via
    // quantile_cont (== Spark Percentile bit-for-bit, the q_quantiles
    // precedent), then a pure >= decision per doc
    "pipeline_ccnet_buckets" ->
      s"""WITH $lmScoreCtes,
        |b AS (
        | SELECT quantile_cont(avg_log2, CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) AS q1,
        |        quantile_cont(avg_log2, CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) AS q2
        | FROM lmscore)
        |SELECT s.doc_id, s.avg_log2,
        | CASE WHEN s.avg_log2 >= b.q2 THEN 'head'
        |      WHEN s.avg_log2 >= b.q1 THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |FROM lmscore s CROSS JOIN b ORDER BY s.doc_id""".stripMargin,

    // C41b: bucket-then-keep-head composition — same boundary CTE as
    // the bucketing oracle (>= q1 ⟺ bucket != 'tail'), then the
    // export_manifest oracle's token expression and manifest replica
    "pipeline_ccnet_export" -> {
      val keptSql =
        s"""WITH $lmScoreCtes,
          |b AS (
          | SELECT quantile_cont(avg_log2, CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) AS q1
          | FROM lmscore),
          |kept AS (
          | SELECT d.doc_id,
          |  CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
          |       ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END
          |    AS BIGINT) AS n_tokens
          | FROM documents d
          | JOIN (SELECT s.doc_id FROM lmscore s CROSS JOIN b
          |       WHERE s.avg_log2 >= b.q1) k USING (doc_id)
          |)
          |""".stripMargin
      keptSql + graft.operators.TrainExport
        .manifestSql("kept", "doc_id", "n_tokens", 8)
    },

    // C42: the oracle REPLAYS NB training and scoring — same 80/20
    // split, same md5 feature buckets (positional hex decode, the
    // md5BucketSql technique with a parametric modulus), same dyadic
    // floor-log2 = length(bin(x))-1 likelihoods, same smallest-label
    // tie-break. Integer scores end to end, so the argmax is exact.
    "text_nb_classify" -> {
      def bucket(keyExpr: String): String = {
        val h = s"md5($keyExpr || ':11')"
        val terms = (1 to 8).map { i =>
          val p = 1L << (4 * (8 - i))
          s"(strpos('0123456789abcdef', substring($h,$i,1))-1)*$p"
        }.mkString(" + ")
        s"(($terms) % 4096)"
      }
      val toks = """CASE WHEN length(trim(text)) = 0
                   | THEN CAST([] AS VARCHAR[])
                   | ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                   |END""".stripMargin.replace("\n", " ")
      s"""WITH tr AS (
         | SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
         |sc AS (
         | SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
         |trb AS (
         | SELECT lang, ${bucket("tok")} AS b
         | FROM (SELECT lang, unnest($toks) AS tok FROM tr)),
         |cnts AS (
         | SELECT b, lang, count(*) AS cnt FROM trb GROUP BY 1, 2),
         |cls AS (
         | SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len($toks)) AS BIGINT) AS tot_tokens
         | FROM tr GROUP BY 1),
         |scb AS (
         | SELECT doc_id, ${bucket("tok")} AS b
         | FROM (SELECT doc_id, unnest($toks) AS tok FROM sc)),
         |ntok AS (
         | SELECT doc_id, lang AS true_lang,
         |  CAST(len($toks) AS BIGINT) AS n_tokens FROM sc),
         |hits AS (
         | SELECT s.doc_id, c.lang,
         |  CAST(sum(length(bin(c.cnt + 1)) - 1) AS BIGINT) AS hsum
         | FROM scb s JOIN cnts c ON s.b = c.b GROUP BY 1, 2),
         |scored AS (
         | SELECT n.doc_id, n.true_lang, n.n_tokens, k.lang AS cand,
         |  coalesce(h.hsum, 0) + (length(bin(k.n_docs)) - 1)
         |   - n.n_tokens * (length(bin(k.tot_tokens + 4096)) - 1) AS score
         | FROM ntok n CROSS JOIN cls k
         | LEFT JOIN hits h ON h.doc_id = n.doc_id AND h.lang = k.lang),
         |r AS (
         | SELECT *, row_number() OVER (
         |   PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
         | FROM scored)
         |SELECT doc_id, true_lang, n_tokens, cand AS pred,
         | CAST(score AS BIGINT) AS score
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },

    // C45: the oracle replays BM25 with the identical two IEEE ops per
    // term (idf-double × (int-num / int-den)) and the same fixed-order
    // coalesce-chain total.
    "text_bm25" -> graft.operators.Bm25.rankSql(
      Seq("hash join", "window merge", "scan filter"), 20),

    // C46: the oracle replays DSIR end to end — same md5 feature
    // buckets (positional hex decode, seed 7, mod 4096), same dyadic
    // floor-log2 = length(bin(x))-1 ratios, same Laplace(+1) and +B
    // smoothing, same (score DESC, doc_id) top-50.
    "text_dsir" -> {
      def bucket(keyExpr: String): String = {
        val h = s"md5($keyExpr || ':7')"
        val terms = (1 to 8).map { i =>
          val p = 1L << (4 * (8 - i))
          s"(strpos('0123456789abcdef', substring($h,$i,1))-1)*$p"
        }.mkString(" + ")
        s"(($terms) % 4096)"
      }
      val toks = """CASE WHEN length(trim(text)) = 0
                   | THEN CAST([] AS VARCHAR[])
                   | ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                   |END""".stripMargin.replace("\n", " ")
      s"""WITH g AS (
         | SELECT doc_id, t, ${bucket("tok")} AS b
         | FROM (SELECT doc_id, lang = 'en' AS t, unnest($toks) AS tok
         |       FROM documents)),
         |rc AS (SELECT b, count(*) AS cnt_r FROM g GROUP BY 1),
         |tc AS (SELECT b, count(*) AS cnt_t FROM g WHERE t GROUP BY 1),
         |tot AS (
         | SELECT CAST(count(*) AS BIGINT) AS tot_r,
         |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS tot_t
         | FROM g),
         |ev AS (
         | SELECT g.doc_id,
         |  CAST(sum((length(bin(coalesce(tc.cnt_t, 0) + 1)) - 1)
         |         - (length(bin(rc.cnt_r + 1)) - 1)) AS BIGINT) AS ev
         | FROM g JOIN rc USING (b) LEFT JOIN tc USING (b) GROUP BY 1),
         |base AS (
         | SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
         | FROM documents)
         |SELECT b.doc_id, b.n_tokens,
         | CAST(coalesce(e.ev, 0) + b.n_tokens *
         |  ((length(bin(tot_r + 4096)) - 1)
         |   - (length(bin(tot_t + 4096)) - 1)) AS BIGINT) AS score
         |FROM base b LEFT JOIN ev e USING (doc_id) CROSS JOIN tot
         |ORDER BY score DESC, b.doc_id LIMIT 50""".stripMargin
    }
  )

  /** The C40 scoring chain as DuckDB CTEs (ends in `lmscore`), shared
    * by the text_lm_score oracle and the CCNet bucketing oracle.
    */
  private def lmScoreCtes: String =
    """base AS (
      | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      | FROM documents WHERE length(trim(text)) > 0
      |), b2 AS (
      | SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
      | FROM base WHERE len(tk) >= 2
      |), bg AS (
      | SELECT doc_id, unnest(list_transform(range(2, n + 1),
      |   i -> tk[i - 1] || chr(1) || tk[i])) AS bigram
      | FROM b2
      |), cnt AS (
      | SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
      |), lmscore AS (
      | SELECT doc_id, n_bigrams, sum_log2,
      |  CAST(sum_log2 AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS avg_log2
      | FROM (
      |  SELECT b.doc_id, count(*) AS n_bigrams,
      |   CAST(sum(length(bin(c.cnt)) - 1) AS BIGINT) AS sum_log2
      |  FROM bg b JOIN cnt c USING (bigram)
      |  GROUP BY b.doc_id)
      |)""".stripMargin
}
