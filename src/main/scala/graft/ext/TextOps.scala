package graft.ext

import graft.ops.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * [EXT] Text-analysis operators for LLM training-data pipelines (mandated by
 * BASELINE.json's north star, not the reference): token counting, quality
 * scoring, language-ID heuristic, document fingerprinting. All built from
 * codegen'd built-ins / higher-order functions — no UDFs in the hot path, so
 * every operator stays inside whole-stage codegen and scales linearly with
 * input (no shuffle unless the caller aggregates).
 */
object TextOps {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: segments of letters / digits /
    * single punctuation, the usual pre-tokenizer regex family. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /**
   * Train `nMerges` byte-pair merge rules from corpus pair statistics —
   * deterministic, offline, no external vocabulary. Words are weighted by
   * corpus frequency (the standard BPE trainer shape: statistics ride the
   * VOCABULARY, never the corpus); each round counts adjacent token pairs,
   * picks the winner by (count desc, pair asc), and applies it before the
   * next round, so later merges compound earlier ones ("t"+"h"→"th", then
   * "th"+"e"→"the"). A word's state is its tokens joined and bounded by
   * `.` — a merge rule is the flat string `".A.B."` (its replacement drops
   * the middle dot), applied as a plain leftmost-non-overlapping string
   * replace in BOTH engines, which keeps application a codegen'd string
   * expression and makes the whole scheme replayable in the DuckDB oracle.
   * (Exact reference BPE re-scans after each merge and can differ on
   * boundary-adjacent repeats like "aaaa" — immaterial for token
   * accounting, where this closes the word-vs-subword gap the same way.)
   *
   * Scale: ONE corpus-token-cardinality shuffle builds the weighted
   * vocabulary; every training round then aggregates the vocabulary-sized
   * frame (a [[graft.ops.Iterate]] cut per round) and collects a bounded
   * winning-pair set — a model artifact, like centroids. Returns merge
   * rules in priority order, for [[subwordCountBpe]].
   *
   * Production merge counts (32k) make round count the wall-clock driver,
   * so two standard levers are first-class:
   *   - TRAIN ON A SAMPLE: pass a deterministic hash-sample of the corpus
   *     ([[SamplingOps.hashSample]]) as `df` — pair statistics concentrate
   *     (vocabulary frequencies are corpus-scale counts), so a modest
   *     sample reproduces full-corpus merges up to rare-tail ties; the
   *     sample fraction, not the corpus, then prices the vocabulary build.
   *   - BATCHED ROUNDS (`batch` > 1): each round selects up to `batch`
   *     token-DISJOINT pairs from the ranked top-8·batch prefix and
   *     applies them together — disjoint merges commute with sequential
   *     application, and Spark jobs per table drop to ~2·nMerges/batch.
   *     batch = 1 preserves exact classic greedy BPE.
   */
  def bpeTrainMerges(df: DataFrame, textCol: String, nMerges: Int,
                     batch: Int = 1): Seq[String] = {
    require(nMerges >= 1, s"nMerges must be positive, got $nMerges")
    require(batch >= 1, s"batch must be positive, got $batch")
    // every vocab generation is an Iterate cut: constant-depth plans
    var vocab = Iterate.cut(df.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit("."), regexp_replace(col("w"), "(.)", "$1.")).as("st")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val b = math.min(batch, nMerges - merges.length)
      // tokens of ".a.b.c." split on '.' sit at 1-based positions
      // 2..size-1 (leading/trailing empties kept by both engines)
      val pairCounts = vocab.df
        .select(col("freq"), split(col("st"), "\\.").as("tk"))
        .filter(size(col("tk")) >= 4)
        .select(col("freq"), explode(expr(
          "transform(sequence(2, size(tk) - 2), i -> " +
            "concat('.', element_at(tk, i), '.', element_at(tk, i + 1), '.'))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
      val selected: Seq[String] =
        if (b == 1) {
          // single-round argmax as ONE hash aggregate: min_by over
          // (−cnt, pair) partial-aggregates map-side — no ordering of the
          // pair universe, the exchange carries one candidate per partition
          val row = pairCounts.agg(min_by(col("pair"),
            struct((-col("cnt")).as("nc"), col("pair").as("p"))).as("pair"))
            .head()
          if (row.isNullAt(0)) Nil else Seq(row.getString(0))
        } else {
          // batched rounds: take the top-K ranked prefix (K = 8·batch —
          // TakeOrderedAndProject, k rows per partition + driver merge,
          // never a global sort) and keep, in rank order, pairs whose two
          // tokens are disjoint from EVERY higher-ranked prefix pair
          // (selected or not — the rule is a per-pair predicate, so an
          // engine-independent oracle replays it with one anti-join).
          // Disjoint merges commute: applying them together in one pass
          // equals applying them sequentially, because a merge (a,b)→ab
          // cannot create or destroy adjacencies of tokens outside {a,b}.
          // K is 8·batch — the CONFIGURED batch, not this round's
          // possibly-smaller remainder b: the oracle replays a fixed
          // prefix per round, and a shrunken final-round prefix could
          // select different merges
          val k = 8 * batch
          val ranked = pairCounts.orderBy(col("cnt").desc, col("pair").asc)
            .limit(k).select("pair").collect().map(_.getString(0))
          val sel = scala.collection.mutable.ArrayBuffer.empty[String]
          val blocked = scala.collection.mutable.Set.empty[String]
          for (p <- ranked) {
            val parts = p.split("\\.", -1)
            val (t1, t2) = (parts(1), parts(2))
            if (sel.length < b && !blocked(t1) && !blocked(t2)) sel += p
            blocked += t1; blocked += t2
          }
          sel.toSeq
        }
      if (selected.isEmpty) exhausted = true
      else {
        merges ++= selected
        val next = Iterate.cut(vocab.df.select(col("freq"),
          selected.foldLeft(col("st")) { (st, m) =>
            call_function("replace", st, lit(m),
              lit("." + m.replace(".", "") + "."))
          }.as("st")))
        vocab.release()
        vocab = next
      }
    }
    vocab.release()
    merges.toSeq
  }

  /**
   * Subword token count under a trained merge table
   * ([[bpeTrainMerges]]) — the token-accounting primitive real training
   * budgets need: whitespace word counts skew per-language 1.3–3× vs the
   * subword counts actual tokenizers bill. Per word: char-split to the
   * bounded `.`-joined state, fold the merge rules in priority order as
   * literal string replaces, count separators. The merge table rides the
   * expression as literals (a model artifact, like IVF centroids), so the
   * whole count is one codegen'd narrow projection — zero shuffle, no UDF.
   * Counts are monotone non-increasing in the number of merge rules.
   */
  def subwordCountBpe(text: Column, merges: Seq[String]): Column = {
    val perWord = (w: Column) => {
      val st0 = concat(lit("."), regexp_replace(w, "(.)", "$1."))
      val stN = merges.foldLeft(st0) { (st, m) =>
        call_function("replace", st, lit(m),
          lit("." + m.replace(".", "") + "."))
      }
      (length(stN) -
        length(call_function("replace", stN, lit("."), lit(""))) - 1)
        .cast("long")
    }
    aggregate(transform(tokens(text), perWord), lit(0L), (acc, x) => acc + x)
  }

  /** Stopword hit count via higher-order `filter` — no explode, no shuffle. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(lit): _*)))

  /** Quality-score feature block: length, token count, average token length,
    * stopword ratio, alpha ratio — the standard cheap text-quality signals
    * (C4/Gopher-style filters). Pure per-row projection. */
  def qualityFeatures(df: DataFrame, textCol: String,
                      stopwords: Seq[String] = Seq("the", "a")): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars_m", length(t))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_stopwords", stopwordCount(t, stopwords))
      .withColumn("avg_token_len",
        round((length(t) - (tokenCount(t) - lit(1))).cast("double") / tokenCount(t), 4))
      .withColumn("stopword_ratio",
        round(col("n_stopwords").cast("double") / col("n_tokens"), 4))
  }

  /** Deterministic n-gram/stopword language-ID heuristic. Real language ID is
    * a model; at engine level the contract is "a deterministic, vectorizable
    * per-row classifier" — here: character-script check first (CJK), then
    * stopword evidence for en/es/fr/de, else unknown. */
  def langIdHeuristic(text: Column): Column = {
    val toks = tokens(text)
    def hits(ws: Seq[String]) = size(filter(toks, t => t.isin(ws.map(lit): _*)))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(hits(Seq("the", "and", "of", "is")) > 0, "en")
      .when(hits(Seq("el", "la", "los", "es", "y")) > 0, "es")
      .when(hits(Seq("le", "les", "et", "est")) > 0, "fr")
      .when(hits(Seq("der", "die", "das", "und", "ist")) > 0, "de")
      .otherwise("unknown")
  }

  /** 60-bit cross-engine document fingerprint: first 15 hex chars of md5,
    * as a BIGINT. md5 is the one hash both Spark and any SQL oracle
    * (DuckDB/Postgres/Trino) compute identically; 60 bits keeps it inside a
    * signed 64-bit int. Collision p ≈ n²/2⁶¹ — at 10¹² docs ≈ 0.4, so for
    * true 100 TB exact-dedup use the full 128-bit hex string (also provided);
    * the numeric form exists for cheap joins/minhash arithmetic. */
  def fingerprint60(c: Column): Column =
    graft.functions.Fingerprint60(c)

  /**
   * DISTINCT-n DIVERSITY — the corpus self-repetition metric of the
   * distinct-1/distinct-2 family: per stratum, the fraction of unigram
   * and bigram OCCURRENCES that are distinct TYPES. Natural text sits in
   * a recognizable band; template/boilerplate corpora and mode-collapsed
   * generated text drive the ratios toward 0 (few types, many
   * occurrences) — the cheap corpus-level "is this slice repeating
   * itself" gate next to [[TextOps.repetitionStats]]' per-doc view and
   * the Zipf-slope diagnostic.
   *
   * Returns per stratum: (n1, d1, distinct1 = d1/n1, n2, d2, distinct2),
   * ratios 6dp. Docs with < 2 tokens contribute no bigrams (the
   * positional-join convention, matching the SQL oracle).
   *
   * Scale: one (stratum, gram) shuffle per n — gram counts partial-
   * aggregate map-side, the stratum rollup is |types|-sized, text never
   * moves; bigrams ride the zero-shuffle WordGrams codegen kernel.
   */
  def ngramDiversity(df: DataFrame, textCol: String,
                     stratumCols: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val g = stratumCols.map(col)
    val base = df.filter(col(textCol).isNotNull)
    def roll(grams: DataFrame, n: String, d: String, r: String) =
      grams.groupBy(g :+ col("__g"): _*).agg(count(lit(1)).as("__c"))
        .groupBy(g: _*)
        .agg(sum(col("__c")).as(n), count(lit(1)).as(d))
        .withColumn(r, round(col(d).cast("double") / col(n), 6))
    val uni = roll(
      base.select(g :+ explode(tokens(col(textCol))).as("__g"): _*),
      "n1", "d1", "distinct1")
    val bi = roll(
      base.filter(size(tokens(col(textCol))) >= 2)
        .select(g :+ explode(call_function("graft_word_grams",
          col(textCol), lit(2))).as("__g"): _*),
      "n2", "d2", "distinct2")
    uni.join(bi, stratumCols)
  }

  def fingerprintHex(c: Column): Column = md5(c)

  /** Per-document text stats frame: doc id, token/char/subword counts,
    * fingerprint. */
  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars_m"),
      tokenCount(col(textCol)).as("n_tokens"),
      subwordCount(col(textCol)).as("n_subwords"),
      fingerprintHex(col(textCol)).as("fingerprint"))

  /**
   * READABILITY SCORES — Flesch reading ease and Flesch–Kincaid grade
   * per document: the audience-difficulty axis of text quality that
   * length/punctuation heuristics (the Gopher filter) don't capture —
   * a legal-boilerplate page and a children's story can share every
   * Gopher stat and sit 60 Flesch points apart. Words are non-space
   * runs, sentences are [.!?]+ runs (floored at 1), syllables are the
   * standard vowel-group approximation [aeiouy]+ over the lowercased
   * text (a vowel run never spans a space, so the whole-text count
   * equals the per-word sum). Emits (id, n_words, n_sentences,
   * n_syllables, flesch, fk_grade), 4dp, empty-text docs dropped;
   * Flesch is NOT clamped to [0, 100] (out-of-range values are the
   * signal on degenerate text).
   *
   * Deterministic: all three counts come from identical simple
   * character-class regexes on both engines; the two scores are pinned
   * double chains per row.
   *
   * Scale: three per-row regex kernels inside the scan stage — ZERO
   * shuffles; output is id-keyed rows.
   */
  def readabilityScores(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val words = size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
      .cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
        .cast("long"))
    val sylls = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0))).cast("long")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), words.as("n_words"), sents.as("n_sentences"),
        sylls.as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(lit(206.835) -
          col("n_words").cast("double") / col("n_sentences") * 1.015 -
          col("n_syllables").cast("double") / col("n_words") * 84.6, 4)
          .as("flesch"),
        round(col("n_words").cast("double") / col("n_sentences") * 0.39 +
          col("n_syllables").cast("double") / col("n_words") * 11.8 -
          15.59, 4).as("fk_grade"))
  }

  /**
   * TYPE–TOKEN RATIO + HAPAX SHARE per document — lexical diversity:
   * TTR = distinct words / words ("does this doc say new things or
   * repeat itself"), hapax share = fraction of its vocabulary used
   * exactly once (template pages reuse a tiny vocabulary everywhere;
   * natural prose keeps minting singletons). The per-DOC diversity
   * companion to the corpus-level [[vocabRichness]] and the repetition
   * kernels' n-gram view (those see adjacent repeats; TTR sees global
   * vocabulary reuse at any distance). Emits (id, n_tokens, n_types,
   * n_hapax, ttr, hapax_share), 6dp, empty docs dropped.
   *
   * Deterministic: exact integer counts off the token histogram; two
   * pinned divisions per row.
   *
   * Scale: explode + one (doc, word) hash agg + one doc rollup — the
   * wordFrequency shape, doc-keyed; map-side partial aggregation
   * bounds the exchange by the per-doc vocabulary, not token count.
   */
  def docTtr(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .filter(col("n_tokens") > 0)
      .select(col(idCol), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_share"))

  /** Corpus word frequency: explode + count. The explode fans out rows
    * (narrow), then one hash-agg shuffle on the token — the canonical
    * scalable word-count shape with map-side partial aggregation. At
    * 100 TB the token-universe shuffle is the bottleneck; use
    * [[approxTopKWords]] when only the heavy hitters are needed. */
  def wordFrequency(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /**
   * VOCABULARY RICHNESS estimate — "how much vocabulary has the crawl
   * NOT seen yet": the Chao1 lower bound on total vocabulary
   * (V + f1(f1−1)/(2(f2+1)), the bias-corrected form — defined even
   * with no doubletons) and the Good–Turing unseen-probability mass
   * p₀ = f1/N, both driven entirely by the singleton/doubleton counts
   * of the word histogram. The STOPPING-RULE companion to
   * `q_vocab_growth`'s Heaps curve: growth says how fast new words
   * arrive, this says how many are left. Emits one row (n_tokens,
   * vocab, f1, f2, chao1, p_unseen) — chao1 6dp, p_unseen 8dp.
   *
   * Deterministic: every input to the two final expressions is an
   * exact integer count; one pinned double chain each.
   *
   * Scale: [[wordFrequency]]'s explode + token-universe hash agg, then
   * a second aggregate to ONE row — the count-of-counts never
   * materializes beyond four conditional sums.
   */
  def vocabRichness(df: DataFrame, textCol: String): DataFrame = {
    val wf = wordFrequency(df, textCol)
    wf.agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("n") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        round(col("vocab") + col("f1").cast("double") * (col("f1") - 1) /
          (lit(2.0) * (col("f2") + 1)), 6).as("chao1"),
        when(col("n_tokens") > 0,
          round(col("f1").cast("double") / col("n_tokens"), 8))
          .otherwise(lit(null).cast("double")).as("p_unseen"))
  }

  /** Per-partition Misra-Gries summary: every word with LOCAL count
    * > localTokens/m survives, using O(m) memory and one pass. */
  private[graft] def misraGries(it: Iterator[String], m: Int): Iterator[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { w =>
      if (counts.contains(w)) counts(w) += 1L
      else if (counts.size < m) counts(w) = 1L
      else {
        // decrement-all; O(m) but amortized O(1) per input token
        counts.mapValuesInPlace((_, c) => c - 1L)
        counts.filterInPlace((_, c) => c > 0L)
      }
    }
    counts.keysIterator
  }

  /**
   * Approximate heavy hitters — the 100 TB shape for
   * `wordFrequency.orderBy(n desc).limit(k)`, whose exact plan shuffles
   * the whole token universe. Two bounded-size summaries instead:
   *
   *   1. CANDIDATES: per-partition [[misraGries]] summaries of size
   *      `summarySize` (mapPartitions, O(m) memory). By pigeonhole, any
   *      word with global count > N/m exceeds the local threshold in at
   *      least one partition, so the union (≤ partitions·m words — a
   *      model artifact) contains every true heavy hitter.
   *   2. COUNTS: one `count_min_sketch` aggregate — partial aggregation
   *      merges sketches map-side, so the shuffle carries ONE sketch per
   *      partition regardless of corpus size. CMS never under-counts and
   *      over-counts by ≤ eps·N with the configured confidence.
   *
   * Candidates are ranked by (estimate desc, word asc) and the top k
   * returned with their estimated counts. Both passes are over the same
   * narrow token stream; nothing data-sized is collected or shuffled.
   */
  def approxTopKWords(df: DataFrame, textCol: String, k: Int,
                      summarySize: Int = 1024, eps: Double = 1e-4,
                      confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("word"))
    val sketchBytes = words
      .agg(count_min_sketch(col("word"), lit(eps), lit(confidence), lit(seed)))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(sketchBytes))
    val candidates = words.as[String]
      .mapPartitions(it => misraGries(it, summarySize))
      .distinct().collect()
    val top = candidates.map(w => (w, cms.estimateCount(w)))
      .sortBy { case (w, n) => (-n, w) }.take(k).toSeq
    spark.createDataFrame(top).toDF("word", "n_est")
  }

  /**
   * BM25 full-text retrieval: score every document against a bag of query
   * terms with the Okapi BM25 ranking function and return the top `k`.
   *
   * The 100 TB shape: the exploded token stream is filtered to the query
   * terms BEFORE anything wide (the term list is a literal broadcast into
   * the codegen filter), so only matching postings — O(Σ tf over query
   * terms), not O(corpus tokens) — reach the per-document aggregation.
   * Documents with no matching term never appear downstream at all.
   * Per-term document frequencies and the (N, avgdl) corpus stats are
   * one-row/model-sized aggregates cross-joined (broadcast) onto the
   * scored frame, and the final top-k is a `TakeOrdered`, never a global
   * sort.
   *
   * Cross-engine determinism: tf, df, dl and N are integers; avgdl is an
   * exact double (integer-valued doubles sum exactly below 2⁵³); the score
   * is a FIXED-ORDER sum of per-term components (fold in `terms` order —
   * a SQL oracle writing the same left-assoc chain reproduces it), rounded
   * to 6 decimals. Ties break on doc id ascending.
   */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(terms.distinct == terms, "query terms must be distinct")
    val corpus = df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = corpus.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val postings = corpus
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms.map(lit): _*))
    // per-document tf, one column per term (absent term -> null -> 0)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$i")
    }
    val tfs = postings.groupBy("doc_id", "dl").agg(tfCols.head, tfCols.tail: _*)
    // per-term document frequency, a single 1-row aggregate
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      countDistinct(when(col("term") === t, col("doc_id"))).as(s"df_$i")
    }
    val dfs = postings.agg(dfCols.head, dfCols.tail: _*)
    val scored = tfs.crossJoin(broadcast(dfs)).crossJoin(broadcast(stats))
    val score = terms.indices.foldLeft(lit(0.0)) { (acc, i) =>
      val tf = col(s"tf_$i").cast("double")
      val dfT = col(s"df_$i").cast("double")
      val idf = log(lit(1.0) + (col("n_docs") - dfT + 0.5) / (dfT + 0.5))
      // operand order pinned left-assoc so a SQL oracle writing the same
      // chain reproduces the doubles bit-for-bit
      val norm = tf + (lit(1.0 - b) + (col("dl") / col("avgdl")) * b) * k1
      acc + when(tf > 0, idf * tf * (k1 + 1.0) / norm).otherwise(0.0)
    }
    scored.withColumn("bm25", round(score, 6))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("bm25"))
  }

  /** Char k-gram hashes via the native codegen expression (one static
    * kernel call per row, no UDF encoder round-trip). */
  private def charKgrams(text: Column, k: Int): Column =
    graft.functions.CharKgrams(text, k)

  // -------------------------------------------------------------------------
  // Corpus curation — repetition scoring, quality filtering, PII redaction
  // -------------------------------------------------------------------------

  /**
   * Gopher-style repetition signals per document: the share of the most
   * frequent word n-gram (`top_gram_share`) and the distinct-token ratio.
   * Repetitive machine-generated or boilerplate text scores high on the
   * first and low on the second — the standard cheap repetition filters.
   *
   * ZERO shuffle: the statistic is per-document, so it is computed as a
   * per-row kernel projection ([[graft.functions.RepetitionStats]] — one
   * hash-count pass over the document's grams in-register). The
   * explode → groupBy(doc, gram) → groupBy(doc) formulation computes the
   * same numbers but shuffles O(total n-grams) rows twice — at 100 TB
   * that's two corpus-sized shuffles for a value each row already owns.
   */
  def repetitionScores(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    val toks = tokens(col(textCol))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.RepetitionStats(col(textCol), n).as("__rs"),
        size(toks).as("__nt"),
        size(array_distinct(toks)).as("__nd"))
      .select(col(idCol),
        element_at(col("__rs"), 1).as("total_grams"),
        round(element_at(col("__rs"), 2).cast("double") /
          element_at(col("__rs"), 1), 4).as("top_gram_share"),
        round(col("__nd").cast("double") / col("__nt"), 4)
          .as("distinct_token_ratio"))
  }

  /** Corpus quality filter: keep documents inside token-count bounds with a
    * distinct-token ratio above `minDistinctRatio` (drops degenerate
    * repetition). Pure filter over per-row projections — no shuffle; at
    * 100 TB this runs in the scan stage and feeds every downstream op a
    * smaller corpus. */
  def qualityFilter(df: DataFrame, textCol: String,
                    minTokens: Int, maxTokens: Int,
                    minDistinctRatio: Double): DataFrame = {
    val toks = tokens(col(textCol))
    df.filter(col(textCol).isNotNull &&
      size(toks).between(minTokens, maxTokens) &&
      (size(array_distinct(toks)).cast("double") / size(toks))
        >= minDistinctRatio)
  }

  /**
   * GOPHER-RULES QUALITY FILTER (Rae et al., "Scaling Language Models:
   * Methods, Analysis & Insights from Training Gopher", App. A1.1) — the
   * canonical rule-based web-text gate, parameterized: token-count bounds,
   * mean-token-length bounds, symbol-to-word ratio cap (`#`/`...`
   * artifacts), minimum alphabetic-word fraction, minimum stopword
   * evidence. Emits the measured features, each rule's verdict, and the
   * conjunction — pipelines audit WHICH rule killed a doc, not just that
   * one did (the reason column is how filter regressions get debugged).
   *
   * All features compare on their emitted 4dp-rounded values, so rule
   * verdicts can never disagree with the displayed feature across engines.
   *
   * Scale: pure per-row narrow projection — higher-order filters over the
   * token array, zero shuffle, codegen-friendly, streams at scan speed at
   * any corpus size.
   */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minTokens: Int = 50, maxTokens: Int = 100000,
                   minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1,
                   minAlphaRatio: Double = 0.8,
                   stopwords: Seq[String] = Seq("the", "a", "and", "of"),
                   minStopHits: Int = 2): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val n = size(toks)
    val out = df.filter(t.isNotNull).select(
      col(idCol),
      n.cast("long").as("n_tokens"),
      round((length(t) - (n - lit(1))).cast("double") / n, 4)
        .as("avg_token_len"),
      round(size(filter(toks, w => w === "#" || w.contains("...")))
        .cast("double") / n, 4).as("symbol_ratio"),
      round(size(filter(toks, w => w.rlike("[A-Za-z]")))
        .cast("double") / n, 4).as("alpha_ratio"),
      size(filter(toks, w => w.isin(stopwords.map(lit): _*)))
        .cast("long").as("n_stop_hits"))
    out
      .withColumn("rule_len", col("n_tokens").between(minTokens, maxTokens))
      .withColumn("rule_avg_len",
        col("avg_token_len") >= minAvgLen && col("avg_token_len") <= maxAvgLen)
      .withColumn("rule_symbols", col("symbol_ratio") <= maxSymbolRatio)
      .withColumn("rule_alpha", col("alpha_ratio") >= minAlphaRatio)
      .withColumn("rule_stop", col("n_stop_hits") >= minStopHits)
      .withColumn("keep",
        col("rule_len") && col("rule_avg_len") && col("rule_symbols") &&
          col("rule_alpha") && col("rule_stop"))
  }

  /** Canonical text normalization (NFC → lowercase → collapse whitespace →
    * trim) as a native codegen expression — run this BEFORE any dedup
    * tier, or visually-identical docs differing only in accents/case/
    * spacing hash apart. Per-row, zero shuffle. */
  def normalizeText(text: Column): Column =
    graft.functions.NormalizeText(text)

  /** PII-style redaction: replace email-shaped and phone-shaped substrings
    * with typed placeholder tags. Codegen'd `regexp_replace` — narrow,
    * per-row, no UDF; patterns restricted to the RE2∩Java-regex common
    * subset so any SQL oracle agrees byte-for-byte. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-z0-9._]+@[a-z0-9]+\\.[a-z]+", "[EMAIL]"),
      "555-[0-9]+", "[PHONE]")

  /**
   * Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
   * the MOSS scheme): hash every character k-gram with a rolling pass, then
   * keep the minimum hash of each sliding window of `w` consecutive k-grams;
   * the distinct selected hashes are the document's fingerprints. Guarantees
   * any shared substring of length ≥ w+k−1 contributes a shared fingerprint.
   *
   * Shape: per-row k-gram hashing (JVM kernel, narrow) → posexplode →
   * sliding-window min per doc (one shuffle on doc id) → distinct.
   * At 100 TB the explode volume is O(total characters) — winnowing then
   * compresses ~w× before anything wide happens downstream (fingerprint
   * joins for near-dup detection).
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("pos")).rowsBetween(0, w - 1)
    df.select(col(idCol), posexplode(charKgrams(col(textCol), k)))
      .select(col(idCol), col("pos"), col("col").as("h"))
      .withColumn("fingerprint", min(col("h")).over(win))
      .select(col(idCol), col("fingerprint"))
      .distinct()
  }

  /**
   * Sliding-window document chunking — the RAG-indexing / context-window
   * packing primitive: cut each document into `chunkTokens`-token chunks
   * whose starts step by `stride` tokens (`stride` < `chunkTokens` ⇒
   * overlapping chunks). Chunk count per doc is
   * 1 + ⌈(n − chunkTokens)/stride⌉ for n > chunkTokens, else 1 — the last
   * chunk always reaches the end of the document (it may be shorter than
   * `chunkTokens`; only the final chunk can be short).
   *
   * Returns (`idCol`, chunk_id, chunk_text, n_tokens).
   *
   * Pure per-row explode — ZERO shuffle at any corpus size; output volume
   * is input × (chunkTokens/stride) overlap factor, which is the
   * algorithm's output, not a plan artifact.
   */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens and stride must be > 0")
    val nChunks = when(col("n") <= chunkTokens, lit(1L))
      .otherwise(ceil((col("n") - chunkTokens).cast("double") / stride)
        .cast("long") + 1L)
    val chunk = slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"),
      lit(chunkTokens))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        array_join(chunk, " ").as("chunk_text"),
        size(chunk).as("n_tokens"))
  }

  /**
   * Corpus-unigram language-model scoring — the cheap stand-in for the
   * KenLM-perplexity quality filter (CCNet-style): estimate P(token) =
   * count(token)/total over the WHOLE corpus, then score each document by
   * the mean log-probability of its tokens (higher = more typical of the
   * corpus; filter tails as quality gates). Deterministic and
   * model-free — the "LM" is the corpus itself.
   *
   * Returns (`idCol`, n_tokens, avg_logprob) with avg_logprob rounded to 6
   * decimals (keeps the cross-engine float compare stable).
   *
   * Scale shape: the vocabulary aggregate shuffles (token, count) pairs
   * once — the same volume as any word-count; the corpus total rides a
   * 1-row broadcast; the per-token logprob join is vocabulary-sized (text
   * tokens join against it, planner broadcasts a vocab that fits — real
   * vocabularies are ≤ 10⁷ rows ≪ corpus); the per-doc mean is one
   * doc-keyed shuffle of (id, logp) pairs. The full text never shuffles.
   */
  def unigramLogProbs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).as("n"))
    val lp = vocab.crossJoin(broadcast(total))
      .select(col("t"), log(col("c").cast("double") / col("n")).as("logp"))
    toks.join(lp, "t")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("logp")), 6).as("avg_logprob"))
  }

  /**
   * INTRA-document segment dedup — the self-boilerplate cut (repeated
   * nav/footer blocks pasted many times inside ONE page): split each
   * document into fixed-width `segWords`-word segments, keep only the FIRST
   * occurrence of each distinct segment, reassemble in order. The
   * within-doc complement of [[graft.ext.DedupOps.segmentDedup]] (which
   * counts segments ACROSS the corpus).
   *
   * Returns (`idCol`, text_deduped, n_kept, n_dropped).
   *
   * Scale: pure per-row higher-order functions — ZERO shuffle at any corpus
   * size (the corpus-level variant necessarily shuffles; this one never
   * does). Keep-first runs `array_position` per segment — O(segments²) per
   * document, bounded by document length, never by corpus size.
   */
  def intraDocDedup(df: DataFrame, idCol: String, textCol: String,
                    segWords: Int): DataFrame = {
    require(segWords > 0, "segWords must be > 0")
    val toks = tokens(col(textCol))
    val nSeg = ceil(size(toks).cast("double") / segWords).cast("long")
    val segs = transform(sequence(lit(0L), nSeg - 1),
      i => array_join(slice(toks, (i * segWords + 1).cast("int"), lit(segWords)), " "))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), segs.as("__segs"))
      .select(col(idCol),
        filter(col("__segs"),
          (s, i) => array_position(col("__segs"), s) === (i + 1).cast("long"))
          .as("__kept"),
        size(col("__segs")).cast("long").as("__n"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_deduped"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__n") - size(col("__kept"))).cast("long").as("n_dropped"))
  }

  /**
   * DSIR-style importance weighting: score every corpus document by how
   * much more likely its tokens are under a TARGET-domain unigram LM than
   * under the corpus LM — `avg_llr` = mean over tokens of
   * `ln p_target(t) − ln p_corpus(t)`, with add-one (Laplace) smoothing
   * over the UNION vocabulary so target-OOV tokens score finitely. Positive
   * = looks like the target domain; data-selection keeps the top tail
   * (Data Selection for LMs via Importance Resampling — the hashed-ngram
   * variant swaps the feature map, same plan).
   *
   * Scale shape mirrors [[unigramLogProbs]]: two vocabulary aggregates
   * (token-count shuffles — the only wide ops over token volume), a
   * vocab-sized full-outer join + 1-row broadcast totals for the per-token
   * log-ratio table, then one doc-keyed aggregate of (id, llr) pairs. The
   * document text itself never shuffles.
   */
  def importanceWeights(corpus: DataFrame, target: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    val cToks = corpus.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
    val tToks = target.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("t"))
    val cv = cToks.groupBy("t").agg(count(lit(1)).as("cc"))
    val tv = tToks.groupBy("t").agg(count(lit(1)).as("tc"))
    val joined = cv.join(tv, Seq("t"), "full_outer")
      .select(col("t"), coalesce(col("cc"), lit(0L)).as("cc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
    val totals = joined.agg(sum(col("cc")).as("nc"), sum(col("tc")).as("nt"),
      count(lit(1)).as("nv"))
    val llr = joined.crossJoin(broadcast(totals))
      .select(col("t"),
        (log((col("tc") + 1).cast("double") / (col("nt") + col("nv"))) -
          log((col("cc") + 1).cast("double") / (col("nc") + col("nv"))))
          .as("llr"))
    cToks.join(llr, "t")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        // + 0.0 canonicalizes IEEE negative zero (round(-1e-9, 6) is -0.0
        // here but +0.0 in DuckDB — the hash compare sees "-0" vs "0")
        (round(avg(col("llr")), 6) + lit(0.0)).as("avg_llr"))
  }

  /**
   * Corpus-BIGRAM language-model scoring — one order up from
   * [[unigramLogProbs]] and a step closer to the KenLM-perplexity filter:
   * each document is scored by the mean conditional log-probability of its
   * bigrams, `ln P(b|a) = ln(count(a b) / count(a))`, with both counts
   * estimated from the whole corpus. Every scored bigram is by definition
   * observed in the corpus (the corpus scores itself), so the unsmoothed
   * ratio is exact integer arithmetic — identical doubles across engines.
   * Repetitive/templated text scores high; token-salad tails score low.
   *
   * Scale shape: bigram extraction is the per-row codegen
   * [[graft.functions.WordGrams]] kernel (zero shuffle); the bigram and
   * unigram vocabulary aggregates are the only token-volume shuffles; the
   * conditional-probability table is vocabulary-sized (broadcasts when it
   * fits); the per-doc mean is one doc-keyed aggregate. Text never
   * shuffles.
   */
  def bigramLogProbs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // < 2 tokens -> no bigram: the gram kernel emits a TRUNCATED 1-word
    // gram for 1-token docs (its corpus-count convention), but a bigram
    // LM has nothing to condition on — and a SQL positional self-join
    // oracle produces no row. Filter here, not in the kernel.
    val bgs = df.filter(col(textCol).isNotNull)
      .filter(size(tokens(col(textCol))) >= 2)
      .select(col(idCol),
        explode(call_function("graft_word_grams", col(textCol), lit(2)))
          .as("bg"))
    val toks = df.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("t"))
    val c2 = bgs.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = toks.groupBy("t").agg(count(lit(1)).as("c1"))
    val lp = c2
      .withColumn("t", substring_index(col("bg"), " ", 1))
      .join(c1, "t")
      .select(col("bg"),
        log(col("c2").cast("double") / col("c1")).as("logp"))
    bgs.join(lp, "bg")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        // + 0.0: negative-zero canonicalization (see importanceWeights)
        (round(avg(col("logp")), 6) + lit(0.0)).as("avg_logprob"))
  }

  /**
   * BLOCKLIST PHRASE FILTER — the ban-list gate every production corpus
   * runs before anything statistical (policy phrases, known-spam
   * templates, internal markers): substring-match each document against
   * a literal phrase list, report WHICH phrases hit (the audit needs the
   * reason, not just the verdict) and the keep flag.
   *
   * Returns (`idCol`, n_hits, matched_phrases — sorted, comma-joined —
   * keep). For thousands of phrases swap the per-phrase `contains` scan
   * for an Aho-Corasick `Expression` (same seam as the codec boundary:
   * the column contract stays put); at typical list sizes (dozens to
   * hundreds) the literal scan codegens tight and stays in the scan
   * stage.
   *
   * Scale: ZERO shuffle — the phrase list rides the expression as
   * literals (a model artifact), matching is a per-row filter fold.
   */
  def blocklistFilter(df: DataFrame, idCol: String, textCol: String,
                      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "need at least one phrase")
    val plist = array(phrases.map(lit): _*)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        array_sort(filter(plist, p => col(textCol).contains(p)))
          .as("__m"))
      .select(col(idCol),
        size(col("__m")).cast("long").as("n_hits"),
        array_join(col("__m"), ",").as("matched_phrases"),
        (size(col("__m")) === 0).as("keep"))
  }

  /**
   * [[blocklistFilter]] on the Aho–Corasick automaton
   * ([[graft.functions.MultiPhraseHits]]): ONE pass over the text bytes
   * regardless of phrase count, vs the literal fold's scan-per-phrase —
   * the form for production ban lists in the thousands. Output-identical
   * to [[blocklistFilter]] (spec-proven), so callers switch on list
   * size alone.
   */
  def blocklistFilterAC(df: DataFrame, idCol: String, textCol: String,
                        phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "need at least one phrase")
    val hits = graft.functions.MultiPhraseHits(col(textCol), phrases)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), hits.as("__m"))
      .select(col(idCol),
        size(col("__m")).cast("long").as("n_hits"),
        array_join(col("__m"), ",").as("matched_phrases"),
        (size(col("__m")) === 0).as("keep"))
  }

  /**
   * SEGMENT-LEVEL LANGUAGE MIX — the code-switching detector: documents
   * that flip language mid-page (boilerplate in English wrapping content
   * in German, spam mixing scripts) poison monolingual training sets,
   * and a DOCUMENT-level language ID can't see it. Split each doc into
   * `segWords`-word segments, apply [[langIdHeuristic]] per segment,
   * report the per-doc label mix: segment count, distinct labels, the
   * dominant label (ties label-ascending) and its fraction — gate on
   * `dominant_frac < x` or `n_langs > 1`.
   *
   * Returns (`idCol`, n_segments, n_langs, dominant_lang,
   * dominant_frac).
   *
   * Scale: ZERO shuffle — segmentation + per-segment ID run as ONE
   * native codegen kernel pass over the text
   * ([[graft.functions.SegmentLangIds]]; the former
   * transform(segments, langIdHeuristic) tree expanded an interpreted
   * regex + four stopword scans per segment — spec-proven
   * label-identical), and the dominant-label selection is a per-row
   * higher-order fold over the small label array (the explode→window
   * formulation would shuffle O(segments) rows for a value each row
   * already owns).
   */
  def langMixBySegment(df: DataFrame, idCol: String, textCol: String,
                       segWords: Int): DataFrame = {
    require(segWords > 0, "segWords must be > 0")
    val labs = graft.functions.SegmentLangIds(col(textCol), segWords)
    val dlabs = array_sort(array_distinct(labs))
    // dominant = max count, ties label-asc: sort (−count, label) and
    // take the head — struct array_sort orders by fields left-to-right
    val sorted = array_sort(transform(dlabs, l => struct(
      (-size(filter(labs, x => x === l))).as("nc"), l.as("lab"))))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), labs.as("__labs"), dlabs.as("__dl"),
        element_at(sorted, 1).as("__dom"))
      .select(col(idCol),
        size(col("__labs")).cast("long").as("n_segments"),
        size(col("__dl")).cast("long").as("n_langs"),
        col("__dom").getField("lab").as("dominant_lang"),
        round((-col("__dom").getField("nc")).cast("double") /
          size(col("__labs")), 6).as("dominant_frac"))
  }

  /** The pre-kernel expression-tree form of [[langMixBySegment]]'s
    * labeling (split → slice → array_join → [[langIdHeuristic]] per
    * segment) — kept `private[graft]` as the reference the
    * [[graft.functions.SegmentLangIds]] kernel's identity spec compares
    * against. Returns (`idCol`, labels) rows. */
  private[graft] def segmentLangIdsHof(df: DataFrame, idCol: String,
                                       textCol: String,
                                       segWords: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val nSeg = ceil(size(toks).cast("double") / segWords).cast("int")
    val segs = transform(sequence(lit(0), nSeg - 1), i =>
      array_join(slice(toks, i * segWords + 1, lit(segWords)), " "))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        transform(segs, s => langIdHeuristic(s)).as("labels"))
  }

  /**
   * CHARACTER-ENTROPY quality signal — the information-theoretic member
   * of the quality family: Shannon entropy (nats) of each document's
   * character distribution. Random-key/base64 blobs score near
   * ln(alphabet) (high), repeated-character spam scores near 0, natural
   * language sits in a recognizable band — the cheap gzip-compressibility
   * proxy pipelines gate on when a real compressor is too slow.
   *
   * Returns (`idCol`, n_chars, n_distinct, entropy) over docs with ≥1
   * character.
   *
   * Cross-engine determinism: one term per DISTINCT character,
   * 6dp-rounded and decimal-summed in sorted-character order — the same
   * exact multiset of decimals in any engine, however it parallelizes.
   *
   * Scale: ZERO shuffle — the character histogram and entropy fold are
   * per-row higher-order functions inside the scan stage
   * (O(distinct × length) per doc, bounded by the document; the explode→
   * two-aggregate formulation would shuffle O(total chars) for a value
   * each row already owns).
   */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val chars = regexp_extract_all(col(textCol), lit("[\\s\\S]"), lit(0))
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), chars.as("__ch"))
      .select(col(idCol), col("__ch"),
        array_sort(array_distinct(col("__ch"))).as("__d"),
        size(col("__ch")).cast("long").as("n_chars"))
      .select(col(idCol), col("n_chars"),
        size(col("__d")).cast("long").as("n_distinct"),
        aggregate(col("__d"), lit(0).cast(dec), (acc, x) => {
          val p = size(filter(col("__ch"), c => c === x)).cast("double") /
            col("n_chars")
          (acc + round(-(p * log(p)), 6).cast(dec)).cast(dec)
        }).cast("double").as("entropy"))
  }

  /**
   * BATCH BM25 top-k retrieval — the multi-query face of [[bm25TopK]]:
   * score a whole QUERY SET (`queryTerms`: one (qid, term) row per
   * distinct query term) against the corpus in one plan, keep each
   * query's top `k` docs. This is the shape retrieval evals and RAG
   * batch-indexing actually run — one query at a time re-scans the
   * corpus per query; this scans it once for all of them.
   *
   * Returns (qid, doc_id, bm25, rnk ≤ k), ties (score desc, doc asc).
   *
   * Cross-engine determinism: each (query term, doc) BM25 contribution
   * is 6dp-rounded then DECIMAL-summed per (qid, doc) — partition order
   * cannot wiggle the score (the fold-over-literal-columns trick of the
   * single-query form doesn't exist here, so the decimal route replaces
   * it); the arithmetic chain is pinned to [[bm25TopK]]'s exactly.
   *
   * Scale: postings semi-join against the broadcast distinct query-term
   * set BEFORE aggregating — only terms some query mentions shuffle; the
   * scoring join is posting-list-sized (the inverted-index contract:
   * Σ_q Σ_t df(t), never |Q|×|C|); the per-query top-k is the bounded
   * heap ([[graft.functions.VectorAggregators.TopKByScore]]) — map-side
   * pruned to k per partition, never a corpus-wide rank window.
   */
  def bm25BatchTopK(df: DataFrame, idCol: String, textCol: String,
                    queryTerms: DataFrame, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val corpus = df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = corpus.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = queryTerms
      .select(col("qid").cast("long").as("qid"), col("term")).distinct()
    val qterm = qt.select("term").distinct()
    val postings = corpus
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qterm), "term")
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfs = postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("dft"))
    val contrib = qt.join(postings, "term")
      .join(broadcast(dfs), "term").crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        round(log(lit(1.0) +
            (col("n_docs") - col("dft") + 0.5) / (col("dft") + 0.5)) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") +
            (lit(1.0 - b) + (col("dl") / col("avgdl")) * b) * k1), 6)
          .cast(dec).as("c"))
    val scored = contrib.groupBy("qid", "doc_id")
      .agg(sum(col("c")).cast(dec).as("sc"))
      .select(col("qid").as("query_id"), col("doc_id").as("neighbor_id"),
        col("sc").cast("double").as("score"))
    val topk = udaf(new graft.functions.VectorAggregators.TopKByScore(k))
    scored.filter(col("score").isNotNull)
      .groupBy("query_id")
      .agg(topk(col("score"), col("neighbor_id")).as("topk"))
      .select(col("query_id").as("qid"), posexplode(col("topk")))
      .select(col("qid"), col("col._2").as("doc_id"),
        col("col._1").as("bm25"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /**
   * DIRICHLET-SMOOTHED query-likelihood retrieval (Zhai & Lafferty,
   * SIGIR'01) — the language-modeling member of the classic scoring trio
   * beside BM25 (probabilistic) and TF-IDF (vector-space): score(q, d) =
   * Σ_{t∈q} ln((tf_{t,d} + μ·p(t|C)) / (|d| + μ)), smoothing each
   * document LM toward the corpus LM with pseudo-count mass μ. Computed
   * in the standard RANK-EQUIVALENT sparse decomposition
   *
   *   Σ_{t ∈ q∩d} ln(1 + tf/(μ·p(t|C)))  +  |q|·ln(μ / (|d| + μ))
   *
   * (the doc-independent Σ ln p(t|C) constant dropped), so only genuine
   * (doc, matching-term) postings ever materialize — the inverted-index
   * contract [[bm25BatchTopK]] uses. Out-of-vocabulary query terms are
   * dropped (p(t|C) = 0 degenerates the formula identically for every
   * document); candidates are docs sharing ≥ 1 in-vocab query term.
   *
   * Returns (qid, doc_id, lm_score 6dp, rnk ≤ k), ties (score desc, doc
   * asc). Determinism: per-term match contributions 6dp-rounded then
   * DECIMAL-summed; the |q|·ln(μ/(dl+μ)) length penalty is ONE pinned
   * double chain added before the final 6dp round.
   *
   * Scale: identical shape to [[bm25BatchTopK]] — corpus tokens meet the
   * broadcast query-term set at the scan, the only wide steps are the
   * (doc, term) tf aggregate and the bounded-heap top-k; corpus text
   * never shuffles, stats ride 1-row broadcasts.
   */
  def lmDirichletTopK(df: DataFrame, idCol: String, textCol: String,
                      queryTerms: DataFrame, k: Int,
                      mu: Double = 50.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(mu > 0, s"mu must be positive, got $mu")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val corpus = df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = corpus.agg(sum(col("dl")).as("total_tokens"))
    val qt = queryTerms
      .select(col("qid").cast("long").as("qid"), col("term")).distinct()
    val qterm = qt.select("term").distinct()
    val postings = corpus
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qterm), "term")
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    // corpus frequency of each (in-vocab) query term: Σ tf over docs
    val cf = postings.groupBy("term").agg(sum(col("tf")).as("cft"))
    // in-vocab query size |q| — OOV terms dropped from the penalty too
    val nq = qt.join(broadcast(cf.select("term")), "term")
      .groupBy("qid").agg(count(lit(1)).cast("double").as("nq"))
    val contrib = qt.join(postings, "term")
      .join(broadcast(cf), "term").crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"), col("dl"),
        round(log(lit(1.0) +
          col("tf") * col("total_tokens") / (lit(mu) * col("cft"))), 6)
          .cast(dec).as("c"))
    val scored = contrib.groupBy(col("qid"), col("doc_id"), col("dl"))
      .agg(sum(col("c")).cast(dec).as("ms"))
      .join(broadcast(nq), "qid")
      .select(col("qid").as("query_id"), col("doc_id").as("neighbor_id"),
        round(col("ms").cast("double") +
          col("nq") * log(lit(mu) / (col("dl") + mu)), 6).as("score"))
    val topk = udaf(new graft.functions.VectorAggregators.TopKByScore(k))
    scored.filter(col("score").isNotNull)
      .groupBy("query_id")
      .agg(topk(col("score"), col("neighbor_id")).as("topk"))
      .select(col("query_id").as("qid"), posexplode(col("topk")))
      .select(col("qid"), col("col._2").as("doc_id"),
        col("col._1").as("lm_score"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /**
   * SIGNED FEATURE HASHING (the hashing trick, Weinberger et al. 2009) —
   * text → fixed-`dim` integer count vector with no vocabulary pass:
   * each token lands in bin `fp60(token) mod dim` with sign
   * `±1 = parity of fp60("s:" + token)`, and the signed counts sum per
   * bin (the sign makes collisions cancel in expectation — the unbiased
   * variant). The bridge from the text stack to the vector stack: its
   * output feeds [[SimilarityOps.randomProject]], LSH bucketing, or a
   * linear classifier without ever building a vocabulary.
   *
   * Returns SPARSE rows (`idCol`, bin, value), zero bins omitted
   * (including collision-cancelled zeros — both engines drop them).
   *
   * Scale: ZERO shuffle — binning and the per-bin signed sums are
   * higher-order array folds inside the scan stage (dim × doc-length
   * work per row, bounded by the document); no vocabulary aggregate, no
   * (token, count) exchange, unlike every exact-vocabulary scheme.
   */
  def featureHashVector(df: DataFrame, idCol: String, textCol: String,
                        dim: Int): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"dim in [2, 4096], got $dim")
    val binned = transform(tokens(col(textCol)), t => struct(
      pmod(fingerprint60(t), lit(dim.toLong)).cast("int").as("bin"),
      when(pmod(fingerprint60(concat(lit("s:"), t)), lit(2L)) === 0L, 1L)
        .otherwise(-1L).as("sg")))
    // ONE fold over the tokens updating a dense accumulator — the
    // per-bin-fold form re-evaluates the md5 binning dim× per row
    // (benched 16× slower at dim=16)
    val vec = aggregate(binned, array_repeat(lit(0L), dim), (acc, x) =>
      transform(acc, (v, i) =>
        when(i === x.getField("bin"), v + x.getField("sg")).otherwise(v)))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(vec).as(Seq("bin", "value")))
      .filter(col("value") =!= 0L)
      .select(col(idCol), col("bin").cast("long").as("bin"), col("value"))
  }

  /**
   * INTERPOLATED KNESER-NEY bigram scoring — the smoothing actually used
   * by the KenLM models behind CCNet-style filtering (Kneser & Ney 1995;
   * Chen & Goodman 1999), one step up in fidelity from
   * [[bigramLogProbs]]'s unsmoothed MLE: an absolute discount `D` is
   * subtracted from every observed bigram count and the freed mass is
   * given to the CONTINUATION unigram model — `P_cont(w) ∝` the number of
   * distinct contexts `w` follows, not `w`'s raw frequency (the "San
   * Francisco" insight: "Francisco" is frequent but follows only one
   * context, so it deserves little novel-context mass):
   *
   *   P_KN(w|v) = ( max(c(v w) − D, 0) + D · N1+(v ·) · N1+(· w)/B ) / c(v ·)
   *
   * with `c(v ·)` = Σ_w c(v w) (context totals, derived from the bigram
   * table itself so discount mass balances exactly), `N1+(v ·)` / `N1+(· w)`
   * the distinct-continuation / distinct-context type counts and `B` the
   * total distinct bigram types. Every quantity is integer-derived, so the
   * probability is the same double in any engine. The corpus scores
   * itself (every scored bigram is observed), but unlike the MLE form the
   * smoothed score now separates "frequent because templated" from
   * "frequent in one context only" — the discriminative gap KN exists for.
   *
   * Returns (`idCol`, n_bigrams, avg_logprob_kn) over docs with ≥2
   * tokens, best-fit highest.
   *
   * Scale: identical shape to [[bigramLogProbs]] — the gram kernel is
   * per-row codegen, the only token-volume shuffles are the bigram and
   * context/continuation aggregates (all map-side partial), the smoothed
   * probability table is bigram-vocabulary-sized, and `B` rides a 1-row
   * broadcast. Text never shuffles.
   */
  def knLogProbs(df: DataFrame, idCol: String, textCol: String,
                 discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val bgs = df.filter(col(textCol).isNotNull)
      .filter(size(tokens(col(textCol))) >= 2)
      .select(col(idCol),
        explode(call_function("graft_word_grams", col(textCol), lit(2)))
          .as("bg"))
    val c2 = bgs.groupBy("bg").agg(count(lit(1)).as("c2"))
    // context stats fall out of the bigram table: c2 rows are distinct
    // bigrams, so count(*) per context IS N1+(v ·), and sum(c2) is c(v ·)
    val ctx = c2.groupBy(substring_index(col("bg"), " ", 1).as("v"))
      .agg(sum(col("c2")).as("cv"), count(lit(1)).as("n1f"))
    val cont = c2.groupBy(substring_index(col("bg"), " ", -1).as("w"))
      .agg(count(lit(1)).as("n1b"))
    val types = c2.agg(count(lit(1)).as("bt"))
    val lp = c2
      .withColumn("v", substring_index(col("bg"), " ", 1))
      .withColumn("w", substring_index(col("bg"), " ", -1))
      .join(ctx, "v").join(cont, "w").crossJoin(broadcast(types))
      .select(col("bg"),
        log((greatest(col("c2") - lit(discount), lit(0.0)) +
          lit(discount) * col("n1f") *
            (col("n1b").cast("double") / col("bt"))) /
          col("cv")).as("logp"))
    bgs.join(lp, "bg")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        // + 0.0: negative-zero canonicalization (see importanceWeights)
        (round(avg(col("logp")), 6) + lit(0.0)).as("avg_logprob_kn"))
  }

  /**
   * CCNet-STYLE PERPLEXITY BUCKETS — the quality gate of Wenzek et al.,
   * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
   * Data": score every document with a corpus language model
   * ([[bigramLogProbs]] here; KenLM 5-gram in the paper — same shape,
   * higher order) and split each LANGUAGE into head / middle / tail
   * terciles by LM fit. Per-language, not global: a global cutoff would
   * put every low-resource language in the tail. Downstream pipelines
   * keep head+middle, or weight by bucket.
   *
   * Ranking uses the EMITTED 6dp-rounded `avg_logprob` (not the raw
   * double), so rank and displayed score can never disagree across
   * engines — the tfidfTopTerms lesson, applied from the start. Documents
   * with fewer than two tokens have no bigrams and no LM score; they are
   * dropped (CCNet drops unscorable docs too).
   *
   * Returns (`idCol`, `langCol`, n_bigrams, avg_logprob, pct_rank,
   * ppl_bucket) with pct_rank ∈ [0,1] per language, best-fit first.
   *
   * Scale: [[bigramLogProbs]]'s contract (token-count shuffles only, text
   * never moves) plus one per-language rank — the same per-stratum sort
   * class as [[SamplingOps.percentileKeep]], with the same
   * approx-threshold escape hatch at corpus sizes where even that sort
   * is too much.
   */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        langCol: String): DataFrame = {
    val lp = bigramLogProbs(df, idCol, textCol)
    val w = Window.partitionBy(langCol)
      .orderBy(col("avg_logprob").desc, col(idCol).asc)
    df.select(col(idCol), col(langCol))
      .join(lp, idCol)
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("ppl_bucket",
        when(col("pct_rank") <= lit(1.0) / 3, "head")
          .when(col("pct_rank") <= lit(2.0) / 3, "middle")
          .otherwise("tail"))
  }

  /**
   * Per-document top-k terms by tf-idf — the classic keyword-extraction /
   * doc-representation primitive (the per-DOC dual of [[bm25TopK]]'s
   * per-QUERY ranking): `score(d, t) = tf(d,t) · ln(N / df(t))`, ties
   * broken term-ascending. Returns (`idCol`, term, tf, score, rank ≤ k).
   *
   * Scale: term frequencies are one (doc, term) hash agg over the token
   * explode — the word-count shuffle every exact scheme pays; document
   * frequencies fall out of the SAME aggregate (tf rows are distinct
   * (doc, term) pairs — one more (term) agg over vocabulary-sized input,
   * no second pass over tokens); N rides a 1-row broadcast. The per-doc
   * top-k is a rank window partitioned by doc id — millions of doc-sized
   * partitions, no global sort (terms are strings, so the long-id bounded
   * heap doesn't apply; the window's per-partition input is one document's
   * vocabulary, inherently bounded).
   */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val tf = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val n = df.filter(col(textCol).isNotNull)
      .agg(count(lit(1)).as("n_docs"))
    // rank on the RAW score (rounding only the emitted column): two terms
    // whose raw scores differ by <1e-6 would round equal and flip the top-k
    // boundary vs an oracle that orders by the unrounded value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("__score_raw").desc, col("term").asc)
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("__score_raw",
        col("tf") * log(col("n_docs").cast("double") / col("dfreq")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"),
        round(col("__score_raw"), 6).as("score"), col("rank"))
  }

  /**
   * Corpus collocations by pointwise mutual information — phrase / named-
   * entity mining over the training corpus:
   * `pmi(a b) = ln( c(a b) · T / (c(a) · c(b)) )` with exact integer
   * counts (T = total corpus tokens), `minCount` pruning rare pairs whose
   * PMI is noise, top `k` by (pmi desc, bigram asc). Returns
   * (bigram, pair_count, pmi).
   *
   * Scale: bigram counts ride the zero-shuffle WordGrams codegen kernel —
   * the (bigram, count) aggregate is the only token-cardinality shuffle;
   * unigram counts reuse the token explode, T is a 1-row broadcast, and
   * the two unigram joins run over vocabulary-sized inputs (bigram types ×
   * 2), never over the corpus. Text itself never shuffles. The ratio is
   * computed in doubles from exact integers, so ln + round(6) is
   * cross-engine deterministic (same scheme as [[bigramLogProbs]]).
   */
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
                      minCount: Long, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val live = df.filter(col(textCol).isNotNull)
    val c2 = live
      .select(explode(call_function("graft_word_grams", col(textCol),
        lit(2))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val toks = live.select(explode(tokens(col(textCol))).as("t"))
    val c1 = toks.groupBy("t").agg(count(lit(1)).as("c1"))
    val total = toks.agg(count(lit(1)).as("total_toks"))
    c2
      .withColumn("a", substring_index(col("bg"), " ", 1))
      .withColumn("b", substring_index(col("bg"), " ", -1))
      .join(c1.select(col("t").as("a"), col("c1").as("ca")), "a")
      .join(c1.select(col("t").as("b"), col("c1").as("cb")), "b")
      .crossJoin(broadcast(total))
      .select(col("bg"), col("c2").as("pair_count"),
        round(log(col("c2").cast("double") * col("total_toks") /
          (col("ca").cast("double") * col("cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bg").asc)
      .limit(k)
  }

  /**
   * WINDOWED skip-gram PMI — collocations over co-occurrence pairs
   * within `window` positions, not just adjacent bigrams: "New York
   * Times" survives an intervening token, and the word2vec/GloVe
   * context statistics are exactly these pairs. PMI normalizes by the
   * TRUE pair total: ln(P(a,b) / (P(a)·P(b))) with P(a,b) = c₂/pairs,
   * P(·) = c₁/tokens — ln(c₂·T²/(Π·ca·cb)) on exact integers.
   *
   * Top `k` by (pmi desc, pair asc) among pairs with count ≥
   * `minCount`. Deterministic: all counts exact, one pinned double
   * expression per surviving pair (the [[pmiCollocations]] scheme).
   *
   * Scale: pair generation is the zero-shuffle
   * [[graft.functions.SkipGramPairs]] kernel (ONE text pass, never a
   * position self-join); the pair aggregate shuffles (pair, count) —
   * window× a word count's volume, minCount-pruned before the
   * vocabulary joins; unigram joins are vocabulary-sized.
   */
  def skipgramPmi(df: DataFrame, textCol: String, window: Int,
                  minCount: Long, k: Int): DataFrame = {
    require(k > 0 && minCount >= 1, s"bad k=$k minCount=$minCount")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val live = df.filter(col(textCol).isNotNull)
    val prs = live.select(explode(call_function("graft_skipgram_pairs",
      col(textCol), lit(window))).as("pr"))
    val totP = prs.agg(count(lit(1)).as("total_pairs"))
    val c2 = prs.groupBy("pr").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val toks = live.select(explode(tokens(col(textCol))).as("t"))
    val c1 = toks.groupBy("t").agg(count(lit(1)).as("c1"))
    val totT = toks.agg(count(lit(1)).as("total_toks"))
    c2
      .withColumn("a", substring_index(col("pr"), " ", 1))
      .withColumn("b", substring_index(col("pr"), " ", -1))
      .join(c1.select(col("t").as("a"), col("c1").as("ca")), "a")
      .join(c1.select(col("t").as("b"), col("c1").as("cb")), "b")
      .crossJoin(broadcast(totT)).crossJoin(broadcast(totP))
      .select(col("pr").as("pair"), col("c2").as("pair_count"),
        round(log(col("c2").cast("double") * col("total_toks") *
          col("total_toks") /
          (col("total_pairs").cast("double") * col("ca") * col("cb"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("pair").asc)
      .limit(k)
  }

  /**
   * WORD BURSTINESS — per word, mean occurrences per CONTAINING document
   * (collection frequency / document frequency). Church & Gale's
   * contagion signal: function words score ≈ their per-doc rate
   * everywhere, while topical/template words are "bursty" — rare across
   * docs but repeated heavily inside the docs they touch. High
   * burstiness at high df flags boilerplate candidates the per-doc
   * repetition score can't see (it looks inside ONE doc; this compares
   * across them), and is the classic tf-weighting diagnostic.
   *
   * Top `k` by (cf/df desc, word asc) among words with df ≥ `minDf`
   * (singleton-df words are trivially bursty and pure noise). Emits
   * (word, cf, df, burstiness 6dp).
   *
   * Scale: the (doc, word) pre-aggregate is the inverted-index shuffle
   * every df computation pays (pairs, never text); the word rollup
   * partial-aggregates; top-k bounds the output. Two shuffles total,
   * text never moves.
   */
  def wordBurstiness(df: DataFrame, idCol: String, textCol: String,
                     minDf: Long, k: Int): DataFrame = {
    require(minDf >= 1 && k > 0, s"bad minDf=$minDf k=$k")
    val perDoc = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__c"))
    perDoc.groupBy("word")
      .agg(sum(col("__c")).as("cf"), count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("word"), col("cf"), col("df"),
        round(col("cf").cast("double") / col("df"), 6).as("burstiness"))
      .orderBy(col("burstiness").desc, col("word").asc)
      .limit(k)
  }

  /**
   * JENSEN–SHANNON divergence between the unigram distributions of two
   * document slices — the SYMMETRIC, bounded ([0, ln 2]) distribution
   * distance drift monitoring wants where PSI/KL blow up on
   * non-overlapping support: "how far has this source's vocabulary
   * drifted from that one's" as one comparable number. JSD(P,Q) =
   * ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2; a word absent from one
   * side contributes only through the other's term (never a division
   * by zero), which is exactly why JSD is the cross-corpus metric.
   *
   * One row: (n_a, n_b tokens, vocab_a, vocab_b, vocab union, jsd_nats
   * 6dp). 0 = identical distributions, ln 2 ≈ 0.6931 = disjoint.
   *
   * Cross-engine determinism: token counts are exact integers; each
   * word's p·ln(p/m) contribution is computed in one pinned double
   * expression, 8dp-rounded, DECIMAL-summed (order-invariant), and only
   * the final ½-scaling returns to double (the [[charEntropy]] scheme).
   *
   * Scale: ONE token-universe shuffle (the vocab count aggregate,
   * partial-aggregating); the per-word arithmetic runs on the
   * vocabulary-sized table and reduces to a 1-row artifact. Text never
   * shuffles; nothing is ever |A|×|B|.
   */
  def jsDivergence(df: DataFrame, textCol: String, groupCol: String,
                   groupA: String, groupB: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 8)
    val counts = df
      .filter((col(groupCol) === groupA || col(groupCol) === groupB) &&
        col(textCol).isNotNull)
      .select(col(groupCol).as("__g"),
        explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w")
      .agg(sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("__g") === groupB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      sum(when(col("ca") > 0, 1L).otherwise(0L)).as("vocab_a"),
      sum(when(col("cb") > 0, 1L).otherwise(0L)).as("vocab_b"),
      count(lit(1)).as("vocab"))
    val p = col("ca").cast("double") / col("na")
    val q = col("cb").cast("double") / col("nb")
    val m = (p + q) / lit(2.0)
    counts.crossJoin(broadcast(tot))
      // empty slices have no distribution — emit nothing, not NaN (the
      // ksStatistic degenerate-input convention)
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("na"), col("nb"), col("vocab_a"), col("vocab_b"),
        col("vocab"),
        round(when(col("ca") > 0, p * log(p / m)).otherwise(lit(0.0)), 8)
          .cast(dec).as("__ta"),
        round(when(col("cb") > 0, q * log(q / m)).otherwise(lit(0.0)), 8)
          .cast(dec).as("__tb"))
      .groupBy("na", "nb", "vocab_a", "vocab_b", "vocab")
      .agg(sum(col("__ta")).as("__sa"), sum(col("__tb")).as("__sb"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("vocab_a"), col("vocab_b"), col("vocab"),
        round((col("__sa") + col("__sb")).cast("double") / 2.0, 6)
          .as("jsd_nats"))
  }
}
