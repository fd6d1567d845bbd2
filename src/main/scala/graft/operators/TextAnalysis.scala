package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality
  * scoring, token counting, fingerprinting. Every function is a pure
  * column expression (codegen'd, no UDFs) with an expression-identical
  * DuckDB oracle — the formulas only use integer-derived ratios and
  * engine-portable functions, so results hash-match exactly.
  */
object TextAnalysis {

  /** Stopword marker sets per language for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — the heuristic's contract is
    * determinism + SQL-portability, tie-broken alphabetically.
    */
  val StopwordSets: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "es"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "人")
  )

  private def tokens: Column = split(col("text"), " ")

  /** Single-pass compiled text-stats kernel: token count, distinct-token
    * count, and per-language stopword hits. A `filter(w, t -> t IN (...))`
    * higher-order expression computes the same counts but interpreted
    * (CodegenFallback + boxing); one UDF pass over the split keeps the
    * whole score computation compiled. Semantics match DuckDB
    * `list_filter(string_split(t,' '), ...)` exactly (repeats counted).
    */
  private val langSets: Array[Set[String]] =
    StopwordSets.map(_._2.toSet).toArray

  private val statsUdf = udf { (text: String) =>
    val w = text.split(" ", -1)
    val hits = new Array[Int](langSets.length)
    val distinct = new scala.collection.mutable.HashSet[String]
    var i = 0
    while (i < w.length) {
      val t = w(i)
      distinct += t
      var l = 0
      while (l < langSets.length) {
        if (langSets(l).contains(t)) hits(l) += 1
        l += 1
      }
      i += 1
    }
    (w.length, distinct.size, hits.toSeq)
  }

  private def withStats(docs: DataFrame): DataFrame =
    docs.withColumn("st", statsUdf(col("text")))

  /** Quality + language prediction in ONE stats pass — use this when both
    * are needed (e.g. [[CorpusCuration]]); [[qualityScore]]/[[langId]]
    * keep the single-purpose contract of their oracles.
    */
  def scores(docs: DataFrame): DataFrame = {
    val enIdx = StopwordSets.indexWhere(_._1 == "en")
    val scored = withStats(docs)
      .withColumn("ntok", col("st._1").cast("double"))
      .withColumn("ndist", col("st._2").cast("double"))
      .withColumn("nstop", col("st._3").getItem(enIdx).cast("double"))
    val withLangCols = StopwordSets.zipWithIndex.foldLeft(scored) {
      case (d, ((lang, _), i)) => d.withColumn(s"s_$lang", col("st._3").getItem(i))
    }
    withLangCols.select(col("doc_id"),
      round(
        least(lit(1.0), col("ntok") / 200) * 0.3 +
        (col("ndist") / col("ntok")) * 0.3 +
        least(lit(1.0), col("nstop") / col("ntok") * 5) * 0.4, 6).as("quality"),
      expr(
        """CASE
          | WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
          | WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
          | WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
          | WHEN s_fr >= s_zh THEN 'fr'
          | ELSE 'zh' END""".stripMargin).as("lang_pred"))
  }

  /** Whitespace token count (BIGINT for oracle parity with DuckDB len()). */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(tokens).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  /** BPE-style pre-tokenizer segmentation: letter runs, digit runs and
    * punctuation runs as separate tokens (the GPT-2 pre-tokenizer shape,
    * WITHOUT its lookahead — the pattern must behave identically under
    * Java regex and RE2, same portability rule as
    * [[Redaction.DefaultRules]]). Digits splitting off words and
    * punctuation counting separately is what makes this a better token
    * BUDGET estimate than whitespace counting — "don't," is 3 BPE-ish
    * tokens, one whitespace token.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  def tokenCountBpe(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Stopword-vote language ID; ties resolve to the alphabetically first
    * language (the CASE chain encodes that order explicitly).
    */
  def langId(docs: DataFrame): DataFrame = {
    val scored = withStats(docs).select(Seq(col("doc_id")) ++
      StopwordSets.zipWithIndex.map { case ((lang, _), i) =>
        col("st._3").getItem(i).as(s"s_$lang")
      }: _*)
    scored.select(col("doc_id"), expr(
      """CASE
        | WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        | WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        | WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        | WHEN s_fr >= s_zh THEN 'fr'
        | ELSE 'zh' END""".stripMargin).as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Quality score in [0,1]: length credit + type-token ratio + stopword
    * density (English stopwords as the density proxy), round-6.
    * All terms are ratios of integers — bit-identical across engines.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val enIdx = StopwordSets.indexWhere(_._1 == "en")
    withStats(docs)
      .withColumn("ntok", col("st._1").cast("double"))
      .withColumn("ndist", col("st._2").cast("double"))
      .withColumn("nstop", col("st._3").getItem(enIdx).cast("double"))
      .select(col("doc_id"), round(
        least(lit(1.0), col("ntok") / 200) * 0.3 +
        (col("ndist") / col("ntok")) * 0.3 +
        least(lit(1.0), col("nstop") / col("ntok") * 5) * 0.4, 6).as("quality"))
      .orderBy("doc_id")
  }

  /** Content fingerprint: md5 of the raw text (hex, lowercase — identical
    * in DuckDB). For shingle-level fingerprints see [[Dedup.minhash]].
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Vocabulary building (BPE-precursor corpus stats): top-K tokens by
    * total frequency with document frequency, deterministically
    * tie-broken by token.
    *
    * Scale shape: explode is narrow; `tf` comes from map-side partial
    * aggregation on the token; `df` is an exact distinct — its shuffle
    * carries (token, doc_id) pairs, the expensive-but-correct choice for
    * a vocabulary build that feeds a tokenizer (swap the agg to
    * `approx_count_distinct` for QA-grade df at a fraction of the
    * shuffle). Top-K is TakeOrderedAndProject — no global sort.
    */
  def vocabulary(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(col("doc_id"), explode(tokens).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(k)

  /** Heavy-hitter tokens — Timescale toolkit `freq_agg`/`topn_agg` parity
    * (SpaceSaving family), exactness-hardened for the training-pipeline
    * use (boilerplate detection, stop-token discovery): every token whose
    * corpus frequency is ≥ `minFreq` is returned with its EXACT count.
    *
    * Two phases, neither of which ever shuffles the token stream:
    *
    *  1. per-partition Misra-Gries with `k` counters (bounded O(k) memory
    *     per task regardless of stream length; the decrement step is the
    *     classic one). Any token with global count > N/(k+1) exceeds
    *     N_p/(k+1) in at least one partition (averaging argument), so the
    *     UNION of per-partition survivor sets — ≤ partitions × k rows, no
    *     merge arithmetic needed — is a guaranteed superset of the true
    *     heavy hitters whenever `minFreq > 1/(k+1)` (enforced).
    *  2. exact counts of that candidate superset only: the token stream is
    *     filtered by a broadcast semi-join BEFORE the aggregation, so the
    *     final hash agg holds ≤ partitions × k keys, and the threshold
    *     filter makes the output independent of partitioning (false
    *     candidates die on their exact counts).
    *
    * The same candidates-then-exact-confirm shape as
    * [[Decontamination.contaminatedBloom]]: the sketch buys the bounded
    * state, the confirmation pass buys back exactness.
    */
  def heavyHitters(docs: DataFrame, k: Int, minFreq: Double): DataFrame = {
    require(k > 0, "k must be positive")
    require(minFreq > 1.0 / (k + 1),
      s"minFreq=$minFreq must exceed 1/(k+1)=${1.0 / (k + 1)} or the " +
        "Misra-Gries candidate set is not a guaranteed superset — raise k")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens).as("t"))
    // one corpus pass yields BOTH the MG survivors and the exact stream
    // length: each partition emits its counters (marker −1) plus one
    // length row (marker = the partition's token count ≥ 0) — ≤ k+1 tiny
    // rows per partition, so the whole summary persists for pennies and
    // the separate full-corpus count() pass disappears
    val summary = toks.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var np = 0L
      while (it.hasNext) {
        val t = it.next()
        np += 1
        counters.get(t) match {
          case Some(c) => counters(t) = c + 1
          case None if counters.size < k => counters(t) = 1L
          case None => // full and new: decrement all, evict zeros
            val dead = List.newBuilder[String]
            counters.foreach { case (key, c) =>
              if (c == 1L) dead += key else counters(key) = c - 1
            }
            dead.result().foreach(counters.remove)
        }
      }
      counters.keysIterator.map(t => (t, -1L)) ++ Iterator(("", np))
    }.toDF("t", "marker")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = summary.filter(col("marker") >= 0)
      .agg(coalesce(sum("marker"), lit(0L))).first().getLong(0)
    // candidates come to the driver: ≤ partitions × k rows BY
    // CONSTRUCTION (the same bounded-collect class as centroids and
    // strata counts), which frees the cached summary before the lazy
    // confirm plan runs — no cache lingering past the call
    val cand = summary.filter(col("marker") < 0)
      .select("t").distinct().as[String].collect().toSeq
    summary.unpersist()
    // CEIL of the same IEEE product both engines
    val minCount = math.ceil(minFreq * n).toLong
    toks.join(broadcast(cand.toDF("t")), Seq("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("t").as("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
  }

  /** Tokenizer-fit report: per document, total and out-of-vocabulary
    * token counts against a vocabulary relation (one `token` column —
    * typically a [[vocabulary]] top-k or a real tokenizer's vocab dump).
    * The OOV RATE (`n_oov / n_tokens`) is the standard "does this
    * tokenizer fit this corpus" QA signal; counts stay exact integers so
    * the contract has no FP surface.
    *
    * Scale shape: token explode is narrow; the vocabulary is broadcast
    * (vocabularies are bounded by construction), so the coverage join
    * never shuffles the corpus — one per-doc hash agg after a map-side
    * broadcast join.
    */
  def vocabCoverage(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens).as("token"))
      .join(broadcast(vocab.select(col("token")).distinct()
        .withColumn("known", lit(1))), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov"))
      .orderBy("doc_id")

  /** Compiled repetition kernel: one pass over the token array computing
    * the counts behind the Gopher-style repetition filters (Rae et al.
    * 2021, App. A1.1; also C4's heuristics) — duplicate-token, top-bigram
    * and duplicate-trigram statistics. Returns integer counts; the
    * fractions are formed as column expressions so the DuckDB oracle can
    * replay the exact double divisions.
    */
  private val repetitionUdf = udf { (text: String) =>
    val w = text.split(" ", -1)
    val n = w.length
    val distinctTok = new scala.collection.mutable.HashSet[String]
    var i = 0
    while (i < n) { distinctTok += w(i); i += 1 }
    val bigrams = new scala.collection.mutable.HashMap[String, Int]
    i = 0
    while (i < n - 1) {
      val k = w(i) + " " + w(i + 1)
      bigrams.update(k, bigrams.getOrElse(k, 0) + 1)
      i += 1
    }
    val trigrams = new scala.collection.mutable.HashSet[String]
    i = 0
    while (i < n - 2) { trigrams += (w(i) + " " + w(i + 1) + " " + w(i + 2)); i += 1 }
    (n, distinctTok.size,
      if (bigrams.isEmpty) 0 else bigrams.valuesIterator.max, math.max(n - 1, 0),
      trigrams.size, math.max(n - 2, 0))
  }

  /** Gopher-style repetition signals per document, round-6:
    *  - `dup_token_frac`     — repeated-token fraction (n − distinct)/n;
    *  - `top_bigram_frac`    — share of bigram occurrences claimed by the
    *                           single most frequent bigram;
    *  - `dup_trigram_frac`   — fraction of trigram occurrences that repeat
    *                           an earlier trigram.
    * Degenerate docs (no bigrams/trigrams) score 0 for that signal.
    *
    * Scale shape: the signals are per-document, so this is a map-ONLY
    * operator — scan → compiled UDF → project, no shuffle, no state;
    * it pipelines with any downstream filter at 100 TB. Thresholding is
    * the caller's policy (Gopher drops docs with dup-line chars > 0.2
    * etc.); this operator reports the signals.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    def frac(num: Column, den: Column): Column =
      round(when(den > 0, num.cast("double") / den).otherwise(0.0), 6)
    docs.select(col("doc_id"), repetitionUdf(col("text")).as("r"))
      .select(col("doc_id"),
        frac(col("r._1") - col("r._2"), col("r._1")).as("dup_token_frac"),
        frac(col("r._3"), col("r._4")).as("top_bigram_frac"),
        frac(col("r._6") - col("r._5"), col("r._6")).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
    * the MOSS algorithm): Rabin–Karp ROLLING hashes of all `k`-char
    * grams, then per sliding window of `w` hash positions keep the
    * rightmost minimal hash — guarantees any shared substring of length
    * ≥ k + w − 1 yields a shared fingerprint, while storing only ~2/(w+1)
    * of positions. Unlike [[fingerprint]] (whole-doc md5, exact dup only)
    * these are LOCAL fingerprints: two docs sharing a long passage share
    * fingerprint values, so a groupBy on `fp` finds copied spans.
    *
    * Map-only pass (the rolling recurrence is O(chars) per doc); the
    * oracle replays the hash as the direct modular polynomial — same
    * values, bit-for-bit, since both reduce mod the same prime.
    */
  val WinnowK = 8   // k-gram width (chars)
  val WinnowW = 4   // winnowing window (hash positions)
  private val WinnowB = 257L
  private val WinnowP = 1000000007L

  private val winnowUdf = udf { (text: String) =>
    val k = WinnowK; val w = WinnowW
    // Codepoints, not UTF-16 chars: the oracle hashes unicode(substr(..)),
    // which is per-codepoint, and `pos` counts character (codepoint)
    // offsets — charAt would diverge on any supplementary character.
    // Count-then-branch fast path: scan for surrogates first; without any
    // (the overwhelmingly common case) charAt IS the codepoint, so the
    // int array is filled by a tight charAt loop instead of the IntStream
    // machinery of codePoints() — same values, same output, measured ~2×
    // on the winnow bench after the r5 codepoint fix regressed it.
    val len = text.length
    var hasSurrogate = false
    var ci = 0
    while (ci < len) {
      if (Character.isSurrogate(text.charAt(ci))) { hasSurrogate = true; ci = len }
      else ci += 1
    }
    val cp: Array[Int] =
      if (hasSurrogate) text.codePoints().toArray
      else {
        val a = new Array[Int](len)
        var i = 0
        while (i < len) { a(i) = text.charAt(i); i += 1 }
        a
      }
    val n = cp.length
    if (n < k) Seq.empty[(Long, Long)]
    else {
      val m = n - k + 1
      val h = new Array[Long](m)
      var topPow = 1L
      var j = 0
      while (j < k - 1) { topPow = topPow * WinnowB % WinnowP; j += 1 }
      var acc = 0L
      j = 0
      while (j < k) { acc = (acc * WinnowB + cp(j)) % WinnowP; j += 1 }
      h(0) = acc
      var i = 1
      while (i < m) {
        acc = ((acc + WinnowP - cp(i - 1) * topPow % WinnowP) % WinnowP
          * WinnowB + cp(i + k - 1)) % WinnowP
        h(i) = acc
        i += 1
      }
      val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
      if (m >= w) {
        var s = 0
        while (s <= m - w) {
          var best = s
          var p = s
          while (p < s + w) { if (h(p) <= h(best)) best = p; p += 1 } // <= ⇒ rightmost min
          out += ((best.toLong, h(best)))
          s += 1
        }
      } else {
        var best = 0
        i = 0
        while (i < m) { if (h(i) <= h(best)) best = i; i += 1 }
        out += ((best.toLong, h(best)))
      }
      out.toSeq
    }
  }

  /** (doc_id, pos, fp) winnowed fingerprints per document; `pos` is the
    * 0-based character offset of the selected k-gram.
    */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(winnowUdf(col("text"))).as("r"))
      .select(col("doc_id"), col("r._1").as("pos"), col("r._2").as("fp"))
      .orderBy("doc_id", "pos")

  /** MOSS-style copied-span report over [[winnowFingerprints]]: document
    * pairs sharing ≥ `minShared` distinct fingerprint values — i.e. pairs
    * with that many independently-selected common k-grams, the winnowing
    * evidence of copied passages. The complement of the Jaccard tier:
    * catches a long verbatim span inside otherwise-different documents,
    * which whole-doc similarity dilutes below any threshold.
    *
    * Scale shape: one fingerprint pass, then ONE shuffle — the per-doc
    * dedup and the fp bucket-grouping fuse into a single
    * `collect_set(doc_id)` aggregation with map-side partials (an earlier
    * `distinct()` + `groupBy` formulation paid two back-to-back shuffles
    * of the same rows for no semantic difference — measured ~0.6 s of the
    * r5 bench regression on this query). `maxDocsPerFp` drops boilerplate
    * fingerprints shared by more docs (df² bucket blowup, no copied-span
    * signal — the stop-shingle argument); None keeps exact semantics for
    * the oracle.
    */
  def sharedSpanPairs(docs: DataFrame, minShared: Int = 3,
                      maxDocsPerFp: Option[Int] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the raw (doc_id, fp) pairs, skipping winnowFingerprints' output
    // sort (pos is not needed here and the sort feeds an aggregation)
    val docFps = docs
      .select(col("doc_id"), explode(winnowUdf(col("text"))).as("r"))
      .select(col("doc_id"), col("r._2").as("fp"))
    val buckets0 = docFps.groupBy("fp")
      .agg(collect_set("doc_id").as("ds"))
      .filter(size(col("ds")) > 1)
    val buckets = maxDocsPerFp match {
      case Some(mx) => buckets0.filter(size(col("ds")) <= mx)
      case None => buckets0
    }
    buckets.select(col("ds")).as[Seq[Long]]
      .flatMap { ds =>
        val sorted = ds.sorted
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i), sorted(j))
      }
      .toDF("doc_a", "doc_b")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Bigram language-model scoring (CCNet-style perplexity filtering,
    * Wenzek et al. 2020): a bigram LM with add-one smoothing is built
    * from a REFERENCE corpus (the clean slice a real pipeline trains
    * KenLM on) and every corpus document is scored with its per-token
    * negative log-likelihood — high `nll` ⇒ text the reference LM finds
    * improbable ⇒ filter candidate. Also reports the out-of-vocabulary
    * bigram fraction (an exact integer ratio).
    *
    *   P(w2 | w1) = (C_ref(w1 w2) + 1) / (C_ref(w1) + V),
    *   nll(doc)   = −mean over bigram occurrences of ln P,   round-4
    *
    * Scale shape: two token-keyed aggregations build the LM (map-side
    * partial combine), scoring is a pair of left joins keyed on tokens —
    * no driver-side model except V (one bounded count). The LM tables
    * shuffle-join by default (a reference vocabulary at 100 TB need not
    * broadcast); AQE broadcasts them when small. nll is round-4 (not 6):
    * ln() is engine-portable only to ~1 ulp and the per-doc sum order is
    * engine-dependent — at round-4 the residual (~1e-12) is far below
    * the rounding step. `oov_bigram_frac` is integer-derived, round-6.
    *
    * Docs with fewer than two tokens have no bigrams: nll = 0, oov = 0.
    */
  def lmScore(corpus: DataFrame, ref: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def bigrams(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
        .repartition(spark.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          val w = t.split(" ", -1)
          (0 until w.length - 1).iterator.map(i => (id, w(i), w(i + 1)))
        }
        .toDF("doc_id", "w1", "w2")
    val refB = bigrams(ref).groupBy("w1", "w2").agg(count(lit(1)).as("b"))
    val refU = ref.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("u"))
    // V = reference vocabulary size: one bounded driver-side count (the
    // aggregation itself is distributed), mirroring the B4 pre-count
    // precedent; the LM pass is re-evaluated by the join below — persist
    // refU to a table when the reference is large
    val v = refU.count()
    val scored = bigrams(corpus)
      .join(refB, Seq("w1", "w2"), "left")
      .join(refU.withColumnRenamed("t", "w1"), Seq("w1"), "left")
      .select(col("doc_id"),
        log((coalesce(col("b"), lit(0L)) + 1).cast("double")
          / (coalesce(col("u"), lit(0L)) + lit(v))).as("lp"),
        col("b").isNull.cast("int").as("oov"))
    val agg = scored.groupBy("doc_id").agg(
      round(avg(col("lp")) * -1, 4).as("nll"),
      round(avg(col("oov").cast("double")), 6).as("oov_bigram_frac"))
    corpus.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nll"), lit(0.0)).as("nll"),
        coalesce(col("oov_bigram_frac"), lit(0.0)).as("oov_bigram_frac"))
      .orderBy("doc_id")
  }

  /** [[hashEmbed]] with TF-IDF weighting — each token contributes
    * `sign · idf` instead of `sign · 1`, so stop-tokens stop dominating
    * the vector (the standard lexical-embedding upgrade). The
    * engine-exactness trick: idf is QUANTIZED to integer milli-nats
    * (`round(ln((N+1)/(df+1)) · 1000)` as BIGINT), so every bucket sum
    * and the squared norm stay exact integers whatever the summation
    * order — the same discipline that makes [[hashEmbed]]'s 6-dp gate
    * bit-for-bit rather than merely-probably-equal. Costs one extra
    * token-df agg + a token-keyed join over the explode; N is the only
    * driver-side number (the lmScore V precedent).
    */
  def tfidfHashEmbed(docs: DataFrame, dim: Int = 32): DataFrame = {
    require(dim > 0, "dim must be positive")
    val n = docs.count()
    val toks = docs.select(col("doc_id"), explode(tokens).as("t"))
    val idf = toks.groupBy("t")
      .agg(countDistinct(col("doc_id")).as("df"))
      .select(col("t"),
        round(log((lit(n) + 1.0) / (col("df") + 1.0)) * 1000, 0)
          .cast("long").as("idfm"))
    val sparse = toks.join(idf, Seq("t"))
      .select(col("doc_id"),
        (Sampling.bucket(col("t"), "hemb") % dim).as("b"),
        (when(Sampling.bucket(col("t"), "hsign") % 2 === 1, 1L).otherwise(-1L)
          * col("idfm")).as("s"))
      .groupBy("doc_id", "b").agg(sum("s").as("v"))
      .groupBy("doc_id").agg(collect_list(struct(col("b"), col("v"))).as("entries"))
    val densify = udf((entries: Seq[org.apache.spark.sql.Row]) => {
      val acc = new Array[Double](dim)
      entries.foreach(r => acc(r.getInt(0)) = r.getLong(1).toDouble)
      var n2 = 0.0
      var i = 0
      while (i < dim) { n2 += acc(i) * acc(i); i += 1 }
      val nrm = math.sqrt(n2)
      if (nrm == 0.0) new Array[Float](dim).toSeq
      else acc.map(x => (x / nrm).toFloat).toSeq
    })
    docs.select("doc_id")
      .join(sparse, Seq("doc_id"), "left")
      .select(col("doc_id"),
        densify(coalesce(col("entries"),
          array().cast("array<struct<b:int,v:bigint>>"))).as("embedding"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data"
    * §4.3): per LANGUAGE, split the corpus into equal head / middle /
    * tail thirds by language-model score — head = lowest perplexity
    * (here [[lmScore]]'s `nll`), the slice CCNet keeps for pretraining.
    *
    * Exact tier: `ntile(3)` per language with (nll, doc_id) ordering, so
    * the boundary docs are engine-deterministic. The window sorts one
    * LANGUAGE's docs per partition — CCNet's own per-language design; at
    * 100 TB swap the exact ntile for approx-quantile nll thresholds per
    * language (two numbers per language to the driver) and a map-only
    * threshold compare, trading exact thirds for a shuffle-free pass.
    */
  def ccnetBuckets(corpus: DataFrame, ref: DataFrame): DataFrame = {
    val lab = lmScore(corpus, ref)
      .join(corpus.select("doc_id", "lang"), Seq("doc_id"))
    val w = Window.partitionBy("lang").orderBy(col("nll").asc, col("doc_id").asc)
    lab.select(col("doc_id"), col("lang"), col("nll"),
        ntile(3).over(w).as("tert"))
      .withColumn("bucket",
        when(col("tert") === 1, "head")
          .when(col("tert") === 2, "middle").otherwise("tail"))
      .select("doc_id", "lang", "nll", "bucket")
      .orderBy("doc_id")
  }

  /** The 100 TB tier of [[ccnetBuckets]]: per-language nll THRESHOLDS
    * (1/3 and 2/3 percentiles via `approx_percentile`, mergeable summary
    * state) then a map-only threshold compare — no per-language sort of
    * the corpus. For groups with n ≤ accuracy the percentile is the exact
    * rank element (the [[graft.queries.TimeseriesQueries
    * .hampelOutliersApprox]] determinism argument), so the driver gate
    * replays the same rank selection; above that the documented
    * rank-error bound applies and thirds become approximate — which is
    * CCNet's own production posture (thresholds from a sample).
    *
    * Buckets are value-threshold assigned (nll ≤ t1 → head), so ties AT
    * the threshold all land on the lower bucket — sizes are near-thirds,
    * not exact thirds; the exact tier keeps the strict ntile contract.
    */
  def ccnetBucketsApprox(corpus: DataFrame, ref: DataFrame,
                         accuracy: Int = 10000): DataFrame = {
    require(accuracy > 0, "accuracy must be positive")
    val lab = lmScore(corpus, ref)
      .join(corpus.select("doc_id", "lang"), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val third = 1.0 / 3
    val th = lab.groupBy("lang")
      .agg(expr(s"approx_percentile(nll, array(${third}D, ${2 * third}D), $accuracy)")
        .as("t"))
      .select(col("lang"), element_at(col("t"), 1).as("t1"),
        element_at(col("t"), 2).as("t2"))
    val out = lab.join(broadcast(th), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("nll"),
        when(col("nll") <= col("t1"), "head")
          .when(col("nll") <= col("t2"), "middle").otherwise("tail").as("bucket"))
      .localCheckpoint(true)
    lab.unpersist(false)
    out.orderBy("doc_id")
  }

  /** Persist corpus token counts as an INCREMENTAL index table: the
    * mergeable-summary treatment applied to vocabulary statistics. Counts
    * are associative (plain sums), so a day's crawl appends its own
    * partial counts and serving re-aggregates — no read-modify-write, no
    * full recompute. At 100 TB the index is vocab-sized and each append
    * costs one batch-local hash agg + a partitioned write.
    */
  private def vocabPartials(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))

  def writeVocabIndex(docs: DataFrame, tableName: String): Unit = {
    graft.util.IndexTable.drop(docs.sparkSession, tableName)
    vocabPartials(docs)
      .write.format("parquet").mode("overwrite").saveAsTable(tableName)
  }

  /** Append a new slice's partial counts (batch-local agg only). `df`
    * partials stay exact because crawl slices are doc-disjoint — the
    * caller contract for any append-only corpus store.
    */
  def appendToVocabIndex(docs: DataFrame, tableName: String): Unit =
    vocabPartials(docs)
      .write.format("parquet").mode("append").saveAsTable(tableName)

  /** Serve the top-k vocabulary from the index: re-aggregate the partial
    * count rows (merge = SUM — the associativity that makes the index
    * incremental) with [[vocabulary]]'s (tf DESC, token ASC) contract.
    */
  def vocabFromIndex(spark: org.apache.spark.sql.SparkSession,
                     tableName: String, k: Int): DataFrame =
    spark.table(tableName)
      .groupBy("token").agg(sum("tf").as("tf"), sum("df").as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(k)

  /** Fold accumulated append partials back to one row per token — the
    * small-file/compaction hygiene for the stats store. `localCheckpoint`
    * materializes the re-aggregation before the overwrite so the table
    * is never read and truncated in the same plan.
    */
  def compactVocabIndex(spark: org.apache.spark.sql.SparkSession,
                        tableName: String): Unit =
    spark.table(tableName)
      .groupBy("token").agg(sum("tf").as("tf"), sum("df").as("df"))
      .localCheckpoint(true)
      // truncate+insert keeps the table identity (no drop+recreate per
      // maintenance run); the localCheckpoint above already materialized
      // the re-aggregation, so the table is never read and truncated in
      // the same plan
      .write.mode("overwrite").insertInto(tableName)

  /** Feature-hashed bag-of-words embeddings (the hashing trick,
    * Weinberger et al. 2009): token t adds sign(t) at bucket(t) of a
    * `dim`-wide vector, then L2-normalize — a train-free dense text
    * embedding that drops straight into the ANN family ([[Ann.topK]],
    * IVF, near-dup) for lexical-semantic search. Bucket and sign are
    * independent salted-md5 draws, so any engine reproduces the exact
    * vectors. Map-only + one (doc, bucket) hash agg; the per-doc densify
    * collects ≤ dim entries per doc (bounded), never the corpus.
    *
    * Output: (doc_id, embedding float[dim]); zero-norm docs (no tokens)
    * emit the zero vector — [[Ann.withNorm]] drops them downstream, the
    * documented zero-norm contract.
    */
  def hashEmbed(docs: DataFrame, dim: Int = 32): DataFrame = {
    require(dim > 0, "dim must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val sparse = docs
      .select(col("doc_id"), explode(tokens).as("t"))
      .select(col("doc_id"),
        (Sampling.bucket(col("t"), "hemb") % dim).as("b"),
        when(Sampling.bucket(col("t"), "hsign") % 2 === 1, 1L).otherwise(-1L).as("s"))
      .groupBy("doc_id", "b").agg(sum("s").as("v"))
      .groupBy("doc_id").agg(collect_list(struct(col("b"), col("v"))).as("entries"))
    val densify = udf((entries: Seq[org.apache.spark.sql.Row]) => {
      val acc = new Array[Double](dim)
      entries.foreach(r => acc(r.getInt(0)) = r.getLong(1).toDouble)
      var n2 = 0.0
      var i = 0
      while (i < dim) { n2 += acc(i) * acc(i); i += 1 }
      val nrm = math.sqrt(n2)
      if (nrm == 0.0) new Array[Float](dim).toSeq
      else acc.map(x => (x / nrm).toFloat).toSeq
    })
    docs.select("doc_id")
      .join(sparse, Seq("doc_id"), "left")
      .select(col("doc_id"),
        densify(coalesce(col("entries"),
          array().cast("array<struct<b:int,v:bigint>>"))).as("embedding"))
  }

  /** PMI collocations: the top-k adjacent-bigram associations by
    * pointwise mutual information,
    *
    *   pmi(a, b) = ln( P(a,b) / (P(a)·P(b)) )
    *             = ln( c_ab · U² / (N · c_a · c_b) ),
    *
    * with c_ab bigram counts (N their total), c_a unigram counts (U their
    * total) — the classic collocation-mining statistic (Church & Hanks
    * 1990), used in pipelines to surface multi-word expressions worth
    * protecting from tokenization splits. `minCount` floors c_ab (PMI is
    * unstable on rare pairs). Round-4 (ln portability, like lmScore).
    *
    * Scale shape: two token-keyed hash aggs (map-side combine), totals as
    * broadcast 1-row frames (no driver collect), two unigram joins keyed
    * on token, top-k as TakeOrderedAndProject. The denominator is cast to
    * double BEFORE multiplying so no engine touches an integer overflow.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5, k: Int = 30): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(col("text")).filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism)
      .as[String]
    val bi = words.flatMap { t =>
        val w = t.split(" ", -1)
        (0 until w.length - 1).iterator.map(i => (w(i), w(i + 1)))
      }.toDF("w1", "w2")
      .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
    val uni = docs.select(explode(tokens).as("t"))
      .groupBy("t").agg(count(lit(1)).as("u"))
    val totB = bi.agg(sum("cab").as("tb"))
    val totU = uni.agg(sum("u").as("tu"))
    bi.filter(col("cab") >= minCount)
      .join(uni.select(col("t").as("w1"), col("u").as("ua")), Seq("w1"))
      .join(uni.select(col("t").as("w2"), col("u").as("ub")), Seq("w2"))
      .crossJoin(broadcast(totB)).crossJoin(broadcast(totU))
      .select(col("w1"), col("w2"), col("cab"),
        round(log(col("cab").cast("double") * col("tu") * col("tu") /
          (col("tb").cast("double") * col("ua") * col("ub"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Per-stratum token-length distribution (corpus QA dashboard): doc
    * count, mean and exact p25/p50/p90 token counts. Uses Spark's EXACT
    * `percentile` aggregate — linear interpolation at rank (n-1)·p, the
    * same definition as DuckDB's `quantile_cont`, so the oracle matches
    * bit-for-bit on integer inputs. Exact percentiles shuffle each
    * stratum's values to its reducer; at 100 TB swap in
    * `approx_percentile` (t-digest, mergeable partial aggregation) when
    * QA-grade precision suffices.
    */
  def lengthStats(docs: DataFrame, stratum: String = "source"): DataFrame =
    docs.select(col(stratum), size(tokens).cast("long").as("n"))
      .groupBy(stratum)
      // ONE percentile aggregate for all three quantiles: a buffer + sort
      // per group, not three (three separate percentile() calls each keep
      // their own full per-group value buffer)
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n"), 6).as("mean_tokens"),
        expr("percentile(n, array(0.25, 0.5, 0.9))").as("ps"))
      .select(col(stratum), col("n_docs"), col("mean_tokens"),
        round(element_at(col("ps"), 1), 6).as("p25"),
        round(element_at(col("ps"), 2), 6).as("p50"),
        round(element_at(col("ps"), 3), 6).as("p90"))
      .orderBy(stratum)

  /** BM25 lexical top-k retrieval (Robertson/Sparck Jones idf, the
    * standard Okapi scoring) — the lexical face of the similarity-search
    * story ([[graft.operators.Ann]] is the embedding face): rank
    * documents for a term query without any model.
    *
    * score(d) = Σ_t idf_t · tf_td·(k1+1) / (tf_td + k1·(1−b+b·|d|/avgdl)),
    * idf_t = ln(1 + (N−df_t+0.5)/(df_t+0.5)).
    *
    * Scale shape: the exploded tokens are FILTERED TO THE QUERY TERMS
    * before any shuffle, so the aggregated tf frame is bounded by
    * docs-containing-a-query-term, not corpus tokens — and it is
    * CACHED, because both the df collect and the returned plan read it
    * (without the cache the corpus tokenize pass would run twice; with
    * it, once, plus one column-pruned stats scan for N/Σdl). df and the
    * two corpus scalars are the only driver state (|query|+2 numbers),
    * idf ships back as a broadcast |query|-row join; top-k plans as
    * TakeOrderedAndProject. No corpus-proportional shuffle anywhere:
    * the heavy frame (lens) is joined only to the bounded tf frame.
    * Sessions serving many queries should `clearCache()` between calls.
    *
    * Cross-engine determinism: defaults k1 = 1.25, b = 0.75 are EXACT
    * binary doubles (so k1+1 and 1−b fold identically in any IEEE
    * engine — 1.2+1 does NOT equal the literal 2.2 in doubles); avgdl is
    * a single division of exact integers; ln is the one transcendental,
    * absorbed by the round-4 output (the [[lmScore]] discipline).
    */
  def bm25TopK(docs: DataFrame, query: String, k: Int,
               k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val qTerms = query.split(" ").filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, "query must contain at least one term")
    require(k > 0, "k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val lens = docs.select(col("doc_id"), size(tokens).as("dl"))
    val stats = lens.agg(count(lit(1)), sum(col("dl").cast("long"))).head()
    val nDocs = stats.getLong(0)
    require(nDocs > 0, "empty corpus")
    val avgdl = stats.getLong(1).toDouble / nDocs
    // dl rides the explode so the corpus-sized lens frame never joins a
    // shuffle: each surviving (doc, term) row already carries its length
    val tf = docs
      .select(col("doc_id"), size(tokens).as("dl"), explode(tokens).as("t"))
      .filter(col("t").isin(qTerms: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"), first("dl").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfs = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = qTerms.map { t =>
      val df = dfs.getOrElse(t, 0L)
      t -> math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
    }.toDF("t", "idf")
    tf.join(broadcast(idf), "t")
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** [[bm25TopK]] for a TABLE of queries — the serving-at-scale shape
    * (score a whole eval set / user-query log in one job instead of one
    * driver round-trip per query). `queries` = (query_id, query).
    *
    * Scale shape: the query-term set replaces the `isin` literal — the
    * corpus tokens semi-join a BROADCAST distinct-term frame, so the tf
    * frame stays bounded by docs-matching-any-query; idf is computed as
    * a column over the |terms|-row frame (Spark's `log` = Math.log =
    * the driver path, same ln the oracle replays); per-query top-k is a
    * query_id-partitioned row_number — no global sort, parallel across
    * queries. Corpus scalars (N, Σdl) remain the only driver state.
    *
    * Ranking ties: scores are rounded to 4 BEFORE ranking (identical to
    * [[bm25TopK]]'s ordering), doc_id breaks ties — deterministic
    * cross-engine at the rank-k boundary.
    */
  def bm25TopKBatch(docs: DataFrame, queries: DataFrame, k: Int,
                    k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    val lens = docs.select(col("doc_id"), size(tokens).as("dl"))
    val stats = lens.agg(count(lit(1)), sum(col("dl").cast("long"))).head()
    val nDocs = stats.getLong(0)
    require(nDocs > 0, "empty corpus")
    val avgdl = stats.getLong(1).toDouble / nDocs
    val qTerms = queries
      .select(col("query_id"), explode(split(col("query"), " ")).as("t"))
      .filter(col("t") =!= "").distinct()
    val terms = qTerms.select("t").distinct()
    val tf = docs
      .select(col("doc_id"), size(tokens).as("dl"), explode(tokens).as("t"))
      .join(broadcast(terms), "t")
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"), first("dl").as("dl"))
      // cached for the same reason as bm25TopK's tf: the plan reads it
      // on both the idf branch and the score branch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfs = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val idf = terms.join(dfs, Seq("t"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .select(col("t"), log(lit(1.0) +
        (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))).as("idf"))
    val scored = tf.join(broadcast(idf), "t")
      .join(broadcast(qTerms), "t")
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("query_id", "doc_id").agg(round(sum("contrib"), 4).as("score"))
    scored
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("__rn") <= k).drop("__rn")
      .orderBy(col("query_id"), col("score").desc, col("doc_id").asc)
  }

  /** Approximate-quantile tier of [[lengthStats]] — the hot-stratum
    * escape hatch, same contract family as
    * [[graft.queries.TimeseriesQueries.hampelOutliersApprox]]: the exact
    * tier's `percentile` buffers every value of a stratum in one task
    * (bounded by executor memory when one domain is half the corpus);
    * this tier's `approx_percentile` state is O(accuracy · log n)
    * REGARDLESS of stratum size (Greenwald-Khanna summaries), and the
    * partial aggregation is mergeable — map-side combine works, so the
    * shuffle carries summaries, not values.
    *
    * Quantiles are LongType group ELEMENTS (the exact tier interpolates
    * to doubles): for strata with n ≤ accuracy the selection is
    * deterministic — the element at rank ⌈p·n⌉, DuckDB's
    * `quantile_disc` — which is how the gate replays this tier exactly
    * (q_length_stats_approx). Above that, each quantile is within
    * n/accuracy ranks of the true one. The exact tier remains the
    * correctness contract.
    */
  def lengthStatsApprox(docs: DataFrame, stratum: String = "source",
                        accuracy: Int = 10000): DataFrame = {
    require(accuracy > 0, "accuracy must be positive")
    docs.select(col(stratum), size(tokens).cast("long").as("n"))
      .groupBy(stratum)
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n"), 6).as("mean_tokens"),
        expr(s"approx_percentile(n, array(0.25D, 0.5D, 0.9D), $accuracy)").as("ps"))
      .select(col(stratum), col("n_docs"), col("mean_tokens"),
        element_at(col("ps"), 1).as("p25"),
        element_at(col("ps"), 2).as("p50"),
        element_at(col("ps"), 3).as("p90"))
      .orderBy(stratum)
  }

  /** Gopher quality-rule battery (Rae et al. 2021, Appendix A): the
    * published per-document filter rules a web-scale curation pass
    * applies before model-based scoring — word-count bounds, mean word
    * length in [3, 10], ≥80% of words containing an alphabetic
    * character, symbol-token (# / …) ratio < 10%, and a minimum
    * stop-word count. Every rule is an EXACT INTEGER comparison
    * (cross-multiplied — `n_alpha·10 ≥ n·8`, never a float ratio), so
    * the pass/fail boundary cannot drift between engines; the one
    * reported double (mean word length) is informational and 6-dp
    * rounded. Map-only over the token array; no shuffle before the
    * output sort.
    */
  def gopherRules(docs: DataFrame, minWords: Int = 50,
                  maxWords: Int = 100000): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords, "bad word-count bounds")
    val stopList = StopwordSets.find(_._1 == "en").get._2
      .map(s => s"'$s'").mkString(", ")
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("sumlen", expr("aggregate(w, 0L, (a, t) -> a + length(t))"))
      .withColumn("n_alpha",
        expr("size(filter(w, t -> t rlike '[a-zA-Z]'))").cast("long"))
      .withColumn("n_sym",
        expr("size(filter(w, t -> instr(t, '#') > 0 OR instr(t, '...') > 0))")
          .cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(w, t -> t IN ($stopList)))").cast("long"))
      .select(col("doc_id"), col("n").as("n_words"),
        round(col("sumlen").cast("double") / col("n"), 6).as("mean_word_len"),
        (col("n") >= minWords && col("n") <= maxWords).as("ok_words"),
        (col("sumlen") >= col("n") * 3 && col("sumlen") <= col("n") * 10)
          .as("ok_mean_len"),
        (col("n_alpha") * 10 >= col("n") * 8).as("ok_alpha"),
        (col("n_sym") * 10 < col("n")).as("ok_symbols"),
        (col("n_stop") >= 2).as("ok_stops"))
      .withColumn("pass",
        col("ok_words") && col("ok_mean_len") && col("ok_alpha") &&
          col("ok_symbols") && col("ok_stops"))
      .orderBy("doc_id")
  }

  /** Corpus report (the data-card summary a curation run publishes): one
    * hash-agg pass emitting per-source volume, token stats, language
    * spread, and the exact-duplicate count — the numbers a 100 TB
    * pipeline checks before and after every curation stage. All columns
    * are engine-exact: counts and distinct-counts are exact, the token
    * sum stays integral (< 2⁵³, so the double mean is order-independent),
    * and p50 is the rank-ceil(n/2) element both engines select (the
    * approx-percentile determinism pin).
    */
  def corpusReport(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        md5(col("text")).as("h"), size(tokens).cast("long").as("ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"),
        round(avg("ntok"), 6).as("mean_tokens"),
        expr("approx_percentile(ntok, 0.5D, 10000)").as("p50_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"))
      .orderBy("source")

  /** N-gram novelty scoring: per document, the fraction of its distinct
    * n-gram shingles whose corpus-wide FIRST occurrence (min doc_id —
    * ingestion order) is this document. `novelty = 1` means every shingle
    * is new; low novelty flags near-copies, boilerplate, and memorization
    * risk (the document-level diagnostic behind dedup-before-training —
    * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" measure train-set duplication with exactly this first-
    * occurrence framing).
    *
    * Shape: the trick is that "seen before" never needs the shingle→doc
    * join back. A doc's novel-shingle count is just how many shingles it
    * WINS (is the min doc_id of) — so two map-side-combined hash aggs
    * (per-shingle min, then per-winner count) and one doc-level join of
    * two |docs|-sized frames. The hot-shingle skew that plagues a
    * shingle-keyed window min never materializes: partial aggregation
    * collapses a stop-shingle's rows to one per map task before the
    * shuffle. Docs shorter than n tokens have no shingles and are absent
    * (no 0/0 row).
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    // one shingle pass feeds both aggs (the minhashPairs persist recipe)
    val sh = Dedup.shingles(docs, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDoc = sh.groupBy("doc_id")
      .agg(max(col("nsh")).cast("long").as("n_shingles"))
    val nNew = sh.groupBy("s").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_new"))
    val out = perDoc.join(nNew, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(coalesce(col("n_new"), lit(0L)).cast("double") / col("n_shingles"), 6)
          .as("novelty"))
      .localCheckpoint(true)
    sh.unpersist(false)
    out.orderBy("doc_id")
  }

  /** Writing-system ranges as EXPLICIT codepoint classes — not
    * `\p{script=…}`, whose NAME SYNTAX differs between Java regex
    * (`\p{IsLatin}`) and RE2 (`\p{Latin}`); `\x{…}` ranges parse
    * identically in both, so ONE constant serves Spark and the oracle.
    * Coverage is the major blocks (Latin incl. the supplement/extended
    * accents, Cyrillic, Greek, Arabic, CJK = kana + unified Han,
    * Hangul syllables) — a routing signal, not a full Unicode census;
    * order = the dominance tie-break priority.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\x{C0}-\\x{24F}]",
    "cyrillic" -> "[\\x{400}-\\x{4FF}]",
    "greek" -> "[\\x{370}-\\x{3FF}]",
    "arabic" -> "[\\x{600}-\\x{6FF}]",
    "cjk" -> "[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]",
    "hangul" -> "[\\x{AC00}-\\x{D7AF}]")

  /** Per-document script profile: one codegen'd `regexp_count` per
    * range (map-only, no shuffle), the letter total, and the dominant
    * script (max count, ties to the earlier [[ScriptRanges]] entry) —
    * the routing signal that decides which language-specific pipeline
    * (tokenizer, stopword list, quality model) a document enters.
    * [[langId]] guesses the LANGUAGE of Latin-script text; this
    * catches what it cannot: a Cyrillic or CJK page routed to a Latin
    * tokenizer shreds into garbage tokens long before perplexity
    * filters could notice.
    */
  def scriptProfile(docs: DataFrame): DataFrame = {
    val counts = ScriptRanges.map { case (n, re) =>
      regexp_count(col("text"), lit(re)).cast("long").as(s"n_$n") }
    val base = docs.select((col("doc_id") +: counts): _*)
    val total = ScriptRanges.map(r => col(s"n_${r._1}")).reduce(_ + _)
    val dominant = ScriptRanges.foldLeft((lit(-1L), lit("none"))) {
      case ((bestC, bestN), (n, _)) =>
        val c = col(s"n_$n")
        (when(c > bestC, c).otherwise(bestC),
          when(c > bestC, lit(n)).otherwise(bestN))
    }._2
    base.withColumn("n_letters", total)
      .withColumn("dominant_script", dominant)
  }
}
