package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language ID, fingerprinting. Column expressions where they
  * compile; a Scala kernel (a UDF, which whole-stage codegen calls
  * directly) where a per-row loop would otherwise be higher-order
  * array functions, which Spark runs interpreted.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def wordCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish token count: word pieces and punctuation as separate
    * tokens (`\w+|[^\w\s]`) — the standard pre-tokenizer regex. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "zu", "den")
  private val stopFr = Seq("le", "la", "les", "et", "est", "un", "une", "pas", "pour", "que")

  private def hitRatio(toks: Column, words: Seq[String]): Column =
    size(filter(toks, w => words.map(s => w === lit(s)).reduce(_ || _))) /
      greatest(size(toks), lit(1)).cast("double")

  /** N-gram-heuristic language ID over stopword hit ratios; returns the
    * argmax language code, 'und' (undetermined) when nothing hits. */
  def languageId(text: Column): Column = {
    val toks = split(lower(text), " ")
    val en = hitRatio(toks, stopEn)
    val de = hitRatio(toks, stopDe)
    val fr = hitRatio(toks, stopFr)
    when(greatest(en, de, fr) === 0.0, lit("und"))
      .when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Quality features: length, words, mean word length, punctuation
    * ratio, stopword ratio, repetition (1 - distinct/total tokens). */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = split(t, " ")
    df.withColumn("n_chars_m", length(t))
      .withColumn("n_words", size(toks))
      .withColumn("mean_word_len",
        round(length(regexp_replace(t, " ", "")) / greatest(size(toks), lit(1)).cast("double"), 6))
      .withColumn("punct_ratio",
        round(size(regexp_extract_all(t, lit("[^\\w\\s]"), lit(0))) /
          greatest(length(t), lit(1)).cast("double"), 6))
      .withColumn("stopword_ratio", round(hitRatio(split(lower(t), " "), stopEn), 6))
      .withColumn("repetition",
        round(lit(1.0) - size(array_distinct(toks)) /
          greatest(size(toks), lit(1)).cast("double"), 6))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * repetition and sane punctuation — the usual heuristic filter.
    *
    * Deliberately UNROUNDED: the product of the (already-rounded)
    * feature columns is a bit-identical IEEE double in any engine that
    * evaluates the same expression tree, whereas a final round(·, 6)
    * lands on .5-midpoint decimals (a 6-dp feature × 0.5 is a 7-dp
    * number ending in 5) where Spark's BigDecimal HALF_UP and DuckDB's
    * scaled-double rounding disagree on the last digit. */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame =
    qualityFeatures(df, textCol).withColumn("quality",
      when(col("n_words") < 5, 0.1).otherwise(1.0) *
        (lit(1.0) - least(col("punct_ratio") * 4, lit(1.0)) * 0.5) *
        (lit(1.0) - col("repetition") * 0.5))

  /** Gopher-style n-gram repetition metrics (Rae et al. 2021 §A1.1):
    * per document, the fraction of n-gram slots taken by the single
    * most frequent n-gram (`top_ngram_frac`) and by all n-grams that
    * occur more than once (`dup_ngram_frac`) — the standard boilerplate
    * / degenerate-repetition filters ("lorem lorem lorem" passes a
    * distinct-token check but not these).
    *
    * Shape: explode n-grams → count by (doc, gram) → per-doc max and
    * duplicated-mass sum. Both shuffles are keyed by (doc_id[, gram]),
    * so parallelism scales with the corpus and no key exceeds one
    * document's n-gram count — scan-class work at any size. Documents
    * shorter than n tokens carry zero fractions. */
  def ngramRepetition(df: DataFrame, n: Int = 2, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val t = col("_t")
    val withTotal = df
      .select(col(idCol), split(col(textCol), " ").as("_t"))
      .select(col(idCol), t,
        greatest(size(t) - (n - 1), lit(0)).as("n_ngrams"))
    val grams = withTotal.filter(col("n_ngrams") > 0)
      .select(col(idCol), explode(transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + lit(1), lit(n))))).as("_g"))
    val perDoc = grams.groupBy(col(idCol), col("_g"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol))
      .agg(max(col("_c")).as("top_ngram_n"),
        sum(when(col("_c") > 1, col("_c")).otherwise(0L)).as("dup_ngram_n"))
    withTotal.drop("_t").join(perDoc, Seq(idCol), "left")
      .na.fill(Map("top_ngram_n" -> 0, "dup_ngram_n" -> 0))
      .withColumn("top_ngram_frac",
        when(col("n_ngrams") > 0,
          round(col("top_ngram_n") / col("n_ngrams").cast("double"), 6))
          .otherwise(0.0))
      .withColumn("dup_ngram_frac",
        when(col("n_ngrams") > 0,
          round(col("dup_ngram_n") / col("n_ngrams").cast("double"), 6))
          .otherwise(0.0))
  }

  /** Per-document top-k TF-IDF terms — the standard keyword/salience
    * extraction a curation pipeline runs for topic bucketing and
    * per-domain vocabulary audits. Smooth idf = ln((N+1)/(df+1)) + 1
    * (the sklearn TfidfTransformer convention), score = tf · idf, and
    * each document keeps its k highest-scoring terms.
    *
    * Shape: explode tokens → count by (doc, term) → term docFreq by
    * (term) → per-doc top-k window. Both aggregations partial-combine
    * map-side; the window partitions by doc_id, so no key ever exceeds
    * one document's vocabulary — every stage is shuffle-bounded by its
    * natural key at any corpus size. N comes from one count job (a
    * parquet metadata read), never a count().over() single-partition
    * window.
    *
    * The OUTPUT is integer/string-only (doc_id, term, tf, df, rank):
    * the double score exists only inside the window's ORDER BY, where
    * cross-engine FP agreement is needed only up to ordering — distinct
    * (tf, df) pairs produce scores separated by far more than an ulp,
    * and equal (tf, df) pairs produce bit-equal scores broken by the
    * term tiebreak — so the result hash-matches DuckDB (q59) without
    * shipping doubles. */
  def tfidfTopK(df: DataFrame, k: Int = 5, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.count()
    val tf = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = col("tf") *
      (log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + 1.0)
    tf.join(docFreq, Seq("term"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(score.desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rank"))
  }

  /** Sparse TF-IDF cosine similarity join via an inverted index: pairs
    * of documents whose TF-IDF vectors (tf · smooth-idf, the
    * [[tfidfTopK]] weighting) have cosine ≥ `threshold`, computed
    * without ever materializing dense vectors — the dot product is a
    * term-keyed posting-list self-join (Σ w_a·w_b over SHARED terms
    * only), the norms are per-doc aggregates. This is the lexical
    * near-dup/mirror detector that complements [[graft.pipeline
    * .Similarity]]'s embedding-space cosine: no model, exact, and
    * SQL-replayable.
    *
    * Terms appearing in more than a `maxDf` FRACTION of documents are
    * dropped from the space BEFORE norms are taken (norms and dots see
    * the same capped vocabulary, so the score is a true cosine in that
    * space): stop terms carry ~zero idf weight but df² posting-list
    * join cost — the [[graft.pipeline.Dedup.jaccardPairs]] stop-
    * shingle trade, applied to the weighted space. The cap is BOTH a
    * fraction (the sklearn `max_df` contract — relative df is the
    * scale-invariant semantic) AND an absolute posting-list bound
    * `maxDfCount`: the fraction alone lets candidate work grow as
    * (maxDf·N)² per term on a corpus whose documents share most of
    * their vocabulary (measured live: a 31-word synthetic corpus at
    * maxDf=0.25 went from 0 pairs at N=5k to 49M pairs / 188 s at
    * N=20k — the cosine structure was genuinely dense). With the
    * absolute bound, candidate volume is ≤ vocab·maxDfCount² at ANY
    * corpus size; a corpus with no sub-cap terms loudly yields nothing
    * instead of silently going quadratic. Shuffles: two term-keyed
    * aggregates, one term-keyed self-join bounded as above, two
    * id-keyed norm joins. */
  def tfidfCosinePairs(docs: DataFrame, threshold: Double = 0.3,
                       maxDf: Double = 0.25, maxDfCount: Long = 1000L,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(threshold > 0.0, s"threshold must be > 0, got $threshold")
    require(maxDf > 0.0 && maxDf <= 1.0, s"maxDf must be in (0,1], got $maxDf")
    require(maxDfCount >= 1, s"maxDfCount must be >= 1, got $maxDfCount")
    val nDocs = docs.count()
    val tf = docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= least(lit(maxDf) * nDocs, lit(maxDfCount.toDouble)))
    val w = tf.join(dfreq, "term")
      .select(col("id"), col("term"),
        (col("tf") * (log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + 1.0))
          .as("w"))
    val norms = w.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val dots = w.select(col("term"), col("id").as("id_a"), col("w").as("wa"))
      .join(w.select(col("term"), col("id").as("id_b"), col("w").as("wb")),
        "term")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("norm").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("norm").as("nb")), "id_b")
      .withColumn("cosine", col("dot") / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Character-level Shannon entropy per document (bits/char) — the
    * classic cheap degenerate-text detector: base64 blobs and
    * one-char spam sit far from natural language's ~4 bits.
    *
    * H = log2 n − Σ c·log2 c / n over the per-character counts c. One
    * compiled pass per document ([[charCounts]]) yields the distinct
    * count, n and the sum, so it is a pure NARROW map — no explode, no
    * shuffle: a scan at 100 TB, like [[winnowFingerprints]] — at
    * O(len) per document. The same counts as higher-order functions
    * (filter per distinct char inside a transform, then an aggregate)
    * cost O(|alphabet|·len) lambda calls per document, and Spark runs
    * every one of them interpreted (they are `CodegenFallback`).
    *
    * Rounded to 6dp: the sum over ≤|alphabet| well-scaled terms agrees
    * with DuckDB's entropy() aggregate to ~1 ulp regardless of
    * summation order, and transcendental values never sit on decimal
    * rounding midpoints (the qualityScore .5-midpoint class).
    *
    * Returns (idCol, distinct_chars, entropy). */
  def charEntropy(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    // Zero-character docs emit no row, mirroring a GROUP BY over
    // characters (a grouped aggregate has nothing to group): keeps
    // parity with the per-character oracle on corpora with empty text.
    // The filter reads the text, never the kernel's result, so the
    // kernel runs once per row and only on rows that emit.
    val counted = df.filter(length(col(textCol)) > 0).select(col(idCol),
      charCountsUdf(col(textCol).cast("binary")).as("_k"))
    val n = col("_k._2").cast("double")
    counted.select(col(idCol),
      col("_k._1").as("distinct_chars"),
      round(log2(n) - col("_k._3") / n, 6).as("entropy"))
  }

  /** (distinct characters, characters, Σ c·log2 c) of one non-empty
    * UTF-8 text, the sum taken in first-occurrence order from 0.0 with
    * Spark's `log2` (`StrictMath.log(c) / StrictMath.log(2)`).
    *
    * A character is exactly what `split(text, "")` yields: the bytes
    * one lead byte spans under `UTF8String.numBytesForFirstByte`, the
    * last one cut at the end of the text. So a surrogate pair is one
    * character, and invalid UTF-8 splits as Spark splits it. */
  private[graft] def charCounts(bytes: Array[Byte]): (Int, Int, Double) = {
    val table = new CharTable
    var n = 0
    var p = 0
    while (p < bytes.length) {
      val len = math.min(UTF8String.numBytesForFirstByte(bytes(p)), bytes.length - p)
      var key = len.toLong
      var i = 0
      while (i < len) { key = (key << 8) | (bytes(p + i) & 0xff); i += 1 }
      table.add(key)
      n += 1
      p += len
    }
    var acc = 0.0
    var j = 0
    while (j < table.distinct) {
      val c = table.counts(j).toDouble
      acc += c * (StrictMath.log(c) / StrictMath.log(2))
      j += 1
    }
    (table.distinct, n, acc)
  }

  /** Character counts in first-occurrence order: an open-addressing
    * table over keys packing (length, bytes) into a long, whose slots
    * hold 1 + the key's index in that order (0 = empty). */
  private final class CharTable {
    var keys = new Array[Long](32)
    var counts = new Array[Int](32)
    var distinct = 0
    private var slots = new Array[Int](64)

    def add(key: Long): Unit = {
      var s = find(key)
      if (slots(s) != 0) counts(slots(s) - 1) += 1
      else {
        if (distinct == keys.length) { grow(); s = find(key) }
        keys(distinct) = key
        counts(distinct) = 1
        distinct += 1
        slots(s) = distinct
      }
    }

    /** The slot holding `key`, or the empty slot where it goes. */
    private def find(key: Long): Int = {
      val mask = slots.length - 1
      // Fibonacci hash onto the power-of-two table
      var s = ((key * 0x9E3779B97F4A7C15L) >>> (64 - Integer.numberOfTrailingZeros(slots.length))).toInt
      while (slots(s) != 0 && keys(slots(s) - 1) != key) s = (s + 1) & mask
      s
    }

    private def grow(): Unit = {
      keys = java.util.Arrays.copyOf(keys, distinct * 2)
      counts = java.util.Arrays.copyOf(counts, distinct * 2)
      slots = new Array[Int](keys.length * 2)
      var j = 0
      while (j < distinct) { slots(find(keys(j))) = j + 1; j += 1 }
    }
  }

  private val charCountsUdf = udf(charCounts _).withName("char_counts")

  /** Per-source lexical statistics — the corpus-level audit table a
    * data curator reads before training: document and token counts,
    * vocabulary size, hapax legomena (terms occurring exactly once in
    * the source — the Zipf tail whose share predicts OOV rates), and
    * type-token ratio.
    *
    * Shape: explode tokens → (source, term) counts → one per-source
    * aggregate, joined to a per-source doc count. Both shuffles key on
    * (source[, term]) with full map-side partial aggregation; the only
    * double is one division of two exact longs, bit-identical in any
    * engine. */
  def lexicalStats(df: DataFrame, srcCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    val termCounts = df
      .select(col(srcCol), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(srcCol), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val perSource = termCounts.groupBy(col(srcCol)).agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
    df.groupBy(col(srcCol)).agg(count(lit(1)).as("n_docs"))
      .join(perSource, Seq(srcCol))
      .withColumn("ttr",
        round(col("vocab") / col("n_tokens").cast("double"), 6))
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken 2003,
    * the MOSS algorithm): hash every k-token shingle, slide a window of
    * w consecutive hashes, keep each window's minimum; the distinct
    * survivors are the document's fingerprint set. Guarantees any match
    * of at least w+k-1 tokens shares a fingerprint, while keeping only
    * ~2/(w+1) of all shingle hashes.
    *
    * md5 hex plays the rolling-hash role: deterministic, identical in
    * Spark and DuckDB, and lexicographic min over the hex strings is a
    * total order both engines share — so the operator is fully
    * oracle-checkable (q45). Pure codegen'd column expressions, one
    * narrow map over the corpus: at 100 TB this is a scan, no shuffle.
    *
    * Documents shorter than k tokens degrade to a single whole-text
    * fingerprint (the CaseWhen keeps the negative-length sequence
    * unevaluated — the ADVICE r1 shingles crash class).
    *
    * Returns (idCol, fp) — one row per distinct fingerprint.
    */
  def winnowFingerprints(df: DataFrame, k: Int = 4, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    // Each stage materializes its array as an attribute before the next
    // higher-order function consumes it: a lambda body re-evaluates any
    // non-attribute subtree PER ELEMENT, so inlining `split` into the
    // gram lambda is O(T²) per document and inlining the gram array
    // into the window lambda is O(T³). Multi-referenced non-cheap
    // expressions also stop CollapseProject from undoing the split.
    val t = col("_t")
    val toks = df.select(col(idCol), col(textCol),
      split(col(textCol), " ").as("_t"))
    val grams = transform(sequence(lit(0), size(t) - k),
      i => md5(concat_ws(" ", slice(t, i + lit(1), lit(k)))))
    val withH = toks.select(col(idCol),
      when(size(t) >= k, grams).otherwise(array(md5(col(textCol)))).as("_h"))
    val h = col("_h")
    val mins = transform(sequence(lit(0), greatest(size(h) - w, lit(0))),
      i => array_min(slice(h, i + lit(1), lit(w))))
    withH.select(col(idCol), explode(array_distinct(mins)).as("fp"))
  }

  /** Candidate near-duplicate pairs by shared winnowing fingerprint —
    * the MOSS join: two documents pair iff they share at least
    * `minShared` fingerprints. Self-join on the fp column is a hash
    * shuffle on 32-byte keys (never raw text), bounded by posting-list
    * sizes like Dedup.jaccardPairs; at corpus scale add a document-
    * frequency cap on hot fingerprints (same skew story as shingles).
    */
  def winnowPairs(df: DataFrame, k: Int = 4, w: Int = 4, minShared: Int = 2,
      textCol: String = "text", idCol: String = "doc_id",
      maxDocFreq: Option[Long] = None,
      skewFailDocFreq: Long = 100000L): DataFrame = {
    // Posting-list expansion instead of a fp self-join: the fingerprint
    // scan runs ONCE and shuffles once (on the 32-byte fp), then each
    // list emits its ordered pairs in place. Quadratic only within a
    // fingerprint's posting list — the same bound as the join, minus
    // the duplicate scan and second shuffle. `maxDocFreq` drops
    // boilerplate fingerprints shared by more than that many documents
    // (same stop-shingle story as Dedup.jaccardPairs: a license header
    // shared by 1e6 docs would otherwise emit 5e11 candidate pairs).
    // Uncapped is never SILENTLY quadratic: a posting list longer than
    // `skewFailDocFreq` kills the job in-plan, naming the fingerprint,
    // before its pairs are scheduled.
    val fps = winnowFingerprints(df, k, w, textCol, idCol)
    val lists = fps.groupBy("fp")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) >= 2 &&
        maxDocFreq.map(c => size(col("ids")) <= c).getOrElse(
          assert_true(size(col("ids")) <= skewFailDocFreq,
            concat(lit("winnowPairs: fingerprint "), col("fp"),
              lit(s" is shared by "), size(col("ids")),
              lit(s" documents (> skewFailDocFreq=$skewFailDocFreq); " +
                "set maxDocFreq to drop boilerplate fingerprints, or " +
                "raise skewFailDocFreq to force the quadratic " +
                "expansion."))).isNull))
    val pairs = lists.select(explode(flatten(
      transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
    pairs.select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** PII scrubbing: emails, IPv4 addresses, and international-format
    * phone numbers replaced by typed placeholder tokens — the redaction
    * pass a training pipeline runs before text ships. Pure
    * `regexp_replace` chain (codegen'd, a narrow map at any scale);
    * patterns restricted to the RE2-compatible subset so the DuckDB
    * oracle replays them byte-identically (no lookarounds, no
    * backreferences). Email first: an address would otherwise leak its
    * host through the later patterns. */
  def scrubPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+\\d{7,15}"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        ipv4, "<IP>"),
      phone, "<PHONE>")
  }

  /** Luhn checksum validity of an all-digit string column — the
    * check-digit algebra (mod-10, every second digit from the right
    * doubled, >9 reduced by 9) payment-card numbers carry. Pure
    * integer column expressions over a per-character fold, so both
    * engines compute the identical boolean — no float anywhere. Yields
    * null (falsy under `when`) for non-digit input. */
  def luhnValid(t: Column): Column = {
    val n = length(t)
    val total = aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val d = t.substr(i, lit(1)).cast("int")
      val dd = when((n - i) % 2 === 1, d * 2).otherwise(d)
      acc + when(dd > 9, dd - 9).otherwise(dd)
    })
    total % 10 === 0
  }

  /** Payment-card scrubbing — the [[scrubPii]] family's high-stakes
    * member, with VERIFICATION: a whitespace token is redacted to
    * `<CARD>` only when it is 13–19 digits AND Luhn-valid (the check
    * every production PII pass applies — pattern-only matching would
    * redact order ids and timestamps wholesale, exactly the
    * false-positive class the checksum exists to reject). A pure
    * narrow map (split → per-token fold → rejoin), scan-class at any
    * corpus size; the [[luhnValid]] algebra replays in SQL so q190's
    * oracle reproduces every redaction decision. Emits the input rows
    * plus (n_cards, scrubbed_cards). */
  def scrubCreditCards(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val hit = (t: Column) =>
      t.rlike("^[0-9]{13,19}$") && coalesce(luhnValid(t), lit(false))
    df.withColumn("n_cards",
        size(filter(toks, t => hit(t))).cast("long"))
      .withColumn("scrubbed_cards",
        concat_ws(" ", transform(toks,
          t => when(hit(t), lit("<CARD>")).otherwise(t))))
  }

  /** Hex threshold for [[deterministicSample]]: first 8 hex digits of
    * p·2³², zero-extended semantics via string compare (an md5 hex
    * digest d is kept iff d < threshold, i.e. iff its first 8 digits
    * are strictly below — resolution 2⁻³²). */
  def hexThreshold(p: Double): String = {
    require(p >= 0.0 && p <= 1.0, s"fraction must be in [0,1], got $p")
    if (p >= 1.0) "g" // every hex digest sorts below "g"
    else f"${(p * 4294967296.0).toLong}%08x"
  }

  /** Deterministic Bernoulli sample: keep rows where
    * md5(seed ':' key) sorts below the hex threshold of `p`. Unlike
    * rand()-based sampling this replays identically on any cluster
    * topology AND is oracle-expressible (DuckDB computes the same md5
    * and the same lexicographic compare) — the sampling a reproducible
    * training pipeline needs. Narrow filter, no shuffle. */
  def deterministicSample(df: DataFrame, keyCol: String, p: Double,
                          seed: Long = 42): DataFrame =
    df.filter(md5(concat_ws(":", lit(seed.toString), col(keyCol).cast("string")))
      < lit(hexThreshold(p)))

  /** Weighted reservoir sample (Efraimidis & Spirakis 2006, algorithm
    * A-ES): each row draws a deterministic uniform u from md5(seed:key)
    * and is ranked by `ln(u) / w` — the top-k rows by that key are an
    * exact weight-proportional without-replacement sample (for k = 1,
    * P(row) = w / Σw). One narrow map + one TakeOrderedAndProject: no
    * shuffle of the corpus, no driver state, replayable on any cluster
    * shape — the scale form of "sample 10k docs proportional to
    * quality/length" that a naive cumulative-weight scan cannot
    * provide distributed.
    *
    * u is built from the first 13 md5 hex digits: (v+1) / 2^52 with
    * v < 2^52 — both the integer and the power-of-two division are
    * EXACT in IEEE doubles, so any SQL engine reproduces u
    * bit-for-bit (only ln() can differ, at ulp scale, far below any
    * rounded output or plausible top-k boundary). */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, seed: Long = 42): DataFrame = {
    val v = conv(substring(
      md5(concat_ws(":", lit(seed.toString), col(keyCol).cast("string"))),
      1, 13), 16, 10).cast("long")
    val u = (v + lit(1L)) / lit(4503599627370496.0) // (v+1)/2^52, exact
    df.withColumn("es_key", log(u) / col(weightCol))
      .orderBy(col("es_key").desc, col(keyCol))
      .limit(k)
  }

  /** Stratified deterministic sample: per-stratum keep fractions (e.g.
    * language-balancing a corpus), same md5 mechanics as
    * [[deterministicSample]]. Strata absent from `fractions` keep at
    * `defaultP`. */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       fractions: Map[String, Double], defaultP: Double,
                       seed: Long = 42): DataFrame = {
    val thr = fractions.foldLeft(lit(hexThreshold(defaultP)): Column) {
      case (acc, (stratum, p)) =>
        when(col(stratumCol) === stratum, lit(hexThreshold(p))).otherwise(acc)
    }
    df.filter(md5(concat_ws(":", lit(seed.toString), col(keyCol).cast("string"))) < thr)
  }

  /** Unigram language-model quality score: each document's average
    * negative log-likelihood under the CORPUS unigram distribution —
    * the shape of CCNet's LM-perplexity filter (Wenzek et al. 2019)
    * with the corpus itself as the model. Documents full of rare terms
    * (boilerplate ids, base64, other-language text) score high;
    * middle-of-the-distribution prose scores low; filtering the tails
    * of avg_nll is the standard quality cut.
    *
    * Shape: (doc,term) counts → global term frequencies (a (term)-keyed
    * aggregate joined back on term) → one per-doc weighted sum. The
    * corpus total is a scalar broadcast. All shuffles key on term or
    * doc with map-side partials — no stage sees more than the
    * vocabulary or one document's terms.
    *
    * avg_nll sums ≤|doc vocab| ln-terms of O(1) magnitude: engine
    * summation orders agree to ~1e-12 relative, and transcendental
    * sums never sit on 6dp rounding midpoints (the charEntropy
    * argument), so round(,6) is oracle-stable.
    *
    * Returns (idCol, n_tokens, avg_nll). */
  def unigramLogLik(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val tf = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("c"))
    val gf = tf.groupBy("term").agg(sum(col("c")).as("g"))
    val total = gf.agg(sum(col("g")).as("t"))
    tf.join(gf, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        round(-sum(col("c") * log(col("g") / col("t"))) / sum(col("c")), 6)
          .as("avg_nll"))
  }

  /** Per-source document-length quantiles (exact, linearly
    * interpolated): the p50/p90/p99 token-count report a curator reads
    * to choose sequence lengths and spot truncation-heavy sources.
    * Exact `percentile` (not percentile_approx) keeps the result
    * engine-reproducible; it sorts per (source) group, so the cost is
    * a grouped sort of ONE long per document — fine at any corpus
    * size (the per-group state is the group's length list; if a single
    * source ever held billions of docs, approx sketches are the
    * documented fallback, traded deliberately for oracle exactness
    * here). */
  def lengthQuantiles(df: DataFrame, srcCol: String = "source",
                      textCol: String = "text"): DataFrame =
    df.select(col(srcCol),
        size(split(col(textCol), " ")).cast("long").as("n"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(n, 0.5)"), 6).as("p50"),
        round(expr("percentile(n, 0.9)"), 6).as("p90"),
        round(expr("percentile(n, 0.99)"), 6).as("p99"))

  /** Per-group exact percentiles beside the approx_percentile
    * (Greenwald–Khanna) sketch, with the sketch's rank-error guarantee
    * checked IN-PLAN: for each probability p the sketch value's rank
    * interval [count(<a)+1, count(≤a)] must intersect
    * [p·n − n/accuracy − 1, p·n + n/accuracy + 1], or `sketch_ok`
    * goes false (and the driver's invariant oracle fails the hash
    * compare — the q69/q84 pattern).
    *
    * At 100 TB the SKETCH is the operator you run (mergeable
    * per-partition summaries, no per-group value list); the exact
    * percentile beside it is the oracle anchor. Two grouped
    * aggregates + one broadcast join of the ≤|groups|-row stats
    * frame: the data is scanned twice, never shuffled. */
  def quantileSketchAudit(df: DataFrame, groupCol: String, valCol: String,
                          probs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                          accuracy: Int = 10000): DataFrame = {
    val pArr = array(probs.map(lit): _*)
    val stats = df.groupBy(groupCol).agg(
      percentile(col(valCol), pArr).as("ex"),
      percentile_approx(col(valCol), pArr, lit(accuracy)).as("ap"),
      count(lit(1)).as("n"))
    val aggs: Seq[Column] =
      Seq(first(col("ex")).as("ex"), first(col("n")).as("n")) ++
        probs.indices.flatMap(i => Seq(
          sum(when(col(valCol) < col("ap")(i), 1L).otherwise(0L)).as(s"lt$i"),
          sum(when(col(valCol) <= col("ap")(i), 1L).otherwise(0L)).as(s"le$i")))
    val checks = df.join(broadcast(stats), groupCol)
      .groupBy(groupCol)
      .agg(aggs.head, aggs.tail: _*)
    val eps = lit(1.0) / accuracy
    val ok = probs.indices.map { i =>
      val target = lit(probs(i)) * col("n")
      (col(s"lt$i") + 1 <= target + eps * col("n") + 1) &&
        (col(s"le$i") >= target - eps * col("n") - 1)
    }.reduce(_ && _)
    checks.select(
      (col(groupCol) +:
        probs.indices.map(i =>
          round(col("ex")(i), 6).as(s"p${(probs(i) * 100).round}"))) :+
        ok.as("sketch_ok"): _*)
  }

  /** Vocabulary build + encode-to-ids: the tokenize step that turns a
    * curated corpus into the integer streams a trainer actually reads.
    * The vocabulary is the `maxVocab` most frequent terms (ties broken
    * lexicographically, so the mapping is deterministic and
    * reproducible on any cluster); ids are 1..V by rank, 0 is the
    * OOV/UNK id. Output is the exploded (idCol, pos, token_id) stream,
    * pos 1-based within each document.
    *
    * Scale shape: the term-frequency aggregate partial-combines
    * map-side; top-V selection is orderBy+limit — Spark plans
    * TakeOrderedAndProject (per-partition top-V, then a V-row merge),
    * never a global sort. Id assignment windows over the ALREADY
    * LIMITED V-row frame (the one deliberate single-partition step —
    * bounded by maxVocab, not the corpus). The encode join broadcasts
    * the ≤V-row vocab, so the token stream itself never shuffles. */
  def vocabEncode(df: DataFrame, maxVocab: Int, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol), posexplode(
        filter(split(col(textCol), " "), t => length(t) > 0)))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(maxVocab)
      .withColumn("token_id", row_number().over(
        Window.orderBy(col("cnt").desc, col("term").asc)))
      .select("term", "token_id")
    toks.join(broadcast(vocab), Seq("term"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("token_id"), lit(0)).as("token_id"))
  }

  /** BM25 top-k retrieval (Robertson et al.; the Lucene-default
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf variant): score every document
    * against a fixed query string and keep the k best — the retrieval
    * primitive behind dataset search, targeted curation ("find me docs
    * about X"), and hard-negative mining.
    *
    * Scale shape: the corpus scan filters to QUERY TERMS before any
    * shuffle, so the grouped work is proportional to matching
    * (doc, term) rows, not the corpus; N/avgdl is one map-side-combining
    * scalar aggregate; per-term document frequencies are a ≤|terms|-row
    * frame joined broadcast; final top-k is orderBy+limit →
    * TakeOrderedAndProject (per-partition top-k, never a global sort).
    * Only documents containing ≥1 query term are candidates (BM25 of a
    * no-hit doc is 0). */
  def bm25TopK(df: DataFrame, query: String, k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val terms = query.split(" ").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "query must contain at least one term")
    val lens = df.select(col(idCol).as("id"),
      size(split(col(textCol), " ")).as("dl"))
    val statsRow = lens.agg(count(lit(1)).as("n"), avg("dl").as("avgdl")).head
    val nDocs = statsRow.getLong(0)
    if (nDocs == 0L)
      // avg over zero rows is null — return the empty result with the
      // contract schema instead of NPE-ing on getDouble
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as(idCol), lit(0.0).as("bm25")).limit(0)
    val avgdl = statsRow.getDouble(1)
    val tf = df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfq"))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("dfq") + 0.5) / (col("dfq") + 0.5))
    tf.join(broadcast(dfreq.withColumn("idf", idf)), "term")
      .join(lens, "id")
      .withColumn("contrib", col("idf") * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
      // round BEFORE the top-k cut: the raw sum's accumulation order
      // differs across engines and topologies, so near-ties at the k
      // boundary must be broken on the emitted 6dp value (then id),
      // never on the unrounded double
      .groupBy("id").agg(round(sum("contrib"), 6).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
      .select(col("id").as(idCol), col("score").as("bm25"))
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how target-like its
    * hashed n-gram distribution is — log w(x) = Σ_grams ln p̂_target[b]
    * − ln p̂_raw[b] over add-α-smoothed multinomials on `buckets` hash
    * buckets. Resampling raw data by these weights is the paper's
    * data-selection method (their hashed-ngram DSIR beats heuristic
    * filters at domain targeting); the weight itself is the reusable
    * primitive, selection is a top-k/threshold downstream.
    *
    * Grams are unigrams + bigrams over whitespace tokens (the paper's
    * feature set); the bucket is the first 8 hex digits of md5(gram)
    * mod `buckets` — engine-neutral, so the weights are replayable AND
    * oracle-checkable. Both fitted distributions are ≤`buckets`-row
    * aggregates broadcast back; per-doc scoring shuffles on
    * (doc, bucket) then (doc), both with map-side partials — nothing
    * scales beyond the corpus token count.
    *
    * `targetPred` marks the in-corpus target slice (e.g. a trusted
    * source). Returns (idCol, n_grams, log_weight 6dp) for EVERY doc,
    * target rows included (the paper resamples raw only; callers
    * filter). */
  def dsirWeights(df: DataFrame, targetPred: Column, buckets: Int = 1024,
                  alpha: Double = 1.0, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(buckets > 0 && alpha > 0.0, "buckets and alpha must be positive")
    val toks = df.select(col(idCol), targetPred.as("is_target"),
      filter(split(col(textCol), " "), t => length(t) > 0).as("ts"))
    // bigrams: zip ts with its 1-shift (slice length must be a bounded
    // column — a huge int literal overflows start+length and silently
    // yields an empty slice); zip_with pads the short side with null,
    // so slice the zipped array back to size-1 entries
    val grams = toks.select(col(idCol), col("is_target"),
        explode(concat(col("ts"),
          slice(zip_with(col("ts"), slice(col("ts"), lit(2), size(col("ts"))),
              (a, b) => concat_ws(" ", a, b)),
            lit(1), greatest(size(col("ts")) - 1, lit(0))))).as("gram"))
    val bucketed = grams.withColumn("b",
      conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long") % buckets)
    val docBuckets = bucketed.groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("c"))
    // fitted multinomials: raw = ALL grams, target = target-slice grams
    val dist = bucketed.groupBy("b").agg(
      count(lit(1)).as("r"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("t"))
    val totals = dist.agg(sum(col("r")).as("sum_r"), sum(col("t")).as("sum_t"))
    val scored = dist.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("t") + alpha) / (col("sum_t") + alpha * buckets)) -
         log((col("r") + alpha) / (col("sum_r") + alpha * buckets))).as("llr"))
    docBuckets.join(broadcast(scored), Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_grams"),
        round(sum(col("c") * col("llr")), 6).as("log_weight"))
  }

  /** Training-mix construction: sample each source down to a per-source
    * TOKEN budget — the step that turns a raw corpus plus a mixture
    * spec ("50M tokens of web, 30M of code, …") into the actual
    * pretraining mix. Per-source keep rate = min(1, budget/tokens) over
    * the source's total whitespace-token count (the [[packSequences]]
    * counting convention); document selection is the same
    * md5-hex-threshold Bernoulli as [[deterministicSample]], so the mix
    * replays identically on any cluster topology AND is
    * oracle-expressible. Sources absent from `budgets` are dropped —
    * a mixture spec is exhaustive by definition.
    *
    * Expected kept tokens per source ≈ budget (Bernoulli at doc
    * granularity; exact-cut packing is [[packSequences]]'s job
    * downstream). Shape: one tiny per-source aggregate (≤|sources|
    * rows, broadcast back) + a narrow filter — the corpus itself is
    * never shuffled, so this is a scan at 100 TB.
    *
    * The data-dependent rate forces the hex threshold to be computed
    * IN-PLAN (vs [[hexThreshold]]'s literal): both engines compute
    * rate from the same two longs (IEEE-identical division), floor to
    * the same 8-hex-digit threshold, and compare against the same md5
    * — bit-for-bit reproducible across Spark and DuckDB.
    *
    * Returns kept rows: (idCol, srcCol, n_tokens, rate). */
  def mixtureSample(df: DataFrame, budgets: Map[String, Long],
                    seed: Long = 42, srcCol: String = "source",
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(budgets.nonEmpty, "mixtureSample needs a non-empty mixture spec")
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    val toks = df.select(col(idCol), col(srcCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val budgetCol = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (s, b)) => when(col(srcCol) === s, lit(b)).otherwise(acc)
    }
    val totals = toks.groupBy(col(srcCol))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .withColumn("budget", budgetCol)
      .filter(col("budget").isNotNull)
      .withColumn("rate", least(lit(1.0),
        col("budget").cast("double") / col("src_tokens").cast("double")))
      .withColumn("thr", when(col("rate") >= 1.0, lit("g"))
        .otherwise(lower(lpad(hex(
          floor(col("rate") * 4294967296.0).cast("long")), 8, "0"))))
      .select(col(srcCol), col("rate"), col("thr"))
    toks.join(broadcast(totals), Seq(srcCol))
      .filter(md5(concat_ws(":", lit(seed.toString), col(idCol).cast("string")))
        < col("thr"))
      .select(col(idCol), col(srcCol), col("n_tokens"), col("rate"))
  }

  /** Sequence packing index (the GPT/T5 pretraining concatenate-and-
    * slice layout): documents in `idCol` order are laid end to end in
    * one global token stream; each gets its start offset and the
    * `seqLen`-sized window (seq_idx) that offset falls in. Returns
    * (idCol, n_tokens, start_offset, seq_idx).
    *
    * The global running offset is a range-partitioned prefix sum (sort
    * by id within range partitions, per-partition totals to the driver,
    * offsets broadcast back) — no single-task window sort, so the
    * assignment distributes at any corpus size. Deterministic given the
    * id order; the returned frame is persisted (it must outlive the
    * internal sorted RDD), callers may unpersist. */
  def packSequences(df: DataFrame, seqLen: Int, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val t = df.select(col(idCol).cast("long").as("id"),
        wordCount(col(textCol)).cast("long").as("n_tokens"))
      .repartitionByRange(parts, col("id"))
      .sortWithinPartitions("id")
    val rdd = t.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(s += _.getLong(1)); Iterator((i, s))
      }.collect().sortBy(_._1).map(_._2)
      val offsets = partTotals.scanLeft(0L)(_ + _)
      val packed = rdd.mapPartitionsWithIndex { (i, it) =>
        var cum = offsets(i)
        it.map { r =>
          val nt = r.getLong(1)
          val start = cum
          cum += nt
          org.apache.spark.sql.Row(r.getLong(0), nt, start, start / seqLen)
        }
      }
      val schema = StructType(Seq(
        StructField(idCol, LongType, nullable = false),
        StructField("n_tokens", LongType, nullable = false),
        StructField("start_offset", LongType, nullable = false),
        StructField("seq_idx", LongType, nullable = false)))
      val out = spark.createDataFrame(packed, schema).persist()
      out.count()
      out
    } finally rdd.unpersist(blocking = false)
  }

  /** Deterministic corpus shuffle + training-shard assignment: rows are
    * globally ordered by `md5(seed || id)` (a replayable, engine-
    * neutral permutation — same convention as [[deterministicSample]]),
    * given their 0-based position in that order, and dealt round-robin
    * into `nShards` shards — so shard sizes differ by at most one and
    * every shard is an unbiased sample of the corpus, which is exactly
    * what a 1000-node training job wants from its input shards.
    *
    * The global position is the same range-partitioned prefix sum as
    * [[packSequences]] (range-partition by the hash, sort within
    * partitions, per-partition counts to the driver, offsets broadcast
    * back) — never a single-task window sort, so the assignment
    * distributes at any corpus size. Returned persisted; callers may
    * unpersist. */

  def shuffleShards(df: DataFrame, nShards: Int, seed: Long = 42,
                    idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val t = df.select(col(idCol).cast("long").as("id"),
        md5(concat(lit(s"$seed:"), col(idCol).cast("string"))).as("h"))
      .repartitionByRange(parts, col("h"), col("id"))
      .sortWithinPartitions("h", "id")
    val rdd = t.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partCounts = rdd.mapPartitionsWithIndex { (i, it) =>
        Iterator((i, it.size.toLong))
      }.collect().sortBy(_._1).map(_._2)
      val offsets = partCounts.scanLeft(0L)(_ + _)
      val assigned = rdd.mapPartitionsWithIndex { (i, it) =>
        var pos = offsets(i)
        it.map { r =>
          val row = org.apache.spark.sql.Row(r.getLong(0), pos, pos % nShards)
          pos += 1
          row
        }
      }
      val schema = StructType(Seq(
        StructField(idCol, LongType, nullable = false),
        StructField("pos", LongType, nullable = false),
        StructField("shard", LongType, nullable = false)))
      val out = spark.createDataFrame(assigned, schema).persist()
      out.count()
      out
    } finally rdd.unpersist(blocking = false)
  }

  /** Budget-constrained quality curation (the FineWeb-Edu-shaped
    * selection): per source, rank documents by [[qualityScore]] (ties
    * to the smallest id — a total, engine-reproducible order) and keep
    * the best prefix whose cumulative token count fits the source's
    * budget. Sources absent from the spec keep nothing; every input
    * doc keeps an accounted row (doc_id, source, n_tokens, cum_tokens,
    * keep). Returned persisted; callers may unpersist.
    *
    * Scale shape: the per-source running sum is NOT a window — a hot
    * source would put its whole corpus slice in one window partition.
    * Instead the frame is range-partitioned on (source, quality desc,
    * id) and the cumulative sum is a per-source per-partition
    * prefix-sum with driver-merged offsets (the [[packSequences]]
    * technique): one ≤(partitions × source-runs)-row collect, then a
    * narrow pass — a source spanning 500 partitions costs 500 parallel
    * tasks, not one. The result depends only on the total order, not
    * on where range boundaries land, so it replays identically on any
    * cluster. */
  def qualityBudgetSelect(df: DataFrame, budgets: Map[String, Long],
                          idCol: String = "doc_id", srcCol: String = "source",
                          textCol: String = "text"): DataFrame = {
    require(budgets.nonEmpty, "qualityBudgetSelect needs a budget spec")
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val t = qualityScore(df, textCol)
      .select(col(idCol).cast("long").as("id"),
        col(srcCol).cast("string").as("src"), col("quality"),
        tokenCount(col(textCol)).cast("long").as("nt"))
      .repartitionByRange(parts, col("src"), col("quality").desc, col("id"))
      .sortWithinPartitions(col("src"), col("quality").desc, col("id"))
    val rdd = t.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per-(partition, source) token totals — sources are contiguous
      // within a partition after the range sort, so this is tiny
      val runTotals = rdd.mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach(r => m.update(r.getString(1),
          m.getOrElse(r.getString(1), 0L) + r.getLong(3)))
        m.iterator.map { case (s, tot) => (i, s, tot) }
      }.collect()
      val offsets: Map[(Int, String), Long] = runTotals.groupBy(_._2)
        .flatMap { case (s, arr) =>
          val sorted = arr.sortBy(_._1)
          sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._3))
            .map { case (p, off) => (p, s) -> off }
        }
      val bOff = spark.sparkContext.broadcast(offsets)
      val bBud = spark.sparkContext.broadcast(budgets)
      val out = rdd.mapPartitionsWithIndex { (i, it) =>
        var cur: String = null; var cum = 0L
        it.map { r =>
          val s = r.getString(1)
          if (s != cur) { cur = s; cum = bOff.value((i, s)) }
          val nt = r.getLong(3)
          cum += nt
          org.apache.spark.sql.Row(r.getLong(0), s, nt, cum,
            bBud.value.get(s).exists(cum <= _))
        }
      }
      val schema = StructType(Seq(
        StructField(idCol, LongType, nullable = false),
        StructField(srcCol, StringType, nullable = true),
        StructField("n_tokens", LongType, nullable = false),
        StructField("cum_tokens", LongType, nullable = false),
        StructField("keep", BooleanType, nullable = false)))
      val res = spark.createDataFrame(out, schema).persist()
      res.count()
      res
    } finally rdd.unpersist(blocking = false)
  }

  /** Keep/drop filter decision. Thresholds are deliberately NOT round
    * rationals (1931/10⁴, 5931/10⁴): the feature ratios have small-int
    * denominators, so equality with a threshold — the one case where
    * engines could diverge on an exact boundary — is impossible, making
    * the boolean bit-stable across engines (unlike a rounded composite
    * score, whose half-way ties flip on rounding mode). */
  def keepDecision(df: DataFrame, textCol: String = "text"): DataFrame =
    qualityFeatures(df, textCol).withColumn("keep",
      col("n_words") >= 5 && col("punct_ratio") < 0.1931 &&
        col("repetition") < 0.5931)

  /** C4-style rule cleaning (Raffel et al. 2020 §2.2 — the classic
    * crawl-cleaning pass every LLM corpus runs before model-based
    * filtering): per LINE of each document,
    *
    *  - keep only lines ending in terminal punctuation (. ! ? ")
    *  - keep only lines with ≥ `minWords` words
    *  - drop lines containing "javascript" (the enable-JS boilerplate)
    *    or "cookie" policy fragments, case-insensitively
    *
    * and drop the WHOLE document when it contains "lorem ipsum" or a
    * curly brace (leaked code/template). Emits every input row with
    * (n_lines, n_kept, cleaned, doc_dropped) — the decision is data,
    * so the reject path stays auditable (the qualityGateOnIngest
    * posture). A pure narrow map (split + array lambdas, no shuffle —
    * a scan at 100 TB) whose every rule is engine-replayable string
    * algebra: q177's DuckDB oracle replays it exactly. */
  def c4Clean(df: DataFrame, minWords: Int = 3,
              textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keepLine = (l: Column) =>
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, " "), w => length(w) > 0)) >= minWords &&
        !lower(l).contains("javascript") && !lower(l).contains("cookie")
    val kept = filter(lines, keepLine)
    df.withColumn("doc_dropped",
        lower(col(textCol)).contains("lorem ipsum") ||
          col(textCol).contains("{"))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_kept",
        when(col("doc_dropped"), lit(0L)).otherwise(size(kept).cast("long")))
      .withColumn("cleaned",
        when(col("doc_dropped"), lit("")).otherwise(concat_ws("\n", kept)))
  }

  /** Gopher repetition-free quality rules (Rae et al. 2021, Table A1 —
    * the OTHER canonical crawl-filter family, complementary to the C4
    * line rules): per document,
    *
    *  - word count in [minWords, maxWords]
    *  - mean word length in [3, 10] characters
    *  - symbol-to-word ratio (# and ...) ≤ 0.1
    *  - ≤ 90% of lines start with a bullet (•, -, *)
    *  - ≤ 30% of lines end with an ellipsis
    *  - ≥ 80% of words contain at least one alphabetic character
    *  - ≥ 2 distinct stop words from Gopher's 8-word list
    *
    * Every threshold comparison is INTEGER algebra (sum_len ≤
    * 10·n_words, 10·n_bullet ≤ 9·n_lines, …), so no float boundary can
    * flip a boolean between engines — the keepDecision non-round-
    * threshold discipline taken one step further. The ratios are also
    * emitted (rounded, as data) for downstream scoring. A pure narrow
    * map — split + array lambdas, zero shuffles, a scan at 100 TB.
    * Reference analog: the rule-gate stage the reference validates
    * structurally (tests/test_generators.py:32-57 posture); exact
    * DuckDB replay in q181. */
  def gopherRules(df: DataFrame, minWords: Long = 50L,
                  maxWords: Long = 100000L,
                  textCol: String = "text"): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val words = filter(split(col(textCol), "[ \n]"), w => length(w) > 0)
    val lines = split(col(textCol), "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val sumLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val nHash = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))).cast("long")
    val nEllipsis = ((length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3).cast("long")
    val nBullet = size(filter(lines, l => l.rlike("^[•\\-*]"))).cast("long")
    val nEllLine = size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast("long")
    val nAlpha = size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("long")
    val nStop = stops.map(s =>
      when(array_contains(words, s), 1L).otherwise(0L)).reduce(_ + _)
    df.withColumn("n_words", nWords)
      .withColumn("n_lines", nLines)
      .withColumn("mean_word_len",
        round(sumLen.cast("double") / nWords.cast("double"), 6))
      .withColumn("symbol_ratio",
        round((nHash + nEllipsis).cast("double") / nWords.cast("double"), 6))
      .withColumn("n_stopwords", nStop)
      .withColumn("words_ok", nWords >= minWords && nWords <= maxWords)
      .withColumn("word_len_ok",
        sumLen >= lit(3L) * nWords && sumLen <= lit(10L) * nWords)
      .withColumn("symbol_ok", (nHash + nEllipsis) * lit(10L) <= nWords)
      .withColumn("bullet_ok", nBullet * lit(10L) <= nLines * lit(9L))
      .withColumn("ellipsis_ok", nEllLine * lit(10L) <= nLines * lit(3L))
      .withColumn("alpha_ok", nAlpha * lit(10L) >= nWords * lit(8L))
      .withColumn("stop_ok", nStop >= lit(2L))
      .withColumn("gopher_keep",
        col("words_ok") && col("word_len_ok") && col("symbol_ok") &&
          col("bullet_ok") && col("ellipsis_ok") && col("alpha_ok") &&
          col("stop_ok"))
  }

  /** Text normalization (the NFKC-lite canonicalization every corpus
    * runs before tokenizer training so surface variants don't split
    * the vocabulary): lowercase, collapse whitespace runs to one
    * space, collapse repeated terminal punctuation (!!! → !), trim.
    * A pure narrow map of codegen'd string kernels — zero shuffles, a
    * scan at 100 TB.
    *
    * Normalization must be IDEMPOTENT (or re-normalizing merged
    * corpora drifts); the audit is in-plan: `idempotent` recomputes
    * the kernel on its own output and compares — a rule that isn't a
    * fixed point (e.g. a replacement that re-creates its own trigger)
    * flips the boolean, and q186's oracle hash-fails. */
  def normalizeText(df: DataFrame, textCol: String = "text"): DataFrame = {
    // per-char punctuation collapse (no backreferences — the oracle's
    // RE2 engine doesn't support them; identical chains both sides)
    def kernel(c: Column): Column = {
      val ws = regexp_replace(lower(c), "[ \t\n]+", " ")
      val collapsed = Seq("\\.", "!", "\\?", ",", ";", ":")
        .foldLeft(ws)((acc, p) =>
          regexp_replace(acc, p + "{2,}", p.replace("\\", "")))
      trim(collapsed)
    }
    val once = kernel(col(textCol))
    df.withColumn("normalized", once)
      .withColumn("changed", col(textCol) =!= once)
      .withColumn("idempotent", kernel(once) === once)
  }

  /** Multilingual temperature sampling weights (the mC4/mT5 α-sampling
    * rule, Xue et al. 2021 §3.1): per language, sampling weight
    * w_l ∝ p_l^α where p_l is the language's corpus share — α < 1
    * upweights low-resource languages. Emits the share, the
    * normalized weight, the oversample factor w/p (how much the
    * sampler boosts the language), and the expected document count at
    * `budget`. Shape: ONE grouped count, then scalar-frame broadcast
    * crossJoins over the ≤|languages|-row result — aggregate-then-
    * tiny-frame, a scan at 100 TB. Exact oracle (q182). */
  def temperatureWeights(df: DataFrame, alpha: Double = 0.3,
                         budget: Long = 10000L,
                         groupCol: String = "lang"): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum("n_docs").as("n_total"))
    val withP = counts.crossJoin(broadcast(tot))
      .withColumn("p", col("n_docs").cast("double") / col("n_total"))
      .withColumn("pa", pow(col("p"), alpha))
    val spa = withP.agg(sum("pa").as("spa"))
    withP.crossJoin(broadcast(spa))
      .select(col(groupCol), col("n_docs"),
        round(col("p"), 6).as("p"),
        round(col("pa") / col("spa"), 6).as("weight"),
        round(col("pa") / col("spa") / col("p"), 6).as("oversample"),
        round(col("pa") / col("spa") * budget, 6).as("expected_docs"))
  }

  /** Vocabulary-coverage / OOV audit — the tokenizer-fit check a
    * pipeline runs before committing to a vocab: with the corpus's
    * top-`vocabSize` words (count desc, word asc — deterministic at
    * the boundary) as the closed vocabulary, report per document the
    * word count, OOV count and OOV rate. High-OOV documents are the
    * ones a fixed tokenizer will shred into bytes (wrong-language,
    * gibberish, code) — the audit feeds both vocab sizing and doc
    * filtering. One grouped count + a tiny broadcast top-V join + a
    * doc-keyed rollup; scan-class. Exact oracle (q197). */
  def oovAudit(docs: DataFrame, vocabSize: Int = 20,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("w"))
    val top = words.groupBy("w").agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("w").asc).limit(vocabSize)
      .select(col("w"), lit(1).as("_in"))
    words.join(broadcast(top), Seq("w"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(col("_in").isNull.cast("long")).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov") / col("n_words"), 6))
  }

  /** Shard manifest with integrity checksums — the data-logistics
    * artifact a 100 TB corpus ships with: each md5-bucketed shard
    * reports its document count, token count and a CONTENT hash (md5
    * of the per-doc text md5s concatenated in doc_id order), so a
    * re-run, a copy, or a backfill can be verified shard-by-shard
    * without rereading text — two manifests are equal iff the shards'
    * contents are. Shard-keyed aggregate only; the per-shard hash
    * concat is bounded by shard size. Exact oracle (q198). */
  def shardManifest(docs: DataFrame, nShards: Int = 16, seed: Long = 42,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val shard = (conv(substring(md5(concat_ws(":", lit(seed.toString),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      % nShards).cast("int")
    docs.select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .withColumn("_shard", shard)
      .groupBy("_shard").agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("_t"), " ")).cast("long")).as("n_tokens"),
        md5(concat_ws("", transform(
          array_sort(collect_list(struct(col("doc_id"), md5(col("_t")).as("_h")))),
          s => s.getField("_h")))).as("content_hash"))
      .select(col("_shard").as("shard"), col("n_docs"), col("n_tokens"),
        col("content_hash"))
  }

  /** Boilerplate LINE stripping by document frequency (the CCNet §3.1
    * line-level dedup: nav bars, cookie banners and copyright footers
    * repeat across a site's pages, so a line occurring in ≥ `minDocs`
    * DISTINCT documents is boilerplate and is removed from all of
    * them). Differs from [[c4Clean]] (per-line RULES, no corpus
    * context) and from passage dedup (fixed token windows, first copy
    * kept): here the unit is the natural line, the signal is corpus
    * document frequency, and every occurrence goes. Emits every input
    * row: (doc_id, n_lines, n_removed, cleaned).
    *
    * Shape: one line explode → one line-keyed distinct-doc count →
    * anti join → per-doc ordered reassembly (bounded by document
    * size). Line-keyed and doc-keyed only — scan-class at 100 TB.
    * Exact oracle (q195). */
  def stripBoilerplateLines(docs: DataFrame, minDocs: Long = 10,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("lidx", "line")))
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("_df"))
      .filter(col("_df") >= minDocs).select("line")
    val kept = lines.join(boiler, Seq("line"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("_nkept"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("lidx"), col("line")))),
          s => s.getField("line"))).as("cleaned"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("_nkept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Length-distribution MATCHING resample — deterministic importance
    * resampling that reshapes a source corpus's token-length profile
    * to a target/reference corpus's (the distribution-matching baseline
    * DSIR §3 generalizes; a pretraining mix that should "look like"
    * a curated reference starts here). Per length bucket b (token
    * count div `bucketWidth`): importance weight w_b = (t_b/|T|) /
    * (s_b/|S|), normalized by max_b w_b into a keep probability
    * p_b ∈ [0, 1], applied as the md5-threshold Bernoulli of
    * [[deterministicSample]] — so the kept set is replayable on any
    * cluster shape, and the most-underrepresented bucket keeps
    * everything (the max-normalized form retains the largest corpus
    * consistent with the target shape). Buckets absent from the
    * target keep nothing.
    *
    * Shape: two grouped counts (source/target) + tiny-frame broadcast
    * algebra (the q182 posture) + one narrow keep map — two scans at
    * any corpus size. Every arithmetic step is the same expression
    * tree in both engines (exact integer counts → one double division
    * chain → floor at 2⁻³² resolution), so the oracle replays each
    * keep decision exactly (q194). Emits every source row:
    * (doc_id, n_tokens, bucket, p_keep, keep). */
  def lengthMatchResample(source: DataFrame, target: DataFrame,
                          bucketWidth: Int = 10, seed: Long = 42,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    def bucketed(df: DataFrame): DataFrame =
      df.select(size(split(col(textCol), " ")).cast("long").as("n_tokens"))
        .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
    val sCnt = bucketed(source).groupBy("bucket")
      .agg(count(lit(1)).as("_s"))
    val tCnt = bucketed(target).groupBy("bucket")
      .agg(count(lit(1)).as("_t"))
    val sTot = sCnt.agg(sum("_s").as("_stot"))
    val tTot = tCnt.agg(sum("_t").as("_ttot"))
    val w = sCnt.join(tCnt, Seq("bucket"), "left")
      .crossJoin(broadcast(sTot)).crossJoin(broadcast(tTot))
      .withColumn("_w",
        (coalesce(col("_t"), lit(0L)).cast("double") / col("_ttot")) /
          (col("_s").cast("double") / col("_stot")))
    val wMax = w.agg(max("_w").as("_wmax"))
    val p = w.crossJoin(broadcast(wMax))
      .withColumn("p_keep", col("_w") / col("_wmax"))
      .select(col("bucket"), col("p_keep"))
    val thr = when(col("p_keep") >= 1.0, lit("g"))
      .otherwise(lower(lpad(hex(
        floor(col("p_keep") * 4294967296.0).cast("long")), 8, "0")))
    source.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .join(broadcast(p), Seq("bucket"))
      .withColumn("keep",
        md5(concat_ws(":", lit(seed.toString), col(idCol).cast("string")))
          < thr)
      .select(col(idCol), col("n_tokens"), col("bucket"),
        round(col("p_keep"), 6).as("p_keep"), col("keep"))
  }

  /** Loss-based domain reweighting (the DoReMi family, Xie et al.
    * 2023, in its static-loss closed form): domains whose text the
    * reference LM finds harder — higher unigram NLL, the q64/q180
    * oracle-proven score — get exponentially larger mixture weight,
    * w_s ∝ exp(η·NLL_s). With a fixed per-domain loss vector the
    * exponentiated-gradient iteration has exactly this fixed point, so
    * the closed form IS the converged EG answer (documented, not
    * approximated). Max-subtraction before exp is replayed identically
    * in both engines (softmax stability without breaking equality).
    * `upweight` = weight / corpus share — the boost over proportional
    * sampling. Tiny-frame algebra after one NLL aggregate; exact
    * oracle (q183). */
  def domainMixWeights(df: DataFrame, eta: Double = 1.0,
                       sourceCol: String = "source"): DataFrame = {
    val nll = unigramLogLik(df)
    val bySrc = df.select(col("doc_id"), col(sourceCol))
      .join(nll, "doc_id")
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("avg_nll")), 6).as("avg_nll"))
    val tot = bySrc.agg(sum("n_docs").as("n_total"),
      max("avg_nll").as("max_nll"))
    val withE = bySrc.crossJoin(broadcast(tot))
      .withColumn("p", col("n_docs").cast("double") / col("n_total"))
      .withColumn("e", exp((col("avg_nll") - col("max_nll")) * eta))
    val se = withE.agg(sum("e").as("se"))
    withE.crossJoin(broadcast(se))
      .select(col(sourceCol), col("n_docs"), col("avg_nll"),
        round(col("e") / col("se"), 6).as("weight"),
        round(col("e") / col("se") / col("p"), 6).as("upweight"))
  }

  /** Corpus-wide top-k n-grams with occurrence and document frequency —
    * the memorization/contamination audit a curator runs before
    * training ("which exact phrases dominate the corpus?").
    *
    * Shape: explode n-grams → one grouped aggregate keyed by gram
    * (count partial-combines map-side; the single DISTINCT doc_id
    * aggregate plans as a two-phase partial-distinct on (gram, doc))
    * → global top-k as TakeOrderedAndProject, so only k rows ever
    * reach the driver side of the sort. Total order (cnt DESC, gram
    * ASC) makes the boundary cut deterministic. Scan-class at 100 TB:
    * every shuffle is keyed by gram, no corpus-wide window. */
  def topKNgrams(df: DataFrame, n: Int = 2, k: Int = 20,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1 && k >= 1, s"n and k must be >= 1, got n=$n k=$k")
    val t = col("_t")
    val grams = df
      .select(col(idCol), filter(split(col(textCol), " "), w => length(w) > 0).as("_t"))
      .filter(size(t) >= n)
      .select(col(idCol), explode(transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + lit(1), lit(n))))).as("gram"))
    grams.groupBy("gram")
      .agg(count(lit(1)).as("cnt"), countDistinct(col(idCol)).as("n_docs"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(k)
  }

  /** Top-k collocations by pointwise mutual information — bigrams whose
    * words co-occur far more than their unigram frequencies predict
    * (named entities, idioms, boilerplate templates). minCount prunes
    * the unstable low-count tail BEFORE any join.
    *
    * PMI = ln( p(xy) / (p(x)·p(y)) ) with p(xy) over bigram slots and
    * p(x) over unigram tokens. The two corpus totals come from one
    * lightweight aggregate action; the per-word counts join onto the
    * (already minCount-pruned) bigram counts keyed by word — bounded by
    * the surviving-bigram vocabulary, never the corpus. Final top-k is
    * TakeOrderedAndProject on (pmi DESC, w1, w2).
    *
    * FP contract (the qualityScore / q64 discipline): the PMI
    * expression tree is division/multiplication over exactly-
    * representable longs — bit-identical in any IEEE engine evaluating
    * the same shape — followed by one `ln`. The ORDER BY uses the
    * unrounded value: equal (pair_n, left_n, right_n) triples produce
    * bit-equal doubles broken by the word tiebreak, so cross-engine
    * ordering agrees; the OUTPUT ships round(pmi, 6). */
  def pmiCollocations(df: DataFrame, k: Int = 20, minCount: Int = 5,
                      textCol: String = "text"): DataFrame = {
    require(k >= 1 && minCount >= 1, s"k and minCount must be >= 1, got k=$k minCount=$minCount")
    val t = col("_t")
    val toks = df.select(filter(split(col(textCol), " "), w => length(w) > 0).as("_t"))
    val totals = toks.agg(
      sum(size(t)).as("n_uni"),
      sum(greatest(size(t) - 1, lit(0))).as("n_bi")).head()
    val nUni = totals.getLong(0)
    val nBi = totals.getLong(1)
    val uni = toks.select(explode(t).as("w")).groupBy("w").agg(count(lit(1)).as("c"))
    val bi = toks.filter(size(t) >= 2)
      .select(explode(transform(sequence(lit(0), size(t) - 2),
        i => struct(element_at(t, i + lit(1)).as("w1"),
          element_at(t, i + lit(2)).as("w2")))).as("_p"))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minCount)
    val joined = bi
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "left_n"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "right_n"), Seq("w2"))
    val pmi = log((col("pair_n").cast("double") / lit(nBi.toDouble)) /
      ((col("left_n").cast("double") / lit(nUni.toDouble)) *
        (col("right_n").cast("double") / lit(nUni.toDouble))))
    joined.select(col("w1"), col("w2"), col("pair_n"), col("left_n"),
        col("right_n"), pmi.as("_pmi"))
      .orderBy(col("_pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("pair_n"), col("left_n"),
        col("right_n"), round(col("_pmi"), 6).as("pmi"))
  }

  /** Zipf rank-frequency fit over the top-V corpus terms: OLS of
    * ln(freq) on ln(rank). Natural corpora sit near slope ≈ −1; a
    * corpus drifting toward 0 is template/boilerplate-heavy, one far
    * below −1 has had its tail clipped — a one-row corpus health check.
    *
    * Shape: term counts (gram-keyed shuffle, partial-combined) →
    * top-V via TakeOrderedAndProject → rank + OLS sums on the BOUNDED
    * V-row frame (the unpartitioned window touches ≤ topV rows by
    * construction, never the corpus). The slope/intercept come from
    * explicit Σx/Σy/Σxx/Σxy so the oracle can evaluate the identical
    * expression shape; cross-engine drift is ulp-scale summation order
    * over ≤ topV well-scaled log terms, invisible at 6dp. */
  def zipfFit(df: DataFrame, topV: Int = 100, textCol: String = "text"): DataFrame = {
    require(topV >= 2, s"topV must be >= 2, got $topV")
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(explode(filter(split(col(textCol), " "), w => length(w) > 0)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(topV)
    val ranked = tf.withColumn("r",
      row_number().over(Window.orderBy(col("cnt").desc, col("term").asc)))
    val x = log(col("r").cast("double"))
    val y = log(col("cnt").cast("double"))
    ranked
      .agg(count(lit(1)).as("n_terms"), sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * x).as("_sxx"), sum(x * y).as("_sxy"))
      .withColumn("_slope",
        (col("_sxy") - col("_sx") * col("_sy") / col("n_terms")) /
          (col("_sxx") - col("_sx") * col("_sx") / col("n_terms")))
      .select(col("n_terms"), round(col("_slope"), 6).as("slope"),
        round((col("_sy") - col("_slope") * col("_sx")) / col("n_terms"), 6)
          .as("intercept"))
  }

  /** Per-document average NLL under an add-α-smoothed corpus bigram
    * LM — the CCNet-style quality scorer one order up from
    * [[unigramLogLik]]: a doc of common words in UNCOMMON order (shuffled
    * boilerplate, keyword stuffing) scores high where the unigram model
    * is blind. p(w₂|w₁) = (c(w₁w₂)+α)/(c(w₁)+α·V) with V the unigram
    * vocabulary; contexts use plain unigram counts (the usual
    * simplification — probabilities need only rank docs, not sum to 1).
    *
    * Shape: one bigram explode feeds both the per-doc and the corpus
    * bigram counts ((doc,)w₁,w₂-keyed, map-side partials); unigram
    * counts join on the left word; V is one count action. All shuffles
    * key on words — scan-class at any corpus size. Docs with < 2
    * tokens have no bigram slots and emit no row (the q64 convention).
    *
    * FP contract: counts are longs, α and α·V are the same literals in
    * the oracle, the division tree has identical shape, and ln +
    * round(,6) is the q64 discipline. */
  def bigramLogLik(df: DataFrame, alpha: Double = 0.1,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val t = col("_t")
    val toks = df.select(col(idCol),
      filter(split(col(textCol), " "), w => length(w) > 0).as("_t"))
    val bg = toks.filter(size(t) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(0), size(t) - 2),
        i => struct(element_at(t, i + lit(1)).as("w1"),
          element_at(t, i + lit(2)).as("w2")))).as("_p"))
      .select(col(idCol), col("_p.w1").as("w1"), col("_p.w2").as("w2"))
    val db = bg.groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val cu = toks.select(explode(t).as("w1")).groupBy("w1").agg(count(lit(1)).as("c1"))
    val vsz = cu.count()
    val nll = log((col("c12") + lit(alpha)) /
      (col("c1") + lit(alpha) * lit(vsz.toDouble)))
    db.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_bigrams"),
        round(-sum(col("c") * nll) / sum(col("c")), 6).as("avg_nll"))
  }

  /** Robust per-source length outliers: median/MAD z-score on token
    * counts. Unlike mean/stddev, the median–MAD pair is immune to the
    * very outliers it hunts — the standard robust filter for truncated
    * and concatenated documents.
    *
    * `exact = true` (the oracle-parity default) uses Spark's exact
    * `percentile` aggregate, which buffers each GROUP's values — fine
    * while every source fits an executor, which a per-SOURCE group at
    * 100 TB may not. The scale path is `exact = false`:
    * `approx_percentile` keeps a bounded sketch per group and the same
    * two-aggregate shape. Both routes: two grouped aggregates keyed by
    * source plus two broadcast joins of the tiny per-source stats —
    * the corpus itself is scanned, never shuffled.
    *
    * FP contract: token counts are longs; an interpolated median is
    * k or k.5 and the MAD is a quarter-integer — all exact binary —
    * so `dev`, the 1.4826·mad product and the z division are each
    * single correctly-rounded ops, bit-identical cross-engine, and the
    * rounded z (hence the strict > threshold) is deterministic. z is
    * NULL (and is_outlier false) for a degenerate source with MAD 0. */
  def lengthOutliers(df: DataFrame, zThresh: Double = 3.0, exact: Boolean = true,
                     idCol: String = "doc_id", srcCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    val base = df.select(col(idCol), col(srcCol),
      size(filter(split(col(textCol), " "), w => length(w) > 0)).cast("long")
        .as("n_tokens"))
    // approx_percentile preserves the input's integer type where exact
    // percentile interpolates to double — cast so both routes share a schema.
    def median(c: String): Column =
      (if (exact) expr(s"percentile($c, 0.5)")
       else expr(s"approx_percentile($c, 0.5)")).cast("double")
    val perSrcMed = base.groupBy(srcCol).agg(median("n_tokens").as("med"))
    val withDev = base.join(broadcast(perSrcMed), Seq(srcCol))
      .withColumn("_dev", abs(col("n_tokens") - col("med")))
    val perSrcMad = withDev.groupBy(srcCol).agg(median("_dev").as("mad"))
    withDev.join(broadcast(perSrcMad), Seq(srcCol))
      .withColumn("z", when(col("mad") > 0.0,
        round((col("n_tokens") - col("med")) / (lit(1.4826) * col("mad")), 6)))
      .withColumn("is_outlier", coalesce(abs(col("z")) > zThresh, lit(false)))
      .select(col(idCol), col(srcCol), col("n_tokens"), col("med"), col("mad"),
        col("z"), col("is_outlier"))
  }
  /** Overlapping sliding-window chunking — the RAG / long-context
    * pre-processing staple: each document's whitespace tokens are cut
    * into windows of `size` tokens advancing by `stride` (overlap =
    * size − stride), the last window being the FIRST one that reaches
    * the document's end (no degenerate tail chunks that are pure
    * suffixes of their predecessor). Emits (doc, chunk_idx, n_tokens,
    * chunk_md5) — the md5 stands in for the chunk payload so the
    * frame stays narrow; a real pipeline projects the text instead.
    *
    * Pure narrow map: split, a bounded per-doc index explode
    * (≤ ⌈len/stride⌉ rows), slice + hash — no shuffle anywhere, a
    * scan at 100 TB. Chunk-grain dedup (q68's passage operator) and
    * ANN indexing (q29/q56) compose directly on the output key
    * (doc_id, chunk_idx).
    */
  def chunkDocuments(df: DataFrame, size: Int = 64, stride: Int = 48,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    // last start index: smallest i with i*stride + size >= n, clamped
    // at 0 — ceil((n-size)/stride) in integer arithmetic. Both trunc
    // (Spark div) and floor (SQL //) division agree after the clamp.
    val base = df
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .withColumn("_n", org.apache.spark.sql.functions.size(col("_toks")))
      .filter(col("_n") >= 1)
      .withColumn("_last", greatest(lit(0),
        expr(s"(_n - $size + $stride - 1) div $stride")))
    base
      .select(col(idCol), col("_toks"), col("_n"),
        explode(sequence(lit(0), col("_last"))).as("chunk_idx"))
      .withColumn("_chunk",
        slice(col("_toks"), col("chunk_idx") * stride + 1, lit(size)))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        org.apache.spark.sql.functions.size(col("_chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("_chunk"))).as("chunk_md5"))
  }

  /** Flesch-style readability score — the classic quality-audit
    * companion to [[qualityScore]]: 206.835 − 1.015·(words/sentences)
    * − 84.6·(syllables/word), with syllables approximated PER WORD as
    * greatest(1, vowel groups in the word) — the standard heuristic
    * (exact syllabification needs a dictionary) with the ≥1 clamp
    * applied to each word, so a vowel-less token ("Dr", "7") counts
    * one syllable without stealing it from a polysyllabic neighbor —
    * and sentence count by [.!?]+ runs clamped to ≥1. A pure narrow
    * map of per-word regexp counts — a scan at 100 TB, and every
    * count is replayable in any engine with the same regexes.
    */
  def readability(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val wordList = filter(split(col(textCol), " "), w => length(w) > 0)
    val words = org.apache.spark.sql.functions.size(wordList)
    val sentences = greatest(lit(1),
      org.apache.spark.sql.functions.size(
        filter(split(col(textCol), "[.!?]+"), s => length(trim(s)) > 0)))
    val syllables = aggregate(wordList, lit(0L), (acc, w) =>
      acc + greatest(lit(1L), org.apache.spark.sql.functions.size(
        regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))).cast("long")))
    df.select(col(idCol), words.cast("long").as("n_words"),
        sentences.cast("long").as("n_sentences"),
        syllables.as("n_syllables"))
      .filter(col("n_words") >= 1)
      .withColumn("flesch", round(
        lit(206.835) -
          lit(1.015) * (col("n_words") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables") / col("n_words")), 6))
  }

  /** Character-class profile — the script/encoding audit a corpus
    * ingest runs before language ID (a doc that is 60 % digits or
    * control bytes needs no langid pass): per-document counts and
    * ratios of letters, digits, whitespace, and everything else, plus
    * the `mostly_alpha` gate. Three regexp counts per row — a codegen
    * narrow map, a scan at 100 TB, byte-replayable in any regex
    * engine (ASCII classes only, no Unicode-property escapes whose
    * semantics differ across engines). */
  def scriptProfile(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    def cnt(pattern: String) = org.apache.spark.sql.functions.size(
      regexp_extract_all(col(textCol), lit(pattern), lit(0))).cast("long")
    df.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"),
        cnt("[A-Za-z]").as("n_letter"), cnt("[0-9]").as("n_digit"),
        cnt("[ \\t\\n\\r]").as("n_space"))
      .filter(col("n_chars") >= 1)
      .withColumn("n_other",
        col("n_chars") - col("n_letter") - col("n_digit") - col("n_space"))
      .withColumn("r_letter", round(col("n_letter") / col("n_chars"), 6))
      .withColumn("r_digit", round(col("n_digit") / col("n_chars"), 6))
      .withColumn("mostly_alpha", col("n_letter") * 2 > col("n_chars"))
  }

  /** Keyness: which terms are CHARACTERISTIC of one source vs the rest
    * of the corpus — log-odds ratio with a uniform Dirichlet prior and
    * its z-score (Monroe, Colaresi & Quinn 2008, "Fightin' Words"),
    * the statistically-grounded replacement for raw TF-IDF diffing
    * when comparing subcorpora. Per (source, term):
    * δ = ln((f_s+α)/(N_s+Aα−f_s−α)) − ln((f_r+α)/(N_r+Aα−f_r−α)),
    * z = δ/√(1/(f_s+α)+1/(f_r+α)), top-k by z per source. Two
    * term-keyed aggregates + a broadcast of per-source totals + a
    * per-group top-k window — shuffles bounded by the vocabulary. */
  def keyness(df: DataFrame, k: Int = 10, alpha: Double = 0.5,
              sourceCol: String = "source", idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val terms = df.select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val bySrc = terms.groupBy("source", "term").agg(count(lit(1)).as("f_s"))
    val byTerm = bySrc.groupBy("term").agg(sum("f_s").as("f_tot"))
    val totals = bySrc.groupBy("source").agg(sum("f_s").as("n_s"))
    val nTot = totals.agg(sum("n_s")).collect()(0).getLong(0)
    val vocab = byTerm.count()
    val aTot = alpha * vocab
    val scored = bySrc
      .join(broadcast(totals), "source")
      .join(byTerm, "term")
      .withColumn("f_r", col("f_tot") - col("f_s"))
      .withColumn("n_r", lit(nTot) - col("n_s"))
      .withColumn("delta",
        log((col("f_s") + alpha) / (col("n_s") + aTot - col("f_s") - alpha)) -
        log((col("f_r") + alpha) / (col("n_r") + aTot - col("f_r") - alpha)))
      .withColumn("z", round(col("delta") /
        sqrt(lit(1.0) / (col("f_s") + alpha) + lit(1.0) / (col("f_r") + alpha)), 6))
    scored
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("source").orderBy(col("z").desc, col("term"))))
      .filter(col("rn") <= k)
      .select(col("source"), col("term"), col("f_s"), col("z"),
        col("rn").cast("long").as("rn"))
  }

  /** Quantile normalization of document length within each source:
    * percent_rank of the token count per source (ties broken by doc_id
    * for engine-identical ranking) — maps every source's length
    * distribution onto [0,1] so cross-source length filters compare
    * like with like (a "long" doc in a tweets source is "short" in a
    * books source). One rank window per source partition. */
  def quantileNormalize(df: DataFrame, sourceCol: String = "source",
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("n_tok").asc, col("doc_id").asc)
    df.select(col(sourceCol).as("source"), col(idCol).as("doc_id"),
        org.apache.spark.sql.functions.size(
          filter(split(col(textCol), " "), x => length(x) > 0))
          .cast("long").as("n_tok"))
      .withColumn("qnorm", round(percent_rank().over(w), 6))
  }

  /** Per-group winsorization audit: each group's `valCol` is clamped
    * to its own [lo, hi] exact quantiles (linear interpolation — the
    * `percentile` ≡ `quantile_cont` definition) and the group reports
    * raw vs winsorized means beside the clamp bounds — the outlier-
    * robust summary a corpus-stats pass emits per source before
    * length-based filtering is tuned.
    *
    * Shape: one group-keyed exact-percentile aggregate (per-group
    * state bounded by that group's distinct values — the q67 length-
    * quantiles contract), broadcast back onto the rows (≤|groups|
    * rows), and one group-keyed mean aggregate. The table is scanned
    * twice, shuffled only on the group key. At sketch-tolerant scale
    * swap the exact percentile for approx_percentile unchanged. */
  def winsorizedStats(df: DataFrame, groupCol: String = "source",
                      valCol: String = "n_chars",
                      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"bad quantile range [$lo, $hi]")
    val v = df.select(col(groupCol).as("grp"), col(valCol).cast("double").as("_v"))
    val qs = v.groupBy("grp").agg(
      percentile(col("_v"), lit(lo)).as("_plo"),
      percentile(col("_v"), lit(hi)).as("_phi"))
    v.join(broadcast(qs), "grp")
      .withColumn("_w", greatest(col("_plo"), least(col("_phi"), col("_v"))))
      .groupBy(col("grp").as(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        round(first(col("_plo")), 6).as("p_lo"),
        round(first(col("_phi")), 6).as("p_hi"),
        round(avg(col("_v")), 6).as("mean_raw"),
        round(avg(col("_w")), 6).as("mean_winsorized"))
  }

  /** Deterministic stratified train/val/test split: every document
    * draws u = md5("split:"‖doc_id) and lands in train below the
    * `pTrain` hex threshold, val below `pTrain+pVal`, else test —
    * the [[deterministicSample]] mechanism extended to a 3-way
    * assignment, stratified by construction (the hash is uniform
    * within every source slice). A narrow map, replayable anywhere,
    * immune to repartitioning — the property that matters when the
    * split must stay stable across pipeline re-runs at 100 TB. */
  def splitAssign(df: DataFrame, pTrain: Double = 0.8, pVal: Double = 0.1,
                  idCol: String = "doc_id", seed: Long = 42): DataFrame =
    df.select(col(idCol), splitLabel(col(idCol), pTrain, pVal, seed).as("split"))

  /** The split label as a pure Column — the form a streaming ingest
    * stamps per-row without a join or state (see
    * [[graft.streaming.DocsStream.splitOnIngest]]). */
  /** Leakage-safe train/val/test splits — the dedup-aware form of
    * [[splitAssign]]: documents in the same NEAR-DUP cluster (connected
    * component of the supplied pair graph, [[Dedup.dupClusters]]) are
    * assigned by their cluster representative's hash, so a document and
    * its paraphrase can never straddle train and test (the eval-leakage
    * failure mode per-doc hashing is structurally blind to — the whole
    * reason dedup-before-split is a rule). Docs in no pair split by
    * their own id, which equals the degenerate one-member-cluster case.
    * Emits (doc_id, group_id, split) for every doc.
    *
    * Scale: the pair graph is O(dups), cluster resolution is
    * [[Dedup.dupClusters]]'s routed union-find/GraphX; the split
    * itself stays the stateless md5 bucketing. Exact oracle (q196:
    * the q44 recursive-CTE components + the q143 threshold algebra). */
  def leakageSafeSplits(spark: org.apache.spark.sql.SparkSession,
                        docs: DataFrame, pairs: DataFrame,
                        pTrain: Double = 0.8, pVal: Double = 0.1,
                        idCol: String = "doc_id",
                        seed: Long = 42): DataFrame = {
    val clusters = Dedup.dupClusters(spark, pairs)
      .select(col("doc_id"), col("keep_id"))
    docs.select(col(idCol).as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("keep_id"), col("doc_id")))
      .select(col("doc_id"), col("group_id"),
        splitLabel(col("group_id"), pTrain, pVal, seed).as("split"))
  }

  def splitLabel(id: Column, pTrain: Double = 0.8, pVal: Double = 0.1,
                 seed: Long = 42): Column = {
    require(pTrain > 0 && pVal >= 0 && pTrain + pVal < 1.0,
      s"need 0 < pTrain, 0 <= pVal, pTrain+pVal < 1, got $pTrain/$pVal")
    val u = md5(concat_ws(":", lit("split"), lit(seed.toString),
      id.cast("string")))
    when(u < lit(hexThreshold(pTrain)), "train")
      .when(u < lit(hexThreshold(pTrain + pVal)), "val")
      .otherwise("test")
  }

  /** Pairwise source VOCABULARY overlap: |A|, |B|, |A∩B| and Jaccard
    * over distinct token sets — the set-theoretic companion to
    * [[jsDivergence]]'s distributional distance ("do these sources
    * even share words?" before "do they use them alike?"). The
    * intersection comes from a term-keyed self-join of the distinct
    * (source, term) table: each term's posting list is the ≤|sources|
    * sources containing it, so the join emits at most |sources|²/2
    * rows per term — vocabulary-bound, never corpus-bound. */
  def sourceOverlap(df: DataFrame, sourceCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val st = df.select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = st.select(col("source").as("src_a"), col("term"))
      .join(st.select(col("source").as("src_b"), col("term")), "term")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))),
        "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))),
        "src_b")
      .select(col("src_a"), col("src_b"), col("na"), col("nb"), col("n_common"),
        round(col("n_common") /
          (col("na") + col("nb") - col("n_common")), 6).as("jaccard"))
  }

  /** Per-source distinct-token audit: the exact count beside Spark's
    * HLL++ `approx_count_distinct`, with the sketch's accuracy as a
    * pinned boolean (|est − exact| ≤ 3·rsd·exact — three standard
    * errors of the configured sketch, deterministic for fixed data).
    * The exact side is the oracle-replayable column; the estimate is
    * what survives at 100 TB where exact count-distinct's Expand
    * blow-up doesn't (the q84/q115 reasoning, now per group). */
  def hllDistinctAudit(df: DataFrame, rsd: Double = 0.05,
                       sourceCol: String = "source",
                       textCol: String = "text"): DataFrame =
    df.select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("source")
      .agg(countDistinct(col("term")).as("n_distinct"),
        approx_count_distinct(col("term"), rsd).as("_est"))
      .select(col("source"), col("n_distinct"),
        (abs(col("_est") - col("n_distinct")) <=
          lit(3 * rsd) * col("n_distinct")).as("hll_ok"))

  /** Gini coefficient of the per-document token-count distribution
    * within each source — the corpus-inequality diagnostic ("is this
    * source a few huge documents or many small ones?") that decides
    * whether downsampling should be doc-level or token-level.
    * G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over the ascending-ordered
    * counts (ties broken by doc_id so both engines rank identically).
    * One token-count aggregate + a per-source rank window + a
    * per-source aggregate — all shuffles key on source. */
  def giniTokens(df: DataFrame, sourceCol: String = "source",
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perDoc = df.select(col(sourceCol).as("source"), col(idCol).as("doc_id"),
      org.apache.spark.sql.functions.size(
        filter(split(col(textCol), " "), w => length(w) > 0))
        .cast("long").as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("n_tok").asc, col("doc_id").asc)
    perDoc.withColumn("i", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"),
        sum(col("i") * col("n_tok")).as("_iwx"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(lit(2.0) * col("_iwx") / (col("n_docs") * col("total_tokens"))
          - (col("n_docs") + 1.0) / col("n_docs"), 6).as("gini"))
  }

  /** Pairwise Jensen–Shannon divergence between the unigram
    * distributions of each source pair — the standard corpus-distance
    * measure behind mixture design ("how redundant are these two
    * sources?"). Pure dataflow, no driver loop over pairs: the
    * (source<source) pair frame is a tiny self-join of the distinct
    * source list, crossed with the vocabulary and left-joined to the
    * per-source probabilities; terms absent from both sides of a pair
    * drop out (0·ln0 ≡ 0 handled by the positivity guards). Shuffles
    * key on term; the pair×vocab frame is |pairs|·V rows — bounded by
    * the vocabulary, not the corpus. */
  def jsDivergence(df: DataFrame, sourceCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    val counts = df.select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("source").agg(sum("cnt").as("n"))
    val p = counts.join(broadcast(totals), "source")
      .select(col("source"), col("term"), (col("cnt") / col("n")).as("p"))
    val sources = totals.select("source")
    val pairs = broadcast(sources.select(col("source").as("src_a"))
      .crossJoin(sources.select(col("source").as("src_b")))
      .filter(col("src_a") < col("src_b")))
    val vocab = counts.select("term").distinct()
    val grid = pairs.crossJoin(vocab)
      .join(p.select(col("source").as("src_a"), col("term"),
        col("p").as("pa")), Seq("src_a", "term"), "left")
      .join(p.select(col("source").as("src_b"), col("term"),
        col("p").as("pb")), Seq("src_b", "term"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("pa"), lit(0.0)).as("pa"),
        coalesce(col("pb"), lit(0.0)).as("pb"))
      .filter(col("pa") + col("pb") > 0)
    grid.withColumn("m", (col("pa") + col("pb")) / 2)
      .groupBy("src_a", "src_b")
      .agg(round(sum(
        when(col("pa") > 0, lit(0.5) * col("pa") * log(col("pa") / col("m")))
          .otherwise(0.0) +
        when(col("pb") > 0, lit(0.5) * col("pb") * log(col("pb") / col("m")))
          .otherwise(0.0)), 6).as("jsd"),
        count(lit(1)).as("n_terms_union"))
  }

  /** Compressibility filter: per-document gzip ratio
    * (deflated bytes / raw bytes) — the cheap entropy proxy corpus
    * pipelines use to drop boilerplate and generated spam (highly
    * compressible) and binary junk (incompressible). A pure narrow
    * map; gzip output is not SQL-replayable, so the query form pins
    * invariant booleans (ratio within (0, 2]; a fixed 20-byte floor of
    * gzip header+trailer overhead) beside the exact byte count. */
  def compressRatio(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val gz = udf { (t: String) =>
      if (t == null) 0L
      else {
        val baos = new java.io.ByteArrayOutputStream()
        val os = new java.util.zip.GZIPOutputStream(baos)
        os.write(t.getBytes("UTF-8")); os.close()
        baos.size().toLong
      }
    }
    df.select(col(idCol),
        octet_length(col(textCol)).cast("long").as("n_bytes"),
        gz(col(textCol)).as("gz_bytes"))
      .filter(col("n_bytes") >= 1)
      .withColumn("ratio", round(col("gz_bytes") / col("n_bytes"), 6))
  }

  /** Heaps-law vocabulary growth: the cumulative (tokens seen, distinct
    * terms seen) curve in doc_id order, with the log-log OLS fit
    * V ≈ k·Nᵝ broadcast onto every row (the q75 Zipf companion — the
    * two laws together are the standard corpus-scale diagnostic).
    * First occurrences are a term-keyed min aggregate, so "new terms
    * per doc" is one shuffle; the prefix sums use one ordered window
    * over the per-DOC frame (bounded by corpus doc count, not token
    * count — the denseIndex range-partitioned prefix-sum swap applies
    * beyond driver scale, documented at GraphOps.denseIndex). */
  def vocabGrowth(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val firstDoc = toks.groupBy("term").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_new"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val curve = perDoc.join(firstDoc, Seq("doc_id"), "left")
      .withColumn("cum_tokens", sum("n_tok").over(w))
      .withColumn("cum_vocab", sum(coalesce(col("n_new"), lit(0L))).over(w))
      .select(col("doc_id"), col("cum_tokens"), col("cum_vocab"))
    // CENTERED log-log OLS: β = Σ(x−x̄)(y−ȳ)/Σ(x−x̄)². The raw-moment
    // form (n·sxy − sx·sy)/(n·sxx − sx²) cancels two ~equal O(n²x̄²)
    // terms — fine at 500 docs, but at the 50k-doc scale point the
    // cancellation left ~1e-7 relative error that exp() amplified into
    // a 6th-decimal heaps_k mismatch between engines (caught by the
    // r7 sf1-equivalent oracle run). Centering first makes both
    // engines sum small same-sign terms; the oracle uses the identical
    // two-pass form.
    val xy = curve.filter(col("cum_tokens") > 0 && col("cum_vocab") > 0)
      .select(log("cum_tokens").as("x"), log("cum_vocab").as("y"))
    val means = xy.agg(avg("x").as("mx"), avg("y").as("my"))
    val fit = xy.crossJoin(broadcast(means))
      .agg(first("mx").as("mx"), first("my").as("my"),
        sum((col("x") - col("mx")) * (col("y") - col("my"))).as("sxy"),
        sum((col("x") - col("mx")) * (col("x") - col("mx"))).as("sxx"))
      .select((col("sxy") / col("sxx")).as("beta"), col("mx"), col("my"))
      .select(round(col("beta"), 6).as("heaps_beta"),
        round(exp(col("my") - col("beta") * col("mx")), 6).as("heaps_k"))
    curve.crossJoin(broadcast(fit))
  }

  /** Character n-grams of `textCol` as an exploded (id, gram) frame —
    * the feature map under the TRAINED language ID below. Sliding
    * window of width `n` (length−n+1 grams per doc), pure narrow map.
    * `sequence` is guarded: Spark generates DESCENDING sequences when
    * start > stop, so a doc shorter than `n` must produce an empty
    * array, not a reversed one. */
  def charNgrams(text: Column, n: Int = 2): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(text) - lit(n - 1)),
        i => text.substr(i, lit(n))))

  /** TRAINED character-n-gram language ID (r14 verdict #8 — the
    * production-credible upgrade over [[languageId]]'s three-stopword
    * heuristic, reference language handling at utils/text cleanup
    * scope): a multinomial Naive Bayes over char n-grams (the
    * Cavnar–Trenkle 1994 feature space with NB scoring), trained as a
    * pure DataFrame aggregation so the oracle can replay every weight.
    *
    * Returns (lang, gram, logp, floor_logp): Laplace-smoothed
    * log-likelihoods ln((c+1)/(tot_lang+V)) with V the TRAIN-corpus
    * distinct-gram vocabulary; `floor_logp` = ln(1/(tot_lang+V)) is
    * the unseen-gram mass, constant per language. Model size is
    * bounded by charset² × languages regardless of corpus size —
    * broadcast-joinable at any scale, so scoring 100 TB is a narrow
    * map + one broadcast join + a bounded per-doc aggregate. */
  def langProfileTrain(train: DataFrame, langCol: String = "lang",
                       textCol: String = "text", n: Int = 2): DataFrame = {
    val grams = train.select(col(langCol).as("lang"),
        explode(charNgrams(col(textCol), n)).as("gram"))
    // the gram count table feeds THREE readers (profile rows, per-lang
    // totals, vocabulary size); persisted, or Catalyst replays the
    // whole train-corpus explode+aggregate once per reader (measured:
    // 3 full corpus passes at sf0.1). Both it and the returned model
    // are bounded by charset^n × languages — model-sized, not
    // corpus-sized — so the model materializes EAGERLY here and the
    // count cache is dropped before returning; scoring-side readers
    // (broadcast twice by langProfileId) then hit the model cache.
    val counts = grams.groupBy("lang", "gram").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = counts.groupBy("lang").agg(sum("c").as("tot"))
    val vocab = counts.select("gram").distinct()
      .agg(count(lit(1)).as("v"))
    val profile = counts.join(totals, "lang").crossJoin(broadcast(vocab))
      .select(col("lang"), col("gram"),
        log((col("c") + lit(1)) / (col("tot") + col("v"))).as("logp"),
        log(lit(1) / (col("tot") + col("v"))).as("floor_logp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    profile.count()
    counts.unpersist(blocking = false)
    profile
  }

  /** Score `docs` against a [[langProfileTrain]] profile and emit the
    * argmax language per document: per (doc, lang), Σ over the doc's
    * grams of c·logp (unseen grams at the language's floor), ties
    * broken by language code so the argmax is deterministic. The
    * profile side is broadcast (bounded by charset²·langs); the doc
    * side shuffles once on (id, lang) — scan-class at any corpus
    * size. */
  def langProfileId(docs: DataFrame, profile: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 2): DataFrame = {
    val tf = docs.select(col(idCol).as("_id"),
        explode(charNgrams(col(textCol), n)).as("gram"))
      .groupBy("_id", "gram").agg(count(lit(1)).as("c"))
    val floors = profile.select("lang", "floor_logp").distinct()
    val scored = tf.crossJoin(broadcast(floors))
      .join(broadcast(profile.select("lang", "gram", "logp")),
        Seq("lang", "gram"), "left")
      .groupBy("_id", "lang")
      .agg(sum(col("c") * coalesce(col("logp"), col("floor_logp")))
        .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_id").orderBy(col("score").desc, col("lang"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("_id").as(idCol), col("lang").as("lang_pred"))
  }
}
