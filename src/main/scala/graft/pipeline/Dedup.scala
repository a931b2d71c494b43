package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash. All deterministic
  * (hash-based, no RNG state) so results replay identically on any
  * cluster topology.
  *
  * Scale notes: exact dedup is one hash aggregate on a fingerprint
  * column (never on raw text). The Jaccard path joins on shared
  * shingles — quadratic only within a shingle's posting list, the
  * standard bound. MinHash/LSH replaces that with band-bucket joins:
  * candidate pairs are generated per band key (O(dups) not O(n²)) and
  * then verified with the true Jaccard.
  */
object Dedup {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles (distinct). Built by zipping n shifted slices
    * of the token array element-wise rather than indexing with a
    * positional lambda: a lambda body re-evaluates every non-attribute
    * subtree per element, so the old `element_at(t, i+j)` form re-ran
    * `split` per shingle — O(T²) per document, real money on 10k-token
    * docs at corpus scale. The slices are evaluated once per row; the
    * zip lambda touches only its own variable. Documents with fewer
    * than n tokens yield an empty array (slice length clamps at 0). */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    val len = greatest(size(t) - (n - 1), lit(0))
    val zipped = arrays_zip((0 until n).map(j => slice(t, lit(j + 1), len)): _*)
    array_distinct(transform(zipped,
      s => concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*)))
  }

  /** Exact dedup: keep the smallest id per identical text. The group
    * key is md5(text) so the shuffle carries 16 bytes, not documents. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), md5(col(textCol)).as("fp"))
      .groupBy("fp").agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Sorted-token fingerprint: collapses word-order permutations —
    * the rolling-hash document fingerprint analog, SQL-parity form. */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col(textCol)))))).as("fingerprint"))

  /** All-pairs n-gram Jaccard ≥ threshold via shared-shingle join.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * `maxDocFreq`: the posting-list join is quadratic within each
    * shingle's posting list, so one boilerplate shingle shared by f
    * documents emits f²/2 candidate rows — at corpus scale a handful of
    * stop-shingles dominate the whole shuffle. Setting a cap drops
    * shingles whose document frequency exceeds it from BOTH the join
    * and the per-doc sizes, i.e. the result is the exact Jaccard over
    * the non-stop shingle space (the standard stop-shingle
    * approximation; near-dup pairs share plenty of rare shingles, so
    * recall for high thresholds is essentially unaffected). Default
    * None = exact over all shingles — but NEVER silently quadratic:
    * the uncapped path asserts in-plan that no shingle's document
    * frequency exceeds `skewFailDocFreq` (a license-header shingle
    * shared by 1e6 docs would emit 5e11 candidate rows from ONE key),
    * so a skew-bombed corpus fails loudly with the offending shingle
    * named instead of scheduling an unbounded shuffle. Callers who
    * genuinely want the exact quadratic cost raise the limit. */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxDocFreq: Option[Long] = None,
                   skewFailDocFreq: Long = 100000L): DataFrame = {
    val shAll = docs.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("s"))
    // document frequency per shingle; the heavy hitters are few, so
    // the kept-shingle set joins back as a broadcast-able filter on
    // the shingle itself being rare — implemented as an aggregate +
    // equi-join so Catalyst can pick broadcast vs shuffle by stats
    val freq = shAll.groupBy("s").agg(count(lit(1)).as("_df"))
    val sh = maxDocFreq match {
      case Some(cap) =>
        shAll.join(freq.filter(col("_df") <= cap).select("s"), "s")
      case None =>
        // exact semantics preserved (every row passes or the job dies):
        // assert_true evaluates inside the plan, no extra action
        shAll.join(freq, "s")
          .filter(assert_true(col("_df") <= skewFailDocFreq,
            concat(lit("jaccardPairs: shingle '"), col("s"),
              lit(s"' appears in "), col("_df"),
              lit(s" documents (> skewFailDocFreq=$skewFailDocFreq); " +
                "its posting list alone would emit df²/2 candidate " +
                "pairs. Set maxDocFreq to drop stop-shingles, or raise " +
                "skewFailDocFreq to force the quadratic join."))).isNull)
          .drop("_df")
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("id").as("id_a"), col("s"))
      .join(sh.select(col("id").as("id_b"), col("s")), "s")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "nb"), "id_b")
      .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Document-level duplicate-passage DROP policy — the Dolma/CCNet
    * corpus rule ("drop a document when most of its paragraphs were
    * already seen elsewhere"): per document, the fraction of its
    * fixed-`window`-token passages whose FIRST corpus occurrence (by
    * the engine-replayable doc_id·10⁶+pidx key) lies in an EARLIER
    * document; documents above `threshold` are dropped. Differs from
    * [[dedupPassages]] in the unit of action — that operator EDITS
    * each doc down to its surviving passages, this one makes the
    * whole-document keep/drop DECISION a curation pipeline applies
    * before anything is rewritten (a mirror page is dropped outright,
    * not stitched from leftovers). Internal repeats do not count:
    * self-duplication is q57/q152's signal, cross-document
    * duplication is this one's.
    *
    * Shape: one passage explode → one passage-keyed min/count
    * aggregate → a 1:1 join back → a doc-keyed aggregate. Scan-class
    * at 100 TB (the q68 envelope); no pair join anywhere. Emits every
    * input row: (doc_id, n_passages, n_dup, dup_frac, keep). */
  def docsByDupPassages(docs: DataFrame, window: Int = 15,
                        threshold: Double = 0.3, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = tokens(col(textCol))
    val nPass = ((size(toks) + window - 1) / window).cast("int")
    val idxs = when(nPass > 0, sequence(lit(0), nPass - 1))
      .otherwise(array().cast("array<int>"))
    val passages = docs.select(col(idCol).as("doc_id"),
        posexplode(transform(idxs,
          i => concat_ws(" ", slice(toks, i * window + 1, lit(window))))))
      .select(col("doc_id"), col("pos").as("pidx"), col("col").as("passage"))
      .withColumn("_key", col("doc_id") * 1000000L + col("pidx"))
    val firsts = passages.groupBy("passage")
      .agg(min(col("_key")).as("_fk"))
    val flagged = passages.join(firsts, "passage")
      // integer div, not floor(double /): exact at any id magnitude and
      // identical to DuckDB's `//` (the q-memory cast-rounding trap)
      .withColumn("_dup",
        (expr("_fk div 1000000") < col("doc_id")).cast("int"))
    val per = flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_passages"),
      sum(col("_dup")).as("n_dup"))
    docs.select(col(idCol).as("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_passages"), lit(0L)).as("n_passages"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_passages") > 0,
          round(col("n_dup") / col("n_passages"), 6)).otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") <= threshold)
  }

  /** Asymmetric CONTAINMENT join — |A∩B| / |A| ≥ threshold over
    * n-gram shingle sets: finds documents mostly CONTAINED in another
    * (quotes, excerpts, truncated mirrors — pairs symmetric Jaccard
    * misses because a short excerpt of a long page has tiny union
    * overlap but near-total containment). Emits BOTH directions when
    * both clear the threshold ((id_a, id_b) ordered pairs, id_a the
    * contained side): containment is not symmetric and the direction
    * IS the signal.
    *
    * Same posting-list envelope and skew valve as [[jaccardPairs]] —
    * df-capped shingle join, pair-keyed count, size join back; the
    * valve dies loudly rather than letting a stop-shingle emit df²
    * candidates. */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxDocFreq: Option[Long] = None,
                       skewFailDocFreq: Long = 100000L): DataFrame = {
    val shAll = docs.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("s"))
    val freq = shAll.groupBy("s").agg(count(lit(1)).as("_df"))
    val sh = maxDocFreq match {
      case Some(cap) =>
        shAll.join(freq.filter(col("_df") <= cap).select("s"), "s")
      case None =>
        shAll.join(freq, "s")
          .filter(assert_true(col("_df") <= skewFailDocFreq,
            concat(lit("containmentPairs: shingle '"), col("s"),
              lit(s"' appears in "), col("_df"),
              lit(s" documents (> skewFailDocFreq=$skewFailDocFreq); " +
                "set maxDocFreq to drop stop-shingles, or raise " +
                "skewFailDocFreq to force the quadratic join."))).isNull)
          .drop("_df")
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("id").as("id_a"), col("s"))
      .join(sh.select(col("id").as("id_b"), col("s")), "s")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sz", "na"), "id_a")
      .withColumn("containment", col("c") / col("na"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Per-document duplicated n-gram statistics — the substring-level
    * duplication signal (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): every word n-gram is counted
    * across the whole corpus, and each document reports how many of
    * its n-grams occur more than once corpus-wide (boilerplate
    * headers, within-doc loops, mirrored passages all light up). Where
    * [[passageDedup]] removes whole duplicated passages, this SCORES
    * each document's duplication load so a quality budget can rank on
    * it. Documents with fewer than `n` words have no n-grams and are
    * absent from the output (both engines agree by construction).
    *
    * Shape: a bounded per-doc n-gram explode (|words| − n + 1 rows), a
    * gram-keyed partial+final count (a 10⁹-replica boilerplate gram
    * combines map-side — hot keys never concentrate raw rows), one
    * gram-keyed equi-join back (1:1 against the count table — no
    * posting-list self-join, so no df² blowup to valve), and a doc-
    * keyed aggregate. At 100 TB swap the raw gram join key for
    * xxhash64(gram) unchanged (collisions only overcount dups by
    * ~2⁻⁶⁴). */
  def dupNgramStats(docs: DataFrame, n: Int = 10, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(n >= 2, s"dupNgramStats needs n >= 2, got $n")
    val grams = docs
      .select(col(idCol).as("id"),
        filter(split(col(textCol), " "), w => length(w) > 0).as("_ws"))
      .filter(size(col("_ws")) >= n)
      .select(col("id"), explode(expr(
        s"""transform(sequence(0, size(_ws) - $n),
           |  i -> array_join(slice(_ws, i + 1, $n), ' '))""".stripMargin))
        .as("gram"))
    val counts = grams.groupBy("gram").agg(count(lit(1)).as("_cnt"))
    grams.join(counts, "gram")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_cnt") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_fraction",
        round(col("n_dup_grams") / col("n_grams").cast("double"), 6))
  }

  /** All-pairs set-similarity self-join with PREFIX FILTERING (the
    * AllPairs/PPJoin candidate pruning — Bayardo, Ma & Srikant 2007,
    * "Scaling Up All Pairs Similarity Search"): Jaccard ≥ `threshold`
    * over each document's DISTINCT whitespace-token set, returning
    * (id_a, id_b, n_common, jaccard) with id_a < id_b.
    *
    * Where [[jaccardPairs]] joins on EVERY shared shingle (and must cap
    * stop-shingles to survive skew), prefix filtering is LOSSLESS: order
    * every document's tokens by ascending global document frequency
    * (rarest first, ties by token) and index only its first
    * |x| − ⌈τ·|x|⌉ + 1 tokens — two sets with Jaccard ≥ τ MUST share a
    * token in both prefixes, so joining prefixes only loses nothing.
    * The frequent tokens (the quadratic posting lists) land at the END
    * of each ordering and mostly fall outside every prefix, so the
    * candidate volume collapses without changing the answer — the
    * reason this is the VLDB-standard shape for exact similarity joins
    * at corpus scale.
    *
    * Shuffle structure: one (term)-keyed document-frequency aggregate
    * joined back on term, one per-document ranking window, one
    * posting-list self-join restricted to prefix tokens + a length
    * filter (τ·max ≤ min is necessary for Jaccard ≥ τ), then one
    * verification join of the CANDIDATE pairs against the full token
    * sets — work Σ|x| over candidates, not over all pairs. */
  def setSimilarityJoin(docs: DataFrame, threshold: Double, n: Int = 1,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    // the set universe: distinct unigram tokens (n=1) or the same
    // n-gram shingle space jaccardPairs works over (n>1)
    val setExpr =
      if (n == 1) array_distinct(tokens(col(textCol)))
      else shingles(col(textCol), n)
    val toks = docs.select(col(idCol).as("id"), explode(setExpr).as("term"))
      .filter(length(col("term")) > 0)
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("_df"))
    // rarest-first position of each token within its document; the
    // (df, term) order is a total order, so prefixes are deterministic
    val ranked = toks.join(freq, "term")
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy(col("_df").asc, col("term").asc)))
      .join(sizes, "id")
    val prefix = ranked
      .filter(col("pos") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("term"), col("sz"))
    val cand = prefix.select(col("id").as("id_a"), col("term"), col("sz").as("na"))
      .join(prefix.select(col("id").as("id_b"), col("term"), col("sz").as("nb")), "term")
      .filter(col("id_a") < col("id_b") &&
        greatest(col("na"), col("nb")) * threshold <= least(col("na"), col("nb")))
      .select("id_a", "id_b", "na", "nb").distinct()
    // verify candidates against the FULL sets: expand each candidate
    // pair by side a's tokens, then equi-join side b on (id_b, term) —
    // work is Σ|x| over candidates, and both joins key on (id, term)
    val overlap = cand
      .join(toks.withColumnRenamed("id", "id_a"), "id_a")
      .join(toks.select(col("id").as("id_b"), col("term")), Seq("id_b", "term"))
      .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("n_common"))
    overlap
      .withColumn("jaccard",
        col("n_common") / (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Benchmark decontamination measure: for each document, the fraction
    * of its distinct n-gram shingles that appear anywhere in the
    * REFERENCE corpus (the eval/test set) — the standard n-gram-overlap
    * contamination check a training pipeline runs before a corpus
    * ships. Returns (idCol, n_shingles, n_contaminated, contamination)
    * for every document that has at least one shingle; documents
    * shorter than n tokens have nothing to leak and emit no row.
    *
    * Scale: the reference shingle set is distinct-projected (eval sets
    * are small — Catalyst broadcasts it when it fits) and the check is
    * one LEFT SEMI join on the shingle string + two aggregates; the
    * corpus is never joined to itself, so cost is linear in corpus
    * shingles at any size. */
  def contamination(docs: DataFrame, ref: DataFrame, n: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val docSh = docs.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("s"))
    val refSh = ref.select(explode(shingles(col(textCol), n)).as("s")).distinct()
    val tot = docSh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val hit = docSh.join(refSh, Seq("s"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_hit"), lit(0L)) / col("n_shingles"), 6)
          .as("contamination"))
  }

  /** Bloom-filter contamination screen: like [[contamination]] but the
    * reference shingle set is compressed into a Bloom filter instead of
    * joined — the route for eval/holdout sets too large to broadcast as
    * strings but too hot to re-shuffle the corpus against. At 1% fpp a
    * billion reference shingles are ~1.2 GB of bits (vs tens of GB as a
    * broadcast string set), and the corpus side stays a pure narrow
    * map: ZERO shuffles over the corpus, no join at any scale — the
    * screen a 100 TB ingest runs per shard.
    *
    * Bloom semantics: no false negatives, fpp false positives — so
    * `n_flagged` is an UPPER BOUND on true contamination (column names
    * say so). Screen with this, then confirm flagged docs with the
    * exact [[contamination]] join on the (much smaller) flagged subset.
    * Spark's `stat.bloomFilter` sketch merges per-partition filters on
    * the driver; its hash seeding is fixed, so the screen replays
    * identically on any topology. Docs shorter than n tokens emit
    * n_shingles=0 with NaN fraction (every doc keeps a row — a screen
    * must account for every input). */
  def contaminationBloom(docs: DataFrame, ref: DataFrame, n: Int,
                         fpp: Double = 0.001,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val refSh = ref.select(explode(shingles(col(textCol), n)).as("s")).distinct()
    val nRef = refSh.count()
    val bf = refSh.stat.bloomFilter("s", math.max(nRef, 1L), fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val hits = udf { (sh: Seq[String]) =>
      if (sh == null) 0L else { val f = bc.value; sh.count(f.mightContainString).toLong }
    }
    docs.withColumn("_sh", shingles(col(textCol), n))
      .withColumn("n_shingles", size(col("_sh")).cast("long"))
      .withColumn("n_flagged_ub", hits(col("_sh")))
      .withColumn("contamination_ub",
        when(col("n_shingles") > 0,
          round(col("n_flagged_ub").cast("double") / col("n_shingles"), 6))
          .otherwise(lit(Double.NaN)))
      .drop("_sh")
  }

  /** MinHash signature: k minimums of a k-wise hash family — one
    * aggregate, no per-row UDF. Returns (id, sig array<long> of k) in
    * BOTH families (same schema, different hash values — don't mix
    * signatures across families).
    *
    * Both families are Kirsch–Mitzenmacher: two base hashes per shingle
    * derive all k values as h_i = h1 + i·(h2|1) with wrap arithmetic
    * via [[graft.functions.HashArith.mulAddWrap]] (ANSI-safe,
    * codegen'd) — 2 hash ops instead of k per shingle (measured faster
    * than the per-index-salted k-hash form even at k=64 via md5, let
    * alone xxhash64). The default family's bases are xxhash64(0|1, s)
    * (one codegen'd op each, the hot path); the md5 family (the
    * DuckDB-replicable one behind the q27 oracle row) takes them from
    * the two 64-bit halves of one md5 digest, which DuckDB reproduces
    * exactly with HUGEINT mod-2^64 arithmetic over
    * `CAST('0x'||substr(md5(s),…) AS UBIGINT)`. */
  def minhashSignatures(docs: DataFrame, n: Int, k: Int,
                        idCol: String = "doc_id", textCol: String = "text",
                        md5Based: Boolean = false): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("s"))
    val hashed = if (md5Based)
      sh.select(col("id"), md5(col("s")).as("m"))
        .select(col("id"),
          conv(substring(col("m"), 1, 16), 16, -10).cast("long").as("h1"),
          conv(substring(col("m"), 17, 16), 16, -10).cast("long")
            .bitwiseOR(lit(1L)).as("h2"))
    else
      sh.select(col("id"), xxhash64(lit(0), col("s")).as("h1"),
        xxhash64(lit(1), col("s")).bitwiseOR(lit(1L)).as("h2"))
    val mins = (0 until k).map(i =>
      min(graft.functions.HashArith.mulAddWrap(
        col("h1"), lit(i.toLong), col("h2"))).as(s"h$i"))
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Band bucket key over a signature column: md5 over the "|"-joined
    * band slice in md5 mode (DuckDB-identical — explicit long→string
    * casts match DuckDB's array_to_string rendering), xxhash64 over the
    * raw longs otherwise, cast to string so both families share one
    * index schema. One definition serves [[minhashLsh]] and the
    * streaming band index ([[graft.streaming.NearDupStream]]) — band
    * keys agree across batch and stream BY CONSTRUCTION. */
  def bandBucket(sig: Column, k: Int, bands: Int, b: Int,
                 md5Based: Boolean): Column = {
    val rows = k / bands
    val slice = (b * rows until (b + 1) * rows).map(i => element_at(sig, i + 1))
    if (md5Based) md5(concat_ws("|", slice.map(_.cast("string")): _*))
    else xxhash64(slice: _*).cast("string")
  }

  /** ROW-LOCAL minhash signature — the same Kirsch–Mitzenmacher family
    * as [[minhashSignatures]] computed entirely inside one row via
    * array expressions (transform for the two base hashes, one
    * `aggregate` min-fold per signature position): no explode, no
    * groupBy, NO SHUFFLE — the form a stateless streaming map needs
    * (a mid-stream groupBy(id) would be a stateful aggregation).
    * Bit-identical to [[minhashSignatures]] on the same text
    * (PipelineSpec pins the equality); docs with fewer than n tokens
    * yield NULL (they have no shingles, hence no signature — the
    * batch operator drops them from its aggregate the same way). */
  def minhashSigExpr(text: Column, n: Int, k: Int,
                     md5Based: Boolean = false): Column = {
    val sh = shingles(text, n)
    val hs =
      if (md5Based)
        transform(sh, { s =>
          val m = md5(s)
          struct(
            conv(substring(m, 1, 16), 16, -10).cast("long").as("h1"),
            conv(substring(m, 17, 16), 16, -10).cast("long")
              .bitwiseOR(lit(1L)).as("h2"))
        })
      else
        transform(sh, s => struct(
          xxhash64(lit(0), s).as("h1"),
          xxhash64(lit(1), s).bitwiseOR(lit(1L)).as("h2")))
    // ONE fold over the shingles with a k-slot accumulator (zip_with
    // against the index array), not k separate aggregates: the k-fold
    // form re-evaluated the base-hash transform per signature position
    // (measured 130 docs/s at the sf1eq probe; this form ~10×). min is
    // commutative/associative over longs, so the result is bit-equal.
    val idx = array((0 until k).map(i => lit(i.toLong)): _*)
    val init = array_repeat(lit(Long.MaxValue), k)
    val sig = aggregate(hs, init, (acc, h) =>
      zip_with(acc, idx, (a, i) =>
        least(a, graft.functions.HashArith.mulAddWrap(
          h.getField("h1"), i, h.getField("h2")))))
    when(size(sh) > 0, sig)
  }

  /** All `bands` band buckets of a row-local signature as one array —
    * [[bandBucket]] applied per band; explode to get the (band, bucket)
    * stream. */
  def bandBucketsExpr(sig: Column, k: Int, bands: Int,
                      md5Based: Boolean = false): Column =
    array((0 until bands).map(b => bandBucket(sig, k, bands, b, md5Based)): _*)

  /** Estimated Jaccard from two equal-length minhash signatures: the
    * fraction of agreeing positions — E[agree] = J by the MinHash
    * property. The verification measure the STREAMING near-dup gate
    * uses (the index stores k longs per doc, never text; an exact
    * re-shingling join against the accumulated corpus would re-shuffle
    * the corpus every micro-batch). */
  def sigJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x === y).cast("int")),
      lit(0), (acc, v) => acc + v).cast("double") / size(a)

  /** MinHash + LSH banding: k hashes in `bands` bands of k/bands rows;
    * docs sharing any band bucket become candidates; candidates are
    * verified against the true Jaccard (`verify = "exact"`, default) or
    * against the signature-estimated Jaccard (`verify = "sig"` — the
    * fraction of agreeing minhash positions, [[sigJaccard]]).
    *
    * "sig" is the verification the STREAMING gate can afford (the
    * accumulated-corpus index stores signatures, never text, so exact
    * re-shingling isn't available), exposed on the batch operator so
    * the stream's batch twin is this very function — one definition of
    * "near-duplicate", two execution modes. Returns verified pairs
    * (id_a, id_b, jaccard ≥ threshold). */
  def minhashLsh(docs: DataFrame, n: Int = 3, k: Int = 64, bands: Int = 16,
                 threshold: Double = 0.5, idCol: String = "doc_id",
                 textCol: String = "text", md5Based: Boolean = false,
                 verify: String = "exact"): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    require(verify == "exact" || verify == "sig",
      s"verify must be 'exact' or 'sig', got '$verify'")
    val sigs = minhashSignatures(docs, n, k, idCol, textCol, md5Based)
    def bucketOf(b: Int): Column = bandBucket(col("sig"), k, bands, b, md5Based)
    val banded = sigs.select(col("id"),
      posexplode(array((0 until bands).map(bucketOf): _*)).as(Seq("band", "bucket")))
    val cands = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    if (verify == "sig")
      cands
        .join(sigs.select(col("id").as("id_a"), col("sig").as("_sa")), "id_a")
        .join(sigs.select(col("id").as("id_b"), col("sig").as("_sb")), "id_b")
        .withColumn("jaccard", round(sigJaccard(col("_sa"), col("_sb")), 6))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    else {
      // verify candidates with true n-gram Jaccard
      val sh = docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("s"))
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
      cands
        .join(sh.withColumnRenamed("id", "id_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b"), Seq("id_b", "s"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "nb"), "id_b")
        .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /** Corpus VERSION diff — the dataset-audit primitive behind every
    * "what changed between v1 and v2" question (a refreshed crawl, a
    * re-run cleaning pass, a backfill): full outer join on the doc id
    * comparing content fingerprints (md5 of text — 16 bytes per doc on
    * the wire, never text), emitting one row per id in either version
    * with status ∈ added / removed / changed / unchanged. One
    * id-keyed join at any corpus size; pairs with [[graft.pipeline
    * .TextAnalysis.shardManifest]] (shard-level equality) the way a
    * diff pairs with a checksum. Exact oracle (q199). */
  def corpusDiff(v1: DataFrame, v2: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val a = v1.select(col(idCol).as("doc_id"), md5(col(textCol)).as("_h1"))
    val b = v2.select(col(idCol).as("doc_id"), md5(col(textCol)).as("_h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_h1").isNull, "added")
          .when(col("_h2").isNull, "removed")
          .when(col("_h1") === col("_h2"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Cross-corpus near-duplicate gate, BATCH form — dedup a NEW corpus
    * (this month's crawl) against an existing REFERENCE corpus without
    * ever self-joining either side: the incremental-ingest operation
    * the streaming gate ([[graft.streaming.NearDupStream]]) runs per
    * micro-batch, exposed as one batch job for backfills and
    * corpus-merge audits. A new document is dropped when any LSH band
    * bucket it shares with a reference document verifies at
    * signature-estimated Jaccard ≥ threshold ([[sigJaccard]] — the
    * same measure the stream uses, so gate decisions agree by
    * construction).
    *
    * Returns one row PER NEW DOCUMENT: (doc_id, keep, n_matches,
    * matched_ref) — matched_ref the smallest verifying reference id
    * (null when kept), n_matches the count of verifying reference
    * docs; the decision stays auditable rather than pre-filtered.
    * Docs shorter than n tokens have no signature and are kept.
    *
    * Shape: two signature scans (narrow maps), one band equi-join
    * new×ref (bucket-keyed — never |new|·|ref|), one verify filter,
    * one doc-keyed rollup. The reference side shuffles once by band
    * bucket regardless of its size — at 100 TB of reference corpus
    * this is the only viable join geometry, and it is the same one the
    * accumulated stream index uses. */
  def dedupAgainst(newDocs: DataFrame, ref: DataFrame, n: Int = 3,
                   k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
                   idCol: String = "doc_id", textCol: String = "text",
                   md5Based: Boolean = false): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // candidate pairs dedupe on ids ONLY (the lshTopK discipline — a
    // distinct over the k-long signatures would shuffle the payload
    // once per band collision); signatures join back after the pair
    // set shrinks.
    val sigN = minhashSignatures(newDocs, n, k, idCol, textCol, md5Based)
    val sigR = minhashSignatures(ref, n, k, idCol, textCol, md5Based)
    def banded(sigs: DataFrame, side: String): DataFrame =
      sigs.select(col("id").as(s"_id$side"),
        posexplode(bandBucketsExpr(col("sig"), k, bands, md5Based))
          .as(Seq("band", "bucket")))
    val cands = banded(sigN, "N").join(banded(sigR, "R"), Seq("band", "bucket"))
      .select("_idN", "_idR").distinct()
    val hits = cands
      .join(sigN.select(col("id").as("_idN"), col("sig").as("_sigN")), "_idN")
      .join(sigR.select(col("id").as("_idR"), col("sig").as("_sigR")), "_idR")
      .filter(round(sigJaccard(col("_sigN"), col("_sigR")), 6) >= threshold)
      .groupBy(col("_idN").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("_idR")).as("matched_ref"))
    newDocs.select(col(idCol).as("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("matched_ref").isNull.as("keep"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("matched_ref"))
  }

  /** EXACT duplicate-span REMOVAL (Lee et al. 2022's ExactSubstr
    * policy, L-gram formulation): any L-token span whose exact text
    * occurs more than once in the corpus is removed from every
    * position EXCEPT the globally first occurrence (min (doc_id,
    * idx) — internal repetition within one doc dedups the same way).
    * Overlapping duplicated grams remove their union of token
    * positions, so a long duplicated region disappears as one span.
    * [[dupNgramStats]] (q152) measures the load; this operator
    * actually edits the corpus.
    *
    * Returns every input row: (doc_id, n_tokens, n_removed, cleaned).
    *
    * Shape: one positional gram explode → one gram-keyed count/min
    * aggregate (map-side partials) → a 1:1 join back (the q152
    * envelope, never a posting self-join) → a doc-keyed coverage join
    * (tokens ⋈ removal starts, per-doc bounded) → per-doc reassembly
    * from a collect_list bounded by document length. Every key is the
    * gram or the doc — scan-class at 100 TB; no corpus-wide sort. The
    * first-occurrence key is the ENCODED long doc_id·10⁶ + idx so the
    * tie-break replays bit-identically in any engine (valid while
    * documents stay under 10⁶ tokens — longer inputs should be
    * chunked upstream, the q107 operator). */
  def dedupSpans(docs: DataFrame, L: Int = 8, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val (base, toks, grams) = spanFrames(docs, L, idCol, textCol)
    val firsts = grams.groupBy("gram")
      .agg(count(lit(1)).as("_cnt"), min(col("_key")).as("_first"))
    val rem = grams.join(firsts, "gram")
      .filter(col("_cnt") > 1 && col("_key") =!= col("_first"))
      .select(col("doc_id"), col("idx").as("_s"))
    removeSpansTail(base, toks, rem, L)
  }

  /** Span-level eval-set DECONTAMINATION (the companion to
    * [[dedupSpans]], and the removal form of [[contamination]]'s
    * measurement: Lee et al. 2022 §4 / the train-test-overlap scrub
    * every frontier-model data pipeline runs before training): any
    * ≥L-token span of a TRAINING document that appears verbatim
    * anywhere in the EVAL corpus is removed — all training occurrences
    * go (there is no "first copy keeps it" here; the eval text is the
    * protected set), overlapping hits merge into maximal spans through
    * the same coverage join. Returns every training row:
    * (doc_id, n_tokens, n_removed, cleaned).
    *
    * Shape: the training side is the [[dedupSpans]] envelope
    * (positional gram explode, gram-keyed joins, doc-keyed coverage —
    * scan-class at 100 TB); the eval side contributes a distinct-gram
    * frame met with a LEFT SEMI join on the gram key, so eval corpora
    * of any size stream through the same gram-keyed shuffle and
    * nothing is collected or broadcast. */
  def decontaminateSpans(train: DataFrame, eval: DataFrame, L: Int = 8,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val (base, toks, grams) = spanFrames(train, L, idCol, textCol)
    val ets = split(col(textCol), " ")
    val evalGrams = eval.filter(size(ets) >= L)
      .select(explode(transform(
          sequence(lit(0), size(ets) - L),
          i => array_join(slice(ets, i + 1, lit(L)), " "))).as("gram"))
      .distinct()
    val rem = grams.join(evalGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("idx").as("_s"))
    removeSpansTail(base, toks, rem, L)
  }

  /** Shared positional frames for the span operators: (base(doc_id,
    * _ts), tokens(doc_id, idx, token), grams(doc_id, idx, gram, _key))
    * with the engine-replayable doc_id·10⁶+idx first-occurrence key. */
  private def spanFrames(docs: DataFrame, L: Int, idCol: String,
                         textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val ts = split(col(textCol), " ")
    val base = docs.select(col(idCol).as("doc_id"), ts.as("_ts"))
    val toks = base.select(col("doc_id"),
      posexplode(col("_ts")).as(Seq("idx", "token")))
    val grams = base.filter(size(col("_ts")) >= L)
      .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), size(col("_ts")) - L),
          i => array_join(slice(col("_ts"), i + 1, lit(L)), " ")))
        .as(Seq("idx", "gram")))
      .withColumn("_key", col("doc_id") * 1000000L + col("idx"))
    (base, toks, grams)
  }

  /** Shared removal tail for the span operators: drop every token
    * covered by a [s, s+L-1] removal window and rebuild each document
    * from its surviving tokens (coverage join doc-keyed and bounded by
    * document length; reassembly a per-doc collect_list). */
  private def removeSpansTail(base: DataFrame, toks: DataFrame,
                              rem: DataFrame, L: Int): DataFrame = {
    val covered = toks.join(rem,
        toks("doc_id") === rem("doc_id") &&
          toks("idx").between(rem("_s"), rem("_s") + (L - 1)))
      .select(toks("doc_id"), toks("idx")).distinct()
    val kept = toks.join(covered, Seq("doc_id", "idx"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("_nkept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("token")))),
          s => s.getField("token"))).as("cleaned"))
    base.select(col("doc_id"), size(col("_ts")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("_nkept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Resolve near-duplicate PAIRS into dedup decisions: connected
    * components over the pair graph (near-duplication is not
    * transitive, so A~B and B~C chain into one cluster even when A!~C —
    * the standard conservative policy), keeping the smallest doc_id per
    * cluster. Returns one row per document that appears in any pair:
    * (doc_id, keep_id, keep); documents in no pair are implicitly kept.
    *
    * Scale: input is the PAIR list (O(dups)), never the corpus. Up to
    * `DriverRoute.DupPairs` the pairs union-find on the driver (GraphX CC
    * costs ~10 s of scheduling for a job a 1e6-row union-find finishes
    * in milliseconds); above it, GraphX connectedComponents — iterative
    * label propagation whose round count is the dup clusters' tiny
    * diameter, independent of corpus size. Both routes label each doc
    * with the min doc_id of its component, so the output is
    * route-invariant (asserted by PipelineSpec). */
  def dupClusters(spark: org.apache.spark.sql.SparkSession,
                  pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
    // single limit-probe (util/DriverRoute): one execution of the
    // (possibly expensive) pair pipeline decides the route AND supplies
    // the driver data — a count() + collect() pair would run it twice
    val probed = graft.util.DriverRoute.probePairs(p, "id_a", "id_b",
      graft.util.DriverRoute.DupPairs)
    if (probed.isDefined) {
      val edges = probed.get
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // union by min root so the final label IS the component min
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      import spark.implicits._
      nodes.map(id => (id, find(id))).toSeq.toDF("doc_id", "keep_id")
        .withColumn("keep", col("doc_id") === col("keep_id"))
    } else {
      import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
      val rdd = p.rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), 1))
      val cc = GxGraph.fromEdges(rdd, 0).connectedComponents().vertices
      spark.createDataFrame(cc).toDF("doc_id", "keep_id")
        .withColumn("keep", col("doc_id") === col("keep_id"))
    }
  }

  /** Canonical-survivor selection — the step after cluster resolution
    * in a real dedup pipeline: keep exactly ONE document per near-dup
    * cluster, the highest-quality one (ties to the smallest id), and
    * keep every document that belongs to no cluster. Output: one row
    * per input doc — (idCol, cluster_id, quality, keep).
    *
    * The reference resolves duplicates by keeping the first id
    * (q24/q44's min-id `keep`); production pipelines keep the BEST
    * copy — a boilerplate-stripped original beats a truncated mirror.
    *
    * Scale: `pairs` is O(dups); cluster labels join back to the corpus
    * on the id (one shuffle on 8-byte keys, broadcastable when the dup
    * set is small); the per-cluster argmax is a window over
    * `cluster_id`, where all non-duplicated docs are singleton
    * partitions — no skew, no global sort. */
  def keepBest(spark: org.apache.spark.sql.SparkSession,
               quality: DataFrame, pairs: DataFrame,
               idCol: String = "doc_id",
               qualityCol: String = "quality"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dupClusters(spark, pairs)
      .select(col("doc_id").as(idCol), col("keep_id"))
    val labeled = quality.select(col(idCol), col(qualityCol).as("quality"))
      .join(clusters, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("keep_id"), col(idCol)))
      .drop("keep_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col(idCol).asc)
    labeled
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster_id"), col("quality"), col("keep"))
  }

  /** Passage-level exact dedup (the lightweight form of Lee et al.
    * 2021's substring dedup, arXiv:2107.06499): chunk each document
    * into fixed `window`-token passages, drop every passage whose
    * exact text occurs `minDupCount`+ times across the corpus except
    * its first occurrence (smallest (doc, position)), and reassemble
    * the surviving passages in order. This removes the boilerplate a
    * document-level exact/near-dup pass cannot touch — the license
    * header pasted into a million otherwise-distinct files.
    *
    * Output: one row per input document — (idCol, text_deduped,
    * n_passages, n_kept); a document whose every passage is a seen
    * duplicate keeps an empty string.
    *
    * Scale shape: passages explode to ~tokens/window rows; the
    * frequency/first-occurrence aggregate and the verdict join are both
    * keyed on md5(passage) — 16-byte shuffle keys, raw text never
    * shuffles twice. First occurrence is a min-struct aggregate (one
    * map-side-combining pass, no window over the corpus); reassembly
    * groups by doc id, so no key exceeds one document's passage count.
    * Every step partitions by corpus-cardinality keys — scan-class at
    * 100 TB, unlike true suffix-array dedup which needs a global sort. */
  def dedupPassages(docs: DataFrame, window: Int = 15, minDupCount: Long = 2,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = tokens(col(textCol))
    // ceil(size/window) via truncation; sequence(0,-1) would yield
    // [0,-1] (Spark infers a descending step), so guard the empty case.
    val nPass = ((size(toks) + window - 1) / window).cast("int")
    val idxs = when(nPass > 0, sequence(lit(0), nPass - 1))
      .otherwise(array().cast("array<int>"))
    val passages = docs.select(col(idCol),
        posexplode(transform(idxs,
          i => concat_ws(" ", slice(toks, i * window + 1, lit(window))))))
      .select(col(idCol), col("pos").as("pidx"), col("col").as("passage"),
        md5(col("col")).as("fp"))
    val stats = passages.groupBy("fp").agg(
      count(lit(1)).as("n_copies"),
      min(struct(col(idCol).as("_i"), col("pidx").as("_p"))).as("first"))
    val kept = passages.join(stats, "fp")
      .filter(col("n_copies") < minDupCount ||
        (col(idCol) === col("first._i") && col("pidx") === col("first._p")))
    val reassembled = kept.groupBy(col(idCol)).agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pidx"), col("passage")))),
        s => s.getField("passage"))).as("text_deduped"),
      count(lit(1)).as("n_kept"))
    docs.select(col(idCol), nPass.cast("long").as("n_passages"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        col("n_passages"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** md5-derived 64-bit hash: the first 16 hex chars of md5 read as a
    * signed two's-complement long (`conv` base -10 keeps the exact bit
    * pattern for values with the top bit set, where a plain string→long
    * cast would overflow to null). Same bits as DuckDB's
    * `CAST('0x' || substr(md5(x),1,16) AS UBIGINT)`, so any operator
    * keyed on it is oracle-checkable; xxhash64 stays the default for
    * hot paths (one codegen'd op vs md5's digest + hex round-trip). */
  def md5Hash64(c: Column): Column =
    conv(substring(md5(c), 1, 16), 16, -10).cast("long")

  /** 64-bit SimHash fingerprint: per token-hash bit, +1/-1 vote; sign of
    * the vote sum sets the bit. Pure column expressions (codegen'd).
    * The vote sum is computed as plain bit counts — Σ±1 = 2·c_b − n, so
    * "vote > 0" ⟺ "2·c_b > n" — which drops a CaseWhen per bit per row
    * from the hot aggregate (64 branch-free shift-and-sums instead).
    * `hasher` picks the token-hash family: xxhash64 (default, fastest)
    * or [[md5Hash64]] (DuckDB-replicable, used by the oracle gate). */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              hasher: Column => Column = xxhash64(_)): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("w"))
      .withColumn("h", hasher(col("w")))
    val counts = (0 until 64).map(b =>
      sum(shiftrightunsigned(col("h"), b).bitwiseAND(1)).as(s"c$b"))
    tok.groupBy("id").agg(count(lit(1)).as("n"), counts: _*)
      .select(col("id"),
        (0 until 64).map(b =>
          when(col(s"c$b") * 2 > col("n"), shiftleft(lit(1L), b))
            .otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, bucketed by
    * equal-width bit chunks: a pair within distance d < `chunks` shares
    * at least one chunk exactly (pigeonhole), so the bucket join has
    * FULL recall while avoiding the O(n²) compare. The require enforces
    * the guarantee — callers wanting larger distances must raise
    * `chunks` (e.g. 8 chunks of 8 bits for d ≤ 7; beyond that the
    * buckets get too coarse to prune and multi-probe/recursion is the
    * standard escalation). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, chunks: Int = 4,
                   idCol: String = "doc_id", textCol: String = "text",
                   hasher: Column => Column = xxhash64(_)): DataFrame =
    hammingPairs64(simhash(docs, idCol, textCol, hasher)
      .select(col("id"), col("simhash").as("fp")), maxDist, chunks)

  /** Generic 64-bit-fingerprint near-dup pairs at Hamming distance ≤
    * `maxDist`, for any (id, fp) frame — the bucketing core behind
    * [[simhashPairs]] (text) and
    * [[Multimodal.imageDupPairs]] (perceptual image hashes).
    *
    * Pigeonhole contract (enforced): the fingerprint splits into
    * `chunks` equal bit ranges; two fingerprints within distance d <
    * chunks must agree EXACTLY on at least one range, so the
    * chunk-value equi-join reaches full recall — never a quadratic
    * all-pairs scan. Candidates are generated per (chunk, value)
    * bucket (O(dups), like the MinHash band join) and verified with
    * the true popcount distance. */
  def hammingPairs64(fps: DataFrame, maxDist: Int = 3,
                     chunks: Int = 4): DataFrame = {
    require(64 % chunks == 0, s"chunks=$chunks must divide 64")
    require(maxDist < chunks,
      s"pigeonhole full recall needs maxDist < chunks (got d=$maxDist, c=$chunks)")
    val width = 64 / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val chunked = fps.select(col("id"), col("fp"),
      posexplode(array((0 until chunks).map(c =>
        shiftrightunsigned(col("fp"), c * width).bitwiseAND(mask)): _*))
        .as(Seq("chunk", "key")))
    val cands = chunked.select(col("chunk"), col("key"),
      col("id").as("id_a"), col("fp").as("ha"))
      .join(chunked.select(col("chunk"), col("key"),
        col("id").as("id_b"), col("fp").as("hb")), Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ha", "hb").distinct()
    cands.withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Edit-distance-1 similarity join (FastSS / SymSpell deletion
    * neighborhoods, Bocek et al. 2007): all pairs with
    * Levenshtein(a, b) ≤ 1, found WITHOUT an all-pairs comparison.
    *
    * Each string emits its deletion neighborhood — itself plus every
    * single-character deletion, |s|+1 keys. Two strings within edit
    * distance 1 ALWAYS share a key (substitution at i ⇒ both i-th
    * deletions are equal; insertion ⇒ the shorter string IS one of the
    * longer one's deletions; equality is the identity key), so the
    * candidate join on the key is LOSSLESS — the only error direction
    * is false positives (e.g. "ab"/"ba" share the deletion "a" at
    * distance 2), which the exact `levenshtein` verify removes. The
    * oracle's brute-force hash match doubles as the losslessness proof
    * (the q96 pattern, at the character level).
    *
    * Scale: O(Σ|s|) keys, one equi-join whose posting lists are
    * bounded by the number of strings within distance 1 of a given
    * variant (alphabet-bounded in practice, never corpus-sized unless
    * the data is massively duplicated — in which case dedup exact
    * copies first); verification is a codegen'd levenshtein on the
    * candidate set only. The same frame supports spell-correction
    * lookups (join query-side deletions against this index).
    */
  def editDistanceJoin(df: DataFrame, idCol: String = "id",
                       strCol: String = "s"): DataFrame = {
    val keyed = df.select(col(idCol).as("_id"), col(strCol).as("_s"))
      .select(col("_id"), col("_s"),
        explode(expr(
          """transform(sequence(0, length(_s)),
            |  i -> IF(i = 0, _s,
            |    concat(substring(_s, 1, i - 1),
            |           substring(_s, i + 1, length(_s)))))""".stripMargin))
          .as("_key"))
      .distinct() // a string with repeated chars emits duplicate variants
    keyed.select(col("_key"), col("_id").as("id_a"), col("_s").as("s_a"))
      .join(keyed.select(col("_key"), col("_id").as("id_b"), col("_s").as("s_b")),
        Seq("_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "s_a", "s_b").distinct()
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= 1)
      .select("id_a", "id_b", "dist")
  }

  /** Jaro similarity (the record-linkage classic): match window
    * ⌊max(|a|,|b|)/2⌋−1, transpositions counted over matched chars out
    * of order, (m/|a| + m/|b| + (m−t)/m)/3. Pure function so the spec
    * can pin closed-form values. */
  private[graft] def jaro(a: String, b: String): Double = {
    if (a == b) return 1.0
    val l1 = a.length; val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      var j = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var found = false
      while (!found && j <= hi) {
        if (!m2(j) && a(i) == b(j)) { m1(i) = true; m2(j) = true; m += 1; found = true }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var j = 0; i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j)) j += 1
        if (a(i) != b(j)) t += 1
        j += 1
      }
      i += 1
    }
    (m.toDouble / l1 + m.toDouble / l2 + (m - t / 2.0) / m) / 3.0
  }

  /** Jaro–Winkler: Jaro boosted by the shared prefix (≤ 4 chars,
    * scaling 0.1) when the base similarity clears the standard 0.7
    * threshold — the same definition DuckDB's
    * `jaro_winkler_similarity` implements, which is what lets the
    * blocked join below be a full cross-engine oracle row. */
  private[graft] def jaroWinkler(a: String, b: String): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) j
    else {
      var l = 0
      val max = math.min(4, math.min(a.length, b.length))
      while (l < max && a(l) == b(l)) l += 1
      j + l * 0.1 * (1 - j)
    }
  }

  /** Blocked Jaro–Winkler similarity self-join — the fuzzy
    * record-linkage step between exact dedup and the
    * [[editDistanceJoin]] (which only reaches distance 1): candidate
    * pairs share a `blockLen`-char prefix (the standard blocking key —
    * JW's prefix boost means high-similarity pairs almost always
    * share one), then the quadratic scorer runs only within blocks.
    * The shuffle keys on the block; a skewed block is a visible hot
    * key a caller can salt. The scorer is a Scala UDF by the
    * documented narrow-map exception (no Catalyst built-in; same
    * rationale as Bpe.encode). */
  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter
    * 1969) over prefix-blocked candidate pairs: each pair compares a
    * fuzzy name field (Jaro–Winkler ≥ `nameThreshold`, on the ROUNDED
    * score so both engines cut identically — the q141 contract) plus
    * any number of exact fields, and accumulates the classic
    * log₂-likelihood match weight — `log₂(m/u)` when a field agrees,
    * `log₂((1−m)/(1−u))` when it disagrees — under caller-supplied
    * per-field (m, u) parameters. Pairs at or above `matchThreshold`
    * classify as matches.
    *
    * The weights are precomputed driver-side into double LITERALS, so
    * the per-pair arithmetic is a fixed left-associated sum of
    * constants — bit-replayable in any IEEE engine regardless of its
    * log implementation. Blocking, skew posture, and the narrow JW
    * kernel are [[jaroWinklerJoin]]'s; everything after the block join
    * is a codegen'd scalar expression. */
  def fellegiSunter(df: DataFrame, idCol: String, nameCol: String,
                    exactCols: Seq[String], mu: Seq[(Double, Double)],
                    nameThreshold: Double = 0.9,
                    matchThreshold: Double = 6.0,
                    blockLen: Int = 4): DataFrame = {
    require(mu.length == exactCols.length + 1,
      s"need one (m,u) pair per field: ${exactCols.length + 1}, got ${mu.length}")
    require(mu.forall { case (m, u) =>
      m > 0 && m < 1 && u > 0 && u < 1 && m > u },
      s"every (m,u) needs 0 < u < m < 1, got $mu")
    val wAgree = mu.map { case (m, u) => math.log(m / u) / math.log(2.0) }
    val wDis = mu.map { case (m, u) =>
      math.log((1 - m) / (1 - u)) / math.log(2.0) }
    val jw = udf((a: String, b: String) => jaroWinkler(a, b))
    val cols = (nameCol +: exactCols).map(col)
    val keyed = df.select((col(idCol).as("_id") +:
      substring(col(nameCol), 1, blockLen).as("_blk") +: cols): _*)
    def side(tag: String) = cols.map(_.toString).foldLeft(
      keyed.withColumnRenamed("_id", s"id_$tag"))(
      (d, c) => d.withColumnRenamed(c, s"${c}_$tag"))
    val pairs = side("a").join(side("b"), Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
    val agrees = (round(jw(col(s"${nameCol}_a"), col(s"${nameCol}_b")), 6)
      >= nameThreshold) +:
      exactCols.map(c => col(s"${c}_a") === col(s"${c}_b"))
    val weight = agrees.zipWithIndex.map { case (a, i) =>
      when(a, lit(wAgree(i))).otherwise(lit(wDis(i))) }
      .reduce(_ + _)
    pairs.select(
      (Seq(col("id_a"), col("id_b")) ++
        agrees.zipWithIndex.map { case (a, i) =>
          a.as("agree_" + (if (i == 0) nameCol else exactCols(i - 1))) } ++
        Seq(round(weight, 6).as("weight"),
          (round(weight, 6) >= matchThreshold).as("is_match"))): _*)
  }

  def jaroWinklerJoin(df: DataFrame, threshold: Double, blockLen: Int = 4,
                      idCol: String = "id", strCol: String = "s"): DataFrame = {
    require(threshold > 0.7 && threshold <= 1.0,
      s"threshold must be in (0.7, 1] (blocking assumes the boost regime), got $threshold")
    val jw = udf((a: String, b: String) => jaroWinkler(a, b))
    val keyed = df.select(col(idCol).as("_id"), col(strCol).as("_s"))
      .withColumn("_blk", substring(col("_s"), 1, blockLen))
    keyed.select(col("_blk"), col("_id").as("id_a"), col("_s").as("s_a"))
      .join(keyed.select(col("_blk"), col("_id").as("id_b"), col("_s").as("s_b")),
        Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jw", round(jw(col("s_a"), col("s_b")), 6))
      .filter(col("jw") >= threshold)
      .select("id_a", "id_b", "jw")
  }
}
