package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.EventsStream
import graft.streaming.ModelStore.{BqCenters, FloatCenters, PqQuantizer, SqQuantizer}

/** Invariant specs for the training-data pipeline operators, including
  * planted-duplicate recall for every dedup family. */
class PipelineSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  /** documents plus a near-copy of doc 0 (one word changed) and an
    * exact copy of doc 1, under fresh ids. */
  private def docsWithPlants = {
    val d0 = docs.filter(col("doc_id") === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" extraword")).as("text"))
    val d1 = docs.filter(col("doc_id") === 1)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    docs.select("doc_id", "text").union(d0).union(d1)
  }

  test("exact dedup finds the planted exact copy and nothing else") {
    val dups = Dedup.exact(docsWithPlants).filter(col("n_copies") > 1)
    val rows = dups.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("keep_id") == 1L)
    assert(rows(0).getAs[Long]("n_copies") == 2L)
  }

  test("jaccard pairs finds the planted near-dup at high similarity") {
    val pairs = Dedup.jaccardPairs(docsWithPlants, n = 3, threshold = 0.5)
    val hit = pairs.filter(col("id_a") === 0 && col("id_b") === 10000).collect()
    assert(hit.length == 1, "near-dup of doc 0 not found")
    assert(hit(0).getAs[Double]("jaccard") > 0.8)
  }

  test("q173 novelty: first document is all-novel; fractions bounded") {
    val rows = SparkEntry.queries("q173_ngram_novelty")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val nv = r.getDouble(3); assert(nv >= 0 && nv <= 1)
    }
    // the lowest doc_id with any grams owns every first occurrence
    val first = rows.minBy(_.getLong(0))
    assert(first.getDouble(3) == 1.0)
  }

  test("q174 rich club: shrinking club, bounded density") {
    val rows = SparkEntry.queries("q174_rich_club")(spark, sf).collect()
      .sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 4, 8, 16))
    val nodes = rows.map(_.getLong(1))
    assert(nodes.zip(nodes.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val phi = r.getDouble(3)
      assert(phi >= 0 && phi <= 1, s"phi out of range: $r")
      if (r.getLong(1) < 2) assert(phi == 0.0)
    }
  }

  test("q171/q172 audits: dim coverage, nonnegative chi2, token split") {
    val drift = SparkEntry.queries("q171_embedding_drift")(spark, sf).collect()
    assert(drift.map(_.getInt(0)).toSet == (0 until 64).toSet)
    drift.foreach(r => assert(r.getDouble(3) >= 0))
    val bal = SparkEntry.queries("q172_split_balance")(spark, sf).collect()(0)
    assert(bal.getAs[Double]("chi2") >= 0)
    assert(bal.getAs[Long]("dof") == bal.getAs[Long]("n_terms") - 1)
    val total = bal.getAs[Double]("n_train_tokens") +
      bal.getAs[Double]("n_val_tokens")
    assert(total > 0 && bal.getAs[Double]("n_train_tokens") > total / 2)
  }

  test("contrastiveMining: hand-planted geometry; lone label has null pos") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // 2-d vectors: a,b nearly parallel (label 0); c orthogonal
    // (label 1). Anchor a: hard pos = b (cos≈0.994), hard neg = c
    // (cos 0), margin > 0. Anchor c has no same-label peer → null pos.
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.contrastiveMining(vecs, dim = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    val a = got(1L)
    assert(a.getLong(1) == 3L && a.getDouble(2) == 0.0)
    assert(a.getLong(3) == 2L && a.getDouble(4) > 0.99)
    assert(a.getDouble(5) > 0.99)
    val c = got(3L)
    assert(c.isNullAt(3) && c.isNullAt(4) && c.isNullAt(5))
    assert(Set(1L, 2L).contains(c.getLong(1)))
  }

  test("fellegiSunter: agreement weights classify; blocking prunes") {
    import spark.implicits._
    val mu = Seq((0.9, 0.02), (0.9, 0.04), (0.85, 0.025))
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val d = Seq(
      (1L, "jonathan smith", "B1", "T1"),
      (2L, "jonathan smyth", "B1", "T1"),    // near-name, same fields
      (3L, "jona hopper", "B2", "T2"),       // same block, all disagree
      (4L, "zachary smith", "B1", "T1"))     // different block: no pair
      .toDF("id", "name", "brand", "ptype")
    val got = Dedup.fellegiSunter(d, "id", "name", Seq("brand", "ptype"),
      mu, nameThreshold = 0.9, matchThreshold = 6.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getDouble(5), r.getBoolean(6))).toMap
    // (1,2): all three agree → weight = Σ log2(m/u), a match
    val full = mu.map { case (m, u) => lg2(m / u) }.sum
    val r12 = got((1L, 2L))
    assert(r12._1 && r12._2 && r12._3 && r12._5)
    assert(math.abs(r12._4 - full) < 1e-6)
    // (1,3) and (2,3) share the 4-char block but disagree everywhere
    val allDis = mu.map { case (m, u) => lg2((1 - m) / (1 - u)) }.sum
    Seq((1L, 3L), (2L, 3L)).foreach { k =>
      val r = got(k)
      assert(!r._1 && !r._2 && !r._3 && !r._5)
      assert(math.abs(r._4 - allDis) < 1e-6)
    }
    // id 4 blocks apart from everything
    assert(!got.keySet.exists(k => k._1 == 4L || k._2 == 4L))
  }

  test("dupNgramStats: cross-doc and within-doc duplicated grams counted") {
    import spark.implicits._
    // docs 1/2 share trigram "a b c" (1 of each doc's 2 grams → 0.5);
    // doc 3 repeats its own trigrams ("p q p"×2, "q p q"×2 → 1.0);
    // doc 4 is unique (0.0); doc 5 is too short for any trigram
    val d = Seq(
      (1L, "a b c d"), (2L, "a b c x"), (3L, "p q p q p q"),
      (4L, "u v w"), (5L, "s t"))
      .toDF("doc_id", "text")
    val got = Dedup.dupNgramStats(d, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L) == ((2L, 1L, 0.5)) && got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((4L, 4L, 1.0)))
    assert(got(4L) == ((1L, 0L, 0.0)))
    assert(!got.contains(5L))
  }

  test("tfidfCosinePairs: identical docs score 1, disjoint docs absent") {
    import spark.implicits._
    val d = Seq((1L, "x y z"), (2L, "x y z"), (3L, "p q r"), (4L, "x q"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfidfCosinePairs(d, threshold = 0.05,
        maxDf = 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
    // 4 shares one term with each side, cosine strictly between 0 and 1
    assert(got((1L, 4L)) > 0.0 && got((1L, 4L)) < 1.0)
    assert(got((3L, 4L)) > 0.0 && got((3L, 4L)) < 1.0)
    // maxDf 0.25 of 4 docs caps df at 1: only the df-1 terms (p, r)
    // survive — no doc PAIR shares one, so the join yields nothing
    val capped = TextAnalysis.tfidfCosinePairs(d, threshold = 0.05,
      maxDf = 0.25).collect()
    assert(capped.isEmpty)
  }

  test("jaccard stop-shingle cap drops boilerplate but keeps near-dups") {
    import spark.implicits._
    // every doc shares the same boilerplate header (a hot shingle whose
    // posting list would emit n²/2 candidate rows); docs 1 and 2 are
    // near-identical beyond it
    val boiler = "terms of service apply to all"
    val d = Seq(
      (1L, s"$boiler quick brown fox jumps over the lazy dog today"),
      (2L, s"$boiler quick brown fox jumps over the lazy dog tonight"),
      (3L, s"$boiler completely different body text about spark plans here"),
      (4L, s"$boiler yet another unrelated document body on graph layouts")
    ).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(d, n = 3, threshold = 0.5, maxDocFreq = Some(2))
      .collect()
    // only the real near-dup survives; boilerplate-only overlap does not
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // a cap above every shingle's document frequency reproduces the
    // exact uncapped result bit-for-bit
    val exact = Dedup.jaccardPairs(d, n = 3, threshold = 0.1).collect().toSet
    val hiCap = Dedup.jaccardPairs(d, n = 3, threshold = 0.1,
      maxDocFreq = Some(1000)).collect().toSet
    assert(exact == hiCap)
  }

  /** All messages down a throwable's cause chain (Spark wraps task
    * failures; the assert_true text sits on a nested cause). */
  private def causeMessages(t: Throwable): String = {
    var cur: Throwable = t
    val sb = new StringBuilder
    while (cur != null) {
      sb.append(Option(cur.getMessage).getOrElse("")).append('\n')
      cur = cur.getCause
    }
    sb.toString
  }

  test("skew valve: uncapped jaccardPairs dies loudly on a planted hot shingle") {
    import spark.implicits._
    val boiler = "terms of service apply to all"
    val d = Seq(
      (1L, s"$boiler quick brown fox jumps over the lazy dog today"),
      (2L, s"$boiler quick brown fox jumps over the lazy dog tonight"),
      (3L, s"$boiler completely different body text about spark plans here"),
      (4L, s"$boiler yet another unrelated document body on graph layouts")
    ).toDF("doc_id", "text")
    // the boilerplate shingle sits in 4 docs > limit 3 → loud in-plan kill
    val e = intercept[Exception] {
      Dedup.jaccardPairs(d, n = 3, threshold = 0.1, skewFailDocFreq = 3).collect()
    }
    assert(causeMessages(e).contains("skewFailDocFreq"),
      s"wrong failure: ${causeMessages(e).take(400)}")
    // with the cap on, the valve never fires and rare-shingle pairs are kept
    val capped = Dedup.jaccardPairs(d, n = 3, threshold = 0.5,
      maxDocFreq = Some(2), skewFailDocFreq = 3).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // a limit above every doc-freq leaves the exact result untouched
    val dflt = Dedup.jaccardPairs(d, n = 3, threshold = 0.1).collect().toSet
    val forced = Dedup.jaccardPairs(d, n = 3, threshold = 0.1,
      skewFailDocFreq = 1000).collect().toSet
    assert(dflt == forced)
  }

  test("skew valve: uncapped winnowPairs dies loudly on a boilerplate fingerprint") {
    import spark.implicits._
    // five identical docs: every fingerprint's posting list has 5 docs
    val d = (1L to 5L).map(i => (i, "a b c d e f g h i j")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextAnalysis.winnowPairs(d, k = 3, w = 2, minShared = 1,
        skewFailDocFreq = 3).collect()
    }
    assert(causeMessages(e).contains("skewFailDocFreq"),
      s"wrong failure: ${causeMessages(e).take(400)}")
    // maxDocFreq drops the hot fingerprints instead of failing
    assert(TextAnalysis.winnowPairs(d, k = 3, w = 2, minShared = 1,
      maxDocFreq = Some(3), skewFailDocFreq = 3).collect().isEmpty)
    // under-the-limit corpora are untouched by the valve
    val d2 = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val base = TextAnalysis.winnowPairs(d2, k = 3, w = 2, minShared = 1,
      skewFailDocFreq = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == Set((1L, 2L)))
  }

  test("dupClusters chains non-transitive near-dups into one keep decision") {
    import spark.implicits._
    // A~B and B~C by pair list, A!~C — one cluster keeping the min id
    val pairs = Seq((10L, 20L), (20L, 30L), (50L, 60L)).toDF("id_a", "id_b")
    val expected = Set(
      (10L, 10L, true), (20L, 10L, false), (30L, 10L, false),
      (50L, 50L, true), (60L, 50L, false))
    // the driver union-find, then the GraphX route — output route-invariant
    val (out, distributed) = bothRoutes(Dedup.dupClusters(spark, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
    assert(out == expected)
    assert(distributed == expected)
  }

  test("keepBest keeps the highest-quality doc per cluster; singletons keep themselves") {
    import spark.implicits._
    val quality = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.7))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.keepBest(spark, quality, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    // cluster {1,2,3} labeled by min id 1; quality tie 2 vs 3 → smaller id
    assert(out(1L) == ((1L, false)))
    assert(out(2L) == ((1L, true)))
    assert(out(3L) == ((1L, false)))
    // doc 4 appears in no pair: singleton cluster, kept
    assert(out(4L) == ((4L, true)))
    // exactly one survivor per cluster, every doc labeled
    assert(out.size == 4 && out.values.count(_._2) == 2)
  }

  test("minhash-LSH finds the same planted near-dup as exact jaccard") {
    val lsh = Dedup.minhashLsh(docsWithPlants, n = 3, k = 64, bands = 16,
      threshold = 0.5)
    assert(lsh.filter(col("id_a") === 0 && col("id_b") === 10000).count() == 1)
    // exact copy pair too (jaccard 1.0)
    assert(lsh.filter(col("id_a") === 1 && col("id_b") === 10001).count() == 1)
    // LSH candidates are a subset: every verified pair must also pass
    // the brute-force threshold
    val brute = Dedup.jaccardPairs(docsWithPlants, 3, 0.5)
      .select("id_a", "id_b")
    assert(lsh.select("id_a", "id_b").exceptAll(brute).isEmpty)
  }

  test("shingles: documents shorter than n yield empty arrays, jobs survive") {
    import spark.implicits._
    val d = Seq((1L, "only two"), (2L, "a b c d e"), (3L, "a b c d e"))
      .toDF("doc_id", "text")
    val sh = d.select(Dedup.shingles(col("text"), 3).as("s")).collect()
    assert(sh.exists(_.getSeq[String](0).isEmpty), "short doc should have no shingles")
    val pairs = Dedup.jaccardPairs(d, n = 3, threshold = 0.5).collect()
    assert(pairs.length == 1 && pairs(0).getLong(0) == 2L && pairs(0).getLong(1) == 3L)
    assert(Dedup.minhashLsh(d, n = 3, k = 16, bands = 4, threshold = 0.5)
      .filter(col("id_a") === 2 && col("id_b") === 3).count() == 1)
  }

  test("winnowing: w+k-1-token matches share a fingerprint; short docs survive") {
    import spark.implicits._
    // Classic winnowing guarantee: any common substring of >= w+k-1
    // tokens yields a shared fingerprint. Docs a/b share a 12-token run
    // (>= 4+4-1=7); c is disjoint; d is shorter than k tokens.
    val run = (1 to 12).map(i => s"tok$i").mkString(" ")
    val in = Seq(
      (0L, s"alpha beta $run gamma"),
      (1L, s"$run delta epsilon zeta"),
      (2L, "completely different words with no overlap at all here now"),
      (3L, "too short")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(in, k = 4, w = 4)
    val byDoc = fps.collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    assert((byDoc(0L) intersect byDoc(1L)).nonEmpty,
      "12-token shared run must produce a shared fingerprint")
    assert((byDoc(0L) intersect byDoc(2L)).isEmpty)
    assert(byDoc(3L).size == 1, "sub-k doc degrades to one whole-text fp")
    // Density: winnowing keeps far fewer fingerprints than shingles.
    val nShingles = 12 + 2 - 4 + 1
    assert(byDoc(1L).size < nShingles)

    val pairs = TextAnalysis.winnowPairs(in, k = 4, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && !pairs.exists(p => p._1 == 2L || p._2 == 2L))
    // the doc-frequency cap drops fingerprints shared by > cap docs:
    // with cap=1 every shared fingerprint is boilerplate, so no pairs
    assert(TextAnalysis.winnowPairs(in, k = 4, w = 4, minShared = 1,
      maxDocFreq = Some(1L)).isEmpty)
    // a generous cap changes nothing
    assert(TextAnalysis.winnowPairs(in, k = 4, w = 4, minShared = 1,
      maxDocFreq = Some(100L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == pairs)
  }

  test("winnowing fingerprints are position-invariant for shared content") {
    import spark.implicits._
    // Prefixing a doc shifts every shingle position but the shared
    // suffix's fingerprints survive — the property hash-of-whole-doc
    // fingerprinting lacks.
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val in = Seq((0L, body), (1L, s"new leading preamble tokens $body"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(in, k = 4, w = 4)
    val byDoc = fps.collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    val shared = (byDoc(0L) intersect byDoc(1L)).size.toDouble
    assert(shared / byDoc(0L).size > 0.5,
      s"most of doc 0's fingerprints should survive the shift, got $shared/${byDoc(0L).size}")
  }

  test("simhashPairs enforces the pigeonhole recall contract") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxDist = 16)
    }
    // 8 chunks widen the full-recall guarantee to d ≤ 7
    assert(Dedup.simhashPairs(docsWithPlants, maxDist = 7, chunks = 8)
      .filter(col("id_a") === 1 && col("id_b") === 10001).count() == 1)
  }

  test("simhash: identical docs get identical fingerprints, near-dups close") {
    val sh = Dedup.simhash(docsWithPlants)
    val h1 = sh.filter(col("id") === 1).collect()(0).getLong(1)
    val h1c = sh.filter(col("id") === 10001).collect()(0).getLong(1)
    assert(h1 == h1c)
    val pairs = Dedup.simhashPairs(docsWithPlants, maxDist = 3)
    assert(pairs.filter(col("id_a") === 1 && col("id_b") === 10001).count() == 1)
  }

  test("brute-force ANN: k rows per query, self excluded, ordered") {
    val e = Tables.embeddings(spark, sf)
    val topk = Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, 3).cache()
    assert(topk.groupBy("qid").count().filter(col("count") =!= 3).isEmpty)
    assert(topk.filter(col("qid") === col("rid")).isEmpty)
    // rn=1 has max cos per group
    val bad = topk.groupBy("qid").agg(max("cos").as("m"))
      .join(topk.filter(col("rn") === 1), "qid")
      .filter(col("cos") =!= col("m"))
    assert(bad.isEmpty)
    topk.unpersist()
  }

  test("LSH ANN recall: top-1 from sign-LSH appears in brute-force top-5") {
    val e = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(e, e, 5).select("qid", "rid")
    val lsh = Similarity.lshTopK(e, k = 1).select("qid", "rid")
    val n = lsh.count()
    val hits = lsh.join(brute, Seq("qid", "rid"), "left_semi").count()
    assert(n > 0)
    assert(hits.toDouble / n > 0.5, s"LSH recall too low: $hits/$n")
  }

  test("IVF ANN returns k neighbors and beats random recall") {
    val e = Tables.embeddings(spark, sf)
    val ivf = Similarity.ivfTopK(spark, e, k = 3, nLists = 8, nProbe = 2)
    assert(ivf.filter(col("rn") === 1).count() > 0)
    val brute = Similarity.bruteForceTopK(e, e, 3).select("qid", "rid")
    val hits = ivf.filter(col("rn") === 1).select("qid", "rid")
      .join(brute, Seq("qid", "rid"), "left_semi").count()
    val n = ivf.filter(col("rn") === 1).count()
    assert(hits.toDouble / n > 0.3, s"IVF recall too low: $hits/$n")
  }

  /** 16-dim deterministic fixture: ring-of-clusters vectors, plus a
    * planted near-identical pair (ids 900/901). */
  private def smallDimVecs = {
    import spark.implicits._
    val base = (0 until 200).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    val near = {
      val rnd = new scala.util.Random(9001)
      val v = Array.fill(16)(rnd.nextGaussian().toFloat)
      val w = v.clone(); w(0) = w(0) + 0.01f
      Seq((900L, v), (901L, w))
    }
    (base ++ near).toDF("vec_id", "embedding")
  }

  test("ivfPqTopK: exact refine cos values, decent recall, planted pair found") {
    val e = Tables.embeddings(spark, sf)
    val pq = Similarity.ivfPqTopK(spark, e, k = 3, nLists = 8, nProbe = 2,
      m = 8, nCodes = 32, refine = 4).cache()
    val brute = Similarity.bruteForceTopK(e, e, 3).cache()
    // refine step re-ranks with TRUE vectors: every hit brute also
    // ranked must carry the identical exact cos
    val joined = pq.join(brute.select(col("qid"), col("rid"),
      col("cos").as("bcos")), Seq("qid", "rid"))
    assert(joined.count() > 0)
    assert(joined.filter(col("cos") =!= col("bcos")).isEmpty)
    // top-1 recall
    val hits = pq.filter(col("rn") === 1).select("qid", "rid")
      .join(brute.filter(col("rn") === 1).select("qid", "rid"),
        Seq("qid", "rid"), "left_semi").count()
    val n = pq.filter(col("rn") === 1).count()
    assert(hits.toDouble / n > 0.3, s"IVF-PQ recall too low: $hits/$n")
    pq.unpersist(); brute.unpersist()
  }

  test("ivfPqTopK honors non-64 dims (m=4 subspaces over dim=16)") {
    val e = smallDimVecs
    val pq = Similarity.ivfPqTopK(spark, e, k = 3, nLists = 4, nProbe = 2,
      m = 4, nCodes = 16, dim = 16)
    val brute = Similarity.bruteForceTopK(e, e, 3, dim = 16)
      .select(col("qid"), col("rid"), col("cos").as("bcos"))
    val joined = pq.join(brute, Seq("qid", "rid"))
    assert(joined.count() > 0)
    assert(joined.filter(col("cos") =!= col("bcos")).isEmpty)
    // the planted near-identical pair (900, 901) must find each other:
    // identical-direction vectors share every quantization cell
    val top1 = pq.filter(col("qid") === 900L && col("rn") === 1)
      .select("rid").collect().map(_.getLong(0))
    assert(top1.sameElements(Array(901L)))
  }

  test("ivfTopK honors non-64 dims: cos values agree with brute force") {
    val e = smallDimVecs
    val ivf = Similarity.ivfTopK(spark, e, k = 3, nLists = 4, nProbe = 2, dim = 16)
    val brute = Similarity.bruteForceTopK(e, e, 3, dim = 16)
      .select(col("qid"), col("rid"), col("cos").as("bcos"))
    // every IVF hit that brute force also ranked must carry the same cos
    val joined = ivf.join(brute, Seq("qid", "rid"))
    assert(joined.count() > 0)
    assert(joined.filter(col("cos") =!= col("bcos")).isEmpty)
  }

  test("blocked cosinePairs is exactly the brute-force result (multi-block)") {
    val e = Tables.embeddings(spark, sf)
    val brute = Similarity.cosinePairsBrute(e, threshold = 0.35)
    // blockSize 64 forces many blocks at any sf; result must be identical
    val blocked = Similarity.cosinePairs(e, threshold = 0.35, blockSize = 64)
    assert(brute.count() > 0)
    assert(blocked.exceptAll(brute).isEmpty && brute.exceptAll(blocked).isEmpty)
  }

  test("cosinePairs size contract: oversized input fails loudly, not quadratically") {
    val e = Tables.embeddings(spark, sf)
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(e, threshold = 0.35, maxRows = 5)
    }
    assert(ex.getMessage.contains("EXACT all-pairs"))
    assert(ex.getMessage.contains("cosinePairsLsh"))
  }

  test("cosinePairsLsh finds planted high-cos pair, subset of brute") {
    val e = smallDimVecs
    val lsh = Similarity.cosinePairsLsh(e, threshold = 0.9, nBits = 512,
      bands = 32, dim = 16)
    assert(lsh.filter(col("id_a") === 900 && col("id_b") === 901).count() == 1)
    val brute = Similarity.cosinePairsBrute(e, threshold = 0.9, dim = 16)
    assert(lsh.exceptAll(brute).isEmpty && brute.exceptAll(lsh).isEmpty)
  }

  test("semDedupPairs: K=1 ≡ brute bit-for-bit; planted pair survives K>1") {
    val e = smallDimVecs
    val one = Similarity.semDedupPairs(spark, e, threshold = 0.35,
      nClusters = 1, dim = 16).drop("cluster")
    val brute = Similarity.cosinePairsBrute(e, threshold = 0.35, dim = 16)
    assert(brute.count() > 0)
    assert(one.exceptAll(brute).isEmpty && brute.exceptAll(one).isEmpty)
    // near-identical vectors quantize to the same cell at any K — the
    // SemDeDup premise — so the planted pair is found under clustering
    val k4 = Similarity.semDedupPairs(spark, e, threshold = 0.9,
      nClusters = 4, dim = 16)
    assert(k4.filter(col("id_a") === 900 && col("id_b") === 901).count() == 1)
  }

  test("semDedupPairs skew valve: oversized cluster fails loudly") {
    val e = smallDimVecs
    val ex = intercept[IllegalArgumentException] {
      Similarity.semDedupPairs(spark, e, threshold = 0.9, nClusters = 2,
        dim = 16, maxClusterSize = 10)
    }
    assert(ex.getMessage.contains("nClusters"))
  }

  test("semDedup: one survivor per group, least-central kept, all rows returned") {
    val e = smallDimVecs
    val dec = Similarity.semDedup(spark, e, threshold = 0.9, nClusters = 4,
      dim = 16).cache()
    assert(dec.count() == e.count())
    // exactly one keep per duplicate group (incl. every singleton)
    assert(dec.groupBy("group_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("k"))
      .filter(col("k") =!= 1).count() == 0)
    // the planted pair forms one group; the kept member is the one
    // LESS similar to its centroid (paper §A.2), ties to min id
    val g = dec.filter(col("vec_id").isin(900L, 901L)).collect()
    assert(g.map(_.getAs[Long]("group_id")).distinct.length == 1)
    val kept = g.filter(_.getAs[Boolean]("keep"))
    val dropped = g.filter(r => !r.getAs[Boolean]("keep"))
    assert(kept.length == 1 && dropped.length == 1)
    assert(kept(0).getAs[Double]("centroid_cos")
      <= dropped(0).getAs[Double]("centroid_cos"))
    dec.unpersist()
  }

  test("kMeansAssign: separable clusters, dual-route agreement, monotone inertia") {
    import spark.implicits._
    // two tight blobs far apart in dim 16: k=2 must separate them
    val vecs = (0L until 40L).map { i =>
      val base = if (i < 20) 0f else 10f
      val r = new java.util.Random(i)
      (i, Array.tabulate(16)(_ => base + 0.1f * r.nextFloat()))
    }.toDF("vec_id", "embedding")
    val got = Similarity.kMeansAssign(spark, vecs, k = 2, iters = 4, dim = 16)
      .collect()
    assert(got.length == 40)
    assert(got.forall(_.getBoolean(1)), "dual-route argmin must agree")
    assert(got.forall(_.getBoolean(2)), "inertia must not increase")
  }

  test("lengthQuantiles: closed-form interpolated percentiles") {
    import spark.implicits._
    // lengths 1..5 in one source: p50 = 3, p90 = 0.9*4 = rank 3.6 →
    // 4 + 0.6*(5-4) = 4.6; p99 → 4 + 0.96*1 = 4.96
    val d = Seq("a", "a b", "a b c", "a b c d", "a b c d e")
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "s1") }
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.lengthQuantiles(d).collect()(0)
    assert(r.getAs[Long]("n_docs") == 5)
    assert(r.getAs[Double]("p50") == 3.0)
    assert(r.getAs[Double]("p90") == 4.6)
    assert(r.getAs[Double]("p99") == 4.96)
  }

  test("vocabEncode: rank-ordered ids, OOV→0, positions 1-based in order") {
    import spark.implicits._
    val d = Seq((1L, "b a b c b a"), (2L, "a z a")).toDF("doc_id", "text")
    // freq: b=3, a=4 → wait: a appears 2+2=4, b=3, c=1, z=1
    // V=3 by (cnt desc, term asc): a(4)→1, b(3)→2, c(1)→3; z is OOV→0
    val r = TextAnalysis.vocabEncode(d, maxVocab = 3).collect()
      .map(x => (x.getLong(0), x.getInt(1)) -> x.getInt(2)).toMap
    assert(r((1L, 1)) == 2 && r((1L, 2)) == 1 && r((1L, 3)) == 2 &&
      r((1L, 4)) == 3 && r((1L, 5)) == 2 && r((1L, 6)) == 1)
    assert(r((2L, 1)) == 1 && r((2L, 2)) == 0 && r((2L, 3)) == 1)
    assert(r.size == 9)
  }

  test("imageDupPairs: identical/near-identical images pair, distinct do not") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val v = f(x, y) & 0xff; img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val grad = png((x, _) => x * 8)                     // left-dark gradient
    val gradCopy = png((x, _) => x * 8)                 // identical
    val gradNoisy = png((x, y) =>                       // one pixel nudged
      if (x == 5 && y == 5) x * 8 + 1 else x * 8)
    val inverse = png((x, _) => 255 - x * 8)            // opposite structure
    val junk = "not an image".getBytes
    val rows = Seq((1L, grad), (2L, gradCopy), (3L, gradNoisy),
      (4L, inverse), (5L, junk))
      .map { case (id, b) => (id, "image", b) }
    val media = rows.toDF("media_id", "modality", "payload")
    val hashes = Multimodal.imageHashes(spark, media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(hashes(1L) == hashes(2L) && hashes(1L)._2, "identical → same hash")
    assert(!hashes(5L)._2, "undecodable row accounted with decoded=false")
    val pairs = Multimodal.imageDupPairs(spark, media, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) <= 3,
      "one-pixel nudge stays within 3 bits")
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "inverse-structure image must not pair")
    assert(!pairs.keySet.exists { case (a, b) => a == 5L || b == 5L },
      "undecoded rows must not enter the pair join")
  }

  test("mediaDupPairs: audio gain-invariance, video brightness-invariance") {
    import spark.implicits._
    import javax.sound.sampled._
    def wav(pattern: Int => Double): Array[Byte] = {
      val n = 1600
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val v = (16384 * pattern(i) * math.sin(2 * math.Pi * 440 * i / 8000.0)).toInt
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val baos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    def y4m(lumas: Seq[Int]): Array[Byte] = {
      val header = "YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420\n".getBytes("US-ASCII")
      header ++ lumas.flatMap(l => "FRAME\n".getBytes("US-ASCII") ++
        Array.fill(16)(l.toByte) ++ Array.fill(8)(128.toByte))
    }
    val burst = wav(i => if (i < 800) 1.0 else 0.0)       // loud → silent
    val burstHalf = wav(i => if (i < 800) 0.5 else 0.0)   // same shape, -6 dB
    val burstInv = wav(i => if (i < 800) 0.0 else 1.0)    // silent → loud
    val clip = y4m(Seq(200, 50, 50, 50))
    val clipBright = y4m(Seq(220, 70, 70, 70))            // +20 brightness
    val clipInv = y4m(Seq(50, 200, 200, 200))
    val media = Seq(
      (1L, "audio", burst), (2L, "audio", burstHalf), (3L, "audio", burstInv),
      (10L, "video", clip), (11L, "video", clipBright), (12L, "video", clipInv)
    ).toDF("media_id", "modality", "payload")
    val pairs = Multimodal.mediaDupPairs(spark, media, maxDist = 3)
    val byPair = pairs.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> (r.getString(0), r.getInt(3))).toMap
    assert(byPair.get((1L, 2L)).exists(_._2 == 0),
      s"gain-scaled copy must hash identically, got $byPair")
    assert(!byPair.contains((1L, 3L)) && !byPair.contains((2L, 3L)),
      "inverted envelope must not pair")
    assert(byPair.get((10L, 11L)).exists(_._2 == 0),
      "brightness-shifted clip must hash identically")
    assert(!byPair.contains((10L, 12L)) && !byPair.contains((11L, 12L)),
      "inverted temporal structure must not pair")
    assert(byPair.keySet.forall { case (a, b) => (a < 10) == (b < 10) },
      "pairs never cross modalities")
    pairs.unpersist()
  }

  test("qualityBudgetSelect: best-first prefix per source, partition-invariant") {
    import spark.implicits._
    // src A: three clean docs (quality 1.0 each, ties → id order), 6
    // tokens each; budget 13 keeps ids 1,2 (cum 6,12), cuts id 3 (18).
    // A degenerate doc (id 4, high repetition → lower quality) sorts
    // last regardless of id. src B absent from the spec keeps nothing.
    val d = Seq(
      (1L, "alpha beta gamma delta eps zeta", "A"),
      (2L, "one two three four five six", "B"),
      (3L, "red green blue cyan pink teal", "A"),
      (4L, "spam spam spam spam spam spam", "A"),
      (5L, "seven eight nine ten eleven twelve", "A")
    ).toDF("doc_id", "text", "source")
    def run() = TextAnalysis.qualityBudgetSelect(d,
      Map("A" -> 13L), srcCol = "source")
    val r = run().collect()
      .map(x => x.getLong(0) -> (x.getLong(3), x.getBoolean(4))).toMap
    // quality-1.0 docs in id order: 1 (cum 6), 3 (12), 5 (18); spam doc
    // 4 last (24). Budget 13 → keep {1, 3} only.
    assert(r(1L) == ((6L, true)) && r(3L) == ((12L, true)))
    assert(r(5L) == ((18L, false)) && r(4L) == ((24L, false)))
    assert(r(2L)._2 == false, "source absent from spec keeps nothing")
    assert(r.size == 5, "every doc keeps an accounted row")
    // partition-invariance: same cums under a different partitioning
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val r3 = run().collect()
        .map(x => x.getLong(0) -> (x.getLong(3), x.getBoolean(4))).toMap
      assert(r3 == r, "prefix sums must not depend on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("bm25TopK: hand-computed scores, rarity beats frequency, no-hit docs absent") {
    import spark.implicits._
    // corpus of 4: doc1 has 'cat' twice (dl 4), doc2 'cat' once (dl 2),
    // doc3 'dog' once (dl 2), doc4 neither (dl 2). N=4, avgdl=2.5.
    val d = Seq((1L, "cat cat x y"), (2L, "cat z"), (3L, "dog w"),
      (4L, "p q")).toDF("doc_id", "text")
    val r = TextAnalysis.bm25TopK(d, "cat dog", k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(!r.contains(4L), "doc with no query terms must not appear")
    def idf(df: Int) = math.log(1 + (4 - df + 0.5) / (df + 0.5))
    def w(tf: Int, dl: Int) =
      tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.5))
    def rnd(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(1L) == rnd(idf(2) * w(2, 4)))
    assert(r(2L) == rnd(idf(2) * w(1, 2)))
    assert(r(3L) == rnd(idf(1) * w(1, 2)))
    // dog is rarer than cat → doc3 outscores doc2 at equal tf and dl
    assert(r(3L) > r(2L))
  }

  test("contaminationBloom: never undercounts; matches exact on fixture") {
    import spark.implicits._
    val ref = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "we say quick brown fox jumps over and more"),
      (2L, "completely clean text with no overlap at all"),
      (3L, "too short")).toDF("doc_id", "text")
    val bloom = Dedup.contaminationBloom(docs, ref, n = 3)
      .select("doc_id", "n_shingles", "n_flagged_ub")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // tiny ref at fpp=1e-3: deterministic sketch, zero FPs here — the
    // screen equals the exact join route bit for bit
    assert(bloom(1L) == ((7L, 3L)))
    assert(bloom(2L) == ((6L, 0L)))
    assert(bloom(3L) == ((0L, 0L)), "short doc keeps an accounted row")
    // no-false-negative property at scale: 400 docs, 25% in ref —
    // every exact hit must be flagged
    val big = (0L until 400L).map(i =>
      (i, s"tok${i}a tok${i}b tok${i}c shared$i common tail word")).toDF("doc_id", "text")
    val bigRef = big.filter($"doc_id" % 4 === 0)
    val ex = Dedup.contamination(big, bigRef, n = 3)
      .select("doc_id", "n_contaminated").as[(Long, Long)].collect().toMap
    val bl = Dedup.contaminationBloom(big, bigRef, n = 3)
      .select("doc_id", "n_flagged_ub").as[(Long, Long)].collect().toMap
    ex.foreach { case (id, nEx) =>
      assert(bl(id) >= nEx, s"doc $id: bloom $nEx > flagged ${bl(id)}")
    }
  }

  test("dedupPassages: planted boilerplate dropped except first occurrence") {
    import spark.implicits._
    // window=2: doc1 = [a b][c d], doc2 = [a b][x y], doc3 = [a b][c d]
    // "a b" appears 3x, "c d" 2x → doc1 (first) keeps both, doc2 loses
    // "a b" keeps "x y", doc3 loses everything.
    val d = Seq((1L, "a b c d"), (2L, "a b x y"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val r = Dedup.dedupPassages(d, window = 2).collect()
      .map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) == ("a b c d", 2L, 2L))
    assert(r(2L) == ("x y", 2L, 1L))
    assert(r(3L) == ("", 2L, 0L))
    // minDupCount=4: nothing reaches 4 copies → everything kept
    val all = Dedup.dedupPassages(d, window = 2, minDupCount = 4).collect()
    assert(all.forall(x => x.getString(1) == d.collect()
      .find(_.getLong(0) == x.getLong(0)).get.getString(1)))
    // ragged tail: 5 tokens at window=2 → 3 passages, last is 1 token
    val tail = Dedup.dedupPassages(
      Seq((9L, "p q r s t")).toDF("doc_id", "text"), window = 2).collect()(0)
    assert(tail.getString(1) == "p q r s t" && tail.getLong(2) == 3L)
  }

  test("dsirWeights: target-like docs outweigh off-target; gram count exact") {
    import spark.implicits._
    // target slice speaks "x y"-world; raw background speaks "p q"-world;
    // probe docs: one target-like, one background-like
    val d = (Seq(
      (1L, "x y x y x", true), (2L, "y x y x y", true),
      (3L, "p q p q p", false), (4L, "q p q p q", false),
      (10L, "x y x y", false), (11L, "p q p q", false))
    ).toDF("doc_id", "text", "is_t")
    val w = TextAnalysis.dsirWeights(d, targetPred = col("is_t"),
      buckets = 64).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // unigrams + bigrams: 5-token doc → 9 grams, 4-token → 7
    assert(w(1L)._1 == 9 && w(10L)._1 == 7)
    // the target-like probe must carry a strictly higher weight
    assert(w(10L)._2 > w(11L)._2)
    // and target-vocab docs sit above background docs generally
    assert(Seq(1L, 2L).map(w(_)._2).min > Seq(3L, 4L).map(w(_)._2).max)
  }

  test("dsirWeights bigram features are real (unigram-identical docs split)") {
    import spark.implicits._
    // target and background share the SAME unigram bag {x, y} — only
    // word ORDER (the bigrams) distinguishes them. A broken bigram
    // feature (e.g. shifted unigrams) cannot separate the probes.
    val d = Seq(
      (1L, "x y x y x y", true), (2L, "x y x y x y", true),
      (3L, "y x y x y x", false), (4L, "y x y x y x", false),
      (10L, "x y x y", false), (11L, "y x y x", false))
      .toDF("doc_id", "text", "is_t")
    val w = TextAnalysis.dsirWeights(d, targetPred = col("is_t"),
      buckets = 64).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(10L) > w(11L),
      s"bigram-order probe failed: target-like ${w(10L)} !> ${w(11L)}")
  }

  test("unigramLogLik: hand-computed NLL; rare-term docs score higher") {
    import spark.implicits._
    val d = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // global: a=3, b=1, c=1, t=5
    // d1 = -(2·ln(3/5) + ln(1/5))/3 = 0.877030 (6dp)
    // d2 = -(ln(3/5) + ln(1/5))/2   = 1.060132 — more rare terms → higher
    val r = TextAnalysis.unigramLogLik(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) == ((3L, 0.877030)) && r(2L) == ((2L, 1.060132)))
  }

  test("mixtureSample: in-plan thresholds ≡ deterministicSample, clamp, drops") {
    import spark.implicits._
    val d = ((0 until 40).map(i => (i.toLong, "a b c d", "s1")) ++
      (100 until 105).map(i => (i.toLong, "x y", "s2")) ++
      (200 until 210).map(i => (i.toLong, "p q r", "s3")) ++
      (300 until 305).map(i => (i.toLong, "m n", "s4")))
      .toDF("doc_id", "text", "source")
    // s1: 160 tokens, budget 80 → rate exactly 0.5; s2 clamps to 1.0;
    // s3 absent from the spec → dropped; s4 budget 0 → rate 0.
    val out = TextAnalysis.mixtureSample(d,
      budgets = Map("s1" -> 80L, "s2" -> 10000L, "s4" -> 0L)).cache()
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("s3") && !bySrc.contains("s4"))
    assert(bySrc("s2") == 5) // clamp keeps every doc
    // the in-plan hex threshold must reproduce hexThreshold(0.5) exactly:
    // kept s1 docs == deterministicSample at p=0.5 on the same keys
    val expected = TextAnalysis.deterministicSample(
      d.filter(col("source") === "s1"), "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = out.filter(col("source") === "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty && got.size < 40)
    // rate column carries the exact division
    val rates = out.select("source", "rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("s1") == 0.5 && rates("s2") == 1.0)
    out.unpersist()
  }

  test("approximate queries q27/q30/q41/q56/q62 enforce their recall floors") {
    val qs = graft.SparkEntry.queries
    // q27 still carries the raw recall value
    val q27 = qs("q27_minhash_lsh")(spark, sf)
      .select("recall_vs_brute").distinct().collect()
    assert(q27.length == 1 && q27(0).getDouble(0) >= 0.8)
    // the graduated audits emit hash-gated contract booleans — every
    // column of every row must be true (what the DuckDB oracle pins)
    for (name <- Seq("q30_lsh_topk", "q41_ivf_topk", "q56_ivfpq_topk",
        "q62_semdedup")) {
      val df = qs(name)(spark, sf)
      val boolCols = df.schema.fields.filter(_.dataType ==
        org.apache.spark.sql.types.BooleanType).map(_.name)
      assert(boolCols.length >= 5, s"$name audit shape changed")
      val anyFalse = df.filter(boolCols.map(c => !col(c)).reduce(_ || _))
      assert(anyFalse.isEmpty, s"$name has a false contract boolean")
    }
  }

  test("q180 ccnet buckets: balanced tertiles, NLL-ordered per source") {
    val out = SparkEntry.queries("q180_ccnet_buckets")(spark, sf).cache()
    // tertile sizes differ by at most 1 within each source
    val sizes = out.groupBy("source", "bucket").count()
      .groupBy("source").agg(max("count").as("mx"), min("count").as("mn"))
    assert(sizes.filter(col("mx") - col("mn") > 1).isEmpty)
    // ordering: every head NLL <= every middle NLL <= every tail NLL
    val b = out.groupBy("source").agg(
      max(when(col("bucket") === "head", col("avg_nll"))).as("hmax"),
      min(when(col("bucket") === "middle", col("avg_nll"))).as("mmin"),
      max(when(col("bucket") === "middle", col("avg_nll"))).as("mmax"),
      min(when(col("bucket") === "tail", col("avg_nll"))).as("tmin"))
    assert(b.filter(col("hmax") > col("mmin") ||
      col("mmax") > col("tmin")).isEmpty)
    out.unpersist()
  }

  test("normalizeText: collapse rules, fixed point, clean text untouched") {
    import spark.implicits._
    val d = Seq(
      (1L, "  MiXed\t\tCASE   runs!!!  here??  ,,, end...  "),
      (2L, "already clean."),
      (3L, "a\nb\nc")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.normalizeText(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[String]("normalized") ==
      "mixed case runs! here? , end.")
    assert(r(1L).getAs[Boolean]("changed") &&
      r(1L).getAs[Boolean]("idempotent"))
    assert(r(2L).getAs[String]("normalized") == "already clean." &&
      !r(2L).getAs[Boolean]("changed"))
    assert(r(3L).getAs[String]("normalized") == "a b c")
    // fixed point holds on every corpus doc too
    val corpus = TextAnalysis.normalizeText(
      graft.Tables.documents(spark, sf))
    assert(corpus.filter(!col("idempotent")).isEmpty)
  }

  test("labelOutliers: planted far point flags, cluster points do not") {
    import spark.implicits._
    def v(x: Float) = Array.tabulate(64)(i => if (i == 0) x else 0f)
    val d = ((1 to 20).map(i => (i.toLong, v(0f), 0)) ++
      Seq((21L, v(10f), 0))).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelOutliers(spark, d).collect()
      .map(x => x.getAs[Long]("vec_id") ->
        (x.getAs[Double]("z"), x.getAs[Boolean]("is_outlier"))).toMap
    // centroid x=10/21; z of the far point = 86.17/19.74 ≈ 4.37
    assert(r(21L)._2 && r(21L)._1 > 4.0)
    assert((1 to 20).forall(i => !r(i.toLong)._2 && r(i.toLong)._1 < 0))
    // corpus: z standardization sane — per-label mean z near 0
    val c = Similarity.labelOutliers(spark,
      graft.Tables.embeddings(spark, sf))
      .groupBy("label").agg(avg("z").as("mz"))
    assert(c.filter(abs(col("mz")) > 0.01).isEmpty)
  }

  test("kCenterGreedy: farthest-point trajectory on planted 1-D geometry") {
    import spark.implicits._
    def v(x: Float) = Array.tabulate(64)(i => if (i == 0) x else 0f)
    val d = Seq((1L, v(0f)), (2L, v(10f)), (3L, v(4f)), (4L, v(9.5f)),
      (5L, v(0.1f))).toDF("vec_id", "embedding")
    // start = min id (1 at x=0); farthest is 2 (d²=100); then the
    // max-min point is 3 (min(16, 36) = 16 beats 4's 0.25 and 5's 0.01)
    val r = Similarity.kCenterGreedy(spark, d, k = 3).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2))).toSeq
    assert(r == Seq((1, 1L, 0.0), (2, 2L, 100.0), (3, 3L, 16.0)))
    // corpus run: selection radii are non-increasing (the greedy
    // max-min certificate), ids distinct
    val c = Similarity.kCenterGreedy(spark,
      graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 50), k = 4)
      .orderBy("rank").collect().map(x => (x.getLong(1), x.getDouble(2)))
    assert(c.map(_._1).distinct.length == 4)
    assert(c.drop(1).map(_._2).sliding(2).forall(w =>
      w.length < 2 || w(0) >= w(1)))
  }

  test("ANN topK: under-filled queries are padded to exactly k by exact fallback") {
    import spark.implicits._
    // 12 well-separated random vectors at one band of 16 bits: buckets
    // are near-singletons, so most queries come back with < k
    // candidates — exactly the data-dependent shortfall the q30/q41/q56
    // audits' pinned k_ok used to be exposed to
    val rnd = new scala.util.Random(3)
    val d = (0L until 12L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val got = Similarity.lshTopK(d, k = 5, nBits = 16, bands = 1).cache()
    // exactly k per query, for every input vector
    val counts = got.groupBy("qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 12L).forall(counts.get(_).contains(5L)), s"got $counts")
    // a query with ZERO band collisions gets the TRUE top-k (the pad is
    // an exact re-rank, not filler)
    val brute = Similarity.bruteForceTopK(d, d, k = 5)
    val b0 = brute.filter(col("qid") === 0).orderBy("rn").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val g0 = got.filter(col("qid") === 0).orderBy("rn").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(g0 == b0, s"padded query diverges from brute: $g0 vs $b0")
    got.unpersist()
    // ivf route: nProbe=1 over many lists under-fills too — same contract
    val ivf = Similarity.ivfTopK(spark, d, k = 5, nLists = 8, nProbe = 1)
    val ic = ivf.groupBy("qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 12L).forall(ic.get(_).contains(5L)), s"got $ic")
  }

  test("kCenterGreedy: k > n refused; duplicate vectors stop early, no dup ids") {
    import spark.implicits._
    def v(x: Float) = Array.tabulate(64)(i => if (i == 0) x else 0f)
    val d = Seq((1L, v(0f)), (2L, v(10f)), (3L, v(0f)), (4L, v(10f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.kCenterGreedy(spark, d, k = 5)
    }
    // two distinct positions, four points: after centers {1, 2} every
    // remaining point coincides with a center (max-min distance 0) —
    // the traversal must stop at 2 rows, never emitting a duplicate id
    val r = Similarity.kCenterGreedy(spark, d, k = 4).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2))).toSeq
    assert(r == Seq((1, 1L, 0.0), (2, 2L, 100.0)), s"got $r")
  }

  test("jlProject: basis vectors reproduce the sign matrix; norms preserved on average") {
    import spark.implicits._
    // input 4·e_5 → coord_j = 4·sign(5,j)/√16 = sign(5,j) exactly
    val d = Seq((1L, Array.tabulate(64)(i => if (i == 5) 4f else 0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.jlProject(d).orderBy("dim").collect()
      .map(x => x.getDouble(2))
    assert(r.length == 16)
    (0 until 16).foreach { j =>
      assert(r(j) == Similarity.jlSign(5, j), s"dim $j sign mismatch")
    }
    // corpus: E‖x′‖² = ‖x‖² — mean norm ratio near 1 (JL at d′=16 is
    // loose per-vector, tight in aggregate)
    val e = graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
    val pn = Similarity.jlProject(e).groupBy("vec_id")
      .agg(sum(col("coord") * col("coord")).as("p2"))
    val on = e.select(col("vec_id"), aggregate(transform(col("embedding"),
      x => x.cast("double")), lit(0.0), (a, x) => a + x * x).as("o2"))
    val ratio = pn.join(on, "vec_id")
      .agg(avg(sqrt(col("p2") / col("o2")))).collect()(0).getDouble(0)
    assert(ratio > 0.8 && ratio < 1.2, s"mean norm ratio $ratio")
  }

  test("temperatureWeights: α<1 upweights the rare language, weights sum to 1") {
    import spark.implicits._
    val d = ((1 to 8).map(i => (i.toLong, "x", "en")) ++
      Seq((9L, "x", "sw"))).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.temperatureWeights(d, alpha = 0.5, budget = 900L)
      .collect().map(x => x.getString(0) -> x).toMap
    // p_en=8/9, p_sw=1/9; pa=sqrt(p); w_sw = (1/3)/(sqrt(8)/3 + 1/3)
    val wSw = (1.0 / 3) / (math.sqrt(8.0) / 3 + 1.0 / 3)
    assert(math.abs(r("sw").getAs[Double]("weight") - wSw) < 1e-6)
    assert(math.abs(r("en").getAs[Double]("weight") +
      r("sw").getAs[Double]("weight") - 1.0) < 1e-5)
    // the rare language oversamples (>1), the dominant one under (<1)
    assert(r("sw").getAs[Double]("oversample") > 1.0 &&
      r("en").getAs[Double]("oversample") < 1.0)
    assert(math.abs(r("sw").getAs[Double]("expected_docs") -
      900.0 * wSw) < 1e-3)
  }

  test("domainMixWeights: higher-NLL source gets upweight > 1, softmax sums to 1") {
    import spark.implicits._
    // s1 text is all common tokens; s2 carries rare tokens → higher NLL
    val d = (Seq.tabulate(6)(i => (i.toLong, "a a a b", "s1")) ++
      Seq((10L, "z1 z2 a", "s2"), (11L, "z3 z4 b", "s2")))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.domainMixWeights(d, eta = 1.0)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("s2").getAs[Double]("avg_nll") >
      r("s1").getAs[Double]("avg_nll"))
    assert(math.abs(r("s1").getAs[Double]("weight") +
      r("s2").getAs[Double]("weight") - 1.0) < 1e-5)
    // the hard (rare-token) minority domain is boosted over its share
    assert(r("s2").getAs[Double]("upweight") > 1.0 &&
      r("s1").getAs[Double]("upweight") < 1.0)
  }

  test("gopherRules: each rule flips on its own trigger") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox and the lazy dog ran with that pace"),
      (2L, "tiny doc"),                                    // word floor
      (3L, (1 to 6).map(_ => "aaaaaaaaaaaaaaa").mkString(" ")), // len 15
      (4L, "the quick brown fox and the lazy dog ran with that pace # # #"),
      (5L, (1 to 10).map(_ => "• the item of list").mkString("\n")),
      (6L, "the first line of it\nread more...\nclick here...\nthe end"),
      (7L, "1 2 3 4 5 6 7 8 the of"),                      // digits only
      (8L, "quick brown foxes jump gates")                 // no stopwords
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(d, minWords = 5L).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("gopher_keep"))
    assert(r(1L).getAs[Long]("n_stopwords") == 4L) // the/and/with/that
    assert(!r(2L).getAs[Boolean]("words_ok"))
    assert(!r(3L).getAs[Boolean]("word_len_ok"))
    assert(!r(4L).getAs[Boolean]("symbol_ok"))
    assert(!r(5L).getAs[Boolean]("bullet_ok"))
    assert(!r(6L).getAs[Boolean]("ellipsis_ok"))
    assert(!r(7L).getAs[Boolean]("alpha_ok"))
    assert(!r(8L).getAs[Boolean]("stop_ok") &&
      r(8L).getAs[Boolean]("alpha_ok"))
    assert(Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L)
      .forall(i => !r(i).getAs[Boolean]("gopher_keep")))
  }

  test("dedupSpans: first occurrence survives, later copies lose the span") {
    import spark.implicits._
    // docs 1/2 share an 8-token boilerplate region; doc 3 repeats its
    // own 8-gram internally; doc 4 is short and untouched
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val d = Seq(
      (1L, s"u1 u2 $boiler t1"),          // first occurrence → intact
      (2L, s"v1 $boiler v2 v3"),          // later copy → span removed
      (3L, s"$boiler x $boiler"),         // internal repeat → 2nd removed
      (4L, "tiny doc here"))              // < L tokens → untouched
      .toDF("doc_id", "text")
    val got = Dedup.dedupSpans(d, L = 8).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned"))).toMap
    assert(got(1L) == ((11L, 0L, s"u1 u2 $boiler t1")))
    assert(got(2L) == ((11L, 8L, "v1 v2 v3")))
    // doc 3: its own first "$boiler" is position (3,0)... but doc 1's
    // copy at (1,2) is globally first, so BOTH doc-3 copies go; the
    // middle x survives only if uncovered — grams overlapping x are
    // unique, so x stays
    assert(got(3L) == ((17L, 16L, "x")))
    assert(got(4L) == ((3L, 0L, "tiny doc here")))
  }

  test("decontaminateSpans: eval-overlapping spans removed, all occurrences") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"e$i").mkString(" ")
    val train = Seq(
      (1L, s"u1 u2 $boiler t1"),          // contains the eval span → cut
      (2L, s"$boiler x $boiler"),         // BOTH copies cut (no first-keeps)
      (3L, "clean text with no overlap at all here ok"),
      (4L, "tiny doc"))                   // < L tokens → untouched
      .toDF("doc_id", "text")
    val eval = Seq((100L, s"prefix $boiler suffix")).toDF("doc_id", "text")
    val got = Dedup.decontaminateSpans(train, eval, L = 8).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned"))).toMap
    assert(got(1L) == ((11L, 8L, "u1 u2 t1")))
    assert(got(2L) == ((17L, 16L, "x")))
    assert(got(3L) == ((9L, 0L, "clean text with no overlap at all here ok")))
    assert(got(4L) == ((2L, 0L, "tiny doc")))
    // and an eval set with no ≥L doc removes nothing
    val evShort = Seq((100L, "too short")).toDF("doc_id", "text")
    assert(Dedup.decontaminateSpans(train, evShort, L = 8)
      .agg(sum("n_removed")).head.getLong(0) == 0L)
  }

  test("docsByDupPassages: cross-doc duplication drops, internal repeats don't") {
    import spark.implicits._
    val p1 = (1 to 15).map(i => s"a$i").mkString(" ")
    val p2 = (1 to 15).map(i => s"b$i").mkString(" ")
    val p3 = (1 to 15).map(i => s"c$i").mkString(" ")
    val d = Seq(
      (1L, s"$p1 $p2"),        // original: 0/2 dup → keep
      (2L, s"$p1 $p3"),        // 1/2 passages first seen in doc 1 → 0.5 > 0.3 → drop
      (3L, s"$p3 $p3"),        // internal repeat only: first occurrence doc 2 for p3!
      (4L, "fresh short doc"))
      .toDF("doc_id", "text")
    val got = Dedup.docsByDupPassages(d, window = 15, threshold = 0.3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got(1L) == ((2L, 0L, 0.0, true)))
    assert(got(2L) == ((2L, 1L, 0.5, false)))
    // doc 3: both its passages are p3, whose first occurrence is doc 2
    // (earlier doc) → both dup → dropped. Cross-doc, not internal.
    assert(got(3L) == ((2L, 2L, 1.0, false)))
    assert(got(4L) == ((1L, 0L, 0.0, true)))
    // pure internal repetition with NO earlier external copy is kept
    val solo = Seq((7L, s"$p1 $p1"), (9L, "unrelated text here"))
      .toDF("doc_id", "text")
    val s7 = Dedup.docsByDupPassages(solo, window = 15, threshold = 0.3)
      .filter(col("doc_id") === 7).head()
    assert(s7.getLong(2) == 0L && s7.getBoolean(4))
  }

  test("Curate.corpus: end-to-end chain — monotone stages, clean output, no split leaks") {
    import graft.pipeline.Curate
    val (curated, audit) = Curate.corpus(spark, docs)
    val a = audit.cache()
    val c = curated.cache()
    val n = docs.count()
    assert(a.count() == n, "audit must cover every input row")
    // stage monotonicity: each keep set is a subset of the previous
    // (the model gate alone may pass rule-rejects — the score
    // generalizes — but the PIPELINE gate is their intersection)
    assert(a.filter(col("exact_keep") &&
      !(col("rule_keep") && col("model_keep"))).isEmpty,
      "exact-dedup survivors must have passed both gates")
    assert(a.filter(col("neardup_keep") && !col("exact_keep")).isEmpty,
      "near-dup survivors must be exact-dedup survivors")
    // curated = audit's kept set, enriched
    assert(c.count() == a.filter(col("kept")).count())
    // no exact duplicates survive
    assert(c.groupBy(md5(col("text"))).count()
      .filter(col("count") > 1).isEmpty, "exact dup in curated output")
    // no verifying near-dup pair survives inside the curated set
    val survPairs = Dedup.minhashLsh(c.select("doc_id", "text"),
      n = 3, k = 64, bands = 16, threshold = 0.5)
    assert(survPairs.isEmpty, "near-dup pair survived curation")
    // split sanity: all three labels present, groups never straddle
    assert(c.select("split").distinct().count() == 3)
    assert(c.groupBy("group_id").agg(countDistinct("split").as("ns"))
      .filter(col("ns") =!= 1).isEmpty)
    a.unpersist(); c.unpersist()
  }

  test("oovAudit / shardManifest / corpusDiff: audit primitives on hand fixtures") {
    import spark.implicits._
    // OOV: 4 docs over {a,b} plus rare words; vocabSize=2 → {a,b} in-vocab
    val d = Seq((1L, "a a b"), (2L, "a zz"), (3L, "qq rr"), (4L, "b"))
      .toDF("doc_id", "text")
    val oov = graft.pipeline.TextAnalysis.oovAudit(d, vocabSize = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(oov(1L) == ((3L, 0L, 0.0)))
    assert(oov(2L) == ((2L, 1L, 0.5)))
    assert(oov(3L) == ((2L, 2L, 1.0)))
    assert(oov(4L) == ((1L, 0L, 0.0)))
    // manifest: content hash invariant under row order, sensitive to text
    val m1 = graft.pipeline.TextAnalysis.shardManifest(d, nShards = 2)
    val m2 = graft.pipeline.TextAnalysis.shardManifest(
      d.orderBy(col("doc_id").desc), nShards = 2)
    assert(m1.collect().toSet == m2.collect().toSet)
    val m3 = graft.pipeline.TextAnalysis.shardManifest(
      d.withColumn("text", concat(col("text"), lit(" !"))), nShards = 2)
    assert(m1.select("content_hash").collect().toSet
      != m3.select("content_hash").collect().toSet)
    // diff: all four statuses
    val v2 = Seq((1L, "a a b"), (2L, "a zz CHANGED"), (9L, "brand new"))
      .toDF("doc_id", "text")
    val diff = Dedup.corpusDiff(d, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "removed", 9L -> "added"))
  }

  test("leakageSafeSplits: near-dup clusters never straddle splits") {
    import spark.implicits._
    // planted cluster: three near-identical docs; singletons around it
    val base = (1 to 20).map(i => s"c$i").mkString(" ")
    val d = (Seq((10L, base), (11L, base + " x"), (12L, base + " y")) ++
      (100 until 160).map(i => (i.toLong, (0 until 20).map(j => s"u${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(d, n = 3, threshold = 0.10)
    val r = graft.pipeline.TextAnalysis.leakageSafeSplits(spark, d, pairs).cache()
    // the cluster shares one group and one split
    val cluster = r.filter(col("doc_id").isin(10L, 11L, 12L)).collect()
    assert(cluster.map(_.getLong(1)).toSet == Set(10L), "cluster keyed by min id")
    assert(cluster.map(_.getString(2)).toSet.size == 1, "cluster straddles splits")
    // invariant on the whole frame: one split per group
    assert(r.groupBy("group_id")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") =!= 1).isEmpty)
    // singleton groups are split exactly as per-doc splitAssign would
    val solo = r.filter(col("doc_id") >= 100).select("doc_id", "split")
    val direct = d.filter(col("doc_id") >= 100).select(col("doc_id"),
      graft.pipeline.TextAnalysis.splitLabel(col("doc_id")).as("split"))
    assert(solo.exceptAll(direct).isEmpty)
    r.unpersist()
  }

  test("stripBoilerplateLines: df-frequent lines removed everywhere, rare kept") {
    import spark.implicits._
    val boiler = "all rights reserved"
    val d = (0 until 20).map { i =>
      val unique = s"article body number $i"
      val lines = if (i % 2 == 0) Seq(unique, boiler) else Seq(unique)
      (i.toLong, lines.mkString("\n"))
    }.toDF("doc_id", "text")
    val got = graft.pipeline.TextAnalysis
      .stripBoilerplateLines(d, minDocs = 5).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    (0 until 20).foreach { i =>
      val (nl, nr, cleaned) = got(i.toLong)
      if (i % 2 == 0) assert(nl == 2L && nr == 1L && cleaned == s"article body number $i")
      else assert(nl == 1L && nr == 0L && cleaned == s"article body number $i")
    }
    // below the df threshold nothing is stripped
    val few = (0 until 3).map(i => (i.toLong, s"body $i\n$boiler"))
      .toDF("doc_id", "text")
    assert(graft.pipeline.TextAnalysis.stripBoilerplateLines(few, minDocs = 5)
      .agg(sum("n_removed")).head.getLong(0) == 0L)
  }

  test("lengthMatchResample: kept distribution tracks the target shape") {
    import spark.implicits._
    // source: 200 short + 200 long; target: short-only → long buckets
    // get p≈0... but a target drawn from source's short half keeps the
    // short bucket at p=1 (max-normalized) and drops the long bucket
    val src = ((0 until 200).map(i => (i.toLong, (1 to 15).map(j => s"s$j").mkString(" "))) ++
      (200 until 400).map(i => (i.toLong, (1 to 95).map(j => s"l$j").mkString(" "))))
      .toDF("doc_id", "text")
    val tgt = src.filter(col("doc_id") < 200)
    val r = graft.pipeline.TextAnalysis
      .lengthMatchResample(src, tgt, bucketWidth = 10).cache()
    val byBucket = r.groupBy("bucket").agg(
      avg(col("p_keep")).as("p"),
      sum(col("keep").cast("long")).as("kept"),
      count(lit(1)).as("n")).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getLong(2), x.getLong(3))).toMap
    // short bucket (15 div 10 = 1): only target bucket → p = 1, all kept
    assert(byBucket(1L)._1 == 1.0 && byBucket(1L)._2 == 200L)
    // long bucket (95 div 10 = 9): absent from target → p = 0, none kept
    assert(byBucket(9L)._1 == 0.0 && byBucket(9L)._2 == 0L)
    assert(r.count() == 400) // every source row emitted with its decision
    r.unpersist()
    // a 50/50 target over a 25/75 source: underrepresented bucket keeps
    // all, overrepresented keeps ~1/3 in expectation
    val src2 = ((0 until 100).map(i => (i.toLong, (1 to 15).map(j => s"s$j").mkString(" "))) ++
      (100 until 400).map(i => (i.toLong, (1 to 95).map(j => s"l$j").mkString(" "))))
      .toDF("doc_id", "text")
    val tgt2 = src2.filter(col("doc_id") < 100)
      .union(src2.filter(col("doc_id") >= 100 && col("doc_id") < 200))
    val r2 = graft.pipeline.TextAnalysis
      .lengthMatchResample(src2, tgt2, bucketWidth = 10)
    val p2 = r2.groupBy("bucket").agg(avg("p_keep").as("p")).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(p2(1L) == 1.0)
    assert(math.abs(p2(9L) - 1.0 / 3.0) < 1e-6, s"got ${p2(9L)}") // p_keep is 6dp-rounded
  }

  test("dedupAgainst: new-vs-ref gate drops ref near-copies, keeps new-only dups") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"t$i").mkString(" ")
    val ref = Seq((100L, base), (102L, "completely different reference text here"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (1L, base + " extra"),                   // near-copy of ref 100 → drop
      (3L, "fresh new content nothing shared alpha beta gamma delta"),
      (5L, "fresh new content nothing shared alpha beta gamma delta"), // dup of ANOTHER NEW doc → kept (not this op's job)
      (7L, "tiny"))                            // < n tokens → kept
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainst(newDocs, ref, md5Based = true).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got(1L) == ((false, 1L, 100L)), s"got ${got(1L)}")
    assert(got(3L) == ((true, 0L, -1L)))
    assert(got(5L) == ((true, 0L, -1L)))
    assert(got(7L) == ((true, 0L, -1L)))
    assert(got.size == 4)
  }

  test("containmentPairs: excerpt found at high containment, Jaccard misses it") {
    import spark.implicits._
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (5 to 12).map(i => s"w$i").mkString(" ") // 8 of the 40
    val d = Seq((1L, long), (2L, excerpt), (3L, "other words entirely distinct"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, n = 3, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // excerpt's 6 shingles all appear in doc 1 → containment 1.0 (2→1);
    // the reverse direction is 6/38 → absent
    assert(got.toSeq == Seq((2L, 1L, 1.0)), s"got ${got.toSeq}")
    // symmetric Jaccard at the same threshold finds nothing
    assert(Dedup.jaccardPairs(d, n = 3, threshold = 0.8).isEmpty)
  }

  test("scrubCreditCards: Luhn-verified redaction, pattern-only matches survive") {
    import spark.implicits._
    val d = Seq(
      (1L, "pay 4111111111111111 now"),          // valid visa → redacted
      (2L, "ref 4111111111111112 kept"),         // luhn-fails → kept
      (3L, "order 1234567890 id"),               // 10 digits, not card length
      (4L, "amex 371449635398431 works"),        // valid 15-digit → redacted
      (5L, "plain words only here"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.scrubCreditCards(d).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_cards"), r.getAs[String]("scrubbed_cards"))).toMap
    assert(got(1L) == ((1L, "pay <CARD> now")))
    assert(got(2L) == ((0L, "ref 4111111111111112 kept")))
    assert(got(3L) == ((0L, "order 1234567890 id")))
    assert(got(4L) == ((1L, "amex <CARD> works")))
    assert(got(5L) == ((0L, "plain words only here")))
  }

  test("quality classifier: learns a separable plant and the corpus rule gate") {
    import spark.implicits._
    import graft.pipeline.QualityClassifier
    // separable plant: repetitive docs (label false via repetition)
    // vs distinct-word docs — one feature carries the signal
    val rep = (0 until 40).map(i =>
      (i.toLong, Array.fill(30)("dup").mkString(" ")))
    val uniq = (0 until 40).map(i =>
      (100L + i, (0 until 30).map(j => s"w${i}_$j").mkString(" ")))
    val plant = (rep ++ uniq).toDF("doc_id", "text")
    val pf = QualityClassifier.featurize(plant, col("repetition") < 0.5)
    val (pw, pl) = QualityClassifier.train(pf, iters = 30, lr = 1.0)
    assert(pl.last < pl.head / 2, s"loss barely moved: ${pl.head} -> ${pl.last}")
    val pAuc = QualityClassifier.auc(QualityClassifier.score(pf, pw))
    assert(pAuc > 0.99, s"separable plant AUC $pAuc")
    // corpus: distills the q31 keep gate well above the q178 floor
    val feat = QualityClassifier.featurize(docs, col("keep"))
    val (w, losses) = QualityClassifier.train(feat, iters = 30, lr = 1.0)
    assert(losses.last < losses.head)
    val scored = QualityClassifier.score(feat, w)
    assert(scored.filter(col("score") < 0 || col("score") > 1).isEmpty)
    val a = QualityClassifier.auc(scored)
    assert(a >= 0.85, s"corpus AUC $a under the comfortable margin")
  }

  test("classifier train: driver and distributed routes agree to 1e-9") {
    import spark.implicits._
    import graft.pipeline.QualityClassifier
    val plant = ((0 until 30).map(i =>
      (i.toLong, Array.fill(25)("dup").mkString(" "))) ++
      (0 until 30).map(i =>
        (100L + i, (0 until 25).map(j => s"w${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val feat = QualityClassifier.featurize(plant, col("repetition") < 0.5)
    // the driver loop, then the distributed aggregate route
    val ((wD, lD), (wX, lX)) = bothRoutes(QualityClassifier.train(feat, iters = 10))
    assert(wD.length == wX.length && lD.length == lX.length)
    wD.zip(wX).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"weight route divergence: $a vs $b") }
    lD.zip(lX).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"loss route divergence: $a vs $b") }
  }

  test("classifier train: driver-route weights are bit-identical under any row order") {
    import spark.implicits._
    import graft.pipeline.QualityClassifier
    val docs = (0 until 80).map(i => (i.toLong, (0 until 5 + i % 17)
      .map(j => s"w${(i * j) % 23}" + "x" * (j % 4)).mkString(" ")))
      .toDF("doc_id", "text")
    val feat = QualityClassifier.featurize(docs, col("doc_id") % 3 === 0).persist()
    val (w1, l1) = QualityClassifier.train(feat.coalesce(1), iters = 10)
    val (w7, l7) = QualityClassifier.train(feat.repartition(7), iters = 10)
    feat.unpersist()
    assert(w1.sameElements(w7), s"${w1.mkString(",")} vs ${w7.mkString(",")}")
    assert(l1.sameElements(l7))
  }

  test("auc: bucket-offset ranks ≡ brute Mann–Whitney (ties, few buckets, degenerate)") {
    import spark.implicits._
    import graft.pipeline.QualityClassifier
    def brute(rows: Seq[(Double, Double)]): Double = {
      // textbook single-sort average-rank U
      val byScore = rows.sortBy(_._1)
      val ranks = scala.collection.mutable.Map.empty[Double, Double]
      var i = 0
      while (i < byScore.length) {
        var j = i
        while (j < byScore.length && byScore(j)._1 == byScore(i)._1) j += 1
        ranks(byScore(i)._1) = (i + 1 + j) / 2.0 // avg of ranks i+1..j
        i = j
      }
      val np = rows.count(_._2 == 1.0).toDouble
      val nn = rows.length - np
      if (np == 0 || nn == 0) Double.NaN
      else {
        val rpos = rows.filter(_._2 == 1.0).map(r => ranks(r._1)).sum
        (rpos - np * (np + 1) / 2.0) / (np * nn)
      }
    }
    val rnd = new scala.util.Random(7)
    // ties-heavy: scores quantized to 20 distinct values, 500 rows
    val tiesy = (0 until 500).map(_ =>
      (rnd.nextInt(20) / 20.0, if (rnd.nextBoolean()) 1.0 else 0.0))
    // continuous: all-distinct scores
    val cont = (0 until 300).map(i =>
      (rnd.nextDouble(), if (i % 3 == 0) 1.0 else 0.0))
    // degenerate: one distinct score (lo == hi bucket path)
    val degen = (0 until 50).map(i => (0.5, if (i < 20) 1.0 else 0.0))
    for ((rows, name) <- Seq((tiesy, "ties"), (cont, "cont"), (degen, "degen"));
         buckets <- Seq(4, 1024)) {
      val df = rows.toDF("score", "label")
      val got = QualityClassifier.auc(df, buckets = buckets)
      val want = brute(rows)
      assert(math.abs(got - want) < 1e-12,
        s"$name/buckets=$buckets: got $got want $want")
    }
    assert(QualityClassifier.auc(degen.take(20).toDF("score", "label")).isNaN)
  }

  test("auc: equi-depth buckets stay balanced on calibrated-pile scores") {
    // The r8 verdict's residual weak item: a calibrated logistic piles
    // scores near 0 and 1, so uniform VALUE cuts over [lo, hi] land
    // most distinct scores in a few tail buckets — at 10⁹ distinct
    // scores that's a 10⁸-row sort in one task. Fixture: 99% of the
    // distinct scores inside 1% of the value range (plus outliers
    // pinning the range). Equi-depth approxQuantile cuts must spread
    // them ~uniformly; uniform cuts would put ~99% in one bucket.
    import spark.implicits._
    import graft.pipeline.QualityClassifier
    val rnd = new scala.util.Random(11)
    val piled = (0 until 1980).map(i =>
      (0.99 + i / 198000.0, if (rnd.nextBoolean()) 1.0 else 0.0))
    val spread = (0 until 20).map(i =>
      (i / 21.0, if (i % 2 == 0) 1.0 else 0.0))
    val rows = rnd.shuffle(piled ++ spread)
    val df = rows.toDF("score", "label")
    val buckets = 32
    val g = QualityClassifier.distinctScores(df, "score", "label")
    val byB = QualityClassifier.bucketRanked(g, buckets)
      .groupBy("_b").count().collect()
    val total = byB.map(_.getLong(1)).sum.toDouble
    val maxShare = byB.map(_.getLong(1)).max / total
    assert(byB.length >= buckets / 2,
      s"expected ~$buckets populated buckets, got ${byB.length}")
    assert(maxShare <= 2.0 / buckets,
      s"max bucket share $maxShare — scores piled into a tail bucket " +
        s"(uniform-value-cut behavior); expected ≤ ${2.0 / buckets}")
    // and the rank algebra is still exact under the skewed cuts
    def brute(rs: Seq[(Double, Double)]): Double = {
      val sorted = rs.sortBy(_._1)
      val ranks = scala.collection.mutable.Map.empty[Double, Double]
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
        ranks(sorted(i)._1) = (i + 1 + j) / 2.0
        i = j
      }
      val np = rs.count(_._2 == 1.0).toDouble
      val nn = rs.length - np
      (rs.filter(_._2 == 1.0).map(r => ranks(r._1)).sum -
        np * (np + 1) / 2.0) / (np * nn)
    }
    val got = QualityClassifier.auc(df, buckets = buckets)
    assert(math.abs(got - brute(rows)) < 1e-12,
      s"AUC drift under equi-depth cuts: $got vs ${brute(rows)}")
  }

  test("c4Clean: every rule branch on a hand fixture") {
    import spark.implicits._
    val d = Seq(
      // kept line + unterminated + javascript + short
      (1L, "a good long line.\nno punct here at all\nenable JavaScript now.\nhi there."),
      (2L, "Cookie policy applies here.\nanother fine sentence right here!"),
      (3L, "this doc has lorem ipsum somewhere.\nand a fine line."),
      (4L, "code leak { x = 1 }\nperfect sentence here."),
      (5L, "ends with quote\"\nends with question mark?\nends wrong;"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.c4Clean(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("cleaned"), r.getAs[Boolean]("doc_dropped"))).toMap
    assert(got(1L) == ((4L, 1L, "a good long line.", false)))
    assert(got(2L) == ((2L, 1L, "another fine sentence right here!", false)))
    assert(got(3L) == ((2L, 0L, "", true)))   // lorem ipsum → doc dropped
    assert(got(4L) == ((2L, 0L, "", true)))   // brace → doc dropped
    assert(got(5L) == ((3L, 2L,
      "ends with quote\"\nends with question mark?", false)))
  }

  test("pq codec: exact on codebook points, beats null model, deterministic") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // 4 distinct 4-dim points, nCodes=4 per 2-dim subspace → every
    // subspace vector IS a codebook centroid → exact reconstruction
    val pts = Seq(
      (0L, Array(0f, 0f, 1f, 1f)), (1L, Array(1f, 0f, 0f, 1f)),
      (2L, Array(0f, 1f, 1f, 0f)), (3L, Array(1f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val audit = Similarity.pqReconstructionAudit(spark, pts, m = 2,
      nCodes = 4, dim = 4).collect().map(r => r.getLong(0) -> r).toMap
    assert(audit.size == 4)
    audit.values.foreach { r =>
      assert(r.getBoolean(1))                  // codes_ok
      assert(r.getDouble(2) < 1e-12)           // exact reconstruction
      assert(r.getBoolean(4))                  // better_than_mean
    }
    // real embeddings: all booleans hold and relative mse is a real
    // compression (codes explain most of the variance)
    val e = Tables.embeddings(spark, sf)
    val real = Similarity.pqReconstructionAudit(spark, e).cache()
    assert(real.filter(!col("codes_ok") || !col("better_than_mean")).isEmpty)
    val rel = real.agg(avg(col("mse") / col("mse_mean"))).head().getDouble(0)
    assert(rel < 0.6, s"PQ rel-mse $rel — codec barely compresses")
    // determinism: same seed → identical codes
    val c1 = Similarity.pqTrain(spark, e)
    val enc1 = Similarity.pqEncode(spark, e, c1)
    val enc2 = Similarity.pqEncode(spark, e, Similarity.pqTrain(spark, e))
    assert(enc1.exceptAll(enc2).isEmpty && enc2.exceptAll(enc1).isEmpty)
    real.unpersist()
  }

  test("sq codec: encode ≡ in-plan audit codes, half-step round-trip, clamp/flat branches") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // hand fixture with a FLAT dimension (all rows equal → mx == mn →
    // code 0, decode == mn exactly) next to spread dimensions
    val pts = Seq(
      (0L, Array(0.0f, 7.5f, -1.0f, 0.25f)),
      (1L, Array(1.0f, 7.5f, 3.0f, 0.50f)),
      (2L, Array(0.5f, 7.5f, 1.0f, 0.75f)))
      .toDF("vec_id", "embedding")
    val codec = Similarity.sqTrain(spark, pts)
    assert(codec.dim == 4)
    assert(codec.mins(1) == 7.5 && codec.maxs(1) == 7.5) // flat dim
    // codec encode ≡ the in-plan audit's codes, row for row (the r8
    // ADVICE item: the audit re-derives the quantization algebra in
    // Column expressions — any drift between the two must fail here).
    // This is also the BYTE ≡ INT route equality for the r11 binary
    // codes change: the audit computes each code as unbounded integer
    // SQL arithmetic, the codec as a signed byte — `& 0xff` must
    // recover exactly the audit's 0..255 value for every cell.
    def auditCodes(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), Long] =
      Similarity.sqQuantizeAudit(spark, df).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def encCodes(df: org.apache.spark.sql.DataFrame,
                 c: Similarity.SqCodec): Map[(Long, Int), Long] =
      Similarity.sqEncode(spark, df, c).collect().flatMap { r =>
        r.getAs[Array[Byte]](1).zipWithIndex.map { case (code, pos) =>
          (r.getLong(0), pos) -> (code & 0xff).toLong }
      }.toMap
    assert(encCodes(pts, codec) == auditCodes(pts))
    // the stored form really is one byte per dimension
    assert(Similarity.sqEncode(spark, pts, codec).schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // round-trip within half a step per dimension; flat dim exact
    pts.collect().foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val dec = codec.decode(codec.encode(v))
      for (i <- v.indices) {
        val step = (codec.maxs(i) - codec.mins(i)) / 255.0
        assert(math.abs(dec(i) - v(i)) <= step / 2 + 1e-9,
          s"dim $i: ${dec(i)} vs ${v(i)} step $step")
      }
      assert(dec(1) == 7.5) // flat dimension reconstructs exactly
    }
    // clamp branch: values OUTSIDE the trained envelope pin to 0/255
    // (255 is byte -1; the unsigned view is what the algebra pins)
    val out = codec.encode(Array(-100f, 7.5f, 100f, 0.5f))
    assert((out(0) & 0xff) == 0 && (out(2) & 0xff) == 255)
    // real embeddings: codec ≡ audit on the full corpus too
    val e = Tables.embeddings(spark, sf)
    val realCodec = Similarity.sqTrain(spark, e)
    assert(encCodes(e, realCodec) == auditCodes(e))
  }

  test("matryoshka: prefix-preserving vs prefix-breaking geometry; two-stage recovers") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // PRESERVING plant: all signal in the prefix dims, zero tail —
    // truncation changes nothing, audit recall must be exactly 1
    val rnd = new scala.util.Random(3)
    val keep = (0L until 12L).map(i =>
      (i, Array.fill(4)(rnd.nextFloat()) ++ Array.fill(4)(0.0f)))
      .toDF("vec_id", "embedding")
    val aKeep = Similarity.matryoshkaRecallAudit(spark, keep, dims = 4,
      k = 3, nQueries = 5, dim = 8).collect()
    assert(aKeep.length == 5)
    aKeep.foreach(r => assert(r.getDouble(2) == 1.0,
      s"preserving plant: recall ${r.getDouble(2)} for qid ${r.getLong(0)}"))
    // BREAKING plant: identical prefix, all signal in the tail — the
    // prefix ordering is a pure rid-asc tie-break, so the true
    // neighbors (planted at HIGH rids) are invisible to the prefix
    val base = Array.fill(4)(1.0f)
    val brk = ((0L until 10L).map(i =>
      (i, base ++ Array.fill(4)(rnd.nextFloat() - 0.5f))) :+
      // 20..21: near-identical tails to query 0's — its true neighbors
      (20L, base ++ Array(0.9f, 0.9f, 0.9f, 0.9f)) :+
      (21L, base ++ Array(0.89f, 0.9f, 0.9f, 0.9f)) :+
      (0L, base ++ Array(0.9f, 0.9f, 0.9f, 0.91f)))
      .groupBy(_._1).map(_._2.head).toSeq // dedupe the replanted id 0
      .toDF("vec_id", "embedding")
    // with a shortlist smaller than the corpus the prefix tie-break
    // (rid asc) picks LOW rids, so the high-rid true neighbors of
    // query 0 are cut: the two-stage result must MISS them...
    val small = Similarity.matryoshkaTopK(brk.filter(col("vec_id") === 0L),
      brk, k = 2, dims = 4, shortlist = 5, dim = 8)
      .select("rid").as[Long].collect().toSet
    assert(!small.contains(20L) && !small.contains(21L),
      s"shortlist 5 should cut the high-rid neighbors, got $small")
    // ...and with shortlist covering the corpus, the exact full-dim
    // re-rank recovers them: two-stage ≡ brute, row for row
    val qs = brk.filter(col("vec_id") < 5)
    val two = Similarity.matryoshkaTopK(qs, brk, k = 3, dims = 4,
      shortlist = 11, dim = 8)
    val brute = Similarity.bruteForceTopK(qs, brk, k = 3, dim = 8)
    assert(two.exceptAll(brute).isEmpty && brute.exceptAll(two).isEmpty)
  }

  test("sqTopK: full-shortlist run equals brute exactly; short shortlist keeps k_ok") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") < 6)
    // shortlist = corpus: stage 2 is an exact re-rank over everything,
    // so the SQ8 shortlist ordering cannot cost recall — must equal
    // the brute kernel row for row
    val sq = Similarity.sqTopK(spark, qs, vecs, k = 4, shortlist = 29, dim = 8)
    val brute = Similarity.bruteForceTopK(qs, vecs, k = 4, dim = 8)
    assert(sq.exceptAll(brute).isEmpty && brute.exceptAll(sq).isEmpty)
    // tight shortlist: still exactly k rows per query (k_ok posture),
    // and 255-level codes are faithful enough that recall stays 1.0
    // on a spread fixture
    val tight = Similarity.sqTopK(spark, qs, vecs, k = 4, shortlist = 6, dim = 8)
    val counts = tight.groupBy("qid").count().select("count")
      .as[Long].collect()
    assert(counts.length == 6 && counts.forall(_ == 4L))
    val nb = brute.select("qid", "rid").count()
    val nh = tight.select("qid", "rid")
      .join(brute.select("qid", "rid"), Seq("qid", "rid"), "left_semi").count()
    assert(nh == nb, s"SQ8 tight-shortlist recall $nh/$nb on faithful codes")
  }

  test("matryoshkaIvfTopK: full probe ≡ exact prefix two-stage; disk index ≡ inline") {
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val qs = e.filter(col("vec_id") < 20)
    // nProbe = nLists scans every list, so stage 1 degenerates to the
    // exact prefix shortlist — the IVF composition must then equal
    // matryoshkaTopK (the q202 audit posture) row for row; any drift
    // in the prefix slicing, assignment, or re-rank breaks this
    val viaIvf = Similarity.matryoshkaIvfTopK(spark, qs, e, k = 5,
      dims = 32, shortlist = 30, nLists = 8, nProbe = 8)
    val viaExact = Similarity.matryoshkaTopK(qs, e, k = 5, dims = 32,
      shortlist = 30)
    assert(viaIvf.exceptAll(viaExact).isEmpty &&
      viaExact.exceptAll(viaIvf).isEmpty,
      "full-probe matryoshka-IVF must equal the exact prefix two-stage")
    // the deployment route — index built once, written through the
    // r11 write/read trio, probed from disk — must equal the inline
    // route under shared centers (the ivfTopKFromIndex ≡ ivfTopK
    // pattern, prefix column)
    val tmp = tempDir("graft_mivf").toString
    val written = Similarity.matryoshkaIvfWriteIndex(spark, e, tmp,
      dims = 32, nLists = 8)
    val (centers, onDisk) = Similarity.matryoshkaIvfReadIndex(spark, tmp)
    assert(centers.zip(written).forall(p => p._1.sameElements(p._2)),
      "read-back centers diverge from the written ones")
    // the in-memory twin for the equality: same build arithmetic
    val (_, index) = Similarity.matryoshkaIvfBuildIndex(spark, e,
      dims = 32, nLists = 8)
    val viaDisk = Similarity.matryoshkaIvfTopKFromIndex(spark, qs, onDisk,
      centers, e, k = 5, dims = 32, shortlist = 30, nProbe = 4)
    val viaMem = Similarity.matryoshkaIvfTopKFromIndex(spark, qs, index,
      centers, e, k = 5, dims = 32, shortlist = 30, nProbe = 4)
    assert(viaDisk.exceptAll(viaMem).isEmpty &&
      viaMem.exceptAll(viaDisk).isEmpty,
      "on-disk and in-memory prefix-index routes diverge")
    e.unpersist()
  }

  test("ivfPqParamsFor: derivation matches the recorded curve guidance") {
    import graft.pipeline.Similarity
    val tiny = Similarity.ivfPqParamsFor(500L)
    assert(tiny.nLists == 22 && tiny.nProbe == 6) // √500 ≈ 22; 6-probe floor
    assert(tiny.m == 16 && tiny.nCodes == 32 && tiny.refine == 20)
    val big = Similarity.ivfPqParamsFor(1000000L)
    assert(big.nLists == 1000)
    assert(big.nProbe == 16)          // 1.6% probe fraction
    assert(big.nCodes == 256)         // full 8-bit codebooks
    assert(big.trainCap == 40000)     // 40 samples per coarse centroid
    // m is the largest divisor of dim ≤ dim/4
    assert(Similarity.ivfPqParamsFor(1000L, dim = 60).m == 15)
  }

  test("ivfPqTopKAuto: one call site works at the audit regime") {
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf)
    val auto = Similarity.ivfPqTopKAuto(spark, e, k = 5).cache()
    // k results per vector, audit invariants hold
    assert(auto.groupBy("qid").count().filter(col("count") =!= 5).isEmpty)
    val brute = Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), e, k = 5)
      .select("qid", "rid")
    val nb = brute.count()
    val nh = auto.filter(col("qid") < 50).select("qid", "rid")
      .join(brute, Seq("qid", "rid"), "left_semi").count()
    val recall = nh.toDouble / nb
    assert(recall >= 0.6, s"auto-tuned recall@5 too low: $recall")
    auto.unpersist()
  }

  test("minhashSigExpr: row-local signature bit-identical to the batch aggregate") {
    for (md5b <- Seq(false, true)) {
      val rowLocal = docs.select(col("doc_id").as("id"),
        Dedup.minhashSigExpr(col("text"), n = 3, k = 64, md5Based = md5b).as("sig"))
        .filter(col("sig").isNotNull)
      val batch = Dedup.minhashSignatures(docs, n = 3, k = 64, md5Based = md5b)
      assert(rowLocal.exceptAll(batch).isEmpty && batch.exceptAll(rowLocal).isEmpty,
        s"md5Based=$md5b signatures diverge between routes")
    }
    // short doc (< n tokens) yields null, matching the batch aggregate's absence
    import spark.implicits._
    val short = Seq((1L, "just two")).toDF("doc_id", "text")
    assert(short.select(Dedup.minhashSigExpr(col("text"), 3, 8)).head().isNullAt(0))
  }

  test("NearDupStream: near-dup arriving batches later is dropped; stream ≡ batch") {
    import graft.streaming.NearDupStream
    val base = docs.select("doc_id", "text").cache()
    val b1 = base.filter(col("doc_id") < 40)
    val b2 = base.filter(col("doc_id") >= 40 && col("doc_id") < 80)
    // batch 3 arrives LAST and carries: a near-copy of doc 0 (one word
    // appended — the doc 0 original landed two batches earlier), an
    // exact copy of doc 50 (one batch earlier), and fresh docs
    val nearCopy = base.filter(col("doc_id") === 0)
      .select(lit(20000L).as("doc_id"),
        concat(col("text"), lit(" extraword")).as("text"))
    val exactCopy = base.filter(col("doc_id") === 50)
      .select(lit(20001L).as("doc_id"), col("text"))
    val b3 = base.filter(col("doc_id") >= 80 && col("doc_id") < 100)
      .union(nearCopy).union(exactCopy)
    val batches = Seq(b1, b2, b3)
    // drive the micro-batch loop directly
    var index = NearDupStream.readIndex(spark, "/nonexistent_graft_idx", 64)
    val survived = scala.collection.mutable.ArrayBuffer.empty[Long]
    batches.foreach { b =>
      val (surv, add) = NearDupStream.filterBatch(b, index, threshold = 0.5)
      survived ++= surv.select("doc_id").collect().map(_.getLong(0))
      index = index.unionByName(add.select("doc_id", "band", "bucket", "sig"))
    }
    // the cross-batch plants are dropped; doc 0's original is kept
    // (doc 50 is itself a NATURAL near-dup of an earlier doc on the
    // 31-word synthetic vocabulary and is legitimately dropped — its
    // exact copy still collides with the indexed bands of a dropped
    // arrival, which is exactly the chain-copy policy under test)
    assert(!survived.contains(20000L) && !survived.contains(20001L))
    assert(survived.contains(0L))
    // stream ≡ batch: the batch twin is the SAME operator definition —
    // minhashLsh(verify = "sig") pairs + min-id (= first-arrival here)
    // cluster resolution over the full corpus
    val all = batches.reduce(_ union _)
    val pairs = Dedup.minhashLsh(all, n = 3, k = 64, bands = 16,
      threshold = 0.5, verify = "sig").select("id_a", "id_b")
    val droppedBatch = Dedup.dupClusters(spark, pairs)
      .filter(!col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val keptBatch = all.select("doc_id").collect().map(_.getLong(0)).toSet -- droppedBatch
    assert(survived.toSet == keptBatch,
      s"stream/batch diverge: only-stream=${survived.toSet -- keptBatch} " +
        s"only-batch=${keptBatch -- survived.toSet}")
    base.unpersist()
  }

  test("CurateStream: micro-batched chain ≡ Curate.corpus keep set and splits") {
    import graft.streaming.{CurateStream, NearDupStream}
    import graft.pipeline.{Curate, QualityClassifier}
    // ordered fixture (arrival order = id order, the parity premise)
    // with plants exercising every gate across batch boundaries: an
    // exact copy and a near-copy of batch-1 docs arriving in batch 3
    val base = docs.select("doc_id", "text")
    val nearCopy = base.filter(col("doc_id") === 0)
      .select(lit(30000L).as("doc_id"),
        concat(col("text"), lit(" extraword")).as("text"))
    val exactCopy = base.filter(col("doc_id") === 2)
      .select(lit(30001L).as("doc_id"), col("text"))
    val all = base.filter(col("doc_id") < 90)
      .union(nearCopy).union(exactCopy).cache()
    // one frozen scorer feeds BOTH routes (the streaming posture)
    val scorer = QualityClassifier.fit(all, col("keep"))
    // batch route: same verification mode the stream index affords
    val (curatedB, _) = Curate.corpus(spark, all, minScore = 0.3,
      threshold = 0.5, scorer = Some(scorer), verify = "sig")
    val keptBatch = curatedB.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // stream route: three id-ordered micro-batches through curateBatch
    val batches = Seq(all.filter(col("doc_id") < 40),
      all.filter(col("doc_id") >= 40 && col("doc_id") < 90),
      all.filter(col("doc_id") >= 30000))
    var fpIdx = CurateStream.readFpIndex(spark, "/nonexistent_graft_fp")
    var bandIdx = NearDupStream.readIndex(spark, "/nonexistent_graft_idx", 64)
    val keptStream = scala.collection.mutable.Map.empty[Long, String]
    batches.foreach { b =>
      val (curated, fpAdd, bandAdd) = CurateStream.curateBatch(b, scorer,
        fpIdx, bandIdx, minScore = 0.3, threshold = 0.5)
      curated.select("doc_id", "split").collect()
        .foreach(r => keptStream(r.getLong(0)) = r.getString(1))
      fpIdx = fpIdx.unionByName(fpAdd.select("fp"))
      bandIdx = bandIdx.unionByName(
        bandAdd.select("doc_id", "band", "bucket", "sig"))
      fpAdd.unpersist()
      bandAdd.unpersist()
    }
    // the cross-batch plants died in the right gates
    assert(!keptStream.contains(30001L), "exact copy must be cut")
    assert(!keptStream.contains(30000L), "near copy must be cut")
    assert(keptStream.toMap == keptBatch,
      s"stream/batch diverge: only-stream=${keptStream.keySet -- keptBatch.keySet} " +
        s"only-batch=${keptBatch.keySet -- keptStream.keySet} " +
        s"split-diff=${keptStream.toMap.toSet.diff(keptBatch.toSet).take(5)}")
    all.unpersist()
  }

  test("CurateStream.attach: end-to-end stream maintains both indexes") {
    import graft.streaming.{CurateStream, NearDupStream}
    import graft.pipeline.QualityClassifier
    val tmp = tempDir("graft_curate").toString
    val base = docs.select("doc_id", "text")
    val scorer = QualityClassifier.fit(base, col("keep"))
    base.filter(col("doc_id") < 40).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // r9 verdict #1: the chain must hold ZERO cached frames between
    // triggers — fp leaked one persisted frame per micro-batch until
    // r10. Persisted-RDD count is the public view of the block
    // manager's cache catalog; the delta across the whole stream
    // (two triggers below) must be zero.
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val q = CurateStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), scorer,
      fpIndexDir = s"$tmp/fp", bandIndexDir = s"$tmp/band",
      outDir = s"$tmp/out", checkpointDir = s"$tmp/ckpt",
      minScore = 0.3, threshold = 0.5)
    q.processAllAvailable()
    val firstKept = spark.read.parquet(s"$tmp/out").count()
    // an exact copy of doc 2 arrives a trigger later → cut by the fp index
    base.filter(col("doc_id") === 2)
      .select(lit(30001L).as("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == firstKept, "cross-trigger exact copy slipped through")
    assert(out.filter(col("doc_id") === 30001L).isEmpty)
    // batch is the per-trigger partition directory surfacing as a column
    assert(out.columns.toSet == Set("doc_id", "text", "score", "split", "batch"))
    // both indexes accumulated rows for gated arrivals
    assert(CurateStream.readFpIndex(spark, s"$tmp/fp").count() > 0)
    assert(NearDupStream.readIndex(spark, s"$tmp/band", 64).count() > 0)
    // no cached frame survived the stream (the r9 fp leak regression pin)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      s"stream leaked cached frames: before=$cachedBefore " +
        s"after=${spark.sparkContext.getPersistentRDDs.size}")
  }

  test("IvfStream.reassign: refreshed index ≡ fresh-built under the new centroids") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_ivfre").toString
    // epoch 1: index accrued under centersA (two batch partitions, the
    // attach layout)
    val centersA = Similarity.ivfTrainCentroids(spark, e, nLists = 8,
      seed = 42)
    IvfStream.encode(e.filter(col("vec_id") < 250), FloatCenters(centersA))
      .write.partitionBy("list").mode("overwrite").parquet(s"$tmp/idx/batch=0")
    IvfStream.encode(e.filter(col("vec_id") >= 250), FloatCenters(centersA))
      .write.partitionBy("list").mode("overwrite").parquet(s"$tmp/idx/batch=1")
    // epoch 2: the corpus distribution "drifted" — re-train offline
    // under a different seed and refresh the accrued index in place
    val centersB = Similarity.ivfTrainCentroids(spark, e, nLists = 8,
      seed = 7)
    IvfStream.reassign(spark, s"$tmp/idx", FloatCenters(centersB))
    val refreshed = IvfStream.readIndex(spark, s"$tmp/idx")
    val fresh = IvfStream.encode(e, FloatCenters(centersB))
    assert(refreshed.exceptAll(fresh).isEmpty &&
      fresh.exceptAll(refreshed).isEmpty,
      "reassigned index rows diverge from a fresh build under centersB")
    // a probe over the refreshed index ≡ probing the fresh index
    val qs = e.filter(col("vec_id") < 20)
    val got = Similarity.ivfTopKFromIndex(spark, qs, refreshed, centersB,
      k = 5, nProbe = 3)
    val want = Similarity.ivfTopKFromIndex(spark, qs, fresh, centersB,
      k = 5, nProbe = 3)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the rewritten layout stays list-partitioned (pruning contract)
    // and compacted to the single batch=-1 partition
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/idx")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/idx"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(batches.toSeq == Seq("batch=-1"), s"layout: ${batches.toSeq}")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/idx/batch=-1"))
      .exists(_.getPath.getName.startsWith("list=")))
    e.unpersist()
  }

  test("IvfStream.reassignSq: refreshed codes index ≡ fresh-built; incomplete refs refused") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_sqre").toString
    // epoch 1: codes accrued under (centersA, codecA) across two
    // trigger partitions (the streamed codes layout)
    val centersA = Similarity.ivfTrainCentroids(spark, e, nLists = 8,
      seed = 42)
    val codecA = Similarity.sqTrain(spark, e.filter(col("vec_id") < 250))
    IvfStream.encode(e.filter(col("vec_id") < 250),
        SqQuantizer(centersA, codecA))
      .write.partitionBy("list").mode("overwrite").parquet(s"$tmp/idx/batch=0")
    IvfStream.encode(e.filter(col("vec_id") >= 250),
        SqQuantizer(centersA, codecA))
      .write.partitionBy("list").mode("overwrite").parquet(s"$tmp/idx/batch=1")
    // epoch 2: refresh BOTH quantizers offline (codes are lossy, so
    // the refresh re-encodes from the original corpus)
    val centersB = Similarity.ivfTrainCentroids(spark, e, nLists = 8,
      seed = 7)
    val codecB = Similarity.sqTrain(spark, e)
    IvfStream.reassign(spark, s"$tmp/idx", SqQuantizer(centersB, codecB), Some(e))
    val refreshed = IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes")
    val fresh = IvfStream.encode(e, SqQuantizer(centersB, codecB))
    assert(refreshed.exceptAll(fresh).isEmpty &&
      fresh.exceptAll(refreshed).isEmpty,
      "refreshed codes rows diverge from a fresh encode under the new model")
    // probe equality through the searcher under the new model
    val qs = e.filter(col("vec_id") < 20)
    val got = Similarity.ivfSqTopKFromIndex(spark, qs, refreshed, centersB,
      codecB, e, k = 5, shortlist = 10, nProbe = 3)
    val want = Similarity.ivfSqTopKFromIndex(spark, qs, fresh, centersB,
      codecB, e, k = 5, shortlist = 10, nProbe = 3)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // layout compacted to batch=-1, still list-partitioned
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/idx")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/idx"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(batches.toSeq == Seq("batch=-1"), s"layout: ${batches.toSeq}")
    // LOUD VALVE: refs missing an indexed id must refuse, and the live
    // index must be untouched by the failed refresh
    def codeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq,
        r.getInt(2))).toSet
    val before = codeRows(IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes"))
    val err = intercept[IllegalArgumentException] {
      IvfStream.reassign(spark, s"$tmp/idx", SqQuantizer(centersB, codecB),
        Some(e.filter(col("vec_id") =!= 3)))
    }
    assert(err.getMessage.contains("absent from refs"))
    assert(codeRows(IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes"))
      == before, "failed refresh must leave the live index untouched")
    e.unpersist()
  }

  test("IvfStream.compactCodesIndex: code set preserved, probe parity, batch=-1 layout") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_sqc").toString
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    val codec = Similarity.sqTrain(spark, e)
    // three trigger partitions of litter
    Seq(col("vec_id") < 150,
        col("vec_id") >= 150 && col("vec_id") < 300,
        col("vec_id") >= 300).zipWithIndex.foreach { case (f, i) =>
      IvfStream.encode(e.filter(f), SqQuantizer(centers, codec))
        .write.partitionBy("list").mode("overwrite")
        .parquet(s"$tmp/idx/batch=$i")
    }
    def codeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq,
        r.getInt(2))).toSet
    val before = codeRows(IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes"))
    val qs = e.filter(col("vec_id") < 20)
    val probeBefore = Similarity.ivfSqTopKFromIndex(spark, qs,
      IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes"), centers, codec, e,
      k = 5, shortlist = 10, nProbe = 3)
    IvfStream.compactIndex(spark, s"$tmp/idx")
    val after = codeRows(IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes"))
    assert(after == before, "compaction changed the code set")
    val probeAfter = Similarity.ivfSqTopKFromIndex(spark, qs,
      IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes"), centers, codec, e,
      k = 5, shortlist = 10, nProbe = 3)
    assert(probeAfter.exceptAll(probeBefore).isEmpty &&
      probeBefore.exceptAll(probeAfter).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/idx")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/idx"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(batches.toSeq == Seq("batch=-1"), s"layout: ${batches.toSeq}")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/idx/batch=-1"))
      .exists(_.getPath.getName.startsWith("list=")))
    e.unpersist()
  }

  test("ivfPqRefreshIndex: refresh ≡ fresh build under new params; mid-swap self-heals") {
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_pqre").toString
    val dir = s"$tmp/pq"
    Similarity.ivfPqWriteIndex(spark, e, dir, nLists = 8, m = 16,
      nCodes = 32, seed = 42)
    // drift repair: retrain under a new seed from the original corpus,
    // whole-directory atomic swap (codes + centers + books together)
    val model2 = Similarity.ivfPqRefreshIndex(spark, e, dir, nLists = 8,
      m = 16, nCodes = 32, seed = 7)
    val (rm, rcodes) = Similarity.ivfPqReadIndex(spark, dir)
    val (fm, fcodes) = Similarity.ivfPqBuildIndex(spark, e, nLists = 8,
      m = 16, nCodes = 32, seed = 7)
    assert(rm.centers.zip(fm.centers).forall(p => p._1.sameElements(p._2)))
    assert(model2.centers.zip(fm.centers).forall(p => p._1.sameElements(p._2)))
    assert(rcodes.exceptAll(fcodes).isEmpty && fcodes.exceptAll(rcodes).isEmpty,
      "refreshed codes diverge from a fresh build under the new seed")
    val qs = e.filter(col("vec_id") < 20)
    val got = Similarity.ivfPqTopKFromIndex(spark, qs, rcodes, rm, e,
      k = 5, nProbe = 6, refine = 20)
    val want = Similarity.ivfPqTopKFromIndex(spark, qs, fcodes, fm, e,
      k = 5, nProbe = 6, refine = 20)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // crash between the two renames (live root moved to .old with its
    // marker, replacement not installed): the next read self-heals
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"$dir.old")))
    fs.create(new org.apache.hadoop.fs.Path(s"$dir.old.complete"),
      true).close()
    val (hm, hcodes) = Similarity.ivfPqReadIndex(spark, dir)
    assert(hm.centers.zip(rm.centers).forall(p => p._1.sameElements(p._2)))
    assert(hcodes.exceptAll(rcodes).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.old")))
    e.unpersist()
  }

  test("quantizerStaleness: rises under distribution shift, resets after reassign") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    val base = IvfStream.quantizerStaleness(e, FloatCenters(centers)).collect()(0)
    assert(base.getLong(0) == e.count())
    assert(base.getDouble(2) <= 1.0 && base.getDouble(2) >= 1.0 / 8)
    // drifted arrivals: every coordinate shifted by a constant — the
    // frozen quantizer's centroids are all far away, so mean_d2 must
    // rise strictly and the skew signal is free to move
    val drifted = e.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    val shifted = IvfStream.quantizerStaleness(drifted, FloatCenters(centers)).collect()(0)
    assert(shifted.getDouble(1) > base.getDouble(1),
      s"mean_d2 ${shifted.getDouble(1)} must exceed ${base.getDouble(1)} under shift")
    // refresh: retrain on the drifted distribution — the signal resets
    // to the healthy regime (the schedule-reassign decision loop)
    val centersB = Similarity.ivfTrainCentroids(spark, drifted, nLists = 8)
    val reset = IvfStream.quantizerStaleness(drifted, FloatCenters(centersB)).collect()(0)
    assert(reset.getDouble(1) < shifted.getDouble(1) / 2,
      s"mean_d2 ${reset.getDouble(1)} must reset after retrain " +
        s"(was ${shifted.getDouble(1)})")
    e.unpersist()
  }

  test("CurateStream.compactFpIndex: fp set preserved; crash mid-swap self-heals") {
    import graft.streaming.CurateStream
    val tmp = tempDir("graft_fpc").toString
    val fp = docs.select(md5(col("text")).as("fp"))
    // three per-trigger partitions, the attach litter pattern
    fp.filter(col("fp") < lit("6")).write.parquet(s"$tmp/fp/batch=0")
    fp.filter(col("fp") >= lit("6") && col("fp") < lit("b"))
      .write.parquet(s"$tmp/fp/batch=1")
    fp.filter(col("fp") >= lit("b")).write.parquet(s"$tmp/fp/batch=2")
    val before = CurateStream.readFpIndex(spark, s"$tmp/fp")
      .collect().map(_.getString(0)).toSeq.sorted
    CurateStream.compactFpIndex(spark, s"$tmp/fp", partitions = 2)
    val after = CurateStream.readFpIndex(spark, s"$tmp/fp")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(after == before, "compaction changed the fingerprint set")
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/fp")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/fp"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(batches.toSeq == Seq("batch=-1"), s"layout: ${batches.toSeq}")
    // a crash between the two renames (live moved to .old — with its
    // completion marker, as the swap writes it — compacted copy not
    // installed) self-heals on the next read, markers cleaned up
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/fp"),
      new org.apache.hadoop.fs.Path(s"$tmp/fp.old")))
    fs.create(new org.apache.hadoop.fs.Path(s"$tmp/fp.old.complete"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(s"$tmp/fp.swapping"), true).close()
    val healed = CurateStream.readFpIndex(spark, s"$tmp/fp")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(healed == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/fp.old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/fp.old.complete")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/fp.swapping")))
  }

  test("CurateStream.attachWithIvf: searchable vector set ≡ curated doc set per trigger") {
    import graft.streaming.{CurateStream, IvfStream}
    import graft.pipeline.{QualityClassifier, Similarity}
    val tmp = tempDir("graft_cvivf").toString
    // documents carrying their embedding (doc_id aligned with vec_id)
    val e = Tables.embeddings(spark, sf)
    val base = docs.select("doc_id", "text")
      .join(e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .filter(col("doc_id") < 80).cache()
    val scorer = QualityClassifier.fit(docs, col("keep"))
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    // two triggers: first 40 docs, then 40 more plus an exact copy of
    // doc 2 (gated out by the fp index → must never become searchable)
    base.filter(col("doc_id") < 40).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = base.schema
    val q = CurateStream.attachWithIvf(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), scorer, centers,
      fpIndexDir = s"$tmp/fp", bandIndexDir = s"$tmp/band",
      ivfIndexDir = s"$tmp/ivf", outDir = s"$tmp/out",
      checkpointDir = s"$tmp/ckpt", minScore = 0.3, threshold = 0.5)
    q.processAllAvailable()
    base.filter(col("doc_id") >= 40)
      .union(base.filter(col("doc_id") === 2)
        .select(lit(30001L).as("doc_id"), col("text"), col("embedding")))
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    // per trigger AND overall: the searchable ids ARE the curated ids
    val out = spark.read.parquet(s"$tmp/out").select("doc_id", "batch")
    val idx = spark.read.parquet(s"$tmp/ivf")
      .select(col("doc_id"), col("batch"))
    assert(out.exceptAll(idx).isEmpty && idx.exceptAll(out).isEmpty,
      "searchable (id, trigger) set diverges from the curated set")
    assert(out.filter(col("doc_id") === 30001L).isEmpty,
      "the gated exact copy leaked into the curated output")
    // and a probe over the accrued index returns only curated docs
    val curatedIds = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(curatedIds.nonEmpty)
    val hits = Similarity.ivfTopKFromIndex(spark,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("doc_id"), col("embedding")),
        IvfStream.readIndex(spark, s"$tmp/ivf", idCol = "doc_id"),
        centers, k = 3, nProbe = 3, idCol = "doc_id")
      .select("rid").collect().map(_.getLong(0)).toSet
    assert(hits.nonEmpty && hits.subsetOf(curatedIds),
      s"probe surfaced uncurated docs: ${hits -- curatedIds}")
    base.unpersist()
  }

  test("CurateStream.attachWithIvfSq: compressed searchable set ≡ curated set; zero cache leak") {
    import graft.streaming.{CurateStream, IvfStream}
    import graft.pipeline.{QualityClassifier, Similarity}
    val tmp = tempDir("graft_cvsq").toString
    val e = Tables.embeddings(spark, sf)
    val base = docs.select("doc_id", "text")
      .join(e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .filter(col("doc_id") < 80).cache()
    val scorer = QualityClassifier.fit(docs, col("keep"))
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    val codec = Similarity.sqTrain(spark, e)
    base.filter(col("doc_id") < 40).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val q = CurateStream.attachWithIvfSq(
      spark.readStream.schema(base.schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), scorer, centers, codec,
      fpIndexDir = s"$tmp/fp", bandIndexDir = s"$tmp/band",
      ivfIndexDir = s"$tmp/ivf", outDir = s"$tmp/out",
      checkpointDir = s"$tmp/ckpt", minScore = 0.3, threshold = 0.5)
    q.processAllAvailable()
    // trigger 2: more docs plus an exact copy of doc 2 (fp-gated —
    // must never become searchable)
    base.filter(col("doc_id") >= 40)
      .union(base.filter(col("doc_id") === 2)
        .select(lit(30001L).as("doc_id"), col("text"), col("embedding")))
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    // zero cached frames survive the stream (the r9/r10 leak pin) —
    // asserted BEFORE the probe below, whose returned frame is
    // persisted by design (the padShortQueries contract)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      s"stream leaked cached frames: before=$cachedBefore " +
        s"after=${spark.sparkContext.getPersistentRDDs.size}")
    // per trigger AND overall: the searchable ids ARE the curated ids
    val out = spark.read.parquet(s"$tmp/out").select("doc_id", "batch")
    val idx = spark.read.parquet(s"$tmp/ivf").select("doc_id", "batch")
    assert(out.exceptAll(idx).isEmpty && idx.exceptAll(out).isEmpty,
      "searchable (id, trigger) set diverges from the curated set")
    assert(out.filter(col("doc_id") === 30001L).isEmpty)
    // the accrued payload is CODES (the 4x contract), searchable via
    // the IVF-SQ probe, and only curated docs ever surface
    val streamed = IvfStream.readIndex(spark, s"$tmp/ivf",
      idCol = "doc_id", "codes")
    assert(streamed.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val curatedIds = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(curatedIds.nonEmpty)
    // refs for the exact re-rank = the curated corpus (the deployment
    // pairing: the codes index and the vector store hold the same ids)
    val curatedVecs = base.join(out.select("doc_id"), "doc_id")
      .select(col("doc_id"), col("embedding"))
    val hits = Similarity.ivfSqTopKFromIndex(spark,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("doc_id"), col("embedding")),
        streamed, centers, codec, curatedVecs, k = 3,
        shortlist = 6, nProbe = 3, idCol = "doc_id")
      .select("rid").collect().map(_.getLong(0)).toSet
    assert(hits.nonEmpty && hits.subsetOf(curatedIds),
      s"probe surfaced uncurated docs: ${hits -- curatedIds}")
    base.unpersist()
  }

  test("sqTopKFromIndex: build-once/probe-many ≡ sqTopK; disk roundtrip exact") {
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val qs = e.filter(col("vec_id") < 20)
    val inOne = Similarity.sqTopK(spark, qs, e, k = 5, shortlist = 10)
    val (codec, codes) = Similarity.sqBuildIndex(spark, e)
    val viaIdx = Similarity.sqTopKFromIndex(spark, qs, codes, codec, e,
      k = 5, shortlist = 10)
    assert(viaIdx.exceptAll(inOne).isEmpty && inOne.exceptAll(viaIdx).isEmpty,
      "persisted-codes probe diverges from the in-one-call operator")
    // parquet roundtrip: codec envelope and codes reload exactly
    val tmp = tempDir("graft_sqidx").toString
    val written = Similarity.sqWriteIndex(spark, e, tmp)
    val (codec2, codes2) = Similarity.sqReadIndex(spark, tmp)
    assert(codec2.mins.sameElements(written.mins) &&
      codec2.maxs.sameElements(written.maxs))
    val viaDisk = Similarity.sqTopKFromIndex(spark, qs, codes2, codec2, e,
      k = 5, shortlist = 10)
    assert(viaDisk.exceptAll(inOne).isEmpty && inOne.exceptAll(viaDisk).isEmpty)
    e.unpersist()
  }

  test("matryoshka-IVF over a STREAMED prefix index ≡ the batch-built index") {
    // the full composition: IvfStream ingests the PREFIX column (a
    // prefix is just a shorter vector — same frozen quantizer, same
    // stateless assignment), and the accrued list-partitioned index is
    // the stage-1 rung of matryoshkaIvfTopKFromIndex. Streamed accrual
    // must be search-equivalent to the batch build.
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_mivfs").toString
    val e = Tables.embeddings(spark, sf).cache()
    val (centers, batchIndex) = Similarity.matryoshkaIvfBuildIndex(spark, e,
      dims = 32, nLists = 8)
    // stream the prefix column in two triggers
    val pref = e.select(col("vec_id"), slice(col("embedding"), 1, 32)
      .as("embedding"))
    pref.filter(col("vec_id") < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val q = IvfStream.attach(
      spark.readStream.schema(pref.schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), FloatCenters(centers),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt")
    q.processAllAvailable()
    pref.filter(col("vec_id") >= 250).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    val streamed = IvfStream.readIndex(spark, s"$tmp/idx")
    val qs = e.filter(col("vec_id") < 20)
    val got = Similarity.matryoshkaIvfTopKFromIndex(spark, qs, streamed,
      centers, e, k = 5, dims = 32, shortlist = 30, nProbe = 4)
    val want = Similarity.matryoshkaIvfTopKFromIndex(spark, qs, batchIndex,
      centers, e, k = 5, dims = 32, shortlist = 30, nProbe = 4)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed prefix index diverges from the batch build")
    e.unpersist()
  }

  test("IvfStream.attachSq: streamed codes index ≡ batch ivfSqBuildIndex") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_sqstream").toString
    val e = Tables.embeddings(spark, sf).cache()
    // quantizers frozen once (trained on the full corpus, the batch
    // route's own training), then the stream encodes arrivals
    val (centers, codec, batchIndex) = Similarity.ivfSqBuildIndex(spark, e,
      nLists = 8)
    e.select("vec_id", "embedding").filter(col("vec_id") < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = e.select("vec_id", "embedding").schema
    val q = IvfStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), SqQuantizer(centers, codec),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt",
      stalenessDir = Some(s"$tmp/stale"))
    q.processAllAvailable()
    e.select("vec_id", "embedding").filter(col("vec_id") >= 250).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    // accrued codes rows ≡ the batch build's frame, row for row
    val streamed = IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes")
    assert(streamed.exceptAll(batchIndex).isEmpty &&
      batchIndex.exceptAll(streamed).isEmpty,
      "streamed codes index diverges from the batch build")
    // and the search route over the streamed directory ≡ the inline op
    val qs = e.filter(col("vec_id") < 20)
    val got = Similarity.ivfSqTopKFromIndex(spark, qs, streamed, centers,
      codec, e, k = 5, shortlist = 10, nProbe = 4)
    val want = Similarity.ivfSqTopK(spark, qs, e, k = 5, nLists = 8,
      nProbe = 4, shortlist = 10)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the per-trigger staleness log: one row per trigger, counts sum
    // to the ingested corpus, readings in the healthy regime (the
    // quantizer WAS trained on this distribution)
    val stale = spark.read.parquet(s"$tmp/stale")
    assert(stale.count() == 2L, "one staleness row per trigger")
    assert(stale.agg(sum("n_vecs")).head.getLong(0) == e.count())
    stale.collect().foreach { r =>
      val d2 = r.getAs[Double]("mean_d2")
      val skew = r.getAs[Double]("max_list_frac")
      assert(d2 > 0 && d2 < 10, s"healthy-regime mean_d2, got $d2")
      assert(skew >= 1.0 / 8 && skew <= 1.0, s"skew in range, got $skew")
    }
    e.unpersist()
  }

  test("IvfStream.attachPq: streamed PQ index ≡ batch ivfPqBuildIndex; " +
    "reassignPq refresh + valve; unit-space staleness flows") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_pqstream").toString
    val e = Tables.embeddings(spark, sf).cache()
    val (model, batchIndex) = Similarity.ivfPqBuildIndex(spark, e,
      nLists = 8, m = 8, nCodes = 16)
    e.select("vec_id", "embedding").filter(col("vec_id") < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = e.select("vec_id", "embedding").schema
    val q = IvfStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), PqQuantizer(model),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt",
      stalenessDir = Some(s"$tmp/stale"))
    q.processAllAvailable()
    e.select("vec_id", "embedding").filter(col("vec_id") >= 250).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    // accrued residual-code rows ≡ the batch build's frame, row for row
    val streamed = IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes")
      .select("vec_id", "codes", "list")
    assert(streamed.exceptAll(batchIndex).isEmpty &&
      batchIndex.exceptAll(streamed).isEmpty,
      "streamed PQ codes index diverges from the batch build")
    // search route over the streamed directory ≡ the inline operator
    val qs = e.filter(col("vec_id") < 20)
    val got = Similarity.ivfPqTopKFromIndex(spark, qs, streamed, model,
      e, k = 5, nProbe = 4, refine = 4)
    val want = Similarity.ivfPqTopKFromIndex(spark, qs, batchIndex, model,
      e, k = 5, nProbe = 4, refine = 4)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // unit-space staleness: one row per trigger, counts sum to the
    // corpus, mean_d2 in the unit-sphere healthy regime (≤ 4 = the
    // diameter² bound on normalized vectors)
    val stale = spark.read.parquet(s"$tmp/stale")
    assert(stale.count() == 2L, "one staleness row per trigger")
    assert(stale.agg(sum("n_vecs")).head.getLong(0) == e.count())
    stale.collect().foreach { r =>
      val d2 = r.getAs[Double]("mean_d2")
      assert(d2 > 0 && d2 <= 4.0, s"unit-sphere mean_d2 bound, got $d2")
    }
    // reassign: refresh under a NEW PQ model ≡ a fresh batch build
    val (model7, fresh7) = Similarity.ivfPqBuildIndex(spark, e,
      nLists = 8, m = 8, nCodes = 16, seed = 7)
    IvfStream.reassign(spark, s"$tmp/idx", PqQuantizer(model7), Some(e))
    val refreshed = IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes")
      .select("vec_id", "codes", "list")
    assert(refreshed.exceptAll(fresh7).isEmpty &&
      fresh7.exceptAll(refreshed).isEmpty,
      "reassign diverges from a fresh build under the new PQ model")
    // loud valve: refs missing an indexed id refuse, index untouched
    val before = refreshed.collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getAs[Array[Byte]](1).toSeq))
      .toSet
    val err = intercept[IllegalArgumentException] {
      IvfStream.reassign(spark, s"$tmp/idx", PqQuantizer(model),
        Some(e.filter(col("vec_id") =!= 3)))
    }
    assert(err.getMessage.contains("absent from refs"))
    val after = IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes")
      .select("vec_id", "codes", "list").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getAs[Array[Byte]](1).toSeq))
      .toSet
    assert(after == before, "refused refresh must leave the index untouched")
    e.unpersist()
  }

  test("IvfStream.attachPq with metaCols ≡ plain PQ ingest; filtered " +
    "probe runs directly on the meta-carrying codes frame") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val (model, _) = Similarity.ivfPqBuildIndex(spark, e,
      nLists = 4, m = 8, nCodes = 16)
    val plain = IvfStream.encode(e, PqQuantizer(model))
    val meta = IvfStream.encode(e, PqQuantizer(model),
      metaCols = Seq("label"))
    assert(meta.columns.toSeq === Seq("vec_id", "codes", "label", "list"))
    val a = meta.select("vec_id", "codes", "list")
    val p = plain.select("vec_id", "codes", "list")
    assert(a.exceptAll(p).isEmpty && p.exceptAll(a).isEmpty)
    val pred = col("label") === 2
    val qs = e.filter(col("vec_id") < 20)
    // the label-filtered meta frame ≡ the plain frame cut to the same ids
    val allowed = e.filter(pred).select("vec_id")
    def semi(df: org.apache.spark.sql.DataFrame) =
      df.join(allowed, Seq("vec_id"), "left_semi")
    val got = Similarity.ivfPqTopKFromIndex(spark, qs, meta.filter(pred),
      model, e.filter(pred), k = 3, nProbe = 4, refine = 4)
    val want = Similarity.ivfPqTopKFromIndex(spark, qs, semi(plain), model,
      semi(e), k = 3, nProbe = 4, refine = 4)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val labels = e.select(col("vec_id").as("rid"), col("label"))
    assert(got.join(labels, "rid").filter(col("label") =!= 2)
      .count() === 0L)
    e.unpersist()
  }

  test("IvfStream.attachSq with metaCols: the streamed codes index " +
    "carries the metadata and serves a filtered probe directly") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_sqmeta").toString
    val e = Tables.embeddings(spark, sf).cache()
    val (centers, codec, _) = Similarity.ivfSqBuildIndex(spark, e,
      nLists = 8)
    val cols = Seq("vec_id", "embedding", "label")
    e.select(cols.map(col): _*).filter(col("vec_id") < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = e.select(cols.map(col): _*).schema
    val q = IvfStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), SqQuantizer(centers, codec),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt",
      metaCols = Seq("label"))
    q.processAllAvailable()
    e.select(cols.map(col): _*).filter(col("vec_id") >= 250).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    // the accrued directory carries the metadata column...
    val idx = spark.read.parquet(s"$tmp/idx")
    assert(idx.columns.contains("label"))
    // ...and the (id, codes, list) payload ≡ the batch twin's
    val streamed = idx.select("vec_id", "codes", "list")
    val want = IvfStream.encode(e, SqQuantizer(centers, codec))
    assert(streamed.exceptAll(want).isEmpty &&
      want.exceptAll(streamed).isEmpty)
    // a metadata-filtered probe runs DIRECTLY on the streamed index
    val qs = e.filter(col("vec_id") < 20)
    val pred = col("label") === 2
    // ≡ the batch twin's payload cut to the allowed ids
    val allowed = e.filter(pred).select("vec_id")
    def semi(df: org.apache.spark.sql.DataFrame) =
      df.join(allowed, Seq("vec_id"), "left_semi")
    val got = Similarity.ivfSqTopKFromIndex(spark, qs, idx.filter(pred),
      centers, codec, e.filter(pred), k = 3, shortlist = 10, nProbe = 4)
    val ref = Similarity.ivfSqTopKFromIndex(spark, qs, semi(want),
      centers, codec, semi(e), k = 3, shortlist = 10, nProbe = 4)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    val labels = e.select(col("vec_id").as("rid"), col("label"))
    assert(got.join(labels, "rid").filter(col("label") =!= 2)
      .count() === 0L)
    // the metadata survives BOTH codes-tier rewrites (r13): compaction
    // passes every column through; a quantizer refresh re-encodes from
    // refs (codes are lossy) and re-attaches the metadata from the
    // index by id — filtered probes keep working after maintenance
    IvfStream.compactIndex(spark, s"$tmp/idx")
    val compacted = spark.read.parquet(s"$tmp/idx")
    assert(compacted.columns.contains("label"),
      "compaction must carry the metadata columns through")
    assert(compacted.select("vec_id", "label")
      .exceptAll(e.select("vec_id", "label")).isEmpty)
    val centersB = Similarity.ivfTrainCentroids(spark, e, nLists = 8,
      seed = 7)
    val codecB = Similarity.sqTrain(spark, e)
    IvfStream.reassign(spark, s"$tmp/idx", SqQuantizer(centersB, codecB), Some(e))
    val refreshed = spark.read.parquet(s"$tmp/idx")
    assert(refreshed.columns.contains("label"),
      "reassign must re-attach the metadata columns")
    val got2 = Similarity.ivfSqTopKFromIndex(spark, qs,
      refreshed.filter(pred), centersB, codecB, e.filter(pred), k = 3,
      shortlist = 10, nProbe = 4)
    val ref2 = Similarity.ivfSqTopKFromIndex(spark, qs,
      semi(refreshed.select("vec_id", "codes", "list")), centersB, codecB,
      semi(e), k = 3, shortlist = 10, nProbe = 4)
    assert(got2.exceptAll(ref2).isEmpty && ref2.exceptAll(got2).isEmpty)
    e.unpersist()
  }

  test("OPQ: the learned rotation is orthogonal, never raises the " +
    "training quantization error vs plain PQ, round-trips through the " +
    "persisted layout, and streams bit-identically to the batch build") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = tempDir("graft_opq").toString
    val pq = Similarity.ivfPqTrainModel(spark, e, nLists = 4, m = 8,
      nCodes = 16)
    val opq = Similarity.ivfOpqTrainModel(spark, e, nLists = 4, m = 8,
      nCodes = 16, iters = 4)
    // 1. orthogonality: RᵀR = I (distances preserved — the rotation
    //    can only re-balance the subspace split, never distort space)
    val r = opq.rotation.get
    val d = r.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => r(k)(i) * r(k)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"RtR($i,$j) = $dot — rotation must be orthogonal")
    }
    // 2. alternation never loses to the R = I start (= plain PQ with
    //    the same seeds): mean reconstruction error on the corpus is
    //    ≤ the unrotated model's
    def reconErr(model: Similarity.IvfPqModel): Double = {
      val vs = e.select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      vs.map { v =>
        val u = model.unit(v)
        val l = model.argminCenter(u)
        val codes = model.encode(u, l)
        val dsub = model.dsub
        var err = 0.0
        var s = 0
        while (s < model.m) {
          val cb = model.codebooks(s)(codes(s) & 0xff)
          var j = 0
          while (j < dsub) {
            val x = u(s * dsub + j) - model.centers(l)(s * dsub + j) - cb(j)
            err += x * x; j += 1
          }
          s += 1
        }
        err
      }.sum / vs.length
    }
    val errPq = reconErr(pq)
    val errOpq = reconErr(opq)
    assert(errOpq <= errPq * 1.02,
      f"OPQ must not raise quantization error: $errPq%.6f -> $errOpq%.6f")
    // 3. persisted round-trip: rotation survives write/read and the
    //    probe over the read-back layout ≡ the in-memory build
    val written = Similarity.ivfOpqWriteIndex(spark, e, s"$tmp/opq",
      nLists = 4, m = 8, nCodes = 16, iters = 4)
    val (readModel, readCodes) = Similarity.ivfPqReadIndex(spark, s"$tmp/opq")
    assert(readModel.rotation.nonEmpty, "rotation must round-trip")
    readModel.rotation.get.zip(written.rotation.get).foreach {
      case (a, b) => assert(a.sameElements(b)) }
    val qs = e.filter(col("vec_id") < 20)
    val viaDisk = Similarity.ivfPqTopKFromIndex(spark, qs, readCodes,
      readModel, e, k = 5, nProbe = 3, refine = 4)
    val (bm, bidx) = Similarity.ivfOpqBuildIndex(spark, e, nLists = 4,
      m = 8, nCodes = 16, iters = 4)
    val inMem = Similarity.ivfPqTopKFromIndex(spark, qs, bidx, bm, e,
      k = 5, nProbe = 3, refine = 4)
    assert(viaDisk.exceptAll(inMem).isEmpty &&
      inMem.exceptAll(viaDisk).isEmpty)
    // 4. streamed ingest under the OPQ model ≡ the batch encode (the
    //    rotation rides inside unit, so attach needed no changes)
    val batch = Similarity.ivfOpqBuildIndex(spark, e, nLists = 4, m = 8,
      nCodes = 16, iters = 4)._2
    val streamed = IvfStream.encode(e,
      PqQuantizer(Similarity.ivfOpqTrainModel(spark, e, nLists = 4, m = 8,
        nCodes = 16, iters = 4))).select("vec_id", "codes", "list")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed OPQ ingest diverges from the batch build")
    // 5. maintain on an OPQ index retrains WITH a rotation
    IvfStream.encode(e, PqQuantizer(opq))
      .write.partitionBy("list").mode("overwrite")
      .parquet(s"$tmp/idx/batch=0")
    // drift in UNIT space shows as SKEW (the +3.0 shift funnels the
    // normalized vectors toward the all-ones direction and into few
    // lists) — the existing PQ maintain fixture's firing arm
    val drifted = e.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    IvfStream.quantizerStaleness(drifted, PqQuantizer(opq)).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/stale/batch=0")
    val healthySkew = IvfStream.quantizerStaleness(e, PqQuantizer(opq))
      .collect()(0).getDouble(2)
    val driftedSkew = IvfStream.quantizerStaleness(drifted, PqQuantizer(opq))
      .collect()(0).getDouble(2)
    assert(driftedSkew > healthySkew, "fixture: the shift must skew")
    val (repM, newM) = IvfStream.maintain(spark, s"$tmp/idx",
      s"$tmp/stale", PqQuantizer(opq),
      IvfStream.MaintainPolicy(meanD2Max = 1e9,
        maxListFracMax = (healthySkew + driftedSkew) / 2), Some(drifted))
    assert(repM.fired && newM.exists {
      case PqQuantizer(m) => m.rotation.nonEmpty
      case _ => false
    },
      "maintain on an OPQ model must retrain with a rotation")
    e.unpersist()
  }

  test("matryoshka prefix tier inherits the FULL ingest/maintenance " +
    "family through the float tier: metadata-carrying ingest, " +
    "filtered probe, delete, staleness-driven maintain") {
    // the r12 additions (WithMeta ingest, maintain/fragmentation,
    // deletion) were specified per codec tier; the prefix index is a
    // float IVF index over sliced vectors, so it JOINS the family by
    // construction — this pins that claim end-to-end rather than
    // documenting it as an exclusion (r12 verdict #7)
    import graft.streaming.{IndexDelete, IvfStream}
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_mrlfam").toString
    val e = Tables.embeddings(spark, sf).cache()
    val dims = 32
    val pref = e.select(col("vec_id"),
      slice(col("embedding"), 1, dims).as("embedding"), col("label"))
    val (centers, _) = Similarity.matryoshkaIvfBuildIndex(spark, e,
      dims = dims, nLists = 8)
    // 1. metadata-carrying streamed ingest of the prefix column
    pref.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    val q = IvfStream.attach(
      spark.readStream.schema(pref.schema).parquet(s"$tmp/in"), FloatCenters(centers),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt",
      stalenessDir = Some(s"$tmp/stale"), metaCols = Seq("label"))
    q.processAllAvailable()
    q.stop()
    val idx = spark.read.parquet(s"$tmp/idx")
    assert(idx.columns.contains("label"))
    // 2. metadata-FILTERED matryoshka probe directly on the streamed
    //    prefix index ≡ the filter-then-probe twin over the metadata-free
    //    payload cut to the allowed ids
    val qs = e.filter(col("vec_id") < 20)
    val predQ = col("label") === 2
    val allowed = e.filter(predQ).select("vec_id")
    def semi(df: org.apache.spark.sql.DataFrame) =
      df.join(allowed, Seq("vec_id"), "left_semi")
    val got = Similarity.matryoshkaIvfTopKFromIndex(spark, qs,
      idx.filter(predQ), centers, e.filter(predQ), k = 3, dims = dims,
      shortlist = 30, nProbe = 4)
    val want = Similarity.matryoshkaIvfTopKFromIndex(spark, qs,
      semi(idx.select("vec_id", "embedding", "list")), centers, semi(e),
      k = 3, dims = dims, shortlist = 30, nProbe = 4)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // 3. targeted deletion sweeps the prefix index like any other
    val doomed = Seq(3L, 7L)
    val rep = IndexDelete.deleteIds(spark, s"$tmp/idx", doomed, "vec_id")
    assert(rep.rowsDeleted === 2L)
    val afterDel = Similarity.matryoshkaIvfTopKFromIndex(spark, qs,
      IvfStream.readIndex(spark, s"$tmp/idx"), centers, e, k = 3,
      dims = dims, shortlist = 30, nProbe = 4)
    assert(afterDel.filter(col("rid").isin(doomed: _*)).count() === 0L)
    // 4. staleness-driven maintain: drifted PREFIX arrivals breach the
    //    policy, the fire re-trains in prefix space and re-lists
    val healthy = IvfStream.quantizerStaleness(pref, FloatCenters(centers))
      .collect()(0).getDouble(1)
    val driftedPref = pref.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    IvfStream.quantizerStaleness(driftedPref, FloatCenters(centers)).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/stale/batch=99")
    val (repM, newC) = IvfStream.maintain(spark, s"$tmp/idx",
      s"$tmp/stale", FloatCenters(centers),
      IvfStream.MaintainPolicy(meanD2Max = healthy * 2))
    assert(repM.fired && newC.nonEmpty,
      s"drifted prefix log must fire maintain: $repM")
    // the re-listed index under the new prefix-space quantizer is
    // search-equivalent to a fresh assignment of the same rows
    val survivors = pref.filter(!col("vec_id").isin(doomed: _*))
      .select("vec_id", "embedding")
    val wantIdx = IvfStream.encode(survivors, newC.get)
    val gotIdx = IvfStream.readIndex(spark, s"$tmp/idx")
    assert(gotIdx.exceptAll(wantIdx).isEmpty &&
      wantIdx.exceptAll(gotIdx).isEmpty)
    // 5. the metadata SURVIVED the maintain rewrite (r13: reassign and
    //    compaction carry non-payload columns through, so filtered
    //    probes keep working after a refresh — they used to be
    //    silently dropped) and the filtered probe still runs directly
    val idxAfter = spark.read.parquet(s"$tmp/idx")
    assert(idxAfter.columns.contains("label"),
      "reassign must carry the metadata columns through the rewrite")
    val gotAfter = Similarity.matryoshkaIvfTopKFromIndex(spark, qs,
      idxAfter.filter(predQ), newC.get.centers, e.filter(predQ), k = 3,
      dims = dims, shortlist = 30, nProbe = 4)
    val wantAfter = Similarity.matryoshkaIvfTopKFromIndex(spark, qs,
      semi(idxAfter.select("vec_id", "embedding", "list")), newC.get.centers,
      semi(e), k = 3, dims = dims, shortlist = 30, nProbe = 4)
    assert(gotAfter.exceptAll(wantAfter).isEmpty &&
      wantAfter.exceptAll(gotAfter).isEmpty)
    e.unpersist()
  }

  test("IvfStream.attach with metaCols: the streamed FLOAT index " +
    "carries the metadata and serves a filtered probe directly") {
    // the float tier was the only streaming wire-in without a metaCols
    // parameter (r12 ADVICE) — q213 had to write batch partitions by
    // hand; this pins the documented attach route end-to-end
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_flmeta").toString
    val e = Tables.embeddings(spark, sf).cache()
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    val cols = Seq("vec_id", "embedding", "label")
    e.select(cols.map(col): _*).filter(col("vec_id") < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = e.select(cols.map(col): _*).schema
    val q = IvfStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), FloatCenters(centers),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt",
      metaCols = Seq("label"))
    q.processAllAvailable()
    e.select(cols.map(col): _*).filter(col("vec_id") >= 250).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    // the accrued directory carries the metadata column...
    val idx = spark.read.parquet(s"$tmp/idx")
    assert(idx.columns.contains("label"))
    // ...and the (id, vec, list) payload ≡ the plain ingest's
    val streamed = idx.select("vec_id", "embedding", "list")
    val want = IvfStream.encode(e, FloatCenters(centers))
    assert(streamed.exceptAll(want).isEmpty &&
      want.exceptAll(streamed).isEmpty)
    // a metadata-filtered probe runs DIRECTLY on the streamed index
    val qs = e.filter(col("vec_id") < 20)
    val pred = col("label") === 2
    // ≡ the plain ingest's payload cut to the allowed ids
    val allowed = e.filter(pred).select("vec_id")
    def semi(df: org.apache.spark.sql.DataFrame) =
      df.join(allowed, Seq("vec_id"), "left_semi")
    val got = Similarity.ivfTopKFromIndex(spark, qs, idx.filter(pred),
      centers, k = 3, nProbe = 4)
    val ref = Similarity.ivfTopKFromIndex(spark, qs, semi(want),
      centers, k = 3, nProbe = 4)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    val labels = e.select(col("vec_id").as("rid"), col("label"))
    assert(got.join(labels, "rid").filter(col("label") =!= 2)
      .count() === 0L)
    e.unpersist()
  }

  test("IvfStream.attachBq: streamed 1-bit index ≡ batch ivfBqBuildIndex; reassignBq refresh + valve") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_bqstream").toString
    val e = Tables.embeddings(spark, sf).cache()
    val (centers, batchIndex) = Similarity.ivfBqBuildIndex(spark, e,
      nLists = 8)
    e.select("vec_id", "embedding").filter(col("vec_id") < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = e.select("vec_id", "embedding").schema
    val q = IvfStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), BqCenters(centers),
      indexDir = s"$tmp/idx", checkpointDir = s"$tmp/ckpt",
      stalenessDir = Some(s"$tmp/stale"))
    q.processAllAvailable()
    e.select("vec_id", "embedding").filter(col("vec_id") >= 250).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    // accrued sign-code rows ≡ the batch build's frame, row for row
    val streamed = IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes")
    assert(streamed.exceptAll(batchIndex).isEmpty &&
      batchIndex.exceptAll(streamed).isEmpty,
      "streamed 1-bit codes index diverges from the batch build")
    // search route over the streamed directory ≡ the inline operator
    val qs = e.filter(col("vec_id") < 20)
    val got = Similarity.ivfBqTopKFromIndex(spark, qs, streamed, centers,
      e, k = 5, shortlist = 20, nProbe = 4)
    val want = Similarity.ivfBqTopK(spark, qs, e, k = 5, nLists = 8,
      nProbe = 4, shortlist = 20)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // staleness log flows exactly like the float/SQ8 tiers
    val stale = spark.read.parquet(s"$tmp/stale")
    assert(stale.count() == 2L, "one staleness row per trigger")
    assert(stale.agg(sum("n_vecs")).head.getLong(0) == e.count())
    // reassign: refresh under NEW BQ centers ≡ a fresh batch build
    // (sign codes are centroid-independent; only the listing moves)
    val centersB = Similarity.ivfTrainCentroids(spark, e, nLists = 8,
      seed = 7)
    IvfStream.reassign(spark, s"$tmp/idx", BqCenters(centersB), Some(e))
    val refreshed = IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes")
    val (_, freshB) = Similarity.ivfBqBuildIndex(spark, e, nLists = 8,
      seed = 7)
    assert(refreshed.exceptAll(freshB).isEmpty &&
      freshB.exceptAll(refreshed).isEmpty,
      "reassign diverges from a fresh build under the new BQ centers")
    // loud valve: refs missing an indexed id refuse, index untouched
    val before = refreshed.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2)))
      .toSet
    val err = intercept[IllegalArgumentException] {
      IvfStream.reassign(spark, s"$tmp/idx", BqCenters(centers),
        Some(e.filter(col("vec_id") =!= 3)))
    }
    assert(err.getMessage.contains("absent from refs"))
    val after = IvfStream.readIndex(spark, s"$tmp/idx", payload = "codes").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2)))
      .toSet
    assert(after == before, "refused refresh must leave the index untouched")
    e.unpersist()
  }

  test("ivfPqTopKFromIndex: build-once/probe-many ≡ ivfPqTopK; disk roundtrip exact") {
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val qs = e.filter(col("vec_id") < 20)
    // the q56 one-call surface delegates to build+probe, so this pins
    // that an EXTERNALLY persisted index gives the same rows as the
    // monolithic call (one model, one arithmetic)
    val inOne = Similarity.ivfPqTopK(spark, e, k = 3, nLists = 8,
      nProbe = 4, m = 8, nCodes = 32, refine = 10, queriesOpt = Some(qs))
    val (model, index) = Similarity.ivfPqBuildIndex(spark, e, nLists = 8,
      m = 8, nCodes = 32)
    val viaIdx = Similarity.ivfPqTopKFromIndex(spark, qs, index, model, e,
      k = 3, nProbe = 4, refine = 10)
    assert(viaIdx.exceptAll(inOne).isEmpty && inOne.exceptAll(viaIdx).isEmpty,
      "pre-built-index probe diverges from the one-call operator")
    // parquet roundtrip: model and codes reload exactly, and a probe
    // over the list-partitioned on-disk codes matches
    val tmp = tempDir("graft_pqidx").toString
    val written = Similarity.ivfPqWriteIndex(spark, e, tmp, nLists = 8,
      m = 8, nCodes = 32)
    val (model2, codes2) = Similarity.ivfPqReadIndex(spark, tmp)
    assert(model2.dim == written.dim && model2.m == written.m)
    assert(model2.centers.zip(written.centers).forall(p => p._1.sameElements(p._2)))
    assert(model2.codebooks.zip(written.codebooks).forall { case (a, b) =>
      a.zip(b).forall(p => p._1.sameElements(p._2)) })
    val viaDisk = Similarity.ivfPqTopKFromIndex(spark, qs, codes2, model2,
      e, k = 3, nProbe = 4, refine = 10)
    assert(viaDisk.exceptAll(inOne).isEmpty && inOne.exceptAll(viaDisk).isEmpty)
    e.unpersist()
  }

  test("ivfSqTopK: full probe ≡ sqTopK; codes index is 4x-compressed coverage") {
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val qs = e.filter(col("vec_id") < 20)
    // nProbe = nLists covers every inverted list, so the asymmetric
    // codes shortlist sees the whole corpus — the IVF-SQ composition
    // must then equal the flat SQ8 rung row for row (one codec algebra,
    // one asymmetric scoring, one re-rank kernel)
    val viaIvfSq = Similarity.ivfSqTopK(spark, qs, e, k = 5, nLists = 8,
      nProbe = 8, shortlist = 10)
    val viaSq = Similarity.sqTopK(spark, qs, e, k = 5, shortlist = 10)
    assert(viaIvfSq.exceptAll(viaSq).isEmpty &&
      viaSq.exceptAll(viaIvfSq).isEmpty,
      "full-probe IVF-SQ diverges from the flat SQ8 rung")
    // the index frame carries codes, not vectors (the 4x contract) and
    // every code round-trips through the shared codec algebra
    val (_, codec, index) = Similarity.ivfSqBuildIndex(spark, e, nLists = 8)
    assert(index.columns.toSet == Set("vec_id", "codes", "list"))
    val audited = Similarity.sqEncode(spark, e, codec)
      .withColumnRenamed("codes", "_want")
    assert(index.select(col("vec_id"), col("codes"))
      .join(audited, "vec_id")
      .filter(col("codes") =!= col("_want")).isEmpty,
      "index codes diverge from sqEncode under the same codec")
    // disk roundtrip: centers + codec + list-partitioned codes reload
    // and probe identically to the in-memory build
    val tmp = tempDir("graft_ivfsqidx").toString
    val (wc, wcodec) = Similarity.ivfSqWriteIndex(spark, e, tmp, nLists = 8)
    val (rc, rcodec, rcodes) = Similarity.ivfSqReadIndex(spark, tmp)
    assert(rc.zip(wc).forall(p => p._1.sameElements(p._2)))
    assert(rcodec.mins.sameElements(wcodec.mins) &&
      rcodec.maxs.sameElements(wcodec.maxs))
    val viaDisk = Similarity.ivfSqTopKFromIndex(spark, qs, rcodes, rc,
      rcodec, e, k = 5, shortlist = 10, nProbe = 4)
    val viaMem = Similarity.ivfSqTopK(spark, qs, e, k = 5, nLists = 8,
      nProbe = 4, shortlist = 10)
    assert(viaDisk.exceptAll(viaMem).isEmpty && viaMem.exceptAll(viaDisk).isEmpty,
      "on-disk IVF-SQ probe diverges from the inline build")
    e.unpersist()
  }

  test("dedupAgainstIndex ≡ dedupAgainst: index probe and re-signature routes agree") {
    import graft.streaming.NearDupStream
    // reference corpus indexed the way the streaming gate indexes it;
    // new corpus carries an exact copy, a near copy, and fresh docs
    val ref = docs.select("doc_id", "text").filter(col("doc_id") < 60).cache()
    val fresh = docs.select((col("doc_id") + 5000).as("doc_id"), col("text"))
      .filter(col("doc_id") >= 5060 && col("doc_id") < 5080)
    val exactCopy = ref.filter(col("doc_id") === 3)
      .select(lit(9000L).as("doc_id"), col("text"))
    val nearCopy = ref.filter(col("doc_id") === 4)
      .select(lit(9001L).as("doc_id"),
        concat(col("text"), lit(" extraword")).as("text"))
    val neu = fresh.union(exactCopy).union(nearCopy)
    val index = NearDupStream.bandKeys(ref).cache()
    val viaIndex = NearDupStream.dedupAgainstIndex(neu, index, threshold = 0.5)
    val viaRef = Dedup.dedupAgainst(neu, ref, threshold = 0.5)
    assert(viaIndex.exceptAll(viaRef).isEmpty &&
      viaRef.exceptAll(viaIndex).isEmpty,
      s"routes diverge:\nindex=${viaIndex.orderBy("doc_id").collect().mkString}\n" +
        s"ref=${viaRef.orderBy("doc_id").collect().mkString}")
    // the plants verify against their sources; output is one row per doc
    val got = viaIndex.collect().map(r => r.getLong(0) ->
      (r.getBoolean(1), r.get(3))).toMap
    assert(got(9000L)._1 == false && got(9000L)._2 == 3L)
    assert(got(9001L)._1 == false)
    assert(got.size == neu.count())
    // and probing a COMPACTED on-disk index is the same decision set
    val tmp = tempDir("graft_dai").toString
    index.write.mode("overwrite").parquet(s"$tmp/idx/batch=0")
    NearDupStream.compactIndex(spark, s"$tmp/idx", 64, partitions = 2)
    val viaDir = NearDupStream.dedupAgainstIndex(spark, neu, s"$tmp/idx",
      n = 3, k = 64, bands = 16, threshold = 0.5)
    assert(viaDir.exceptAll(viaRef).isEmpty && viaRef.exceptAll(viaDir).isEmpty)
    // self-match guard (r9 ADVICE): a backfill doc whose id ALREADY
    // sits in the index (replayed backfill) must not verify against
    // itself — doc 7 is in the index with an identical signature, and
    // has no other near-dup in ref, so it must come back keep=true
    // itself — every indexed doc replayed must either be kept or match
    // a DIFFERENT doc (a self-match would report matched_ref == doc_id)
    val selfProbe = NearDupStream.dedupAgainstIndex(ref, index,
      threshold = 0.5).collect()
    assert(selfProbe.forall(r => r.getBoolean(1) || r.getLong(3) != r.getLong(0)),
      s"replayed docs verified against themselves: ${selfProbe.filter(r =>
        !r.getBoolean(1) && r.getLong(3) == r.getLong(0)).mkString}")
    assert(selfProbe.exists(_.getBoolean(1)),
      "fixture degenerate: every replayed doc matched some other doc")
    ref.unpersist(); index.unpersist()
  }

  test("IvfStream: index-probing search ≡ batch ivfTopK under shared centroids") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf).cache()
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    // ingest-assigned index frame, probed — must equal the batch
    // operator row for row (one assignment arithmetic, one quantizer)
    val index = IvfStream.encode(e, FloatCenters(centers))
    val got = Similarity.ivfTopKFromIndex(spark, e, index, centers,
      k = 5, nProbe = 3)
    val want = Similarity.ivfTopK(spark, e, k = 5, nLists = 8, nProbe = 3)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    e.unpersist()
  }

  test("IvfStream.attach: vectors accrue across triggers; probe sees them all") {
    import graft.streaming.IvfStream
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_ivf").toString
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding").cache()
    // quantizer trained on the corpus the batch twin will train on, so
    // the two routes share centroids exactly
    val centers = Similarity.ivfTrainCentroids(spark,
      e.filter(col("vec_id") < 200), nLists = 8)
    e.filter(col("vec_id") < 100).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = e.schema
    val q = IvfStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"), FloatCenters(centers),
      indexDir = s"$tmp/index", checkpointDir = s"$tmp/ckpt")
    q.processAllAvailable()
    e.filter(col("vec_id") >= 100 && col("vec_id") < 200).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    val index = IvfStream.readIndex(spark, s"$tmp/index")
    assert(index.count() == 200)
    // the second trigger's vectors are findable, and the probe matches
    // the batch operator over the SAME 200-vector corpus
    val corpus = e.filter(col("vec_id") < 200)
    val got = Similarity.ivfTopKFromIndex(spark, corpus, index, centers,
      k = 5, nProbe = 3)
    val want = Similarity.ivfTopK(spark, corpus, k = 5, nLists = 8, nProbe = 3)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    e.unpersist()
  }

  test("NearDupStream.attach: end-to-end file stream maintains the index") {
    import graft.streaming.NearDupStream
    val tmp = tempDir("graft_ndup").toString
    val base = docs.select("doc_id", "text")
    base.filter(col("doc_id") < 40).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = NearDupStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in"),
      indexDir = s"$tmp/index", outDir = s"$tmp/out",
      checkpointDir = s"$tmp/ckpt", threshold = 0.5)
    q.processAllAvailable()
    // the near-copy of doc 0 arrives a separate trigger later
    base.filter(col("doc_id") === 0)
      .select(lit(20000L).as("doc_id"),
        concat(col("text"), lit(" extraword")).as("text"))
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$tmp/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out.contains(0L) && !out.contains(20000L))
    // index holds band rows for ALL arrivals (dropped ones included)
    val idx = NearDupStream.readIndex(spark, s"$tmp/index", 64)
    assert(idx.select("doc_id").distinct().count() == 41L)
    // compaction preserves the logical row set
    val before = idx.collect().toSet
    NearDupStream.compactIndex(spark, s"$tmp/index", 64, partitions = 4)
    val after = NearDupStream.readIndex(spark, s"$tmp/index", 64)
      .collect().toSet
    assert(after == before)
    // a compaction crash between the two renames (live index moved to
    // .old with its completion marker, compacted copy not yet
    // installed) self-heals on next read, markers cleaned up
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/index")
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/index"),
      new org.apache.hadoop.fs.Path(s"$tmp/index.old")))
    fs.create(new org.apache.hadoop.fs.Path(s"$tmp/index.old.complete"),
      true).close()
    val healed = NearDupStream.readIndex(spark, s"$tmp/index", 64)
      .collect().toSet
    assert(healed == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/index.old")))
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$tmp/index.old.complete")))
  }

  test("NearDupStream: batch replay is idempotent (no self-drop, no dup survivors)") {
    import graft.streaming.NearDupStream
    val tmp = tempDir("graft_ndup_rp").toString
    val base = docs.select("doc_id", "text")
    // the attach foreachBatch body, inlined (the unit under test is the
    // replay semantics of the per-batch writes, not the stream driver)
    def runBatch(b: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val index = NearDupStream.readIndex(spark, s"$tmp/index", 64,
        excludeBatch = batchId)
      val (surv, add) = NearDupStream.filterBatch(b, index, threshold = 0.5)
      surv.write.mode("overwrite").parquet(s"$tmp/out/batch=$batchId")
      add.select("doc_id", "band", "bucket", "sig")
        .write.mode("overwrite").parquet(s"$tmp/index/batch=$batchId")
      add.unpersist()
      ()
    }
    val b0 = base.filter(col("doc_id") < 40)
    val b1 = base.filter(col("doc_id") >= 40 && col("doc_id") < 60)
      .union(base.filter(col("doc_id") === 0)
        .select(lit(20000L).as("doc_id"),
          concat(col("text"), lit(" extraword")).as("text")))
    runBatch(b0, 0L)
    runBatch(b1, 1L)
    val out1 = spark.read.parquet(s"$tmp/out").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val idx1 = NearDupStream.readIndex(spark, s"$tmp/index", 64)
      .collect().toSet
    // crash-replay batch 1: index write committed, checkpoint lost →
    // the SAME batch runs again against an index that already contains
    // its own rows. Survivors and index must come out identical — no
    // batch self-annihilation, no duplicate rows.
    runBatch(b1, 1L)
    val out2 = spark.read.parquet(s"$tmp/out").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val idx2 = NearDupStream.readIndex(spark, s"$tmp/index", 64)
      .collect().toSet
    assert(out2 == out1, s"replay changed survivors: $out1 -> $out2")
    assert(idx2 == idx1, "replay changed the index row set")
    assert(out1.contains(0L) && !out1.contains(20000L))
  }

  test("contamination: planted eval overlap measured exactly, clean docs zero") {
    import spark.implicits._
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      // doc 1 contains a verbatim 5-token span of the eval doc:
      // shingles: 6 total, 3 of them ("quick brown fox", "brown fox
      // jumps", "fox jumps over") appear in the eval set
      (1L, "we say quick brown fox jumps over and more"),
      (2L, "completely clean text with no overlap at all"),
      (3L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.contamination(train, eval, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._1 == 7 && out(1L)._2 == 3)
    assert(math.abs(out(1L)._3 - 3.0 / 7) < 1e-6)
    assert(out(2L) == ((6L, 0L, 0.0)))
    assert(!out.contains(3L), "docs shorter than n have no shingles, no row")
  }

  test("PII scrub replaces emails, IPs and phones; clean text untouched") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail alice.smith+x@sub.example.org or bob@ex.io today"),
      (2L, "server at 192.168.1.254 and backup 10.0.0.7 up"),
      (3L, "call +14155552671 now"),
      (4L, "no pii here, just 1.5 + 2.5 = 4 and version 1.2")
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
      TextAnalysis.scrubPii(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail <EMAIL> or <EMAIL> today")
    assert(out(2L) == "server at <IP> and backup <IP> up")
    assert(out(3L) == "call <PHONE> now")
    assert(out(4L) == "no pii here, just 1.5 + 2.5 = 4 and version 1.2")
  }

  test("deterministic sampling: exact subset semantics, rates near fractions") {
    import spark.implicits._
    val d = (0L until 4000L).map(i => (i, if (i % 4 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val half = TextAnalysis.deterministicSample(d, "doc_id", 0.5)
    val tenth = TextAnalysis.deterministicSample(d, "doc_id", 0.1)
    // threshold monotonicity: the 10% sample is a strict subset of the 50%
    assert(tenth.exceptAll(half).isEmpty)
    val r5 = half.count().toDouble / 4000
    val r1 = tenth.count().toDouble / 4000
    assert(math.abs(r5 - 0.5) < 0.05, s"rate $r5")
    assert(math.abs(r1 - 0.1) < 0.03, s"rate $r1")
    // replay: same seed → identical rows; different seed → different set
    assert(TextAnalysis.deterministicSample(d, "doc_id", 0.5)
      .exceptAll(half).isEmpty)
    assert(TextAnalysis.deterministicSample(d, "doc_id", 0.5, seed = 7)
      .exceptAll(half).count() > 0)
    // stratified: per-stratum rates follow the per-stratum fractions
    val strat = TextAnalysis.stratifiedSample(d, "lang", "doc_id",
      Map("en" -> 0.8), defaultP = 0.1).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(strat("en") / 1000.0 - 0.8) < 0.1)
    assert(math.abs(strat.getOrElse("de", 0L) / 3000.0 - 0.1) < 0.05)
  }

  test("weighted reservoir sample: proportionality, nesting, replay") {
    import spark.implicits._
    // E-S property for k=1: P(select) = w / Σw. Two docs with weights
    // 10:1 → the heavy one wins ~10/11 of seeds. All 120 seeds are
    // evaluated in ONE plan (cross join on a seed column) so this is a
    // single Spark job, not 120.
    val two = Seq((1L, 1000.0), (2L, 100.0)).toDF("id", "w")
    val seeds = (0 until 120).map(_.toLong).toDF("seed")
    val u = conv(substring(
      md5(concat_ws(":", col("seed").cast("string"), col("id").cast("string"))),
      1, 13), 16, 10).cast("long")
    val keyed = two.crossJoin(seeds)
      .withColumn("k", log((u + lit(1L)) / lit(4503599627370496.0)) / col("w"))
    val bySeed = org.apache.spark.sql.expressions.Window
      .partitionBy("seed").orderBy(col("k").desc)
    val winners = keyed
      .withColumn("rn", row_number().over(bySeed))
      .filter(col("rn") === 1)
    val heavyWins = winners.filter(col("id") === 1L).count()
    assert(heavyWins >= 96, s"heavy doc won only $heavyWins/120") // E[.]≈109
    // top-k nesting: the k=5 sample is a prefix of the k=10 sample
    val d = (0L until 500L).map(i => (i, 1.0 + (i % 7))).toDF("doc_id", "w")
    val s5 = TextAnalysis.weightedSample(d, "doc_id", "w", 5).select("doc_id")
    val s10 = TextAnalysis.weightedSample(d, "doc_id", "w", 10).select("doc_id")
    assert(s5.exceptAll(s10).isEmpty)
    // replay: identical; different seed → different selection
    assert(TextAnalysis.weightedSample(d, "doc_id", "w", 10).select("doc_id")
      .exceptAll(s10).isEmpty)
    assert(TextAnalysis.weightedSample(d, "doc_id", "w", 10, seed = 7)
      .select("doc_id").exceptAll(s10).count() > 0)
  }

  test("sequence packing: contiguous offsets, correct window assignment") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c"),            // 3 tokens, start 0,  seq 0
      (2L, "d e f g"),          // 4 tokens, start 3,  seq 0
      (3L, "h i j k l m n o"),  // 8 tokens, start 7,  seq 0
      (4L, "p q")               // 2 tokens, start 15, seq 1 (L=8)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(d, seqLen = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((3L, 0L, 0L)))
    assert(out(2L) == ((4L, 3L, 0L)))
    assert(out(3L) == ((8L, 7L, 0L)))
    assert(out(4L) == ((2L, 15L, 1L)))
    // global invariant at scale shape: offsets are a permutation-free
    // prefix sum — max(start+n) == total tokens, no overlaps
    val docs = Tables.documents(spark, sf)
    val packed = TextAnalysis.packSequences(docs, seqLen = 512)
    val rows = packed.orderBy("start_offset").collect()
    var expect = 0L
    rows.foreach { r =>
      assert(r.getLong(2) == expect, s"gap at ${r.getLong(0)}")
      expect = r.getLong(2) + r.getLong(1)
    }
    packed.unpersist()
  }

  test("language ID identifies constructed en/de/fr sentences") {
    // the testdata lang column is a random label over one shared
    // vocabulary (verified: de/zh/es rows contain English stopwords),
    // so the check uses real-language fixtures instead.
    import spark.implicits._
    val fixtures = Seq(
      ("the cat is in the garden and it is happy", "en"),
      ("der hund ist nicht mit der katze und das ist gut", "de"),
      ("le chat est dans le jardin et il est content pas une", "fr"),
      ("xyzzy plugh quux", "und")).toDF("text", "expected")
    val pred = fixtures.select(col("expected"),
      TextAnalysis.languageId(col("text")).as("p")).collect()
    pred.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
    // and it runs over the documents table without error
    assert(docs.select(TextAnalysis.languageId(col("text"))).count() == docs.count())
  }

  test("quality features are bounded and deterministic") {
    val q = TextAnalysis.qualityScore(docs)
    assert(q.filter(col("quality") < 0 || col("quality") > 1).isEmpty)
    assert(q.filter(col("punct_ratio") < 0 || col("punct_ratio") > 1).isEmpty)
    assert(q.filter(col("repetition") < 0 || col("repetition") > 1).isEmpty)
  }

  test("multimodal: real PNG payloads decode to real pixel stats") {
    import spark.implicits._
    // 2×1 PNG: black pixel then white pixel → known luma statistics
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000)
    img.setRGB(1, 0, 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val media = Seq(
      (1L, "image", png),
      (2L, "audio", png),
      (3L, "image", "not an image".getBytes("UTF-8"))
    ).toDF("media_id", "modality", "payload")
    val out = Multimodal.decodeFeatures(spark, media, featDim = 6).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(3), "PNG payload should really decode")
    val f = out(1L).getSeq[Float](4)
    assert(f(0) == 2f && f(1) == 1f, s"dims: ${f.mkString(",")}")
    assert(math.abs(f(2) - 0.5f) < 1e-6, s"mean luma: ${f(2)}")
    assert(math.abs(f(3) - 0.5f) < 1e-6, s"std luma: ${f(3)}")
    // two vertical strips: black strip 0.0, white strip 1.0
    assert(math.abs(f(4)) < 1e-6 && math.abs(f(5) - 1.0f) < 1e-6)
    // PNG bytes are not audio, and non-decodable "images" fall back too
    assert(!out(2L).getBoolean(3) && !out(3L).getBoolean(3))
  }

  test("multimodal: real WAV payloads decode to real waveform stats") {
    import spark.implicits._
    import javax.sound.sampled._
    // 16-bit mono square wave at half amplitude alternating every
    // sample: RMS = 0.5 exactly, zero-crossing rate = 1.0 exactly.
    val n = 800
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = if (i % 2 == 0) 16384 else -16384
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    val media = Seq(
      (1L, "audio", wav),
      (2L, "video", wav), // video stays stubbed even on parseable bytes
      (3L, "audio", "not audio".getBytes("UTF-8"))
    ).toDF("media_id", "modality", "payload")
    val out = Multimodal.decodeFeatures(spark, media, featDim = 6).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(3), "WAV payload should really decode")
    val f = out(1L).getSeq[Float](4)
    assert(f(0) == 8000f && f(1) == 1f, s"rate/ch: ${f.mkString(",")}")
    assert(math.abs(f(2) - 0.5f) < 1e-4, s"rms: ${f(2)}")
    assert(math.abs(f(3) - 1.0f) < 1e-4, s"zcr: ${f(3)}")
    // both temporal-half segments carry the same RMS energy
    assert(math.abs(f(4) - 0.5f) < 1e-4 && math.abs(f(5) - 0.5f) < 1e-4)
    assert(!out(2L).getBoolean(3) && !out(3L).getBoolean(3))
  }

  test("q154/q155 media audits: every contract boolean holds on sf docs") {
    val fs = SparkEntry.queries("q154_frame_sample")(spark, sf).collect()
    assert(fs.nonEmpty)
    assert(fs.forall(r => r.getBoolean(1) && r.getBoolean(2) &&
      r.getBoolean(3) && r.getBoolean(4)))
    val au = SparkEntry.queries("q155_audio_features")(spark, sf).collect()
    assert(au.nonEmpty)
    assert(au.forall(r => r.getBoolean(1) && r.getBoolean(2) &&
      r.getBoolean(3) && r.getBoolean(4)))
  }

  test("ngramRepetition: planted repeats give exact fractions, short docs zero") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b a b"),      // bigrams: ab,ba,ab,ba,ab → top 3/5, dup 5/5
      (2L, "x y z w"),          // all distinct → top 1/3, dup 0
      (3L, "solo")              // < n tokens → zero everything
    ).toDF("doc_id", "text")
    val r = TextAnalysis.ngramRepetition(d, n = 2).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Double]("top_ngram_frac") == 0.6)
    assert(r(1L).getAs[Double]("dup_ngram_frac") == 1.0)
    assert(r(2L).getAs[Long]("top_ngram_n") == 1 &&
      r(2L).getAs[Long]("dup_ngram_n") == 0)
    assert(r(3L).getAs[Int]("n_ngrams") == 0 &&
      r(3L).getAs[Double]("top_ngram_frac") == 0.0)
  }

  test("shuffleShards: permutation positions, balanced shards, topology-invariant") {
    val n = docs.count()
    val s1 = TextAnalysis.shuffleShards(docs, nShards = 8).cache()
    // pos is exactly 0..n-1
    assert(s1.count() == n)
    assert(s1.agg(min("pos"), max("pos")).collect()(0).toSeq == Seq(0L, n - 1))
    assert(s1.select("pos").distinct().count() == n)
    // round-robin deal → shard sizes differ by at most one
    val sizes = s1.groupBy("shard").count().select("count")
      .collect().map(_.getLong(0))
    assert(sizes.length == 8 && sizes.max - sizes.min <= 1)
    // the assignment is a pure function of ids — any input partitioning
    // (and any shuffle-partition count) produces identical rows
    val s2 = TextAnalysis.shuffleShards(docs.repartition(13), nShards = 8)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    // and it matches the single-partition window formulation (the
    // partitionBy(lit(0)) constant keeps the global total order while
    // defining a partition — fixture-only, so the WindowExec warning
    // log stays clean of test noise; see the SparkSpec note)
    val naive = docs.select(col("doc_id"),
        md5(concat(lit("42:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
          .orderBy("h", "doc_id")) - 1)
      .select(col("doc_id"), col("pos"), (col("pos") % 8).as("shard"))
    assert(s1.exceptAll(naive).isEmpty && naive.exceptAll(s1).isEmpty)
    s1.unpersist()
  }

  test("tfidfTopK: hand-computed ranks, rare beats common at equal tf") {
    import spark.implicits._
    val d = Seq(
      (1L, "rare common deux"),
      (2L, "common deux"),
      (3L, "common other"),
      (4L, "common common")
    ).toDF("doc_id", "text")
    // N=4. df: common=4, deux=2, rare=1, other=1.
    // idf(+1 smooth): rare ln(5/2)+1=1.9163 > deux ln(5/3)+1=1.5108 >
    //                 common ln(5/5)+1=1.0
    val r = TextAnalysis.tfidfTopK(d, k = 2).collect()
      .map(x => (x.getLong(0), x.getInt(4)) -> (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    // doc 1: rare (1·1.92) beats deux (1·1.51) beats common (1·1.0)
    assert(r((1L, 1)) == ("rare", 1L, 1L) && r((1L, 2)) == ("deux", 1L, 2L))
    // doc 4: tf=2 common only term; k cap → single row
    assert(r((4L, 1)) == ("common", 2L, 4L) && !r.contains((4L, 2)))
    // doc 3: other (df=1) outranks common
    assert(r((3L, 1))._1 == "other" && r((3L, 2))._1 == "common")
    // every doc emits at most k rows, ranks are 1-based dense
    assert(r.keys.groupBy(_._1).values.forall(ks =>
      ks.map(_._2).toSeq.sorted == (1 to ks.size)))
  }

  test("charEntropy: closed forms; narrow no-shuffle plan") {
    import spark.implicits._
    val d = Seq(
      (1L, "aabb"), (2L, "abcd"), (3L, "aaaa"), (4L, "aab")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(d)
    val r = out.collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getInt(1) == 2 && r(1L).getDouble(2) == 1.0)
    assert(r(2L).getInt(1) == 4 && r(2L).getDouble(2) == 2.0)
    assert(r(3L).getInt(1) == 1 && r(3L).getDouble(2) == 0.0)
    // H("aab") = -(2/3·log2(2/3) + 1/3·log2(1/3)) = 0.918296 (6dp)
    assert(r(4L).getDouble(2) == 0.918296)
    // pure narrow map: the plan must contain no shuffle at all
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"charEntropy plan shuffles:\n$plan")
  }

  test("lexicalStats: hand-computed per-source table") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a", "s1"), (2L, "b c", "s1"), (3L, "x x x x", "s2")
    ).toDF("doc_id", "text", "source")
    val r = TextAnalysis.lexicalStats(d).collect()
      .map(x => x.getString(0) -> x).toMap
    // s1: 5 tokens, vocab {a,b,c}, hapax {c}, ttr 3/5
    assert(r("s1").getAs[Long]("n_docs") == 2 &&
      r("s1").getAs[Long]("n_tokens") == 5 &&
      r("s1").getAs[Long]("vocab") == 3 &&
      r("s1").getAs[Long]("hapax") == 1 &&
      r("s1").getAs[Double]("ttr") == 0.6)
    // s2: one doc, one term repeated 4× → vocab 1, hapax 0, ttr 0.25
    assert(r("s2").getAs[Long]("n_docs") == 1 &&
      r("s2").getAs[Long]("n_tokens") == 4 &&
      r("s2").getAs[Long]("vocab") == 1 &&
      r("s2").getAs[Long]("hapax") == 0 &&
      r("s2").getAs[Double]("ttr") == 0.25)
  }

  test("multimodal: real Y4M payloads decode to real per-frame luma stats") {
    import spark.implicits._
    // 2×2 C420 clip, 3 frames with constant luma 0, 51, 255:
    // known dims/fps/frame-count and exact per-frame means 0, 0.2, 1.
    val header = "YUV4MPEG2 W2 H2 F30:1 Ip A1:1 C420\n".getBytes("US-ASCII")
    val lumas = Seq(0, 51, 255)
    val frames = lumas.flatMap { l =>
      "FRAME\n".getBytes("US-ASCII") ++ Array.fill(4)(l.toByte) ++
        Array.fill(2)(128.toByte)
    }
    val y4m = header ++ frames
    val media = Seq(
      (1L, "video", y4m),
      (2L, "video", "not video".getBytes("UTF-8"))
    ).toDF("media_id", "modality", "payload")
    val out = Multimodal.decodeFeatures(spark, media, featDim = 7).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(3), "y4m payload should really decode")
    val f = out(1L).getSeq[Float](4)
    assert(f(0) == 2f && f(1) == 2f, s"dims: ${f.mkString(",")}")
    assert(f(2) == 3f && f(3) == 30f, s"frames/fps: ${f.mkString(",")}")
    assert(math.abs(f(4)) < 1e-6 && math.abs(f(5) - 0.2f) < 1e-3 &&
      math.abs(f(6) - 1.0f) < 1e-6, s"frame lumas: ${f.mkString(",")}")
    assert(!out(2L).getBoolean(3))
    // decoding frame-sample: every frame at step 1 (33ms cadence @30fps)
    val fs = Multimodal.frameSampleDecoded(spark, media, everyMs = 33)
      .orderBy("frame_idx").collect()
    assert(fs.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(math.abs(fs(1).getFloat(3) - 0.2f) < 1e-3)
  }

  test("multimodal: syntheticEncodedMedia rows ALL really decode") {
    val media = Multimodal.syntheticEncodedMedia(docs).cache()
    val feats = Multimodal.decodeFeatures(spark, media, featDim = 8).cache()
    assert(feats.count() == docs.count())
    assert(feats.filter(!col("decoded")).isEmpty,
      "every synthetic payload must take the real codec path")
    // decoded dims must agree with the metadata the generator recorded
    val img = feats.filter(col("modality") === "image")
      .select(col("media_id"), element_at(col("features"), 1).as("w"),
        element_at(col("features"), 2).as("h"))
      .join(media.select(col("media_id"), col("meta_width"), col("meta_height")),
        "media_id")
    assert(img.filter(col("w") =!= col("meta_width") ||
      col("h") =!= col("meta_height")).isEmpty)
    media.unpersist(); feats.unpersist()
  }

  test("multimodal resize: exact dims, uniform image preserved exactly, pass-through") {
    // a hand-built 6x4 uniform gray PNG: every pooled cell must equal
    // the source value, so the resized mean is EXACT (no imbalance)
    val img = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, 0x808080)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val out = Multimodal.resizeEncode(baos.toByteArray, 4, 4).get
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(back.getWidth == 4 && back.getHeight == 4)
    for (y <- 0 until 4; x <- 0 until 4)
      assert((back.getRGB(x, y) & 0xffffff) == 0x808080)
    // non-decodable bytes -> None; DataFrame form passes non-images through
    assert(Multimodal.resizeEncode("junk".getBytes, 4, 4).isEmpty)
    val media = Multimodal.syntheticEncodedMedia(docs)
    val rs = Multimodal.resizeImages(spark, media, 4, 4).cache()
    assert(rs.count() == media.count())
    assert(rs.filter(col("modality") === "image" && !col("resized")).isEmpty)
    assert(rs.filter(col("modality") =!= "image" && col("resized")).isEmpty)
    rs.unpersist()
  }

  test("multimodal resize upscale: nearest-neighbor fills every cell") {
    // 2x2 checker upscaled to 5x3: area pooling would leave empty
    // (black) cells; the nearest-neighbor path must reproduce only the
    // four source colors with no zero cell
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00)
    img.setRGB(0, 1, 0x0000ff); img.setRGB(1, 1, 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val out = Multimodal.resizeEncode(baos.toByteArray, 5, 3).get
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(back.getWidth == 5 && back.getHeight == 3)
    val allowed = Set(0xff0000, 0x00ff00, 0x0000ff, 0xffffff)
    for (y <- 0 until 3; x <- 0 until 5)
      assert(allowed.contains(back.getRGB(x, y) & 0xffffff))
    // corners sample their own quadrant
    assert((back.getRGB(0, 0) & 0xffffff) == 0xff0000)
    assert((back.getRGB(4, 2) & 0xffffff) == 0xffffff)
  }

  test("contrastiveMining: single-label corpus keeps anchors, null negatives") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.9f, 0.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.contrastiveMining(vecs, dim = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L)) // no anchor silently dropped
    val a = got(1L)
    assert(a.isNullAt(1) && a.isNullAt(2) && a.isNullAt(5)) // no cross-label peer
    assert(a.getLong(3) == 2L)                              // hard pos still mined
  }

  test("multimodal decode: schema, determinism, batch plumbing") {
    val media = Multimodal.syntheticMedia(docs)
    val f1 = Multimodal.decodeFeatures(spark, media, featDim = 16, batchSize = 32)
    assert(f1.schema.fieldNames.toSeq ==
      Seq("media_id", "modality", "n_bytes", "decoded", "features"))
    assert(f1.count() == docs.count())
    assert(f1.filter(size(col("features")) =!= 16).isEmpty)
    // batch size must not affect results
    val f2 = Multimodal.decodeFeatures(spark, media, featDim = 16, batchSize = 7)
    assert(f1.exceptAll(f2).isEmpty)
    // frame sampling only for video rows
    val frames = Multimodal.frameSample(media)
    assert(frames.count() > 0)
    assert(frames.join(media.filter(col("modality") =!= "video")
      .select("media_id"), "media_id", "left_semi").isEmpty)
  }

  test("streaming hourly agg equals the batch aggregate") {
    val batch = EventsStream.batch(spark, sf).cache()
    val streamed = EventsStream.runToMemory(spark, sf)
    assert(batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    batch.unpersist()
  }

  test("hopping window: stream equals batch; every event in exactly 2 windows") {
    val batch = EventsStream.hourlyHopping(Tables.events(spark, sf)).cache()
    // each event contributes to exactly window/slide = 2 windows
    val nEvents = Tables.events(spark, sf).count()
    val contributions = batch.agg(sum("n")).collect()(0).getLong(0)
    assert(contributions == 2 * nEvents)
    // stream twin over the same directory
    val q = EventsStream.hourlyHopping(
      spark.readStream.schema(EventsStream.rawSchema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events*.parquet").parquet(sf))
      .writeStream.format("memory").queryName("hopping_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hopping_test")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    batch.unpersist()
  }

  test("stream-static enrichment: stream equals batch, stateless per micro-batch") {
    val ev = Tables.events(spark, sf)
    val cohorts = EventsStream.userCohorts(ev).cache()
    val batch = EventsStream.enrich(
      ev.filter(col("event_type") === "purchase"), cohorts).cache()
    // every purchase gets a cohort (each user's first event precedes or
    // is the purchase) and a non-negative integer age
    assert(batch.filter(col("cohort_week").isNull || col("weeks_since") < 0).isEmpty)
    val q = EventsStream.enrich(
      spark.readStream.schema(EventsStream.rawSchema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events*.parquet").parquet(sf)
        .where(col("event_type") === "purchase"), cohorts)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("enrich_test")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    batch.unpersist(); cohorts.unpersist()
  }

  test("sessions: exact-gap boundary merges (inclusive end); gap+1µs splits") {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    val t0 = 1700000000000000L // µs
    val d = Seq(
      // user 1: three events 10 min apart -> one session of 3
      (1L, t0, 1.0), (1L, t0 + gapUs / 3, 1.0), (1L, t0 + 2 * gapUs / 3, 1.0),
      // user 2: second event exactly `gap` later -> still ONE session
      // (Spark session windows are [ts, ts+gap] inclusive-end)
      (2L, t0, 1.0), (2L, t0 + gapUs, 1.0),
      // user 3: 1 µs beyond the gap -> two sessions
      (3L, t0, 1.0), (3L, t0 + gapUs + 1, 1.0)
    ).toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"),
        lit(0L).as("event_id"), lit("x").as("event_type"), lit("{}").as("props"))
    val out = EventsStream.sessions(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      (1L, t0, 3L),
      (2L, t0, 2L),
      (3L, t0, 1L), (3L, t0 + gapUs + 1, 1L)))
  }

  test("stateful transitions stream equals the batch lag, across batches") {
    import spark.implicits._
    val tmp = tempDir("trans_stream").toString
    // raw read keeps ts in its on-disk form (TIMESTAMP_NTZ) so the
    // re-written halves match the stream's rawSchema exactly; the
    // helper column ts_us gives a numeric handle for the split
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val rawCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val batchExpected = EventsStream.transitions(Tables.events(spark, sf)).cache()
    assert(batchExpected.count() > 0)
    // split into two files BY TIME so the stream sees multiple
    // micro-batches whose arrival skew stays within the 2h watermark
    // (the contract: parity holds for data at most watermark-late;
    // within each file rows are ordered by event_id, not ts, so the
    // event-time sorter is still exercised)
    val medianUs = raw.stat.approxQuantile("ts_us", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts_us") <= medianUs).select(rawCols.map(col): _*).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val stream = EventsStream.transitionsStream(
      spark.readStream.schema(EventsStream.rawSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in"))
    val q = stream.writeStream.format("memory").queryName("trans_test")
      .outputMode("append").start()
    q.processAllAvailable()
    // second half arrives later (event-time out of order vs file order)
    raw.filter(col("ts_us") > medianUs).select(rawCols.map(col): _*).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    // sentinel far-future event for an unseen user pushes the watermark
    // past every real event so all buffered state flushes
    val maxUs = raw.agg(max(col("ts_us"))).collect()(0).getLong(0)
    Seq((-1L, maxUs + 30L * 24 * 3600 * 1000000L, -1L, "x", 0.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trans_test")
      .filter(col("user_id") =!= -1L)
    assert(streamed.exceptAll(batchExpected).isEmpty &&
      batchExpected.exceptAll(streamed).isEmpty)
    batchExpected.unpersist()
  }

  test("throttleOnIngest equals the batch debounce across micro-batches") {
    import spark.implicits._
    import graft.queries.Temporal
    val tmp = tempDir("graft_thr").toString
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val rawCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val batchExpected = Temporal.debounce(Tables.events(spark, sf),
      gapUs = 600000000L).cache()
    assert(batchExpected.count() > 0)
    // two time-split files → multiple micro-batches within the
    // watermark; rows inside each file arrive in event_id order, so
    // the event-time sorter and the cross-flush stitch are exercised
    val medianUs = raw.stat.approxQuantile("ts_us", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts_us") <= medianUs).select(rawCols.map(col): _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    val stream = EventsStream.throttleOnIngest(
      spark.readStream.schema(EventsStream.rawSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in"))
    val q = stream.writeStream.format("memory").queryName("thr_test")
      .outputMode("append").start()
    q.processAllAvailable()
    raw.filter(col("ts_us") > medianUs).select(rawCols.map(col): _*)
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    // sentinel far-future event flushes all buffered state
    val maxUs = raw.agg(max(col("ts_us"))).collect()(0).getLong(0)
    Seq((-1L, maxUs + 30L * 24 * 3600 * 1000000L, -1L, "x", 0.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("thr_test").filter(col("user_id") =!= -1L)
    assert(streamed.exceptAll(batchExpected).isEmpty &&
      batchExpected.exceptAll(streamed).isEmpty)
    batchExpected.unpersist()
  }

  test("stream-stream interval join equals batch and the banded range join") {
    import graft.queries.Temporal
    val ev = Tables.events(spark, sf)
    // the one transform, run as a plain batch plan
    val batch = EventsStream.errorPurchaseJoin(
      spark.read.parquet(s"$sf/events.parquet")).cache()
    assert(batch.count() > 0)
    // it must agree with the banded batch operator on the pair set
    val banded = Temporal.rangeJoinBanded(
        ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("ts")),
        "ts", "ts", 0L, 600000000L)
      .select("err_id", "r_p_id")
    val bp = batch.select(col("err_id"), col("p_id"))
    assert(bp.exceptAll(banded.toDF("err_id", "p_id")).isEmpty &&
      banded.toDF("err_id", "p_id").exceptAll(bp).isEmpty)
    // streamed in two time-split micro-batches: matches that straddle
    // the file boundary exercise the buffered join state
    val tmp = tempDir("sj_stream").toString
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val rawCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val medianUs = raw.stat.approxQuantile("ts_us", Array(0.5), 0.0)(0).toLong
    raw.filter(col("ts_us") <= medianUs).select(rawCols.map(col): _*).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val stream = EventsStream.errorPurchaseJoin(
      spark.readStream.schema(EventsStream.rawSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in"))
    val q = stream.writeStream.format("memory").queryName("sj_test")
      .outputMode("append").start()
    q.processAllAvailable()
    raw.filter(col("ts_us") > medianUs).select(rawCols.map(col): _*).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sj_test")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
    batch.unpersist()
  }

  test("streaming dedup-on-ingest keeps the first copy, drops in-window dups") {
    import spark.implicits._
    import graft.streaming.DocsStream
    // Three micro-batches (one file each, ingest-time ordered): doc 2
    // duplicates doc 0's text one batch later (inside the watermark),
    // doc 3 is fresh. Batch twin: Dedup.exact keep_id = min doc_id.
    val dir = tempDir("docs_stream").toString
    def ts(min: Int) = new java.sql.Timestamp(3600000L * 24 + min * 60000L)
    val batches = Seq(
      Seq((0L, "alpha beta gamma delta", ts(0)), (1L, "unrelated text one", ts(1))),
      Seq((2L, "alpha beta gamma delta", ts(5)), (3L, "fresh content here", ts(6))),
      Seq((4L, "unrelated text one", ts(9))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "ingest_ts").coalesce(1)
        .write.parquet(s"$dir/b$i.parquet")
    }
    val q = DocsStream.dedupOnIngest(
      spark.readStream.schema(DocsStream.rawSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/*.parquet"))
      .writeStream.format("memory").queryName("docs_dedup")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("docs_dedup").select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 3L),
      s"expected first copies {0,1,3}, got $kept")
    // agreement with the batch operator's keep decision
    val all = batches.flatten.toDF("doc_id", "text", "ingest_ts")
    val batchKeep = graft.pipeline.Dedup.exact(all)
      .select("keep_id").as[Long].collect().toSet
    assert(kept == batchKeep)
  }

  test("classifier scoring on ingest: frozen scorer, stream ≡ batch ≡ featurize+score") {
    import spark.implicits._
    import graft.streaming.DocsStream
    import graft.pipeline.QualityClassifier
    // fit on the corpus rule gate (the q178 setup), freeze the scorer
    val scorer = QualityClassifier.fit(docs, col("keep"))
    assert(scorer.losses.last < scorer.losses.head)
    // frozen-scorer route ≡ the batch featurize+score route, per doc
    val viaText = QualityClassifier.scoreText(docs, scorer)
      .select("doc_id", "score")
    val viaFeat = QualityClassifier.score(
      QualityClassifier.featurize(docs, col("keep")), scorer.weights)
      .select("doc_id", "score")
    val diff = viaText.join(viaFeat.withColumnRenamed("score", "s2"), "doc_id")
      .filter(abs(col("score") - col("s2")) > 1e-12)
    assert(diff.isEmpty, s"routes diverge on ${diff.count()} docs")
    // streaming: the SAME transform over a file stream scores identically
    val dir = tempDir("docs_clf").toString
    def ts(min: Int) = new java.sql.Timestamp(3600000L * 24 + min * 60000L)
    val fixture = docs.limit(60).select(col("doc_id"), col("text"),
      lit(ts(0)).as("ingest_ts"))
    fixture.coalesce(1).write.parquet(s"$dir/b0.parquet")
    val q = DocsStream.classifierScoreOnIngest(
      spark.readStream.schema(DocsStream.rawSchema).parquet(s"$dir/*.parquet"),
      scorer)
      .select("doc_id", "score")
      .writeStream.format("memory").queryName("docs_clf")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamScores = spark.table("docs_clf").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batchScores = QualityClassifier.scoreText(fixture, scorer)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamScores == batchScores, "stream and batch scores diverge")
    assert(streamScores.size == 60)
  }

  test("decontaminateOnIngest: row-local removal ≡ batch decontaminateSpans; stream run") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val evalSet = docs.filter(col("doc_id") % 11 === 5).select("text")
    val train = docs.limit(120).select("doc_id", "text")
    val viaStreamOp = DocsStream.decontaminateOnIngest(train, evalSet, L = 8)
      .select("doc_id", "n_tokens", "n_removed", "cleaned")
    val viaBatch = Dedup.decontaminateSpans(train, evalSet, L = 8)
    assert(viaStreamOp.exceptAll(viaBatch).isEmpty &&
      viaBatch.exceptAll(viaStreamOp).isEmpty,
      "row-local and gram-join routes diverge")
    // and it runs as an actual file stream
    val dir = tempDir("docs_despan").toString
    def ts(min: Int) = new java.sql.Timestamp(3600000L * 24 + min * 60000L)
    train.limit(30).select(col("doc_id"), col("text"), lit(ts(0)).as("ingest_ts"))
      .coalesce(1).write.parquet(s"$dir/b0.parquet")
    val q = DocsStream.decontaminateOnIngest(
      spark.readStream.schema(DocsStream.rawSchema).parquet(s"$dir/*.parquet"),
      evalSet)
      .select("doc_id", "n_removed")
      .writeStream.format("memory").queryName("docs_despan")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("docs_despan").count() == 30)
  }

  test("streaming decontamination-on-ingest equals the batch join route") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val dir = tempDir("docs_contam").toString
    def ts(min: Int) = new java.sql.Timestamp(3600000L * 24 + min * 60000L)
    val rows = Seq(
      (1L, "we say quick brown fox jumps over and more", ts(0)),
      (2L, "completely clean text with no overlap at all", ts(1)),
      (3L, "too short", ts(2)))
    rows.toDF("doc_id", "text", "ingest_ts").coalesce(1)
      .write.parquet(s"$dir/b0.parquet")
    val q = DocsStream.contaminationOnIngest(
      spark.readStream.schema(DocsStream.rawSchema).parquet(s"$dir/*.parquet"),
      evalSet)
      .writeStream.format("memory").queryName("docs_contam")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("docs_contam")
      .select("doc_id", "n_shingles", "n_contaminated").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed(1L) == ((7L, 3L)))
    assert(streamed(2L) == ((6L, 0L)))
    assert(streamed(3L) == ((0L, 0L)), "short doc: zero shingles, kept in stream")
    // batch join-route agreement on every doc that HAS shingles
    val batch = Dedup.contamination(rows.toDF("doc_id", "text", "ingest_ts"),
      evalSet, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    batch.foreach { case (id, v) => assert(streamed(id) == v, s"doc $id") }
  }

  test("streaming passage filter agrees with batch dedupPassages keep set") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val dir = tempDir("docs_pass").toString
    def ts(min: Int) = new java.sql.Timestamp(3600000L * 24 + min * 60000L)
    // window=2 passages: doc1 [a b][c d], doc2 [a b][x y] (arrives
    // later, loses "a b"), doc3 [a b][c d] (loses everything)
    val batches = Seq(
      Seq((1L, "a b c d", ts(0))),
      Seq((2L, "a b x y", ts(5))),
      Seq((3L, "a b c d", ts(9))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "ingest_ts").coalesce(1)
        .write.parquet(s"$dir/b$i.parquet")
    }
    val q = DocsStream.passageFilterOnIngest(
      spark.readStream.schema(DocsStream.rawSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/*.parquet"),
      window = 2)
      .writeStream.format("memory").queryName("docs_pass")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("docs_pass")
      .select("doc_id", "pidx", "passage").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(kept == Map((1L, 0) -> "a b", (1L, 1) -> "c d", (2L, 1) -> "x y"))
    // batch twin: reassembled survivors imply the same per-passage keeps
    val batch = graft.pipeline.Dedup.dedupPassages(
      batches.flatten.toDF("doc_id", "text", "ingest_ts"), window = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batch(1L) == "a b c d" && batch(2L) == "x y" && batch(3L) == "")
  }

  test("streaming quality gate equals batch scrub+keep+langid, row for row") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val dir = tempDir("docs_gate").toString
    def ts(min: Int) = new java.sql.Timestamp(3600000L * 24 + min * 60000L)
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today", ts(0)),
      (2L, "mail me at bob@example.com or call +14155550123 maybe", ts(1)),
      (3L, "spam spam spam spam spam spam spam spam", ts(2)),
      (4L, "el rapido zorro marron salta sobre el perro perezoso", ts(3)),
      (5L, "tiny", ts(4)))
    rows.toDF("doc_id", "text", "ingest_ts").coalesce(1)
      .write.parquet(s"$dir/b0.parquet")
    val q = DocsStream.qualityGateOnIngest(
      spark.readStream.schema(DocsStream.rawSchema)
        .parquet(s"$dir/*.parquet"))
      .writeStream.format("memory").queryName("docs_gate")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("docs_gate")
    // spot checks: PII scrubbed in-stream, short/repetitive dropped
    val byId = streamed.collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(2L).getAs[String]("text").contains("<EMAIL>") &&
      byId(2L).getAs[String]("text").contains("<PHONE>"))
    assert(byId(1L).getAs[Boolean]("keep"))
    assert(!byId(3L).getAs[Boolean]("keep"), "degenerate repetition dropped")
    assert(!byId(5L).getAs[Boolean]("keep"), "sub-5-word doc dropped")
    assert(byId(1L).getAs[String]("lang_pred") == "en")
    // full-row agreement with the batch composition on the same frame
    val batch = DocsStream.qualityGateOnIngest(
      rows.toDF("doc_id", "text", "ingest_ts"))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming split routing equals the batch split assignment, row for row") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val dir = tempDir("docs_split").toString
    def ts(min: Int) = new java.sql.Timestamp(3600000L * 24 + min * 60000L)
    val rows = (1L to 200L).map(i => (i, s"doc number $i", ts(i.toInt % 60)))
    rows.toDF("doc_id", "text", "ingest_ts").coalesce(2)
      .write.parquet(s"$dir/b0.parquet")
    val q = DocsStream.splitOnIngest(
      spark.readStream.schema(DocsStream.rawSchema)
        .parquet(s"$dir/*.parquet"))
      .writeStream.format("memory").queryName("docs_split")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("docs_split").select("doc_id", "split")
    val batch = graft.pipeline.TextAnalysis.splitAssign(
      rows.toDF("doc_id", "text", "ingest_ts").select("doc_id"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // all three splits populated at n=200, and proportions are sane
    val counts = streamed.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 120 && counts("train") < 190)
  }

  test("streaming sessionization equals the batch session_window") {
    val batch = EventsStream.sessions(Tables.events(spark, sf)).cache()
    assert(batch.count() > 0)
    // multi-event sessions exist in the testdata, so the merge logic is
    // actually exercised
    assert(batch.filter(col("sess_events") > 1).count() > 0)
    val q = EventsStream.sessions(
      spark.readStream.schema(EventsStream.rawSchema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events*.parquet").parquet(sf))
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions_test")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    batch.unpersist()
  }

  test("streaming trending terms equals the batch windowed count") {
    import spark.implicits._
    import graft.streaming.DocsStream
    val dir = tempDir("trend_stream").toString
    def ts(hour: Int, min: Int) =
      new java.sql.Timestamp((hour * 3600L + min * 60L) * 1000L + 86400000L)
    // hour 0: "spam" surges (4x across two docs), "rare" stays hapax;
    // hour 1: "spam" cools to minCount-1, "new" reaches it. Doc 3
    // arrives in a later FILE but belongs to hour 0 — inside the
    // watermark, so its counts must land in the hour-0 window.
    val batches = Seq(
      Seq((0L, "spam spam alpha", ts(0, 5)), (1L, "beta rare", ts(0, 20))),
      Seq((2L, "new spam", ts(1, 10)), (3L, "spam spam gamma", ts(0, 40))),
      Seq((4L, "new gamma gamma", ts(1, 30))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "ingest_ts").coalesce(1)
        .write.parquet(s"$dir/b$i.parquet")
    }
    val q = DocsStream.trendingTerms(
      spark.readStream.schema(DocsStream.rawSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/*.parquet"))
      .writeStream.format("memory").queryName("trend_test")
      .outputMode("append").start()
    q.processAllAvailable()
    // sentinel far beyond the watermark closes both real windows
    Seq((99L, "sentinel", ts(50, 0))).toDF("doc_id", "text", "ingest_ts")
      .coalesce(1).write.mode("append").parquet(s"$dir/b9.parquet")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trend_test")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === Set(
      (ts(0, 0), "spam", 4L), (ts(1, 0), "new", 2L), (ts(1, 0), "gamma", 2L)))
    // the same transform over the same rows as a BATCH frame agrees
    // (modulo the sentinel, whose window never closes in the stream)
    val batch = DocsStream.trendingTerms(
      (batches.flatten :+ ((99L, "sentinel", ts(50, 0))))
        .toDF("doc_id", "text", "ingest_ts"))
      .filter(col("term") =!= "sentinel")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("bqTopK: sign-clone at Hamming 0 always shortlists; full shortlist ≡ brute") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // bit packing: signs land in the right bit of the right byte
    val bits = Similarity.bqBits(
      Array(1f, -1f, 0f, 2f, -3f, 1f, 1f, 1f, /*byte 1:*/ -1f, 1f))
    assert((bits(0) & 0xff) == 0xE9, f"byte0=${bits(0) & 0xff}%02x") // 1,0,0,1,0,1,1,1
    assert((bits(1) & 0xff) == 0x02) // 0,1
    // planted geometry (dim 8): id 20 is a SCALED copy of query 0's
    // vector (identical sign pattern, Hamming 0) — it must survive any
    // shortlist ≥ 1 even among closer-by-cosine distractors
    val rnd = new scala.util.Random(11)
    val qv = Array(0.9f, -0.8f, 0.7f, -0.6f, 0.5f, -0.4f, 0.3f, -0.2f)
    val clone = qv.map(_ * 0.1f)
    val vecs = ((0L, qv) +: (1L until 15L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))) :+ (20L, clone))
      .toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") === 0)
    val tight = Similarity.bqTopK(spark, qs, vecs, k = 2, shortlist = 2)
      .select("rid").as[Long].collect().toSet
    assert(tight.contains(20L),
      s"the Hamming-0 sign clone must shortlist first, got $tight")
    // shortlist = corpus: stage 2 re-ranks everything exactly — must
    // equal the brute kernel row for row (the sqTopK degeneracy)
    val q5 = vecs.filter(col("vec_id") < 5)
    val bq = Similarity.bqTopK(spark, q5, vecs, k = 3, shortlist = 15)
    val brute = Similarity.bruteForceTopK(q5, vecs, k = 3, dim = 8)
    assert(bq.exceptAll(brute).isEmpty && brute.exceptAll(bq).isEmpty)
    // codes are dim/8 bytes (the 32x contract)
    val codes = Similarity.bqEncode(spark, vecs, vecCol = "embedding")
    assert(codes.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(codes.select("codes").collect()
      .forall(_.getAs[Array[Byte]](0).length == 1))
  }

  test("ivfBqTopK: full probe ≡ flat bqTopK; pruned probe parity mem vs disk layout") {
    import graft.pipeline.Similarity
    import graft.streaming.IvfStream
    val e = Tables.embeddings(spark, sf).cache()
    val qs = e.filter(col("vec_id") < 20)
    // nProbe = nLists covers every list → the Hamming shortlist sees
    // the whole corpus, so the composition must equal the flat BQ rung
    // row for row (the ivfSq ≡ sq degeneracy, 1-bit edition)
    val viaIvf = Similarity.ivfBqTopK(spark, qs, e, k = 5, nLists = 8,
      nProbe = 8, shortlist = 20)
    val viaFlat = Similarity.bqTopK(spark, qs, e, k = 5, shortlist = 20)
    assert(viaIvf.exceptAll(viaFlat).isEmpty &&
      viaFlat.exceptAll(viaIvf).isEmpty,
      "full-probe IVF-BQ diverges from the flat BQ rung")
    // list-partitioned disk layout (written through the trio) probes
    // identically to the in-memory build (the pruning layout contract)
    val tmp = tempDir("graft_ivfbq").toString
    val written = Similarity.ivfBqWriteIndex(spark, e, s"$tmp/idx",
      nLists = 8)
    val (centers, onDisk) = Similarity.ivfBqReadIndex(spark, s"$tmp/idx")
    assert(centers.zip(written).forall(p => p._1.sameElements(p._2)),
      "read-back centers diverge from the written ones")
    val (_, index) = Similarity.ivfBqBuildIndex(spark, e, nLists = 8)
    val got = Similarity.ivfBqTopKFromIndex(spark, qs, onDisk, centers,
      e, k = 5, shortlist = 20, nProbe = 4)
    val want = Similarity.ivfBqTopKFromIndex(spark, qs, index, centers,
      e, k = 5, shortlist = 20, nProbe = 4)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // ASYMMETRIC composition (r12): full probe coverage must equal
    // the flat asymmetric rung row for row — the same degeneracy pin
    // the symmetric route carries above
    val aIvf = Similarity.ivfBqTopK(spark, qs, e, k = 5, nLists = 8,
      nProbe = 8, shortlist = 20, asymmetric = true)
    val aFlat = Similarity.bqTopK(spark, qs, e, k = 5, shortlist = 20,
      asymmetric = true)
    assert(aIvf.exceptAll(aFlat).isEmpty && aFlat.exceptAll(aIvf).isEmpty,
      "full-probe asymmetric IVF-BQ diverges from the flat asymmetric rung")
    e.unpersist()
  }

  test("rrfFuse: closed-form scores on a hand fixture; one-sided docs fused correctly") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // doc 1 ranks 1st in both lists; doc 2 lexical-only; doc 3
    // vector-only; doc 4 mid in both
    val lex = Seq((1L, 1), (2L, 2), (4L, 3)).toDF("doc_id", "rank_a")
    val vec = Seq((1L, 1), (4L, 2), (3L, 3)).toDF("doc_id", "rank_b")
    val fused = Similarity.rrfFuse(lex, vec, kRrf = 60)
      .orderBy("fused_rank").collect()
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val want = Map(
      1L -> r6(1.0 / 61 + 1.0 / 61),
      4L -> r6(1.0 / 63 + 1.0 / 62),
      2L -> r6(1.0 / 62),
      3L -> r6(1.0 / 63))
    assert(fused.map(_.getLong(0)).toSeq == Seq(1L, 4L, 2L, 3L),
      "fused order: both-lists docs above one-sided, rank sums decide")
    fused.foreach { r =>
      assert(r.getDouble(3) == want(r.getLong(0)),
        s"doc ${r.getLong(0)}: ${r.getDouble(3)} vs ${want(r.getLong(0))}")
    }
    // one-sided rows carry a null for the missing rank
    assert(fused.find(_.getLong(0) == 2L).get.isNullAt(2))
    assert(fused.find(_.getLong(0) == 3L).get.isNullAt(1))
  }

  test("mmrRerank: skips the near-duplicate; lambda=1 degenerates to cosine order") {
    import spark.implicits._
    import graft.pipeline.Similarity
    // planted geometry (dim 4): candidates 10 and 11 are IDENTICAL
    // vectors (cos 1.0 to each other), both very close to the query;
    // candidate 12 is distinct but still relevant. Plain cosine order
    // is 10, 11, 12 — MMR at λ=0.5 must pick 10 then SKIP the clone 11
    // in favor of the diverse 12 (hand math: clone 0.5·0.98 − 0.5·1.0
    // = −0.010 vs 12's 0.5·0.8 − 0.5·0.784 = +0.008).
    val q = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val clone = Array(0.98f, 0.2f, 0.0f, 0.0f)
    val distinct12 = Array(0.8f, 0.0f, 0.6f, 0.0f)
    val far = Array(0.1f, 0.1f, 0.1f, 0.97f)
    val vecs = Seq((0L, q), (10L, clone), (11L, clone),
      (12L, distinct12), (13L, far)).toDF("vec_id", "embedding")
    val cands = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, k = 4, dim = 4)
      .select("qid", "rid", "cos")
    val mmr = Similarity.mmrRerank(spark, cands, vecs, k = 3,
      lambda = 0.5, dim = 4).orderBy("mmr_rank").collect()
    assert(mmr.map(_.getLong(1)).toSeq == Seq(10L, 12L, 11L),
      s"MMR must demote the clone: got ${mmr.map(_.getLong(1)).toSeq}")
    // λ=1: the diversity term vanishes — MMR ≡ the cosine order
    val plain = Similarity.mmrRerank(spark, cands, vecs, k = 4,
      lambda = 1.0, dim = 4).orderBy("mmr_rank").collect()
    val byCos = cands.orderBy(col("cos").desc, col("rid").asc)
      .collect().map(_.getLong(1)).toSeq
    assert(plain.map(_.getLong(1)).toSeq == byCos)
    // scores are the rounded composite, non-increasing never required
    // (diversity can raise later steps) but rank 1 must be λ·cos
    val top = mmr(0)
    assert(top.getDouble(3) ==
      math.floor(0.5 * top.getDouble(4) * 1e6 + 0.5) / 1e6)
    // LOUD VALVE: an unbounded candidate frame refuses with the cap
    // instead of silently holding O(N²) in one task
    val err = intercept[org.apache.spark.SparkException] {
      Similarity.mmrRerank(spark, cands, vecs, k = 2, lambda = 0.5,
        dim = 4, maxCandidates = 2).collect()
    }
    assert(err.getMessage.contains("maxCandidates") ||
      Option(err.getCause).exists(_.getMessage.contains("maxCandidates")))
  }

  test("IndexSwap: partial-.old refusal, reader fail-fast, litter cleanup, missing-live precondition") {
    import spark.implicits._
    import graft.streaming.IndexSwap
    val tmp = tempDir("graft_swap").toString
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$tmp/$s")
    // 1. .old WITHOUT its completion marker = possibly-partial copy
    //    (object-store rename interrupted): restore must REFUSE loudly,
    //    and .old must survive untouched for manual recovery
    Seq((1L, "a")).toDF("id", "x").write.parquet(s"$tmp/idx.old")
    val e1 = intercept[IllegalArgumentException] {
      IndexSwap.restoreIfInterrupted(spark, s"$tmp/idx")
    }
    assert(e1.getMessage.contains("PARTIAL"))
    assert(fs.exists(p("idx.old")), ".old must not be destroyed")
    // ... and a direct swap on that state must fail the same way
    // BEFORE deleting the sole surviving copy (r10 ADVICE)
    Seq((2L, "b")).toDF("id", "x").write.parquet(s"$tmp/idx.compact")
    intercept[IllegalArgumentException] {
      IndexSwap.swap(spark, s"$tmp/idx", s"$tmp/idx.compact")
    }
    assert(fs.exists(p("idx.old")), ".old must still exist after failed swap")
    fs.delete(p("idx.old"), true)
    // 2. reader fail-fast: in-progress marker with neither live nor
    //    .old present = a crashed swap lost the index — loud, not an
    //    empty read
    fs.create(p("idx2.swapping"), true).close()
    val e2 = intercept[IllegalArgumentException] {
      IndexSwap.restoreIfInterrupted(spark, s"$tmp/idx2")
    }
    assert(e2.getMessage.contains("refusing to read"))
    fs.delete(p("idx2.swapping"), false)
    // 3. crash AFTER the install (live = new index, .old + markers
    //    linger): read succeeds on live and cleans up the litter
    Seq((3L, "new")).toDF("id", "x").write.parquet(s"$tmp/idx3")
    Seq((4L, "old")).toDF("id", "x").write.parquet(s"$tmp/idx3.old")
    fs.create(p("idx3.old.complete"), true).close()
    fs.create(p("idx3.swapping"), true).close()
    IndexSwap.restoreIfInterrupted(spark, s"$tmp/idx3")
    assert(fs.exists(p("idx3")))
    assert(!fs.exists(p("idx3.old")) && !fs.exists(p("idx3.old.complete"))
      && !fs.exists(p("idx3.swapping")))
    assert(spark.read.parquet(s"$tmp/idx3").select("x")
      .as[String].collect().toSeq == Seq("new"))
    // 4. maintenance on a never-built index: clear precondition error
    //    BEFORE any temp write (r10 ADVICE), from both helpers
    val e4 = intercept[IllegalArgumentException] {
      graft.streaming.CurateStream.compactFpIndex(spark, s"$tmp/nofp")
    }
    assert(e4.getMessage.contains("does not exist"))
    assert(!fs.exists(p("nofp.compact")), "no temp write before the check")
    val e5 = intercept[IllegalArgumentException] {
      graft.streaming.IvfStream.reassign(spark, s"$tmp/noivf",
        FloatCenters(Array(Array(0.0))))
    }
    assert(e5.getMessage.contains("does not exist"))
    assert(!fs.exists(p("noivf.compact")))
    // 5. a healthy swap round-trips and leaves zero marker litter
    Seq((5L, "live")).toDF("id", "x").write.parquet(s"$tmp/idx5")
    Seq((6L, "repl")).toDF("id", "x").write.parquet(s"$tmp/idx5.compact")
    IndexSwap.swap(spark, s"$tmp/idx5", s"$tmp/idx5.compact")
    assert(spark.read.parquet(s"$tmp/idx5").select("x")
      .as[String].collect().toSeq == Seq("repl"))
    assert(!fs.exists(p("idx5.old")) && !fs.exists(p("idx5.old.complete"))
      && !fs.exists(p("idx5.swapping")) && !fs.exists(p("idx5.compact")))
  }

  test("IndexSwap: live + .swapping + UNMARKED .old is ambiguous — refuse, never delete .old") {
    import spark.implicits._
    import graft.streaming.IndexSwap
    val tmp = tempDir("graft_swap2").toString
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$tmp/$s")
    // r11 ADVICE (medium): on an object store the live->.old rename is
    // copy-then-delete; a crash in the DELETE phase leaves a PARTIAL
    // live plus a complete-but-unmarked .old. The old cleanup deleted
    // .old unconditionally — destroying the sole complete copy.
    Seq((1L, "maybe-partial-live")).toDF("id", "x").write.parquet(s"$tmp/idx")
    Seq((2L, "maybe-complete-old")).toDF("id", "x")
      .write.parquet(s"$tmp/idx.old")
    fs.create(p("idx.swapping"), true).close() // no idx.old.complete
    val e = intercept[IllegalArgumentException] {
      IndexSwap.restoreIfInterrupted(spark, s"$tmp/idx")
    }
    assert(e.getMessage.contains("EITHER may be a partial"))
    assert(fs.exists(p("idx.old")),
      ".old must survive the ambiguous state for manual recovery")
    assert(fs.exists(p("idx")), "live must also be left untouched")
    // the marked sibling state (crash AFTER install) still auto-cleans
    fs.create(p("idx.old.complete"), true).close()
    IndexSwap.restoreIfInterrupted(spark, s"$tmp/idx")
    assert(!fs.exists(p("idx.old")) && !fs.exists(p("idx.old.complete"))
      && !fs.exists(p("idx.swapping")))
  }

  test("legacy array<int> codes layout fails loudly at read time with a rebuild message") {
    import spark.implicits._
    val tmp = tempDir("graft_legacy").toString
    // the pre-r11 on-disk layout: codes as array<int>
    Seq((0L, Seq(1, 2, 3), 0), (1L, Seq(4, 5, 6), 1))
      .toDF("vec_id", "codes", "list")
      .write.partitionBy("list").parquet(s"$tmp/sq/codes")
    Seq((0, 0.0, 1.0)).toDF("pos", "mn", "mx")
      .write.parquet(s"$tmp/sq/codec")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.sqReadIndex(spark, s"$tmp/sq")
    }
    assert(e1.getMessage.contains("array<int>") &&
      e1.getMessage.contains("Rebuild"),
      s"want an explicit migrate/rebuild message, got: ${e1.getMessage}")
    Seq((0L, Seq(1, 2), 0)).toDF("vec_id", "codes", "list")
      .write.parquet(s"$tmp/stream/batch=0")
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.IvfStream.readIndex(spark, s"$tmp/stream", payload = "codes")
    }
    assert(e2.getMessage.contains("pre-r11"))
  }

  test("quantizerStaleness: empty micro-batch emits an all-zero row, never nulls") {
    import spark.implicits._
    val centers = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val r = graft.streaming.IvfStream.quantizerStaleness(empty, FloatCenters(centers))
      .collect()
    assert(r.length == 1)
    // getLong/getDouble on a null would throw — the r11 ADVICE NPE class
    assert(r(0).getLong(0) == 0L)
    assert(r(0).getDouble(1) == 0.0 && r(0).getDouble(2) == 0.0)
    assert(r(0).getInt(3) == 2)
  }

  test("bqTopK asymmetric: ≡ symmetric on sign-pattern queries; query-count valve refuses") {
    import spark.implicits._
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(7)
    // refs: arbitrary vectors; queries: SIGN PATTERNS (±1 per dim) —
    // dot(q, sign(r)) = dim − 2·hamming(sign(q), sign(r)), so the two
    // stage-1 orderings coincide exactly (same rid tie-break) and the
    // whole rung must return identical rows
    val refs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val qs = Seq(
      (100L, Array(1f, -1f, 1f, 1f, -1f, -1f, 1f, -1f)),
      (101L, Array(-1f, -1f, 1f, -1f, 1f, 1f, -1f, 1f)))
      .toDF("vec_id", "embedding")
    val all = refs.unionByName(qs)
    val sym = Similarity.bqTopK(spark, qs, all, k = 3, shortlist = 6,
      asymmetric = false)
    val asym = Similarity.bqTopK(spark, qs, all, k = 3, shortlist = 6,
      asymmetric = true)
    assert(sym.exceptAll(asym).isEmpty && asym.exceptAll(sym).isEmpty,
      "sign-pattern queries must order identically under both scorings")
    // LOUD VALVE (r11 verdict #7): stage 1 is |Q|·n by design — an
    // unbounded query frame must refuse with the cap, never silently
    // go quadratic
    val err = intercept[IllegalArgumentException] {
      Similarity.bqTopK(spark, all, all, k = 3, shortlist = 6,
        maxQueries = 10)
    }
    assert(err.getMessage.contains("maxQueries"))
  }
}
