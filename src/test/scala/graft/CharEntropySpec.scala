package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.TextAnalysis

/** [[TextAnalysis.charEntropy]]'s compiled kernel against the
  * higher-order-function expression it replaced, kept here as the
  * reference: the same rows, the same doubles before rounding, the same
  * schema; and q60's plan evaluates nothing interpreted. */
class CharEntropySpec extends SparkSpec {

  /** The replaced form: split into characters, count each distinct
    * character with a filter inside a transform, fold with aggregate.
    * Returns (id, distinct_chars, entropy, pre-round entropy). */
  private def reference(df: DataFrame): DataFrame = {
    val chars = df.select(col("doc_id"),
      filter(split(col("text"), ""), c => length(c) > 0).as("_cs"))
    val staged = chars
      .withColumn("_d", array_distinct(col("_cs")))
      .withColumn("_n", size(col("_cs")).cast("double"))
      .withColumn("_cnts", transform(col("_d"),
        c => size(filter(col("_cs"), x => x === c)).cast("double")))
    val raw = log2(col("_n")) - aggregate(col("_cnts"), lit(0.0),
      (acc, c) => acc + c * log2(c)) / col("_n")
    staged.filter(col("_n") > 0.0).select(col("doc_id"),
      size(col("_d")).as("distinct_chars"),
      round(raw, 6).as("entropy"), raw.as("raw"))
  }

  /** The kernel's pre-round entropy, composed as charEntropy composes it. */
  private def kernelRaw(df: DataFrame): DataFrame = {
    val k = udf(TextAnalysis.charCounts _)
    val counted = df.filter(length(col("text")) > 0)
      .select(col("doc_id"), k(col("text").cast("binary")).as("_k"))
    val n: Column = col("_k._2").cast("double")
    counted.select(col("doc_id"), (log2(n) - col("_k._3") / n).as("raw"))
  }

  /** A 5,000-character document over ASCII, Cyrillic, CJK, combining
    * marks and supplementary-plane emoji (fixed seed). */
  private val longDoc: String = {
    val rnd = new scala.util.Random(60)
    val pool = Seq(0x61 to 0x7a, 0x20 to 0x20, 0x410 to 0x44f, 0x4e00 to 0x4e3f,
      0x300 to 0x30f, 0x1f600 to 0x1f64f).flatten
    val sb = new java.lang.StringBuilder
    (0 until 5000).foreach(_ => sb.appendCodePoint(pool(rnd.nextInt(pool.size))))
    sb.toString
  }

  private def fixture: DataFrame = {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, " "), (4L, "zzzzzzzz"),
      (5L, "😀😀a👍🏽"),
      (6L, "e\u0301e\u0301 n\u0303a\u0308"),
      (7L, "Hello Привет 你好 مرحبا שלום"),
      (8L, longDoc),
      (9L, "aab"), (10L, "the quick brown fox jumps over the lazy dog"))
    // bytes that are not valid UTF-8 split by their lead byte, as Spark does
    val invalid = spark.sql(
      "SELECT 11L AS doc_id, CAST(unhex('E041FF80C328F09F98') AS STRING) AS text")
    docs.toDF("doc_id", "text").union(invalid)
  }

  test("charEntropy: same rows, pre-round doubles and schema as the higher-order form") {
    val d = fixture
    val ref = reference(d)
    val out = TextAnalysis.charEntropy(d)
    assert(out.schema == ref.drop("raw").schema)
    val got = out.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val want = ref.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    // null and "" emit no row; every other document does
    assert(want.keySet == Set(3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 11L))
    assert(got == want)
    val rawGot = kernelRaw(d).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rawWant = ref.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rawWant.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToRawLongBits(rawGot(id)) ==
        java.lang.Double.doubleToRawLongBits(v), s"doc $id: ${rawGot(id)} vs $v")
    }
    assert(rawGot.keySet == rawWant.keySet)
    // closed forms: one repeated character has entropy 0; a surrogate
    // pair is one character (😀😀a👍🏽 is 😀, a, 👍, 🏽)
    assert(got(4L) == ((1, 0.0)))
    assert(got(5L)._1 == 4)
    assert(got(8L)._1 == want(8L)._1 && got(8L)._1 > 100)
  }

  test("charEntropy: on the documents table, equal to the higher-order form") {
    val d = Tables.documents(spark, sf)
    val ref = reference(d).drop("raw")
    val out = TextAnalysis.charEntropy(d)
    assert(out.schema == ref.schema)
    assert(out.count() > 0)
    assert(out.exceptAll(ref).isEmpty && ref.exceptAll(out).isEmpty)
  }

  test("q60's plan has no interpreted expression and calls the kernel once") {
    val q60 = SparkEntry.queries("q60_char_entropy")(spark, sf)
    assert(codegenFallbacks(q60).isEmpty, q60.queryExecution.executedPlan)
    val plan = q60.queryExecution.executedPlan.toString
    assert("char_counts\\(".r.findAllIn(plan).size == 1, plan)
    // the helper sees what the replaced form evaluated interpreted
    val ref = codegenFallbacks(reference(Tables.documents(spark, sf))).toSet
    assert(Set("ArrayTransform", "ArrayFilter", "ArrayAggregate").subsetOf(ref), ref)
  }

  test("charCounts: counts in first-occurrence order") {
    val (distinct, n, acc) = TextAnalysis.charCounts("abcabca".getBytes("UTF-8"))
    assert(distinct == 3 && n == 7)
    val log2 = (c: Double) => StrictMath.log(c) / StrictMath.log(2)
    assert(acc == ((0.0 + 3 * log2(3)) + 2 * log2(2)) + 2 * log2(2))
    // a table that grows past its first size keeps every count
    val many = (0 until 300).flatMap(i => Seq.fill(1 + i % 3)(0x4e00 + i))
    val s = new String(many.toArray, 0, many.size)
    val (d2, n2, _) = TextAnalysis.charCounts(s.getBytes("UTF-8"))
    assert(d2 == 300 && n2 == many.size)
  }
}
