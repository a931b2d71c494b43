package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector kernels over `array<double>` columns (reference F1–F5,
  * SURVEY.md §2.6) expressed with Spark's higher-order functions, so
  * they work for runtime-chosen dimensionality. Those functions
  * (`transform`, `zip_with`, `aggregate`, `filter`, `exists`) are
  * `CodegenFallback` on Spark 4: whole-stage codegen calls them
  * interpreted, one lambda evaluation per element. They suit small
  * arrays and cold paths; a per-row hot loop belongs in a compiled
  * Scala kernel (see `Similarity.cosineLoop`).
  */
object VecOps {

  /** Element-wise a - b. */
  def sub(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x - y)

  /** Element-wise a + b. */
  def add(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  /** Scale by a scalar column. */
  def scale(a: Column, s: Column): Column = transform(a, x => x * s)

  /** Sum of squares (reference: embedder_pytorch.py:622). */
  def sqNorm(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  /** Euclidean norm with the reference's 1e-6 guard
    * (embedder_pytorch.py:622-623). */
  def norm(a: Column): Column = sqrt(sqNorm(a))

  /** Dot product (used by cosine similarity over embeddings). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)

  /** Cosine similarity with zero-norm guard. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(sqNorm(a)) * sqrt(sqNorm(b)) + lit(1e-12))

  /** Per-dimension sum aggregate for a groupBy over an array column:
    * builds d scalar `sum` columns (partial+final hash agg — ONE
    * shuffle) and reassembles the array. Beats posexplode+collect_list
    * (two shuffles + sort) at any scale.
    */
  def sumVec(dim: Int, vecCol: String): Seq[Column] =
    (0 until dim).map(i => sum(element_at(col(vecCol), i + 1)).as(s"_s$i"))

  def assembleVec(dim: Int): Column =
    array((0 until dim).map(i => col(s"_s$i")): _*)

  /** groupBy(key).sum over an array column, reassembled: ONE shuffle. */
  def sumVecBy(df: org.apache.spark.sql.DataFrame, key: String, dim: Int,
               vecCol: String): org.apache.spark.sql.DataFrame = {
    val cs = sumVec(dim, vecCol)
    df.groupBy(key).agg(cs.head, cs.tail: _*)
      .select(col(key), assembleVec(dim).as(vecCol))
  }
}
