package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks, run outside the timed region.
  *
  * A query result is reduced to a canonical digest the way the DuckDB
  * oracle compare canonicalizes it: columns sorted by name, rows sorted
  * by value, every value exact (doubles by their shortest round-trip
  * decimal). Equal digests mean equal result sets. */
object Check {
  private def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case bd: java.math.BigDecimal => bd.toPlainString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, sha-256 of the canonical rows) of a collected result. */
  def digest(df: DataFrame): (Long, String) = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect().map(r => order.map(i => cell(r.get(i))).mkString("\u0001"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(x => f"${x & 0xff}%02x").mkString)
  }

  /** Invariants every embed pipeline output holds on any seed. Returns
    * the violated ones. */
  def embedInvariants(out: EmbedOut, size: EmbedSize): Seq[String] = {
    val k = size.k
    val top = out.radius.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, r) => (-r, id) }.take(k).map(_._1)
    Seq(
      (out.seeds.distinct.length == k) ->
        s"${out.seeds.length} seeds, ${out.seeds.distinct.length} distinct, want $k",
      (out.seeds.toSet == top.toSet) -> "seeds are not the top-k vertices by radius",
      (out.spread >= k && out.spread <= size.n) -> s"spread ${out.spread} outside [$k, ${size.n}]",
      (out.rho.keySet == Pipeline.measures.toSet) ->
        s"rho has measures ${out.rho.keys.mkString(",")}, want ${Pipeline.measures.mkString(",")}",
      out.rho.values.forall(r => !r.isNaN && !r.isInfinite && r >= -1.0 && r <= 1.0) ->
        s"rho outside [-1, 1]: ${out.rho}"
    ).collect { case (false, msg) => msg }
  }
}
