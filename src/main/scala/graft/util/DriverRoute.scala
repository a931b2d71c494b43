package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.CacheBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** The route policy of the size-guarded operators: each runs on the
  * driver when its input fits the cap below, else distributed. One
  * table of caps, one scoped switch that forces every operator
  * distributed, the bounded probes that decide, and the driver replay
  * of Spark's xxhash64 fold.
  *
  * A probe runs the upstream pipeline ONCE and decides the route from
  * the collected length — a count() + collect() pair would execute the
  * pipeline twice. A frame over its cap is told apart without a collect
  * when its row count is known for free (a persisted frame whose cache
  * is loaded; see [[rowsAtMost]]).
  *
  * Edge memo: a probe of a PERSISTED frame keeps the pairs it collected,
  * as two primitive arrays (16 bytes a pair), keyed by the frame's cache
  * entry (its column-buffer RDD, held weakly). The entry lives only
  * while that cache entry stays cached: unpersisting the frame drops it
  * at the next probe, and a re-persist is a new key. So the stages of
  * one pipeline (eigen init, layout, cascade, centralities) over one
  * persisted edge frame collect it once — and a caller that keeps a
  * frame persisted keeps its probed pairs on the driver until it
  * unpersists it. Probes of unpersisted frames keep nothing.
  */
object DriverRoute {

  // The route caps, in rows brought to the driver. Below them a
  // distributed round is scheduler latency around milliseconds of work.

  /** Layout and both cascade loops: their kernels rerun every iteration. */
  val LoopEdges = 500000L
  /** Eigen init, BFS, SCC, pseudo-diameter, MST contraction, harmonic: one pass, ≤ 80 MB. */
  val GraphEdges = 5000000L
  /** `Centralities.all`: one CSR serves all six measures. */
  val CentralityEdges = 10000000L
  /** `Dedup.dupClusters`: a union-find, where GraphX CC pays seconds of scheduling. */
  val DupPairs = 1000000L
  /** Spearman ρ and matrix: driver rank and Pearson kernels over the rows. */
  val StatRows = 1000000L
  /** Classifier training: sequential gradient descent over every row each iteration. */
  val ClassifierRows = 100000L

  private val DistributedKey = "graft.route.distributed"

  /** `body` with every size-guarded operator on its distributed route:
    * inside it [[probePairs]], [[probeIdPairs]] and [[probeRows]] are
    * None and [[rowsAtMost]] is false, without a job. The scope is a
    * SparkContext local property: it holds on the calling thread and on
    * threads it starts ([[Concurrent.all]] arms), and the previous
    * value is restored on exit, so scopes nest. */
  def distributed[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(DistributedKey)
    sc.setLocalProperty(DistributedKey, "true")
    try body finally sc.setLocalProperty(DistributedKey, prev)
  }

  private def forced(ds: Dataset[_]): Boolean =
    ds.sparkSession.sparkContext.getLocalProperty(DistributedKey) != null

  /** Memoized pairs, sorted: (src(j), dst(j)). */
  private final class Pairs(val src: Array[Long], val dst: Array[Long])

  private val memo = new java.util.WeakHashMap[RDD[_], Map[(String, String), Pairs]]()

  /** Collect up to `cap` (c1, c2) long pairs, sorted by (c1, c2) so
    * that no driver route depends on the partition order of the
    * collect. None → route distributed: the data exceeds the cap, the
    * call runs inside [[distributed]], or the columns are not LongType (hash-replay routes need
    * bit-identical xxhash64 inputs, and xxhash64 of an int is not
    * xxhash64 of a long).
    *
    * On a persisted frame the first probe that fits its cap stores the
    * pairs; a later probe runs no job: it rebuilds them from the stored
    * arrays when its cap is at least the stored length, else None. */
  def probePairs(df: DataFrame, c1: String, c2: String,
                 cap: Long): Option[Array[(Long, Long)]] =
    if (df.schema(c1).dataType != LongType || df.schema(c2).dataType != LongType) None
    else probe(df, c1, c2, cap)

  /** [[probePairs]] for vertex-id pairs whose int or long type does not
    * matter (no hash replay): int columns are cast to long. The memo is
    * keyed by `df` itself, so a persisted int frame hits it too. */
  def probeIdPairs(df: DataFrame, c1: String, c2: String,
                   cap: Long): Option[Array[(Long, Long)]] =
    probe(df, c1, c2, cap)

  /** Whether `df` has at most `cap` rows, decided without collecting
    * it: free when `df` is persisted and its cache is loaded (the row
    * count is in the cache statistics), else one pruned count job. The
    * routes whose caps run to millions of rows (eigen init,
    * centralities) ask before they probe, since a probe of a frame over
    * the cap may bring cap + 1 rows to the driver only to drop them. */
  def rowsAtMost(df: DataFrame, cap: Long): Boolean =
    !forced(df) &&
      CacheBridge.loadedRowCount(df).getOrElse(df.select().rdd.count()) <= cap

  /** `ds`'s rows when it has at most `cap` of them, by one bounded
    * collect (limit(cap + 1)); None → route distributed. Unsorted: a
    * caller whose result depends on row order orders them itself. */
  def probeRows[T](ds: Dataset[T], cap: Long): Option[Array[T]] =
    if (cap <= 0 || forced(ds)) None
    else {
      // clamped so a cap near Long.MaxValue cannot wrap limit() negative
      val capI = math.min(cap, Int.MaxValue - 1L).toInt
      Some(ds.limit(capI + 1).collect()).filter(_.length <= capI)
    }

  private def probe(df: DataFrame, c1: String, c2: String,
                    cap: Long): Option[Array[(Long, Long)]] =
    if (cap <= 0 || forced(df)) None
    else {
      val key = CacheBridge.cachedBuffers(df)
        .filter(_.getStorageLevel != StorageLevel.NONE)
      val cols = (c1, c2)
      memoized(key, cols) match {
        case Some(p) =>
          if (p.src.length <= cap) Some(Array.tabulate(p.src.length)(j => (p.src(j), p.dst(j))))
          else None
        case None if CacheBridge.loadedRowCount(df).exists(_ > cap) => None
        case None =>
          probeRows(df.select(col(c1).cast(LongType), col(c2).cast(LongType))
            .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)), cap)
            .map { arr =>
              // TimSort: stable, linear on sorted input; _1/_2 of a
              // (Long, Long) are specialized, so nothing is boxed
              java.util.Arrays.sort(arr, (x: (Long, Long), y: (Long, Long)) => {
                val c = java.lang.Long.compare(x._1, y._1)
                if (c != 0) c else java.lang.Long.compare(x._2, y._2)
              })
              key.foreach { k =>
                val p = new Pairs(arr.map(_._1), arr.map(_._2))
                memo.synchronized { memo.put(k, memo.getOrDefault(k, Map.empty) + (cols -> p)) }
              }
              arr
            }
      }
    }

  private def memoized(key: Option[RDD[_]], cols: (String, String)): Option[Pairs] =
    memo.synchronized {
      sweep()
      key.flatMap(k => Option(memo.get(k)).flatMap(_.get(cols)))
    }

  /** Drops the entries whose frame was unpersisted (hold the lock). */
  private def sweep(): Unit =
    memo.keySet.removeIf(_.getStorageLevel == StorageLevel.NONE)

  /** The cache entries (column-buffer RDDs) the memo holds pairs for. */
  private[graft] def memoKeys: Seq[RDD[_]] =
    memo.synchronized {
      sweep()
      memo.keySet.toArray(new Array[RDD[_]](0)).toSeq
    }

  // Driver replay of the Catalyst xxhash64 fold: seed 42, children
  // folded left-to-right, ints via hashInt and longs via hashLong —
  // bit-identical to the codegen'd expression.
  import org.apache.spark.sql.catalyst.expressions.XXH64

  def hashStart(seed: Long): Long = XXH64.hashLong(seed, 42L)
  def foldLong(h: Long, v: Long): Long = XXH64.hashLong(v, h)
  def foldInt(h: Long, v: Int): Long = XXH64.hashInt(v, h)

  /** Top-53-bit uniform in [0,1) — Generators.hashUniform's scaling. */
  def toUniform(h: Long): Double = (h >>> 11) / 9007199254740992.0
}
