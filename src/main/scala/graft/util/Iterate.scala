package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lineage control for iterative DataFrame loops (layout, subspace
  * iteration, cascade propagation).
  *
  * Three failure modes shape this helper (all observed live):
  *  - chaining raw plans grows the Dataset's logical tree exponentially
  *    (it is a tree, not a DAG) until the driver OOMs on plan strings;
  *  - `localCheckpoint` truncates the plan but COPIES the origin plan's
  *    statistics onto the new LogicalRDD leaf; in a loop whose body
  *    joins the previous state k times the estimated sizeInBytes
  *    compounds as size^k per iteration, and after ~7 iterations
  *    Catalyst multiplies million-digit BigIntegers during join
  *    selection, burning minutes of driver CPU;
  *  - `persist + count` bounds stats (InMemoryRelation reports real
  *    bytes) but does NOT truncate the Dataset's own logical plan, so
  *    the tree still explodes (CacheManager renders it as a string on
  *    every cacheQuery).
  *
  * The RDD round-trip is the one primitive that resets BOTH the plan
  * (fresh LogicalRDD leaf) and the statistics (bounded default). The
  * caller unpersists the previous handle after the next state is
  * materialized.
  */
object Iterate {

  /** Materialize `df`, truncating lineage AND statistics. Returns the
    * new frame plus the persisted RDD handle for later unpersist.
    *
    * CONTRACT: this consumes `df.rdd` (a memoized lazy val on Dataset)
    * and later unpersist of the handle severs it — do not checkpoint
    * the SAME Dataset object twice or reuse it after the handle is
    * unpersisted (symptom: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    *
    * The RDD itself is localCheckpoint'ed, not merely persisted: a
    * persisted RDD still serializes its full compute lineage into every
    * downstream task binary, and chained iterations grow that closure
    * without bound (observed: ~10 MiB task binaries by iteration 25).
    */
  def checkpoint(spark: SparkSession, df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val (out, rdd, _) = checkpointWith(spark, df)(_.count())
    (out, rdd)
  }

  /** Like [[checkpoint]], but the caller supplies the materializing
    * action — e.g. a stats aggregate the loop needs anyway — so the
    * iteration pays ONE job for materialization + statistics instead of
    * a count job followed by a second read of the cache. The action's
    * job triggers the persist AND the local checkpoint of the parent
    * (doCheckpoint runs on the action RDD's lineage). */
  def checkpointWith[T](spark: SparkSession, df: DataFrame)
      (action: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] => T)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row], T) = {
    val rdd = df.rdd
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.localCheckpoint()
    val t = action(rdd)
    (spark.createDataFrame(rdd, df.schema), rdd, t)
  }

  /** Data-sized partition count for iterative state: ~1 partition per
    * 100k rows, at least 1, never above the session's shuffle setting
    * (the cluster-sized cap). rows=0 means "driver-known-small". */
  def sizedPartitions(spark: SparkSession, rows: Long): Int = {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(cap.toLong, rows / 100000 + 1)).toInt
  }

  /** Run `body` with the session's shuffle-partition count temporarily
    * sized to `rows` (≥4, never above the configured count). Iterative
    * graph state is usually orders smaller than the session's fact-table
    * sizing, and on tiny state the per-task scheduling overhead of a
    * wide shuffle dominates the loop (measured 3× on the layout bench at
    * 32 partitions vs 4). Only safe around EAGER work — the caller's
    * loops materialize every step before this restores the setting. */
  def withSizedShuffle[T](spark: SparkSession, rows: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    val prevAqe = spark.conf.get(aqe, "true")
    val target = math.max(4L, math.min(prev.toLong, rows / 50000 + 4))
    spark.conf.set(key, target.toString)
    // AQE re-plans after every shuffle stage — on kB-scale iterative
    // state that is fixed driver latency per stage per iteration, and
    // its coalesce/skew machinery has nothing to do (partitions are
    // already sized above). Off inside the loop, restored after.
    spark.conf.set(aqe, "false")
    try body finally {
      spark.conf.set(key, prev)
      spark.conf.set(aqe, prevAqe)
    }
  }

  /** Run `body` with ObjectHashAggregate's sort-based fallback raised
    * from its default. TypedImperative aggregates (collect_list /
    * collect_set) abandon their hash map for a per-partition SORT once
    * a task sees more than `spark.sql.objectHashAggregate.sortBased.
    * fallbackThreshold` distinct keys — and the default is 128, so any
    * realistic adjacency/grouping build silently pays the very sort a
    * hash aggregate exists to avoid.
    *
    * The threshold stays FINITE (r15 verdict/ADVICE): for
    * TypedImperative aggregates the sort-based fallback IS the
    * memory-bounding path — the object hash map's per-group buffers do
    * not spill per key, so disabling the fallback outright lets a task
    * holding tens of millions of group buffers OOM at 100 TB scale
    * where degrading to the sort would have been safe. 2²⁰ groups per
    * task ≈ hundreds of MB of adjacency buffers at graph fan-outs — far
    * above any sane per-task group count under the callers' sized
    * builds, far below OOM territory. Override via
    * `spark.graft.objectAgg.fallbackThreshold` if a deployment's
    * per-task group counts are proven smaller/larger.
    *
    * Thread-safety: set-run-restore on SHARED session conf — callers
    * run it around eager SEQUENTIAL builds only (the bench/verify
    * harnesses execute queries one at a time); do not wrap work that
    * overlaps other queries on the same session, or the override can
    * leak into their aggregates. */
  def withObjectAggHash[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key, "128")
    val raised = spark.conf.get("spark.graft.objectAgg.fallbackThreshold",
      (1 << 20).toString)
    spark.conf.set(key, raised)
    try body finally spark.conf.set(key, prev)
  }
}
