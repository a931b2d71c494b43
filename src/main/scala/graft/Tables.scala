package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * Each table is one parquet file under an sf directory; at cluster scale
  * these would be partitioned directories — the API is the same and all
  * downstream code relies on Catalyst pushdown (filters/column pruning
  * reach the scan), not on single-file assumptions.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs that change what Parquet schema inference
    * returns; a memoized schema is keyed by their values. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Table `name` under `dir`. Inferring a Parquet schema runs one Spark
    * job (a footer read) per load, even for one file, so the schema is
    * inferred once per (session, dir, table, inference confs) and every
    * later load passes it to the reader. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table $name")
    val path = s"$dir/$name.parquet"
    val confs = inferenceConfs.map(k => spark.conf.get(k)).mkString(",")
    val schema = graft.util.SessionMemo.value(spark, s"schema/$name/$confs", dir)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  /** events.ts has shipped as either parquet TIMESTAMP(NANOS) (read by
    * Spark as a long via spark.sql.legacy.parquet.nanosAsLong, set in
    * Verify/Bench sessions) or TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (read as TIMESTAMP_NTZ). Normalize both to a proper TimestampType
    * column so downstream unix_micros()/window() calls work unchanged.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = apply(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not SQL `/`: nanos ~1.7e18 exceed 2^53, so a
        // double-division round trip shifts timestamps by up to ~1 µs.
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // exact under the session's UTC timezone (set in all entrypoints)
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")

  /** Spread quantum for a small, under-split, CPU-heavy scan. Full
    * cluster width is measurably the WRONG target on a table this
    * small: a 32-wide spread cut the ANN family's wall 82 → 49 s but
    * charged +157 cpu-s of per-task/per-stage overhead across the
    * many-tiny-stage index-audit queries that read the same table
    * (~130 stages each × 32 near-empty tasks). A bounded quantum keeps
    * most of the wall win at a fraction of the task overhead. */
  private val spreadQuantum = 8

  /** Table `name`, spread over min(8, defaultParallelism) partitions by
    * `key` when (and only when) the file layout under-splits it: at
    * production scale the scan is many splits and no exchange is added,
    * so a large scan is never repartitioned down. The numbered form is
    * the one AQE never coalesces. Row content is untouched, and every
    * caller's result is partitioning-invariant.
    *
    * The split count is memoized per (session, table, dir): probing it
    * via `rdd.getNumPartitions` plans the scan, and the loaders are
    * called from dozens of hot sites. */
  def spread(spark: SparkSession, dir: String, name: String, key: String): DataFrame = {
    val df = apply(spark, dir, name)
    val target = math.min(spreadQuantum, spark.sparkContext.defaultParallelism)
    val splits = graft.util.SessionMemo.value(spark, s"splits/$name", dir)(
      df.rdd.getNumPartitions)
    if (splits >= target) df
    else df.repartition(target, org.apache.spark.sql.functions.col(key))
  }

  /** Every embeddings consumer is vector-math-heavy per row (distance
    * scans, quantizer encodes, md5-derived projections), and the local
    * table is ONE small parquet split — so the whole ANN family was
    * measured running its map stages 1-task serial. vec_id keying
    * spreads evenly. */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spread(spark, dir, "embeddings", "vec_id")
}
