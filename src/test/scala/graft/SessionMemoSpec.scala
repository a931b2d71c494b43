package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.queries.GraphQueries
import graft.util.SessionMemo

/** The session memo registry: hits stay inside one session, an
  * unpersisted frame is rebuilt rather than served uncached, and a
  * session's entries leave the registry once their frames are gone.
  * Also the small-scan spread, whose split probe the registry holds. */
class SessionMemoSpec extends SparkSpec {

  /** A memoized range frame; every test uses its own `n` so no two
    * tests share a cached plan. */
  private def memo(s: SparkSession, n: Long, builds: AtomicInteger): DataFrame =
    SessionMemo.frame(s, "spec.range", s"n$n") {
      builds.incrementAndGet()
      s.range(0, n).toDF("id")
    }

  test("a second lookup in the same session returns the same persisted frame") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val a = memo(s, 101, builds)
    val b = memo(s, 101, builds)
    assert(a eq b)
    assert(builds.get == 1)
    assert(a.storageLevel == SessionMemo.level)
    a.unpersist(blocking = true)
  }

  test("a new session misses the memo of another") {
    val builds = new AtomicInteger
    val a = memo(spark.newSession(), 102, builds)
    val b = memo(spark.newSession(), 102, builds)
    assert(!(a eq b))
    assert(builds.get == 2)
    a.unpersist(blocking = true)
  }

  test("a lookup after the frame was unpersisted rebuilds and persists it again") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val a = memo(s, 103, builds)
    a.unpersist(blocking = true)
    assert(a.storageLevel == StorageLevel.NONE)
    val b = memo(s, 103, builds)
    assert(builds.get == 2)
    assert(b.storageLevel == SessionMemo.level)
    b.unpersist(blocking = true)
    // the same through a real consumer: the lineitem graph
    GraphQueries.lineitemGraph(s, sf).unpersist(blocking = true)
    val g = GraphQueries.lineitemGraph(s, sf)
    assert(g.storageLevel == SessionMemo.level)
    g.unpersist(blocking = true)
  }

  test("a lookup from another session drops the entries of a session whose frames are gone") {
    val s1 = spark.newSession()
    val builds = new AtomicInteger
    memo(s1, 104, builds).unpersist(blocking = true)
    assert(SessionMemo.sessions.contains(SessionMemo.sessionId(s1)))
    memo(spark.newSession(), 105, builds).unpersist(blocking = true)
    assert(!SessionMemo.sessions.contains(SessionMemo.sessionId(s1)))
  }

  private def quantum = math.min(8, spark.sparkContext.defaultParallelism)

  test("spread: a one-split table is spread to the quantum") {
    assert(Tables(spark, sf, "documents").rdd.getNumPartitions == 1)
    val df = Tables.spread(spark, sf, "documents", "doc_id")
    assert(df.rdd.getNumPartitions == quantum)
    assert(df.exceptAll(Tables.documents(spark, sf)).isEmpty)
  }

  test("spread: a table with more splits than the quantum keeps its partitioning") {
    val dir = tempDir("graft_spread").toString
    spark.range(0, 1200).select(col("id").as("doc_id"))
      .repartition(12).write.parquet(s"$dir/documents.parquet")
    // one split per (small) file: a split closes once it holds a
    // file's length plus the 4 MB open cost
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    val raw = Tables(s, dir, "documents").rdd.getNumPartitions
    assert(raw == 12)
    val df = Tables.spread(s, dir, "documents", "doc_id")
    assert(df.rdd.getNumPartitions == raw)
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("Tables: a schema is inferred once per session, dir and inference confs") {
    val s = spark.newSession()
    val (first, firstJobs) = countingJobs(Tables.documents(s, sf))
    assert(firstJobs >= 1)
    val (again, againJobs) = countingJobs(Tables.documents(s, sf))
    assert(againJobs == 0)
    assert(again.schema == first.schema)
    assert(first.schema == s.read.parquet(s"$sf/documents.parquet").schema)
    // a fresh session infers its own
    assert(countingJobs(Tables.documents(spark.newSession(), sf))._2 >= 1)
    // a conf that shapes inference gets its own entry, and the old one stays
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val was = s.conf.get(nanos)
    s.conf.set(nanos, (!was.toBoolean).toString)
    try assert(countingJobs(Tables.documents(s, sf))._2 >= 1)
    finally s.conf.set(nanos, was)
    assert(countingJobs(Tables.documents(s, sf))._2 == 0)
  }

  test("Tables.events: ts is normalized to a timestamp over the memoized schema") {
    val s = spark.newSession()
    val raw = s.read.parquet(s"$sf/events.parquet")
    assert(Tables(s, sf, "events").schema == raw.schema)
    val ev = Tables.events(s, sf)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(Tables.events(s, sf).exceptAll(ev).isEmpty)
    assert(ev.count() == raw.count())
  }
}
