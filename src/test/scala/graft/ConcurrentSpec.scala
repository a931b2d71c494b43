package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.util.Concurrent

/** The concurrent-arms helper: results come back in arm order (nested
  * calls included), and a failing arm cancels its siblings' jobs before
  * its error is rethrown. */
class ConcurrentSpec extends SparkSpec {

  test("arms return their results in order, nested calls included") {
    val got = Concurrent.all(spark)(
      () => spark.range(0, 10).count(),
      () => Concurrent.all(spark)(() => 1L, () => spark.range(0, 5).count()).sum,
      () => 7L)
    assert(got == Seq(10L, 6L, 7L))
  }

  test("a throwing arm cancels its sibling's slow job and is rethrown") {
    val sc = spark.sparkContext
    val tag = new AtomicReference[String]()
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Concurrent.all(spark)(
        () => {
          tag.set(sc.getJobTags().head)
          // a minute per task unless the job is cancelled
          spark.range(0, 4, 1, 4).rdd.foreachPartition { _ =>
            val ctx = TaskContext.get()
            val end = System.nanoTime() + 60L * 1000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
          }
        },
        () => {
          eventually(timeout(30.seconds), interval(20.millis)) {
            assert(sc.statusTracker.getActiveJobIds.nonEmpty)
          }
          throw new IllegalStateException("arm failed")
        })
    }
    assert(err.getMessage == "arm failed")
    assert((System.nanoTime() - t0) / 1e9 < 40.0)
    val jobs = sc.statusTracker.getJobIdsForTag(tag.get)
    assert(jobs.nonEmpty)
    // the status store trails the scheduler by the listener bus
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(jobs.forall(id => sc.statusTracker.getJobInfo(id)
        .forall(_.status != JobExecutionStatus.RUNNING)))
    }
  }
}
