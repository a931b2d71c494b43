package graft.util

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/** Independent query arms run as concurrent driver threads (guide §2.6
  * "overlap independent jobs"). The index-lifecycle audits are chains
  * of tiny write→probe→mutate→re-probe jobs whose cost is almost all
  * per-job scheduling latency, and their arms touch DISJOINT
  * directories/state, so running them in sequence leaves the cluster
  * idle between micro-jobs. Order WITHIN an arm is kept; only arms
  * overlap. None of the arms mutates session conf.
  */
object Concurrent {

  /** Run `arms` concurrently and return their results in order.
    *
    * Every arm's jobs carry one job tag per call. When an arm throws,
    * the other arms' jobs are cancelled through that tag (again for any
    * job they start afterwards); every arm is waited for, and the first
    * error is rethrown.
    *
    * Each arm gets its own new thread, not a pooled one: a thread
    * inherits its creator's Spark local properties (job tags, scheduler
    * pool), so an arm that nests another call passes its tag on, and no
    * bounded pool can deadlock on the nesting. */
  def all[A](spark: SparkSession)(arms: (() => A)*): Seq[A] = {
    val sc = spark.sparkContext
    val tag = s"graft-arms-${java.util.UUID.randomUUID()}"
    val results = new Array[Any](arms.size)
    val failure = new AtomicReference[Throwable]()
    val threads = arms.zipWithIndex.map { case (arm, i) =>
      val t = new Thread(() => {
        sc.addJobTag(tag)
        try results(i) = arm()
        catch { case e: Throwable =>
          if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag) }
      }, s"$tag-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach { t =>
      while ({ t.join(100); t.isAlive })
        if (failure.get != null) sc.cancelJobsWithTag(tag)
    }
    Option(failure.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[A]]
  }
}
