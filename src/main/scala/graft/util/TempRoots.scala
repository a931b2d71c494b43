package graft.util

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Scratch roots of queries whose result frames are planned over files
  * the query wrote: a later action reads them, so the query cannot
  * delete its root when it returns. The owner is the SparkContext —
  * a root is deleted when its context stops (the listener's
  * `onApplicationEnd`), and a JVM shutdown hook deletes whatever a
  * context that never stopped left behind. */
object TempRoots {

  private val owners = new ConcurrentHashMap[Path, SparkContext]()
  private val listening = ConcurrentHashMap.newKeySet[SparkContext]()
  private lazy val shutdownHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => owners.keySet.forEach(p => delete(p))))

  /** A new directory under `java.io.tmpdir` named `prefix…`, deleted
    * when `spark`'s SparkContext stops. */
  def create(spark: SparkSession, prefix: String): String = {
    shutdownHook
    val sc = spark.sparkContext
    if (listening.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        listening.remove(sc)
        owners.forEach((p, owner) => if (owner eq sc) delete(p))
      }
    })
    val root = Files.createTempDirectory(prefix)
    owners.put(root, sc)
    root.toString
  }

  private def delete(root: Path): Unit = {
    owners.remove(root)
    FileUtils.deleteQuietly(root.toFile)
  }
}
