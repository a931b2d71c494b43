package graft

import java.util.concurrent.TimeUnit

/** The scratch roots of the index-writing queries (q207, q212–q215)
  * belong to the SparkContext ([[graft.util.TempRoots]]): a child JVM
  * runs q212 and q213 through [[RunQuery]] under a private
  * `java.io.tmpdir`, and once it has exited no `graft_q2*` root is left
  * there. */
class TempRootsSpec extends SparkSpec {

  test("q212 and q213 in a child JVM leave no graft_q2* root under its " +
    "java.io.tmpdir") {
    val tmp = tempDir("child_tmp").toFile
    val logs = tempDir("child_log").toFile
    for (q <- Seq("q212_index_delete", "q213_filtered_ann")) {
      val log = new java.io.File(logs, s"$q.log")
      val pb = new ProcessBuilder(SparkSpec.childJvm("graft.RunQuery",
          Seq("-Xmx1g", s"-Djava.io.tmpdir=$tmp"), Seq(q, sf)): _*)
        .redirectErrorStream(true).redirectOutput(log)
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      val p = pb.start()
      assert(p.waitFor(300, TimeUnit.SECONDS), s"$q: child JVM did not finish")
      def tail = scala.io.Source.fromFile(log).getLines().toSeq
        .takeRight(30).mkString("\n")
      assert(p.exitValue() === 0, s"$q failed:\n$tail")
      val left = Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_q2"))
      assert(left.isEmpty, s"$q left $left under $tmp")
    }
  }
}
