package graft

import scala.sys.process.{Process, ProcessLogger}

import org.json4s.JString
import org.json4s.jackson.JsonMethods

/** `graft.Bench`, run as its own JVM the way a harness runs it, ends its
  * stdout with the bench contract line: one bare JSON object with
  * `"metric":"total"`, no log prefix and nothing after it. */
class BenchContractSpec extends SparkSpec {
  test("graft.Bench's last stdout line parses as the total contract JSON") {
    val detail = java.nio.file.Files.createTempFile("bench-detail", ".json")
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ Bench.jdk17AddOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), "graft.Bench")
    val stdout, stderr = new java.util.concurrent.ConcurrentLinkedDeque[String]()
    val child = Process(cmd, None,
      "SPARK_GRAFT_SF_DIR" -> sfDir,
      "SPARK_GRAFT_BENCH_ONLY" -> "q6_filter",
      // keep the detail file out of the working tree
      "SPARK_GRAFT_BENCH_DETAIL" -> detail.toString)
      .run(ProcessLogger(stdout.add(_), stderr.add(_)))
    val deadline = System.nanoTime() + 300L * 1000000000L
    while (child.isAlive() && System.nanoTime() < deadline) Thread.sleep(200)
    if (child.isAlive()) child.destroy()
    java.nio.file.Files.deleteIfExists(detail)
    def stderrTail = stderr.toArray.takeRight(20).mkString("\n")
    assert(child.exitValue() == 0, stderrTail)
    assert(!stdout.isEmpty, stderrTail)
    val json = JsonMethods.parse(stdout.getLast)
    assert(json \ "metric" == JString("total"), stdout.getLast)
    assert((json \ "queries" \ "q6_filter").toOption.isDefined, stdout.getLast)
  }
}
