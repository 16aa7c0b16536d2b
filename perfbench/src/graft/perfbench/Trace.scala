package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory span recorder. A span is (name, start, end, parent span, op
  * id); spans of one benchmark op share the op id. Spans are kept in memory
  * while the run measures and written out once when it ends. Times are
  * epoch milliseconds as doubles (sub-millisecond precision from nanoTime). */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Long, name: String, start: Double, end: Double,
      parent: Long, op: Long)

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Current wall clock in epoch ms, monotonic within the run. */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def record(name: String, start: Double, end: Double, parent: Long, op: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, start, end, parent, op))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.id).foreach { s =>
      sb.append(f"""{"id":${s.id},"name":"${s.name}","start":${s.start}%.3f,""" +
        f""""end":${s.end}%.3f,"parent":${s.parent},"op":${s.op}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Per-job-group Spark counters from one bench-side listener. The statement
  * server already sets one job group per statement; the headline workload
  * sets one per op. */
final class GroupStats extends SparkListener {
  final class Group {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var runMs = 0L
    var cpuNs = 0L
    var schedDelayMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakMem = 0L
    var inputBytes = 0L
    var inputRecords = 0L
  }

  private val groups = mutable.HashMap.empty[String, Group]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  @volatile private var lastEventNs = System.nanoTime()

  private def g(name: String): Group = groups.getOrElseUpdate(name, new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    g(group).jobs += 1
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, group))
    jobStart(e.jobId) = (group, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobStart.remove(e.jobId).foreach { case (group, t0) =>
      g(group).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    stageGroup.get(e.stageInfo.stageId).foreach(group => g(group).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    val group = stageGroup.getOrElse(e.stageId, "")
    val s = g(group)
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      val info = e.taskInfo
      if (info != null && info.finished) {
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  /** Wait until the asynchronous listener bus has been quiet for a while. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def snapshot(filter: String => Boolean): Seq[(String, Group)] = synchronized {
    groups.toSeq.filter { case (k, _) => filter(k) }
  }
}

/** Statement-server event capture (queryCompleted payloads). */
final class ServerEvents extends graft.server.EventListeners.Listener {
  final case class Completed(id: String, query: String, elapsedMs: Long,
      rows: Long, createMs: Long, endMs: Long)
  val completed = new ConcurrentLinkedQueue[Completed]()

  override def queryCreated(json: String): Unit = ()
  override def queryCompleted(json: String): Unit = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(json)
    def num(v: JValue): Long = v match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case _ => 0L
    }
    def str(v: JValue): String = v match {
      case JString(s) => s
      case _ => ""
    }
    completed.add(Completed(str(j \ "metadata" \ "queryId"), str(j \ "metadata" \ "query"),
      num(j \ "statistics" \ "elapsedMs"),
      num(j \ "statistics" \ "totalRows"), num(j \ "createTime"), num(j \ "endTime")))
  }
}
