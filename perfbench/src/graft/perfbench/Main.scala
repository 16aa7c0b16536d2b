package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark runner: runs one workload in this JVM and writes a JSON result
  * file that `run.py` turns into the benchmark's result line.
  *
  *   graft.perfbench.Main --workload <w> --data <dir> --plan <json> --out <json>
  *       --seed <n> --seconds <s> --trace <0|1> --spans <jsonl> --warmup-cap <s>
  *   graft.perfbench.Main --dump-oracles <json>
  *
  * Every workload calls graft's public entry points only: `SparkEntry.queries`
  * (headline_df), `StatementServer.start` + `StatementClient.execute`
  * (sql_interactive, cow_dml). Layer probes call `SqlParser`, `SqlFrontend`
  * and `TrinoDialect.sql` from here, around the calls into each layer. */
object Main {

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    arg(args, "--dump-oracles") match {
      case Some(path) =>
        val m = graft.SparkEntry.oracleSql
        val body = graft.Bench.headline.map(n => JField(n, JString(m(n))))
        Files.write(Paths.get(path), JsonMethods.compact(JObject(body.toList)).getBytes("UTF-8"))
        return
      case None =>
    }
    val cfg = Config(
      workload = arg(args, "--workload").get,
      data = arg(args, "--data").get,
      plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(arg(args, "--plan").get)), "UTF-8")),
      out = Paths.get(arg(args, "--out").get),
      seed = arg(args, "--seed").get.toLong,
      seconds = arg(args, "--seconds").get.toDouble,
      trace = arg(args, "--trace").contains("1"),
      spansPath = Paths.get(arg(args, "--spans").get),
      warmupCap = arg(args, "--warmup-cap").get.toDouble)
    val result = new Run(cfg).execute()
    Files.write(cfg.out, JsonMethods.compact(result).getBytes("UTF-8"))
    // statement-server and HTTP-client pools are daemon threads; exit now
    System.exit(0)
  }
}

final case class Config(workload: String, data: String, plan: JValue,
    out: java.nio.file.Path, seed: Long, seconds: Double, trace: Boolean,
    spansPath: java.nio.file.Path, warmupCap: Double)

/** One benchmark run: setup, warm-up, measurement, checks, layer probes. */
final class Run(cfg: Config) {
  private val spans = new Spans(cfg.trace)
  private val stats = new GroupStats
  private val events = new ServerEvents
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  /** The engine runs on local[nproc]. */
  private val cores = Runtime.getRuntime.availableProcessors()
  private val info = mutable.LinkedHashMap.empty[String, JValue]

  /** One measured op: latency, kind, and what the checker needs. */
  final case class Op(name: String, kind: String, startMs: Double, ms: Double,
      digest: String, error: String, index: Int, client: Int, rows: Long,
      updated: Long = 0L, id: Long = 0L)
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()

  private val opIds = new java.util.concurrent.atomic.AtomicLong(0L)
  /** SQL text of each recorded statement op (traced runs), to pair its
    * client span with the server's statement. */
  private val opSql = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  @volatile private var windowStartMs = 0.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def strs(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case _ => Seq.empty
  }

  def execute(): JValue = {
    val spark = graft.engine.GraftSession.builder(master = s"local[$cores]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(stats)
    graft.server.EventListeners.register(events)
    val sessionReadyS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    info("spark_version") = JString(spark.version)
    info("jdk") = JString(System.getProperty("java.version"))
    info("nproc") = JInt(cores)
    info("heap_max_mb") = JInt(Runtime.getRuntime.maxMemory >> 20)

    val (setupTimes, workerSession, server) = repeatedSetup(spark)
    // the CoW table is created once, after the repeated session setup
    val c0 = System.nanoTime()
    strs(cfg.plan \ "setup").foreach(graft.sqlx.TrinoDialect.sql(workerSession, cfg.data, _))
    val ctasS = (System.nanoTime() - c0) / 1e9
    info("ctas_s") = JDouble(ctasS)
    val setupS = sessionReadyS + median(setupTimes) + ctasS
    info("jvm_to_session_s") = JDouble(sessionReadyS)
    info("session_setup_s") = JArray(setupTimes.map(JDouble(_)).toList)

    val (warmupS, measuredS, extra) = cfg.workload match {
      case "headline_df" => headline(workerSession)
      case "sql_interactive" => sqlInteractive(workerSession, server.get)
      case "cow_dml" => cowDml(workerSession, server.get)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val e0 = System.nanoTime()
    stats.settle()
    if (cfg.trace) {
      spanLayers()
      sparkLayers(measuredS)
      probes(workerSession)
      calibration(spark)
    }
    server.foreach(_.stop())
    // live heap after a full collection, and storage memory still held
    val retainedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    if (cfg.trace) spans.write(cfg.spansPath)
    spark.stop()
    info("end_s") = JDouble((System.nanoTime() - e0) / 1e9)

    val opsJson = ops.asScala.toSeq.sortBy(o => (o.startMs, o.client)).map { o =>
      JObject(List("name" -> JString(o.name), "kind" -> JString(o.kind),
        "start" -> JDouble(o.startMs), "ms" -> JDouble(o.ms), "digest" -> JString(o.digest),
        "error" -> (if (o.error == null) JNull else JString(o.error)),
        "index" -> JInt(o.index), "client" -> JInt(o.client), "rows" -> JInt(o.rows)))
    }
    JObject(List(
      "window_start_ms" -> JDouble(windowStartMs),
      "setup_s" -> JDouble(setupS + warmupS),
      "warmup_s" -> JDouble(warmupS),
      "measured_s" -> JDouble(measuredS),
      "heap_live_mb" -> JDouble(heapMb),
      "retained_storage_mb" -> JDouble(retainedMb),
      "ops" -> JArray(opsJson.toList),
      "extra" -> extra,
      "layers" -> JObject(layers.toList.map { case (k, v) => k -> JDouble(v) }),
      "info" -> JObject(info.toList)))
  }

  // ------------------------------------------------------------ setup

  private val SetupRepeats = 3

  /** The per-session part of setup, repeated: a fresh session with fixture
    * views and functions registered, plus the statement server where the
    * workload uses it. The last repetition is kept. */
  private def repeatedSetup(spark: SparkSession)
      : (Seq[Double], SparkSession, Option[graft.server.StatementServer.Handle]) = {
    var session: SparkSession = null
    var server: Option[graft.server.StatementServer.Handle] = None
    val times = (1 to SetupRepeats).map { _ =>
      server.foreach(_.stop())
      val t0 = System.nanoTime()
      session = spark.newSession()
      graft.sources.Tables.registerAll(session, cfg.data)
      graft.functions.Registry.registerAll(session)
      if (cfg.workload != "headline_df")
        server = Some(graft.server.StatementServer.start(session, cfg.data))
      (System.nanoTime() - t0) / 1e9
    }
    (times, session, server)
  }

  // ------------------------------------------------------------ headline_df

  /** Run one headline query into a digest sink: the same single job over
    * the final plan that a noop write runs, with every output row hashed. */
  private def runHeadline(spark: SparkSession, name: String, group: String): (String, DataFrame) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, name)
    try {
      val df = graft.SparkEntry.queries(name)(spark, cfg.data)
      (engineDigest(sc, df), df)
    } finally sc.clearJobGroup()
  }

  private def engineDigest(sc: org.apache.spark.SparkContext, df: DataFrame): String = {
    val schema = df.schema
    val order = Digest.nameOrder(schema.fieldNames.toSeq)
    val parts = sc.runJob(df.queryExecution.toRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        Digest.internalPartition(it, schema, order))
    parts.foldLeft(Digest.Zero)(_ + _).render
  }

  /** Client id of warm-up ops; only failed ones are kept, and count as failed. */
  private val WarmupClient = -1

  private def warmupFailed(name: String, e: Throwable): Unit =
    ops.add(Op(name, "read", 0.0, 0.0, "", String.valueOf(e.getMessage), -1, WarmupClient, 0L))

  private val phaseMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def phasesOf(df: DataFrame): Seq[(String, Double)] =
    df.queryExecution.tracker.phases.toSeq.map { case (phase, s) => (phase, s.durationMs.toDouble) }

  private def recordPhases(phases: Seq[(String, Double)]): Unit = phases.foreach { case (phase, ms) =>
    phaseMs.getOrElseUpdate(phase, mutable.ArrayBuffer.empty) += ms
  }

  /** The cold pass over `names` on all cores at once: each client thread
    * takes the next query until none is left. Returns its time in s. */
  private def coldPass(spark: SparkSession, names: Seq[String]): Double = {
    val p0 = System.nanoTime()
    val next = new AtomicInteger(0)
    val ts = (0 until cores).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < names.size) {
          try runHeadline(spark, names(i), "pb-warmup")
          catch { case e: Throwable => warmupFailed(names(i), e) }
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - p0) / 1e9
  }

  /** One serial pass in `order` by one closed-loop client. Returns each op
    * with its Catalyst phase times (traced runs). */
  private def serialPass(spark: SparkSession, order: Seq[String], pass: Int)
      : Seq[(Op, Seq[(String, Double)])] = order.map { n =>
    val op = opIds.incrementAndGet()
    val t0 = spans.nowMs()
    val (digest, error, df) =
      try { val (d, df) = runHeadline(spark, n, s"pb-op-$op"); (d, null, df) }
      catch { case e: Throwable => ("", String.valueOf(e.getMessage), null) }
    val t1 = spans.nowMs()
    (Op(n, "read", t0, t1 - t0, digest, error, pass, 0,
      if (digest.isEmpty) 0L else digest.takeWhile(_ != ':').toLong, id = op),
      if (df != null && cfg.trace) phasesOf(df) else Seq.empty)
  }

  /** JVM-wide GC, JIT-compile and process CPU seconds, and Spark's count
    * of generated classes compiled: context for the measured passes. */
  private def jvmCounters(): Seq[(String, Double)] = {
    import java.lang.management.ManagementFactory
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    Seq(
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "cpu_s" -> cpu,
      "codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  }

  private def headline(spark: SparkSession): (Double, Double, JValue) = {
    val names = graft.Bench.headline
    val rnd = new scala.util.Random(cfg.seed)
    // warm-up by measurement: a cold pass on all cores at once (class
    // loading, code generation and JIT compilation overlap instead of
    // queueing), then serial passes in seeded orders, each run exactly like
    // a measured pass, until one is within 10% of the pass before it or no
    // new pass may start because the cap is spent
    val w0 = System.nanoTime()
    info("warmup_cold_pass_s") = JDouble(coldPass(spark, names))
    val c0 = System.nanoTime()
    val warmTimes = mutable.ArrayBuffer.empty[Double]
    var steady = false
    do {
      val p0 = System.nanoTime()
      serialPass(spark, rnd.shuffle(names), -1).collect {
        case (o, _) if o.error != null => ops.add(o.copy(client = WarmupClient))
      }
      warmTimes += (System.nanoTime() - p0) / 1e9
      steady = warmTimes.size >= 2 &&
        math.abs(warmTimes.last / warmTimes(warmTimes.size - 2) - 1) < 0.10
    } while (!steady && (System.nanoTime() - c0) / 1e9 < cfg.warmupCap)
    // measured: whole serial passes in seeded orders by one closed-loop
    // client, as many as are expected to end within --seconds (at least
    // one), so a run never measures a pass that starts near its end
    val m0 = System.nanoTime()
    windowStartMs = spans.nowMs()
    val jvm0 = jvmCounters()
    val passTimes = mutable.ArrayBuffer.empty[Double]
    while (passTimes.isEmpty || (System.nanoTime() - m0) / 1e9 + passTimes.last <= cfg.seconds) {
      val p0 = System.nanoTime()
      serialPass(spark, rnd.shuffle(names), passTimes.size).foreach { case (o, phases) =>
        spans.record("client.op", o.startMs, o.startMs + o.ms, 0L, o.id)
        recordPhases(phases)
        ops.add(o)
      }
      passTimes += (System.nanoTime() - p0) / 1e9
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    info("warmup_serial_pass_s") = JArray(warmTimes.map(JDouble(_)).toList)
    info("warmup_converged") = JBool(steady)
    info("serial_pass_s") = JArray(passTimes.map(JDouble(_)).toList)
    info("measured_jvm") = JObject(jvmCounters().zip(jvm0).map { case ((k, a), (_, b)) =>
      k -> JDouble(a - b) }.toList)
    ((m0 - w0) / 1e9, measuredS, JObject("passes" -> JInt(passTimes.size)))
  }

  // ------------------------------------------------------------ statement ops

  /** One statement through the HTTP protocol, timed and digested. */
  private def statement(base: String, sql: String, kind: String, index: Int,
      client: Int, record: Boolean): Op = {
    val op = opIds.incrementAndGet()
    val t0 = spans.nowMs()
    val (digest, error, rows, updated) =
      try {
        val r = graft.client.StatementClient.execute(base, sql)
        (Digest.external(r.columns.map(_.name), r.rows), null, r.rows.size.toLong,
          r.updateCount.getOrElse(0L))
      } catch { case e: Throwable => ("", String.valueOf(e.getMessage), 0L, 0L) }
    val t1 = spans.nowMs()
    val o = Op(kind, kind, t0, t1 - t0, digest, error, index, client, rows, updated, op)
    if (record) {
      spans.record("client.execute", t0, t1, 0L, op)
      if (cfg.trace) opSql.put(op, sql)
      ops.add(o)
    }
    o
  }

  /** Closed-loop clients: client c runs `step(c, record)` back to back until
    * `endNs` or until its step returns None; the op in flight at `endNs`
    * completes. Returns the completed ops' latencies. */
  private def closedLoop(clients: Int, endNs: Long, record: Boolean)
      (step: (Int, Boolean) => Option[Op]): Seq[Double] = {
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val ts = (0 until clients).map { c =>
      new Thread(() => {
        var more = true
        while (more && System.nanoTime() < endNs) step(c, record) match {
          case Some(o) => lat.add(o.ms)
          case None => more = false
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    lat.asScala.toSeq
  }

  /** Warm-up by measurement: 3 s windows of `step` until the mean median
    * latency of the last two windows is within 5% of the two before (at
    * least four windows), or the warm-up cap is spent after the first
    * (cold) window. Latency keeps drifting down for tens of seconds here
    * (fresh statement texts keep the code generator and JIT busy), so a
    * single noisy window must not end the warm-up. Failed warm-up ops
    * still count as failed. */
  private def warmWindows(clients: Int)(step: (Int, Boolean) => Option[Op]): Double = {
    def window(): Double =
      median(closedLoop(clients, System.nanoTime() + 3000000000L, record = false)(step))
    val w0 = System.nanoTime()
    val windows = mutable.ArrayBuffer(window())
    val c0 = System.nanoTime()
    var steady = false
    while (!steady && (System.nanoTime() - c0) / 1e9 < cfg.warmupCap) {
      windows += window()
      val n = windows.size
      steady = n >= 4 &&
        math.abs((windows(n - 1) + windows(n - 2)) / (windows(n - 3) + windows(n - 4)) - 1) < 0.05
    }
    info("warmup_window_p50_ms") = JArray(windows.map(JDouble(_)).toList)
    info("warmup_converged") = JBool(steady)
    (System.nanoTime() - w0) / 1e9
  }

  private def sqlInteractive(spark: SparkSession,
      server: graft.server.StatementServer.Handle): (Double, Double, JValue) = {
    val clients = (cfg.plan \ "clients") match {
      case JArray(cs) => cs.map(strs(_).toIndexedSeq).toIndexedSeq
      case _ => IndexedSeq.empty
    }
    val warm = strs(cfg.plan \ "warmup").toIndexedSeq
    val next = new AtomicInteger(0)
    val warmupS = warmWindows(clients.size) { (c, _) =>
      val i = next.getAndIncrement() % warm.size
      val o = statement(server.uri, warm(i), "read", i, WarmupClient, record = false)
      if (o.error != null) ops.add(o)
      Some(o)
    }
    val pos = Array.fill(clients.size)(0)
    val h0 = graft.sqlx.PlanCache.hits.get
    val m0h = graft.sqlx.PlanCache.misses.get
    events.completed.clear()
    val m0 = System.nanoTime()
    windowStartMs = spans.nowMs()
    closedLoop(clients.size, m0 + (cfg.seconds * 1e9).toLong, record = true) { (c, rec) =>
      val i = pos(c)
      if (i >= clients(c).size) None
      else { pos(c) += 1; Some(statement(server.uri, clients(c)(i), "read", i, c, rec)) }
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    cacheRatio(h0, m0h)
    (warmupS, measuredS, JNull)
  }

  private def cacheRatio(h0: Long, m0: Long): Unit = {
    val hits = graft.sqlx.PlanCache.hits.get - h0
    val misses = graft.sqlx.PlanCache.misses.get - m0
    layers("sqlx.plan_cache_hit_ratio") =
      if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)
  }

  // ------------------------------------------------------------ cow_dml

  private def tableRoot(): Option[java.io.File] = {
    val wh = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_sql_warehouse_${ProcessHandle.current().pid()}")
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cow_t_"))
      .sortBy(_.getName).lastOption
  }

  private def treeFiles(root: java.io.File): Seq[java.io.File] =
    if (root == null || !root.exists()) Seq.empty
    else scala.util.Using.resource(Files.walk(root.toPath))(
      _.iterator().asScala.map(_.toFile).filter(_.isFile).toList)

  /** Client 0 writes: in the measured window it sends the DML stream in
    * order from its first op (its own SELECTs included), so the executed
    * prefix can be replayed. Clients 1.. read: dashboard templates and key
    * ranges of the CoW table's original rows, whose answers no write
    * changes. Warm-up windows and the measured window are timed on the
    * readers. */
  private def cowDml(spark: SparkSession,
      server: graft.server.StatementServer.Handle): (Double, Double, JValue) = {
    val stream = (cfg.plan \ "ops") match {
      case JArray(xs) => xs.map(o => (
        (o \ "sql").asInstanceOf[JString].s, (o \ "kind").asInstanceOf[JString].s)).toIndexedSeq
      case _ => IndexedSeq.empty
    }
    val readers = (cfg.plan \ "readers") match {
      case JArray(cs) => cs.map(strs(_).toIndexedSeq).toIndexedSeq
      case _ => IndexedSeq.empty
    }
    val root = tableRoot().orNull
    var i = 0 // writer position in the stream
    val pos = Array.fill(readers.size)(0)
    var filesWritten = 0L
    var bytesWritten = 0L
    var rowsChanged = 0L
    var writes = 0L
    // files added by each write: traced runs only, since the table walks
    // would sit between the writer's ops in the measured window
    def write(): Option[Op] =
      if (i >= stream.size) None
      else {
        val (sql, kind) = stream(i)
        val tracked = cfg.trace && kind == "write"
        val before = if (tracked) treeFiles(root).map(_.getPath).toSet else Set.empty[String]
        val o = statement(server.uri, sql, kind, i, 0, record = true)
        if (tracked) {
          val added = treeFiles(root).filterNot(f => before.contains(f.getPath))
          filesWritten += added.count(_.getName.endsWith(".parquet"))
          bytesWritten += added.map(_.length).sum
          rowsChanged += o.updated
          writes += 1
        }
        i += 1
        Some(o)
      }
    def read(c: Int, rec: Boolean): Option[Op] = {
      val k = pos(c) % readers(c).size
      pos(c) += 1
      val o = statement(server.uri, readers(c)(k), "read", k, if (rec) c + 1 else WarmupClient, rec)
      if (!rec && o.error != null) ops.add(o)
      Some(o)
    }
    // the writer runs back to back: during warm-up it sends its warm-up
    // stream to the warm-up table; the measured stream starts with the window
    val warmOps = strs(cfg.plan \ "warm_ops").toIndexedSeq
    @volatile var stopWriter = false
    def writer(body: => Boolean): Thread = {
      val t = new Thread(() => { while (!stopWriter && body) () })
      t.start(); t
    }
    var w = 0
    val warmWriter = writer {
      val o = statement(server.uri, warmOps(w % warmOps.size), "write", w, WarmupClient, record = false)
      if (o.error != null) ops.add(o)
      w += 1
      true
    }
    val warmupS = warmWindows(readers.size)(read)
    stopWriter = true
    warmWriter.join()
    stopWriter = false
    val h0 = graft.sqlx.PlanCache.hits.get
    val m0h = graft.sqlx.PlanCache.misses.get
    events.completed.clear()
    val m0 = System.nanoTime()
    windowStartMs = spans.nowMs()
    val measuredWriter = writer(write().isDefined)
    closedLoop(readers.size, m0 + (cfg.seconds * 1e9).toLong, record = true)(read)
    stopWriter = true
    measuredWriter.join()
    val measuredS = (System.nanoTime() - m0) / 1e9
    cacheRatio(h0, m0h)

    // end-of-run state (not timed): final table digest and space amplification
    val finalDigest = engineDigest(spark.sparkContext,
      graft.sqlx.TrinoDialect.sql(spark, cfg.data, "SELECT * FROM cow_t"))
    // space amplification needs a fresh copy of the final table: traced runs only
    val spaceAmp = if (!cfg.trace) 0.0 else {
      val rootBytes = treeFiles(root).map(_.length).sum
      graft.sqlx.TrinoDialect.sql(spark, cfg.data, "CREATE OR REPLACE TABLE cow_fresh AS SELECT * FROM cow_t")
      val fresh = Option(root.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cow_fresh_")).sortBy(_.getName).last
      rootBytes.toDouble / math.max(1L, treeFiles(fresh).map(_.length).sum)
    }
    if (cfg.trace) {
      layers("catalog.files_written_per_write") = if (writes == 0) 0.0 else filesWritten.toDouble / writes
      layers("catalog.bytes_written_per_write") = if (writes == 0) 0.0 else bytesWritten.toDouble / writes
      layers("catalog.table_files_end") = treeFiles(root).count(f =>
        f.getName.endsWith(".parquet") && f.getPath.contains("/data/")).toDouble
    }
    (warmupS, measuredS, JObject(
      "executed" -> JInt(i),
      "final_digest" -> JString(finalDigest),
      "write_bytes_per_row" -> JDouble(if (rowsChanged == 0) 0.0 else bytesWritten.toDouble / rowsChanged),
      "space_amp" -> JDouble(spaceAmp),
      "writes" -> JInt(writes), "rows_changed" -> JInt(rowsChanged)))
  }

  // ------------------------------------------------------------ layers

  private def p50(xs: Iterable[Double]): Double = median(xs.toSeq)

  /** Client and server self times from the spans and the server events. */
  private def spanLayers(): Unit = {
    val done = events.completed.asScala.toSeq
    if (done.nonEmpty) {
      // each client span gets the server statement with its SQL text that
      // was created and ended inside it (the event clock is epoch ms);
      // client self time is the span minus it
      val matched = spans.all.filter(_.name == "client.execute").flatMap { s =>
        val sql = opSql.get(s.op)
        done.filter(e => e.query == sql && e.createMs >= s.start - 1 && e.endMs <= s.end + 1)
          .sortBy(e => math.abs(e.createMs - s.start)).headOption.map { e =>
            spans.record("server.statement", e.createMs.toDouble, e.endMs.toDouble, s.id, s.op)
            (s.end - s.start) - (e.endMs - e.createMs)
          }
      }
      layers("client.overhead_ms_p50") = p50(matched)
      layers("server.pool_wait_ms_p50") =
        p50(done.map(e => math.max(0L, (e.endMs - e.createMs) - e.elapsedMs).toDouble))
      layers("server.exec_ms_p50") = p50(done.map(_.elapsedMs.toDouble))
      layers("server.rows_per_op") = done.map(_.rows).sum.toDouble / done.size
    }
  }

  /** Spark counters per op, from the job groups of the measured ops. */
  private def sparkLayers(measuredS: Double): Unit = {
    val opsSeq = ops.asScala.toSeq.filter(_.error == null)
    val nOps = math.max(1, opsSeq.size).toDouble
    val measured: Seq[GroupStats#Group] = cfg.workload match {
      case "headline_df" =>
        val ids = opsSeq.map(o => s"pb-op-${o.id}").toSet
        stats.snapshot(ids.contains).map(_._2)
      case _ =>
        val ids = events.completed.asScala.map(e => s"graft-stmt-${e.id}").toSet
        stats.snapshot(ids.contains).map(_._2)
    }
    def sum(f: GroupStats#Group => Double) = measured.map(f).sum
    // job time as the union of each group's job intervals
    def union(iv: Seq[(Long, Long)]): Double = {
      var total = 0L; var curS = -1L; var curE = -1L
      iv.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total.toDouble
    }
    val jobMs = sum(g => union(g.jobIntervals.toSeq))
    val opMs = cfg.workload match {
      case "headline_df" => opsSeq.map(_.ms).sum
      case _ => events.completed.asScala.map(e => (e.endMs - e.createMs).toDouble).sum
    }
    layers("spark.jobs_per_op") = sum(_.jobs.toDouble) / nOps
    layers("spark.stages_per_op") = sum(_.stages.toDouble) / nOps
    layers("spark.tasks_per_op") = sum(_.tasks.toDouble) / nOps
    layers("spark.job_ms_per_op") = jobMs / nOps
    layers("spark.driver_ms_per_op") = math.max(0.0, opMs - jobMs) / nOps
    layers("spark.sched_delay_ms_per_op") = sum(_.schedDelayMs.toDouble) / nOps
    layers("spark.task_run_s_per_op") = sum(_.runMs.toDouble) / 1e3 / nOps
    layers("spark.task_cpu_s_per_op") = sum(_.cpuNs.toDouble) / 1e9 / nOps
    layers("spark.core_busy_frac") = sum(_.runMs.toDouble) / 1e3 / (cores * measuredS)
    layers("spark.shuffle_write_mb_per_op") = sum(_.shuffleWrite.toDouble) / 1048576.0 / nOps
    layers("spark.shuffle_read_mb_per_op") = sum(_.shuffleRead.toDouble) / 1048576.0 / nOps
    layers("spark.spill_mb_per_op") = sum(_.spill.toDouble) / 1048576.0 / nOps
    layers("spark.gc_s_per_op") = sum(_.gcMs.toDouble) / 1e3 / nOps
    layers("spark.peak_exec_mem_mb") =
      if (measured.isEmpty) 0.0 else measured.map(_.peakMem).max / 1048576.0
    layers("sources.input_mb_per_op") = sum(_.inputBytes.toDouble) / 1048576.0 / nOps
    val rowsOut = opsSeq.map(_.rows).sum
    layers("sources.rows_read_per_row_out") =
      if (rowsOut == 0) 0.0 else sum(_.inputRecords.toDouble) / rowsOut

    if (cfg.workload == "headline_df") {
      val groups = stats.snapshot(_.startsWith("pb-op-")).toMap
      val byName = opsSeq.groupBy(_.name)
      graft.Bench.headline.foreach { n =>
        val os = byName.getOrElse(n, Seq.empty)
        val gs = os.flatMap(o => groups.get(s"pb-op-${o.id}"))
        val k = math.max(1, os.size).toDouble
        layers(s"op.$n.jobs") = gs.map(_.jobs).sum / k
        layers(s"op.$n.task_cpu_s") = gs.map(_.cpuNs).sum / 1e9 / k
        layers(s"op.$n.wall_ms_p50") = p50(os.map(_.ms))
      }
      // job spans under each op span, so op self time is visible in the span file
      spans.all.filter(_.name == "client.op").foreach { s =>
        groups.get(s"pb-op-${s.op}").foreach(_.jobIntervals.foreach { case (a, b) =>
          spans.record("spark.job", a.toDouble, b.toDouble, s.id, s.op)
        })
      }
      Seq("analysis" -> "catalyst.analysis_ms_p50",
        "optimization" -> "catalyst.optimization_ms_p50",
        "planning" -> "catalyst.planning_ms_p50").foreach { case (ph, key) =>
        layers(key) = p50(phaseMs.getOrElse(ph, Seq.empty))
      }
    }
  }

  /** Front-door layer probes over the statement texts the run executed,
    * after the measured window: parse, frontend and Catalyst phase times,
    * grammar fallbacks, and files scanned per CoW read. */
  private def probes(spark: SparkSession): Unit = {
    val texts: Seq[String] = cfg.workload match {
      case "sql_interactive" => (cfg.plan \ "clients") match {
        case JArray(cs) => cs.flatMap(strs)
        case _ => Seq.empty
      }
      case "cow_dml" => ((cfg.plan \ "ops") match {
        case JArray(xs) => xs.map(o => (o \ "sql").asInstanceOf[JString].s)
        case _ => Seq.empty
      }) ++ ((cfg.plan \ "readers") match {
        case JArray(cs) => cs.flatMap(strs)
        case _ => Seq.empty
      })
      case _ => Seq.empty
    }
    if (texts.isEmpty) return
    val distinct = texts.distinct
    var fallbacks = 0
    val parseMs = mutable.ArrayBuffer.empty[Double]
    distinct.foreach { t =>
      val t0 = System.nanoTime()
      try new graft.sqlx.SqlParser(t).parseStatement()
      catch { case _: graft.sqlx.SqlParseException => fallbacks += 1 }
      parseMs += (System.nanoTime() - t0) / 1e6
    }
    layers("sqlx.parser_fallbacks") = fallbacks.toDouble
    layers("sqlx.parse_ms_p50") = p50(parseMs)
    val reads = distinct.filter(_.trim.toUpperCase.startsWith("SELECT")).take(40)
    val frontMs = mutable.ArrayBuffer.empty[Double]
    val filesScanned = mutable.ArrayBuffer.empty[Double]
    reads.foreach { t =>
      val op = opIds.incrementAndGet()
      val t0 = spans.nowMs()
      val df = graft.sqlx.SqlFrontend.run(spark, cfg.data, t)
      val t1 = spans.nowMs()
      spans.record("sqlx.frontend", t0, t1, 0L, op)
      frontMs += t1 - t0
      df.queryExecution.executedPlan
      recordPhases(phasesOf(df))
      if (t.contains("cow_t")) {
        df.queryExecution.toRdd.count()
        filesScanned += scanFiles(df.queryExecution.executedPlan)
      }
    }
    layers("sqlx.frontend_ms_p50") = p50(frontMs)
    Seq("analysis" -> "catalyst.analysis_ms_p50",
      "optimization" -> "catalyst.optimization_ms_p50",
      "planning" -> "catalyst.planning_ms_p50").foreach { case (ph, key) =>
      layers(key) = p50(phaseMs.getOrElse(ph, Seq.empty))
    }
    if (filesScanned.nonEmpty)
      layers("catalog.files_scanned_per_read") = filesScanned.sum / filesScanned.size
  }

  /** Files read by the scans of an executed plan (the scan's own metric). */
  private def scanFiles(plan: org.apache.spark.sql.execution.SparkPlan): Double = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(plan).flatMap(_.metrics.collect {
      case (k, m) if k == "numFiles" || k == "filesRead" => m.value.toDouble
    }).sum
  }

  /** graft.Bench's fixed-work calibration probes, recorded as context. */
  private def calibration(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{lit, pmod, sum, xxhash64}
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val cpu = timed(spark.range(0, 200L * 1000 * 1000, 1, 32)
      .select(sum(pmod(xxhash64(org.apache.spark.sql.functions.col("id")), lit(1000000007L))))
      .write.format("noop").mode("overwrite").save())
    val shuffle = timed(spark.range(0, 20L * 1000 * 1000, 1, 32)
      .groupBy((org.apache.spark.sql.functions.col("id") % 100000).as("k")).count()
      .write.format("noop").mode("overwrite").save())
    info("calibration") = JObject("cpu_hash_200m" -> JDouble(cpu), "shuffle_20m" -> JDouble(shuffle))
  }
}
