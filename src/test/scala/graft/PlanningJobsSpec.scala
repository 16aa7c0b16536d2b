package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** A query runs no Spark job before its own: table reads reuse cached
  * parquet footer schemas (`Tables.parquet`), and a small result sort
  * gathers into one partition instead of sampling a range
  * (`graft.plans.SmallResultSort`). Jobs are counted with a listener. */
class PlanningJobsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Names of the jobs `body` runs on this thread. A marker job run after
    * it flushes the listener bus: events arrive in order, so once the
    * marker's start is seen, every job of `body` has been counted. */
  private def jobsOf[T](s: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = s.sparkContext
    val group = s"planning-jobs-${java.util.UUID.randomUUID()}"
    val names = new ConcurrentLinkedQueue[String]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => names.add(e.stageInfos.map(_.name).mkString(" | "))
          case g if g == s"$group-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (r, names.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  private def tmpDir(): String = Files.createTempDirectory("planning-jobs").toString

  test("a second Tables.load of a table runs no job") {
    val dir = tmpDir()
    Files.copy(new java.io.File(s"$sfDir/nation.parquet").toPath,
      new java.io.File(s"$dir/nation.parquet").toPath)
    val (_, first) = jobsOf(spark)(Tables.load(spark, dir, "nation"))
    assert(first.nonEmpty, "the first read infers the footer schema")
    val (df, second) = jobsOf(spark)(Tables.load(spark, dir, "nation"))
    assert(second.isEmpty, s"second load ran ${second.size} jobs: $second")
    assert(df.count() == 25)
  }

  test("a rewritten table file is re-inferred: its new column becomes visible") {
    val dir = tmpDir()
    val path = s"$dir/region.parquet"
    val fixture = spark.read.parquet(s"$sfDir/region.parquet")
    fixture.coalesce(1).write.parquet(path)
    assert(!Tables.load(spark, dir, "region").columns.contains("r_extra"))
    val (_, cached) = jobsOf(spark)(Tables.load(spark, dir, "region"))
    assert(cached.isEmpty, s"cached load ran ${cached.size} jobs: $cached")
    Thread.sleep(10) // a new mtime even on coarse clocks
    fixture.withColumn("r_extra", lit(7)).coalesce(1).write.mode("overwrite").parquet(path)
    val back = Tables.load(spark, dir, "region")
    assert(back.columns.contains("r_extra"))
    assert(back.select(sum("r_extra")).head.getLong(0) == 7L * 5)
  }

  test("events reads correctly in a new session") {
    val fresh = spark.newSession()
    val df = Tables.load(fresh, sfDir, "events")
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val sums = (s: SparkSession) => Tables.load(s, sfDir, "events")
      .agg(count(lit(1)), sum(unix_micros(col("ts")))).head
    assert(sums(fresh) == sums(spark))
    assert(sums(fresh).getLong(0) > 0)
  }

  /** A small result sort: 150 orders rows of sf0.001. */
  private def smallSort(s: SparkSession): DataFrame =
    Tables.load(s, sfDir, "orders")
      .groupBy("o_custkey").agg(sum("o_totalprice").as("total"))
      .orderBy(col("total").desc, col("o_custkey"))

  /** The result is complete and in total order. */
  private def checkSorted(rows: Array[org.apache.spark.sql.Row]): Unit = {
    val customers = Tables.load(spark, sfDir, "orders").select("o_custkey").distinct().count()
    assert(rows.length == customers)
    val keys = rows.toSeq.map(r => (-r.getDouble(1), r.getLong(0)))
    assert(keys == keys.sorted)
  }

  /** Runs `smallSort` and returns its exchanges' partitionings and the
    * number of sampling jobs: every job beyond one per shuffle stage (AQE
    * runs each as its own job) and the result job. */
  private def sampleJobs(s: SparkSession): (Seq[Partitioning], Int) = {
    val df = smallSort(s)
    val (rows, jobs) = jobsOf(s)(df.collect())
    checkSorted(rows)
    val parts = exchanges(df).map(_.outputPartitioning)
    val stageJobs = if (s.conf.get("spark.sql.adaptive.enabled") == "true") parts.size else 0
    (parts, jobs.size - stageJobs - 1)
  }

  private def checkGathered(s: SparkSession): Unit = {
    val (parts, samples) = sampleJobs(s)
    assert(parts.contains(SinglePartition), parts)
    assert(!parts.exists(_.isInstanceOf[RangePartitioning]), parts)
    assert(samples == 0, s"$samples sampling jobs")
  }

  test("a small result sort gathers into one partition, with AQE on") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    checkGathered(spark)
  }

  test("a small result sort gathers into one partition, with AQE off") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    checkGathered(s)
  }

  test("a result sort larger than the advisory partition size keeps range partitioning") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    val (parts, samples) = sampleJobs(s)
    assert(parts.exists(_.isInstanceOf[RangePartitioning]), parts)
    assert(samples == 1, s"$samples sampling jobs")
  }

  test("CREATE TABLE AS SELECT ... ORDER BY keeps its range-partitioned files") {
    // 2M generated rows: a few MB, small enough for a result sort to gather,
    // large enough for AQE to keep several range partitions
    val name = s"pj_ctas_${System.nanoTime()}"
    sqlx.TrinoDialect.sql(spark, sfDir, s"CREATE TABLE $name AS SELECT x, CAST(x AS BIGINT) * 7919 % 1000003 AS k " +
      "FROM UNNEST(sequence(1, 2000000)) AS t(x) ORDER BY k")
    val warehouse = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_sql_warehouse_${ProcessHandle.current().pid()}")
    val root = warehouse.listFiles().filter(_.getName.contains(name)).head
    def parquetFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val files = parquetFiles(new java.io.File(root, "data"))
    info(s"$files files")
    assert(files == 4, "one file per range partition of the write")
    sqlx.TrinoDialect.sql(spark, sfDir, s"DROP TABLE $name")
  }

  test("a DSv2 INSERT ... ORDER BY keeps one block per range partition") {
    graft.catalog.MemoryStore.register(spark)
    spark.sql("DROP TABLE IF EXISTS graft_mem.default.pj_sorted")
    spark.sql("CREATE TABLE graft_mem.default.pj_sorted (k BIGINT)")
    spark.sql("INSERT INTO graft_mem.default.pj_sorted " +
      "SELECT (id * 7919) % 1000003 AS k FROM range(0, 1000000, 1, 4) ORDER BY k")
    val back = spark.table("graft_mem.default.pj_sorted")
    info(s"${back.rdd.getNumPartitions} blocks")
    assert(back.rdd.getNumPartitions == 4)
    spark.sql("DROP TABLE graft_mem.default.pj_sorted")
  }

  test("a repartitionByRange frame keeps its 5 partitions") {
    val orders = Tables.load(spark, sfDir, "orders")
    assert(orders.repartitionByRange(5, col("o_orderkey")).rdd.getNumPartitions == 5)
    val sorted = orders.repartitionByRange(5, col("o_orderkey")).orderBy("o_orderkey")
    assert(sorted.rdd.getNumPartitions == 5)
  }
}
