package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._

import graft.plans.ReferenceLiteral
import graft.sqlx.TrinoDialect

/** Statements that differ only in numeric or date constants share their
  * generated classes (`graft.plans.ReferenceLiterals`): the constants
  * reach generated code through the `references` array, not its source
  * text, which is the codegen cache key. */
class ReferenceLiteralSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private lazy val lineitem = sources.Tables.load(spark, sfDir, "lineitem")
    .select("l_orderkey", "l_linenumber", "l_shipdate").collect()
    .map(r => (r.getLong(0), r.getInt(1),
      r.get(2).asInstanceOf[java.time.LocalDateTime].toLocalDate))

  private def run(text: String) = TrinoDialect.sql(spark, sfDir, text).collect()

  /** Runs and checks `texts(0)`, then the rest, and bounds the classes the
    * rest compiled. Inlined constants cost 2 compiles per fresh text here:
    * 18 for the 9 after the first. */
  private def assertReused(texts: Seq[String])(check: (String, Int) => Unit): Unit = {
    check(texts.head, 0)
    val before = compiles
    texts.zipWithIndex.tail.foreach { case (t, i) => check(t, i) }
    val n = compiles - before
    info(s"${texts.size - 1} fresh texts compiled $n classes")
    assert(n <= 2, s"${texts.size - 1} fresh texts compiled $n classes")
  }

  test("fresh bounds of a range filter reuse the compiled classes") {
    val bounds = (0 until 10).map(i => (100L + 37 * i, 2400L + 53 * i))
    val texts = bounds.map { case (lo, hi) =>
      s"SELECT count(*) AS c FROM lineitem WHERE l_orderkey BETWEEN $lo AND $hi" }
    assertReused(texts) { (t, i) =>
      val (lo, hi) = bounds(i)
      assert(run(t).head.getLong(0) == lineitem.count(r => r._1 >= lo && r._1 <= hi), t)
    }
  }

  test("fresh bounds of a date range reuse the compiled classes") {
    val days = (0 until 10).map(i => java.time.LocalDate.of(1993, 1, 1).plusDays(61L * i))
    val texts = days.map(d =>
      s"SELECT count(*) AS c FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '$d' " +
        s"AND CAST(l_shipdate AS DATE) < DATE '${d.plusDays(400)}'")
    assertReused(texts) { (t, i) =>
      val d = days(i)
      val want = lineitem.count(r => !r._3.isBefore(d) && r._3.isBefore(d.plusDays(400)))
      assert(run(t).head.getLong(0) == want, t)
    }
  }

  test("fresh constants of an arithmetic projection reuse the compiled classes") {
    val ks = (0 until 10).map(i => (3L + i, 11L * i + 5, 1 + i % 7))
    val texts = ks.map { case (k, j, ln) =>
      s"SELECT l_orderkey * $k + $j AS v FROM lineitem WHERE l_linenumber = $ln" }
    assertReused(texts) { (t, i) =>
      val (k, j, ln) = ks(i)
      val want = lineitem.filter(_._2 == ln).map(_._1 * k + j).sorted.toSeq
      assert(run(t).map(_.getLong(0)).sorted.toSeq == want, t)
    }
  }

  test("a reference literal renders exactly like its literal") {
    val lits = Seq(Literal(7), Literal(-7L), Literal(3.toShort), Literal(4.toByte),
      Literal(1.5f), Literal(Double.NaN), Literal(-0.25),
      Literal(java.time.LocalDate.of(1995, 3, 15)),
      Literal(java.time.Instant.parse("1995-03-15T10:20:30.123456Z")),
      Literal(java.time.LocalDateTime.of(1995, 3, 15, 10, 20, 30)))
    lits.foreach { l =>
      val r = ReferenceLiteral(l)
      assert(r.toString == l.toString && r.sql == l.sql && r.dataType == l.dataType)
      assert(r.eval(null) == l.value)
    }
    assert(lits.map(_.dataType).toSet == Set(IntegerType, LongType, ShortType, ByteType,
      FloatType, DoubleType, DateType, TimestampType, TimestampNTZType))
  }

  test("plan text: the scan keeps its pushed bounds and EXPLAIN is unchanged") {
    val text = "SELECT count(*) AS c FROM lineitem WHERE l_orderkey BETWEEN 4321 AND 4987"
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    Seq(spark, noAqe).foreach { s =>
      val df = TrinoDialect.sql(s, sfDir, text)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scan = collect(plan) { case f: FileSourceScanExec => f }.head
      val pushed = scan.metadata("PushedFilters")
      assert(pushed.contains("GreaterThanOrEqual(l_orderkey,4321)") &&
        pushed.contains("LessThanOrEqual(l_orderkey,4987)"), pushed)
      assert(scan.dataFilters.flatMap(_.collect { case l: Literal => l.value })
        .toSet == Set(4321L, 4987L))
      val filter = collect(plan) { case f: FilterExec => f }.head
      assert(filter.condition.collect { case r: ReferenceLiteral => r }.size == 2,
        filter.condition)
      collect(plan) { case n @ (_: FilterExec | _: ProjectExec) => n }.foreach { n =>
        val plain = n.transformExpressions { case r: ReferenceLiteral => r.literal }
        assert(n.simpleString(100) == plain.simpleString(100) &&
          n.verboseStringWithOperatorId() == plain.verboseStringWithOperatorId())
      }
      val source = codegenSource(plan)
      assert(source.nonEmpty && !source.exists(_.contains("4321")))
    }
    // the front door's EXPLAIN renders the executed plan: with AQE off that
    // plan carries the reference literals, and the text is the literal's
    val explain = TrinoDialect.sql(noAqe, sfDir, "EXPLAIN " + text)
      .collect().map(_.getString(0)).mkString("\n")
    assert(explain.linesIterator.exists(l => l.startsWith("Condition :") &&
      l.matches(""".*\(l_orderkey#\d+L? >= 4321\).*\(l_orderkey#\d+L? <= 4987\).*""")), explain)
  }

  private def codegenSource(plan: SparkPlan): Seq[String] =
    collect(plan) { case w: WholeStageCodegenExec => w.doCodeGen()._2.body }
}
