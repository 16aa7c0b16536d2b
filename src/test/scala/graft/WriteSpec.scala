package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Write-path / DML specs (SURVEY.md §2.1 TableWriterOperator,
  * MergeWriterOperator, TableMutationOperator; reference:
  * operator/TableWriterOperator.java:69, MergeWriterOperator.java:48,
  * TableMutationOperator.java:30).
  *
  * Spark's commit protocol plays TableFinishOperator's role; these specs
  * exercise CTAS, partitioned writes with partition pruning (the layout
  * decision that matters at 100 TB), INSERT-append, DELETE-where rewrite, and
  * MERGE via outer join — the operation set the reference routes to Delta/Hive
  * connectors. */
class WriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_write").toFile.getAbsolutePath

  test("CTAS parquet roundtrip preserves rows and content checksum") {
    val out = tmp()
    val src = operators.table(spark, sfDir, "lineitem").filter($"l_orderkey" < 1000)
    src.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == src.count())
    def ck(df: org.apache.spark.sql.DataFrame) =
      df.agg(bit_xor(xxhash64($"l_orderkey", $"l_linenumber", $"l_quantity"))).collect()(0).getLong(0)
    assert(ck(back) == ck(src))
  }

  test("partitioned write prunes partitions on read") {
    val out = tmp()
    operators.table(spark, sfDir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val en = spark.read.parquet(out).filter($"lang" === "en")
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), s"no partition pruning:\n$plan")
    val exact = operators.table(spark, sfDir, "documents").filter($"lang" === "en").count()
    assert(en.count() == exact)
  }

  test("INSERT INTO appends atomically") {
    val out = tmp()
    val docs = operators.table(spark, sfDir, "documents")
    docs.filter($"doc_id" < 20).write.mode("overwrite").parquet(out)
    docs.filter($"doc_id" >= 20 && $"doc_id" < 30).write.mode("append").parquet(out)
    assert(spark.read.parquet(out).count() == docs.filter($"doc_id" < 30).count())
  }

  test("DELETE WHERE via filtered rewrite") {
    val out = tmp()
    val docs = operators.table(spark, sfDir, "documents")
    docs.write.mode("overwrite").parquet(out)
    // DELETE FROM t WHERE lang = 'de'  → rewrite keeping the complement
    val kept = spark.read.parquet(out).filter($"lang" =!= "de")
    val out2 = tmp()
    kept.write.mode("overwrite").parquet(out2)
    val back = spark.read.parquet(out2)
    assert(back.filter($"lang" === "de").count() == 0)
    assert(back.count() == docs.filter($"lang" =!= "de").count())
  }

  test("MERGE INTO via full outer join upsert") {
    val out = tmp()
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    target.write.mode("overwrite").parquet(out)
    val source = Seq((2L, "B", 200.0), (4L, "d", 40.0)).toDF("id", "name", "v")
    // WHEN MATCHED UPDATE SET *  WHEN NOT MATCHED INSERT *
    val merged = spark.read.parquet(out).as("t")
      .join(source.as("s"), Seq("id"), "full_outer")
      .select($"id",
        coalesce($"s.name", $"t.name").as("name"),
        coalesce($"s.v", $"t.v").as("v"))
    val out2 = tmp()
    merged.write.mode("overwrite").parquet(out2)
    val got = spark.read.parquet(out2).orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "B", 200.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("full MERGE: conditional multi-WHEN UPDATE/DELETE/INSERT on CowTable") {
    import graft.catalog.CowTable
    val root = tmp()
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "name", "v")
    val ct = CowTable.create(spark, root, target)
    val source = Seq((1L, 100.0), (2L, 200.0), (5L, 500.0), (6L, 600.0))
      .toDF("k", "sv")
    val (_, changed) = ct.mergeFull(source, "t", "s", "t.k = s.k",
      matched = Seq(
        CowTable.WhenMatched(Some("s.sv > 150"), deleteAction = true, Map.empty),
        CowTable.WhenMatched(None, deleteAction = false,
          Map("v" -> "t.v + s.sv"))),
      notMatched = Seq(
        CowTable.WhenNotMatched(Some("s.sv < 550"),
          Seq("k", "name", "v"), Seq("s.k", "'new'", "s.sv"))))
    // k=1: matched, sv=100 → UPDATE v=110; k=2: matched, sv=200 → DELETE;
    // k=5: not matched, sv=500 → INSERT; k=6: not matched, sv=600 → skipped
    val rows = ct.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, "a", 110.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "new", 500.0)), rows.mkString(","))
    assert(changed == 3L) // 1 update + 1 delete + 1 insert
  }

  test("full MERGE enforces the SQL cardinality rule") {
    import graft.catalog.CowTable
    val root = tmp()
    val ct = CowTable.create(spark, root, Seq((1L, 10.0)).toDF("k", "v"))
    // two source rows match target k=1 and both trigger an update
    val source = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "sv")
    val e = intercept[IllegalStateException] {
      ct.mergeFull(source, "t", "s", "t.k = s.k",
        matched = Seq(CowTable.WhenMatched(None, deleteAction = false,
          Map("v" -> "s.sv"))),
        notMatched = Nil)
    }
    assert(e.getMessage.contains("matched more than one source row"))
  }

  test("full MERGE releases its pinned blocks, committed or failed, without a GC") {
    import graft.catalog.CowTable
    def cachedRdds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cachedRdds
    val ct = CowTable.create(spark, tmp(), Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    val update = Seq(CowTable.WhenMatched(None, deleteAction = false, Map("v" -> "s.sv")))
    ct.mergeFull(Seq((1L, 1.0)).toDF("k", "sv"), "t", "s", "t.k = s.k", update, Nil)
    assert(ct.read().filter($"k" === 1L).collect().head.getDouble(1) == 1.0)
    intercept[IllegalStateException] {
      ct.mergeFull(Seq((2L, 1.0), (2L, 2.0)).toDF("k", "sv"), "t", "s", "t.k = s.k",
        update, Nil)
    }
    assert(cachedRdds -- before == Set.empty,
      spark.sparkContext.getRDDStorageInfo.mkString("; "))
  }

  test("full MERGE through the SQL front door: delete-only and insert-only") {
    def sql(t: String) = graft.sqlx.TrinoDialect.sql(spark, sfDir, t)
    sql("""CREATE OR REPLACE TABLE wm_t AS
           SELECT n_nationkey AS k, n_regionkey AS r FROM nation""")
    // delete-only merge: no NOT MATCHED case at all
    sql("""MERGE INTO wm_t t USING (SELECT n_nationkey AS k FROM nation
             WHERE n_regionkey = 0) s
           ON t.k = s.k
           WHEN MATCHED THEN DELETE""")
    assert(sql("SELECT count(*) AS n FROM wm_t").collect().head.getLong(0) == 20L)
    // insert-only merge: no MATCHED case — no file is rewritten
    sql("""MERGE INTO wm_t t USING (SELECT n_nationkey + 100 AS k,
             n_regionkey AS r2 FROM nation WHERE n_nationkey < 5) s
           ON t.k = s.k
           WHEN NOT MATCHED THEN INSERT (k, r) VALUES (s.k, s.r2)""")
    assert(sql("SELECT count(*) AS n FROM wm_t").collect().head.getLong(0) == 25L)
    // the canonical upsert surface still parses onto the fast kernel
    // (keys {0,1,2}: 0 was deleted above → re-inserted; 1,2 update in place)
    sql("""MERGE INTO wm_t t USING (SELECT n_nationkey AS k, n_regionkey AS r
             FROM nation WHERE n_nationkey < 3) s
           ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    assert(sql("SELECT count(*) AS n FROM wm_t").collect().head.getLong(0) == 26L)
  }

  test("bucketed tables co-locate a fact-fact join with NO shuffle exchange") {
    // The 100 TB layout decision the reference expresses through connector
    // bucketing/partitioned exchanges (SURVEY §2.10, AddExchanges.java:145):
    // two tables bucketed on the join key satisfy HashClusteredDistribution
    // from the scan, so the join plans with zero Exchange nodes — at scale
    // this removes the dominant cost of every repeated fact-fact join.
    val db = spark.catalog.currentDatabase
    val li = operators.table(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
    val or = operators.table(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    or.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("or_bucketed")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("or_bucketed").hint("merge"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Join"), s"expected a join in the plan:\n$plan")
      val exchangesBeforeAgg = "Exchange hashpartitioning".r
        .findAllIn(plan.substring(plan.indexOf("Join"))).length
      assert(exchangesBeforeAgg == 0,
        s"bucketed join still shuffles ($exchangesBeforeAgg exchanges under the join):\n$plan")
      // and the result matches the unbucketed join
      val expected = li.join(or, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
      assert(joined.orderBy($"l_orderkey").collect().toSeq ==
        expected.orderBy($"l_orderkey").collect().toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS or_bucketed")
    }
  }
}
