package graft

import org.apache.spark.sql.functions._

import graft.catalog.CowTable

/** Copy-on-write table format — the transactional MERGE/UPDATE/DELETE target
  * (reference MergeWriterOperator + connector transactional formats). */
class CowTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = {
    val p = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "cowtable").toString
    p
  }

  /** The DSv2 CoW scan's planned input partitions (one per hash bucket),
    * recursing through AQE wrappers and materialized stages. */
  private def cowScanPartitions(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[graft.catalog.CowInputPartition] = {
    val kids = p.children ++ (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case _ => Seq.empty
    })
    (p match {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.description().contains("GraftCowScan") =>
        b.inputPartitions.collect { case c: graft.catalog.CowInputPartition => c }
      case _ => Seq.empty
    }) ++ kids.flatMap(cowScanPartitions)
  }

  private def sampleOrders() =
    graft.sources.Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      // several files so copy-on-write pruning is observable
      .repartition(4)

  test("create + snapshot read round-trips") {
    val t = CowTable.create(spark, freshRoot(), sampleOrders())
    assert(t.read().count() == sampleOrders().count())
    assert(t.currentVersion == 1)
  }

  test("delete rewrites only affected files and preserves history") {
    val t = CowTable.create(spark, freshRoot(), sampleOrders())
    val before = t.read().count()
    val victims = t.read().filter($"o_totalprice" > 200000.0).count()
    t.delete($"o_totalprice" > 200000.0)
    assert(t.read().count() == before - victims)
    assert(t.read().filter($"o_totalprice" > 200000.0).count() == 0)
    // time travel: the pre-delete snapshot is intact
    assert(t.read(asOfVersion = Some(1)).count() == before)
  }

  test("update applies SET only to matching rows") {
    val t = CowTable.create(spark, freshRoot(), sampleOrders())
    t.update($"o_orderstatus" === "F", Map("o_totalprice" -> lit(0.0)))
    val zeroed = t.read().filter($"o_orderstatus" === "F" && $"o_totalprice" =!= 0.0).count()
    assert(zeroed == 0)
    assert(t.read().filter($"o_orderstatus" =!= "F" && $"o_totalprice" === 0.0).count() == 0)
  }

  test("merge upserts: matched rows replaced, new keys inserted") {
    val t = CowTable.create(spark, freshRoot(), sampleOrders())
    val n0 = t.read().count()
    val source = Seq(
      (1L, "X", 1.0),      // almost surely an existing key
      (-42L, "Z", 2.0))    // definitely new
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val existing = t.read().filter($"o_orderkey".isin(1L, -42L)).count()
    t.merge(source, "o_orderkey")
    assert(t.read().count() == n0 + (2 - existing))
    val r = t.read().filter($"o_orderkey" === -42L).collect()
    assert(r.length == 1 && r(0).getString(1) == "Z")
    if (existing == 1)
      assert(t.read().filter($"o_orderkey" === 1L).collect()(0).getString(1) == "X")
  }

  test("copy-on-write carries untouched files across versions unchanged") {
    val t = CowTable.create(spark, freshRoot(), sampleOrders())
    // delete a single key: at most a couple of the 4 files are affected
    t.delete($"o_orderkey" === 1L)
    val v1 = t.read(Some(1)).inputFiles.toSet
    val v2 = t.read(Some(2)).inputFiles.toSet
    assert(v1.intersect(v2).nonEmpty, "expected untouched files to be shared between snapshots")
  }

  test("materialized view: create, stale-on-source-advance, refresh, time travel") {
    val srcRoot = freshRoot()
    val src = CowTable.create(spark, srcRoot, sampleOrders())
    val mvRoot = freshRoot()
    val mv = graft.catalog.MaterializedView.create(spark, mvRoot,
      "SELECT o_orderstatus, count(*) AS cnt FROM mv_src GROUP BY o_orderstatus",
      sfDir, sources = Map("mv_src" -> srcRoot))
    assert(!mv.isStale)
    def snap(m: graft.catalog.MaterializedView) =
      m.read().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val before = snap(mv)
    assert(before.nonEmpty)
    // source advances → view reports stale but still serves the materialization
    src.delete($"o_orderstatus" === "F")
    val reopened = graft.catalog.MaterializedView.open(spark, mvRoot)
    assert(reopened.isStale)
    assert(snap(reopened) == before)
    reopened.refresh()
    assert(!reopened.isStale)
    assert(!snap(reopened).contains("F"))
    // the pre-refresh materialization stays time-travelable
    assert(reopened.read(asOfVersion = 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap == before)
  }

  test("point MERGE on a multi-file table probes and rewrites exactly one file") {
    val t = CowTable.create(spark, freshRoot(), sampleOrders()) // 4 hash files
    val keyFiles = t.read().filter($"o_orderkey" === 1L)
      .select(input_file_name()).distinct().count()
    assume(keyFiles == 1) // hash layout puts one key in one file
    val beforePaths = t.manifestDf(t.currentVersion)
      .select("path").as[String].collect().toSet
    val src = Seq((1L, "X", 9.9)).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val stats = t.merge(src, "o_orderkey")
    assert(stats.manifestSizeBefore == 4, stats.toString)
    assert(stats.affectedFiles.size == 1, stats.toString)
    assert(stats.untouchedCarried == 3, stats.toString)
    val afterPaths = t.manifestDf(t.currentVersion)
      .select("path").as[String].collect().toSet
    // the three untouched paths are carried VERBATIM; the probed file is gone
    assert((beforePaths -- stats.affectedFiles.toSet).subsetOf(afterPaths))
    assert(stats.affectedFiles.forall(f => !afterPaths.contains(f)))
    // no-match mutation leaves the manifest untouched (no rewrite storm)
    val noop = t.delete($"o_orderkey" === -999999L)
    assert(noop.affectedFiles.isEmpty)
  }
  test("OPTIMIZE compacts small files into fewer, data and history intact") {
    import org.apache.spark.sql.functions._
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_cow_optimize").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val t = graft.catalog.CowTable.create(spark, root,
      spark.range(0, 100).toDF("id"))
    // five appends -> many tiny files
    (1 to 5).foreach(i => t.insert(spark.range(i * 100, i * 100 + 100).toDF("id")))
    val vBefore = t.currentVersion
    val filesBefore = t.manifestDf(vBefore).count()
    val sumBefore = t.read().agg(sum("id")).head.getLong(0)

    val (compacted, written) = t.optimize()
    assert(compacted > 1 && written < compacted,
      s"expected compaction, got $compacted -> $written")
    val after = t.read()
    assert(t.manifestDf(t.currentVersion).count() === filesBefore - compacted + written)
    assert(after.count() === 600 && after.agg(sum("id")).head.getLong(0) === sumBefore)
    // prior version still time-travels with the original file set
    assert(t.read(asOfVersion = Some(vBefore)).count() === 600)
    assert(t.manifestDf(vBefore).count() === filesBefore)
  }

  test("branches: isolated heads, fast-forward, vacuum retains every head") {
    val t = CowTable.create(spark, freshRoot(),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    t.createBranch("dev")
    assert(t.branches.map(_._1) == Seq("main", "dev"))
    // branch writes don't move main
    t.insert(Seq((10L, "x")).toDF("k", "v"), "dev")
    t.delete(col("k") === 2L, "dev")
    assert(t.read().count() == 3, "main must be untouched by branch writes")
    assert(t.readBranch("dev").count() == 3) // 3 + 1 - 1
    assert(t.readBranch("dev").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 10L))
    // fast-forward refuses to move a head BACKWARDS (dev is ahead of main)
    intercept[IllegalArgumentException] { t.fastForward("dev", "main") }
    // main writes don't move dev either
    t.insert(Seq((20L, "y")).toDF("k", "v"))
    assert(t.readBranch("dev").count() == 3)
    // advance dev past main, then publish it as main
    t.insert(Seq((11L, "z")).toDF("k", "v"), "dev")
    t.fastForward("main", "dev")
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(1L, 3L, 10L, 11L))
    // vacuum keeps every branch head readable
    t.createBranch("keepme", from = Some("dev"))
    t.insert(Seq((30L, "w")).toDF("k", "v"))
    t.vacuum()
    assert(t.readBranch("keepme").count() == 4)
    assert(t.read().count() == 5)
    // drop: main is protected, named branches go
    intercept[IllegalArgumentException] { t.dropBranch("main") }
    t.dropBranch("keepme")
    assert(!t.branchExists("keepme"))
    intercept[IllegalArgumentException] { t.dropBranch("keepme") }
  }

  test("CALL system.optimize through the SQL front door") {
    import graft.sqlx.TrinoDialect
    def sql(text: String) = TrinoDialect.sql(spark, sfDir, text)
    sql("CREATE OR REPLACE TABLE cow_opt AS SELECT n_nationkey AS k FROM nation")
    sql("INSERT INTO cow_opt VALUES (100)")
    sql("INSERT INTO cow_opt VALUES (101)")
    val n = sql("SELECT count(*) AS n FROM cow_opt").head.getLong(0)
    val compacted = sql("CALL system.optimize('cow_opt')").head.getLong(0)
    assert(compacted >= 2, s"compacted=$compacted")
    assert(sql("SELECT count(*) AS n FROM cow_opt").head.getLong(0) === n)
  }

  test("partitioned table: hive-style layout, pruned scans, partition-local mutations") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files.createTempDirectory("cow_part").toString
    val src = graft.sources.Tables.load(spark, sfDir, "nation")
      .selectExpr("n_nationkey AS k", "n_name AS name", "n_regionkey AS r")
    val t = graft.catalog.CowTable.create(spark, root, src, partitionBy = Seq("r"))
    // physical layout: data/r=<v>/part-*.parquet
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
      .iterator()
    var names = List.empty[String]
    while (dirs.hasNext) names ::= dirs.next().getFileName.toString
    assert(names.count(_.startsWith("r=")) == 5, names)
    // read recovers the partition column; values intact
    val all = t.read()
    assert(all.count() == 25)
    assert(all.columns.toSet == Set("k", "name", "r"))
    // a partition predicate prunes files BEFORE any parquet footer is read
    val q = t.read().filter("r = 2").selectExpr("sum(k) AS s")
    val expect = src.filter("r = 2").selectExpr("sum(k)").head.getLong(0)
    assert(q.head.getLong(0) == expect)
    val finalPlan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = finalPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.metadata("PartitionFilters").contains("r"),
      scan.metadata("PartitionFilters"))
    assert(scan.metrics("numFiles").value < 5,
      s"expected pruning, scanned ${scan.metrics("numFiles").value} files")
    // mutations keep the layout: DELETE one partition only rewrites there
    t.delete(org.apache.spark.sql.functions.expr("r = 2 AND k % 2 = 0"))
    assert(t.read().filter("r = 2 AND k % 2 = 0").count() == 0)
    assert(t.read().count() == 25 - src.filter("r = 2 AND k % 2 = 0").count())
    // inserts land in their partition dirs and stay readable
    t.insert(spark.sql("SELECT 200 AS k, 'NEW' AS name, 2 AS r"))
    assert(t.read().filter("r = 2 AND k = 200").count() == 1)
  }

  test("bucketed table: bucket-pruned scans, exchange-free joins, CoW manifest carry") {
    val root = java.nio.file.Files.createTempDirectory("cow_bkt").toString
    val src = graft.sources.Tables.load(spark, sfDir, "orders")
      .selectExpr("o_orderkey AS k", "o_custkey AS cust", "o_totalprice AS price")
    val t = graft.catalog.CowTable.create(spark, root, src,
      bucketBy = Seq("cust"), bucketCount = 8, sortedBy = Seq("cust"))
    assert(t.read().count() == src.count())

    def finalPlan(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    }

    // equality filter on the bucket key prunes to ONE bucket's files
    // before any parquet footer is read — the DSv2 scan plans one input
    // partition holding exactly that bucket's file
    val point = t.read().filter("cust = 19").selectExpr("count(*) AS n")
    val parts = cowScanPartitions(finalPlan(point))
    assert(parts.size == 1 && parts.head.files.length == 1,
      s"expected bucket pruning to plan 1 of 8 bucket files, got $parts")

    // self-join + aggregation on the bucket key: ZERO exchanges (the
    // bucketed scan reports HashPartitioning(cust, 8) on both sides)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = t.read().as("a")
      val b = t.read().as("b")
      val j = a.join(b, "cust").groupBy("cust").count()
      val plan = finalPlan(j).toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed self-join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    // CoW DELETE keeps the layout; untouched bucket files CARRY into the
    // new manifest by reference (same identity, no data movement at all)
    val v1Files = t.manifestDf(t.currentVersion).select("fname")
      .collect().map(_.getString(0)).toSet
    // single-cust predicate: exactly ONE bucket's file is affected, the
    // other seven must carry by manifest reference (same name, no rewrite)
    t.delete(org.apache.spark.sql.functions.expr("cust = 19"))
    assert(t.read().filter("cust = 19").count() == 0)
    assert(t.read().count() == src.filter("cust <> 19").count())
    val v2Files = t.manifestDf(t.currentVersion).select("fname")
      .collect().map(_.getString(0)).toSet
    assert((v1Files & v2Files).size == v1Files.size - 1,
      s"expected all but one bucket file to carry: v1=$v1Files v2=$v2Files")
    // time travel to the pre-delete snapshot is intact (manifest read path)
    assert(t.read(asOfVersion = Some(1)).count() == src.count())

    // INSERT appends a bucketed file set; the join stays exchange-free
    t.insert(spark.sql(
      "SELECT CAST(9999999 AS BIGINT) AS k, CAST(19 AS BIGINT) AS cust, CAST(1.0 AS DOUBLE) AS price"))
    assert(t.read().filter("k = 9999999").count() == 1)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j2 = t.read().as("a").join(t.read().as("b"), "cust").groupBy("cust").count()
      assert(!finalPlan(j2).toString.contains("Exchange hashpartitioning"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bucketed table: OPTIMIZE compacts within buckets, MERGE upserts, replace keeps layout") {
    val root = java.nio.file.Files.createTempDirectory("cow_bkt_mut").toString
    val src = graft.sources.Tables.load(spark, sfDir, "orders")
      .selectExpr("o_orderkey AS k", "o_custkey AS cust", "o_totalprice AS price")
    val t = graft.catalog.CowTable.create(spark, root, src,
      bucketBy = Seq("cust"), bucketCount = 4, sortedBy = Seq("cust"))
    // several small appends → multiple files per bucket
    t.insert(spark.sql("SELECT CAST(9000001 AS BIGINT) AS k, CAST(19 AS BIGINT) AS cust, CAST(1.0 AS DOUBLE) AS price"))
    t.insert(spark.sql("SELECT CAST(9000002 AS BIGINT) AS k, CAST(36 AS BIGINT) AS cust, CAST(2.0 AS DOUBLE) AS price"))
    val rows = t.read().count()
    val filesBefore = t.manifestDf(t.currentVersion).count()
    val (compacted, written) = t.optimize(threshold = 32L << 20)
    assert(compacted >= 2 && written >= 1, s"($compacted, $written)")
    assert(t.read().count() == rows)
    val filesAfter = t.manifestDf(t.currentVersion).count()
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    // compaction preserved the bucket layout: join still exchange-free
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = t.read().as("a").join(t.read().as("b"), "cust").groupBy("cust").count()
      j.collect()
      val plan = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // MERGE upsert on the bucketed table: matched key replaced, new key added
    t.merge(spark.sql(
      "SELECT CAST(9000001 AS BIGINT) AS k, CAST(19 AS BIGINT) AS cust, CAST(99.0 AS DOUBLE) AS price " +
        "UNION ALL SELECT CAST(9000003 AS BIGINT), CAST(112 AS BIGINT), CAST(3.0 AS DOUBLE)"), "k")
    assert(t.read().filter("k = 9000001 AND price = 99.0").count() == 1)
    assert(t.read().filter("k = 9000003").count() == 1)
    assert(t.read().count() == rows + 1)
    // full-refresh replace (the MV primitive / TRUNCATE path) keeps the
    // bucket layout for the new snapshot
    t.replace(src.limit(100))
    assert(t.read().count() == 100)
    assert(t.read(asOfVersion = Some(1)).count() == src.count()) // history intact
  }

  test("partitioned + bucketed table: nested layout, both prunings, exchange-free join") {
    val root = java.nio.file.Files.createTempDirectory("cow_pb").toString
    val src = graft.sources.Tables.load(spark, sfDir, "orders")
      .selectExpr("o_orderkey AS k", "o_custkey AS cust",
        "CAST(o_custkey % 3 AS INT) AS r")
    val t = graft.catalog.CowTable.create(spark, root, src,
      partitionBy = Seq("r"), bucketBy = Seq("cust"), bucketCount = 4,
      sortedBy = Seq("cust"))
    assert(t.read().count() == src.count())
    // physical layout: data/v1/r=<v>/...bucket files
    val v1 = java.nio.file.Paths.get(root, "data", "v1")
    val parts = java.nio.file.Files.list(v1).iterator()
    var dirs = List.empty[String]
    while (parts.hasNext) dirs ::= parts.next().getFileName.toString
    assert(dirs.count(_.startsWith("r=")) == 3, dirs)

    def finalPlan(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    }

    // partition AND bucket pruning compose: r = 1 (one of 3 dirs) and
    // cust = 19 (one of 4 buckets) → exactly one file planned by the DSv2
    // scan (hive-partition values parsed from manifest paths, bucket id
    // from the file name — no footer touched for the pruned-away files)
    val point = t.read().filter("r = 1 AND cust = 19").selectExpr("count(*) AS n")
    val planned = cowScanPartitions(finalPlan(point))
    assert(planned.size == 1 && planned.head.files.length == 1,
      s"expected 1 file after both prunings, got $planned")

    // join on the bucket key across the partitioned layout: zero exchanges
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = t.read().as("a").join(t.read().as("b"), "cust").groupBy("cust").count()
      assert(!finalPlan(j).toString.contains("Exchange hashpartitioning"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    // CoW delete inside one (partition, bucket): untouched files carry by
    // manifest reference, partition dirs preserved; time travel intact
    val before = t.read().count()
    val victims = t.read().filter("cust = 19").count()
    t.delete(org.apache.spark.sql.functions.expr("cust = 19"))
    assert(t.read().count() == before - victims)
    assert(t.read().filter("cust = 19").count() == 0)
    assert(t.read(asOfVersion = Some(1)).count() == before)
    // values intact per partition after the rewrite
    assert(t.read().filter("r = 2").count() ==
      src.filter("r = 2 AND cust <> 19").count())
  }

  test("bucketed time travel is bucket-aware: past-version self-join plans zero exchanges") {
    val root = java.nio.file.Files.createTempDirectory("cow_bkt_tt").toString
    val src = graft.sources.Tables.load(spark, sfDir, "orders")
      .selectExpr("o_orderkey AS k", "o_custkey AS cust", "o_totalprice AS price")
    val t = graft.catalog.CowTable.create(spark, root, src,
      bucketBy = Seq("cust"), bucketCount = 8, sortedBy = Seq("cust"))
    val v1 = t.currentVersion
    t.delete(org.apache.spark.sql.functions.expr("cust % 7 = 0"))
    def finalPlan(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    }
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // FOR VERSION AS OF v1 through the DSv2 manifest scan: the past
      // version serves a bucket-aware scan, so the self-join on the bucket
      // key plans ZERO exchanges (r16 — before, time travel fell back to an
      // unbucketed manifest read)
      val past = t.read(asOfVersion = Some(v1))
      assert(past.count() == src.count()) // pre-delete snapshot
      val j = past.as("a").join(past.as("b"), "cust").groupBy("cust").count()
      val plan = finalPlan(j).toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket-aware time travel must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      // and the current snapshot still reads correctly alongside it
      assert(t.read().count() == src.filter("cust % 7 <> 0").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("DSv2 manifest commits are O(touched files); reads mint no catalog entries") {
    val root = java.nio.file.Files.createTempDirectory("cow_dsv2").toString
    val src = graft.sources.Tables.load(spark, sfDir, "orders")
      .selectExpr("o_orderkey AS k", "o_custkey AS cust", "o_totalprice AS price")
    val t = graft.catalog.CowTable.create(spark, root, src,
      bucketBy = Seq("cust"), bucketCount = 8, sortedBy = Seq("cust"))
    val v1 = t.currentVersion
    def filesUnder(dir: java.nio.file.Path): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      def walk(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.isDirectory(p)) {
          val it = java.nio.file.Files.list(p).iterator()
          while (it.hasNext) walk(it.next())
        } else out += p.toString
      walk(dir)
      out.toSeq
    }
    val v1FileCount = filesUnder(java.nio.file.Paths.get(root, "data", s"v$v1")).size
    // a DELETE touching exactly ONE bucket
    t.delete(org.apache.spark.sql.functions.expr("cust = 19"))
    val v2 = t.currentVersion
    // commit cost is O(files touched): the new version directory holds ONLY
    // the rewritten bucket's file — untouched files are carried by manifest
    // REFERENCE and never move, link, or copy (the r16 hardlink census is
    // gone)
    val v2Files = filesUnder(java.nio.file.Paths.get(root, "data", s"v$v2"))
    assert(v2Files.size == 1, s"expected 1 rewritten file in v$v2, got $v2Files")
    val paths = t.manifestDf(v2).select("path").collect().map(_.getString(0))
    assert(paths.count(_.contains(s"/v$v1/")) == v1FileCount - 1,
      s"carried entries must still point into the v$v1 directory")
    // reads — current AND time travel — mint no session-catalog entries
    // (the old path minted one per table plus one per visited version)
    assert(t.read().count() == src.filter("cust <> 19").count())
    assert(t.read(asOfVersion = Some(v1)).count() == src.count())
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("cow_bkt_")),
      "DSv2 reads must not create session-catalog entries")
  }

  test("single-file buckets report their sort order: SMJ plans no sorts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cow_sorted").toString
    val src = graft.sources.Tables.load(spark, sfDir, "orders")
      .selectExpr("o_orderkey AS k", "o_custkey AS cust", "o_totalprice AS price")
    val t = graft.catalog.CowTable.create(spark, root, src,
      bucketBy = Seq("cust"), bucketCount = 8, sortedBy = Seq("cust"))
    def finalPlan(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    }
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a single write generation = one sorted file per bucket, so the scan
      // reports its sorted_by ordering and the bucket-key SMJ needs NO Sort
      // (the reference's sorted-bucket read contract)
      val j = t.read().as("a").join(t.read().as("b"), "cust").groupBy("cust").count()
      val plan = finalPlan(j).toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Sort ["),
        s"sorted single-file buckets must not re-sort for the SMJ:\n$plan")
      // an append makes buckets multi-file: the ordering claim is retracted
      // (never wrongly kept) and the join sorts again — results unchanged
      t.insert(spark.sql(
        "SELECT CAST(9999999 AS BIGINT) AS k, CAST(19 AS BIGINT) AS cust, CAST(1.0 AS DOUBLE) AS price"))
      val j2 = t.read().as("a").join(t.read().as("b"), "cust").groupBy("cust").count()
      val plan2 = finalPlan(j2).toString
      assert(plan2.contains("Sort ["),
        s"multi-file buckets must re-sort (ordering no longer holds):\n$plan2")
      assert(j2.filter($"cust" === 19).collect().nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("manifest column stats prune files before any footer is read") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cow_stats").toString
    val gen1 = spark.range(0, 4000).select(
      $"id".as("k"), ($"id" % 97).as("cust"), ($"id" * 1.5).as("price"))
    val t = graft.catalog.CowTable.create(spark, root, gen1,
      bucketBy = Seq("cust"), bucketCount = 4)
    // second generation with a DISJOINT k range: its files' manifest stats
    // carry k in [1000000, 1003999]
    t.insert(spark.range(1000000L, 1004000L).select(
      $"id".as("k"), ($"id" % 97).as("cust"), ($"id" * 1.5).as("price")))
    def finalPlan(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    }
    val total = t.manifestDf(t.currentVersion).count()
    // a range predicate excluding generation 1 plans ONLY generation 2's
    // files (min/max interval check over the stored stats — the iceberg
    // manifest-pruning shape; no parquet footer of a pruned file is opened)
    val q = t.read().filter($"k" >= 1000000L)
    val n = q.count()
    assert(n == 4000L)
    val planned = cowScanPartitions(finalPlan(q)).flatMap(_.files)
    assert(planned.nonEmpty && planned.size < total,
      s"expected stats pruning below the full census ($total), planned ${planned.size}")
    assert(planned.forall(_.filePath.toString.contains("/v2/")),
      s"generation-1 files must prune away: ${planned.map(_.filePath).mkString(", ")}")
    // null-count pruning: k is never null, so an IS NULL predicate plans
    // zero files and returns zero rows
    val q2 = t.read().filter($"k".isNull)
    assert(q2.count() == 0)
    assert(cowScanPartitions(finalPlan(q2)).flatMap(_.files).isEmpty,
      "IS NULL over a null-free column should prune every file")
    // mutations carry stats: delete one bucket's rows, the pruned read
    // still excludes generation 1 through the carried entries
    t.delete(org.apache.spark.sql.functions.expr("cust = 19"))
    val q3 = t.read().filter($"k" >= 1000000L)
    assert(q3.count() == spark.range(1000000L, 1004000L)
      .filter(($"id" % 97) =!= 19).count())
    val planned3 = cowScanPartitions(finalPlan(q3)).flatMap(_.files)
    assert(planned3.forall(f => !f.filePath.toString.contains("/v1/")),
      s"carried stats lost: ${planned3.map(_.filePath).mkString(", ")}")

    // NaN hazard: a double column containing NaN has unusable footer
    // bounds — the column's stats are dropped (never wrong pruning) and
    // range filters on it still evaluate correctly post-scan
    val root2 = java.nio.file.Files.createTempDirectory("cow_stats_nan").toString
    val nan = spark.range(0, 100).select($"id".as("k"), ($"id" % 7).as("cust"),
      when($"id" === 5, lit(Double.NaN)).otherwise($"id".cast("double")).as("price"))
    val t2 = graft.catalog.CowTable.create(spark, root2, nan,
      bucketBy = Seq("cust"), bucketCount = 2)
    // (Spark orders NaN above every double, so the NaN row matches > 50.0:
    // ids 51..99 plus the NaN row — a file whose ordinary values all sit
    // below the bound must still be read when it holds a NaN)
    assert(t2.read().filter($"price" > 50.0).count() == 50)
    assert(t2.read().filter($"price".isNaN).count() == 1)
  }

  test("stats pruning compares integral bounds exactly (2^53 boundary)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cow_stats_big").toString
    val big = 9007199254740992L // 2^53: the largest long a double holds exactly
    val t = graft.catalog.CowTable.create(spark, root,
      spark.range(0, 100).select($"id".as("k"), ($"id" % 5).as("cust")),
      bucketBy = Seq("cust"), bucketCount = 2)
    // one row whose k = 2^53 + 1: as a double this rounds to 2^53, so a
    // doubleValue()-based bound comparison judged max == probe for `k > 2^53`
    // and wrongly PRUNED the file (rows satisfying the predicate vanished)
    t.insert(spark.sql(
      s"SELECT CAST(${big + 1} AS BIGINT) AS k, CAST(1 AS BIGINT) AS cust"))
    assert(t.read().filter($"k" > big).count() == 1,
      "file with max = 2^53+1 must survive the pushed k > 2^53 predicate")
    assert(t.read().filter($"k" === (big + 1)).count() == 1)
    // mirrored edge: min = 2^53+1 probed with `<` at the boundary
    assert(t.read().filter($"k" < (big + 1)).count() == 100)
  }

  test("estimateStatistics weights column pruning by field width, not column count") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cow_est").toString
    val df = spark.range(0, 500).select($"id".as("k"), ($"id" % 7).as("cust"),
      rpad($"id".cast("string"), 200, "y").as("body"))
    val t = graft.catalog.CowTable.create(spark, root, df,
      bucketBy = Seq("cust"), bucketCount = 2)
    def est(q: org.apache.spark.sql.DataFrame): Long =
      q.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.description().contains("GraftCowScan") => b.scan
      }.head.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().sizeInBytes().getAsLong
    val full = est(t.read())
    val narrow = est(t.read().select("k"))      // long: defaultSize 8 of 36
    val wide = est(t.read().select("body"))     // string: defaultSize 20 of 36
    // the old column-count ratio reported BOTH projections at full/3 — the
    // wide string column must now dominate the narrow long
    assert(narrow * 2 < wide,
      s"wide-string projection must outweigh the long projection: $narrow vs $wide")
    assert(narrow <= (full * 8L) / 36 + 1, s"narrow=$narrow full=$full")
    assert(wide >= (full * 20L) / 36 - 1, s"wide=$wide full=$full")
  }

  test("cmpExact: exact integrals, Spark float total order, UTF-8 string order") {
    import graft.catalog.CowDsv2.cmpExact
    val big = 9007199254740992L // 2^53
    assert(cmpExact(java.lang.Long.valueOf(big + 1), java.lang.Long.valueOf(big))
      .exists(_ > 0), "2^53+1 > 2^53 must not collapse through double")
    // Spark's SQL float semantics: signed zeros equal; NaN equals NaN and
    // sorts above everything (the r18 review caught the BigDecimal-only
    // path returning None here, which In/<=> folded into wrong pruning)
    assert(cmpExact(java.lang.Double.valueOf(-0.0), java.lang.Double.valueOf(0.0)).contains(0))
    assert(cmpExact(java.lang.Double.valueOf(Double.NaN),
      java.lang.Double.valueOf(Double.NaN)).contains(0))
    assert(cmpExact(java.lang.Double.valueOf(Double.NaN),
      java.lang.Double.valueOf(Double.PositiveInfinity)).exists(_ > 0))
    assert(cmpExact(java.lang.Float.valueOf(1.5f), java.lang.Double.valueOf(1.5)).contains(0))
    // binary UTF-8 order: U+1F600 (surrogate pair in UTF-16) sorts ABOVE
    // U+FFFF in code-point/UTF-8 order, below it in UTF-16 code-unit order
    assert(cmpExact(new String(Character.toChars(0x1F600)), "￿").exists(_ > 0),
      "string bounds must compare in UTF-8 binary order, not UTF-16")
    // mixed integral/decimal stays exact; undecidable stays None (keep)
    assert(cmpExact(java.lang.Long.valueOf(3), new java.math.BigDecimal("3.00")).contains(0))
    assert(cmpExact(java.lang.Long.valueOf(3), "3").isEmpty)
  }

  test("runtime bucket pruning: content-equal binary deliveries intersect by value") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cow_dpp_bin").toString
    val src = spark.range(0, 200).select($"id".as("k"),
      encode(($"id" % 16).cast("string"), "UTF-8").as("b"))
    val t = graft.catalog.CowTable.create(spark, root, src,
      bucketBy = Seq("b"), bucketCount = 4)
    val scan = t.read().queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().contains("GraftCowScan") => b.scan
    }.head.asInstanceOf[graft.catalog.CowScan]
    // two deliveries with DISTINCT array instances of equal content: the
    // intersection must keep the value (Array[Byte] equality is by
    // reference, so an unwrapped Set intersect would go empty and prune
    // every bucket — silent row loss on binary bucket columns)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("b", Array("7".getBytes("UTF-8")))))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      EqualTo("b", "7".getBytes("UTF-8"))))
    val parts = scan.planInputPartitions()
    assert(parts.nonEmpty, "content-equal binary values must keep their bucket")
    assert(parts.length < 4, "a single binary value must prune to its bucket")
  }

  test("runtime bucket pruning derives ids for multi-column bucketing") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{EqualTo, In}
    val root = java.nio.file.Files.createTempDirectory("cow_dpp2").toString
    val src = spark.range(0, 2000).select($"id".as("k"),
      ($"id" % 50).as("cust"), ($"id" % 3).cast("int").as("r"))
    val t = graft.catalog.CowTable.create(spark, root, src,
      bucketBy = Seq("cust", "r"), bucketCount = 8)
    // r17 derived runtime bucket ids only for single-column bucketing; the
    // generalized path accumulates per-column equality sets (deliveries can
    // arrive one column at a time) and derives ids from their cross product
    val scan = t.read().queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().contains("GraftCowScan") => b.scan
    }.head.asInstanceOf[graft.catalog.CowScan]
    val before = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("cust", Array(7L, 13L))))
    assert(scan.planInputPartitions().length == before,
      "one column's delivery alone must not derive ids for a two-column layout")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("r", 1)))
    val parts = scan.planInputPartitions()
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def internal(c: Long, r: Int) = Seq[Any](c, r)
    val expected = Seq(internal(7L, 1), internal(13L, 1))
      .map(vs => graft.catalog.CowDsv2.bucketId(vs, Seq(LongType, IntegerType), 8)).toSet
    val planned = parts.collect {
      case p: graft.catalog.CowInputPartition => p.bucketId }.toSet
    assert(planned.subsetOf(expected) && planned.nonEmpty,
      s"planned buckets $planned must be within the derived ids $expected")
    assert(parts.length < 8, "pruning must plan fewer than all 8 buckets")
  }

  test("DSv2 runtime filtering prunes partitions at execution (DPP analogue)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cow_dpp").toString
    val src = graft.sources.Tables.load(spark, sfDir, "orders")
      .selectExpr("o_orderkey AS k", "o_custkey AS cust",
        "CAST(o_custkey % 3 AS INT) AS r")
    val t = graft.catalog.CowTable.create(spark, root, src,
      partitionBy = Seq("r"), bucketBy = Seq("cust"), bucketCount = 4)
    // a filtered dim joined on the PARTITION column: Spark plans a dynamic
    // pruning subquery against the scan's filterAttributes — the old
    // catalog-entry path got FileSourceScan DPP for free; the DSv2 scan
    // serves it through SupportsRuntimeFiltering. The dim is disk-backed
    // with an ATTRIBUTE filter: a literal filter on the join key would be
    // propagated as a static constraint and bypass DPP entirely.
    val dimDir = java.nio.file.Files.createTempDirectory("cow_dpp_dim").toString + "/dim"
    Seq((0, "a"), (1, "b"), (2, "a")).toDF("r", "grp").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"grp" === "b")
    val j = t.read().join(dim, "r")
    val n = j.collect().length.toLong // execute THIS plan (metrics below)
    assert(n == src.filter("r = 1").count())
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"expected a dynamic pruning runtime filter on the CoW scan:\n$plan")
    // the scan only produced the surviving partition's rows
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = {
      val kids = p.children ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Seq.empty
      })
      (p match {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().contains("GraftCowScan") => Seq(b)
        case _ => Seq.empty
      }) ++ kids.flatMap(scans)
    }
    val scanRows = scans(j.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
    assert(scanRows == n,
      s"runtime pruning should keep only r=1 rows at the scan, read $scanRows of $n")
  }

  test("bucketed schema evolution: ADD COLUMN reads back values, replace restores the fast path") {
    import graft.sqlx.TrinoDialect
    // the r15 ADVICE scenario: ALTER TABLE ADD COLUMN + INSERT on a
    // bucketed table silently NULLed the new column's inserted values
    // (catalog entry frozen at CREATE-time schema). Now the table flags
    // schema evolution and serves mergeSchema file-list reads.
    TrinoDialect.sql(spark, sfDir, "DROP TABLE IF EXISTS wh_bkt_evo")
    TrinoDialect.sql(spark, sfDir,
      """CREATE TABLE wh_bkt_evo WITH (bucketed_by = ARRAY['cust'],
           bucket_count = 4) AS
         SELECT o_orderkey AS k, o_custkey AS cust
         FROM orders WHERE o_orderkey <= 400""")
    TrinoDialect.sql(spark, sfDir,
      "ALTER TABLE wh_bkt_evo ADD COLUMN tag varchar")
    TrinoDialect.sql(spark, sfDir,
      """INSERT INTO wh_bkt_evo
         SELECT o_orderkey + 1000, o_custkey, 'fresh'
         FROM orders WHERE o_orderkey <= 5""")
    val out = TrinoDialect.sql(spark, sfDir,
      "SELECT count(*) AS n FROM wh_bkt_evo WHERE tag = 'fresh'")
      .collect().head.getLong(0)
    assert(out == src5(spark), s"inserted tag values must read back, got $out")
    // old rows read the evolved column as NULL, not garbage
    val nulls = TrinoDialect.sql(spark, sfDir,
      "SELECT count(*) AS n FROM wh_bkt_evo WHERE tag IS NULL")
      .collect().head.getLong(0)
    assert(nulls > 0)
  }

  private def src5(spark: org.apache.spark.sql.SparkSession): Long =
    graft.sources.Tables.load(spark, sfDir, "orders")
      .filter("o_orderkey <= 5").count()

  test("dropping or renaming a partition/bucket column is rejected") {
    import graft.sqlx.TrinoDialect
    // the reference's hive connector likewise rejects layout-column ALTERs:
    // the directory/bucket layout is fixed at CREATE
    TrinoDialect.sql(spark, sfDir, "DROP TABLE IF EXISTS wh_layout_guard")
    TrinoDialect.sql(spark, sfDir,
      """CREATE TABLE wh_layout_guard WITH (partitioned_by = ARRAY['r'],
           bucketed_by = ARRAY['cust'], bucket_count = 4) AS
         SELECT o_orderkey AS k, o_custkey AS cust,
           CAST(o_custkey % 3 AS INT) AS r
         FROM orders WHERE o_orderkey <= 200""")
    val e1 = intercept[IllegalArgumentException] {
      TrinoDialect.sql(spark, sfDir, "ALTER TABLE wh_layout_guard DROP COLUMN r")
    }
    assert(e1.getMessage.contains("partition/bucket column"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TrinoDialect.sql(spark, sfDir,
        "ALTER TABLE wh_layout_guard RENAME COLUMN cust TO buyer")
    }
    assert(e2.getMessage.contains("partition/bucket column"), e2.getMessage)
    // non-layout columns still alter freely
    TrinoDialect.sql(spark, sfDir,
      "ALTER TABLE wh_layout_guard RENAME COLUMN k TO okey")
    assert(TrinoDialect.sql(spark, sfDir,
      "SELECT count(*) AS n FROM wh_layout_guard WHERE okey <= 200")
      .collect().head.getLong(0) > 0)
  }

  test("Not/EqualNullSafe prune in statsKeep AND the distributed pre-filter (superset holds)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cow_notprune").toString
    // generation 1: k is CONSTANT 5, no nulls — min==max==5, nulls==0, so
    // `k <> 5` provably fails for every row (the must() shape)
    val t = graft.catalog.CowTable.create(spark, root,
      spark.range(0, 100).select(lit(5L).as("k"), ($"id" % 4).as("cust")),
      bucketBy = Seq("cust"), bucketCount = 2)
    // generation 2: k spread over [0, 100)
    t.insert(spark.range(0, 100).select($"id".as("k"), ($"id" % 4).as("cust")))
    def finalPlan(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    }
    val total = t.manifestDf(t.currentVersion).count()
    val q = t.read().filter($"k" =!= 5L)
    assert(q.count() == 99L) // generation 2 minus its one k=5 row
    val kept = cowScanPartitions(finalPlan(q)).flatMap(_.files)
      .map(_.filePath.toString).toSet
    assert(kept.nonEmpty && kept.size < total,
      s"Not(EqualTo) must prune the constant-k files ($total planned ${kept.size})")
    assert(kept.forall(_.contains("/v2/")),
      s"generation-1 (k==5 constant) files must prune: ${kept.mkString(", ")}")
    // the DISTRIBUTED pre-filter prunes the same shape, and its survivors
    // are a superset of the authoritative driver-side keeps
    val scan = q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().contains("GraftCowScan") => b.scan
    }.head.asInstanceOf[graft.catalog.CowScan]
    val manifest = spark.read.parquet(s"$root/_manifests/v${t.currentVersion}")
    val pre = scan.manifestPreFilter(hasStats = true)
    assert(pre.isDefined, "Not(EqualTo) must lower into the pre-filter")
    val survivors = manifest.filter(pre.get).select("path")
      .collect().map(_.getString(0)).toSet
    assert(survivors.size < total,
      "pre-filter must prune the constant-k files before the collect")
    assert(kept.subsetOf(survivors),
      s"superset contract violated: driver keeps ${kept -- survivors} that the pre-filter dropped")
    // EqualNullSafe probes the same interval logic: 7 is outside [5,5]
    val q2 = t.read().filter($"k" <=> 7L)
    assert(q2.count() == 1L)
    val kept2 = cowScanPartitions(finalPlan(q2)).flatMap(_.files)
      .map(_.filePath.toString).toSet
    assert(kept2.nonEmpty && kept2.forall(_.contains("/v2/")),
      s"EqualNullSafe(7) must prune the k==5-constant files: ${kept2.mkString(", ")}")
  }

  test("string-range pruning requires the UTF-8 merge marker (legacy manifests keep)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cow_strgate").toString
    val t = graft.catalog.CowTable.create(spark, root,
      spark.range(0, 100).select(
        concat(lit("a"), lpad($"id".cast("string"), 3, "0")).as("s"),
        ($"id" % 4).as("cust")),
      bucketBy = Seq("cust"), bucketCount = 2)
    t.insert(spark.range(0, 100).select(
      concat(lit("z"), lpad($"id".cast("string"), 3, "0")).as("s"),
      ($"id" % 4).as("cust")))
    def finalPlan(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    }
    val total = t.manifestDf(t.currentVersion).count()
    // markers present (written by this code): the disjoint generation prunes
    val q = t.read().filter($"s" >= "z")
    assert(q.count() == 100L)
    val kept = cowScanPartitions(finalPlan(q)).flatMap(_.files)
    assert(kept.nonEmpty && kept.size < total &&
      kept.forall(_.filePath.toString.contains("/v2/")),
      s"string bounds under the marker must prune generation 1 (${kept.size} of $total)")
    // strip the marker — a manifest written by a PRE-UTF-8-merge engine:
    // its string bounds may be UTF-16-merged, so range pruning must not
    // trust them (keep everything); results are unchanged either way
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      root, "_manifests", s"v${t.currentVersion}", "_stats_utf8"))
    val q2 = t.read().filter($"s" >= "z")
    assert(q2.count() == 100L)
    val kept2 = cowScanPartitions(finalPlan(q2)).flatMap(_.files)
    assert(kept2.size == total,
      s"unmarked manifests must not string-range prune (${kept2.size} of $total)")
    // and the next commit SANITIZES carried string stats before re-marking:
    // the new manifest prunes only through (trustworthy) re-lifted stats
    t.insert(spark.range(0, 10).select(
      concat(lit("m"), lpad($"id".cast("string"), 3, "0")).as("s"),
      ($"id" % 4).as("cust")))
    val v3 = t.currentVersion
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, "_manifests", s"v$v3", "_stats_utf8")))
    val m3 = spark.read.parquet(s"$root/_manifests/v$v3")
    import org.apache.spark.sql.functions.{col, map_keys, array_contains}
    // carried entries (v1/v2 files) lost their s-bounds; fresh v3 files keep theirs
    val carriedWithS = m3.filter(!col("path").contains(s"/v$v3/"))
      .filter(array_contains(map_keys(col("stats")), "s")).count()
    assert(carriedWithS == 0L,
      "carried string stats from an unmarked manifest must be stripped")
    val freshWithS = m3.filter(col("path").contains(s"/v$v3/"))
      .filter(array_contains(map_keys(col("stats")), "s")).count()
    assert(freshWithS > 0L, "fresh files must still carry string stats")
    assert(t.read().filter($"s" >= "z").count() == 100L)
  }
}
