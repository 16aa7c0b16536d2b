package graft

import graft.sqlx.TrinoDialect
import graft.catalog.CatalogStore

/** CREATE/DROP CATALOG DDL over the persisted catalog store (reference
  * SqlBase.g4:58, CreateCatalogTask/DropCatalogTask, file CatalogStore):
  * create → query through multi-part names → SHOW CATALOGS → drop;
  * unknown-connector and missing-property error shapes; restart reload;
  * enforced-user denial. */
class CatalogDdlSpec extends SparkSpec {

  private def run(sql: String) = TrinoDialect.sql(spark, sfDir, sql)

  test("CREATE CATALOG ... USING csv, query through it, DROP CATALOG") {
    graft.catalog.CsvFileCatalog.ensure(spark, sfDir) // stage CSV data files
    val root = spark.conf.get("spark.sql.catalog.graft_csv.path")
    run(s"CREATE CATALOG ddl_csv USING csv WITH (path = '$root')")
    // SHOW CATALOGS reflects the new catalog
    val cats = run("SHOW CATALOGS").collect().map(_.getString(0)).toSet
    assert(cats.contains("ddl_csv"), cats)
    // system.metadata.catalogs reports the STORE's connector name
    val meta = run("SELECT * FROM system.metadata.catalogs")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(meta.get("ddl_csv").contains("csv"), meta)
    // a statement-session query resolves through the DDL-created catalog
    val n = run("SELECT count(*) AS n FROM ddl_csv.default.nation")
      .collect().head.getLong(0)
    assert(n == 25L)
    // re-create without IF NOT EXISTS → reference error shape
    val dup = intercept[IllegalArgumentException](
      run(s"CREATE CATALOG ddl_csv USING csv WITH (path = '$root')"))
    assert(dup.getMessage.contains("already exists"))
    run("CREATE CATALOG IF NOT EXISTS ddl_csv USING csv WITH (path = '" +
      root + "')") // no-op
    run("DROP CATALOG ddl_csv")
    assert(!run("SHOW CATALOGS").collect().map(_.getString(0)).toSet
      .contains("ddl_csv"))
    val gone = intercept[IllegalArgumentException](run("DROP CATALOG ddl_csv"))
    assert(gone.getMessage.contains("does not exist"))
    run("DROP CATALOG IF EXISTS ddl_csv") // no-op
  }

  test("unknown connector errors with the factory shape") {
    val e = intercept[IllegalArgumentException](
      run("CREATE CATALOG broken USING nosuchthing"))
    assert(e.getMessage.contains("No factory for connector 'nosuchthing'"),
      e.getMessage)
  }

  test("missing required property is named in the error") {
    val e = intercept[IllegalArgumentException](
      run("CREATE CATALOG broken USING csv"))
    assert(e.getMessage.contains("requires property 'path'"), e.getMessage)
  }

  test("tpch connector catalog generates tables with zero input I/O") {
    run("CREATE CATALOG IF NOT EXISTS ddl_tpch USING tpch WITH (sf = '0.001')")
    val n = spark.table("ddl_tpch.region").count()
    assert(n == 5L)
    run("DROP CATALOG ddl_tpch")
  }

  test("CREATE CATALOG USING postgresql: wire connector behind multi-part names") {
    val srv = new graft.sources.PgWire.Server()
    try {
      srv.createTable("widgets", Seq(
        graft.sources.PgWire.Column("id", graft.sources.PgWire.OidInt8),
        graft.sources.PgWire.Column("grade", graft.sources.PgWire.OidVarchar)),
        (1 to 40).map(i => Array[Any](i.toLong, s"g${i % 4}")).toVector)
      run("CREATE CATALOG ddl_pg USING postgresql WITH " +
        s"(host = '127.0.0.1', port = '${srv.port}')")
      // catalog-qualified SQL resolves the wire table; the aggregate
      // pushes COMPLETE into the remote engine through the DDL catalog
      val before = srv.rowsServed.get()
      val agg = spark.sql(
        "SELECT grade, count(*) AS n FROM ddl_pg.default.widgets GROUP BY grade")
      assert(!agg.queryExecution.executedPlan.toString.contains("HashAggregate"))
      assert(agg.collect().map(_.getAs[Long]("n")).sum == 40L)
      assert(srv.rowsServed.get() - before <= 5)
      run("DROP CATALOG ddl_pg")
    } finally srv.close()

    // the other two wire fronts behind CREATE CATALOG: clickhouse (same
    // SQL pushdown) and elasticsearch (tables are indices, `_id` builtin)
    val ch = new graft.sources.ClickHouseWire.Server()
    try {
      ch.createTable("widgets", Seq(
        graft.sources.PgWire.Column("id", graft.sources.PgWire.OidInt8),
        graft.sources.PgWire.Column("grade", graft.sources.PgWire.OidVarchar)),
        (1 to 40).map(i => Array[Any](i.toLong, s"g${i % 4}")).toVector)
      run("CREATE CATALOG ddl_ch USING clickhouse WITH " +
        s"(host = '127.0.0.1', port = '${ch.port}')")
      val agg = spark.sql(
        "SELECT grade, count(*) AS n FROM ddl_ch.default.widgets GROUP BY grade")
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("HashAggregate"), plan)
      assert(plan.contains("ChScan(") && plan.contains("clickhouse:widgets"), plan)
      assert(agg.collect().map(r => r.getAs[String]("grade") -> r.getAs[Long]("n"))
        .toMap == (0 until 4).map(g => s"g$g" -> 10L).toMap)
      run("DROP CATALOG ddl_ch")
    } finally ch.close()

    val es = new graft.sources.EsWire.Server()
    try {
      es.createIndex("gadgets", Seq("name" -> "keyword", "rank" -> "long"), shards = 2)
      (1 to 30).foreach(i => es.index("gadgets", i.toString,
        Map("name" -> s"n$i", "rank" -> i.toLong)))
      run("CREATE CATALOG ddl_es USING elasticsearch WITH " +
        s"(host = '127.0.0.1', port = '${es.port}')")
      val hits = spark.sql(
        "SELECT _id, name FROM ddl_es.default.gadgets WHERE rank > 20")
      val plan = hits.queryExecution.executedPlan.toString
      assert(plan.contains("EsScan(gadgets") && plan.contains("es:gadgets"), plan)
      assert(plan.contains(""""range":{"rank":{"gt":20}}"""), plan)
      assert(hits.collect().map(_.getAs[String]("name")).sorted.toSeq ==
        (21 to 30).map(i => s"n$i").sorted)
      run("DROP CATALOG ddl_es")
    } finally es.close()
  }

  test("persisted catalogs reload after conf loss (restart contract)") {
    graft.catalog.CsvFileCatalog.ensure(spark, sfDir)
    val root = spark.conf.get("spark.sql.catalog.graft_csv.path")
    run(s"CREATE CATALOG ddl_reload USING csv WITH (path = '$root')")
    // simulate a coordinator restart: the conf space is wiped
    spark.conf.unset("spark.sql.catalog.ddl_reload")
    spark.conf.unset("spark.sql.catalog.ddl_reload.path")
    assert(!CatalogStore.exists(spark, "ddl_reload"))
    val loaded = CatalogStore.load(spark)
    assert(loaded.contains("ddl_reload"), loaded)
    assert(spark.table("ddl_reload.default.nation").count() == 25L)
    run("DROP CATALOG ddl_reload")
  }

  test("grant-enforced users cannot create or drop catalogs") {
    import graft.sqlx.SessionContext
    val e = intercept[graft.sqlx.AccessDeniedException] {
      SessionContext.within(SessionContext.Ctx(
        user = Some("mallory"), enforce = true)) {
        run("CREATE CATALOG sneaky USING memory")
      }
    }
    assert(e.getMessage.contains("Cannot create catalog"))
    val d = intercept[graft.sqlx.AccessDeniedException] {
      SessionContext.within(SessionContext.Ctx(
        user = Some("mallory"), enforce = true)) {
        run("DROP CATALOG graft_csv")
      }
    }
    assert(d.getMessage.contains("Cannot drop catalog"))
  }
}
