package graft

import graft.sqlx.TrinoDialect

/** Statement front door beyond DML (SqlBase.g4 :84ff): ALTER TABLE
  * metadata-only evolution, schema namespace + USE, SET/RESET/SHOW
  * SESSION, GRANT/REVOKE/SHOW GRANTS recording, COMMENT ON, SHOW CREATE
  * TABLE, DROP VIEW, SHOW STATS. */
class StatementSpec extends SparkSpec {

  private def sql(text: String) = TrinoDialect.sql(spark, sfDir, text)

  test("ALTER TABLE: add/rename/drop columns are metadata-only and mixed files read back") {
    sql("CREATE OR REPLACE TABLE st_alter AS SELECT n_nationkey AS k, n_name AS name FROM nation")
    // add a column: old files surface NULL, new inserts carry it
    sql("ALTER TABLE st_alter ADD COLUMN score DOUBLE")
    sql("INSERT INTO st_alter VALUES (100, 'XANADU', CAST(1.5 AS DOUBLE))")
    val afterAdd = sql("SELECT count(*) AS n, count(score) AS s FROM st_alter").head()
    assert(afterAdd.getLong(0) == 26 && afterAdd.getLong(1) == 1)
    // rename: new name reads both pre- and post-rename files
    sql("ALTER TABLE st_alter RENAME COLUMN name TO nation_name")
    sql("INSERT INTO st_alter VALUES (101, 'OZ', CAST(2.5 AS DOUBLE))")
    val names = sql(
      "SELECT count(nation_name) AS c FROM st_alter WHERE nation_name IS NOT NULL").head()
    assert(names.getLong(0) == 27, "both physical column generations readable")
    intercept[Exception] { sql("SELECT name FROM st_alter").collect() }
    // drop: column disappears from reads and DESCRIBE
    sql("ALTER TABLE st_alter DROP COLUMN score")
    val cols = sql("DESCRIBE st_alter").collect().map(_.getString(0)).toSeq
    assert(cols == Seq("k", "nation_name"))
    // rename table
    sql("ALTER TABLE st_alter RENAME TO st_alter2")
    assert(sql("SELECT count(*) AS n FROM st_alter2").head().getLong(0) == 27)
    intercept[Exception] { sql("SELECT * FROM st_alter").collect() }
    sql("DROP TABLE st_alter2")
    // IF EXISTS forms are silent no-ops
    sql("ALTER TABLE IF EXISTS st_alter_missing ADD COLUMN x BIGINT")
  }

  test("schemas: CREATE/USE/DROP, qualified references resolve through the planner") {
    sql("CREATE SCHEMA st_s1")
    sql("USE st_s1")
    sql("CREATE TABLE t1 AS SELECT r_regionkey AS k FROM region")
    // qualified reference from the default schema
    sql("USE default")
    assert(sql("SELECT count(*) AS n FROM st_s1.t1").head().getLong(0) == 5)
    intercept[Exception] { sql("DROP SCHEMA st_s1") } // not empty
    sql("DROP TABLE st_s1.t1")
    sql("DROP SCHEMA st_s1")
    intercept[Exception] { sql("USE st_s1") }
  }

  test("SET/RESET/SHOW SESSION; join_distribution_type maps onto live conf") {
    sql("SET SESSION join_distribution_type = 'PARTITIONED'")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    val shown = sql("SHOW SESSION").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown("join_distribution_type") == "PARTITIONED")
    sql("RESET SESSION join_distribution_type")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold").toLong > 0)
    assert(!sql("SHOW SESSION").collect().exists(_.getString(0) == "join_distribution_type"))
    // unknown properties are recorded + surfaced (connector-property model)
    sql("SET SESSION mycatalog.some_knob = 'v1'")
    assert(sql("SHOW SESSION").collect().exists(_.getString(0) == "mycatalog.some_knob"))
    sql("RESET SESSION mycatalog.some_knob")
  }

  test("GRANT/REVOKE recording and SHOW GRANTS") {
    sql("CREATE OR REPLACE TABLE st_g AS SELECT 1 AS x")
    sql("GRANT SELECT, INSERT ON TABLE st_g TO alice")
    sql("GRANT ALL PRIVILEGES ON st_g TO bob")
    val all = sql("SHOW GRANTS ON st_g").collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(all.contains(("alice", "SELECT")) && all.contains(("alice", "INSERT")))
    assert(all.contains(("bob", "DELETE")) && all.contains(("bob", "UPDATE")))
    sql("REVOKE INSERT ON st_g FROM alice")
    val after = sql("SHOW GRANTS ON st_g").collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(after.contains(("alice", "SELECT")) && !after.contains(("alice", "INSERT")))
    sql("REVOKE ALL ON st_g FROM bob")
    // scoped to st_g: the grants registry is JVM-global and other suites
    // (SecuritySpec) legitimately hold grants for the same grantee
    assert(!sql("SHOW GRANTS ON st_g").collect().exists(_.getString(0) == "bob"))
    sql("DROP TABLE st_g")
  }

  test("COMMENT ON + SHOW CREATE TABLE round-trip") {
    sql("CREATE OR REPLACE TABLE st_c AS SELECT 1 AS id, 'x' AS v")
    sql("COMMENT ON TABLE st_c IS 'a test table'")
    sql("COMMENT ON COLUMN st_c.id IS 'the key'")
    val desc = sql("DESCRIBE st_c").collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(desc("id") == "the key" && desc("v") == "")
    val ddl = sql("SHOW CREATE TABLE st_c").collect().map(_.getString(0)).mkString("\n")
    assert(ddl.contains("CREATE TABLE st_c"))
    assert(ddl.contains("id integer COMMENT 'the key'"))
    assert(ddl.contains("v varchar"))
    assert(ddl.contains("COMMENT 'a test table'"))
    sql("COMMENT ON COLUMN st_c.id IS NULL")
    assert(sql("DESCRIBE st_c").collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap.apply("id") == "")
    sql("DROP TABLE st_c")
  }

  test("SHOW CREATE VIEW round-trips the stored definition") {
    sql("CREATE OR REPLACE VIEW st_scv AS SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 1")
    val ddl = sql("SHOW CREATE VIEW st_scv").collect()
      .map(_.getString(0)).mkString("\n")
    assert(ddl.startsWith("CREATE VIEW st_scv AS"), ddl)
    assert(ddl.toLowerCase.contains("n_regionkey"), ddl)
    intercept[Exception] { sql("SHOW CREATE VIEW no_such_view").collect() }
    sql("DROP VIEW st_scv")
  }

  test("materialized views: CREATE/REFRESH/DROP + SHOW CREATE MATERIALIZED VIEW") {
    sql("CREATE OR REPLACE TABLE st_mv_src AS SELECT n_nationkey AS k, n_regionkey AS r FROM nation")
    sql("""CREATE OR REPLACE MATERIALIZED VIEW st_mv AS
           SELECT r, count(*) AS n FROM st_mv_src GROUP BY r""")
    // reads serve the MATERIALIZATION (not a recompute)
    assert(sql("SELECT sum(n) AS t FROM st_mv").head().getLong(0) == 25L)
    // the stored definition round-trips verbatim
    val ddl = sql("SHOW CREATE MATERIALIZED VIEW st_mv").collect()
      .map(_.getString(0)).mkString("\n")
    assert(ddl.startsWith("CREATE MATERIALIZED VIEW st_mv AS"), ddl)
    assert(ddl.contains("GROUP BY r"), ddl)
    // source advances → the view is stale until REFRESH recomputes
    sql("INSERT INTO st_mv_src VALUES (100, 9)")
    assert(sql("SELECT sum(n) AS t FROM st_mv").head().getLong(0) == 25L,
      "materialization must not see new source rows before REFRESH")
    // system.metadata.materialized_views surfaces name + freshness
    def mvRow() = sql("""SELECT freshness, definition
                         FROM system.metadata.materialized_views
                         WHERE name = 'st_mv'""").collect()
    assert(mvRow().head.getString(0) == "STALE")
    sql("REFRESH MATERIALIZED VIEW st_mv")
    assert(sql("SELECT sum(n) AS t FROM st_mv").head().getLong(0) == 26L)
    assert(mvRow().head.getString(0) == "FRESH")
    assert(mvRow().head.getString(1).contains("GROUP BY r"))
    sql("DROP MATERIALIZED VIEW st_mv")
    intercept[Exception] { sql("SHOW CREATE MATERIALIZED VIEW st_mv").collect() }
    sql("DROP MATERIALIZED VIEW IF EXISTS st_mv") // idempotent with IF EXISTS
  }

  test("ALTER TABLE ... EXECUTE optimize compacts small files (reference spelling)") {
    sql("CREATE OR REPLACE TABLE st_exec AS SELECT n_nationkey AS k FROM nation")
    // several tiny files: append in slices
    (0 until 3).foreach(i =>
      sql(s"INSERT INTO st_exec SELECT n_nationkey + ${100 * (i + 1)} FROM nation"))
    val before = sql("SELECT count(*) AS n FROM st_exec").head().getLong(0)
    val compacted = sql(
      "ALTER TABLE st_exec EXECUTE optimize(file_size_threshold => 33554432)")
      .head().getLong(0)
    assert(compacted >= 2, s"expected small files compacted, got $compacted")
    // contents unchanged, new version published
    assert(sql("SELECT count(*) AS n FROM st_exec").head().getLong(0) == before)
    sql("DROP TABLE st_exec")
  }

  test("branches through the SQL front door: DDL, @branch DML, branch reads") {
    sql("CREATE OR REPLACE TABLE st_br AS SELECT n_nationkey AS k FROM nation")
    sql("CREATE BRANCH dev IN TABLE st_br")
    sql("CREATE BRANCH IF NOT EXISTS dev IN TABLE st_br") // idempotent
    intercept[Exception] { sql("CREATE BRANCH dev IN TABLE st_br") }
    // @branch DML stays off main
    sql("INSERT INTO st_br@dev VALUES (100)")
    sql("DELETE FROM st_br@dev WHERE k < 5")
    assert(sql("SELECT count(*) AS n FROM st_br").head().getLong(0) == 25L)
    // branch read: FOR VERSION AS OF '<branch>'
    assert(sql("SELECT count(*) AS n FROM st_br FOR VERSION AS OF 'dev'")
      .head().getLong(0) == 21L) // 25 + 1 - 5
    // SHOW BRANCHES lists main + dev with heads
    val brs = sql("SHOW BRANCHES IN TABLE st_br").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(brs.keySet == Set("main", "dev"))
    assert(brs("dev") > brs("main"))
    // unknown branch targets fail loudly
    intercept[Exception] { sql("INSERT INTO st_br@nope VALUES (1)") }
    // fast-forward publishes dev as main
    sql("ALTER BRANCH main IN TABLE st_br FAST FORWARD TO dev")
    assert(sql("SELECT count(*) AS n FROM st_br").head().getLong(0) == 21L)
    sql("DROP BRANCH dev IN TABLE st_br")
    assert(sql("SHOW BRANCHES IN TABLE st_br").collect()
      .map(_.getString(0)).toSet == Set("main"))
    sql("DROP TABLE st_br")
  }

  test("TRUNCATE TABLE empties but keeps the table; history rewinds") {
    sql("CREATE OR REPLACE TABLE st_trunc AS SELECT n_nationkey AS k FROM nation")
    sql("TRUNCATE TABLE st_trunc")
    assert(sql("SELECT count(*) AS n FROM st_trunc").head().getLong(0) == 0L)
    // the table still exists and accepts inserts
    sql("INSERT INTO st_trunc VALUES (7)")
    assert(sql("SELECT count(*) AS n FROM st_trunc").head().getLong(0) == 1L)
    // pre-truncate snapshot stays time-travelable
    sql("CALL system.rollback_to_version(table => 'st_trunc', version => 1)")
    assert(sql("SELECT count(*) AS n FROM st_trunc").head().getLong(0) == 25L)
    sql("DROP TABLE st_trunc")
  }

  test("ALTER VIEW RENAME TO moves the definition and the relation") {
    sql("CREATE OR REPLACE VIEW st_avr AS SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 2")
    sql("ALTER VIEW st_avr RENAME TO st_avr2")
    assert(sql("SELECT count(*) AS n FROM st_avr2").head().getLong(0) == 5L)
    intercept[Exception] { sql("SELECT count(*) AS n FROM st_avr").collect() }
    val ddl = sql("SHOW CREATE VIEW st_avr2").collect()
      .map(_.getString(0)).mkString("\n")
    assert(ddl.toLowerCase.contains("n_regionkey"), ddl)
    sql("DROP VIEW st_avr2")
  }

  test("SHOW ... LIKE filters listings with SQL pattern semantics") {
    // tables: % wildcard
    sql("CREATE OR REPLACE TABLE st_like_a AS SELECT 1 AS v")
    sql("CREATE OR REPLACE TABLE st_like_b AS SELECT 2 AS v")
    val tabs = sql("SHOW TABLES LIKE 'st!_like!_%' ESCAPE '!'")
      .collect().map(_.getString(0)).toSet
    assert(tabs == Set("st_like_a", "st_like_b"), tabs.mkString(","))
    // _ matches exactly one character; escape makes it literal
    val one = sql("SHOW TABLES LIKE 'st!_like!_a' ESCAPE '!'")
      .collect().map(_.getString(0)).toSet
    assert(one == Set("st_like_a"))
    // unescaped _ is a wildcard: st_like_a and st_like_b both match stXlikeXa-shapes
    val wild = sql("SHOW TABLES LIKE 'st_like__'")
      .collect().map(_.getString(0)).toSet
    assert(wild == Set("st_like_a", "st_like_b"))
    // catalogs + functions + schemas accept the same tail (other suites may
    // register graft_* catalogs concurrently — assert the FILTER, not the set)
    val cats = sql("SHOW CATALOGS LIKE 'graft'")
      .collect().map(_.getString(0)).toSeq
    assert(cats == Seq("graft"), cats.mkString(","))
    assert(sql("SHOW CATALOGS LIKE 'zzz%'").collect().isEmpty)
    assert(sql("SHOW FUNCTIONS LIKE 'st!_as!_%' ESCAPE '!'")
      .collect().map(_.getString(0)).forall(_.startsWith("st_as_")))
    assert(sql("SHOW SCHEMAS LIKE 'no_such%'").collect().isEmpty)
    sql("DROP TABLE st_like_a"); sql("DROP TABLE st_like_b")
  }

  test("schema lifecycle extras: ALTER SCHEMA RENAME, DROP SCHEMA CASCADE, SHOW CREATE SCHEMA") {
    sql("CREATE SCHEMA st_sch_a")
    sql("USE st_sch_a")
    sql("CREATE TABLE t1 AS SELECT 1 AS v")
    sql("USE default")
    assert(sql("SHOW CREATE SCHEMA st_sch_a").head().getString(0)
      == "CREATE SCHEMA st_sch_a")
    // rename carries the contained tables
    sql("ALTER SCHEMA st_sch_a RENAME TO st_sch_b")
    assert(sql("SELECT v FROM st_sch_b.t1").head().getInt(0) == 1)
    intercept[Exception] { sql("SELECT v FROM st_sch_a.t1").collect() }
    // RESTRICT (default) refuses a non-empty schema; CASCADE drops contents
    intercept[Exception] { sql("DROP SCHEMA st_sch_b") }
    sql("DROP SCHEMA st_sch_b CASCADE")
    intercept[Exception] { sql("SELECT v FROM st_sch_b.t1").collect() }
    intercept[Exception] { sql("SHOW CREATE SCHEMA st_sch_b").collect() }
  }

  test("ANALYZE, COMMENT ON VIEW, SET AUTHORIZATION, SHOW CREATE FUNCTION, ALTER VIEW REFRESH") {
    sql("CREATE OR REPLACE TABLE st_misc AS SELECT n_nationkey AS k FROM nation")
    assert(sql("ANALYZE st_misc").head().getLong(0) == 25L)
    assert(sql("ANALYZE st_misc WITH (columns = ARRAY['k'])").head().getLong(0) == 25L)
    // COMMENT ON VIEW lands in SHOW CREATE VIEW
    sql("CREATE OR REPLACE VIEW st_misc_v AS SELECT k FROM st_misc")
    sql("COMMENT ON VIEW st_misc_v IS 'the misc view'")
    val ddl = sql("SHOW CREATE VIEW st_misc_v").collect()
      .map(_.getString(0)).mkString("\n")
    assert(ddl.contains("COMMENT 'the misc view'"), ddl)
    sql("ALTER VIEW st_misc_v REFRESH") // no-op contract: views compute live
    // ownership transfer surfaces through ALTER ... SET AUTHORIZATION
    sql("ALTER TABLE st_misc SET AUTHORIZATION alice")
    sql("ALTER VIEW st_misc_v SET AUTHORIZATION bob")
    // SHOW CREATE FUNCTION round-trips the stored routine DDL
    sql("CREATE OR REPLACE FUNCTION st_misc_fn(x BIGINT) RETURNS BIGINT RETURN x * 2")
    val fddl = sql("SHOW CREATE FUNCTION st_misc_fn").head().getString(0)
    assert(fddl.toLowerCase.contains("st_misc_fn") && fddl.contains("x * 2"), fddl)
    intercept[Exception] { sql("SHOW CREATE FUNCTION no_such_fn").collect() }
    sql("DROP VIEW st_misc_v"); sql("DROP TABLE st_misc")
  }

  test("the metadata schema names are reserved (row-policy exemption safety)") {
    for (reserved <- Seq("system", "information_schema")) {
      val e = intercept[IllegalArgumentException] {
        sql(s"CREATE SCHEMA $reserved")
      }
      assert(e.getMessage.contains("reserved"), e.getMessage)
    }
  }

  test("DROP VIEW") {
    sql("CREATE VIEW st_v AS SELECT 1 AS one")
    assert(sql("SELECT * FROM st_v").head().getInt(0) == 1)
    sql("DROP VIEW st_v")
    intercept[Exception] { sql("SELECT * FROM st_v").collect() }
    sql("DROP VIEW IF EXISTS st_v")
    intercept[Exception] { sql("DROP VIEW st_v") }
  }

  test("transactions: ROLLBACK restores catalog + table versions, COMMIT keeps them") {
    sql("CREATE OR REPLACE TABLE st_txn AS SELECT n_nationkey AS k FROM nation")
    sql("START TRANSACTION")
    sql("INSERT INTO st_txn VALUES (100)")
    sql("UPDATE st_txn SET k = k + 1000 WHERE k < 3")
    sql("CREATE TABLE st_txn_new AS SELECT 1 AS x")
    assert(sql("SELECT count(*) AS n FROM st_txn").head().getLong(0) == 26)
    sql("ROLLBACK")
    // mutations undone, mid-transaction table gone
    assert(sql("SELECT count(*) AS n FROM st_txn").head().getLong(0) == 25)
    assert(sql("SELECT max(k) AS m FROM st_txn").head()
      .getAs[Number](0).longValue == 24)
    intercept[Exception] { sql("SELECT * FROM st_txn_new").collect() }
    // COMMIT makes the work durable
    sql("START TRANSACTION ISOLATION LEVEL SERIALIZABLE, READ WRITE")
    sql("INSERT INTO st_txn VALUES (200)")
    sql("COMMIT")
    assert(sql("SELECT count(*) AS n FROM st_txn").head().getLong(0) == 26)
    // transaction discipline errors
    intercept[Exception] { sql("COMMIT") }
    intercept[Exception] { sql("ROLLBACK") }
    sql("START TRANSACTION")
    intercept[Exception] { sql("START TRANSACTION") }
    sql("ROLLBACK")
    sql("DROP TABLE st_txn")
  }

  test("CALL: rollback_to_version, vacuum, flush_metadata_cache") {
    sql("CREATE OR REPLACE TABLE st_call AS SELECT r_regionkey AS k FROM region")
    sql("INSERT INTO st_call VALUES (100)")
    sql("DELETE FROM st_call WHERE k < 2")
    assert(sql("SELECT count(*) AS n FROM st_call").head().getLong(0) == 4)
    // named-argument form; version 2 = after the INSERT
    sql("CALL system.rollback_to_version(table => 'st_call', version => 2)")
    assert(sql("SELECT count(*) AS n FROM st_call").head().getLong(0) == 6)
    // positional form back to version 1 (the CTAS)
    sql("CALL system.rollback_to_version('st_call', 1)")
    assert(sql("SELECT count(*) AS n FROM st_call").head().getLong(0) == 5)
    // vacuum drops expired manifests: time travel to them now fails loudly
    sql("CALL system.vacuum('st_call')")
    assert(sql("SELECT count(*) AS n FROM st_call").head().getLong(0) == 5)
    intercept[Exception] {
      sql("CALL system.rollback_to_version('st_call', 2)")
      sql("SELECT count(*) AS n FROM st_call").collect()
    }
    sql("CALL system.flush_metadata_cache()")
    val unknown = intercept[IllegalArgumentException] { sql("CALL system.no_such_proc()") }
    assert(unknown.getMessage.contains("procedure 'system.no_such_proc' is not registered"),
      unknown.getMessage)
    sql("DROP TABLE IF EXISTS st_call")
  }

  test("CALL system.export_to_delta snapshots a warehouse table as open Delta") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_stmt_delta_export").getAbsolutePath
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(path))
    sql("CREATE OR REPLACE TABLE st_exp AS SELECT r_regionkey AS k, r_name FROM region")
    val v = sql(s"CALL system.export_to_delta('st_exp', '$path')").head().getLong(0)
    assert(v == 0L)
    val back = catalog.DeltaRead.readTable(spark, path)
    assert(back.count() == 5)
    // appended snapshot doubles the replayed rows
    val v2 = sql(s"CALL system.export_to_delta('st_exp', '$path')").head().getLong(0)
    assert(v2 == 1L)
    assert(catalog.DeltaRead.readTable(spark, path).count() == 10)
    // iceberg twin
    val ipath = path + "_ice"
    rm(new java.io.File(ipath))
    val s1 = sql(s"CALL system.export_to_iceberg('st_exp', '$ipath')").head().getLong(0)
    assert(s1 == 1L)
    assert(catalog.IcebergRead.readTable(spark, ipath).count() == 5)
    // hudi twin (completes the export trio)
    val hpath = path + "_hudi"
    rm(new java.io.File(hpath))
    val inst = sql(s"CALL system.export_to_hudi('st_exp', '$hpath')").head().getString(0)
    assert(inst.nonEmpty)
    val hback = catalog.HudiRead.readTable(spark, hpath)
    assert(hback.count() == 5)
    assert(hback.columns.contains("k") && hback.columns.contains("r_name"))
    sql("DROP TABLE st_exp")
  }

  test("roles: CREATE/SET/SHOW/GRANT role metadata") {
    sql("CREATE ROLE analyst")
    sql("CREATE ROLE admin")
    intercept[Exception] { sql("CREATE ROLE analyst") }
    assert(sql("SHOW ROLES").collect().map(_.getString(0)).toSet
      .intersect(Set("analyst", "admin")) == Set("analyst", "admin"))
    sql("SET ROLE analyst")
    assert(sql("SHOW CURRENT ROLES").collect().map(_.getString(0)).toSeq == Seq("analyst"))
    sql("SET ROLE NONE")
    assert(sql("SHOW CURRENT ROLES").collect().isEmpty)
    sql("GRANT analyst TO USER carol")
    intercept[Exception] { sql("GRANT no_such_role TO USER carol") }
    sql("REVOKE analyst FROM USER carol")
    sql("DROP ROLE admin")
    sql("DROP ROLE analyst")
    intercept[Exception] { sql("SET ROLE analyst") }
  }

  test("DESCRIBE INPUT/OUTPUT over prepared statements") {
    sql("PREPARE st_p FROM SELECT n_name, n_regionkey + ? AS rk FROM nation WHERE n_nationkey < ?")
    val in = sql("DESCRIBE INPUT st_p").collect()
    assert(in.map(_.getInt(0)).toSeq == Seq(1, 2))
    val out = sql("DESCRIBE OUTPUT st_p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.contains("n_name") && out.contains("rk"))
    // DML statements report the update-count column, and are NOT executed
    sql("CREATE OR REPLACE TABLE st_desc AS SELECT 1 AS x")
    sql("PREPARE st_pd FROM INSERT INTO st_desc VALUES (?)")
    val dml = sql("DESCRIBE OUTPUT st_pd").collect()
    assert(dml.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("rows", "bigint")))
    assert(sql("SELECT count(*) AS n FROM st_desc").head().getLong(0) == 1,
      "DESCRIBE OUTPUT must not execute the DML")
    sql("DEALLOCATE PREPARE st_p")
    intercept[Exception] { sql("DESCRIBE INPUT st_p").collect() }
    intercept[Exception] { sql("DEALLOCATE PREPARE st_p") }
    sql("DROP TABLE st_desc")
    // a `?` inside a comment is not a parameter
    for (text <- Seq(
        "PREPARE st_pc FROM SELECT n_name FROM nation /* which? */ WHERE n_nationkey = ?",
        "PREPARE st_pc FROM SELECT n_name FROM nation -- which?\nWHERE n_nationkey = ?")) {
      sql(text)
      assert(sql("DESCRIBE INPUT st_pc").collect().map(_.getInt(0)).toSeq == Seq(1), text)
    }
  }

  test("information_schema and system tables are queryable relations") {
    // fixture tables appear with their columns
    val t = sql("""SELECT table_name FROM information_schema.tables
                   WHERE table_schema = 'default' AND table_type = 'BASE TABLE'""")
      .collect().map(_.getString(0)).toSet
    assert(Set("nation", "region", "lineitem").subsetOf(t))
    val c = sql("""SELECT column_name, data_type, ordinal_position
                   FROM information_schema.columns WHERE table_name = 'nation'
                   ORDER BY ordinal_position""").collect()
    assert(c.map(_.getString(0)).toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(c.head.getLong(2) == 1L)
    // views carry their definition; dropped views disappear
    sql("CREATE OR REPLACE VIEW is_v AS SELECT r_name FROM region")
    val v = sql("SELECT view_definition FROM information_schema.views WHERE table_name = 'is_v'")
      .collect()
    assert(v.length == 1 && v.head.getString(0).toLowerCase.contains("r_name"))
    sql("DROP VIEW is_v")
    assert(sql("SELECT 1 AS x FROM information_schema.views WHERE table_name = 'is_v'")
      .collect().isEmpty)
    // schemata includes created schemas; system tables respond
    sql("CREATE SCHEMA IF NOT EXISTS meta_s")
    val schemata = sql("SELECT schema_name FROM information_schema.schemata")
      .collect().map(_.getString(0)).toSet
    assert(schemata.contains("meta_s") && schemata.contains("information_schema"))
    assert(sql("SELECT node_id FROM system.runtime.nodes WHERE coordinator").count() == 1)
    val q = sql("""SELECT query FROM system.runtime.queries
                   WHERE query LIKE '%is_v%' AND state = 'FINISHED'""").collect()
    assert(q.nonEmpty, "front-door statements must appear in the query log")
    assert(sql("SELECT catalog_name FROM system.metadata.catalogs")
      .collect().map(_.getString(0)).contains("graft"))
    sql("DROP SCHEMA IF EXISTS meta_s")
  }

  test("system.jdbc relations answer JDBC-spec introspection") {
    // reference io.trino.connector.system.jdbc.* — the exact relations
    // TrinoDatabaseMetaData queries, with JDBC column spellings
    assert(sql("SELECT table_cat FROM system.jdbc.catalogs")
      .collect().map(_.getString(0)).toSeq == Seq("graft"))
    val schemas = sql("SELECT table_schem FROM system.jdbc.schemas")
      .collect().map(_.getString(0)).toSet
    assert(schemas.contains("default") && schemas.contains("information_schema"))
    val tabs = sql("""SELECT table_name, table_type FROM system.jdbc.tables
                      WHERE table_schem = 'default'""").collect()
    assert(tabs.map(_.getString(0)).toSet.contains("nation"))
    // JDBC spelling: BASE TABLE surfaces as TABLE; views (other suites may
    // have registered some concurrently) as VIEW — never anything else
    assert(tabs.forall(r => Set("TABLE", "VIEW")(r.getString(1))))
    assert(tabs.filter(r =>
      Set("nation", "region", "customer")(r.getString(0)))
      .forall(_.getString(1) == "TABLE"))
    val cols = sql("""SELECT column_name, type_name, ordinal_position, is_nullable
                      FROM system.jdbc.columns WHERE table_name = 'nation'
                      ORDER BY ordinal_position""").collect()
    assert(cols.map(_.getString(0)).toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(cols.head.getLong(2) == 1L)
    assert(cols.forall(r => Set("YES", "NO")(r.getString(3))))
  }

  test("EXECUTE IMMEDIATE runs inline text with USING binding") {
    val rows = sql(
      "EXECUTE IMMEDIATE 'SELECT n_name FROM nation WHERE n_nationkey = ? ORDER BY 1' USING 3")
      .collect()
    assert(rows.length == 1)
    // quoted-quote escape inside the immediate text survives the lexer
    val lit = sql("EXECUTE IMMEDIATE 'SELECT ''a?b'' AS s'").collect()
    assert(lit.head.getString(0) == "a?b")
    // a `?` inside a comment is not a parameter
    val commented = sql("EXECUTE IMMEDIATE " +
      "'SELECT n_nationkey FROM nation /* which? */ WHERE n_nationkey = ?' USING 3").collect()
    assert(commented.map(_.getAs[Number](0).longValue).toSeq == Seq(3L))
  }

  test("SHOW STATS over a fixture table and a subquery") {
    val stats = sql("SHOW STATS FOR region").collect()
    val byCol = stats.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r).toMap
    assert(byCol("r_regionkey").getDouble(2) == 5.0, "ndv")
    assert(byCol("r_regionkey").getString(4) == "0" &&
      byCol("r_regionkey").getString(5) == "4", "low/high")
    assert(byCol("r_name").getDouble(1) > 0, "string data size")
    val summary = stats.filter(_.isNullAt(0))
    assert(summary.length == 1 && summary.head.getDouble(6) == 5.0, "row count")
    val qstats = sql("SHOW STATS FOR (SELECT r_regionkey FROM region WHERE r_regionkey < 3)")
      .collect()
    assert(qstats.filter(_.isNullAt(0)).head.getDouble(6) == 3.0)
  }
  test("EXPLAIN options: TYPE VALIDATE/IO/LOGICAL/DISTRIBUTED, FORMAT JSON") {
    val valid = sql("EXPLAIN (TYPE VALIDATE) SELECT n_name FROM nation WHERE n_nationkey < 5")
    assert(valid.collect().map(_.getString(0)).toSeq == Seq("true"))
    intercept[Exception] {
      sql("EXPLAIN (TYPE VALIDATE) SELECT no_such_col FROM nation").collect()
    }

    val io = sql(
      """EXPLAIN (TYPE IO) WITH top AS (SELECT o_custkey FROM orders WHERE o_totalprice > 1000)
         SELECT c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM top)
           AND c_acctbal > (SELECT avg(s_acctbal) FROM supplier)""")
      .head().getString(0)
    assert(io.contains(""""table":"customer"""") && io.contains(""""table":"orders"""")
      && io.contains(""""table":"supplier""""), io)
    assert(!io.contains(""""table":"top""""), s"CTE leaked as base table: $io")

    val logical = sql("EXPLAIN (TYPE LOGICAL) SELECT count(*) FROM nation")
      .collect().map(_.getString(0)).mkString("\n")
    assert(logical.contains("Aggregate"), logical)
    val dist = sql("EXPLAIN SELECT count(*) FROM nation")
      .collect().map(_.getString(0)).mkString("\n")
    assert(dist.contains("Exchange") || dist.contains("HashAggregate"), dist)
    val json = sql("EXPLAIN (TYPE LOGICAL, FORMAT JSON) SELECT count(*) FROM nation")
      .collect().map(_.getString(0)).mkString("\n")
    assert(json.contains("\"class\""), json)
  }

  test("column DEFAULT / NOT NULL: declared at CREATE, applied on INSERT, enforced in-row") {
    sql("""CREATE TABLE st_defs (
             id bigint NOT NULL,
             status varchar DEFAULT 'new',
             score double DEFAULT 0.5 COMMENT 'model score')""")
    // INSERT with a column list omits status/score → defaults fill in
    sql("INSERT INTO st_defs (id) VALUES (1)")
    sql("INSERT INTO st_defs (id, status) VALUES (2, 'done')")
    val rows = sql("SELECT id, status, score FROM st_defs ORDER BY id").collect()
    assert(rows(0).getString(1) == "new" && rows(0).getDouble(2) == 0.5)
    assert(rows(1).getString(1) == "done" && rows(1).getDouble(2) == 0.5)
    // NOT NULL rejects a NULL id
    intercept[Exception] {
      sql("INSERT INTO st_defs (id, status) VALUES (CAST(NULL AS bigint), 'x')")
    }
    // SHOW CREATE TABLE reflects the clauses
    val ddl = sql("SHOW CREATE TABLE st_defs").collect().map(_.getString(0)).mkString("\n")
    assert(ddl.contains("DEFAULT 'new'"), ddl)
    assert(ddl.contains("NOT NULL"), ddl)
    assert(ddl.contains("COMMENT 'model score'"), ddl)
    // ALTER COLUMN DROP NOT NULL → NULL id now allowed
    sql("ALTER TABLE st_defs ALTER COLUMN id DROP NOT NULL")
    sql("INSERT INTO st_defs (id) VALUES (CAST(NULL AS bigint))")
    assert(sql("SELECT count(*) AS n FROM st_defs").head().getLong(0) == 3)
    // SET DEFAULT / DROP DEFAULT change what an omitting INSERT writes
    sql("ALTER TABLE st_defs ALTER COLUMN status SET DEFAULT 'queued'")
    sql("INSERT INTO st_defs (id) VALUES (4)")
    assert(sql("SELECT status FROM st_defs WHERE id = 4").head().getString(0) == "queued")
    sql("ALTER TABLE st_defs ALTER COLUMN status DROP DEFAULT")
    sql("INSERT INTO st_defs (id) VALUES (5)")
    assert(sql("SELECT status FROM st_defs WHERE id = 5").head().isNullAt(0))
    sql("DROP TABLE st_defs")
  }

  test("ALTER COLUMN SET DATA TYPE widens metadata-only; old files cast on read") {
    sql("CREATE TABLE st_widen (k int, v varchar)")
    sql("INSERT INTO st_widen VALUES (1, 'a'), (2, 'b')")
    sql("ALTER TABLE st_widen ALTER COLUMN k SET DATA TYPE bigint")
    val schema = sql("SELECT k FROM st_widen").schema
    assert(schema.head.dataType == org.apache.spark.sql.types.LongType, schema)
    // old rows still readable, new rows land as bigint
    sql("INSERT INTO st_widen VALUES (3000000000, 'c')")
    val total = sql("SELECT sum(k) AS s FROM st_widen").head().getLong(0)
    assert(total == 3000000003L)
    sql("DROP TABLE st_widen")
  }

  test("ADD COLUMN FIRST/AFTER position the new column; SET PROPERTIES round-trips") {
    sql("CREATE TABLE st_pos (a int, c int)")
    sql("ALTER TABLE st_pos ADD COLUMN b int AFTER a")
    sql("ALTER TABLE st_pos ADD COLUMN z int FIRST")
    val cols = sql("DESCRIBE st_pos").collect().map(_.getString(0)).toSeq
    assert(cols == Seq("z", "a", "b", "c"), cols)
    sql("ALTER TABLE st_pos SET PROPERTIES retention_days = 30, tier = 'hot'")
    val ddl = sql("SHOW CREATE TABLE st_pos").collect().map(_.getString(0)).mkString("\n")
    assert(ddl.contains("retention_days = 30"), ddl)
    assert(ddl.contains("tier = 'hot'"), ddl)
    // k = DEFAULT resets the property
    sql("ALTER TABLE st_pos SET PROPERTIES tier = DEFAULT")
    val ddl2 = sql("SHOW CREATE TABLE st_pos").collect().map(_.getString(0)).mkString("\n")
    assert(!ddl2.contains("tier"), ddl2)
    sql("DROP TABLE st_pos")
  }

  test("ALTER MATERIALIZED VIEW: RENAME TO and SET PROPERTIES") {
    sql("CREATE MATERIALIZED VIEW st_mv_a AS SELECT count(*) AS n FROM nation")
    sql("ALTER MATERIALIZED VIEW st_mv_a RENAME TO st_mv_b")
    assert(sql("SELECT n FROM st_mv_b").head().getLong(0) == 25)
    intercept[Exception] { sql("REFRESH MATERIALIZED VIEW st_mv_a").collect() }
    sql("ALTER MATERIALIZED VIEW st_mv_b SET PROPERTIES refresh_interval = '1h'")
    val ddl = sql("SHOW CREATE MATERIALIZED VIEW st_mv_b")
      .collect().map(_.getString(0)).mkString("\n")
    assert(ddl.contains("refresh_interval = '1h'"), ddl)
    sql("DROP MATERIALIZED VIEW st_mv_b")
    // IF EXISTS tolerates the gone name
    sql("ALTER MATERIALIZED VIEW IF EXISTS st_mv_b RENAME TO st_mv_c")
  }

  test("CREATE TABLE LIKE copies column specs; INCLUDING PROPERTIES merges props") {
    sql("""CREATE TABLE st_like_src (
             id bigint NOT NULL,
             status varchar DEFAULT 'new' COMMENT 'state')""")
    sql("ALTER TABLE st_like_src SET PROPERTIES fmt = 'parquet'")
    sql("CREATE TABLE st_like_a (LIKE st_like_src, extra double)")
    val cols = sql("DESCRIBE st_like_a").collect().map(_.getString(0)).toSeq
    assert(cols == Seq("id", "status", "extra"), cols)
    // defaults/NOT NULL carried over
    sql("INSERT INTO st_like_a (id, extra) VALUES (1, 2.5)")
    assert(sql("SELECT status FROM st_like_a").head().getString(0) == "new")
    intercept[Exception] {
      sql("INSERT INTO st_like_a (id, extra) VALUES (CAST(NULL AS bigint), 1.0)")
    }
    // EXCLUDING (default) drops properties; INCLUDING copies them
    val ddlA = sql("SHOW CREATE TABLE st_like_a").collect().map(_.getString(0)).mkString("\n")
    assert(!ddlA.contains("fmt = 'parquet'"), ddlA)
    sql("CREATE TABLE st_like_b (LIKE st_like_src INCLUDING PROPERTIES)")
    val ddlB = sql("SHOW CREATE TABLE st_like_b").collect().map(_.getString(0)).mkString("\n")
    assert(ddlB.contains("fmt = 'parquet'"), ddlB)
    assert(ddlB.contains("COMMENT 'state'"), ddlB)
    sql("DROP TABLE st_like_a"); sql("DROP TABLE st_like_b"); sql("DROP TABLE st_like_src")
  }

  test("SHOW COLUMNS is DESCRIBE with LIKE filtering; DROP FUNCTION removes a routine") {
    sql("CREATE TABLE st_showcols (alpha int, beta int, alpha_two int)")
    val all = sql("SHOW COLUMNS FROM st_showcols").collect().map(_.getString(0)).toSeq
    assert(all == Seq("alpha", "beta", "alpha_two"))
    val filtered = sql("SHOW COLUMNS IN st_showcols LIKE 'alpha%'")
      .collect().map(_.getString(0)).toSeq
    assert(filtered == Seq("alpha", "alpha_two"), filtered)
    sql("DROP TABLE st_showcols")

    sql("CREATE OR REPLACE FUNCTION st_twice(x bigint) RETURNS bigint RETURN x * 2")
    assert(sql("SELECT st_twice(4) AS v").head().getLong(0) == 8L)
    sql("DROP FUNCTION st_twice")
    intercept[Exception] { sql("SELECT st_twice(4) AS v").collect() }
    intercept[Exception] { sql("DROP FUNCTION st_twice") }
    sql("DROP FUNCTION IF EXISTS st_twice") // tolerated
  }

  test("CREATE VIEW COMMENT and SECURITY surface in SHOW CREATE VIEW") {
    sql("""CREATE VIEW st_sec_view COMMENT 'regional rollup' SECURITY INVOKER AS
           SELECT n_regionkey AS r, count(*) AS n FROM nation GROUP BY n_regionkey""")
    val ddl = sql("SHOW CREATE VIEW st_sec_view").collect().map(_.getString(0)).mkString("\n")
    assert(ddl.contains("SECURITY INVOKER"), ddl)
    assert(ddl.contains("COMMENT 'regional rollup'"), ddl)
    assert(sql("SELECT count(*) AS c FROM st_sec_view").head().getLong(0) == 5)
    sql("DROP VIEW st_sec_view")
  }

  test("materialized view WHEN STALE FAIL / INLINE and GRACE PERIOD") {
    sql("CREATE OR REPLACE TABLE st_mv_base AS SELECT n_nationkey AS k FROM nation")
    // FAIL mode: reading a stale MV errors until refreshed
    sql("""CREATE MATERIALIZED VIEW st_mv_fail WHEN STALE FAIL AS
           SELECT count(*) AS n FROM st_mv_base""")
    assert(sql("SELECT n FROM st_mv_fail").head().getLong(0) == 25)
    sql("INSERT INTO st_mv_base VALUES (100)")
    val e = intercept[Exception] { sql("SELECT n FROM st_mv_fail").collect() }
    assert(e.getMessage.contains("stale"), e.getMessage)
    sql("REFRESH MATERIALIZED VIEW st_mv_fail")
    assert(sql("SELECT n FROM st_mv_fail").head().getLong(0) == 26)
    // INLINE mode: a stale MV expands its definition — fresh answer, no fail
    sql("""CREATE MATERIALIZED VIEW st_mv_inline WHEN STALE INLINE AS
           SELECT count(*) AS n FROM st_mv_base""")
    sql("INSERT INTO st_mv_base VALUES (101)")
    assert(sql("SELECT n FROM st_mv_inline").head().getLong(0) == 27,
      "stale INLINE MV answers from the live definition")
    // GRACE PERIOD: staleness within the window reads the materialization
    sql("""CREATE MATERIALIZED VIEW st_mv_grace GRACE PERIOD INTERVAL '3600' SECOND
           WHEN STALE FAIL AS SELECT count(*) AS n FROM st_mv_base""")
    sql("INSERT INTO st_mv_base VALUES (102)")
    assert(sql("SELECT n FROM st_mv_grace").head().getLong(0) == 27,
      "stale but within grace: the materialized snapshot answers")
    val ddl = sql("SHOW CREATE MATERIALIZED VIEW st_mv_grace")
      .collect().map(_.getString(0)).mkString("\n")
    assert(ddl.contains("GRACE PERIOD INTERVAL '3600' SECOND"), ddl)
    assert(ddl.contains("WHEN STALE FAIL"), ddl)
    sql("DROP MATERIALIZED VIEW st_mv_fail")
    sql("DROP MATERIALIZED VIEW st_mv_inline")
    sql("DROP MATERIALIZED VIEW st_mv_grace")
    sql("DROP TABLE st_mv_base")
  }

  test("bucketed CTAS: DESCRIBE marks bucket keys; SHOW CREATE TABLE keeps the properties") {
    sql("DROP TABLE IF EXISTS st_bkt")
    sql("""CREATE TABLE st_bkt WITH (bucketed_by = ARRAY['cust'],
             bucket_count = 4, sorted_by = ARRAY['cust']) AS
           SELECT o_orderkey AS k, o_custkey AS cust FROM orders WHERE o_orderkey <= 200""")
    val extras = sql("DESCRIBE st_bkt").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(extras("cust") == "bucket key" && extras("k") == "", extras)
    val ddl = sql("SHOW CREATE TABLE st_bkt").collect().map(_.getString(0)).mkString("\n")
    assert(ddl.contains("bucketed_by") && ddl.contains("bucket_count"), ddl)
    // bucketed_by without bucket_count is rejected loudly
    val e = intercept[Exception] {
      sql("""CREATE TABLE st_bkt_bad WITH (bucketed_by = ARRAY['k']) AS
             SELECT n_nationkey AS k FROM nation""")
    }
    assert(e.getMessage.contains("bucket_count"), e.getMessage)
    sql("DROP TABLE st_bkt")
  }

  test("partitioned CTAS + EXECUTE optimize WHERE scopes compaction to matching files") {
    sql("DROP TABLE IF EXISTS st_pt")
    sql("""CREATE TABLE st_pt WITH (partitioned_by = ARRAY['r']) AS
           SELECT n_nationkey AS k, n_regionkey AS r FROM nation""")
    // several small files per partition
    sql("INSERT INTO st_pt VALUES (100, 2)")
    sql("INSERT INTO st_pt VALUES (101, 2)")
    sql("INSERT INTO st_pt VALUES (102, 4)")
    // DESCRIBE marks partition keys in the Extra column (reference
    // ShowQueriesRewrite extra_info)
    val extras = sql("DESCRIBE st_pt").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(extras("r") == "partition key" && extras("k") == "", extras)
    val before = sql("SELECT count(*) AS n FROM st_pt").head().getLong(0)
    val compacted = sql("ALTER TABLE st_pt EXECUTE optimize WHERE r = 2")
      .head().getLong(0)
    assert(compacted >= 2, s"compacted=$compacted")
    assert(sql("SELECT count(*) AS n FROM st_pt").head().getLong(0) == before)
    // rows in the untouched partition intact too (5 nations + 1 insert)
    assert(sql("SELECT count(*) AS n FROM st_pt WHERE r = 4").head().getLong(0) == 6)
    sql("DROP TABLE st_pt")
  }

  test("SET TIME ZONE shifts datetime rendering; LOCAL restores; SET PATH recorded") {
    val utcHour = sql(
      "SELECT hour(from_unixtime(0)) AS h").head().getInt(0)
    sql("SET TIME ZONE 'America/Los_Angeles'")
    try {
      val laHour = sql("SELECT hour(from_unixtime(0)) AS h").head().getInt(0)
      assert(laHour == (utcHour + 16) % 24, s"utc=$utcHour la=$laHour")
      // fixed-offset interval form
      sql("SET TIME ZONE INTERVAL '2' HOUR")
      assert(spark.conf.get("spark.sql.session.timeZone") == "+02:00")
      intercept[Exception] { sql("SET TIME ZONE 'Not/AZone'") }
    } finally sql("SET TIME ZONE LOCAL")
    assert(sql("SELECT hour(from_unixtime(0)) AS h").head().getInt(0) == utcHour)
    sql("SET PATH mycatalog.funcs, system.builtin")
    val path = sql("SHOW SESSION LIKE 'path'").collect()
    assert(path.length == 1 && path(0).getString(1) == "mycatalog.funcs, system.builtin")
  }

  test("prepared-plan cache: repeat text hits; a table mutation between statements invalidates") {
    import graft.sqlx.PlanCache
    sql("DROP TABLE IF EXISTS plancache_t")
    sql("CREATE TABLE plancache_t AS SELECT 1 AS k")
    val q = "SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS s FROM plancache_t"
    def run(): (Long, Long) = {
      val r = sql(q).collect().head; (r.getLong(0), r.getLong(1))
    }
    assert(run() == ((1L, 1L)))
    // repeat of the SAME text in the same session/epoch is a cache hit —
    // and still recomputes from storage (no result caching to observe,
    // only the hit counter)
    val h0 = PlanCache.hits.get()
    assert(run() == ((1L, 1L)))
    assert(PlanCache.hits.get() > h0, "repeat statement must hit the plan cache")
    // a mutation BETWEEN statements bumps the epoch: the next run must
    // re-plan against the new snapshot and see the inserted row — a stale
    // cached plan would keep answering (1, 1)
    sql("INSERT INTO plancache_t VALUES (41)")
    assert(run() == ((2L, 42L)),
      "cached plan served after a table mutation (stale snapshot)")
    // CREATE FUNCTION also invalidates: same text, new routine body
    sql("CREATE OR REPLACE FUNCTION plancache_f(x bigint) RETURNS bigint RETURN x + 1")
    val fq = "SELECT CAST(plancache_f(1) AS BIGINT) AS v"
    assert(sql(fq).collect().head.getLong(0) == 2L)
    sql("CREATE OR REPLACE FUNCTION plancache_f(x bigint) RETURNS bigint RETURN x + 10")
    assert(sql(fq).collect().head.getLong(0) == 11L,
      "cached plan served after the routine was redefined")
    sql("DROP TABLE IF EXISTS plancache_t")
  }

  test("prepared-plan cache: EXECUTE reuses the bound plan and leaves the epoch alone") {
    import graft.sqlx.PlanCache
    def keys(text: String): Seq[Long] =
      sql(text).collect().map(_.getAs[Number](0).longValue).toSeq
    sql("PREPARE pc_p FROM SELECT n_nationkey FROM nation WHERE n_nationkey = ?")
    assert(keys("EXECUTE pc_p USING 3") == Seq(3L))
    val (e0, h0) = (PlanCache.epoch, PlanCache.hits.get())
    assert(keys("EXECUTE pc_p USING 3") == Seq(3L))
    assert(PlanCache.hits.get() > h0, "repeated EXECUTE must hit the plan cache")
    assert(PlanCache.epoch == e0, "EXECUTE must not bump the plan-cache epoch")
    // other arguments, or new text under the same name, get their own plan
    assert(keys("EXECUTE pc_p USING 2") == Seq(2L))
    sql("PREPARE pc_p FROM SELECT n_nationkey FROM nation WHERE n_regionkey = ? ORDER BY 1")
    assert(keys("EXECUTE pc_p USING 3") ==
      keys("SELECT n_nationkey FROM nation WHERE n_regionkey = 3 ORDER BY 1"))
    sql("DEALLOCATE PREPARE pc_p")
  }

  test("prepared-plan cache: non-deterministic and per-query-constant expressions are never cached") {
    import graft.sqlx.PlanCache
    // uuid() is non-deterministic: a cached DataFrame would freeze the
    // first execution's value (the optimized plan is a lazy val)
    val q = "SELECT uuid() AS u"
    val u1 = sql(q).collect().head.getString(0)
    val h0 = PlanCache.hits.get()
    val u2 = sql(q).collect().head.getString(0)
    assert(PlanCache.hits.get() == h0, "non-deterministic plan must not be cached")
    assert(u1 != u2, "repeated uuid() returned the first execution's value")
    // now() is query-constant: folded to a literal once at first
    // optimization, so a cached plan would serve a frozen timestamp
    val h1 = PlanCache.hits.get()
    sql("SELECT now() AS t").collect()
    sql("SELECT now() AS t").collect()
    assert(PlanCache.hits.get() == h1, "current-time plan must not be cached")
  }
}
