package graft

import java.sql.{DriverManager, Types}

/** The JDBC client path end-to-end: DriverManager resolves
  * `jdbc:graft://host:port` through the service registration, a Statement
  * round-trips loopback HTTP, and the ResultSet typed getters agree with
  * the in-process front door on the same SQL. Reference analogue:
  * client/trino-jdbc TestTrinoDriver. */
class JdbcDriverSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private lazy val handle = server.StatementServer.start(spark, sfDir)
  private def url = {
    // sbt's layered classloader hides META-INF/services from java.sql's
    // system-classloader ServiceLoader; use the explicit registration path
    client.GraftDriver.ensureRegistered()
    s"jdbc:graft://127.0.0.1:${handle.port}"
  }

  override def afterAll(): Unit = handle.stop()

  test("DriverManager finds the driver by URL scheme") {
    val conn = DriverManager.getConnection(url)
    assert(!conn.isClosed && conn.isValid(1))
    assert(conn.getMetaData.getDatabaseProductName == "Graft")
    conn.close()
    assert(conn.isClosed)
  }

  test("query through JDBC matches the in-process front door") {
    val sql =
      """SELECT CAST(n_regionkey AS BIGINT) AS rk, count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS s
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_regionkey ORDER BY rk"""
    val expected = sqlx.TrinoDialect.sql(spark, sfDir, sql).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement().executeQuery(sql)
    val md = rs.getMetaData
    assert(md.getColumnCount == 3)
    assert(md.getColumnName(1) == "rk" && md.getColumnType(1) == Types.BIGINT)
    assert(md.getColumnTypeName(2) == "bigint")
    val got = Iterator.continually(rs)
      .takeWhile(_.next())
      .map(r => (r.getLong(1), r.getLong("n"), r.getLong("s")))
      .toArray
    assert(got.toSeq == expected.toSeq)
    assert(rs.isAfterLast)
    conn.close()
  }

  test("typed getters: decimal, double, date-as-string, null + wasNull") {
    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement().executeQuery(
      """SELECT CAST('12345.67' AS DECIMAL(10,2)) AS dec_c,
               CAST(2.5 AS DOUBLE) AS dbl_c,
               DATE '2024-03-15' AS date_c,
               CAST(NULL AS BIGINT) AS null_c""")
    assert(rs.next())
    assert(rs.getBigDecimal("dec_c") == new java.math.BigDecimal("12345.67"))
    assert(rs.getDouble("dbl_c") == 2.5)
    assert(rs.getDate("date_c") == java.sql.Date.valueOf("2024-03-15"))
    assert(rs.getLong("null_c") == 0L && rs.wasNull())
    assert(rs.getString("dec_c") == "12345.67")
    assert(!rs.next())
    conn.close()
  }

  test("executeUpdate: DML through JDBC, read-back sees the rows") {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    val t = s"jdbc_spec_${System.nanoTime()}"
    st.executeUpdate(s"CREATE TABLE $t AS SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 0")
    val inserted = st.executeUpdate(s"INSERT INTO $t SELECT n_nationkey FROM nation WHERE n_regionkey = 1")
    assert(inserted > 0)
    val rs = st.executeQuery(s"SELECT count(*) AS c FROM $t")
    assert(rs.next())
    val viaSql = sqlx.TrinoDialect.sql(spark, sfDir, s"SELECT count(*) AS c FROM $t")
      .collect()(0).getLong(0)
    assert(rs.getLong("c") == viaSql)
    st.executeUpdate(s"DROP TABLE $t")
    conn.close()
  }

  test("prepared statement binds server-side through EXECUTE USING, quotes survive") {
    val conn = DriverManager.getConnection(url)
    val ps = conn.prepareStatement(
      "SELECT n_name FROM nation WHERE n_regionkey = ? AND n_name <> ? ORDER BY n_name")
    ps.setLong(1, 0L)
    ps.setString(2, "it's-not-a-nation") // embedded quote must escape
    val rs = ps.executeQuery()
    val names = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
    assert(names.nonEmpty && names == names.sorted)
    // a `?` in a comment or a quoted identifier is not a parameter
    val marked = conn.prepareStatement(
      "SELECT n_nationkey AS \"who?\" FROM nation /* which? */ WHERE n_nationkey = ?")
    marked.setLong(1, 3L)
    val m = marked.executeQuery()
    assert(m.next() && m.getLong("who?") == 3L)
    // DECIMAL, DOUBLE and REAL parameters keep their literal types
    val typed = conn.prepareStatement("SELECT ? AS d, ? AS x, ? AS r")
    typed.setBigDecimal(1, new java.math.BigDecimal("1.50"))
    typed.setDouble(2, 2.5)
    typed.setFloat(3, 1.5f)
    val t = typed.executeQuery()
    assert(t.next())
    assert((1 to 3).map(t.getMetaData.getColumnTypeName) == Seq("decimal(3,2)", "double", "real"))
    assert(t.getBigDecimal(1) == new java.math.BigDecimal("1.50"))
    assert(t.getDouble(2) == 2.5 && t.getFloat(3) == 1.5f)
    // an unset parameter fails before anything runs
    typed.clearParameters()
    typed.setLong(2, 1L)
    val unset = intercept[java.sql.SQLException](typed.executeQuery())
    assert(unset.getMessage.contains("parameter 1 not set"), unset.getMessage)
    conn.close()
  }

  test("a failed statement surfaces as SQLException") {
    val conn = DriverManager.getConnection(url)
    val e = intercept[java.sql.SQLException] {
      conn.createStatement().executeQuery("SELECT no_such_column FROM nation")
    }
    assert(e.getMessage != null)
    conn.close()
  }

  test("unimplemented surface throws SQLFeatureNotSupportedException, not silence") {
    val conn = DriverManager.getConnection(url)
    intercept[java.sql.SQLFeatureNotSupportedException] {
      conn.createStatement().asInstanceOf[java.sql.Statement].addBatch("SELECT 1")
    }
    conn.close()
  }

  test("metadata: getTables answers the JDBC-spec column layout") {
    val conn = DriverManager.getConnection(url)
    // reference TrinoDatabaseMetaData serves these from system.jdbc.*:
    // TABLE_CAT, TABLE_SCHEM, TABLE_NAME, TABLE_TYPE
    val rs = conn.getMetaData.getTables(null, null, "%", null)
    val rows = Iterator.continually(rs).takeWhile(_.next())
      .map(r => (r.getString(1), r.getString(2),
        r.getString(3).toLowerCase, r.getString(4))).toSeq
    val tables = rows.map(_._3).toSet
    assert(tables.contains("nation") && tables.contains("customer"))
    assert(rows.forall(_._1 == "graft")) // TABLE_CAT
    // fixture tables report TABLE (views created by other suites may
    // coexist in a shared-session run and report their own type)
    assert(rows.filter(r => Set("nation", "customer")(r._3))
      .forall(_._4 == "TABLE"))
    // getColumns: JDBC spellings with ordinal positions
    val cols = conn.getMetaData.getColumns(null, null, "nation", "%")
    val colRows = Iterator.continually(cols).takeWhile(_.next())
      .map(r => (r.getString(2), r.getLong(4))).toSeq
    assert(colRows.map(_._1) == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(colRows.head._2 == 1L)
    conn.close()
  }
}
