package graft.client

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DatabaseMetaData, Driver, DriverPropertyInfo,
  PreparedStatement, ResultSet, ResultSetMetaData, SQLException,
  SQLFeatureNotSupportedException, Statement, Types}
import java.util.Properties
import java.util.logging.Logger

import scala.jdk.CollectionConverters._

/** JDBC over the statement protocol (reference: client/trino-jdbc —
  * TrinoDriver accepts `jdbc:trino://host:port`, TrinoStatement drives
  * StatementClientV1, TrinoResultSet cursors the concatenated pages). URL:
  * `jdbc:graft://host:port`. Every statement round-trips loopback HTTP to
  * a [[graft.server.StatementServer]], so the full SQL-text surface
  * (queries, DML, DDL, CALL, EXPLAIN...) is reachable from any JDBC tool.
  *
  * The java.sql surface is ~300 methods, most irrelevant to a read-mostly
  * analytics protocol; like the reference we implement the core and throw
  * SQLFeatureNotSupportedException elsewhere — here via documented
  * reflective proxies (one dispatch map per interface) instead of
  * hundreds of stub overrides. PreparedStatement binds on the server, as
  * the reference's driver does: the statement text travels in the
  * connection's `X-Trino-Prepared-Statement` map, and each execution runs
  * `EXECUTE name USING <literals>`.
  *
  * Registered with DriverManager by
  * `META-INF/services/java.sql.Driver`. */
final class GraftDriver extends Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(GraftDriver.Prefix)

  override def connect(url: String, info: Properties): Connection = {
    if (!acceptsURL(url)) return null
    val hostPort = url.stripPrefix(GraftDriver.Prefix).stripSuffix("/")
    require(hostPort.nonEmpty, s"no host:port in $url")
    GraftDriver.connection(s"http://$hostPort", url)
  }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger =
    throw new SQLFeatureNotSupportedException("java.util.logging not used")
}

object GraftDriver {
  val Prefix = "jdbc:graft://"

  /** The JDBC static-registration convention (reference TrinoDriver's
    * `static { DriverManager.registerDriver(...) }`). The
    * META-INF/services entry covers flat classpaths; call this where the
    * driver's classloader isn't the system one (sbt, OSGi...). */
  private lazy val registeredOnce: Unit =
    java.sql.DriverManager.registerDriver(new GraftDriver)
  def ensureRegistered(): Unit = registeredOnce

  private def unsupported(m: Method): Nothing =
    throw new SQLFeatureNotSupportedException(
      s"${m.getDeclaringClass.getSimpleName}.${m.getName}")

  /** One proxy per interface; `impl` maps method name → behavior. Wrapper
    * plumbing (isWrapperFor/unwrap/hashCode/toString) answered for all. */
  private def proxy[T](iface: Class[T], impl: PartialFunction[(String, Array[AnyRef]), Any]): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, rawArgs: Array[AnyRef]): AnyRef = {
          val args = if (rawArgs == null) Array.empty[AnyRef] else rawArgs
          val key = (m.getName, args)
          m.getName match {
            case "hashCode" => Int.box(System.identityHashCode(p))
            case "equals" => Boolean.box(p.asInstanceOf[AnyRef] eq args(0))
            case "toString" => s"graft-${iface.getSimpleName}"
            case "isWrapperFor" => Boolean.box(false)
            case "unwrap" => throw new SQLException("not a wrapper")
            case _ if impl.isDefinedAt(key) => impl(key).asInstanceOf[AnyRef]
            case _ => unsupported(m)
          }
        }
      }).asInstanceOf[T]

  private[client] def connection(base: String, url: String): Connection = {
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // one client-carried session per connection (reference TrinoConnection
    // holds the session the statement client mutates via response headers)
    val sess = new StatementClient.Session
    lazy val conn: Connection = proxy(classOf[Connection], {
      case ("createStatement", _) => statement(base, conn, sess)
      case ("prepareStatement", Array(sql: String)) =>
        prepared(base, conn, sql, sess)
      case ("close", _) => closed.set(true); ()
      case ("isClosed", _) => closed.get()
      case ("isValid", _) => !closed.get()
      case ("getAutoCommit", _) => true
      case ("setAutoCommit", _) => ()
      case ("commit", _) => ()
      case ("rollback", _) => ()
      case ("getCatalog", _) => "graft"
      case ("setCatalog", _) => ()
      case ("getSchema", _) => sess.schema.getOrElse("default")
      case ("setSchema", Array(s: String)) => sess.schema = Some(s); ()
      case ("getTransactionIsolation", _) => Connection.TRANSACTION_READ_COMMITTED
      case ("clearWarnings", _) => ()
      case ("getWarnings", _) => null
      case ("getMetaData", _) => databaseMetaData(base, url, conn)
    })
    conn
  }

  private def statement(base: String, conn: Connection,
      sess: StatementClient.Session): Statement = {
    val last = new java.util.concurrent.atomic.AtomicReference[StatementClient.Result](null)
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(sql: String): StatementClient.Result = {
      val r = try StatementClient.execute(base, sql, session = Some(sess)) catch {
        case e: StatementClient.StatementFailed => throw new SQLException(e.getMessage)
      }
      last.set(r); r
    }
    proxy(classOf[Statement], {
      case ("executeQuery", Array(sql: String)) => resultSet(run(sql))
      case ("executeUpdate", Array(sql: String)) =>
        run(sql).updateCount.getOrElse(0L).toInt
      case ("execute", Array(sql: String)) => run(sql).updateCount.isEmpty
      case ("getResultSet", _) => Option(last.get()).map(resultSet).orNull
      case ("getUpdateCount", _) =>
        Option(last.get()).flatMap(_.updateCount).getOrElse(-1L).toInt
      case ("getMoreResults", _) => false
      case ("close", _) => closed.set(true); ()
      case ("isClosed", _) => closed.get()
      case ("cancel", _) => ()
      case ("getConnection", _) => conn
      case ("setFetchSize", _) => ()
      case ("getFetchSize", _) => 1000
      case ("setMaxRows", _) => ()
      case ("getMaxRows", _) => 0
      case ("setQueryTimeout", _) => ()
      case ("getQueryTimeout", _) => 0
      case ("clearWarnings", _) => ()
      case ("getWarnings", _) => null
    })
  }

  private val preparedIds = new java.util.concurrent.atomic.AtomicLong()

  /** Server-side binding: `sql` joins the session's prepared statements
    * under a fresh name while this PreparedStatement is open; parameters
    * 1..n travel as the USING literals of an EXECUTE. */
  private def prepared(base: String, conn: Connection, sql: String,
      sess: StatementClient.Session): PreparedStatement = {
    val params = new java.util.HashMap[Int, Any]() // nullable values (setNull)
    val inner = statement(base, conn, sess)
    val name = s"jdbc_statement_${preparedIds.incrementAndGet()}"
    sess.prepared(name) = sql
    def bound: String = {
      val n = params.keySet.asScala.maxOption.getOrElse(0)
      val lits = (1 to n).map { i =>
        if (!params.containsKey(i)) throw new SQLException(s"parameter $i not set")
        literal(params.get(i))
      }
      s"EXECUTE $name" + (if (n == 0) "" else lits.mkString(" USING ", ", ", ""))
    }
    proxy(classOf[PreparedStatement], {
      case ("setObject", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setString", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setInt", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setLong", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setShort", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setByte", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setDouble", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setFloat", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setBoolean", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setBigDecimal", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setNull", Array(i: Integer, _)) => params.put(i, null); ()
      case ("setDate", Array(i: Integer, v)) => params.put(i, v); ()
      case ("setTimestamp", Array(i: Integer, v)) => params.put(i, v); ()
      case ("clearParameters", _) => params.clear(); ()
      case ("executeQuery", Array()) => inner.executeQuery(bound)
      case ("executeUpdate", Array()) => inner.executeUpdate(bound)
      case ("execute", Array()) => inner.execute(bound)
      // plain-Statement methods delegate
      case ("executeQuery", Array(s: String)) => inner.executeQuery(s)
      case ("executeUpdate", Array(s: String)) => inner.executeUpdate(s)
      case ("close", _) => sess.prepared.remove(name); inner.close(); ()
      case ("isClosed", _) => inner.isClosed
      case ("getConnection", _) => conn
      case ("getResultSet", _) => inner.getResultSet
      case ("getUpdateCount", _) => inner.getUpdateCount
      case ("getMoreResults", _) => false
      case ("clearWarnings", _) => ()
      case ("getWarnings", _) => null
    })
  }

  private def literal(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "true" else "false"
    case b: java.lang.Boolean => if (b) "true" else "false"
    case d: java.math.BigDecimal => s"DECIMAL '${d.toPlainString}'"
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case d: Double => if (d.isNaN) "nan()" else if (d.isInfinite)
      (if (d > 0) "infinity()" else "-infinity()") else s"DOUBLE '$d'"
    case d: java.lang.Double => literal(d.doubleValue())
    case f: java.lang.Float => s"REAL '$f'"
    case n => String.valueOf(n)
  }

  private[client] def resultSet(res: StatementClient.Result): ResultSet = {
    val cursor = new java.util.concurrent.atomic.AtomicInteger(-1)
    val lastNull = new java.util.concurrent.atomic.AtomicBoolean(false)
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val byName = res.columns.iterator.zipWithIndex
      .map { case (c, i) => c.name.toLowerCase -> (i + 1) }.toMap
    def colIndex(key: AnyRef): Int = key match {
      case i: Integer => i.intValue()
      case s: String => byName.getOrElse(s.toLowerCase,
        throw new SQLException(s"no column '$s'"))
      case other => throw new SQLException(s"bad column key $other")
    }
    def cell(key: AnyRef): Any = {
      val r = cursor.get()
      if (r < 0 || r >= res.rows.length) throw new SQLException("cursor not on a row")
      val v = res.rows(r)(colIndex(key) - 1)
      lastNull.set(v == null)
      v
    }
    def num(key: AnyRef): java.math.BigDecimal = cell(key) match {
      case null => null
      case d: java.math.BigDecimal => d
      case l: Long => java.math.BigDecimal.valueOf(l)
      case i: Int => java.math.BigDecimal.valueOf(i.toLong)
      case s: Short => java.math.BigDecimal.valueOf(s.toLong)
      case b: Byte => java.math.BigDecimal.valueOf(b.toLong)
      case d: Double => new java.math.BigDecimal(d.toString)
      case s: String => new java.math.BigDecimal(s)
      case other => throw new SQLException(s"not numeric: $other")
    }
    proxy(classOf[ResultSet], {
      case ("next", _) => cursor.incrementAndGet() < res.rows.length
      case ("close", _) => closed.set(true); ()
      case ("isClosed", _) => closed.get()
      case ("wasNull", _) => lastNull.get()
      case ("findColumn", Array(s: String)) => colIndex(s)
      case ("getMetaData", _) => resultSetMetaData(res.columns)
      case ("getRow", _) => math.min(cursor.get() + 1, res.rows.length)
      case ("isBeforeFirst", _) => cursor.get() < 0 && res.rows.nonEmpty
      case ("isAfterLast", _) => cursor.get() >= res.rows.length && res.rows.nonEmpty
      case ("getObject", Array(k)) => cell(k) match {
        case s: String if typeOf(res, colIndex(k)).startsWith("timestamp") =>
          java.sql.Timestamp.valueOf(s)
        case d: java.time.LocalDate => java.sql.Date.valueOf(d)
        case v => v
      }
      case ("getString", Array(k)) => cell(k) match {
        case null => null
        case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
        case v => String.valueOf(v)
      }
      case ("getBoolean", Array(k)) => cell(k) match {
        case null => false
        case b: Boolean => b
        case other => throw new SQLException(s"not boolean: $other")
      }
      case ("getLong", Array(k)) => Option(num(k)).map(_.longValueExact()).getOrElse(0L)
      case ("getInt", Array(k)) => Option(num(k)).map(_.intValueExact()).getOrElse(0)
      case ("getShort", Array(k)) => Option(num(k)).map(_.shortValueExact()).getOrElse(0.toShort)
      case ("getByte", Array(k)) => Option(num(k)).map(_.byteValueExact()).getOrElse(0.toByte)
      case ("getDouble", Array(k)) => cell(k) match {
        case null => 0.0d
        case d: Double => d
        case v => num(k).doubleValue()
      }
      case ("getFloat", Array(k)) => cell(k) match {
        case null => 0.0f
        case d: Double => d.toFloat
        case v => num(k).floatValue()
      }
      case ("getBigDecimal", Array(k)) => num(k)
      case ("getBytes", Array(k)) => cell(k) match {
        case null => null
        case b: Array[Byte] => b
        case other => throw new SQLException(s"not varbinary: $other")
      }
      case ("getDate", Array(k)) => cell(k) match {
        case null => null
        case d: java.time.LocalDate => java.sql.Date.valueOf(d)
        case s: String => java.sql.Date.valueOf(s)
        case other => throw new SQLException(s"not a date: $other")
      }
      case ("getTimestamp", Array(k)) => cell(k) match {
        case null => null
        case s: String => java.sql.Timestamp.valueOf(s)
        case other => throw new SQLException(s"not a timestamp: $other")
      }
      case ("getType", _) => ResultSet.TYPE_FORWARD_ONLY
      case ("getConcurrency", _) => ResultSet.CONCUR_READ_ONLY
      case ("getFetchSize", _) => 1000
      case ("setFetchSize", _) => ()
      case ("clearWarnings", _) => ()
      case ("getWarnings", _) => null
    })
  }

  private def typeOf(res: StatementClient.Result, idx: Int): String =
    res.columns(idx - 1).typeName

  private def resultSetMetaData(cols: Vector[StatementClient.Column]): ResultSetMetaData =
    proxy(classOf[ResultSetMetaData], {
      case ("getColumnCount", _) => cols.length
      case ("getColumnName", Array(i: Integer)) => cols(i - 1).name
      case ("getColumnLabel", Array(i: Integer)) => cols(i - 1).name
      case ("getColumnTypeName", Array(i: Integer)) => cols(i - 1).typeName
      case ("getColumnType", Array(i: Integer)) => jdbcType(cols(i - 1).typeName)
      case ("getColumnClassName", Array(i: Integer)) =>
        jdbcClassName(cols(i - 1).typeName)
      case ("isNullable", _) => ResultSetMetaData.columnNullable
      case ("getPrecision", _) => 0
      case ("getScale", _) => 0
      case ("isReadOnly", _) => true
      case ("isAutoIncrement", _) => false
      case ("isCaseSensitive", _) => true
      case ("isSigned", Array(i: Integer)) =>
        Set("bigint", "integer", "smallint", "tinyint", "double", "real")
          .contains(cols(i - 1).typeName.takeWhile(_ != '(')) ||
          cols(i - 1).typeName.startsWith("decimal")
    })

  private def jdbcType(t: String): Int = t.takeWhile(_ != '(') match {
    case "bigint" => Types.BIGINT
    case "integer" => Types.INTEGER
    case "smallint" => Types.SMALLINT
    case "tinyint" => Types.TINYINT
    case "double" => Types.DOUBLE
    case "real" => Types.REAL
    case "boolean" => Types.BOOLEAN
    case "decimal" => Types.DECIMAL
    case "date" => Types.DATE
    case "timestamp" => Types.TIMESTAMP
    case "varbinary" => Types.VARBINARY
    case "array" => Types.ARRAY
    case _ => Types.VARCHAR
  }

  private def jdbcClassName(t: String): String = t.takeWhile(_ != '(') match {
    case "bigint" => "java.lang.Long"
    case "integer" => "java.lang.Integer"
    case "smallint" => "java.lang.Short"
    case "tinyint" => "java.lang.Byte"
    case "double" | "real" => "java.lang.Double"
    case "boolean" => "java.lang.Boolean"
    case "decimal" => "java.math.BigDecimal"
    case "date" => "java.sql.Date"
    case "timestamp" => "java.sql.Timestamp"
    case "varbinary" => "[B"
    case _ => "java.lang.String"
  }

  /** Catalog browsing delegates to the front door's own SHOW statements,
    * so JDBC tools list exactly what SQL text sees (reference:
    * TrinoDatabaseMetaData answers getTables from system.jdbc). */
  private def databaseMetaData(base: String, url: String, conn: Connection): DatabaseMetaData =
    proxy(classOf[DatabaseMetaData], {
      case ("getDatabaseProductName", _) => "Graft"
      case ("getDatabaseProductVersion", _) => "1.0"
      case ("getDriverName", _) => "graft-jdbc"
      case ("getDriverVersion", _) => "1.0"
      case ("getDriverMajorVersion", _) => 1
      case ("getDriverMinorVersion", _) => 0
      case ("getURL", _) => url
      case ("getUserName", _) => "graft"
      case ("isReadOnly", _) => false
      case ("getConnection", _) => conn
      case ("supportsTransactions", _) => true
      case ("getIdentifierQuoteString", _) => "\""
      case ("getSQLKeywords", _) => ""
      // the reference's TrinoDatabaseMetaData answers these from the
      // system.jdbc relations with the JDBC-spec column spellings
      case ("getCatalogs", _) =>
        resultSet(StatementClient.execute(base,
          "SELECT table_cat AS TABLE_CAT FROM system.jdbc.catalogs ORDER BY 1"))
      case ("getSchemas", _) =>
        resultSet(StatementClient.execute(base,
          "SELECT table_schem AS TABLE_SCHEM, table_catalog AS TABLE_CATALOG " +
            "FROM system.jdbc.schemas ORDER BY 1"))
      case ("getTables", _) =>
        resultSet(StatementClient.execute(base,
          "SELECT table_cat AS TABLE_CAT, table_schem AS TABLE_SCHEM, " +
            "table_name AS TABLE_NAME, table_type AS TABLE_TYPE " +
            "FROM system.jdbc.tables ORDER BY table_name"))
      case ("getColumns", args) =>
        // escape quotes: a caller-supplied name must never inject SQL
        // (the reference JDBC driver escapes metadata pattern arguments)
        val table = args(2).asInstanceOf[String].replace("'", "''")
        resultSet(StatementClient.execute(base,
          "SELECT table_name AS TABLE_NAME, column_name AS COLUMN_NAME, " +
            "type_name AS TYPE_NAME, ordinal_position AS ORDINAL_POSITION, " +
            "is_nullable AS IS_NULLABLE FROM system.jdbc.columns " +
            s"WHERE table_name = '$table' ORDER BY ordinal_position"))
    })
}
