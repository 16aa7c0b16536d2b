package graft

import graft.sqlx.{SqlAst, SqlFrontend, SqlParseException, SqlParser}

/** Parser/renderer unit spec for the dialect front door — cases that are
  * impossible or fragile for a flat text rewriter and therefore the point of
  * having a real grammar. */
class SqlParserSpec extends SparkSpec {
  import spark.implicits._

  test("quoted identifiers render as backticks, shadowing keywords safely") {
    val df = Seq((1, "a"), (2, "b")).toDF("from", "select")
    df.createOrReplaceTempView("kwtab")
    val out = graft.sqlx.SqlFrontend.run(spark, sfDir,
      """SELECT "from" + 1 AS f1, "select" FROM kwtab ORDER BY "from"""")
      .collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(2, 3))
    assert(out.map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("TRY lowers recursively and rejects unabsorbable bodies") {
    // parse structure: TRY around Bin(+, Bin(/..), Cast)
    new SqlParser("SELECT TRY(a / b + CAST(c AS INT)) FROM t").parseQuery() match {
      case s: SqlAst.Select => s.items match {
        case Seq(SqlAst.SelectItem(SqlAst.TryExpr(
          SqlAst.Bin("+", SqlAst.Bin("/", _, _), SqlAst.Cast(_, _, false))), None)) =>
        case other => fail(s"unexpected select items: $other")
      }
      case other => fail(s"unexpected parse: $other")
    }
    // through the front door the arithmetic gets its try twins
    val df = Seq((6, 2, "3"), (1, 0, "x")).toDF("a", "b", "c")
    df.createOrReplaceTempView("trytab")
    val out = graft.sqlx.SqlFrontend.run(spark, sfDir,
      "SELECT TRY(a / b + CAST(c AS INT)) AS v FROM trytab ORDER BY a DESC")
      .collect()
    assert(out(0).getDouble(0) == 6.0) // 6/2 + 3 (try_divide yields double)
    assert(out(1).isNullAt(0))         // division by zero absorbed
    // a body with nothing to absorb is a user error, not a silent no-op
    intercept[SqlParseException] {
      graft.sqlx.SqlFrontend.run(spark, sfDir, "SELECT TRY(a) FROM trytab")
    }
    // TRY over an already-null-on-error call is an absorbed no-op even
    // though the rename pass (json_value -> json_path_value) ran first —
    // through the FRONT DOOR, no legacy fallback
    graft.functions.Registry.registerAll(spark) // json_path_value lives here
    val jv = graft.sqlx.SqlFrontend.run(spark, sfDir,
      """SELECT TRY(json_value('{"a": 7}', 'lax $.a')) AS v FROM trytab""")
      .collect()
    assert(jv.forall(_.getString(0) == "7"), jv.mkString(","))
  }

  test("operator precedence parses conventionally") {
    val q = new SqlParser("SELECT 1 + 2 * 3 - 4 = 3 AND NOT FALSE").parseQuery()
    val s = SqlFrontend.renderQuery(q)
    // 1 + (2*3) - 4, comparison above arithmetic, AND above comparison
    assert(s.contains("(((1 + (2 * 3)) - 4) = 3)"), s)
  }

  test("LATERAL VIEW (Spark-only syntax) is rejected with SqlParseException") {
    // a syntax error in Trino; the grammar is the only front door, so the
    // text never reaches Spark's own parser
    intercept[SqlParseException] {
      graft.sqlx.TrinoDialect.sql(spark, sfDir,
        "SELECT n_name, w FROM nation LATERAL VIEW explode(split(n_name, '_')) t AS w " +
          "WHERE n_nationkey = 0")
    }
  }

  test("row patterns lex: {n,m} quantifiers, alternation and anchors in MATCH_RECOGNIZE") {
    new SqlParser(
      """SELECT * FROM events MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(D.*) AS nd
           PATTERN (^ (D | E){2,3}? $)
           DEFINE D AS value < PREV(value), E AS value > 0)""").parseQuery() match {
      case s: SqlAst.Select => s.from match {
        case Some(SqlAst.MatchRel(SqlAst.TableRef(_, None), block, None)) =>
          assert(block.contains("PATTERN (^ (D | E){2,3}? $)"), block)
        case other => fail(s"expected a MATCH_RECOGNIZE relation, got $other")
      }
      case other => fail(s"unexpected parse: $other")
    }
  }

  test("row-pattern WINDOW: `m OVER w` items and a MEASURES … PATTERN window spec") {
    new SqlParser(
      """SELECT user_id, nd OVER w AS n_down, sum(value) OVER p AS s
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                      MEASURES COUNT(D.*) AS nd
                      PATTERN (A D+) DEFINE D AS value < PREV(value)),
                p AS (PARTITION BY user_id ORDER BY event_id)""").parseQuery() match {
      case s: SqlAst.Select =>
        assert(s.items(1) == SqlAst.SelectItem(SqlAst.MeasureRef("nd", "w"), Some("n_down")))
        val Seq((w, pattern), (p, plain)) = s.windows
        assert(w == "w" && p == "p")
        assert(pattern.rowPattern.exists(_.contains("PATTERN (A D+)")), pattern)
        assert(plain.rowPattern.isEmpty && plain.partitionBy.nonEmpty, plain)
      case other => fail(s"unexpected parse: $other")
    }
  }

  test("table functions take named TABLE(…) and DESCRIPTOR(…) arguments") {
    new SqlParser(
      """SELECT * FROM TABLE(exclude_columns(
           input => TABLE(nation), columns => DESCRIPTOR(n_name, n_regionkey)))""")
      .parseQuery() match {
      case s: SqlAst.Select => assert(s.from.contains(SqlAst.TvfRel("exclude_columns",
        Seq(Some("input") -> SqlAst.TableArg(SqlAst.TableRef(SqlAst.Id(Seq(("nation", false))), None)),
          Some("columns") -> SqlAst.DescriptorArg(Seq("n_name", "n_regionkey"))), None)))
      case other => fail(s"unexpected parse: $other")
    }
    def exclude(cols: String) = graft.sqlx.TrinoDialect.sql(spark, sfDir,
      s"SELECT * FROM TABLE(exclude_columns(input => TABLE(nation), columns => DESCRIPTOR($cols)))")
    assert(exclude("n_name").columns.toSeq == Seq("n_nationkey", "n_regionkey"))
    val all = spark.table("nation").columns.mkString(", ")
    Seq("nope" -> "column 'nope' is not in table 'nation'",
      "" -> "must name at least one column",
      all -> "cannot exclude every column").foreach { case (cols, msg) =>
      val e = intercept[IllegalArgumentException](exclude(cols))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("bare VALUES rows are single-column rows") {
    assert(new SqlParser("VALUES 1, 2 + 3").parseQuery() == SqlAst.ValuesQ(Seq(
      Seq(SqlAst.Lit("1")), Seq(SqlAst.Bin("+", SqlAst.Lit("2"), SqlAst.Lit("3"))))))
    val got = SqlFrontend.run(spark, sfDir,
      "SELECT v FROM (VALUES 0, 1, 7) AS t(v) ORDER BY v").collect().map(_.getInt(0))
    assert(got.toSeq == Seq(0, 1, 7))
  }

  test("string and identifier edge cases survive the roundtrip") {
    val q = new SqlParser(
      "SELECT 'it''s', \"odd name\", x FROM t WHERE y LIKE 'a%' AND z IS NOT NULL").parseQuery()
    val s = SqlFrontend.renderQuery(q)
    assert(s.contains("'it''s'"), s)
    assert(s.contains("`odd name`"), s)
    assert(s.contains("NOT NULL"), s)
  }

  test("OFFSET parses in both Trino and Spark clause orders") {
    val a = graft.sqlx.TrinoDialect.sql(spark, sfDir,
      "SELECT n_nationkey FROM nation ORDER BY n_nationkey OFFSET 3 LIMIT 2")
      .collect().map(_.get(0).toString.toLong).toSeq
    assert(a == Seq(3L, 4L))
    val b = graft.sqlx.TrinoDialect.sql(spark, sfDir,
      "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 2 OFFSET 3")
      .collect().map(_.get(0).toString.toLong).toSeq
    assert(b == Seq(3L, 4L))
    // Trino also spells it OFFSET n ROWS FETCH FIRST k ROWS ONLY
    val c = graft.sqlx.TrinoDialect.sql(spark, sfDir,
      "SELECT n_nationkey FROM nation ORDER BY n_nationkey OFFSET 3 ROWS FETCH FIRST 2 ROWS ONLY")
      .collect().map(_.get(0).toString.toLong).toSeq
    assert(c == Seq(3L, 4L))
  }

  test("window frames, lambdas, subscripts, typed literals render faithfully") {
    val sql = "SELECT sum(x) OVER (PARTITION BY k ORDER BY t ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), " +
      "transform(a, v -> v + 1), m['k'], TIMESTAMP '2020-01-01 00:00:00', " +
      "DECIMAL '1.50', DECIMAL '-0.05', DOUBLE '2.5', REAL '1.5' FROM t"
    val s = SqlFrontend.renderQuery(new SqlParser(sql).parseQuery())
    assert(s.contains("ROWS BETWEEN 1 PRECEDING AND CURRENT ROW"), s)
    assert(s.contains("v -> (v + 1)"), s)
    assert(s.contains("element_at(m, 'k')"), s)
    assert(s.contains("TIMESTAMP '2020-01-01 00:00:00'"), s)
    // Trino's literal types: DECIMAL '1.50' is decimal(3,2)
    assert(s.contains("CAST('1.50' AS decimal(3,2))"), s)
    assert(s.contains("CAST('-0.05' AS decimal(2,2))"), s)
    assert(s.contains("CAST('2.5' AS double)") && s.contains("CAST('1.5' AS real)"), s)
  }

  test("subscripts are 1-based on arrays like the reference, not Spark 0-based") {
    val out = graft.sqlx.SqlFrontend.run(spark, sfDir,
      "SELECT split('alpha beta gamma', ' ')[1] AS first_word").collect()
    assert(out.head.getString(0) == "alpha", out.mkString(","))
  }

  test("INTERSECT binds tighter than UNION/EXCEPT") {
    // A UNION B INTERSECT C must group as A UNION (B INTERSECT C):
    // {1} UNION ({1,2} ∩ {2,3}) = {1, 2}; left-assoc grouping would give {2}.
    val rows = graft.sqlx.SqlFrontend.run(spark, sfDir,
      "SELECT 1 AS v UNION SELECT * FROM (VALUES (1), (2)) t(v) INTERSECT SELECT * FROM (VALUES (2), (3)) u(v)")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(rows == Seq(1, 2), rows.mkString(","))
    // EXCEPT also groups after the INTERSECT chain:
    // ({1,2} EXCEPT ({2} ∩ {2})) = {1}; a tighter EXCEPT would leave {1,2}.
    val rows2 = graft.sqlx.SqlFrontend.run(spark, sfDir,
      "SELECT * FROM (VALUES (1), (2)) t(v) EXCEPT SELECT 2 AS v INTERSECT SELECT 2 AS v")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(rows2 == Seq(1), rows2.mkString(","))
  }
  test("fuzz: random token soup never crashes the parser, only SqlParseException") {
    val rnd = new scala.util.Random(97)
    val vocab = Seq("SELECT", "FROM", "WHERE", "GROUP", "BY", "ORDER", "(", ")",
      ",", "+", "-", "*", "/", "'str'", "42", "1.5", "x", "t", "AND", "OR",
      "JOIN", "ON", "CASE", "WHEN", "THEN", "END", "CAST", "AS", "INT",
      "NULL", "NOT", "IN", "EXISTS", "UNION", "ALL", "WITH", "OVER",
      "PARTITION", "LIMIT", "\"q\"", "||", "=", "<", ">", "<=", ".", "?")
    var parsed = 0
    for (_ <- 0 until 2000) {
      val n = 1 + rnd.nextInt(24)
      val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      try {
        new graft.sqlx.SqlParser(text).parseStatement()
        parsed += 1
      } catch {
        case _: graft.sqlx.SqlParseException => // the contract
        case e: Throwable =>
          fail(s"parser threw ${e.getClass.getName} on: $text\n${e.getMessage}")
      }
    }
    assert(parsed > 0, "fuzzer never produced a parseable statement")
  }
}
