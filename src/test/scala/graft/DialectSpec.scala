package graft

import graft.sqlx.{SqlFrontend, SqlParser, TrinoDialect}

/** Unit semantics of the Trino-dialect front door (graft.sqlx.SqlParser →
  * SqlFrontend's rewrite passes) and the ALL ROWS PER MATCH operator
  * surface. */
class DialectSpec extends SparkSpec {

  /** Spark SQL the front door renders for `sql` after its rewrite passes. */
  private def lowered(sql: String): String =
    SqlFrontend.renderQuery(SqlFrontend.rewriteQuery(new SqlParser(sql).parseQuery()))

  test("TRY lowering classifies cast / element_at / division bodies") {
    assert(lowered("SELECT TRY(CAST(x AS INT)) FROM t")
      .contains("TRY_CAST(x AS INT)"))
    assert(lowered("SELECT TRY(element_at(a, 5)) FROM t")
      .contains("try_element_at(a, 5)"))
    assert(lowered("SELECT TRY(a / b) FROM t")
      .contains("try_divide(a, b)"))
    // recursive lowering: every arithmetic level and the CAST get try_ twins
    assert(lowered("SELECT TRY(CAST(a AS INT) / (b - 1)) FROM t")
      .contains("try_divide(TRY_CAST(a AS INT), try_subtract(b, 1))"))
    // already-Spark TRY_CAST is left alone
    assert(lowered("SELECT TRY_CAST(x AS INT) FROM t")
      .contains("TRY_CAST(x AS INT)"))
    intercept[IllegalArgumentException] {
      lowered("SELECT TRY(some_udf(x)) FROM t")
    }
    // function-table bodies: Spark try_ twins and null-on-error SQL/JSON
    assert(lowered("SELECT TRY(to_number(s, '999')) FROM t")
      .contains("try_to_number(s, '999')"))
    assert(lowered("SELECT TRY(json_value(j, 'strict $.a')) FROM t")
      .contains("json_path_value(j, 'strict $.a')"))
  }

  test("rewrites are literal-aware: function names and slashes inside strings survive") {
    val s1 = lowered("SELECT 'call format(x)' AS doc, format('%s', a) FROM t")
    assert(s1.contains("'call format(x)'"), s1)
    assert(s1.contains("format_string('%s', a)"), s1)
    // a paren/slash inside a literal must not confuse the TRY classifier
    val s2 = lowered("SELECT TRY(concat(a, '(x/y)') / b) FROM t")
    assert(s2.contains("try_divide(concat(a, '(x/y)'), b)"), s2)
    // quoted identifiers are opaque too (rendered as Spark backticks)
    val s3 = lowered("SELECT \"strpos(weird)\" , strpos(s, 'x') FROM t")
    assert(s3.contains("`strpos(weird)`"), s3)
    assert(s3.contains("instr(s, 'x')"), s3)
    // FETCH FIRST inside a literal survives; real one rewrites
    val s4 = lowered(
      "SELECT 'FETCH FIRST 9 ROWS ONLY' AS note FROM t FETCH FIRST 3 ROWS ONLY")
    assert(s4.contains("'FETCH FIRST 9 ROWS ONLY'"), s4)
    assert(s4.trim.endsWith("LIMIT 3"), s4)
  }

  test("function renames are word-bounded and leave look-alikes alone") {
    val out = lowered(
      "SELECT format('%s', a), format_datetime(ts, 'y'), date_format(ts, 'y'), strpos(s, 'x') FROM t")
    assert(out.contains("format_string('%s', a)"))
    assert(out.contains("format_datetime(ts, 'y')"))
    assert(out.contains("date_format(ts, 'y')"))
    assert(out.contains("instr(s, 'x')"))
  }

  test("FETCH FIRST and UNNEST rewrites") {
    assert(lowered("SELECT * FROM t FETCH FIRST 7 ROWS ONLY").contains("LIMIT 7"))
    val un = lowered("SELECT w FROM t CROSS JOIN UNNEST(split(s, ' ')) AS u (w)")
    assert(un.contains("LATERAL VIEW explode(split(s, ' ')) u AS w"), un)
  }

  test("allRowsPerMatch emits classifier and per-partition match numbers") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    // one partition: values 5,3,1,4,6 → D D U U (one V match over rows 1..4)
    val df = Seq((1L, 1L, 5.0), (1L, 2L, 3.0), (1L, 3L, 1.0), (1L, 4L, 4.0), (1L, 5L, 6.0))
      .toDF("k", "ord", "v")
    val down: graft.plans.RowPattern.Predicate =
      (p: IndexedSeq[Row], i: Int) => i > 0 && p(i).getDouble(2) < p(i - 1).getDouble(2)
    val up: graft.plans.RowPattern.Predicate =
      (p: IndexedSeq[Row], i: Int) => i > 0 && p(i).getDouble(2) > p(i - 1).getDouble(2)
    val out = graft.plans.MatchRecognize.allRowsPerMatch(
        df, "k", "ord", "D+ U+", Map("D" -> down, "U" -> up), Seq("ord", "v"))
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getString(4))).sortBy(_._1)
    assert(out.toSeq == Seq((2L, 1L, "D"), (3L, 1L, "D"), (4L, 1L, "U"), (5L, 1L, "U")))
  }

  test("match recognize rejects a non-bigint partition key with a clear error") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1.0)).toDF("k", "ord", "v")
    val e = intercept[IllegalArgumentException] {
      graft.plans.MatchRecognize.allRowsPerMatch(
        df, "k", "ord", "A", Map.empty, Seq("ord"))
    }
    assert(e.getMessage.contains("must be BIGINT"))
  }

  test("annotateMatches handles multi-column string+long keys") {
    import spark.implicits._
    // two (k1,k2) groups; pattern S+ over precomputed booleans
    val df = Seq(
      ("a", 1L, 1L, true), ("a", 1L, 2L, true), ("a", 1L, 3L, false),
      ("a", 2L, 1L, false), ("a", 2L, 2L, true),
      ("b", 1L, 1L, true))
      .toDF("k1", "k2", "ord", "flag")
    val out = graft.plans.MatchRecognize.annotateMatches(
        df, Seq("k1", "k2"), Seq("ord"), "S+", Map("S" -> "flag"))
      .select("k1", "k2", "ord", "match_number", "classifier")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(out == Seq(
      ("a", 1L, 1L, 1L), ("a", 1L, 2L, 1L),
      ("a", 2L, 2L, 1L),
      ("b", 1L, 1L, 1L)))
  }

  test("MATCH_RECOGNIZE SQL parser: multi-col clauses, RUNNING/FINAL measures") {
    val mr = graft.sqlx.MatchRecognizeSql.parse(
      """SELECT * FROM events MATCH_RECOGNIZE (
           PARTITION BY user_id, event_type
           ORDER BY ts, event_id
           MEASURES RUNNING count(*) AS c, FINAL max(S.value) AS m
           ALL ROWS PER MATCH
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (S+)
           DEFINE S AS value > PREV(value) * 1.02 OR value < 5.0
         )""").get
    assert(mr.partitionBy == Seq("user_id", "event_type"))
    assert(mr.orderBy == Seq("ts", "event_id"))
    assert(mr.measures == Seq(("RUNNING count(*)", "c"), ("FINAL max(S.value)", "m")))
    assert(mr.allRows && mr.skip == graft.plans.RowPattern.SkipToNextRow)
    assert(mr.defines == Seq(("S", "value > PREV(value) * 1.02 OR value < 5.0")))
  }

  test("PERMUTE expands to lexicographically-preferred orderings") {
    import graft.plans.RowPattern
    import org.apache.spark.sql.Row
    // rows: classified by a precomputed tag; PERMUTE(A, B) must match A B at
    // rows 0-1 and B A at rows 2-3
    val rows = IndexedSeq("a", "b", "b", "a").map(t => Row(t))
    def tag(sym: String): RowPattern.Predicate =
      (p: IndexedSeq[Row], i: Int) => p(i).getString(0) == sym.toLowerCase
    val m = new RowPattern.Matcher(RowPattern.parse("PERMUTE(A, B)"),
      RowPattern.liftAll(Map("A" -> tag("A"), "B" -> tag("B"))))
    val found = m.findAll(rows).map(mm => mm.steps.map(_._1).mkString)
    assert(found == Seq("AB", "BA"))
    // preferment: on ambiguous input the A-first ordering wins
    val both = new RowPattern.Matcher(RowPattern.parse("PERMUTE(A, B)"),
      Map.empty[String, RowPattern.TracePredicate]) // undefined symbols always match
    assert(both.findAll(IndexedSeq(Row("x"), Row("y"))).head.steps.map(_._1) == Seq("A", "B"))
  }

  test("PREPARE/EXECUTE binds ? markers literal-aware; DEALLOCATE removes") {
    TrinoDialect.sql(spark, sfDir,
      "PREPARE spec_stmt FROM SELECT n_nationkey, concat(n_name, '?') AS q FROM nation WHERE n_nationkey <= ?")
    val rows = TrinoDialect.sql(spark, sfDir, "EXECUTE spec_stmt USING 3").collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getString(1).endsWith("?"))) // literal '?' untouched
    // arity mismatch is a clear error
    val e1 = intercept[IllegalArgumentException] {
      TrinoDialect.sql(spark, sfDir, "EXECUTE spec_stmt USING 1, 2")
    }
    assert(e1.getMessage.contains("USING arguments"))
    TrinoDialect.sql(spark, sfDir, "DEALLOCATE PREPARE spec_stmt")
    val e2 = intercept[IllegalArgumentException] {
      TrinoDialect.sql(spark, sfDir, "EXECUTE spec_stmt USING 3")
    }
    assert(e2.getMessage.contains("no prepared statement"))
    // a `?` inside a comment is not a marker
    for (text <- Seq(
        "PREPARE spec_c FROM SELECT n_nationkey FROM nation /* which? */ WHERE n_nationkey = ?",
        "PREPARE spec_c FROM SELECT n_nationkey FROM nation -- which?\nWHERE n_nationkey = ?")) {
      TrinoDialect.sql(spark, sfDir, text)
      val keys = TrinoDialect.sql(spark, sfDir, "EXECUTE spec_c USING 3").collect()
      assert(keys.map(_.getAs[Number](0).longValue).toSeq == Seq(3L), text)
    }
  }

  test("pattern exclusion {- -} omits rows from per-row output but keeps consumption") {
    import graft.plans.RowPattern
    import org.apache.spark.sql.Row
    val rows = IndexedSeq("a", "b", "c").map(t => Row(t))
    def tag(sym: String): RowPattern.Predicate =
      (p: IndexedSeq[Row], i: Int) => p(i).getString(0) == sym.toLowerCase
    val m = new RowPattern.Matcher(
      RowPattern.parse("A {- B -} C"),
      RowPattern.liftAll(Map("A" -> tag("A"), "B" -> tag("B"), "C" -> tag("C"))))
    val found = m.findAll(rows)
    assert(found.size == 1)
    val mm = found.head
    // full trace covers all three rows; visible output drops the excluded one
    assert(mm.steps.map(_._1) == Seq("A", "B", "C"))
    assert(mm.excluded == Set(1))
    assert(mm.visibleSteps.map(_._1) == Seq("A", "C"))
    // measures still see the excluded row
    assert(mm.countOf("B") == 1L)
  }

  test("SUBSET union variables resolve in measures as classifier-set membership") {
    val base =
      """SELECT * FROM events MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY event_id
           MEASURES %s AS start_id, %s AS n
           ONE ROW PER MATCH
           PATTERN (D+ U+)
           DEFINE D AS value < PREV(value), U AS value > PREV(value)%s)"""
    val withSubset = graft.sqlx.TrinoDialect.sql(spark, sfDir, base.format(
      "FIRST(V.event_id)", "COUNT(V.*)",
      "\n           SUBSET V = (D, U)")).collect().toSeq
    val explicit = graft.sqlx.TrinoDialect.sql(spark, sfDir, base.format(
      "FIRST(D.event_id)", "COUNT(*)", "")).collect().toSeq
    assert(withSubset.nonEmpty && withSubset == explicit)
  }

  /** Fixture dir for the state-dependent DEFINE tests: one user, a known
    * value sequence at mseq.parquet, loadable by table name. */
  private lazy val mrFixtureDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mrdefine").toString
    Seq(95.0, 92.0, 40.0, 10.0, 96.0, 50.0, 44.0, 93.0, 91.0, 20.0)
      .zipWithIndex.map { case (v, i) => (1L, (i + 1).toLong, v) }
      .toDF("user_id", "event_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/mseq.parquet")
    dir
  }

  private def mrRun(measures: String, pattern: String, define: String): Seq[Seq[Any]] =
    graft.sqlx.TrinoDialect.sql(spark, mrFixtureDir,
      s"""SELECT * FROM mseq MATCH_RECOGNIZE (
           PARTITION BY user_id ORDER BY event_id
           MEASURES $measures
           ONE ROW PER MATCH
           PATTERN ($pattern)
           DEFINE $define)""")
      .orderBy("s").collect().toSeq.map(_.toSeq.drop(1)) // drop user_id

  test("DEFINE COUNT(B.*) bounds match length (candidate row counts)") {
    // islands of value > 10: rows 1-3 and 5-10 → chunks of ≤ 3
    val got = mrRun("FIRST(B.event_id) AS s, COUNT(B.*) AS n", "B+",
      "B AS value > 10 AND COUNT(B.*) <= 3")
    assert(got == Seq(Seq(1L, 3L), Seq(5L, 3L), Seq(8L, 3L)))
  }

  test("DEFINE cross-variable reference: B navigates the anchor's value") {
    // A anchors at value >= 90; B extends while < 90 and > A.value - 50
    val got = mrRun("A.event_id AS s, COUNT(B.*) AS n", "A B*",
      "A AS value >= 90, B AS value < 90 AND value > A.value - 50")
    assert(got == Seq(Seq(1L, 0L), Seq(2L, 0L), Seq(5L, 1L), Seq(8L, 0L), Seq(9L, 0L)))
  }

  test("DEFINE LAST occurrence offset: strictly increasing via logical navigation") {
    // LAST(B.value, 1) = previous row mapped to B (current row is offset 0)
    val got = mrRun("FIRST(B.event_id) AS s, COUNT(B.*) AS n", "B+",
      "B AS COUNT(B.*) = 1 OR B.value > LAST(B.value, 1)")
    // values: 95 | 92 (not > 95) → [95], [92,?] 40 no → ... runs of strict increase
    // 95 / 92 / 40 / 10,96 / 50,93 wait — replay: [95],[92],[40],[10,96],[50],[44,93],[91],[20]
    assert(got == Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 2L),
      Seq(6L, 1L), Seq(7L, 2L), Seq(9L, 1L), Seq(10L, 1L)))
  }

  test("DEFINE SUM over the matched-so-far rows: cumulative cap chunks") {
    val got = mrRun("FIRST(B.event_id) AS s, COUNT(B.*) AS n", "B+",
      "B AS SUM(B.value) <= 200")
    // cumsums: 95,187,227>200 → [95,92]; 40,50,146,196,240>200 → [40,10,96,50];
    // 44,137,228>200 → [44,93]; 91,111 → [91,20]
    assert(got == Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(7L, 2L), Seq(9L, 2L)))
  }

  test("statement front door: EXPLAIN/SHOW/DESCRIBE/DROP and fixture immutability") {
    import graft.sqlx.TrinoDialect
    // EXPLAIN returns formatted plan rows mentioning a scan
    val plan = TrinoDialect.sql(spark, sfDir,
      "EXPLAIN SELECT n_name FROM nation WHERE n_nationkey < 5")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Scan") && plan.contains("nation"), plan)
    // EXPLAIN ANALYZE runs the query and reports per-node rows
    val ean = TrinoDialect.sql(spark, sfDir,
      "EXPLAIN ANALYZE SELECT count(*) FROM nation")
      .collect().map(_.getString(0)).mkString("\n")
    assert(ean.nonEmpty)
    // CTAS + DESCRIBE + SHOW TABLES + DROP
    TrinoDialect.sql(spark, sfDir,
      "CREATE OR REPLACE TABLE wh_spec AS SELECT n_nationkey, n_name FROM nation")
    val desc = TrinoDialect.sql(spark, sfDir, "DESCRIBE wh_spec")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc.map(_._1) == Seq("n_nationkey", "n_name") &&
      desc(1)._2 == "string", desc.toString)
    val shown = TrinoDialect.sql(spark, sfDir, "SHOW TABLES")
      .collect().map(_.getString(0)).toSeq
    assert(shown.contains("wh_spec") && shown.contains("nation"), shown.mkString(","))
    TrinoDialect.sql(spark, sfDir, "DROP TABLE wh_spec")
    assert(intercept[IllegalArgumentException] {
      TrinoDialect.sql(spark, sfDir, "DROP TABLE wh_spec")
    }.getMessage.contains("does not exist"))
    // DML against a fixture table refuses (immutable shared fixtures)
    assert(intercept[IllegalArgumentException] {
      TrinoDialect.sql(spark, sfDir, "DELETE FROM nation WHERE n_nationkey = 0")
    }.getMessage.contains("front-door"))
    // SHOW FUNCTIONS lists the engine's registered names
    val fns = TrinoDialect.sql(spark, sfDir, "SHOW FUNCTIONS")
      .collect().map(_.getString(0)).toSeq
    assert(fns.contains("murmur3") && fns.contains("st_as_text"), fns.take(5).mkString(","))
  }

  test("statement front door: MERGE upserts and CREATE VIEW registers") {
    import graft.sqlx.TrinoDialect
    TrinoDialect.sql(spark, sfDir,
      "CREATE OR REPLACE TABLE wh_merge AS SELECT n_nationkey AS k, n_name AS v FROM nation")
    val before = spark.table("wh_merge").count()
    // 0..4 updated to 'X', 1000/1001 inserted
    TrinoDialect.sql(spark, sfDir,
      """MERGE INTO wh_merge t USING (
           SELECT n_nationkey AS k, 'X' AS v FROM nation WHERE n_nationkey < 5
           UNION ALL SELECT 1000 AS k, 'NEW' AS v
           UNION ALL SELECT 1001 AS k, 'NEW' AS v
         ) s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val after = spark.table("wh_merge")
    assert(after.count() == before + 2)
    assert(after.filter("v = 'X'").count() == 5)
    assert(after.filter("k >= 1000").count() == 2)
    // non-canonical MERGE forms execute via the full conditional path
    // (r14, CowTable.mergeFull): a delete-only merge removes every key
    // present in the source, leaving only the freshly inserted rows
    TrinoDialect.sql(spark, sfDir,
      """MERGE INTO wh_merge t USING nation s ON t.k = s.n_nationkey
         WHEN MATCHED THEN DELETE""")
    assert(spark.table("wh_merge").count() == 2)
    assert(after.filter("k >= 1000").count() == 2)
    // repopulate so the view assertions below keep their expected counts
    TrinoDialect.sql(spark, sfDir,
      "INSERT INTO wh_merge SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 5")
    // CREATE VIEW over a dialect query, then query it back
    TrinoDialect.sql(spark, sfDir,
      "CREATE OR REPLACE VIEW v_top AS SELECT k, v FROM wh_merge WHERE k < 3")
    val rows = TrinoDialect.sql(spark, sfDir,
      "SELECT count(*) AS c FROM v_top").head().getLong(0)
    assert(rows == 3, rows.toString)
    TrinoDialect.sql(spark, sfDir, "DROP TABLE wh_merge")
  }

  test("statement front door: CREATE TABLE with column defs, SHOW SCHEMAS") {
    import graft.sqlx.TrinoDialect
    TrinoDialect.sql(spark, sfDir, "DROP TABLE IF EXISTS wh_empty")
    TrinoDialect.sql(spark, sfDir,
      "CREATE TABLE wh_empty (id BIGINT, name VARCHAR, price DECIMAL(12,2), w REAL)")
    assert(spark.table("wh_empty").count() == 0)
    assert(spark.table("wh_empty").schema.map(_.dataType.simpleString).toSeq ==
      Seq("bigint", "string", "decimal(12,2)", "float"))
    TrinoDialect.sql(spark, sfDir,
      "INSERT INTO wh_empty VALUES (1, 'a', CAST(9.50 AS DECIMAL(12,2)), CAST(0.5 AS REAL))")
    assert(spark.table("wh_empty").count() == 1)
    val schemas = TrinoDialect.sql(spark, sfDir, "SHOW SCHEMAS")
      .collect().map(_.getString(0)).toSeq
    assert(schemas.contains("default"), schemas.mkString(","))
    TrinoDialect.sql(spark, sfDir, "DROP TABLE wh_empty")
  }

  test("grammar breadth: ARRAY literal + subscript, LIKE ESCAPE, ROW cast, TABLESAMPLE") {
    // ARRAY[...] literal and 1-based subscript
    assert(TrinoDialect.sql(spark, sfDir, "SELECT ARRAY[10,20,30][2] AS el")
      .collect()(0).getInt(0) == 20)
    // nested in UNNEST args through CROSS JOIN form
    val un = TrinoDialect.sql(spark, sfDir,
      "SELECT x FROM (VALUES (1)) AS t(d) CROSS JOIN UNNEST(ARRAY[7,8]) AS u(x) ORDER BY x")
      .collect().map(_.getInt(0)).toSeq
    assert(un == Seq(7, 8))
    // LIKE ESCAPE with a Trino-literal backslash escape character
    val esc = TrinoDialect.sql(spark, sfDir,
      "SELECT v FROM (VALUES ('50%'), ('50x')) AS t(v) WHERE v LIKE '50\\%' ESCAPE '\\'")
      .collect().map(_.getString(0)).toSeq
    assert(esc == Seq("50%"), esc)
    // ROW-typed cast renders to a struct; field deref on the computed value
    val row = TrinoDialect.sql(spark, sfDir,
      "SELECT CAST(ROW(1, 'a') AS ROW(x BIGINT, y VARCHAR)).x AS rx")
      .collect()(0).getLong(0)
    assert(row == 1L)
    // TABLESAMPLE parses and samples (row count within [0, total])
    val n = TrinoDialect.sql(spark, sfDir,
      "SELECT count(*) AS n FROM (SELECT * FROM nation TABLESAMPLE BERNOULLI (50)) s")
      .collect()(0).getLong(0)
    assert(n >= 0L && n <= 25L)
    // strings keep Trino literal-backslash semantics through the parser
    assert(TrinoDialect.sql(spark, sfDir, raw"SELECT length('a\nb') AS l")
      .collect()(0).getInt(0) == 4)
  }

  test("interval literals render value before unit") {
    // the unit rides in the typed literal's type; rendering it ahead of the
    // value ("INTERVAL DAY '30'") is not SQL and failed to parse
    val d = TrinoDialect.sql(spark, sfDir,
      "SELECT DATE '2024-01-31' - INTERVAL '30' DAY AS d").collect()(0).get(0)
    assert(d.toString == "2024-01-01", d)
    val ts = TrinoDialect.sql(spark, sfDir,
      "SELECT CAST(TIMESTAMP '2024-01-02 00:00:00' - INTERVAL '1 02:03:04' DAY TO SECOND" +
        " AS VARCHAR) AS t").collect()(0).getString(0)
    assert(ts == "2023-12-31 21:56:56", ts)
  }

  test("FOR VERSION / TIMESTAMP AS OF time travel on front-door tables") {
    TrinoDialect.sql(spark, sfDir,
      "CREATE TABLE tt_spec AS SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 0")
    val v0Count = TrinoDialect.sql(spark, sfDir,
      "SELECT count(*) AS c FROM tt_spec").collect()(0).getLong(0)
    Thread.sleep(1100) // commit-mtime resolution is 1 s on some filesystems
    val cut = new java.sql.Timestamp(System.currentTimeMillis())
    TrinoDialect.sql(spark, sfDir,
      "INSERT INTO tt_spec SELECT n_nationkey FROM nation WHERE n_regionkey = 1")
    // VERSION AS OF: version 1 is the CTAS snapshot
    val atV1 = TrinoDialect.sql(spark, sfDir,
      "SELECT count(*) AS c FROM tt_spec FOR VERSION AS OF 1").collect()(0).getLong(0)
    assert(atV1 == v0Count, s"v1 $atV1 != ctas $v0Count")
    // latest sees the insert
    val latest = TrinoDialect.sql(spark, sfDir,
      "SELECT count(*) AS c FROM tt_spec").collect()(0).getLong(0)
    assert(latest > v0Count)
    // TIMESTAMP AS OF between the commits resolves to the CTAS snapshot
    val atTs = TrinoDialect.sql(spark, sfDir,
      s"SELECT count(*) AS c FROM tt_spec FOR TIMESTAMP AS OF TIMESTAMP '$cut'")
      .collect()(0).getLong(0)
    assert(atTs == v0Count, s"asof $atTs != ctas $v0Count")
    // a pre-table instant fails loudly
    intercept[Exception] {
      TrinoDialect.sql(spark, sfDir,
        "SELECT * FROM tt_spec FOR TIMESTAMP AS OF TIMESTAMP '1990-01-01 00:00:00'")
        .collect()
    }
    TrinoDialect.sql(spark, sfDir, "DROP TABLE tt_spec")
  }

  test("WITH FUNCTION: inline routines at the query head") {
    val one = TrinoDialect.sql(spark, sfDir,
      "WITH FUNCTION wf_dbl(x bigint) RETURNS bigint RETURN x * 2 SELECT wf_dbl(21) AS y")
      .collect()(0).getLong(0)
    assert(one == 42L)
    // two definitions, second referencing data; characteristics stripped
    val rows = TrinoDialect.sql(spark, sfDir,
      """WITH FUNCTION wf_inc(x bigint) RETURNS bigint DETERMINISTIC RETURN x + 1,
         FUNCTION wf_sq(x bigint) RETURNS bigint RETURN x * x
         SELECT wf_sq(wf_inc(n_regionkey)) AS v FROM nation
         WHERE n_nationkey = 0""").collect()
    assert(rows(0).getLong(0) == 1L) // region 0 → (0+1)^2
    // a leading comment does not hide the head
    val commented = TrinoDialect.sql(spark, sfDir,
      "/* c */ WITH FUNCTION wf_tri(x bigint) RETURNS bigint RETURN x * 3 SELECT wf_tri(7) AS y")
    assert(commented.collect()(0).getLong(0) == 21L)
  }

  test("MAP(keys, values) pairs two arrays; duplicate keys fail") {
    val df = TrinoDialect.sql(spark, sfDir, "SELECT MAP(ARRAY['a', 'b'], ARRAY[1, 2]) AS m")
    import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
    val MapType(kt, vt, _) = df.schema.head.dataType: @unchecked
    assert((kt, vt) == ((StringType, IntegerType))) // map(varchar, integer)
    assert(df.collect().head.getMap[String, Int](0) == Map("a" -> 1, "b" -> 2))
    val e = intercept[Exception] {
      TrinoDialect.sql(spark, sfDir, "SELECT MAP(ARRAY['a', 'a'], ARRAY[1, 2]) AS m").collect()
    }
    assert(e.getMessage.contains("DUPLICATED_MAP_KEY"), e.getMessage)
  }

  test("bare UNNEST in FROM and WITH ORDINALITY") {
    val bare = TrinoDialect.sql(spark, sfDir,
      "SELECT x FROM UNNEST(ARRAY[7, 8, 9]) AS t(x) ORDER BY x")
      .collect().map(_.getInt(0)).toSeq
    assert(bare == Seq(7, 8, 9))
    // WITH ORDINALITY: 1-based ordinal in declaration order (value, ord)
    val ord = TrinoDialect.sql(spark, sfDir,
      "SELECT x, o FROM UNNEST(ARRAY[30, 10, 20]) WITH ORDINALITY AS t(x, o) ORDER BY o")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(ord == Seq((30, 1), (10, 2), (20, 3)), ord)
    // correlated CROSS JOIN form still works with ordinality
    val corr = TrinoDialect.sql(spark, sfDir,
      """SELECT n_nationkey AS k, w, o
         FROM nation CROSS JOIN UNNEST(ARRAY[n_nationkey, n_regionkey]) WITH ORDINALITY AS u(w, o)
         WHERE n_nationkey = 3 ORDER BY o""")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(corr.map(_._3) == Seq(1, 2) && corr.head._2 == 3)
  }

  test("SELECT * over bare UNNEST leaks neither anchor nor ordinal helpers") {
    val df = TrinoDialect.sql(spark, sfDir,
      "SELECT * FROM UNNEST(ARRAY[3, 1, 2]) WITH ORDINALITY AS t(v, ord)")
    assert(df.columns.toSeq == Seq("v", "ord"), df.columns.toSeq)
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).sortBy(_._2).toSeq ==
      Seq((3, 1), (1, 2), (2, 3)))
    val plain = TrinoDialect.sql(spark, sfDir,
      "SELECT * FROM UNNEST(ARRAY['a', 'b']) AS t(v)")
    assert(plain.columns.toSeq == Seq("v"))
  }

  test("multi-array UNNEST zips with NULL padding to the longest array") {
    val rows = TrinoDialect.sql(spark, sfDir,
      """SELECT x, y, ord
         FROM UNNEST(ARRAY[10, 20, 30], ARRAY['a', 'b']) WITH ORDINALITY AS t(x, y, ord)
         ORDER BY ord""").collect()
      .map(r => (r.get(0), r.get(1), r.get(2))).toSeq
    assert(rows == Seq((10, "a", 1), (20, "b", 2), (30, null, 3)), rows)
    // without ordinality, three arrays zip positionally
    val three = TrinoDialect.sql(spark, sfDir,
      """SELECT a, b, c FROM UNNEST(ARRAY[1], ARRAY[2, 22], ARRAY[3]) AS t(a, b, c)
         ORDER BY b""").collect().map(r => (r.get(0), r.get(1), r.get(2))).toSeq
    assert(three == Seq((1, 2, 3), (null, 22, null)), three)
  }

  test("UNNEST over a MAP argument yields key and value columns") {
    val rows = TrinoDialect.sql(spark, sfDir,
      """SELECT k, v FROM UNNEST(map_from_arrays(ARRAY['x', 'y'], ARRAY[1, 2]))
         AS t(k, v) ORDER BY k""").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(rows == Seq(("x", 1), ("y", 2)))
  }

  test("special expression forms parse through the strict grammar (no fallback)") {
    import graft.sqlx.{SqlAst, SqlParser}
    // each form must produce a statement AST — the regex fallback would
    // bypass composability (and the row-security splice)
    def parses(q: String): SqlAst.Statement = new SqlParser(q).parseStatement()
    parses("SELECT EXTRACT(YEAR FROM o_orderdate) AS y FROM orders")
    parses("SELECT TRIM(LEADING 'x' FROM n_name) AS v FROM nation")
    parses("SELECT TRIM(BOTH FROM n_name) AS v FROM nation")
    parses("SELECT SUBSTRING(n_name FROM 2 FOR 3) AS v FROM nation")
    parses("SELECT POSITION('A' IN n_name) AS v FROM nation")
    parses("SELECT n_nationkey :: varchar AS v FROM nation")
    parses("SELECT LISTAGG(n_name, ',' ON OVERFLOW TRUNCATE WITHOUT COUNT) " +
      "WITHIN GROUP (ORDER BY n_name DESC) AS v FROM nation")
    parses("SELECT LISTAGG(n_name) WITHIN GROUP (ORDER BY n_name) AS v FROM nation")
    // end-to-end values
    val r = TrinoDialect.sql(spark, sfDir,
      """SELECT EXTRACT(MONTH FROM DATE '2024-03-05') AS m,
                SUBSTRING('hello world' FROM 7) AS tail,
                POSITION('lo' IN 'hello') AS pos,
                7 :: bigint AS casted""").collect().head
    assert(r.getInt(0) == 3 && r.getString(1) == "world" &&
      r.getInt(2) == 4 && r.getLong(3) == 7L)
    // plain trim(x, chars) still takes the ordinary function path
    val t = TrinoDialect.sql(spark, sfDir, "SELECT trim('  hi  ') AS v")
      .collect().head.getString(0)
    assert(t == "hi")
    // LISTAGG end-to-end via Spark's native WITHIN GROUP support
    val l = TrinoDialect.sql(spark, sfDir,
      """SELECT LISTAGG(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS names
         FROM nation WHERE n_regionkey = 2""").collect().head.getString(0)
    // synthetic fixture names; the point is the '|' separator and ordering
    assert(l == "NATION_12|NATION_17|NATION_2|NATION_22|NATION_7", l)
  }

  test("named WINDOW clause and FILTER (WHERE) parse strictly and evaluate") {
    import graft.sqlx.SqlParser
    // both must produce a statement AST, not fall back to the regex layer
    new SqlParser(
      "SELECT sum(x) OVER w AS s FROM t WINDOW w AS (PARTITION BY k ORDER BY x)")
      .parseStatement()
    new SqlParser("SELECT count(*) FILTER (WHERE x > 0) AS c FROM t")
      .parseStatement()
    val rows = TrinoDialect.sql(spark, sfDir,
      """SELECT n_regionkey,
                count(*) FILTER (WHERE n_nationkey % 2 = 0) AS evens,
                max(rk) AS max_rank
         FROM (SELECT n_regionkey, n_nationkey,
                      rank() OVER w AS rk
               FROM nation
               WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_nationkey))
         GROUP BY n_regionkey ORDER BY n_regionkey""").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getInt(2) == 5), "5 nations per region, rank 1..5")
    assert(rows.map(_.getLong(1)).sum == 13, "13 even nation keys in 0..24")
  }

  test("CORRESPONDING set ops: name matching, intersection, loud errors") {
    import graft.sqlx.TrinoDialect
    // INTERSECT CORRESPONDING with reordered columns
    val r = TrinoDialect.sql(spark, sfDir,
      """SELECT n_nationkey AS id, n_name AS name FROM nation WHERE n_nationkey < 5
         INTERSECT CORRESPONDING
         SELECT n_name AS name, n_nationkey AS id FROM nation WHERE n_nationkey >= 3
         ORDER BY id""").collect()
    assert(r.map(_.get(0).toString.toLong).toSeq == Seq(3L, 4L), r.mkString(","))
    // no common columns → the reference's error
    val e1 = intercept[Exception] {
      TrinoDialect.sql(spark, sfDir,
        """SELECT n_nationkey AS a FROM nation
           UNION ALL CORRESPONDING
           SELECT r_regionkey AS b FROM region""").collect()
    }
    assert(e1.getMessage.contains("No corresponding columns") ||
      e1.getCause != null && e1.getCause.getMessage.contains("No corresponding columns"),
      e1.getMessage)
    // CORRESPONDING BY (cols) is rejected like the reference
    val e2 = intercept[Exception] {
      TrinoDialect.sql(spark, sfDir,
        """SELECT n_nationkey AS id FROM nation
           UNION CORRESPONDING BY (id)
           SELECT n_nationkey AS id FROM nation""").collect()
    }
    assert(e2.getMessage.contains("CORRESPONDING with columns is unsupported") ||
      e2.getMessage.contains("unsupported"), e2.getMessage)
  }
}
