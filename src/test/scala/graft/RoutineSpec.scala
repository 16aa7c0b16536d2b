package graft

import graft.sqlx.{SqlParseException, TrinoDialect}

/** Procedural SQL routine language (graft.functions.RoutineLang; reference
  * SqlBase.g4:995-1027 controlStatement + sql/routine/SqlRoutineAnalyzer /
  * SqlRoutineCompiler): both execution tiers — the loop-free
  * single-expression compile and the pre-bound per-row interpreter. */
class RoutineSpec extends SparkSpec {

  private def sql(text: String) = TrinoDialect.sql(spark, sfDir, text)

  test("WHILE loop: iterative fibonacci matches the closed sequence") {
    sql("""CREATE OR REPLACE FUNCTION t_fib(n bigint) RETURNS bigint
           BEGIN
             DECLARE a bigint DEFAULT 0;
             DECLARE b bigint DEFAULT 1;
             DECLARE t bigint;
             DECLARE i bigint DEFAULT 0;
             WHILE i < n DO
               SET t = a + b;
               SET a = b;
               SET b = t;
               SET i = i + 1;
             END WHILE;
             RETURN a;
           END""")
    val got = sql("SELECT t_fib(col) AS f FROM (VALUES 0, 1, 2, 7, 10, 20) AS t(col) ORDER BY f")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 1L, 13L, 55L, 6765L))
  }

  test("REPEAT executes the body before checking UNTIL") {
    // REPEAT with an initially-true condition still runs once
    sql("""CREATE OR REPLACE FUNCTION t_repeat(n bigint) RETURNS bigint
           BEGIN
             DECLARE c bigint DEFAULT 0;
             REPEAT
               SET c = c + 1;
             UNTIL c >= n END REPEAT;
             RETURN c;
           END""")
    val rows = sql("SELECT t_repeat(0) AS a, t_repeat(3) AS b").collect().head
    assert(rows.getLong(0) == 1L) // body ran once although 0 >= 0 upfront
    assert(rows.getLong(1) == 3L)
  }

  test("LOOP + LEAVE + ITERATE honor their labels") {
    // sum of even numbers 2..n via ITERATE skipping odds
    sql("""CREATE OR REPLACE FUNCTION t_evensum(n bigint) RETURNS bigint
           BEGIN
             DECLARE i bigint DEFAULT 0;
             DECLARE s bigint DEFAULT 0;
             outer_l: LOOP
               SET i = i + 1;
               IF i > n THEN
                 LEAVE outer_l;
               END IF;
               IF i % 2 = 1 THEN
                 ITERATE outer_l;
               END IF;
               SET s = s + i;
             END LOOP;
             RETURN s;
           END""")
    val got = sql("SELECT t_evensum(10) AS s").collect().head.getLong(0)
    assert(got == 30L) // 2+4+6+8+10
  }

  test("nested loops: LEAVE targets the labeled outer loop") {
    sql("""CREATE OR REPLACE FUNCTION t_nested(n bigint) RETURNS bigint
           BEGIN
             DECLARE i bigint DEFAULT 0;
             DECLARE total bigint DEFAULT 0;
             a: WHILE i < n DO
               SET i = i + 1;
               b: LOOP
                 SET total = total + 1;
                 IF total >= 100 THEN
                   LEAVE a;
                 END IF;
                 LEAVE b;
               END LOOP;
             END WHILE;
             RETURN total;
           END""")
    assert(sql("SELECT t_nested(5) AS v").collect().head.getLong(0) == 5L)
    assert(sql("SELECT t_nested(1000) AS v").collect().head.getLong(0) == 100L)
  }

  test("loop-free body compiles to a native SQL UDF — no ScalaUDF in the plan") {
    sql("""CREATE OR REPLACE FUNCTION t_band(x double) RETURNS varchar
           BEGIN
             DECLARE lab varchar DEFAULT 'low';
             IF x >= 100 THEN
               SET lab = 'high';
             ELSEIF x >= 10 THEN
               SET lab = 'mid';
             END IF;
             RETURN lab;
           END""")
    val df = sql("SELECT t_band(col) AS b FROM (VALUES 5.0, 50.0, 500.0) AS t(col)")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("low", "mid", "high"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"expected inlined expression, got:\n$plan")
  }

  test("simple CASE statement compares by equality; no-match falls through") {
    sql("""CREATE OR REPLACE FUNCTION t_status(s varchar) RETURNS varchar
           BEGIN
             CASE s
               WHEN 'F' THEN RETURN 'final';
               WHEN 'O' THEN RETURN 'open';
             END CASE;
             RETURN NULL;
           END""")
    val rows = sql("SELECT t_status('F') AS a, t_status('O') AS b, t_status('P') AS c")
      .collect().head
    assert(rows.getString(0) == "final")
    assert(rows.getString(1) == "open")
    assert(rows.isNullAt(2)) // no branch matched → falls through to RETURN NULL
  }

  test("loop-bearing routines compile to codegen'd kernels (zero interpreter involvement)") {
    // WHILE with straight-line SETs: the whole loop lowers to one
    // Janino-compiled kernel — tier "compiled-loops", not "interpreted"
    sql("""CREATE OR REPLACE FUNCTION t_fibk(n bigint) RETURNS bigint
           BEGIN
             DECLARE a bigint DEFAULT 0;
             DECLARE b bigint DEFAULT 1;
             DECLARE t bigint;
             DECLARE i bigint DEFAULT 0;
             WHILE i < n DO
               SET t = a + b;
               SET a = b;
               SET b = t;
               SET i = i + 1;
             END WHILE;
             RETURN a;
           END""")
    assert(graft.functions.RoutineLang.tierOf("t_fibk").contains("compiled-loops"),
      graft.functions.RoutineLang.tierOf("t_fibk").toString)
    val fib = sql("SELECT t_fibk(col) AS f FROM (VALUES 0, 1, 2, 10, 24) AS t(col)")
      .collect().map(_.getLong(0)).toSeq
    assert(fib == Seq(0L, 1L, 1L, 55L, 46368L))

    // LOOP with IF branches and ITERATE/LEAVE against its OWN label also
    // kernelizes (the CPS pass turns the exits into struct signals)
    sql("""CREATE OR REPLACE FUNCTION t_collatzk(n bigint) RETURNS bigint
           BEGIN
             DECLARE v bigint;
             DECLARE s bigint DEFAULT 0;
             SET v = n;
             walk: LOOP
               IF v <= 1 THEN
                 LEAVE walk;
               END IF;
               SET s = s + 1;
               IF v % 2 = 0 THEN
                 SET v = v / 2;
                 ITERATE walk;
               END IF;
               SET v = 3 * v + 1;
             END LOOP;
             RETURN s;
           END""")
    assert(graft.functions.RoutineLang.tierOf("t_collatzk").contains("compiled-loops"),
      graft.functions.RoutineLang.tierOf("t_collatzk").toString)
    val c = sql("SELECT t_collatzk(col) AS c FROM (VALUES 1, 6, 27) AS t(col)")
      .collect().map(_.getLong(0)).toSeq
    assert(c == Seq(0L, 8L, 111L)) // collatz steps

    // REPEAT kernelizes with UNTIL evaluated in the end-of-iteration state
    sql("""CREATE OR REPLACE FUNCTION t_repk(n bigint) RETURNS bigint
           BEGIN
             DECLARE v bigint DEFAULT 0;
             REPEAT
               SET v = v + 10;
             UNTIL v >= n END REPEAT;
             RETURN v;
           END""")
    assert(graft.functions.RoutineLang.tierOf("t_repk").contains("compiled-loops"))
    assert(sql("SELECT t_repk(35) AS v").collect().head.getLong(0) == 40L)
    assert(sql("SELECT t_repk(0) AS v").collect().head.getLong(0) == 10L) // body-first

    // NESTED loops kernelize too (r16): the inner loop compiles to its own
    // tight helper kernel the outer kernel calls — the whole nest reports
    // tier "compiled-loops" with zero per-statement interpretation
    sql("""CREATE OR REPLACE FUNCTION t_nestk(n bigint) RETURNS bigint
           BEGIN
             DECLARE i bigint DEFAULT 0;
             DECLARE acc bigint DEFAULT 0;
             DECLARE j bigint;
             outer_l: WHILE i < n DO
               SET j = 0;
               WHILE j < i DO
                 SET acc = acc + 1;
                 SET j = j + 1;
               END WHILE;
               SET i = i + 1;
             END WHILE;
             RETURN acc;
           END""")
    assert(graft.functions.RoutineLang.tierOf("t_nestk").contains("compiled-loops"),
      graft.functions.RoutineLang.tierOf("t_nestk").toString)
    assert(sql("SELECT t_nestk(5) AS v").collect().head.getLong(0) == 10L)
    assert(sql("SELECT t_nestk(col) AS v FROM (VALUES 0, 1, 7) AS t(col)")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 0L, 21L))

    // a RETURN taken INSIDE the inner loop propagates out of the nest;
    // inner ITERATE/LEAVE against the inner label stay inner-local
    sql("""CREATE OR REPLACE FUNCTION t_nestret(n bigint) RETURNS bigint
           BEGIN
             DECLARE i bigint DEFAULT 0;
             DECLARE j bigint;
             WHILE i < n DO
               SET j = 0;
               inner_l: WHILE j < n DO
                 IF i * j = 12 THEN
                   RETURN i * 100 + j;
                 END IF;
                 IF j > i THEN
                   LEAVE inner_l;
                 END IF;
                 SET j = j + 1;
               END WHILE;
               SET i = i + 1;
             END WHILE;
             RETURN -1;
           END""")
    assert(graft.functions.RoutineLang.tierOf("t_nestret").contains("compiled-loops"),
      graft.functions.RoutineLang.tierOf("t_nestret").toString)
    // first (i, j) in scan order reaching i*j=12: i=3 scans j=0..4 (the
    // j>i leave fires only AFTER the check), hitting 3*4=12 → 304
    assert(sql("SELECT t_nestret(6) AS v").collect().head.getLong(0) == 304L)
    assert(sql("SELECT t_nestret(2) AS v").collect().head.getLong(0) == -1L)

    // cross-label control out of the inner loop COMPILES too (r17): the
    // inner kernel carries the target label in its result struct and the
    // outer kernel dispatches it to its own leave path
    sql("""CREATE OR REPLACE FUNCTION t_nestx(n bigint) RETURNS bigint
           BEGIN
             DECLARE i bigint DEFAULT 0;
             DECLARE j bigint DEFAULT 0;
             out_l: WHILE i < n DO
               WHILE j < n DO
                 IF j = 3 THEN
                   LEAVE out_l;
                 END IF;
                 SET j = j + 1;
               END WHILE;
               SET i = i + 1;
             END WHILE;
             RETURN i * 10 + j;
           END""")
    assert(graft.functions.RoutineLang.tierOf("t_nestx").contains("compiled-loops"),
      graft.functions.RoutineLang.tierOf("t_nestx").toString)
    assert(sql("SELECT t_nestx(5) AS v").collect().head.getLong(0) == 3L)

    // cross-label ITERATE from the inner loop: continue the OUTER loop —
    // j stops accumulating the first time it reaches 2 in an iteration
    sql("""CREATE OR REPLACE FUNCTION t_nesti(n bigint) RETURNS bigint
           BEGIN
             DECLARE i bigint DEFAULT 0;
             DECLARE acc bigint DEFAULT 0;
             DECLARE j bigint;
             out_i: WHILE i < n DO
               SET i = i + 1;
               SET j = 0;
               WHILE j < 10 DO
                 IF j = 2 THEN
                   ITERATE out_i;
                 END IF;
                 SET j = j + 1;
                 SET acc = acc + 1;
               END WHILE;
               SET acc = acc + 100;
             END WHILE;
             RETURN acc;
           END""")
    assert(graft.functions.RoutineLang.tierOf("t_nesti").contains("compiled-loops"),
      graft.functions.RoutineLang.tierOf("t_nesti").toString)
    // each outer iteration adds j=0,1 (+2) then ITERATEs out before the
    // +100 line: acc = 2n
    assert(sql("SELECT t_nesti(4) AS v").collect().head.getLong(0) == 8L)

    // a compiled signal escaping the outermost kernel bridges to the
    // interpreter: LEAVE of a labeled BEGIN from inside a nested loop
    sql("""CREATE OR REPLACE FUNCTION t_nestb(n bigint) RETURNS bigint
           BEGIN
             DECLARE i bigint DEFAULT 0;
             DECLARE j bigint DEFAULT 0;
             blk: BEGIN
               WHILE i < n DO
                 WHILE j < n DO
                   IF i * j >= 4 THEN
                     LEAVE blk;
                   END IF;
                   SET j = j + 1;
                 END WHILE;
                 SET j = 0;
                 SET i = i + 1;
               END WHILE;
               SET i = -1;
             END;
             RETURN i * 100 + j;
           END""")
    // i=1: j scans to 4 where 1*4>=4 → LEAVE blk (skipping SET i=-1)
    assert(sql("SELECT t_nestb(5) AS v").collect().head.getLong(0) == 104L)
  }

  test("inner-loop helper kernels deregister on CREATE OR REPLACE and DROP") {
    // ADVICE r16: each nested-loop compile registered a fresh global
    // __graft_il<N> helper that was never dropped — repeated CREATE OR
    // REPLACE grew the session function registry for the process lifetime
    def ilHelpers: Set[String] =
      spark.sessionState.functionRegistry.listFunction()
        .map(_.unquotedString).filter(_.contains("__graft_il")).toSet
    val baseline = ilHelpers
    def create(): Unit = sql(
      """CREATE OR REPLACE FUNCTION t_ilreg(n bigint) RETURNS bigint
         BEGIN
           DECLARE i bigint DEFAULT 0;
           DECLARE acc bigint DEFAULT 0;
           DECLARE j bigint;
           WHILE i < n DO
             SET j = 0;
             WHILE j < i DO
               SET acc = acc + 1;
               SET j = j + 1;
             END WHILE;
             SET i = i + 1;
           END WHILE;
           RETURN acc;
         END""")
    create()
    val afterOne = ilHelpers
    val perCompile = (afterOne -- baseline).size
    assert(perCompile >= 1, "expected the nest to register helper kernels")
    create(); create()
    // replaces swap helpers instead of accumulating them
    assert((ilHelpers -- baseline).size == perCompile,
      s"stale helpers accumulated: ${(ilHelpers -- baseline).toSeq.sorted}")
    assert(sql("SELECT t_ilreg(5) AS v").collect().head.getLong(0) == 10L)
    sql("DROP FUNCTION t_ilreg")
    assert(ilHelpers == baseline,
      s"DROP FUNCTION left helper kernels behind: ${(ilHelpers -- baseline).toSeq.sorted}")
  }

  test("body not ending in RETURN is rejected at CREATE (reference MISSING_RETURN)") {
    // reference SqlRoutineAnalyzer.validateReturn: shape-based — the LAST
    // statement must literally be RETURN, even if every path through a
    // final CASE/IF returns
    val e = intercept[Exception] {
      sql("""CREATE OR REPLACE FUNCTION t_noret(s varchar) RETURNS varchar
             BEGIN
               CASE s
                 WHEN 'F' THEN RETURN 'final';
                 ELSE RETURN 'other';
               END CASE;
             END""")
    }
    assert(e.getMessage.contains("Function must end in a RETURN statement"),
      e.getMessage)
  }

  test("labeled BEGIN block is a LEAVE target; ITERATE on it is rejected") {
    // reference SqlRoutineCompiler.visitBlock registers labels on compounds
    sql("""CREATE OR REPLACE FUNCTION t_blocklbl(n bigint) RETURNS varchar
           BEGIN
             DECLARE r varchar DEFAULT 'start';
             blk: BEGIN
               IF n < 0 THEN
                 LEAVE blk;
               END IF;
               SET r = 'body';
             END;
             RETURN r;
           END""")
    val rows = sql("SELECT t_blocklbl(-1) AS a, t_blocklbl(1) AS b").collect().head
    assert(rows.getString(0) == "start") // LEAVE skipped the SET
    assert(rows.getString(1) == "body")
    val e = intercept[Exception] {
      sql("""CREATE OR REPLACE FUNCTION t_blockiter(n bigint) RETURNS bigint
             BEGIN
               blk: BEGIN
                 ITERATE blk;
               END;
               RETURN n;
             END""")
    }
    assert(e.getMessage.contains("only LEAVE may target it"), e.getMessage)
  }

  test("DECLARE DEFAULT may reference parameters; SET casts to the declared type") {
    sql("""CREATE OR REPLACE FUNCTION t_halving(n bigint) RETURNS bigint
           BEGIN
             DECLARE v bigint DEFAULT n * 2;
             DECLARE steps bigint DEFAULT 0;
             WHILE v > 1 DO
               SET v = v / 2;
               SET steps = steps + 1;
             END WHILE;
             RETURN steps;
           END""")
    // v starts at 2n; halving 16 → 1 takes 4 steps (16→8→4→2→1)
    assert(sql("SELECT t_halving(8) AS s").collect().head.getLong(0) == 4L)
  }

  test("NULL loop conditions read as false") {
    sql("""CREATE OR REPLACE FUNCTION t_nullcond(n bigint) RETURNS bigint
           BEGIN
             DECLARE i bigint DEFAULT 0;
             WHILE i < n DO
               SET i = i + 1;
             END WHILE;
             RETURN i;
           END""")
    // n NULL → `i < NULL` is NULL → loop never runs
    assert(sql("SELECT t_nullcond(CAST(NULL AS bigint)) AS v")
      .collect().head.getLong(0) == 0L)
  }

  test("duplicate variable declarations are rejected at CREATE time") {
    val e = intercept[Exception] {
      sql("""CREATE OR REPLACE FUNCTION t_dup(x bigint) RETURNS bigint
             BEGIN
               DECLARE x bigint;
               RETURN x;
             END""")
    }
    assert(e.getMessage.contains("already declared"), e.getMessage)
  }

  test("unmatched ITERATE/LEAVE labels are rejected at CREATE time") {
    val e = intercept[SqlParseException] {
      sql("""CREATE OR REPLACE FUNCTION t_badlabel(x bigint) RETURNS bigint
             BEGIN
               a: LOOP
                 LEAVE b;
               END LOOP;
               RETURN x;
             END""")
    }
    assert(e.getMessage.contains("no enclosing loop"), e.getMessage)
  }

  test("runaway loops trip the iteration guard instead of hanging") {
    val prev = sys.props.get("graft.routine.maxSteps")
    sys.props("graft.routine.maxSteps") = "1000"
    try {
      sql("""CREATE OR REPLACE FUNCTION t_forever(x bigint) RETURNS bigint
             BEGIN
               DECLARE i bigint DEFAULT 0;
               LOOP
                 SET i = i + 1;
               END LOOP;
               RETURN i;
             END""")
      val e = intercept[Exception] {
        sql("SELECT t_forever(1) AS v").collect()
      }
      assert(e.getMessage != null)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.routine.maxSteps") = v
        case None => sys.props.remove("graft.routine.maxSteps")
      }
    }
  }

  test("reference TestSqlFunctions.testBreakContinue: labeled WHILE with ITERATE+LEAVE") {
    sql("""CREATE OR REPLACE FUNCTION t_bc() RETURNS bigint
           BEGIN
             DECLARE a bigint DEFAULT 0;
             DECLARE b bigint DEFAULT 0;
             top: WHILE a < 10 DO
               SET a = a + 1;
               IF a < 3 THEN
                 ITERATE top;
               END IF;
               SET b = b + 1;
               IF a > 6 THEN
                 LEAVE top;
               END IF;
             END WHILE;
             RETURN b;
           END""")
    assert(sql("SELECT t_bc() AS v").collect().head.getLong(0) == 5L)
  }

  test("reference TestSqlFunctions.testRepeatContinue: ITERATE restarts the REPEAT body") {
    sql("""CREATE OR REPLACE FUNCTION t_rc() RETURNS bigint
           BEGIN
             DECLARE a int DEFAULT 0;
             DECLARE b int DEFAULT 0;
             top: REPEAT
               SET a = a + 1;
               IF a <= 3 THEN
                 ITERATE top;
               END IF;
               SET b = b + 1;
             UNTIL a >= 10 END REPEAT;
             RETURN CAST(b AS bigint);
           END""")
    assert(sql("SELECT t_rc() AS v").collect().head.getLong(0) == 7L)
  }

  test("reference TestSqlFunctions.testReuseLabels: sequential reuse OK, nesting rejected") {
    sql("""CREATE OR REPLACE FUNCTION t_relabel() RETURNS bigint
           BEGIN
             DECLARE r int DEFAULT 0;
             abc: LOOP
               SET r = r + 1;
               LEAVE abc;
             END LOOP;
             abc: LOOP
               SET r = r + 1;
               LEAVE abc;
             END LOOP;
             RETURN CAST(r AS bigint);
           END""")
    assert(sql("SELECT t_relabel() AS v").collect().head.getLong(0) == 2L)
    // nested duplicate label: reference "Label already declared in this scope"
    val e = intercept[SqlParseException] {
      sql("""CREATE OR REPLACE FUNCTION t_nestlabel() RETURNS bigint
             BEGIN
               abc: LOOP
                 abc: LOOP
                   LEAVE abc;
                 END LOOP;
                 LEAVE abc;
               END LOOP;
               RETURN 0;
             END""")
    }
    assert(e.getMessage.contains("already declared"), e.getMessage)
  }

  test("multi-name DECLARE shares the type and default; SET on a parameter works") {
    sql("""CREATE OR REPLACE FUNCTION t_multi(x bigint) RETURNS bigint
           BEGIN
             DECLARE a, b bigint DEFAULT 2;
             SET x = x + a + b;
             RETURN x;
           END""")
    assert(sql("SELECT t_multi(10) AS v").collect().head.getLong(0) == 14L)
  }

  test("inline WITH FUNCTION takes procedural bodies") {
    val rows = sql(
      """WITH FUNCTION inline_steps(n bigint)
         RETURNS bigint
         BEGIN
           DECLARE c bigint DEFAULT 0;
           WHILE n > 1 DO
             IF n % 2 = 0 THEN
               SET n = n / 2;
             ELSE
               SET n = 3 * n + 1;
             END IF;
             SET c = c + 1;
           END WHILE;
           RETURN c;
         END
         SELECT inline_steps(6) AS a, inline_steps(1) AS b""").collect().head
    assert(rows.getLong(0) == 8L) // 6→3→10→5→16→8→4→2→1
    assert(rows.getLong(1) == 0L)
  }

  test("routine bodies go through the dialect rewriter (reference spellings)") {
    sql("""CREATE OR REPLACE FUNCTION t_spell(s varchar) RETURNS bigint
           BEGIN
             DECLARE p bigint;
             SET p = strpos(s, 'x');
             IF p = 0 THEN
               RETURN -1;
             END IF;
             RETURN p;
           END""")
    val rows = sql("SELECT t_spell('axe') AS a, t_spell('none') AS b").collect().head
    assert(rows.getLong(0) == 2L)
    assert(rows.getLong(1) == -1L)
  }

  test("RETURN bodies lower through the front-door AST passes (strpos, format, TRY)") {
    val body = "format('%s:%s', strpos(s, 'x'), TRY(10 / d))"
    sql(s"""CREATE OR REPLACE FUNCTION t_lowered(s varchar, d bigint) RETURNS varchar
            RETURN $body""")
    sql(s"""CREATE OR REPLACE FUNCTION t_lowered_block(s varchar, d bigint) RETURNS varchar
            BEGIN
              DECLARE r varchar DEFAULT $body;
              RETURN r;
            END""")
    def rows(select: String): Seq[String] =
      sql(s"SELECT $select AS r FROM (VALUES ('axe', 2), ('none', 0)) AS t(s, d) ORDER BY s")
        .collect().map(_.getString(0)).toSeq
    val direct = rows(body)
    assert(direct == Seq("2:5.0", "0:null"))
    assert(rows("t_lowered(s, d)") == direct)
    assert(rows("t_lowered_block(s, d)") == direct)
  }

  test("routine heads: parameterized and nested types, a quoted COMMENT, a leading comment") {
    sql("""-- money helper
           CREATE OR REPLACE FUNCTION t_cents(x decimal(10,2)) RETURNS bigint
           COMMENT 'it''s cents' RETURN CAST(x * 100 AS bigint)""")
    sql("""CREATE OR REPLACE FUNCTION t_twice(xs array(bigint)) RETURNS array(bigint)
           RETURN transform(xs, v -> v * 2)""")
    // the same head over a control-statement body
    sql("""/* block */ CREATE OR REPLACE FUNCTION t_append(xs array(bigint), x decimal(10,2))
           RETURNS array(bigint)
           COMMENT 'it''s a block'
           BEGIN
             DECLARE n bigint DEFAULT CAST(x AS bigint);
             RETURN concat(xs, ARRAY[n]);
           END""")
    val r = sql("""SELECT t_cents(CAST(1.25 AS decimal(10,2))) AS c,
                   t_twice(ARRAY[1, 2]) AS t,
                   t_append(ARRAY[1, 2], CAST(3.00 AS decimal(10,2))) AS a""").collect().head
    assert(r.getLong(0) == 125L)
    assert(r.getSeq[Long](1) == Seq(2L, 4L))
    assert(r.getSeq[Long](2) == Seq(1L, 2L, 3L))
    assert(graft.functions.SqlRoutines.definitionOf("t_cents")
      .exists(_.startsWith("CREATE OR REPLACE FUNCTION t_cents(x decimal(10,2))")))
  }

  test("CASE expression inside a routine expression does not confuse THEN/END scanning") {
    sql("""CREATE OR REPLACE FUNCTION t_casescan(x bigint) RETURNS varchar
           BEGIN
             IF CASE WHEN x > 0 THEN true ELSE false END THEN
               RETURN 'pos';
             END IF;
             RETURN 'nonpos';
           END""")
    val rows = sql("SELECT t_casescan(3) AS a, t_casescan(-3) AS b").collect().head
    assert(rows.getString(0) == "pos")
    assert(rows.getString(1) == "nonpos")
  }
}
