package graft

import org.apache.spark.sql.Row
import graft.plans.RowPattern
import graft.plans.RowPattern._

/** Row-pattern matcher unit tests (≈ reference
  * core/trino-main/src/test/java/io/trino/operator/window/matcher tests):
  * parser shapes, greedy quantifiers, alternation preferment, skip modes. */
class PatternSpec extends SparkSpec {

  private def sym(values: String): IndexedSeq[Row] =
    values.map(c => Row(c.toString)).toIndexedSeq

  /** DEFINE: each single-letter symbol matches rows carrying that letter. */
  private def letterDefs(letters: String): Map[String, TracePredicate] =
    liftAll(letters.map { c =>
      val pred: Predicate = (p, i) => p(i).getString(0) == c.toString
      c.toString -> pred
    }.toMap)

  test("parser handles concat, alternation, quantifiers, groups") {
    assert(parse("A B C") == Cat(List(Sym("A"), Sym("B"), Sym("C"))))
    assert(parse("A | B") == Alt(Sym("A"), Sym("B")))
    assert(parse("A (B | C)+ D*") ==
      Cat(List(Sym("A"), Plus(Alt(Sym("B"), Sym("C"))), Star(Sym("D")))))
    assert(parse("A?") == Opt(Sym("A")))
    intercept[IllegalArgumentException](parse("A )"))
  }

  test("greedy plus consumes maximal run, skip past last row") {
    val m = new Matcher(parse("A+ B+"), letterDefs("AB"))
    val matches = m.findAll(sym("AAABBAB"))
    assert(matches.map(x => (x.start, x.end)) == Seq((0, 5), (5, 7)))
    assert(matches.head.countOf("A") == 3 && matches.head.countOf("B") == 2)
  }

  test("skip to next row yields overlapping matches") {
    val m = new Matcher(parse("A B"), letterDefs("AB"))
    val overlapping = m.findAll(sym("ABAB"), skipPastLastRow = false)
    assert(overlapping.map(_.start) == Seq(0, 2))
    val m2 = new Matcher(parse("A A"), liftAll(Map("A" -> ((p: IndexedSeq[Row], i: Int) => true))))
    assert(m2.findAll(sym("xxx"), skipPastLastRow = false).map(_.start) == Seq(0, 1))
  }

  test("skip to [first|last] variable: overlap at the target row, loud loops") {
    val any: Predicate = (_, _) => true
    val m = new Matcher(parse("X Y Z"),
      liftAll(Map("X" -> any, "Y" -> any, "Z" -> any)))
    // SKIP TO LAST Z resumes AT the Z row → stride-2 overlapping triples
    val toLastZ = m.findAll(sym("xxxxxxx"), SkipToVar(Set("Z"), first = false, "LAST Z"))
    assert(toLastZ.map(x => (x.start, x.end)) == Seq((0, 3), (2, 5), (4, 7)))
    // SKIP TO FIRST Y ≡ resume at the second row here
    val toFirstY = m.findAll(sym("xxxxx"), SkipToVar(Set("Y"), first = true, "FIRST Y"))
    assert(toFirstY.map(_.start) == Seq(0, 1, 2))
    // resuming at the match's own first row would loop forever → loud error
    intercept[IllegalArgumentException] {
      m.findAll(sym("xxx"), SkipToVar(Set("X"), first = true, "FIRST X"))
    }
    // a variable that mapped no rows → loud error
    val opt = new Matcher(parse("A B?"), letterDefs("AB"))
    intercept[IllegalArgumentException] {
      opt.findAll(sym("AA"), SkipToVar(Set("B"), first = false, "LAST B"))
    }
    // SUBSET expansion: skip to the union's last row
    val sub = m.findAll(sym("xxxxx"), SkipToVar(Set("Y", "Z"), first = false, "LAST U"))
    assert(sub.map(_.start) == Seq(0, 2))
  }

  test("SKIP TO a variable inside an alternation branch") {
    // r10 residue closed: the skip target lives in ONE branch of
    // PATTERN (A (B | C) D); the trace-driven skip resolves it whenever
    // the matched branch bound it, and errors loudly (the standard's
    // unmatched-variable behavior) when the OTHER branch matched.
    val m = new Matcher(parse("A (B | C) D"), letterDefs("ABCD"))
    assert(m.findAll(sym("ABDACD")).map(x => (x.start, x.end)) ==
      Seq((0, 3), (3, 6))) // both branches exercised
    // second match took the C branch → SKIP TO LAST B has no B row: loud
    intercept[IllegalArgumentException] {
      m.findAll(sym("ABDACD"), SkipToVar(Set("B"), first = false, "LAST B"))
    }
    // SUBSET U = (B, C) skips to whichever branch variable matched
    val viaSubset = m.findAll(sym("ABDACD"),
      SkipToVar(Set("B", "C"), first = false, "LAST U"))
    assert(viaSubset.map(_.start) == Seq(0, 3))
    // resume happens AT the in-branch row: overlapping matches
    val any: Predicate = (_, _) => true
    val over = new Matcher(parse("X (B | C) Z"), liftAll(Map(
      "X" -> any, "Z" -> any,
      "B" -> ((p: IndexedSeq[Row], i: Int) => p(i).getString(0) == "B"),
      "C" -> ((p: IndexedSeq[Row], i: Int) => p(i).getString(0) == "C"))))
    val laps = over.findAll(sym("aBBz"),
      SkipToVar(Set("B"), first = false, "LAST B"))
    assert(laps.map(x => (x.start, x.end)) == Seq((0, 3), (1, 4)))
  }

  test("alternation prefers the left branch") {
    // both B and C match row 'X' — classifier must record B
    val defs: Map[String, Predicate] = Map(
      "B" -> ((p, i) => p(i).getString(0) == "X"),
      "C" -> ((p, i) => p(i).getString(0) == "X"))
    val m = new Matcher(parse("B | C"), liftAll(defs))
    assert(m.findAll(sym("X")).head.steps.map(_._1) == Seq("B"))
  }

  test("optional and star handle absence") {
    val m = new Matcher(parse("A B? C"), letterDefs("ABC"))
    assert(m.findAll(sym("AC")).map(x => (x.start, x.end)) == Seq((0, 2)))
    assert(m.findAll(sym("ABC")).map(x => (x.start, x.end)) == Seq((0, 3)))
    val st = new Matcher(parse("A B* C"), letterDefs("ABC"))
    assert(st.findAll(sym("ABBBC")).map(x => (x.start, x.end)) == Seq((0, 5)))
  }

  test("backtracking releases greedy rows when tail needs them") {
    // A+ is greedy but must give one A back so the trailing A can match
    val defs = letterDefs("A")
    val m = new Matcher(parse("A+ A"), defs)
    val matches = m.findAll(sym("AAA"))
    assert(matches.map(x => (x.start, x.end)) == Seq((0, 3)))
    assert(matches.head.countOf("A") == 3)
  }

  test("anchoredAt: per-row INITIAL matches, empty discarded") {
    val defs = letterDefs("AB")
    val m = new Matcher(parse("A+ B"), defs)
    val part = sym("AABCA")
    // anchor 0: AAB (greedy); anchor 1: AB; anchor 2: none (starts at B)
    assert(m.anchoredAt(part, 0).map(x => (x.start, x.end)) == Some((0, 3)))
    assert(m.anchoredAt(part, 1).map(x => (x.start, x.end)) == Some((1, 3)))
    assert(m.anchoredAt(part, 2).isEmpty)
    assert(m.anchoredAt(part, 4).isEmpty) // trailing A without B
    // empty-capable pattern yields no match rather than an empty one
    val opt = new Matcher(parse("B?"), defs)
    assert(opt.anchoredAt(part, 0).isEmpty)
  }

  test("row-pattern window spec: anchored measures, NULL for unmatched rows") {
    import graft.sqlx.TrinoDialect
    val df = TrinoDialect.sql(spark, sfDir,
      """SELECT user_id, event_id, n_down OVER w AS n_down, end_val OVER w AS end_val
         FROM events
         WINDOW w AS (
           PARTITION BY user_id
           ORDER BY event_id
           MEASURES COUNT(D.*) AS n_down, LAST(D.value) AS end_val
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           PATTERN (A D+)
           DEFINE D AS value < PREV(value))""")
    val out = df.collect()
    val in = operators.table(spark, sfDir, "events")
      .select("user_id", "event_id", "value").collect()
      .groupBy(_.getLong(0))
      .map { case (u, rs) => u -> rs.sortBy(_.getLong(1)) }
    // EVERY input row appears exactly once
    assert(out.length == in.values.map(_.length).sum)
    // replay the SEQUENTIAL semantics row by row: frame-clipped PREV means
    // D never matches at the anchor, so the undefined A absorbs it — with
    // the default AFTER MATCH SKIP PAST LAST ROW, only the PEAK row before
    // each maximal descending run anchors a match; the run itself is
    // consumed (skipped)
    val byKey = out.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    in.foreach { case (u, rs) =>
      rs.indices.foreach { i =>
        val r = byKey((u, rs(i).getLong(1)))
        def desc(j: Int): Boolean =
          j > 0 && j < rs.length && rs(j).getDouble(2) < rs(j - 1).getDouble(2)
        if (desc(i + 1) && !desc(i)) {
          var j = i + 1
          while (j + 1 < rs.length && desc(j + 1)) j += 1
          assert(r.getLong(2) == (j - i).toLong, s"run length at $u/$i")
          assert(r.getDouble(3) == rs(j).getDouble(2), s"end_val at $u/$i")
        } else {
          assert(r.isNullAt(2) && r.isNullAt(3),
            s"row $u/$i should be unmatched or skipped")
        }
      }
    }
    // unknown measures are rejected
    intercept[IllegalArgumentException] {
      TrinoDialect.sql(spark, sfDir,
        """SELECT nope OVER w FROM events WINDOW w AS (
           PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(D.*) AS m PATTERN (D+) DEFINE D AS value > 0)""")
    }
  }

  test("row-pattern window: bounded frame clips the match, SEEK detaches it, skip modes mark rows") {
    import spark.implicits._
    // synthetic partition: values 9 8 7 6 5 9 4 3 — one long descending run
    // (idx 1..4), a rise, then a short run (idx 6..7)
    val vals = Seq(9.0, 8.0, 7.0, 6.0, 5.0, 9.0, 4.0, 3.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("user_id", "event_id", "value")

    df.createOrReplaceTempView("pw_t")

    def run(window: String): Seq[Option[Long]] =
      graft.sqlx.SqlFrontend.run(spark, sfDir,
        s"""SELECT user_id, event_id, m OVER w AS m FROM pw_t WINDOW w AS ($window)""")
        .orderBy("event_id").collect()
        .map(r => if (r.isNullAt(2)) None else Some(r.getLong(2))).toSeq

    val core = """PARTITION BY user_id ORDER BY event_id
      MEASURES COUNT(D.*) AS m"""
    // frame-clipped navigation: PREV at the frame start reads NULL, so D
    // can never match AT the anchor — patterns lead with the undefined
    // anchor symbol A (the reference doc's own idiom)
    val define = """PATTERN (A D+) DEFINE D AS value < PREV(value)"""

    // unbounded + SKIP PAST LAST ROW (default): one match per descending
    // run, anchored at the run's PEAK row, consuming the whole run
    assert(run(s"$core $define") ==
      Seq(Some(4L), None, None, None, None, Some(2L), None, None))
    // bounded frame: D+ runs over [anchor+1, anchor+2] only; SKIP TO NEXT
    // ROW re-anchors every row
    assert(run(s"$core ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING AFTER MATCH SKIP TO NEXT ROW $define") ==
      Seq(Some(2L), Some(2L), Some(2L), Some(1L), None, Some(2L), Some(1L), None))
    // CURRENT ROW AND CURRENT ROW with a PREV-using D: the single-row
    // search space clips PREV to NULL — no row can ever match (the direct
    // pin of PREV-at-frame-start = NULL)
    assert(run(s"$core ROWS BETWEEN CURRENT ROW AND CURRENT ROW AFTER MATCH SKIP TO NEXT ROW PATTERN (D+) DEFINE D AS value < PREV(value)") ==
      Seq(None, None, None, None, None, None, None, None))
    // EMPTY matches: B* succeeds with zero variables wherever B fails at
    // the frame start — COUNT over the empty row sequence is 0, NOT NULL
    // (distinguishable from unmatched rows)
    assert(run(s"""PARTITION BY user_id ORDER BY event_id
        MEASURES COUNT(B.*) AS m
        PATTERN (B*) DEFINE B AS value < PREV(value)""") ==
      Seq.fill(8)(Some(0L)))
    // SEEK with a bare (D+): the clipped anchor position can never match,
    // so the engine always seeks a DETACHED match inside [rn+1, rn+2]
    assert(run(s"$core ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING AFTER MATCH SKIP TO NEXT ROW SEEK PATTERN (D+) DEFINE D AS value < PREV(value)") ==
      Seq(Some(2L), Some(2L), Some(2L), Some(1L), Some(1L), Some(2L), Some(1L), None))
    // AFTER MATCH SKIP TO LAST D on (A D): resume AT the matched D row —
    // every row with a descending successor anchors its own match
    assert(run(s"$core AFTER MATCH SKIP TO LAST D PATTERN (A D) DEFINE D AS value < PREV(value)") ==
      Seq(Some(1L), Some(1L), Some(1L), Some(1L), None, Some(1L), Some(1L), None))
    // vs SKIP PAST LAST ROW on (A D): stride-2 consumption
    assert(run(s"$core PATTERN (A D) DEFINE D AS value < PREV(value)") ==
      Seq(Some(1L), None, Some(1L), None, None, Some(1L), None, None))
  }

  test("row-pattern window: multi-offset navigation with parenthesized args clips at the frame") {
    import spark.implicits._
    // ADVICE r17: PREV(abs(value), 2) — a multi-offset call whose FIRST
    // argument contains parens — must classify as offset navigation and
    // route through the stateful path, whose view-bounds clipping is
    // offset-exact. The old paren-free regex missed it, leaving it on the
    // stateless path whose frame-edge variants only clip offset-1 reads.
    val vals = Seq(9.0, 8.0, 7.0, 6.0, 5.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("user_id", "event_id", "value")
    df.createOrReplaceTempView("pw_t")
    def run(pattern: String): Seq[Option[Long]] =
      graft.sqlx.SqlFrontend.run(spark, sfDir,
        s"""SELECT user_id, event_id, m OVER w AS m FROM pw_t WINDOW w AS (
            PARTITION BY user_id ORDER BY event_id
            MEASURES COUNT(D.*) AS m
            PATTERN ($pattern)
            DEFINE D AS value < PREV(abs(value), 2))""")
        .orderBy("event_id").collect()
        .map(r => if (r.isNullAt(2)) None else Some(r.getLong(2))).toSeq
    // D at view position 1 reads PREV(…, 2) BELOW the frame start → NULL →
    // never matches (the mis-routed stateless path would read the partition
    // value at i-1 and match from the second anchor on)
    assert(run("A D+") == Seq.fill(5)(None))
    // with a spacer B, D starts at view position 2 where offset-2 stays
    // in-frame: the whole descending run matches from the first anchor
    assert(run("A B D+") == Seq(Some(3L), None, None, None, None))
  }

  test("row-pattern window: multiple windows and window functions over a pattern window") {
    import spark.implicits._
    // values 9 8 7 6 5 9 4 3 (as above)
    val vals = Seq(9.0, 8.0, 7.0, 6.0, 5.0, 9.0, 4.0, 3.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("user_id", "event_id", "value")
    df.createOrReplaceTempView("pw_t")
    val out = graft.sqlx.SqlFrontend.run(spark, sfDir,
      """SELECT event_id, m OVER w1 AS m, sum(value) OVER w2 AS dsum,
                sum(value) OVER w3 AS rsum
         FROM pw_t WINDOW
         w1 AS (PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(D.*) AS m
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A D+) DEFINE D AS value < PREV(value)),
         w2 AS (PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(D.*) AS nd
           AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A D D) DEFINE D AS value < PREV(value)),
         w3 AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")
      .orderBy("event_id").collect()
    def m(i: Int): Option[Long] =
      if (out(i).isNullAt(1)) None else Some(out(i).getLong(1))
    def dsum(i: Int): Option[Double] =
      if (out(i).isNullAt(2)) None else Some(out(i).getDouble(2))
    // w1: per-anchor following-run lengths (SKIP TO NEXT ROW, A anchors)
    assert((0 until 8).map(m) ==
      Seq(Some(4L), Some(3L), Some(2L), Some(1L), None, Some(2L), Some(1L), None))
    // w2: sum(value) over an exact anchored double-descent match (3 rows) —
    // the window function evaluates over the matched rows ONLY
    // (empty frame → NULL)
    assert((0 until 8).map(dsum) == Seq(Some(9.0 + 8.0 + 7.0), Some(8.0 + 7.0 + 6.0),
      Some(7.0 + 6.0 + 5.0), None, None, Some(9.0 + 4.0 + 3.0), None, None))
    // w3 is a PLAIN window mixed into the same statement (r16): a normal
    // running sum over every row, pattern-independent
    val vals8 = Seq(9.0, 8.0, 7.0, 6.0, 5.0, 9.0, 4.0, 3.0)
    assert((0 until 8).map(i => out(i).getDouble(3)) ==
      vals8.scanLeft(0.0)(_ + _).tail)
    // unaliased duplicate window-function names fail loudly
    intercept[IllegalArgumentException] {
      graft.sqlx.SqlFrontend.run(spark, sfDir,
        """SELECT sum(value) OVER w2, sum(event_id) OVER w2 FROM pw_t WINDOW
           w1 AS (PARTITION BY user_id ORDER BY event_id MEASURES COUNT(D.*) AS a
             PATTERN (D) DEFINE D AS value > 0),
           w2 AS (PARTITION BY user_id ORDER BY event_id)""")
    }
    // a paren inside a quoted literal no longer miscounts the window-block
    // splitter's depth
    val quoted = new graft.sqlx.SqlParser(
      """SELECT m OVER w1 AS m FROM t WINDOW
         w1 AS (PARTITION BY k ORDER BY o MEASURES COUNT(D.*) AS m
           PATTERN (D) DEFINE D AS v <> '(')""").parseQuery()
    quoted match {
      case s: graft.sqlx.SqlAst.Select =>
        assert(s.windows.flatMap(_._2.rowPattern)
          .map(_.trim.endsWith("DEFINE D AS v <> '('")) == Seq(true))
      case other => fail(s"expected a SELECT, got $other")
    }
  }

  test("row-pattern window spec: CLASSIFIER and multi-symbol measures") {
    import graft.sqlx.TrinoDialect
    // D then U: anchored V-shape start; CLASSIFIER() = label of last row
    val df = TrinoDialect.sql(spark, sfDir,
      """SELECT user_id, event_id, lbl OVER w AS lbl, nu OVER w AS n_up
         FROM events
         WINDOW w AS (
           PARTITION BY user_id
           ORDER BY event_id
           MEASURES CLASSIFIER() AS lbl, COUNT(U.*) AS nu
           PATTERN (A D+ U+)
           DEFINE D AS value < PREV(value), U AS value > PREV(value))""")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val matched = rows.filter(!_.isNullAt(2))
    assert(matched.nonEmpty)
    // the last row of a D+ U+ match is always classified U, with >= 1 U rows
    assert(matched.forall(_.getString(2) == "U"))
    assert(matched.forall(_.getLong(3) >= 1L))
    // and some rows are unmatched (NULL measures)
    assert(rows.exists(_.isNullAt(2)))
  }

  test("match_recognize over events agrees with window-derived V-shapes") {
    val df = operators.Patterns.q_match_recognize(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every match: peak > bottom < recovery, ids ordered
    rows.foreach { r =>
      assert(r.getAs[Double]("peak") > r.getAs[Double]("bottom"))
      assert(r.getAs[Double]("recovery") > r.getAs[Double]("bottom"))
      assert(r.getAs[Long]("start_id") <= r.getAs[Long]("end_id"))
      assert(r.getAs[Long]("n_down") >= 1 && r.getAs[Long]("n_up") >= 1)
    }
    // matches within a user don't overlap (skip past last row)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, ms) =>
      val sorted = ms.sortBy(_.getAs[Long]("start_id"))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getAs[Long]("end_id") < b.getAs[Long]("start_id"))
        case _ =>
      }
    }
  }

  test("scanAll records empty matches; skip always advances one row past them") {
    // reference match-recognize.md "Evaluating expressions in empty matches":
    // an empty-capable pattern turns every non-matching attempt position into
    // an EMPTY match (start == end, no steps) with its own sequential number;
    // AFTER MATCH SKIP applies only to non-empty matches — after an empty one
    // the scan resumes at the next row.
    val m = new Matcher(parse("B*"), letterDefs("B"))
    val ms = m.scanAll(sym("BBxBxx"), SkipPastLastRow)
    assert(ms.map(x => (x.start, x.end)) ==
      Seq((0, 2), (2, 2), (3, 4), (4, 4), (5, 5)))
    assert(ms.filter(x => x.start == x.end).forall(_.steps.isEmpty))
    // legacy findAll = scanAll minus empties (same attempt positions)
    assert(m.findAll(sym("BBxBxx"), SkipPastLastRow) ==
      ms.filter(x => x.end > x.start))
    // SKIP TO NEXT ROW: overlap on non-empty, empty matches where B fails
    val nr = m.scanAll(sym("Bx"), SkipToNextRow)
    assert(nr.map(x => (x.start, x.end)) == Seq((0, 1), (1, 1)))
  }

  test("bounded and reluctant quantifiers, anchors, empty pattern") {
    // reference SqlBase.g4:906-925: rangeQuantifier {n}/{n,}/{,m}/{n,m},
    // reluctant '?' suffix on every quantifier, ^/$ anchors, '()' empty
    assert(parse("A{2,4}") == Quant(Sym("A"), 2, Some(4), greedy = true))
    assert(parse("A{3}") == Quant(Sym("A"), 3, Some(3), greedy = true))
    assert(parse("A{2,}?") == Quant(Sym("A"), 2, None, greedy = false))
    assert(parse("A{,2}") == Quant(Sym("A"), 0, Some(2), greedy = true))
    assert(parse("A*?") == Quant(Sym("A"), 0, None, greedy = false))
    assert(parse("^ A $") == Cat(List(StartAnchor, Sym("A"), EndAnchor)))
    assert(parse("()") == Empty)
    intercept[IllegalArgumentException](parse("A{4,2}"))
    // greedy {2,3} takes 3 when it can, 2 on the remainder
    val m = new Matcher(parse("A{2,3}"), letterDefs("A"))
    assert(m.findAll(sym("AAAAA")).map(x => (x.start, x.end)) ==
      Seq((0, 3), (3, 5)))
    // reluctant prefers FEWER: every row its own match
    val r = new Matcher(parse("A A{0,2}?"), letterDefs("A"))
    assert(r.findAll(sym("AAA")).map(x => (x.start, x.end)) ==
      Seq((0, 1), (1, 2), (2, 3)))
    // anchors bind to partition edges
    val a = new Matcher(parse("^ A"), letterDefs("A"))
    assert(a.findAll(sym("AA")).map(x => (x.start, x.end)) == Seq((0, 1)))
    val z = new Matcher(parse("A $"), letterDefs("A"))
    assert(z.findAll(sym("AA")).map(x => (x.start, x.end)) == Seq((1, 2)))
    // PATTERN (()) produces an empty match for every row (the doc's
    // canonical empty-match example)
    val em = new Matcher(parse("()"), Map.empty)
    assert(em.scanAll(sym("xx"), SkipPastLastRow).map(x => (x.start, x.end)) ==
      Seq((0, 0), (1, 1)))
  }

  test("quantified empty-capable patterns produce empty matches, not failure") {
    // reference SqlBase.g4 composes patternPrimary '()' with every
    // patternQuantifier, and match-recognize.md's empty-match rules apply:
    // a zero-width body iteration satisfies any remaining repetition count,
    // so `(){n}` and empty-capable quantified groups MATCH EMPTY instead of
    // failing (r16 divergence, ADVICE r16)
    val em = new Matcher(parse("(){2}"), Map.empty)
    assert(em.scanAll(sym("xx"), SkipPastLastRow).map(x => (x.start, x.end)) ==
      Seq((0, 0), (1, 1)))
    // greedy {1,2} over (A | ()): two As when available, one on the
    // remainder, an empty match where A fails
    val m = new Matcher(parse("(A | ()){1,2}"), letterDefs("A"))
    assert(m.scanAll(sym("AAAx"), SkipPastLastRow).map(x => (x.start, x.end)) ==
      Seq((0, 2), (2, 3), (3, 3)))
    // (A?){1,} terminates (zero-width iteration completes the quantifier)
    val q = new Matcher(parse("(A?){1,}"), letterDefs("A"))
    assert(q.scanAll(sym("Ax"), SkipPastLastRow).map(x => (x.start, x.end)) ==
      Seq((0, 1), (1, 1)))
    // non-empty-capable bounded quantifiers keep failing when under-filled
    val f = new Matcher(parse("A{2}"), letterDefs("A"))
    assert(f.scanAll(sym("Ax"), SkipPastLastRow).isEmpty)
  }

  test("exclusions are rejected with ALL ROWS PER MATCH WITH UNMATCHED ROWS") {
    // reference match-recognize.md: "exclusion syntax is not allowed" when
    // unmatched rows are reported — an excluded row would otherwise appear
    // in neither the matched nor the unmatched output
    val df = spark.range(0, 4).selectExpr("CAST(id % 2 AS LONG) AS k",
      "id AS ord", "CAST(id AS DOUBLE) AS v")
    val e = intercept[IllegalArgumentException] {
      graft.plans.MatchRecognize.annotateMatchesWith(
        df, Seq("k"), Seq("ord"), "{- A -} B",
        Map.empty[String, RowPattern.TracePredicate],
        RowPattern.SkipPastLastRow,
        graft.plans.MatchRecognize.AllWithUnmatched)
    }
    assert(e.getMessage.contains("WITH UNMATCHED ROWS"))
  }

  test("SKIP TO <var> never raises on an empty match") {
    // pattern (B C)* is empty-capable; the SkipToVar resume rule fires only
    // on the non-empty match — empty matches advance one row silently
    // instead of raising "variable mapped no rows"
    val m = new Matcher(parse("(B C)*"), letterDefs("BC"))
    val ms = m.scanAll(sym("BCx"), SkipToVar(Set("C"), first = false, "LAST C"))
    assert(ms.map(x => (x.start, x.end)) == Seq((0, 2), (1, 1), (2, 2)))
  }
}
