package graft.plans

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** MATCH_RECOGNIZE as a DataFrame operator (SURVEY.md §2.5 — the "hardest
  * custom item"; reference plan node core/trino-main/src/main/java/io/trino/
  * sql/planner/plan/PatternRecognitionNode.java, execution
  * operator/window/matcher/Matcher.java:28).
  *
  * Physical shape — the secondary-sort pattern, not a per-group collect:
  * repartition by the partition key, sortWithinPartitions by (key, order),
  * then a single streaming pass detects group boundaries and buffers ONE
  * partition's rows at a time for the backtracking matcher. Spark's external
  * sorter handles the sort (spilling if needed), so executor memory bounds the
  * largest single pattern partition — the same contract as the reference,
  * whose WindowOperator buffers one partition in its PagesIndex
  * (reference: core/trino-main/src/main/java/io/trino/operator/PagesIndex.java:80).
  * At 100 TB with per-user partitions this is one shuffle, the minimum for any
  * order-sensitive per-key computation.
  *
  * Semantics implemented: ONE ROW PER MATCH, AFTER MATCH SKIP PAST LAST ROW
  * (or SKIP TO NEXT ROW), greedy quantifiers, alternation, DEFINE predicates
  * with full PREV/NEXT row access, measures over the match trace.
  */
object MatchRecognize {

  /** ROWS PER MATCH output modes (reference grammar SqlBase.g4:467-476
    * `emptyMatchHandling`; semantics docs/src/main/sphinx/sql/
    * match-recognize.md "Rows per match"):
    *  - OneRow: one output row per match, INCLUDING empty matches (based on
    *    their starting rows); unmatched rows are never output.
    *  - AllShowEmpty (the ALL ROWS default): every matched row, plus ONE row
    *    per empty match carrying the starting row's input values with NULL
    *    classifier; unmatched rows skipped.
    *  - AllOmitEmpty: empty matches produce no output but still consume
    *    sequential match numbers.
    *  - AllWithUnmatched: AllShowEmpty plus one row per unmatched row (a row
    *    in no non-empty match and starting no empty match) with NULL
    *    match_number and NULL classifier. */
  sealed trait RowsPerMatch
  case object OneRow extends RowsPerMatch
  case object AllShowEmpty extends RowsPerMatch
  case object AllOmitEmpty extends RowsPerMatch
  case object AllWithUnmatched extends RowsPerMatch

  /** An output measure: name, Spark type, and evaluator over (partition rows,
    * match). Mirrors the reference's measure expressions (FIRST/LAST/
    * CLASSIFIER/count over the match). */
  final case class Measure(name: String, dataType: DataType,
      eval: (IndexedSeq[Row], RowPattern.PatternMatch) => Any)

  /** The rows of a stream sorted by partition key, grouped by equal key
    * (columns `keyIdx`, of any type; a NULL key is a group of its own), one
    * group buffered at a time — the loop under every pattern operator. */
  private[graft] def keyGroups(rows: Iterator[Row], keyIdx: Seq[Int]): Iterator[IndexedSeq[Row]] = {
    val keyOf: Row => Any = keyIdx match {
      case Seq(k) => _.get(k)
      case ks => r => ks.map(r.get)
    }
    val buf = rows.buffered
    new Iterator[IndexedSeq[Row]] {
      def hasNext: Boolean = buf.hasNext
      def next(): IndexedSeq[Row] = {
        val key = keyOf(buf.head)
        val group = scala.collection.mutable.ArrayBuffer[Row]()
        while (buf.hasNext && keyOf(buf.head) == key) group += buf.next()
        group.toIndexedSeq
      }
    }
  }

  /** Secondary-sort group runner for the single-key operators: one
    * exchange on `partitionCol`, a sort by (key, order) within partitions,
    * then `handle(groupRows)` per key group. */
  private def perGroup(
      df: DataFrame, partitionCol: String, orderCol: String,
      outSchema: StructType)(
      handle: IndexedSeq[Row] => Seq[Row]): DataFrame = {
    val keyIdx = Seq(df.schema.fieldIndex(partitionCol))
    val n = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(n, col(partitionCol))
      .sortWithinPartitions(col(partitionCol), col(orderCol))
      .mapPartitions(keyGroups(_, keyIdx).flatMap(handle))(Encoders.row(outSchema))
  }

  /** One row per match, keyed by `partitionCol`; `orderCol` orders rows
    * within a partition (total order recommended). */
  def oneRowPerMatch(
      df: DataFrame,
      partitionCol: String,
      orderCol: String,
      pattern: String,
      define: Map[String, RowPattern.Predicate],
      measures: Seq[Measure],
      skipPastLastRow: Boolean = true): DataFrame = {

    val matcher = new RowPattern.Matcher(RowPattern.parse(pattern), RowPattern.liftAll(define))
    val keyIdx = df.schema.fieldIndex(partitionCol)
    val outSchema = StructType(df.schema(keyIdx) +:
      measures.map(m => StructField(m.name, m.dataType)))
    perGroup(df, partitionCol, orderCol, outSchema) { part =>
      val key = part.head.get(keyIdx)
      matcher.findAll(part, skipPastLastRow).map { m =>
        Row.fromSeq(key +: measures.map(_.eval(part, m)))
      }
    }
  }

  /** General match annotator — the SQL-surface workhorse: multi-column
    * partition/order keys of ANY data type, DEFINE conditions precomputed as
    * boolean columns, every matched row emitted with MATCH_NUMBER() and
    * CLASSIFIER().
    *
    * Division of labor (Spark-first): Catalyst evaluates the DEFINE
    * expressions — including PREV/NEXT navigation as codegen'd lag/lead
    * window functions — into `defineCols` BEFORE matching, because a DEFINE
    * condition over current-row values and physical navigation is constant
    * per row regardless of match state. The matcher here contributes only
    * what Catalyst cannot express: the NFA walk over each partition's
    * ordered row sequence. Measures are then arbitrary Catalyst window
    * expressions over (partition key, match_number) — see
    * graft.sqlx.MatchRecognizeSql.
    *
    * Physical shape: the internal row_number() window forces exactly ONE
    * hash exchange on `partitionCols` + one sort by (partition, order) — and
    * when the caller already computed `defineCols` via a window over the same
    * spec, EnsureRequirements reuses that exchange, so the whole
    * annotate-and-match pipeline costs a single shuffle. The matcher then
    * streams the sorted partitions, buffering one key group at a time
    * (same contract as the reference's PagesIndex buffering —
    * reference: core/trino-main/src/main/java/io/trino/operator/PagesIndex.java:80).
    */
  def annotateMatches(
      df: DataFrame,
      partitionCols: Seq[String],
      orderCols: Seq[String],
      pattern: String,
      defineCols: Map[String, String],
      skipPastLastRow: Boolean = true): DataFrame =
    annotateMatchesWith(df, partitionCols, orderCols, pattern,
      RowPattern.liftAll(boolColumnPredicates(df.schema, defineCols)), skipPastLastRow)

  /** DEFINE symbols from precomputed boolean columns — the fast path for
    * match-state-independent conditions (Catalyst evaluates them once per
    * row, codegen'd, before the NFA walk). */
  def boolColumnPredicates(
      schema: StructType, defineCols: Map[String, String]): Map[String, RowPattern.Predicate] =
    defineCols.map { case (sym, c) =>
      val i = schema.fieldIndex(c)
      require(schema(i).dataType == org.apache.spark.sql.types.BooleanType,
        s"DEFINE column '$c' for symbol '$sym' must be BOOLEAN, got ${schema(i).dataType.simpleString}")
      sym -> ((p: IndexedSeq[Row], r: Int) => !p(r).isNullAt(i) && p(r).getBoolean(i))
    }

  /** As `annotateMatches`, but DEFINE symbols are arbitrary trace-aware
    * predicates — the full reference DEFINE semantics where a condition may
    * navigate rows already mapped in the current partial match
    * (LAST(A.x), COUNT(B.*); reference operator/window/matcher/Matcher.java
    * evaluates labels against the partial ArrayView of previous labels). */
  def annotateMatchesWith(
      df: DataFrame,
      partitionCols: Seq[String],
      orderCols: Seq[String],
      pattern: String,
      define: Map[String, RowPattern.TracePredicate],
      skipPastLastRow: Boolean = true): DataFrame =
    annotateMatchesWith(df, partitionCols, orderCols, pattern, define,
      if (skipPastLastRow) RowPattern.SkipPastLastRow else RowPattern.SkipToNextRow)

  /** Full skip-mode variant (SKIP TO [FIRST|LAST] var included), non-empty
    * matches only (legacy numbering over the non-empty match list). */
  def annotateMatchesWith(
      df: DataFrame,
      partitionCols: Seq[String],
      orderCols: Seq[String],
      pattern: String,
      define: Map[String, RowPattern.TracePredicate],
      skip: RowPattern.SkipMode): DataFrame =
    annotateMatchesWith(df, partitionCols, orderCols, pattern, define, skip, AllOmitEmpty)

  /** Full surface: skip mode + ROWS PER MATCH handling of empty matches and
    * unmatched rows (reference match-recognize.md "Evaluating expressions in
    * empty matches and unmatched rows"). Emission per ordered key group:
    *  - non-empty match rows: input columns + match_number + classifier;
    *  - empty matches (all modes except AllOmitEmpty): ONE row — the starting
    *    row's input columns + match_number + NULL classifier. OMITted empty
    *    matches still consume a match number (numbering is over scanAll's
    *    full match stream, empty included);
    *  - unmatched rows (AllWithUnmatched only): the row's input columns +
    *    NULL match_number + NULL classifier. A row is unmatched when it is
    *    in no non-empty match (via its full step trace, exclusion rows
    *    included) and starts no empty match. */
  def annotateMatchesWith(
      df: DataFrame,
      partitionCols: Seq[String],
      orderCols: Seq[String],
      pattern: String,
      define: Map[String, RowPattern.TracePredicate],
      skip: RowPattern.SkipMode,
      rowsPerMatch: RowsPerMatch): DataFrame = {

    require(partitionCols.nonEmpty, "MATCH_RECOGNIZE requires PARTITION BY")
    require(orderCols.nonEmpty, "MATCH_RECOGNIZE requires ORDER BY")
    val schema = df.schema
    val parsed = RowPattern.parse(pattern)
    // reference match-recognize.md "Row pattern syntax": exclusion syntax
    // {- -} is not allowed with ALL ROWS PER MATCH WITH UNMATCHED ROWS —
    // an excluded row would appear in neither the matched nor the unmatched
    // output, silently dropping it
    if (rowsPerMatch == AllWithUnmatched && RowPattern.containsExclusion(parsed))
      throw new IllegalArgumentException(
        "pattern exclusions {- -} are not allowed with ALL ROWS PER MATCH WITH UNMATCHED ROWS")
    val matcher = new RowPattern.Matcher(parsed, define)
    val keyIdx = partitionCols.map(schema.fieldIndex)
    val inWidth = schema.length
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("match_number", LongType, nullable = true),
      StructField("classifier", StringType, nullable = true)))
    // row_number() pins the physical contract: hash-partitioned by the keys,
    // sorted by (keys, order) within partitions — reused, not re-shuffled,
    // when the input already carries a window over the same spec.
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
    df.withColumn("__mr_rn", row_number().over(w))
      .mapPartitions(keyGroups(_, keyIdx).flatMap { part =>
        def emit(r: Row, mn: Any, cls: Any): Row =
          Row.fromSeq((0 until inWidth).map(r.get) ++ Seq(mn, cls))
        val matches = matcher.scanAll(part, skip)
        val matched = matches.zipWithIndex.flatMap { case (m, mi) =>
          val mn = (mi + 1).toLong
          if (m.end > m.start)
            m.visibleSteps.map { case (sym, idx) => emit(part(idx), mn, sym) }
          else if (rowsPerMatch != AllOmitEmpty)
            Seq(emit(part(m.start), mn, null))
          else Seq.empty
        }
        if (rowsPerMatch != AllWithUnmatched) matched
        else {
          val covered = new java.util.BitSet(part.length)
          matches.foreach { m =>
            if (m.end > m.start) m.steps.foreach { case (_, i) => covered.set(i) }
            else covered.set(m.start)
          }
          matched ++ part.indices.filterNot(covered.get).map(i =>
            emit(part(i), null, null))
        }
      })(Encoders.row(outSchema))
  }

  /** ALL ROWS PER MATCH: every row of every match, annotated with
    * MATCH_NUMBER() (1-based per partition, in match order) and CLASSIFIER()
    * (the DEFINE symbol that matched the row) — the reference's per-row
    * output mode (reference: sql/planner/plan/PatternRecognitionNode.java
    * RowsPerMatch.ALL_SHOW_EMPTY family; matcher trace
    * operator/window/matcher/Matcher.java:28). `includeCols` are passed
    * through from the input row. */
  def allRowsPerMatch(
      df: DataFrame,
      partitionCol: String,
      orderCol: String,
      pattern: String,
      define: Map[String, RowPattern.Predicate],
      includeCols: Seq[String],
      skipPastLastRow: Boolean = true): DataFrame = {

    val matcher = new RowPattern.Matcher(RowPattern.parse(pattern), RowPattern.liftAll(define))
    val keyIdx = df.schema.fieldIndex(partitionCol)
    val includeIdx = includeCols.map(df.schema.fieldIndex)
    val outSchema = StructType(
      (df.schema(keyIdx) +: includeCols.map(c => df.schema(c))) ++
        Seq(StructField("match_number", LongType, nullable = false),
          StructField("classifier", StringType, nullable = false)))
    perGroup(df, partitionCol, orderCol, outSchema) { part =>
      val key = part.head.get(keyIdx)
      matcher.findAll(part, skipPastLastRow).zipWithIndex.flatMap { case (m, mi) =>
        m.visibleSteps.map { case (sym, idx) =>
          val r = part(idx)
          Row.fromSeq((key +: includeIdx.map(r.get)) ++ Seq((mi + 1).toLong, sym))
        }
      }
    }
  }
}
