package graft.sqlx

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSeq, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.types._

import graft.plans.RowPattern
import MatchRecognizeSql.{Call, nodes}
import SqlAst._

/** Match-state-dependent DEFINE conditions and row-pattern window measures
  * (SURVEY.md §2.5; reference sql/analyzer/PatternRecognitionAnalysis.java +
  * operator/window/matcher/Matcher.java — DEFINE may navigate rows already
  * mapped in the current partial match: `B AS price < LAST(A.price)`,
  * `COUNT(B.*) <= 3`, `FIRST(A.x, 1)` occurrence offsets).
  *
  * Division of labor, Spark-first: Catalyst still evaluates the SCALAR
  * expression — one walk over the expression tree replaces each navigation
  * term with a placeholder column, and the result is rendered, analyzed and
  * bound by Catalyst against (input columns ++ placeholders). At match time
  * the NFA resolves each navigation term from the partial-match trace and
  * hands Catalyst an InternalRow; the bound expression evaluates
  * interpreted. State-INdependent conditions never come here —
  * MatchRecognizeSql lowers them to codegen'd boolean columns, which is the
  * hot path. A condition that needs match state is inherently
  * per-(row × match-attempt) work; the reference evaluates these per
  * label-assignment the same way.
  *
  * Navigation semantics (RUNNING, as the reference's DEFINE evaluation):
  * the candidate row is tentatively mapped to the symbol being defined, so
  * `LAST(S.x)` inside S's own DEFINE sees the current row, `COUNT(S.*)`
  * counts it, CLASSIFIER() is S, and `LAST(A.x)` sees the most recent row
  * labeled A. SUM/MIN/MAX/AVG aggregate as DOUBLE over the matched-so-far
  * rows (documented widening). PREV/NEXT stay physical from the candidate
  * row. Window measures take the same walk without a self symbol and
  * evaluate FINAL over a completed match, at its last row.
  */
private[graft] object DefineEval {

  sealed trait Nav extends Serializable {
    def dataType: DataType
    def nullable: Boolean = true
  }
  /** PREV/NEXT: physical navigation from the current row. */
  final case class PhysNav(colIdx: Int, dataType: DataType, offset: Int, prev: Boolean) extends Nav
  /** PREV/NEXT over an arbitrary scalar EXPRESSION argument — the reference's
    * navigation functions take any row expression (`PREV(abs(x), 2)`); the
    * bound expression evaluates against the NAVIGATED row, NULL outside the
    * search space (ADVICE r17: such calls must not silently read the
    * partition where the frame clips). */
  final case class ExprPhysNav(bound: Expression, dataType: DataType,
      offset: Int, prev: Boolean) extends Nav {
    @transient lazy val toScala: Any => Any =
      CatalystTypeConverters.createToScalaConverter(dataType)
  }
  /** FIRST/LAST over rows mapped to `symbols` (None = the universal row
    * pattern variable: every row of the match so far). `occurrence` is the
    * reference's 0-based navigation offset (LAST(A.x, 1) = one before last). */
  final case class LogNav(symbols: Option[Set[String]], colIdx: Int, dataType: DataType,
      occurrence: Int, last: Boolean) extends Nav
  /** COUNT(A.*) / COUNT(*) over the match so far. */
  final case class CountNav(symbols: Option[Set[String]]) extends Nav {
    def dataType: DataType = LongType
    override def nullable: Boolean = false
  }
  /** SUM/MIN/MAX/AVG over rows mapped to `symbols`, as DOUBLE. */
  final case class AggNav(kind: String, symbols: Option[Set[String]], colIdx: Int) extends Nav {
    def dataType: DataType = DoubleType
  }
  /** CLASSIFIER(): the label of the most recent row of the trace. */
  final case class ClassifierNav() extends Nav {
    def dataType: DataType = StringType
  }

  private val stateFns = Set("FIRST", "LAST", "COUNT", "SUM", "MIN", "MAX", "AVG")

  /** Does this DEFINE condition need match state (trace-aware evaluation)? */
  def isStateful(cond: Expr, selfSym: String, syms: Set[String]): Boolean =
    nodes(cond).exists {
      case Call(fn, _) => stateFns(fn)
      case e => MatchRecognizeSql.qualified(e, syms).exists(!_._1.equalsIgnoreCase(selfSym))
    }

  private def fail(what: String): Nothing =
    throw new IllegalArgumentException(s"MATCH_RECOGNIZE DEFINE: $what")

  /** Compile a state-dependent DEFINE condition into a trace-aware
    * predicate over rows of `schema` (the dataframe fed to the matcher). */
  def define(spark: SparkSession, schema: StructType, cond: Expr, selfSym: String,
      syms: Set[String], subsets: Map[String, Seq[String]]): RowPattern.TracePredicate = {
    val c = compile(spark, schema, cond, Some(selfSym), syms, subsets)
    require(c.dataType == BooleanType, s"DEFINE condition must be BOOLEAN, got " +
      s"${c.dataType.simpleString}: ${SqlFrontend.renderExpr(cond)}")
    // RUNNING semantics: the candidate row is tentatively mapped to the
    // symbol being defined before navigation resolves
    (part, i, trace) => c.internal(part, (selfSym, i) :: trace, i) == true
  }

  /** Compile a window MEASURES expression into a FINAL-semantics evaluator
    * over (partition rows, complete match trace most-recent-first, last row
    * index): plain column references and PREV/NEXT evaluate at the match's
    * LAST row (where ONE ROW PER MATCH measures evaluate too). */
  def measure(spark: SparkSession, schema: StructType, e: Expr,
      syms: Set[String], subsets: Map[String, Seq[String]]): CompiledExpr =
    compile(spark, schema, e, None, syms, subsets)

  /** Analyze `e` against `attrs` and bind it to their ordinals. */
  private def bind(spark: SparkSession, e: Expr,
      attrs: IndexedSeq[AttributeReference]): Expression = {
    val parsed = spark.sessionState.sqlParser.parseExpression(SqlFrontend.renderExpr(e))
    val analyzed = spark.sessionState.analyzer.executeAndCheck(
      Project(Seq(Alias(parsed, "__e")()), LocalRelation(attrs)),
      new QueryPlanningTracker())
    val resolved = analyzed.asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
    BindReferences.bindReference(resolved, AttributeSeq(attrs))
  }

  /** The one navigation walk: each navigation term of `e` becomes a
    * placeholder column `__navN`. `selfSym` is the symbol being defined
    * (None for a window measure): refs qualified with it are current-row
    * columns, and PREV/NEXT may be qualified with it only. */
  private def compile(spark: SparkSession, schema: StructType, e: Expr,
      selfSym: Option[String], syms: Set[String],
      subsets: Map[String, Seq[String]]): CompiledExpr = {
    val context = SqlFrontend.renderExpr(e)
    def unknownColumn(name: String): Nothing = fail(s"unknown column '$name' in " +
      s"'$context' (navigation arguments must be plain or symbol-qualified columns)")
    def colIdx(name: String): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      if (i < 0) unknownColumn(name)
      i
    }
    def isSelf(q: String): Boolean = selfSym.exists(_.equalsIgnoreCase(q))
    def canonical(s: String): Option[String] = syms.find(_.equalsIgnoreCase(s))
    def members(s: String): Set[String] =
      subsets.collectFirst { case (k, v) if k.equalsIgnoreCase(s) => v.toSet }
        .getOrElse(Set(canonical(s).getOrElse(fail(s"unknown pattern variable '$s'"))))
    def selfToCurrent(x: Expr): Expr = SqlFrontend.mapChildren(x, selfToCurrent) match {
      case Id(Seq((q, _), c)) if isSelf(q) => Id(Seq(c))
      case other => other
    }
    val attrs = schema.fields.map(f => AttributeReference(f.name, f.dataType, f.nullable)()).toIndexedSeq

    val navs = scala.collection.mutable.ArrayBuffer[Nav]()
    def ph(n: Nav): Expr = { navs += n; Id(Seq((s"__nav${navs.length - 1}", false))) }
    /** `A.price` → (Some(A), its index); `price` → (None, its index). */
    def navTarget(arg: Expr): (Option[String], Int) = arg match {
      case Id(Seq((q, _), (c, _))) if canonical(q).isDefined => (Some(q), colIdx(c))
      case Id(Seq((q, _), _)) => fail(s"unknown pattern variable '$q' in '$context'")
      case Id(Seq((c, _))) => (None, colIdx(c))
      case other => unknownColumn(SqlFrontend.renderExpr(other))
    }
    def offset(args: Seq[Expr], default: Int): Int = args match {
      case Seq(_) => default
      case Seq(_, Lit(n)) if n.nonEmpty && n.forall(_.isDigit) => n.toInt
      case _ => fail(s"navigation offset must be an integer literal in '$context'")
    }
    def go(x: Expr): Expr = x match {
      case Call(fn @ ("PREV" | "NEXT"), args @ (target +: _)) =>
        val off = offset(args, 1)
        target match {
          case Id(parts) if parts.length <= 2 =>
            val (symOpt, ci) = navTarget(target)
            if (selfSym.isDefined) symOpt.filterNot(isSelf).foreach(s => fail(
              s"PREV/NEXT are physical navigation — qualify with the defined symbol or none, got '$s'"))
            ph(PhysNav(ci, schema(ci).dataType, off, fn == "PREV"))
          case _ =>
            if (nodes(target).exists {
                case Call(n, _) => stateFns(n) || Set("PREV", "NEXT", "CLASSIFIER")(n)
                case _ => false
              })
              fail("nested navigation/aggregates inside a PREV/NEXT argument are " +
                s"not supported: '${SqlFrontend.renderExpr(target)}' in '$context'")
            val bound = bind(spark, selfToCurrent(target), attrs)
            ph(ExprPhysNav(bound, bound.dataType, off, fn == "PREV"))
        }
      case Call(fn @ ("FIRST" | "LAST"), args @ (target +: _)) =>
        val (symOpt, ci) = navTarget(target)
        ph(LogNav(symOpt.map(members), ci, schema(ci).dataType, offset(args, 0), fn == "LAST"))
      case Call("COUNT", Seq(Star(None))) => ph(CountNav(None))
      case Call("COUNT", Seq(Star(Some(s)))) => ph(CountNav(Some(members(s))))
      case Call("COUNT", _) => fail(s"COUNT takes * or Sym.*, in '$context'")
      case Call(agg @ ("SUM" | "MIN" | "MAX" | "AVG"), Seq(arg)) =>
        val (symOpt, ci) = navTarget(arg)
        ph(AggNav(agg.toLowerCase, symOpt.map(members), ci))
      case Call("CLASSIFIER", Nil) => ph(ClassifierNav())
      // Self.col = current row; A.col = LAST(A.col)
      case Id(Seq((q, _), c)) if isSelf(q) => Id(Seq(c))
      case Id(Seq((q, _), (c, _))) if canonical(q).isDefined =>
        val ci = colIdx(c)
        ph(LogNav(Some(members(q)), ci, schema(ci).dataType, 0, last = true))
      case other => SqlFrontend.mapChildren(other, go)
    }

    val rewritten = go(e)
    val bound = bind(spark, rewritten, attrs ++ navs.zipWithIndex.map { case (nv, i) =>
      AttributeReference(s"__nav$i", nv.dataType, nv.nullable)()
    })
    new CompiledExpr(bound, schema, navs.toArray)
  }
}

/** A DEFINE condition or window measure bound by Catalyst over (input
  * columns ++ navigation placeholders). `i` is the current row (a DEFINE's
  * candidate, a measure's last matched row), or -1 for an EMPTY match:
  * field references then see NULL ("all column references return null" —
  * pattern-recognition-in-window.md empty-match rules), navigation finds
  * nothing in the empty trace, CountNav yields 0, and constant measures
  * still evaluate — the documented way to tell an empty match ('matched')
  * from an unmatched row (all-NULL output, produced by the caller without
  * evaluating). Serializable carrier: converters are rebuilt lazily on the
  * executor (DataTypes serialize; converter closures need not). */
private[sqlx] final class CompiledExpr(
    bound: Expression, schema: StructType, navs: Array[DefineEval.Nav])
    extends Serializable {
  import DefineEval._

  def dataType: DataType = bound.dataType

  private val nFields = schema.length
  @transient private lazy val fieldConv: Array[Any => Any] =
    schema.fields.map(f => CatalystTypeConverters.createToCatalystConverter(f.dataType))
  @transient private lazy val navConv: Array[Any => Any] =
    navs.map(nv => CatalystTypeConverters.createToCatalystConverter(nv.dataType))
  @transient private lazy val outConv: Any => Any =
    CatalystTypeConverters.createToScalaConverter(bound.dataType)

  /** The value as an external (Row) value. */
  def eval(part: IndexedSeq[Row], trace: List[(String, Int)], i: Int): Any =
    outConv(internal(part, trace, i))

  /** The value as Catalyst's internal value; `trace` is most-recent-first. */
  def internal(part: IndexedSeq[Row], trace: List[(String, Int)], i: Int): Any = {
    val values = new Array[Any](nFields + navs.length)
    if (i >= 0) {
      val row = part(i)
      var j = 0
      while (j < nFields) { values(j) = fieldConv(j)(row.get(j)); j += 1 }
    }
    var k = 0
    while (k < navs.length) {
      val v = resolve(navs(k), part, i, trace)
      values(nFields + k) = if (v == null) null else navConv(k)(v)
      k += 1
    }
    bound.eval(InternalRow.fromSeq(values.toIndexedSeq))
  }

  private def sees(symbols: Option[Set[String]], e: (String, Int)): Boolean =
    symbols.forall(_.contains(e._1))

  private def resolve(nv: Nav, part: IndexedSeq[Row], i: Int,
      trace: List[(String, Int)]): Any = nv match {
    case ClassifierNav() => trace.headOption.map(_._1).orNull
    case PhysNav(c, _, off, prev) =>
      val p = if (prev) i - off else i + off
      if (i < 0 || p < 0 || p >= part.length) null else part(p).get(c)
    case e: ExprPhysNav =>
      val p = if (e.prev) i - e.offset else i + e.offset
      if (i < 0 || p < 0 || p >= part.length) null
      else {
        val r = part(p)
        val vals = new Array[Any](nFields)
        var j = 0
        while (j < nFields) { vals(j) = fieldConv(j)(r.get(j)); j += 1 }
        e.toScala(e.bound.eval(InternalRow.fromSeq(vals.toIndexedSeq)))
      }
    case LogNav(symbols, c, _, occ, last) =>
      // the trace is most-recent-first: LAST walks forward, FIRST from the tail
      val hits = trace.iterator.filter(sees(symbols, _)).map(_._2).toIndexedSeq
      val ordered = if (last) hits else hits.reverse
      if (occ < ordered.length) part(ordered(occ)).get(c) else null
    case CountNav(symbols) => trace.count(sees(symbols, _)).toLong
    case AggNav(kind, symbols, c) =>
      val vals = trace.iterator.filter(sees(symbols, _)).map(e => part(e._2).get(c))
        .filter(_ != null).map(_.asInstanceOf[Number].doubleValue()).toSeq
      if (vals.isEmpty) null
      else kind match {
        case "sum" => vals.sum
        case "min" => vals.min
        case "max" => vals.max
        case "avg" => vals.sum / vals.length
      }
  }
}
