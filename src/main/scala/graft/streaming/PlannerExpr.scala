package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils, StringUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The planner's one expression evaluator: a parsed view expression
  * becomes a closure over the change's field environment
  * (`Map[String,String]`, the Change wire contract), evaluated by Spark.
  *
  * [[compile]] translates the expression into Catalyst over one
  * `StringType` attribute per referenced field, wrapping each operand in
  * the planner's value contract ([[Coerce]], [[Compare]]); Spark's
  * analyzer resolves it (function bodies are Spark's own), and the bound
  * result runs through Catalyst's interpreted `eval`. Analysis runs with
  * ANSI off and a UTC session zone, so arithmetic and casts answer NULL
  * instead of throwing and datetimes read in UTC whatever the session
  * says. Values come back as `Option[Any]` (None = SQL NULL) and render
  * with `String.valueOf`.
  */
private[streaming] object PlannerExpr {
  type Env  = Map[String, String]
  type Eval = Env => Option[Any]

  /** Numeric coercion for stringly payloads. Non-finite values (a "NaN"
    * or "Infinity" string, a NaN upstream) are rejected as NULL: a
    * non-finite value entering signed-delta aggregate state could never
    * be retracted (Inf − Inf = NaN), so one malformed row would poison
    * its group's running totals permanently — the same
    * malformed-operand-filters-the-row stance as [[asBool]].
    */
  def asNum(v: Any): Option[Double] = (v match {
    case d: Double  => Some(d)
    case l: Long    => Some(l.toDouble)
    case i: Int     => Some(i.toDouble)
    case f: Float   => Some(f.toDouble)
    case s: String  => s.toDoubleOption
    case _          => None
  }).filter(d => !d.isNaN && !d.isInfinite)

  /** Boolean coercion for logical operators: true booleans pass, the
    * strings "true"/"false" parse (stringly payloads), anything else is
    * NULL — a malformed predicate operand filters the row instead of
    * throwing in the executor.
    */
  def asBool(v: Any): Option[Boolean] = v match {
    case b: Boolean => Some(b)
    case s: String  => s.toBooleanOption
    case _          => None
  }

  /** Numeric when both sides parse as numbers, else lexicographic. */
  def cmpVals(a: Any, b: Any): Int = (asNum(a), asNum(b)) match {
    case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
    case _                  => a.toString.compareTo(b.toString)
  }

  def litValue(v: Any): Option[Any] = v match {
    case null            => None
    case u: UTF8String   => Some(u.toString)
    case d: Decimal      => Some(d.toDouble)
    case n: java.lang.Number => Some(n.doubleValue)
    case b: Boolean      => Some(b)
    case other           => Some(other.toString)
  }

  /** A Catalyst value as the planner sees it: strings as `String`, string
    * arrays (a generator's `split`) as `Seq[String]`.
    */
  def scalaOf(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case a: ArrayData  => a.toArray[UTF8String](StringType).toSeq.map(String.valueOf(_))
    case other         => other
  }

  def unsupported(what: String): IllegalArgumentException =
    new IllegalArgumentException(s"IncrementalPlanner does not compile $what")

  /** The accepted functions. Each argument enters Spark through the value
    * contract named by its letter: `s` rendered as a string, `n` a
    * number, `i` an integer position, `t` a datetime, `b` a boolean, `v`
    * as it is. A trailing `*` repeats the last letter; otherwise the
    * function takes between `min` and all of its letters.
    */
  private val Vocabulary: Map[String, (String, Int)] = {
    def all(names: String*)(sig: String, min: Int) = names.map(_ -> (sig, min))
    (all("upper", "lower", "trim", "ltrim", "rtrim", "reverse", "initcap", "md5", "length")("s", 1) ++
      all("concat", "greatest", "least")("s*", 0) ++ all("coalesce")("v*", 0) ++
      all("substring", "substr")("sii", 2) ++ all("repeat", "left", "right")("si", 2) ++
      all("lpad", "rpad")("sis", 2) ++ all("replace")("sss", 2) ++ all("split_part")("ssi", 3) ++
      all("instr", "position", "startswith", "endswith", "contains")("ss", 2) ++
      all("abs", "floor", "ceil", "ceiling")("n", 1) ++ all("round")("ni", 1) ++ all("pmod")("nn", 2) ++
      all("year", "month", "day", "dayofmonth", "hour", "minute", "second", "dayofweek", "to_date")("t", 1) ++
      all("datediff")("tt", 2) ++ all("date_trunc")("st", 2) ++ all("if")("bvv", 3) ++
      all("nullif")("vv", 2)).toMap
  }

  /** `split(str, regex)`: accepted only as a generator's array argument. */
  private val Generator = Map("split" -> ("ss", 2))

  private val ArithOps = Set("+", "-", "*", "/", "%")

  /** Compile `e` against the change environment. Unsupported syntax and
    * unlisted functions are refused here, on the driver, never at run
    * time. `generator` also accepts `split`.
    */
  def compile(e: Expression, generator: Boolean = false): Eval = {
    val spark = SparkSession.active
    val conf  = spark.sessionState.conf.clone()
    conf.setConf(SQLConf.ANSI_ENABLED, false)
    conf.setConf(SQLConf.SESSION_LOCAL_TIMEZONE, "UTC")
    SQLConf.withExistingConf(conf) {
      val fields = scala.collection.mutable.LinkedHashMap.empty[String, (String, AttributeReference)]
      val tree = new Translator(if (generator) Vocabulary ++ Generator else Vocabulary, { a =>
        val q = a.nameParts.mkString(".")
        fields.getOrElseUpdate(q, (a.nameParts.last, AttributeReference(q, StringType)()))._2
      }).apply(e)
      val attrs = fields.values.map(_._2).toSeq
      val resolved = try {
        val qe = spark.sessionState.executePlan(Project(Seq(Alias(tree, "v")()), LocalRelation(attrs)))
        qe.assertAnalyzed()
        ReplaceExpressions(qe.analyzed).asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
      } catch {
        case ae: AnalysisException => throw unsupported(s"expression ${e.sql}: ${ae.getMessage}")
      }
      val bound     = BindReferences.bindReference(resolved, attrs)
      val qualified = fields.keys.toArray
      val bare      = fields.values.map(_._1).toArray
      env => {
        val row = new GenericInternalRow(qualified.length)
        var i = 0
        while (i < qualified.length) {
          env.get(qualified(i)).orElse(env.get(bare(i))).foreach(v => row.update(i, UTF8String.fromString(v)))
          i += 1
        }
        Option(bound.eval(row)).map(scalaOf)
      }
    }
  }

  /** Parsed expression → Catalyst under the value contract. */
  private final class Translator(vocabulary: Map[String, (String, Int)],
      field: UnresolvedAttribute => Expression) {
    private def str(e: Expression)  = Coerce(apply(e), StringType)
    private def num(e: Expression)  = Coerce(apply(e), DoubleType)
    private def bool(e: Expression) = Coerce(apply(e), BooleanType)
    private def call(name: String, args: Expression*) = UnresolvedFunction(name, args, isDistinct = false)

    def apply(e: Expression): Expression = e match {
      case a: UnresolvedAttribute => field(a)
      case l: Literal             => litValue(l.value).fold[Expression](Literal(null))(Literal(_))
      case Alias(c, _)            => apply(c)
      // a numeric CAST is the contract's number parse; any other renders
      case c: Cast => Coerce(apply(c.child), if (c.dataType.isInstanceOf[NumericType]) DoubleType else StringType)
      case And(l, r)              => And(bool(l), bool(r))
      case Or(l, r)               => Or(bool(l), bool(r))
      case Not(c)                 => Not(bool(c))
      case c: BinaryComparison    => Compare(apply(c.left), apply(c.right), c.symbol)
      case In(v, list)            => val tv = apply(v); list.map(c => Compare(tv, apply(c), "=")).reduce(Or)
      case IsNull(c)              => IsNull(apply(c))
      case IsNotNull(c)           => IsNotNull(apply(c))
      case CaseWhen(branches, elseValue) =>
        CaseWhen(branches.map { case (c, v) => (bool(c), apply(v)) }, elseValue.map(apply))
      case Like(l, p: Literal, esc) =>
        val pat = String.valueOf(litValue(p.value).getOrElse(throw unsupported("LIKE with a NULL pattern")))
        try StringUtils.escapeLikeRegex(pat, esc)
        catch { case NonFatal(x) => throw unsupported(s"LIKE pattern '$pat': ${x.getMessage}") }
        Like(str(l), Literal(pat), esc)
      // arithmetic on the parsed doubles; a non-finite result is NULL
      case ar: BinaryArithmetic if ArithOps(ar.symbol) =>
        Coerce(call(ar.symbol, num(ar.left), num(ar.right)), DoubleType)
      case ar: BinaryArithmetic => throw unsupported(s"arithmetic ${ar.getClass.getSimpleName}")
      case f: UnresolvedFunction => function(f)
      case other => throw unsupported(s"expression ${other.getClass.getSimpleName} in ${other.sql}")
    }

    private def function(f: UnresolvedFunction): Expression = {
      val name = f.nameParts.last.toLowerCase
      val (sig, min) = vocabulary.getOrElse(name, throw unsupported(s"function $name(...)"))
      val letters = sig.stripSuffix("*")
      val n = f.arguments.length
      if (n < min || (letters == sig && n > sig.length))
        throw unsupported(s"function $name with $n argument(s)")
      val args = f.arguments.zipWithIndex.map { case (a, i) =>
        letters(math.min(i, letters.length - 1)) match {
          case 's' => str(a)
          case 'n' => num(a)
          case 'i' => Coerce(apply(a), IntegerType)
          case 't' => Coerce(apply(a), TimestampNTZType)
          case 'b' => bool(a)
          case _   => apply(a)
        }
      }
      name match {
        // contract comparison: the first non-NULL value that no later one beats
        case "greatest" | "least" =>
          val (acc, x) = (UnresolvedNamedLambdaVariable(Seq("acc")), UnresolvedNamedLambdaVariable(Seq("x")))
          val keep = Compare(acc, x, if (name == "greatest") ">" else "<=")
          call("aggregate", CreateArray(args), Literal(null, StringType), LambdaFunction(
            CaseWhen(Seq(IsNull(x) -> acc, IsNull(acc) -> x, keep -> acc), x), Seq(acc, x)))
        case "nullif" => If(Compare(args(0), args(1), "="), Literal(null), args(0))
        // part 0 is Spark's run-time error; any out-of-range part is ""
        case "split_part" =>
          call(name, args(0), args(1), If(EqualTo(args(2), Literal(0)), Literal(Int.MaxValue), args(2)))
        case "date_trunc" => f.arguments.head match {
          case Literal(u: UTF8String, _) if DateTimeUtils.parseTruncLevel(u) >= 0 =>
            Cast(call(name, args: _*), StringType)
          case unit => throw unsupported(s"date_trunc unit ${unit.sql} (a literal unit Spark knows)")
        }
        // dates and timestamps leave as Spark renders them
        case "to_date" => Cast(call(name, args: _*), StringType)
        case _ => call(name, args: _*)
      }
    }
  }
}

/** The value contract's coercions: a string operand read as a number
  * (`DoubleType`, NULL unless finite), an integer position, a boolean
  * (`true`/`false` only), a datetime (epoch micros or a datetime string,
  * read as UTC wall-clock), or rendered as a string (`String.valueOf`).
  */
private[streaming] final case class Coerce(child: Expression, dataType: DataType)
    extends UnaryExpression with CodegenFallback {
  import PlannerExpr._
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any = dataType match {
    case _: StringType if child.dataType.isInstanceOf[StringType] => v
    case _: StringType => UTF8String.fromString(String.valueOf(scalaOf(v)))
    case DoubleType    => asNum(scalaOf(v)).map(Double.box).orNull
    case IntegerType   => asNum(scalaOf(v)).map(d => Int.box(d.toInt)).orNull
    case BooleanType   => asBool(scalaOf(v)).map(Boolean.box).orNull
    case _ => (scalaOf(v) match {
      case s: String => s.toLongOption.orElse(DateTimeUtils.stringToTimestampWithoutTimeZone(UTF8String.fromString(s)))
      case other     => asNum(other).map(_.toLong)
    }).map(Long.box).orNull
  }
  override protected def withNewChildInternal(c: Expression): Coerce = copy(child = c)
}

/** The value contract's comparison (`=`, `<`, `<=`, `>`, `>=`, `<=>`):
  * numeric when both sides parse as numbers, else as strings; `<=>` is
  * NULL-safe, the others are NULL when either side is.
  */
private[streaming] final case class Compare(left: Expression, right: Expression, op: String)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = op != "<=>"
  override def eval(row: InternalRow): Any = {
    val (a, b) = (left.eval(row), right.eval(row))
    if (a == null || b == null) { if (op == "<=>") a == null && b == null else null }
    else {
      val c = PlannerExpr.cmpVals(PlannerExpr.scalaOf(a), PlannerExpr.scalaOf(b))
      op match {
        case "=" | "<=>" => c == 0
        case "<"         => c < 0
        case "<="        => c <= 0
        case ">"         => c > 0
        case ">="        => c >= 0
      }
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Compare =
    copy(left = l, right = r)
}
