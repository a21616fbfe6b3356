package graft.functions

import graft.dom.ExtractResult
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

/** SQL surface for the extraction kernel (SURVEY.md §4.3's deferred option,
  * now implemented): native Catalyst expressions so `spark.sql` users can
  * call the engine without the typed Dataset API:
  *
  *   SELECT html_main_text(html)  FROM pages   -- boilerplate-stripped text
  *   SELECT html_text(html)       FROM pages   -- full in-content text
  *   SELECT html_tag_count(html)  FROM pages   -- tag tokens seen
  *
  * They are CodegenFallback by design: the kernel is one large opaque
  * function — exactly the case Spark documents for fallback — and the rows
  * around it stay inside whole-stage codegen. The per-row sink allocation
  * here is the ergonomic path; the throughput path remains
  * ExtractJob.extract's mapPartitions with a partition-reused sink.
  */
abstract class HtmlKernelExpression extends UnaryExpression
    with CodegenFallback with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires BINARY input, got ${child.dataType}")
  override def nullable: Boolean = true
  @transient protected lazy val sink = new graft.dom.ExtractSink
  protected def ex(bytes: Array[Byte]): ExtractResult =
    graft.dom.Extractor.extractInto(bytes, sink)
}

/** One kernel capture on the SQL surface: `html_<name>(html)` returns
  * `get(result)` as `dataType`, and `html_extract_all` serves it as struct
  * field `field`. Fusable captures may share one kernel run per page
  * ([[CollapseHtmlKernelCalls]]); spans, og pairs and JSON-LD stay
  * standalone — they are rarely combined and their nested types would bloat
  * every fused row.
  */
final case class Capture(name: String, field: String, dataType: DataType,
    get: ExtractResult => Any, fusable: Boolean) {
  def sqlName: String = s"html_$name"
}

object Capture {
  private def str(f: ExtractResult => String): ExtractResult => Any =
    r => UTF8String.fromString(f(r))
  private def strs(f: ExtractResult => Seq[String]): ExtractResult => Any =
    r => new GenericArrayData(f(r).map(UTF8String.fromString).toArray[Any])
  private val strArray = ArrayType(StringType, containsNull = false)
  private def structArray(fields: (String, DataType)*): DataType =
    ArrayType(StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) }),
      containsNull = false)

  /** The capture table: the one list of what the SQL surface returns. The
    * fusable entries, in this order, are `html_extract_all`'s struct.
    */
  val all: Seq[Capture] = Seq(
    Capture("main_text", "main_text", StringType, str(_.mainText), fusable = true),
    Capture("text", "full_text", StringType, str(_.text), fusable = true),
    Capture("title", "title", StringType, str(_.title), fusable = true),
    Capture("lang", "lang", StringType, str(_.declaredLang), fusable = true),
    Capture("tag_count", "tag_count", LongType, _.nTags, fusable = true),
    Capture("links", "links", strArray, strs(_.links), fusable = true),
    Capture("errors", "errors", strArray, strs(_.errors), fusable = true),
    Capture("spans", "spans",
      structArray("start" -> IntegerType, "end" -> IntegerType, "path" -> StringType,
        "block" -> IntegerType, "link" -> BooleanType, "kept" -> BooleanType),
      r => new GenericArrayData(r.spans.map(s => InternalRow(
        s.start, s.end, UTF8String.fromString(s.path), s.block, s.link, s.kept)).toArray[Any]),
      fusable = false),
    // Open Graph pairs as an array, not a map, so repeated properties
    // (multiple og:image) and document order survive
    Capture("og", "og", structArray("prop" -> StringType, "content" -> StringType),
      r => new GenericArrayData(r.ogProps.indices.map(i => InternalRow(
        UTF8String.fromString(r.ogProps(i)), UTF8String.fromString(r.ogVals(i)))).toArray[Any]),
      fusable = false),
    // raw <script type="application/ld+json"> blocks, document order
    Capture("jsonld", "json_ld", strArray, strs(_.jsonLd), fusable = false))

  private val byName: Map[String, Capture] = all.map(c => c.name -> c).toMap
  def apply(name: String): Capture = byName(name)

  val fusableNames: Seq[String] = all.filter(_.fusable).map(_.name)
}

/** `html_<name>(html)`: one capture of one kernel run. */
case class HtmlCapture(child: Expression, name: String) extends HtmlKernelExpression {
  @transient private lazy val capture = Capture(name)
  override def dataType: DataType = capture.dataType
  override protected def nullSafeEval(input: Any): Any =
    capture.get(ex(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): HtmlCapture = copy(child = newChild)
  override def prettyName: String = capture.sqlName
}

/** Several captures of ONE kernel run as a struct, field i = `captures(i)`.
  * `html_extract_all(html)` serves every fusable capture; the fusion rule
  * builds it with just the captures a projection asks for.
  */
case class HtmlExtractAll(child: Expression, captures: Seq[String] = Capture.fusableNames)
    extends HtmlKernelExpression {
  @transient private lazy val cs = captures.map(Capture(_)).toArray
  @transient override lazy val dataType: DataType =
    StructType(cs.toSeq.map(c => StructField(c.field, c.dataType, nullable = false)))
  override protected def nullSafeEval(input: Any): Any = {
    val r = ex(input.asInstanceOf[Array[Byte]])
    new GenericInternalRow(cs.map(_.get(r)))
  }
  override protected def withNewChildInternal(newChild: Expression): HtmlExtractAll = copy(child = newChild)
  override def prettyName: String = "html_extract_all"
}

/** Optimizer rule: common-subexpression elimination for the OPAQUE kernel.
  * Catalyst's built-in subexpression elimination never fires for
  * CodegenFallback expressions, so a projection calling k different html_*
  * functions on the same column parses every page k times. This rule
  * rewrites any Project carrying ≥2 fusable kernel calls over one child
  * into a two-level Project: the inner level runs [[HtmlExtractAll]] once
  * per page over the captures called, the outer reads struct fields.
  * CollapseProject will not merge the levels back — the alias is non-cheap
  * and referenced multiple times, exactly its no-duplication guard.
  *
  * Injected via `GraftExtensions` (config path) or
  * `HtmlFunctions.registerRule` (live-session path, like `register`).
  */
object CollapseHtmlKernelCalls
    extends org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.catalyst.expressions.{Alias, GetStructField, NamedExpression}

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case p @ Project(projectList, child) =>
      val calls = projectList.flatMap(_.collect {
        case k: HtmlCapture if Capture(k.name).fusable => k
      })
      // fuse only when one child expression feeds ≥2 kernel calls — a
      // single call is already one parse, and distinct children can't share
      val fusable = calls.groupBy(_.child.canonicalized).filter(_._2.size >= 2)
      if (fusable.isEmpty) p
      else {
        val fused = fusable.map { case (canon, ks) =>
          val all = HtmlExtractAll(ks.head.child, ks.map(_.name).distinct)
          canon -> (all.captures, Alias(all, "_html_all")())
        }
        val newList = projectList.map(_.transform {
          case k: HtmlCapture if Capture(k.name).fusable && fused.contains(k.child.canonicalized) =>
            val (captures, alias) = fused(k.child.canonicalized)
            GetStructField(alias.toAttribute, captures.indexOf(k.name), Some(Capture(k.name).field))
        }.asInstanceOf[NamedExpression])
        Project(newList, Project(child.output ++ fused.values.map(_._2).toSeq, child))
      }
  }
}

object HtmlFunctions {
  /** Every SQL function: one per capture, plus `html_extract_all`. */
  private[functions] val fns: Seq[(String, Seq[Expression] => Expression)] =
    Capture.all.map(c => c.sqlName -> ((args: Seq[Expression]) => HtmlCapture(args.head, c.name))) :+
      ("html_extract_all" -> ((args: Seq[Expression]) => HtmlExtractAll(args.head)))

  private[functions] def info(name: String) =
    new ExpressionInfo("graft.functions.HtmlFunctions", name)

  /** Imperative registration — works on any live session (no config needed). */
  def register(spark: SparkSession): Unit = fns.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.registerFunction(FunctionIdentifier(name), info(name), builder)
  }

  /** Live-session injection of the kernel-call fusion rule (idempotent). */
  def registerRule(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(CollapseHtmlKernelCalls))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CollapseHtmlKernelCalls
}

/** Config-based registration: `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    HtmlFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), HtmlFunctions.info(name), builder))
    }
    ext.injectOptimizerRule(_ => CollapseHtmlKernelCalls)
  }
}
