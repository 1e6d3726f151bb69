package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Native.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native language-ID argmax: grouped NON-OVERLAPPING substring
  * occurrence counts (one group of literal stopwords per language) and
  * the deterministic argmax (group order on ties, all-zero -> null), as
  * ONE codegen'd expression.
  *
  * Two scale problems with the composable formulation, both fixed here:
  * - scoring costs one `regexp_replace` per stopword (20 for the
  *   4-language table), each allocating a fresh copy of the document
  *   per pattern per row;
  * - the argmax `when`-chain references each score several times, and
  *   in a FILTER context (the prep DAG's language gate) Spark performs
  *   no subexpression elimination — the whole scoring tree evaluates
  *   once per reference, which benchmarked SLOWER than the regex form
  *   when a scores-array expression was argmax'd by a Column chain.
  * A single string-returning node cannot be multiply-evaluated: the
  * scan is one `indexOf` sweep per pattern, allocation-free, inside
  * whole-stage codegen.
  *
  * Count semantics are IDENTICAL to the replace-length arithmetic
  * (`(len(s) - len(replace(s, p, ''))) / len(p)`) — both count
  * left-to-right non-overlapping matches — so the SQL oracles that
  * replay lang-id scoring via `replace` arithmetic stay valid
  * (TextAnalysisSpec pins this expression equal to the composable
  * form). All-zero scores return NULL (the caller maps it to its
  * "unknown" label); null input propagates to null output.
  */
case class LangPred(child: Expression, groups: Seq[(String, Seq[String])])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = LangPred.name

  // all-zero scores return NULL even for a non-null input, so this
  // must not inherit the child's nullability: with a non-nullable
  // child, ev.isNull is the literal `false` and the generated
  // `false = true;` fails janino — silently dropping the WHOLE
  // projection (the quality/langid hot path) out of codegen
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.sql}")
  }

  @transient private lazy val labels: Array[UTF8String] =
    groups.map(g => UTF8String.fromString(g._1)).toArray
  @transient private lazy val pats: Array[Array[UTF8String]] =
    groups.map(_._2.map(UTF8String.fromString).toArray).toArray

  override protected def nullSafeEval(input: Any): Any =
    LangPred.pred(input.asInstanceOf[UTF8String], labels, pats)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val labelsRef = ctx.addReferenceObj("labels", labels,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val patsRef = ctx.addReferenceObj("pats", pats,
      "org.apache.spark.unsafe.types.UTF8String[][]")
    val cls = LangPred.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $cls.pred($c, $labelsRef, $patsRef);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LangPred =
    copy(child = newChild)
}

object LangPred {
  val name = "graft_lang_pred"

  /** `groups` is the (label, stopwords) language table — a constant of
    * the caller, not data.
    */
  def apply(text: Column, groups: Seq[(String, Seq[String])]): Column =
    column(LangPred(expr(text), groups))

  /** Scoring + argmax, shared by interpreted and generated code (codegen
    * calls it statically — keep the signature stable). Non-overlapping
    * counts: after a match the scan resumes past it, exactly the
    * left-to-right consumption of `replace`/`regexp_replace`. Ties keep
    * the EARLIER group (strict `>` on the running best); all-zero
    * returns null.
    */
  def pred(s: UTF8String, labels: Array[UTF8String],
           pats: Array[Array[UTF8String]]): UTF8String = {
    var bestScore = 0
    var bestIdx = -1
    var g = 0
    while (g < pats.length) {
      val ps = pats(g)
      var sum = 0
      var j = 0
      while (j < ps.length) {
        val p = ps(j)
        val step = p.numChars()
        var pos = s.indexOf(p, 0)
        while (pos >= 0) { sum += 1; pos = s.indexOf(p, pos + step) }
        j += 1
      }
      if (sum > bestScore) { bestScore = sum; bestIdx = g }
      g += 1
    }
    if (bestIdx < 0) null else labels(bestIdx)
  }
}
