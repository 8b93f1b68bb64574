package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType
import graft.functions.{AhoCorasickCountExpr, AhoCorasickDistinctExpr, CdcBoundsExpr, CharTrigramsExpr, DeflateSizeExpr, DotProductExpr, JaroWinklerExpr, NfcNormalizeExpr, PolyFingerprintExpr, SimHashSigExpr, SortedIntersectCountExpr, SortedIntersectWeightSumExpr}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions in the SQL function registry so `spark.sql` users get
  * them too, once the session builder is given
  * `.withExtensions(new GraftExtensions)`:
  *
  * {{{
  * spark.sql("SELECT poly_fingerprint(text), dot_product(a, b) FROM t")
  * }}}
  *
  * Also injectable via config for uncontrolled session construction:
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(GraftExtensions.exprClass(name), name),
        builder))
    }
}

object GraftExtensions {

  /** Arity gate: a mis-called SQL function must fail analysis with the
    * standard WRONG_NUM_ARGS condition, not an
    * IndexOutOfBoundsException from `children(1)`.
    */
  private def arity(name: String, n: Int, children: Seq[Expression]): Seq[Expression] = {
    if (children.length != n) {
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> n.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    }
    children
  }

  /** Name → arity-checked builder, shared by the extension injector and
    * by tests registering on a live session's function registry.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "poly_fingerprint" ->
      ((c: Seq[Expression]) => PolyFingerprintExpr(arity("poly_fingerprint", 1, c).head)),
    "dot_product" ->
      ((c: Seq[Expression]) => { val v = arity("dot_product", 2, c); DotProductExpr(v(0), v(1)) }),
    "char_trigrams" ->
      ((c: Seq[Expression]) => CharTrigramsExpr(arity("char_trigrams", 1, c).head)),
    "jaro_winkler" ->
      ((c: Seq[Expression]) => { val v = arity("jaro_winkler", 2, c); JaroWinklerExpr(v(0), v(1)) }),
    "nfc_normalize" ->
      ((c: Seq[Expression]) => NfcNormalizeExpr(arity("nfc_normalize", 1, c).head)),
    "deflate_size" ->
      ((c: Seq[Expression]) => DeflateSizeExpr(arity("deflate_size", 1, c).head)),
    "sorted_intersect_count" ->
      ((c: Seq[Expression]) => { val v = arity("sorted_intersect_count", 2, c); SortedIntersectCountExpr(v(0), v(1)) }),
    "simhash64" ->
      ((c: Seq[Expression]) => SimHashSigExpr(arity("simhash64", 1, c).head)),
    "sorted_intersect_weight_sum" ->
      ((c: Seq[Expression]) => { val v = arity("sorted_intersect_weight_sum", 3, c); SortedIntersectWeightSumExpr(v(0), v(1), v(2)) }),
    "cdc_bounds" ->
      ((c: Seq[Expression]) => CdcBoundsExpr(arity("cdc_bounds", 1, c).head)),
    "ac_count" ->
      ((c: Seq[Expression]) => { val v = arity("ac_count", 2, c)
        AhoCorasickCountExpr(v(0), litPatterns("ac_count", v(1))) }),
    "ac_distinct" ->
      ((c: Seq[Expression]) => { val v = arity("ac_distinct", 2, c)
        AhoCorasickDistinctExpr(v(0), litPatterns("ac_distinct", v(1))) }))

  /** The Aho–Corasick automaton is built at PLAN time from the pattern
    * dictionary, so the SQL form takes the dictionary as a
    * comma-separated STRING LITERAL — the one shape that is already a
    * Literal when the function builder runs (analysis hasn't folded
    * anything yet). A pattern containing a literal comma is written
    * `\,` (and a literal backslash `\\`); an empty segment (trailing
    * or doubled comma) is rejected loudly rather than silently
    * dropped — it is always a dictionary-authoring mistake.
    */
  private def litPatterns(fn: String, e: Expression): Seq[String] = e match {
    case Literal(s, StringType) if s != null =>
      val str = s.toString
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var i = 0
      while (i < str.length) {
        val c = str.charAt(i)
        if (c == '\\' && i + 1 < str.length
            && (str.charAt(i + 1) == ',' || str.charAt(i + 1) == '\\')) {
          cur.append(str.charAt(i + 1)); i += 2
        } else if (c == ',') { out += cur.result(); cur.clear(); i += 1 }
        else { cur.append(c); i += 1 }
      }
      out += cur.result()
      if (out.exists(_.isEmpty)) throw new IllegalArgumentException(
        s"$fn: empty pattern in dictionary '$str' (trailing or doubled " +
          "comma?) — write a literal comma inside a pattern as '\\,'")
      out.toSeq
    case _ => throw new IllegalArgumentException(
      s"$fn: the pattern dictionary must be a comma-separated string " +
        "literal ('\\,' escapes a literal comma)")
  }

  private def exprClass(name: String): String = name match {
    case "poly_fingerprint" => classOf[PolyFingerprintExpr].getName
    case "dot_product"      => classOf[DotProductExpr].getName
    case "char_trigrams"    => classOf[CharTrigramsExpr].getName
    case "jaro_winkler"     => classOf[JaroWinklerExpr].getName
    case "nfc_normalize"    => classOf[NfcNormalizeExpr].getName
    case "deflate_size"     => classOf[DeflateSizeExpr].getName
    case "sorted_intersect_count" => classOf[SortedIntersectCountExpr].getName
    case "simhash64"        => classOf[SimHashSigExpr].getName
    case "sorted_intersect_weight_sum" => classOf[SortedIntersectWeightSumExpr].getName
    case "cdc_bounds"       => classOf[CdcBoundsExpr].getName
    case "ac_count"         => classOf[AhoCorasickCountExpr].getName
    case "ac_distinct"      => classOf[AhoCorasickDistinctExpr].getName
  }
}
