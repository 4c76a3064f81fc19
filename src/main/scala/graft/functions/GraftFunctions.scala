package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Five of the engine's native functions exposed to SQL. Each builder is
  * the Column function's own `Native` call, so SQL and the DataFrame API
  * plan the same static invocation. Two routes:
  *  - production: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (or `.withExtensions(new GraftExtensions)`) at session build time;
  *  - retrofit: `GraftFunctions.registerAll(spark)` on a running session.
  * After either, `SELECT emoji_strip_tokens(text)`, `qdot(a, b)` and
  * `quantize_vec(v)` work in plain SQL. */
object GraftFunctions {

  private def sql(f: Seq[Column] => Column): Seq[Expression] => Expression =
    exprs => GraftColumnBridge.expression(f(exprs.map(GraftColumnBridge.column)))

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("emoji_strip_tokens",
      "drops every whitespace token containing an emoji codepoint",
      sql(cs => Cleaning.removeEmojiTokens(cs.head))),
    ("url_user_covid_strip",
      "removes http\\S+ runs, @usernames and whole-word covid variants",
      sql(cs => Cleaning.urlUserCovidStrip(cs.head))),
    ("alpha_space_lower",
      "keep ASCII letters+spaces, collapse/trim spaces, lowercase (one pass)",
      sql(cs => Cleaning.alphaSpaceLower(cs.head))),
    ("qdot",
      "exact integer dot product of two ARRAY<BIGINT> vectors",
      sql(cs => QDot(cs(0), cs(1)))),
    ("quantize_vec",
      "floor(x*1e6) quantization of a float/double array to ARRAY<BIGINT>",
      sql(cs => QDot.quantize(cs.head))))

  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      GraftColumnBridge.registerFunction(spark, name, builder)
    }
}

/** Builder-time injection (the public SparkSessionExtensions API). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, usage), builder))
    }
}
