package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BinaryToFloats, DotFloat, DotLong, FloatsToBinary, LEDecode, LEEncode, PiiRedact}

/** Engine extension point (`spark.sql.extensions=graft.GraftExtensions`):
  * registers the native Catalyst expressions as SQL functions, so both
  * the DataFrame API (`call_function`) and plain `spark.sql("SELECT
  * dot_long(a, b) …")` reach the codegen'd kernels — the library surface
  * a SQL-first user of the reference would expect. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Analyzer-facing builder for an `n`-argument function: a SQL call
    * with the wrong argument count surfaces as an AnalysisException
    * naming the function, not a raw IndexOutOfBoundsException from
    * `children(1)`. */
  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    children => {
      if (children.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name, "expectedNum" -> n.toString,
            "actualNum" -> children.length.toString, "docroot" -> ""))
      build(children)
    }

  /** One registered function: identifier, `DESCRIBE FUNCTION` info and
    * its [[arity]] builder. */
  private def fn(name: String, clazz: Class[_], n: Int, usage: String)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, null, name, usage, "", "", "", "", "", "", "built-in"),
      arity(name, n)(build))

  private val descriptions =
    Seq(
      fn("dot_long", classOf[DotLong], 2,
          "dot_long(a, b) - exact integer inner product of two bigint arrays; null on null or ragged input")(
        c => DotLong(c(0), c(1))),
      fn("dot_float", classOf[DotFloat], 2,
          "dot_float(a, b) - float inner product accumulated in double, left-to-right; null on null or ragged input")(
        c => DotFloat(c(0), c(1))),
      fn("float_vec_to_binary", classOf[FloatsToBinary], 1,
          "float_vec_to_binary(v) - fixed-width LE IEEE-754 encoding of a float array (the relational-store vector codec); null on null input or a null element")(
        c => FloatsToBinary(c(0))),
      fn("binary_to_float_vec", classOf[BinaryToFloats], 1,
          "binary_to_float_vec(b) - decode the fixed-width LE float-vector codec; null on null input or a length not divisible by 4")(
        c => BinaryToFloats(c(0))),
      fn("pii_redact", classOf[PiiRedact], 1,
          "pii_redact(s) - fused PII mask (emails -> <EMAIL>, 6+-digit runs -> <ID>, residual digits -> #) with match counts as struct<redacted, n_emails, n_ids>; null on null input")(
        c => PiiRedact(c(0))),
      fn("le_decode", classOf[LEDecode], 3,
          "le_decode(bin, off, n) - decode n little-endian bytes at 1-based off as bigint; null on null input, no byte in range, or an 8-byte value past bigint range")(
        c => LEDecode(c(0), c(1), c(2))),
      fn("le_encode", classOf[LEEncode], 2,
          "le_encode(v, n) - encode v's low n bytes little-endian as binary; null on null input")(
        c => LEEncode(c(0), c(1))))

  /** Registers the graft functions into an ALREADY-RUNNING session's
    * registry — the path for sessions the library does not own (the
    * driver passes its own `SparkSession` into `SparkEntry.queries`).
    * Idempotent; `registerFunction` overwrites in place. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
