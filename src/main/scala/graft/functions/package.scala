package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Reusable column builders for the LLM-data-pipeline operators (dedup,
  * similarity, text analysis). Everything here composes built-in codegen'd
  * functions — higher-order array functions instead of UDFs — so the
  * expressions stay inside whole-stage codegen and push through Catalyst
  * untouched.
  */
package object functions {

  /** Registers a graft_* SQL function on the session unless it is there
    * already. Each query calls its functions' `register` whenever it is
    * constructed, and replacing the entry each time would rewrite the
    * registry and log a "replaced a previously registered function"
    * warning.
    */
  private[functions] def registerOnce(spark: SparkSession, name: String,
                                      make: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, make, "scala_udf")
  }

  /** Arity gate for SQL-registered graft_* builders: a wrong argument
    * count must fail with the function name and expected signature, not a
    * bare IndexOutOfBoundsException from a positional `exprs(i)`.
    */
  private[functions] def requireArity(
      exprs: Seq[Expression],
      n: Int, fn: String, sig: String): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$fn needs $n arguments ($sig), got ${exprs.length}")

  /** Analysis-time extraction of a constant integer argument for the
    * SQL-registered graft_* function builders. Raw `expr.eval()` threw
    * ClassCastException on a bigint literal (`graft_minhash(sh, 16L)`) and
    * UnsupportedOperationException on any non-foldable argument; this
    * accepts any FOLDABLE integral expression (bare literals, `8+8`,
    * `CAST(3 AS BIGINT)` — builders run before ConstantFolding, so
    * restricting to bare Literal nodes would reject constant arithmetic
    * that used to work), widens the integral types, and fails with a clear
    * message otherwise.
    */
  private[functions] def intLiteralArg(e: Expression,
                                       fn: String, arg: String): Int = {
    def fail() = throw new IllegalArgumentException(
      s"$fn: argument '$arg' must be an integer literal, got ${e.sql}")
    if (!e.foldable) fail()
    e.eval() match {
      case v: Byte => v.toInt
      case v: Short => v.toInt
      case v: Int => v
      case v: Long if v.isValidInt => v.toInt
      case _ => fail()
    }
  }

  /** Whitespace tokenization (the reference's split(" ") —
    * homework-4/.../InvertedMain.scala:15).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** 16-bit md5-prefix bucket of `s` as a long in [0, 65536) — the raw
    * integer form of [[md5Uniform]] (use directly for `% nShards`-style
    * bucketing).
    */
  def md5Bucket16(s: Column): Column =
    conv(substring(md5(s), 1, 4), 16, 10).cast("long")

  /** 16-bit md5-prefix of `s` scaled to a uniform double in [0, 1) — the
    * deterministic, engine-portable hash behind the sampling / splitting /
    * sharding family (each oracle spells the identical
    * `conv(substring(md5(…),1,4),16,10)/65536` SQL). ONE definition so a
    * change to the idiom (e.g. widening the prefix) cannot reach one
    * query and miss another; see [[md5Bucket16]] for the raw bucket.
    */
  def md5Uniform(s: Column): Column =
    md5Bucket16(s).cast("double") / 65536.0

  /** LSH band keys for a minhash signature: bands of `rowsPerBand` hashes,
    * each band hashed to one bucket key. Docs sharing ANY band key are
    * candidate pairs.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(b, concat_ws("_", slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand))))
          .as("bucket")))
}
