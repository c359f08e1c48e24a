package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native n-word shingling: array<string> tokens → array<string> of
  * space-joined n-grams — `distinct = true` (the dedup-shingle form)
  * collects into an insertion-ordered set, `distinct = false` emits EVERY
  * window position (the exact-substring span form, q122). Same semantics
  * as the HOF reference form (ReferenceForms.shingles, in the test
  * sources): docs shorter than n yield the whole doc as one shingle. One
  * compiled pass, versus the interpreted
  * transform+slice+concat_ws(+array_distinct) chain.
  */
case class NGramShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"ngram_shingles needs array<string>, got ${dt.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    NGramShingles.compute(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NGramShingles.compute($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NGramShingles {
  val fnName = "graft_shingles"
  val allFnName = "graft_ngrams_all"

  def compute(tokens: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    // Windows run over RAW positions (null slots kept) and concatWs skips
    // nulls WITHIN a window — the exact HOF semantics (`transform(
    // sequence(...), i -> concat_ws(' ', slice(toks, i, n)))`; Spark's
    // UTF8String.concatWs skips null inputs). Compacting nulls FIRST
    // would merge tokens across a null gap into shingles the HOF and the
    // oracles never emit. tokens() can't produce null elements, so the
    // difference is only observable to SQL callers on containsNull
    // arrays; equivalence incl. null slots is pinned in DedupSpec.
    val nRaw = tokens.numElements()
    val toks = new Array[UTF8String](nRaw)
    var r = 0
    while (r < nRaw) {
      toks(r) = if (tokens.isNullAt(r)) null else tokens.getUTF8String(r)
      r += 1
    }
    val space = UTF8String.fromString(" ")
    val out =
      if (distinct) new mutable.LinkedHashSet[UTF8String]
      else new mutable.ArrayBuffer[UTF8String](math.max(nRaw - n + 1, 1))
    if (nRaw < n) {
      out += UTF8String.concatWs(space, toks: _*)
    } else {
      var i = 0
      while (i + n <= nRaw) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = toks(i + j); j += 1 }
        out += UTF8String.concatWs(space, parts: _*)
        i += 1
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fnName, exprs => {
        requireArity(exprs, 2, fnName, "tokens, n")
        NGramShingles(exprs.head, intLiteralArg(exprs(1), fnName, "n"))
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      allFnName, exprs => {
        requireArity(exprs, 2, allFnName, "tokens, n")
        NGramShingles(exprs.head, intLiteralArg(exprs(1), allFnName, "n"),
          distinct = false)
      }, "scala_udf")
  }

  def shinglesFast(tokens: Column, n: Int): Column =
    call_function(fnName, tokens, org.apache.spark.sql.functions.lit(n))

  /** Every window position, duplicates preserved — the span form. */
  def allGramsFast(tokens: Column, n: Int): Column =
    call_function(allFnName, tokens, org.apache.spark.sql.functions.lit(n))
}

/** Native k-hash MinHash signature: array<string> shingles → array<long>,
  * element i = min over shingles of xxhash64 with seed i. One pass over
  * k×|shingles| compiled hash calls (the HOF form pays interpreted lambda
  * dispatch per hash).
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig needs array<string>, got ${dt.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  val fnName = "graft_minhash"

  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      // skip null elements — SQL-registered, callable with containsNull=true
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i)
        var j = 0
        while (j < k) {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), j.toLong)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(Long.box).toArray[Any])
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fnName, exprs => {
        requireArity(exprs, 2, fnName, "shingles, k")
        MinHashSig(exprs.head, intLiteralArg(exprs(1), fnName, "k"))
      }, "scala_udf")

  def minhashFast(shingles: Column, k: Int): Column =
    call_function(fnName, shingles, org.apache.spark.sql.functions.lit(k))
}
