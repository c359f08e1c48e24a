package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.operators.{DedupPack, SimilarityPack, TextPack}

/** The native expressions reach a query as Columns built straight from
  * their nodes: a session with an empty function registry runs every
  * builder, and building every query that uses them registers nothing.
  */
class NativeBuilderSpec extends AnyFunSuite {

  test("native builders run in a new session and leave its function registry without graft_* entries") {
    val fresh = SparkTestSession.spark.newSession()
    def graftFns = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty)
    import fresh.implicits._

    val toks = tokens(col("text"))
    val text = Seq("a b c a b").toDF("text").select(
        NGramShingles.shinglesFast(toks, 2).as("sh"),
        NGramShingles.allGramsFast(toks, 2).as("all"),
        MinHashSig.minhashFast(NGramShingles.shinglesFast(toks, 2), 4).as("mh"),
        SimHash64.simhash64(toks).as("simhash"),
        TopTokenCount.topTokenCountFast(toks).as("top"))
      .head()
    assert(text.getSeq[String](0) == Seq("a b", "b c", "c a"))
    assert(text.getSeq[String](1) == Seq("a b", "b c", "c a", "a b"))
    assert(text.getSeq[Long](2).length == 4)
    assert(!text.isNullAt(3))
    assert(text.getLong(4) == 2L)

    val a = col("a")
    val vec = Seq(Seq(1.0, 0.0)).toDF("a").select(
        CosineSimilarity.cosineFast(a, a).as("cos"),
        HyperplaneSignature.signature(a, 4, dims = 2).as("sig"),
        Int8Quantize.quantize(a).as("q"),
        Int8Dequantize.dequantize(Int8Quantize.quantize(a), lit(0.0), lit(1.0)).as("dq"),
        TopCells.topCells(a, Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)), 1).as("cells"))
      .head()
    assert(vec.getDouble(0) == 1.0)
    assert(vec.getSeq[Int](1).length == 4)
    assert(vec.getSeq[Int](2) == Seq(255, 0))
    assert(vec.getSeq[Double](3) == Seq(1.0, 0.0))
    assert(vec.getSeq[Int](4) == Seq(1))

    val names = Seq(TextPack, DedupPack, SimilarityPack).flatMap(_.queries.keys).sorted
    names.foreach(name => SparkEntry.queries(name)(fresh, SparkTestSession.sfDir))
    assert(graftFns.isEmpty, s"building ${names.mkString(", ")} registered $graftFns")
  }
}
