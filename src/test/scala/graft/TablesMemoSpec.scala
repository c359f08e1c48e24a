package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupPack, EventsPack, SimilarityPack}
import graft.streaming.EventStreamJobs

/** Contracts of the [[Tables.memo]] for values derived from tables: after
  * a table is rewritten in the same session, the row count, the k-means
  * and PCA models, the near-dup cluster index and q136's staged replay
  * input equal a fresh computation over the new rows, and the rewrite
  * replaces the memo's entries instead of adding to them.
  */
class TablesMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** `name` of the shared fixture, filtered by `keep`, as `dir`'s table. */
  private def writeTable(dir: String, name: String, keep: String): Unit =
    spark.read.parquet(s"${SparkTestSession.sfDir}/$name.parquet").where(keep)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** (doc_id, label = smallest doc_id of its component) over a pair list:
    * a driver-side union-find, independent of the engine's label
    * propagation.
    */
  private def components(pairs: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => (x, find(x))).toSet
  }

  private def clusters(dir: String): Set[(Long, Long)] =
    DedupPack.clusterIndex(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** q136's streamed counts and its batch twin, as (bucket_ms, event_type, n). */
  private def tumbling(dir: String): (Seq[(Long, String, Long)], Seq[(Long, String, Long)]) = {
    def rows(df: org.apache.spark.sql.DataFrame) = df.select(col("bucket_ms"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    (rows(EventStreamJobs.tumblingCountsStreamed(spark, dir)._2), rows(EventsPack.tumbling(spark, dir)))
  }

  private def model(m: (Array[Array[Double]], Seq[Double])) = m._1.map(_.toSeq).toSeq

  private def pca(m: (Array[Double], Array[Array[Double]], Array[Double])) =
    (m._1.toSeq, m._2.map(_.toSeq).toSeq, m._3.toSeq)

  test("a rewritten table recomputes count, models and clusters, in place") {
    val dir = Files.createTempDirectory("tmemo").toString
    writeTable(dir, "lineitem", "true")
    writeTable(dir, "embeddings", "true")
    writeTable(dir, "documents", "true")
    writeTable(dir, "events", "true")
    val count0 = Tables.tableCount(spark, dir, "lineitem")
    val kmeans0 = model(SimilarityPack.kmeansModel(spark, dir, k = 4, iters = 1))
    val pca0 = pca(SimilarityPack.pcaModel(spark, dir, p = 2, iters = 5))
    val clusters0 = clusters(dir)
    val tumbling0 = tumbling(dir)
    val size0 = Tables.tCacheSize
    assert(clusters0.size > 2, s"fixture must hold near-dup clusters: $clusters0")

    // keep about half of the clustered documents, two thirds of the
    // embeddings, the lineitem rows of 25 orders and the events of even users
    val kept = clusters0.map(_._1).toSeq.sorted.take(clusters0.size / 2)
    writeTable(dir, "lineitem", "l_orderkey <= 25")
    writeTable(dir, "embeddings", "vec_id % 3 != 0")
    writeTable(dir, "documents", s"doc_id IN (${kept.mkString(",")})")
    writeTable(dir, "events", "user_id % 2 = 0")

    val count1 = Tables.tableCount(spark, dir, "lineitem")
    val kmeans1 = model(SimilarityPack.kmeansModel(spark, dir, k = 4, iters = 1))
    val pca1 = pca(SimilarityPack.pcaModel(spark, dir, p = 2, iters = 5))
    val clusters1 = clusters(dir)
    val tumbling1 = tumbling(dir)
    assert(Tables.tCacheSize == size0,
      s"rewrites must replace memo entries (was $size0, now ${Tables.tCacheSize})")

    assert(count0 == 6000)
    assert(count1 == spark.read.parquet(s"$dir/lineitem.parquet").count() && count1 < 200)
    assert(kmeans1 == model(SimilarityPack.kmeansTrain(spark, dir, k = 4, iters = 1)))
    assert(kmeans1 != kmeans0, "dropping a third of the embeddings must move the model")
    assert(pca1 == pca(SimilarityPack.pcaTrain(spark, dir, p = 2, iters = 5)))
    assert(pca1 != pca0)
    val pairs = DedupPack.dedupJaccard(spark, dir).select(col("d1"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(clusters1 == components(pairs))
    assert(clusters1 != clusters0 && clusters1.map(_._1).subsetOf(kept.toSet),
      s"the cluster index must cover only the rewritten documents: $clusters1")
    assert(tumbling0._1 == tumbling0._2)
    assert(tumbling1._1 == tumbling1._2 && tumbling1._1 != tumbling0._1,
      "q136 must replay the rewritten events, not the first staging")
  }
}
