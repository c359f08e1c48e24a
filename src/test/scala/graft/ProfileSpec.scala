package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.LogManager
import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** `graft.tools.Profile`: its job and error counts agree with an
  * independent listener, its memo misses tell a model's build from its
  * reuse, and its layout-serialized stage rule holds its boundaries.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("each run's jobs and ERROR events equal a separate listener's count; " +
    "q136 reports micro-batches") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val log = LogManager.getLogger("graft.ProfileSpec")
    // counts each job of a run and logs one ERROR event for it
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty("spark.job.description") != Profile.DrainTag)) {
          jobs.incrementAndGet()
          log.error(s"ProfileSpec: job ${e.jobId}")
        }
    }
    sc.addSparkListener(listener)
    val profiler = new Profile.Profiler(spark)
    try Seq("q22_join_semi", "q136_streamed_tumbling_counts").foreach { q =>
      (1 to 2).foreach { i =>
        ListenerBusBridge.drain(sc)
        jobs.set(0)
        val rec = profiler.run(q, SparkTestSession.sfDir, i)
        val r = rec.fields.toMap
        ListenerBusBridge.drain(sc)
        assert(rec.ok, rec.json)
        assert(r("jobs") == jobs.get, rec.json)
        assert(r("errors") == jobs.get, rec.json)
        assert(r("write_jobs") >= 1 && r("write_jobs") <= r("jobs"), rec.json)
        assert(r("wall_s") >= r("build_s") + r("plan_s"), rec.json)
        assert(rec.json.startsWith(s"""{"query":"$q","run":$i,"ok":true,"""), rec.json)
        if (q.startsWith("q136")) assert(r("batches") >= 2, rec.json)
        else assert(r("batches") == 0 && r("exchanges") >= 1, rec.json)
      }
    } finally {
      profiler.close()
      sc.removeSparkListener(listener)
    }
  }

  test("q116's first run computes its memo entries, its second run reuses them all") {
    // a private copy of the tables: no earlier suite has memoized them
    val dir = java.nio.file.Files.createTempDirectory("profile_memo")
    java.nio.file.Files.list(java.nio.file.Paths.get(SparkTestSession.sfDir)).forEach(f =>
      java.nio.file.Files.copy(f, dir.resolve(f.getFileName)): Unit)
    val profiler = new Profile.Profiler(spark)
    try {
      val Seq(first, second) = (1 to 2).map { i =>
        val rec = profiler.run("q116_semantic_dedup", dir.toString, i)
        assert(rec.ok, rec.json)
        rec.fields.toMap.apply("memo_misses")
      }
      assert(first >= 1 && second == 0, s"memo_misses: run 1 $first, run 2 $second")
    } finally {
      profiler.close()
      Tables.deleteTree(dir.toFile)
    }
  }

  test("a stage is layout-serialized from 150 ms with 1 or 2 busy tasks") {
    import Profile.layoutSerialized
    val busy = (31L, 1L) // read a record and ran over 30 ms
    val idle = Seq((30L, 100L), (5000L, 0L)) // too short / read nothing
    assert(layoutSerialized(150, Seq(busy)))
    assert(!layoutSerialized(149, Seq(busy)))
    assert(layoutSerialized(150, Seq(busy, busy) ++ idle))
    assert(!layoutSerialized(150, Seq(busy, busy, busy)))
    assert(!layoutSerialized(10000, idle))
    assert(!layoutSerialized(10000, Seq.empty))
  }
}
