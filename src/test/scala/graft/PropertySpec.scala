package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite


import graft.operators.TrafficPack

/** SURVEY.md §5.4 property tests: engine results ≡ sequential Scala folds
  * on randomly generated inputs.
  */
class PropertySpec extends AnyFunSuite {

  /** plain-scalacheck sampling (scalatestplus is not in the offline cache) */
  private def forAll[T](gen: Gen[T], n: Int = 20)(body: T => Unit): Unit = {
    val params = org.scalacheck.Gen.Parameters.default
    (0 until n).foreach { i =>
      gen(params, org.scalacheck.rng.Seed(i.toLong)).foreach(body)
    }
  }
  private def whenever(c: Boolean)(body: => Unit): Unit = if (c) body
  lazy val spark = SparkTestSession.spark

  private val docGen: Gen[List[(String, Int)]] = for {
    n <- Gen.choose(1, 12)
    docs <- Gen.listOfN(n, Gen.listOf(Gen.oneOf("a", "b", "cc", "dd", "e"))
      .map(_.mkString(" ")))
  } yield docs.zipWithIndex

  test("inverted index round-trip: every (word, doc) occurrence is indexed") {
    forAll(docGen) { docs =>
      import spark.implicits._
      val df = docs.toDF("text", "doc_id")
      val got = df
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(collect_set(col("doc_id")).as("ds"))
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toSet).toMap
      val want = docs
        .flatMap { case (text, id) => text.split(" ").filter(_.nonEmpty).map(_ -> id) }
        .groupBy(_._1).map { case (w, ps) => w -> ps.map(_._2).toSet }
      assert(got == want)
    }
  }

  private val trafficGen: Gen[List[(String, Long, Long)]] =
    Gen.listOf(for {
      key <- Gen.oneOf("k1", "k2", "k3")
      up <- Gen.choose(0L, 1000L)
      down <- Gen.choose(0L, 1000L)
    } yield (key, up, down))

  test("group-by sums ≡ sequential fold (hw1 semantics)") {
    forAll(trafficGen) { rows =>
      whenever(rows.nonEmpty) {
        import spark.implicits._
        val got = rows.toDF("phone", "up", "down")
          .groupBy(col("phone"))
          .agg(sum(col("up")).as("u"), sum(col("down")).as("d"),
            sum(col("up") + col("down")).as("t"))
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
        val want = rows.groupBy(_._1).map { case (k, rs) =>
          val u = rs.map(_._2).sum; val d = rs.map(_._3).sum
          k -> ((u, d, u + d))
        }
        assert(got == want)
      }
    }
  }

  // random cell histories: per (rowkey, qualifier) cell a distinct-version
  // mix of puts and tombstones
  private val cellsGen: Gen[List[(String, String, String, Option[String], Long)]] =
    Gen.listOf(for {
      rk <- Gen.oneOf("r1", "r2")
      q <- Gen.oneOf("q1", "q2")
      v <- Gen.choose(1L, 6L)
      tomb <- Gen.oneOf(true, false)
    } yield (rk, "f", q, if (tomb) None else Some(s"v$v"), v))
      .map(_.distinctBy(c => (c._1, c._3, c._5))) // one op per (cell, version)

  test("tombstone resolution ≡ sequential reference fold on random cell histories") {
    forAll(cellsGen) { cells =>
      whenever(cells.nonEmpty) {
        import spark.implicits._
        val maxV = 2
        val df = cells.map { case (rk, f, q, v, ver) => (rk, f, q, v.orNull, ver) }
          .toDF("rowkey", "family", "qualifier", "value", "version")
        val got = graft.sources.KeyedStore.resolveCells(df, maxV).collect()
          .map(r => (r.getString(0), r.getString(2), r.getString(3), r.getLong(4))).toSet
        val want = cells.groupBy(c => (c._1, c._2, c._3)).toSeq.flatMap { case (_, cs) =>
          val tv = cs.filter(_._4.isEmpty).map(_._5).maxOption
          cs.filter(c => c._4.isDefined && tv.forall(c._5 > _))
            .sortBy(-_._5).take(maxV)
            .map(c => (c._1, c._3, c._4.get, c._5))
        }.toSet
        assert(got == want)
      }
    }
  }

  private val pairGen: Gen[(List[Int], List[Int])] = for {
    a <- Gen.listOf(Gen.choose(0, 20))
    b <- Gen.listOf(Gen.choose(0, 20))
  } yield (a, b)

  test("EXCEPT ≡ set difference; INTERSECT ≡ set intersection") {
    forAll(pairGen) { case (a, b) =>
      import spark.implicits._
      val da = a.toDF("v")
      val db = b.toDF("v")
      val ex = da.except(db).collect().map(_.getInt(0)).toSet
      val in = da.intersect(db).collect().map(_.getInt(0)).toSet
      assert(ex == (a.toSet -- b.toSet))
      assert(in == (a.toSet intersect b.toSet))
    }
  }

  test("native n-gram expressions ≡ declarative HOF forms on random docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_join, col, expr, sequence, size => asize, slice, transform, lit}
    forAll(docGen, n = 10) { docs =>
      val df = docs.toDF("text", "doc_id")
        .select(col("doc_id"), graft.functions.tokens(col("text")).as("toks"))
      val n = 3
      // HOF reference for ALL window positions (docs shorter than n yield
      // the whole doc — mirrors the native short-doc convention)
      val hofAll = df.select(col("doc_id"),
        org.apache.spark.sql.functions.when(asize(col("toks")) >= n,
          transform(sequence(lit(0), asize(col("toks")) - n),
            i => array_join(slice(col("toks"), i + 1, lit(n)), " ")))
          .otherwise(org.apache.spark.sql.functions.array(array_join(col("toks"), " ")))
          .as("grams"))
      val natAll = df.select(col("doc_id"),
        graft.functions.NGramShingles.allGramsFast(col("toks"), n).as("grams"))
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => r.getInt(0) -> r.getSeq[String](1).toList).toMap
      assert(rows(natAll) == rows(hofAll))
      // distinct mode = insertion-ordered distinct of the all mode
      val natDist = df.select(col("doc_id"),
        graft.functions.NGramShingles.shinglesFast(col("toks"), n).as("grams"))
      assert(rows(natDist) == rows(natAll).map { case (k, v) => k -> v.distinct })
    }
  }

  private val sessionGen: Gen[(List[Long], Int)] = for {
    n <- Gen.choose(0, 40)
    deltas <- Gen.listOfN(n, Gen.choose(0L, 100L))
    chunks <- Gen.choose(1, 5)
  } yield (deltas, chunks)

  test("foldSessions: chunked micro-batch folding ≡ one fold (stream/batch core)") {
    // the property every sessionization variant (batch q57, fMGWS,
    // transformWithState) relies on: feeding ordered events through the
    // transition in ANY batch partitioning yields identical closed
    // sessions, final state, and session invariants
    import graft.streaming.EventStreamJobs
    import EventStreamJobs.SessionState
    val gapMs = 30L
    val init = SessionState(0L, Long.MinValue, 0L, 0L)
    forAll(sessionGen) { case (deltas, nChunks) =>
      val ts = deltas.scanLeft(1000L)(_ + _).tail
      val evs = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }
      val (wholeSt, wholeOut) = EventStreamJobs.foldSessions(7L, evs, init, gapMs)
      val size = math.max(1, evs.size / nChunks) // sessionGen draws nChunks >= 1
      var st = init
      val out = Seq.newBuilder[EventStreamJobs.SessionOut]
      (if (evs.isEmpty) Seq(Seq.empty[(Long, Long)]) else evs.grouped(size).toSeq)
        .foreach { chunk =>
          val (st2, o) = EventStreamJobs.foldSessions(7L, chunk, st, gapMs)
          st = st2; out ++= o
        }
      assert(st == wholeSt)
      assert(out.result() == wholeOut)
      // invariants on closed sessions + open tail: counts conserve, ids
      // sequential from 1, intra-session gaps ≤ gap, inter-session > gap
      val all = wholeOut ++ EventStreamJobs.finalSession(wholeSt, 7L)
      assert(all.map(_.n_events).sum == evs.size)
      assert(all.map(_.session_id) == (1L to all.size).toSeq)
      all.foreach(s => assert(s.start_ms <= s.end_ms && s.n_events >= 1))
      all.sliding(2).foreach {
        case Seq(a, b) => assert(b.start_ms - a.end_ms > gapMs)
        case _ =>
      }
    }
  }

  private val vecGen: Gen[List[Float]] = for {
    n <- Gen.choose(1, 16)
    v <- Gen.listOfN(n, Gen.choose(-100.0f, 100.0f))
  } yield v

  test("int8 quantize/dequantize round-trip: reconstruction error <= (hi-lo)/255") {
    import spark.implicits._
    forAll(vecGen) { v =>
      val e = col("emb")
      val row = Seq(Tuple1(v.toArray)).toDF("emb")
        .select(
          graft.functions.Int8Dequantize.dequantize(
            graft.functions.Int8Quantize.quantize(e),
            array_min(e).cast("double"), array_max(e).cast("double")).as("rv"))
        .collect().head
      val rv = row.getSeq[Double](0)
      val lo = v.min.toDouble
      val hi = v.max.toDouble
      val bound = if (hi > lo) (hi - lo) / 255.0 else 0.0
      assert(rv.length == v.length)
      v.zip(rv).foreach { case (x, r) =>
        // quantization floors downward, so r ∈ [x − step, x] (+ float eps);
        // the degenerate constant vector reconstructs exactly to lo
        assert(r <= x.toDouble + 1e-9 && x.toDouble - r <= bound + 1e-9,
          s"x=$x reconstructed=$r bound=$bound (lo=$lo hi=$hi)")
      }
    }
  }

  test("histogramPercentiles ≡ buffered percentile() on random histograms") {
    // the round-11 rewrite's exactness claim, pinned on arbitrary inputs:
    // the distributed two-phase histogram + fused probe/pivot aggregate
    // must reproduce Spark's own Percentile interpolation BIT-FOR-BIT,
    // incl. ties (c > 1), negatives, magnitude spread, single-value
    // groups, and the p=0 / p=1 rank edges
    import spark.implicits._
    val ps = List(("p0", 0.0), ("p25", 0.25), ("p50", 0.5), ("p90", 0.9), ("p100", 1.0))
    val names = ps.map(_._1)
    val cellGen: Gen[List[(String, Double, Long)]] =
      Gen.nonEmptyListOf(for {
        g <- Gen.oneOf("g1", "g2")
        v <- Gen.oneOf(-5.0, -1.25, 0.0, 1.0, 2.5, 3.0, 7.0, 100.0, 1e7)
        c <- Gen.choose(1L, 4L)
      } yield (g, v, c))
    forAll(cellGen, n = 10) { cells =>
      // collapse duplicate (g, v) cells — histogramPercentiles expects a
      // proper histogram (one row per distinct value per group)
      val hist = cells.groupBy(t => (t._1, t._2)).toList
        .map { case ((g, v), l) => (g, v, l.map(_._3).sum) }
      val histDf = hist.toDF("g", "v", "c")
      val got = graft.operators.AggPack
        .histogramPercentiles(histDf, ps.toDF("name", "p"), names,
          fanAllGroups = true, grouped = true)
        .collect().map(r => r.getString(0) ->
          names.indices.map(i => r.getDouble(i + 1))).toMap
      val raw = hist.flatMap { case (g, v, c) => List.fill(c.toInt)((g, v)) }
        .toDF("g", "v")
      val want = raw.groupBy(col("g"))
        .agg(expr(s"percentile(v, array(${ps.map(_._2).mkString(",")}))").as("r"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (g, rs) =>
        rs.zip(want(g)).zipWithIndex.foreach { case ((a, b), i) =>
          assert(a == b, s"group $g ${names(i)}: histogram $a vs buffered $b " +
            "must match to the last bit")
        }
      }
    }
  }

  test("histogramPercentiles ≡ percentile() with NaN and ±Inf values") {
    // monotoneBucket must accept every double: NaN and ±Inf cannot be cast
    // to a long under ANSI mode, and NaN sorts above +Inf in both engines'
    // orders. NaN results compare by bit pattern
    import spark.implicits._
    val ps = List(("p0", 0.0), ("p25", 0.25), ("p50", 0.5), ("p90", 0.9), ("p100", 1.0))
    val names = ps.map(_._1)
    val cellGen: Gen[List[(String, Double, Long)]] =
      Gen.nonEmptyListOf(for {
        g <- Gen.oneOf("g1", "g2")
        v <- Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
          -5.0, 0.0, 2.5, 1e7, 1e19)
        c <- Gen.choose(1L, 3L)
      } yield (g, v, c))
    forAll(cellGen, n = 10) { cells =>
      val hist = cells.groupBy(t => (t._1, java.lang.Double.doubleToLongBits(t._2))).toList
        .map { case (_, l) => (l.head._1, l.head._2, l.map(_._3).sum) }
      val got = graft.operators.AggPack
        .histogramPercentiles(hist.toDF("g", "v", "c"), ps.toDF("name", "p"), names,
          fanAllGroups = true, grouped = true)
        .collect().map(r => r.getString(0) ->
          names.indices.map(i => r.getDouble(i + 1))).toMap
      val want = hist.flatMap { case (g, v, c) => List.fill(c.toInt)((g, v)) }
        .toDF("g", "v").groupBy(col("g"))
        .agg(expr(s"percentile(v, array(${ps.map(_._2).mkString(",")}))").as("r"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (g, rs) =>
        rs.zip(want(g)).zipWithIndex.foreach { case ((a, b), i) =>
          assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
            s"group $g ${names(i)}: histogram $a vs buffered $b on $hist")
        }
      }
    }
  }

  test("TopKPerKey spill path ≡ in-memory path on random keyed data") {
    import spark.implicits._
    val dataGen: Gen[List[(Int, Int)]] = for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0, 25)
        v <- Gen.choose(-1000, 1000)
      } yield (k, v))
    } yield rows
    forAll(dataGen, n = 8) { rows =>
      val df = rows.toDF("k", "v")
      // MULTISET comparison (sorted Seq), not Set: generated rows contain
      // duplicate (k,v) pairs, and a spill merge that dropped one of two
      // tied copies would collapse to the same Set and pass undetected
      def run(): Seq[(Int, Int)] =
        graft.plans.TopKPerKey(df, Seq("k"), Seq(col("v").desc, col("k")), 3)
          .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
      val inMem = run()
      spark.conf.set("spark.graft.topkPerKey.maxKeysInMemory", "2")
      try {
        val spilled = run()
        assert(spilled == inMem, s"spill path diverged on $rows")
      } finally spark.conf.unset("spark.graft.topkPerKey.maxKeysInMemory")
    }
  }
}
