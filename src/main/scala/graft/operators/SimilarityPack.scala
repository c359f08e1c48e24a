package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.{CosineSimilarity, HyperplaneSignature}

/** Similarity-search pack over `embeddings` (64-dim float vectors).
  *
  * Two paths, same output shape:
  *  - brute-force top-k: exact, the correctness baseline. The query side is
  *    small (a handful of probe vectors) and broadcast, so the "cross" join
  *    is a broadcast nested loop over one scan of the corpus — no shuffle
  *    of the big side, embarrassingly parallel at 100 TB.
  *  - LSH-bucketed ANN: sign-bit signatures from seeded pseudo-random
  *    hyperplanes; candidates share a signature band, ranked by exact
  *    cosine within buckets. Recall vs brute force is asserted in
  *    SimilaritySpec.
  */
object SimilarityPack extends QueryPack {

  private def queriesSide(spark: SparkSession, dir: String, nQueries: Int) =
    graft.Tables.embs(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Shared top-k tail: keep the k best candidates per query through the
    * custom TopKPerKeyExec (bounded k-row heaps after one key-clustered
    * exchange — no full partition sort of the losers, memory ⊥ candidate
    * count), then number the ≤ k survivors per key with a window that is
    * trivial at that size. Same output as the row_number formulation
    * (TopKPerKeySpec pins the equivalence); bigint-rank dtype contract in
    * one place.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    graft.plans.TopKPerKey(scored, Seq("q_id"),
        Seq(col("cos").desc, col("vec_id")), k)
      .withColumn("rk", row_number().over(w).cast("long"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Exact top-k neighbors (cosine) for the probe vectors. */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     nQueries: Int = 8, k: Int = 5): DataFrame = {
    CosineSimilarity.register(spark)
    val q = broadcast(queriesSide(spark, dir, nQueries))
    val corpus = graft.Tables.embs(spark, dir)
    val scored = corpus.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(CosineSimilarity.cosineFast(col("q_emb"), col("embedding")), 6).as("cos"))
    topK(scored, k)
  }

  /** nBits-bit sign signature under seeded deterministic hyperplanes —
    * native codegen expression (one fused pass per row). The planes derive
    * from (nBits, dims, seed) on every JVM identically, so nothing ships
    * with the plan. See HyperplaneSignature for the history: this was
    * first per-row hashing in interpreted HOFs, then literal planes still
    * inside 32 interpreted aggregate/zip_with walks (13.1s on sf0.1 as the
    * bench's slowest query), now generated Java.
    */
  def lshSignature(emb: Column, nBits: Int): Column =
    HyperplaneSignature.signature(emb, nBits, dims = 64, seed = 42)

  /** ANN top-k: candidates = corpus vectors sharing any 4-bit signature
    * band with the probe (32 bits, 8 bands), exact cosine re-rank within
    * candidates. One shuffle on band keys; corpus scanned once.
    *
    * Band geometry note: the testdata embeddings are near-orthogonal
    * (top-neighbor cosine ≈ 0.3-0.5), where sign-LSH is weakest — 8×4 bits
    * gives ≈0.66 expected recall at cos 0.3 while pruning ≈60% of the
    * corpus. On real clustered embeddings (near-dup cos ≥ 0.9) the same
    * code with wider bands prunes ≫99% at recall ≈1 — band/row counts are
    * the tuning surface, deliberately parameterized.
    */
  def annTopK(spark: SparkSession, dir: String,
              nQueries: Int = 8, k: Int = 5): DataFrame = {
    CosineSimilarity.register(spark) // cosineFast below needs the registry
    HyperplaneSignature.register(spark)
    val nBits = 32
    val bands = 8
    val rows = nBits / bands
    def banded(df: DataFrame, idCol: String, embCol: String) =
      df.withColumn("lsh_sig", lshSignature(col(embCol), nBits)) // computed once
        .select(col(idCol), col(embCol),
          explode(array((0 until bands).map { b =>
            struct(lit(b).as("band"),
              concat_ws("", slice(col("lsh_sig"), b * rows + 1, rows)).as("sig"))
          }: _*)).as("bk"))
    val corpus = banded(graft.Tables.embs(spark, dir), "vec_id", "embedding")
    val probes = banded(
      queriesSide(spark, dir, nQueries).withColumnRenamed("q_emb", "embedding"),
      "q_id", "embedding")
      .withColumnRenamed("embedding", "q_emb")
    val cand = corpus.as("c").join(broadcast(probes.as("p")),
        col("c.bk") === col("p.bk") && col("vec_id") =!= col("q_id"))
      .dropDuplicates("q_id", "vec_id")
      .select(col("q_id"), col("vec_id"),
        round(CosineSimilarity.cosineFast(col("q_emb"), col("embedding")), 6).as("cos"))
    topK(cand, k)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nCells` centroids
    * partitions the corpus; queries probe their `nProbe` nearest cells and
    * re-rank exactly within them. Centroids come from one k-means-style
    * refinement pass over a small seeded sample (driver-side, deterministic)
    * and ship as literals — no iterative cluster-wide training job. At
    * scale: corpus assignment is one map pass, the probe join touches
    * nProbe/nCells of the data.
    */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5,
              nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    CosineSimilarity.register(spark)
    val emb = graft.Tables.embs(spark, dir)

    // deterministic coarse quantizer: seed centroids = first nCells
    // WELL-FORMED sample vectors (same null gate as the kmeansTrain
    // seeder — a null array or null element in the first 256 rows would
    // NPE the driver-side decode); one assignment+mean refinement over a
    // 256-vector sample
    val sample = emb
      .where(col("embedding").isNotNull &&
        !exists(col("embedding"), _.isNull))
      .orderBy(col("vec_id")).limit(256)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    var centroids = sample.take(nCells).map(_.map(_.toDouble))
    def cosLocal(a: Array[Double], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val assigned = sample.map(v => (0 until nCells).maxBy(c => cosLocal(centroids(c), v)) -> v)
    centroids = (0 until nCells).map { c =>
      val members = assigned.filter(_._1 == c).map(_._2)
      if (members.isEmpty) centroids(c)
      else {
        val m = new Array[Double](members.head.length)
        members.foreach(v => (0 until m.length).foreach(i => m(i) += v(i)))
        m.map(_ / members.length)
      }
    }.toArray
    // normalize to unit length so the runtime dot-product cell ranking is
    // the same cosine metric the refinement assigned by (mean centroids
    // have unequal norms, which would bias cells toward large-norm means)
    centroids = centroids.map(unitNorm)

    ivfSearch(spark, dir, centroids, nQueries, k, nProbe)
  }

  /** IVF top-k over the q106 path: centroids come from the REAL
    * cluster-wide spherical k-means training job (kmeansTrain) instead of
    * q72's one-shot driver-sample refinement — train and search composed
    * end-to-end. Same search shape, same recall contract (SimilaritySpec).
    * The model comes from the session memo (kmeansModel): q116's semantic
    * dedup and repeated invocations reuse the same training job.
    */
  def ivfTrainedTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
                     k: Int = 5, nCells: Int = 16, nProbe: Int = 4,
                     iters: Int = 2): DataFrame = {
    CosineSimilarity.register(spark)
    val (centroids, _) = kmeansModel(spark, dir, nCells, iters)
    ivfSearch(spark, dir, centroids, nQueries, k, nProbe)
  }

  /** Shared IVF search: assign the corpus to literal unit centroids (one
    * map pass — native TopCells, one fused codegen dot-product loop per
    * row), probe each query's nProbe nearest cells, re-rank exactly.
    */
  private def ivfSearch(spark: SparkSession, dir: String,
                        centroids: Array[Array[Double]], nQueries: Int,
                        k: Int, nProbe: Int): DataFrame = {
    // register BOTH functions this plan uses — relying on the caller having
    // registered graft_cosine would make a fresh entry point fail (or pass)
    // depending on what ran earlier in the shared session
    graft.functions.TopCells.register(spark)
    CosineSimilarity.register(spark)
    val emb = graft.Tables.embs(spark, dir)
    val cents = centroids.map(_.toSeq).toSeq
    val corpus = emb.select(col("vec_id"), col("embedding"),
      element_at(graft.functions.TopCells.topCells(col("embedding"), cents, 1), 1)
        .as("cell"))
    val probes = queriesSide(spark, dir, nQueries)
      .select(col("q_id"), col("q_emb"),
        explode(graft.functions.TopCells.topCells(col("q_emb"), cents, nProbe))
          .as("cell"))
    val cand = corpus.join(broadcast(probes),
        corpus("cell") === probes("cell") && col("vec_id") =!= col("q_id"))
      .dropDuplicates("q_id", "vec_id")
      .select(col("q_id"), col("vec_id"),
        round(CosineSimilarity.cosineFast(col("q_emb"), col("embedding")), 6).as("cos"))
    topK(cand, k)
  }

  private def unitNorm(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Memoized k-means model, keyed by (application, data dir, k, iters):
    * training is deterministic given those, so every consumer of the same
    * quantizer (IVF search q106, semantic dedup q116, repeated bench runs)
    * shares ONE training job instead of each retraining from scratch — the
    * "train once, serve many" shape of a production index. `kmeansTrain`
    * below stays the raw uncached trainer (SimilaritySpec drives it
    * directly for the monotonicity/determinism contracts).
    */
  private val kmeansMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int, Int), (Array[Array[Double]], Seq[Double])]()

  private def hookEviction(spark: SparkSession): Unit =
    MemoEviction.hook(spark, "similarity") { appId =>
      kmeansMemo.keySet.removeIf(_._1 == appId)
      pcaMemo.keySet.removeIf(_._1 == appId): Unit
    }

  def kmeansModel(spark: SparkSession, dir: String, k: Int = 16,
                  iters: Int = 3): (Array[Array[Double]], Seq[Double]) = {
    hookEviction(spark)
    kmeansMemo.computeIfAbsent(
      (spark.sparkContext.applicationId, dir, k, iters),
      _ => kmeansTrain(spark, dir, k, iters))
  }

  /** Memoized PCA model — same train-once/serve-many shape as kmeansModel
    * (pcaTrain is deterministic given (dir, p, iters)).
    */
  private val pcaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int, Int), (Array[Double], Array[Array[Double]], Array[Double])]()

  def pcaModel(spark: SparkSession, dir: String, p: Int = 2, iters: Int = 50)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    hookEviction(spark)
    pcaMemo.computeIfAbsent(
      (spark.sparkContext.applicationId, dir, p, iters),
      _ => pcaTrain(spark, dir, p, iters))
  }

  /** Distributed PCA over the embedding corpus — the whitening/projection
    * model a semantic-dedup or retrieval pipeline trains alongside its
    * quantizer. Statistics pass: ONE mapPartitions sweep accumulates each
    * partition's (count, per-dim sum, upper-triangular Gramian) into a
    * single flattened array — the MLlib RowMatrix.computeGramianMatrix
    * shape, and the documented exception where per-partition imperative
    * code beats exploding dim² rows per input through a shuffle. Only
    * nPartitions × (dim² + dim + 1) doubles reach the driver (32 × ~4 KB
    * here); the driver mean-centers the covariance and extracts the top-p
    * eigenpairs by power iteration with deflation — O(p · iters · dim²)
    * on a dim×dim matrix, model-sized by construction. Deterministic:
    * fixed seed vector, fixed iteration count, no RNG.
    */
  def pcaTrain(spark: SparkSession, dir: String, p: Int = 2, iters: Int = 50)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    import spark.implicits._
    // plain t(), NOT the widened accessor: the Gramian partials merge in
    // partition order, so the scan's own geometry is part of the model's
    // determinism story — don't rebalance it here
    val stats = t(spark, dir, "embeddings").select(col("embedding"))
      .as[Array[Float]]
      .mapPartitions { it =>
        var dim = -1
        var n = 0L
        var sums: Array[Double] = null
        var gram: Array[Double] = null // upper triangular, row-major
        it.foreach { v =>
          if (dim < 0) {
            dim = v.length
            sums = new Array[Double](dim)
            gram = new Array[Double](dim * (dim + 1) / 2)
          }
          n += 1
          var i = 0
          var g = 0
          while (i < dim) {
            val xi = v(i).toDouble
            sums(i) += xi
            var j = i
            while (j < dim) { gram(g) += xi * v(j); g += 1; j += 1 }
            i += 1
          }
        }
        if (dim < 0) Iterator.empty
        else Iterator.single((n, sums, gram))
      }.collect()
    require(stats.nonEmpty,
      s"pcaTrain: embeddings table at '$dir' is empty — no statistics to train on")
    val dim = stats.head._2.length
    // a dim mismatch across partitions would silently corrupt the index
    // arithmetic of the flattened Gramian merge below — fail loudly instead
    stats.foreach { case (_, s, _) =>
      require(s.length == dim,
        s"pcaTrain: embedding dimension mismatch across partitions " +
          s"(${s.length} vs $dim) — the corpus must have one uniform dim")
    }
    val n = stats.map(_._1).sum.toDouble
    val sums = new Array[Double](dim)
    val gram = new Array[Double](dim * (dim + 1) / 2)
    stats.foreach { case (_, s, g) =>
      var i = 0
      while (i < dim) { sums(i) += s(i); i += 1 }
      i = 0
      while (i < gram.length) { gram(i) += g(i); i += 1 }
    }
    val mean = sums.map(_ / n)
    // covariance: cov(i,j) = gram(i,j)/n − mean(i)·mean(j)
    val cov = Array.ofDim[Double](dim, dim)
    var g = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = gram(g) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        g += 1; j += 1
      }
      i += 1
    }
    def matVec(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
      val out = new Array[Double](v.length)
      var r = 0
      while (r < v.length) {
        var s = 0.0; var c = 0
        while (c < v.length) { s += m(r)(c) * v(c); c += 1 }
        out(r) = s; r += 1
      }
      out
    }
    val done = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val comps = Array.newBuilder[Array[Double]]
    val eigvals = Array.newBuilder[Double]
    val work = cov.map(_.clone())
    (0 until p).foreach { _ =>
      // deterministic seed: alternating-sign ramp, never the zero vector
      var v = unitNorm(Array.tabulate(dim)(k => 1.0 + (k % 3) - (if (k % 2 == 0) 0.5 else 0.0)))
      (1 to iters).foreach { _ =>
        val av = matVec(work, v)
        // re-orthogonalize against settled components every step: deflation
        // alone leaves an O(convergence-residual) leak when the eigengap is
        // small, which shows up as non-orthogonal pairs
        done.foreach { c =>
          val d = c.zip(av).map { case (a, b) => a * b }.sum
          var k = 0
          while (k < dim) { av(k) -= d * c(k); k += 1 }
        }
        v = unitNorm(av)
      }
      val av = matVec(work, v)
      val lambda = v.zip(av).map { case (a, b) => a * b }.sum // Rayleigh quotient
      done += v
      comps += v
      eigvals += lambda
      // deflate: work ← work − λ v vᵀ
      var r = 0
      while (r < dim) {
        var s = 0
        while (s < dim) { work(r)(s) -= lambda * v(r) * v(s); s += 1 }
        r += 1
      }
    }
    (mean, comps.result(), eigvals.result())
  }

  /** Project embeddings onto trained components: score_c = (x − mean)·c.
    * Literal model, map-only — the serve path of pcaTrain.
    */
  def pcaProject(df: DataFrame, embCol: Column, mean: Array[Double],
                 comps: Array[Array[Double]]): DataFrame = {
    val centered = zip_with(embCol, typedlit(mean.toSeq),
      (x, m) => x.cast("double") - m)
    val projCols = comps.zipWithIndex.map { case (c, ci) =>
      aggregate(zip_with(centered, typedlit(c.toSeq), (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v).as(s"pc${ci + 1}")
    }
    df.select((col("*") +: projCols.toIndexedSeq): _*)
  }

  /** Cross-session model persistence: the trained quantizer written
    * through the library's OWN wide-column store, one cell per
    * (centroid, dimension) — rowkey `C####`, qualifier `d####`, value the
    * double's shortest-repr string (Double.toString → toDouble roundtrips
    * bit-exactly). The session memo covers one application; this is the
    * durable twin — train on the training cluster, serve anywhere the
    * store is readable. k·dim cells (e.g. 16×64) — model-sized by
    * construction, never corpus-sized.
    */
  def kmeansSave(spark: SparkSession, table: String, location: String,
                 centroids: Array[Array[Double]], rowkeyPrefix: String = ""): Unit = {
    import spark.implicits._
    graft.sources.KeyedStore.create(spark, table, location)
    // monotonic version: the store is append-only, and the load path
    // resolves maxVersions=1 by `version DESC` — a re-save at a reused
    // version would tie with the previous model and resolve to a silent
    // per-cell mix of old and new centroids. max(version)+1 makes the
    // newest save deterministically win (single-writer per table, like
    // compact()'s contract).
    val ver = spark.table(table).agg(max(col("version"))).head() match {
      case r if r.isNullAt(0) => 1L
      case r => r.getLong(0) + 1L
    }
    val cells = centroids.zipWithIndex.flatMap { case (c, ci) =>
      c.zipWithIndex.map { case (v, di) =>
        (f"$rowkeyPrefix%sC$ci%04d", "model", f"d$di%04d", v.toString, ver)
      }
    }.toSeq.toDF("rowkey", "family", "qualifier", "value", "version")
    graft.sources.KeyedStore.put(spark, table, cells)
  }

  def kmeansLoad(spark: SparkSession, table: String,
                 rowkeyPrefix: String = ""): Array[Array[Double]] =
    graft.sources.KeyedStore.scan(spark, table, maxVersions = 1)
      .filter(col("rowkey").startsWith(rowkeyPrefix))
      .select(col("rowkey"), col("qualifier"), col("value"))
      .collect() // k·dim cells — this IS the model, bounded by design
      .groupBy(_.getString(0))
      .toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getString(1)).map(_.getString(2).toDouble)
      }.toArray

  /** SF fingerprint (graft.Tables.sfTag) keying the model dumps written to
    * the shared oracle-aux location below, so a bench run at another SF can
    * never clobber the rows the sf0.01 oracle compare is about to read.
    */
  private def sfTag(spark: SparkSession, dir: String): Long =
    graft.Tables.sfTag(spark, dir)

  /** Shared location for driver-oracle auxiliary dumps: the oracle SQL
    * recomputes model-dependent results straight off these files (DuckDB
    * `read_parquet` needs a constant path, so the SF keying lives in the
    * rows/rowkeys, not the path). Conf-derived (see Tables.oracleAuxDir):
    * Verify roots it under its own out_dir so the DuckDB check never
    * depends on a /tmp shared between build and check; the oracle SQL
    * writes Tables.AuxPlaceholder and Verify substitutes the real root.
    */
  private def oracleAuxDir(spark: SparkSession): String =
    graft.Tables.oracleAuxDir(spark)

  /** q125 — the kmeansSave→kmeansLoad round-trip under the driver's oracle:
    * train (session-memoized, the same quantizer q106/q116 serve), persist
    * through the library's own KeyedStore, load back with maxVersions=1
    * resolution, and emit the served cells. DuckDB independently re-resolves
    * the newest version per cell from the RAW store parquet — so version
    * resolution, the monotonic re-save contract, and string round-tripping
    * are all cross-checked — while `matches_trained` is computed Spark-side
    * as bit-exact equality of the loaded model with the in-session trained
    * one (the oracle pins it true for every cell of the grid; a stale or
    * mixed load flips rows to false and fails the hash).
    */
  def kmeansPersistRoundtrip(spark: SparkSession, dir: String,
                             nCells: Int = 16, iters: Int = 2,
                             table: String = "graft_kmeans_model_store",
                             location: String = "",
                             compactAfter: Int = 8): DataFrame = {
    import spark.implicits._
    val loc =
      if (location.nonEmpty) location else s"${oracleAuxDir(spark)}/kmeans_store"
    val (centroids, _) = kmeansModel(spark, dir, nCells, iters)
    val prefix = f"S${sfTag(spark, dir)}%09d#"
    kmeansSave(spark, table, loc, centroids, prefix)
    // store maintenance in production position: each save appends one
    // generation — past `compactAfter` LIVE generations, major-compact down
    // to the newest 3 versions per cell (read amplification stays bounded;
    // the newest save — what load and the oracle resolve — is untouched).
    // The trigger counts generations actually present, NOT the monotonic
    // version counter: versions survive compaction un-renumbered, so a
    // counter threshold would flip permanently true after the first
    // compaction and pay a full store rewrite on every later save. With
    // the generation count the steady state oscillates in [3, compactAfter]
    // — bounded reads AND amortized rewrites, so long bench sessions see a
    // stable q125 median instead of a slow climb (or a constant rewrite
    // tax) as saves accumulate.
    val generations = spark.table(table).select(col("version")).distinct().count()
    if (generations > compactAfter)
      graft.sources.KeyedStore.compact(spark, table, 3)
    val loaded = kmeansLoad(spark, table, prefix)
    loaded.zipWithIndex.flatMap { case (c, ci) =>
      c.zipWithIndex.map { case (v, di) =>
        (f"$prefix%sC$ci%04d", f"d$di%04d", v.toString, v == centroids(ci)(di))
      }
    }.toSeq.toDF("rowkey", "qualifier", "value", "matches_trained")
      .orderBy(col("rowkey"), col("qualifier"))
  }

  /** q126 — train→project end-to-end under the driver's oracle: the PCA
    * model (session-memoized) is dumped alongside the store and the
    * projection `(x − mean)·c` is INDEPENDENTLY recomputed by DuckDB as
    * elementwise dot products over that dump, in the same left-fold term
    * order as pcaProject's aggregate(zip_with(...)). Training itself stays
    * spec-verified (deterministic power iteration, SimilaritySpec); this
    * query puts the serve path — the map-only projection every consumer
    * runs — under the hash gate. Re-runs append rows stamped with a write
    * time; the oracle resolves newest-per-part (the kmeans-store version
    * rule), so a model retrained by newer code supersedes stale dumps.
    */
  def pcaProjection(spark: SparkSession, dir: String, p: Int = 2): DataFrame = {
    import spark.implicits._
    val (mean, comps, _) = pcaModel(spark, dir, p)
    val tag = sfTag(spark, dir)
    val ts = System.currentTimeMillis()
    val dumpPath = s"${oracleAuxDir(spark)}/pca_model"
    val dumpP = new org.apache.hadoop.fs.Path(dumpPath)
    val fs = dumpP.getFileSystem(spark.sessionState.newHadoopConf())
    // crashed-swap recovery BEFORE the append: the compaction below only
    // runs past the file-count gate, so without this unconditional check
    // a crash that left the sole copy in _old would be masked by the
    // fresh append recreating the live dir (and the next compaction
    // would then drop _old as stale)
    graft.sources.AtomicSwap.recover(fs, dumpP, "pca dump compaction")
    (("mean", mean.toSeq) +: comps.toSeq.zipWithIndex.map { case (c, i) =>
        (s"pc${i + 1}", c.toSeq)
      })
      .map { case (part, vals) => (tag, part, vals, ts) }
      .toDF("tag", "part", "vals", "ts")
      .coalesce(1).write.mode("append").parquet(dumpPath)
    // dump maintenance: appends add one tiny file per invocation; past 64
    // DATA files (only *.parquet counts — _SUCCESS/metadata don't age),
    // collapse to the newest row per (tag, part) — model-sized by
    // construction (#tags × (p+1) rows). The rewrite is the
    // KeyedStore.compact swap (write sibling tmp, rename live→old,
    // tmp→live, drop old): a crash at any step leaves every model
    // generation recoverable in exactly one of live/tmp/old, never a
    // half-deleted dir — in-place overwrite (delete-then-write) would
    // destroy all generations if it died mid-write.
    val nDataFiles =
      if (fs.exists(dumpP))
        fs.listStatus(dumpP).count(_.getPath.getName.endsWith(".parquet"))
      else 0
    if (nDataFiles > 64) {
      import org.apache.spark.sql.expressions.Window
      graft.sources.AtomicSwap.replaceDir(fs, dumpP, "pca dump compaction") { tmp =>
        spark.read.parquet(dumpPath)
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
            Window.partitionBy(col("tag"), col("part")).orderBy(col("ts").desc)))
          .filter(col("rn") === 1).drop("rn")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      }
    }
    pcaProject(graft.Tables.embs(spark, dir).select(col("vec_id"), col("embedding")),
        col("embedding"), mean, comps)
      .select(col("vec_id"),
        round(col("pc1"), 6).as("pc1"), round(col("pc2"), 6).as("pc2"))
      .orderBy(col("vec_id"))
  }

  /** Distributed spherical k-means (Lloyd) — the cluster-wide training
    * job the q72 IVF quantizer's one-shot sample refinement stands in
    * for. Each iteration is ONE corpus map pass (assignment against k
    * literal unit centroids — argmax dot product, which under unit
    * centroids is argmax cosine) plus a two-phase per-dimension mean
    * aggregation: only (cell, dim) partial sums cross the shuffle — k·dim
    * rows, never a vector — and the k·dim model (here 16×64 doubles)
    * returns to the driver per iteration, the classic Spark ML shape with
    * a bounded driver footprint by construction. The update averages each
    * member's UNIT vector, not its raw components: the objective is mean
    * cosine = mean(unit(x)·c), and the unit centroid maximizing it is
    * normalize(Σ unit(x)) — averaging raw vectors would let one large-norm
    * member drag the centroid and break monotonicity when input norms
    * vary. Seeds are the k lowest-vec_id vectors (deterministic); empty
    * cells keep their centroid. Returns (unit centroids, per-iteration
    * mean cosine) — Lloyd guarantees the mean cosine is non-decreasing
    * (asserted in SimilaritySpec along with determinism).
    *
    * BIT-DETERMINISTIC REDUCTION (the pcaTrain precedent): the update's
    * float sums are folded in an order fixed by the DATA, not the cluster —
    * the corpus is hash-repartitioned on vec_id into a fixed 16 partitions
    * (independent of file splits and core count) and sorted within each,
    * one mapPartitions pass accumulates per-partition (cell, dim) partial
    * sums plus the cost numerator in that order, and the driver merges the
    * ≤16 partials in partition-index order. A distributed avg() here would
    * instead merge map-side partials in shuffle-ARRIVAL order, which varies
    * run to run — the q106 output then can't be golden-pinned. Cost: one
    * extra exchange of the corpus at train start (once per session via
    * kmeansModel); partials are nPartitions × k·(dim+1) doubles — model-
    * sized, never corpus-sized.
    */
  def kmeansTrain(spark: SparkSession, dir: String, k: Int = 16,
                  iters: Int = 3): (Array[Array[Double]], Seq[Double]) = {
    import spark.implicits._
    graft.functions.TopCells.register(spark)
    CosineSimilarity.register(spark)
    val nParts = 16
    // plain t(), NOT the widened accessor: training fixes its own fold
    // geometry (fixed 16-partition hash + sortWithinPartitions) — an
    // upstream rebalance would only add a second exchange
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .repartition(nParts, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .cache()
    // seed from the first k WELL-FORMED embeddings: a null array or null
    // element among the first k rows would NPE the driver-side toDouble
    // (the training loop below drops such rows via the TopCells null gate)
    var centroids: Array[Array[Double]] = emb
      .where(col("embedding").isNotNull &&
        !exists(col("embedding"), _.isNull))
      .orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      .map(unitNorm)
    // an all-malformed (or empty) table would otherwise surface later as
    // an opaque NoSuchElementException from the first fold — fail at the
    // input gate with the actual cause instead
    require(centroids.nonEmpty,
      "k-means: no well-formed embeddings to seed from " +
        "(every row is null, has null elements, or the table is empty)")
    val costs = Seq.newBuilder[Double]
    (1 to iters).foreach { _ =>
      val cents = centroids.map(_.toSeq).toSeq
      // native assignment (TopCells: one fused dot-product loop per row —
      // the same codegen path the IVF search uses) + native cosine to the
      // assigned centroid for the objective (centroids are unit-norm, so
      // cosine ≡ dot / |emb|)
      val partials = emb
        .select(col("vec_id"), col("embedding"),
          element_at(graft.functions.TopCells.topCells(col("embedding"), cents, 1), 1)
            .as("cell"))
        // TopCells yields NULL for malformed embeddings (wrong dims, null
        // elements) — drop them rather than crash the non-nullable typed
        // decode below; cosineFast yields NULL for a ZERO-NORM embedding,
        // which per the fold's convention counts toward the mean's
        // denominator but contributes zero — so its objective term is 0,
        // not a decode crash
        .where(col("cell").isNotNull)
        .select(col("cell"),
          coalesce(CosineSimilarity.cosineFast(col("embedding"),
            element_at(typedlit(cents), col("cell") + 1)), lit(0.0)).as("cos"),
          // |x| for the unit-normalized update below (interpreted HOF, but
          // this is a once-per-iteration training pass, not a query path)
          sqrt(aggregate(col("embedding"), lit(0.0),
            (a, x) => a + x.cast("double") * x.cast("double"))).as("nrm"),
          col("embedding"))
        .as[(Int, Double, Double, Array[Float])]
        .mapPartitions { it =>
          // fold in the partition's stored (vec_id-sorted) order; zero-norm
          // vectors count toward the mean's denominator but contribute zero
          // components, matching unitNorm's zero-vector convention
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var n = 0L
          var cosSum = 0.0
          val counts = new Array[Long](k)
          var sums: Array[Array[Double]] = null
          it.foreach { case (cell, cos, nrm, v) =>
            if (sums == null) sums = Array.ofDim[Double](k, v.length)
            n += 1; cosSum += cos; counts(cell) += 1
            if (nrm > 0) {
              var d = 0
              while (d < v.length) { sums(cell)(d) += v(d) / nrm; d += 1 }
            }
          }
          if (n == 0) Iterator.empty
          else Iterator.single((pid, n, cosSum,
            counts.toSeq, sums.map(_.toSeq).toSeq))
        }
        .collect().sortBy(_._1) // merge in partition-index order
      val dim = partials.head._5.head.length
      val counts = new Array[Long](k)
      val sums = Array.ofDim[Double](k, dim)
      var n = 0L
      var cosSum = 0.0
      partials.foreach { case (_, pn, pcos, pcounts, psums) =>
        n += pn; cosSum += pcos
        var c = 0
        while (c < k) {
          counts(c) += pcounts(c)
          var d = 0
          while (d < dim) { sums(c)(d) += psums(c)(d); d += 1 }
          c += 1
        }
      }
      costs += cosSum / n
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else unitNorm(sums(c).map(_ / counts(c)))
      }.toArray
    }
    emb.unpersist()
    (centroids, costs.result())
  }

  /** q128 — ANN over the ARCHIVED corpus: exact top-k where the corpus
    * side is reconstructed from its int8 min-max quantization (q74's
    * storage form, 4 bytes/dim → 1) and only the probe side keeps the
    * original floats — the archive-then-serve economics of a vector store
    * that quantizes at rest. Dequantization x' = lo + q·(hi−lo)/255 is a
    * deterministic IEEE sequence, so unlike every other ANN variant this
    * one is FULLY oracle-checked: DuckDB replays quantize → dequantize →
    * cosine → top-k bit-for-bit (the cosine oracle mirrors the native
    * expression's separate dot/|x|²/|y|² accumulators and final
    * dot/sqrt(nx·ny)). Ranking fidelity vs the full-precision q70 is
    * additionally asserted in SimilaritySpec.
    */
  def annQuantizedTopK(spark: SparkSession, dir: String,
                       nQueries: Int = 8, k: Int = 5): DataFrame = {
    CosineSimilarity.register(spark)
    graft.functions.Int8Quantize.register(spark)
    graft.functions.Int8Dequantize.register(spark)
    val e = col("embedding")
    val recon = graft.Tables.embs(spark, dir)
      .select(col("vec_id"),
        array_min(e).cast("double").as("lo"), array_max(e).cast("double").as("hi"),
        graft.functions.Int8Quantize.quantize(e).as("q"))
      .select(col("vec_id"),
        graft.functions.Int8Dequantize.dequantize(col("q"), col("lo"), col("hi"))
          .as("rv"))
    val probes = broadcast(queriesSide(spark, dir, nQueries)
      .select(col("q_id"), col("q_emb").cast("array<double>").as("q_emb")))
    val scored = recon.join(probes, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(CosineSimilarity.cosineFast(col("q_emb"), col("rv")), 6).as("cos"))
    topK(scored, k)
  }

  /** Int8 min-max scalar quantization of embeddings — the storage-
    * reduction pass a training pipeline runs before archiving vectors
    * (4 bytes/dim → 1). Per-vector affine map to [0,255]; `floor` (never
    * `round`) so no cross-engine round-half-tie semantics can bite, and
    * every element is cast to double BEFORE the map so Spark and DuckDB run
    * the identical IEEE op sequence. Map-only, no shuffle; the per-element
    * loop is the native Int8Quantize expression (one fused codegen pass —
    * the declarative transform chain is CodegenFallback in Spark 4);
    * lo/hi ride along from codegen'd array_min/array_max.
    */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Int8Quantize.register(spark)
    val emb = col("embedding")
    graft.Tables.embs(spark, dir)
      .select(col("vec_id"),
        round(array_min(emb).cast("double"), 6).as("lo"),
        round(array_max(emb).cast("double"), 6).as("hi"),
        // comma-joined, not a raw array<int>: the oracle compare handles
        // only scalar columns (element order is positional, so the join
        // is lossless)
        array_join(graft.functions.Int8Quantize.quantize(emb)
          .cast("array<string>"), ",").as("q_csv"))
      .orderBy(col("vec_id"))
  }

  val queries = Map(
    "q70_ann_bruteforce_topk" -> ((s: SparkSession, d: String) => bruteForceTopK(s, d)),
    "q71_ann_lsh_topk" -> ((s: SparkSession, d: String) => annTopK(s, d)),
    "q72_ann_ivf_topk" -> ((s: SparkSession, d: String) => ivfTopK(s, d)),
    "q106_ann_ivf_trained_topk" -> ((s: SparkSession, d: String) => ivfTrainedTopK(s, d)),
    "q125_kmeans_persist_roundtrip" ->
      ((s: SparkSession, d: String) => kmeansPersistRoundtrip(s, d)),
    "q126_pca_projection" -> ((s: SparkSession, d: String) => pcaProjection(s, d)),
    "q128_ann_quantized_topk" -> ((s: SparkSession, d: String) => annQuantizedTopK(s, d)),
    "q74_embedding_quantize" -> quantizeEmbeddings _)

  val oracle = Map(
    "q70_ann_bruteforce_topk" ->
      """SELECT q_id, vec_id, cos, rk FROM (
        |  SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM (
        |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
        |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                   CAST(c.embedding AS DOUBLE[])), 6) AS cos
        |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id < 8) s) t
        |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
    "q74_embedding_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_min(CAST(embedding AS DOUBLE[])) AS lo,
        |    list_max(CAST(embedding AS DOUBLE[])) AS hi
        |  FROM embeddings)
        |SELECT vec_id, round(lo, 6) AS lo, round(hi, 6) AS hi,
        |  array_to_string(list_transform(emb, x -> CAST(CASE WHEN hi = lo THEN 0
        |    ELSE least(255, floor((x - lo) / (hi - lo) * 255.0)) END AS INT)), ',')
        |    AS q_csv
        |FROM m ORDER BY vec_id""".stripMargin,
    "q125_kmeans_persist_roundtrip" ->
      // re-resolve the newest version per cell straight off the RAW store
      // parquet (KeyedStore's maxVersions=1 read, replayed in SQL) for the
      // grid this SF's fingerprint owns; matches_trained is pinned true —
      // the Spark side computes it against the in-session trained model
      """WITH resolved AS (
        |  SELECT rowkey, qualifier, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY rowkey, family, qualifier
        |                                 ORDER BY version DESC) AS rn
        |    FROM read_parquet('__GRAFT_AUX__/kmeans_store/*.parquet')
        |    WHERE value IS NOT NULL
        |      AND starts_with(rowkey,
        |        'S' || lpad(CAST((SELECT count(*) FROM lineitem) AS VARCHAR), 9, '0') || '#')
        |    ) t
        |  WHERE rn = 1)
        |SELECT rowkey, qualifier, value, true AS matches_trained FROM resolved
        |ORDER BY rowkey, qualifier""".stripMargin,
    "q126_pca_projection" ->
      // recompute the projection as explicit dot products over the dumped
      // model: per-element (x − mean)·c terms in index order, folded
      // sequentially (list_reduce) — the identical IEEE op sequence as
      // pcaProject's aggregate(zip_with(...)) left fold
      """WITH model AS (
        |  SELECT part, vals FROM (
        |    SELECT *, row_number() OVER (PARTITION BY part ORDER BY ts DESC) AS rn
        |    FROM read_parquet('__GRAFT_AUX__/pca_model/*.parquet')
        |    WHERE tag = (SELECT count(*) FROM lineitem)) t
        |  WHERE rn = 1)
        |SELECT e.vec_id,
        |  round(list_reduce(list_transform(range(1, 65),
        |    i -> (CAST(e.embedding[i] AS DOUBLE) - m.mv[i]) * c1.v1[i]),
        |    (a, b) -> a + b), 6) AS pc1,
        |  round(list_reduce(list_transform(range(1, 65),
        |    i -> (CAST(e.embedding[i] AS DOUBLE) - m.mv[i]) * c2.v2[i]),
        |    (a, b) -> a + b), 6) AS pc2
        |FROM embeddings e
        |CROSS JOIN (SELECT vals AS mv FROM model WHERE part = 'mean') m
        |CROSS JOIN (SELECT vals AS v1 FROM model WHERE part = 'pc1') c1
        |CROSS JOIN (SELECT vals AS v2 FROM model WHERE part = 'pc2') c2
        |ORDER BY e.vec_id""".stripMargin,
    "q128_ann_quantized_topk" ->
      // quantize → dequantize → cosine → top-k, replayed end-to-end: the
      // folds mirror the native cosine's separate accumulators and
      // dot/sqrt(nx·ny) finish; quantization is q74's exact oracle form
      """WITH m AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_min(CAST(embedding AS DOUBLE[])) AS lo,
        |    list_max(CAST(embedding AS DOUBLE[])) AS hi
        |  FROM embeddings),
        |r AS (
        |  SELECT vec_id,
        |    list_transform(emb, x -> lo + (CAST(CASE WHEN hi = lo THEN 0
        |      ELSE least(255, floor((x - lo) / (hi - lo) * 255.0)) END AS DOUBLE)
        |      * (hi - lo)) / 255.0) AS rv
        |  FROM m),
        |s AS (
        |  SELECT q.vec_id AS q_id, r.vec_id AS vec_id,
        |    round(
        |      list_reduce(list_transform(range(1, 65), i -> q.qe[i] * r.rv[i]),
        |                  (a, b) -> a + b) /
        |      sqrt(list_reduce(list_transform(range(1, 65), i -> q.qe[i] * q.qe[i]),
        |                       (a, b) -> a + b) *
        |           list_reduce(list_transform(range(1, 65), i -> r.rv[i] * r.rv[i]),
        |                       (a, b) -> a + b)), 6) AS cos
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qe
        |        FROM embeddings WHERE vec_id < 8) q
        |  JOIN r ON r.vec_id <> q.vec_id)
        |SELECT q_id, vec_id, cos, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM s) t
        |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin)
  // q71: no oracle — approximate; recall vs q70 asserted in SimilaritySpec.
}
