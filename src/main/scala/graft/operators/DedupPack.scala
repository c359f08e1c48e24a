package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Deduplication pack over `documents`/`embeddings` — the operators a
  * training-data pipeline runs before anything else.
  *
  * Scale design: every variant is join-on-key, never doc×doc. Exact dedup
  * shuffles on a text hash (not the text itself); n-gram jaccard joins on
  * shingles so cost is Σ postings², bounded by shingle frequency; MinHash
  * LSH joins on band buckets (constant signatures per doc) and only
  * verifies candidates; simhash joins on band keys of the bit signature.
  * Brute-force O(n²) appears nowhere except as the small-side verifier.
  */
object DedupPack extends QueryPack {

  /** Constants shared between the jaccard/span operators and their oracle
    * SQL (string-interpolated into the `oracle` map below — the WinnowW
    * pattern) so the two sides cannot drift; a caller passing non-default
    * values is a different query and must bring its own oracle.
    */
  val JaccardThreshold = 0.5
  val DfCap = 100
  val SpanN = 8

  /** Sign-LSH band width (bits per band) for a corpus of n vectors: the
    * smallest r whose 2^r buckets hold expected occupancy ≤ `targetOcc`,
    * clamped to [4, 16]. Fixed geometry saturates — occupancy grows
    * linearly in n and blocked pairs quadratically (measured exponent 1.18
    * at 10×, docs/SCALE_MEASURED.md); deriving r = ⌈log₂(n/targetOcc)⌉
    * pins occupancy and keeps blocked pairs ≈ bands·n·targetOcc/2, linear
    * in n. The floor of 4 makes the rule identity at every driver SF.
    */
  def autoLshRows(n: Long, targetOcc: Long = 128L): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOcc)) / math.log(2.0)).toInt
    math.min(16, math.max(4, needed))
  }

  /** k-means cell count for semantic-dedup blocking of n vectors: cells
    * grow linearly (⌈n/targetOcc⌉, clamped to [8, 65536]) so per-cell
    * occupancy — and with it the blocked cosine-pair budget
    * ≈ nProbe²·n·targetOcc/2 — stays constant as the corpus grows. At a
    * fixed k the pair budget is n²·nProbe²/(2k), the quadratic the
    * sf0.1→sf1 rehearsal measured as a near-9× step. The floor of 8 makes
    * the rule identity at every driver SF (500/500/2000 → 8).
    */
  def autoCells(n: Long, targetOcc: Long = 256L): Int =
    math.min(65536, math.max(8, math.ceil(n.toDouble / targetOcc).toInt))

  /** Exact dedup: keep the smallest doc_id per distinct text, counting
    * copies. Grouping directly on md5(text) keeps shuffle rows narrow — at
    * 100 TB the text column never crosses the wire.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.docs(spark, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("n_copies"))
      .orderBy(col("keep_doc_id"))

  /** (doc_id, shingle-hash) pairs, one per DISTINCT shingle per document —
    * the universe the df cap counts over. Joining on the 64-bit hash, not
    * the string, keeps every downstream shuffle moving 8-byte keys instead
    * of ~20-byte text. So q66, q117, q127 and q135 are exact only up to
    * the collision odds over n distinct shingles, ≈ n²/2⁶⁵ (README,
    * "Hashed keys"); a collision merges two shingles.
    */
  private def rawShingles(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.docs(spark, dir)
      .select(col("doc_id"),
        explode(NGramShingles.shinglesFast(tokens(col("text")), 3)).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
  }

  /** The capped shingle universe shared by every exact jaccard variant:
    * (doc_id, shingle-hash) pairs with hot shingles (document frequency >
    * dfCap) removed. See dedupJaccard for why the cap exists.
    */
  private def cappedShingles(spark: SparkSession, dir: String, dfCap: Int): DataFrame = {
    val raw = rawShingles(spark, dir)
    // document frequency via a window over the SAME shingle-partitioned
    // exchange the self-join needs: every consumer of `sh` (both join
    // sides, the sizes aggregate) canonicalizes to an identical subplan,
    // so ReuseExchange materializes the scan→tokenize→shingle→explode
    // subtree exactly once and the window/filter re-read its shuffle
    // output (a separate hot-list aggregation would be one more full pass
    // over every document). Plan-asserted in DedupSpec.
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    raw
      .withColumn("df", count(lit(1)).over(byShingle))
      .filter(col("df") <= dfCap)
      .drop("df")
  }

  /** Shared report tail of the jaccard family (q66/q117/q127/q135): score
    * candidate pairs against per-doc shingle-set sizes and emit the
    * thresholded, deterministically-ordered pair report. One definition so
    * a threshold-semantics or denominator change can't be applied to three
    * of the four call sites and silently drift from the shared oracle.
    *
    * `pairs` carries (leftCol, rightCol, inter); `sizes` carries doc_id
    * and n for the docs of both sides.
    */
  private def jaccardReport(pairs: DataFrame, sizes: DataFrame, leftCol: String,
                            rightCol: String, threshold: Double): DataFrame =
    pairs
      .join(sizes.as("s1"), col(leftCol) === col("s1.doc_id"))
      .join(sizes.as("s2"), col(rightCol) === col("s2.doc_id"))
      .select(col(leftCol), col(rightCol),
        (col("inter").cast("double") /
          (col("s1.n") + col("s2.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col(leftCol), col(rightCol))

  /** Exact 3-gram Jaccard near-dup pairs (threshold 0.5) via shingle join:
    * explode distinct shingles → self-join on shingle → count intersections
    * → |A∩B| / (|A|+|B|-|A∩B|). This is the ground-truth near-dup set the
    * sketch variants approximate.
    *
    * Hot-shingle cap: a shingle shared by f docs contributes f²/2 rows to
    * the self-join, so one stop-word-like shingle with f=10⁶ yields 10¹²
    * candidate pairs at corpus scale. Shingles with document frequency
    * above `dfCap` are dropped from the shingle universe (sizes AND
    * intersections — jaccard stays internally consistent, now over the
    * discriminative shingles only), bounding every shingle's join fan-out
    * at dfCap²/2. The DuckDB oracle applies the identical cap; at the test
    * SFs no shingle comes near it (max df: 7 at sf0.01, 25 at sf0.1 —
    * DedupSpec proves cap-insensitivity), so the cap only changes behavior
    * where the uncapped join would melt down anyway.
    */
  def dedupJaccard(spark: SparkSession, dir: String, threshold: Double = JaccardThreshold,
                   dfCap: Int = DfCap): DataFrame = {
    val sh = cappedShingles(spark, dir, dfCap)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    jaccardReport(pairs, sizes, "d1", "d2", threshold)
  }

  /** MinHash + LSH near-dup pairs: 16-hash signatures, 4 bands × 4 rows.
    * Candidates = docs sharing a band bucket; candidates are then verified
    * with the true jaccard of their shingle sets (computed on the candidate
    * pairs only — the expensive compare never runs doc×doc). Same output
    * shape as dedupJaccard; recall is probabilistic (asserted ≥ bound in
    * DedupSpec), precision is exact thanks to verification.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String, threshold: Double = JaccardThreshold): DataFrame = {
    val docs = graft.Tables.docs(spark, dir)
      .select(col("doc_id"), NGramShingles.shinglesFast(tokens(col("text")), 3).as("sh"))
    val sig = docs.select(col("doc_id"),
      MinHashSig.minhashFast(col("sh"), 16).as("sig"))
    // only (doc_id, band key) crosses the candidate-join shuffle — the
    // shingle arrays are fetched AFTER dedup, for candidate pairs only
    val banded = sig.select(col("doc_id"),
      explode(lshBands(col("sig"), 4, 4)).as("band"))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    // ONE shingle fetch for both pair sides (round 11): melt each
    // candidate pair to two (pair, doc_id) rows and join `docs` once —
    // the two per-side joins each re-ran the scan→tokenize→shingle
    // subtree (3 corpus tokenizations incl. the signature pass; now 2)
    // and each moved the corpus's shingle arrays through its own
    // exchange (now one, and only matched rows reach the pair regroup).
    // first(when…, ignoreNulls) is deterministic: d1 < d2 strictly, so
    // exactly one melted row matches each side.
    val melted = candidates.select(col("d1"), col("d2"),
      explode(array(col("d1"), col("d2"))).as("doc_id"))
    melted.join(docs, "doc_id")
      .groupBy(col("d1"), col("d2"))
      .agg(
        first(when(col("doc_id") === col("d1"), col("sh")), ignoreNulls = true).as("sh1"),
        first(when(col("doc_id") === col("d2"), col("sh")), ignoreNulls = true).as("sh2"))
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** SimHash near-dup pairs: packed 64-bit signatures (native SimHash64
    * expression — one hash pass per doc), 4 bands of 16 bits as LSH keys
    * (a ≤3-bit-different pair shares ≥1 exact band), verified by
    * bit_count(xor) hamming distance ≤ maxHamming.
    */
  def dedupSimhash(spark: SparkSession, dir: String, maxHamming: Int = 6): DataFrame = {
    val sig = graft.Tables.docs(spark, dir)
      .select(col("doc_id"), SimHash64.simhash64(tokens(col("text"))).as("sig"))
    // 4 fixed 16-bit band keys — literal shifts, no per-row hashing
    val banded = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("bucket"))
      }: _*)).as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .dropDuplicates("d1", "d2")
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("d1"), col("d2"))
  }

  /** Connected components over an undirected pair list `(d1, d2)`: every
    * node labeled with its component's minimum id. Min-label propagation
    * WITH POINTER JUMPING — each round a node adopts the min of its own
    * label, its neighbors' labels, and its label's label (path-halving on
    * the label forest), so rounds are O(log diameter), not O(diameter):
    * a 1000-link near-dup chain converges in ~10 rounds where plain
    * propagation needs 1000. Proven on crafted path graphs in DedupSpec.
    *
    * Scale shape: ONE Spark job per round. The changed-row count is folded
    * into the propagation aggregate (each node carries its old label
    * through the round), so the convergence probe is the same action that
    * materializes the round — no separate driver job. Rounds are cached
    * and the superseded round is unpersisted DETERMINISTICALLY as soon as
    * the next one materializes (leaked blocks tax every later query's GC
    * in a shared session); every 3rd round localCheckpoints instead,
    * truncating lineage so no round's plan nests more than 3 rounds of
    * joins (the checkpoint blocks themselves are label-table-sized and are
    * reclaimed by the ContextCleaner when the reference drops).
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    // undirected edges, both directions; cached so the (possibly
    // expensive) pair-producing job runs exactly once, not once per round
    val edges = pairs.select(col("d1"), col("d2"))
      .unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .cache()
    // seed round for free: label = min(self, direct neighbors) — one hop
    // of propagation without a convergence check
    var backing = edges
      .groupBy(col("d1").as("doc_id"))
      .agg(least(min(col("d2")), first(col("d1"))).as("label"))
      .cache()
    var backingUnpersistable = true
    var labels = backing
    var changed = true
    var rounds = 0
    while (changed && rounds < maxRounds) {
      // one aggregate computes the new label AND recovers the old one:
      // neighbor/jump candidates carry old=null, the self row carries
      // cand=old=label; min(cand) propagates, max(old) picks the unique
      // non-null old label. The action below both materializes the
      // cache/checkpoint and returns the convergence flag — one job total.
      val nullOld = lit(null).cast("long").as("old")
      val nbr = edges.join(labels, edges("d2") === labels("doc_id"))
        .select(edges("d1").as("doc_id"), col("label").as("cand"), nullOld)
      // pointer jump: adopt label(label(doc)) — every label is itself a
      // node of the same component, so it has a row in `labels`
      val jump = labels.as("a")
        .join(labels.as("b"), col("a.label") === col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.label").as("cand"), nullOld)
      val merged = nbr
        .unionAll(jump)
        .unionAll(labels.select(col("doc_id"), col("label").as("cand"),
          col("label").as("old")))
        .groupBy(col("doc_id"))
        .agg(min(col("cand")).as("label"), max(col("old")).as("old"))
      val checkpointRound = rounds % 3 == 2
      val next =
        if (checkpointRound) merged.localCheckpoint(eager = false) else merged.cache()
      changed = next
        .select(coalesce(sum(when(col("label") =!= col("old"), 1L)), lit(0L)).as("c"))
        .head().getLong(0) > 0
      if (backingUnpersistable) backing.unpersist() // superseded round, free now
      backing = next
      backingUnpersistable = !checkpointRound
      labels = next.select(col("doc_id"), col("label"))
      rounds += 1
    }
    edges.unpersist()
    if (changed) {
      if (backingUnpersistable) backing.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge after $rounds rounds " +
          s"(log₂ of the component diameter exceeds $maxRounds) — raise maxRounds")
    }
    // don't leak the final round's cache() into the shared session:
    // CacheManager pins cache entries until explicit unpersist, so snapshot
    // the result as a localCheckpoint (one cheap job off the cache; its
    // blocks ARE reclaimed by the ContextCleaner once the caller drops the
    // reference) and free the cache deterministically. A checkpoint-round
    // final result has nothing pinned and returns as-is.
    if (backingUnpersistable) {
      val result = labels.localCheckpoint(eager = true)
      backing.unpersist()
      result
    } else labels
  }

  /** Near-dup cluster index through the [[graft.Tables.memo]] (per
    * session, while `documents` keeps its signature; keyed by dir,
    * threshold and pair source) — the pair job + connected components is
    * the expensive "build the dedup index" step, and every consumer (the
    * q64 cluster listing, the q115/q124 keep-lists, repeated invocations)
    * should read the SAME built index rather than re-running the pair join
    * per query, exactly like the k-means model in SimilarityPack. The
    * memoized DataFrame is the localCheckpoint connectedComponents
    * returns, so it is already materialized — consumers replay no lineage.
    *
    * Fault-tolerance caveat: localCheckpoint blocks live on executors and
    * are NOT recoverable after executor loss — fine on local[*] and for
    * the bounded life of one query session; a cluster deployment that must
    * survive decommission persists the index through KeyedStore (the
    * kmeansSave pattern) or `checkpoint()` to reliable storage instead,
    * and a consumer hitting a missing-block error should rebuild
    * (recompute-on-failure).
    *
    * `pairSource`: "exact" = the Σ postings² jaccard self-join (ground
    * truth — the verifier); "lsh" = the MinHash-banded candidate graph
    * (the production path at scale: only (doc_id, band-key) crosses the
    * candidate shuffle, exact verification on candidates only).
    */
  def clusterIndex(spark: SparkSession, dir: String, threshold: Double = JaccardThreshold,
                   pairSource: String = "exact"): DataFrame = {
    graft.Tables.memo(spark, ("clusters", dir, threshold, pairSource),
        Seq(graft.Tables.tableSig(s"$dir/documents.parquet"))) {
      val pairs = pairSource match {
        case "exact" => dedupJaccard(spark, dir, threshold)
        case "lsh" => dedupMinhashLsh(spark, dir, threshold)
        case other => throw new IllegalArgumentException(
          s"unknown pairSource '$other' (expected 'exact' or 'lsh')")
      }
      connectedComponents(pairs.select(col("d1"), col("d2")))
    }
  }

  /** Near-dup clusters: connected components over the jaccard pair graph,
    * each doc labeled with its component's smallest doc_id — the "keep one
    * representative per duplicate cluster" output a pipeline actually
    * consumes.
    */
  def dedupClusters(spark: SparkSession, dir: String, threshold: Double = JaccardThreshold): DataFrame =
    clusterIndex(spark, dir, threshold).orderBy(col("doc_id"))

  /** Embedding near-dup pairs by cosine ≥ threshold, brute force within
    * label blocks (labels partition the space here; the unblocked scale
    * path is SimilarityPack's LSH). Threshold 0.4 is calibrated to the
    * testdata (max pairwise cosine ≈ 0.48) so the result is non-trivial.
    */
  def dedupEmbedding(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    val e = graft.Tables.embs(spark, dir)
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        round(CosineSimilarity.cosineFast(col("a.embedding"), col("b.embedding")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("v1"), col("v2"))
  }

  /** Embedding near-dup pairs WITHOUT any label blocking — the scale path
    * that q69's label-blocked brute force stands in for. Blocking =
    * sign-LSH: vectors sharing ANY band of their hyperplane signature are
    * candidates (narrow (vec_id, band-key) shuffle, like the minhash/
    * simhash variants); verification = exact cosine on candidates only, so
    * precision is exact and only recall is probabilistic. The fixture's
    * near-orthogonal embeddings are sign-LSH's weakest case (cos 0.4 →
    * per-bit agreement 0.63); 8 bands × 4 bits is calibrated for it —
    * recall ≈ 0.75 at the 0.4 threshold with real pruning, bounded in
    * DedupSpec against the unblocked brute-force ground truth. On real
    * clustered data (near-dup cos ≥ 0.9, per-bit 0.9+) the identical code
    * with the same geometry prunes ≫99% at recall ≈ 1.
    *
    * GEOMETRY MUST SCALE WITH THE CORPUS: a band of r bits has only 2^r
    * buckets, so at fixed r bucket occupancy grows linearly with n and
    * candidate pairs quadratically — the sf0.1→sf1 rehearsal measured
    * exponent 1.18 (docs/SCALE_MEASURED.md) at frozen 4-bit bands. The
    * default (`nBits = -1`) therefore derives the band width from the
    * corpus: r = clamp(⌈log₂(n/128)⌉, 4, 16) holds expected occupancy at
    * ≤ ~128 regardless of n (the blocked-pair budget stays ≈ bands·n·64,
    * linear). Identity at every driver SF (n = 500/500/2000 all derive
    * r = 4 — the calibrated geometry above, so the golden pin and the
    * DedupSpec recall bound keep meaning). Wider bands lower per-band
    * match probability p^r; on real high-agreement dup data (p ≥ 0.9)
    * recall holds, on adversarial near-orthogonal data the recall knob is
    * `bands` (OR-amplification), which stays caller-controlled.
    */
  def dedupEmbeddingLsh(spark: SparkSession, dir: String, threshold: Double = 0.4,
                        nBitsArg: Int = -1, bands: Int = 8): DataFrame = {
    val nBits =
      if (nBitsArg >= 0) nBitsArg
      else bands * autoLshRows(graft.Tables.tableCount(spark, dir, "embeddings"))
    require(nBits % bands == 0,
      s"nBits=$nBits must divide evenly into bands=$bands (trailing signature " +
        "bits would silently never participate in blocking)")
    val rows = nBits / bands
    val e = graft.Tables.embs(spark, dir).select(col("vec_id"), col("embedding"))
    // NOTE: no snapshot needed — the banded self-join's two sides are
    // canonically identical subplans, so ReuseExchange computes the
    // signature exchange once and reuses it (verified in PLANS.md)
    val sig = e.select(col("vec_id"),
      HyperplaneSignature.signature(col("embedding"), nBits).as("sig"))
    // band key = hash of one contiguous signature slice; only
    // (vec_id, band, bucket) crosses the candidate-join shuffle
    val banded = sig.select(col("vec_id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, rows)).as("bucket"))
      }: _*)).as("bk"))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .dropDuplicates("v1", "v2")
    candidates
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1")), "v1")
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")), "v2")
      .select(col("v1"), col("v2"),
        round(CosineSimilarity.cosineFast(col("e1"), col("e2")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("v1"), col("v2"))
  }

  /** Incremental dedup — the shape a production pipeline actually runs
    * every ingest: near-dups of the NEW batch against the already-indexed
    * corpus, never new×new or old×old. Here "new" = odd doc_ids and
    * "old" = even (a deterministic stand-in for an ingest boundary); the
    * join is the same capped-shingle equi-join as dedupJaccard but
    * one-directional, so its cost is Σ (new postings × old postings) per
    * shingle, and the per-shingle fan-out stays bounded by the same df
    * cap. Sizes count over the full capped universe so the jaccard
    * denominator means the same thing as in the batch job.
    *
    * This is the recompute form: both sides come from the corpus. q127
    * and q135 serve the old side from a stored index instead; all three
    * differ only in the survivor frame they hand to [[incrementalPairs]].
    */
  def dedupIncremental(spark: SparkSession, dir: String, threshold: Double = JaccardThreshold,
                       dfCap: Int = DfCap): DataFrame =
    incrementalPairs(cappedShingles(spark, dir, dfCap)
      .select(col("shingle"), col("doc_id"), (col("doc_id") % 2 === 1).as("is_new")),
      threshold)

  /** Shared serve tail of q117/q127/q135: `survivors` is the capped
    * shingle universe of both sides as (shingle, doc_id, is_new); this
    * scores new × old pairs over it. Catalyst prunes each consumer's
    * columns separately, and a consumer whose columns differ gets its own
    * copy of the survivors' subtree: one more tokenize (and, for q135,
    * one more store scan). So the sizes aggregate keys on
    * (doc_id, is_new), not doc_id alone, and the null-shingle filter the
    * join would infer for its sides only is stated for every consumer:
    * then all three read one subtree and ReuseExchange runs its shuffle
    * once (plan-asserted in DedupSpec).
    */
  private def incrementalPairs(survivors: DataFrame, threshold: Double): DataFrame = {
    val sh = survivors.filter(col("shingle").isNotNull)
    val sizes = sh.groupBy(col("doc_id"), col("is_new")).agg(count(lit(1)).as("n"))
    val pairs = sh.filter(col("is_new")).as("a")
      .join(sh.filter(!col("is_new")).as("b"), col("a.shingle") === col("b.shingle"))
      .groupBy(col("a.doc_id").as("d_new"), col("b.doc_id").as("d_old"))
      .agg(count(lit(1)).as("inter"))
    jaccardReport(pairs, sizes, "d_new", "d_old", threshold)
  }

  /** The (table, location) of a persisted shingle index. Both are keyed
    * by SF fingerprint + shingle parameters, so concurrent scale factors
    * and future semantic changes each get their own index (a stale index
    * can never masquerade as current); a non-empty override gives a spec
    * its own store.
    */
  private def indexStore(spark: SparkSession, dir: String, kind: String, dfCap: Int,
                         tableOverride: String, locationOverride: String): (String, String) = {
    val name = s"shingle_${kind}_${graft.Tables.sfTag(spark, dir)}_n3_cap${dfCap}_v2"
    (if (tableOverride.nonEmpty) tableOverride else s"graft_$name",
      if (locationOverride.nonEmpty) locationOverride
      else s"${graft.Tables.oracleAuxDir(spark)}/$name")
  }

  /** Incremental dedup served from a PERSISTED index: q117 with its old
    * side read from a KeyedStore table instead of the corpus. The old
    * (even-doc) capped-shingle postings are written ONCE — rowkey =
    * shingle hash, qualifier = doc_id, the natural inverted-index cell
    * layout, sharded by the store's (rowkey…) key like every other cell
    * table — and every invocation after the first SERVES from the store:
    * `KeyedStore.buildOnce` serves a marked store as a plain read and
    * rebuilds anything else (fresh, or partial after a crash) from the
    * corpus. The one full-corpus pass that remains is the df-cap window
    * behind the NEW side's shingle universe, because the cap counts total
    * document frequency — q117 oracle parity pins that definition (q135
    * stores per-shingle df in the index instead). The oracle is q117's
    * SQL verbatim: store-served must equal recomputed, bit for bit.
    */
  def dedupIncrementalIndexed(spark: SparkSession, dir: String,
                              threshold: Double = JaccardThreshold, dfCap: Int = DfCap,
                              tableOverride: String = "",
                              locationOverride: String = ""): DataFrame = {
    val (table, loc) = indexStore(spark, dir, "index", dfCap, tableOverride, locationOverride)
    val postings = graft.sources.KeyedStore.buildOnce(spark, table, loc) {
      cappedShingles(spark, dir, dfCap).filter(col("doc_id") % 2 === 0)
        .select(col("shingle").cast("string").as("rowkey"), lit("p").as("family"),
          col("doc_id").cast("string").as("qualifier"), lit("1").as("value"))
    }
    val newSh = cappedShingles(spark, dir, dfCap).filter(col("doc_id") % 2 === 1)
      .select(col("shingle"), col("doc_id"), lit(true).as("is_new"))
    val oldSh = postings.filter(col("family") === "p")
      .select(col("rowkey").cast("long").as("shingle"),
        col("qualifier").cast("long").as("doc_id"), lit(false).as("is_new"))
    incrementalPairs(newSh.unionByName(oldSh), threshold)
  }

  /** Incremental dedup with STORED document frequencies: the serve
    * touches ONLY the new batch and the index, never the old corpus. The
    * index persists, per shingle, both the old-side postings (family p)
    * AND the old-side df (family d, qualifier "df"):
    *
    *   df_total(s) = df_old(s, stored) + df_new(s, batch)
    *
    * which equals q117's full-corpus document frequency exactly, because
    * every document sits on exactly one side of the ingest boundary. The
    * index stays bounded: postings are stored only for df_old ≤ cap (a
    * shingle over the cap on the old side alone can never survive the
    * total cap), and the stored df is clamped to cap+1 (beyond the cap
    * only "over" matters).
    *
    * Serve: one shingle window over the batch rows ∪ the store cells
    * yields df_new (the count of new rows) and df_old (the d cell; a
    * shingle without one counts 0). A shingle has one total, so one
    * filter keeps the survivors of both sides. The universe therefore
    * shifts between ingests exactly when a shingle CROSSES the cap
    * (df_old ≤ cap but df_old + df_new > cap excludes it everywhere,
    * including from old-doc sizes) — the boundary semantics DedupSpec
    * pins. The build is q127's `KeyedStore.buildOnce` lifecycle; the
    * oracle is q117's SQL verbatim: stored-df serve must equal full
    * recompute, bit for bit.
    */
  def dedupIncrementalStoredDf(spark: SparkSession, dir: String,
                               threshold: Double = JaccardThreshold, dfCap: Int = DfCap,
                               tableOverride: String = "",
                               locationOverride: String = ""): DataFrame = {
    val (table, loc) = indexStore(spark, dir, "dfidx", dfCap, tableOverride, locationOverride)
    val cells = graft.sources.KeyedStore.buildOnce(spark, table, loc) {
      val oldSh = rawShingles(spark, dir).filter(col("doc_id") % 2 === 0)
      val dfOld = oldSh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      val postings = oldSh
        .join(dfOld.filter(col("df") <= dfCap).select(col("shingle")), "shingle")
        .select(col("shingle").cast("string").as("rowkey"), lit("p").as("family"),
          col("doc_id").cast("string").as("qualifier"), lit("1").as("value"))
      val dfCells = dfOld
        .select(col("shingle").cast("string").as("rowkey"), lit("d").as("family"),
          lit("df").as("qualifier"),
          least(col("df"), lit(dfCap + 1L)).cast("string").as("value"))
      postings.unionByName(dfCells)
    }
    val batch = rawShingles(spark, dir).filter(col("doc_id") % 2 === 1)
      .select(col("shingle"), col("doc_id"), lit(true).as("is_new"),
        lit(null).cast("long").as("d"))
    val stored = cells.select(col("rowkey").cast("long").as("shingle"),
      when(col("family") === "p", col("qualifier").cast("long")).as("doc_id"),
      lit(false).as("is_new"),
      when(col("family") === "d", col("value").cast("long")).as("d"))
    val byShingle = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    val survivors = batch.unionByName(stored)
      .withColumn("df_new", count(when(col("is_new"), 1)).over(byShingle))
      .withColumn("df_old", max(col("d")).over(byShingle))
      .filter(col("doc_id").isNotNull &&
        col("df_new") + coalesce(col("df_old"), lit(0L)) <= dfCap)
    incrementalPairs(survivors.select(col("shingle"), col("doc_id"), col("is_new")), threshold)
  }

  /** Keep-list — the deliverable the whole dedup family exists to produce:
    * per source, how many documents survive near-dup collapse (one
    * representative — the component-minimum doc_id — per cluster; docs in
    * no cluster keep themselves). The final step is a plain equi-join on
    * doc_id: at a real 100 TB dup rate the cluster table is billions of
    * rows, so no broadcast hint — AQE picks broadcast at runtime iff it
    * actually fits.
    *
    * Two compositions, one shape: `pairSource = "lsh"` (q124) builds the
    * cluster index from the bucketed MinHash candidate graph — the
    * PRODUCTION composition, whose pair step never runs the Σ postings²
    * self-join; `pairSource = "exact"` (q115) composes the exact jaccard
    * pair graph and serves as the oracle-checked ground-truth twin the LSH
    * keep-list is recall-bounded against in DedupSpec.
    */
  def dedupKeepList(spark: SparkSession, dir: String, threshold: Double = JaccardThreshold,
                    pairSource: String = "exact"): DataFrame = {
    val clusters = clusterIndex(spark, dir, threshold, pairSource)
      .withColumnRenamed("doc_id", "member_id")
    val docs = graft.Tables.docs(spark, dir).select(col("doc_id"), col("source"))
    docs.join(clusters, docs("doc_id") === col("member_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label").isNull || col("label") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** SemDeDup-style semantic dedup: block embedding pairs by trained
    * k-means cell (SimilarityPack.kmeansTrain — the same quantizer the IVF
    * index uses), brute-force exact cosine only between vectors sharing a
    * cell. Multi-probe (each vector registers under its nProbe nearest
    * cells, the IVF-search trick applied to dedup blocking) trades a
    * constant candidate-set factor for the recall a single-cell assignment
    * forfeits at cell boundaries. Pairs considered drop from C(n,2) to
    * ≈ nProbe²·n²/(2k); precision is exact (every emitted cosine is
    * verified), recall is bounded in DedupSpec against the unblocked brute
    * force. On real clustered data near-dups co-assign almost surely; the
    * near-orthogonal fixture is the adversarial case.
    *
    * CELL COUNT MUST SCALE WITH THE CORPUS (SemDeDup runs k ≈ n/10⁴ at
    * production scale for the same reason): at fixed k the per-cell pair
    * budget grows n²/(2k) — the rehearsal's near-9× step at 10× data
    * (docs/SCALE_MEASURED.md). The default (`nCellsArg = -1`) derives
    * k = [[autoCells]](n), which pins per-cell occupancy and keeps the
    * budget linear; identity (k = 8) at every driver SF, so the q116
    * golden pin and recall bound keep meaning.
    */
  def dedupSemantic(spark: SparkSession, dir: String, threshold: Double = 0.4,
                    nCellsArg: Int = -1, nProbe: Int = 2, iters: Int = 2): DataFrame = {
    val nCells =
      if (nCellsArg >= 0) nCellsArg
      else autoCells(graft.Tables.tableCount(spark, dir, "embeddings"))
    // session-memoized model: shared with the q106 IVF search instead of
    // retraining the quantizer per invocation
    val (centroids, _) = SimilarityPack.kmeansModel(spark, dir, nCells, iters)
    val cents = centroids.map(_.toSeq).toSeq
    // NOTE: no snapshot — AQE broadcasts one side, so cell scoring runs
    // once per side but both passes are map-only over the (small)
    // embeddings scan; materializing the exploded frame measured slower
    // at bench scale and at production scale would store nProbe× corpus
    val e = graft.Tables.embs(spark, dir)
      .select(col("vec_id"), col("embedding"),
        explode(graft.functions.TopCells.topCells(col("embedding"), cents, nProbe))
          .as("cell"))
    e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        round(CosineSimilarity.cosineFast(col("a.embedding"), col("b.embedding")), 6)
          .as("cos"))
      .dropDuplicates("v1", "v2")
      .filter(col("cos") >= threshold)
      .orderBy(col("v1"), col("v2"))
  }

  /** Exact-substring duplication report (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): for
    * every n-token span, is the identical span present in ANY other
    * document? Emits per-doc span totals — the signal that drives
    * span-level cutting (vs the doc-level near-dup family above). The
    * paper builds a suffix array; the declarative equivalent is the
    * n-gram inverted index: explode every n-token window, one hash agg
    * over grams (count distinct docs), flag grams seen in ≥2 docs, join
    * back. Cost is corpus tokens × 1 gram each — linear, one shuffle on
    * the gram key. Grams cross every shuffle as 64-bit xxhash64 keys
    * (r20, the q66/q142 convention): the declared output never contains
    * a gram — only per-doc counts — so the string's only job was to be
    * compared, and an 8-byte key does that at ~n× fewer shuffle bytes.
    * So q122 is exact only up to the collision odds, ≈ |grams|²/2⁶⁵
    * (README, "Hashed keys"): a collision merges two grams' doc sets.
    */
  def dupSpans(spark: SparkSession, dir: String, n: Int = SpanN): DataFrame = {
    val grams = graft.Tables.docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // native one-pass span generation (every window position, duplicates
      // preserved) — the interpreted transform+slice+array_join chain costs
      // an interpreted lambda per window; docs shorter than n emit nothing
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= n,
          NGramShingles.allGramsFast(col("toks"), n))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
    val dupGrams = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"), lit(1L).as("is_dup"))
    grams.join(dupGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_spans"))
      .orderBy(col("doc_id"))
  }

  /** Fuzzy entity-resolution self-join: all customer pairs whose names are
    * within Levenshtein distance 1, via SymSpell-style deletion-variant
    * blocking — the scalable form of a fuzzy join (string edit-distance
    * record linkage / entity dedup).
    *
    * Blocking with GUARANTEED recall: two strings within edit distance 1
    * (one insert, delete, or substitute) always share a common member of
    * {s} ∪ {s minus one char} (delete the edited position on the longer /
    * substituted side) — so joining on exploded deletion variants finds
    * every true pair, and the exact `levenshtein` filter afterwards removes
    * the false candidates. Variant generation is a codegen'd
    * transform-over-sequence (no UDF); per-name fan-out is len+1, and each
    * variant bucket holds only true near-matches plus O(1) collisions, so
    * the candidate shuffle is ~linear in input — vs the O(n²) all-pairs a
    * naive fuzzy join does (the DuckDB oracle brute-forces exactly that
    * n²/2 as declared ground truth; at 100 TB only the blocked path runs).
    * Distance >1 generalizes by deleting up to d chars per side (fan-out
    * ~len^d) — not materialized here.
    */
  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame =
    // widened: deletion-variant generation is the CPU-dense map directly
    // above this scan, and downstream is an exact string join + integer
    // distance filter — partitioning-insensitive
    fuzzyPairs(graft.Tables.widened(spark, dir, "customer", "c_custkey")
      .select(col("c_custkey").as("id"), col("c_name").as("name")))

  /** The blocked fuzzy self-join over any `(id: long, name: string)` frame
    * — split out so the spec can drive the insert/delete recall arm with
    * handcrafted strings (the customer data only produces substitutions).
    */
  def fuzzyPairs(names: DataFrame): DataFrame = {
    // (variant, deleted-position, original length) per name; pos 0 = the
    // string itself. Two pruning rules keep candidate buckets near-minimal
    // while preserving recall:
    //  - equal-length strings within distance 1 (substitution or equality)
    //    share a variant ONLY via the same deletion position — requiring
    //    pos equality cuts the false same-length candidates ~|s|-fold;
    //  - insert/delete pairs differ in length and match self-vs-deletion
    //    (pos 0 vs p), so the cross-length arm drops the pos constraint.
    // Only (id, v, pos, len) crosses the candidate shuffle — names rejoin
    // AFTER the id-pair distinct, so the wide strings never ride the big
    // exchange. The rejoin carries no broadcast hint: the names table is
    // the FULL input (every id can appear in a pair), so at 100 TB it is
    // driver-unbounded and must shuffle; AQE broadcasts it automatically
    // when it actually fits.
    // The join key is xxhash64(variant), not the variant string: only an
    // (id, hash, pos, len) quad crosses the candidate exchange (~8 bytes
    // of key vs a name-sized string), and the equality probe compares
    // longs. Hash COLLISIONS are harmless to correctness in both
    // directions — a true shared variant always shares the hash (no false
    // negatives), and a colliding non-variant pair just becomes a
    // candidate that the exact `levenshtein <= 1` filter below — the very
    // predicate the oracle defines pairs by — either keeps (then it
    // belongs in the output) or drops (~2⁻⁶⁴ per pair, a vanishing
    // candidate-side cost even at 100 TB).
    val variants = names.select(col("id"), length(col("name")).as("len"),
        explode(expr(
          """transform(sequence(0, length(name)), i -> struct(
            |  xxhash64(CASE WHEN i = 0 THEN name
            |       ELSE concat(substring(name, 1, i - 1),
            |                   substring(name, i + 1, length(name))) END) AS vh,
            |  i AS pos))""".stripMargin)).as("x"))
      .select(col("id"), col("len"), col("x.vh").as("vh"), col("x.pos").as("pos"))
    val a = variants.as("a")
    val b = variants.as("b")
    val cand = a.join(b,
        col("a.vh") === col("b.vh") && col("a.id") < col("b.id") &&
          (col("a.len") =!= col("b.len") || col("a.pos") === col("b.pos")))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    // Twin name joins kept DELIBERATELY (r20): the melted single-join form
    // (explode each pair to (pair, side, id), join names once, regroup by
    // pair with side-conditional max) was built and measured — back-to-back
    // 9-run medians 2.086 → 2.455 s at sf0.1 — because the pair-regroup
    // hash aggregate over candidate×2 rows with string names costs more
    // than the second broadcast probe it replaces whenever the name table
    // broadcasts, which AQE decides at runtime exactly when it fits. At
    // 100 TB the planner shuffle-joins either way and the melted form
    // moves the name table once instead of twice — a deployment at that
    // scale should prefer it; the declared query keeps the form that
    // measures best under the bench contract. Reverted per guide §1.
    cand
      .join(names.select(col("id").as("id1"), col("name").as("name1")), "id1")
      .join(names.select(col("id").as("id2"), col("name").as("name2")), "id2")
      .filter(levenshtein(col("name1"), col("name2")) <= 1)
      .select(col("id1"), col("id2"),
        // long to match the oracle's BIGINT levenshtein — keeps the dump
        // dtype audit drift-free (values are identical either way)
        levenshtein(col("name1"), col("name2")).cast("long").as("dist"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Winnowing document fingerprints (Schleimer et al., MOSS): hash every
    * token 3-gram, slide a w=5 window over the per-doc hash sequence, keep
    * each window's MINIMUM — the classic local fingerprint selection with
    * a guarantee the random samplers lack: any shared token run of length
    * ≥ w+k−1 (= 7 tokens) between two documents shares at least one
    * selected fingerprint, at expected density 2/(w+1) of the grams.
    * Output: document pairs sharing ≥2 fingerprints with the shared count
    * (the plagiarism-candidate report).
    *
    * Cross-engine exact: gram hashes are md5-derived 60-bit integers (both
    * engines compute the identical value), and window-min over integers
    * has no FP or ordering sensitivity. Shape at scale: one corpus pass
    * explodes grams (per-doc data parallel), the window-min partitions by
    * doc_id, and the pair report is an inverted-index equi-join on the
    * fingerprint value — the q66 bucketed shape, ~Σ df(fp)² bounded; a
    * 100 TB run caps fingerprint df exactly like the shingle df cap.
    */
  /** Winnowing window width, shared by [[winnowingPairs]] and its oracle
    * SQL (string-interpolated below) so the two sides cannot drift.
    */
  val WinnowW = 5

  def winnowingPairs(spark: SparkSession, dir: String, w: Int = WinnowW): DataFrame = {
    val grams = graft.Tables.docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      // native one-pass gram generation (r19, the q122 move): the
      // transform+sequence+slice+concat_ws HOF chain evaluates an
      // interpreted lambda per window position; allGramsFast emits the
      // identical every-position 3-gram list (size >= 3 is already
      // filtered, so the short-doc arm never fires) in one compiled pass
      .select(col("doc_id"), (size(col("toks")) - 2).as("g"),
        posexplode(NGramShingles.allGramsFast(col("toks"), 3)))
      .select(col("doc_id"), col("g"), (col("pos") + 1).as("pos"),
        conv(substring(md5(col("col")), 1, 15), 16, 10).cast("long").as("h"))
    val winMin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, w - 1)
    val sel = grams.withColumn("wmin", min(col("h")).over(winMin))
      .filter(col("pos") <= col("g") - (w - 1)) // full windows only
      .select(col("doc_id"), col("wmin")).distinct()
    sel.as("a").join(sel.as("b"),
        col("a.wmin") === col("b.wmin") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("d1"), col("d2"))
  }

  val queries = Map(
    "q147_winnowing_pairs" -> ((s: SparkSession, d: String) => winnowingPairs(s, d)),
    "q142_fuzzy_name_pairs" -> ((s: SparkSession, d: String) => fuzzyNamePairs(s, d)),
    "q122_dup_spans" -> ((s: SparkSession, d: String) => dupSpans(s, d)),
    "q65_dedup_exact" -> dedupExact _,
    "q115_dedup_keeplist" -> ((s: SparkSession, d: String) => dedupKeepList(s, d)),
    "q124_dedup_keeplist_lsh" ->
      ((s: SparkSession, d: String) => dedupKeepList(s, d, pairSource = "lsh")),
    "q116_semantic_dedup" -> ((s: SparkSession, d: String) => dedupSemantic(s, d)),
    "q117_incremental_dedup" -> ((s: SparkSession, d: String) => dedupIncremental(s, d)),
    "q127_incremental_dedup_indexed" ->
      ((s: SparkSession, d: String) => dedupIncrementalIndexed(s, d)),
    "q135_incremental_dedup_storeddf" ->
      ((s: SparkSession, d: String) => dedupIncrementalStoredDf(s, d)),
    "q73_dedup_embedding_lsh" -> ((s: SparkSession, d: String) => dedupEmbeddingLsh(s, d)),
    "q66_dedup_jaccard" -> ((s: SparkSession, d: String) => dedupJaccard(s, d)),
    "q67_dedup_minhash_lsh" -> ((s: SparkSession, d: String) => dedupMinhashLsh(s, d)),
    "q68_dedup_simhash" -> ((s: SparkSession, d: String) => dedupSimhash(s, d)),
    "q69_dedup_embedding" -> ((s: SparkSession, d: String) => dedupEmbedding(s, d)),
    "q64_dedup_clusters" -> ((s: SparkSession, d: String) => dedupClusters(s, d)))

  // q66's capped-shingle jaccard restricted to new(odd) × old(even) —
  // identical shingle universe, identical cap, identical sizes; shared by
  // q117 (recompute path) and q127 (KeyedStore-index serve path)
  private val incrementalSql =
    jaccardConstants(
      """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
      |    ELSE [array_to_string(w, ' ')] END) AS shingle
      |  FROM toks),
      |sh AS (
      |  SELECT * FROM sh0 WHERE shingle NOT IN (
      |    SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > DF_CAP)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS d_new, b.doc_id AS d_old, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle
      |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      |  GROUP BY 1, 2)
      |SELECT d_new, d_old, inter * 1.0 / (s1.n + s2.n - inter) AS jaccard
      |FROM pairs JOIN sizes s1 ON d_new = s1.doc_id JOIN sizes s2 ON d_old = s2.doc_id
      |WHERE inter * 1.0 / (s1.n + s2.n - inter) >= JACCARD_T
      |ORDER BY d_new, d_old""".stripMargin)

  // The jaccard-family oracles embed the df cap (`DF_CAP`, the hot-shingle
  // cut) and the pair threshold (`JACCARD_T`, the jaccard cut); both are
  // substituted from the operators' defaults so no oracle can drift.
  private def jaccardConstants(sql: String): String =
    sql.replaceChecked("DF_CAP", DfCap.toString)
      .replaceChecked("JACCARD_T", JaccardThreshold.toString)

  val oracle: Map[String, String] = Map(
    "q147_winnowing_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, len(w) - 2 AS g, i AS pos,
        |    CAST(('0x' || substring(md5(array_to_string(w[i:i+2], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) s
        |  WHERE len(w) >= 3),
        |sel AS (
        |  SELECT DISTINCT doc_id, wmin FROM (
        |    SELECT doc_id, g, pos,
        |      min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN CURRENT ROW AND WFOLLOW FOLLOWING) AS wmin
        |    FROM grams) x
        |  WHERE pos <= g - WFOLLOW)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_shared
        |FROM sel a JOIN sel b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY d1, d2""".stripMargin
        // derive the window width from the one shared constant — a caller
        // passing a non-default w to winnowingPairs is a different query
        // and must bring its own oracle
        .replaceChecked("WFOLLOW", (WinnowW - 1).toString),
    // ground truth for the blocked fuzzy join is the literal O(n²)
    // definition — integer edit distances, no FP comparison caveats
    "q142_fuzzy_name_pairs" ->
      """SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |  levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id1, id2""".stripMargin,
    "q122_dup_spans" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(toks[i:i+SPAN_HI], ' ') AS gram
        |  FROM docs,
        |    LATERAL (SELECT unnest(range(1, len(toks) - SPAN_R)) AS i) spans
        |  WHERE len(toks) >= SPAN_N),
        |dup AS (
        |  SELECT gram, 1 AS is_dup FROM grams
        |  GROUP BY gram HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(coalesce(is_dup, 0)) AS BIGINT) AS n_dup_spans
        |FROM grams LEFT JOIN dup USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
        // n-gram slice end i+n-1; range end len-(n-2), i.e. len-n+1 grams
        .replaceChecked("SPAN_HI", (SpanN - 1).toString)
        .replaceChecked("SPAN_R", (SpanN - 2).toString)
        .replaceChecked("SPAN_N", SpanN.toString),
    "q65_dedup_exact" ->
      """SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin,
    "q66_dedup_jaccard" ->
      // hot-shingle df cap (> 100 dropped) mirrors the Spark side exactly;
      // no test-SF shingle comes near it, so output is cap-insensitive here
      jaccardConstants(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS shingle
        |  FROM toks),
        |sh AS (
        |  SELECT * FROM sh0 WHERE shingle NOT IN (
        |    SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > DF_CAP)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, inter * 1.0 / (s1.n + s2.n - inter) AS jaccard
        |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE inter * 1.0 / (s1.n + s2.n - inter) >= JACCARD_T
        |ORDER BY d1, d2""".stripMargin),
    // connected components via transitive closure (recursive CTE) over the
    // same jaccard pair graph; min reachable id = component label
    "q64_dedup_clusters" ->
      jaccardConstants(
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS shingle
        |  FROM toks),
        |sh AS (
        |  SELECT * FROM sh0 WHERE shingle NOT IN (
        |    SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > DF_CAP)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT d1, d2 FROM (
        |    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= JACCARD_T),
        |edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
        |walk AS (
        |  SELECT DISTINCT d1 AS doc_id, d1 AS reach FROM edges
        |  UNION
        |  SELECT w.doc_id, e.d2 FROM walk w JOIN edges e ON w.reach = e.d1)
        |SELECT doc_id, min(reach) AS label FROM walk
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // q127 serves the IDENTICAL result from the persisted KeyedStore
    // postings index — same oracle text: store-served == recomputed
    "q127_incremental_dedup_indexed" -> incrementalSql,
    "q117_incremental_dedup" -> incrementalSql,
    // q135 serves from stored postings + stored per-shingle df — no
    // full-corpus pass at all; same oracle: must equal full recompute
    "q135_incremental_dedup_storeddf" -> incrementalSql,
    "q115_dedup_keeplist" ->
      // q64's component labels folded to the per-source survivor counts
      jaccardConstants(
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS shingle
        |  FROM toks),
        |sh AS (
        |  SELECT * FROM sh0 WHERE shingle NOT IN (
        |    SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > DF_CAP)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |prs AS (
        |  SELECT d1, d2 FROM (
        |    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= JACCARD_T),
        |edges AS (SELECT d1, d2 FROM prs UNION SELECT d2, d1 FROM prs),
        |walk AS (
        |  SELECT DISTINCT d1 AS doc_id, d1 AS reach FROM edges
        |  UNION
        |  SELECT w.doc_id, e.d2 FROM walk w JOIN edges e ON w.reach = e.d1),
        |comp AS (SELECT doc_id, min(reach) AS label FROM walk GROUP BY doc_id)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN c.label IS NULL OR c.label = d.doc_id
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
    // q67/q68: no oracle — probabilistic recall; verified vs q66 in DedupSpec.
    // q116: no oracle — k-means cell assignment isn't SQL-expressible;
    // precision/recall bounded vs unblocked brute force in DedupSpec.
    // q124: no oracle — the LSH pair graph is probabilistic-recall; the
    // keep-list it produces is bounded against the exact q115 twin in
    // DedupSpec (per-source kept_lsh >= kept_exact, surplus <= missed pairs).
    "q69_dedup_embedding" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
        |ORDER BY v1, v2""".stripMargin)
}
