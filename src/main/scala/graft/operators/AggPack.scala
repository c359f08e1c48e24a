package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{t, tsMillis}

/** Aggregation surface beyond the hw1 rollup: DISTINCT (the hw5
  * ReplaceDistinctWithAggregate subject, homework-5/README.md:410-422),
  * multi-dimensional CUBE/ROLLUP, exact + approximate distinct counts, and
  * global top-k (TakeOrderedAndProject — no full sort at scale).
  */
object AggPack extends QueryPack {

  /** DISTINCT → Aggregate (partial+final HashAggregate at the physical
    * layer, README.md:724-731).
    */
  def distinctFlags(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** CUBE over two dimensions — map-side partial aggregation expands the
    * grouping sets before the single shuffle.
    */
  def cubeFlags(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** ROLLUP (hierarchical subset of CUBE). Price summed in exact integer
    * cents: the global rollup row sums ~1e10 of cent-grid doubles, where
    * accumulation-order float error (~1e-6) gives a small but real chance
    * of landing across a half-cent rounding boundary per round.
    */
  def rollupFlags(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg((sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0)
        .as("sum_price"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Exact multi-column COUNT(DISTINCT) — Catalyst plans the expand +
    * two-phase aggregate.
    */
  def countDistincts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** HyperLogLog++ approximate distinct — the scale path when exact
    * distinct's shuffle is the bottleneck. No DuckDB oracle (different
    * sketch); correctness bounded vs exact in AggSpec.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .orderBy(col("l_returnflag"))

  /** Mergeable-sketch cardinality (Apache DataSketches HLL, native in
    * Spark 4) — the pattern that actually runs at 100 TB: build one
    * bounded-size sketch per group/partition/day (hll_sketch_agg), SHIP
    * AND STORE THE SKETCH (a few KB of binary), and answer global
    * distinct counts later by unioning sketches (hll_union_agg) — no
    * re-scan of history, register-wise max makes the union associative
    * and order-independent. approx_count_distinct (q34) gives one
    * estimate and throws the sketch away; this keeps the reaggregatable
    * artifact. Per-source distinct-token estimates + a `__all__` row
    * answered ONLY from the merged per-source sketches, with exact
    * counts alongside (the sparse-mode regime here makes est == exact;
    * AggSpec bounds the error). No DuckDB oracle: engine-specific
    * sketch binary.
    */
  def hllSketchCardinality(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass: explode to (source, tok) and dedup (map-side
    // partial) down to the vocabulary-×-sources-sized pair frame, pinned
    // with localCheckpoint so both consumers below reuse it instead of
    // re-tokenizing the corpus. HLL register updates are
    // duplicate-insensitive (register-wise max), so sketches built from
    // distinct pairs are bit-identical to sketches over the raw token
    // stream; per-source exact distinct degenerates to count(*), and the
    // global exact is a countDistinct over this small frame — previously
    // a second full tokenize/explode/aggregate pass over the corpus.
    // LAZY checkpoint: eager would run the corpus job at DataFrame
    // CONSTRUCTION time, which schema-only consumers (the registry-wide
    // decimal gate in SparkEntrySpec, PlanAudit) hit for every registered
    // query; lazy materializes on the first real action and each
    // partition is cached as first computed, so the corpus is still
    // tokenized only once per execution. Fault-tolerance: checkpoint
    // blocks are executor-local and not recomputable after executor loss
    // (lost block ⇒ job failure) — fine inside one action's lifetime; a
    // deployment needing decommission-survival uses checkpoint() to
    // reliable storage (the DedupPack clusterMemo caveat).
    val pairs = graft.Tables.docs(spark, dir)
      .select(col("source"), explode(graft.functions.tokens(col("text"))).as("tok"))
      .distinct()
      .localCheckpoint(eager = false)
    val perSrc = pairs.groupBy(col("source"))
      .agg(hll_sketch_agg(col("tok")).as("sk"),
        count(lit(1)).as("n_exact"))
    val global = perSrc
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))
      .crossJoin(broadcast(pairs.agg(countDistinct(col("tok")).as("n_exact"))))
      .select(lit("__all__").as("source"), col("n_exact"), col("n_est"))
    perSrc
      .select(col("source"), col("n_exact"),
        hll_sketch_estimate(col("sk")).as("n_est"))
      .unionAll(global)
      .orderBy(col("source"))
  }

  /** Tracked capacity AND estimate size for [[topkSketchTokens]]'s
    * frequency sketches. One constant on purpose: a space-saving sketch
    * whose tracked set is never evicted (per-group distinct ≤ capacity)
    * is EXACT, and estimating up to the same bound returns the complete
    * exact frequency table — which is what the plain-counts DuckDB
    * oracle checks. The round-18 sf1 spot-verify caught the old value
    * (64) silently leaving that regime: the sf1 replica suffixes tokens
    * per replica, so per-source vocabulary grew 310 > 64 with FLAT
    * counts — the sketch fell into deep estimation where nothing is
    * guaranteed-frequent and `approx_top_k_estimate` returned an EMPTY
    * set (its no-false-positives contract), turning q118 into 0 rows.
    * 8192 keeps the exact regime through any replica SF the rehearsals
    * use (~26× sf1's vocab) at a few hundred KB of sketch state per
    * group; at true-corpus vocabularies the sketch degrades gracefully
    * to the guaranteed-frequent heads of a Zipfian distribution, which
    * is the operator's documented approximate behavior there.
    */
  val TopKSketchTracked: Int = 8192

  /** Mergeable frequency sketches — the heavy-hitters companion to q112's
    * HLL cardinality pattern: per-source approx_top_k_accumulate states,
    * re-aggregated with approx_top_k_combine for the global answer (store
    * per-shard sketch, answer any rollup without re-reading the corpus).
    * In the exact regime (see [[TopKSketchTracked]]) the query has a full
    * DuckDB oracle (plain counts) while still exercising the
    * accumulate/combine/estimate plumbing that runs approximate at real
    * vocabulary sizes.
    */
  def topkSketchTokens(spark: SparkSession, dir: String): DataFrame = {
    val k = TopKSketchTracked
    val tok = graft.Tables.docs(spark, dir)
      .select(col("source"), explode(graft.functions.tokens(col("text"))).as("tok"))
    val perSrc = tok.groupBy(col("source"))
      .agg(expr(s"approx_top_k_accumulate(tok, $k)").as("st"))
    val per = perSrc.select(col("source"),
      explode(expr(s"approx_top_k_estimate(st, $k)")).as("e"))
    val global = perSrc.agg(expr(s"approx_top_k_combine(st, $k)").as("st"))
      .select(lit("__all__").as("source"),
        explode(expr(s"approx_top_k_estimate(st, $k)")).as("e"))
    per.unionAll(global)
      .select(col("source"), col("e.item").as("tok"), col("e.count").as("n"))
      .orderBy(col("source"), col("tok"))
  }

  /** Global top-k: orderBy+limit compiles to TakeOrderedAndProject — per-
    * partition heaps + driver merge, never a global sort (SURVEY.md §2.6).
    */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  /** GROUPING SETS — the general form cube/rollup specialize. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** Salted two-phase aggregation — the skew pattern: low-cardinality hot
    * keys are first split across `nSalts` sub-keys (partial aggregation
    * spreads over the cluster), then merged. Result is identical to the
    * direct group-by (same oracle shape as q31's totals), so the oracle
    * proves the rewrite is semantics-preserving.
    */
  def saltedAgg(spark: SparkSession, dir: String, nSalts: Int = 16): DataFrame =
    t(spark, dir, "lineitem")
      .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(nSalts)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(round(sum(col("l_quantity")), 2).as("part_qty"), count(lit(1)).as("part_n"))
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("part_qty")), 2).as("sum_qty"), sum(col("part_n")).as("n"))
      .orderBy(col("l_returnflag"))

  /** Exact percentiles WITHOUT buffering — the REGISTERED exact path
    * (q85; the buffered percentile() form, ReferenceForms.percentiles in
    * the test sources, is the spec-only reference, q89 is the
    * approx-sketch point of the triangle): a
    * two-phase (value, count) histogram collapses N rows to |V| distinct
    * values BEFORE anything non-distributed happens, the rank cumsum runs
    * over the tiny histogram (|V| = ~50 for quantity, ~100k for cents —
    * vs 600k+ rows), and each requested percentile is answered by an
    * interval-containment probe against the ranked histogram. Exactness is
    * proven by construction: the interpolation below replicates Spark's
    * Percentile formula term-for-term — position = p·(n−1), result =
    * (ceil−pos)·v_lo + (pos−floor)·v_hi — and the oracle is IDENTICAL to
    * the buffered form's, so the rewrite must hash-match the original.
    * This is the shape that survives 100 TB: percentile() holds every
    * value of a group in one aggregation buffer; this holds one row per
    * distinct value, fully partial-aggregated map-side.
    *
    * The rank cumsum itself is DISTRIBUTED (round-6 fix): a partitionless
    * `Window.orderBy` would funnel the whole histogram through one
    * single-partition sort — bounded by |V|, but price-cents-like domains
    * reach 10⁷+ distinct values at 100×. Two-phase form instead: values
    * are bucketed by the data-independent monotone map (monotoneBucket —
    * correctness needs only monotonicity, not balance), each bucket
    * cumsums locally after one hash exchange on the bucket id, and the
    * per-bucket prefix offsets — model-sized by construction — come from
    * a broadcast triangular self-join, so no single-partition pass
    * touches anything histogram-sized. Plan-asserted in AggSpec (every
    * WindowExec carries a partition spec).
    */
  def percentilesViaHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probes = Seq(
      ("qty", "qty_p25", 0.25), ("qty", "qty_p50", 0.5),
      ("qty", "qty_p75", 0.75), ("qty", "qty_p95", 0.95),
      ("price", "price_cents_p50", 0.5), ("price", "price_cents_p95", 0.95))
    val names = probes.map(_._2)
    // ONE corpus pass feeds BOTH columns' histograms: unpivot the two
    // value columns into (group, v) pairs and run a single two-phase
    // count aggregate — the per-column formulation scanned lineitem once
    // per histogram plus once per row count (4+ full scans; this was the
    // bench's slowest query pair). percentile() ignores NULLs, so they
    // are excluded before counting or every rank interval shifts.
    val hist = t(spark, dir, "lineitem")
      .select(col("l_quantity").cast("double").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").cast("double").as("price"))
      .select(explode(array(
        struct(lit("qty").as("g"), col("qty").as("v")),
        struct(lit("price").as("g"), col("price").as("v")))).as("e"))
      .select(col("e.g").as("g"), col("e.v").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    // grouped=false: the six names are globally unique, so the probe-hit
    // aggregate IS the pivot — one global two-phase agg replaces the old
    // (pg,name)-grouped agg + separate pivot agg (round-11 fusion)
    histogramPercentiles(hist, probes.toDF("pg", "name", "p"), names,
      fanAllGroups = false, grouped = false)
  }

  /** WEIGHTED exact percentiles — where q85 asks "the price at rank p of
    * the line-item list", this asks "the price below which p of the
    * QUANTITY sold sits" (weight = l_quantity): the revenue/volume-share
    * form dataset cards and pricing reports use. Definition is the lower
    * weighted percentile — the smallest v whose cumulative weight reaches
    * p·W — the discrete form both engines compute bit-identically: weights
    * are integers, so every cumulative sum is an exact long (no FP
    * order-of-addition sensitivity between Spark's two-phase cumsum and
    * DuckDB's sequential window), and the only float op is the identical
    * p·W multiply+compare. Distribution is the q85 machinery: the
    * (v, Σw) histogram collapses the corpus in one two-phase aggregate,
    * the rank cumsum is bucket-local after one hash exchange, and prefix
    * offsets come from a broadcast triangular self-join over the
    * model-sized totals row set — nothing histogram-sized ever crosses a
    * single partition.
    */
  def weightedPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val hist = t(spark, dir, "lineitem")
      .filter(col("l_extendedprice").isNotNull && col("l_quantity").isNotNull)
      .select(round(col("l_extendedprice") * 100).cast("long").cast("double").as("v"),
        col("l_quantity").cast("long").as("w"))
      .groupBy(col("v")).agg(sum(col("w")).as("c"))
    // data-independent monotone bucketing (r20, shared with
    // histogramPercentiles — see monotoneBucket): no bounds aggregate, no
    // bounds broadcast, so the histogram flows scan → (v) exchange →
    // (bucket) exchange with nothing gating the ladder. The old
    // bounds→broadcast→bucketed chain serialized two extra AQE stages in
    // front of every downstream stage (the q105 11-job chain, guide §1.2).
    // isNotNull is vacuous (weights/prices filtered upstream) but keeps
    // both exchange consumers' subtrees canonically identical — see the
    // histogramPercentiles note (the cum join's inferred isnotnull(bucket)
    // otherwise pushes into one branch only and duplicates the scan)
    val bucketed = hist
      .select(col("v"), col("c"), monotoneBucket(col("v")).as("bucket"))
      .filter(col("bucket").isNotNull)
    // The bucket totals ride the SAME bucket-hash exchange the cum window
    // uses (r19): cum_local is monotone within a bucket (weights are ≥ 1),
    // so max(cum_local) per bucket IS the bucket total, and the aggregate
    // sits directly on the window output — already clustered by bucket,
    // no exchange of its own. (An explicit shared repartition would skip
    // this branch's re-sort, but column pruning then breaks the exchange
    // canonicalization and duplicates the corpus scan — measured r20,
    // rejected; see histogramPercentiles.)
    val wCum = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumLocal = bucketed.withColumn("cum_local", sum(col("c")).over(wCum))
    val totals = cumLocal.groupBy(col("bucket")).agg(max(col("cum_local")).as("t"))
    // prefix offsets over the model-sized totals WITHOUT a window: with a
    // single global group a window's constant partition key constant-folds
    // to a partitionless (single-partition-exchange) spec, so cumsum the
    // strictly-lower buckets through a broadcast triangular self-join —
    // ≤ |buckets|² joined rows, no exchange wider than a broadcast. The
    // same pass now also carries the grand total (sum over ALL buckets'
    // bt), which replaces the old bounds subtree's `tot` — exact long
    // arithmetic either way, one fewer serial branch (r20).
    val offsets = totals
      .crossJoin(broadcast(totals.select(col("bucket").as("bb"), col("t").as("bt"))))
      .groupBy(col("bucket"), col("t"))
      .agg(coalesce(sum(when(col("bb") < col("bucket"), col("bt"))), lit(0L)).as("off"),
        sum(col("bt")).as("tot"))
      .select(col("bucket").as("obucket"), col("off"), col("tot"))
    val cum = cumLocal
      .join(broadcast(offsets), col("bucket") === col("obucket"))
      .withColumn("cum", col("cum_local") + col("off"))
      .select(col("v"), col("cum"), col("tot"))
    // the four probes fold into ONE global conditional-min aggregate over
    // cum — no probe crossJoin, no per-name groupBy, no pivot re-agg
    // (round-11 fusion; p·tot is the same literal-double multiply the
    // probe-table form did, so values are bit-identical)
    def probe(p: Double): Column =
      min(when(col("cum").cast("double") >= lit(p) * col("tot").cast("double"),
        col("v")))
    cum.agg(
      probe(0.25).as("wp25"), probe(0.5).as("wp50"),
      probe(0.75).as("wp75"), probe(0.95).as("wp95"))
  }

  /** Grouped exact-percentile core over a prebuilt `(g, v, c)` histogram:
    * emits the requested percentiles as COLUMNS — one row per group when
    * `grouped`, one global row otherwise — where each value replicates
    * Spark's Percentile interpolation (position = p·(n−1), result =
    * (ceil−pos)·v_lo + (pos−floor)·v_hi) within group g. `probesDf` is a
    * `(pg, name, p)` frame when probe sets differ per group (q85), or a
    * `(name, p)` frame fanned across every data-driven group via
    * `fanAllGroups` (q134 — built from the offsets branch's per-group
    * rows, NOT a caller-side `hist.select(g).distinct()`, which Catalyst
    * collapses into one more corpus scan). Row counts are derived FROM
    * the histogram (sum of bucket totals per group — exact long
    * arithmetic, any order) — histogram-sized aggregates, never another
    * corpus pass.
    *
    * The rank cumsum is DISTRIBUTED: values are bucketed by the
    * data-independent monotone map below (correctness needs only
    * monotonicity, not balance), each bucket cumsums locally after one
    * hash exchange on (g, bucket), and the prefix offsets come from a
    * per-group window over the model-sized totals (bucket ids span
    * ≤ 4160 values BY CONSTRUCTION), so no single-partition pass ever
    * touches anything histogram-sized.
    * Plan-asserted in AggSpec (every WindowExec carries a partition spec).
    *
    * The final probe-hit aggregate doubles as the pivot (round-11
    * fusion): pos/lo_r/hi_r are constant within (pg, name) — the probe
    * frame has exactly one row per (pg, name) — so per-name conditional
    * max is plain extraction, and v_lo/v_hi keep the same
    * max-over-admitting-rows semantics the previous (pg,name)-grouped
    * aggregate had. One exchange where the old agg + caller pivot took two.
    */
  /** Data-independent MONOTONE bucket id over a double-valued histogram
    * key (r20). The rank machinery needs only monotonicity — v1 < v2 ⇒
    * bucket(v1) ≤ bucket(v2) — never balance, and never the actual
    * bounds: global ranks are bucketing-invariant. Deriving buckets from
    * the VALUE ALONE (vs the old min/max-range map) removes the bounds
    * aggregate + its broadcast from the critical stage ladder — two fewer
    * serial AQE stages in front of every percentile query (guide §1.2).
    *
    * Construction (exact integer ops only, all codegen builtins): truncate
    * v toward zero (monotone; saturating at Long extremes, which is also
    * monotone), split non-negatives into power-of-two octaves by bit
    * length L = length(bin(x)), refine each octave into 32 sub-buckets by
    * the value's top 5 bits (x >> max(L−5, 0) ∈ [16,31] for L ≥ 6, = x
    * for L ≤ 5), and map negatives through the overflow-safe mirror
    * m = −(x+1) to the mirrored negative range. Bucket ids live in
    * [−2080, 2079] — model-sized by construction — and within one octave
    * a sub-bucket spans ≤ 2× in value, so occupancy stays comparable to
    * the old 64-equal-width map on any realistic domain. No FP anywhere:
    * bit-length and shifts cannot mis-order the way floor(log2(v)) could
    * at representation boundaries.
    */
  private[graft] def monotoneBucket(v: Column): Column = {
    def posBucket(x: Column): Column =
      length(bin(x)).cast("long") * 32 +
        call_function("shiftright", x, greatest(length(bin(x)) - 5, lit(0)))
    val vL = v.cast("long")
    when(vL < 0, -posBucket(-(vL + lit(1L))) - 1)
      .otherwise(posBucket(vL)).cast("int")
  }

  private[graft] def histogramPercentiles(hist: DataFrame, probesDf: DataFrame,
                                              names: Seq[String],
                                              fanAllGroups: Boolean,
                                              grouped: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // data-independent monotone bucketing (r20): the old bounds→broadcast→
    // range-bucket chain put a per-group min/max aggregate AND its
    // broadcast in front of every downstream stage; buckets from the value
    // alone leave the histogram flowing scan → (g,v) exchange →
    // (g,bucket) exchange with the tiny offsets branch as the only other
    // serial dependency. Ranks — hence every output value — are
    // bucketing-invariant, and n per group moves to the offsets window
    // below (same exact long sum).
    // the explicit isNotNull is vacuous (bucket is null only for null v,
    // which every caller excludes — percentile semantics ignore NULLs) but
    // load-bearing for plan shape: the ranked-side inner join infers
    // isnotnull(bucket) and pushes it below the rank window (whose
    // partition spec contains bucket) all the way into the scan, while the
    // totals branch's per-group window (partitioned by g alone) blocks the
    // same push — asymmetric filters break exchange canonicalization and
    // the corpus scan runs twice (measured r20). Filtering here keeps both
    // consumers' subtrees identical, so ReuseExchange dedupes the scan.
    val bucketed = hist
      .select(col("g"), col("v"), col("c"), monotoneBucket(col("v")).as("bucket"))
      .filter(col("bucket").isNotNull)
    val wOff = Window.partitionBy(col("g")).orderBy(col("bucket"))
    val w = Window.partitionBy(col("g"), col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val endLocal = bucketed.withColumn("end_local", sum(col("c")).over(w))
    // bucket totals from the SAME (g, bucket)-hash exchange the rank
    // window uses (r19): end_local is monotone within a bucket (counts
    // are ≥ 1), so max(end_local) per (g, bucket) IS the bucket total and
    // the aggregate needs no exchange of its own. (An explicit shared
    // repartition would avoid this branch's duplicate Sort+Window — but
    // column pruning then specializes the totals copy of the subtree, the
    // exchanges stop canonicalizing equal, and the corpus scan runs
    // twice; measured r20, rejected. The window-output read keeps
    // ReuseExchange intact and only re-sorts histogram-sized data.)
    val totals = endLocal.groupBy(col("g"), col("bucket"))
      .agg(max(col("end_local")).as("t"))
    // prefix offsets AND the per-group row count from one model-sized
    // window pass (two frames over one (g, bucket-ordered) sort): `off` is
    // the strictly-lower-bucket cumsum, `n` the whole-group total — the
    // same exact long the old bounds subtree produced, without a separate
    // corpus-derived aggregate branch (r20).
    val offsetsN = totals.select(col("g"), col("bucket"),
      coalesce(sum(col("t")).over(
        wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"),
      sum(col("t")).over(
        wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as("n"))
    val offsets = offsetsN
      .select(col("g").as("og"), col("bucket").as("obucket"), col("off"))
    // [start, end) rank interval covered by each distinct value (0-based)
    val ranked = endLocal
      .join(broadcast(offsets),
        col("g") === col("og") && col("bucket") === col("obucket"))
      .withColumn("end", col("end_local") + col("off"))
      .withColumn("start", col("end") - col("c"))
      .select(col("g"), col("v"), col("start"), col("end"))
    // one (g, n) row per group, riding the offsets branch's (g) exchange —
    // the probe targets' group list and row counts come from here, NOT a
    // hist.select(g).distinct() (which Catalyst collapses into one more
    // corpus scan — the q134 guard, unchanged in spirit from the old
    // bounds-based derivation)
    val nPerG = offsetsN.groupBy(col("g")).agg(max(col("n")).as("n"))
    val pos = col("p") * (col("n") - 1).cast("double")
    val tgt0 =
      if (fanAllGroups)
        nPerG.select(col("g").as("pg"), col("n")).crossJoin(probesDf)
      else probesDf
        .join(nPerG.select(col("g").as("ng"), col("n")), col("pg") === col("ng"))
    val tgt = broadcast(tgt0.select(col("pg"), col("name"), pos.as("pos"),
      floor(pos).as("lo_r"), ceil(pos).as("hi_r")))
    // ONE containment probe for both bracketing ranks: the histogram is
    // scanned once against a join predicate admitting either rank, and a
    // conditional max per probe name separates v_lo from v_hi afterwards
    // (when both ranks fall in the same interval the single joined row
    // supplies both). The previous two-join + rejoin form ran the whole
    // ranked-histogram pipeline twice.
    val joined = ranked.join(tgt, col("g") === col("pg") &&
      ((col("start") <= col("lo_r") && col("lo_r") < col("end")) ||
        (col("start") <= col("hi_r") && col("hi_r") < col("end"))))
    def fld(s: String, suffix: String) = s"__${s}_$suffix"
    val aggs = names.flatMap { s =>
      val isN = col("name") === s
      Seq(
        max(when(isN && col("start") <= col("lo_r") && col("lo_r") < col("end"),
          col("v"))).as(fld(s, "vlo")),
        max(when(isN && col("start") <= col("hi_r") && col("hi_r") < col("end"),
          col("v"))).as(fld(s, "vhi")),
        max(when(isN, col("pos"))).as(fld(s, "pos")),
        max(when(isN, col("lo_r"))).as(fld(s, "lor")),
        max(when(isN, col("hi_r"))).as(fld(s, "hir")))
    }
    val aggd =
      if (grouped) joined.groupBy(col("pg")).agg(aggs.head, aggs.tail: _*)
      else joined.agg(aggs.head, aggs.tail: _*)
    val rCols = names.map { s =>
      when(col(fld(s, "lor")) === col(fld(s, "hir")), col(fld(s, "vlo")))
        .otherwise(
          (col(fld(s, "hir")).cast("double") - col(fld(s, "pos"))) * col(fld(s, "vlo")) +
            (col(fld(s, "pos")) - col(fld(s, "lor")).cast("double")) * col(fld(s, "vhi")))
        .as(s)
    }
    if (grouped) aggd.select(col("pg").as("g") +: rCols: _*)
    else aggd.select(rCols: _*)
  }

  /** Approximate percentiles — the 100 TB path q85 specializes. Exact
    * percentile() buffers every group value in memory; approx_percentile
    * (KLL-style sketch) is bounded-memory, mergeable map-side, and within
    * 1/accuracy relative rank error. No DuckDB oracle (engine-specific
    * sketch); AggSpec bounds |approx − exact| on the same columns, the
    * q33/q34 exact-vs-approx pattern.
    */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      // one sketch per column (array form), mirroring q85's buffer shape
      .agg(
        expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75, 0.95), 10000)")
          .as("qty_ps"),
        expr("approx_percentile(price_cents, array(0.5, 0.95), 10000)").as("price_ps"))
      .select(
        element_at(col("qty_ps"), 1).as("qty_p25"),
        element_at(col("qty_ps"), 2).as("qty_p50"),
        element_at(col("qty_ps"), 3).as("qty_p75"),
        element_at(col("qty_ps"), 4).as("qty_p95"),
        element_at(col("price_ps"), 1).as("price_cents_p50"),
        element_at(col("price_ps"), 2).as("price_cents_p95"))

  /** Sample stddev + Pearson correlation, assembled from exact integer-cent
    * power sums with one deterministic float finish — builtin stddev/corr
    * use Welford-style streaming accumulation whose float error is
    * merge-order-dependent and can't hash-match another engine (AggSpec
    * ties the builtins to these values within 1e-9).
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity").cast("long")
    val pd = round(col("l_extendedprice")).cast("long") // integer dollars
    t(spark, dir, "lineitem")
      .select(q.as("q"), pd.as("pd"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sqq"), sum(col("pd")).as("sp"),
        sum(col("pd") * col("pd")).as("spp"), sum(col("q") * col("pd")).as("sqp"))
      // exact integer sums cast to double FIRST, then one shared float
      // formula — cross products like sq² overflow BIGINT at larger SFs
      .select(col("n").as("n"), col("n").cast("double").as("nd"),
        col("sq").cast("double").as("sq"), col("sqq").cast("double").as("sqq"),
        col("sp").cast("double").as("sp"), col("spp").cast("double").as("spp"),
        col("sqp").cast("double").as("sqp"))
      .select(
        col("n"),
        sqrt((col("sqq") * col("nd") - col("sq") * col("sq")) /
          (col("nd") * (col("nd") - 1))).as("stddev_qty"),
        ((col("sqp") * col("nd") - col("sq") * col("sp")) /
          (sqrt(col("sqq") * col("nd") - col("sq") * col("sq")) *
            sqrt(col("spp") * col("nd") - col("sp") * col("sp"))))
          .as("corr_qty_price"))
  }

  /** Declarative data-quality constraint suite (the Deequ/dbt-test shape):
    * row count, key uniqueness, null rate, accepted values, numeric range
    * on `orders`, plus lineitem→orders referential integrity — each as a
    * named check with its violation metric and pass flag. The five orders
    * checks fold into ONE conditional aggregation (one scan, map-side
    * partial — adding a constraint costs a column, not a pass), the FK
    * check is one left-anti count; a 100 TB deployment runs exactly this
    * shape nightly and alerts on `passed = false` rows.
    */
  def qualityChecks(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val orderAgg = o.agg(
      count(lit(1)).as("rowcount"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("bad_status"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("bad_price"))
    val orphans = t(spark, dir, "lineitem")
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphans"))
    val checks = orderAgg.crossJoin(orphans).select(explode(array(
      struct(lit("orders_fk_lineitem_orphans").as("check"),
        col("orphans").as("metric"), (col("orphans") === 0).as("passed")),
      struct(lit("orders_orderkey_unique").as("check"),
        col("dup_keys").as("metric"), (col("dup_keys") === 0).as("passed")),
      struct(lit("orders_custkey_not_null").as("check"),
        col("null_custkey").as("metric"), (col("null_custkey") === 0).as("passed")),
      struct(lit("orders_rowcount_nonempty").as("check"),
        col("rowcount").as("metric"), (col("rowcount") > 0).as("passed")),
      struct(lit("orders_status_accepted").as("check"),
        col("bad_status").as("metric"), (col("bad_status") === 0).as("passed")),
      struct(lit("orders_totalprice_positive").as("check"),
        col("bad_price").as("metric"), (col("bad_price") === 0).as("passed")))).as("c"))
    checks.select(col("c.check").as("check"), col("c.metric").as("metric"),
        col("c.passed").as("passed"))
      .orderBy(col("check"))
  }

  /** Fixed-width histogram of order totals (12 × 50k buckets) — one pass,
    * bucket id from identical IEEE division on both engines.
    */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(least(floor(col("o_totalprice") / 50000.0), lit(11)).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** Built-in pivot: line statuses become columns, one row per return
    * flag. Pivot values are enumerated explicitly — at scale an implicit
    * pivot would first run a distinct scan to discover them.
    */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("l_returnflag"))

  /** Per-group top-k via the custom TopKLongs Aggregator (§2.11 UDAF
    * extension point): the aggregation buffer is bounded at k values, so
    * partial aggregation ships k longs per group per partition — the
    * window row_number() formulation (q36's shape) shuffles every row.
    * Oracle = the ordered-list slice, proving the bounded-buffer rewrite
    * is semantics-preserving (the q44 salted-agg pattern).
    */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val top3 = udaf(graft.functions.TopKLongs(3))
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      .groupBy(col("l_returnflag"))
      // comma-joined, not a raw array<bigint>: the oracle compare handles
      // only scalar columns (the aggregator emits descending order, so the
      // join is lossless and deterministic)
      .agg(array_join(top3(col("pc")).cast("array<string>"), ",")
        .as("top3_price_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** Calendar rollup — monthly revenue via date_trunc: the date-function
    * surface (SURVEY §2.8 notes the reference has none; any real pipeline
    * does). Exact integer cents; month emitted as epoch ms of the
    * truncated timestamp (the cross-engine-stable date representation).
    */
  def monthlyRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg((sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(tsMillis(col("month")).as("month_ms"),
        col("revenue"), col("n_orders"))
      .orderBy(col("month_ms"))

  /** Deterministic 10% sample: rows whose md5(key) starts below a fixed
    * hex threshold. Unlike RNG sampling this is reproducible on any
    * engine/cluster/partitioning — the sampling pattern that survives
    * distribution (and the oracle can replay it exactly).
    */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "1a")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))

  /** UNPIVOT (wide → long melt) — the inverse of q88's pivot: a per-flag
    * metrics row unpivoted to (flag, metric, value) tuples, the shape
    * metric stores and plotting layers consume. Spark's native unpivot
    * (Expand under the hood — no shuffle beyond the feeding aggregate,
    * no UDF) over exact integer-valued doubles so every melted value is
    * cross-engine bit-stable.
    */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    val wide = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).cast("double").as("sum_qty"),
        max(col("l_quantity")).cast("double").as("max_qty"),
        count(lit(1)).cast("double").as("n_rows"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("max_qty"), col("n_rows")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  val queries = Map(
    "q30_distinct" -> distinctFlags _,
    "q113_unpivot" -> unpivotMetrics _,
    // q85 runs the histogram-exact formulation (the buffered percentile()
    // form stays a spec-only reference); q105 is the WEIGHTED variant —
    // the two names were historically bound to one function, which
    // duplicated ~3 s of bench work and inflated the query count
    "q85_percentiles" -> percentilesViaHistogram _,
    "q105_weighted_percentiles" -> weightedPercentiles _,
    "q89_approx_percentiles" -> approxPercentiles _,
    "q86_stats" -> stats _,
    "q149_quality_checks" -> qualityChecks _,
    "q87_histogram" -> histogram _,
    "q88_pivot" -> pivotStatus _,
    "q91_hash_sample" -> hashSample _,
    "q95_monthly_revenue" -> monthlyRevenue _,
    "q98_topk_agg" -> topkPerGroup _,
    "q43_grouping_sets" -> groupingSets _,
    "q44_salted_agg" -> ((s: SparkSession, d: String) => saltedAgg(s, d)),
    "q31_cube" -> cubeFlags _,
    "q32_rollup" -> rollupFlags _,
    "q33_count_distinct" -> countDistincts _,
    "q34_approx_distinct" -> approxDistinct _,
    "q112_hll_sketch_union" -> hllSketchCardinality _,
    "q118_topk_sketch_union" -> topkSketchTokens _,
    "q35_topk" -> topkOrders _)

  private val percentilesSql =
    """SELECT quantile_cont(l_quantity, 0.25) AS qty_p25,
      |  quantile_cont(l_quantity, 0.5) AS qty_p50,
      |  quantile_cont(l_quantity, 0.75) AS qty_p75,
      |  quantile_cont(l_quantity, 0.95) AS qty_p95,
      |  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5) AS price_cents_p50,
      |  quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.95) AS price_cents_p95
      |FROM lineitem""".stripMargin

  val oracle = Map(
    "q149_quality_checks" ->
      """WITH oa AS (
        |  SELECT CAST(count(*) AS BIGINT) AS rowcount,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_keys,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price
        |  FROM orders),
        |orph AS (
        |  SELECT CAST(count(*) AS BIGINT) AS orphans FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |SELECT "check", metric, passed FROM (
        |  SELECT 'orders_fk_lineitem_orphans' AS "check", orphans AS metric, orphans = 0 AS passed FROM oa, orph
        |  UNION ALL
        |  SELECT 'orders_orderkey_unique', dup_keys, dup_keys = 0 FROM oa
        |  UNION ALL
        |  SELECT 'orders_custkey_not_null', null_custkey, null_custkey = 0 FROM oa
        |  UNION ALL
        |  SELECT 'orders_rowcount_nonempty', rowcount, rowcount > 0 FROM oa
        |  UNION ALL
        |  SELECT 'orders_status_accepted', bad_status, bad_status = 0 FROM oa
        |  UNION ALL
        |  SELECT 'orders_totalprice_positive', bad_price, bad_price = 0 FROM oa) u
        |ORDER BY "check"""".stripMargin,
    "q118_topk_sketch_union" ->
      // the sketch is exact here (TopKSketchTracked ≥ per-group distinct
      // tokens, verified through sf1's suffix-inflated vocabulary), so
      // the oracle is the plain per-source + global token counts
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |per AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS n
        |  FROM tok GROUP BY source, tok),
        |tot AS (
        |  SELECT '__all__' AS source, tok, CAST(count(*) AS BIGINT) AS n
        |  FROM tok GROUP BY tok)
        |SELECT source, tok, n FROM (
        |  SELECT * FROM per UNION ALL SELECT * FROM tot) u
        |ORDER BY source, tok""".stripMargin,
    "q113_unpivot" ->
      // UNION ALL melt — DuckDB's UNPIVOT reorders; the explicit form
      // pins (metric, value) pairing and lets ORDER BY settle row order
      """WITH w AS (
        |  SELECT l_returnflag,
        |    CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |    CAST(max(l_quantity) AS DOUBLE) AS max_qty,
        |    CAST(count(*) AS DOUBLE) AS n_rows
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
        |  UNION ALL SELECT l_returnflag, 'max_qty', max_qty FROM w
        |  UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM w) u
        |ORDER BY l_returnflag, metric""".stripMargin,
    "q85_percentiles" -> percentilesSql,
    "q105_weighted_percentiles" ->
      // lower weighted percentile: smallest v with cum weight ≥ p·W.
      // Integer weights keep every cumsum exact (DuckDB sums BIGINT into
      // HUGEINT; the CAST to DOUBLE happens only at the compare, the same
      // single IEEE multiply+compare Spark runs)
      """WITH h AS (
        |  SELECT CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE) AS v,
        |    sum(CAST(l_quantity AS BIGINT)) AS c
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |  GROUP BY 1),
        |o AS (
        |  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS tot FROM h)
        |SELECT
        |  min(CASE WHEN CAST(cum AS DOUBLE) >= 0.25 * CAST(tot AS DOUBLE) THEN v END) AS wp25,
        |  min(CASE WHEN CAST(cum AS DOUBLE) >= 0.5 * CAST(tot AS DOUBLE) THEN v END) AS wp50,
        |  min(CASE WHEN CAST(cum AS DOUBLE) >= 0.75 * CAST(tot AS DOUBLE) THEN v END) AS wp75,
        |  min(CASE WHEN CAST(cum AS DOUBLE) >= 0.95 * CAST(tot AS DOUBLE) THEN v END) AS wp95
        |FROM o""".stripMargin,
    "q86_stats" ->
      """WITH s AS (
        |  SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
        |    CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) AS sq,
        |    CAST(CAST(sum(q*q) AS BIGINT) AS DOUBLE) AS sqq,
        |    CAST(CAST(sum(pd) AS BIGINT) AS DOUBLE) AS sp,
        |    CAST(CAST(sum(pd*pd) AS BIGINT) AS DOUBLE) AS spp,
        |    CAST(CAST(sum(q*pd) AS BIGINT) AS DOUBLE) AS sqp
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS q,
        |          CAST(round(l_extendedprice) AS BIGINT) AS pd
        |        FROM lineitem) t)
        |SELECT n,
        |  sqrt((sqq*nd - sq*sq) / (nd * (nd - 1))) AS stddev_qty,
        |  (sqp*nd - sq*sp) /
        |    (sqrt(sqq*nd - sq*sq) * sqrt(spp*nd - sp*sp)) AS corr_qty_price
        |FROM s""".stripMargin,
    "q87_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 50000.0), 11) AS INT) AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q88_pivot" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (l_linestatus = 'F') AS "F",
        |  count(*) FILTER (l_linestatus = 'O') AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q91_hash_sample" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
        |ORDER BY o_orderkey""".stripMargin,
    "q98_topk_agg" ->
      """SELECT l_returnflag,
        |  array_to_string((list(CAST(round(l_extendedprice * 100) AS BIGINT)
        |        ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT) DESC))[1:3], ',')
        |    AS top3_price_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q95_monthly_revenue" ->
      """SELECT epoch_ms(date_trunc('month', o_orderdate)) AS month_ms,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
        |    AS revenue,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY month_ms""".stripMargin,
    "q43_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q44_salted_agg" ->
      // the oracle is the UNSALTED direct aggregation — proves the salted
      // two-phase rewrite is semantics-preserving
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q30_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q31_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q32_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0
        |    AS sum_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q33_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q34_approx_distinct: intentionally no oracle (engine-specific sketch)
    "q35_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
}
