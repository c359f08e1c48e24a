package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension — tier (c) of the custom-operator ladder
  * (SURVEY §6): a logical node + planner strategy + physical operator for
  * per-key top-k, the per-key generalization of TakeOrderedAndProject.
  *
  * Why not Window + row_number + filter (the q36 formulation): the window
  * form SORTS every partition in full — O(n log n) per partition, spills
  * at scale — and only then discards everything past rank k. This operator
  * keeps a bounded k-row heap per key: O(n log k), memory bounded by
  * #keys × k rows regardless of group sizes — and when the key COUNT
  * itself exceeds the configured budget, the heap map spills key-sorted
  * runs and merges them (see doExecute), so memory is ⊥ both group sizes
  * and key cardinality. No sort of the losers ever happens. The planner
  * inserts the key-clustered exchange via requiredChildDistribution,
  * exactly like the built-in aggregates.
  */
case class TopKPerKeyNode(keys: Seq[Attribute], order: Seq[SortOrder], k: Int,
                          child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Planner strategy: one physical candidate, the heap operator. Installed
  * per-session via `spark.experimental.extraStrategies` (the public
  * runtime hook; SparkSessionExtensions.injectPlannerStrategy is the
  * build-time twin).
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Attribute], order: Seq[SortOrder], k: Int,
                          child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  // the same observability surface the built-in aggregates expose: output
  // rows plus the number of per-key heaps (≈ distinct keys seen), the
  // operator's actual memory driver (state = numKeys × k rows), and the
  // spill count (nonzero when the key set exceeded the in-memory budget)
  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numKeys" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of distinct keys"),
    "numSpills" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of heap-map spills"),
    "numRunMerges" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of spill-run compactions"))

  /** All rows of a key on one partition — Catalyst plans the shuffle (or
    * elides it when the child is already clustered on the keys, e.g. a
    * bucketed scan: the same exchange-reuse economics as builtin aggs).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil else ClusteredDistribution(keys) :: Nil

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  /** In-memory state is numKeys × k rows — bounded per KEY, but the number
    * of keys per partition is data-dependent and unbounded. Above the
    * `spark.graft.topkPerKey.maxKeysInMemory` budget (default 2²¹ keys)
    * the heap map SPILLS, mirroring ExternalAppendOnlyMap's shape: each
    * spill appends the map's per-key top-k rows as a run SORTED BY KEY
    * BYTES (UnsafeRow equality is byte equality under one projection, so
    * byte order is a valid grouping order), clears the map, and the final
    * pass streams a k-way merge over the runs — per key, only the
    * ≤ k·nRuns candidate rows from the run heads are ever resident, so
    * memory is ⊥ the number of distinct keys. Spilled runs hold top-k per
    * spill generation, never raw inputs, so spill volume is also bounded
    * by keys × k, not by input rows.
    *
    * Spill STORAGE is a single append-only file per task (from Spark's
    * managed local dirs), with runs addressed as (offset, length) slices
    * read back via positional FileChannel reads — ONE file descriptor per
    * task no matter how many runs, and no per-spill file creation. When a
    * key set cycles through the map (keys recur after being spilled — the
    * adversarial order for any spill-on-new-key design), the run count
    * grows with input size, not key count; above
    * `spark.graft.topkPerKey.maxSpillRuns` (default 64) the runs are
    * COMPACTED: merged into a single run in a fresh file (re-bounded to k
    * per key, so the compacted size is ≤ distinctKeys × k rows) and the
    * old file deleted. Merge fan-in and reader buffers are therefore
    * bounded by maxSpillRuns regardless of spill count.
    */
  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keysLocal = keys
    val orderLocal = order
    val childOutput = child.output
    val numOutputRows = longMetric("numOutputRows")
    val numKeys = longMetric("numKeys")
    val numSpills = longMetric("numSpills")
    val numRunMerges = longMetric("numRunMerges")
    // clamped to >= 1: a non-positive budget would write one empty run
    // per incoming key instead of ever holding a heap
    val maxKeysInMemory = math.max(1L, conf.getConfString(
      "spark.graft.topkPerKey.maxKeysInMemory", (1 << 21).toString).toLong)
    // clamped to >= 2: compaction must still be able to make progress
    // (merge >1 run) or it would rewrite a single run forever
    val maxSpillRuns = math.max(2, conf.getConfString(
      "spark.graft.topkPerKey.maxSpillRuns", "64").toInt)
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keysLocal, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      // codegen'd comparator over the requested sort order
      val ord = GenerateOrdering.generate(orderLocal, childOutput)
      // per key: a max-heap on the REVERSED order, so peek() is the worst
      // row currently kept and a better row evicts it in O(log k)
      val worstFirst = new java.util.Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = ord.compare(b, a)
      }
      val nFields = childOutput.length
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()

      def cmpBytes(a: Array[Byte], b: Array[Byte]): Int =
        java.util.Arrays.compareUnsigned(a, b)

      /** One append-only spill file: runs are (offset, length) slices. The
        * file comes from Spark's managed executor local dirs (disk-usage
        * accounted, operator-provisioned disks, swept on JVM death) — not
        * bare java.io.tmpdir; see GraftCoreBridge. Closed + deleted on
        * task completion or on compaction swap; close() is idempotent.
        */
      class SpillStore {
        val file: java.io.File = org.apache.spark.graftbridge.GraftCoreBridge
          .createLocalSpillFile("graft-topk-spill")
        private val raf = new java.io.RandomAccessFile(file, "rw")
        val channel: java.nio.channels.FileChannel = raf.getChannel
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        // buffered appender over the raf's file pointer; positional channel
        // reads never move that pointer, so it always sits at end-of-file
        private val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.OutputStream {
            override def write(b: Int): Unit = raf.write(b)
            override def write(b: Array[Byte], off: Int, len: Int): Unit =
              raf.write(b, off, len)
          }, 1 << 16))
        private var closed = false

        /** Append one key-sorted run of (keyBytes, rows) groups. */
        def writeRun(groups: Iterator[(Array[Byte], Iterator[UnsafeRow], Int)]): Unit = {
          val start = raf.getFilePointer
          groups.foreach { case (keyBytes, rows, n) =>
            out.writeInt(keyBytes.length)
            out.write(keyBytes)
            out.writeInt(n)
            rows.foreach { r =>
              val b = r.getBytes
              out.writeInt(b.length)
              out.write(b)
            }
          }
          out.flush()
          runs += ((start, raf.getFilePointer - start))
        }

        def close(): Unit = if (!closed) {
          closed = true
          raf.close() // closes the channel too
          file.delete(): Unit
        }
      }
      var store: SpillStore = null
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => if (store != null) store.close()))

      /** Streaming reader over one run slice: positional channel reads only
        * (no shared file-pointer races between the merge's many readers),
        * one small buffer each, fan-in bounded by maxSpillRuns.
        */
      class RunReader(ch: java.nio.channels.FileChannel, start: Long, len: Long) {
        private val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          new java.io.InputStream {
            private var pos = start
            private val end = start + len
            override def read(): Int = {
              val b = new Array[Byte](1)
              if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
            }
            override def read(b: Array[Byte], off: Int, l: Int): Int =
              if (pos >= end) -1
              else {
                val n = math.min(l.toLong, end - pos).toInt
                val r = ch.read(java.nio.ByteBuffer.wrap(b, off, n), pos)
                if (r > 0) pos += r
                r
              }
          }, 1 << 15))
        var key: Array[Byte] = _
        var rows: Array[UnsafeRow] = _
        advance()
        def advance(): Unit = {
          val kl = try in.readInt() catch { case _: java.io.EOFException => -1 }
          if (kl < 0) { key = null; rows = null; in.close() }
          else {
            key = new Array[Byte](kl)
            in.readFully(key)
            rows = Array.fill(in.readInt()) {
              val b = new Array[Byte](in.readInt())
              in.readFully(b)
              val r = new UnsafeRow(nFields)
              r.pointTo(b, b.length)
              r
            }
          }
        }
      }

      /** K-way merge over key-sorted runs: group run heads with equal key
        * bytes, re-bound their ≤ k·nRuns candidates to k, emit groups in
        * key-byte order with rows sorted by the requested order.
        */
      def mergeRuns(readers: Seq[RunReader]): Iterator[(Array[Byte], Array[UnsafeRow])] =
        new Iterator[(Array[Byte], Array[UnsafeRow])] {
          override def hasNext: Boolean = readers.exists(_.key != null)
          override def next(): (Array[Byte], Array[UnsafeRow]) = {
            var minKey: Array[Byte] = null
            readers.foreach { r =>
              if (r.key != null && (minKey == null || cmpBytes(r.key, minKey) < 0))
                minKey = r.key
            }
            val heap = new java.util.PriorityQueue[UnsafeRow](kLocal + 1, worstFirst)
            readers.foreach { r =>
              if (r.key != null && cmpBytes(r.key, minKey) == 0) {
                r.rows.foreach { row =>
                  if (heap.size < kLocal) heap.add(row)
                  else if (ord.compare(row, heap.peek()) < 0) { heap.poll(); heap.add(row) }
                }
                r.advance()
              }
            }
            val arr = heap.toArray(new Array[UnsafeRow](heap.size))
            java.util.Arrays.sort(arr, ord)
            (minKey, arr)
          }
        }

      /** Drain the map as one key-sorted run and clear it; compact the run
        * set whenever it reaches the fan-in bound. The FINAL drain (input
        * exhausted) passes `compactIfNeeded = false`: compacting there
        * would rewrite the whole spill file immediately before the output
        * merge reads it anyway, and the merge fan-in stays ≤ maxSpillRuns
        * either way (compaction keeps runs strictly below the bound, so
        * the drain adds at most the bound-th run).
        */
      def spill(compactIfNeeded: Boolean = true): Unit = {
        import scala.jdk.CollectionConverters._
        if (store == null) store = new SpillStore
        val entries = heaps.entrySet().asScala.toArray
          .map(e => (e.getKey.getBytes, e.getValue))
          .sortWith((a, b) => cmpBytes(a._1, b._1) < 0)
        store.writeRun(entries.iterator.map { case (keyBytes, heap) =>
          (keyBytes, heap.iterator().asScala, heap.size)
        })
        heaps.clear()
        numSpills += 1
        if (compactIfNeeded && store.runs.size >= maxSpillRuns) {
          val old = store
          store = new SpillStore
          try {
            val merged = mergeRuns(old.runs.toSeq.map { case (off, len) =>
              new RunReader(old.channel, off, len)
            })
            store.writeRun(merged.map { case (keyBytes, arr) =>
              (keyBytes, arr.iterator, arr.length)
            })
            numRunMerges += 1
          } finally old.close()
        }
      }

      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          if (heaps.size() >= maxKeysInMemory) spill()
          heap = new java.util.PriorityQueue[UnsafeRow](kLocal + 1, worstFirst)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kLocal) {
          heap.add(toUnsafe(row).copy())
        } else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(toUnsafe(row).copy())
        }
      }

      import scala.jdk.CollectionConverters._
      if (store == null) {
        numKeys += heaps.size()
        heaps.values().iterator().asScala.flatMap { heap =>
          val arr = heap.toArray(new Array[UnsafeRow](heap.size))
          java.util.Arrays.sort(arr, ord)
          numOutputRows += arr.length
          arr.iterator
        }
      } else {
        if (!heaps.isEmpty) spill(compactIfNeeded = false) // remainder → last run
        val groups = mergeRuns(store.runs.toSeq.map { case (off, len) =>
          new RunReader(store.channel, off, len)
        })
        groups.flatMap { case (_, arr) =>
          numKeys += 1
          numOutputRows += arr.length
          arr.iterator
        }
      }
    }, preservesPartitioning = true)
  }
}

/** Library entry point: `TopKPerKey(df, keys, orders, k)` builds the
  * logical node and registers the strategy on the session.
  *
  * The sort orders are taken from the ANALYZED plan of `df.sort(orderCols)`:
  * the analyzer hands back fully-resolved catalyst `SortOrder`s bound to the
  * child's output. Unwrapping the `Column`s directly (via the sql bridge)
  * does NOT work on Spark 4 — `col.desc` produces a Column-DSL
  * `sql.internal.SortOrder` node whose converted form is a
  * `ColumnNodeExpression` wrapper, never a catalyst `SortOrder`, so the
  * direction is silently dropped and the wrapper's non-serializable
  * internals get captured by the executor closure (Task not serializable).
  */
object TopKPerKey {
  def apply(df: DataFrame, keyNames: Seq[String], orderCols: Seq[Column],
            k: Int): DataFrame = {
    val spark = df.sparkSession
    installStrategy(spark, TopKPerKeyStrategy)
    // Resolve through the analyzer, then strip the Sort node. If an order
    // expression is not a bare column the analyzer wraps the Sort in a
    // Project-back, so locate the Sort anywhere in the analyzed tree.
    val sortPlan = df.sort(orderCols: _*).queryExecution.analyzed
    val sortNode = sortPlan.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
    }.getOrElse(throw new IllegalStateException(
      s"analyzer produced no Sort node for orders $orderCols"))
    val child = sortNode.child
    // resolve key names with the session's resolver (case-insensitive by
    // default, like select/groupBy), and reject ambiguity instead of
    // silently binding the first of two same-named columns
    val resolver = spark.sessionState.conf.resolver
    val keyAttrs = keyNames.map { n =>
      child.output.filter(a => resolver(a.name, n)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"key column '$n' not in ${child.output.map(_.name)}")
        case many => throw new IllegalArgumentException(
          s"key column '$n' is ambiguous among ${many.map(_.name)}")
      }
    }
    // the operator groups keys by raw UnsafeRow BYTES (hash exchange +
    // byte-equality map + byte-order spill runs) — valid only for types
    // whose SQL equality is byte equality. Floats break it (-0.0 == 0.0
    // in SQL but differs in the sign bit, NaN has many bit patterns;
    // groupBy gets NormalizeFloatingNumbers, this operator does not), and
    // maps have no canonical entry order. Reject them loudly rather than
    // silently splitting groups.
    def byteUnsafe(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case FloatType | DoubleType | _: MapType => true
        case s: StructType => s.fields.exists(f => byteUnsafe(f.dataType))
        case a: ArrayType => byteUnsafe(a.elementType)
        case _ => false
      }
    }
    keyAttrs.filter(a => byteUnsafe(a.dataType)) match {
      case Seq() => ()
      case bad => throw new IllegalArgumentException(
        "TopKPerKey keys must not contain float/double/map types " +
          s"(byte-equality grouping): ${bad.map(a => s"${a.name}: ${a.dataType.simpleString}")}")
    }
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val topk = GraftSqlBridge.ofRows(
      spark, TopKPerKeyNode(keyAttrs, sortNode.order, k, child))
    // Project away any helper columns the analyzer added for the sort.
    if (child.output.map(_.name) == df.columns.toSeq) topk
    else topk.select(df.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
  }
}
