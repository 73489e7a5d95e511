package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlInternals.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Distinct-count sketches as NATIVE Catalyst aggregates.
  *
  * [[KMinValues]] is the KMV (k-minimum-values) estimator (Bar-Yossef
  * et al. 2002): keep the k smallest distinct values of a uniform hash;
  * the k-th smallest, as a fraction of the hash space, estimates
  * density, so distinct ≈ (k−1) / (kth / 2⁶⁰). Two properties motivate
  * it next to Spark's built-in HLL (`approx_count_distinct`):
  *
  *   - DETERMINISTIC AND ENGINE-REPLAYABLE: fed an md5-derived hash,
  *     the k-min set — and therefore the estimate, bit for bit — is
  *     reproducible in any engine with md5 and a top-k, so the sketch
  *     is fully oracle-checkable (`q_approx_distinct_kmv`), unlike
  *     HLL's private xxhash64 register layout (`q_approx_distinct`,
  *     permanently rows-only).
  *   - SCALE SHAPE: a `TypedImperativeAggregate` with a bounded
  *     (≤ k longs) buffer that merges map-side, so the shuffle carries
  *     at most k values per (group, partition) — the whole point of a
  *     sketch; the exact-distinct alternative shuffles every distinct
  *     key. Below k distinct values the buffer holds ALL of them and
  *     the estimate is exact.
  */
object Sketches {

  /** KMV sketch aggregate over a pre-hashed non-negative long column
    * (hash choice stays with the caller for oracle parity; use a 60-bit
    * hash so double conversion below is exact). NULL inputs are
    * ignored, empty input estimates 0.
    */
  case class KMinValues(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
      with UnaryLike[Expression] {
    require(k >= 2, s"KMV needs k >= 2, got $k")

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == LongType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_kmv expects a BIGINT hash column, got ${child.dataType.catalogString}")

    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()

    override def update(
        buf: java.util.TreeSet[java.lang.Long],
        input: InternalRow): java.util.TreeSet[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) {
        val h = v.asInstanceOf[Long]
        if (buf.size < k) buf.add(h)
        else if (h < buf.last()) { // strictly smaller than current kth
          if (buf.add(h)) buf.pollLast()
        }
      }
      buf
    }

    override def merge(
        buf: java.util.TreeSet[java.lang.Long],
        other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      val it = other.iterator()
      var continue = true
      while (continue && it.hasNext) {
        val h = it.next()
        if (buf.size < k) buf.add(h)
        else if (h < buf.last()) { if (buf.add(h)) buf.pollLast() }
        else continue = false // other is sorted ascending: rest can't qualify
      }
      buf
    }

    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
      if (buf.size < k) buf.size.toDouble
      else (k - 1).toDouble / (buf.last().toDouble / 1152921504606846976.0) // 2^60

    override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
      bb.putInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) bb.putLong(it.next())
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new java.util.TreeSet[java.lang.Long]()
      var i = 0
      while (i < n) { buf.add(bb.getLong); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): KMinValues =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): KMinValues =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildInternal(c: Expression): KMinValues = copy(child = c)
  }

  /** KMV sketch aggregate evaluating to the k-min SET itself (ascending
    * `array<bigint>`, shorter than k iff fewer distinct hashes exist)
    * rather than the scalar estimate — the form set algebra needs:
    * because a k-min set is a uniform SAMPLE of the distinct hash space,
    * union/intersection cardinalities fall out of plain array algebra
    * over two sketches (union = k smallest of the merged sets; the
    * fraction of those also present in both sides estimates Jaccard).
    * Same bounded buffer and map-side merge as [[KMinValues]].
    */
  case class KMinSet(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
      with UnaryLike[Expression] {
    require(k >= 2, s"KMV needs k >= 2, got $k")

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == LongType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_kmv_set expects a BIGINT hash column, got ${child.dataType.catalogString}")

    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()

    override def update(
        buf: java.util.TreeSet[java.lang.Long],
        input: InternalRow): java.util.TreeSet[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) {
        val h = v.asInstanceOf[Long]
        if (buf.size < k) buf.add(h)
        else if (h < buf.last()) { if (buf.add(h)) buf.pollLast() }
      }
      buf
    }

    override def merge(
        buf: java.util.TreeSet[java.lang.Long],
        other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      val it = other.iterator()
      var continue = true
      while (continue && it.hasNext) {
        val h = it.next()
        if (buf.size < k) buf.add(h)
        else if (h < buf.last()) { if (buf.add(h)) buf.pollLast() }
        else continue = false // other is sorted ascending: rest can't qualify
      }
      buf
    }

    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
      val arr = new Array[Long](buf.size)
      val it = buf.iterator()
      var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }

    override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
      bb.putInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) bb.putLong(it.next())
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new java.util.TreeSet[java.lang.Long]()
      var i = 0
      while (i < n) { buf.add(bb.getLong); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): KMinSet =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): KMinSet =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildInternal(c: Expression): KMinSet = copy(child = c)
  }

  /** Column form of [[KMinSet]]. */
  def kmvSet(hash: Column, k: Int): Column =
    column(KMinSet(expression(hash), k).toAggregateExpression())

  /** Column form of [[KMinValues]]. */
  def kmvDistinct(hash: Column, k: Int): Column =
    column(KMinValues(expression(hash), k).toAggregateExpression())

  /** Count-min sketch (Cormode & Muthukrishnan 2005) as a native
    * aggregate: a d×w counter matrix where row i counts occurrences per
    * bucket of the i-th hash; the frequency estimate for a key is the
    * MIN of its d counters (always an overestimate, never under).
    *
    * Division of labor, chosen for oracle parity and codegen:
    *   - the d bucket columns are computed OUTSIDE the aggregate with
    *     ordinary column functions (the md5-substring recipe any engine
    *     can replay), so hashing stays public and engine-checkable;
    *   - this aggregate is purely the bounded counter state: a d·w
    *     long array (independent of input cardinality) updated per row
    *     and merged map-side by vector addition, so the shuffle carries
    *     ONE matrix per partition instead of one row per distinct key —
    *     the sketch's entire reason to exist at 100 TB;
    *   - probing is ordinary column algebra again:
    *     `least(element_at(sketch, b0+1), element_at(sketch, w+b1+1), …)`
    *     — codegen'd, no UDF anywhere on the path.
    *
    * Estimates are integer counts — cross-engine comparison is exact,
    * no rounding discipline needed.
    */
  case class CountMinMatrix(
      children: Seq[Expression],
      w: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] {
    require(w >= 2, s"count-min needs width >= 2, got $w")
    require(children.nonEmpty, "count-min needs at least one bucket column")

    private def d: Int = children.length

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (children.forall(_.dataType == LongType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_cms expects BIGINT bucket columns, got " +
            children.map(_.dataType.catalogString).mkString(", "))

    override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      // Evaluate every bucket column first and skip the WHOLE row if any is
      // null: a partial update would give matrix rows inconsistent totals,
      // letting min-over-rows UNDER-estimate and breaking the
      // overestimate-only guarantee.
      val vs = new Array[Long](d)
      var i = 0
      while (i < d) {
        val v = children(i).eval(input)
        if (v == null) return buf
        vs(i) = v.asInstanceOf[Long]
        i += 1
      }
      i = 0
      while (i < d) {
        // defensive floor-mod: callers pass pmod'ed buckets already
        val b = (vs(i) % w + w) % w
        buf(i * w + b.toInt) += 1L
        i += 1
      }
      buf
    }

    override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
      var i = 0
      while (i < buf.length) { buf(i) += other(i); i += 1 }
      buf
    }

    override def eval(buf: Array[Long]): Any =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
      var i = 0
      while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = new Array[Long](bytes.length / 8)
      var i = 0
      while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): CountMinMatrix =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): CountMinMatrix =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): CountMinMatrix = copy(children = cs)
  }

  /** Column form: aggregate d pre-hashed bucket columns into one d×w
    * count-min matrix (row-major `array<bigint>` of length d·w).
    */
  def cmsSketch(buckets: Seq[Column], w: Int): Column =
    column(CountMinMatrix(buckets.map(expression), w).toAggregateExpression())

  /** Mutable bottom-k buffer: (hash, value) pairs under lexicographic
    * order, bounded to k pairs, with the pair count tracked so update
    * stays O(log k) per row. Pairs, not hashes, are the sample unit: a
    * hash collision across different values keeps both, matching
    * `SELECT DISTINCT hv, val` replay.
    */
  final class BottomKBuffer {
    val map = new java.util.TreeMap[java.lang.Long, java.util.TreeSet[java.lang.Double]]()
    var n: Int = 0

    private def dropLast(): Unit = {
      val e = map.lastEntry()
      e.getValue.pollLast()
      if (e.getValue.isEmpty) map.pollLastEntry()
      n -= 1
    }

    /** Insert (h, v) if it qualifies, keeping <= k pairs. Returns false
      * iff (h, v) >= the current k-th pair (merge early-exit signal).
      */
    def offer(k: Int, h: Long, v: Double): Boolean = {
      if (n < k) {
        val set = map.computeIfAbsent(h, _ => new java.util.TreeSet[java.lang.Double]())
        if (set.add(v)) n += 1
        true
      } else {
        val last = map.lastEntry()
        val lh = last.getKey.longValue()
        val lv = last.getValue.last().doubleValue()
        if (h > lh || (h == lh && v >= lv)) false
        else {
          val set = map.computeIfAbsent(h, _ => new java.util.TreeSet[java.lang.Double]())
          if (set.add(v)) { n += 1; dropLast() }
          true
        }
      }
    }
  }

  /** Bottom-k (hash-ordered) uniform sample of a value column — the
    * quantile-sketch member of the family (Cohen & Kaplan 2007
    * bottom-k sketches): keep the k (hash, value) pairs with the
    * lexicographically smallest (hash, value) key. Because a uniform
    * hash induces a random-but-DETERMINISTIC total order on rows, the
    * survivor set is a uniform sample that any engine reproduces
    * bit-for-bit (`ORDER BY hv, val LIMIT k`), so sample quantiles are
    * fully oracle-checkable — unlike `approx_percentile`'s internal
    * randomized KLL layout. Standard sample-quantile error is
    * O(1/sqrt(k)) in rank.
    *
    * Scale shape: bounded ≤ k-pair buffer per (group, partition),
    * merged map-side with the same sorted early-exit as [[KMinValues]]
    * — the shuffle carries one ≤ k-pair sketch per partial, never the
    * data. The exact alternative (`percentile`) shuffles and sorts
    * every value in the group. NULL hashes or values are ignored.
    * Evaluates to the sample's values as an `array<double>` sorted
    * ascending BY VALUE, ready for quantile interpolation.
    */
  case class BottomKSample(
      hashChild: Expression,
      valueChild: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[BottomKBuffer]
      with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
    require(k >= 2, s"bottom-k sample needs k >= 2, got $k")

    override def left: Expression = hashChild
    override def right: Expression = valueChild
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (hashChild.dataType == LongType && valueChild.dataType == DoubleType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_bottomk expects (BIGINT hash, DOUBLE value), got " +
            s"(${hashChild.dataType.catalogString}, ${valueChild.dataType.catalogString})")

    override def createAggregationBuffer(): BottomKBuffer = new BottomKBuffer

    override def update(buf: BottomKBuffer, input: InternalRow): BottomKBuffer = {
      val h = hashChild.eval(input)
      val v = valueChild.eval(input)
      if (h != null && v != null) buf.offer(k, h.asInstanceOf[Long], v.asInstanceOf[Double])
      buf
    }

    override def merge(buf: BottomKBuffer, other: BottomKBuffer): BottomKBuffer = {
      val eit = other.map.entrySet().iterator()
      var continue = true
      while (continue && eit.hasNext) {
        val e = eit.next()
        val vit = e.getValue.iterator()
        while (continue && vit.hasNext) {
          // other iterates in ascending pair order: first rejection
          // means no later pair can qualify either
          continue = buf.offer(k, e.getKey, vit.next())
        }
      }
      buf
    }

    override def eval(buf: BottomKBuffer): Any = {
      val out = new Array[Double](buf.n)
      var i = 0
      val eit = buf.map.values().iterator()
      while (eit.hasNext) {
        val vit = eit.next().iterator()
        while (vit.hasNext) { out(i) = vit.next(); i += 1 }
      }
      java.util.Arrays.sort(out)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override def serialize(buf: BottomKBuffer): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.n)
      bb.putInt(buf.n)
      val eit = buf.map.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        val vit = e.getValue.iterator()
        while (vit.hasNext) { bb.putLong(e.getKey); bb.putDouble(vit.next()) }
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): BottomKBuffer = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new BottomKBuffer
      var i = 0
      while (i < n) {
        val h = bb.getLong
        val v = bb.getDouble
        buf.offer(Int.MaxValue, h, v)
        i += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): BottomKSample =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): BottomKSample =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): BottomKSample =
      copy(hashChild = newLeft, valueChild = newRight)
  }

  /** Column form of [[BottomKSample]]. */
  def bottomKSample(hash: Column, value: Column, k: Int): Column =
    column(BottomKSample(expression(hash), expression(value), k).toAggregateExpression())

  /** Misra–Gries heavy-hitters summary (Misra & Gries 1982; merge rule
    * from Agarwal et al., "Mergeable Summaries", PODS 2012) as a native
    * aggregate: at most k (item, count) counters. Present item → count+1;
    * room → new counter at 1; full → decrement ALL counters (dropping
    * zeros), which charges the new item and k incumbents one occurrence
    * each. Guarantee: true_freq − n/(k+1) ≤ est ≤ true_freq, so every
    * item with frequency > n/(k+1) is guaranteed to survive.
    *
    * Merge adds counters pairwise, then restores the bound by
    * subtracting the (k+1)-th largest count from all and dropping
    * non-positives — the PODS'12 rule that keeps the summed error
    * bounds additive, so map-side partials stay mergeable with no loss
    * of guarantee.
    *
    * Scale shape: the shuffle carries ≤ k counters per (group,
    * partition) regardless of input cardinality — the exact top-k
    * alternative shuffles every distinct item. Below k distinct items
    * NO decrement ever fires, counts are exact group-by counts and the
    * summary is engine-replayable bit for bit (the oracle-parity
    * discipline [[KMinValues]] set: `q_heavy_hitters` runs in that
    * exact regime; HeavyHittersSpec proves the error bound in the
    * lossy regime).
    *
    * Evaluates to `array<struct<item string, est bigint>>` sorted by
    * (est DESC, item ASC) — a canonical order independent of hash-map
    * iteration, so equal inputs give equal outputs.
    */
  case class MisraGries(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.HashMap[String, java.lang.Long]]
      with UnaryLike[Expression] {
    require(k >= 1, s"misra-gries needs k >= 1, got $k")

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("item", org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("est", LongType, nullable = false))),
        containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == org.apache.spark.sql.types.StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_mg expects a STRING item column, got ${child.dataType.catalogString}")

    override def createAggregationBuffer(): java.util.HashMap[String, java.lang.Long] =
      new java.util.HashMap[String, java.lang.Long]()

    override def update(
        buf: java.util.HashMap[String, java.lang.Long],
        input: InternalRow): java.util.HashMap[String, java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) offer(buf, v.toString, 1L)
      buf
    }

    private def offer(
        buf: java.util.HashMap[String, java.lang.Long],
        item: String,
        w: Long): Unit = {
      val cur = buf.get(item)
      if (cur != null) buf.put(item, cur + w)
      else if (buf.size < k) buf.put(item, w)
      else {
        // decrement-all by min(w, smallest counter) repeatedly is the
        // weighted generalization; for w == 1 (the update path) this is
        // one classic decrement round
        var rem = w
        while (rem > 0 && !buf.containsKey(item)) {
          var min = Long.MaxValue
          val it = buf.values().iterator()
          while (it.hasNext) { val c = it.next().longValue(); if (c < min) min = c }
          val d = math.min(rem, min)
          val eit = buf.entrySet().iterator()
          while (eit.hasNext) {
            val e = eit.next()
            val nc = e.getValue - d
            if (nc <= 0) eit.remove() else e.setValue(nc)
          }
          rem -= d
          if (buf.size < k && rem > 0) buf.put(item, rem)
        }
      }
    }

    override def merge(
        buf: java.util.HashMap[String, java.lang.Long],
        other: java.util.HashMap[String, java.lang.Long]): java.util.HashMap[String, java.lang.Long] = {
      val eit = other.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        val cur = buf.get(e.getKey)
        buf.put(e.getKey, if (cur == null) e.getValue else java.lang.Long.valueOf(cur + e.getValue))
      }
      if (buf.size > k) {
        // subtract the (k+1)-th largest count, drop non-positives
        val counts = new Array[Long](buf.size)
        var i = 0
        val vit = buf.values().iterator()
        while (vit.hasNext) { counts(i) = vit.next().longValue(); i += 1 }
        java.util.Arrays.sort(counts)
        val cut = counts(buf.size - k - 1) // (k+1)-th largest
        val bit = buf.entrySet().iterator()
        while (bit.hasNext) {
          val e = bit.next()
          val nc = e.getValue - cut
          if (nc <= 0) bit.remove() else e.setValue(nc)
        }
      }
      buf
    }

    override def eval(buf: java.util.HashMap[String, java.lang.Long]): Any = {
      val entries = new java.util.ArrayList[java.util.Map.Entry[String, java.lang.Long]](buf.entrySet())
      entries.sort(new java.util.Comparator[java.util.Map.Entry[String, java.lang.Long]] {
        override def compare(
            a: java.util.Map.Entry[String, java.lang.Long],
            b: java.util.Map.Entry[String, java.lang.Long]): Int = {
          val byCount = java.lang.Long.compare(b.getValue, a.getValue)
          // UTF-8 BYTE order on ties, not Java's UTF-16 code-unit
          // order: the DuckDB oracle's ORDER BY term compares UTF-8
          // bytes, and the two orders disagree for supplementary-plane
          // characters vs [U+E000, U+FFFF] — a divergent tie order
          // changes which term survives a top-k cut
          if (byCount != 0) byCount
          else org.apache.spark.unsafe.types.UTF8String.fromString(a.getKey)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.getKey))
        }
      })
      val rows = new Array[Any](entries.size())
      var i = 0
      while (i < entries.size()) {
        val e = entries.get(i)
        rows(i) = InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey),
          e.getValue.longValue())
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
    }

    override def serialize(buf: java.util.HashMap[String, java.lang.Long]): Array[Byte] = {
      var bytes = 4
      val eit0 = buf.entrySet().iterator()
      val pairs = new java.util.ArrayList[(Array[Byte], Long)](buf.size)
      while (eit0.hasNext) {
        val e = eit0.next()
        val b = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        pairs.add((b, e.getValue.longValue()))
        bytes += 4 + b.length + 8
      }
      val bb = java.nio.ByteBuffer.allocate(bytes)
      bb.putInt(pairs.size())
      var i = 0
      while (i < pairs.size()) {
        val (b, c) = pairs.get(i)
        bb.putInt(b.length); bb.put(b); bb.putLong(c)
        i += 1
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new java.util.HashMap[String, java.lang.Long]()
      var i = 0
      while (i < n) {
        val len = bb.getInt
        val b = new Array[Byte](len)
        bb.get(b)
        buf.put(new String(b, java.nio.charset.StandardCharsets.UTF_8), bb.getLong)
        i += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): MisraGries =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildInternal(c: Expression): MisraGries = copy(child = c)
  }

  /** Column form of [[MisraGries]]. */
  def mgTopK(item: Column, k: Int): Column =
    column(MisraGries(expression(item), k).toAggregateExpression())
}
