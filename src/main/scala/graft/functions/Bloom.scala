package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlInternals.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Column forms of Spark's OWN bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the pair the
  * optimizer's runtime-filter injection uses), surfaced for plans the
  * injection rule cannot see: iterative anti-joins whose build side is a
  * loop-carried cached frame with no stats (BFS visited sets, the
  * incremental-dedup corpus index).
  *
  * Contract (same as `InjectRuntimeFilter`): feed BOTH sides the same
  * `xxhash64(...)` column; the aggregate's binary result is collected to
  * the driver (n·~10 bits — MBs at 10⁷ items) and probed as a foldable
  * binary literal. `might_contain = false` is EXACT "never inserted";
  * `true` is "maybe" — callers must still verify positives, which is
  * what makes this a PRE-PRUNE of an anti-join, never a replacement. At
  * 10⁹-item build sides the literal should graduate to a broadcast
  * variable; the collected-blob form keeps the whole prune inside
  * ordinary column algebra.
  */
object Bloom {

  /** Largest bloom bit-count we'll materialize as a plan literal (8M
    * bytes = Spark's default `runtimeFilterNumBitsMax` ceiling, 64M
    * bits) — past this the filter saturates toward all-maybe instead of
    * growing, an fpp degradation, never a correctness loss.
    */
  val MaxNumBits: Long = 67108864L

  private def numBitsFor(estItems: Long): Long =
    math.min(MaxNumBits, math.max(1L << 20, estItems * 10L))

  /** Aggregate a pre-hashed (`xxhash64`) long column into a serialized
    * bloom filter (binary). Merge is bitwise-OR — associative and
    * map-side combined, so the shuffle carries one fixed-size bitset per
    * partition regardless of row count (the same bounded-state argument
    * as every sketch in [[Sketches]]).
    */
  def bloomAgg(hashed: Column, estItems: Long): Column = {
    val est = math.max(1L, estItems)
    column(new BloomFilterAggregate(expression(hashed), Literal(est), Literal(numBitsFor(est)))
      .toAggregateExpression())
  }

  /** Probe: `might_contain(bloomBlob, xxhash64(v))`. `bloom` must be
    * foldable (a `lit(blob)`); false ⇒ v was definitely never inserted.
    * A NULL hash gives NULL (the raw-key
    * [[VectorExprs.bloomMightContain]] gives false).
    */
  def mightContain(bloom: Column, hashed: Column): Column =
    column(BloomFilterMightContain(expression(bloom), expression(hashed)))
}
