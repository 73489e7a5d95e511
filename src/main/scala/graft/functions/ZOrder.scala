package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) keys as pure column algebra — the multi-dimension
  * clustering key behind Delta's `OPTIMIZE ... ZORDER BY` and Iceberg's
  * z-order sort rewrite. Interleaving the bits of two dimensions makes
  * rows close in EITHER dimension land close in the sort order, so a
  * range-clustered rewrite on the z-key gives per-file zonemaps that
  * are tight on BOTH columns — a query filtering on either one prunes
  * files, where a lexicographic (a, b) sort only ever prunes on `a`.
  *
  * Built entirely from `shiftleft`/`|`/`&` over longs (the classic
  * magic-number bit-spread), so the whole key stays inside whole-stage
  * codegen — no UDF, no custom Expression needed.
  */
object ZOrder {

  /** Spread the low 32 bits of `x` to the even bit positions of a long
    * (0babab…a0b0 pattern half): 5 mask-shift rounds, each fully
    * codegen'd.
    */
  private def spreadBits(x: Column): Column = {
    val masks: Seq[(Int, Long)] = Seq(
      16 -> 0x0000FFFF0000FFFFL,
      8 -> 0x00FF00FF00FF00FFL,
      4 -> 0x0F0F0F0F0F0F0F0FL,
      2 -> 0x3333333333333333L,
      1 -> 0x5555555555555555L)
    masks.foldLeft(x.bitwiseAND(lit(0xFFFFFFFFL))) { case (acc, (shift, mask)) =>
      (acc.bitwiseOR(shiftleft(acc, shift))).bitwiseAND(lit(mask))
    }
  }

  /** Morton key of two non-negative 32-bit dimensions: bits of `a` on
    * the odd positions, bits of `b` on the even ones. Callers with
    * wider/signed/continuous domains normalize first (rank, epoch-day,
    * bucket id — anything that preserves order in 32 bits).
    */
  def zorderKey(a: Column, b: Column): Column =
    shiftleft(spreadBits(a), 1).bitwiseOR(spreadBits(b))

  /** HILBERT key of two non-negative dimensions on a 2^order × 2^order
    * grid — the space-filling curve behind Delta's Liquid-style
    * clustering choice over Morton: consecutive Hilbert keys are always
    * ADJACENT cells (a Morton walk jumps across the grid at power-of-two
    * boundaries), so equal-size key ranges cover tighter rectangles and
    * per-file zonemaps come out tighter on both dimensions.
    *
    * The classic xy→d loop (rotate-and-accumulate per bit level,
    * Hamilton's convention) is data-dependent per level, so unrolling it
    * into plain column algebra would duplicate the x/y subtrees ~3× per
    * level — an exponentially-sized plan. The loop therefore runs as the
    * compiled expression [[graft.functions.VectorExprs.Hilbert2]]: one
    * tight JVM loop per row. (The earlier `aggregate`-fold column form
    * computed the same Hamilton loop but interpreted — `order` fold
    * steps per row, each allocating a struct accumulator and evaluating
    * ~15 sub-expressions; the clustered rewrite evaluates the key twice
    * per row — range-partitioner sample + real pass — which made the
    * fold ~3 s of q_hilbert_scan at sf0.1. HilbertSpec pins both forms
    * against an independent reference transcription.)
    */
  def hilbertKey(a: Column, b: Column, order: Int = 16): Column = {
    require(order >= 1 && order <= 31, s"hilbert order must be in [1,31], got $order")
    VectorExprs.hilbert2(a.cast("long"), b.cast("long"), order)
  }
}
