package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.tables.LakeTable

/** Hilbert key correctness (vs an independent reference loop), the
  * locality property that motivates it over Morton, and file pruning on
  * both dimensions after a Hilbert-clustered rewrite.
  */
class HilbertSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference: the classic Wikipedia xy2d loop, written
    * imperatively so a transcription slip in the column fold can't
    * self-confirm.
    */
  private def refXy2d(order: Int, xIn: Long, yIn: Long): Long = {
    var (x, y, d) = (xIn, yIn, 0L)
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("hilbertKey matches the reference loop on the full 16x16 grid (order 4)") {
    val cells = for { x <- 0L until 16L; y <- 0L until 16L } yield (x, y)
    val got = cells.toDF("x", "y")
      .select($"x", $"y", ZOrder.hilbertKey($"x", $"y", order = 4).as("d"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    cells.foreach { case (x, y) =>
      assert(got((x, y)) === refXy2d(4, x, y), s"mismatch at ($x, $y)")
    }
    // a space-filling curve is a bijection onto [0, 256)
    assert(got.values.toSet === (0L until 256L).toSet)
  }

  test("hilbertKey at the default order agrees with the reference on scattered points") {
    val pts = Seq((0L, 0L), (65535L, 65535L), (12345L, 54321L), (1L, 65535L), (40000L, 3L))
    val got = pts.toDF("x", "y")
      .select(ZOrder.hilbertKey($"x", $"y").as("d"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === pts.map { case (x, y) => refXy2d(16, x, y) })
  }

  test("locality: every consecutive Hilbert step is an adjacent cell; Morton jumps") {
    val order = 4
    val byD = (for { x <- 0L until 16L; y <- 0L until 16L } yield (refXy2d(order, x, y), (x, y)))
      .sortBy(_._1).map(_._2)
    val hilbertSteps = byD.sliding(2).map { case Seq((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }.toSeq
    assert(hilbertSteps.forall(_ == 1L), "Hilbert walk must move one cell at a time")
    // Morton (z-order) on the same grid takes long diagonal jumps
    def morton(x: Long, y: Long): Long = {
      var d = 0L
      for (i <- 0 until order) {
        d |= ((x >> i) & 1L) << (2 * i + 1)
        d |= ((y >> i) & 1L) << (2 * i)
      }
      d
    }
    val byZ = (for { x <- 0L until 16L; y <- 0L until 16L } yield (morton(x, y), (x, y)))
      .sortBy(_._1).map(_._2)
    val mortonMax = byZ.sliding(2).map { case Seq((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }.max
    assert(mortonMax > 1L, "sanity: the Morton walk does jump")
  }

  test("hilbert-clustered compaction prunes files on BOTH dimensions") {
    val grid = for { x <- 0 until 32; y <- 0 until 32 } yield (x, y, x * 32 + y)
    val t = LakeTable(spark, scratchDir("hilbert"))
    t.append(grid.toDF("x", "y", "id"), statsCols = Seq("x", "y"))
    t.compactClusteredBy(
      ZOrder.hilbertKey($"x", $"y", order = 5), Seq("x", "y"), numFiles = 16)
    val (xs, _, _, (_, xSkip)) = t.readBetweenWithFilePruneInfo("x", Some(3), Some(4))
    val (ys, _, _, (_, ySkip)) = t.readBetweenWithFilePruneInfo("y", Some(3), Some(4))
    assert(xSkip > 0 && ySkip > 0, s"hilbert must prune both dims: x=$xSkip y=$ySkip")
    assert(xs.count() == 64 && ys.count() == 64)
  }
}
