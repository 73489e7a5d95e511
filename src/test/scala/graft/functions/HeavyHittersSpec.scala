package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Misra–Gries heavy-hitters aggregate: exact regime, lossy-regime
  * error bound, partitioning invariance, and merge behavior.
  */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private def summarize(items: Seq[String], k: Int, parts: Int): Map[String, Long] =
    items.toDF("item")
      .repartition(parts)
      .agg(Sketches.mgTopK(col("item"), k).as("mg"))
      .select(explode(col("mg")))
      .select(col("col.item"), col("col.est"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap

  test("exact regime: below capacity the summary is exact group-by counts") {
    val items = Seq.fill(40)("a") ++ Seq.fill(25)("b") ++ Seq.fill(7)("c")
    val got = summarize(scala.util.Random.shuffle(items), k = 8, parts = 5)
    assert(got === Map("a" -> 40L, "b" -> 25L, "c" -> 7L))
  }

  test("lossy regime: estimates under-count by at most n/(k+1), heavy items survive") {
    // 1 very heavy item + a long tail of singletons that force decrements
    val tail = (0 until 300).map(i => s"t$i")
    val items = Seq.fill(200)("heavy") ++ Seq.fill(50)("mid") ++ tail
    val n = items.size
    val k = 9
    val got = summarize(scala.util.Random.shuffle(items), k, parts = 7)
    assert(got.size <= k)
    // MG guarantee (single-stream): true - n/(k+1) <= est <= true.
    // Merged map-side partials keep the bound additive (PODS'12), and
    // our partials each see >= n_p rows, so the global bound still
    // holds with n = total rows.
    assert(got.contains("heavy"), s"item with freq 200 > n/(k+1)=${n / (k + 1)} must survive: $got")
    assert(got("heavy") <= 200L && got("heavy") >= 200L - n / (k + 1))
    got.foreach { case (item, est) =>
      val truth = items.count(_ == item).toLong
      assert(est <= truth, s"$item estimated $est over true $truth — MG never over-counts")
      assert(est >= truth - n / (k + 1))
    }
  }

  test("partitioning invariance in the exact regime") {
    val items = (0 until 500).map(i => s"w${i % 13}")
    val a = summarize(items, k = 20, parts = 1)
    val b = summarize(items, k = 20, parts = 11)
    assert(a === b)
    assert(a("w0") === 39L) // 500/13 rounds: w0..w6 get 39, rest 38
  }

  test("grouped: one summary per group, canonical (est desc, item asc) order") {
    val df = Seq(
      ("g1", "x"), ("g1", "x"), ("g1", "y"),
      ("g2", "z"), ("g2", "y"), ("g2", "y"))
      .toDF("g", "item")
    val rows = df.groupBy(col("g"))
      .agg(Sketches.mgTopK(col("item"), 4).as("mg"))
      .select(col("g"), col("mg").cast("array<struct<item:string,est:bigint>>"))
      .as[(String, Seq[(String, Long)])]
      .collect()
      .toMap
    assert(rows("g1") === Seq(("x", 2L), ("y", 1L)))
    assert(rows("g2") === Seq(("y", 2L), ("z", 1L)))
  }
}
