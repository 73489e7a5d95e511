package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Ops
import graft.streaming.Candles
import graft.tables.{LakeTable, Merge}

/** Property-based invariants (SURVEY §5): SCD2 structural guarantees,
  * dedup idempotence, and OHLCV candle math over generated inputs.
  */
class PropertySpec extends SparkSpec {

  /** scalatestplus isn't in the offline cache; drive ScalaCheck Gens
    * directly with fixed seeds for reproducible property runs.
    */
  private def forAllSeeded[A](gen: Gen[A], runs: Int)(body: A => Unit): Unit =
    (1 to runs).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }
  import spark.implicits._

  private val t1 = Timestamp.valueOf("2020-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2020-02-01 00:00:00")
  private val t3 = Timestamp.valueOf("2020-03-01 00:00:00")

  private val batchGen: Gen[List[(String, Long)]] =
    Gen.listOfN(
      12,
      for {
        k <- Gen.oneOf((1 to 6).map(i => s"k$i"))
        v <- Gen.chooseNum(1L, 5L)
      } yield (k, v)).map(_.distinctBy(_._1))

  test("SCD2: ≤1 current row per key; intervals contiguous; replay is a no-op") {
    forAllSeeded(Gen.zip(batchGen, batchGen), 6) { case (b1, b2) =>
      if (b1.nonEmpty) {
        val table = LakeTable(spark, scratchDir("prop-scd2"))
        Merge.mergeScd2(table, b1.toDF("key", "v"), Seq("key"), Seq("v"), t1)
        Merge.mergeScd2(table, b2.toDF("key", "v"), Seq("key"), Seq("v"), t2)
        val afterTwo = table.read().collect()
        // replaying batch 2 must change nothing (unchanged rows skipped)
        Merge.mergeScd2(table, b2.toDF("key", "v"), Seq("key"), Seq("v"), t3)
        val afterReplay = table.read().collect()
        assert(afterReplay.map(_.toString).sorted.toSeq == afterTwo.map(_.toString).sorted.toSeq)

        val rows = table.read()
        // at most one current row per key
        val maxCurrent = rows.filter($"is_current" === 1)
          .groupBy("key").count().agg(max("count")).head().getLong(0)
        assert(maxCurrent <= 1)
        // closed rows end exactly where the next version starts
        val closed = rows.filter($"is_current" === 0).collect()
        closed.foreach { r =>
          val key = r.getAs[String]("key")
          val end = r.getAs[Timestamp]("end_timestamp")
          assert(end != null)
          val successors = rows
            .filter($"key" === key && $"start_timestamp" === end).count()
          assert(successors >= 1, s"no successor version for closed $key at $end")
        }
      }
    }
  }

  test("deduplicate is idempotent and keeps exactly one row per key") {
    val rowsGen = Gen.listOfN(
      30,
      for {
        k <- Gen.chooseNum(1, 8)
        ord <- Gen.chooseNum(1, 100)
        id <- Gen.chooseNum(1, 100000)
      } yield (k, ord, id))
    forAllSeeded(rowsGen, 8) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "ord", "id").dropDuplicates("k", "ord", "id")
        val once = Ops.deduplicate(df, Seq("k"), "ord", Seq("id"))
        val twice = Ops.deduplicate(once, Seq("k"), "ord", Seq("id"))
        assert(once.collect().sortBy(_.getInt(0)).toSeq ==
          twice.collect().sortBy(_.getInt(0)).toSeq)
        assert(once.groupBy("k").count().agg(max("count")).head().getLong(0) == 1L)
        // winner has the max (ord, id) per key
        val winners = once.collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
        rows.distinct.groupBy(_._1).foreach { case (k, g) =>
          assert(winners(k) == g.map(t => (t._2, t._3)).max)
        }
      }
    }
  }

  test("candles: low ≤ open/close ≤ high and volume = sum per window") {
    val rowsGen = Gen.listOfN(
      40,
      for {
        minute <- Gen.chooseNum(0, 59)
        v <- Gen.chooseNum(1, 1000)
        id <- Gen.chooseNum(1, 1000000)
      } yield (id.toLong, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), "S", v.toDouble))
    forAllSeeded(rowsGen, 8) { rawRows =>
      val rows = rawRows.distinctBy(r => (r._1, r._2))
      if (rows.nonEmpty) {
        val df = rows.toDF("id", "ts", "sym", "v")
        val out = Candles.candles(df, "ts", "id", "sym", "v").collect()
        out.foreach { r =>
          val (open, high, low, close) = (
            r.getAs[Double]("open"), r.getAs[Double]("high"),
            r.getAs[Double]("low"), r.getAs[Double]("close"))
          assert(low <= open && open <= high)
          assert(low <= close && close <= high)
        }
        assert(out.map(_.getAs[Long]("n_rows")).sum == rows.size)
        val totalVol = out.map(_.getAs[Double]("volume")).sum
        assert(math.abs(totalVol - rows.map(_._4).sum) < 1e-6)
      }
    }
  }

  private val deleteTableGen: Gen[List[(String, Long, Int)]] =
    Gen.listOfN(
      15,
      for {
        k <- Gen.oneOf((1 to 10).map(i => s"k$i"))
        v <- Gen.chooseNum(1L, 100L)
        year <- Gen.oneOf(2023, 2024, 2025)
      } yield (k, v, year)).map(_.distinctBy(_._1))

  test("partitioned delete ≡ whole-table delete for random tables and thresholds") {
    forAllSeeded(Gen.zip(deleteTableGen, Gen.chooseNum(1L, 100L)), 5) { case (rows, cut) =>
      if (rows.nonEmpty) {
        val df = rows.toDF("key", "v", "year")
        val cond = col("v") >= cut || col("year") === 2024

        val whole = LakeTable(spark, scratchDir("pd-whole"))
        whole.append(df, partitionBy = Seq("year"))
        Merge.deleteWhere(whole, cond)

        val scoped = LakeTable(spark, scratchDir("pd-scoped"))
        scoped.append(df, partitionBy = Seq("year"))
        Merge.deleteWherePartitioned(scoped, cond, "year")

        def snap(t: LakeTable) = t.read().select("key", "v", "year").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
        assert(snap(whole) == snap(scoped), s"cut=$cut rows=$rows")
        assert(snap(scoped) == rows.filterNot { case (_, v, y) => v >= cut || y == 2024 }.toSet)
      }
    }
  }

  // batches of epoch-micro offsets around 1970 — negative values exercise
  // the pre-epoch floorDiv path in the watermark round-trip
  private val microBatchesGen: Gen[List[List[Long]]] =
    Gen.listOfN(3, Gen.nonEmptyListOf(Gen.chooseNum(-5000000000L, 5000000000L)))

  test("bpe fold merge equals a reference single-threaded greedy merge on random strings") {
    val wordGen: Gen[List[String]] = Gen.listOfN(
      14, Gen.stringOfN(Gen.chooseNum(1, 9).pureApply(Gen.Parameters.default, Seed(7L)),
        Gen.oneOf('a', 'b', 'c')))
    def refMerge(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    forAllSeeded(wordGen, 5) { words =>
      val docs = words.filter(_.nonEmpty).zipWithIndex
        .map { case (w, i) => (i.toLong, w) }
      if (docs.nonEmpty) {
        val df = docs.toDF("id", "text")
        val rules = graft.ext.Bpe.fit(df, "text", merges = 3)
        // replay the same rule sequence single-threaded and compare the
        // final subword count per word type
        val expected = docs.map(_._2).distinct.map { w =>
          val fin = rules.foldLeft(w.map(_.toString).toList) { (s, r) =>
            refMerge(s, r.lhs, r.rhs)
          }
          w -> fin.length.toLong
        }.toMap
        val got = graft.ext.Bpe
          .encodeCounts(df, "id", "text", rules)
          .collect()
          .map(r => docs.find(_._1 == r.getLong(0)).get._2 -> r.getLong(2))
          .toMap
        expected.foreach { case (w, n) =>
          assert(got(w) == n, s"word '$w': engine ${got(w)} vs reference $n (rules $rules)")
        }
      }
    }
  }

  test("pq codes are independent of input partitioning") {
    val vecGen: Gen[List[List[Double]]] = Gen.listOfN(
      20, Gen.listOfN(8, Gen.chooseNum(-10, 10).map(_.toDouble / 10)))
    forAllSeeded(vecGen, 3) { vecs =>
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
      def run(parts: Int): Map[Long, Long] = {
        val df = rows.toDF("id", "v").repartition(parts)
        val books = graft.ext.ProductQuant.pqFit(df, "id", "v", m = 2, k = 4, iters = 1)
        graft.ext.ProductQuant.pqEncode(df, "id", "v", books, k = 4)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(run(1) == run(7), "codes must not depend on partition layout")
    }
  }

  test("observed manifest watermark equals the exact max over random timestamp batches") {
    forAllSeeded(microBatchesGen, 5) { batches =>
      val t = LakeTable(spark, scratchDir("prop-stats"))
      batches.foreach { b =>
        t.append(
          b.toDF("us").select(expr("timestamp_micros(us)").as("ts")),
          statsCols = Seq("ts"))
      }
      val trueMax = batches.flatten.max
      // destroy data files: the probe below must answer from the manifest
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(t.root, "data"))
      try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
      // rows at exactly trueMax must be cut (watermark is inclusive);
      // one microsecond later must pass — pins the EXACT observed value
      val probe = Seq(trueMax, trueMax + 1L)
        .toDF("us").select(col("us"), expr("timestamp_micros(us)").as("ts"))
      val got = t.incrementalFrom(probe, "ts").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(trueMax + 1L), s"batches=$batches got=$got")
    }
  }

  test("Misra-Gries: never over-counts, n/(k+1) under-bound, heavy items always survive") {
    val streamGen: Gen[List[String]] = Gen.listOfN(
      400, Gen.frequency(
        5 -> Gen.const("hot"),
        3 -> Gen.oneOf("w1", "w2", "w3"),
        4 -> Gen.chooseNum(0, 200).map(i => s"t$i")))
    forAllSeeded(Gen.zip(streamGen, Gen.chooseNum(4, 16)), 6) { case (items, k) =>
      val got = items.toDF("item")
        .repartition(5)
        .agg(graft.functions.Sketches.mgTopK(col("item"), k).as("mg"))
        .select(explode(col("mg")))
        .select(col("col.item"), col("col.est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = items.size
      assert(got.size <= k)
      got.foreach { case (item, est) =>
        val truth = items.count(_ == item).toLong
        assert(est <= truth, s"k=$k $item over-counted: $est > $truth")
        assert(est >= truth - n / (k + 1), s"k=$k $item under bound broken")
      }
      // guaranteed survivors: anything above the n/(k+1) threshold
      val counts = items.groupBy(identity).view.mapValues(_.size.toLong)
      counts.filter(_._2 > n / (k + 1)).keys.foreach { h =>
        assert(got.contains(h), s"k=$k heavy $h (freq ${counts(h)}) evicted: $got")
      }
    }
  }

  test("Hilbert key: bijective and reference-equal on random orders; neighbors stay adjacent") {
    forAllSeeded(Gen.chooseNum(2, 5), 4) { order =>
      def ref(o: Int, xIn: Long, yIn: Long): Long = {
        var (x, y, d) = (xIn, yIn, 0L)
        var s = 1L << (o - 1)
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
      val side = 1 << order
      val cells = for { x <- 0L until side; y <- 0L until side } yield (x, y)
      val got = cells.toDF("x", "y")
        .select($"x", $"y", graft.functions.ZOrder.hilbertKey($"x", $"y", order).as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      cells.foreach { case (x, y) => assert(got((x, y)) == ref(order, x, y)) }
      assert(got.values.toSet == (0L until side.toLong * side).toSet, "must be a bijection")
      val walk = got.toSeq.sortBy(_._2).map(_._1)
      walk.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1L, s"order=$order jumped")
      }
    }
  }

  test("EWMA fold: splitting the stream at any point and resuming is exact (streaming == batch)") {
    val valsGen = Gen.listOfN(30, Gen.chooseNum(-1000, 1000).map(_ / 7.0))
    forAllSeeded(Gen.zip(valsGen, Gen.chooseNum(1, 29)), 8) { case (vals, cut) =>
      def fold(init: Option[Double], xs: Seq[Double]): Option[Double] =
        xs.foldLeft(init) { (acc, v) => Some(acc.fold(v)(a => 0.5 * v + 0.5 * a)) }
      val whole = fold(None, vals)
      val (a, b) = vals.splitAt(cut)
      val resumed = fold(fold(None, a), b)
      // bit-exact, not approximately-equal: this is the identity that
      // lets q_stream_ewma hash-match the batch oracle across waves
      assert(whole.get == resumed.get,
        s"cut=$cut whole=${whole.get} resumed=${resumed.get}")
    }
  }
}
