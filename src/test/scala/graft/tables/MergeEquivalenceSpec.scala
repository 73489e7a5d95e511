package graft.tables

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The one-join merges against the two-pass plans they replaced.
  *
  * Random targets are built through earlier merges whose sources have
  * unique non-null keys (so the precondition in the [[Merge]] scaladoc
  * holds), then a last source with duplicate keys runs against them.
  * Sources carry null keys, null tracked values, and may be empty; the
  * schema-evolving merge also sees its source's columns drift. After
  * every step the table each implementation produced must hold the same
  * rows as a multiset (a missing table holds none).
  */
class MergeEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def forAllSeeded[A](gen: Gen[A], runs: Int)(body: A => Unit): Unit =
    (1 to runs).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val at = Seq("2020-01-01", "2020-02-01", "2020-03-01")
    .map(d => Timestamp.valueOf(s"$d 00:00:00"))

  /** (key, tracked v, untracked w, partition p) */
  private type Rec = (Option[String], Option[Long], String, String)

  private val recGen: Gen[Rec] = for {
    k <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.oneOf("k1", "k2", "k3", "k4", "k5").map(Some(_)))
    v <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.chooseNum(1L, 3L).map(Some(_)))
    w <- Gen.oneOf("a", "b")
    p <- Gen.oneOf("p0", "p1", "p2")
  } yield (k, v, w, p)

  private def sourceGen(uniqueKeys: Boolean): Gen[List[Rec]] =
    Gen.frequency(1 -> Gen.const(0), 5 -> Gen.chooseNum(1, 8)).flatMap(Gen.listOfN(_, recGen)).map { rs =>
      if (!uniqueKeys) rs
      else rs.filter(_._1.isEmpty) ++ rs.filter(_._1.nonEmpty).distinctBy(_._1)
    }

  private val runGen = for {
    b1 <- sourceGen(uniqueKeys = true)
    b2 <- sourceGen(uniqueKeys = true)
    last <- sourceGen(uniqueKeys = false)
  } yield Seq(b1, b2, last)

  private def rows(t: LakeTable): Map[Seq[Any], Int] =
    if (!t.exists) Map.empty
    else t.read().collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, g) => r -> g.size }

  private case class Variant(
      name: String,
      scd2: Boolean,
      current: (LakeTable, DataFrame, Timestamp) => Long,
      oracle: (LakeTable, DataFrame, Timestamp) => Long)

  private val key = Seq("k")
  private val tracked = Seq("v")
  private val variants = Seq(
    Variant("mergeScd1", scd2 = false,
      (t, s, _) => Merge.mergeScd1(t, s, key),
      (t, s, _) => TwoPass.mergeScd1(t, s, key)),
    Variant("mergeScd2", scd2 = true,
      (t, s, a) => Merge.mergeScd2(t, s, key, tracked, a),
      (t, s, a) => TwoPass.mergeScd2(t, s, key, tracked, a)),
    Variant("mergeScd1Partitioned", scd2 = false,
      (t, s, _) => Merge.mergeScd1Partitioned(t, s, key, "p"),
      (t, s, _) => TwoPass.mergeScd1Partitioned(t, s, key, "p")),
    Variant("mergeScd2Partitioned", scd2 = true,
      (t, s, a) => Merge.mergeScd2Partitioned(t, s, key, tracked, a, "p"),
      (t, s, a) => TwoPass.mergeScd2Partitioned(t, s, key, tracked, a, "p")),
    Variant("mergeScd1Evolve", scd2 = false,
      (t, s, a) => Merge.mergeScd1Evolve(t, drifted(s, a), key),
      (t, s, a) => TwoPass.mergeScd1Evolve(t, drifted(s, a), key)))

  /** The source as the merge at `a` sees it: the second merge drops `w`
    * and adds `x`, the third drops `p` and brings `w` back.
    */
  private def drifted(source: DataFrame, a: Timestamp): DataFrame = at.indexOf(a) match {
    case 0 => source
    case 1 => source.select(col("k"), col("v"), col("p"), concat(col("w"), lit("x")).as("x"))
    case _ => source.select(col("k"), col("v"), col("w"), concat(col("w"), lit("y")).as("x"))
  }

  test("one-join merges equal the two-pass plans as multisets of rows") {
    // what the sources and targets exercised, over all runs
    val seen = scala.collection.mutable.Set.empty[String]
    forAllSeeded(runGen, 4) { sources =>
      variants.foreach { variant =>
        val current = LakeTable(spark, scratchDir("eq-current"))
        val oracle = LakeTable(spark, scratchDir("eq-oracle"))
        sources.zip(at).zipWithIndex.foreach { case ((recs, ts), step) =>
          val keys = recs.flatMap(_._1)
          if (keys.distinct.size < keys.size) seen += "duplicate keys"
          if (recs.exists(_._1.isEmpty)) seen += "null keys"
          if (recs.exists(_._2.isEmpty)) seen += "null tracked values"
          if (recs.isEmpty) seen += "empty source"
          val historical = "a target with historical rows"
          if (variant.scd2 && !seen(historical) && current.exists &&
              current.read().filter(col("is_current") === 0).count() > 0)
            seen += historical
          val source = recs.toDF("k", "v", "w", "p")
          variant.current(current, source, ts)
          variant.oracle(oracle, source, ts)
          val (got, want) = (rows(current), rows(oracle))
          assert(got == want,
            s"${variant.name} step ${step + 1} source $recs:\n one join: $got\n two-pass: $want")
        }
      }
    }
    assert(
      seen == Set("duplicate keys", "null keys", "null tracked values", "empty source",
        "a target with historical rows"),
      s"the generated runs covered only $seen")
  }
}

/** The two-pass merge plans before the one-join rewrites, verbatim,
  * except that the affected-partition list is collected without the size
  * cap and the dir-name checks, which these inputs never trip.
  */
private object TwoPass {
  private val StartCol = "start_timestamp"
  private val EndCol = "end_timestamp"
  private val CurrentCol = "is_current"

  private def scd2Rewrite(
      target: DataFrame,
      stamped: DataFrame,
      keyCols: Seq[String],
      trackedCols: Seq[String],
      at: Timestamp): DataFrame = {
    val dataCols = target.columns.toSeq // includes scd2 bookkeeping cols
    val src = stamped.select(dataCols.map(col): _*).alias("s")
    val tgt = target.alias("t")

    val keyEq: Column = keyCols
      .map(k => col(s"t.$k") === col(s"s.$k"))
      .reduce(_ && _)
    val anyTrackedDiffers: Column = trackedCols
      .map(c => !(col(s"t.$c") <=> col(s"s.$c")))
      .reduce(_ || _)

    // Close pass: current target rows whose source counterpart changed.
    val joined = tgt.join(src, keyEq && col(s"t.$CurrentCol") === 1, "left")
    val sourceMatched = col(s"s.${keyCols.head}").isNotNull
    val mustClose = sourceMatched && anyTrackedDiffers
    val rewrittenTarget = joined.select(
      dataCols.map {
        case EndCol => when(mustClose, lit(at)).otherwise(col(s"t.$EndCol")).as(EndCol)
        case CurrentCol => when(mustClose, lit(0)).otherwise(col(s"t.$CurrentCol")).as(CurrentCol)
        case c => col(s"t.$c").as(c)
      }: _*)

    // Insert pass: source rows with no *current, tracked-identical* match
    // (i.e. new keys or changed values) get a fresh open version.
    val currentTgt = target.filter(col(CurrentCol) === 1).alias("t")
    val inserts = src
      .join(
        currentTgt,
        keyCols.map(k => col(s"s.$k") === col(s"t.$k")).reduce(_ && _) &&
          trackedCols.map(c => col(s"s.$c") <=> col(s"t.$c")).reduce(_ && _),
        "left_anti")
      .select(dataCols.map(c => col(s"s.$c").as(c)): _*)

    rewrittenTarget.unionByName(inserts)
  }

  def mergeScd2(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      trackedCols: Seq[String],
      at: Timestamp,
      statsCols: Seq[String] = Seq.empty): Long = {
    val stamped = Merge.addScd2Cols(source, at)
    if (!table.exists || table.isEmpty)
      return table.append(stamped, statsCols = statsCols)
    table.overwrite(
      scd2Rewrite(table.read(), stamped, keyCols, trackedCols, at),
      statsCols = statsCols)
  }

  def mergeScd1(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): Long = {
    if (!table.exists || table.isEmpty)
      return table.append(source, statsCols = statsCols)
    val target = table.read()
    val dataCols = target.columns.toSeq
    val src = source.select(dataCols.map(col): _*)
    val survivors = target.join(src.select(keyCols.map(col): _*), keyCols, "left_anti")
    table.overwrite(survivors.unionByName(src), statsCols = statsCols)
  }

  def mergeScd1Evolve(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): Long = {
    if (!table.exists || table.isEmpty)
      return table.append(source, statsCols = statsCols)
    val target = table.read()
    val tCols = target.columns.toSeq
    val sCols = source.columns.toSeq
    require(keyCols.forall(sCols.contains), s"source must carry merge keys $keyCols")
    val addedCols = sCols.filterNot(tCols.contains)
    val targetOnly = tCols.filterNot(sCols.contains)
    val allCols = tCols ++ addedCols // stable order: target first, then drift
    val survivors = target
      .join(source.select(keyCols.map(col): _*), keyCols, "left_anti")
      .select(allCols.map { c =>
        if (tCols.contains(c)) col(c)
        else lit(null).cast(source.schema(c).dataType).as(c)
      }: _*)
    val upserts =
      if (targetOnly.isEmpty)
        source.select(allCols.map(col): _*)
      else
        source.alias("s")
          .join(
            target.select((keyCols ++ targetOnly).map(col): _*).alias("t"),
            keyCols,
            "left")
          .select(allCols.map { c =>
            if (keyCols.contains(c)) col(c)
            else if (sCols.contains(c)) col(s"s.$c").as(c)
            else col(s"t.$c").as(c)
          }: _*)
    table.overwrite(survivors.unionByName(upserts), statsCols = statsCols)
  }

  private def affectedPartitions(
      target: DataFrame,
      source: DataFrame,
      keyCols: Seq[String],
      partCol: String): Seq[String] = {
    val fromTarget = target
      .join(source.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
      .select(col(partCol).cast("string"))
    val fromSource = source.select(col(partCol).cast("string"))
    fromTarget.union(fromSource).distinct().collect().map(_.getString(0)).toSeq.sorted
  }

  def mergeScd1Partitioned(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      partCol: String): Long = {
    if (!table.exists || table.isEmpty) return table.append(source, partitionBy = Seq(partCol))
    val target = table.read()
    val affected = affectedPartitions(target, source, keyCols, partCol)
    val dataCols = target.columns.toSeq
    val src = source.select(dataCols.map(col): _*)
    val targetAff = target.filter(col(partCol).cast("string").isin(affected: _*))
    val survivors = targetAff.join(src.select(keyCols.map(col): _*), keyCols, "left_anti")
    table.replacePartitions(survivors.unionByName(src), affected)
  }

  def mergeScd2Partitioned(
      table: LakeTable,
      source: DataFrame,
      keyCols: Seq[String],
      trackedCols: Seq[String],
      at: Timestamp,
      partCol: String): Long = {
    val stamped = Merge.addScd2Cols(source, at)
    if (!table.exists || table.isEmpty)
      return table.append(stamped, partitionBy = Seq(partCol))
    val target = table.read()
    val affected = affectedPartitions(target, stamped, keyCols, partCol)
    val targetAff = target.filter(col(partCol).cast("string").isin(affected: _*))
    table.replacePartitions(
      scd2Rewrite(targetAff, stamped, keyCols, trackedCols, at),
      affected)
  }
}
