package graft.tables

import java.sql.Timestamp

import org.apache.spark.sql.functions.{col, lit, raise_error, when}

import graft.SparkSpec

class LakeTableSpec extends SparkSpec {
  import spark.implicits._

  test("append accumulates; overwrite replaces; time travel reads old versions") {
    val t = LakeTable(spark, scratchDir("lt"))
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.append(Seq((3, "c")).toDF("k", "v"))
    assert(t.read().count() == 3)
    assert(t.read(versionAsOf = Some(0L)).count() == 2)
    t.overwrite(Seq((9, "z")).toDF("k", "v"))
    assert(t.read().collect().map(_.getInt(0)).toSeq == Seq(9))
    assert(t.read(versionAsOf = Some(1L)).count() == 3)
    val snaps = t.snapshots().orderBy("version").collect()
    assert(snaps.map(_.getAs[String]("operation")).toSeq == Seq("append", "append", "overwrite"))
  }

  test("idempotent writer txns: duplicate epochs no-op, watermarks survive every op") {
    val t = LakeTable(spark, scratchDir("txn"))
    val rows = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val v0 = t.append(rows, txn = Some(("w1", 0L)))
    assert(v0 == 0L && t.txnVersion("w1").contains(0L))
    // same (writer, epoch) again: returns the tip, writes NOTHING — not
    // even an orphan commit dir (the pre-write fast path)
    val dirsBefore = t.files().select("commit_dir").distinct().count()
    assert(t.append(rows, txn = Some(("w1", 0L))) == 0L)
    assert(t.read().count() == 2)
    assert(t.files().select("commit_dir").distinct().count() == dirsBefore)
    // an OLDER epoch replay is also dropped; a newer one commits
    assert(t.append(rows, txn = Some(("w1", -5L))) == 0L)
    t.append(Seq((3, "c")).toDF("k", "v"), txn = Some(("w1", 1L)))
    assert(t.read().count() == 3 && t.txnVersion("w1").contains(1L))
    // plain appends (no txn) never touch the watermark
    t.append(Seq((4, "d")).toDF("k", "v"))
    assert(t.txnVersion("w1").contains(1L))
    // watermarks ride through compaction and ALTER (manifest-only ops)
    t.compact()
    t.alterAddColumns(Seq(org.apache.spark.sql.types.StructField(
      "extra", org.apache.spark.sql.types.StringType)))
    assert(t.txnVersion("w1").contains(1L))
    // overwrite honors txns too: the duplicate overwrite is dropped
    t.overwrite(Seq((9, "z", "e")).toDF("k", "v", "extra"), txn = Some(("w2", 7L)))
    t.overwrite(Seq((8, "y", "f")).toDF("k", "v", "extra"), txn = Some(("w2", 7L)))
    assert(t.read().collect().map(_.getInt(0)).toSeq == Seq(9))
    assert(t.txnVersion("w1").contains(1L) && t.txnVersion("w2").contains(7L))
  }

  test("updateWhere: merge-on-read primitive — atomic DV+rewrite, old-row refs, casts") {
    val t = LakeTable(spark, scratchDir("updw"))
    t.append(Seq((1, 10, "a"), (2, 20, "b"), (3, 30, "c")).toDF("k", "cnt", "tag"))
    // assignment reads the OLD row; BIGINT expr cast back to the declared INT
    t.updateWhere(col("k") >= 2, Map("cnt" -> (col("cnt").cast("bigint") * 100)))
    val got = t.read().collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set((1, 10, "a"), (2, 2000, "b"), (3, 3000, "c")), s"got $got")
    assert(t.read().schema("cnt").dataType == org.apache.spark.sql.types.IntegerType)
    // partitioned table: updated copies land under their partition dirs
    val p = LakeTable(spark, scratchDir("updwp"))
    p.append(Seq((1, 2024, 1.0), (2, 2025, 2.0)).toDF("id", "yr", "v"), partitionBy = Seq("yr"))
    p.updateWhere(col("yr") === 2025, Map("v" -> lit(9.0)))
    assert(p.read().filter(col("yr") === 2025).select("v").head().getDouble(0) == 9.0)
    assert(p.read().count() == 2)
    // unknown assignment column fails loudly, before any write
    val bad = intercept[IllegalArgumentException](
      t.updateWhere(col("k") === 1, Map("nope" -> lit(1))))
    assert(bad.getMessage.contains("unknown column"))
  }

  test("partitioned append preserves partition columns and prunes") {
    val t = LakeTable(spark, scratchDir("part"))
    val df = Seq((1, 2024, 1), (2, 2024, 2), (3, 2025, 1)).toDF("id", "y", "m")
    t.append(df, partitionBy = Seq("y", "m"))
    val read = t.read()
    assert(read.columns.toSet == Set("id", "y", "m"))
    assert(read.filter($"y" === 2024).count() == 2)
    // partition filter must prune to the matching directories
    val plan = read.filter($"y" === 2025).queryExecution.executedPlan.toString
    assert(read.filter($"y" === 2025).count() == 1)
    assert(plan.contains("PartitionFilters") || plan.toLowerCase.contains("partition"))
  }

  test("incrementalFrom: full scan on empty target, strict > afterwards") {
    val t = LakeTable(spark, scratchDir("incr"))
    val mk = (s: String) => Timestamp.valueOf(s)
    val src = Seq(
      (1, mk("2024-01-01 00:00:00")),
      (2, mk("2024-01-02 00:00:00")),
      (3, mk("2024-01-03 00:00:00"))).toDF("id", "ts")
    assert(t.incrementalFrom(src, "ts").count() == 3)
    t.append(src.filter($"id" <= 2))
    // strict >: the row sharing the max target timestamp is excluded
    assert(t.incrementalFrom(src, "ts").collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("readBetween prunes commit dirs by manifest (min, max) range") {
    val t = LakeTable(spark, scratchDir("zonemap"))
    val mk = (s: String) => Timestamp.valueOf(s)
    // three time-ordered waves -> three commit dirs with disjoint ranges
    t.append(Seq((1, mk("2024-01-01 00:00:00")), (2, mk("2024-01-05 00:00:00"))).toDF("id", "ts"),
      statsCols = Seq("ts"))
    t.append(Seq((3, mk("2024-01-11 00:00:00")), (4, mk("2024-01-15 00:00:00"))).toDF("id", "ts"))
    t.append(Seq((5, mk("2024-01-21 00:00:00")), (6, mk("2024-01-25 00:00:00"))).toDF("id", "ts"))
    val (df, scanned, skipped) = t.readBetweenWithPruneInfo(
      "ts", Some(mk("2024-01-20 00:00:00")), Some(mk("2024-01-31 00:00:00")))
    assert(skipped.size == 2, s"expected 2 pruned dirs, got skipped=$skipped")
    assert(scanned.size == 1)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(5, 6))
    // bounds are inclusive on both ends
    val hit = t.readBetween("ts", Some(mk("2024-01-05 00:00:00")), Some(mk("2024-01-11 00:00:00")))
    assert(hit.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    // open-ended lower scan prunes nothing incorrectly
    val all = t.readBetween("ts", None, Some(mk("2024-01-31 00:00:00")))
    assert(all.count() == 6)
  }

  test("readBetween treats NaN stats as unknown — a dir whose max is NaN still scans") {
    val t = LakeTable(spark, scratchDir("zonemap-nan"))
    t.append(Seq((1L, 1.0), (2L, 5.0)).toDF("k", "x"), statsCols = Seq("x"))
    // Spark's max() sorts NaN greatest, so this dir's recorded max is
    // the string "NaN"; IEEE-comparing against it would prune the dir
    // and silently drop the valid 50.0 row
    t.append(Seq((3L, Double.NaN), (4L, 50.0)).toDF("k", "x"))
    val got = t.readBetween("x", Some(10.0), None)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    // Spark comparisons use total ordering (NaN greatest), so the NaN
    // row itself matches x >= 10.0 too — both rows of the NaN dir survive
    assert(got == Seq(3L, 4L), got.mkString(","))
  }

  test("readBetween is conservative: dirs without a recorded range are scanned") {
    val t = LakeTable(spark, scratchDir("zonemap-legacy"))
    val mk = (s: String) => Timestamp.valueOf(s)
    // first wave written with NO statsCols -> no range for ts on that dir
    t.append(Seq((1, mk("2024-01-01 00:00:00"))).toDF("id", "ts"))
    t.append(Seq((2, mk("2024-01-20 00:00:00"))).toDF("id", "ts"), statsCols = Seq("ts"))
    val (df, scanned, skipped) = t.readBetweenWithPruneInfo(
      "ts", Some(mk("2024-01-10 00:00:00")), None)
    assert(skipped.isEmpty, "a dir without stats must never be pruned")
    assert(scanned.size == 2)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("readBetween range survives partition-scoped replace (conservative keep)") {
    val t = LakeTable(spark, scratchDir("zonemap-rp"))
    val mk = (s: String) => Timestamp.valueOf(s)
    val df = Seq(
      (1, "a", mk("2024-01-01 00:00:00")),
      (2, "b", mk("2024-01-10 00:00:00")),
      (3, "b", mk("2024-01-20 00:00:00"))).toDF("id", "p", "ts")
    t.append(df, partitionBy = Seq("p"), statsCols = Seq("ts"))
    // rewrite partition b only; the surviving scope of the old dir keeps
    // its (wider) original range — never wrongly pruned
    t.replacePartitions(
      Seq((4, "b", mk("2024-02-01 00:00:00"))).toDF("id", "p", "ts"), Seq("b"))
    val (late, _, _) = t.readBetweenWithPruneInfo("ts", Some(mk("2024-01-25 00:00:00")), None)
    assert(late.collect().map(_.getInt(0)).toSeq == Seq(4))
    val early = t.readBetween("ts", None, Some(mk("2024-01-05 00:00:00")))
    assert(early.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("conflicting concurrent commit is detected, not silently overwritten") {
    val t = LakeTable(spark, scratchDir("conflict"))
    t.append(Seq((1, "a")).toDF("k", "v"))
    // two writers that both computed "next version = 1": the second
    // manifest write must fail, never overwrite (optimistic concurrency
    // on the atomic create of the version file)
    val m = LakeTable.Manifest(1L, "append", 0L, Seq.empty, "{}", Seq.empty)
    t.writeManifest(m)
    val e = intercept[IllegalStateException] { t.writeManifest(m) }
    assert(e.getMessage.contains("concurrent write"), e.getMessage)
    // a fresh append simply builds on the winner's version
    t.append(Seq((2, "b")).toDF("k", "v"))
    assert(t.latestVersion().contains(2L))
  }

  test("append schema contract: evolve adds columns and never hides them; type drift fails") {
    val t = LakeTable(spark, scratchDir("schemactr"))
    t.append(Seq((1, "a")).toDF("k", "v"))
    // additive evolution: new column visible, old files read it as NULL
    t.append(Seq((2, "b", 9.5)).toDF("k", "v", "score"))
    val cols = t.read().columns.toSeq
    assert(cols == Seq("k", "v", "score"), cols)
    // a NARROWER batch must not hide the existing column
    t.append(Seq((3, "c")).toDF("k", "v"))
    assert(t.read().columns.toSeq == Seq("k", "v", "score"))
    assert(t.read().filter(col("k") === 3).select("score").head().isNullAt(0))
    // same-name different-type is always rejected
    val e = intercept[SchemaDriftException] {
      t.append(Seq((4, 99)).toDF("k", "v")) // v: int, table has string
    }
    assert(e.getMessage.contains("changes column type"), e.getMessage)
    // strict mode rejects any field-set difference
    val e2 = intercept[SchemaDriftException] {
      t.append(Seq((5, "e")).toDF("k", "v"), schemaMode = "strict")
    }
    assert(e2.getMessage.contains("strict"), e2.getMessage)
    // strict with the exact schema passes
    t.append(Seq((6, "f", 1.0)).toDF("k", "v", "score"), schemaMode = "strict")
    assert(t.read().count() == 4)
  }

  test("deletion vectors mask rows without touching data files; rewrites materialize") {
    val t = LakeTable(spark, scratchDir("dv"))
    t.append((1 to 10).map(i => (i, s"r$i")).toDF("k", "v"))
    t.append((11 to 20).map(i => (i, s"r$i")).toDF("k", "v"))
    val filesBefore = t.files().collect().map(r => (r.getString(0), r.getString(1))).toSet

    val v = t.deleteWhereDV(col("k") % 2 === 0)
    // zero data files rewritten, moved, or deleted
    val filesAfter = t.files().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(filesAfter == filesBefore, "DV delete must not touch data files")
    assert(t.read().collect().map(_.getInt(0)).sorted.toSeq == (1 to 19 by 2))
    // time travel: the pre-delete snapshot still sees every row
    assert(t.read(Some(v - 1)).count() == 20)

    // DVs stack: a second delete masks more rows
    t.deleteWhereDV(col("k") === 1)
    assert(t.read().collect().map(_.getInt(0)).sorted.toSeq == (3 to 19 by 2))
    // a predicate matching nothing is a version no-op
    val cur = t.latestVersion().get
    assert(t.deleteWhereDV(col("k") === 999) == cur)

    // appends after a DV land normally and stay unmasked
    t.append(Seq((100, "new")).toDF("k", "v"))
    assert(t.read().count() == 10)

    // a rewrite reads the masked snapshot: deletes are materialized and
    // the fresh files carry no DV join at read
    t.compact()
    assert(t.read().collect().map(_.getInt(0)).sorted.toSeq == (3 to 19 by 2) :+ 100)
    // expire drops the sidecars once no kept manifest references them
    t.expireSnapshots(keepLast = 1)
    val dvRoot = java.nio.file.Paths.get(t.root, "dv")
    val liveDvs =
      if (!java.nio.file.Files.isDirectory(dvRoot)) 0
      else {
        val s = java.nio.file.Files.list(dvRoot)
        try s.count() finally s.close()
      }
    assert(liveDvs == 0, s"expired DV sidecars must be reclaimed, found $liveDvs")
  }

  test("a mass delete writes the DV sidecar as parallel shards, not one task") {
    import scala.jdk.CollectionConverters._
    val root = scratchDir("dvshard")
    val t = LakeTable(spark, root)
    t.append((1 to 50).map(i => (i, s"r$i")).toDF("k", "v"))
    t.append((51 to 100).map(i => (i, s"r$i")).toDF("k", "v"))
    // force one scan partition per data file so the hit set arrives in
    // >1 task — the shape a 100 TB mass delete has for free
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try t.deleteWhereDV(col("k") % 2 === 0)
    finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
    // sidecar is a directory read; here it must hold >= 2 part files
    val dvRoot = java.nio.file.Paths.get(root, "dv")
    val sidecars = {
      val s = java.nio.file.Files.list(dvRoot)
      try s.iterator().asScala.toSeq finally s.close()
    }
    assert(sidecars.size == 1)
    val parts = {
      val s = java.nio.file.Files.list(sidecars.head)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    assert(parts >= 2, s"mass-delete DV sidecar must shard across tasks, got $parts file(s)")
    assert(t.read().collect().map(_.getInt(0)).sorted.toSeq == (1 to 99 by 2))
  }

  test("change feed surfaces deletion-vector deletes (DV commits are not additive)") {
    val t = LakeTable(spark, scratchDir("dvcdf"))
    t.append((1 to 6).map(i => (i, s"r$i")).toDF("k", "v"))
    val v0 = t.latestVersion().get
    val v1 = t.deleteWhereDV(col("k") <= 2)
    val ch = t.changes(v0, Some(v1)).collect()
    val deletes = ch.filter(_.getString(2) == "delete").map(_.getInt(0)).sorted.toSeq
    assert(deletes == Seq(1, 2), s"DV deletes must surface in the feed: ${ch.toSeq}")
    assert(!ch.exists(_.getString(2) == "insert"))
    // and the incremental-view delta must refuse the non-additive range
    val (_, delta) = t.readAddedSince(Some(v0))
    assert(delta.isEmpty, "a DV delete between versions cannot be read as an additive delta")
  }

  test("deletion-vector keys are table-relative: DVs survive a table-root move") {
    val root = scratchDir("dvmove")
    val t = LakeTable(spark, root)
    t.append((1 to 10).map(i => (i, s"r$i")).toDF("k", "v"))
    t.deleteWhereDV(col("k") <= 4)
    // the sidecar itself must hold scheme-less, table-relative keys
    val keys = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/dv").select("file_rel")
      .collect().map(_.getString(0))
    assert(keys.nonEmpty)
    assert(
      keys.forall(k => !k.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*") && !k.startsWith("/")),
      s"DV keys must be table-relative, got: ${keys.take(3).toSeq}")
    // move the whole table root: the DV join must still mask rows 1-4
    val moved = scratchDir("dvmoved")
    java.nio.file.Files.delete(java.nio.file.Paths.get(moved))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(root), java.nio.file.Paths.get(moved))
    val t2 = LakeTable(spark, moved)
    assert(t2.read().collect().map(_.getInt(0)).sorted.toSeq == (5 to 10))
  }

  test("deletion vectors work on partitioned tables and survive partition replace") {
    val t = LakeTable(spark, scratchDir("dvpart"))
    t.append(
      Seq((1, "a", 2023), (2, "b", 2023), (3, "c", 2024), (4, "d", 2024))
        .toDF("k", "v", "year"),
      Seq("year"))
    t.deleteWhereDV(col("k") === 1)
    assert(t.read().collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
    // replace the 2024 partition: 2023's DV must keep masking row 1
    t.replacePartitions(
      Seq((5, "e", 2024)).toDF("k", "v", "year"), Seq("2024"))
    assert(t.read().collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 5))
  }

  test("racing appends from two writers lose no commits (optimistic retry)") {
    val root = scratchDir("race")
    val t1 = LakeTable(spark, root)
    val t2 = LakeTable(spark, root) // second writer handle, same table
    val perWriter = 5
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val f1 = Future {
      (0 until perWriter).foreach(i => t1.append(Seq((i, "w1")).toDF("k", "src")))
    }
    val f2 = Future {
      (0 until perWriter).foreach(i => t2.append(Seq((i, "w2")).toDF("k", "src")))
    }
    Await.result(f1, 120.seconds)
    Await.result(f2, 120.seconds)
    // every append survived: 10 rows, 10 strictly increasing versions
    // (initial version 0 + 9 more), no silent overwrite anywhere
    val rows = t1.read().collect()
    assert(rows.length == perWriter * 2, s"lost commits: ${rows.length} rows")
    assert(rows.count(_.getString(1) == "w1") == perWriter)
    assert(rows.count(_.getString(1) == "w2") == perWriter)
    assert(t1.latestVersion().contains((perWriter * 2 - 1).toLong))
  }

  test("racing appends from two PROCESSES lose no commits (cross-JVM CAS)") {
    // the in-JVM race above shares one JVM's file-handle state; the CAS
    // claim (createLink = O_CREAT|O_EXCL) is a cross-process property,
    // so fork two real JVMs each appending through the full append path
    val root = scratchDir("xprocrace")
    val perWriter = 4
    def codeSourceOf(c: Class[_]): String =
      java.nio.file.Paths.get(c.getProtectionDomain.getCodeSource.getLocation.toURI).toString
    val sparkJarDir = java.nio.file.Paths
      .get(classOf[org.apache.spark.sql.SparkSession]
        .getProtectionDomain.getCodeSource.getLocation.toURI)
      .getParent.toString
    val cp = Seq(
      codeSourceOf(classOf[LakeTable]), // main classes
      codeSourceOf(CasRaceMain.getClass), // test classes
      codeSourceOf(classOf[List[_]]), // scala-library
      s"$sparkJarDir/*"
    ).mkString(java.io.File.pathSeparator)
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def launch(writer: String): Process =
      new ProcessBuilder(
        javaBin, "-Xmx2g", "--enable-native-access=ALL-UNNAMED",
        "--add-opens=java.base/java.lang=ALL-UNNAMED",
        "--add-opens=java.base/java.nio=ALL-UNNAMED",
        "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
        "--add-opens=java.base/java.util=ALL-UNNAMED",
        "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
        "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
        "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
        "-cp", cp, "graft.tables.CasRaceMain", root, writer, perWriter.toString)
        .redirectErrorStream(true)
        .redirectOutput(java.io.File.createTempFile(s"casrace-$writer-", ".log"))
        .start()
    val p1 = launch("w1")
    val p2 = launch("w2")
    assert(p1.waitFor(300, java.util.concurrent.TimeUnit.SECONDS), "writer 1 timed out")
    assert(p2.waitFor(300, java.util.concurrent.TimeUnit.SECONDS), "writer 2 timed out")
    assert(p1.exitValue() == 0, s"writer 1 failed with ${p1.exitValue()}")
    assert(p2.exitValue() == 0, s"writer 2 failed with ${p2.exitValue()}")
    val t = LakeTable(spark, root)
    val rows = t.read().collect()
    assert(rows.length == perWriter * 2, s"lost commits: ${rows.length} rows")
    assert(rows.count(_.getString(1) == "w1") == perWriter)
    assert(rows.count(_.getString(1) == "w2") == perWriter)
    // versions are a gapless 0..2N-1 sequence: every CAS claim that
    // succeeded published a distinct version, none overwritten
    assert(t.latestVersion().contains((perWriter * 2 - 1).toLong))
  }

  test("files() lists live data files with sizes; scope-narrowed subdirs are excluded") {
    val t = LakeTable(spark, scratchDir("files"))
    t.append(Seq((1, "a", 2023), (2, "b", 2024)).toDF("k", "v", "year"), Seq("year"))
    val all = t.files().collect()
    assert(all.nonEmpty && all.forall(_.getLong(2) > 0))
    assert(all.exists(_.getString(1).contains("year=2023")))
    // narrow 2023 away via a partition-scoped replace; its files drop out
    t.replacePartitions(Seq((3, "c", 2024)).toDF("k", "v", "year"), Seq("2024"))
    val after = t.files().collect()
    assert(after.exists(_.getString(1).contains("year=2023")))
    // the replaced partition's files come from exactly one (the new) commit:
    // the old dir's year=2024 subdir was scoped out of the listing
    val dirs2024 = after.filter(_.getString(1).contains("year=2024")).map(_.getString(0)).distinct
    assert(dirs2024.length == 1, dirs2024.mkString(","))
    assert(t.read().filter($"year" === 2024).count() == 1)
  }

  test("compactIfNeeded triggers only past the commit-dir threshold and preserves data") {
    val t = LakeTable(spark, scratchDir("autocompact"))
    (1 to 5).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    assert(t.compactIfNeeded(maxCommitDirs = 8).isEmpty) // under threshold: no-op
    assert(t.compactIfNeeded(maxCommitDirs = 3).isDefined) // over: compacts
    assert(t.read().count() == 5)
    assert(t.compactIfNeeded(maxCommitDirs = 3).isEmpty) // compacted: single dir now
  }

  test("a write job that fails in a task leaves no commit dir and publishes no version") {
    val t = LakeTable(spark, scratchDir("failwrite"))
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    import scala.jdk.CollectionConverters._
    def dataDirs(): Set[String] = {
      val d = java.nio.file.Files.list(java.nio.file.Paths.get(t.root, "data"))
      try d.iterator().asScala.map(_.getFileName.toString).toSet finally d.close()
    }
    val (dirs, version) = (dataDirs(), t.latestVersion())
    // raises inside the write's task, after the job has created its output
    // dir (a range, not a local relation, which the optimizer would fold
    // and so raise while planning)
    val failing = spark.range(3, 5).select(
      col("id").cast("int").as("k"),
      when(col("id") === 4, raise_error(lit("boom"))).otherwise(lit("c")).as("v"))
    for ((op, write) <- Seq[(String, () => Long)](
        "append" -> (() => t.append(failing)), "overwrite" -> (() => t.overwrite(failing)))) {
      val e = intercept[Exception](write())
      assert(e.getMessage.contains("boom"), s"$op: ${e.getMessage}")
      assert(dataDirs() == dirs, s"a failed $op left ${dataDirs() -- dirs} under data/")
      assert(t.latestVersion() == version, s"a failed $op published a version")
    }
    assert(t.read().collect().map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("empty append still commits and read returns schema'd empty frame") {
    val t = LakeTable(spark, scratchDir("empty"))
    t.append(Seq.empty[(Int, String)].toDF("k", "v"))
    assert(t.read().isEmpty && t.read().columns.toSeq == Seq("k", "v"))
  }

  test("statsCols watermark: incrementalFrom probe reads manifests only, never data files") {
    val root = scratchDir("stats")
    val t = LakeTable(spark, root)
    val mk = (s: String) => Timestamp.valueOf(s)
    val src = Seq(
      (1, mk("2024-01-01 00:00:00")),
      (2, mk("2024-01-02 00:00:00")),
      (3, mk("2024-01-03 00:00:00")),
      (4, mk("2024-01-04 00:00:00"))).toDF("id", "ts")
    t.append(src.filter($"id" === 1), statsCols = Seq("ts"))
    t.append(src.filter($"id" === 2)) // statsCols inherited from the manifest
    // destroy every data file: if the probe still works, it provably
    // read only the manifest-level colMax, not the table
    import scala.jdk.CollectionConverters._
    val dataDir = java.nio.file.Paths.get(root, "data")
    val walk = java.nio.file.Files.walk(dataDir)
    try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
    val got = t.incrementalFrom(src, "ts").collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(3, 4), s"watermark must be 01-02 from the manifest, got rows $got")
  }

  test("merge statsCols establish the watermark on a table that predates the declaration") {
    // regression: mergeScd1's overwrite path used to drop the caller's
    // statsCols when the table already existed without declared stats,
    // so the manifest watermark was never established
    val root = scratchDir("stats-late")
    val t = LakeTable(spark, root)
    val mk = (s: String) => Timestamp.valueOf(s)
    t.append(Seq((1, "a", mk("2024-01-01 00:00:00"))).toDF("id", "v", "ts")) // no stats declared
    Merge.mergeScd1(
      t,
      Seq((2, "b", mk("2024-01-03 00:00:00"))).toDF("id", "v", "ts"),
      keyCols = Seq("id"),
      statsCols = Seq("ts"))
    // destroy data files: the probe must answer from the manifest alone
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
    try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
    val src = Seq(
      (3, "c", mk("2024-01-03 00:00:00")),
      (4, "d", mk("2024-01-04 00:00:00"))).toDF("id", "v", "ts")
    assert(t.incrementalFrom(src, "ts").collect().map(_.getInt(0)).toSeq == Seq(4))
  }

  test("manifest stats round-trip pre-epoch timestamps exactly (floorDiv encoding)") {
    import org.apache.spark.sql.types.TimestampType
    val pre = Timestamp.valueOf("1969-12-31 23:59:59.123456")
    val enc = LakeTable.Stats.toStringValue(pre)
    assert(LakeTable.Stats.fromStringValue(enc, TimestampType) == pre,
      s"pre-epoch watermark mangled: $pre -> $enc -> ${LakeTable.Stats.fromStringValue(enc, TimestampType)}")
  }

  test("statsCols survive overwrite (recomputed) and partition-scoped replace keeps only provable maxima") {
    val t = LakeTable(spark, scratchDir("stats2"))
    val mk = (s: String) => Timestamp.valueOf(s)
    t.append(
      Seq((1, mk("2024-01-05 00:00:00"), 2024)).toDF("id", "ts", "y"),
      partitionBy = Seq("y"),
      statsCols = Seq("ts"))
    // replace with an OLDER row: the old max is no longer provable -> stat dropped,
    // incrementalFrom falls back to the aggregation probe and stays correct
    t.replacePartitions(Seq((2, mk("2024-01-02 00:00:00"), 2024)).toDF("id", "ts", "y"), Seq("2024"))
    val src = Seq(
      (3, mk("2024-01-02 00:00:00"), 2024),
      (4, mk("2024-01-03 00:00:00"), 2024)).toDF("id", "ts", "y")
    assert(t.incrementalFrom(src, "ts").collect().map(_.getInt(0)).toSeq == Seq(4))

    // fresh table, replace with a NEWER row: still provably the max -> stat kept
    // (verified the same way as the probe test: data gone, manifest answers)
    val root2 = scratchDir("stats3")
    val t2 = LakeTable(spark, root2)
    t2.append(
      Seq((1, mk("2024-01-05 00:00:00"), 2024)).toDF("id", "ts", "y"),
      partitionBy = Seq("y"),
      statsCols = Seq("ts"))
    t2.replacePartitions(Seq((5, mk("2024-01-09 00:00:00"), 2024)).toDF("id", "ts", "y"), Seq("2024"))
    import scala.jdk.CollectionConverters._
    val dataDir2 = java.nio.file.Paths.get(root2, "data")
    val walk2 = java.nio.file.Files.walk(dataDir2)
    try walk2.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk2.close()
    assert(t2.incrementalFrom(src, "ts").isEmpty)
  }

  test("compactClustered: per-file zonemaps prune files inside the compacted dir") {
    val t = LakeTable(spark, scratchDir("cluster"))
    val mk = (s: String) => Timestamp.valueOf(s)
    // interleaved arrival order: dir-level ranges are useless after a
    // plain compact (one dir spanning everything)
    val rows = (0 until 64).map(i => (i, mk(f"2024-01-${i % 31 + 1}%02d 00:00:00")))
    t.append(rows.toDF("id", "ts"), statsCols = Seq("ts"))
    t.compactClustered("ts", numFiles = 8)
    val (df, scanned, skipped, (fScan, fSkip)) = t.readBetweenWithFilePruneInfo(
      "ts", Some(mk("2024-01-28 00:00:00")), Some(mk("2024-01-31 00:00:00")))
    assert(scanned.size == 1 && skipped.isEmpty) // one dir — only files can prune
    assert(fSkip > 0, s"clustered files must prune: scanned=$fScan skipped=$fSkip")
    val expected = rows.filter { case (_, ts) =>
      !ts.before(mk("2024-01-28 00:00:00")) && !ts.after(mk("2024-01-31 00:00:00"))
    }.map(_._1).sorted
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == expected)
    // results are complete table-wide too
    assert(t.read().count() == 64)
    // watermark survives the rewrite: probe answers from the manifest
    assert(t.incrementalFrom(
      Seq((99, mk("2024-02-01 00:00:00"))).toDF("id", "ts"), "ts").count() == 1)
  }

  test("compactClustered file stats survive a later append and prune conservatively") {
    val t = LakeTable(spark, scratchDir("cluster2"))
    val mk = (s: String) => Timestamp.valueOf(s)
    val rows = (0 until 32).map(i => (i, mk(f"2024-01-${i % 16 + 1}%02d 00:00:00")))
    t.append(rows.toDF("id", "ts"), statsCols = Seq("ts"))
    t.compactClustered("ts", numFiles = 4)
    // a later append (no file stats of its own) must keep the compacted
    // dir's per-file zonemaps in the new manifest
    t.append(Seq((100, mk("2024-02-05 00:00:00"))).toDF("id", "ts"))
    val (df, scanned, _, (fScan, fSkip)) = t.readBetweenWithFilePruneInfo(
      "ts", Some(mk("2024-01-14 00:00:00")), Some(mk("2024-01-16 00:00:00")))
    assert(scanned.size == 1, s"the Feb append dir prunes at dir level: $scanned")
    assert(fSkip > 0, s"file stats lost across append: scanned=$fScan skipped=$fSkip")
    val expected = rows.filter { case (_, ts) =>
      !ts.before(mk("2024-01-14 00:00:00")) && !ts.after(mk("2024-01-16 00:00:00"))
    }.map(_._1).sorted
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == expected)
  }

  test("compactClustered on a partitioned table keeps partition columns and layout") {
    val t = LakeTable(spark, scratchDir("cluster3"))
    val mk = (s: String) => Timestamp.valueOf(s)
    val df = Seq(
      (1, 2024, mk("2024-01-02 00:00:00")),
      (2, 2024, mk("2024-01-20 00:00:00")),
      (3, 2025, mk("2025-01-05 00:00:00"))).toDF("id", "y", "ts")
    t.append(df, partitionBy = Seq("y"), statsCols = Seq("ts"))
    t.compactClustered("ts", numFiles = 2)
    val read = t.read()
    assert(read.columns.toSet == Set("id", "y", "ts"))
    assert(read.filter($"y" === 2024).count() == 2)
    assert(t.readBetween("ts", Some(mk("2025-01-01 00:00:00")), None)
      .collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("readAsOfTimestamp picks the newest snapshot at or before the clock; earlier times fail loudly") {
    val t = LakeTable(spark, scratchDir("tsasof"))
    val before = System.currentTimeMillis() - 1
    t.append(Seq((1, "a")).toDF("k", "v"))
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    t.append(Seq((2, "b")).toDF("k", "v"))
    assert(t.readAsOfTimestamp(mid).collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(t.readAsOfTimestamp(System.currentTimeMillis()).count() == 2)
    val e = intercept[IllegalStateException] { t.readAsOfTimestamp(before) }
    assert(e.getMessage.contains("predates"), e.getMessage)
  }

  test("zorderKey interleaves bits; z-clustered compaction prunes files on BOTH dimensions") {
    import graft.functions.ZOrder.zorderKey
    // bit-level sanity: a=0b1010 on odd positions, b=0b0101 on even
    val z = Seq((10L, 5L)).toDF("a", "b")
      .select(zorderKey($"a", $"b").as("z")).head().getLong(0)
    assert(z == 153L, s"zorderKey(0b1010, 0b0101) must be 0b10011001, got $z")

    // 32x32 grid in row-major arrival order
    val grid = for { x <- 0 until 32; y <- 0 until 32 } yield (x, y, x * 32 + y)
    def mkTable(tag: String): LakeTable = {
      val t = LakeTable(spark, scratchDir(tag))
      t.append(grid.toDF("x", "y", "id"), statsCols = Seq("x", "y"))
      t
    }
    val zt = mkTable("zorder")
    zt.compactClusteredBy(zorderKey($"x", $"y"), Seq("x", "y"), numFiles = 16)
    val (xs, _, _, (_, xSkip)) = zt.readBetweenWithFilePruneInfo("x", Some(3), Some(4))
    val (ys, _, _, (_, ySkip)) = zt.readBetweenWithFilePruneInfo("y", Some(3), Some(4))
    assert(xSkip > 0 && ySkip > 0, s"z-order must prune both dims: x=$xSkip y=$ySkip")
    assert(xs.count() == 64 && ys.count() == 64)

    // contrast: lexicographic 1-D clustering on x prunes x but never y
    val lt = mkTable("lex")
    lt.compactClustered("x", numFiles = 16)
    val (_, _, _, (_, lxSkip)) = lt.readBetweenWithFilePruneInfo("x", Some(3), Some(4))
    val (_, _, _, (_, lySkip)) = lt.readBetweenWithFilePruneInfo("y", Some(3), Some(4))
    assert(lxSkip > 0 && lySkip == 0,
      s"1-D clustering should prune only its own dim: x=$lxSkip y=$lySkip")
  }

  test("changes(): additive feed is insert-only new commits; rewrites diff with multiset semantics") {
    val root = scratchDir("cdf")
    val t = LakeTable(spark, root)
    t.append(Seq((1, "a"), (2, "b"), (2, "b")).toDF("k", "v")) // v0, with a duplicate row
    t.append(Seq((3, "c")).toDF("k", "v")) // v1: additive
    val add = t.changes(0, Some(1)).collect()
    assert(add.map(r => (r.getInt(0), r.getString(2))).toSeq == Seq((3, "insert")))
    // additive path must not diff: destroy v0's files and it still answers
    import scala.jdk.CollectionConverters._
    val m0dirs = t.read(versionAsOf = Some(0L)) // force v0 manifest to exist in this check
    assert(m0dirs.count() == 3)
    // v2: dedup rewrite — one of the two (2, "b") copies must surface as a delete
    t.overwrite(t.read().distinct())
    val diff = t.changes(0, Some(2)).collect()
      .map(r => (r.getInt(0), r.getString(2))).sorted.toSeq
    assert(diff == Seq((2, "delete"), (3, "insert")),
      s"multiset diff must expose the lost duplicate copy: $diff")
  }

  test("expire crash window: manifests-first ordering keeps kept versions whole; sweepOrphans reclaims") {
    val root = scratchDir("expirecrash")
    val t = LakeTable(spark, root)
    t.append(Seq((1, "a")).toDF("k", "v"))
    t.append(Seq((2, "b")).toDF("k", "v"))
    t.overwrite(Seq((9, "z")).toDF("k", "v"))
    // simulate the crash BETWEEN expire's two steps: expired manifests
    // (v0, v1) deleted, their now-dead data dirs still on disk
    import scala.jdk.CollectionConverters._
    val logDir = java.nio.file.Paths.get(root, "_graft_log")
    java.nio.file.Files.list(logDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .sortBy(_.getFileName.toString)
      .dropRight(1)
      .foreach(java.nio.file.Files.delete(_))
    // kept version reads complete data; expired versions fail loudly
    assert(t.read().collect().map(_.getInt(0)).toSeq == Seq(9))
    intercept[Exception] { t.read(versionAsOf = Some(0L)).collect() }
    // the orphaned dirs are invisible to expireSnapshots (no manifest
    // names them) but the sweep reclaims them; the live dir survives
    assert(t.expireSnapshots(keepLast = 1) == 0)
    val swept = t.sweepOrphans(graceMs = 0L)
    assert(swept.size == 2, s"expected the two dead append dirs, got $swept")
    assert(t.read().collect().map(_.getInt(0)).toSeq == Seq(9))
    assert(t.sweepOrphans(graceMs = 0L).isEmpty)
  }
}
