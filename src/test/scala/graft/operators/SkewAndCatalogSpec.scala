package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.{Catalog, LakeTable}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals plain join and spreads the hot key across salts") {
    // one pathological key (90% of rows) + a long tail
    val left = ((1 to 900).map(i => ("hot", i)) ++ (1 to 100).map(i => (s"k$i", i)))
      .toDF("key", "uid")
    val right = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).map(k => (k, s"payload-$k"))
      .toDF("key", "payload")

    val plain = left.join(right, Seq("key")).select("key", "uid", "payload").collect().toSet
    val salted = Skew.saltedJoin(left, right, "key", "uid", saltFactor = 8)
      .select("key", "uid", "payload").collect().toSet
    assert(salted == plain)

    // the hot key's rows actually land in multiple salt groups
    val saltSpread = left
      .withColumn("salt", pmod(xxhash64(col("uid")), lit(8)))
      .filter($"key" === "hot")
      .select("salt").distinct().count()
    assert(saltSpread >= 4, s"salt spread only $saltSpread")
  }

  test("saltedJoin rejects right-preserving join types") {
    val left = Seq(("a", 1)).toDF("key", "uid")
    val right = Seq(("a", "p")).toDF("key", "payload")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(left, right, "key", "uid", joinType = "full_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(left, right, "key", "uid", joinType = "right")
    }
    // left-preserving types still work
    assert(Skew.saltedJoin(left, right, "key", "uid", joinType = "left_semi").count() == 1)
  }

  test("bloom prefilter prunes most non-matching fact rows before the join shuffle") {
    val sf = "/root/testdata/sf0.001"
    val urgent = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
    val bloom = urgent.stat.bloomFilter("o_orderkey", 100000L, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = org.apache.spark.sql.functions.udf((k: Long) => bc.value.mightContain(k))
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    val total = lineitem.count().toDouble
    val kept = lineitem.filter(mightContain(col("l_orderkey"))).count().toDouble
    val trueFrac = urgent.count().toDouble /
      spark.read.parquet(s"$sf/orders.parquet").count().toDouble
    // kept fraction ≈ true match fraction + fpp — i.e. the shuffle volume
    // really drops to roughly the selective side's share
    assert(kept / total <= trueFrac + 0.05, s"kept ${kept / total}, true $trueFrac")
  }

  test("zorder2 interleaves bits; z-clustering tightens per-partition ranges on BOTH dims") {
    // exact interleave relative to the origin: left operand takes the odd
    // (higher) bit positions, matching ZOrder.zorderKey — z(0b11,0)-z0 =
    // 0b1010, z(0,0b11)-z0 = 0b0101 (sign-bias shifts all keys by a constant)
    val z = graft.functions.VectorExprs.zorder2(col("a").cast("long"), col("b").cast("long"))
    val vals = Seq((0L, 0L), (3L, 0L), (0L, 3L), (1L, 1L), (-1L, 0L), (Int.MaxValue.toLong, 0L))
      .toDF("a", "b").select(z.as("z")).collect().map(_.getLong(0)).toSeq
    val z0 = vals(0)
    assert(vals(1) - z0 == 10L && vals(2) - z0 == 5L && vals(3) - z0 == 3L, vals)
    // signed monotonicity across the former wrap point: -1 < 0 < Int.MaxValue
    assert(vals(4) < z0, s"z(-1,0)=${vals(4)} must sort before z(0,0)=$z0")
    assert(vals(5) > z0, s"z(IntMax,0)=${vals(5)} must sort after z(0,0)=$z0")

    // locality: on a 64x64 grid, z-clustered partitions bound BOTH dims
    // far tighter than clustering on `a` alone bounds `b`
    val grid = (for { a <- 0 until 64; b <- 0 until 64 } yield (a, b)).toDF("a", "b")
    def avgSpanB(df: org.apache.spark.sql.DataFrame): Double =
      df.withColumn("pid", spark_partition_id())
        .groupBy("pid").agg((max($"b") - min($"b")).as("span"))
        .agg(avg($"span")).head().getDouble(0)
    val zSpan = avgSpanB(Skew.clusterByZOrder(grid, "a", "b", 16))
    val aSpan = avgSpanB(grid.repartitionByRange(16, $"a").sortWithinPartitions($"a"))
    assert(zSpan < aSpan / 2, s"z-clustered b-span $zSpan vs a-clustered $aSpan")
  }

  test("heavyKeys surfaces the skewed key first") {
    val df = ((1 to 500).map(_ => "hot") ++ (1 to 10).map(i => s"k$i")).toDF("key")
    val top = Skew.heavyKeys(df, "key", 3).collect()
    assert(top.head.getString(0) == "hot" && top.head.getLong(1) == 500L)
  }
}

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("catalog: schemas, spark.sql over lake. names, SHOW TABLES listing") {
    val cat = Catalog(spark, scratchDir("cat"))
    cat.createSchema("silver")
    cat.table("silver", "orders").append(Seq((1, "A", 10.0), (2, "B", 5.0)).toDF("id", "sym", "amt"))
    cat.table("silver", "syms").append(Seq(("A", "Alpha"), ("B", "Beta")).toDF("sym", "name"))
    cat.attachSqlCatalog()

    val out = cat.sql(
      """SELECT o.id, s.name, o.amt FROM lake.silver.orders o
        |JOIN lake.silver.syms s USING (sym) ORDER BY o.id""".stripMargin).collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1, "Alpha", 10.0), (2, "Beta", 5.0)))
    val tables = cat.sql("SHOW TABLES IN lake.silver").collect().map(_.getString(1)).sorted
    assert(tables.toSeq == Seq("orders", "syms"))
  }

  test("catalog attach restores the SQL surface in a fresh session (metastore durability)") {
    val root = scratchDir("cat-attach")
    val cat = Catalog(spark, root)
    cat.createSchema("silver")
    cat.createSchema("gold")
    cat.table("silver", "orders").append(Seq((1, 10.0), (2, 5.0)).toDF("id", "amt"))
    cat.table("gold", "daily").append(Seq(("2024-01-01", 15.0)).toDF("d", "total"))

    // a new session models a new JVM: one attach of the same root
    // restores every table from the filesystem
    val fresh = spark.newSession()
    Catalog(fresh, root).attachSqlCatalog()
    val namespaces = fresh.sql("SHOW NAMESPACES IN lake").collect().map(_.getString(0)).sorted
    assert(namespaces.toSeq == Seq("gold", "silver"))
    assert(fresh.sql("SHOW TABLES IN lake.silver").collect().map(_.getString(1)).toSeq == Seq("orders"))
    assert(fresh.sql("SHOW TABLES IN lake.gold").collect().map(_.getString(1)).toSeq == Seq("daily"))
    assert(fresh.sql("SELECT sum(amt) FROM lake.silver.orders").head().getDouble(0) == 15.0)
    assert(fresh.sql("SELECT total FROM lake.gold.daily").head().getDouble(0) == 15.0)
    // a write after the attach shows in the next SELECT: the catalog
    // reads the current version, where a view would pin its snapshot
    cat.table("silver", "orders").append(Seq((3, 7.0)).toDF("id", "amt"))
    assert(fresh.sql("SELECT sum(amt) FROM lake.silver.orders").head().getDouble(0) == 22.0)
    // the original session's catalog binding is the fresh session's business only
    assert(!spark.conf.getOption("spark.sql.catalog.lake.root").contains(root))
  }

  test("compaction collapses commit dirs, preserves data and history") {
    val t = LakeTable(spark, scratchDir("compact"))
    (1 to 5).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    val before = t.read().collect().sortBy(_.getInt(0)).toSeq
    val v = t.compact()
    assert(v == 5)
    val after = t.read().collect().sortBy(_.getInt(0)).toSeq
    assert(after == before)
    // compacted snapshot reads one commit dir; pre-compaction versions intact
    assert(t.snapshots().filter(col("version") === 5).head().getAs[Int]("num_commit_dirs") == 1)
    assert(t.read(versionAsOf = Some(2L)).count() == 3)
  }
}
