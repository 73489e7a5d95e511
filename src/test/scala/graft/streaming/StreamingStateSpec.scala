package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.tables.LakeTable

class StreamingStateSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("k", StringType),
    StructField("v", DoubleType)))

  private def mk(s: String) = Timestamp.valueOf(s)

  test("streaming dedup drops in-watermark duplicates, state evicted after horizon") {
    val wd = scratchDir("sdedup")
    val src = s"$wd/src"
    Seq(
      (1L, mk("2024-01-01 10:00:00"), "a", 1.0),
      (1L, mk("2024-01-01 10:01:00"), "a", 2.0), // dup key within watermark
      (2L, mk("2024-01-01 10:02:00"), "b", 3.0))
      .toDF("id", "ts", "k", "v").write.mode("append").parquet(src)

    val out = StreamJobs.runStreamingDedup(spark, src, schema, "ts", Seq("id"), wd)
    assert(out.count() == 2)
    assert(out.filter(col("id") === 1L).count() == 1)
  }

  test("streaming dedup ingest: within-batch copies pass, cross-batch copies drop") {
    val wd = scratchDir("sdi")
    val src = s"$wd/src"
    val table = graft.tables.LakeTable(spark, s"$wd/corpus")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    def wave(docs: (Long, String)*): Unit = {
      docs.toDF("doc_id", "text").write.mode("append").parquet(src)
      StreamJobs.runStreamingDedupIngest(spark, src, docSchema, "text", table, wd)
    }
    val actions = actionsRunBy {
      // wave 1: two docs + an in-wave copy of doc 1 (different id, same text)
      wave((1L, "alpha beta"), (2L, "gamma delta"), (10L, "alpha  beta "))
      // wave 2: a copy of doc 2 (dropped) and a genuinely new doc
      wave((20L, "GAMMA DELTA"), (3L, "epsilon zeta"))
      // wave 3: copies only, so the micro-batch has nothing to publish
      val before = table.latestVersion()
      wave((30L, "Epsilon Zeta"), (11L, "ALPHA BETA"))
      assert(table.latestVersion() == before, "an all-duplicate batch published a version")
    }
    val ids = table.read().select("doc_id").collect().map(_.getLong(0)).toSet
    // both wave-1 copies kept (within-batch passthrough, ws/case-normalized
    // fingerprints make 10 a copy of 1); wave-2 copy of doc 2 dropped
    assert(ids == Set(1L, 2L, 10L, 3L), s"got $ids")
    // the row count rides the append's write job: no micro-batch runs a
    // separate emptiness probe before it
    assert(!actions.contains("isEmpty"), s"actions: $actions")
  }

  test("txn append stream: crash-replayed micro-batch commits exactly once") {
    val wd = scratchDir("txnapp")
    val src = s"$wd/src"
    val table = LakeTable(spark, s"$wd/tbl")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    StreamJobs.runStreamingTxnAppend(spark, src, docSchema, table, wd, Some("ingest-a"))
    assert(table.read().count() == 2)
    assert(table.txnVersion("ingest-a").contains(0L))

    // simulate the crash window: the table commit landed but the
    // checkpoint never recorded the batch as complete — delete the
    // batch's commit marker, so restart re-delivers batch 0 verbatim
    val commits = new java.io.File(s"$wd/checkpoint-txn-append/commits")
    val last = commits.listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    assert(last.delete())
    // the local checkpoint FS keeps a CRC sidecar per marker; a real HDFS
    // crash loses both, so drop it too or the re-commit rename fails
    val crc = new java.io.File(commits, s".${last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    StreamJobs.runStreamingTxnAppend(spark, src, docSchema, table, wd, Some("ingest-a"))
    assert(table.read().count() == 2, "replayed batch must not double-append")

    // new wave under the same writer: higher epoch, appended once
    Seq((3L, "gamma")).toDF("doc_id", "text").write.mode("append").parquet(src)
    StreamJobs.runStreamingTxnAppend(spark, src, docSchema, table, wd, Some("ingest-a"))
    assert(table.read().count() == 3)
    assert(table.txnVersion("ingest-a").exists(_ >= 1L))

    // a DIFFERENT writer id keeps an independent watermark: its epoch-0
    // append into the same table is not confused with ingest-a's
    assert(table.txnVersion("ingest-b").isEmpty)
    table.append(Seq((100L, "other")).toDF("doc_id", "text"), txn = Some(("ingest-b", 0L)))
    assert(table.read().count() == 4)
  }

  test("flatMapGroupsWithState carries custom running-max state across micro-batches") {
    val wd = scratchDir("fmgws")
    val src = s"$wd/src"
    // batch 1: A peaks at 9
    Seq(("A", mk("2024-01-01 10:00:00"), 9.0), ("A", mk("2024-01-01 10:01:00"), 2.0),
      ("B", mk("2024-01-01 10:00:00"), 1.0))
      .toDF("k", "ts", "v").write.mode("append").parquet(src)
    val out1 = StreamJobs.runRunningMaxWithState(spark, src, wd)
    val a1 = out1.filter(col("k") === "A").collect()
    assert(a1.length == 1 && a1(0).getAs[Double]("running_max") == 9.0)

    // batch 2 (fresh query, same logic — state demo is per run): lower
    // value must NOT reduce the running max when both batches replay
    Seq(("A", mk("2024-01-01 10:05:00"), 5.0)).toDF("k", "ts", "v")
      .write.mode("append").parquet(src)
    val out2 = StreamJobs.runRunningMaxWithState(spark, src, wd)
    val a2 = out2.filter(col("k") === "A")
      .orderBy(col("updates").desc).collect()
    assert(a2.head.getAs[Double]("running_max") == 9.0)
  }

  test("transformWithState (RocksDB-backed) matches the flatMapGroupsWithState running max") {
    val wd = scratchDir("tws")
    val src = s"$wd/src"
    Seq(("A", mk("2024-01-01 10:00:00"), 9.0), ("A", mk("2024-01-01 10:01:00"), 2.0),
      ("B", mk("2024-01-01 10:00:00"), 1.0))
      .toDF("k", "ts", "v").write.mode("append").parquet(src)
    val tws = StreamJobs.runRunningMaxTransformWithState(spark, src, s"$wd/a")
      .orderBy("k").collect()
    val fmgws = StreamJobs.runRunningMaxWithState(spark, src, s"$wd/b")
      .orderBy("k").collect()
    assert(tws.toSeq == fmgws.toSeq)
    assert(tws.map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("A", 9.0), ("B", 1.0)))
    // the RocksDB provider pinned at start must not leak to the session
    assert(spark.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("HDFSBackedStateStoreProvider"))
  }

  test("foreachBatch streaming upsert merges micro-batches into a LakeTable") {
    val wd = scratchDir("supsert")
    val src = s"$wd/src"
    val table = LakeTable(spark, s"$wd/table")

    Seq((1L, mk("2024-01-01 10:00:00"), "a", 1.0), (2L, mk("2024-01-01 10:01:00"), "b", 2.0))
      .toDF("id", "ts", "k", "v").write.mode("append").parquet(src)
    StreamJobs.runStreamingUpsert(spark, src, schema, Seq("id"), table, wd)
    assert(table.read().count() == 2)

    // second wave: update id=1, insert id=3; AvailableNow re-run picks up
    // only the new file via the checkpoint
    Seq((1L, mk("2024-01-01 10:05:00"), "a", 99.0), (3L, mk("2024-01-01 10:06:00"), "c", 3.0))
      .toDF("id", "ts", "k", "v").write.mode("append").parquet(src)
    StreamJobs.runStreamingUpsert(spark, src, schema, Seq("id"), table, wd)

    val rows = table.read().orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Double]("v") == 99.0) // upserted
    assert(rows(2).getAs[Double]("v") == 3.0)  // inserted
  }

  test("streaming upsert runs no emptiness probe, and an empty wave publishes no version") {
    val wd = scratchDir("supsert-empty")
    val src = s"$wd/src"
    val table = LakeTable(spark, s"$wd/table")
    Seq((1L, mk("2024-01-01 10:00:00"), "a", 1.0), (2L, mk("2024-01-01 10:01:00"), "b", 2.0))
      .toDF("id", "ts", "k", "v").write.mode("append").parquet(src)
    val actions = actionsRunBy {
      StreamJobs.runStreamingUpsert(spark, src, schema, Seq("id"), table, wd)
      val before = table.latestVersion()
      // a wave of one empty parquet file: a micro-batch with no rows
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .write.mode("append").parquet(src)
      StreamJobs.runStreamingUpsert(spark, src, schema, Seq("id"), table, wd)
      assert(table.latestVersion() == before, "an empty micro-batch published a version")
    }
    val commits = new java.io.File(s"$wd/checkpoint-upsert/commits").list().count(_.forall(_.isDigit))
    assert(commits == 2, "the empty wave must run as its own micro-batch")
    assert(table.read().count() == 2)
    assert(!actions.contains("isEmpty"), s"actions: $actions")
  }
}
