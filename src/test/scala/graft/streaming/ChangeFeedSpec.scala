package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.{LakeTable, Merge}

/** Change-feed micro-batch stream: manifest-version offsets, tagged
  * deltas per batch, at-least-once replay into an idempotent SCD1
  * apply.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def mirror(t: LakeTable): Set[(Long, String)] =
    t.read().as[(Long, String)].collect().toSet

  test("bootstrap, additive inserts, DV deletes and update pairs replicate by key") {
    val src = LakeTable(spark, scratchDir("cdcsrc"))
    val tgt = LakeTable(spark, scratchDir("cdctgt"))
    val feed = ChangeFeed(src, scratchDir("cdcckpt"))
    val apply = ChangeFeed.applyScd1(tgt, Seq("id")) _

    src.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(feed.lastProcessed().isEmpty)
    feed.processAvailable(apply) // bootstrap: full snapshot as inserts
    assert(mirror(tgt) == Set((1L, "a"), (2L, "b")))
    assert(feed.lastProcessed().contains(src.latestVersion().get))

    src.append(Seq((3L, "c")).toDF("id", "v")) // additive → insert tags
    feed.processAvailable(apply)
    assert(mirror(tgt) == Set((1L, "a"), (2L, "b"), (3L, "c")))

    src.deleteWhereDV(col("id") === 2L) // delete tags via multiset diff
    feed.processAvailable(apply)
    assert(mirror(tgt) == Set((1L, "a"), (3L, "c")))

    Merge.mergeScd1(src, Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
    feed.processAvailable(apply) // update arrives as delete+insert pair
    assert(mirror(tgt) == Set((1L, "a2"), (3L, "c")))
  }

  test("offset-current batches do zero work; crash-replay of a batch is a no-op") {
    val src = LakeTable(spark, scratchDir("cdcsrc2"))
    val tgt = LakeTable(spark, scratchDir("cdctgt2"))
    val feed = ChangeFeed(src, scratchDir("cdcckpt2"))
    src.append(Seq((1L, "a")).toDF("id", "v"))
    var applied = 0
    val apply: org.apache.spark.sql.DataFrame => Unit = { b =>
      applied += 1
      ChangeFeed.applyScd1(tgt, Seq("id"))(b)
    }
    feed.processAvailable(apply)
    assert(applied == 1)
    // no new source commits: applyBatch must not be invoked at all
    feed.processAvailable(apply)
    assert(applied == 1)

    // at-least-once: a crash between apply and offset commit replays the
    // SAME batch — the SCD1 apply must be idempotent. Simulate by
    // re-applying the delta around the checkpoint.
    src.append(Seq((2L, "b")).toDF("id", "v"))
    val delta = src.changes(feed.lastProcessed().get, None)
    ChangeFeed.applyScd1(tgt, Seq("id"))(delta) // "crashed" attempt
    feed.processAvailable(apply)                // replay after restart
    assert(mirror(tgt) == Set((1L, "a"), (2L, "b")))
    val tgtVersionAfter = tgt.latestVersion()
    // and replaying when current is a pure no-op (no new target commit)
    feed.processAvailable(apply)
    assert(tgt.latestVersion() == tgtVersionAfter)
  }

  test("a deletes-only bootstrap batch publishes no version and runs no probe") {
    val tgt = LakeTable(spark, scratchDir("cdctgt-deletes"))
    val deletes = Seq((1L, "a", "delete"), (2L, "b", "delete")).toDF("id", "v", "_change_type")
    val actions = actionsRunBy(ChangeFeed.applyScd1(tgt, Seq("id"))(deletes))
    assert(tgt.latestVersion().isEmpty)
    assert(!actions.contains("isEmpty"), s"actions: $actions")
  }

  test("chunked bootstrap walks versions in bounded batches to the same mirror") {
    val src = LakeTable(spark, scratchDir("cdcsrc3"))
    src.append(Seq((1L, "a")).toDF("id", "v"))
    src.append(Seq((2L, "b")).toDF("id", "v"))
    src.append(Seq((3L, "c")).toDF("id", "v"))
    Merge.mergeScd1(src, Seq((2L, "b2")).toDF("id", "v"), Seq("id")) // a rewrite mid-history
    src.append(Seq((4L, "d")).toDF("id", "v"))

    // unchunked reference: one O(table) bootstrap batch
    val tgtRef = LakeTable(spark, scratchDir("cdctgtref"))
    ChangeFeed(src, scratchDir("cdcckptref"))
      .processAvailable(ChangeFeed.applyScd1(tgtRef, Seq("id")))

    // chunked: anchor snapshot + ≤1-version steps, each with its own
    // offset commit — count the batches and track offset monotonicity
    val tgtChunk = LakeTable(spark, scratchDir("cdctgtchunk"))
    val feed = ChangeFeed(src, scratchDir("cdcckptchunk"), maxVersionsPerBatch = Some(1))
    var batches = 0
    var offsets = List.empty[Long]
    feed.processAvailable { b =>
      batches += 1
      ChangeFeed.applyScd1(tgtChunk, Seq("id"))(b)
      offsets = feed.lastProcessed().toList ::: offsets // offset BEFORE this batch commits
    }
    assert(mirror(tgtChunk) == mirror(tgtRef))
    val versions = src.availableVersions()
    assert(batches == versions.size,
      s"expected one batch per version (${versions.size}), got $batches")
    assert(feed.lastProcessed().contains(src.latestVersion().get))
    // each batch committed before the next ran → a crash resumes mid-walk:
    // the offset seen DURING batch i is batch i-1's commit, so the
    // observed sequence is strictly increasing surviving versions
    // the anchor batch sees the pre-bootstrap empty offset (contributes
    // nothing via toList); batches 2..N each observe their predecessor's
    val seen = offsets.reverse
    assert(seen == seen.sorted && seen.distinct == seen, s"non-monotonic offsets: $seen")
    assert(seen.forall(versions.contains), s"offset not a surviving version: $seen")

    // a fresh chunked feed over an already-bootstrapped checkpoint does
    // only the remaining versions
    src.append(Seq((5L, "e")).toDF("id", "v"))
    var tail = 0
    feed.processAvailable { b =>
      tail += 1; ChangeFeed.applyScd1(tgtChunk, Seq("id"))(b)
    }
    assert(tail == 1)
    assert(mirror(tgtChunk) == Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d"), (5L, "e")))
  }

  test("a committed offset ahead of the source fails loudly in both modes") {
    // table recreated/rolled back under the same checkpoint: the
    // committed offset points past the source's current version. The
    // unchunked path fails via changes()'s from<=to guard; chunked mode
    // must fail equally loudly, never silently skip its walk and report
    // the sink current.
    val ckpt = scratchDir("cdcckpt4")
    val src1 = LakeTable(spark, scratchDir("cdcsrc4a"))
    src1.append(Seq((1L, "a")).toDF("id", "v"))
    src1.append(Seq((2L, "b")).toDF("id", "v"))
    src1.append(Seq((3L, "c")).toDF("id", "v"))
    val tgt = LakeTable(spark, scratchDir("cdctgt4"))
    ChangeFeed(src1, ckpt).processAvailable(ChangeFeed.applyScd1(tgt, Seq("id")))
    val committed = ChangeFeed(src1, ckpt).lastProcessed().get

    // "recreate" the table: a fresh root with a shorter history
    val src2 = LakeTable(spark, scratchDir("cdcsrc4b"))
    src2.append(Seq((9L, "z")).toDF("id", "v"))
    assert(src2.latestVersion().get < committed)

    for (chunk <- Seq(None, Some(1))) {
      val e = intercept[IllegalArgumentException] {
        ChangeFeed(src2, ckpt, maxVersionsPerBatch = chunk)
          .processAvailable(_ => fail("applyBatch must not run on a diverged checkpoint"))
      }
      assert(e.getMessage.contains("ahead of source version"), s"chunk=$chunk: ${e.getMessage}")
    }
  }
}
