package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tables.LakeTable

/** CHANGE-DATA-FEED AS A MICRO-BATCH STREAM — closes the CDC loop the
  * reference's two-hop bronze→silver topology gestures at
  * (/root/reference/src/silver/_silver_utils.py incremental reads):
  * [[LakeTable.changes]] is batch-only (two explicit versions); this
  * wrapper turns it into a replayable, checkpointed micro-batch source
  * with the SAME offset contract as Structured Streaming's file source:
  *
  *   - OFFSETS are manifest versions — durable, totally ordered, and
  *     replayable (snapshots are immutable, so `changes(v1, v2)` is
  *     deterministic forever, exactly a Kafka offset-range re-read);
  *   - each micro-batch is the tagged delta `changes(lastSeen, cur)`
  *     (insert/delete rows; an update is its delete+insert pair);
  *   - the offset is committed to the checkpoint ATOMICALLY and only
  *     AFTER the batch function returns — a crash in between replays
  *     the batch: AT-LEAST-ONCE into an idempotent apply, the same
  *     stance as the repo's txn-append streaming sink. [[applyScd1]]
  *     is such an apply (by-key overwrite — replaying it is a no-op).
  *
  * Scale shape: a micro-batch costs O(changed data) while the source
  * history stays additive (the common append-only regime — the feed is
  * just the new commit dirs, no diff), and degrades to the exact
  * multiset diff only across rewrite boundaries — the caller opted
  * into that cost by rewriting. The driver holds ONE long per stream
  * (the version high-watermark); rows never visit the driver.
  */
final class ChangeFeedStream(
    val source: LakeTable,
    checkpointDir: String,
    maxVersionsPerBatch: Option[Int] = None) {

  maxVersionsPerBatch.foreach(k =>
    require(k >= 1, s"maxVersionsPerBatch must be >= 1, got $k"))

  private val offsetPath = Paths.get(checkpointDir, "_cdc_offset.json")

  /** Source manifest version the sink already reflects (the committed
    * offset), or None before the first batch.
    */
  def lastProcessed(): Option[Long] =
    if (!Files.exists(offsetPath)) None
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(Files.readAllBytes(offsetPath), StandardCharsets.UTF_8))
      Some(node.get("version").asLong())
    }

  private def commitOffset(version: Long): Unit = {
    Files.createDirectories(offsetPath.getParent)
    val tmp = offsetPath.getParent.resolve(s".tmp-cdc-${UUID.randomUUID()}.json")
    Files.write(tmp, s"""{"version":$version}""".getBytes(StandardCharsets.UTF_8))
    // REPLACE_EXISTING alongside ATOMIC_MOVE: with ATOMIC_MOVE alone,
    // replacing an existing target is implementation-specific (POSIX
    // rename replaces; Windows throws on every commit after the first)
    Files.move(tmp, offsetPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run the available work (the `Trigger.AvailableNow` shape): feed
    * every change between the committed offset and the source's current
    * version to `applyBatch`, committing the offset after each batch.
    * The FIRST run replays a snapshot as inserts (the
    * `startingVersion = 0` bootstrap every CDC consumer needs). No new
    * commits → `applyBatch` is not invoked at all. Returns the version
    * the sink now reflects.
    *
    * Without `maxVersionsPerBatch` everything available is ONE batch —
    * including the bootstrap, which at 100 TB means one O(table)
    * micro-batch. With it (the `maxOffsetsPerTrigger` analog of the
    * file/Kafka sources), the walk is CHUNKED on manifest versions:
    * the bootstrap anchors at the EARLIEST still-readable snapshot
    * (under additive history that is the first, smallest commit; after
    * retention expiry, the oldest survivor — never the whole current
    * table), then each batch advances at most `k` versions with its own
    * offset commit, so a crash resumes mid-walk instead of replaying
    * the bootstrap, and peak batch size is bounded by what those `k`
    * commits changed.
    */
  def processAvailable(applyBatch: DataFrame => Unit): Long = {
    val cur = source.latestVersion().getOrElse {
      throw new IllegalStateException(s"table at ${source.root} has no commits")
    }
    // A committed offset AHEAD of the source's current version means the
    // table was recreated or rolled back under this checkpoint — silently
    // treating the sink as current would hide divergence forever (the
    // unchunked path already fails loudly via changes()'s from<=to guard;
    // chunked mode must match, not skip its while loop).
    val committedOffset = lastProcessed() // one offset-file read per invocation
    committedOffset.foreach(v =>
      require(
        v <= cur,
        s"committed CDC offset $v is ahead of source version $cur at " +
          s"${source.root}: table recreated or rolled back under checkpoint " +
          s"$checkpointDir — delete the checkpoint to re-bootstrap"))
    (committedOffset, maxVersionsPerBatch) match {
      case (Some(v), _) if v == cur => cur // offset current: zero work, no commit
      case (Some(v), None) =>
        applyBatch(source.changes(v, Some(cur)))
        commitOffset(cur)
        cur
      case (None, None) =>
        // PIN the bootstrap to the captured offset: an unpinned read()
        // would serve a snapshot a concurrent writer committed AFTER
        // `cur` was captured, so the applied data and the committed
        // offset could disagree — the next run would re-apply the
        // cur→tip delta on top of data that already contains it
        applyBatch(source.read(Some(cur)).withColumn("_change_type", lit("insert")))
        commitOffset(cur)
        cur
      case (committed, Some(k)) =>
        // ONE version listing for the whole walk (anchor + every chunk
        // boundary): a listing per chunk would be O(versions²/k) log-dir
        // scans over a long history. Versions expired DURING the walk only
        // matter if they'd been chosen as a boundary, and changes() fails
        // loudly on a missing manifest in that case.
        val survivors = source.availableVersions()
        var from = committed match {
          case Some(v) => v
          case None =>
            val anchor = survivors.head
            applyBatch(
              source.read(Some(anchor)).withColumn("_change_type", lit("insert")))
            commitOffset(anchor)
            anchor
        }
        // chunk boundaries must be versions whose manifests still
        // exist — step over the surviving version list, not from+k
        while (from < cur) {
          val to = survivors
            .filter(v => v > from && v <= cur)
            .take(k).lastOption.getOrElse(cur)
          applyBatch(source.changes(from, Some(to)))
          commitOffset(to)
          from = to
        }
        cur
    }
  }
}

object ChangeFeed {

  def apply(
      source: LakeTable,
      checkpointDir: String,
      maxVersionsPerBatch: Option[Int] = None): ChangeFeedStream =
    new ChangeFeedStream(source, checkpointDir, maxVersionsPerBatch)

  /** SCD1 replication apply for a tagged CDC batch: the target mirrors
    * the source BY KEY. One key-touched rewrite per batch:
    *
    *   - every key present in the batch (insert or delete tag) leaves
    *     the target (left_anti on the batch's distinct keys);
    *   - the batch's insert rows come back in — so an update
    *     (delete+insert pair) nets to the new row, a pure delete nets
    *     to removal, and a fresh insert lands.
    *
    * Replaying the same batch is a no-op (the rewrite is a pure
    * function of target-minus-keys plus inserts), which is what makes
    * the at-least-once offset contract effectively-once end to end.
    * The anti-join shuffles on the merge keys only; untouched rows
    * rewrite but never shuffle — the same cost shape as
    * [[graft.tables.Merge.mergeScd1]], whose partitioned variant is
    * the upgrade path when the target is partition-pruned.
    */
  def applyScd1(target: LakeTable, keyCols: Seq[String])(batch: DataFrame): Unit = {
    val inserts = batch.filter(col("_change_type") === "insert").drop("_change_type")
    if (!target.exists || target.isEmpty) {
      // bootstrap: deletes against an empty target are vacuous
      target.append(inserts, skipIfEmpty = true)
      return
    }
    val touchedKeys = batch.select(keyCols.map(col): _*).distinct()
    val snapshot = target.read() // one manifest resolution for both uses
    val survivors = snapshot.join(touchedKeys, keyCols, "left_anti")
    target.overwrite(survivors.unionByName(inserts.select(snapshot.columns.map(col): _*)))
    ()
  }
}
