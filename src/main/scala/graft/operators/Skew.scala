package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers for the 100 TB posture (SURVEY §7.4).
  *
  * AQE's skew-join splitting handles most cases at runtime; these are
  * for the plans AQE can't fix: a shuffle join where one key carries a
  * pathological share of the rows and the other side is too big to
  * broadcast outright but small enough to replicate `saltFactor` ways.
  */
object Skew {

  /** Salted equi-join: append a deterministic salt ∈ [0, saltFactor) to
    * the LEFT (large, skewed) side derived from a uniquifier column,
    * replicate the RIGHT side once per salt value, and join on
    * (key, salt). The hot key's rows spread across `saltFactor`
    * partitions instead of one straggler task.
    *
    * The salt comes from a hash of `leftUniqueCol` (not rand()) so the
    * operator stays deterministic and retry-safe.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftUniqueCol: String,
      saltFactor: Int = 8,
      joinType: String = "inner"): DataFrame = {
    require(saltFactor > 0)
    // Replicating the right side saltFactor ways breaks right/full_outer
    // semantics: an unmatched right row would emit saltFactor duplicate
    // null-padded rows. Only left-preserving/inner types are salt-safe.
    val saltSafe =
      Set("inner", "left", "leftouter", "leftsemi", "leftanti", "semi", "anti")
    require(
      saltSafe.contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin does not support joinType=$joinType (unmatched right rows would " +
        s"duplicate ${saltFactor}x); use inner/left/left_semi/left_anti")
    val salted = left.withColumn(
      "__graft_salt",
      pmod(xxhash64(col(leftUniqueCol)), lit(saltFactor)).cast("int"))
    val replicated = right
      .withColumn("__graft_salt", explode(array((0 until saltFactor).map(lit): _*)))
    salted
      .join(replicated, Seq(key, "__graft_salt"), joinType)
      .drop("__graft_salt")
  }

  /** Top-k heavy keys by frequency — the probe you run before deciding
    * between broadcast, salting, and AQE-only.
    */
  def heavyKeys(df: DataFrame, key: String, k: Int = 20): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc, col(key))
      .limit(k)

  /** Range-partition + sort a frame by a timestamp column so file-level
    * min/max stats line up with time-predicate scans (the write-side
    * half of partition pruning when identity date partitions are too
    * coarse).
    */
  def clusterByTime(df: DataFrame, tsCol: String, partitions: Int): DataFrame =
    df.repartitionByRange(partitions, col(tsCol)).sortWithinPartitions(col(tsCol))

  /** Z-order clustering on two integral columns: range-partition + sort
    * by the Morton key so each written file is tight on BOTH dimensions
    * (multi-dim file skipping — 1-D `clusterByTime` only prunes on one
    * column; linear clustering on (a, b) leaves b's per-file ranges as
    * wide as the table).
    */
  def clusterByZOrder(df: DataFrame, colA: String, colB: String, partitions: Int): DataFrame = {
    val z = graft.functions.VectorExprs
      .zorder2(col(colA).cast("long"), col(colB).cast("long"))
    df.withColumn("__graft_z", z)
      .repartitionByRange(partitions, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z")
  }
}
