package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Testdata

/** Scale-rehearsal data generator: replicate an sf directory `copies`×
  * into a new directory with shifted key spaces, for measuring
  * per-query cost slopes beyond the largest driver-shipped SF.
  *
  * Replication must not change the workload's CHARACTER, so copies are
  * decorrelated:
  *   - document text gets a copy-specific token suffix (copy 0 stays
  *     verbatim) — cross-copy shingle/token similarity drops to zero,
  *     so dedup output scales like 10 independent corpora instead of
  *     exploding into 10-clone duplicate groups;
  *   - embeddings are circularly shifted by 5·copy positions —
  *     cross-copy cosine of shifted random vectors is ~0, keeping
  *     near-dup and ANN candidate structure per-copy;
  *   - TPC-H keys shift by copy·10⁷, preserving join fan-in/fan-out
  *     (dims nation/region stay single-copy and joins stay satisfied
  *     because every fact copy references the dim keys verbatim).
  *
  * Usage: runMain graft.tools.GenScale <srcSfDir> <dstDir> <copies>
  *          [tables] [--share-suppliers]
  *
  * `--share-suppliers` keeps `l_suppkey` (and the supplier table)
  * UNSHIFTED across copies: every copy's customers reference the same
  * supplier pool, so the bipartite customer–supplier purchase graph
  * becomes ONE connected component of |copies|·|customers| vertices —
  * the regime that exercises graph queries' large-|V| paths (the BFS
  * bloom prune fires un-forced past 4 M visited rows) which plain
  * decorrelated copies can never reach (each copy is its own
  * component, and a fixed seed set only explores one of them).
  */
object GenScale {

  private val Shift = 10000000L

  def main(args: Array[String]): Unit = {
    val shareSuppliers = args.contains("--share-suppliers")
    val (src, dst, copiesStr, onlyTables) = args.filterNot(_ == "--share-suppliers") match {
      case Array(s, d, c) => (s, d, c, None)
      case Array(s, d, c, t) => (s, d, c, Some(t.split(",").toSet))
    }
    val copies = copiesStr.toInt
    val spark = graft.Sessions.local()

    def replicate(table: String)(mutate: (DataFrame, Int) => DataFrame): Unit = {
      if (onlyTables.exists(!_.contains(table))) return
      val base = Testdata.asStored(spark, s"$src/$table.parquet")
      val out = (0 until copies).map(i => mutate(base, i)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[gen] $table: ${base.count()} -> ${out.count()} rows")
    }

    // dims: verbatim single copy (fact copies reference the same keys)
    Seq("nation", "region").filter(t => onlyTables.forall(_.contains(t))).foreach { t =>
      Testdata.asStored(spark, s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    replicate("documents") { (d, i) =>
      val shifted = d.withColumn("doc_id", col("doc_id") + lit(i * Shift))
      if (i == 0) shifted
      else shifted.withColumn(
        "text",
        array_join(transform(split(col("text"), " "), t => concat(t, lit(s"_$i"))), " "))
    }

    replicate("embeddings") { (d, i) =>
      val shifted = d.withColumn("vec_id", col("vec_id") + lit(i * Shift))
      if (i == 0) shifted
      else {
        // Circular shift has period 64 in `i`; for >64 copies, copies i and
        // i-64 would otherwise carry IDENTICAL vectors (cross-copy cosine 1.0,
        // i.e. planted exact near-dups). Negating every second period keeps
        // norms intact and pins that cross-copy cosine at -1 instead.
        val by = (i * 5) % 64
        val rotated = concat(slice(col("embedding"), by + 1, 64 - by), slice(col("embedding"), 1, by))
        val decorrelated = if ((i / 64) % 2 == 1) transform(rotated, x => -x) else rotated
        shifted.withColumn("embedding", decorrelated)
      }
    }

    replicate("customer")((d, i) => d.withColumn("c_custkey", col("c_custkey") + lit(i * Shift)))
    replicate("supplier")((d, i) =>
      if (shareSuppliers) { if (i == 0) d else d.limit(0) }
      else d.withColumn("s_suppkey", col("s_suppkey") + lit(i * Shift)))
    replicate("part") { (d, i) =>
      val shifted = d.withColumn("p_partkey", col("p_partkey") + lit(i * Shift))
      // decorrelate NAMES too (same reasoning as document text): the
      // base corpus draws names from a small fixed space, so clone
      // copies multiply name multiplicity and make the ed≤1 fuzzy-join
      // relation itself Ω(N²) — a real 100× catalog has ~100× distinct
      // names instead. Copy 0 stays verbatim; copy i gets the suffix
      // " L…L" with letter L = 'a'+(i%26) repeated 2+2·(i/26) times:
      // every copy pair then differs in the LAST character (same length
      // band ⇒ different letter) or in length by ≥ 2 — so cross-copy
      // edit distance is always ≥ 2, cross-copy ed≤1 matches vanish,
      // and (first, last, length)-style blocking stays copy-local (no
      // cross-copy candidate leakage either).
      if (i == 0) shifted
      else {
        val letter = ('a' + (i % 26)).toChar.toString
        shifted.withColumn(
          "p_name", concat(col("p_name"), lit(" " + letter * (2 + 2 * (i / 26)))))
      }
    }
    replicate("orders") { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * Shift))
        .withColumn("o_custkey", col("o_custkey") + lit(i * Shift))
    }
    replicate("lineitem") { (d, i) =>
      val base = d.withColumn("l_orderkey", col("l_orderkey") + lit(i * Shift))
        .withColumn("l_partkey", col("l_partkey") + lit(i * Shift))
      if (shareSuppliers) base
      else base.withColumn("l_suppkey", col("l_suppkey") + lit(i * Shift))
    }
    replicate("events") { (d, i) =>
      val keyed = d.schema.fieldNames.foldLeft(d) { (acc, f) =>
        if (f == "event_id" || f == "user_id") acc.withColumn(f, col(f) + lit(i * Shift))
        else acc
      }
      keyed
    }
    spark.stop()
  }
}
