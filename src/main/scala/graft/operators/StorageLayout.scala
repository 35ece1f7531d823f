package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed storage layout for the one-shot persisted indexes —
  * persisting both sides of a recurring equi-join bucketed (and
  * sorted) by the key makes the join shuffle-FREE: each task reads
  * matching bucket files from both tables. At 100 TB the fact-fact
  * shuffle is usually the single largest cost in a pipeline run;
  * bucketing amortizes it into the write once.
  *
  * The other table-maintenance levers (small-file compaction,
  * partitioned layouts, z-order clustering and per-file stats) live in
  * the transactional table log: [[graft.storage.TxLog]].
  *
  * Verified behavior (StorageLayoutSpec): bucketed self-equi-joins plan
  * with zero Exchange operators, and bucket-column lookups prune the
  * scan to the matching bucket files.
  */
object StorageLayout {

  /** Persist `df` bucketed+sorted by `key` as managed table `table`. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)

  /** True iff the executed plan of `df` contains no shuffle exchange of
    * any flavor (hash, range, or single-partition — BroadcastExchange is
    * not a shuffle and is deliberately excluded). */
  def isShuffleFree(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    !Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
      "Exchange SinglePartition").exists(plan.contains)
  }
}
