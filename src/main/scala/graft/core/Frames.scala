package graft.core

import org.apache.spark.sql.DataFrame

/** Frame helpers shared across the library.
  *
  * [[free]] reclaims the cached frames of the incremental store legs (the
  * [[PieceLog]] core). Durable pieces are
  * `.persist()`ed parquet reads, which the cache-manager `unpersist`
  * frees. Non-durable pieces and every marker/df-delta/scratch frame are
  * `localCheckpoint`ed, and `Dataset.unpersist` is a NO-OP for those — the
  * blocks belong to the checkpointed RDD, not a cache-manager entry, and
  * only the ContextCleaner would eventually reclaim them. A long-lived
  * in-memory store with churn accumulates them (ADVICE r15), so the
  * checkpointed RDD is unpersisted explicitly here.
  *
  * [[fanOut]] spreads byte-small, CPU-heavy inputs across every core;
  * [[balancedUnion]] unions many frames at O(log n) plan depth. */
object Frames {
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(false); ()
    case _ => df.unpersist(); ()
  }

  /** Scale-adaptive fan-out for CPU-heavy narrow stages over byte-small
    * inputs: when the input's ESTIMATED bytes would split into fewer scan
    * partitions than the session's parallelism (tiny parquet reads as ONE
    * partition — openCostInBytes exceeds the file size — and a single row
    * group cannot be split), redistribute to `defaultParallelism` so
    * tokenize/shingle/distance work uses every core instead of one task.
    * When the input is already big enough to split (the 100 TB case) this
    * is a NO-OP — no extra shuffle is ever added at scale; the decision
    * derives from input size, never a constant (guide §2: partitioning
    * must be scale-adaptive). Hash-partitioning by `by` avoids round-robin
    * repartition's sort-before-shuffle. Only byte-order-free computations
    * may fan out (integer counts, per-row projections, DECIMAL sums) —
    * row-to-partition assignment changes double-sum accumulation order. */
  def fanOut(df: DataFrame, by: Seq[org.apache.spark.sql.Column] = Seq.empty): DataFrame = {
    val spark = df.sparkSession
    val dp = spark.sparkContext.defaultParallelism
    val maxPB = math.max(spark.sessionState.conf.filesMaxPartitionBytes, 1L)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val scanParts = (bytes / BigInt(maxPB)) + 1
    if (scanParts >= BigInt(dp)) df
    else if (by.nonEmpty) df.repartition(dp, by: _*)
    else df.repartition(dp)
  }

  /** Union frames by name with a BALANCED tree instead of a left-deep
    * `reduce(_ unionByName _)`: over thousands of inputs (segment scans,
    * leg pieces with auto-compaction off) a left-deep fold builds an
    * O(n)-deep Catalyst tree — quadratic-ish analysis and a potential
    * driver StackOverflowError on the recursive tree walks — while
    * pairwise folding yields the SAME single-job plan at O(log n) depth.
    * Catalyst's CombineUnions flattens either shape into one multi-child
    * Union, but only AFTER analysis has already recursed the input tree,
    * so the balance must exist at construction (ADVICE r18 #4). */
  def balancedUnion(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "balancedUnion of zero frames")
    var level: IndexedSeq[DataFrame] = dfs.toIndexedSeq
    while (level.size > 1)
      level = level.grouped(2)
        .map(g => if (g.size == 2) g(0).unionByName(g(1)) else g(0))
        .toIndexedSeq
    level.head
  }
}
