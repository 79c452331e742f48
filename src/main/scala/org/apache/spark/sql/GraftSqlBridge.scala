package org.apache.spark.sql

/** Package-local bridge used by graft's iterative kernels.
  *
  * Spark 4's `Dataset.checkpoint`/`localCheckpoint` carry the checkpointed
  * plan's ESTIMATED statistics onto the returned `LogicalRDD` leaf
  * (`LogicalRDD.rewriteStatsAndConstraints`, sql/core ExistingRDD.scala).
  * In an iterative loop whose per-round plan joins the previous round's
  * leaf k times, the carried `sizeInBytes` estimate compounds as
  * S_r ≈ S_{r-1}^k — a BigInteger whose BIT LENGTH grows geometrically per
  * round. From ~round 12 the driver burns seconds per round inside
  * `SizeInBytesOnlyStatsPlanVisitor` BigInteger multiplications
  * (Karatsuba/ToomCook frames in the thread dump), with executors idle —
  * measured on CC over a 10⁵-vertex path: rounds 1-11 ≈ 0.7 s, round 13
  * ≈ 10 s, identical with AQE off and with eager/reliable checkpoints.
  *
  * `resetStats` rebuilds the frame over the SAME InternalRow RDD (no row
  * conversion, no recomputation — for a checkpointed input this is the
  * already-materialized checkpoint RDD) via `internalCreateDataFrame`,
  * whose `LogicalRDD` takes the DEFAULT leaf statistics. That restores the
  * pre-carry behavior graft's loops were designed around: checkpointed
  * frames have no usable stats, and every size-sensitive join in the
  * iterative kernels carries an explicit `broadcast()` hint already. */
object GraftSqlBridge {
  /** ROUND-17 ADDENDUM — the rebuilt frame must wrap the CHECKPOINT RDD
    * ITSELF, never `queryExecution.toRdd`. `toRdd` wraps the scan in
    * `SQLExecutionRDD` + `MapPartitionsRDD` layers whose `partitions_`
    * arrays are computed during the materializing job — BEFORE checkpoint
    * truncation — and sort-merge-join partitions (`ZippedPartitionsPartition`)
    * capture parent RDD REFERENCES inside the partition objects. Those
    * un-truncated wrapper layers therefore chain every previous round's
    * join RDDs → shuffle dependencies → checkpoint RDDs past the lineage
    * truncation, pinning ONE MORE generation per round for the whole
    * kernel run: ContextCleaner can never collect them, cached blocks are
    * never unpersisted, and shuffle files accumulate monotonically
    * (measured: a budgeted 10⁷-vertex SCC filled ~70 GB of /tmp and died;
    * heap-dump path in SCALE.md §"Round-17 retention defect"). The effect
    * is invisible below `spark.sql.autoBroadcastJoinThreshold` (broadcast
    * joins create no zipped partitions), which is why small fixtures never
    * showed it. Wrapping the checkpoint RDD directly breaks the chain:
    * truncation nulls ITS `partitions_`, so retention is bounded at one
    * generation regardless of join strategy. */
  def resetStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = ds.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd
      case _ => ds.queryExecution.toRdd
    }
    spark.internalCreateDataFrame(rdd, ds.schema)
  }

  /** Blocks until every event posted to `sc`'s listener bus so far has been
    * delivered, so a listener's counts cover every job already started. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
