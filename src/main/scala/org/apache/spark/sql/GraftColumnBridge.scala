package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 made the Expression↔Column converters
  * (`classic.ExpressionUtils`) `private[sql]`, so this one-file shim
  * lives in the `org.apache.spark.sql` package purely to re-export
  * them for graft — the standard pattern for libraries that ship
  * native expressions.
  */
object GraftColumnBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `types.AbstractDataType` is `private[sql]` in Spark 4; this alias
    * lets graft expressions declare `inputTypes` (ExpectsInputTypes /
    * ImplicitCastInputTypes) for analysis-time type checking.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** localCheckpoint `df` and stamp the checkpointed LogicalRDD with
    * the HASH partitioning the checkpoint's final stage actually
    * produced, so downstream aggregations/joins on `keys` stay
    * partition-local (EnsureRequirements sees the layout instead of
    * re-shuffling). `Dataset.checkpoint`'s own partitioning snapshot
    * is unusable under AQE (it captures the leftmost leaf's
    * partitioning, not the final stage's) — this helper exists
    * because the caller KNOWS the plan ends in a hash exchange on
    * `keys`.
    *
    * Caller contract: `df`'s final stage must really be
    * hash-partitioned by exactly `keys` (e.g. it ends in
    * groupBy(keys).agg), and the caller must disable AQE partition
    * coalescing for the build (coalesced buckets are a union of hash
    * buckets, which `HashPartitioning(n)` would mis-describe) —
    * [[withStablePartitioning]] wraps that conf dance.
    */
  def localCheckpointHashPartitioned(df: DataFrame, keys: Seq[String]): DataFrame = {
    val ck = df.localCheckpoint()
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    ck.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        val keyAttrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(s"no column $k in ${lr.output}")))
        val part = catalyst.plans.physical.HashPartitioning(
          keyAttrs, lr.rdd.getNumPartitions)
        // second (curried) param list: session + origin stats /
        // constraints — the origins are private on lr, and dropping
        // them only loses a statistics hint, never correctness
        classic.Dataset.ofRows(spark,
          lr.copy(outputPartitioning = part)(
            spark, None, None))
      case _ => ck
    }
  }

  /** Run `body` with AQE partition coalescing disabled: the layout of
    * any shuffle it materializes is then exactly
    * `hash(keys) % spark.sql.shuffle.partitions`, which is what
    * [[localCheckpointHashPartitioned]] stamps.
    */
  def withStablePartitioning[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A scalar subquery over `df`'s single-row/single-column result —
    * the construct Spark's own injected runtime join filters use to
    * feed a bloom sketch to `BloomFilterMightContain` (which requires
    * a constant or scalar-subquery filter side). Executed once as a
    * subquery stage of the SAME query, so the sketch build needs no
    * separate driver-side action and no plan-embedded binary literal.
    */
  def scalarSubquery(df: Dataset[_]): Column =
    toColumn(catalyst.expressions.ScalarSubquery(df.queryExecution.analyzed))
}
