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
    * groupBy(keys).agg). The build runs on an [[isolated]] session
    * with AQE partition coalescing off, so the layout is exactly
    * `hash(keys) % spark.sql.shuffle.partitions` (a coalesced bucket
    * is a union of hash buckets, which `HashPartitioning(n)` would
    * mis-describe); the returned frame is bound to `df`'s session.
    */
  def localCheckpointHashPartitioned(df: DataFrame, keys: Seq[String]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val build = isolated(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val ck = onSession(build, df).localCheckpoint()
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
      case _ => onSession(spark, ck)
    }
  }

  private val clones =
    scala.collection.mutable.Map.empty[(SparkSession, Seq[(String, String)]), SparkSession]

  /** A session that runs with `conf` set, without touching `s`'s conf:
    * `s` itself when it already holds every value, else a clone of `s`
    * (`cloneSession`: same SparkContext and shared state, its own copy
    * of the session conf and temp views). One clone
    * per (session, values) is kept and reused — every session that
    * starts a stream registers a `StreamingQueryListenerBus` on the
    * shared `LiveListenerBus` and never removes it, so a clone per call
    * would leak one listener per use. Before each use the clone is
    * re-aligned with `s`: its conf is `s`'s current conf plus `conf`,
    * and its streaming listeners are `s`'s, so a listener on `s` still
    * sees the progress of a query started here. Never `stop()` or
    * `close()` the result: that stops the shared SparkContext. Frames
    * built on it are moved back to `s` with [[onSession]].
    */
  def isolated(s: SparkSession, conf: (String, String)*): SparkSession =
    if (conf.forall { case (k, v) => s.conf.getOption(k).contains(v) }) s
    else synchronized {
      val c = clones.getOrElseUpdate((s, conf.sorted),
        s.asInstanceOf[classic.SparkSession].cloneSession())
      val want = s.conf.getAll ++ conf
      c.conf.getAll.keys.filterNot(want.contains).foreach(c.conf.unset)
      want.foreach { case (k, v) => if (!c.conf.getOption(k).contains(v)) c.conf.set(k, v) }
      val (mine, theirs) = (c.streams.listListeners().toSet, s.streams.listListeners().toSet)
      (mine -- theirs).foreach(c.streams.removeListener)
      (theirs -- mine).foreach(c.streams.addListener)
      c
    }

  /** `df`'s analyzed plan as a frame of session `s` (`df` itself when
    * it already belongs to `s`): moves a result between a caller and
    * its [[isolated]] session. */
  def onSession(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

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
