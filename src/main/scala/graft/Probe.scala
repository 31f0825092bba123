package graft

/** Dev-only plan and job inspection for any registered query at the
  * dataset in `SPARK_GRAFT_SF_DIR` (default sf0.1):
  *
  *  - `runMain graft.Probe knjobs <query>`: per-job wall breakdown of
  *    one query's second run (scheduled-job count is the structural
  *    signal behind most fixed-cost cuts).
  *  - `runMain graft.Probe explainall <outDir> [queries...]`: writes
  *    `.explain("formatted")` of every query (or the given subset) to
  *    `<outDir>/<query>.txt`, the capture `plans/` is built from.
  *
  * Timing A/B comparisons are the Bench subset run
  * (`SPARK_GRAFT_ONLY=<q>,zz_<q>_old runMain graft.Bench`); per-stage
  * statistics for the benchmark workloads come from perfbench's traced
  * run.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // shared engine warmup: first-run numbers should measure per-plan
    // costs, not interpreter/C2 compilation
    Bench.warmup(spark)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def run(q: String, pass: String): Unit = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, d).write.format("noop").mode("overwrite").save()
      println(f"[probe] $q%-28s $pass%-8s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    args.toList match {
      case "knjobs" :: q :: Nil =>
        // Warm-run first (plan-specific janino/C2 compiles land outside
        // the instrumented run), release its state, then instrument run 2.
        run(q, "warmrun")
        Bench.releaseQueryState(spark)
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        val done = new scala.collection.mutable.ArrayBuffer[(Int, Double, String)]()
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.put(js.jobId, (System.nanoTime(),
              js.stageInfos.map(si => s"${si.name.takeWhile(_ != '\n').take(40)}x${si.numTasks}").mkString("|").take(120)))
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val v = jobs.get(je.jobId)
            if (v != null) done.synchronized {
              done += ((je.jobId, (System.nanoTime() - v._1) / 1e9, v._2))
            }
          }
        }
        spark.sparkContext.addSparkListener(l)
        run(q, "measured")
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(l)
        done.synchronized { done.sortBy(_._1).toVector }.foreach { case (id, s, st) =>
          println(f"[probe] job $id%3d ${s}%7.2f s  $st")
        }
      case "explainall" :: outDir :: qs =>
        // explainString on the query execution, so the full formatted
        // text lands in the file, not stdout
        val targets = if (qs.nonEmpty) qs else SparkEntry.queries.keys.toList.sorted
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        targets.foreach { q =>
          try {
            val df = SparkEntry.queries(q)(spark, d)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, q + ".txt"),
              txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"[probe] explained $q")
          } catch { case e: Throwable =>
            println(s"[probe] explain $q FAILED: ${e.getMessage}")
          }
          Bench.releaseQueryState(spark)
        }
      case _ =>
        println("usage: Probe knjobs <query> | Probe explainall <outDir> [queries...]")
    }
    spark.stop()
  }
}
