package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one operation share `qid`; `parent` is
  * the enclosing span's id (0 at the top). */
final case class Span(id: Int, parent: Int, qid: String, name: String,
    startNs: Long, endNs: Long)

/** Span recorder: kept in memory, written as JSON lines at exit. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil

  def apply[T](qid: String, name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      buf += Span(id, parent, qid, name, t0, System.nanoTime())
    }
  }

  def all: Seq[Span] = buf.toSeq
}

/** Job tags carry `<prefix>|<qid>|<phase>|<module>` so a task's metrics
  * can be charged to the operation and phase that launched its job. */
object Tags {
  val Prefix = "graftbench"
  def make(qid: String, phase: String, module: String): String =
    s"$Prefix|$qid|$phase|$module"
  def parse(props: java.util.Properties): Option[(String, String, String)] =
    Option(props).flatMap(p => Option(p.getProperty(BenchBridge.JobTagsKey)))
      .toSeq.flatMap(_.split(",")).map(_.split('|'))
      .collectFirst { case Array(Prefix, q, ph, m) => (q, ph, m) }
}

/** Additive counters under dotted metric names. */
final class Counters {
  private val m = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { m(k) = math.max(m.getOrElse(k, 0.0), v) }
  def snapshotAndReset(): Map[String, Double] = synchronized {
    val s = m.toMap; m.clear(); s
  }
}

/** Listener set for a traced pass: a SparkListener (jobs, stages,
  * tasks, shuffle, spill, scan and write volumes, charged per job tag),
  * a QueryExecutionListener (analysis / optimization / planning
  * phases), and a StreamingQueryListener (per-trigger durations and
  * state-store figures). Attached only around traced passes, so an
  * untraced pass runs with none of them registered. */
final class Tracer(spark: SparkSession) {
  val counters = new Counters
  val triggerMs = mutable.ArrayBuffer.empty[Double]
  private val stageTag = mutable.Map.empty[Int, (String, String, String)]

  private def charge(tag: Option[(String, String, String)], k: String, v: Double): Unit = {
    counters.add(k, v)
    tag.foreach { case (_, phase, module) =>
      counters.add(s"operators.$module.$phase.$k", v)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Tags.parse(e.properties)
      stageTag.synchronized { tag.foreach(t => e.stageIds.foreach(stageTag(_) = t)) }
      charge(tag, "spark.sched.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.add("spark.sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = stageTag.synchronized { stageTag.get(e.stageId) }
      counters.add("spark.sched.tasks", 1)
      if (e.reason != Success) counters.add("spark.sched.task_failures", 1)
      val tm = e.taskMetrics
      if (tm != null) {
        val info = e.taskInfo
        counters.add("spark.sched.executor_run_ms", tm.executorRunTime.toDouble)
        counters.add("spark.sched.executor_cpu_ms", tm.executorCpuTime / 1e6)
        val delay = info.duration - tm.executorRunTime - tm.executorDeserializeTime -
          tm.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        counters.add("spark.sched.scheduler_delay_ms", math.max(0L, delay).toDouble)
        val sr = tm.shuffleReadMetrics
        val sw = tm.shuffleWriteMetrics
        counters.add("spark.shuffle.write_bytes", sw.bytesWritten.toDouble)
        counters.add("spark.shuffle.read_bytes", (sr.remoteBytesRead + sr.localBytesRead).toDouble)
        counters.add("spark.shuffle.records", sw.recordsWritten.toDouble)
        counters.add("spark.shuffle.fetch_wait_ms", sr.fetchWaitTime.toDouble)
        counters.add("spark.shuffle.spill_mem_bytes", tm.memoryBytesSpilled.toDouble)
        counters.add("spark.shuffle.spill_disk_bytes", tm.diskBytesSpilled.toDouble)
        counters.max("spark.exec.peak_mem_mb", tm.peakExecutionMemory / 1048576.0)
        counters.add("sources.input_bytes", tm.inputMetrics.bytesRead.toDouble)
        counters.add("sources.input_rows", tm.inputMetrics.recordsRead.toDouble)
        charge(tag, "rows_written", tm.outputMetrics.recordsWritten.toDouble)
        charge(tag, "bytes_written", tm.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        counters.add(s"spark.plan.${phase}_ms", s.durationMs.toDouble)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      counters.add("streaming.triggers", 1)
      counters.add("streaming.input_rows", p.numInputRows.toDouble)
      p.durationMs.asScala.foreach { case (k, v) =>
        if (k == "triggerExecution") triggerMs.synchronized { triggerMs += v.toDouble }
        else counters.add(s"streaming.phase.$k", v.toDouble)
      }
      p.stateOperators.foreach { so =>
        counters.add("streaming.state_rows", so.numRowsTotal.toDouble)
        counters.add("streaming.state_commit_ms", so.commitTimeMs.toDouble)
        counters.max("streaming.state_mem_bytes", so.memoryUsedBytes.toDouble)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every queued event, then detach. */
  def detach(): Unit = {
    BenchBridge.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    BenchBridge.drainListenerBus(spark.sparkContext)
  }
}

/** Process-wide JVM figures from the platform MXBeans, plus a sampler
  * thread that tracks the heap high-water mark. */
final class JvmSampler {
  @volatile private var running = true
  @volatile var heapPeakBytes = 0L
  private val mem = ManagementFactory.getMemoryMXBean
  private val thread = new Thread(() => {
    while (running) {
      heapPeakBytes = math.max(heapPeakBytes, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(20)
    }
  }, "graftbench-heap-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }

  /** CPU time of the whole process (every thread, JIT and GC included), s. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  def gcCount: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionCount.max(0L)).sum.toDouble

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
