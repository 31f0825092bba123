package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.{Curation, Dedup, Etl, Multimodal, Relational, Similarity, TextAnalysis}
import graft.sources.{Sinks, Tables, Versioned}
import graft.streaming.Streams

/** The benchmark's JVM side. One process runs one workload closed-loop
  * on one calling thread: set-up, one cold pass over the workload's
  * operations, then warm passes until the time budget is spent.
  * Each operation is timed as a build span (the call that returns the
  * DataFrame, with any eager jobs it runs) and a write span.
  *
  * An operation is one line of the plan file (tab-separated):
  *   query    <id> <format>   build SparkEntry.queries(id), write it
  *   vupsert  <batch.parquet> Versioned.upsert of a change batch
  *   vcdc     <batch.parquet> Versioned.applyCdc of a change batch
  *   supsert  <batch.parquet> Sinks.upsert of a change batch's upserts
  *   snapshot <label>         Versioned.snapshot read, written as parquet
  *   vacuum                   Versioned.vacuum keeping the latest version
  *
  * Usage: Harness --t0 <epoch ms at spawn> --data <dir> --work <dir>
  *   --plan <file> --result <file> [--seconds N] [--trace 0|1] [--cpus N]
  */
object Harness {
  final case class Op(kind: String, arg: String, format: String) {
    def label: String = if (kind == "query") arg else s"$kind:$arg"
  }

  /** Which operator module owns a query id. */
  private val modules: Seq[(String, Map[String, _])] = Seq(
    "Relational" -> Relational.queries, "Etl" -> Etl.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries, "Multimodal" -> Multimodal.queries,
    "Curation" -> Curation.queries, "Streams" -> Streams.queries)

  def moduleOf(op: Op): String = op.kind match {
    case "query" => modules.collectFirst { case (m, q) if q.contains(op.arg) => m }.getOrElse("unknown")
    case "supsert" => "Sinks"
    case _ => "Versioned"
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0Ms = a("t0").toLong
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val work = new File(a("work")).getAbsoluteFile
    val data = new File(a("data")).getAbsolutePath
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    // "inputs registered": every table's relation resolved once
    Tables.all.foreach(t => Tables.load(spark, data, t))
    Tables.events(spark, data)
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val out = new mutable.LinkedHashMap[String, Any]
    out("setup_s") = setupS
    out("session_s") = sessionS
    try run(spark, a, data, work, out)
    finally {
      spark.stop()
      writeJson(new File(a("result")), out)
    }
  }

  private def run(spark: SparkSession, a: Map[String, String], data: String,
      work: File, out: mutable.LinkedHashMap[String, Any]): Unit = {
    val seconds = a.getOrElse("seconds", "10").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val ops = scala.io.Source.fromFile(a("plan")).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => Op(f(0), f.lift(1).getOrElse(""), f.lift(2).getOrElse("parquet")))
      .toIndexedSeq
    val outDir = new File(work, "out")
    val tables = new File(work, "tables")
    val vPath = new File(tables, "v/t").getPath
    val sPath = new File(tables, "s/t").getPath
    val spans = new Spans
    val jvm = new JvmSampler
    val failures = mutable.ArrayBuffer.empty[(Int, String, String)]
    // per operation: (pass, label, module, build s, write s, traced)
    val timings = mutable.ArrayBuffer.empty[(Int, String, String, Double, Double, Double, Boolean)]
    // per pass: (pass, wall s, process CPU s, traced)
    val passTotals = mutable.ArrayBuffer.empty[(Int, Double, Double, Boolean)]
    val tracedPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    var tracer: Option[Tracer] = None

    def write(df: DataFrame, path: String, format: String): Unit = format match {
      // the writer calls graft.Cli.run makes for each --format
      case "parquet" => df.write.mode("overwrite").parquet(path)
      case "tsv" => df.write.mode("overwrite")
        .option("header", "true").option("sep", "\t").csv(path)
      case "csv" => df.write.mode("overwrite")
        .option("header", "true").csv(path)
    }

    def batch(p: String): DataFrame = spark.read.parquet(p)

    def runOp(pass: Int, i: Int, op: Op): Unit = {
      val qid = s"p$pass.$i"
      val module = moduleOf(op)
      val sc = spark.sparkContext
      def phase[T](name: String)(body: => T): (T, Double) = {
        val tag = Tags.make(qid, name, module)
        sc.addJobTag(tag)
        val t = System.nanoTime()
        try (spans(qid, name)(body), (System.nanoTime() - t) / 1e9)
        finally sc.removeJobTag(tag)
      }
      val cpu0 = jvm.cpuS
      try {
        val (b, w) = spans(qid, s"op ${op.label}") {
          op.kind match {
            case "query" =>
              val (df, tb) = phase("build")(SparkEntry.queries(op.arg)(spark, data))
              val (_, tw) = phase("write")(write(df, new File(outDir, op.arg).getPath, op.format))
              (tb, tw)
            case "vupsert" =>
              (0.0, phase("upsert")(Versioned.upsert(spark, vPath,
                batch(op.arg).drop("op"), "key", "part"))._2)
            case "vcdc" =>
              (0.0, phase("applyCdc")(Versioned.applyCdc(spark, vPath,
                batch(op.arg), "key", "part", "op"))._2)
            case "supsert" =>
              (0.0, phase("upsert")(Sinks.upsert(spark, sPath,
                batch(op.arg).filter(col("op") =!= "delete").drop("op"), "key", "part"))._2)
            case "snapshot" =>
              val (df, tb) = phase("snapshot")(Versioned.snapshot(spark, vPath))
              val (_, tw) = phase("write")(write(df, new File(outDir, s"snapshot_${op.arg}").getPath, "parquet"))
              (tb, tw)
            case "vacuum" =>
              (0.0, phase("vacuum")(Versioned.vacuum(spark, vPath, 1))._2)
          }
        }
        timings += ((pass, op.label, module, b, w, jvm.cpuS - cpu0, tracer.isDefined))
      } catch {
        case NonFatal(e) =>
          failures += ((pass, op.label, String.valueOf(e.getMessage).take(300)))
          System.err.println(s"[graftbench] pass $pass ${op.label} failed: $e")
      }
      // per-operation state is released between timings, as a caller
      // running one query after another would
      spark.sharedState.cacheManager.clearCache()
      graft.StateRegistry.sweep(spark)
    }

    val triggers = mutable.ArrayBuffer.empty[Double]
    def runPass(pass: Int, trace: Boolean): Unit = {
      System.gc() // each pass starts from a collected heap, outside its timing
      deleteTree(tables.toPath)
      if (trace) { val t = new Tracer(spark); t.attach(); tracer = Some(t) }
      val t = System.nanoTime()
      val cpu0 = jvm.cpuS
      spans(s"p$pass", "pass") { ops.zipWithIndex.foreach { case (op, i) => runOp(pass, i, op) } }
      val total = (System.nanoTime() - t) / 1e9
      passTotals += ((pass, total, jvm.cpuS - cpu0, trace))
      tracer.foreach { tr =>
        tr.detach()
        triggers ++= tr.triggerMs
        tracedPasses += tr.counters.snapshotAndReset() + ("pass_s" -> total)
        tracer = None
      }
    }

    // Untraced: the cold pass, then warm passes while fewer than
    // `seconds` have passed since it began. Traced: the cold pass, one
    // settling pass (JIT compilation is still converging), then warm
    // passes untraced / traced / untraced (more pairs while time is
    // left), so the tracing overhead is a same-process difference that
    // cancels a steady warm-up drift.
    val start = System.nanoTime()
    def timeLeft = (System.nanoTime() - start) / 1e9 < seconds
    runPass(0, trace = false)
    var pass = 1
    if (traced) {
      runPass(1, trace = false)
      pass = 2
      while (pass <= 4 || timeLeft || pass % 2 == 0) {
        runPass(pass, trace = pass % 2 == 1)
        pass += 1
      }
    } else while (timeLeft) {
      runPass(pass, trace = false)
      pass += 1
    }
    jvm.stop()

    // ---- untimed epilogue: evidence for the checker and space figures
    if (ops.exists(_.kind == "vacuum")) {
      try {
        val fin = new File(outDir, "final_snapshot").getPath
        Versioned.snapshot(spark, vPath).write.mode("overwrite").parquet(fin)
        out("table_bytes") = treeBytes(Paths.get(vPath))
        out("snapshot_bytes") = treeBytes(Paths.get(fin))
        out("sink_path") = sPath
        out("versioned_path") = vPath
      } catch { case NonFatal(e) =>
        failures += ((pass - 1, "final_snapshot", String.valueOf(e.getMessage).take(300)))
      }
    }
    val outputs = ops.filter(_.kind == "query").map { op =>
      val p = Paths.get(outDir.getPath, op.arg)
      op.arg -> Map("bytes" -> treeBytes(p), "files" -> dataFiles(p))
    }.toMap
    Files.writeString(new File(work, "oracle_sql.json").toPath,
      jsonOf(SparkEntry.oracleSql.filter { case (k, _) => outputs.contains(k) }))

    out("cores") = spark.sparkContext.defaultParallelism
    out("passes") = passTotals.map { case (p, s, c, t) =>
      Map("pass" -> p, "s" -> s, "cpu_s" -> c, "traced" -> t) }
    out("ops") = timings.map { case (p, l, m, b, w, c, t) =>
      Map("pass" -> p, "op" -> l, "module" -> m, "build_s" -> b, "write_s" -> w, "cpu_s" -> c,
        "traced" -> t) }
    out("failures") = failures.map { case (p, l, e) => Map("pass" -> p, "op" -> l, "error" -> e) }
    out("outputs") = outputs
    out("peak_rss_mb") = jvm.peakRssMb
    out("jvm") = Map("jit_ms" -> jvm.jitMs, "gc_ms" -> jvm.gcMs, "gc_count" -> jvm.gcCount,
      "heap_peak_mb" -> jvm.heapPeakBytes / 1048576.0)
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    out("codegen") = Map(
      "compile_ms" -> cg.METRIC_COMPILATION_TIME.getCount * cg.METRIC_COMPILATION_TIME.getSnapshot.getMean,
      "classes" -> cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble)
    out("traced_passes") = tracedPasses.toSeq
    out("trigger_ms") = triggers.toSeq
    val spanFile = new File(work, "spans.jsonl")
    val pw = new PrintWriter(spanFile)
    try spans.all.foreach { s =>
      pw.println(jsonOf(Map("id" -> s.id, "parent" -> s.parent, "qid" -> s.qid,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally pw.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally st.close()
    }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; st.iterator().asScala.toList }
      finally st.close()
    }

  private def isData(f: Path): Boolean = {
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
  }

  def treeBytes(p: Path): Long = walk(p).filter(isData).map(Files.size).sum
  def dataFiles(p: Path): Long = walk(p).count(isData).toLong

  def jsonOf(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => jsonOf(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jsonOf(k.toString) + ":" + jsonOf(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(jsonOf).mkString("[", ",", "]")
    case other => jsonOf(other.toString)
  }

  private def writeJson(f: File, v: Any): Unit = Files.writeString(f.toPath, jsonOf(v))
}
