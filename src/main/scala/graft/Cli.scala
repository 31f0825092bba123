package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin CLI entry points for the reference pipelines.
  *
  * Each reference script is an argparse CLI (normalize_parks_json.py:
  * 15-38, convert_json_to_text.py:245-270, extract_chat_qa_tsv.py,
  * test_chat_assistant.py, test_chat_assistant_with_judge.py); the
  * engine exposed only library functions plus the Verify/Bench
  * drivers — fine for an engine, but a migrating user wants a main
  * per pipeline (VERDICT r14, "what's missing" #3). This is that
  * main: one dispatcher whose subcommand names mirror the reference
  * scripts and resolve to the corresponding gate-certified pipeline,
  * plus a generic escape hatch that runs ANY registered query by its
  * SURVEY §2 id — so the CLI surface can never drift from the
  * hash-gated library surface (it IS the library surface).
  *
  * Usage (sbt or spark-submit --class graft.Cli):
  *
  *   runMain graft.Cli <pipeline|query-id> <sfDir> <outPath>
  *     [--format parquet|tsv|csv] [--single-file] [--delay-ms N]
  *
  *  - `--format` tsv/csv mirror the reference scripts' delimited
  *    outputs (header row, \t or ,); parquet (default) is the engine-
  *    native landing format.
  *  - `--single-file` coalesces to one output file like the reference
  *    writers — a driver-bounded convenience for result-sized
  *    outputs; the default distributed write is the 100 TB shape.
  *  - `--delay-ms` is the reference's --delay / --judge-delay
  *    inter-call pacing, honored by the model-stage pipelines
  *    (model-summarize, model-judge) via
  *    [[graft.functions.ModelHook.completions]]'s minGapMs; other
  *    pipelines have no model stage and reject a non-zero value
  *    loudly rather than ignoring it.
  */
object Cli {

  /** Reference script → gate row. Comments cite the script each
    * subcommand re-expresses. */
  private[graft] val pipelines: Map[String, String] = Map(
    "normalize-parks" -> "etl_flatten_json", // normalize_parks_json.py
    "convert-json-to-text" -> "etl_json_to_text", // convert_json_to_text.py
    "model-summarize" -> "etl_model_summarize", // convert_json_to_text.py (model path)
    // extract_chat_qa_tsv.py: like the reference, the DEFAULT skips
    // sessions with an empty question or answer; --include-empty
    // switches to the unfiltered row (both are gate-certified)
    "extract-chat-qa" -> "etl_qa_extract_nonempty",
    "paged-chat-qa" -> "etl_paged_qa", // extract_chat_qa_tsv.py (HTTP pager)
    "chat-sessions" -> "etl_chat_sessions", // test_chat_assistant.py
    "sse-parse" -> "etl_sse_parse", // test_chat_assistant.py (SSE frames)
    "judge" -> "etl_judge_pipeline", // test_chat_assistant_with_judge.py
    "model-judge" -> "etl_model_judge") // judge loop w/ per-row failure capture

  private val formats = Set("parquet", "tsv", "csv")

  def main(args: Array[String]): Unit = {
    val (positional, flags) = parseArgs(args.toList)
    if (positional.length != 3)
      sys.error(usage)
    val Seq(name, sfDir, outPath) = positional.toSeq
    val format = flags.getOrElse("format", "parquet")
    require(formats.contains(format), s"unknown --format $format; one of $formats")
    val delayMs = flags.get("delay-ms").map(_.toLong).getOrElse(0L)
    val singleFile = flags.contains("single-file")
    // reject-loudly posture, same as --delay-ms: a flag that silently
    // does nothing would let a user believe the empty-QA rows were
    // included when the filtered pipeline ran
    require(!flags.contains("include-empty") || name == "extract-chat-qa",
      s"--include-empty only applies to extract-chat-qa, not $name")
    val name0 = if (name == "extract-chat-qa" && flags.contains("include-empty"))
      "etl_qa_extract" else name
    val spark = SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, name0, sfDir, outPath, format, singleFile, delayMs)
    finally spark.stop()
  }

  private def usage: String =
    "usage: graft.Cli <pipeline|query-id> <sfDir> <outPath> " +
      "[--format parquet|tsv|csv] [--single-file] [--delay-ms N] [--include-empty]\n" +
      s"pipelines: ${pipelines.keys.toSeq.sorted.mkString(", ")}\n" +
      "query-id: any SparkEntry.queries key (SURVEY §2 id)"

  private def parseArgs(args: List[String],
      pos: List[String] = Nil,
      flags: Map[String, String] = Map.empty): (List[String], Map[String, String]) =
    args match {
      case Nil => (pos.reverse, flags)
      case "--single-file" :: rest => parseArgs(rest, pos, flags + ("single-file" -> "true"))
      case "--include-empty" :: rest => parseArgs(rest, pos, flags + ("include-empty" -> "true"))
      case "--format" :: v :: rest => parseArgs(rest, pos, flags + ("format" -> v))
      case "--delay-ms" :: v :: rest => parseArgs(rest, pos, flags + ("delay-ms" -> v))
      case flag :: _ if flag.startsWith("--") => sys.error(s"unknown flag $flag\n$usage")
      case p :: rest => parseArgs(rest, p :: pos, flags)
    }

  /** Resolve and run one pipeline; separated from [[main]] so CliSpec
    * drives it on the shared test session. */
  private[graft] def run(spark: SparkSession, name: String, sfDir: String,
      outPath: String, format: String, singleFile: Boolean, delayMs: Long): Unit = {
    val queryId = pipelines.getOrElse(name, name)
    val df0: DataFrame = (queryId, delayMs) match {
      case ("etl_model_summarize", ms) if ms > 0 =>
        operators.Etl.etlModelSummarize(spark, sfDir, ms)
      case ("etl_model_judge", ms) if ms > 0 =>
        operators.Etl.etlModelJudge(spark, sfDir, ms)
      case (q, ms) =>
        require(ms == 0,
          s"--delay-ms only applies to model-stage pipelines " +
            s"(model-summarize, model-judge), not $q")
        SparkEntry.queries.getOrElse(q,
          sys.error(s"unknown pipeline or query id '$name'\n$usage"))(spark, sfDir)
    }
    val df = if (singleFile) df0.coalesce(1) else df0
    format match {
      case "parquet" => df.write.mode("overwrite").parquet(outPath)
      case "tsv" => df.write.mode("overwrite")
        .option("header", "true").option("sep", "\t").csv(outPath)
      case "csv" => df.write.mode("overwrite")
        .option("header", "true").csv(outPath)
    }
  }
}
