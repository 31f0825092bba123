package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Remove a query's output dir after a failed dump: overwrite mode
    * only clears the dir on success, so a stale result from an
    * earlier run would otherwise pass the compare and mask the
    * failure (observed: a broken window expression went green
    * against a stale /tmp parquet). The walk stream is closed
    * (try-with-resources) and a cleanup failure must not abort the
    * remaining query loop — but it must also not leave the stale
    * parquet where the compare would silently pass against it, so
    * the fallback is an ATOMIC rename to `<name>.failed.<uuid>`
    * (single metadata op, succeeds even when a recursive delete
    * can't — open handle, mid-tree permission). Only if BOTH the
    * delete and the rename fail does the dir survive, and then the
    * loop is aborted: a possibly-green compare against a stale
    * result is strictly worse than a visibly failed run.
    */
  private[graft] def deleteStaleDir(outDir: String, name: String): Unit = {
    val dir = Paths.get(outDir, name)
    try if (Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(dir)) { st =>
        st.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] stale cleanup of $name failed: ${e.getMessage}")
      // re-check before escalating: if the walk failed because the dir
      // vanished mid-delete (or a concurrent cleanup won), there is no
      // stale data left and the remaining query loop must continue
      if (Files.exists(dir)) {
        try {
          val parked = Paths.get(outDir,
            s"$name.failed.${java.util.UUID.randomUUID().toString.take(8)}")
          Files.move(dir, parked)
          System.err.println(s"[verify] stale dir parked as ${parked.getFileName}")
        } catch { case e2: Throwable =>
          if (Files.exists(dir))
            throw new java.io.IOException(
              s"stale result for $name could not be deleted OR parked — " +
                s"the compare would pass against stale data: ${e2.getMessage}", e2)
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev loop —
    // the driver always runs the full inventory).
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Session-supplied body of [[main]] — VerifySpec drives this against
    * the shared test session (main's spark.stop() would kill it). */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          deleteStaleDir(outDir, name)
        }
      }
    // ANN recall-gate evidence for the performance baseline: dump each
    // gate's full candidate set (query_id, neighbor_id, cosine) plus
    // the gate bars, so tools/baseline.py can time DuckDB recomputing
    // the gate for real — exact brute-force ground truth + rank/hit
    // aggregation over these candidates — instead of timing a
    // constant-probe SELECT that does none of the gate's work.
    // ANN top-k oracle inputs: the candidate (query, neighbor) pairs
    // each approximate top-k ranked — the oracle SQL recomputes cosine
    // and the rank/cut over these pairs from the embeddings table, so
    // the dump carries NO scores, only the (deterministic,
    // recall-gated) candidate generation DuckDB cannot express.
    Seq(
      ("ann_lsh_topk", () => graft.operators.Similarity.lshCandidates(spark, sfDir)),
      ("ann_multiprobe_topk", () => graft.operators.Similarity.multiprobeCandidates(spark, sfDir)),
      ("ann_ivf_topk", () => graft.operators.Similarity.ivfCandidates(spark, sfDir)),
      ("ann_pq_topk", () => graft.operators.Similarity.pqCandidates(spark, sfDir)),
      ("ann_ivfpq_topk", () => graft.operators.Similarity.ivfpqCandidates(spark, sfDir)),
      ("ann_filtered_ivfpq", () => graft.operators.Similarity.ivfpqFilteredCandidates(spark, sfDir)),
      ("ann_binary_topk", () => graft.operators.Similarity.binaryCandidates(spark, sfDir)),
      ("ann_incremental_topk", () => graft.operators.Similarity.incrementalCandidates(spark, sfDir)),
      ("ann_upsert_topk", () => graft.operators.Similarity.upsertCandidates(spark, sfDir)),
    ).filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, gen) =>
        try gen().select("query_id", "neighbor_id").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/${name}_pairs")
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${name}_pairs dump failed: ${e.getMessage}")
          deleteStaleDir(outDir, s"${name}_pairs")
        }
      }
    // dedup_semantic oracle input: the quantizer's cell assignment.
    // DuckDB recomputes the ENTIRE semantic-dedup output from it for
    // real — within-cell pair join, exact cosines from the embeddings
    // table, threshold, min-rep argmin — so any drift in the join
    // logic, dot product, rounding, or keep rule hash-mismatches.
    if (only.forall(_.contains("dedup_semantic"))) {
      try graft.operators.Similarity.cellAssigned(spark, sfDir)
        .select("vec_id", "cell").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/dedup_semantic_cells")
      catch { case e: Throwable =>
        System.err.println(s"[verify] dedup_semantic_cells dump failed: ${e.getMessage}")
        deleteStaleDir(outDir, "dedup_semantic_cells")
      }
    }
    // _cand dumps + gate_bars respect the dev-loop filter (round 14):
    // a recall gate's SCALE-probe oracle (tools/crossprobe.py's
    // baseline-style gate recompute) needs the candidate set dumped AT
    // THE PROBE SF, and a full Verify run at 10x just to get one _cand
    // parquet would cost minutes per probed row.
    locally {
      import graft.operators.Similarity
      Seq(
        ("ann_lsh_recall", () => Similarity.lshCandidates(spark, sfDir)),
        ("ann_multiprobe_recall", () => Similarity.multiprobeCandidates(spark, sfDir)),
        ("ann_ivf_recall", () => Similarity.ivfCandidates(spark, sfDir)),
        ("ann_pq_recall", () => Similarity.pqCandidates(spark, sfDir)),
        ("ann_ivfpq_recall", () => Similarity.ivfpqCandidates(spark, sfDir)),
        ("ann_binary_recall", () => Similarity.binaryCandidates(spark, sfDir)),
        ("ann_filtered_ivfpq_recall", () => Similarity.ivfpqFilteredCandidates(spark, sfDir)),
        ("ann_upsert_recall", () => Similarity.upsertCandidates(spark, sfDir)),
      ).filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, cand) =>
          try cand().coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${name}_cand")
          catch { case e: Throwable =>
            System.err.println(s"[verify] ${name}_cand dump failed: ${e.getMessage}")
            deleteStaleDir(outDir, s"${name}_cand")
          }
        }
      // gt_oracle: the committed oracle whose rows are the gate's
      // ground-truth top-k (the filtered gate restricts candidates AND
      // ground truth to the query's label — bruteforce would be the
      // wrong yardstick)
      val barRows = Seq(
        ("ann_lsh_recall", Similarity.LshRecallBar, Similarity.LshPruneBar, None),
        ("ann_multiprobe_recall", Similarity.MpRecallBar, Similarity.MpPruneBar, None),
        ("ann_ivf_recall", Similarity.IvfRecallBar, Similarity.IvfPruneBar, None),
        ("ann_pq_recall", Similarity.PqRecallBar, Similarity.PqPruneBar, None),
        ("ann_ivfpq_recall", Similarity.IvfPqRecallBar, Similarity.IvfPqPruneBar, None),
        ("ann_binary_recall", Similarity.BinaryRecallBar, Similarity.BinaryPruneBar, None),
        ("ann_filtered_ivfpq_recall", Similarity.FilteredIvfPqRecallBar,
          Similarity.FilteredIvfPqPruneBar, Some("ann_filtered_topk")),
        ("ann_upsert_recall", Similarity.UpsertRecallBar,
          Similarity.UpsertPruneBar, None),
      )
      // Always write the FULL bar set (round 15; was filtered +
      // merge-on-collision): every entry is a pure function of the
      // current constants, so a subset dev-loop run costs nothing to
      // restate them all — and a stale entry can no longer survive a
      // bar-constant edit (the r14 merge kept unrun gates' OLD bars,
      // which baseline.py could not distinguish from fresh ones).
      val entries = barRows.map { case (n, r, p, gt) =>
        val gtField = gt.fold("")(g => s""", "gt_oracle": "$g"""")
        n -> s"""{"recall_bar": $r, "prune_bar": $p, "topk": ${Similarity.TopK}$gtField}"""
      }
      Files.writeString(Paths.get(s"$outDir/gate_bars.json"),
        entries.sortBy(_._1)
          .map { case (n, v) => s""""$n": $v""" }.mkString("{", ",", "}"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {{OUT}} in an oracle → this run's output dir (the dumped-input
    // oracles read their candidate parquet from there). The dump is
    // ALWAYS the full inventory (round 15; was filtered by the
    // dev-loop subset): the SQL strings are in-memory constants, so a
    // subset run restates them all for free — and tools/baseline.py's
    // expected-gate guard now derives from a file no subset run can
    // narrow (the r14 shape let a subset Verify shrink oracle_sql.json
    // while gate_bars.json merged, leaving the guard blind).
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{{OUT}}", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
