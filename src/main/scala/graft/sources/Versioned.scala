package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned keyed table with snapshot (time-travel) reads — the
  * manifest-log essence of the Delta/Iceberg commit protocol, built
  * on plain hive-partitioned parquet:
  *
  *  - data files are immutable; an upsert writes NEW files for the
  *    affected partitions and never touches existing ones (true
  *    copy-on-write at the FILE level, unlike [[Sinks.upsert]]'s
  *    directory swap which discards the old generation);
  *  - each commit is one manifest under `_graft_log/` listing every
  *    live file of that version; the atomic rename of the manifest IS
  *    the commit point — a crash at any earlier moment leaves only
  *    invisible orphan files, never a torn table;
  *  - readers resolve a version's manifest and read exactly those
  *    files (`basePath` keeps the hive partition column), so
  *    concurrent readers of version N are isolated from any writer;
  *  - unreferenced files stay on disk for time travel until
  *    [[vacuum]] retires manifests and deletes what only they
  *    referenced.
  *
  * Scale posture: the manifest is file-granular metadata (a full
  * listing per commit — production logs keep deltas + periodic
  * checkpoints, a straight generalization). Partition pruning for
  * the merge happens driver-side ON THE MANIFEST (string-prefix
  * match, no storage listing at all), which is exactly how
  * log-backed formats prune; only the affected partitions' files are
  * ever read or rewritten, so a 1%-of-partitions daily merge costs
  * 1% of the table in IO at any scale. Concurrency is Delta-style
  * optimistic (round 14): a merge that loses the manifest rename
  * revalidates against the new head and re-commits when the
  * interleaved commit touched none of its claimed partitions —
  * disjoint-partition writers both succeed without a locking
  * service; a true overlap fails the loser loudly
  * (ConcurrentModificationException). Round 15 closes the maintenance
  * ops' lost-update hole: [[compact]] commits through the same
  * optimistic protocol (disjoint writers merge, a write into a
  * partition being compacted conflicts), and [[restore]] pins its
  * commit to the head it read — any interleaved commit makes the
  * restore a loud conflict, Delta's RESTORE rule.
  *
  * Key semantics are [[Sinks.upsert]]'s (Hudi non-global-index):
  * keys are scoped to their partition; null partition values and
  * duplicate (key, partition) update rows are rejected loudly.
  */
object Versioned {

  private val LogDir = "_graft_log"
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One manifest line: a live data file plus (optionally) its
    * per-file min/max key statistics — the Delta/Iceberg
    * data-skipping core. Stats are collected at WRITE time for the
    * merge key when it is integral; readers prune files driver-side
    * on the manifest alone ([[snapshotRange]]), so a selective key
    * predicate reads only the files whose range intersects it — at
    * any scale the prune is metadata-only, no storage listing and no
    * footer IO. Files without stats (pre-stats manifests, non-integral
    * keys, all-null key files) are conservatively kept. min/max
    * ignore nulls (Spark agg semantics), which is SAFE for pruning: a
    * range predicate never selects null keys, so a pruned file cannot
    * hide a qualifying row.
    */
  private[graft] case class FileEntry(path: String, statsCol: Option[String],
      min: Option[Long], max: Option[Long]) {
    def render: String = statsCol match {
      case Some(c) if min.isDefined && max.isDefined =>
        s"$path\t$c\t${min.get}\t${max.get}"
      case _ => path
    }
  }

  private[graft] object FileEntry {
    def parse(line: String): FileEntry = line.split('\t') match {
      case Array(p, c, mn, mx) => FileEntry(p, Some(c), Some(mn.toLong), Some(mx.toLong))
      case _ => FileEntry(line, None, None, None)
    }
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: Path, v: Int): Path =
    new Path(new Path(root, LogDir), f"v$v%08d.manifest")

  /** All committed versions, ascending; empty if the table doesn't exist. */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val root = new Path(path)
    val log = new Path(root, LogDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toInt)
      .sorted.toIndexedSeq
  }

  def latestVersion(spark: SparkSession, path: String): Option[Int] =
    versions(spark, path).lastOption

  /** The relative data-file paths live at `version`. */
  private[graft] def manifestEntries(spark: SparkSession, path: String,
      version: Int): Seq[FileEntry] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val mp = manifestPath(root, version)
    require(fs.exists(mp), s"versioned table $path has no version $version")
    val in = fs.open(mp)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty)
      .map(FileEntry.parse).toList
    finally in.close()
  }

  private[graft] def manifestFiles(spark: SparkSession, path: String, version: Int): Seq[String] =
    manifestEntries(spark, path, version).map(_.path)

  /** Snapshot read at `version` (default: latest). The returned frame
    * reads exactly the files the version's manifest lists; `basePath`
    * recovers the hive partition column from the directory names.
    * `mergeSchema` unions the files' schemas, so after an ADD-COLUMN
    * upsert ([[upsert]]'s schema evolution) files written before the
    * widening read the new columns as NULL — Delta/Iceberg read
    * semantics. (Production logs track the schema in the commit
    * metadata instead of merging footers at read; footer-merge over
    * the manifest's file list is the same contract, paid per read.)
    */
  def snapshot(spark: SparkSession, path: String, version: Int = -1): DataFrame = {
    val v = if (version >= 0) version
      else latestVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"versioned table $path has no commits"))
    val files = manifestFiles(spark, path, v)
    require(files.nonEmpty, s"version $v of $path lists no files")
    spark.read.option("basePath", path).option("mergeSchema", "true")
      .parquet(files.map(f => s"$path/$f"): _*)
  }

  /** Manifest entries surviving data skipping for
    * `keyCol BETWEEN lo AND hi`: a file is pruned only when it
    * carries stats ON THAT COLUMN and its [min, max] provably misses
    * the range; stats-less files are kept. Driver-side metadata
    * only. */
  private[graft] def pruneEntries(entries: Seq[FileEntry], keyCol: String,
      lo: Long, hi: Long): Seq[FileEntry] =
    entries.filter { e =>
      e.statsCol != Some(keyCol) || (e.min.get <= hi && e.max.get >= lo)
    }

  /** Snapshot read restricted to `keyCol BETWEEN lo AND hi` with
    * manifest data skipping: the manifest's per-file min/max stats
    * prune non-intersecting files BEFORE any storage IO (the
    * Delta/Iceberg data-skipping read path), then the surviving files
    * are read with the same residual filter applied — so the result
    * is identical to `snapshot(...).filter(between)` while a
    * selective key predicate touches only the files that can hold
    * qualifying rows. At 100 TB this is the difference between a key
    * lookup reading one file and reading the table.
    */
  def snapshotRange(spark: SparkSession, path: String, keyCol: String,
      lo: Long, hi: Long, version: Int = -1): DataFrame = {
    val v = if (version >= 0) version
      else latestVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"versioned table $path has no commits"))
    val keep = pruneEntries(manifestEntries(spark, path, v), keyCol, lo, hi)
    val pred = col(keyCol).between(lo, hi)
    if (keep.isEmpty)
      // every file provably misses the range: preserve the schema,
      // return no rows, read nothing at runtime
      snapshot(spark, path, v).filter(pred).limit(0)
    else spark.read.option("basePath", path).option("mergeSchema", "true")
      .parquet(keep.map(e => s"$path/${e.path}"): _*)
      .filter(pred)
  }

  /** Snapshot diff — what changed between two commits: one row per
    * (key, partition) present in either version, classified as
    * `insert` / `delete` / `update` (payload changed) — `unchanged`
    * rows are dropped. Payloads compare by md5 of the canonical JSON
    * of all non-key columns (sorted by name), so the diff needs no
    * schema knowledge. The join is a full outer on (key, partition) —
    * at scale both sides PRUNE to the partitions whose file sets
    * differ between the manifests (identical carried-over files
    * cannot contain changed rows); file-level CoW makes that pruning
    * driver-side metadata only, the same trick the merge uses.
    */
  def diff(spark: SparkSession, path: String, v1: Int, v2: Int,
      keyCol: String, partCol: String): DataFrame = {
    val f1 = manifestFiles(spark, path, v1).toSet
    val f2 = manifestFiles(spark, path, v2).toSet
    // partitions whose file lists are identical across versions are
    // provably unchanged (files are immutable) — prune them up front
    def parts(fs: Set[String]) = fs.groupBy(_.split('/').head)
    val (p1, p2) = (parts(f1), parts(f2))
    val changed = (p1.keySet ++ p2.keySet).filter(p => p1.get(p) != p2.get(p))
    def side(fs: Set[String]): DataFrame = {
      val live = fs.filter(f => changed.contains(f.split('/').head)).toSeq.sorted
      if (live.isEmpty)
        // preserve schema for the outer join even when nothing changed
        snapshot(spark, path, v2).limit(0)
      else spark.read.option("basePath", path).option("mergeSchema", "true")
        .parquet(live.map(f => s"$path/$f"): _*)
    }
    def keyed(df: DataFrame, tag: String): DataFrame = {
      val payload = df.columns.filterNot(c => c == keyCol || c == partCol).sorted
      df.select(col(keyCol), col(partCol),
        md5(to_json(struct(payload.map(col).toIndexedSeq: _*))).as(s"h_$tag"))
    }
    keyed(side(f1), "a").join(keyed(side(f2), "b"), Seq(keyCol, partCol), "full_outer")
      .withColumn("change",
        when(col("h_a").isNull, lit("insert"))
          .when(col("h_b").isNull, lit("delete"))
          .when(col("h_a") =!= col("h_b"), lit("update")))
      .filter(col("change").isNotNull)
      .select(col(keyCol), col(partCol), col("change"))
  }

  /** Thrown when the atomic manifest rename loses to a concurrent
    * writer — the retryable half of the optimistic-concurrency
    * protocol ([[applyChanges]] catches it and revalidates against
    * the new head; a TRUE conflict surfaces as
    * `ConcurrentModificationException` instead). */
  private[graft] class CommitRaceException(msg: String)
    extends java.io.IOException(msg)

  private val MaxCommitRetries = 5

  /** Atomically commit `files` as version `next`; returns it. The
    * tmp-write + rename-without-overwrite makes a racing second writer
    * fail its rename instead of silently clobbering. `next` is always
    * PINNED by the caller to the-head-it-validated-against + 1
    * (round 15: the listing-based fallback is gone — every writer,
    * including restore and compact, now commits through this pin),
    * which is what makes a STALE writer detectable at all: its rename
    * target already exists, so it gets a [[CommitRaceException]]
    * rather than committing a manifest that silently drops the
    * interleaved writer's files — the lost-update hole a listing-based
    * next leaves open.
    */
  private def commit(fs: FileSystem, root: Path, files: Seq[FileEntry],
      next: Int): Int = {
    val log = new Path(root, LogDir)
    fs.mkdirs(log)
    val target = manifestPath(root, next)
    val tmp = new Path(target.getParent, target.getName + ".tmp" +
      java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, false)
    try out.write((files.map(_.render).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, true)
      throw new CommitRaceException(
        s"versioned commit race: $target already exists — concurrent writer detected")
    }
    next
  }

  /** Delta-style optimistic commit for the merge path: try to commit
    * as basedOn + 1; when a concurrent writer won that version,
    * re-read the head and REVALIDATE instead of failing — the merge
    * output stays valid as long as no interleaved commit touched any
    * of this writer's `claimed` partitions (data files are immutable,
    * so "untouched" = the claimed partitions' file LISTS are
    * byte-identical between basedOn and the new head). On success the
    * new head's entries for unclaimed partitions are carried, so the
    * interleaved writer's files survive; on a true overlap the loser
    * fails loudly with `ConcurrentModificationException` (its merged
    * output is stale — retrying would need a re-merge, which the
    * single-writer-per-partition contract says is the caller's call).
    */
  private def commitOptimistic(spark: SparkSession, fs: FileSystem, root: Path,
      path: String, basedOn: Option[Int], claimed: Set[String],
      newEntries: Seq[FileEntry],
      schemaCheck: Option[org.apache.spark.sql.types.StructType]): Int = {
    def partOf(e: FileEntry): String = e.path.split('/').head
    def entriesAt(v: Option[Int]): Seq[FileEntry] =
      v.map(manifestEntries(spark, path, _)).getOrElse(Seq.empty)
    val basePaths = entriesAt(basedOn)
      .filter(e => claimed.contains(partOf(e))).map(_.path).toSet
    var head = basedOn
    var attempt = 0
    while (true) {
      val headEntries = entriesAt(head)
      if (head != basedOn) {
        val headPaths = headEntries
          .filter(e => claimed.contains(partOf(e))).map(_.path).toSet
        if (headPaths != basePaths)
          throw new java.util.ConcurrentModificationException(
            s"versioned commit conflict at $path: a concurrent commit " +
              s"changed claimed partition(s) ${
                (headPaths diff basePaths) ++ (basePaths diff headPaths)
              } — this merge was computed against version ${basedOn.getOrElse(-1)}")
        // schema revalidation against the MOVED head: the serial path
        // rejects a batch missing any table column (evolution only
        // ADDS) — an interleaved commit that widened the schema in a
        // DISJOINT partition must make this writer a conflict too, or
        // the retry silently bypasses that loud contract (Delta treats
        // concurrent metadata change as a conflict for the same reason).
        // The COMPACT path passes schemaCheck = None: its rewritten
        // files carry their source partitions' own schema, and a
        // column widened in an unclaimed partition still lives in that
        // partition's files — mergeSchema reads recover it, so a
        // disjoint widening is NOT a conflict for compaction (Delta's
        // OPTIMIZE merges past disjoint writers the same way).
        for (mergedSchema <- schemaCheck; v <- head) {
          snapshot(spark, path, v).schema.foreach { f =>
            mergedSchema.find(_.name == f.name) match {
              case Some(g) if g.dataType == f.dataType => ()
              case _ => throw new java.util.ConcurrentModificationException(
                s"versioned commit conflict at $path: a concurrent commit " +
                  s"changed the table schema (column ${f.name}: " +
                  s"${f.dataType}) after this merge was validated against " +
                  s"version ${basedOn.getOrElse(-1)}")
            }
          }
        }
      }
      val carried = headEntries.filterNot(e => claimed.contains(partOf(e)))
      try return commit(fs, root, carried ++ newEntries,
        head.map(_ + 1).getOrElse(0))
      catch {
        case e: CommitRaceException =>
          attempt += 1
          if (attempt > MaxCommitRetries) throw e
          head = latestVersion(spark, path)
      }
    }
    -1 // unreachable
  }

  /** RESTORE the table to an earlier version AS A NEW COMMIT (Delta's
    * `RESTORE TABLE ... VERSION AS OF` semantics): the target
    * version's manifest is re-committed as the new head, so the
    * rollback is itself versioned history — no data file is copied,
    * moved, or deleted, the versions between target and old head stay
    * readable for time travel until [[vacuum]] ages them out, and a
    * second restore can roll the rollback back. Zero data IO at any
    * table size: the commit writes one manifest file. Returns the new
    * head version.
    *
    * Concurrency (round 15): the commit is PINNED to head + 1 as read
    * at entry. A concurrent commit that moves the head first makes the
    * rename lose, and the loss surfaces as
    * `ConcurrentModificationException` — never a silent wipe of the
    * interleaved writer's changes (the listing-based next the old path
    * used would have re-listed, taken max + 1, and committed a
    * manifest built from the stale target version). There is NO retry:
    * Delta's conflict matrix makes RESTORE conflict with every
    * concurrent write, because "roll back to v" computed before an
    * interleaved upsert and applied after it are different user
    * intents — the caller must look at the new head and decide.
    */
  def restore(spark: SparkSession, path: String, version: Int): Int =
    restoreWithHook(spark, path, version)(() => ())

  /** [[restore]] with a seam before the commit — SinksSpec interleaves
    * a concurrent upsert there to exercise the conflict path
    * deterministically. */
  private[graft] def restoreWithHook(spark: SparkSession, path: String,
      version: Int)(beforeCommit: () => Unit): Int = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val entries = manifestEntries(spark, path, version)
    val head = latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"versioned table $path has no commits"))
    beforeCommit()
    try commit(fs, root, entries, head + 1)
    catch { case e: CommitRaceException =>
      throw new java.util.ConcurrentModificationException(
        s"versioned restore conflict at $path: a concurrent commit moved " +
          s"the head past $head while restoring to version $version — " +
          "re-read the table and re-issue the restore if rollback is " +
          s"still intended (${e.getMessage})")
    }
  }

  /** Move every parquet file under tmp's `part=value` dirs into the
    * table root with a version-unique name; returns their relative
    * paths.
    */
  private def moveIn(fs: FileSystem, tmp: Path, root: Path, tag: String): Seq[String] = {
    val dirs = fs.listStatus(tmp).filter(st => st.isDirectory && st.getPath.getName.contains("="))
    dirs.flatMap { dir =>
      val destDir = new Path(root, dir.getPath.getName)
      fs.mkdirs(destDir)
      fs.listStatus(dir.getPath).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map { f =>
          val name = s"$tag-${f.getPath.getName}"
          val dest = new Path(destDir, name)
          if (!fs.rename(f.getPath, dest))
            throw new java.io.IOException(s"versioned upsert: cannot move ${f.getPath} to $dest")
          s"${dir.getPath.getName}/$name"
        }
    }.toIndexedSeq
  }

  /** Per-file min/max of `statsKey` for freshly written files, lifted
    * from the parquet FOOTERS the merge just wrote (round 16; was a
    * column-pruned Spark scan over the new files — a full scheduled
    * job per commit whose only output is per-file metadata the footer
    * already holds, exactly the numbers production formats read back).
    * Driver-side metadata IO only: one footer per new file, no Spark
    * job. Semantics match the scan form bit for bit — min/max over
    * non-null values per FILE (row-group stats folded together), a
    * file whose key values are all NULL gets no stats, and any chunk
    * with missing/foreign-typed statistics makes the whole file
    * conservatively stats-less (pruning keeps it; [[pruneEntries]]
    * never drops a stats-less file, so a footer anomaly can cost IO
    * but never rows). A footer that cannot be read at all takes the
    * same stats-less fallback, logged as a WARN with the file and cause.
    */
  private[graft] def entriesWithStats(spark: SparkSession, path: String,
      newFiles: Seq[String], statsKey: Option[String]): Seq[FileEntry] = statsKey match {
    case Some(k) if newFiles.nonEmpty =>
      val conf = spark.sparkContext.hadoopConfiguration
      newFiles.map { f =>
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(s"$path/$f"), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            var mn = Long.MaxValue
            var mx = Long.MinValue
            var seen = false // any non-null key value in the file
            var safe = true  // every non-empty chunk carried usable stats
            r.getFooter.getBlocks.asScala.foreach { b =>
              b.getColumns.asScala.find(_.getPath.toDotString == k) match {
                case Some(cc) =>
                  val st = cc.getStatistics
                  if (st == null || st.isEmpty) {
                    // no statistics for a chunk that may hold values:
                    // the file's range is unknowable from metadata
                    if (cc.getValueCount > 0) safe = false
                  } else if (st.hasNonNullValue) {
                    st match {
                      case s: org.apache.parquet.column.statistics.LongStatistics =>
                        if (s.getMin < mn) mn = s.getMin
                        if (s.getMax > mx) mx = s.getMax
                        seen = true
                      case s: org.apache.parquet.column.statistics.IntStatistics =>
                        if (s.getMin.toLong < mn) mn = s.getMin.toLong
                        if (s.getMax.toLong > mx) mx = s.getMax.toLong
                        seen = true
                      case _ => safe = false // non-integral physical type
                    }
                  } // else: all-null row group — nothing to bound
                case None => safe = false // chunk missing the column
              }
            }
            if (safe && seen) FileEntry(f, Some(k), Some(mn), Some(mx))
            else FileEntry(f, None, None, None)
          } finally r.close()
        } catch { case scala.util.control.NonFatal(e) =>
          log.warn(s"footer stats unreadable for $path/$f, keeping it " +
            s"stats-less (never pruned): $e")
          FileEntry(f, None, None, None)
        }
      }
    case _ => newFiles.map(FileEntry(_, None, None, None))
  }

  /** The merge key qualifies for manifest stats when it is integral
    * (long-renderable losslessly). */
  private def statsKeyFor(schema: org.apache.spark.sql.types.StructType,
      keyCol: String): Option[String] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    schema.find(_.name == keyCol).map(_.dataType).collect {
      case LongType | IntegerType | ShortType | ByteType => keyCol
    }
  }

  /** Keyed MERGE producing a new version; returns the committed
    * version number. Affected partitions' new files replace their old
    * files IN THE MANIFEST ONLY — the old files remain for snapshots
    * of earlier versions.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, partCol: String): Int =
    applyChanges(spark, path, updates, keyCol, partCol, opCol = None)

  /** CDC apply: like [[upsert]], but `opCol` marks each change row as
    * an upsert or a `delete` tombstone. Deleted keys are removed from
    * their partition (and only their partition — the same
    * partition-scoped key contract as upsert); everything else merges
    * last-write-wins. One version per applied batch, so the CDC
    * history is time-travelable. The tombstone rows never reach the
    * data files — they only drive the anti-join.
    */
  def applyCdc(spark: SparkSession, path: String, changes: DataFrame,
      keyCol: String, partCol: String, opCol: String): Int =
    applyChanges(spark, path, changes, keyCol, partCol, opCol = Some(opCol))

  /** [[upsert]] with a seam between the merge write and the commit —
    * SinksSpec interleaves a second writer's full upsert there to
    * exercise the optimistic-retry and true-conflict paths
    * deterministically (a thread race would be a coin flip). */
  private[graft] def upsertWithHook(spark: SparkSession, path: String,
      updates: DataFrame, keyCol: String, partCol: String)(
      beforeCommit: () => Unit): Int =
    applyChanges(spark, path, updates, keyCol, partCol, opCol = None,
      beforeCommit = beforeCommit)

  private def applyChanges(spark: SparkSession, path: String, changes: DataFrame,
      keyCol: String, partCol: String, opCol: Option[String],
      beforeCommit: () => Unit = () => ()): Int = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val u = changes.persist()
    try {
      // ONE validation + partition-list job (round 16; was four
      // separate actions per batch — null-partition filter, duplicate
      // groupBy, CDC-op filter, and a distinct-partition collect that
      // ran TWICE more below): a single aggregation over the
      // (key, partition) groups yields every guard's evidence plus the
      // distinct partition values in one collected row. The guards and
      // their messages (and their precedence) are unchanged — the
      // malformed-CDC rationale still applies: `=!= "delete"` is NULL
      // for a NULL op, so an unchecked junk/null op row would be
      // excluded from inserts yet still claim its (key, partition) in
      // the anti-join, silently deleting the existing row.
      val badOp = opCol.map(c => sum(when(
          col(c).isNull || !col(c).isin("upsert", "delete"), 1L).otherwise(0L)))
        .getOrElse(lit(0L))
      val vrow = u.groupBy(col(keyCol), col(partCol))
        .agg(count(lit(1)).as("c"), badOp.as("bad"))
        .agg(
          sum(when(col(partCol).isNull, col("c")).otherwise(lit(0L))).as("n_null_part"),
          max(col("c")).as("max_dup"),
          sum(col("bad")).as("n_bad_op"),
          collect_set(col(partCol)).as("parts"))
        .head()
      require(vrow.isNullAt(0) || vrow.getLong(0) == 0L,
        s"versioned upsert: null $partCol in updates")
      require(vrow.isNullAt(1) || vrow.getLong(1) <= 1L,
        s"versioned upsert: duplicate ($keyCol, $partCol) rows in the update batch")
      opCol.foreach { c =>
        require(vrow.isNullAt(2) || vrow.getLong(2) == 0L,
          s"versioned cdc: $c must be 'upsert' or 'delete' (non-null) for every row")
      }
      // the batch's distinct partition values (nulls rejected above),
      // shared by the manifest prune and the post-write claim
      val partVals = vrow.getSeq[Any](3)
      // rows that insert data: everything, minus delete tombstones
      val inserts = opCol match {
        case None => u
        case Some(c) => u.filter(col(c) =!= "delete").drop(c)
      }
      val tag = "g" + java.util.UUID.randomUUID().toString.take(8)
      val tmp = new Path(root.getParent, root.getName + "_vtmp_" + tag)
      fs.delete(tmp, true)
      val prev = latestVersion(spark, path)
      val merged = prev match {
        case None => inserts
        case Some(v) =>
          // Schema evolution contract (the ADD COLUMN every
          // Delta/Iceberg user hits within weeks): the batch must
          // carry every existing table column with the SAME type (a
          // type conflict is rejected loudly, never coerced) and may
          // ADD columns — the widened schema becomes the table's,
          // carried-over files read the new columns as NULL via
          // [[snapshot]]'s mergeSchema. The table schema comes from
          // the snapshot (all live footers), not just the affected
          // partitions, so a conflict with an untouched partition's
          // column is caught too.
          val tableSchema = snapshot(spark, path, v).schema
          tableSchema.foreach { f =>
            inserts.schema.find(_.name == f.name) match {
              case None => throw new IllegalArgumentException(
                s"versioned upsert: batch is missing table column ${f.name} — " +
                  "schema evolution only ADDS columns")
              case Some(g) => require(g.dataType == f.dataType,
                s"versioned upsert: type conflict on ${f.name} — " +
                  s"table ${f.dataType} vs batch ${g.dataType}")
            }
          }
          val added = inserts.schema.filterNot(g => tableSchema.exists(_.name == g.name))
          // ALL change keys (upserts AND deletes) claim their partition
          val parts = partVals.map(v => s"$partCol=$v").toSet
          // driver-side manifest pruning: only affected partitions' files
          val prevFiles = manifestFiles(spark, path, v)
          val affectedFiles = prevFiles.filter(f => parts.contains(f.split('/').head))
          if (affectedFiles.isEmpty) inserts
          else {
            val affected = spark.read.option("basePath", path).option("mergeSchema", "true")
              .parquet(affectedFiles.map(f => s"$path/$f"): _*)
            val survivors0 = affected.join(
              u.select(col(keyCol), col(partCol)), Seq(keyCol, partCol), "left_anti")
            // widen survivors with the batch's added columns as NULL
            val survivors = added.foldLeft(survivors0)((df, f) =>
              df.withColumn(f.name, lit(null).cast(f.dataType)))
            survivors.unionByName(
              inserts.select((affected.columns ++ added.map(_.name)).map(col).toIndexedSeq: _*))
          }
      }
      merged.write.partitionBy(partCol).parquet(tmp.toString)
      val newFiles = moveIn(fs, tmp, root, tag)
      fs.delete(tmp, true)
      // a rewritten-affected partition whose rows ALL vanished (pure
      // delete batch) produces no new file — it must still drop out of
      // the carried set, so the CLAIM covers every affected partition,
      // not just those that got new files
      val changedParts = partVals.map(v => s"$partCol=$v").toSet
      val claimed = newFiles.map(_.split('/').head).toSet ++ changedParts
      // carried files KEEP their recorded stats; new files get theirs
      // from the one-column stats pass
      val newEntries = entriesWithStats(spark, path, newFiles,
        statsKeyFor(merged.schema, keyCol))
      beforeCommit()
      try commitOptimistic(spark, fs, root, path, prev, claimed, newEntries,
        Some(merged.schema))
      catch { case scala.util.control.NonFatal(e) =>
        // a failed commit must not leak: the loser's freshly moved-in
        // data files are referenced by no manifest (its commit never
        // happened), so delete them — otherwise every failure
        // permanently parks a full rewritten copy of its affected
        // partitions in the table directory. NonFatal (round 15, was
        // ConcurrentModificationException only): a CommitRaceException
        // that exhausts MaxCommitRetries, or any commit IO failure,
        // leaves the same orphans as a true conflict.
        newFiles.foreach { f =>
          try fs.delete(new Path(root, f), false) catch { case _: Throwable => () }
        }
        throw e
      }
    } finally u.unpersist()
  }

  /** OPTIMIZE: rewrite every partition holding more than `maxFiles`
    * data files into compacted files, committed as a NEW version —
    * contents identical, history untouched (earlier versions keep
    * reading the small files until [[vacuum]] retires them). This is
    * the table-format compaction loop (Delta OPTIMIZE / Iceberg
    * rewrite_data_files) on the same commit protocol as the merge:
    * partitions already at or under the bound are carried over in the
    * manifest only — no IO for them at any scale — and the rewrite
    * repartitions on the partition column so each compacted hive
    * partition lands as one file. Returns the committed version (the
    * current one if nothing needed compacting).
    *
    * Concurrency (round 15): the same optimistic protocol as the
    * merge. The compacted partitions are the CLAIM; a concurrent
    * commit to disjoint partitions merges cleanly (the retry carries
    * the new head's entries for everything unclaimed, so the
    * interleaved writer's files survive — Delta's OPTIMIZE-vs-write
    * rule), while a commit that touched a partition being compacted is
    * a true conflict: the compacted files were rewritten from now-dead
    * inputs, so the loser cleans up its orphans and fails loudly.
    * Schema revalidation is intentionally skipped ([[commitOptimistic]]
    * schemaCheck = None): compacted files carry their own partitions'
    * schema and a column widened elsewhere still lives in that
    * partition's files.
    */
  def compact(spark: SparkSession, path: String, partCol: String,
      maxFiles: Int = 1): Int =
    compactWithHook(spark, path, partCol, maxFiles)(() => ())

  /** [[compact]] with a seam between the rewrite and the commit —
    * SinksSpec interleaves a concurrent upsert there to exercise the
    * disjoint-merge and true-conflict paths deterministically. */
  private[graft] def compactWithHook(spark: SparkSession, path: String,
      partCol: String, maxFiles: Int = 1)(beforeCommit: () => Unit): Int = {
    require(maxFiles >= 1, "maxFiles must be at least 1")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val v = latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"versioned table $path has no commits"))
    val entries = manifestEntries(spark, path, v)
    val byPart = entries.groupBy(_.path.split('/').head)
    val toCompact = byPart.filter(_._2.size > maxFiles)
    if (toCompact.isEmpty) return v
    val tag = "c" + java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(root.getParent, root.getName + "_vtmp_" + tag)
    fs.delete(tmp, true)
    val affected = spark.read.option("basePath", path).option("mergeSchema", "true")
      .parquet(toCompact.values.flatten.map(e => s"$path/${e.path}").toSeq: _*)
    affected.repartition(col(partCol)).write.partitionBy(partCol).parquet(tmp.toString)
    val newFiles = moveIn(fs, tmp, root, tag)
    fs.delete(tmp, true)
    val compacted = toCompact.keySet
    // compacted files get fresh stats on the stats column the table
    // already tracks (inherited from the live entries — compact has
    // no key parameter of its own)
    val inheritedKey = entries.flatMap(_.statsCol).headOption
      .flatMap(k => statsKeyFor(affected.schema, k))
    val newEntries = entriesWithStats(spark, path, newFiles, inheritedKey)
    beforeCommit()
    try commitOptimistic(spark, fs, root, path, Some(v), compacted, newEntries,
      schemaCheck = None)
    catch { case scala.util.control.NonFatal(e) =>
      // same no-leak rule as the merge path: a conflicted or failed
      // compaction's rewritten files are referenced by no manifest
      newFiles.foreach { f =>
        try fs.delete(new Path(root, f), false) catch { case _: Throwable => () }
      }
      throw e
    }
  }

  /** Retire all but the last `keepVersions` manifests and delete the
    * data files only they referenced; returns the number of files
    * deleted. Snapshot reads of retired versions fail from then on —
    * the standard retention trade.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int): Int = {
    require(keepVersions >= 1, "vacuum must keep at least the latest version")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val all = versions(spark, path)
    if (all.length <= keepVersions) return 0
    val (drop, keep) = all.splitAt(all.length - keepVersions)
    val live = keep.flatMap(v => manifestFiles(spark, path, v)).toSet
    val dead = drop.flatMap(v => manifestFiles(spark, path, v)).toSet -- live
    dead.foreach(f => fs.delete(new Path(root, f), false))
    drop.foreach(v => fs.delete(manifestPath(root, v), false))
    dead.size
  }
}
