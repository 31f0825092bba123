package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Sinks, Tables}

class SinksSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("out").toString

  test("csv roundtrip preserves rows and header") {
    val df = Tables.nation(spark, sf)
    val path = tmp("csv")
    Sinks.writeCsv(df, path)
    val back = Sinks.readCsv(spark, path)
    assert(back.count() == df.count())
    assert(back.columns.toSeq == df.columns.toSeq)
  }

  test("tsv write sanitizes control characters in cells") {
    import spark.implicits._
    val dirty = Seq((1L, "a\tb\nc"), (2L, " x ")).toDF("id", "s")
    val path = tmp("tsv")
    Sinks.writeTsv(dirty, path, singleFile = true)
    val back = Sinks.readTsv(spark, path)
    val vals = back.orderBy("id").collect().map(_.getString(1))
    assert(vals(0) == "a b c")
    assert(vals(1) == "x")
  }

  test("jsonl roundtrip preserves typed values") {
    val df = Tables.region(spark, sf)
    val path = tmp("jsonl")
    Sinks.writeJsonl(df, path)
    val back = Sinks.readJsonl(spark, path)
      .select("r_regionkey", "r_name").orderBy("r_regionkey")
    assert(back.collect().map(_.toSeq).toSeq ==
      df.select("r_regionkey", "r_name").orderBy("r_regionkey").collect().map(_.toSeq).toSeq)
  }

  test("partitioned parquet prunes partitions at read") {
    val df = Tables.documents(spark, sf)
    val path = tmp("part")
    Sinks.writePartitionedParquet(df, path, "lang")
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("lang=")) >= 2, dirs.toSeq.toString)
    val en = spark.read.parquet(path).filter(col("lang") === "en")
    // partition filter must appear in the scan, not a post-filter
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(en.count() == df.filter(col("lang") === "en").count())
  }

  test("orc roundtrip preserves values; partition + predicate pushdown reach the scan") {
    val df = Tables.documents(spark, sf)
    val path = tmp("orcpart")
    Sinks.writeOrc(df, path, "lang")
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("lang=")) >= 2, dirs.toSeq.toString)
    val back = Sinks.readOrc(spark, path)
    assert(back.count() == df.count())
    // same rows (lang moved to partition column, values preserved)
    val a = back.select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val b = df.select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    // partition pruning + predicate pushdown must reach the ORC scan
    val en = back.filter(col("lang") === "en" && col("doc_id") < 100)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { en.explain("formatted") }
    val plan = out.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]"), plan)
  }

  test("avro roundtrip preserves values; partitioned layout prunes") {
    val df = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars", "text")
    val path = tmp("avropart")
    Sinks.writeAvro(df, path, "lang")
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("lang=")) >= 2, dirs.toSeq.toString)
    val back = Sinks.readAvro(spark, path)
    assert(back.count() == df.count())
    val a = back.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val b = df.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    // partition pruning reaches the avro scan
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      back.filter(col("lang") === "en").explain("formatted")
    }
    assert(out.toString.contains("PartitionFilters: [isnotnull(lang"), out.toString)
  }

  test("xml roundtrip: rowTag records, nested struct column, explicit schema skips inference") {
    import org.apache.spark.sql.types._
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        struct(col("source"), col("n_chars")).as("meta"))
    val path = tmp("xmldocs")
    Sinks.writeXml(df, path, rowTag = "doc")
    val back = Sinks.readXml(spark, path, rowTag = "doc")
    assert(back.count() == df.count())
    // nested element came back as a struct column
    assert(back.schema("meta").dataType.isInstanceOf[StructType])
    val a = back.select(col("doc_id"), col("lang"), col("meta.source"), col("meta.n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    val b = df.select(col("doc_id"), col("lang"), col("meta.source"), col("meta.n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    // explicit schema path (no inference pass) reads the same rows
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("meta", StructType(Seq(
        StructField("source", StringType), StructField("n_chars", LongType))))))
    val typed = Sinks.readXml(spark, path, rowTag = "doc", Some(schema))
    assert(typed.schema == schema)
    assert(typed.count() == df.count())
  }

  test("z-ordered write clusters BOTH dimensions (bounded per-file extents)") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val zPath = tmp("zorder")
    val sPath = tmp("singlesort")
    Sinks.writeZOrdered(li, zPath, "l_orderkey", "l_partkey", numFiles = 8)
    // control: plain sort on the leading column only
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(sPath)

    // average normalized per-file extent of a column = the fraction of
    // the global range a file's min/max box covers (1.0 = no clustering)
    def extents(path: String, c: String): Double = {
      val global = spark.read.parquet(path)
        .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head
      val span = global.getDouble(1) - global.getDouble(0)
      val perFile = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f").agg(((max(col(c)) - min(col(c))) / span).as("e"))
        .agg(avg(col("e"))).head.getDouble(0)
      perFile
    }
    // rows preserved
    assert(spark.read.parquet(zPath).count() == li.count())
    val zA = extents(zPath, "l_orderkey"); val zB = extents(zPath, "l_partkey")
    val sA = extents(sPath, "l_orderkey"); val sB = extents(sPath, "l_partkey")
    // single-column sort: leading column tightly clustered, second ~full range
    assert(sA < 0.3, s"control leading-col extent $sA")
    assert(sB > 0.8, s"control second-col extent $sB should be unclustered")
    // z-order: BOTH columns' boxes must be materially below full range
    assert(zA < 0.7, s"z-order extent on ${"l_orderkey"} = $zA")
    assert(zB < 0.7, s"z-order extent on ${"l_partkey"} = $zB")
    assert(zB < sB / 2, s"z-order must beat single-sort on the second dim: $zB vs $sB")
  }

  test("ensureColumns adds missing required columns as typed nulls") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val df = Seq((1L, "x")).toDF("id", "facilities")
    val required = StructType(Seq(
      StructField("id", LongType),
      StructField("facilities", StringType),
      StructField("restrictions", StringType),
      StructField("activities", StringType)))
    val out = Sinks.ensureColumns(df, required)
    assert(out.columns.toSeq == Seq("id", "facilities", "restrictions", "activities"))
    val r = out.head
    assert(r.getAs[String]("facilities") == "x")
    assert(r.isNullAt(2) && r.isNullAt(3))
  }

  test("readJsonDocs parses one whole-file nested parks-style document per file") {
    // the reference's ingestion shape: a pretty-printed nested JSON
    // document per file (normalize_parks_json.py:40) — unreadable as
    // JSON-lines, one row via multiLine whole-file parsing.
    val dir = Files.createTempDirectory("jsondocs")
    Files.writeString(dir.resolve("park1.json"),
      """{
        |  "name": "Riverside Park",
        |  "location": { "city": "Springfield", "zip": "12345" },
        |  "facilities": ["restrooms", "picnic tables"],
        |  "details": { "hours": { "open": "06:00", "close": "22:00" } }
        |}""".stripMargin)
    Files.writeString(dir.resolve("park2.json"),
      """{
        |  "name": "Hilltop Park",
        |  "location": { "city": "Shelbyville", "zip": "67890" },
        |  "facilities": ["dog run"],
        |  "details": { "hours": { "open": "08:00", "close": "20:00" } }
        |}""".stripMargin)
    val docs = Sinks.readJsonDocs(spark, dir.toString)
    assert(docs.count() == 2)
    // nested structs arrive typed, ready for the reference flatten
    val flat = operators.JsonFlatten.flatten(docs).orderBy("name")
    assert(flat.columns.contains("location.city"))
    assert(flat.columns.contains("details.hours.open"))
    val r = flat.collect()
    assert(r(1).getAs[String]("name") == "Riverside Park")
    assert(r(1).getAs[String]("location.city") == "Springfield")
    assert(r(1).getAs[String]("facilities") == "restrooms, picnic tables")
    assert(r(0).getAs[String]("details.hours.close") == "20:00")
  }

  test("readJsonDocs with explicit schema skips inference (top-level array form)") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("jsonarr")
    Files.writeString(dir.resolve("parks.json"),
      """[
        |  { "name": "A", "rating": 4 },
        |  { "name": "B", "rating": 5 }
        |]""".stripMargin)
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("rating", LongType)))
    val docs = Sinks.readJsonDocs(spark, dir.toString, Some(schema))
    assert(docs.schema == schema)
    assert(docs.orderBy("name").collect().map(_.getAs[Long]("rating")).toSeq == Seq(4L, 5L))
  }

  test("qa extract written as TSV is valid (reference output format)") {
    val qa = operators.Etl.etlQaExtract(spark, sf)
    val path = tmp("qatsv")
    Sinks.writeTsv(qa, path, singleFile = true)
    val back = Sinks.readTsv(spark, path)
    assert(back.count() == qa.count())
  }

  test("compact: many small files collapse to the byte-sized target, content identical") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val path = tmp("compact")
    docs.repartition(64).write.parquet(path)
    def files(p: String) = new java.io.File(p).listFiles
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files(path) == 64)
    val n = Sinks.compact(spark, path, targetFileBytes = 1L << 30)
    assert(n == 1 && files(path) == 1)
    val back = spark.read.parquet(path)
    assert(back.orderBy("doc_id").collect().map(_.toString).toSeq ==
      docs.orderBy("doc_id").collect().map(_.toString).toSeq)
  }

  test("compact with sortCol: files are range-disjoint (min/max pruning preserved)") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val path = tmp("compactsort")
    docs.repartition(32).write.parquet(path)
    // tiny target forces multiple output files even at spec scale
    val n = Sinks.compact(spark, path, targetFileBytes = 16L << 10, sortCol = Some("doc_id"))
    assert(n >= 2, s"expected a multi-file compaction, got $n")
    // per-file id ranges must not overlap: range partitioning on the
    // sort column is what keeps file-level min/max skipping effective
    val ranges = new java.io.File(path).listFiles
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map { f =>
        val ids = spark.read.parquet(f.getAbsolutePath).agg(
          min(col("doc_id")), max(col("doc_id"))).head
        (ids.getLong(0), ids.getLong(1))
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges")
      case _ =>
    }
    assert(spark.read.parquet(path).count() == docs.count())
  }

  test("upsert: updates win, inserts append, untouched partitions' files are not rewritten") {
    import spark.implicits._
    val path = tmp("upsert")
    val base = Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p3"))
      .toDF("id", "v", "part")
    val created = Sinks.upsert(spark, path, base, "id", "part")
    assert(created == 3)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(p: String): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(path, s"part=$p"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val p3Before = partFiles("p3")
    // update id=2 (partition p1), insert id=5 into p2; p3 untouched
    val batch = Seq((2L, "B2", "p1"), (5L, "e", "p2")).toDF("id", "v", "part")
    val touched = Sinks.upsert(spark, path, batch, "id", "part")
    assert(touched == 2)
    val after = spark.read.parquet(path).as[(Long, String, String)].collect().toSet
    assert(after == Set((1L, "a", "p1"), (2L, "B2", "p1"), (3L, "c", "p2"),
      (5L, "e", "p2"), (4L, "d", "p3")))
    assert(partFiles("p3") == p3Before, "untouched partition must keep its exact files")
  }

  test("upsert contracts: null partition rejected; key is partition-scoped (no global move)") {
    import spark.implicits._
    val path = tmp("upsertedge")
    val base = Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "v", "part")
    Sinks.upsert(spark, path, base, "id", "part")
    // null partition value must fail loudly, not silently drop rows
    val nullBatch = Seq((3L, "c", null.asInstanceOf[String])).toDF("id", "v", "part")
    intercept[IllegalArgumentException] {
      Sinks.upsert(spark, path, nullBatch, "id", "part")
    }
    // Hudi non-global-index semantics: same key under a NEW partition
    // is an insert there; the old partition's row stays (the caller
    // expresses a key move as delete + insert)
    Sinks.upsert(spark, path, Seq((1L, "a2", "p2")).toDF("id", "v", "part"), "id", "part")
    val after = spark.read.parquet(path).as[(Long, String, String)].collect().toSet
    assert(after == Set((1L, "a", "p1"), (1L, "a2", "p2"), (2L, "b", "p2")))
  }

  test("upsert: multi-partition batch — key updated in p2 must not delete its namesake in p1") {
    import spark.implicits._
    val path = tmp("upsertxpart")
    // key 1 exists in BOTH p1 and p2 (partition-scoped keys allow this)
    val base = Seq((1L, "a-p1", "p1"), (1L, "a-p2", "p2"), (2L, "b", "p1"))
      .toDF("id", "v", "part")
    Sinks.upsert(spark, path, base, "id", "part")
    // one batch touches p1 (key 2) AND p2 (key 1): both partitions are
    // rewritten, but key 1's p1 row is NOT an update target and must survive
    val batch = Seq((1L, "A-p2", "p2"), (2L, "B", "p1")).toDF("id", "v", "part")
    Sinks.upsert(spark, path, batch, "id", "part")
    val after = spark.read.parquet(path).as[(Long, String, String)].collect().toSet
    assert(after == Set((1L, "a-p1", "p1"), (1L, "A-p2", "p2"), (2L, "B", "p1")))
  }

  test("upsert: duplicate (key, partition) rows in one batch are rejected loudly") {
    import spark.implicits._
    val path = tmp("upsertdup")
    Sinks.upsert(spark, path, Seq((1L, "a", "p1")).toDF("id", "v", "part"), "id", "part")
    val dupBatch = Seq((1L, "x", "p1"), (1L, "y", "p1")).toDF("id", "v", "part")
    intercept[IllegalArgumentException] {
      Sinks.upsert(spark, path, dupBatch, "id", "part")
    }
    // duplicate keys in DIFFERENT partitions are fine (partition-scoped)
    Sinks.upsert(spark, path,
      Seq((2L, "x", "p1"), (2L, "y", "p2")).toDF("id", "v", "part"), "id", "part")
    assert(spark.read.parquet(path).count() == 3)
  }

  test("upsert: many-partition batch takes the broadcast semi-join prune path") {
    import spark.implicits._
    val path = tmp("upsertmany")
    val base = (1 to 6).map(i => (i.toLong, s"v$i", s"p$i")).toDF("id", "v", "part")
    Sinks.upsert(spark, path, base, "id", "part")
    // 4 distinct partitions > isInPruneMax=2 → semi-join prune; p5/p6 untouched
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(p: String): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(path, s"part=$p"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val p5Before = partFiles("p5")
    val batch = (1 to 4).map(i => (i.toLong, s"V$i", s"p$i")).toDF("id", "v", "part")
    val touched = Sinks.upsert(spark, path, batch, "id", "part", isInPruneMax = 2)
    assert(touched == 4)
    val after = spark.read.parquet(path).as[(Long, String, String)].collect().toSet
    assert(after == ((1 to 4).map(i => (i.toLong, s"V$i", s"p$i")).toSet ++
      Set((5L, "v5", "p5"), (6L, "v6", "p6"))))
    assert(partFiles("p5") == p5Before, "unpruned partition must keep its exact files")
  }

  test("streaming upsert: epochs merge into the table, untouched partitions preserved") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = tmp("streamupsert")
    val ckpt = tmp("streamupsert_ckpt")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(p: String): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(path, s"part=$p"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.getName -> st.getModificationTime).toMap

    val stream = MemoryStream[(Long, String, String)]
    stream.addData((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
    val q1 = graft.streaming.Streams.upsertSink(
      stream.toDF().toDF("id", "v", "part"), path, "id", "part", ckpt)
    try q1.awaitTermination() finally q1.stop()
    val p2Before = partFiles("p2")

    stream.addData((1L, "A1", "p1"), (4L, "d", "p3"))
    val q2 = graft.streaming.Streams.upsertSink(
      stream.toDF().toDF("id", "v", "part"), path, "id", "part", ckpt)
    try q2.awaitTermination() finally q2.stop()

    val after = spark.read.parquet(path).as[(Long, String, String)].collect().toSet
    assert(after == Set((1L, "A1", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p3")))
    assert(partFiles("p2") == p2Before, "partition p2 untouched by the second epoch")
  }

  test("versioned CDC apply: tombstones delete keys, history time-travels, emptied partitions vanish") {
    import spark.implicits._
    import graft.sources.Versioned
    val path = tmp("versioned-cdc")
    val v0 = Versioned.applyCdc(spark, path,
      Seq[(Long, String, String, String)](
        (1L, "a", "p1", "upsert"), (2L, "b", "p1", "upsert"), (3L, "c", "p2", "upsert"))
        .toDF("id", "v", "part", "op"),
      "id", "part", "op")
    assert(v0 == 0)
    // epoch 1: update key 1, tombstone key 2, insert key 4 into a new partition
    val v1 = Versioned.applyCdc(spark, path,
      Seq[(Long, String, String, String)](
        (1L, "A", "p1", "upsert"), (2L, null, "p1", "delete"), (4L, "d", "p3", "upsert"))
        .toDF("id", "v", "part", "op"),
      "id", "part", "op")
    assert(v1 == 1)
    // epoch 2: tombstone p2's only key — the whole partition must drop
    val v2 = Versioned.applyCdc(spark, path,
      Seq[(Long, String, String, String)]((3L, null, "p2", "delete"))
        .toDF("id", "v", "part", "op"),
      "id", "part", "op")
    assert(v2 == 2)
    def snap(v: Int) = Versioned.snapshot(spark, path, v)
      .select(col("id"), col("v"), col("part"))
      .as[(Long, String, String)].collect().toSet
    assert(snap(0) == Set((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2")))
    assert(snap(1) == Set((1L, "A", "p1"), (3L, "c", "p2"), (4L, "d", "p3")))
    assert(snap(2) == Set((1L, "A", "p1"), (4L, "d", "p3")))
    // tombstones never write data rows, and the emptied partition has
    // no files at all in the final manifest
    val files2 = Versioned.manifestFiles(spark, path, 2)
    assert(!files2.exists(_.startsWith("part=p2")), files2.toString)
    // deletes are partition-scoped: a delete aimed at p1 must not
    // touch the same key living in another partition
    val v3 = Versioned.applyCdc(spark, path,
      Seq[(Long, String, String, String)](
        (4L, "d4", "p1", "upsert")).toDF("id", "v", "part", "op"),
      "id", "part", "op")
    val v4 = Versioned.applyCdc(spark, path,
      Seq[(Long, String, String, String)](
        (4L, null, "p1", "delete")).toDF("id", "v", "part", "op"),
      "id", "part", "op")
    assert(v3 == 3 && v4 == 4)
    assert(Versioned.snapshot(spark, path).select(col("id"), col("v"), col("part"))
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "A", "p1"), (4L, "d", "p3")),
      "p3's key-4 row must survive a p1-scoped delete of key 4")
    // snapshot diff classifies the CDC history per (key, partition)
    def d(a: Int, b: Int) = Versioned.diff(spark, path, a, b, "id", "part")
      .as[(Long, String, String)].collect().toSet
    assert(d(0, 1) == Set((1L, "p1", "update"), (2L, "p1", "delete"),
      (4L, "p3", "insert")))
    assert(d(1, 2) == Set((3L, "p2", "delete")))
    // v2 and v4 hold identical contents (key 4 came and went in p1)
    assert(d(2, 4) == Set.empty)
    assert(d(0, 0) == Set.empty)
  }

  test("versioned schema evolution: add-column upsert widens, old snapshots keep their shape, conflicts rejected") {
    import spark.implicits._
    import graft.sources.Versioned
    val path = tmp("versioned-evo")
    val v0 = Versioned.upsert(spark, path,
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2")).toDF("id", "v", "part"),
      "id", "part")
    assert(v0 == 0)
    // v1: the batch ADDS a `score` column while updating key 2 (p1
    // only — p2's files are carried over with the OLD schema)
    val v1 = Versioned.upsert(spark, path,
      Seq((2L, "B", 0.9, "p1")).toDF("id", "v", "score", "part"), "id", "part")
    assert(v1 == 1)
    // latest snapshot: widened schema; pre-widening rows (carried p2
    // file AND the rewritten p1 survivors) read score as NULL
    val s1 = Versioned.snapshot(spark, path, v1)
    assert(s1.columns.contains("score"))
    val rows = s1.select(col("id"), col("v"), col("score"), col("part"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3))).toSet
    assert(rows == Set(
      (1L, "a", None, "p1"), (2L, "B", Some(0.9), "p1"), (3L, "c", None, "p2")))
    // snapshot BEFORE the widening keeps the original shape
    assert(!Versioned.snapshot(spark, path, v0).columns.contains("score"))
    // a later batch WITHOUT the added column is rejected (evolution
    // only adds; silently nulling an existing column is data loss)
    intercept[IllegalArgumentException] {
      Versioned.upsert(spark, path,
        Seq((5L, "e", "p1")).toDF("id", "v", "part"), "id", "part")
    }
    // a type conflict on an existing column is rejected loudly, even
    // when the conflicting column lives only in UNTOUCHED partitions'
    // files (the check runs against the full snapshot schema)
    intercept[IllegalArgumentException] {
      Versioned.upsert(spark, path,
        Seq((6L, "f", "high", "p3")).toDF("id", "v", "score", "part"), "id", "part")
    }
    // the widened table keeps evolving: CDC over it works and a
    // second add-column round composes
    val v2 = Versioned.applyCdc(spark, path,
      Seq((3L, Option("C"), Option(0.1), "p2", "upsert"),
          (1L, Option.empty[String], Option.empty[Double], "p1", "delete"))
        .toDF("id", "v", "score", "part", "op"),
      "id", "part", "op")
    val s2 = Versioned.snapshot(spark, path, v2)
      .select(col("id"), col("v"), col("score"), col("part"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3))).toSet
    assert(s2 == Set((2L, "B", Some(0.9), "p1"), (3L, "C", Some(0.1), "p2")))
    // diff across the schema boundary still classifies correctly
    // (null-dropping JSON payload hashes make pre/post-widening rows
    // with no score compare equal)
    val changes = Versioned.diff(spark, path, v0, v1, "id", "part")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(changes == Set((2L, "update")))
  }

  test("versioned restore: rollback is a new commit, zero data IO, re-restorable") {
    import spark.implicits._
    import graft.sources.Versioned
    val path = tmp("versioned-restore")
    val v0 = Versioned.upsert(spark, path,
      Seq((1L, "a", "p1"), (2L, "b", "p1")).toDF("id", "v", "part"), "id", "part")
    val v1 = Versioned.upsert(spark, path,
      Seq((2L, "B", "p1"), (3L, "c", "p2")).toDF("id", "v", "part"), "id", "part")
    def rowsAt(v: Int) = Versioned.snapshot(spark, path, v)
      .select(col("id"), col("v"), col("part")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val before = rowsAt(v0)
    assert(before != rowsAt(v1))
    // restore to v0: new head version, same contents as v0
    val v2 = Versioned.restore(spark, path, v0)
    assert(v2 == v1 + 1)
    assert(Versioned.latestVersion(spark, path).contains(v2))
    assert(rowsAt(v2) == before)
    // the rolled-back version stays time-travelable
    assert(rowsAt(v1).contains((3L, "c", "p2")))
    // the rollback itself can be rolled back
    val v3 = Versioned.restore(spark, path, v1)
    assert(rowsAt(v3) == rowsAt(v1))
    // restoring a missing version fails loudly
    intercept[IllegalArgumentException] { Versioned.restore(spark, path, 99) }
  }

  test("versioned optimistic concurrency: interleaved disjoint writers both land; true overlap fails the loser") {
    import spark.implicits._
    import graft.sources.Versioned
    val path = tmp("versioned-occ")
    def rows() = Versioned.snapshot(spark, path)
      .select(col("id"), col("v"), col("part")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // interleave at the FIRST commit: writer A merges against an empty
    // table, writer B creates v0 (partition p2) before A commits — A
    // must lose the v0 rename, revalidate (claim p1 untouched) and
    // land as v1 carrying B's files
    var vB = -1
    val vA = Versioned.upsertWithHook(spark, path,
      Seq((1L, "a", "p1")).toDF("id", "v", "part"), "id", "part") { () =>
      vB = Versioned.upsert(spark, path,
        Seq((2L, "b", "p2")).toDF("id", "v", "part"), "id", "part")
    }
    assert(vB == 0 && vA == 1)
    assert(rows() == Set((1L, "a", "p1"), (2L, "b", "p2")))
    // interleave on an existing table, still disjoint partitions: the
    // late committer retries and neither writer's rows are lost (the
    // lost-update hole a listing-based next version left open)
    val vA2 = Versioned.upsertWithHook(spark, path,
      Seq((1L, "A", "p1")).toDF("id", "v", "part"), "id", "part") { () =>
      Versioned.upsert(spark, path,
        Seq((2L, "B", "p2")).toDF("id", "v", "part"), "id", "part")
    }
    assert(vA2 == 3)
    assert(rows() == Set((1L, "A", "p1"), (2L, "B", "p2")))
    // the interleaved history stays time-travelable: v2 is B's commit,
    // which still reads A's first-round p1 row
    assert(Versioned.snapshot(spark, path, 2)
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "B")))
    // TRUE conflict: the interleaved commit rewrites the SAME
    // partition the late writer merged against — its merge output is
    // stale, so it must fail loudly and the winner's state must hold
    intercept[java.util.ConcurrentModificationException] {
      Versioned.upsertWithHook(spark, path,
        Seq((1L, "stale", "p1")).toDF("id", "v", "part"), "id", "part") { () =>
        Versioned.upsert(spark, path,
          Seq((1L, "winner", "p1")).toDF("id", "v", "part"), "id", "part")
      }
    }
    assert(Versioned.latestVersion(spark, path).contains(4))
    assert(rows() == Set((1L, "winner", "p1"), (2L, "B", "p2")))
    // a concurrent SCHEMA change is a conflict even on disjoint
    // partitions: the serial path rejects a batch missing any table
    // column, and the retry must not silently bypass that contract
    // when the widening commit interleaves
    intercept[java.util.ConcurrentModificationException] {
      Versioned.upsertWithHook(spark, path,
        Seq((1L, "old", "p1")).toDF("id", "v", "part"), "id", "part") { () =>
        Versioned.upsert(spark, path,
          Seq((2L, "B3", 0.5, "p2")).toDF("id", "v", "score", "part"),
          "id", "part")
      }
    }
    assert(Versioned.snapshot(spark, path).columns.contains("score"))
    // conflict losers must not leak data files: every parquet under the
    // table root is referenced by some manifest version (the losers'
    // moved-in files were deleted when their commit was refused)
    val referenced = Versioned.versions(spark, path)
      .flatMap(v => Versioned.manifestFiles(spark, path, v)).toSet
    val onDisk = {
      val root = new java.io.File(path)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath.stripPrefix(root.getAbsolutePath).stripPrefix("/"))
        .filterNot(_.startsWith("_graft_log")).toSet
    }
    assert(onDisk == referenced,
      s"orphan data files leaked: ${onDisk diff referenced}")
  }

  test("versioned compact: fewer files, identical contents, history intact") {
    import spark.implicits._
    import graft.sources.Versioned
    val path = tmp("versioned-compact")
    // 4-way repartitioned writes leave several files per partition
    val v0 = Versioned.upsert(spark, path,
      (1L to 40L).map(i => (i, s"v$i", s"p${i % 2}")).toDF("id", "v", "part")
        .repartition(4),
      "id", "part")
    val before = Versioned.manifestFiles(spark, path, v0)
    assert(before.count(_.startsWith("part=p0")) > 1, before.toString)
    val beforeRows = Versioned.snapshot(spark, path)
      .select(col("id"), col("v"), col("part"))
      .as[(Long, String, String)].collect().toSet
    val v1 = Versioned.compact(spark, path, "part")
    assert(v1 == v0 + 1)
    val after = Versioned.manifestFiles(spark, path, v1)
    assert(after.count(_.startsWith("part=p0")) == 1, after.toString)
    assert(after.count(_.startsWith("part=p1")) == 1, after.toString)
    assert(Versioned.snapshot(spark, path)
      .select(col("id"), col("v"), col("part"))
      .as[(Long, String, String)].collect().toSet == beforeRows)
    // pre-compaction version still readable with its original files
    assert(Versioned.snapshot(spark, path, v0)
      .select(col("id"), col("v"), col("part"))
      .as[(Long, String, String)].collect().toSet == beforeRows)
    // idempotent: nothing left to compact → no new version
    assert(Versioned.compact(spark, path, "part") == v1)
  }

  test("versioned compact vs concurrent upsert: disjoint merges, overlap conflicts, restore always conflicts") {
    import spark.implicits._
    import graft.sources.Versioned
    val path = tmp("versioned-maint-occ")
    // two multi-file partitions plus a single-file one
    val v0 = Versioned.upsert(spark, path,
      (1L to 40L).map(i => (i, s"v$i", s"p${i % 2}")).toDF("id", "v", "part")
        .repartition(4), "id", "part")
    val v1 = Versioned.upsert(spark, path,
      Seq((100L, "x", "p9")).toDF("id", "v", "part"), "id", "part")
    def rows() = Versioned.snapshot(spark, path)
      .select(col("id"), col("v"), col("part"))
      .as[(Long, String, String)].collect().toSet
    val base = rows()
    // DISJOINT: an upsert into p9 (one file, never compacted) lands
    // between compact's rewrite and its commit — compact retries
    // against the new head and BOTH changes survive (the listing-based
    // next the old path used would have silently dropped the upsert's
    // p9 file from compact's manifest)
    var vMid = -1
    val vC = Versioned.compactWithHook(spark, path, "part") { () =>
      vMid = Versioned.upsert(spark, path,
        Seq((101L, "y", "p9")).toDF("id", "v", "part"), "id", "part")
    }
    assert(vMid == v1 + 1 && vC == vMid + 1)
    assert(rows() == base + ((101L, "y", "p9")))
    // the compacted partitions really compacted
    val after = Versioned.manifestFiles(spark, path, vC)
    assert(after.count(_.startsWith("part=p0")) == 1, after.toString)
    assert(after.count(_.startsWith("part=p1")) == 1, after.toString)
    // OVERLAP: a commit into a partition being compacted makes the
    // compaction's rewritten files stale → loud conflict, winner holds.
    // First fragment p0/p1 again so the compaction claims them.
    Versioned.upsert(spark, path,
      (200L to 239L).map(i => (i, "m", s"p${i % 2}")).toDF("id", "v", "part")
        .repartition(4), "id", "part")
    val vBefore = Versioned.latestVersion(spark, path).get
    assert(Versioned.manifestFiles(spark, path, vBefore)
      .count(_.startsWith("part=p1")) > 1)
    intercept[java.util.ConcurrentModificationException] {
      Versioned.compactWithHook(spark, path, "part") { () =>
        Versioned.upsert(spark, path,
          Seq((1L, "winner", "p1")).toDF("id", "v", "part"), "id", "part")
      }
    }
    assert(Versioned.latestVersion(spark, path).contains(vBefore + 1))
    assert(rows().contains((1L, "winner", "p1")))
    // RESTORE always conflicts with an interleaved commit (Delta's
    // rule): rolling back to v0 computed before an interleaved upsert
    // and applied after it would silently wipe that upsert
    intercept[java.util.ConcurrentModificationException] {
      Versioned.restoreWithHook(spark, path, v0) { () =>
        Versioned.upsert(spark, path,
          Seq((102L, "z", "p9")).toDF("id", "v", "part"), "id", "part")
      }
    }
    assert(rows().contains((102L, "z", "p9")))
    // an uncontended restore still works through the pinned path
    val snapshotAtV0 = Versioned.snapshot(spark, path, v0)
      .select(col("id"), col("v"), col("part"))
      .as[(Long, String, String)].collect().toSet
    Versioned.restore(spark, path, v0)
    assert(rows() == snapshotAtV0)
    // no orphans: every parquet on disk is referenced by some manifest
    // (the conflicted compaction deleted its rewritten files)
    val referenced = Versioned.versions(spark, path)
      .flatMap(v => Versioned.manifestFiles(spark, path, v)).toSet
    val onDisk = {
      val root = new java.io.File(path)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath.stripPrefix(root.getAbsolutePath).stripPrefix("/"))
        .filterNot(_.startsWith("_graft_log")).toSet
    }
    assert(onDisk == referenced,
      s"orphan data files leaked: ${onDisk diff referenced}")
  }

  test("versioned table: snapshots time-travel, untouched partitions share files, vacuum retires") {
    import spark.implicits._
    import graft.sources.Versioned
    val path = tmp("versioned")
    // v0
    val v0 = Versioned.upsert(spark, path,
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2")).toDF("id", "v", "part"),
      "id", "part")
    assert(v0 == 0)
    // v1: update key 2 in p1; p2 untouched
    val v1 = Versioned.upsert(spark, path,
      Seq((2L, "B", "p1")).toDF("id", "v", "part"), "id", "part")
    assert(v1 == 1)
    // v2: insert key 4 into p2; p1 untouched
    val v2 = Versioned.upsert(spark, path,
      Seq((4L, "d", "p2")).toDF("id", "v", "part"), "id", "part")
    assert(v2 == 2)
    def snap(v: Int) = Versioned.snapshot(spark, path, v)
      .select(col("id"), col("v"), col("part"))
      .as[(Long, String, String)].collect().toSet
    assert(snap(0) == Set((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2")))
    assert(snap(1) == Set((1L, "a", "p1"), (2L, "B", "p1"), (3L, "c", "p2")))
    assert(snap(2) == Set((1L, "a", "p1"), (2L, "B", "p1"), (3L, "c", "p2"), (4L, "d", "p2")))
    // latest == v2
    assert(Versioned.snapshot(spark, path)
      .as[(Long, String, String)].collect().toSet == snap(2))
    // file-level CoW: v1 carried p2's files forward unchanged, and
    // v2 carried v1's p1 files forward unchanged
    def files(v: Int) = Versioned.manifestFiles(spark, path, v)
    assert(files(0).filter(_.startsWith("part=p2")).toSet ==
      files(1).filter(_.startsWith("part=p2")).toSet)
    assert(files(1).filter(_.startsWith("part=p1")).toSet ==
      files(2).filter(_.startsWith("part=p1")).toSet)
    // old generations remain readable until vacuumed
    val deleted = Versioned.vacuum(spark, path, keepVersions = 1)
    assert(deleted > 0)
    assert(Versioned.versions(spark, path) == Seq(2))
    assert(Versioned.snapshot(spark, path)
      .as[(Long, String, String)].collect().toSet == snap(2))
    intercept[IllegalArgumentException] { Versioned.snapshot(spark, path, 0) }
    // contracts shared with Sinks.upsert
    intercept[IllegalArgumentException] {
      Versioned.upsert(spark, path,
        Seq((9L, "x", null.asInstanceOf[String])).toDF("id", "v", "part"), "id", "part")
    }
    intercept[IllegalArgumentException] {
      Versioned.upsert(spark, path,
        Seq((9L, "x", "p1"), (9L, "y", "p1")).toDF("id", "v", "part"), "id", "part")
    }
    // malformed CDC ops (null or junk) are rejected, not treated as
    // deletes: `op =!= "delete"` is NULL for a NULL op, so without the
    // guard the row would silently remove its existing key
    intercept[IllegalArgumentException] {
      Versioned.applyCdc(spark, path,
        Seq((1L, "z", "p1", null.asInstanceOf[String])).toDF("id", "v", "part", "op"),
        "id", "part", "op")
    }
    intercept[IllegalArgumentException] {
      Versioned.applyCdc(spark, path,
        Seq((1L, "z", "p1", "tombstone")).toDF("id", "v", "part", "op"),
        "id", "part", "op")
    }
  }

  test("versioned data skipping: manifest min/max stats prune files, stats-less entries kept") {
    import spark.implicits._
    import graft.sources.Versioned
    val path = tmp("versioned-skip")
    // v0: two partitions with disjoint key ranges → per-file stats
    val v0 = Versioned.upsert(spark, path,
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (100L, "c", "p2"), (200L, "d", "p2"))
        .toDF("id", "v", "part"), "id", "part")
    val e0 = Versioned.manifestEntries(spark, path, v0)
    assert(e0.nonEmpty && e0.forall(_.statsCol.contains("id")), s"all files carry id stats: $e0")
    val p1 = e0.filter(_.path.startsWith("part=p1"))
    assert(p1.map(_.min.get).min == 1L && p1.map(_.max.get).max == 2L)
    // manifest line round-trip (render → parse) is lossless
    e0.foreach(e => assert(Versioned.FileEntry.parse(e.render) == e))

    // the pruned read is semantically identical to snapshot + filter...
    def rng(lo: Long, hi: Long) =
      Versioned.snapshotRange(spark, path, "id", lo, hi)
        .select(col("id"), col("v"), col("part")).as[(Long, String, String)].collect().toSet
    def full(lo: Long, hi: Long) =
      Versioned.snapshot(spark, path).filter(col("id").between(lo, hi))
        .select(col("id"), col("v"), col("part")).as[(Long, String, String)].collect().toSet
    for ((lo, hi) <- Seq((1L, 2L), (2L, 100L), (0L, 500L), (50L, 60L), (200L, 200L)))
      assert(rng(lo, hi) == full(lo, hi), s"range [$lo,$hi]")
    // ...while actually skipping non-intersecting files driver-side
    assert(Versioned.pruneEntries(e0, "id", 1L, 2L).forall(_.path.startsWith("part=p1")))
    assert(Versioned.pruneEntries(e0, "id", 50L, 60L).isEmpty)
    // inclusive boundaries: a file's exact min/max still intersects
    assert(Versioned.pruneEntries(e0, "id", 2L, 2L).nonEmpty)
    // stats on a DIFFERENT column never prune
    assert(Versioned.pruneEntries(e0, "v", 50L, 60L).size == e0.size)
    // empty prune result still yields the right (empty) frame + schema
    assert(Versioned.snapshotRange(spark, path, "id", 50L, 60L).count() == 0)
    assert(Versioned.snapshotRange(spark, path, "id", 50L, 60L).columns.contains("v"))

    // a pre-stats manifest line (bare path) parses stats-less and is kept
    val legacy = Versioned.FileEntry.parse("part=p9/old-file.parquet")
    assert(legacy == Versioned.FileEntry("part=p9/old-file.parquet", None, None, None))
    assert(Versioned.pruneEntries(Seq(legacy), "id", 50L, 60L) == Seq(legacy))

    // v1: upsert touching only p1 — p2's carried entries KEEP their stats
    val v1 = Versioned.upsert(spark, path,
      Seq((3L, "e", "p1")).toDF("id", "v", "part"), "id", "part")
    val e1 = Versioned.manifestEntries(spark, path, v1)
    assert(e1.filter(_.path.startsWith("part=p2")).toSet == e0.filter(_.path.startsWith("part=p2")).toSet)
    assert(e1.filter(_.path.startsWith("part=p1")).forall(_.statsCol.contains("id")))
    assert(rng(1L, 3L) == full(1L, 3L))

    // compact inherits the tracked stats column onto the rewritten files
    val v2 = Versioned.compact(spark, path, "part")
    assert(v2 > v1)
    val e2 = Versioned.manifestEntries(spark, path, v2)
    assert(e2.forall(_.statsCol.contains("id")), s"compacted files re-stat: $e2")
    val p1c = e2.filter(_.path.startsWith("part=p1"))
    assert(p1c.map(_.min.get).min == 1L && p1c.map(_.max.get).max == 3L)
    assert(rng(0L, 500L) == full(0L, 500L))

    // a string-keyed table records no stats and still reads correctly
    val spath = tmp("versioned-skip-str")
    Versioned.upsert(spark, spath,
      Seq(("k1", 10L, "p1"), ("k2", 20L, "p2")).toDF("k", "n", "part"), "k", "part")
    val se = Versioned.manifestEntries(spark, spath, 0)
    assert(se.forall(_.statsCol.isEmpty))
    assert(Versioned.snapshotRange(spark, spath, "n", 0L, 15L)
      .select(col("k")).as[String].collect().toSet == Set("k1"))

    // all-null key file: no stats, conservatively kept
    val npath = tmp("versioned-skip-null")
    Versioned.upsert(spark, npath,
      Seq((Option.empty[Long], "x", "p1")).toDF("id", "v", "part"), "id", "part")
    val ne = Versioned.manifestEntries(spark, npath, 0)
    assert(ne.forall(_.statsCol.isEmpty))
    assert(Versioned.pruneEntries(ne, "id", 0L, 9L) == ne)

    // unreadable footer: logged fallback to a stats-less entry, no throw
    val bad = "part=p1/corrupt.parquet"
    Files.createDirectories(Paths.get(npath, "part=p1"))
    Files.write(Paths.get(npath, bad), "not a parquet file".getBytes("UTF-8"))
    assert(Versioned.entriesWithStats(spark, npath, Seq(bad), Some("id")) ==
      Seq(Versioned.FileEntry(bad, None, None, None)))
  }

  test("per-record text sink writes one file per row and resumes idempotently") {
    import spark.implicits._
    val dir = tmp("txtsink")
    val df1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val (w1, s1) = Sinks.writeTextPerRecord(spark, df1, "doc_id", "text", dir)
    assert((w1, s1) == (3L, 0L))
    val root = new java.io.File(dir)
    assert(root.listFiles().map(_.getName).toSet == Set("1.txt", "2.txt", "3.txt"))
    assert(Files.readString(root.toPath.resolve("2.txt")) == "beta")
    // resume: existing records are skipped (contents NOT rewritten),
    // new records are written — the reference converter's
    // skip-existing re-run semantics
    Files.writeString(root.toPath.resolve("2.txt"), "edited-by-hand")
    val df2 = Seq((2L, "beta"), (3L, "gamma"), (4L, "delta")).toDF("doc_id", "text")
    val (w2, s2) = Sinks.writeTextPerRecord(spark, df2, "doc_id", "text", dir)
    assert((w2, s2) == (1L, 2L))
    assert(Files.readString(root.toPath.resolve("2.txt")) == "edited-by-hand")
    assert(Files.readString(root.toPath.resolve("4.txt")) == "delta")
    // null ids/texts drop from both counts; duplicate ids are rejected
    val (w3, s3) = Sinks.writeTextPerRecord(spark,
      Seq((Some(5L), Some("eps")), (None, Some("x")), (Some(6L), None))
        .toDF("doc_id", "text"), "doc_id", "text", dir)
    assert((w3, s3) == (1L, 0L))
    intercept[IllegalArgumentException] {
      Sinks.writeTextPerRecord(spark,
        Seq((7L, "a"), (7L, "b")).toDF("doc_id", "text"), "doc_id", "text", dir)
    }
  }

  test("verdict report sink: by-rule partitions on disk, crawls diffable in the versioned table") {
    import graft.sources.Versioned
    val report = tmp("verdict-report")
    val table = tmp("verdict-table")
    // crawl 1: the real oracle-gated keep-list verdicts
    val v1df = graft.operators.Curation.curKeepList(spark, sf)
    val v1 = Sinks.writeVerdictReport(spark, v1df, report, table)
    // 1. by-rule layout: one reason=<rule> dir per distinct verdict,
    //    contents round-trip
    val reasons = v1df.select("reason").distinct().collect().map(_.getString(0)).toSet
    val dirs = new java.io.File(report).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == reasons.map(r => s"reason=$r"))
    val back = spark.read.parquet(report)
    assert(back.count() == v1df.count())
    // partition pruning works: a single-rule read touches one partition
    val evalCount = v1df.filter(col("reason") === "eval_holdout").count()
    assert(back.filter(col("reason") === "eval_holdout").count() == evalCount)
    // 2. versioned history: crawl 2 flips some verdicts (a re-crawled
    //    page cleaned up; an ok page now contaminated)
    // doc 0 was eval_holdout (id % 20 == 0); the synthetic second
    // reason cannot collide with doc 1's crawl-1 verdict
    val flips = Map(0L -> "ok", 1L -> "recrawl_pending")
    val v2df = v1df.withColumn("reason",
        when(col("doc_id") === 0L, flips(0L))
          .when(col("doc_id") === 1L, flips(1L))
          .otherwise(col("reason")))
      .withColumn("keep", when(col("reason") === "ok", 1L).otherwise(0L))
    val v2 = Sinks.writeVerdictReport(spark, v2df, report, table)
    assert(v2 == v1 + 1)
    // the latest snapshot carries exactly ONE row per doc (the flip
    // merged in place - no stale verdict under another partition)
    val snap = Versioned.snapshot(spark, table)
    assert(snap.count() == v2df.count())
    assert(snap.filter(col("doc_id") === 0L).select("reason")
      .collect().map(_.getString(0)).toSeq == Seq("ok"))
    // time travel: crawl 1's verdict for doc 0 is intact at v1
    assert(Versioned.snapshot(spark, table, v1).filter(col("doc_id") === 0L)
      .select("reason").collect().map(_.getString(0)).toSeq
      == v1df.filter(col("doc_id") === 0L).select("reason")
        .collect().map(_.getString(0)).toSeq)
    // diff between the crawls names exactly the flipped documents
    val changed = Versioned.diff(spark, table, v1, v2, "doc_id", "shard")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(changed == flips.keySet)
  }
}
