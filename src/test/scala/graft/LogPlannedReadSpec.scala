package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.GraftFileShim
import org.apache.spark.sql.functions._
import graft.ingest.{ConsumeJob, ProduceJob, Snapshots, Topics}

/** Reads and commits planned from the snapshot log: footer stats are
  * read once per committed file through one shared reader, and a
  * snapshot scan is a parquet relation over the log's file list — no
  * listing job, no schema-inference job — that reads exactly what
  * `spark.read.parquet` over the same files would. */
class LogPlannedReadSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_logread").toString

  /** `commits` commits of 500 generator rows over 5 topic partitions:
    * five files a commit. */
  private def partitionedTable(root: String, prefix: String, commits: Int): Unit = {
    ProduceJob.produceBatch(spark, root, prefix, topics = 5, numMessages = 500)
    (1 until commits).foreach { i =>
      Snapshots.appendBatch(spark, root, prefix,
        ProduceJob.personProjection(spark.range(i * 500L, (i + 1) * 500L).toDF("cnt"),
          "cnt", prefix, 5),
        partitionCols = Seq("topic"))
    }
  }

  /** Every row with its file path and in-file position, order-free. */
  private def keyedRows(df: DataFrame): Seq[String] =
    df.select(col("*"), col("_metadata.file_path").as("_fp"),
        col("_metadata.row_index").as("_ri"))
      .collect().map(_.toString).toSeq.sorted

  /** The log-planned relation over `rels` (relative to `base`) equals
    * `spark.read.option("basePath", base).parquet(files)` in schema,
    * rows, file paths and row positions. */
  private def assertSameAsSparkRead(base: String, rels: Seq[String]): Unit = {
    val paths = rels.map(r => s"$base/$r")
    val ours = GraftFileShim.parquetFiles(spark, new Path(base), paths.map(new Path(_)),
      Snapshots.readFooter)
    val ref = spark.read.option("basePath", base).parquet(paths: _*)
    assert(ours.schema == ref.schema)
    assert(keyedRows(ours) == keyedRows(ref))
  }

  test("footer stats pin their values for every column kind") {
    import spark.implicits._
    val root = freshRoot()
    // NaN is not the first value: the writer's max becomes NaN anyway
    // (Double.compare order), and a NaN bound must yield no stat
    Snapshots.appendBatch(spark, root, "fs",
      Seq((3L, 1.5, 1.0, "b", null: String),
        (7L, -0.5, Double.NaN, "a", null: String),
        (-2L, 2.25, 2.0, "c", null: String))
        .toDF("l", "d", "dn", "s", "allnull").coalesce(1))
    val snap = Snapshots.snapshot(root, "fs").get
    assert(snap.files.size == 1)
    val got = snap.stats.map(st => (st.column, st.typ, st.min, st.max)).toSet
    assert(got == Set(
      ("_rows", "R", 3L, 3L),
      ("l", "L", -2L, 7L),
      // SortKeys.doubleKey(-0.5), doubleKey(2.25)
      ("d", "D", -4602678819172646913L, 4612248968380809216L),
      // SortKeys.stringKey("a"), stringKey("c"): 8-byte prefix keys
      ("s", "S", -2233785415175766016L, -2089670227099910144L),
      ("l", "N", 0L, 0L), ("d", "N", 0L, 0L), ("dn", "N", 0L, 0L),
      ("s", "N", 0L, 0L), ("allnull", "N", 1L, 1L)))
  }

  test("an append of k new files reads exactly k footers") {
    val root = freshRoot()
    partitionedTable(root, "fr", commits = 3)
    val before = Snapshots.snapshot(root, "fr").get.files.size
    val reads0 = Snapshots.footerReads.get()
    Snapshots.appendBatch(spark, root, "fr",
      ProduceJob.personProjection(spark.range(5000L, 5500L).toDF("cnt"), "cnt", "fr", 5),
      partitionCols = Seq("topic"))
    val reads = Snapshots.footerReads.get() - reads0
    val after = Snapshots.snapshot(root, "fr").get
    assert(after.files.size - before == 5)
    assert(reads == 5, s"$reads footer reads for 5 new files — carried stats were re-read")
    assert(after.stats.count(_.typ == "R") == after.files.size)
  }

  test("a 40-file partitioned snapshot reads without listing or schema-inference jobs") {
    val root = freshRoot()
    partitionedTable(root, "sc", commits = 8)
    val files = Snapshots.snapshot(root, "sc").get.files
    assert(files.size >= 40)
    val (df, planJobs) = jobsDuring(Snapshots.read(spark, root, "sc"))
    assert(planJobs.isEmpty, s"planning the read ran jobs: $planJobs")
    val (n, allJobs) = jobsDuring(Snapshots.read(spark, root, "sc").count())
    val (n2, scanJobs) = jobsDuring(df.count())
    assert(n == 4000 && n2 == 4000)
    assert(allJobs.size == scanJobs.size, s"read+count $allJobs vs scan alone $scanJobs")
    val (_, dsv2Jobs) = jobsDuring(
      spark.read.format("graft").load(s"$root/sc").filter(col("ba") >= 0).count())
    assert(!(allJobs ++ dsv2Jobs).exists(_.contains("Listing leaf files")), dsv2Jobs)
    // the reference read lists these 40 paths with a Spark job
    val (_, refJobs) = jobsDuring(spark.read.option("basePath", Topics.tableDir(root, "sc"))
      .parquet(files.map(f => s"${Topics.tableDir(root, "sc")}/$f"): _*))
    assert(refJobs.exists(_.contains("Listing leaf files")))
    assertSameAsSparkRead(Topics.tableDir(root, "sc"), files)
  }

  test("log-planned scans equal spark.read on evolved and deletion-vector tables") {
    val root = freshRoot()
    val base = Topics.tableDir(root, "ev")
    def rows(lo: Long) =
      ProduceJob.personProjection(spark.range(lo, lo + 300).toDF("cnt"), "cnt", "ev", 2)
    ProduceJob.produceBatch(spark, root, "ev", topics = 2, numMessages = 300)
    Snapshots.addColumn(root, "ev", "tier", "STRING", Some("'std'"))
    Snapshots.appendBatch(spark, root, "ev", rows(300).withColumn("tier", lit("gold")),
      partitionCols = Seq("topic"))
    Snapshots.renameColumn(root, "ev", "name", "full_name")
    Snapshots.appendBatch(spark, root, "ev",
      rows(600).withColumn("tier", lit("gold")).withColumnRenamed("name", "full_name"),
      partitionCols = Seq("topic"))
    Snapshots.dropColumn(root, "ev", "address")
    Snapshots.appendBatch(spark, root, "ev",
      rows(900).withColumn("tier", lit("gold")).withColumnRenamed("name", "full_name")
        .drop("address"),
      partitionCols = Seq("topic"))
    val files = Snapshots.snapshot(root, "ev").get.files
    assert(files.size == 8)
    // mixed physical schemas: the first file in path order sets it, as
    // in Spark's own inference
    assertSameAsSparkRead(base, files)
    files.grouped(2).foreach(assertSameAsSparkRead(base, _))
    assert(Snapshots.read(spark, root, "ev").columns.toSet ==
      Set("full_name", "age", "gender", "score", "ba", "key", "tier", "topic"))

    Snapshots.deleteMoR(spark, root, "ev", col("ba") < 100)
    val snap = Snapshots.snapshot(root, "ev").get
    assert(snap.dv.size == 1)
    assertSameAsSparkRead(base, snap.files)
    val dvBase = s"$root/ev._dv"
    val dvFiles = Files.list(Paths.get(dvBase, snap.dv.head)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .map(f => s"${snap.dv.head}/$f").toSeq
    assertSameAsSparkRead(dvBase, dvFiles)
    assert(Snapshots.read(spark, root, "ev").count() == 1100)
  }

  test("a consume resolves the snapshot exactly once") {
    val root = freshRoot()
    partitionedTable(root, "rc", commits = 4)
    ProduceJob.commitManifest(root, "rc", 1999)
    val o0 = Snapshots.logOpens.get()
    val snap = Snapshots.snapshot(root, "rc").get
    Snapshots.schemaEvents(root, "rc", Some(snap.version))
    val once = Snapshots.logOpens.get() - o0
    val o1 = Snapshots.logOpens.get()
    val c = ConsumeJob.consume(spark, root, "rc")
    assert(c.totalReceived == 2000)
    assert(Snapshots.logOpens.get() - o1 == once)
  }
}
