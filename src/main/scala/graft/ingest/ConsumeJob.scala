package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Consume side of the ingest layer (reference: PerformanceConsumer).
  *
  * Spark-first mapping of the reference's scan semantics:
  *  - A6 partition-expanded sequential scan: the consume plans from the
  *    topic table's snapshot log, never from a listing of its
  *    directory — one snapshot resolution, then manifest pruning keeps
  *    the committed files whose `ba` stats overlap the window
  *    (progress, watermark] (files without stats are kept); only those
  *    are scanned, one task per file split, the topic partitions
  *    expanded from their directory names. Uncommitted files (a crashed
  *    write's orphans) and files a compaction superseded are never
  *    read, and merge-on-read deletions are applied;
  *  - A7 offload-watermark gate: only rows with position ≤ the
  *    manifest's offloadedMaxPos are read — the predicate is pushed
  *    into the parquet scan, the exact analog of "read only the
  *    offloaded prefix" (PerformanceConsumer.java:204-232); a topic
  *    whose progress has already reached the watermark is skipped
  *    (the :221-232 caught-up gate, without the 10 s sleep). Producers
  *    commit the snapshot before they publish the watermark, so every
  *    position under it is in the log;
  *  - A8 position comparison: `ba` is the monotonic position (the
  *    ledger:entry composite collapses to one long here); per-topic
  *    min/max/count come from one aggregate pass;
  *  - A9 ack / progress commit: the consumed high-water mark is
  *    committed to a progress file, making re-consumption resumable
  *    (at-least-once → effectively-once on replay). A window with no
  *    rows leaves the progress untouched.
  */
object ConsumeJob {

  final case class TopicStats(topic: String, received: Long, minPos: Long, maxPos: Long,
                              distinctPos: Long)
  final case class Report(totalReceived: Long, topics: Seq[TopicStats],
                          watermark: Option[Long], skipped: Boolean)

  /** Watermark-gated scan of the committed `<root>/<prefix>` snapshot
    * with conservation counters and progress commit. */
  def consume(spark: SparkSession, root: String, prefix: String,
              posCol: String = "ba"): Report = {
    val watermark = ProduceJob.readManifest(root, prefix)
    val progress = readProgress(root, prefix)
    // caught-up gate (A7): nothing new below the watermark → skip
    if (watermark.isDefined && progress.exists(_ >= watermark.get))
      return Report(0L, Nil, watermark, skipped = true)
    val empty = Report(0L, Nil, watermark, skipped = false)

    val snap = Snapshots.snapshot(root, prefix).getOrElse(return empty)
    val events = Snapshots.schemaEvents(root, prefix, Some(snap.version))
    val window = Snapshots.StatRange.longRange(posCol,
      progress.fold(Long.MinValue)(p => if (p == Long.MaxValue) p else p + 1),
      watermark.getOrElse(Long.MaxValue))
    val files = Snapshots.pruneFilesMulti(snap, events, Seq(window))
    if (files.isEmpty) return empty

    val df = Snapshots.readFileSubset(spark, root, prefix, snap, events, files)
    val gated = watermark match {
      case Some(w) => df.filter(col(posCol) <= w) // pushed to the scan
      case None => df
    }
    val resumed = progress match {
      case Some(p) => gated.filter(col(posCol) > p) // ack-resume (A9)
      case None => gated
    }
    val stats = resumed.groupBy("topic").agg(
      count(lit(1)).as("received"),
      min(col(posCol)).as("minPos"),
      max(col(posCol)).as("maxPos"),
      countDistinct(col(posCol)).as("distinctPos"))
      .collect()
      .map(r => TopicStats(r.getAs[String]("topic"), r.getAs[Long]("received"),
        r.getAs[Long]("minPos"), r.getAs[Long]("maxPos"), r.getAs[Long]("distinctPos")))
      .sortBy(_.topic)
    if (stats.nonEmpty) commitProgress(root, prefix, stats.map(_.maxPos).max)
    Report(stats.map(_.received).sum, stats.toSeq, watermark, skipped = false)
  }

  /** Poll-loop consume analog (reference:
    * UrsaKafkaConsumerOnCloud.java:59-67): a streaming read over the
    * topic table drained via foreachBatch — each micro-batch is one
    * poll() result; per-batch key/value/partition counts accumulate
    * like the reference's running `count`. */
  def consumeForeachBatch(spark: SparkSession, root: String, prefix: String): Long = {
    val dir = Topics.tableDir(root, prefix)
    val schema = spark.read.parquet(dir).schema
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val n = batch.count()
        total.addAndGet(n)
        println(s"[consume] batch=$batchId records=$n total=${total.get()}")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir._consume_ckpt_${System.nanoTime()}")
      .start()
    q.awaitTermination()
    total.get()
  }

  def commitProgress(root: String, prefix: String, pos: Long): Unit = {
    val p = Paths.get(Topics.progressPath(root, prefix))
    Files.createDirectories(p.getParent)
    Files.writeString(p, s"""{"consumedMaxPos": $pos}""")
  }

  def readProgress(root: String, prefix: String): Option[Long] = {
    val p = Paths.get(Topics.progressPath(root, prefix))
    if (!Files.exists(p)) None
    else "-?\\d+".r.findFirstIn(Files.readString(p).replaceAll("[^-\\d]", " ")).map(_.toLong)
  }
}
