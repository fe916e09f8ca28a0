package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSV review ingest (reference: AmazonReviewProducer).
  *
  * Parses quoted CSV lines into (polarity, title, text) with the
  * reference's rules — split on commas outside quotes, strip
  * surrounding quotes (AmazonReviewProducer.java:143-154) — and lands
  * them in a topic table, reporting the same (total, failed) summary
  * the reference logs (:133-134). Lines that don't yield all three
  * fields count as failed (the reference's array-length guard :112).
  *
  * Spark-first: the parse is `spark.read.csv` with quote handling —
  * schema-at-the-edge, typed table inside. The two-pass
  * count-then-send of the reference collapses into one distributed
  * pass; conservation comes from the write-side commit, not a latch:
  * the rows land as one snapshot commit, and the watermark follows it. */
object AmazonIngest {

  def parse(spark: SparkSession, file: String): DataFrame =
    spark.read
      .schema("polarity STRING, title STRING, text STRING")
      .option("quote", "\"")
      .option("mode", "PERMISSIVE")
      .csv(file)

  final case class Report(totalSent: Long, failedSent: Long)

  /** Parse + land into `<root>/<prefix>`; failed = rows missing any
    * of the three fields.
    *
    * Rows carry a monotonic `ba` position (the topic tables' position
    * column — ConsumeJob's watermark gate filters on it), continued
    * from the table's current max so repeated appends keep the
    * watermark cumulative. The single-partition row_number is fine
    * here: this is edge ingest of one CLI-supplied file, not a
    * corpus-scale path. */
  def ingest(spark: SparkSession, file: String, root: String, prefix: String,
             codec: String = "none"): Report = {
    import org.apache.spark.sql.expressions.Window
    val parsed = parse(spark, file)
    val ok = parsed.filter(
      col("polarity").isNotNull && col("title").isNotNull && col("text").isNotNull)
    val total = parsed.count()
    val good = ok.count()
    val base = ProduceJob.readManifest(root, prefix).getOrElse(-1L)
    val positioned = ok.withColumn("ba",
      row_number().over(Window.orderBy(col("polarity"), col("title"), col("text")))
        .cast("long") + lit(base))
    val added = Snapshots.writeStaged(root, prefix, positioned.withColumn("topic", lit(prefix)),
      Seq("topic"), writerOptions = Map("compression" -> codec))
    Snapshots.commitFiles(root, prefix, added, Some(base + good))
    ProduceJob.commitManifest(root, prefix, base + good)
    Report(total, total - good)
  }
}
