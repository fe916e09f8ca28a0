package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy; GraftSession.getOrCreate
  * reuses the same session across suites in one JVM run). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4, shufflePartitions = 8)
  val sf: String = "/root/testdata/sf0.001"

  def run(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** Build a fixture with the PRE-round-14 write layout (one file per
    * input partition): the staged-write path now sizes output files to
    * `spark.graft.write.targetFileBytes` (guide §6), which folds a
    * tiny fixture into ONE file — specs that exercise multi-file
    * behavior (manifest pruning, CoW rewrite granularity, compaction)
    * pin their layout explicitly through this instead of relying on
    * the write path staying naive. */
  /** The Spark jobs `f` starts, each named by its description (or its
    * first stage's call site when it has none). Job-start events reach
    * listeners asynchronously; a barrier job started after `f` queues
    * behind all of them, so once its event arrives the list is
    * complete. */
  def jobsDuring[T](f: => T): (T, Seq[String]) =
    jobsSeen(f)(e => Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse("")))

  /** How many of the Spark jobs `f` starts scan data files (a stage of
    * the job reads through a `FileScanRDD`); a job over materialized
    * rows scans none. */
  def fileScansDuring[T](f: => T): (T, Int) = {
    val (r, scans) = jobsSeen(f)(_.stageInfos.exists(_.rddInfos.exists(_.name == "FileScanRDD")))
    (r, scans.count(identity))
  }

  private def jobsSeen[T, J](f: => T)(pick: SparkListenerJobStart => J): (T, Seq[J]) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val id = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[J])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tag = Option(e.properties).flatMap(p => Option(p.getProperty(key))).orNull
        seen.add(tag -> Option.when(tag == id)(pick(e)))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, id)
      val r = try f finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, id + "-barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._1 == id + "-barrier") && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(seen.asScala.exists(_._1 == id + "-barrier"), "listener never saw the barrier job")
      (r, seen.asScala.collect { case (`id`, Some(j)) => j }.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  def withMultiFileWrites[T](f: => T): T = {
    val k = "spark.graft.write.targetFileBytes"
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, "1")
    try f finally prior match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }
}
