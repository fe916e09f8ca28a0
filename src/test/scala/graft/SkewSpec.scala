package graft

import org.apache.spark.sql.functions._
import graft.operators.SkewTools

/** Salted operators must be pure rewrites: identical results to the
  * unsalted forms on skewed data. */
class SkewSpec extends SparkTestBase {

  // 90% of rows on one hot key + uniform tail
  private lazy val skewed = spark.range(0, 20000).toDF("i")
    .select(when(col("i") % 10 =!= 0, 1L).otherwise(col("i") % 100).as("k"),
      col("i").as("v"))

  private lazy val dim = spark.range(0, 100).toDF("dk")
    .withColumn("label", concat(lit("d"), col("dk")))

  test("salted join equals the plain join on skewed keys") {
    val plain = skewed.join(dim, col("k") === col("dk"))
      .agg(count(lit(1)), sum("v").cast("bigint"), countDistinct("label")).head()
    val salted = SkewTools.saltedJoin(skewed, dim, "k", "dk", salts = 8)
      .agg(count(lit(1)), sum("v").cast("bigint"), countDistinct("label")).head()
    assert(salted == plain)
  }

  test("salted distinct count equals countDistinct per key") {
    val plain = skewed.groupBy("k")
      .agg(countDistinct("v").as("n_distinct"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = SkewTools.saltedDistinctCount(skewed, "k", "v", salts = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("salting splits the hot key across all salt partitions") {
    val perSalt = skewed.filter(col("k") === 1L)
      .withColumn("_salt", SkewTools.salt(monotonically_increasing_id(), 8))
      .groupBy("_salt").count().collect()
    assert(perSalt.length == 8) // every salt bucket receives hot-key rows
  }

  test("AQE skew-split fires on a deliberately hot key at sf1 volume") {
    // sf1 fixtures are built by tools/scale_up.py (10× FK-consistent
    // replication of sf0.1) — skip, not fail, when absent
    assume(new java.io.File("/tmp/graft_sf1/lineitem.parquet").isFile,
      "sf1 fixtures not built (tools/scale_up.py)")
    val confs = Seq(
      // production thresholds are 256 MB; scaled down in proportion to
      // the fixture so the SAME mechanism (split when partition bytes
      // exceed max(threshold, factor × median)) is exercised, not a
      // special-cased code path. Factor 2 (not the default 5) because
      // the hot partition's constant join key compresses far better
      // than the uniform tail's, shrinking the byte-space ratio the
      // splitter sees.
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // half of 6M lineitem rows collapse onto key 0 — one shuffle
      // partition far past both the byte threshold and 5× the median
      val fact = spark.read.parquet("/tmp/graft_sf1/lineitem.parquet")
        .select(when(col("l_orderkey") % 2 === 0, 0L)
          .otherwise(col("l_orderkey")).as("k"), col("l_quantity").as("q"))
      // dim keys unique BY CONSTRUCTION (odd orderkeys + the hot 0) —
      // a distinct() here would leave a HashAggregate between the
      // join's Sort and its shuffle stage, and OptimizeSkewedJoin only
      // matches Sort-over-ShuffleQueryStage children (it re-reads
      // shuffle partitions; it cannot re-execute a post-shuffle agg)
      val dim = spark.read.parquet("/tmp/graft_sf1/orders.parquet")
        .filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").as("dk"))
        .unionAll(spark.range(1).select(lit(0L).as("dk")))
      val joined = fact.join(dim, col("k") === col("dk"))
        .agg(count(lit(1)).as("cnt"), sum("q").cast("bigint").as("sq"))
      // collect() (not head(): head wraps a separate limited plan)
      // so joined's OWN adaptive plan finalizes and can be inspected
      val row = joined.collect().head
      assert(row.getLong(0) == 6000000L) // every fact row matched exactly once
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(4000))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("spreadForCompute probes only exchange-free plans") {
    // an exchange under the frame: the probe would materialize it (AQE)
    // and the spread frame would run it again — no job at probe time
    val agg = skewed.groupBy("k").agg(sum("v").as("s"))
    val (out, jobs) = jobsDuring(SkewTools.spreadForCompute(agg))
    assert(jobs.isEmpty, s"probe ran $jobs")
    assert(out eq agg)
    // a one-partition scan-shaped frame is still spread over the cores
    val narrow = spark.range(0, 1000, 1, 1).toDF("i").filter(col("i") % 2 === 0)
    assert(SkewTools.spreadForCompute(narrow).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }
}
