package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** What one materialized output looked like: its row count and an
  * order-independent checksum (the decimal sum of per-row xxhash64
  * values, so duplicates count and a long overflow cannot throw under
  * ANSI mode). */
final case class Output(rows: Long, checksum: String)

/** Expected output of one statement. `checksum` is None for a
  * statement whose output is not bit-stable: only its row count is
  * checked. */
final case class Expected(rows: Long, checksum: Option[String])

object Checks {

  /** Materialize `df` into the `noop` sink, observing its row count and
    * checksum on the same execution. */
  def save(df: DataFrame): Observation = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"),
        coalesce(sum(xxhash64(col("*")).cast("decimal(20,0)")), lit(0).cast("decimal(30,0)")).as("checksum"))
      .write.format("noop").mode("overwrite").save()
    obs
  }

  /** The observed values of a [[save]]; called after the timed span. */
  def output(obs: Observation): Output = {
    val m = obs.get
    Output(m("rows").asInstanceOf[Long], m("checksum").toString)
  }

  /** Mismatch description, or None when `got` matches. */
  def mismatch(name: String, got: Output, want: Option[Expected]): Option[String] = want match {
    case None => Some(s"$name: no expected output recorded")
    case Some(e) if e.rows != got.rows => Some(s"$name: ${got.rows} rows, expected ${e.rows}")
    case Some(Expected(_, Some(sum))) if sum != got.checksum =>
      Some(s"$name: checksum ${got.checksum}, expected $sum")
    case _ => None
  }

  /** Expected-output file: one `name<TAB>rows<TAB>checksum` line per
    * statement, `-` for a checksum that is not checked; `#` starts a
    * comment. */
  def load(p: Path): Map[String, Expected] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        require(f.length == 3, s"$p: malformed line: $l")
        f(0) -> Expected(f(1).toLong, if (f(2) == "-") None else Some(f(2)))
      }.toMap

  def write(p: Path, header: String, rows: Seq[(String, Expected)]): Unit = {
    val lines = header.linesIterator.map("# " + _).toSeq ++
      rows.sortBy(_._1).map { case (n, e) => s"$n\t${e.rows}\t${e.checksum.getOrElse("-")}" }
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    ()
  }
}
