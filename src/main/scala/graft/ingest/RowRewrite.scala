package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, collect_set, count, expr, lit, max, min, when}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import Snapshots.{DvPathCol, DvPosCol, Snapshot, StatRange}

/** The row-level rewrite core. Every DML op — copy-on-write
  * [[Snapshots.delete]], [[Snapshots.updateWhere]], [[Snapshots.merge]],
  * [[Snapshots.mergeInto]] and [[Snapshots.applyChangeBatch]],
  * merge-on-read [[Snapshots.deleteMoR]] and [[Snapshots.overwriteWhere]]
  * — runs one sequence, the Delta paper's single mechanism for MERGE,
  * UPDATE and DELETE:
  *
  *  1. prune: candidate files from manifest stats ([[StatRange]]s);
  *  2. pass: one schema-filled, deletion-vector-filtered read of the
  *     candidates with row positions, on which the op computes its
  *     [[Hit]] verdict and any post-image columns beside the pre-image.
  *     The hit files are observed on the same job, and the pass is
  *     materialized when it fits the [[fits]] gate or holds only hit
  *     rows;
  *  3. attribute: hit-file URIs map back to table-relative paths;
  *  4. write: the rewrite output, the constraint input, the change
  *     records and any deletion-vector rows are selections over the
  *     pass — one staged write, one change-record write;
  *  5. commit: [[Snapshots.commitRewrite]], the one retry loop.
  *
  * An entry point contributes its hit expression and its [[Output]]. */
private[ingest] object RowRewrite {

  /** The pass column holding the op's verdict on a target row: true =
    * the op replaces or deletes it. */
  val Hit = "_graft_hit"

  /** SQL DML's null rule: a row changes only where the predicate is
    * TRUE — a NULL verdict keeps it, so attribution and survivorship
    * agree on null rows. */
  def matching(predicate: Column): Column = coalesce(predicate, lit(false))

  /** What a rewrite commits: `out` the rows of the new data files (None:
    * none), `cdc` the change records given the files `out` landed in,
    * `checked` the rows every CHECK constraint must accept before
    * anything is written, `dv` the (file, pos) rows of a deletion-vector
    * sidecar — the op then deletes by position and the hit files stay. */
  final case class Output(out: Option[DataFrame], cdc: Seq[String] => DataFrame,
                          checked: Option[DataFrame] = None,
                          dv: Option[DataFrame] = None)

  /** A pass that hit: `frame` the pass (materialized or lazy), `uris`
    * the hit files as it names them, `files` the same table-relative. */
  final case class Hits(frame: DataFrame, uris: Seq[String], files: Seq[String],
                        dataCols: Seq[String], uriPrefix: String) {
    /** The pass rows of the hit files — what a rewrite replaces. */
    lazy val rows: DataFrame = within(frame, uris)
    /** Pre-images of the hit-file rows `keep` selects. */
    def image(keep: Column): DataFrame = rows.filter(keep).select(dataCols.map(col): _*)
    /** Deletion-vector rows of the hit rows: (table-relative file, row
      * position) — the key the read path's anti join rebuilds. */
    def positions: DataFrame = rows.filter(col(Hit)).select(
      expr(s"substring($DvPathCol, ${uriPrefix.length + 1})").as("file"),
      col(DvPosCol).as("pos"))
  }

  /** Every row-level op's prologue: label the Spark jobs it issues (the
    * UI and job profilers attribute DML phases by these descriptions),
    * resolve the published head, and return it unchanged when `txn`
    * already landed — an idempotent replay. */
  def dml(spark: SparkSession, root: String, prefix: String, op: String,
          txn: Option[String])(body: Snapshot => Int): Int =
    Snapshots.labeled(spark, s"$op $prefix") {
      val snap = Snapshots.snapshot(root, prefix, None).getOrElse(
        sys.error(s"no snapshot of $prefix to $op"))
      if (txn.exists(snap.txns.contains)) snap.version else body(snap)
    }

  /** Steps 1–5 for an op whose verdict is row-local. `mark` adds [[Hit]]
    * (and any post-image columns) to the target read; `output` turns the
    * hits (None: no row hit) into what to commit (None: commit nothing,
    * keep the current version). `hitsOnly`: `mark` keeps only the hit
    * rows, so the pass is hit-scale whatever the target's size and is
    * materialized past the [[fits]] gate — one scan of the candidates
    * serves attribution, positions and change records. */
  def rewrite(spark: SparkSession, root: String, prefix: String, op: String,
              snap: Snapshot, txn: Option[String], ranges: Seq[StatRange],
              hitsOnly: Boolean = false)(
      mark: DataFrame => DataFrame)(output: Option[Hits] => Option[Output]): Int = {
    val events = Snapshots.schemaEvents(root, prefix, Some(snap.version))
    val files =
      if (ranges.isEmpty) snap.files else Snapshots.pruneFilesMulti(snap, events, ranges)
    val hits = Option.when(files.nonEmpty) {
      val target = Snapshots.readFilesFilled(spark, root, prefix, files, events,
        snap.dv, keepPositions = true)
      val marked = mark(target)
      // the hit files are observed on the job that materializes the
      // pass — zero extra actions for the attribution question. An
      // absent or empty metric is confirmed against the materialized
      // rows before it can turn the op into a no-op; above the gate the
      // pass stays lazy and one collect attributes the hits.
      val observed = marked.observe("graft_hits", collect_set(when(col(Hit), col(DvPathCol))))
      val (frame, uris) =
        if (hitsOnly || fits(target)) {
          val m = Snapshots.labeled(spark, s"$op pass $prefix")(observed.localCheckpoint(true))
          (m, observed.queryExecution.observedMetrics.get("graft_hits")
            .map(_.getSeq[String](0)).filter(_.nonEmpty).getOrElse(hitUris(spark, op, m)))
        } else (marked, hitUris(spark, op, marked))
      Hits(frame, uris.sorted, attribute(root, prefix, files, uris),
        target.columns.toSeq.filterNot(c => c == DvPathCol || c == DvPosCol),
        Snapshots.uriPrefix(root, prefix))
    }.filter(_.files.nonEmpty)
    output(hits).fold(snap.version)(
      commit(spark, root, prefix, op, snap, txn, hits.fold(Seq.empty[String])(_.files), _))
  }

  /** The distinct files of `df`'s [[Hit]] rows, as the pass names them:
    * per-partition hash sets union'd on the driver — file names are
    * metadata-scale, so a `distinct()` would only add a shuffle job. */
  def hitUris(spark: SparkSession, op: String, df: DataFrame): Seq[String] =
    Snapshots.labeled(spark, s"$op attribution")(df.filter(col(Hit)).select(col(DvPathCol))
      .queryExecution.toRdd.mapPartitions { it =>
        val s = scala.collection.mutable.HashSet[String]()
        it.foreach(r => if (!r.isNullAt(0)) s += r.getUTF8String(0).toString)
        s.iterator
      }.collect().distinct.toSeq)

  /** Step 3: table-relative paths of hit-file URIs. The pass's path
    * column is [[Snapshots.uriPrefix]] plus the file's table-relative
    * name, so each URI resolves by one map lookup. */
  def attribute(root: String, prefix: String, files: Seq[String],
                uris: Seq[String]): Seq[String] = {
    val pre = Snapshots.uriPrefix(root, prefix)
    val byUri = files.iterator.map(f => (pre + f) -> f).toMap
    uris.map(u => byUri.getOrElse(u, sys.error(s"unattributable file $u"))).sorted
  }

  /** Rows of `df` (a pass, or a target read) whose file is one of
    * `uris`: the optimizer turns the literal list into a hash-set
    * filter, which costs no job. */
  def within(df: DataFrame, uris: Seq[String]): DataFrame =
    df.filter(col(DvPathCol).isInCollection(uris))

  /** The `spark.graft.dml.fuseMaxBytes` gate (default 2 GiB): whether
    * the target read `df` is, by the optimizer's estimate, small enough
    * to materialize a pass over. Materialized, every later selection
    * reads the pass's rows instead of re-planning its joins and
    * subqueries — per-action fixed driver cost dominates small DML. A
    * many-GB pass stays lazy and recomputes: the same expressions over
    * the same rows. (The estimate is the target's, not the pass's: a
    * hit expression's decorrelated subquery joins carry no row counts,
    * and their size estimates multiply out past any gate.) */
  def fits(df: DataFrame): Boolean =
    (try df.queryExecution.optimizedPlan.stats.sizeInBytes
     catch { case _: Throwable => BigInt(Long.MaxValue) }) <=
      BigInt(df.sparkSession.conf.get("spark.graft.dml.fuseMaxBytes",
        (2L << 30).toString).toLong)

  /** Steps 4–5: constraints, the staged write, any deletion-vector
    * sidecar, the change records and the commit. Copy-on-write: the hit
    * files leave the snapshot. Merge-on-read ([[Output.dv]]): they stay,
    * and the commit conflicts if a concurrent rewrite claimed one — the
    * positions were computed against them. */
  def commit(spark: SparkSession, root: String, prefix: String, op: String,
             snap: Snapshot, txn: Option[String], hitFiles: Seq[String],
             o: Output): Int = {
    o.checked.foreach(Snapshots.enforceConstraints(root, prefix, _))
    val added = o.out.fold(Seq.empty[String])(df =>
      Snapshots.writeStaged(root, prefix, df, Snapshots.topicCols(df)))
    val dv = o.dv.map { rows =>
      val name = "dv-" + java.util.UUID.randomUUID().toString.take(8)
      // a sidecar is kilobytes-per-commit metadata: one file keeps the
      // read path's broadcast build cheap
      Snapshots.labeled(spark, s"dv sidecar write $prefix")(rows.coalesce(1)
        .write.parquet(Snapshots.dvDir(root, prefix).resolve(name).toString))
      name -> hitFiles.toSet
    }
    val gone = if (dv.isEmpty) hitFiles else Seq.empty
    Snapshots.writeCdc(root, prefix, o.cdc(added)) {
      Snapshots.commitRewrite(root, prefix, op, gone.toSet, added, gone, snap.maxPos, txn, dv)
    }
  }

  /** A keyed batch materialized once, with its row count and its lead
    * key's stat range observed on the same job — the batch's emptiness
    * and the manifest pruning of its targets cost no extra action. The
    * lead key is the first (target column, batch column) of `keys` whose
    * batch column is integral — the types whose range maps onto INT64
    * stats; its range is the batch's [min, max], or the empty range when
    * no key is non-null (no file with a stat on the key can match). */
  def materialize(spark: SparkSession, desc: String, df: DataFrame,
                  keys: Seq[(String, String)]): (DataFrame, Long, Seq[StatRange]) = {
    val lead = keys.find { case (_, c) => df.schema.find(_.name == c).exists(f =>
      Seq(LongType, IntegerType, ShortType, ByteType).contains(f.dataType)) }
    val aggs = count(lit(1)) +: lead.toSeq.flatMap { case (_, c) =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long"))) }
    val observed = df.observe("graft_batch", aggs.head, aggs.tail: _*)
    val m = Snapshots.labeled(spark, desc)(observed.localCheckpoint(true))
    val r = observed.queryExecution.observedMetrics.getOrElse("graft_batch",
      Snapshots.labeled(spark, desc)(m.agg(aggs.head, aggs.tail: _*).head()))
    (m, r.getLong(0), lead.toSeq.map { case (t, _) =>
      if (r.isNullAt(1)) StatRange.longRange(t, Long.MaxValue, Long.MinValue)
      else StatRange.longRange(t, r.getLong(1), r.getLong(2))
    })
  }

  /** The keyed verdict: [[Hit]] = the row's `keys` are in `keySet`; a
    * NULL key matches nothing. A semi and an anti join, not one outer
    * join: the optimizer sizes those two by the target alone, where an
    * outer join's estimate is the product of both sides — and that
    * estimate, carried by the materialized pass, sizes the rewrite's
    * output files. */
  def member(target: DataFrame, keySet: DataFrame, keys: Seq[String]): DataFrame =
    target.join(keySet, keys, "left_semi").withColumn(Hit, lit(true))
      .unionByName(target.join(keySet, keys, "left_anti").withColumn(Hit, lit(false)))
}
