package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}

/** A parquet relation over a KNOWN file list — the snapshot log's.
  * `spark.read.parquet(files)` rediscovers what the log already
  * records: it lists every path (a "Listing leaf files" Spark job from
  * 32 paths on) and runs a schema-inference job over the first footer.
  * This builds the same [[HadoopFsRelation]] `DataSource.resolveRelation`
  * would — same partition discovery from `basePath`, same first footer
  * in the same schema conversion, same `.asNullable` — with one
  * driver-side stat per file and no Spark job before the scan.
  * `ParquetFileFormat.readSchema` is `private[parquet]`, hence this
  * package (the one other Spark-internal hop besides
  * [[org.apache.spark.sql.GraftStreamingShim]]). */
object GraftFileShim {

  /** The frame `spark.read.option("basePath", basePath).parquet(files)`
    * would return. `footer` reads one parquet footer; the caller owns
    * the reader (and its cost accounting). `files` must be non-empty. */
  def parquetFiles(spark: SparkSession, basePath: Path, files: Seq[Path],
                   footer: Path => ParquetMetadata): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val statuses = files.map(p => p.getFileSystem(conf).getFileStatus(p))
    val known = statuses.map(s => s.getPath -> Array(s)).toMap
    // the index looks every root path up here before it would list it
    val logListing = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = known.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> basePath.toString)
    val index = new InMemoryFileIndex(session, statuses.map(_.getPath), options, None, logListing)
    // Spark's inference (ParquetUtils.inferSchema without mergeSchema)
    // reads the first data file in path order
    val first = index.allFiles().map(_.getPath).minBy(_.toString)
    val dataSchema = ParquetFileFormat.readSchema(Seq(new Footer(first, footer(first))), session)
      .getOrElse(throw new IllegalStateException(s"no schema in the footer of $first"))
    session.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, new ParquetFileFormat, options)(session))
  }
}
