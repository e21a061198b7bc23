package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side parquet footer schema read + merge over a SMALL file
  * list — the same footer reader and the same merge
  * ([[ParquetFileFormat.readSchema]]) that `mergeSchema=true` runs
  * inside its distributed job, called directly on the driver so an
  * O(delta) metadata path (a commit's fresh-file schema merge) costs
  * footer reads instead of a Spark job per commit (optimization guide
  * §5: the driver should do almost no data work — and a scheduler
  * round-trip for a 2-file footer merge is exactly the kind it should
  * not do). Callers pass DELTA file lists only (bounded by the
  * commit's own size); whole-table schema inference keeps the
  * distributed path. */
object GraftParquetShim {
  /** `schema` with every field, element and value nullable — the schema
    * a file-source read under a user-specified schema yields (Spark's
    * own `asNullable`, package-private). */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** True for a path segment Spark's file listing skips — a `_`- or
    * `.`-prefixed name other than a `k=v` dir or a parquet summary
    * file (`_temporary`, `_SUCCESS`, `.crc`), or a `._COPYING_` file:
    * `HadoopFSUtils.shouldFilterOutPathName`, package-private. */
  def isHiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  def footerMergedSchema(spark: SparkSession,
                         paths: Seq[String]): Option[StructType] = {
    if (paths.isEmpty) return None
    val conf = spark.sessionState.newHadoopConf()
    // deterministic merge order (field order of added columns follows
    // first-seen order, exactly like the sorted listing the
    // distributed path sees)
    val statuses: Seq[FileStatus] = paths.sorted.map { p =>
      val hp = new HPath(p)
      hp.getFileSystem(conf).getFileStatus(hp)
    }
    // honor the session's corrupt-file policy exactly like the replaced
    // distributed mergeSchema path did (ADVICE r20 #4): sessions that
    // enable spark.sql.files.ignoreCorruptFiles skipped corrupt delta
    // files there and must keep skipping them here
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      conf, statuses, spark.sessionState.conf.ignoreCorruptFiles)
    // `spark.read` nullable-izes every inferred schema at relation
    // creation (HadoopFsRelation.asNullable); match it exactly — the
    // footer's REQUIRED fields must not leak NOT NULL into declared
    // schemas that the old mergeSchema path stamped nullable
    ParquetFileFormat.readSchema(footers, spark)
      .map(_.asNullable.asInstanceOf[StructType])
  }

  /** Exact row count of a parquet file set from footers alone (block
    * row counts are exact, not estimates) — the telemetry/stats path
    * for SMALL file lists where a count() job is pure scheduler
    * overhead. */
  def footerRowCount(spark: SparkSession, paths: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    paths.map(p => rowsOf(conf, new HPath(p))).sum
  }

  /** Exact per-file row counts from footers, under the session's
    * corrupt-file policy — what a commit's fresh manifest entries need,
    * with the semantics of the distributed count it replaces: a missing
    * file always fails; a file whose footer cannot be read fails with
    * Spark's own footer error, or counts 0 rows when
    * `spark.sql.files.ignoreCorruptFiles` is on (the distributed scan
    * skipped it, and the zero-row default entry took its place). */
  def footerRowCounts(spark: SparkSession, paths: Seq[String]): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val ignoreCorrupt = spark.sessionState.conf.ignoreCorruptFiles
    def one(p: String): Long = {
      val hp = new HPath(p)
      hp.getFileSystem(conf).getFileStatus(hp) // FileNotFoundException: never ignored
      try rowsOf(conf, hp)
      catch {
        case e: Exception
            if e.isInstanceOf[RuntimeException] || e.isInstanceOf[java.io.IOException] =>
          if (ignoreCorrupt) 0L
          else throw org.apache.spark.sql.errors.QueryExecutionErrors
            .cannotReadFooterForFileError(hp, e)
      }
    }
    paths.map(one)
  }

  private def rowsOf(conf: org.apache.hadoop.conf.Configuration, p: HPath): Long = {
    import scala.jdk.CollectionConverters._
    ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount).sum
  }
}
