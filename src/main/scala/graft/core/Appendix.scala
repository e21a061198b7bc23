package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.functions.col

/** A batch-keyed appendix: a directory of `batch_id=N` subdirs, one per
  * accepted micro-batch — the idempotent-sink half of exactly-once
  * ingest. Every growing index (q16k sigs/bands, q16m keys/vecs, q16o
  * digests, the IVF and PQ `_inc` lists, the posting appendices) and
  * every per-epoch parquet sink uses this one layout:
  *
  *  - accept: epoch N OVERWRITES its own `batch_id=N` dir, so a
  *    failure-replayed epoch replaces itself instead of duplicating rows;
  *  - visibility: an appendix holds what `spark.read` would read of it
  *    (Spark's own leaf rule), so a batch dir a dead writer left with
  *    only `_SUCCESS`, or with its only parquet file under `_temporary/`,
  *    reads as "no appendix" instead of failing schema inference;
  *  - growing index = base ∪ appendix: probes read `batch_id < N`
  *    through the partition-discovered column, which is the crash-retry
  *    self-probe guard (an epoch re-executed after its accept writes
  *    must not probe its own rows). */
private[graft] final case class Appendix(dir: String) {

  /** Write `df` as batch `batchId`, replacing any earlier attempt. */
  def accept(df: DataFrame, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")

  /** The parquet files `spark.read.parquet(dir)` reads, sorted: no file
    * under a segment Spark's listing skips (`_temporary`, `_SUCCESS`,
    * `.crc`, ...). Empty for a missing dir. */
  def files: Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Nil
    val walked = Files.walk(root)
    try walked.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .filter(p => root.relativize(p).iterator().asScala
        .forall(seg => !GraftParquetShim.isHiddenPathName(seg.toString)))
      .map(_.toString).toSeq.sorted
    finally walked.close()
  }

  /** The accepted batch ids, ascending (a dir counts even if empty). */
  def batches: Seq[Long] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Nil
    val listed = Files.list(root)
    try listed.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.startsWith("batch_id=") => n.stripPrefix("batch_id=").toLong }
      .toSeq.sorted
    finally listed.close()
  }

  /** Exact row count over [[files]], from parquet footers — no Spark job. */
  def rows(spark: SparkSession): Long =
    GraftParquetShim.footerRowCount(spark, files)

  /** `cols` of the batches below `before` (all of them by default), or
    * None when no batch holds a readable file. The `batch_id < before`
    * filter stays on the partition column, so it prunes whole dirs. */
  def read(spark: SparkSession, cols: Seq[String],
           before: Long = Long.MaxValue): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      val all = Tables.readParquet(spark, dir)
      val kept = if (before == Long.MaxValue) all else all.where(col("batch_id") < before)
      Some(kept.select(cols.map(col): _*))
    }

  /** Drop every batch (an index rebuild supersedes what was accepted). */
  def clear(): Unit = IndexStore.deleteRecursively(Paths.get(dir))
}

private[graft] object Appendix {

  /** Compact an appendix (the accumulated `batch_id=N` dirs under one
    * index table's root) into the single highest-id partition — the
    * small-files maintenance op a long-lived ingest loop needs: every
    * accepted epoch adds one dir of shuffle-partition-many files, and at
    * 100 TB the probe's file listing (and the namenode) pays for all of
    * them on every micro-batch. Generic over the appendix schema
    * (`dataCols`): q16k's (doc_id, sig)/(doc_id, band) and q16m's
    * (id, table_id, key)/(vec_id, v) alike.
    *
    * Two invocation modes (VERDICT r9 next #3):
    *  - OFFLINE (`uptoExclusive` defaulted): run QUIESCED — after the
    *    ingest query has stopped with its last epoch
    *    checkpoint-committed (the same offline-maintenance slot as an
    *    IVF retrain). Relabeling every row to the HIGHEST accepted id M
    *    is then exact for every future probe: a future epoch's
    *    `batch_id < batchId` filter has batchId > M, and the "old ∈
    *    base ∪ strictly-earlier batches" contract only ever compares
    *    against the committed frontier, never inside it. (Relabeling to
    *    the LOWEST id would instead resurrect the retried-epoch
    *    self-probe bug the filter exists to prevent.)
    *  - MID-STREAM (`uptoExclusive` = the executing epoch N, called
    *    from inside the ingest loop under an every-K-epochs policy):
    *    only dirs with id < N participate, folding into the highest id
    *    M < N — the executing epoch's own accept dirs are never the
    *    fold target, so a failure-retried epoch N (whose probe filters
    *    `batch_id < N`) still sees every earlier batch's rows at M < N,
    *    exactly as before the fold. Safe for CANDIDATE tables even
    *    across a mid-compaction crash (see below); a PAYLOAD table
    *    still belongs in the offline slot.
    *
    * Crash-safe without a table format, by per-file rename atomicity
    * plus the probe's duplicate tolerance (candidate pairs collapse in
    * the screen's pair-dedup aggregate before anything is scored):
    *  1. rows to move = dirs < M EXCEPT what `batch_id=M` already
    *     holds, so a re-run after any crash never re-appends;
    *  2. append them to `batch_id=M` — task files land by rename, so a
    *     crash leaves complete duplicate files, never torn rows;
    *  3. delete the superseded dirs — a crash here leaves duplicate
    *     rows the next run's steps 1+3 converge away.
    * Re-running after any crash converges, and for CANDIDATE tables
    * (sigs/bands/keys — whatever feeds a screen with a pair-dedup)
    * every intermediate state even probes identically to the
    * uncompacted appendix; both pinned in StreamingParitySpec. A
    * PAYLOAD table (q16m's vecs) joins 1:1 into scored results, so its
    * crash-window duplicates would duplicate output rows — there the
    * quiesce contract is load-bearing, not just advisable. */
  def compact(spark: SparkSession, dir: String, dataCols: Seq[String],
              uptoExclusive: Long = Long.MaxValue): Unit = {
    val appendix = Appendix(dir)
    val ids = appendix.batches.filter(_ < uptoExclusive)
    if (ids.size <= 1) return
    val m = ids.last
    val target = s"$dir/batch_id=$m"
    // partition pruning keeps the < M read off the target dir, so the
    // append never reads its own output
    appendix.read(spark, dataCols, before = m).foreach { lower =>
      // a target dir a dead writer left without a readable file has no
      // schema to except() against; except-nothing keeps the same
      // distinct semantics
      val toMove =
        if (Appendix(target).files.isEmpty) lower.distinct()
        else lower.except(spark.read.parquet(target).select(dataCols.map(col): _*))
      toMove.coalesce(spark.sparkContext.defaultParallelism)
        .write.mode("append").parquet(target)
    }
    ids.init.foreach(n => IndexStore.deleteRecursively(Paths.get(s"$dir/batch_id=$n")))
  }
}
