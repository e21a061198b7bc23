package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.core.IndexStore

/** The scaffolding every streaming harness in [[StreamingPipelines]]
  * shares, so that each harness is its query body and nothing else:
  *  - [[withConfs]]: session confs set for a replay and restored after;
  *  - [[stageChunks]]: the fingerprint-stamped, mtime-ordered chunk
  *    dirs a file-stream source replays in order;
  *  - [[start]] / [[drain]]: an AvailableNow query over a checkpoint
  *    the toolkit owns (created, then deleted once the query ended and
  *    its state stores are unloaded) unless the caller pins one;
  *  - [[consume]]: a live consumer of a snapshot table, driven by a
  *    producer body between `drain()` calls;
  *  - [[memo]]: one result per (harness, dataset dir), cleared as one.
  */
private[graft] object Replay {

  /** Set `kv` on the session for the duration of `body`, then restore
    * each key's previous value (or unset it) and unload the state
    * stores the body's queries opened, whether `body` returned or threw.
    * Settings such as the shuffle-partition count are baked into a
    * query's checkpoint at first start, so they only need to hold while
    * the harness starts its queries. */
  def withConfs[T](spark: SparkSession, kv: Map[String, String])(body: => T): T = {
    val saved = kv.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      StreamingPipelines.unloadStateStores()
    }
  }

  /** Run `body` over the caller's checkpoint, or over a fresh temp one
    * that is deleted afterwards: every query on it has terminated by
    * then, and its state stores are unloaded first, so nothing still
    * holds a file under it. A caller's checkpoint is never deleted — a
    * restart resumes from it. */
  def withCheckpoint[T](ckptOpt: Option[String])(body: String => T): T = ckptOpt match {
    case Some(ckpt) => body(ckpt)
    case None =>
      val ckpt = Files.createTempDirectory("graft-ckpt")
      try body(ckpt.toString)
      finally {
        StreamingPipelines.unloadStateStores()
        IndexStore.deleteRecursively(ckpt)
      }
  }

  /** The one writer every harness query starts from: its output mode
    * and its checkpoint. */
  def writer[T](stream: Dataset[T], ckpt: String, mode: String = "append"): DataStreamWriter[T] =
    stream.writeStream.outputMode(mode).option("checkpointLocation", ckpt)

  /** Start `stream` under the AvailableNow trigger (process what the
    * source holds now, then stop), its sink set by `sink`. */
  def start[T](stream: Dataset[T], mode: String, ckpt: String)
              (sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery =
    sink(writer(stream, ckpt, mode).trigger(Trigger.AvailableNow())).start()

  /** Drain `stream` to its end under AvailableNow, each epoch through
    * `body`. With `stopAfterBatches` set (failure injection), the query
    * is stopped instead once that many epochs committed; a later call
    * with the same `ckptOpt` resumes from the checkpoint. */
  def drain[T](stream: Dataset[T], mode: String = "append", ckptOpt: Option[String] = None,
               stopAfterBatches: Int = Int.MaxValue)(body: (Dataset[T], Long) => Unit): Unit =
    withCheckpoint(ckptOpt) { ckpt =>
      val q = start(stream, mode, ckpt)(_.foreachBatch(body))
      try {
        if (stopAfterBatches < Int.MaxValue) {
          val deadline = System.nanoTime() + 60L * 1000000000L
          while (q.isActive && System.nanoTime() < deadline &&
                 (q.lastProgress == null || q.lastProgress.batchId + 1 < stopAfterBatches)) {
            Thread.sleep(50)
          }
          q.stop()
        }
        q.awaitTermination()
      } finally q.stop()
    }

  /** Consume `reader` — a stream over a snapshot table — into `out`,
    * one parquet append per epoch, while `body` commits to the table
    * and calls `drain()` to process everything committed so far. The
    * query stops when `body` ends (or throws). Returns the drained
    * rows. */
  def consume(reader: DataFrame, out: String)(body: (() => Unit) => Unit): DataFrame = {
    withCheckpoint(None) { ckpt =>
      val q = writer(reader, ckpt)
        .foreachBatch((b: DataFrame, _: Long) => b.write.mode("append").parquet(out))
        .start()
      try body(() => q.processAllAvailable()) finally q.stop()
    }
    reader.sparkSession.read.parquet(out)
  }

  /** Stage `chunked` — any frame with a `chunk` column — as parquet
    * chunk files under `<tmpdir>/<family>/<dir>/chunks`: one chunk value
    * per staged dir, moved in numeric chunk order to
    * `chunk_<i>_<j>.parquet` with strictly increasing modification
    * times, so a file-stream source replays chunk after chunk. The
    * `chunk` value lives only in the staging dir names; data files
    * carry the other columns.
    *
    * The chunk dir is keyed by the full dataset path and stamped with
    * `stamp` plus `ids`' row count and `idCol` range. A later call with
    * the same stamp reuses it; a different one (the source changed in
    * place) rebuilds it rather than replay stale data. */
  def stageChunks(family: String, dir: String, stamp: String, ids: DataFrame, idCol: String)
                 (chunked: => DataFrame): Path = {
    val root = Paths.get(sys.props("java.io.tmpdir"), family,
      dir.replaceAll("[^A-Za-z0-9._-]", "_"))
    val chunkDir = root.resolve("chunks")
    val doneFile = chunkDir.resolve("_DONE")
    val fp = {
      val r = ids.agg(count(lit(1)), min(col(idCol)), max(col(idCol))).head()
      s"$stamp:${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
    }
    if (Files.exists(doneFile) && new String(Files.readAllBytes(doneFile), UTF_8).trim == fp)
      return chunkDir
    IndexStore.deleteRecursively(root)
    Files.createDirectories(chunkDir)
    val staging = root.resolve("staging")
    chunked.repartition(col("chunk"))
      .write.mode("overwrite").partitionBy("chunk").parquet(staging.toString)
    StreamingPipelines.listDir(staging)
      .filter(_.getFileName.toString.startsWith("chunk="))
      // numeric order: a lexicographic sort of `chunk=N` names would
      // stage 0,1,10,11,2,… past 9 chunks
      .sortBy(_.getFileName.toString.stripPrefix("chunk=").toLong)
      .zipWithIndex.foreach { case (chunk, i) =>
        StreamingPipelines.listDir(chunk)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
          .zipWithIndex.foreach { case (part, j) =>
            val dst = chunkDir.resolve(f"chunk_$i%03d_$j%02d.parquet")
            Files.move(part, dst)
            Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 1000L))
          }
      }
    Files.write(doneFile, fp.getBytes(UTF_8))
    chunkDir
  }

  private val memos = TrieMap.empty[(String, String), Any]

  /** `run`'s result for (`harness`, `dir`), computed on the first call
    * and served from memory after: a bench or spec that reads one
    * replay several times pays for one replay. */
  def memo[T](harness: String, dir: String)(run: => T): T =
    memos.getOrElseUpdate((harness, dir), run).asInstanceOf[T]

  /** Forget `dir`'s results of the given harnesses only. */
  def evict(dir: String, harnesses: String*): Unit =
    harnesses.foreach(h => memos.remove((h, dir)))

  /** Forget every memoized result, so the next read re-runs its replay. */
  def clear(): Unit = memos.clear()
}
