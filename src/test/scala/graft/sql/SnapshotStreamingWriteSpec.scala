package graft.sql

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.TestSpark
import graft.core.{IndexStore, SnapshotStore}

/** The update-mode (`mergeKeys`) streaming write, driven directly: its
  * tasks write the CDC delta's schema with `_seq` = HEAD + 1, and the
  * commit moves their files in as the delta while HEAD has not moved —
  * with the schema, `_seq` and fold cadence of the `_seq` rewrite it
  * replaces — and falls back to that rewrite when it has. */
class SnapshotStreamingWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("cnt", LongType, nullable = false)))
  private val qid = "deadbeef-0000-0000-0000-000000000000"

  /** A flat table at `<tmp>/tbl` whose v1 holds `rows`. */
  private def table(tag: String, rows: Seq[(String, Long)]): Path = {
    import spark.implicits._
    val root = Files.createTempDirectory(tag).resolve("tbl")
    rows.toDF("k", "cnt").coalesce(1).write.parquet(root.resolve("data/base").toString)
    SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
    root
  }

  private def sink(root: Path) =
    new SnapshotStreamingWrite(root, "t", qid, schema, schema, Nil, mergeKey = Some("k"))

  private def factory(w: SnapshotStreamingWrite, tasks: Int): StreamingDataWriterFactory =
    w.createStreamingWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = tasks
    })

  /** Epoch `epoch`'s tasks, one per row group, as Spark runs them; their
    * commit messages. */
  private def runTasks(f: StreamingDataWriterFactory, epoch: Long,
                       tasks: Seq[Seq[(String, Long)]]): Array[WriterCommitMessage] =
    tasks.zipWithIndex.map { case (rows, p) =>
      val dw = f.createWriter(p, p.toLong, epoch)
      rows.foreach { case (k, c) => dw.write(InternalRow(UTF8String.fromString(k), c)) }
      dw.commit()
    }.toArray

  private def deltaFiles(root: Path, v: Long): Seq[String] =
    SnapshotStore.filesAt(spark, root, v).filter(SnapshotStore.isCdcDeltaFile)
      .filter(_.startsWith(s"data/_cdcdelta_a$v/"))

  /** `(k, cnt, _seq)` rows of `files`. */
  private def rowsOf(root: Path, files: Seq[String]): Seq[(String, Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(files.map(f => root.resolve(f).toString): _*)
      .select("k", "cnt", "_seq").as[(String, Long, Long)].collect().toSeq.sorted
  }

  /** The parquet message type and Spark's row-schema key of a file's footer. */
  private def footer(file: Path): (String, String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file.toString),
      spark.sessionState.newHadoopConf()))
    try {
      val m = r.getFooter.getFileMetaData
      (m.getSchema.toString, m.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  private def resolved(root: Path): Seq[(String, Long)] = {
    import spark.implicits._
    SnapshotStore.readAtCdc(spark, root, keyCol = "k", orderCols = Nil)
      .select("k", "cnt").as[(String, Long)].collect().toSeq.sorted
  }

  private def stagingLeft(root: Path): Seq[String] =
    Files.list(root.resolve("data")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("stream_")).toSeq

  test("direct delta commit: the task files land as the CDC delta, with the rewrite path's footer schema and _seq = the committed version") {
    val root = table("sw-direct", Seq(("a", 1L), ("b", 1L)))
    val ref = table("sw-direct-ref", Seq(("a", 1L), ("b", 1L)))
    try {
      val tasks = Seq(Seq(("a", 2L), ("c", 1L)), Seq(("d", 4L)))
      val w = sink(root)
      w.commit(0L, runTasks(factory(w, 2), 0L, tasks))
      assert(SnapshotStore.headVersion(root).contains(2L))
      val delta = deltaFiles(root, 2L)
      assert(delta.size == 2 && SnapshotStore.filesAt(spark, root, 2L).size == 3,
        s"one delta file per task expected: ${SnapshotStore.filesAt(spark, root, 2L)}")
      assert(rowsOf(root, delta) == Seq(("a", 2L, 2L), ("c", 1L, 2L), ("d", 4L, 2L)))
      // the rewrite path on the same rows: read back under the write
      // schema, `_seq` stamped by commitCdcDelta
      val stage = ref.getParent.resolve("stage").toString
      spark.createDataFrame(tasks.flatten.map { case (k, c) => org.apache.spark.sql.Row(k, c) }.asJava,
        schema).coalesce(1).write.parquet(stage)
      SnapshotStore.commitCdcDelta(spark, ref, spark.read.schema(schema).parquet(stage), "k")
      val refDelta = deltaFiles(ref, 2L)
      def merged(r: Path, fs: Seq[String]) =
        GraftParquetShim.footerMergedSchema(spark, fs.map(f => r.resolve(f).toString))
      assert(merged(root, delta).isDefined && merged(root, delta) == merged(ref, refDelta),
        s"${merged(root, delta)} vs ${merged(ref, refDelta)}")
      // nullability too: the data columns optional, `_seq` required
      val want = footer(ref.resolve(refDelta.head))
      assert(want._1.contains("required int64 _seq") && want._1.contains("optional int64 cnt"), want._1)
      delta.foreach(f => assert(footer(root.resolve(f)) == want, f))
      // the files moved with their checksum sidecars; nothing is staged
      delta.foreach { f =>
        val p = root.resolve(f)
        assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"no sidecar for $f")
      }
      assert(stagingLeft(root).isEmpty, s"staging left behind: ${stagingLeft(root)}")
      assert(resolved(root) == Seq(("a", 2L), ("b", 1L), ("c", 1L), ("d", 4L)))
    } finally Seq(root, ref).foreach(r => IndexStore.deleteRecursively(r.getParent))
  }

  test("HEAD advancing between the writer factory and the commit: the rewrite fallback stamps _seq with the actual version, readAtCdc resolves the later write") {
    import spark.implicits._
    val root = table("sw-moved", Seq(("a", 1L), ("b", 1L)))
    try {
      val w = sink(root)
      val f = factory(w, 2) // stamps _seq = 2
      // another writer commits v2 first
      SnapshotStore.commitCdcDelta(spark, root, Seq(("a", 5L), ("b", 6L)).toDF("k", "cnt"), "k")
      w.commit(0L, runTasks(f, 0L, Seq(Seq(("a", 7L)), Seq(("c", 1L)))))
      assert(SnapshotStore.headVersion(root).contains(3L))
      val delta = deltaFiles(root, 3L)
      assert(delta.nonEmpty && rowsOf(root, delta).forall(_._3 == 3L),
        s"_seq must equal the committed version 3: ${rowsOf(root, delta)}")
      // the epoch's write of `a` is the later one
      assert(resolved(root) == Seq(("a", 7L), ("b", 6L), ("c", 1L)))
      assert(stagingLeft(root).isEmpty, s"staging left behind: ${stagingLeft(root)}")
    } finally IndexStore.deleteRecursively(root.getParent)
  }

  test("a direct delta commit that loses its CAS publish leaves no moved file behind") {
    import spark.implicits._
    val root = table("sw-cas", Seq(("a", 1L)))
    val other = root.getParent.resolve("other")
    try {
      Seq(("z", 9L)).toDF("k", "cnt").coalesce(1).write.parquet(other.toString)
      val otherFile = Files.list(other).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      val otherRel = "data/other/" + otherFile.getFileName
      Files.createDirectories(root.resolve("data/other"))
      Files.move(otherFile, root.resolve(otherRel))
      val w = sink(root)
      val msgs = runTasks(factory(w, 2), 0L, Seq(Seq(("a", 2L)), Seq(("b", 1L))))
      // another writer publishes v2 between the epoch's base resolution
      // and its CAS
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      SnapshotStore.commitAttemptHook = (r, _) =>
        if (r == root && armed.getAndSet(false)) SnapshotStore.commitAppend(spark, root, Seq(otherRel))
      val e = try intercept[java.util.ConcurrentModificationException](w.commit(0L, msgs))
        finally SnapshotStore.commitAttemptHook = (_, _) => ()
      assert(e.getMessage.contains("lost"), e.getMessage)
      w.abort(0L, msgs) // what Spark does after a failed commit
      assert(SnapshotStore.headVersion(root).contains(2L))
      assert(SnapshotStore.filesAt(spark, root, 2L).sorted ==
        (SnapshotStore.filesAt(spark, root, 1L) :+ otherRel).sorted)
      val left = Files.walk(root.resolve("data")).iterator().asScala
        .map(p => root.relativize(p).toString)
        .filter(p => p.contains("_cdcdelta_a") || p.contains("stream_")).toSeq
      assert(left.isEmpty, s"a lost publish left files behind: $left")
    } finally IndexStore.deleteRecursively(root.getParent)
  }

  test("the fold policy counts delta commits, not files: with 2 files per delta it fires on the 4th delta commit") {
    val root = table("sw-fold", Seq(("a", 1L), ("b", 1L)))
    try {
      val w = sink(root)
      def op = SnapshotStore.opTypeOf(root, SnapshotStore.headVersion(root).get)
      (0 until 3).foreach { e =>
        w.commit(e.toLong, runTasks(factory(w, 2), e.toLong,
          Seq(Seq((s"x$e", 1L)), Seq((s"y$e", 1L)))))
        val v = SnapshotStore.headVersion(root).get
        assert(deltaFiles(root, v).size == 2, s"epoch $e must land 2 delta files")
        assert(!op.contains("fold"), s"folded after ${e + 1} delta commits")
      }
      w.commit(3L, runTasks(factory(w, 2), 3L, Seq(Seq(("x3", 1L)), Seq(("a", 3L)))))
      assert(op.contains("fold"), "the 4th delta commit must fold")
      val files = SnapshotStore.filesAt(spark, root, SnapshotStore.headVersion(root).get)
      assert(!files.exists(SnapshotStore.isCdcDeltaFile), s"deltas survived the fold: $files")
      assert(resolved(root) == (Seq(("a", 3L), ("b", 1L)) ++
        (0 until 4).map(e => (s"x$e", 1L)) ++ (0 until 3).map(e => (s"y$e", 1L))).sorted)
    } finally IndexStore.deleteRecursively(root.getParent)
  }
}
