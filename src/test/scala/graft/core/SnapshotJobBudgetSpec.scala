package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkJobs.{drainJobStarts, jobsOf}
import graft.TestSpark
import graft.streaming.StreamingPipelines

/** The live commit path's JOB BUDGET: a pure append on a stats-less
  * table launches no Spark job (fresh entries from footers, the part
  * written on the driver), and an update-mode `mergeKeys` sink epoch
  * that does not fold launches only the job that moves rows — the
  * micro-batch's own aggregate-and-write, whose task files become the
  * CDC delta; one that folds adds the fold's hot-file read and rewrite,
  * and leaves no staging dir behind. Its
  * SUBPROCESS budget is zero: no `chmod`/`readlink` process for any file
  * the live path writes. Plus the corrupt-file semantics of the footer
  * path, which must match the distributed count it replaced. */
class SnapshotJobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Write `df` as one parquet file under `root/<dir>`; its root-relative name. */
  private def writeFile(root: Path, dir: String, df: DataFrame): String = {
    df.coalesce(1).write.parquet(root.resolve(dir).toString)
    SnapshotStore.dataFiles(root).filter(_.startsWith(s"$dir/")).head
  }

  private def entries(root: Path, v: Long): Map[String, Long] = {
    import spark.implicits._
    SnapshotStore.manifest(spark, root, v).select("file", "n_rows")
      .as[(String, Long)].collect().toMap
  }

  test("a stats-less commitAppend of 2 files launches no Spark job; the commit stamp and the content are unchanged") {
    import spark.implicits._
    val root = Files.createTempDirectory("budget-append")
    try {
      val f0 = writeFile(root, "data/b0", Seq((1L, "a"), (2L, "b")).toDF("k", "p"))
      SnapshotStore.commitAppend(spark, root, Seq(f0)) // v1
      val f1 = writeFile(root, "data/b1", Seq((3L, "c")).toDF("k", "p"))
      val f2 = writeFile(root, "data/b2", Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("k", "p"))
      val (v, jobs) = jobsOf("budget-append")(SnapshotStore.commitAppend(spark, root, Seq(f1, f2)))
      assert(v == 2L)
      assert(jobs == 0, s"a stats-less append launched $jobs Spark job(s)")
      val st = SnapshotStore.lastCommitStats.get
      assert(st.appendFastPath && st.partsWritten == 1 && st.entriesWritten == 2 &&
        st.version == 2L, s"unexpected commit stats: $st")
      // the driver-written part is an ordinary parquet part: the list row,
      // a cold read of the part and the data agree
      assert(SnapshotStore.readList(root, 2L).get.map(r => (r.nFiles, r.nRows)).sorted ==
        Seq((1L, 2L), (2L, 4L)))
      SnapshotStore.clearPartCaches()
      assert(entries(root, 2L) == Map(f0 -> 2L, f1 -> 1L, f2 -> 3L))
      assert(SnapshotStore.filesAt(spark, root, 2L) == Seq(f0, f1, f2).sorted)
      assert(SnapshotStore.countAt(spark, root) == 6L)
      assert(SnapshotStore.readAt(spark, root, inferPartitions = false)
        .select("k").as[Long].collect().sorted.toSeq == (1L to 6L))
      // no hidden temp file is left in the part dir
      val partDir = root.resolve(SnapshotStore.readList(root, 2L).get.last.mpath)
      val names = Files.list(partDir).iterator().asScala.map(_.getFileName.toString).toSeq
      assert(names.count(_.endsWith(".parquet")) == 1 && !names.exists(_.endsWith(".tmp")),
        s"part dir holds $names")
    } finally IndexStore.deleteRecursively(root)
  }

  test("a stats-less append that consolidates the manifest list launches no Spark job either") {
    import spark.implicits._
    val root = Files.createTempDirectory("budget-consolidate")
    val saved = SnapshotStore.maxManifestParts
    SnapshotStore.maxManifestParts = 3
    try {
      val files = (1 to 4).map(i => writeFile(root, s"data/b$i", Seq((i.toLong, s"v$i")).toDF("k", "p")))
      files.take(3).foreach(f => SnapshotStore.commitAppend(spark, root, Seq(f))) // v1..v3
      val (v, jobs) = jobsOf("budget-consolidate")(SnapshotStore.commitAppend(spark, root, files.drop(3)))
      assert(SnapshotStore.lastCommitStats.exists(s => s.version == v && s.consolidated),
        s"the fixture must consolidate: ${SnapshotStore.lastCommitStats}")
      assert(jobs == 0, s"a consolidating stats-less append launched $jobs Spark job(s)")
      assert(SnapshotStore.readList(root, v).get.size == 1)
      SnapshotStore.clearPartCaches()
      assert(entries(root, v) == files.map(_ -> 1L).toMap)
    } finally {
      SnapshotStore.maxManifestParts = saved
      IndexStore.deleteRecursively(root)
    }
  }

  test("the pending-file guards, the CDC fold policy and countAt read part summaries: one job over uncached parts, none once cached, never the entry lists") {
    import spark.implicits._
    val root = Files.createTempDirectory("budget-summary")
    try {
      SnapshotStore.commitAppend(spark, root,
        Seq(writeFile(root, "data/b0", (1L to 6L).map(i => (i, s"v$i")).toDF("k", "p")))) // v1
      SnapshotStore.commitCdcDelta(spark, root, Seq((1L, "x")).toDF("k", "p"), "k") // v2
      SnapshotStore.commitCdcDelta(spark, root, Seq((2L, "y"), (7L, "z")).toDF("k", "p"), "k") // v3
      // a cold cache stands for parts that were evicted or are too large
      // for the entries cache: both take the same summary path
      SnapshotStore.clearPartCaches()
      def policy(ratio: Double, minDeltaCommits: Int): Option[Long] =
        SnapshotStore.maybeFoldCdc(spark, root, "k", Nil, numFiles = 1,
          ratio = ratio, minDeltaCommits = minDeltaCommits)
      val (quiet, cold) = jobsOf("budget-summary-cold")(policy(0.5, 3))
      assert(quiet.isEmpty)
      assert(cold == 1, s"a cold fold-policy probe launched $cold Spark job(s)")
      val (_, warm) = jobsOf("budget-summary-warm") {
        assert(policy(0.5, 3).isEmpty)
        val e = intercept[IllegalStateException](SnapshotStore.countAt(spark, root))
        assert(e.getMessage.contains("2 un-folded CDC delta file(s)"), e.getMessage)
      }
      assert(warm == 0, s"cached summaries still launched $warm Spark job(s)")
      // the summaries did not pull the entry lists: names are read on demand
      val (names, read) = jobsOf("budget-summary-names")(SnapshotStore.filesAt(spark, root, 3L))
      assert(names.size == 3 && read == 1, s"filesAt: $names in $read job(s)")
      // the policy decides from cold summaries: 3 delta rows against 6 base rows
      SnapshotStore.clearPartCaches()
      assert(policy(0.6, 2).isEmpty)
      SnapshotStore.clearPartCaches()
      assert(policy(0.5, 2).nonEmpty)
      SnapshotStore.clearPartCaches()
      assert(SnapshotStore.countAt(spark, root) == 7L)
    } finally IndexStore.deleteRecursively(root)
  }

  test("stats-less row-level ops read no manifest to look for key envelopes: mergeCow, foldMor and changesBetween each launch their budget") {
    import spark.implicits._
    val root = Files.createTempDirectory("budget-rowops")
    try {
      SnapshotStore.commitAppend(spark, root,
        Seq(writeFile(root, "data/b0", (1L to 6L).map(i => (i, s"v$i")).toDF("k", "p")))) // v1
      val changes = Seq((2L, "x", false), (9L, "y", false)).toDF("k", "p", "_delete")
      val (v2, merge) = jobsOf("budget-rowops-merge")(SnapshotStore.mergeCow(spark, root, changes, "k"))
      SnapshotStore.deleteMor(spark, root, Seq(3L).toDF("k"), "k") // v3
      val (v4, fold) = jobsOf("budget-rowops-fold")(SnapshotStore.foldMor(spark, root, "k", numFiles = 1))
      assert((v2, v4) == (2L, 4L))
      val (feed, diff) = jobsOf("budget-rowops-feed")(SnapshotStore.changesBetween(spark, root, 1L, v4, "k"))
      // one job fewer per envelope probe than a schema-inferring manifest
      // read (changesBetween probes both endpoints)
      assert(merge <= 4, s"a stats-less mergeCow launched $merge Spark jobs (budget: 4)")
      assert(fold <= 6, s"a stats-less foldMor launched $fold Spark jobs (budget: 6)")
      assert(diff <= 4, s"planning a stats-less changesBetween launched $diff Spark jobs (budget: 4)")
      assert(feed.orderBy("change_type", "k").as[(String, Long, String)].collect().toSeq == Seq(
        ("delete", 3L, "v3"), ("insert", 9L, "y"),
        ("update_postimage", 2L, "x"), ("update_preimage", 2L, "v2")))
    } finally IndexStore.deleteRecursively(root)
  }

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Tweet batch `i` (40 tweets, 20 s of event time after batch i-1) as
    * one parquet file under `src`; its root-relative name. */
  private def tweetFile(src: Path, i: Int): String = {
    import spark.implicits._
    val rows = (0 until 40).map { j =>
      (new java.sql.Timestamp(t0 + i * 20000L + j * 500L),
        s"tweet $i.$j #tag${j % 5} #b${(i + j) % 3}")
    }
    writeFile(src, f"data/b$i%03d", rows.toDF("timestamp", "text"))
  }

  private def append(src: Path, i: Int): Unit =
    SnapshotStore.commitAppend(spark, src, Seq(tweetFile(src, i)))

  /** The live path: a `graft-snapshot` stream over a tweet table through
    * `trendingHashtagCounts` into an update-mode `mergeKeys` sink. `body`
    * runs once batches 0 and 1 have been streamed (the cold first epoch
    * and a warm one) and gets the query, the source root, the sink root
    * and a counter of one micro-batch's Spark jobs. Afterwards the sink,
    * resolved, must equal the batch trending counts at HEAD, and no
    * epoch's staging dir (`data/stream_*`) may remain. The sink folds on
    * its 4th delta: batches 0-2 stay below the fold policy. */
  private def withTrendingSink(body: (StreamingQuery, Path, Path, Long => Int) => Unit): Unit = {
    val src = Files.createTempDirectory("budget-src")
    val sinkParent = Files.createTempDirectory("budget-sink")
    val sink = sinkParent.resolve("tbl").toAbsolutePath.normalize
    val ckpt = Files.createTempDirectory("budget-ckpt")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.catalog.graft_lake", "graft.sql.SnapshotCatalog")
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    val table = s"graft_lake.`$sink`"
    // jobs by (query, micro-batch)
    val epochJobs = new ConcurrentLinkedQueue[(String, Long)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null)
          for (q <- Option(j.properties.getProperty("sql.streaming.queryId"));
               b <- Option(j.properties.getProperty("streaming.sql.batchId")))
            epochJobs.add(q -> b.toLong)
    }
    ss.sparkContext.addSparkListener(listener)
    try {
      append(src, 0)
      ss.sql(s"CREATE TABLE $table (k STRING, window_start TIMESTAMP, hashtag STRING, cnt BIGINT)")
      val tweets = ss.readStream.format("graft-snapshot")
        .option("path", src.toString).load()
        .withWatermark("timestamp", "300 seconds")
      val q = StreamingPipelines.trendingHashtagCounts(tweets, "5 minutes", "1 minute")
        .select(concat_ws("|", col("window_start").cast("string"), col("hashtag")).as("k"),
          col("window_start"), col("hashtag"), col("cnt"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .option("mergeKeys", "k")
        .trigger(Trigger.ProcessingTime(100))
        .toTable(table)
      try {
        q.processAllAvailable() // cold first epoch
        append(src, 1)
        q.processAllAvailable()
        body(q, src, sink, { epoch =>
          drainJobStarts()
          epochJobs.asScala.count { case (qid, b) => qid == q.id.toString && b == epoch }
        })
      } finally q.stop()
      // every epoch's staging files and their `.crc` sidecars are gone
      val staged = Files.list(sink.resolve("data")).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("stream_")).toSeq
      assert(staged.isEmpty, s"staging dirs left behind: $staged")
      // the resolved sink equals the batch answer at HEAD, row for row
      val got = SnapshotStore.readAtCdc(spark, sink, keyCol = "k", orderCols = Nil)
        .select("window_start", "hashtag", "cnt")
      val want = StreamingPipelines.trendingHashtagCounts(
        SnapshotStore.readAt(spark, src), "5 minutes", "1 minute")
      assert(want.count() > 0)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        "the sink diverged from the batch trending counts")
    } finally {
      ss.sparkContext.removeSparkListener(listener)
      Seq(src, sinkParent, ckpt).foreach(IndexStore.deleteRecursively)
    }
  }

  /** The first micro-batch after `before` that read rows. */
  private def dataEpochAfter(q: StreamingQuery, before: Long): Long =
    q.recentProgress.filter(p => p.batchId > before && p.numInputRows > 0).map(_.batchId).min

  private def folded(sink: Path): Boolean =
    SnapshotStore.opTypeOf(sink, SnapshotStore.headVersion(sink).get).contains("fold")

  test("an update-mode mergeKeys sink data epoch that does not fold launches at most 1 job; readAtCdc equals the batch trending counts") {
    withTrendingSink { (q, src, sink, jobsIn) =>
      val before = q.lastProgress.batchId
      append(src, 2)
      q.processAllAvailable()
      val epoch = dataEpochAfter(q, before)
      val n = jobsIn(epoch)
      assert(!folded(sink), "the measured epoch folded — the fixture must stay below the fold policy")
      assert(n >= 1, s"no job seen for epoch $epoch — listener scoping broke")
      assert(n <= 1, s"data epoch $epoch launched $n Spark jobs (budget: 1)")
    }
  }

  test("a sink epoch that folds launches at most 4 jobs: the fold reads the deltas' schema and the envelope columns from footers; readAtCdc equals the batch trending counts") {
    withTrendingSink { (q, src, sink, jobsIn) =>
      append(src, 2)
      q.processAllAvailable()
      assert(!folded(sink), "the fixture folded before its 4th delta")
      val before = q.lastProgress.batchId
      append(src, 3)
      q.processAllAvailable()
      val epoch = dataEpochAfter(q, before)
      val n = jobsIn(epoch)
      assert(folded(sink), "the 4th delta did not fold — the fixture must reach the fold policy")
      // the one that moves the epoch's rows, then the fold's read of the
      // hot files and its range-partitioned rewrite (a sampling job and
      // the write)
      assert(n <= 4, s"fold epoch $epoch launched $n Spark jobs (budget: 4)")
    }
  }

  /** The processes this JVM started while `body` ran, from a JFR
    * `jdk.ProcessStart` recording. The recording is JVM-wide, so first
    * the sessions earlier tests dropped are collected and cleaned: Spark's
    * artifact cleaner forks an `rm -rf` for each one it finds garbage,
    * which would otherwise land in whichever recording a GC happens in. */
  private def processStarts(body: => Unit): Seq[jdk.jfr.consumer.RecordedEvent] = {
    System.gc()
    Thread.sleep(1000) // the cleaner thread runs the enqueued cleanups
    val out = Files.createTempFile("process-starts", ".jfr")
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.setDestination(out)
      rec.start()
      try body finally rec.stop()
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }

  /** How many processes started, the first commands and the frames
    * that started the first one. */
  private def describe(events: Seq[jdk.jfr.consumer.RecordedEvent]): String =
    (s"${events.size} process(es):" +: events.take(8).map(_.getString("command")) ++:
      events.headOption.flatMap(e => Option(e.getStackTrace)).toSeq
        .flatMap(_.getFrames.asScala.take(16))
        .map(f => s"  at ${f.getMethod.getType.getName}.${f.getMethod.getName}")).mkString("\n")

  test("the session's Hadoop conf resolves file: to the fork-free local filesystem, for FileSystem and FileContext users") {
    val local = java.net.URI.create("file:///")
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf()).foreach { conf =>
      val fs = org.apache.hadoop.fs.FileSystem.get(local, conf)
      assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass.getName)
      val afs = org.apache.hadoop.fs.AbstractFileSystem.get(local, conf)
      assert(afs.isInstanceOf[GraftLocalFs], afs.getClass.getName)
    }
  }

  test("no subprocess on the live path: a commitAppend, a sink data epoch, the following no-data epoch and a foldCdc start no process") {
    withTrendingSink { (q, src, sink, _) =>
      val f = tweetFile(src, 2)
      val before = q.lastProgress.batchId
      val live = processStarts {
        SnapshotStore.commitAppend(spark, src, Seq(f))
        q.processAllAvailable()
        val epoch = dataEpochAfter(q, before)
        // the watermark moved: Spark runs a no-data epoch to evict state
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!q.recentProgress.exists(p => p.batchId > epoch && p.numInputRows == 0)) {
          assert(System.nanoTime() < deadline, s"no no-data epoch followed epoch $epoch")
          Thread.sleep(50)
        }
      }
      assert(SnapshotStore.filesAt(spark, sink, SnapshotStore.headVersion(sink).get)
        .exists(SnapshotStore.isCdcDeltaFile), "the fold below needs pending deltas")
      val fold = processStarts(SnapshotStore.foldCdc(spark, sink, "k", Nil, numFiles = 2))
      assert(folded(sink))
      assert(live.isEmpty, s"the live path started ${describe(live)}")
      assert(fold.isEmpty, s"foldCdc started ${describe(fold)}")
    }
  }

  test("footer path, corrupt fresh file: fails loudly without ignoreCorruptFiles; with it, commits the n_rows=0 entry the distributed path commits") {
    import spark.implicits._
    val plain = Files.createTempDirectory("corrupt-plain")
    val stats = Files.createTempDirectory("corrupt-stats")
    try {
      // the same files under a stats-less table (footer path) and a
      // table with envelopes (the distributed per-file aggregate)
      val adds = Seq(plain, stats).map { root =>
        val f0 = writeFile(root, "data/b0", Seq((1L, "a")).toDF("k", "p"))
        if (root == plain) SnapshotStore.commitAppend(spark, root, Seq(f0))
        else SnapshotStore.commit(spark, root, Seq(f0), statsCols = Seq("k"))
        val f1 = writeFile(root, "data/b1", Seq((2L, "b"), (3L, "c")).toDF("k", "p"))
        val bad = "data/bad/part-00000-bad.parquet"
        Files.createDirectories(root.resolve("data/bad"))
        Files.write(root.resolve(bad), "not a parquet file".getBytes("UTF-8"))
        Seq(f1, bad)
      }
      val partsBefore = Files.list(plain.resolve("_snapshots/manifests")).count()
      val key = "spark.sql.files.ignoreCorruptFiles"
      spark.conf.set(key, "false")
      val e = intercept[Exception](SnapshotStore.commitAppend(spark, plain, adds.head))
      def chain(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")
      assert(chain(e).contains("part-00000-bad.parquet"), chain(e))
      assert(SnapshotStore.headVersion(plain).contains(1L), "a failed append moved HEAD")
      assert(Files.list(plain.resolve("_snapshots/manifests")).count() == partsBefore,
        "a failed append left a manifest part behind")
      spark.conf.set(key, "true")
      try {
        assert(SnapshotStore.commitAppend(spark, plain, adds.head) == 2L)
        assert(SnapshotStore.commitAppend(spark, stats, adds(1)) == 2L)
      } finally spark.conf.set(key, "false")
      // the two tables' good files differ only in their writers' uuids
      def byDir(m: Map[String, Long]) = m.map { case (f, n) => f.split('/').take(2).mkString("/") -> n }
      val footer = byDir(entries(plain, 2L))
      val distributed = byDir(entries(stats, 2L))
      assert(footer == Map("data/b0" -> 1L, "data/b1" -> 2L, "data/bad" -> 0L),
        s"footer path: $footer")
      assert(footer == distributed,
        s"footer path committed $footer, the distributed path $distributed")
    } finally Seq(plain, stats).foreach(IndexStore.deleteRecursively)
  }

  test("the part-entry attribution guard fails on a corrupt manifest part even with ignoreCorruptFiles on") {
    import spark.implicits._
    val root = Files.createTempDirectory("corrupt-part")
    val key = "spark.sql.files.ignoreCorruptFiles"
    try {
      SnapshotStore.commitAppend(spark, root,
        Seq(writeFile(root, "data/b0", Seq((1L, "a")).toDF("k", "p")))) // v1
      SnapshotStore.commitAppend(spark, root,
        Seq(writeFile(root, "data/b1", Seq((2L, "b")).toDF("k", "p")))) // v2
      val part = SnapshotStore.readList(root, 2L).get.last.mpath
      Files.list(root.resolve(part)).iterator().asScala.foreach { f =>
        val n = f.getFileName.toString
        if (n.endsWith(".crc")) Files.delete(f)
        else if (n.endsWith(".parquet")) Files.write(f, "garbage".getBytes("UTF-8"))
      }
      SnapshotStore.clearPartCaches()
      spark.conf.set(key, "true")
      val e = intercept[IllegalArgumentException](SnapshotStore.filesAt(spark, root, 2L))
      assert(e.getMessage.contains("attribution failed") &&
        e.getMessage.contains(part.split('/').last), e.getMessage)
    } finally {
      spark.conf.set(key, "false")
      SnapshotStore.clearPartCaches()
      IndexStore.deleteRecursively(root)
    }
  }
}
