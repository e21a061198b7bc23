package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.SnapshotStreamSource

/** The streaming incremental SOURCE over the snapshot seam (VERDICT
  * r14 next #1): offsets are version numbers, micro-batches read
  * exactly the version-delta files (bounded-reads pin via the plan
  * log), commits landing mid-stream drain on the next trigger, offsets
  * survive a checkpoint restart, and rewrites refuse loudly. */
class SnapshotStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def load(root: java.nio.file.Path, n: Int, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "p").coalesce(1)
      .write.parquet(root.resolve(s"data/l$n").toString)
  }
  private def filesOf(root: java.nio.file.Path, n: Int): Seq[String] =
    SnapshotStore.dataFiles(root).filter(_.startsWith(s"data/l$n/"))

  test("drains committed versions incrementally: mid-stream commit, per-batch reads bounded by the version delta, checkpoint restart") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-ckpt")
    try {
      // a deliberately WIDE standing load (1000 extra rows): the
      // task-metrics pin below can then tell "read only the delta"
      // apart from "re-read the table" by two orders of magnitude
      load(root, 0, (100L until 1100L).map(i => (i, s"w$i")))
      load(root, 1, Seq((1L, "a"), (2L, "b")))
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
      load(root, 2, Seq((3L, "c")))
      SnapshotStore.commitAppend(spark, root, filesOf(root, 2)) // v2
      SnapshotStreamSource.planLog.clear()
      val q = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .load()
        .writeStream.format("memory").queryName("snapstream_t1")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table("snapstream_t1").count() == 1003L, "initial drain = v2 content")
        assert(spark.table("snapstream_t1").as[(Long, String)]
          .collect().filter(_._1 < 100L).sorted.toSeq ==
          Seq((1L, "a"), (2L, "b"), (3L, "c")))
        // a version committed WHILE the stream runs
        load(root, 3, Seq((4L, "d"), (5L, "e")))
        SnapshotStore.commitAppend(spark, root, filesOf(root, 3)) // v3
        // TASK-METRICS pin: the drain of v3 reads exactly the delta's
        // rows from disk — not the standing table's
        val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              recordsRead.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
        }
        spark.sparkContext.addSparkListener(listener)
        try {
          q.processAllAvailable()
          Thread.sleep(500) // listener-bus drain (private API in 4.x)
        } finally spark.sparkContext.removeSparkListener(listener)
        // the 2 delta rows plus a handful of one-row manifest-part
        // reads; a standing-table re-read would add the 1000 wide rows
        assert(recordsRead.get() < 100L,
          s"the (2,3] batch must read only the delta, read ${recordsRead.get()}")
        assert(spark.table("snapstream_t1").count() == 1005L)
        assert(spark.table("snapstream_t1").as[(Long, String)]
          .collect().filter(_._1 < 100L).sorted.toSeq ==
          Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
        // BOUNDED READS: the mid-stream batch planned exactly v3's
        // delta files, not the table
        import scala.jdk.CollectionConverters._
        val plans = SnapshotStreamSource.planLog.asScala
          .filter(_._1 == root.toString).toSeq
        val late = plans.find(p => p._2 == 2L && p._3 == 3L).getOrElse(
          fail(s"no (2,3] batch planned: $plans"))
        assert(late._4 == filesOf(root, 3).size,
          s"batch (2,3] planned ${late._4} files, expected only the delta")
        // O(delta) PLANNING: every batch on this append chain took the
        // part-level diff — the driver never held either endpoint's
        // full file list
        assert(plans.forall(_._5),
          s"append-chain batches must plan at the part level: $plans")
      } finally q.stop()
      // RESTART from the checkpoint: only the not-yet-committed tail
      // drains (offsets are durable version numbers). foreachBatch —
      // the memory sink refuses checkpoint recovery.
      load(root, 4, Seq((6L, "f")))
      SnapshotStore.commitAppend(spark, root, filesOf(root, 4)) // v4
      val drained = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      val q2 = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .load()
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.as[(Long, String)].collect().foreach(drained.add))
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        assert(drained.asScala.toSeq.sorted == Seq((6L, "f")),
          s"restart must resume at the checkpointed version, drained ${drained.asScala}")
      } finally q2.stop()
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("maxFilesPerTrigger paces a catching-up consumer: one version per batch when each load fills the budget") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-pace")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-pace-ckpt")
    try {
      // 4 committed versions, 1 file each, BEFORE the stream starts —
      // the catch-up-from-genesis shape
      load(root, 1, Seq((1L, "a")))
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
      (2 to 4).foreach { i =>
        load(root, i, Seq((i.toLong, s"r$i")))
        SnapshotStore.commitAppend(spark, root, filesOf(root, i))
      }
      SnapshotStreamSource.planLog.clear()
      SnapshotStreamSource.factoryLog.clear()
      val q = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .option("maxFilesPerTrigger", "1")
        .load()
        .writeStream.format("memory").queryName("snapstream_pace")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table("snapstream_pace").count() == 4L, "backlog fully drained")
        import scala.jdk.CollectionConverters._
        val plans = SnapshotStreamSource.planLog.asScala
          .filter(_._1 == root.toString).toSeq.sortBy(_._2)
        // the backlog drained as FOUR one-version batches, not one big
        // one
        assert(plans.map(p => (p._2, p._3)).distinct ==
          Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)),
          s"expected one version per batch, got $plans")
        assert(plans.forall(_._4 == 1), s"each batch must plan 1 file: $plans")
        // PLANNED ONCE: Spark asks every copy of a batch's scan node for
        // its partitions and reader factory; each data micro-batch
        // diffs its interval once and broadcasts one reader factory
        assert(plans.size == 4, s"each interval must be planned once: $plans")
        val factories = SnapshotStreamSource.factoryLog.asScala
          .filter(_._1 == root.toString).toSeq.sortBy(_._2)
        assert(factories.map(f => (f._2, f._3)) ==
          Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)),
          s"expected one reader factory per data micro-batch, got $factories")
      } finally q.stop()
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("a widened (declared-schema) table streams under ONE type: narrow and wide delta files drain as the declared type") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("snapstream-widen")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-widen-ckpt")
    try {
      Seq((1L, 10)).toDF("k", "m")
        .coalesce(1).write.parquet(root.resolve("data/l1").toString)
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1: m INT
      SnapshotStore.widenColumn(spark, root, "m", "bigint")            // v2
      val df = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .load()
      assert(df.schema("m").dataType == LongType,
        "stream schema must honor the declared (widened) type")
      val q = df.writeStream.format("memory").queryName("snapstream_widen")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        q.processAllAvailable() // drains the narrow int32 file as BIGINT
        // a post-widening commit with values past the int range, while
        // the stream runs
        Seq((2L, 5000000000L)).toDF("k", "m")
          .coalesce(1).write.parquet(root.resolve("data/l2").toString)
        SnapshotStore.commitAppend(spark, root,
          SnapshotStore.dataFiles(root).filter(_.startsWith("data/l2/"))) // v3
        q.processAllAvailable()
        assert(spark.table("snapstream_widen").as[(Long, Long)]
          .collect().sorted.toSeq == Seq((1L, 10L), (2L, 5000000000L)),
          "int32 and int64 delta files must drain as one BIGINT column")
      } finally q.stop()
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("manifest consolidation inside a drained interval falls back to the name diff and keeps draining (parts changed, files appended)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-consol")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-consol-ckpt")
    val saved = SnapshotStore.maxManifestParts
    try {
      load(root, 1, Seq((1L, "a")))
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
      def drain(name: String): Seq[(Long, String)] = {
        val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
        val q = spark.readStream
          .format("graft-snapshot")
          .option("path", root.toString)
          .load()
          .writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            b.as[(Long, String)].collect().foreach(got.add))
          .option("checkpointLocation", ckpt.toString)
          .start()
        try q.processAllAvailable() finally q.stop()
        import scala.jdk.CollectionConverters._
        got.asScala.toSeq.sorted
      }
      assert(drain("first") == Seq((1L, "a"))) // checkpoint offset now v1
      // with the stream STOPPED: four appends under a 2-part cap — the
      // list consolidates, so the restart's catch-up interval (1, 5] is
      // NOT part-expressible; it is still file-append-only, and the
      // name-diff fallback must drain it rather than refuse
      SnapshotStore.maxManifestParts = 2
      (2 to 5).foreach { i =>
        load(root, i, Seq((i.toLong, s"r$i")))
        SnapshotStore.commitAppend(spark, root, filesOf(root, i))
      }
      assert(SnapshotStore.readList(root, 5L).get.size <= 2,
        "fixture must actually consolidate")
      SnapshotStreamSource.planLog.clear()
      assert(drain("resume") ==
        Seq((2L, "r2"), (3L, "r3"), (4L, "r4"), (5L, "r5")))
      import scala.jdk.CollectionConverters._
      val plan = SnapshotStreamSource.planLog.asScala
        .filter(p => p._1 == root.toString && p._2 == 1L).toSeq
      assert(plan.nonEmpty && plan.forall(!_._5),
        s"a consolidated interval must take the name-diff fallback: $plan")
    } finally {
      SnapshotStore.maxManifestParts = saved
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("a rewrite inside the drained interval refuses loudly (append-only contract)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-rw")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-rw-ckpt")
    try {
      load(root, 1, Seq((1L, "a"), (2L, "b")))
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
      val q = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .load()
        .writeStream.format("memory").queryName("snapstream_t3")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable() // drains v1
        SnapshotStore.compact(spark, root, numFiles = 1) // v2 REWRITES v1's files
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty else t.getMessage +: msgs(t.getCause)
        assert(msgs(e).exists(m => m != null && m.contains("cannot express rewrites")),
          s"unexpected failure: ${msgs(e)}")
      } finally q.stop()
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("skipRewrites drains a mid-stream compaction as a no-op: same rows, no duplicates, appends resume after (VERDICT r15 #2)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-skip")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-skip-ckpt")
    try {
      load(root, 1, Seq((1L, "a"), (2L, "b")))
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
      load(root, 2, Seq((3L, "c")))
      SnapshotStore.commitAppend(spark, root, filesOf(root, 2)) // v2
      val q = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .option("skipRewrites", "true")
        .load()
        .writeStream.format("memory").queryName("snapstream_skip")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable() // drains v2 content
        SnapshotStore.compact(spark, root, numFiles = 1) // v3: rewrite, op="replace"
        load(root, 4, Seq((4L, "d")))
        SnapshotStore.commitAppend(spark, root,
          SnapshotStore.dataFiles(root).filter(_.startsWith("data/l4/"))) // v4
        q.processAllAvailable() // compaction skipped, append drained
        val got = spark.table("snapstream_skip").as[(Long, String)]
          .collect().sorted.toSeq
        assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
          s"compaction must drain as a no-op, appends after it normally: $got")
      } finally q.stop()
      // a FRESH consumer walking the whole history (compaction inside)
      // converges to exactly HEAD content — no loss, no double-count
      val ckpt2 = java.nio.file.Files.createTempDirectory("snapstream-skip-ckpt2")
      val q2 = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .option("skipRewrites", "true")
        .load()
        .writeStream.format("memory").queryName("snapstream_skip2")
        .option("checkpointLocation", ckpt2.toString)
        .start()
      try {
        q2.processAllAvailable()
        assert(spark.table("snapstream_skip2").as[(Long, String)]
          .collect().sorted.toSeq ==
          Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
          "a fresh consumer over a compacted history drains HEAD content exactly")
      } finally {
        q2.stop()
        IndexStore.deleteRecursively(ckpt2)
      }
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("skipRewrites still refuses a REAL content rewrite (merge) — only provably row-preserving replaces drain") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-skip-rw")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-skip-rw-ckpt")
    try {
      load(root, 1, Seq((1L, "a"), (2L, "b"), (3L, "c")))
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root),
        statsCols = Seq("k")) // v1
      val q = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .option("skipRewrites", "true")
        .load()
        .writeStream.format("memory").queryName("snapstream_skip_rw")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable() // drains v1
        // v2: a CONTENT rewrite — k=2 deleted via COW merge (op "merge")
        SnapshotStore.mergeCow(spark, root,
          Seq((2L, "b", true)).toDF("k", "p", "_delete"), keyCol = "k")
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty else t.getMessage +: msgs(t.getCause)
        assert(msgs(e).exists(m => m != null &&
          m.contains("provably content-preserving") && m.contains("'merge'")),
          s"unexpected failure: ${msgs(e)}")
      } finally q.stop()
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("skipRewrites offsets survive a checkpoint restart across the compaction boundary") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-skip-ckptr")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-skip-ckptr-c")
    try {
      load(root, 1, Seq((1L, "a"), (2L, "b")))
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
      val out1 = root.resolve("drained_a").toString
      val out2 = root.resolve("drained_b").toString
      def start(out: String) = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .option("skipRewrites", "true")
        .load()
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) => b.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt.toString)
        .start()
      val q1 = start(out1)
      try { q1.processAllAvailable() } finally q1.stop() // checkpoint at v1
      // maintenance + an append land while NO consumer runs
      SnapshotStore.compact(spark, root, numFiles = 1) // v2: rewrite
      load(root, 3, Seq((3L, "c")))
      SnapshotStore.commitAppend(spark, root, filesOf(root, 3)) // v3
      // the restarted consumer resumes at the checkpointed version and
      // drains ACROSS the rewrite: compaction skipped, append streamed,
      // nothing re-read
      val q2 = start(out2)
      try {
        q2.processAllAvailable()
        val got = spark.read.parquet(out2).as[(Long, String)]
          .collect().sorted.toSeq
        assert(got == Seq((3L, "c")),
          s"restart must drain exactly the post-checkpoint append: $got")
      } finally q2.stop()
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("cdcFeed streams a MOR-DELETE table: delete keys drain as retraction rows, folds as no-ops, a late post-fold delete folds downstream (VERDICT r16 #1)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, max_by, struct, lit}
    val root = java.nio.file.Files.createTempDirectory("snapstream-mor")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-mor-ckpt")
    try {
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "p")
        .coalesce(1).write.parquet(root.resolve("data/base").toString)
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root),
        statsCols = Seq("k")) // v1: plain base
      val q = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .option("cdcFeed", "true")
        .load()
        .writeStream.format("memory").queryName("snapstream_mor")
        .option("checkpointLocation", ckpt.toString)
        .start()
      def resolved() = spark.table("snapstream_mor")
        .withColumn("_s", coalesce(col("_seq"), lit(0L)))
        .groupBy("k")
        .agg(max_by(struct(col("p"), col("_tombstone")), col("_s")).as("w"))
        .where(!col("w._tombstone"))
        .select(col("k"), col("w.p").as("p"))
        .as[(Long, String)].collect().sorted.toSeq
      try {
        q.processAllAvailable() // drains v1: 5 data rows, _tombstone false
        assert(spark.table("snapstream_mor").count() == 5L)
        assert(spark.table("snapstream_mor")
          .where(col("_tombstone") === true).count() == 0L)
        // v2 + v3: two MOR delete batches — each drains as ONE
        // retraction row carrying its commit version as _seq
        SnapshotStore.deleteMor(spark, root, Seq(2L).toDF("k"), "k") // v2
        q.processAllAvailable()
        SnapshotStore.deleteMor(spark, root, Seq(4L).toDF("k"), "k") // v3
        q.processAllAvailable()
        val tombs = spark.table("snapstream_mor")
          .where(col("_tombstone") === true)
          .select(col("k"), col("_seq")).as[(Long, Long)].collect().sorted.toSeq
        assert(tombs == Seq((2L, 2L), (4L, 3L)),
          s"delete keys must drain with their commit version as _seq: $tombs")
        assert(resolved() == Seq((1L, "a"), (3L, "c"), (5L, "e")),
          "downstream fold must equal readAtMor")
        assert(resolved() == SnapshotStore.readAtMor(spark, root, Some(3L), "k")
          .as[(Long, String)].collect().sorted.toSeq)
        // v4: the FOLD — re-materializes data-minus-tombstones; the
        // feed already carries that state, so it drains as a NO-OP
        SnapshotStore.foldMor(spark, root, "k", numFiles = 1,
          statsCols = Seq("k"))
        q.processAllAvailable()
        assert(spark.table("snapstream_mor").count() == 7L,
          "a fold must not re-stream resolved content")
        // v5: a LATE delete arriving AFTER the fold still folds
        // downstream (its _seq beats every data row's 0)
        SnapshotStore.deleteMor(spark, root, Seq(5L).toDF("k"), "k") // v5
        q.processAllAvailable()
        assert(resolved() == Seq((1L, "a"), (3L, "c")),
          "a post-fold delete must retract downstream")
        assert(resolved() == SnapshotStore.readAtMor(spark, root, None, "k")
          .as[(Long, String)].collect().sorted.toSeq,
          "feed resolution must equal readAtMor at HEAD")
      } finally q.stop()
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("cdcFeed streams a DELETION-VECTOR table: named positions drain as derived retractions, folds as no-ops, post-fold DVs keep draining (VERDICT r17 #1)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, max_by, struct, lit}
    val root = java.nio.file.Files.createTempDirectory("snapstream-dv")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-dv-ckpt")
    try {
      // THREE range-clustered files; `p` NULL on k % 7 == 0 so the
      // positional identity is exercised where key equality goes blind
      (1L to 30L).map(k => (k, if (k % 2 == 0) "a" else "b",
          if (k % 7 == 0) null else s"p$k"))
        .toDF("k", "grp", "p")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k")
        .write.parquet(root.resolve("data/load1").toString)
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root),
        statsCols = Seq("k")) // v1
      val q = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .option("cdcFeed", "true")
        .load()
        .writeStream.format("memory").queryName("snapstream_dv")
        .option("checkpointLocation", ckpt.toString)
        .start()
      def resolved() = spark.table("snapstream_dv")
        .withColumn("_s", coalesce(col("_seq"), lit(0L)))
        .groupBy("k")
        .agg(max_by(struct(col("grp"), col("p"), col("_tombstone")), col("_s")).as("w"))
        .where(!col("w._tombstone"))
        .select(col("k"), col("w.grp").as("grp"), col("w.p").as("p"))
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      def viaDv(v: Option[Long]) = SnapshotStore.readAtDv(spark, root, v)
        .select("k", "grp", "p")
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      try {
        q.processAllAvailable() // drains v1: 30 data rows
        assert(spark.table("snapstream_dv").count() == 30L)
        assert(spark.table("snapstream_dv")
          .where(col("_tombstone") === true).count() == 0L)
        // v2: multi-column positional delete (k 11-14 ∩ grp a = 12, 14;
        // k=14 has a NULL payload — a key-less shape) — the retraction
        // rows are DERIVED from the named base file's positions, so
        // they carry FULL payload and _seq = the vector's commit version
        SnapshotStore.deleteDv(spark, root,
          col("grp") === "a" && col("k").between(11L, 14L)) // v2
        q.processAllAvailable()
        val t2 = spark.table("snapstream_dv")
          .where(col("_tombstone") === true)
          .select(col("k"), col("grp"), col("_seq"))
          .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
        assert(t2 == Seq((12L, "a", 2L), (14L, "a", 2L)),
          s"derived retractions must carry payload + the DV commit as _seq: $t2")
        assert(resolved() == viaDv(Some(2L)),
          "feed resolution must equal readAtDv at v2")
        // v3: a second vector ACCUMULATES (different file, k=25 odd)
        SnapshotStore.deleteDv(spark, root,
          col("grp") === "b" && col("k") === 25L) // v3
        q.processAllAvailable()
        assert(spark.table("snapstream_dv")
          .where(col("_tombstone") === true).count() == 3L)
        assert(resolved() == viaDv(Some(3L)),
          "feed resolution must equal readAtDv across accumulated vectors")
        // v4: the FOLD — rewrites only the named files; the feed
        // already carries data-minus-positions, so it drains as a NO-OP
        SnapshotStore.foldDv(spark, root, numFiles = 3,
          statsCols = Seq("k"))
        q.processAllAvailable()
        assert(spark.table("snapstream_dv").count() == 33L,
          "a DV fold must not re-stream resolved content")
        // v5: a LATE vector AFTER the fold — its positions point into
        // the FOLDED files; the derived retraction still folds downstream
        SnapshotStore.deleteDv(spark, root, col("k") === 7L) // v5 (NULL payload)
        q.processAllAvailable()
        val late = spark.table("snapstream_dv")
          .where(col("_tombstone") === true && col("_seq") === 5L)
          .select(col("k")).as[Long].collect().toSeq
        assert(late == Seq(7L), s"post-fold DV must drain: $late")
        assert(resolved() == viaDv(None),
          "feed resolution must equal readAtDv at HEAD")
        assert(resolved().size == 26)
      } finally q.stop()
      // plain mode still refuses a DV interval: positions have no
      // replayable file representation without the derivation
      val ckpt2 = java.nio.file.Files.createTempDirectory("snapstream-dv-ckpt2")
      val q2 = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .option("startVersion", "4") // above the fold: (4,5] is a pure DV append
        .load()
        .writeStream.format("memory").queryName("snapstream_dv_plain")
        .option("checkpointLocation", ckpt2.toString)
        .start()
      try {
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
        assert(e.getMessage.contains("deletion-vector") ||
          Option(e.getCause).exists(_.getMessage.contains("deletion-vector")),
          s"plain mode must keep the refusal: ${e.getMessage}")
      } finally {
        q2.stop()
        IndexStore.deleteRecursively(ckpt2)
      }
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("cdcFeed enforces the DV driver bound (VERDICT r18 wrong #2): an over-threshold DV interval refuses loudly naming the fold; the tiny-vector path unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-dvbound")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-dvbound-ckpt")
    try {
      (1L to 30L).map(k => (k, s"p$k")).toDF("k", "p")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k")
        .write.parquet(root.resolve("data/load1").toString)
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root),
        statsCols = Seq("k")) // v1
      SnapshotStore.deleteDv(spark, root, col("k").between(5L, 14L)) // v2: 10 positions
      // tiny-vector happy path: 10 positions under the default bound
      val q = spark.readStream.format("graft-snapshot")
        .option("path", root.toString).option("cdcFeed", "true").load()
        .writeStream.format("memory").queryName("snapstream_dvbound")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        q.processAllAvailable()
        assert(spark.table("snapstream_dvbound")
          .where(col("_tombstone") === true).count() == 10L)
      } finally q.stop()
      // the SAME interval past a lowered bound: the metadata-side count
      // (manifest n_rows, no vector read) refuses loudly before any
      // driver collect, naming the fold. The bound is THIS stream's own
      // reader option (ADVICE r19 #3) — the global default var is
      // untouched, so a concurrently-running stream keeps its bound
      val ckpt2 = java.nio.file.Files.createTempDirectory("snapstream-dvbound-c2")
      val q2 = spark.readStream.format("graft-snapshot")
        .option("path", root.toString).option("cdcFeed", "true")
        .option("dvFeedMaxPositions", "5").load()
        .writeStream.format("memory").queryName("snapstream_dvbound2")
        .option("checkpointLocation", ckpt2.toString).start()
      try {
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(m => m.contains("deletion-vector positions")
            && m.contains("foldDv")),
          s"over-bound DV interval must refuse naming the fold: ${msgs(e)}")
      } finally {
        q2.stop()
        IndexStore.deleteRecursively(ckpt2)
      }
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("cdcFeed streams a merge-on-read table between AND across folds: raw delta rows + _seq, downstream argmax equals readAtCdc (VERDICT r15 #3)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, max_by, struct, lit}
    val root = java.nio.file.Files.createTempDirectory("snapstream-cdc")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-cdc-ckpt")
    try {
      Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("k", "p", "ord")
        .coalesce(1).write.parquet(root.resolve("data/base").toString)
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root),
        statsCols = Seq("k")) // v1: plain base
      val q = spark.readStream
        .format("graft-snapshot")
        .option("path", root.toString)
        .option("cdcFeed", "true")
        .load()
        .writeStream.format("memory").queryName("snapstream_cdc")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable() // drains v1: base rows, _seq NULL
        assert(spark.table("snapstream_cdc").count() == 3L)
        // v2: a CDC delta (update k=2, insert k=4) — streams RAW
        SnapshotStore.commitCdcDelta(spark, root,
          Seq((2L, "b2", 2L), (4L, "d", 2L)).toDF("k", "p", "ord"), "k")
        q.processAllAvailable()
        assert(spark.table("snapstream_cdc").count() == 5L,
          "the delta's two change rows must stream raw")
        // v3: a mid-stream FOLD — collapses the pending delta; the feed
        // already carried those rows, so the fold drains as a NO-OP
        SnapshotStore.foldCdc(spark, root, "k", Seq("ord"), numFiles = 1)
        q.processAllAvailable()
        assert(spark.table("snapstream_cdc").count() == 5L,
          "a fold must not re-stream resolved content")
        // v4: a post-fold delta — k=2 updates again, k=3 arrives LATE
        // with an OLDER order stamp (must lose downstream resolution)
        SnapshotStore.commitCdcDelta(spark, root,
          Seq((2L, "b3", 3L), (3L, "c2", 0L)).toDF("k", "p", "ord"), "k")
        q.processAllAvailable()
        val drained = spark.table("snapstream_cdc")
        assert(drained.count() == 7L)
        // downstream recency fold = readAtCdc's exact semantics:
        // per-key argmax over (orderCols, _seq), base rows at _seq 0
        val resolved = drained
          .withColumn("_s", coalesce(col("_seq"), lit(0L)))
          .groupBy("k")
          .agg(max_by(struct(col("p"), col("ord")), struct(col("ord"), col("_s"))).as("w"))
          .select(col("k"), col("w.p").as("p"), col("w.ord").as("ord"))
        val viaFeed = resolved.as[(Long, String, Long)].collect().sorted.toSeq
        val viaRead = SnapshotStore.readAtCdc(spark, root, None, "k", Seq("ord"))
          .select("k", "p", "ord").as[(Long, String, Long)].collect().sorted.toSeq
        assert(viaFeed == viaRead,
          s"feed resolution must equal readAtCdc: $viaFeed vs $viaRead")
        assert(viaFeed == Seq((1L, "a", 1L), (2L, "b3", 3L), (3L, "c", 1L), (4L, "d", 2L)),
          s"late-older change must lose recency resolution: $viaFeed")
      } finally q.stop()
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("readStream.table through the SQL catalog drains version deltas; options pass through; partitioned tables stream with dir values recovered; cdcFeed refuses loudly (VERDICT r16 #7)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-sql")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-sql-ckpt")
    try {
      spark.conf.set("spark.sql.catalog.graft_lake", "graft.sql.SnapshotCatalog")
      val t = s"graft_lake.`${root.toAbsolutePath.normalize}`"
      Seq((1L, "a"), (2L, "b")).toDF("k", "p")
        .coalesce(1).write.parquet(root.resolve("data/l1").toString)
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
      graft.sources.SnapshotStreamSource.planLog.clear()
      val q = spark.readStream
        .option("maxFilesPerTrigger", "8") // reader options pass through
        .table(t)
        .writeStream.format("memory").queryName("snapstream_sql")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable() // drains v1
        assert(spark.table("snapstream_sql").count() == 2L)
        // a mid-stream commit drains as EXACTLY its delta — and a batch
        // read of the same catalog name stays live alongside
        Seq((3L, "c")).toDF("k", "p")
          .coalesce(1).write.parquet(root.resolve("data/l2").toString)
        SnapshotStore.commitAppend(spark, root,
          SnapshotStore.dataFiles(root).filter(_.startsWith("data/l2/"))) // v2
        assert(spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) == 3L)
        q.processAllAvailable()
        assert(spark.table("snapstream_sql").as[(Long, String)]
          .collect().sorted.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
        // the drained batches planned through the SAME graft-snapshot
        // machinery (plan log stamped per micro-batch)
        import scala.jdk.CollectionConverters._
        val plans = graft.sources.SnapshotStreamSource.planLog.iterator().asScala
          .filter(_._1 == root.toString).toSeq
        assert(plans.map(p => (p._2, p._3)).containsSlice(Seq((0L, 1L), (1L, 2L))),
          s"catalog stream must plan version-delta batches: $plans")
      } finally q.stop()
      // cdcFeed cannot ride the catalog binding (fixed relation schema):
      // loud refusal naming the format+path alternative
      val ckpt2 = java.nio.file.Files.createTempDirectory("snapstream-sql-c2")
      val q2 = spark.readStream.option("cdcFeed", "true").table(t)
        .writeStream.format("memory").queryName("snapstream_sql_feed")
        .option("checkpointLocation", ckpt2.toString)
      val e = intercept[Exception](q2.start().processAllAvailable())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: msgs(t.getCause)
      assert(msgs(e).exists(m => m != null && m.contains("graft-snapshot")
          && m.contains("changes")),
        s"cdcFeed refusal must name the changes namespace and the format path: ${msgs(e)}")
      IndexStore.deleteRecursively(ckpt2)
      // PARTITIONED tables stream with their dir-derived values
      // RECOVERED (round 18 — basePath rides the per-batch scan): the
      // silent-NULL shape this pins is exactly what an explicit-leaf-
      // file plan without basePath produced, with the schema guard
      // still green (names and types matched)
      val proot = java.nio.file.Files.createTempDirectory("snapstream-sql-part")
      try {
        val pt = s"graft_lake.`${proot.toAbsolutePath.normalize}/pt`"
        spark.sql(s"CREATE TABLE $pt (k BIGINT, day STRING) PARTITIONED BY (day)")
        spark.sql(s"INSERT INTO $pt VALUES (1, 'd1'), (2, 'd2')")
        val ckpt3 = java.nio.file.Files.createTempDirectory("snapstream-sql-c3")
        val q3 = spark.readStream.table(pt)
          .writeStream.format("memory").queryName("snapstream_sql_part")
          .option("checkpointLocation", ckpt3.toString)
          .start()
        try {
          q3.processAllAvailable()
          // a mid-stream partitioned INSERT drains with its dir values
          spark.sql(s"INSERT INTO $pt VALUES (3, 'd1')")
          q3.processAllAvailable()
          val got = spark.table("snapstream_sql_part")
            .as[(Long, String)].collect().sorted.toSeq
          assert(got == Seq((1L, "d1"), (2L, "d2"), (3L, "d1")),
            s"partition values must stream recovered, never NULL: $got")
        } finally q3.stop()
        IndexStore.deleteRecursively(ckpt3)
      } finally IndexStore.deleteRecursively(proot)
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("readStream.table on the catalog's `changes` namespace drains the cdcFeed: feed schema at resolution, retractions + _seq, version-pin and batch reads refuse (VERDICT r18 #1)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-sql-feed")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-sql-feed-ckpt")
    try {
      spark.conf.set("spark.sql.catalog.graft_lake", "graft.sql.SnapshotCatalog")
      val ct = s"graft_lake.changes.`${root.toAbsolutePath.normalize}`"
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").coalesce(1)
        .write.parquet(root.resolve("data/l1").toString)
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
      val q = spark.readStream.table(ct)
        .writeStream.format("memory").queryName("snapstream_changes")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable() // v1: base rows, _seq NULL, _tombstone false
        // the RELATION bound the feed schema at resolution — the
        // whole point of the changes namespace (a catalog relation's
        // output is fixed by Table.schema())
        assert(spark.table("snapstream_changes").columns.toSeq ==
          Seq("k", "v", "_seq", "_tombstone"))
        // a mid-stream MOR delete drains as a RETRACTION row stamped
        // with its commit version
        SnapshotStore.deleteMor(spark, root, Seq(1L).toDF("k"), "k") // v2
        q.processAllAvailable()
        val rows = spark.table("snapstream_changes")
          .as[(Long, Option[Double], Option[Long], Boolean)].collect().sortBy(r => (r._1, r._3))
        assert(rows.count(!_._4) == 2L, s"base rows: ${rows.toSeq}")
        val retr = rows.filter(_._4)
        assert(retr.map(r => (r._1, r._3)).toSeq == Seq((1L, Some(2L))),
          s"retraction must carry the key + commit _seq: ${rows.toSeq}")
      } finally q.stop()
      // reader options pass through the changes binding: startVersion
      // skips the base load, so only the delete's retraction drains
      val ckptSv = java.nio.file.Files.createTempDirectory("snapstream-sql-feed-sv")
      val qsv = spark.readStream.option("startVersion", "1").table(ct)
        .writeStream.format("memory").queryName("snapstream_changes_sv")
        .option("checkpointLocation", ckptSv.toString)
        .start()
      try {
        qsv.processAllAvailable()
        val got = spark.table("snapstream_changes_sv")
          .as[(Long, Option[Double], Option[Long], Boolean)].collect().toSeq
        assert(got.map(r => (r._1, r._4)) == Seq((1L, true)),
          s"startVersion=1 must drain only the v2 retraction: $got")
      } finally qsv.stop()
      IndexStore.deleteRecursively(ckptSv)
      // the feed has no version-pinned form — loud refusal
      val e1 = intercept[Exception](
        spark.sql(s"SELECT * FROM $ct VERSION AS OF 1").collect())
      assert(e1.getMessage.contains("startVersion"), e1.getMessage)
      // and no one-relation batch meaning — loud refusal naming readAtCdc
      val e2 = intercept[Exception](spark.sql(s"SELECT * FROM $ct").collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: msgs(t.getCause)
      assert(msgs(e2).exists(m => m != null &&
          (m.contains("streaming-only") || m.contains("MICRO_BATCH_READ") ||
           m.contains("does not support batch scan"))),
        s"batch read of the feed must refuse: ${msgs(e2)}")
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("cdcFeed on a PARTITIONED table recovers dir-derived values (ADVICE r18): data rows drain with partition columns non-NULL, retractions still key-only") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("snapstream-feed-part")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-feed-part-ckpt")
    try {
      spark.conf.set("spark.sql.catalog.graft_lake", "graft.sql.SnapshotCatalog")
      val root = wh.resolve("pt")
      val t = s"graft_lake.`${root.toAbsolutePath.normalize}`"
      spark.sql(s"CREATE TABLE $t (k BIGINT, day STRING) PARTITIONED BY (day)")
      spark.sql(s"INSERT INTO $t VALUES (1, 'd1'), (2, 'd2')")
      val q = spark.readStream
        .table(s"graft_lake.changes.`${root.toAbsolutePath.normalize}`")
        .writeStream.format("memory").queryName("snapstream_feed_part")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        q.processAllAvailable() // base rows
        // pre-fix shape: day drained as silent NULL (planFeedBatch's
        // scan lacked basePath; the schema guard passed because the
        // schema is user-specified) — now the dir values recover
        val base = spark.table("snapstream_feed_part")
          .as[(Long, Option[String], Option[Long], Boolean)].collect().sortBy(_._1)
        assert(base.map(r => (r._1, r._2)).toSeq ==
          Seq((1L, Some("d1")), (2L, Some("d2"))),
          s"partition values must drain recovered, never NULL: ${base.toSeq}")
        // a mid-stream INSERT keeps draining with dir values recovered
        spark.sql(s"INSERT INTO $t VALUES (3, 'd1')")
        q.processAllAvailable()
        val all = spark.table("snapstream_feed_part")
          .as[(Long, Option[String], Option[Long], Boolean)].collect()
        assert(all.filter(r => !r._4 && r._1 == 3L).map(_._2).toSeq == Seq(Some("d1")),
          s"mid-stream insert must recover dir values: ${all.toSeq}")
        // a MOR delete drains as a key-only retraction (its attempt dir
        // takes no basePath — underscore dirs and partition inference
        // don't mix; retractions are key-only by contract)
        SnapshotStore.deleteMor(spark, root, Seq(2L).toDF("k"), "k")
        q.processAllAvailable()
        val retr = spark.table("snapstream_feed_part")
          .as[(Long, Option[String], Option[Long], Boolean)].collect().filter(_._4)
        assert(retr.map(r => (r._1, r._3.isDefined)).toSeq == Seq((2L, true)),
          s"retraction must carry the key + commit _seq: ${retr.toSeq}")
      } finally q.stop()
    } finally {
      IndexStore.deleteRecursively(wh)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("writeStream.toTable lands idempotent per-epoch commits (VERDICT r18 #3): epochs append, a replayed epoch dedups on the manifest, contracts refuse loudly") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("snapstream-write")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-write-ckpt")
    try {
      spark.conf.set("spark.sql.catalog.graft_lake", "graft.sql.SnapshotCatalog")
      val root = wh.resolve("sink")
      val t = s"graft_lake.`${root.toAbsolutePath.normalize}`"
      spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING)") // v1 seed
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](
        org.apache.spark.sql.Encoders.product[(Long, String)], spark.sqlContext)
      val q = mem.toDF().toDF("k", "p").writeStream
        .option("checkpointLocation", ckpt.toString)
        .toTable(t)
      try {
        mem.addData((1L, "a"), (2L, "b"))
        q.processAllAvailable()
        mem.addData((3L, "c"))
        q.processAllAvailable()
        // two non-empty epochs = two appended versions past the seed,
        // each a stream-epoch commit of that epoch's files alone
        assert(spark.sql(s"SELECT k, p FROM $t ORDER BY k")
          .as[(Long, String)].collect().toSeq ==
          Seq((1L, "a"), (2L, "b"), (3L, "c")))
        val head = SnapshotStore.headVersion(root).get
        assert(head >= 3L, s"per-epoch commits expected, head=$head")
      } finally q.stop()
      // REPLAYED EPOCH (the torn shape): re-commit epoch 0's dir via a
      // fresh write of duplicate files — the manifest idempotence check
      // must swallow it, never double-land
      val epochDirs = SnapshotStore.filesAt(spark, root,
          SnapshotStore.headVersion(root).get)
        .filter(_.startsWith("data/stream_")).map(_.split('/')(1)).distinct
      assert(epochDirs.size >= 2, s"expected per-epoch dirs: $epochDirs")
      val countBefore = spark.sql(s"SELECT count(*) FROM $t").as[Long].head()
      val q2 = mem.toDF().toDF("k", "p").writeStream
        .option("checkpointLocation", ckpt.toString) // same checkpoint
        .toTable(t)
      try q2.processAllAvailable() finally q2.stop() // nothing new to drain
      assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() == countBefore,
        "a restart with no new data must not re-land epochs")
      // contracts, loud: complete mode, partitioned target, WAP branch
      def startFails(f: => org.apache.spark.sql.streaming.StreamingQuery): String = {
        val e = intercept[Exception] { val qq = f; try qq.processAllAvailable() finally qq.stop() }
        def msgs(x: Throwable): Seq[String] =
          if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
        msgs(e).mkString(" | ")
      }
      val cckpt = java.nio.file.Files.createTempDirectory("snapstream-write-c")
      val m1 = startFails(mem.toDF().toDF("k", "p")
        .groupBy("p").count().select(col("p"), col("count").cast("long").as("k"))
        .select("k", "p").writeStream.outputMode("complete")
        .option("checkpointLocation", cckpt.toString).toTable(t))
      assert(m1.contains("complete") || m1.contains("truncate") ||
        m1.contains("TRUNCATE"), m1)
      IndexStore.deleteRecursively(cckpt)
      // PARTITIONED targets take the stream: dynamic per-task partition
      // writers land data/<k>=<v>/ files with the data half alone in
      // the footer; batch reads recover dir values via basePath
      val proot = wh.resolve("psink")
      val pt = s"graft_lake.`${proot.toAbsolutePath.normalize}`"
      spark.sql(s"CREATE TABLE $pt (k BIGINT, p STRING) PARTITIONED BY (p)")
      val pckpt = java.nio.file.Files.createTempDirectory("snapstream-write-p")
      val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](
        org.apache.spark.sql.Encoders.product[(Long, String)], spark.sqlContext)
      val pq = mem2.toDF().toDF("k", "p").writeStream
        .option("checkpointLocation", pckpt.toString).toTable(pt)
      try {
        mem2.addData((1L, "a"), (2L, "b"))
        pq.processAllAvailable()
        mem2.addData((3L, "a"))
        pq.processAllAvailable()
        assert(spark.sql(s"SELECT k, p FROM $pt ORDER BY k")
          .as[(Long, String)].collect().toSeq ==
          Seq((1L, "a"), (2L, "b"), (3L, "a")),
          "partitioned streamed rows must read back with dir values")
        val pfiles = SnapshotStore.filesAt(spark, proot,
          SnapshotStore.headVersion(proot).get)
        assert(pfiles.forall(f => f.contains("/p=") || f.contains("_seed")),
          s"streamed files must land partition-dir shaped: $pfiles")
        // the data half alone sits in the footer (dir values recover
        // via basePath — the layout contract)
        val one = pfiles.find(_.contains("/p=")).get
        assert(spark.read.parquet(proot.resolve(one).toString)
          .columns.toSeq == Seq("k"),
          "partition values must live in the path, not the footer")
      } finally pq.stop()
      IndexStore.deleteRecursively(pckpt)
    } finally {
      IndexStore.deleteRecursively(wh)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("a RENAMED table streams through the chain-coalescing scan; a mid-stream rename fails the schema guard (restart contract)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-renamed")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-renamed-ckpt")
    try {
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").coalesce(1)
        .write.parquet(root.resolve("data/l1").toString)
      SnapshotStore.commit(spark, root, SnapshotStore.dataFiles(root)) // v1
      SnapshotStore.renameColumnMapped(spark, root, "v", "amount") // v2
      Seq((3L, 30.0)).toDF("k", "amount").coalesce(1)
        .write.parquet(root.resolve("data/l2").toString)
      SnapshotStore.commitAppend(spark, root,
        SnapshotStore.dataFiles(root).filter(_.startsWith("data/l2/"))) // v3
      val q = spark.readStream.format("graft-snapshot")
        .option("path", root.toString).load()
        .writeStream.format("memory").queryName("snapstream_renamed")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        q.processAllAvailable()
        // both file generations drain under the LOGICAL name — the
        // per-batch chain-coalescing scan, no compaction required
        assert(spark.table("snapstream_renamed").columns.toSeq ==
          Seq("k", "amount"))
        assert(spark.table("snapstream_renamed").as[(Long, Double)]
          .collect().sorted.toSeq ==
          Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
        // a MID-STREAM rename changes a logical name: the next DATA
        // batch fails the schema guard with the restart contract (the
        // metadata-only rename version itself drains as an empty delta)
        SnapshotStore.renameColumnMapped(spark, root, "amount", "amt") // v4
        Seq((4L, 40.0)).toDF("k", "amt").coalesce(1)
          .write.parquet(root.resolve("data/l3").toString)
        SnapshotStore.commitAppend(spark, root,
          SnapshotStore.dataFiles(root).filter(_.startsWith("data/l3/"))) // v5
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          q.processAllAvailable())
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("schema changed mid-stream")),
          msgs(e).mkString(" | "))
      } finally q.stop()
    } finally {
      IndexStore.deleteRecursively(root)
      IndexStore.deleteRecursively(ckpt)
    }
  }

  test("cdcFeed drains a MIXED-LAYOUT interval (ADVICE r19 #1): partition-dir files + a flat CDC-delta ledger in one batch — per-layout scans, dir values recovered, never silent NULLs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapstream-mixed").resolve("tbl")
    val ckpt = java.nio.file.Files.createTempDirectory("snapstream-mixed-ckpt")
    try {
      // a PARTITIONED catalog table (declared at birth, dir-encoded g)…
      spark.conf.set("spark.sql.catalog.graft_lake", "graft.sql.SnapshotCatalog")
      val rootStr = root.toAbsolutePath.normalize.toString
      spark.sql(s"CREATE TABLE graft_lake.`$rootStr` " +
        "(k BIGINT, v DOUBLE, g STRING) PARTITIONED BY (g)")
      spark.sql(s"INSERT INTO graft_lake.`$rootStr` " +
        "VALUES (1, 1.0, 'a'), (2, 2.0, 'b')") // v2: partition dirs
      // …takes an API CDC delta (flat ledger file) — the mixed head
      val dv = SnapshotStore.commitCdcDelta(spark, root,
        Seq((1L, 10.0, "a")).toDF("k", "v", "g"), "k") // v3: data/_cdcdelta_a3
      // one drain spans BOTH layouts in one feed batch
      val q = spark.readStream.format("graft-snapshot")
        .option("path", root.toString).option("cdcFeed", "true").load()
        .writeStream.format("memory").queryName("snapstream_mixed")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        q.processAllAvailable()
        val rows = spark.table("snapstream_mixed")
          .select("k", "v", "g", "_seq").orderBy("k", "_seq")
          .collect().map(r => (r.getLong(0), r.getDouble(1),
            Option(r.getString(2)), if (r.isNullAt(3)) -1L else r.getLong(3)))
          .toSeq
        // the dir-shaped rows recovered g from their dirs (the silent-
        // NULL bug this pins); the delta row carries its _seq stamp
        assert(rows.contains((1L, 1.0, Some("a"), -1L)), s"dir row lost: $rows")
        assert(rows.contains((2L, 2.0, Some("b"), -1L)), s"dir row lost: $rows")
        assert(rows.contains((1L, 10.0, Some("a"), dv)), s"delta row lost: $rows")
        assert(rows.forall(_._3.nonEmpty),
          s"a partition column drained as silent NULL: $rows")
      } finally q.stop()
    } finally {
      IndexStore.deleteRecursively(root.getParent)
      IndexStore.deleteRecursively(ckpt)
    }
  }
}
