package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.core.SnapshotStore
import graft.streaming.StreamingPipelines

/** trend_live: the paper's live trending path with the lakehouse as the log.
  *
  * One producer thread appends a pre-generated tweet batch on a fixed
  * schedule (open loop): the batch's parquet file is written into a graft
  * table, then `SnapshotStore.commitAppend` publishes it. A `graft-snapshot`
  * stream over that table feeds `StreamingPipelines.trendingHashtagCounts`
  * (5 min / 1 min sliding windows, 300 s watermark) in update mode into a
  * `graft_lake` table through `mergeKeys`. A batch's result lag runs from
  * its scheduled due time to the end of the first trigger whose source end
  * offset covers the batch's version. */
object TrendLive {

  private final case class Rec(dueMs: Double, startMs: Double, commitMs: Double,
                               version: Long, commitEndMs: Double)

  def run(spark: SparkSession, tracer: Tracer, args: Harness.Args, trace: Boolean,
          res: Harness.Result): Unit = {
    import Harness._
    val data = Paths.get(args("data"))
    val scratch = Paths.get(args("scratch"))
    val cadence = args.int("cadence-ms").toDouble
    val warm = args.int("warmup-batches")          // closed loop
    val openWarm = args.int("open-warmup-batches") // on the schedule, not timed
    // a traced run adds a traced window of the same length after the untraced one
    val phases = if (trace) 2 else 1
    val perPhase = math.max(1, (args.int("seconds") * 1000 / cadence).toInt)
    val firstTimed = warm + openWarm
    val total = firstTimed + perPhase * phases
    val root = scratch.resolve("tweets")
    val sinkRoot = scratch.resolve("trending").toAbsolutePath.normalize
    val table = s"graft_lake.`$sinkRoot`"

    def append(i: Int): Long = {
      val rel = f"data/b$i%04d/part-00000.parquet"
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(data.resolve(f"tweets/batch_$i%04d.parquet"), dst)
      tracer.span("commit", s"commitAppend $i")(SnapshotStore.commitAppend(spark, root, Seq(rel)))
    }

    // ---- set-up: both tables, the stream, warm-up batches ----
    val tS = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def mark(k: String): Unit = res.info(s"setup_at_ms.$k") = f"${Tracer.nowMs() - tS}%.0f"
    append(0)
    mark("append0")
    spark.conf.set("spark.sql.catalog.graft_lake", "graft.sql.SnapshotCatalog")
    spark.sql(s"CREATE TABLE $table (k STRING, window_start TIMESTAMP, hashtag STRING, cnt BIGINT)")
    // the stream's state is sized to the state, not the cores (the q28t rule)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.catalog.graft_lake", "graft.sql.SnapshotCatalog")
    ss.conf.set("spark.sql.shuffle.partitions",
      spark.conf.getOption("spark.graft.stream.statePartitions").getOrElse("2"))
    tracer.watchStreams(ss)
    val tweets = ss.readStream.format("graft-snapshot")
      .option("path", root.toString)
      .option("maxFilesPerTrigger", "16")
      .load()
      .withWatermark("timestamp", "300 seconds")
    val query = StreamingPipelines.trendingHashtagCounts(tweets, "5 minutes", "1 minute")
      // the sink merges on one key column: window and hashtag packed together
      .select(concat_ws("|", col("window_start").cast("string"), col("hashtag")).as("k"),
        col("window_start"), col("hashtag"), col("cnt"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", scratch.resolve("ckpt").toString)
      .option("mergeKeys", "k")
      .trigger(Trigger.ProcessingTime(args.int("trigger-ms").toLong))
      .toTable(table)

    mark("started")
    // warm-up, closed loop: each batch is appended and drained before the
    // next, so the first (cold) triggers do not leave a backlog behind
    query.processAllAvailable()
    mark("cold_trigger")
    for (i <- 1 until warm) {
      append(i)
      query.processAllAvailable()
    }

    mark("warm")
    // ---- the open-loop producer ----
    val recs = new Array[Rec](total)
    val origin = Tracer.nowMs() + 200
    def due(i: Int): Double = origin + (i - warm) * cadence
    val tracedFrom = firstTimed + perPhase
    res.firstTimedMs = due(firstTimed)
    val gcAt = new Array[(Long, Double)](2)
    val cpuAt = new Array[Double](3) // process CPU s at each phase start, and after the drain
    @volatile var failure: Option[Throwable] = None
    val producer = new Thread(() => {
      for (i <- warm until total if failure.isEmpty) {
        val wait = due(i) - Tracer.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (i == firstTimed) cpuAt(0) = processCpuS()
        if (i == tracedFrom) cpuAt(1) = processCpuS()
        if (i == (if (trace) tracedFrom else firstTimed)) {
          gcAt(0) = gcTotals()
          tracer.enabled = trace
        }
        val start = Tracer.nowMs()
        try {
          val v = append(i)
          val end = Tracer.nowMs()
          recs(i) = Rec(due(i), start, end - start, v, end)
        } catch { case e: Exception => failure = Some(e) }
      }
    }, "perfbench-producer")
    producer.start()
    producer.join()

    val tEnd = Tracer.nowMs()
    // drain: wait until a trigger covers the last committed version
    val lastVersion = recs.filter(_ != null).map(_.version).maxOption.getOrElse(0L)
    val deadline = System.nanoTime() + 60e9.toLong
    def covered(v: Long) = tracer.progress.asScala.exists(endOffset(_) >= v)
    while (!covered(lastVersion) && System.nanoTime() < deadline && query.isActive)
      Thread.sleep(50)
    gcAt(1) = gcTotals()
    cpuAt(phases) = processCpuS()
    tracer.enabled = false
    tracer.flush()
    query.stop()
    res.e2e("retained_heap_mb") = retainedHeapMb()
    res.info("drain_ms") = f"${Tracer.nowMs() - tEnd}%.0f"

    val progress = tracer.progress.asScala.toSeq.sortBy(_.batchId)
    def lagOf(i: Int): Option[Double] = Option(recs(i)).flatMap { r =>
      progress.find(p => endOffset(p) >= r.version).map(p => triggerEndMs(p) - r.dueMs)
    }
    val timedIdx = firstTimed until total
    val lags = timedIdx.map(lagOf)
    res.attempted = timedIdx.size
    res.failed = lags.count(_.isEmpty)
    failure.foreach(e => res.info("producer_failure") = e.toString)

    def phaseMetrics(ph: Int, into: collection.mutable.Map[String, Double]): Unit = {
      val from = firstTimed + ph * perPhase
      into("latency_ms") = median((from until from + perPhase).flatMap(lagOf))
      into("cpu_ms_per_op") = (cpuAt(ph + 1) - cpuAt(ph)) * 1000 / perPhase
    }
    phaseMetrics(0, res.e2e)
    if (trace) phaseMetrics(1, res.e2eTraced)

    // ---- per-layer metrics, over the traced phase ----
    if (trace) {
      val from = recs(tracedFrom).startMs
      val rs = (tracedFrom until total).flatMap(i => Option(recs(i)))
      val commits = tracer.spans.asScala.filter(s => s.kind == "commit" && s.startMs >= from).toSeq
      val jobs = tracer.jobs.values.toSeq
      val commitJobs = commits.map(c => c -> jobs.filter(_.span == c.id))
      val n = math.max(1, commits.size).toDouble
      val L = res.layer
      L("snapshot.commit_ms_p50") = median(rs.map(_.commitMs))
      L("snapshot.commit_ms_tail") = tail("snapshot.commit_ms_tail", rs.map(_.commitMs), res)
      L("snapshot.commit_busy_s") = rs.map(_.commitMs).sum / 1000
      L("snapshot.jobs_per_commit") = commitJobs.map(_._2.size).sum / n
      L("snapshot.tasks_per_commit") = tracer.stageSum(commitJobs.flatMap(_._2)).tasks / n
      L("snapshot.driver_self_ms_per_commit") =
        commitJobs.map { case (c, js) => tracer.uncoveredMs(c, js) }.sum / n

      val ps = progress.filter(p => triggerEndMs(p) >= from)
      ps.foreach(tracer.recordTrigger)
      val dataPs = ps.filter(_.numInputRows > 0)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      L("source.latest_offset_ms_p50") = median(dataPs.map(dur(_, "latestOffset")))
      L("source.get_batch_ms_p50") = median(dataPs.map(dur(_, "getBatch")))
      L("source.backlog_versions_max") = ps.map { p =>
        val end = triggerEndMs(p)
        val head = recs.filter(r => r != null && r.commitEndMs <= end).map(_.version).maxOption
        head.map(h => math.max(0L, h - endOffset(p)).toDouble).getOrElse(0.0)
      }.maxOption.getOrElse(0.0)
      L("source.rows_per_trigger_p50") = median(dataPs.map(_.numInputRows.toDouble))
      val adds = dataPs.map(dur(_, "addBatch"))
      L("sink.add_batch_ms_p50") = median(adds)
      L("sink.add_batch_ms_tail") = tail("sink.add_batch_ms_tail", adds, res)
      val epochJobs = jobs.filter(_.batchId.isDefined).groupBy(_.batchId.get)
      L("sink.jobs_per_epoch") =
        if (epochJobs.isEmpty) 0.0 else epochJobs.values.map(_.size).sum.toDouble / epochJobs.size
      L("stream.triggers") = ps.size
      L("stream.data_trigger_ratio") = if (ps.isEmpty) 0.0 else dataPs.size.toDouble / ps.size
      val trig = dataPs.map(dur(_, "triggerExecution"))
      L("stream.trigger_ms_p50") = median(trig)
      L("stream.trigger_ms_tail") = tail("stream.trigger_ms_tail", trig, res)
      L("stream.wal_commit_ms_sum") = ps.map(dur(_, "walCommit")).sum
      L("stream.commit_offsets_ms_sum") = ps.map(dur(_, "commitOffsets")).sum
      L("stream.query_planning_ms_sum") = ps.map(dur(_, "queryPlanning")).sum
      L("stream.state_commit_ms_sum") = ps.map(_.stateOperators.map(_.commitTimeMs).sum).sum
      L("stream.state_rows_end") =
        ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
      L("stream.state_mem_bytes_end") =
        ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0)
      L("jvm.gc_count") = (gcAt(1)._1 - gcAt(0)._1).toDouble
      L("jvm.gc_s") = gcAt(1)._2 - gcAt(0)._2
      L("snapshot.table_files_end") =
        SnapshotStore.headVersion(root).map(v => SnapshotStore.filesAt(spark, root, v).size)
          .getOrElse(0).toDouble
      L("sink.table_files_end") =
        SnapshotStore.headVersion(sinkRoot).map(v => SnapshotStore.filesAt(spark, sinkRoot, v).size)
          .getOrElse(0).toDouble
    }
    res.layer("gen.late_ms_max") =
      timedIdx.flatMap(i => Option(recs(i))).map(r => r.startMs - r.dueMs).maxOption.getOrElse(0.0)

    // ---- output check: the resolved sink equals the batch answer at HEAD ----
    val tCheck = Tracer.nowMs()
    val got = SnapshotStore.readAtCdc(spark, sinkRoot, keyCol = "k", orderCols = Nil)
      .select("window_start", "hashtag", "cnt")
    val corpus = SnapshotStore.readAt(spark, root)
    val want = StreamingPipelines.trendingHashtagCounts(corpus, "5 minutes", "1 minute")
    val mismatched = got.exceptAll(want).union(want.exceptAll(got)).count()
    res.info("check_rows") = want.count().toString
    res.info("check_mismatched_rows") = mismatched.toString
    if (mismatched > 0 || failure.isDefined) res.failed = res.attempted
    res.info("check_ms") = f"${Tracer.nowMs() - tCheck}%.0f"
    res.info("lags_ms") = lags.map(_.map(x => f"$x%.0f").getOrElse("-")).mkString(",")

    if (trace)
      res.layer("kernel.hashtags_ns_per_row") =
        CorpusBatch.kernelNsPerRow(tracer, "hashtags", corpus, 150, "text", "hashtags(text)", res)
  }

  private def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)

  private def triggerEndMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble +
      Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
}
