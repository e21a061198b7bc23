package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed region of the traced run. `parent` is -1 for a root span.
  * Kinds: commit, trigger, trigger.part, query, kernel, job. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, durMs: Double)

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks = 0L; var cpuNs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var inputBytes = 0L; var inputRows = 0L
}

/** One Spark job, with the harness span it was launched under (from the
  * `perfbench.span` local property) and the micro-batch it belongs to
  * (from Spark's own `streaming.sql.batchId` property). */
final case class JobRec(id: Int, span: Long, batchId: Option[Long], queryId: Option[String],
                        startMs: Double, stageIds: Seq[Int]) {
  @volatile var endMs: Double = Double.NaN
}

/** In-memory tracer, observing the program only from outside: spans are
  * the harness's own calls into the engine, jobs come from a public
  * SparkListener, triggers from a StreamingQueryListener. While disabled
  * it records nothing but streaming progress, which the untraced lag
  * metric needs. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]
  val jobs = TrieMap.empty[Int, JobRec]
  val stages = TrieMap.empty[Int, StageAgg]
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = -1L }

  /** Time `body` as a span of `kind`; jobs it launches are tagged with it. */
  def span[A](kind: String, name: String)(body: => A): A = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val id = nextId.getAndIncrement()
    val parent = current.get
    val saved = sc.getLocalProperty(SpanKey)
    current.set(id)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = nowMs()
    try body
    finally {
      spans.add(Span(id, parent, kind, name, t0, nowMs() - t0))
      current.set(parent)
      sc.setLocalProperty(SpanKey, saved)
    }
  }

  /** A span whose timing was observed elsewhere. */
  def record(parent: Long, kind: String, name: String, startMs: Double, durMs: Double): Long = {
    val id = nextId.getAndIncrement()
    spans.add(Span(id, parent, kind, name, startMs, durMs))
    id
  }

  // (query id, batch id) → trigger span, the parent of that micro-batch's jobs
  private val triggerSpans = TrieMap.empty[(String, Long), Long]

  /** A trigger span from its progress report, its `durationMs` parts as
    * children (the parts have no start time of their own in the report). */
  def recordTrigger(p: StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val id = record(-1, "trigger", s"batch ${p.batchId}", start,
      d.get("triggerExecution").map(_.toDouble).getOrElse(0.0))
    for ((part, ms) <- d if part != "triggerExecution")
      record(id, "trigger.part", part, start, ms.toDouble)
    triggerSpans.put((p.id.toString, p.batchId), id)
  }

  /** The span a job belongs to: the one its thread was in, else its trigger. */
  def parentOf(j: JobRec): Long =
    if (j.span >= 0) j.span
    else (for (q <- j.queryId; b <- j.batchId; s <- triggerSpans.get((q, b))) yield s).getOrElse(-1L)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, JobRec(e.jobId, prop(SpanKey).map(_.toLong).getOrElse(-1L),
        prop("streaming.sql.batchId").map(_.toLong), prop("sql.streaming.queryId"),
        e.time.toDouble, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val watched = new ConcurrentLinkedQueue[SparkSession]

  def install(): Unit = spark.sparkContext.addSparkListener(jobListener)

  /** Collect the progress of streams started in `session` (each session
    * has its own stream manager). */
  def watchStreams(session: SparkSession): Unit = {
    session.streams.addListener(streamListener)
    watched.add(session)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    watched.asScala.foreach(_.streams.removeListener(streamListener))
  }

  /** Block until the listener bus has delivered every posted event. */
  def flush(): Unit = {
    // the bus has no public drain; a job end posted after ours is
    // delivered in order, so wait for a marker job to be seen ended
    val marker = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = marker.countDown()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.parallelize(Seq(1), 1).count()
      marker.await(10, java.util.concurrent.TimeUnit.SECONDS)
      Thread.sleep(200)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  def stageSum(js: Iterable[JobRec]): StageAgg = {
    val out = new StageAgg
    for (j <- js; s <- j.stageIds; a <- stages.get(s)) a.synchronized {
      out.tasks += a.tasks; out.cpuNs += a.cpuNs; out.shuffleRead += a.shuffleRead
      out.shuffleWrite += a.shuffleWrite; out.spill += a.spill
      out.inputBytes += a.inputBytes; out.inputRows += a.inputRows
    }
    out
  }

  /** Wall time inside `s` not covered by any of `js` (the driver's own work). */
  def uncoveredMs(s: Span, js: Iterable[JobRec]): Double = {
    val end = s.startMs + s.durMs
    val ivs = js.filter(!_.endMs.isNaN)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, end)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    for ((a, b) <- ivs) {
      if (hi.isNaN || a > hi) {
        if (!hi.isNaN) covered += hi - lo
        lo = a; hi = b
      } else hi = math.max(hi, b)
    }
    if (!hi.isNaN) covered += hi - lo
    math.max(0.0, s.durMs - covered)
  }

  /** Every span and job as JSON lines, with self time = own time minus
    * the time of direct children (children running in parallel can
    * exceed the parent, so self time is clamped at 0). */
  def writeTrace(path: java.nio.file.Path): Unit = {
    val ss = spans.asScala.toSeq
    val jobSpans = jobs.values.toSeq.filter(!_.endMs.isNaN).map { j =>
      Span(-1000000L - j.id, parentOf(j), "job", s"job ${j.id}", j.startMs, j.endMs - j.startMs)
    }
    val all = ss ++ jobSpans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    val lines = all.sortBy(_.startMs).map { s =>
      val self = math.max(0.0, s.durMs - childMs.getOrElse(s.id, 0.0))
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Json.esc(s.name)}",""" +
        f""""start_ms":${s.startMs}%.3f,"dur_ms":${s.durMs}%.3f,"self_ms":$self%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution, comparable with Spark's event times. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}
