package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{DedupQueries => D, SimilarityQueries => S}

/** corpus_batch: one closed-loop client runs a fixed `SparkEntry.queries`
  * mix over a generated tweet corpus, round after round in a seeded order,
  * through the noop sink. Set-up runs the mix once writing every result
  * as parquet (the outputs the caller checks against the DuckDB oracle),
  * which also builds the persisted indexes. */
object CorpusBatch {

  /** The public index build counters the mix can move. */
  def indexBuilds(): Long = Seq(D.bandBuildCount, D.lineBaseBuildCount, S.embKeyBuildCount,
    S.ivfTrainCount, S.ivfIngestTrainCount, S.pqBuildCount, S.pqIngestBuildCount,
    S.clusteredBuildCount).map(_.get.toLong).sum

  private final case class Exec(query: String, ms: Double, ok: Boolean)

  def run(spark: SparkSession, tracer: Tracer, args: Harness.Args, trace: Boolean,
          res: Harness.Result): Unit = {
    import Harness._
    val dir = args("data")
    val out = Paths.get(args("out"))
    val mix = args("mix").split(",").toSeq
    // a traced run adds a traced window of the same length after the untraced one
    val seconds = args.int("seconds").toDouble

    // ---- set-up: the checked round, which builds the indexes ----
    var indexBuildMs = 0.0
    val outRows = scala.collection.mutable.Map.empty[String, Long]
    for (q <- mix) {
      val before = indexBuilds()
      val path = out.resolve("outputs").resolve(q).toString
      val (r, ms) = timed(SparkEntry.queries(q)(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(path))
      if (indexBuilds() > before) indexBuildMs += ms
      res.info(s"setup_ms.$q") = f"$ms%.0f"
      r.left.foreach(e => res.info(s"setup_failure.$q") = e.toString)
      if (r.isRight) outRows(q) = spark.read.parquet(path).count()
    }
    def noop(q: String): Unit =
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    val tS = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    res.info("setup_at_ms.checked") = f"${Tracer.nowMs() - tS}%.0f"
    for (_ <- 1 until args.int("warmup-rounds"); q <- mix) timed(noop(q))
    res.info("setup_at_ms.warm") = f"${Tracer.nowMs() - tS}%.0f"
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj((mix :+ "q17_cosine_topk").distinct.flatMap(q => SparkEntry.oracleSql.get(q).map(s => q -> Json.str(s)))))

    // ---- timed phases: untraced, then (when tracing) traced ----
    val rng = new scala.util.Random(args.int("seed"))
    var cpuS = 0.0 // process CPU seconds of the last phase
    def phase(): (Seq[Exec], Seq[Double]) = {
      val execs = Seq.newBuilder[Exec]
      val rounds = Seq.newBuilder[Double]
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < seconds * 1e9) {
        val r0 = System.nanoTime()
        for (q <- rng.shuffle(mix)) {
          val (r, ms) = timed(tracer.span("query", q)(noop(q)))
          execs += Exec(q, ms, r.isRight)
        }
        rounds += (System.nanoTime() - r0) / 1e9
      }
      cpuS = processCpuS() - cpu0
      (execs.result(), rounds.result())
    }
    def e2e(execs: Seq[Exec], into: collection.mutable.Map[String, Double]): Unit = {
      // each query weighs the same: the geometric mean of per-query medians
      val medians = execs.groupBy(_.query).values.map(xs => median(xs.map(_.ms)))
      into("latency_ms") = math.exp(medians.map(math.log).sum / medians.size)
      into("cpu_ms_per_op") = cpuS * 1000 / execs.size
    }

    res.firstTimedMs = Tracer.nowMs()
    val buildsBefore = indexBuilds()
    val (plain, plainRounds) = phase()
    e2e(plain, res.e2e)
    var all = plain
    var rounds = plainRounds
    if (trace) {
      val gc0 = gcTotals()
      tracer.enabled = true
      val (traced, tracedRounds) = phase()
      tracer.enabled = false
      val gc1 = gcTotals()
      tracer.flush()
      e2e(traced, res.e2eTraced)
      layerMetrics(tracer, traced, tracedRounds, outRows.toMap, res)
      res.layer("jvm.gc_count") = (gc1._1 - gc0._1).toDouble
      res.layer("jvm.gc_s") = gc1._2 - gc0._2
      all = plain ++ traced
      rounds = tracedRounds
    }
    res.layer("index.builds_timed") = (indexBuilds() - buildsBefore).toDouble
    res.layer("index.build_s") = indexBuildMs / 1000
    res.layer("operators.round_s") = median(rounds)
    res.e2e("retained_heap_mb") = retainedHeapMb()
    res.attempted = all.size
    res.failed = all.count(!_.ok)
    for ((q, xs) <- all.groupBy(_.query)) {
      res.info(s"execs.$q") = xs.size.toString
      res.info(s"ms.$q") = xs.map(e => f"${e.ms}%.0f").mkString(",")
    }

    if (trace) kernels(spark, tracer, dir, res)
  }

  private def layerMetrics(tracer: Tracer, execs: Seq[Exec], rounds: Seq[Double],
                           outRows: Map[String, Long], res: Harness.Result): Unit = {
    import Harness.median
    val spans = tracer.spans.asScala.filter(_.kind == "query").toSeq
    val bySpan = tracer.jobs.values.groupBy(_.span)
    val n = math.max(1, spans.size).toDouble
    val jobsOf = spans.map(s => s -> bySpan.getOrElse(s.id, Nil))
    val agg = tracer.stageSum(jobsOf.flatMap(_._2))
    val L = res.layer
    L("operators.jobs_per_query") = jobsOf.map(_._2.size).sum / n
    L("operators.stages_per_query") = jobsOf.map(_._2.map(_.stageIds.size).sum).sum / n
    L("operators.tasks_per_query") = agg.tasks / n
    L("operators.shuffle_read_bytes") = agg.shuffleRead / n
    L("operators.shuffle_write_bytes") = agg.shuffleWrite / n
    L("operators.spill_bytes") = agg.spill / n
    L("operators.executor_cpu_s") = agg.cpuNs / 1e9 / n
    L("operators.driver_gap_s") = jobsOf.map { case (s, js) => tracer.uncoveredMs(s, js) }.sum / 1000 / n
    L("tables.input_bytes") = agg.inputBytes / n
    L("tables.input_rows") = agg.inputRows / n
    val rowsOut = execs.map(e => outRows.getOrElse(e.query, 0L)).sum
    L("tables.rows_read_per_row_out") = if (rowsOut == 0) 0.0 else agg.inputRows.toDouble / rowsOut
    for ((q, xs) <- execs.groupBy(_.query)) L(s"query.${q}_s") = median(xs.map(_.ms / 1000))
  }

  /** Wall ns per row of the `kernel` expression over column `column` of
    * `input`, replicated `reps` times and cached so that a kernel run lasts
    * well beyond job start-up: the median of three noop-sink writes of the
    * kernel's projection minus the median of three of the column alone, the
    * same job and scan without the kernel. Every write is recorded as a
    * kernel span. */
  def kernelNsPerRow(tracer: Tracer, name: String, input: DataFrame, reps: Int, column: String,
                     kernel: String, res: Harness.Result): Double = {
    val spark = input.sparkSession
    val df = input.select(column).crossJoin(spark.range(reps).toDF("rep")).select(column)
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val rows = df.count().toDouble
    def medianMs(label: String, c: Column): Double = Harness.median((1 to 3).map { _ =>
      val t0 = Tracer.nowMs()
      df.select(c).write.format("noop").mode("overwrite").save()
      val ms = Tracer.nowMs() - t0
      tracer.record(-1, "kernel", label, t0, ms)
      ms
    })
    val scanMs = medianMs(s"$name scan", col(column))
    val kernelMs = medianMs(name, expr(kernel))
    df.unpersist()
    res.info(s"kernel_ms.$name") = f"$kernelMs%.0f with, $scanMs%.0f without, $rows%.0f rows"
    (kernelMs - scanMs) * 1e6 / rows
  }

  /** Per-row cost of the engine's native kernels over the corpus. */
  private def kernels(spark: SparkSession, tracer: Tracer, dir: String, res: Harness.Result): Unit = {
    graft.functions.TextKernels.ensureRegistered(spark)
    graft.functions.MinHash.ensureRegistered(spark)
    graft.functions.VecOps.ensureRegistered(spark)
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select(col("text"), split(col("text"), " ").as("toks"))
      .select(col("text"), col("toks"), expr("word_shingles(toks, 3)").as("sh"))
    val vecs = graft.core.Tables.load(spark, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
    val L = res.layer
    L("kernel.hashtags_ns_per_row") =
      kernelNsPerRow(tracer, "hashtags", docs, 200, "text", "hashtags(text)", res)
    L("kernel.word_shingles_ns_per_row") =
      kernelNsPerRow(tracer, "word_shingles", docs, 20, "toks", "word_shingles(toks, 3)", res)
    L("kernel.minhash_ns_per_row") =
      kernelNsPerRow(tracer, "minhash", docs, 20, "sh", "minhash_sig(sh)", res)
    L("kernel.vec_dot_ns_per_row") =
      kernelNsPerRow(tracer, "vec_dot", vecs, 400, "v", "vec_dot(v, v)", res)
  }
}
