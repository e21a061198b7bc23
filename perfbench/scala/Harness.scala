package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run inside one JVM:
  * {{{
  *   perfbench.Harness --workload <trend_live|corpus_batch> --data <dir> --out <dir>
  *                     --seconds <n> --trace <0|1> --seed <n> --cores <n>
  *                     --scratch <dir> --trace-file <path> [workload settings]
  * }}}
  * `--workload class_list` runs both workloads briefly (traced, on the
  * inputs and settings given), so that a class-data archive dumped at its
  * exit holds the classes a run loads. Writes `<out>/result.json`: the
  * run's timing samples reduced to metrics, the operation counts, and the
  * outputs' self-checks. Outputs that need the DuckDB oracle are left as
  * parquet under `<out>` for the caller to compare. */
object Harness {

  final class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  /** What a workload hands back: operation counts, end-to-end metrics of
    * the untraced (and, when tracing, the traced) timed phase, per-layer
    * metrics, and the epoch time the first timed operation started. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    var firstTimedMs = Double.NaN
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val e2eTraced = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    val out = Paths.get(args("out"))
    Files.createDirectories(out)
    val cores = args.int("cores")
    val spark = graft.core.GraftSession.build(master = s"local[$cores]", shufflePartitions = cores)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(spark)
    tracer.install()
    val res = new Result
    res.info("setup_at_ms.session") = (System.currentTimeMillis() - jvmStart).toString
    val trace = args("trace") == "1"
    args("workload") match {
      case "trend_live"   => TrendLive.run(spark, tracer, args, trace, res)
      case "corpus_batch" => CorpusBatch.run(spark, tracer, args, trace, res)
      case "class_list"   =>
        CorpusBatch.run(spark, tracer, args, trace = true, new Result)
        TrendLive.run(spark, tracer, args, trace = true, new Result)
        tracer.writeTrace(out.resolve("trace.jsonl"))
        spark.stop()
        sys.exit(0) // the archive is dumped at exit
      case w => sys.error(s"unknown workload $w")
    }
    if (trace) {
      tracer.writeTrace(Paths.get(args("trace-file")))
      for ((k, v) <- res.e2e; t <- res.e2eTraced.get(k)) res.layer(s"trace.overhead_$k") = t - v
    }
    tracer.uninstall()
    Files.writeString(out.resolve("result.json"), Json.obj(Seq(
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "first_timed_ms" -> Json.num(res.firstTimedMs),
      "e2e" -> Json.nums(res.e2e),
      "layer" -> Json.nums(res.layer),
      "info" -> Json.obj(res.info.toSeq.map { case (k, v) => k -> Json.str(v) }))))
    // the streams are stopped and the result is written: skip the
    // seconds-long orderly shutdown, the caller removes the scratch dir
    Runtime.getRuntime.halt(0)
  }

  // ---- shared measurement helpers ---------------------------------------

  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val (lo, hi) = (math.floor(r).toInt, math.ceil(r).toInt)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The `_tail` percentile: the highest of a fixed grid that still has at
    * least ten samples beyond it (a grid, so the choice stays put when the
    * sample count moves a little between runs). */
  def tailPct(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0, 60.0, 50.0).find(p => n * (100 - p) / 100 >= 10).getOrElse(50.0)

  /** The `_tail` value of `xs`; its percentile and sample count go to
    * `info` as `tail.<name>`. */
  def tail(name: String, xs: Seq[Double], res: Result): Double = {
    val p = tailPct(xs.size)
    res.info(s"tail.$name") = f"p$p%.0f of ${xs.size} samples"
    percentile(xs, p)
  }

  /** Cumulative (collections, collection seconds) over all collectors. */
  def gcTotals(): (Long, Double) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum / 1000.0)
  }

  /** Heap in use after a forced full collection, in MB. */
  def retainedHeapMb(): Double = {
    // repeated, so that blocks Spark's context cleaner frees after the
    // first collection are gone by the last
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Run `body`; return (its result or the failure, wall ms). */
  def timed[A](body: => A): (Either[Throwable, A], Double) = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Minimal JSON writing (no dependency beyond the JDK). */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: collection.Map[String, Double]): String =
    obj(m.toSeq.map { case (k, v) => k -> num(v) })
}
