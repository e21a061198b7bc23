package graft

import java.nio.file.{Files, Paths}

/** Plan-capture main (optimization rounds): dumps `.explain("formatted")`
  * for the named declared queries into an output dir, one file per query.
  * Measurement infra only — never run by the driver, changes no query.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> [q1,q2,...]
  * (no list = every declared query; streaming-harness queries run their
  * replay first, so prefer an explicit list when iterating).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.build(
      master = s"local[$cpus]", shufflePartitions = cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
          println(s"[plans] $name OK (${txt.count(_ == '\n')} lines)")
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
