package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The temp dirs harnesses write their tables, outputs and checkpoints
  * into do not outlive the JVM: a child JVM with its own
  * `java.io.tmpdir` runs one snapshot-table harness and one streaming
  * harness, then exits, and only the persisted roots with stable names
  * (`<family>/<dataset dir>`: `IndexStore.root` and
  * `Replay.stageChunks`, which later runs reuse) remain in its tmpdir. */
class HarnessTempDirSpec extends AnyFunSuite {

  test("a JVM that ran a table harness and a streaming harness leaves only stable-named roots in its tmpdir") {
    val sf = "/root/testdata/sf0.001"
    val tmp = Files.createTempDirectory("harness-tmpdir")
    val cmd = ChildJvm.command("graft.HarnessTempDirChild", Seq(sf), Seq(s"-Djava.io.tmpdir=$tmp"))
    try {
      val logFile = Files.createTempFile("harness-tmpdir", ".log")
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(logFile.toFile).start()
      val exited = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
      if (!exited) proc.destroyForcibly()
      val log = new String(Files.readAllBytes(logFile), "UTF-8")
      Files.delete(logFile)
      assert(exited && proc.exitValue() == 0, s"child failed:\n${log.takeRight(4000)}")
      assert(log.contains("[tmpdir-child] DONE"), s"child log:\n${log.takeRight(4000)}")

      val datasetKey = sf.replaceAll("[^A-Za-z0-9._-]", "_")
      def entries(p: Path): Seq[Path] = {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq finally s.close()
      }
      val left = entries(tmp)
      val stable = left.filter(e => Files.isDirectory(e.resolve(datasetKey)))
      assert(stable.nonEmpty, "the streaming harness staged no chunk root")
      assert((left diff stable).isEmpty,
        s"left behind in the child's tmpdir: ${(left diff stable).map(_.getFileName).sorted.mkString(", ")}")
    } finally graft.core.IndexStore.deleteRecursively(tmp)
  }
}

/** The child JVM of [[HarnessTempDirSpec]]: q26w's snapshot table and
  * the durable-sink streaming replay on `args(0)`, then a normal exit. */
object HarnessTempDirChild {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val spark = graft.core.GraftSession.build("local[2]", 2)
    assert(graft.operators.LayoutQueries.q26wSqlInsert(spark, sf).count() > 0)
    val out = graft.streaming.StreamingPipelines.durableSinkReplay(spark, sf)
    assert(spark.read.parquet(out).count() > 0)
    spark.stop()
    println("[tmpdir-child] DONE")
    sys.exit(0)
  }
}
