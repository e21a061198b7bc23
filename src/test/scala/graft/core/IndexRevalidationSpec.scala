package graft.core

import java.nio.file.{Files, Path}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkJobs.jobsOf
import graft.TestSpark
import graft.operators.{SimilarityQueries => S}

/** Index revalidation at metadata price: a corpus fingerprint of
  * unchanged files and a read of an unchanged index table launch no
  * Spark job, and every change to the files they stand for — an
  * in-place same-size rewrite inside one millisecond, an added or a
  * replaced part file — is seen. */
class IndexRevalidationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Fixture = "/root/testdata/sf0.001"

  private def attrs(p: Path) = Files.readAttributes(p, classOf[BasicFileAttributes])

  /** The bytes of `df` written as one uncompressed, dictionary-free
    * parquet file: frames of one shape and fixed-width values write
    * files of one size. */
  private def parquetBytes(df: DataFrame): Array[Byte] = {
    val tmp = Files.createTempDirectory("reval-write")
    try {
      df.coalesce(1).write.option("compression", "uncompressed")
        .option("parquet.enable.dictionary", "false").parquet(tmp.resolve("out").toString)
      val part = Files.list(tmp.resolve("out")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.readAllBytes(part)
    } finally IndexStore.deleteRecursively(tmp)
  }

  private def setMtimeNs(p: Path, ns: Long): Unit =
    Files.setLastModifiedTime(p, FileTime.from(ns, TimeUnit.NANOSECONDS))

  test("a second corpusFingerprint of an unchanged file-backed frame launches no job") {
    val dir = Files.createTempDirectory("reval-fp")
    try {
      Files.write(dir.resolve("documents.parquet"),
        parquetBytes(Tables.load(spark, Fixture, "documents").select("doc_id", "text")))
      def docs = Tables.load(spark, dir.toString, "documents")
      val (cold, coldJobs) = jobsOf("reval-fp-cold")(S.corpusFingerprint(docs, "doc_id"))
      val (warm, warmJobs) = jobsOf("reval-fp-warm")(S.corpusFingerprint(docs, "doc_id"))
      assert(coldJobs > 0 && warmJobs == 0, s"$coldJobs cold jobs, $warmJobs warm")
      assert(warm == cold)
      // another plan over the same files is another key
      val (odd, oddJobs) = jobsOf("reval-fp-other-plan")(
        S.corpusFingerprint(docs.where(col("doc_id") % 2 === 1), "doc_id"))
      assert(oddJobs > 0 && odd != cold)
    } finally IndexStore.deleteRecursively(dir)
  }

  test("an in-place same-size rewrite inside one millisecond recomputes the fingerprint and rebuilds the PQ index") {
    val dir = Files.createTempDirectory("reval-pq")
    val file = dir.resolve("embeddings.parquet")
    try {
      val emb = Tables.load(spark, Fixture, "embeddings")
      Files.write(file, parquetBytes(emb))
      val ms = System.currentTimeMillis()
      setMtimeNs(file, ms * 1000000L + 100)
      def unit = Tables.load(spark, dir.toString, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
        .select(col("id"), S.unitize(col("v"), sqrt(S.dot(col("v"), col("v")))).as("v"))
      S.pqIndex(spark, dir.toString, unit)
      val built = S.pqBuildCount.get()
      val (_, warmJobs) = jobsOf("reval-pq-warm")(S.pqIndex(spark, dir.toString, unit))
      assert(warmJobs == 0 && S.pqBuildCount.get() == built)

      // ids shifted by one: same row count and shape, another id range
      val before = attrs(file)
      Files.write(file, parquetBytes(emb.withColumn("vec_id", col("vec_id") + 1)))
      setMtimeNs(file, ms * 1000000L + 700)
      val after = attrs(file)
      assert(after.size == before.size, "the rewrite must keep the file size")
      assert(after.fileKey == before.fileKey, "the rewrite must be in place")
      assert(after.lastModifiedTime.toMillis == before.lastModifiedTime.toMillis &&
        after.lastModifiedTime != before.lastModifiedTime, "the mtimes must differ inside one ms")
      S.pqIndex(spark, dir.toString, unit)
      assert(S.pqBuildCount.get() == built + 1, "the rewritten corpus must rebuild the index")
    } finally {
      IndexStore.deleteRecursively(dir)
      IndexStore.deleteRecursively(IndexStore.root("graft-pq", dir.toString))
    }
  }

  test("a frame with a non-file leaf scans on every call") {
    import spark.implicits._
    val local = Seq((3L, "a"), (5L, "b"), (9L, "c")).toDF("id", "t")
    val (a, first) = jobsOf("reval-local-1")(S.corpusFingerprint(local, "id"))
    val (b, second) = jobsOf("reval-local-2")(S.corpusFingerprint(local, "id"))
    assert(a == "3:3:9" && b == a)
    assert(first > 0 && second > 0, s"$first then $second jobs")
  }

  test("strict mode hashes the content on every call") {
    val dir = Files.createTempDirectory("reval-strict")
    try {
      Files.write(dir.resolve("documents.parquet"),
        parquetBytes(Tables.load(spark, Fixture, "documents").select("doc_id", "text")))
      def docs = Tables.load(spark, dir.toString, "documents")
      val cheap = S.corpusFingerprint(docs, "doc_id", Seq(col("text")))
      sys.props("graft.index.strict") = "true"
      try {
        for (i <- 1 to 2) {
          val (fp, jobs) = jobsOf(s"reval-strict-$i")(
            S.corpusFingerprint(docs, "doc_id", Seq(col("text"))))
          assert(fp.startsWith(cheap + ":c=") && jobs > 0, s"call $i: $fp after $jobs jobs")
        }
      } finally sys.props.remove("graft.index.strict")
    } finally IndexStore.deleteRecursively(dir)
  }

  test("a second read of an index directory launches no job; an added or a replaced part file re-infers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("reval-dir")
    val inc = dir.resolve("codes_inc")
    def batch(b: Int, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "codes").coalesce(1).write.parquet(inc.resolve(s"batch_id=$b").toString)
    /** The rows of the directory, and the jobs its read (not the collect) launched. */
    def read(group: String): (Set[(Long, String, Int)], Int) = {
      val (df, jobs) = jobsOf(group)(Tables.readParquet(spark, inc.toString))
      (df.as[(Long, String, Int)].collect().toSet, jobs)
    }
    try {
      batch(0, Seq(1L -> "a", 2L -> "b"))
      val (cold, coldJobs) = read("reval-dir-cold")
      val (warm, warmJobs) = read("reval-dir-warm")
      assert(cold == Set((1L, "a", 0), (2L, "b", 0)) && warm == cold)
      assert(coldJobs > 0 && warmJobs == 0, s"$coldJobs cold jobs, $warmJobs warm")

      batch(1, Seq(3L -> "c"))
      val (added, addedJobs) = read("reval-dir-added")
      assert(added == cold + ((3L, "c", 1)) && addedJobs > 0)

      // replace batch 0's part (and its checksum) in place with other rows
      val other = Files.createTempDirectory("reval-other")
      try {
        Seq(7L -> "z").toDF("id", "codes").coalesce(1).write.parquet(other.resolve("o").toString)
        def named(d: Path, suffix: String) = Files.list(d).iterator().asScala
          .find(p => p.getFileName.toString.endsWith(suffix)).get
        val b0 = inc.resolve("batch_id=0")
        Files.write(named(b0, ".parquet"), Files.readAllBytes(named(other.resolve("o"), ".parquet")))
        Files.write(named(b0, ".parquet.crc"), Files.readAllBytes(named(other.resolve("o"), ".parquet.crc")))
      } finally IndexStore.deleteRecursively(other)
      val (replaced, replacedJobs) = read("reval-dir-replaced")
      assert(replaced == Set((7L, "z", 0), (3L, "c", 1)) && replacedJobs > 0)
    } finally IndexStore.deleteRecursively(dir)
  }
}
