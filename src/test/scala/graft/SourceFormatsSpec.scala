package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Source-format coverage beyond parquet: the same relation read back
  * from CSV and JSON-lines with explicit schemas must match. */
class SourceFormatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("csv, json, and orc round-trip the nation table exactly") {
    val nation = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val base = Files.createTempDirectory("fmt")
    nation.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$base/csv")
    nation.coalesce(1).write.mode("overwrite").json(s"$base/json")
    nation.coalesce(1).write.mode("overwrite").orc(s"$base/orc")

    val fromCsv = spark.read.schema(nation.schema)
      .option("header", "true").csv(s"$base/csv")
    val fromJson = spark.read.schema(nation.schema).json(s"$base/json")
    val fromOrc = spark.read.orc(s"$base/orc")

    val want = nation.orderBy("n_nationkey").collect().toSeq
    assert(fromCsv.orderBy("n_nationkey").collect().toSeq == want)
    assert(fromJson.orderBy("n_nationkey").collect().toSeq == want)
    assert(fromOrc.orderBy("n_nationkey").collect().toSeq == want)
    assert(fromCsv.schema == nation.schema && fromJson.schema == nation.schema)
    // orc is self-describing: the schema must survive without being re-imposed
    assert(fromOrc.schema == nation.schema)
  }

  test("Tables.load revalidates its schema cache: a file rewritten in place inside one millisecond serves its new schema") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("schema-cache")
    // two single-file parquet payloads of one size: column `a` vs `b`
    def payload(name: String): Array[Byte] = {
      val out = dir.resolve(s"w_$name")
      spark.range(3).select(col("id").as(name)).coalesce(1).write.parquet(out.toString)
      Files.readAllBytes(Files.list(out).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get)
    }
    val (pa, pb) = (payload("a"), payload("b"))
    assert(pa.length == pb.length, "fixture: the two payloads must have one size")
    val target = dir.resolve("t.parquet")
    val ms = java.time.Instant.parse("2024-01-01T00:00:00.000Z")
    Files.write(target, pa)
    Files.setLastModifiedTime(target, FileTime.from(ms.plusNanos(100000)))
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("a"))
    // rewrite in place (same file, same size), stamped in the same millisecond
    Files.write(target, pb)
    Files.setLastModifiedTime(target, FileTime.from(ms.plusNanos(200000)))
    assume(Files.getLastModifiedTime(target).toInstant == ms.plusNanos(200000),
      "this filesystem keeps no sub-millisecond modification times")
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("b"),
      "the schema cache served a stale schema for a rewritten file")
    graft.core.IndexStore.deleteRecursively(dir)
  }

  test("kafka seam: option surface matches the reference's configuration") {
    import graft.streaming.StreamingPipelines.{SourceConfig, kafkaOptions}
    val opts = kafkaOptions(SourceConfig(format = "kafka",
      kafkaBootstrap = "broker:9092", kafkaTopic = "tweets",
      kafkaStartingOffsets = "earliest", kafkaMaxOffsetsPerTrigger = 5000L))
    // the exact knobs the reference sets (TwitterDatasetTrendingHashtag.java:64-72)
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("subscribe") == "tweets")
    assert(opts("startingOffsets") == "earliest")
    assert(opts("maxOffsetsPerTrigger") == "5000")
  }

  test("kafka seam: wire decode turns binary JSON values into typed events, drops corrupt") {
    import spark.implicits._
    import graft.streaming.StreamingPipelines
    val good = """{"event_id":7,"ts":"2024-01-01T00:00:10Z","user_id":3,"event_type":"click","value":1.5,"props":"{}"}"""
    val raw = Seq(good.getBytes("UTF-8"), "not json".getBytes("UTF-8"))
      .toDF("value") // kafka's value column is binary
    val decoded = StreamingPipelines.kafkaWireDecode(raw)
    assert(decoded.schema.fieldNames.toSeq ==
      StreamingPipelines.eventSchema.fieldNames.toSeq)
    val rows = decoded.as[StreamingPipelines.Event].collect()
    assert(rows.length == 1) // the corrupt record nulls out and is dropped
    assert(rows.head.event_id == 7L && rows.head.event_type == "click")
  }

  test("kafka seam: eventStream(format=kafka) wires the kafka data source") {
    import graft.streaming.StreamingPipelines.{SourceConfig, eventStream}
    // no connector jar in this environment, so plan construction must
    // fail at data-source LOOKUP for "kafka" — proving the seam reaches
    // Spark's source resolution with the right format (a misrouted
    // branch would fall through to the parquet reader and succeed)
    val e = intercept[Exception] {
      eventStream(spark, SourceConfig(format = "kafka", path = "/nonexistent"))
    }
    assert(e.getMessage.toLowerCase.contains("kafka"),
      s"expected kafka source-lookup failure, got: ${e.getMessage}")
  }

  test("malformed json lines follow the permissive corrupt-record policy") {
    import spark.implicits._
    val base = Files.createTempDirectory("fmt2")
    Files.write(base.resolve("data.json"),
      Seq("""{"a": 1, "b": "x"}""", """{broken""", """{"a": 2, "b": "y"}""")
        .mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType)))
    val good = spark.read.schema(schema).json(base.toString)
      .where(col("a").isNotNull).as[(Long, String)].collect().toSet
    assert(good == Set((1L, "x"), (2L, "y")))
  }
}
