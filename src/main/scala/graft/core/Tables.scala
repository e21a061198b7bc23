package graft.core

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Catalog over the driver-generated parquet star schema (TESTDATA.md).
  *
  * Spark-first posture: all tables are columnar parquet scans; predicate
  * pushdown / column pruning happen for free as long as queries stay
  * declarative. At 100 TB these would be partitioned/bucketed external
  * tables — the query code below only depends on logical names, so the
  * physical layout can change without touching operators.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Inferred-schema cache for parquet files and directories: every
  // `spark.read.parquet` call re-infers the footer schema — measured
  // as a ~45 ms driver/listing job per call — and harness queries call
  // load() several times (streaming replays dozens of times), index
  // queries read their code tables on every execution.
  // Keyed by the absolute path, the NTZ-inference conf that shapes the
  // result, and the [[fileStamp]] of the file, or of every file under a
  // directory by its relative path (a partition directory's name is
  // part of the schema): an in-place rewrite changes mtime/size, a
  // replace-by-rename changes the file key, an added or removed part
  // changes the file list, and nanosecond mtimes separate two rewrites
  // inside one millisecond — so entries cannot go stale; metadata
  // caching with revalidation, not result caching. A bounded LRU, like
  // the snapshot part caches: superseded keys of rewritten files age
  // out. Empty directories and unreadable paths fall back to plain
  // inference.
  private val schemaCache = SnapshotStore.lruCache[StructType](256)

  /** File `p`'s revalidation stamp: `name`, file key, size, mtime in ns. */
  private def fileStamp(p: Path, name: String): String = {
    val a = Files.readAttributes(p, classOf[BasicFileAttributes])
    Seq(name, String.valueOf(a.fileKey), a.size,
      a.lastModifiedTime.to(TimeUnit.NANOSECONDS)).mkString("\u0001")
  }

  /** `spark.read.parquet(path)` for a parquet file or directory, with
    * the schema inference job skipped while the files are unchanged. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = Paths.get(path).toAbsolutePath
    try {
      val stamps =
        if (Files.isRegularFile(p)) Seq(fileStamp(p, ""))
        else {
          val walked = Files.walk(p)
          try walked.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sorted
            .map(f => fileStamp(f, p.relativize(f).toString))
          finally walked.close()
        }
      if (stamps.isEmpty) spark.read.parquet(path)
      else {
        val inferNtz = spark.conf
          .getOption("spark.sql.parquet.inferTimestampNTZ.enabled").getOrElse("true")
        val key = (Seq(p.toString, inferNtz) ++ stamps).mkString("\u0000")
        val schema = Option(schemaCache.get(key)).getOrElse {
          val s = spark.read.parquet(path).schema
          schemaCache.put(key, s)
          s
        }
        spark.read.schema(schema).parquet(path)
      }
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => spark.read.parquet(path)
    }
  }

  /** A key that changes whenever `df`'s plan or any file it reads
    * changes: its plan's semantic hash plus the [[fileStamp]] of every
    * input file. None unless every leaf, subqueries' too, is a `file:`
    * parquet/file-source relation and the plan is deterministic — the
    * cases where plan and files determine the rows. */
  private[graft] def fileBackedKey(df: DataFrame): Option[String] = {
    val plan = df.queryExecution.analyzed
    val files = plan.collectWithSubqueries { case l: LeafNode => l }.map {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.location.rootPaths.forall(_.toUri.getScheme == "file") =>
          Some(h.location.inputFiles)
        case _ => None
      }
      case _ => None
    }
    if (files.isEmpty || files.contains(None) || !plan.deterministic) None
    else try {
      val stamps = files.flatten.flatten.distinct.sorted.map { f =>
        fileStamp(Paths.get(new HadoopPath(f).toUri), f)
      }
      Some((df.semanticHash().toString +: stamps).mkString("\u0000"))
    } catch { case _: java.io.IOException => None }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet stores ts as INT64 TIMESTAMP(NANOS); Spark 4 has no
    // nanosecond timestamp type and throws PARQUET_TYPE_ILLEGAL unless the
    // column is surfaced as a raw long. Runtime conf so every session
    // (including driver-owned ones calling SparkEntry.entry) is covered.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // normalizeNtz's NTZ→LTZ cast is value-preserving ONLY under a UTC
    // session (same micros ⟺ same wall clock); a driver-owned session on
    // a non-UTC JVM would silently shift instants and break oracle
    // parity. Pin it here, not just in GraftSession (ADVICE r8 #1).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = readParquet(spark, s"$dir/$name.parquet")
    val df =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        // nanos → micros by truncation (integer DIV keeps 64-bit exactness;
        // a double division would lose precision above 2^53 ns). DuckDB's
        // TIMESTAMP(NANOS) → TIMESTAMP auto-cast truncates identically.
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else raw
    normalizeNtz(df)
  }

  /** The generator has emitted timestamps both WITH and WITHOUT parquet's
    * isAdjustedToUTC flag across rounds; a foreign session (the driver's
    * smoke) reads the naive flavor as TIMESTAMP_NTZ under the default
    * `inferTimestampNTZ`. The engine computes in LTZ (UTC session)
    * regardless: an NTZ→LTZ cast under a UTC session keeps the same
    * micros, and ops NTZ rejects (unix_micros, BIGINT casts, watermark
    * arithmetic) keep working. Runtime normalization here — not only the
    * GraftSession conf — so driver-owned sessions are covered too.
    * Verify mirrors the corpus flavor back on output (oracle byte-parity). */
  private def ltzify(dt: DataType): DataType = dt match {
    case TimestampNTZType => TimestampType
    case s: StructType    => StructType(s.fields.map(f => f.copy(dataType = ltzify(f.dataType))))
    case a: ArrayType     => a.copy(elementType = ltzify(a.elementType))
    case m: MapType       => m.copy(keyType = ltzify(m.keyType), valueType = ltzify(m.valueType))
    case o                => o
  }

  def normalizeNtz(df: DataFrame): DataFrame = {
    val needed = df.schema.fields.exists(f => ltzify(f.dataType) != f.dataType)
    if (!needed) df
    else df.select(df.schema.fields.map { f =>
      val t = ltzify(f.dataType)
      if (t == f.dataType) col(f.name) else col(f.name).cast(t).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Recursively swap LTZ→NTZ — Verify uses this to mirror a naive corpus
    * flavor back onto query outputs before the parquet dump. */
  def ntzify(dt: DataType): DataType = dt match {
    case TimestampType => TimestampNTZType
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = ntzify(f.dataType))))
    case a: ArrayType  => a.copy(elementType = ntzify(a.elementType))
    case m: MapType    => m.copy(keyType = ntzify(m.keyType), valueType = ntzify(m.valueType))
    case o             => o
  }

  def denormalizeNtz(df: DataFrame): DataFrame = {
    val needed = df.schema.fields.exists(f => ntzify(f.dataType) != f.dataType)
    if (!needed) df
    else df.select(df.schema.fields.map { f =>
      val t = ntzify(f.dataType)
      if (t == f.dataType) col(f.name) else col(f.name).cast(t).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Register every table as a temp view (idempotent). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** SparkSession factory with the engine's standing config: UTC, AQE on,
  * whole-stage codegen ON (deliberately inverting the reference's
  * `spark.sql.codegen.wholeStage=false`,
  * TwitterDatasetTrendingHashtag.java:58), shuffle partitions sized for
  * the local test harness (on a real cluster this is AQE-advised), and
  * `file:` paths through [[GraftLocalFileSystem]] / [[GraftLocalFs]].
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`, static: Spark's cache of
    * compiled generated classes, keyed by their source, is split into 4
    * LRU segments of a quarter each, and a class it drops is compiled
    * (and JIT-compiled) again on its next use. Measured at local[4]:
    *  - the corpus mix (q3, q18, q18i, q16, q16c, q17, q17j) reuses 100
    *    classes a round; at Spark's default cap of 100 it recompiled 53
    *    in 7 warm rounds (24 in one round on the test fixture), at
    *    2,000 none;
    *  - the full `graft.Bench` list at sf0.001 compiles 2,878 classes
    *    in its warm-up pass. With no eviction (cap 10,000) each later
    *    pass still compiles ~690 whose source is new each run (such as
    *    a stream's watermark predicates), so ~2,200 are reused; at a
    *    cap of 2,000 a pass recompiled 2,760.
    * 4,096 holds the full list's ~2,900 per pass with room for each
    * segment's share to run over a quarter. */
  val CodegenCacheEntries = 4096

  /** Generated classes compiled in this JVM so far (each miss of the
    * codegen cache compiles one). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def build(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // The corpus parquet may carry timestamps with or without the
      // isAdjustedToUTC flag (the driver's generator has emitted both
      // flavors across rounds). The engine computes in session-time
      // TIMESTAMP (LTZ, UTC session) either way: naive micros read as
      // the same UTC wall clock, so values are unchanged — and ops that
      // require LTZ (unix_micros, BIGINT casts, watermarks) keep
      // working. Verify mirrors the corpus flavor back on output so the
      // oracle compare stays byte-exact in both worlds.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the 128-way MinHash aggregate exceeds the default 100-field
      // codegen cutoff; without this the signature stage silently runs
      // interpreted (~2× slower measured)
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // InferFiltersFromGenerate re-derives `size(arr) > 0` beneath every
      // explode and pushes it to the scan with the array-producing
      // expression tree fully inlined — for nested-lambda trees (shingles,
      // bigrams) the inlined copy re-evaluates the tokenizer per element,
      // interpreted, measured 8× on q16b. Our explode inputs carry
      // explicit cheap pre-filters instead.
      .config("spark.sql.optimizer.excludedRules",
              "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      // `file:` through the fork-free local filesystem, for FileSystem
      // and FileContext users alike. Set before the SparkContext
      // exists: Hadoop caches the first `file:` FileSystem per user
      // whatever the conf of a later lookup.
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
