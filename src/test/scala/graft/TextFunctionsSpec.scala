package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.TextQueries

/** Behavioral proof of the reference's signature operator (O5, `#\w+`
  * at TwitterDStreamTrendingHashtag.java:66) and the text-analysis
  * primitives, on hashtag-bearing text (the parquet corpus has none). */
class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def extract(texts: String*): Seq[Seq[String]] =
    texts.toDF("text").select(hashtags(col("text")).as("h"))
      .as[Seq[String]].collect().toSeq

  test("hashtags: basic extraction, order preserved") {
    assert(extract("RT #spark is #fast #spark") == Seq(Seq("#spark", "#fast", "#spark")))
  }

  test("hashtags: none / empty / null-safe") {
    assert(extract("no tags here", "") == Seq(Seq(), Seq()))
    val withNull = Seq(Some("a #b"), None).toDF("text")
      .select(hashtags(col("text")).as("h")).as[Seq[String]].collect().toSeq
    assert(withNull == Seq(Seq("#b"), Seq()))
  }

  test("hashtags: word-char boundary semantics match the reference regex") {
    // Java \w = [A-Za-z0-9_]: punctuation terminates, underscore/digits don't
    assert(extract("end#notstart #tag_1, #x-y #42") ==
      Seq(Seq("#notstart", "#tag_1", "#x", "#42")))
  }

  test("tokens + bigrams") {
    val bg = Seq("a b c d").toDF("text")
      .select(bigrams(tokens(col("text"))).as("b")).as[Seq[String]].head()
    assert(bg == Seq("a b", "b c", "c d"))
    val short = Seq("solo").toDF("text")
      .select(bigrams(tokens(col("text"))).as("b")).as[Seq[String]].head()
    assert(short == Seq())
  }

  test("shingles: distinct word 3-grams; under-length yields empty") {
    val sh = Seq("a b c d a b c d a b").toDF("text")
      .select(shingles(tokens(col("text")), 3).as("s")).as[Seq[String]].head()
    assert(sh.toSet == Set("a b c", "b c d", "c d a", "d a b"))
    val none = Seq("a b").toDF("text")
      .select(shingles(tokens(col("text")), 3).as("s")).as[Seq[String]].head()
    assert(none == Seq())
  }

  test("fingerprint: deterministic rolling hash, exact value") {
    def term(t: String): Long = t.length.toLong * 131 + t.head.toInt
    def expected(toks: Seq[String]): Long =
      toks.map(term).foldLeft(7L)((acc, v) => (acc * 31 + v) % 1000000007L)
    val fp = Seq("spark joins fast").toDF("text")
      .select(fingerprint(tokens(col("text"))).as("f")).as[Long].head()
    assert(fp == expected(Seq("spark", "joins", "fast")))
  }

  test("topTokenCount: mode frequency; repetition ratios behave") {
    val cnt = Seq("a b a c a b", "x y z", "").toDF("text")
      .select(topTokenCount(tokens(col("text"))).as("c")).as[Long].collect().toSeq
    // "a" ×3; all-distinct → 1; empty text → tokens = [""] → 1
    assert(cnt == Seq(3L, 1L, 1L))
  }

  test("q18i: first-failing-rule reasons fire per signal") {
    import org.apache.spark.sql.{SaveMode}
    val dir = java.nio.file.Files.createTempDirectory("q18i").toString
    // doc 1: "p q p q ..." — every bigram is a repeat → dup_bigrams
    // doc 2: one token interleaved with unique filler — all bigrams
    //        distinct (dup_bg = 0), m is 4/8 = 0.5 of tokens → top_token
    // doc 3: all-unique tokens → every signal zero → ok
    Seq(
      (1L, Seq.fill(10)("p q").mkString(" "), "en", "web"),
      (2L, (1 to 4).map(i => s"m u$i").mkString(" "), "en", "web"),
      (3L, (1 to 20).map(i => s"w$i").mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextQueries.q18iRepetition(spark, dir)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    assert(out(1L) == "dup_bigrams")
    assert(out(2L) == "top_token")
    assert(out(3L) == "ok")
  }

  test("q18j: shared 8-gram across split boundary flags contamination") {
    import org.apache.spark.sql.SaveMode
    // engine/oracle fingerprint, token-level (length*131 + first char,
    // rolled mod 1e9+7) — used to steer docs into q18g buckets
    def bucket(text: String): Long =
      text.split("\\s+").map(t => t.length.toLong * 131 + t.head.toInt)
        .foldLeft(7L)((a, v) => (a * 31 + v) % 1000000007L) % 100
    // filler must vary (length, first char) — the only token features the
    // hash sees; digits-only suffixes never change the bucket
    def find(prefix: String, p: Long => Boolean): String =
      Iterator.from(0)
        .map(i => s"$prefix ${('a' + i % 26).toChar.toString * (1 + i / 26 % 10)}")
        .find(t => p(bucket(t))).get
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val trainHit = find(shared, _ < 80)                     // shares s1..s8 with eval
    val evalDoc = find(shared + " zz", b => b >= 90)
    val trainClean = find((1 to 9).map(i => s"c$i").mkString(" "), _ < 80)
    val dir = java.nio.file.Files.createTempDirectory("q18j").toString
    Seq((1L, trainHit, "en", "web"), (2L, evalDoc, "en", "web"), (3L, trainClean, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextQueries.q18jDecontaminate(spark, dir)
      .select("doc_id", "n_hit", "contaminated").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet == Set(1L, 3L))           // eval doc is not a train row
    assert(out(1L)._1 >= 1L && out(1L)._2 == 1L)
    assert(out(3L) == (0L, 0L))
  }

  test("piiRedact: staged masking counts and redacts each PII kind once") {
    import graft.operators.TextQueries
    val docs = Seq(
      (1L, "mail a.b-c@sub.example.org then 10.0.0.1 call 555-123-4567"),
      (2L, "no pii here at all"),
      (3L, "two ips 1.2.3.4 and 5.6.7.8"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextQueries.piiRedact(docs)
      .select("doc_id", "n_email", "n_ip", "n_phone", "has_pii")
      .as[(Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(out(1L) == (1L, 1L, 1L, 1L))
    assert(out(2L) == (0L, 0L, 0L, 0L))
    assert(out(3L) == (0L, 2L, 0L, 1L))
    assert(out(4L) == (0L, 0L, 0L, 0L))
    // the masked text itself: all three kinds replaced by their tokens
    val red = TextQueries.piiRedact(docs).where(col("doc_id") === 1L)
    val redLen = red.select("red_len").as[Long].head()
    assert(redLen == "mail <EMAIL> then <IP> call <PHONE>".length.toLong)
  }

  test("rarityScore: corpus frequencies, hapax counting, exact ratios") {
    // corpus: "the" appears 4×, "cat"/"dog" 2× each, "zyx"/"qwv" once (hapax)
    val docs = Seq(
      (1L, "the cat the dog"),
      (2L, "the cat zyx"),
      (3L, "the dog qwv")).toDF("doc_id", "text")
    val out = TextQueries.rarityScore(docs)
      .select("doc_id", "n_tokens", "tf_sum", "n_rare")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // doc1: tf(the)*2 + tf(cat) + tf(dog) = 8+2+2 = 12; cat/dog (tf=2)
    // are rare under the tf ≤ 2 rule (hapax + dis legomena)
    assert(out(1L) == (4L, 12L, 2L))
    // doc2: 4+2+1 = 7; cat (tf=2) + zyx (hapax) rare
    assert(out(2L) == (3L, 7L, 2L))
    assert(out(3L) == (3L, 7L, 2L))
  }

  test("tokenBudgetSample: per-slice prefix sums in fp order, budget cuts deterministically") {
    val docs = Seq(
      (1L, "aa bb cc", "s1", "en"),       // 3 tokens
      (2L, "dd ee", "s1", "en"),          // 2 tokens
      (3L, "ff gg hh ii", "s1", "en"),    // 4 tokens
      (10L, "xx yy", "s2", "de"),         // separate slice
      (11L, "zz", "s2", "de")
    ).toDF("doc_id", "text", "source", "lang")
    val out = TextQueries.tokenBudgetSample(docs, budget = 5L, nParts = 3)
      .select("source", "lang", "doc_id", "n_tokens", "slice_offset", "sampled")
      .as[(String, String, Long, Long, Long, Long)].collect()
    // offsets must be the exact prefix sums of n_tokens in (fp, doc_id)
    // order within each slice, starting at 0 — recompute independently
    val fps = docs.select(col("doc_id"), fingerprint(tokens(col("text"))).as("fp"))
      .as[(Long, Long)].collect().toMap
    for ((slice, rows) <- out.groupBy(r => (r._1, r._2))) {
      val inOrder = rows.sortBy(r => (fps(r._3), r._3))
      var run = 0L
      inOrder.foreach { r =>
        assert(r._5 == run, s"slice $slice doc ${r._3}: offset ${r._5} != $run")
        assert(r._6 == (if (run < 5L) 1L else 0L), s"budget flag wrong for doc ${r._3}")
        run += r._4
      }
    }
    // slice s1 has 9 tokens against a budget of 5: at least one doc cut
    assert(out.filter(r => r._1 == "s1").map(_._6).min == 0L)
    // slice s2 (3 tokens) fits entirely
    assert(out.filter(r => r._1 == "s2").map(_._6).forall(_ == 1L))
  }

  test("sourceDrift: hand-computed total-variation distances, absent-token mass included") {
    // source A: tokens {x:2, y:1} → p = (2/3, 1/3, 0)
    // source B: tokens {y:1, z:1} → p = (0, 1/2, 1/2)
    // corpus:         {x:2, y:2, z:1} / 5 → p_c = (.4, .4, .2)
    // TVD_A = ½(|2/3−.4| + |1/3−.4| + |0−.2|) = 0.266667 (absent z!)
    // TVD_B = ½(|0−.4| + |.5−.4| + |.5−.2|)   = 0.4
    val docs = Seq(("A", "x x y"), ("B", "y z")).toDF("source", "text")
    val out = TextQueries.sourceDrift(docs)
      .select("source", "n_tokens", "n_distinct", "tvd")
      .as[(String, Long, Long, Double)].collect().toList
    assert(out == List(("A", 3L, 2L, 0.266667), ("B", 2L, 2L, 0.4)))
  }

  test("langId: argmax with first-listed-wins tie-break") {
    val profiles = Seq("aa" -> Seq("x"), "bb" -> Seq("y"), "cc" -> Seq("z"))
    val pred = Seq("y z q", "x y", "q q q").toDF("text")
      .select(langId(tokens(col("text")), profiles).as("p")).as[String].collect().toSeq
    // row1: bb=1, cc=1 tie → first-listed of the tied (bb); row2: aa/bb tie → aa
    // row3: all zero → ties at 0 → first listed (aa)
    assert(pred == Seq("bb", "aa", "aa"))
  }

  // ---- native text kernels vs the lambda pipelines of record (r21) ----

  private def refShingles(toks: org.apache.spark.sql.Column, k: Int) = {
    val joined = transform(sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*))
    array_distinct(when(size(toks) >= k, joined).otherwise(array().cast("array<string>")))
  }

  test("shingles kernel ≡ the transform/concat_ws/array_distinct reference (order, dups, edges, corpus)") {
    val edge = Seq(
      Some("a b c d"), Some("a b c a b c a b c"), Some("x y"), Some("solo"),
      Some(""), None, Some("a  b\tc"), Some("t1 t2 t3 t4 t5 t6 t7 t8"))
      .toDF("text").select(col("text"), tokens(col("text")).as("toks"))
    val corpus = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text"), tokens(col("text")).as("toks"))
    for (df <- Seq(edge, corpus); k <- Seq(2, 3, 5)) {
      val got = df.select(shingles(col("toks"), k).as("s")).as[Seq[String]].collect().toSeq
      val ref = df.select(refShingles(col("toks"), k).as("s")).as[Seq[String]].collect().toSeq
      assert(got == ref, s"shingles k=$k diverged from the lambda reference")
    }
  }

  test("bigrams kernel ≡ the transform reference") {
    val refBigrams = (t: org.apache.spark.sql.Column) =>
      when(size(t) >= 2,
        transform(sequence(lit(0), size(t) - 2),
          i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
        .otherwise(array().cast("array<string>"))
    val df = (Seq(Some("a b c b a"), Some("x"), Some(""), None) ++
        Seq.tabulate(20)(i => Some(s"w$i " * (i + 1))))
      .toDF("text").select(tokens(col("text")).as("toks"))
    val got = df.select(bigrams(col("toks")).as("b")).as[Seq[String]].collect().toSeq
    val ref = df.select(refBigrams(col("toks")).as("b")).as[Seq[String]].collect().toSeq
    assert(got == ref)
  }

  test("topTokenCount kernel ≡ the aggregate/filter reference on the corpus") {
    val refTop = (t: org.apache.spark.sql.Column) =>
      aggregate(array_distinct(t), lit(0L),
        (acc, u) => greatest(acc, size(filter(t, x => x === u)).cast("long")))
    val df = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(tokens(col("text")).as("toks"))
      .unionAll(Seq("a a a b", "", "z").toDF("text").select(tokens(col("text")).as("toks")))
    val got = df.select(topTokenCount(col("toks")).as("c")).as[Long].collect().toSeq
    val ref = df.select(refTop(col("toks")).as("c")).as[Long].collect().toSeq
    assert(got == ref)
  }

  test("word_shingles SQL: the width must be an INT literal — a column or a string raises an AnalysisException naming the function") {
    Seq((Seq("a", "b", "c"), 2)).toDF("toks", "k").createOrReplaceTempView("shingle_args")
    assert(spark.sql("SELECT word_shingles(toks, 2) AS s FROM shingle_args")
      .as[Seq[String]].collect().toSeq == Seq(Seq("a b", "b c")))
    val nonFoldable = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT word_shingles(toks, k) FROM shingle_args").collect()
    }
    assert(nonFoldable.getCondition == "NON_FOLDABLE_ARGUMENT", nonFoldable.getMessage)
    assert(nonFoldable.getMessage.contains("`word_shingles`") &&
      nonFoldable.getMessage.contains("INT"), nonFoldable.getMessage)
    val notInt = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT word_shingles(toks, '3') FROM shingle_args").collect()
    }
    assert(notInt.getCondition == "UNEXPECTED_INPUT_TYPE", notInt.getMessage)
    assert(notInt.getMessage.contains("`word_shingles`") &&
      notInt.getMessage.contains("INT") && notInt.getMessage.contains("STRING"),
      notInt.getMessage)
  }
}
