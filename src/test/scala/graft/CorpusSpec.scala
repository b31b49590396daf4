package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.{TextFunctions => T}
import graft.operators.Bpe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior specs for the corpus-preparation queries (CorpusQueries):
  * PII redaction, repetition signals, TF-IDF ranking, decontamination.
  * The DuckDB oracle proves engine equivalence; these prove the operator
  * semantics on crafted inputs.
  */
class CorpusSpec extends AnyFunSuite with SparkTest {

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+1-555-[0-9]{4}"

  test("PII redaction removes every planted email and phone") {
    import spark.implicits._
    val df = Seq(
      "reach me at jane.doe+x@corp.example.org today",
      "call +1-555-0199 or mail a@b.io",
      "no pii here").toDF("txt")
    val red = df.select(
      regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>").as("r"),
      size(regexp_extract_all(col("txt"), lit(emailRe), lit(0))).as("ne"),
      size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0))).as("np"))
      .collect()
    assert(red(0).getString(0) == "reach me at <EMAIL> today")
    assert(red(1).getString(0) == "call <PHONE> or mail <EMAIL>")
    assert(red(2).getString(0) == "no pii here")
    assert(red.map(_.getInt(1)).toSeq == Seq(1, 1, 0))
    assert(red.map(_.getInt(2)).toSeq == Seq(0, 1, 0))
  }

  test("repetition signals separate repetitive from diverse documents") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"), // 1 distinct / 4 tokens
      (2L, "all tokens are different here")).toDF("doc_id", "text")
    val per = df
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("d"), max("c").as("m"))
      .orderBy("doc_id")
      .collect()
    assert(per(0).getLong(1) == 4 && per(0).getLong(2) == 1 &&
      per(0).getLong(3) == 4) // dup_ratio 0.75, top_frac 1.0
    assert(per(1).getLong(1) == 5 && per(1).getLong(2) == 5 &&
      per(1).getLong(3) == 1) // dup_ratio 0, top_frac 0.2
  }

  test("tf-idf ranks a document's distinctive term above ubiquitous ones") {
    import spark.implicits._
    // "zebra" appears only in doc 1; "common" in all three docs.
    val df = Seq(
      (1L, "common zebra zebra"),
      (2L, "common filler words"),
      (3L, "common other stuff")).toDF("doc_id", "text")
    val tf = df.select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("token"))
    val top = tf.join(dfreq, "token")
      .withColumn("rn", row_number().over(w))
      .filter(col("doc_id") === 1 && col("rn") === 1)
      .select("token").collect()
    assert(top.head.getString(0) == "zebra")
  }

  test("decontamination flags exactly the docs sharing a 5-gram with the eval set") {
    import spark.implicits._
    val eval = "alpha beta gamma delta epsilon unique tail"
    val df = Seq(
      (0L, eval), // plays the benchmark (id % 97 == 0)
      (1L, "prefix alpha beta gamma delta epsilon suffix"), // contaminated
      (2L, "completely unrelated words in this document"), // clean
      (3L, "alpha beta gamma only four tokens overlap no")) // 3-gram only → clean
      .toDF("doc_id", "text")
    val grams = df.select(col("doc_id"),
      explode(array_distinct(T.ngrams(T.tokens(col("text")), 5))).as("g"))
    val ev = grams.filter(col("doc_id") % 97 === 0).select("g").distinct()
    val flagged = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(ev), "g")
      .groupBy("doc_id").agg(countDistinct("g").as("n_shared"))
      .orderBy("doc_id").collect()
    assert(flagged.map(_.getLong(0)).toSeq == Seq(1L))
    assert(flagged.head.getLong(1) == 1L)
  }

  test("deflate ratio separates repetitive from diverse text and is deterministic") {
    import spark.implicits._
    val rep = "spam spam spam spam spam spam spam spam spam spam " * 20
    val div = (0 until 200).map(i => s"w${i * 7919 % 9973}x${i}").mkString(" ")
    val df = Seq((1L, rep), (2L, div), (3L, "")).toDF("id", "txt")
      .select(col("id"), T.deflateRatio(col("txt")).as("r"))
      .orderBy("id").collect()
    val (rRep, rDiv, rEmpty) =
      (df(0).getDouble(1), df(1).getDouble(1), df(2).getDouble(1))
    assert(rRep < 0.1, s"repetitive ratio $rRep should be tiny")
    assert(rDiv > 0.3, s"diverse ratio $rDiv should stay high")
    assert(rRep < rDiv / 3)
    assert(rEmpty == 1.0)
    // deterministic across evaluations (and vs the eval path)
    assert(graft.expressions.DeflateRatio.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(rep)) == rRep)
  }

  test("domain extraction, aggregation, and blocklist flag") {
    import spark.implicits._
    val df = Seq(
      (0L, "src1", 100L), // com
      (2L, "src1", 200L), // net -> blocked
      (5L, "src2", 300L)) // net -> blocked
      .toDF("doc_id", "source", "n_chars")
    val url = concat(
      lit("https://"), col("source"), lit(".example."),
      element_at(array(lit("com"), lit("org"), lit("net")),
        (col("doc_id") % 3).cast("int") + 1),
      lit("/p/"), col("doc_id"))
    val got = df.select(col("n_chars"), url.as("url"))
      .withColumn("domain", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
      .groupBy("domain").agg(count(lit(1)).as("n"), avg("n_chars").as("a"))
      .withColumn("blocked", col("domain").endsWith(".net"))
      .orderBy("domain").collect()
    assert(got.map(_.getString(0)).toSeq ==
      Seq("src1.example.com", "src1.example.net", "src2.example.net"))
    assert(got.map(_.getBoolean(3)).toSeq == Seq(false, true, true))
    assert(got(1).getLong(1) == 1 && got(1).getDouble(2) == 200.0)
  }

  test("stream-stream join matches clicks within the 20-minute window only") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val events = Seq(
      (1L, 7L, "click", at(0)),
      (2L, 7L, "click", at(50)),
      (3L, 7L, "purchase", at(60)), // joins click 2 (10 min) not click 1 (60)
      (4L, 8L, "purchase", at(60))) // no click for user 8
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.streaming.Streams.purchaseAfterClick(events)
      .select("purchase_id", "click_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 2L)))
  }

  test("corpus pipeline drops each planted reject for its own stage's reason") {
    import spark.implicits._
    val evalText = "one two three four five six seven" // doc 0: eval set member
    val docs = Seq(
      (0L, evalText, "en", "src1"),                              // eval: excluded
      (10L, "alpha beta gamma delta epsilon zeta", "en", "src1"), // survives
      (11L, "alpha  beta gamma   delta epsilon zeta", "en", "src1"), // dup of 10 after normalization
      (12L, "zzz one two three four five yyy qqq", "en", "src1"), // contaminated (shared 5-gram)
      (13L, "too short here", "en", "src1"),                      // quality: < 5 tokens
      (14L, "un deux trois quatre cinq six", "fr", "src1"))       // survives
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_corpus_pipeline")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // en: only doc 10 (11 deduped into it, 12 decontaminated, 13 gated, 0 eval)
    // fr: only doc 14
    assert(out == Seq(("en", 1L, 6L), ("fr", 1L, 6L)), out.toString)
  }

  test("duplicateSpans merges overlapping duplicate windows into maximal spans") {
    import spark.implicits._
    // w=3. doc 1 has dup windows at pos 0,1,2 (one span [0,5)) and pos 10
    // (separate span [10,13): gap 10-2 > w). doc 2 shares those hashes; its
    // positions 4,5 merge, 20 stands alone. Hash 99 occurs once -> ignored.
    val wins = Seq(
      (1L, 0L, 100L), (1L, 1L, 101L), (1L, 2L, 102L), (1L, 10L, 103L),
      (1L, 20L, 99L),
      (2L, 4L, 100L), (2L, 5L, 101L), (2L, 20L, 102L), (2L, 21L, 103L))
      .toDF("doc_id", "pos", "wh")
    val got = graft.operators.Dedup.duplicateSpans(wins, 3)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 5L, 3L), (1L, 10L, 13L, 1L),
      (2L, 4L, 8L, 2L), (2L, 20L, 24L, 2L)), got.mkString(","))
  }

  test("duplicateSpans counts a window repeated WITHIN one doc as duplicated") {
    import spark.implicits._
    val wins = Seq((1L, 0L, 7L), (1L, 9L, 7L), (1L, 30L, 8L))
      .toDF("doc_id", "pos", "wh")
    val got = graft.operators.Dedup.duplicateSpans(wins, 3)
      .orderBy("span_start")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 3L), (9L, 12L))) // 9 - 0 > w: two spans
  }

  test("q_dedup_substring finds the planted repeated 8-token run and nothing else") {
    import spark.implicits._
    val boiler = "a b c d e f g h" // 8 tokens, planted in docs 1 and 2
    val docs = Seq(
      (1L, s"x1 x2 $boiler x3 x4", "en", "s"),
      (2L, s"y1 y2 y3 $boiler", "en", "s"),
      (3L, "unique tokens only in this document here now today", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-substr").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_dedup_substring")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // The shared window starts at token 2 in doc 1 and token 3 in doc 2;
    // span_end = start + 8; exactly one window each (surrounding tokens
    // differ, so no neighboring window repeats).
    assert(got.toSeq == Seq((1L, 2L, 10L, 1L), (2L, 3L, 11L, 1L)), got.mkString(","))
  }

  test("q_corpus_mix anchors the scarcest-for-its-weight lang at 1.0 and hits target shares") {
    import spark.implicits._
    // en: 10 tokens, weight 40; fr: 10 tokens, weight 10 -> fr is the
    // anchor (smallest w/t), en upsamples 4x; post-mix shares 40/50 + 10/50
    // = the target 40:10.
    val docs = Seq(
      (1L, "a b c d e f g h i j", "en", "s"),
      (2L, "k l m n o p q r s t", "fr", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-mix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_corpus_mix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("en", 1L, 10L, 40L, 4.0), ("fr", 1L, 10L, 10L, 1.0)), got.mkString(","))
  }

  test("property: duplicateSpans spans are disjoint, gap-separated, and cover every dup window") {
    import spark.implicits._
    val w = 4
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      // small hash pool forces corpus-wide repeats; positions are distinct
      // per doc by construction
      val wins = (1 to 4).flatMap { doc =>
        rnd.shuffle((0 to 40).toList).take(12).map(p =>
          (doc.toLong, p.toLong, (rnd.nextInt(8) + 1).toLong))
      }
      val winsDf = wins.toDF("doc_id", "pos", "wh")
      val got = graft.operators.Dedup.duplicateSpans(winsDf, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // reference model computed directly
      val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
      val dupPos = wins.filter(x => counts(x._3) > 1)
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      // per doc: check span structure against the model
      got.groupBy(_._1).foreach { case (doc, spans) =>
        val ss = spans.sortBy(_._2)
        // disjoint with a real gap: next span's first window starts more
        // than w after the previous span's last window (= after its end)
        ss.sliding(2).foreach {
          case Array(a, b) => assert(b._2 > a._3, s"trial $trial doc $doc: $ss")
          case _ =>
        }
        // coverage: every dup window position falls inside exactly one span
        val pos = dupPos.getOrElse(doc, Nil)
        assert(ss.map(_._4).sum == pos.size, s"trial $trial doc $doc window count")
        pos.foreach(p => assert(
          ss.count(sp => p >= sp._2 && p + w <= sp._3) == 1,
          s"trial $trial doc $doc pos $p not covered once: $ss"))
      }
      assert(got.map(_._1).toSet == dupPos.filter(_._2.nonEmpty).keySet,
        s"trial $trial docs with spans")
    }
  }

  test("q_text_lm_score scores the rare-bigram doc lowest and handles short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat", "en", "s"),   // bigrams: "the cat", "cat sat"
      (2L, "the cat ran", "en", "s"),   // shares "the cat"
      (3L, "qq zz", "en", "s"),         // one bigram, unique -> low familiarity
      (4L, "solo", "en", "s"))          // no bigrams -> zeros
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_text_lm_score")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // "the cat" occurs twice; every other bigram once.
    assert(got.toSeq == Seq(
      (1L, 2L, 3L, 1.5), (2L, 2L, 3L, 1.5), (3L, 1L, 1L, 1.0), (4L, 0L, 0L, 0.0)),
      got.mkString(","))
  }

  /** Spark's string order: binary UTF-8, i.e. code point order — not
    * `String.compareTo`, which orders UTF-16 units and puts a
    * supplementary-plane symbol before U+E000..U+FFFF. */
  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int =
      java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))
  }

  /** Sequential reference BPE: symbols are code points (char_length /
    * substring), same tie-breaks (count DESC, lhs, rhs in [[utf8Order]]),
    * same greedy left-to-right non-overlapping merge, two-pointer form. */
  private def refBpe(words: Seq[(String, Long)], k: Int): Seq[(Long, String, String, Long)] = {
    var syms: Seq[(Vector[String], Long)] = words.map { case (w, n) =>
      (w.codePoints.toArray.toVector.map(cp => new String(Character.toChars(cp))), n)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var done = false
    while (step <= k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (ss, n) =>
        var i = 0
        while (i + 1 < ss.length) {
          val key = (ss(i), ss(i + 1))
          counts(key) = counts.getOrElse(key, 0L) + n
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }(
            Ordering.Tuple3(Ordering.Long, utf8Order, utf8Order)).head
        out += ((step.toLong, l, r, c))
        syms = syms.map { case (ss, n) =>
          val nb = Vector.newBuilder[String]
          var i = 0
          while (i < ss.length) {
            if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) {
              nb += (l + r); i += 2
            } else { nb += ss(i); i += 1 }
          }
          (nb.result(), n)
        }
        step += 1
      }
    }
    out.toSeq
  }

  private def mergeRows(df: DataFrame): Seq[(Long, String, String, Long)] =
    df.orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  /** learnMerges' merges plus [[Bpe.lastLearnRounds]]; `loop` forces the
    * distributed loop (Bpe.learnMergesLoop). */
  private def learn(words: DataFrame, k: Int, batch: Int = 8,
      loop: Boolean = false): (Seq[(Long, String, String, Long)], Int) = {
    val m = mergeRows(
      if (loop) Bpe.learnMergesLoop(words, k, batch = batch)
      else Bpe.learnMerges(words, k, batch = batch))
    (m, Bpe.lastLearnRounds)
  }

  /** Driver finish == forced loop (merges and schema); the driver path
    * runs no distributed round, the loop at least one. */
  private def driverEqualsLoop(words: DataFrame, k: Int,
      batch: Int = 8): Seq[(Long, String, String, Long)] = {
    val drvDf = Bpe.learnMerges(words, k, batch = batch)
    val drvRounds = Bpe.lastLearnRounds
    val loopDf = Bpe.learnMergesLoop(words, k, batch = batch)
    val loopRounds = Bpe.lastLearnRounds
    val (drv, loop) = (mergeRows(drvDf), mergeRows(loopDf))
    assert(drv == loop, s"\ndriver: $drv\nloop:   $loop")
    assert(drvDf.schema == loopDf.schema)
    assert(drvRounds == 0, s"driver finish ran $drvRounds distributed rounds")
    assert(loopRounds >= 1)
    drv
  }

  private def vocabOf(words: DataFrame): Seq[(String, Long)] =
    words.collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  test("BPE merges match the sequential reference, including self-pairs and compounds") {
    import spark.implicits._
    // 'aaaa' forces the (a,a) self-pair (greedy non-overlap: aaaa -> aa aa),
    // the classic low/lower/lowest family forces compound merges
    val words = Seq(
      ("aaaa", 10L), ("low", 6L), ("lower", 3L), ("lowest", 4L),
      ("newest", 5L), ("widest", 2L), ("x", 1L))
    val got = driverEqualsLoop(words.toDF("word", "n"), 8)
    val want = refBpe(words, 8)
    assert(got == want, s"\ngot:  $got\nwant: $want")
    // the self-pair must appear; COUNTING sees all three adjacent (a,a)
    // positions in 'aaaa' (3 x weight 10), only MERGING is non-overlapping
    assert(want.exists { case (_, l, r, n) => l == "a" && r == "a" && n == 30L })
    // and at least one later merge consumes an already-merged symbol
    assert(want.exists { case (_, l, r, _) => l.length > 1 || r.length > 1 })
  }

  test("BPE applyMerges segments words exactly as the reference merge chain") {
    import spark.implicits._
    val words = Seq(
      ("lowest", 4L), ("low", 6L), ("newest", 5L), ("aaaa", 10L), ("x", 1L))
    val merges = refBpe(words, 5).map { case (_, l, r, _) => (l, r) }
    // reference segmentation: replay the same merges sequentially
    def segment(w: String): Vector[String] =
      merges.foldLeft(w.map(_.toString).toVector) { case (ss, (l, r)) =>
        val nb = Vector.newBuilder[String]
        var i = 0
        while (i < ss.length) {
          if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) {
            nb += (l + r); i += 2
          } else { nb += ss(i); i += 1 }
        }
        nb.result()
      }
    val got = graft.operators.Bpe
      .applyMerges(words.map(_._1).toDF("word"), merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    words.map(_._1).foreach { w =>
      assert(got(w) == segment(w), s"$w: ${got(w)} != ${segment(w)}")
      assert(got(w).mkString == w, s"$w: segmentation must reassemble the word")
    }
    // the merges learned on this fixture actually compress something
    assert(words.map(_._1).exists(w => got(w).length < w.length))
  }

  test("batched BPE (k=64, batch=8) learns the identical merge sequence as sequential") {
    import spark.implicits._
    val words = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(T.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    // learnMergesLoop: batching is a property of the distributed loop
    def run(b: Int) = learn(words, 64, batch = b, loop = true)
    val (seqMerges, seqRounds) = run(1)
    val (batMerges, batRounds) = run(8)
    assert(batMerges == seqMerges,
      s"batched merges diverge from sequential\nseq: $seqMerges\nbat: $batMerges")
    assert(seqRounds == 64)
    assert(batRounds <= seqRounds)
    // the driver finish and the reference learn the identical sequence
    val (drvMerges, drvRounds) = learn(words, 64)
    assert(drvMerges == seqMerges, s"\ndriver: $drvMerges\nloop:   $seqMerges")
    assert(drvRounds == 0)
    assert(refBpe(vocabOf(words), 64) == seqMerges)
    info(s"rounds: sequential=$seqRounds batched=$batRounds " +
      s"(${seqMerges.size} merges)")
  }

  test("production-k BPE (k=1024): batched == sequential through selection exhaustion") {
    import spark.implicits._
    // A fixture the learner EXHAUSTS well before k: 32 words over an
    // 8-letter alphabet bound total possible merges far under 1024, so
    // this pins the behavior the k=64 case never reaches — both runs must
    // agree merge-for-merge all the way to the final mergeable pair, then
    // stop at the same step (a batcher that over-selects near exhaustion
    // or mishandles an empty pair table would diverge exactly here).
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefgh"
    val vocab = Seq.tabulate(32) { i =>
      val len = 4 + rnd.nextInt(4)
      val w = Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
      (w, (1 + rnd.nextInt(20)).toLong)
    }.distinct
    val words = vocab.toDF("word", "n")
    def run(b: Int) = learn(words, 1024, batch = b, loop = true)
    val (seqMerges, seqRounds) = run(1)
    val (batMerges, batRounds) = run(32)
    assert(batMerges == seqMerges,
      s"batched merges diverge from sequential at production k\n" +
        s"seq(${seqMerges.size}): ${seqMerges.take(5)}...\n" +
        s"bat(${batMerges.size}): ${batMerges.take(5)}...")
    // the fixture must actually exercise exhaustion, not hit the k cap
    assert(seqMerges.size < 1024, s"fixture did not exhaust: ${seqMerges.size}")
    assert(seqMerges.nonEmpty)
    // sequential pays one round per merge + the final empty-table probe;
    // batching is the lever that makes k≈32k feasible. On THIS fixture the
    // saving is modest (~25%): an 8-letter alphabet makes top-ranked pairs
    // share symbols, and the triple-disjointness stop cuts each batch
    // short — the designed safety/latency trade. Real corpora (long tail
    // of symbol-disjoint pairs) batch far better; the sf0.1 k=1024 sweep
    // in PROGRESS carries those numbers.
    assert(seqRounds == seqMerges.size + 1)
    assert(batRounds < seqRounds,
      s"batching saved nothing: $batRounds vs $seqRounds rounds")
    info(s"merges=${seqMerges.size} rounds: sequential=$seqRounds batched(32)=$batRounds")
    // the driver finish exhausts at the same step with the same merges
    val (drvMerges, drvRounds) = learn(words, 1024)
    assert(drvMerges == seqMerges, s"\ndriver: $drvMerges\nloop:   $seqMerges")
    assert(drvRounds == 0)
    assert(refBpe(vocab, 1024) == seqMerges)
  }

  test("batched BPE guards against created-pair interference (adversarial fixtures)") {
    import spark.implicits._
    def seqVsBatch(words: Seq[(String, Long)], k: Int): Unit = {
      val df = words.toDF("word", "n")
      def run(b: Int) = learn(df, k, batch = b, loop = true)._1
      val (s, b) = (run(1), run(8))
      assert(b == s, s"\nwords=$words\nseq: $s\nbat: $b")
      // and the driver finish / the reference agree with both
      assert(learn(df, k)._1 == s && refBpe(words, k) == s, s"\nwords=$words")
    }
    // Created-pair overtake: after merging (a,b) -> "ab", the new pair
    // (x, ab) has count 13 and beats (c, d)=12 — a batcher that merely
    // SKIPS interacting rank rows (instead of stopping at the first one)
    // would wrongly select (c, d) in round one.
    seqVsBatch(Seq(("xab", 13L), ("ab", 16L), ("cd", 12L)), 3)
    // Self-pair growth: merging (a,a) over 'aaaa' creates (aa,aa)=10 which
    // beats (c,d)=8 — (c,d) does NOT interact with {a, aa}, so only the
    // interference-bound trim (2·G over c(a,*) mass) keeps it out of the
    // first batch.
    seqVsBatch(Seq(("aaaa", 10L), ("cd", 8L)), 3)
    // Tie case: created (x,ab) ties (c,d) at 12 and the tie breaks on
    // string order — strict (not >=) dominance is required.
    seqVsBatch(Seq(("xab", 12L), ("ab", 17L), ("cd", 12L)), 3)
  }

  test("BPE drops words carrying the U+001F separator instead of corrupting merges") {
    import spark.implicits._
    // U+001F is NOT matched by the \s+ tokenizer split (Java \s is
    // [ \t\n\x0B\f\r]), so such a "word" can reach learnMerges; encoded
    // naively it would forge symbol boundaries. Both entry points must
    // exclude it — and its presence must not change what is learned.
    val clean = Seq(("aaaa", 10L), ("low", 6L), ("lower", 3L))
    val dirty = clean :+ ("a\u001fa", 100L) // would dominate counts if kept
    val gotClean = learn(clean.toDF("word", "n"), 4)._1
    val gotDirty = driverEqualsLoop(dirty.toDF("word", "n"), 4)
    assert(gotDirty == gotClean,
      s"separator-carrying word changed learned merges: $gotDirty != $gotClean")
    assert(refBpe(clean, 4) == gotClean)
    val seg = graft.operators.Bpe
      .applyMerges(Seq("a\u001fa", "low").toDF("word"), Seq(("l", "o")))
      .collect().map(_.getString(0)).toSeq
    assert(seg == Seq("low"), s"applyMerges must drop separator words, got $seg")
  }

  test("BPE driver finish == loop on code-point order, combining marks, zero/null n, empty input") {
    import spark.implicits._
    // Equal counts, so the tie-break decides: UTF-16 (String.compareTo)
    // puts U+1F600 (surrogates D83D DE00) before U+FF21, binary UTF-8
    // (F0.. vs EF..) puts U+FF21 first — Spark's order, both paths' order.
    val astral = Seq(("\uD83D\uDE00a", 5L), ("\uFF21a", 5L), ("b\uD83D\uDE00", 5L),
      ("b\uFF21", 5L))
    val gotAstral = driverEqualsLoop(astral.toDF("word", "n"), 4)
    assert(gotAstral == refBpe(astral, 4))
    assert(gotAstral.map(m => (m._2, m._3)) == Seq(("b", "\uFF21"),
      ("b", "\uD83D\uDE00"), ("\uFF21", "a"), ("\uD83D\uDE00", "a")))
    // a combining mark is its own code point, hence its own symbol
    val marks = Seq(("e\u0301te", 4L), ("cafe\u0301", 3L), ("e\u0301", 2L))
    val gotMarks = driverEqualsLoop(marks.toDF("word", "n"), 6)
    assert(gotMarks == refBpe(marks, 6))
    assert(gotMarks.head._2 == "e" && gotMarks.head._3 == "\u0301")
    // n = 0 still ranks (count 0); a null n adds nothing to any count, as
    // in SQL sum — every pair of the null word also occurs in a counted
    // word, so the loop never has to report a NULL count
    val weights = Seq(("xyx", Some(1L)), ("xy", None), ("abab", Some(0L)))
    val gotWeights = driverEqualsLoop(weights.toDF("word", "n"), 10)
    assert(gotWeights == refBpe(weights.collect { case (w, Some(n)) => (w, n) }, 10))
    assert(gotWeights.map(_._4) == Seq(1L, 1L, 0L, 0L))
    // empty vocabulary: no merges, same schema
    assert(driverEqualsLoop(Seq.empty[(String, Long)].toDF("word", "n"), 4).isEmpty)
    // An empty word splits to ["", ""]; the loop's decode leaves it [""]
    // after its first round, so its ("", "") pair only ranks at step 1 —
    // compared at batch = 1, where a round is a step.
    assert(driverEqualsLoop(Seq(("", 5L), ("ab", 3L)).toDF("word", "n"), 3, batch = 1) ==
      Seq((1L, "", "", 5L), (2L, "a", "b", 3L)))
    assert(driverEqualsLoop(Seq(("", 2L), ("ab", 3L)).toDF("word", "n"), 3, batch = 1) ==
      Seq((1L, "a", "b", 3L)))
  }
}
