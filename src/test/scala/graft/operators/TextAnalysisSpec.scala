package graft.operators

import graft.SparkTestBase
import graft.functions.{GraftFunctions, TextKernels}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text analysis: token counting, quality stats, language ID, and the
  * fingerprint kernels (incl. the Rabin-Karp rolling update checked
  * against independent per-window folds).
  */
class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("tokenizer, BPE-ish pre-tokens, punct and stopword counts") {
    val df = Seq((1L, "The cat, the hat — 42 hats!")).toDF("doc_id", "text")
    val row = df.select(
      size(TextAnalysis.tokens(col("text"))).as("ws"),
      regexp_count(lower(col("text")), lit(TextAnalysis.bpeSplitPattern)).as("bpe"))
      .as[(Int, Int)].collect().head
    // tokens: the cat the hat 42 hats → 6
    assert(row._1 == 6)
    // bpe: the|cat|,|the|hat|—|42|hats|! → 9
    assert(row._2 == 9)
  }

  test("piiScan counts and redacts emails/phones; clean text passes unchanged") {
    val docs = Seq(
      (1L, "write me at jo.doe+x@mail.example.org or bob@ex.co today"),
      (2L, "call 555-0142 or 555-9999, not 1555-0142x"),
      (3L, "nothing sensitive here"),
      (4L, "reach John.Doe@Example.COM anytime")).toDF("doc_id", "text")
    val rows = TextAnalysis.piiScan(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Int, Int, Int, String)].collect()
    assert(rows(0)._2 == 2 && rows(0)._3 == 0)
    assert(rows(1)._2 == 0)
    // "1555-0142x": \b sits between 1 and 5? no — 1555 is one word run, so
    // only the two standalone phones match
    assert(rows(1)._3 == 2)
    assert(rows(2)._2 == 0 && rows(2)._3 == 0)
    // mixed-case addresses must still be caught ((?i) flag)
    assert(rows(3)._2 == 1)
    // redaction replaces every hit with the placeholder
    val red = docs.filter(col("doc_id") === 1L).select(
      regexp_replace(col("text"), TextAnalysis.emailPattern, "<EMAIL>"))
      .as[String].collect().head
    assert(red == "write me at <EMAIL> or <EMAIL> today")
    assert(rows(0)._5 == java.security.MessageDigest.getInstance("MD5")
      .digest(red.getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("repetitionStats: hand-computed bigram fractions") {
    // tokens: a b a b c → bigrams (a b)(b a)(a b)(b c): n=4, distinct=3, top=2
    val docs = Seq((1L, "a b a b c"), (2L, "x")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double)].collect()
    // the single-token doc has no bigrams and drops out
    assert(rows.length == 1)
    val (_, n, d, top, dup) = rows.head
    assert(n == 4 && d == 3)
    assert(top == 0.5 && dup == 0.25)
  }

  test("bpeMerges equals a driver-side replay of the same recurrence") {
    val texts = Seq(
      "a b a b c",     // consecutive same-pair run: only alternate sites merge
      "a b d",
      "b c a b",
      "x y x y x y",   // longer run — exercises the non-overlap scan rule
      "q")             // single-token doc contributes no pairs
    val got = TextAnalysis.bpeMerges(texts.toDF("text"), "text", iters = 3)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    // independent replay: same tokenize, same (n DESC, l, r) argmax, same
    // literal non-overlapping left-to-right replace (java.lang.String)
    var corpus = texts.map(t =>
      " " + t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).mkString(" ") + " ")
    val want = (1 to 3).map { i =>
      val pairs = corpus.flatMap { s =>
        val w = s.trim.split(" ").filter(_.nonEmpty)
        w.sliding(2).filter(_.length == 2).map(a => (a(0), a(1)))
      }
      val (l, r, n) = pairs.groupBy(identity).toSeq
        .map { case ((a, b), xs) => (a, b, xs.size.toLong) }
        .minBy { case (a, b, c) => (-c, a, b) }
      corpus = corpus.map(_.replace(s" $l $r ", s" $l§$r "))
      (i, l, r, n)
    }
    assert(got == want)
    assert(got.map(_._4).nonEmpty && got.head._4 >= 2, "first merge must be a real repeat")
  }

  test("bpeApply: the learned table tokenizes exactly as the training fold") {
    val texts = Seq(
      (1L, "a b a b c"), (2L, "a b d"), (3L, "b c a b"),
      (4L, "x y x y x y"), (5L, "q"), (6L, ""))
    val docs = texts.toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(docs, "text", iters = 3)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
      .map(m => (m._2, m._3))
    // ground truth: the same non-overlapping left-to-right fold, in
    // learned order, driver-side over java.lang.String
    val want = texts.map { case (id, t) =>
      val s0 = " " + t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).mkString(" ") + " "
      val sN = merges.foldLeft(s0) { case (s, (l, r)) =>
        s.replace(s" $l $r ", s" $l§$r ")
      }
      val toks = sN.trim
      (id, toks, toks.split(" ").count(_.nonEmpty).toLong)
    }
    val got = TextAnalysis.bpeApply(docs, "doc_id", "text", merges)
      .as[(Long, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == want)
    // the empty doc must flow through as zero tokens, not crash or NaN
    assert(got.find(_._1 == 6L).get._3 == 0L)
  }

  test("lengthDecileBins: strictly-less ECDF rank, ties share a bin, bounds hold") {
    // 10 docs: lengths 1,1,2,3,4,5,6,7,8,9 — the tie at length 1 gets
    // below=0 → bin 0 for BOTH (ntile would split them by row order)
    val docs = (Seq("a", "b") ++ (2 to 9).map(n => "x" * n))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.lengthDecileBins(docs)
      .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
    val byLen = got.groupBy(_._2)
    assert(byLen(1).map(_._3).toSet == Set(0L), "tied shortest docs share bin 0")
    // below counts: len 2 → 2 docs below → bin 2; len 9 → 9 below → bin 9
    assert(got.find(_._2 == 2).get._3 == 2L)
    assert(got.find(_._2 == 9).get._3 == 9L)
    assert(got.forall(r => r._3 >= 0 && r._3 <= 9))
    // monotone: longer docs never land in a smaller bin
    val sorted = got.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 <= b._3)
      case _ =>
    }
  }

  test("corpusStats: exact interpolated percentiles and totals per group") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cs_").toString
    // one (lang, source) group with token counts 1..5, one singleton group
    (Seq.tabulate(5)(i => (i.toLong, ("tok " * (i + 1)).trim, "en", "a", 0L))
      :+ (9L, "x y z", "de", "b", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.corpusStats(spark, tmp)
      .as[(String, String, Long, Long, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val en = got(("en", "a"))
    assert(en._3 == 5L && en._4 == 15L && en._5 == 3.0)
    assert(en._6 == 3.0, "p50 of 1..5")
    assert(en._7 == 4.8, "p95 = (n-1)*p interpolation: 4 + 0.8*(5-4)")
    val de = got(("de", "b"))
    assert(de._3 == 1L && de._4 == 3L && de._6 == 3.0 && de._7 == 3.0)
  }

  test("docKeywords: tf·idf ranking with hand-computed scores and k-cut") {
    // write docs to parquet so the (spark, dir) entry path is exercised
    val tmp = java.nio.file.Files.createTempDirectory("graft_kw_").toString
    Seq(
      (1L, "apple apple banana", "en", "s", 18L),
      (2L, "banana cherry", "en", "s", 13L),
      (3L, "cherry cherry cherry date", "en", "s", 25L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idfRare = r6(math.log(3.0 / 1)) // apple, date
    val idfMid = r6(math.log(3.0 / 2))  // banana, cherry
    val got = TextAnalysis.docKeywords(spark, tmp, k = 2)
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set(
      (1L, "apple", r6(2 * idfRare)), (1L, "banana", r6(1 * idfMid)),
      (2L, "banana", r6(1 * idfMid)), (2L, "cherry", r6(1 * idfMid)),
      (3L, "cherry", r6(3 * idfMid)), (3L, "date", r6(1 * idfRare))))
  }

  test("byte_entropy: hand values, empty/uniform zero, and order invariance") {
    import graft.functions.GraftFunctions
    val docs = Seq(
      (1L, ""),        // empty → 0
      (2L, "aaaa"),    // uniform single symbol → 0
      (3L, "ab"),      // two equiprobable symbols → ln 2
      (4L, "aabb"),    // same distribution, longer → still ln 2
      (5L, "abcd"),    // four equiprobable → ln 4
      (6L, "dcba"),    // permutation of 5 → identical entropy
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      GraftFunctions.byteEntropy(col("text")).as("h"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0 && got(2L) == 0.0)
    assert(math.abs(got(3L) - math.log(2)) < 1e-12)
    assert(got(3L) == got(4L))
    assert(math.abs(got(5L) - math.log(4)) < 1e-12)
    assert(got(5L) == got(6L), "entropy is a bag-of-bytes statistic")
  }

  test("bigramLogLik: add-one model and per-doc ln-sum match a hand computation") {
    val docs = Seq(
      (1L, "a b a b"), // bigrams (a,b),(b,a),(a,b)
      (2L, "a b"),     // (a,b)
      (3L, "c"),       // no bigram — must drop out, not score 0
    ).toDF("doc_id", "text")
    // model: c(a,b)=3, c(b,a)=1; c(a)=3, c(b)=1; V={a,b,c}=3
    val pAB = 4.0 / 6.0 // (3+1)/(3+3)
    val pBA = 2.0 / 4.0 // (1+1)/(1+3)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.bigramLogLik(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 3L, r6(2 * math.log(pAB) + math.log(pBA))),
      (2L, 1L, r6(math.log(pAB)))))
  }

  test("bpeApplyFromTable: a landed merge table tokenizes identically to the in-memory path") {
    val docs = Seq((1L, "a b a b c"), (2L, "a b d"), (3L, "x y x y"))
      .toDF("doc_id", "text")
    val mergesDf = TextAnalysis.bpeMerges(docs, "text", iters = 2)
    val direct = TextAnalysis.bpeMerges(docs, "text", iters = 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).toSeq
    val got = TextAnalysis.bpeApplyFromTable(docs, "doc_id", "text", mergesDf)
      .as[(Long, String, Long)].collect().toSet
    val want = TextAnalysis.bpeApply(docs, "doc_id", "text", direct)
      .as[(Long, String, Long)].collect().toSet
    assert(got == want)
  }

  test("bpeMerges stops early (merges so far, no throw) when pairs run out") {
    // round 1 merges the only pair; rounds 2..5 find no adjacent pair
    val one = TextAnalysis.bpeMerges(Seq("a a").toDF("text"), "text", iters = 5)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(one == Seq((1, "a", "a", 1L)))
    // no pair anywhere from the start: zero merges, empty result
    val zero = TextAnalysis.bpeMerges(Seq("q", "").toDF("text"), "text", iters = 3)
    assert(zero.count() == 0)
  }

  test("sourceQualityFilter: keeps stopword-rich sources, drops gibberish and empty ones") {
    val docs = Seq(
      // "good" source: natural-language docs, stopword ratio well over the floor
      (1L, "good", "the cat sat on the mat and it is a good day in the park"),
      (2L, "good", "it is the best of times and the worst of times"),
      // "spam" source: zero stopwords
      (3L, "spam", "buy cheap widgets now zzz qqq xxx click here winner"),
      (4L, "spam", "lorem ipsum dolor sit amet consectetur adipiscing elit"),
      // "empty" source: division guard — must score 0, not NaN (NaN would
      // compare greater than the floor and leak the source through)
      (5L, "empty", ""),
    ).toDF("doc_id", "source", "text")
    val kept = TextAnalysis.sourceQualityFilter(docs, minStopRatio = 0.1)
      .as[(Long, String)].collect().toSet
    assert(kept == Set((1L, "good"), (2L, "good")))
  }

  test("temperatureMix: smallest group keeps all, larger groups thin to ~rate, deterministic") {
    val docs = (
      (1 to 40).map(i => (i.toLong, "big")) ++
      (41 to 50).map(i => (i.toLong, "small"))
    ).toDF("doc_id", "lang")
    val kept = TextAnalysis.temperatureMix(docs, "lang", "doc_id", alpha = 0.5)
      .as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // smallest group: rate 1 -> all 10 rows survive
    assert(byLang.getOrElse("small", 0) == 10)
    // big group: rate = (40/10)^(-0.5) = 0.5 -> binomial(40, 0.5); the
    // md5 draw is fixed, so the count is a constant — just bound it away
    // from 0 and 40 and pin determinism with a rerun
    val nBig = byLang.getOrElse("big", 0)
    assert(nBig > 5 && nBig < 35, s"big kept $nBig of 40 at rate 0.5")
    val again = TextAnalysis.temperatureMix(docs.repartition(5), "lang", "doc_id")
      .as[(Long, String)].collect().toSet
    assert(again == kept.toSet)
    // appending docs to ANOTHER group never flips small-group decisions
    // with unchanged rate 1; big-group decisions only tighten (rate down)
    val grown = docs.union((100 to 139).map(i => (i.toLong, "huge")).toDF("doc_id", "lang"))
    val keptGrown = TextAnalysis.temperatureMix(grown, "lang", "doc_id")
      .as[(Long, String)].collect().toSet
    assert(keptGrown.filter(_._2 == "small") == kept.toSet.filter(_._2 == "small"))
  }

  test("langId picks the profile language on clear-cut text") {
    val df = Seq(
      (1L, "the cat is on the mat and it was good"),
      (2L, "der hund ist nicht mit der katze und das"),
      (3L, "le chat est dans la maison et les chiens"),
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langIdCol(col("text")))
      .select(col("doc_id"), col("langid.pred_lang"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr"))
  }

  test("docFingerprint matches the definition fold") {
    def fold(s: String): Long =
      s.getBytes("UTF-8").foldLeft(7L)((acc, b) => (acc * 31 + (b & 0xFF)) % 1000000007L)
    for (s <- Seq("", "a", "abc", "the quick brown fox", "x" * 500)) {
      assert(TextKernels.polyFingerprint(UTF8String.fromString(s)) == fold(s), s"poly($s)")
    }
    // and through the expression + SQL registration
    val viaSql = spark.sql("SELECT doc_fingerprint('abc')").collect().head.getLong(0)
    assert(viaSql == fold("abc"))
  }

  test("rollingMinHash equals min over independent per-window folds") {
    def windowFold(s: String, k: Int): Long = {
      val bytes = s.getBytes("UTF-8")
      if (bytes.length <= k)
        bytes.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xFF)) % 1000000007L)
      else
        bytes.sliding(k).map(w =>
          w.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xFF)) % 1000000007L)).min
    }
    val rng = new scala.util.Random(3)
    val samples = Seq("short", "exactly8", "a bit longer than the window") ++
      Seq.fill(20)(Seq.fill(60 + rng.nextInt(100))((32 + rng.nextInt(95)).toChar).mkString)
    for (s <- samples; k <- Seq(4, 8, 16)) {
      assert(TextKernels.rollingMinHash(UTF8String.fromString(s), k) == windowFold(s, k),
        s"rolling(k=$k) diverged from independent folds on ${s.take(20)}…")
    }
  }

  test("shingle_hashes kernel: tokenization, case folding, window count, short docs") {
    import graft.functions.TextKernels
    def sh(s: String, n: Int = 3): Seq[Long] = {
      val a = TextKernels.shingleHashes(UTF8String.fromString(s), n, 42L)
      (0 until a.numElements()).map(a.getLong)
    }
    // 5 tokens → 3 windows of 3
    assert(sh("the quick brown fox jumps").size == 3)
    // case + separators don't change tokens
    assert(sh("The, QUICK. brown|fox jumps!") == sh("the quick brown fox jumps"))
    // digits are token chars
    assert(sh("a1 b2 c3").size == 1)
    // shorter than n → one whole-sequence shingle; differs from a distinct pair
    assert(sh("one two").size == 1 && sh("one two") != sh("two one"))
    // empty / all-separator input → one sentinel shingle, never empty
    assert(sh("").size == 1 && sh("?!,") == sh(""))
    // shifted windows share shingles (the LSH overlap property)
    val a = sh("w1 w2 w3 w4 w5").toSet
    val b = sh("w2 w3 w4 w5 w6").toSet
    assert((a intersect b).size == 2)
  }

  test("fingerprints: exact copies share both fingerprints; edits change fp") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
    ).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
      GraftFunctions.docFingerprint(col("text")).as("fp"),
      GraftFunctions.rollingMinHash(col("text"), 8).as("rfp"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows(0)._2 == rows(1)._2 && rows(0)._3 == rows(1)._3, "copies must agree")
    assert(rows(0)._2 != rows(2)._2, "edit must change the whole-doc fingerprint")
  }

  test("bm25Rank: hand-computed scores, non-matching docs excluded, k-cut and tie order") {
    val docs = Seq(
      (1L, "spark fast spark join"),      // spark×2, join×1
      (2L, "join join join slow table"),  // join×3
      (3L, "table scan only"),            // no query term → excluded
      (4L, "spark join"),                 // spark×1, join×1
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(docs, "doc_id", "text",
        Seq("spark", "join"), k = 10)
      .as[(Long, Double)].collect()
    assert(got.map(_._1).toSet == Set(1L, 2L, 4L), "doc 3 matches no term")
    // hand BM25: N=4, avgdl=(4+5+3+2)/4=3.5; df(spark)=2, df(join)=3
    val (k1, b) = (1.2, 0.75)
    def idf(df: Int) = math.log((4 - df + 0.5) / (df + 0.5) + 1.0)
    def s(tf: Int, dl: Int, df: Int) =
      idf(df) * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / 3.5))
    val want = Map(
      1L -> BigDecimal(s(2, 4, 2) + s(1, 4, 3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      2L -> BigDecimal(s(3, 5, 3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      4L -> BigDecimal(s(1, 2, 2) + s(1, 2, 3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    got.foreach { case (id, sc) =>
      assert(math.abs(sc - want(id)) < 1e-9, s"doc $id: $sc vs ${want(id)}")
    }
    // rows arrive ordered by (score desc, doc_id asc)
    assert(got.map(_._2).sameElements(got.map(_._2).sortBy(-_)))
    // k-cut keeps the best k with deterministic boundary
    val top1 = TextAnalysis.bm25Rank(docs, "doc_id", "text",
        Seq("spark", "join"), k = 1)
      .as[(Long, Double)].collect()
    assert(top1.length == 1 && top1.head._1 == got.head._1)
  }

  test("bm25RankIndexed: landed-index serve equals direct, postings scan is bucket-pruned") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val path = java.nio.file.Files.createTempDirectory("bm25_idx_").toString
    TextAnalysis.landSearchIndex(docs, "doc_id", "text", "bm25spec", path)
    val q = TextAnalysis.searchQuery
    val direct = TextAnalysis.bm25Rank(docs, "doc_id", "text", q, k = 25)
      .as[(Long, Double)].collect()
    val served = TextAnalysis.bm25RankIndexed(spark, "bm25spec", q, k = 25)
      .as[(Long, Double)].collect()
    assert(served.sameElements(direct), "landed serve must equal the direct form")
    // the serve plan reads only the query terms' buckets of the postings
    val scan = TextAnalysis.bm25RankIndexed(spark, "bm25spec", q, k = 25)
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(scan)
    assert(sel.isDefined, s"postings scan must be bucket-pruned:\n$scan")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      "IN (query terms) must prune buckets")
    // steady entry: lands once (idempotent on existing tables), same answer
    val steady = TextAnalysis.searchDocsSteady(spark, dir)
      .as[(Long, Double)].collect()
    val steady2 = TextAnalysis.searchDocsSteady(spark, dir)
      .as[(Long, Double)].collect()
    assert(steady.sameElements(TextAnalysis.searchDocs(spark, dir)
      .as[(Long, Double)].collect()))
    assert(steady2.sameElements(steady))
  }

  test("phraseCount: overlaps, short docs, case/punct normalization, longer phrases") {
    val docs = Seq(
      (1L, "go go go"),              // "go go" at starts 1 and 2 → 2 (overlapping)
      (2L, "Go, GO! stop"),          // normalization: "go go stop" → 1
      (3L, "go"),                    // shorter than the phrase → no row
      (4L, "stop go stop go"),       // no adjacent pair → 0
      (5L, ""),                      // empty doc: the sequence guard path
    ).toDF("doc_id", "text")
    def occ(phrase: Seq[String]) = docs
      .select(col("doc_id"), TextAnalysis.phraseCount(col("text"), phrase).as("n"))
      .as[(Long, Int)].collect().toMap
    val two = occ(Seq("go", "go"))
    assert(two == Map(1L -> 2, 2L -> 1, 3L -> 0, 4L -> 0, 5L -> 0), s"got $two")
    val three = occ(Seq("go", "go", "go"))
    assert(three == Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 0), s"got $three")
  }

  test("phraseCountIndexed: landed positional serve equals the scan kernel") {
    val docs = Seq(
      (1L, "go go go fast scan"),        // overlapping "go go"; one "fast scan"
      (2L, "fast scan, fast scan"),      // two occurrences across punctuation
      (3L, "scan fast"),                 // reversed order → no match
      (4L, ""),                          // empty doc
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("phrase_idx_").toString
    TextAnalysis.landSearchIndex(docs, "doc_id", "text", "phrasespec", path)
    def direct(p: Seq[String]) = docs
      .select(col("doc_id"), TextAnalysis.phraseCount(col("text"), p).as("n_occ"))
      .filter(col("n_occ") > 0).as[(Long, Int)].collect().toMap
    def served(p: Seq[String]) = TextAnalysis
      .phraseCountIndexed(spark, "phrasespec", p)
      .as[(Long, Int)].collect().toMap
    for (p <- Seq(Seq("fast", "scan"), Seq("go", "go"), Seq("go", "go", "go")))
      assert(served(p) == direct(p), s"phrase $p: ${served(p)} vs ${direct(p)}")
    // repeated-token overlap through the index: doc 1 has "go go" twice
    assert(served(Seq("go", "go")) == Map(1L -> 2))
    // the serve plan reads only the phrase terms' buckets of the positions
    val scan = TextAnalysis
      .phraseCountIndexed(spark, "phrasespec", Seq("fast", "scan"))
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(scan)
    assert(sel.isDefined, s"positions scan must be bucket-pruned:\n$scan")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      "term = <phrase token> must prune buckets")
    // steady entry over the real corpus: same rows as the scan form
    val dir = "/root/testdata/sf0.001"
    val steady = TextAnalysis.phraseDocsSteady(spark, dir)
      .as[(Long, Int)].collect().toMap
    val scanForm = TextAnalysis.phraseDocs(spark, dir)
      .as[(Long, Int)].collect().toMap
    assert(steady == scanForm)
  }

  test("calibratedQualityFloor drops each source's bottom quantile, not a global floor") {
    val docs = Seq(
      (1L, "news", "the cat is here"),          // 2/4 = 0.5
      (2L, "news", "the dog and the cat"),      // 3/5 = 0.6
      (3L, "news", "cat dog the"),              // 1/3 = 0.333333
      (4L, "news", "dog runs fast"),            // 0.0 → below the news cutoff
      (5L, "news", "it is the best of all"),    // 4/6 = 0.666667
      (6L, "news", "!!!"),                      // zero tokens → dropped up front
      (11L, "forum", "lol cat pic"),            // 0.0 — but survives forum's floor
      (12L, "forum", "the meme"),               // 0.5
      (13L, "forum", "win big now"),            // 0.0
      (14L, "forum", "go to gym"),              // 1/3
      (15L, "forum", "nice pic bro"),           // 0.0
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.calibratedQualityFloor(docs, 0.2)
      .as[(Long, String, Double, Double)].collect()
    val kept = out.map(_._1).toSet
    // news: quantile(0.2) of [0, .333333, .5, .6, .666667] = 0.266666 →
    // doc 4 dies; forum: quantile(0.2) of [0,0,0,.333333,.5] = 0 → all live
    assert(kept == Set(1L, 2L, 3L, 5L, 11L, 12L, 13L, 14L, 15L), s"got $kept")
    val cutoff = out.map(r => r._1 -> r._4).toMap
    assert(math.abs(cutoff(1L) - 0.266666) < 1e-9, s"news cutoff ${cutoff(1L)}")
    assert(cutoff(11L) == 0.0)
    // the calibration point: doc 11 survives its own source's floor but
    // would die under the news cutoff — a global floor can't do both
    val score11 = out.find(_._1 == 11L).get._3
    assert(score11 < cutoff(1L))
  }

  test("budgetMix keeps each source's greedy hash-order prefix under budget") {
    // two sources with different doc sizes; enough docs that the md5
    // 2-hex-char buckets differ (exercising the offset composition)
    val docs = (0L until 40L).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      val words = (1 to (i % 7 + 1).toInt).map(j => s"w$j").mkString(" ")
      (i, src, words)
    }.toDF("doc_id", "source", "text")
    val got = TextAnalysis.budgetMix(docs, "doc_id", "text", "source", 0.3)
      .as[(Long, String, Long)].collect().map(r => (r._1, r._3)).toMap
    // ground truth: simulate the greedy prefix per source in plain Scala
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = (0L until 40L).map { i =>
      (i, if (i % 2 == 0) "a" else "b", (i % 7 + 1), md5hex(i.toString)) }
    val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
      val ordered = rs.sortBy(_._4)
      val budget = math.floor(0.3 * ordered.map(_._3).sum).toLong
      var cum = 0L
      ordered.flatMap { case (id, _, n, _) =>
        val keep = cum < budget
        cum += n
        if (keep) Some(id -> n.toLong) else None
      }
    }.toMap
    assert(want.nonEmpty && want.size < 40, s"fixture must actually cut (kept ${want.size})")
    assert(got == want, s"got $got\nwant $want")
  }

  test("boilerplateStrip drops cross-doc segments and rebuilds in order") {
    // window=4 keeps the fixture readable; the shared 4-token banner
    // appears in 3 docs (>= minDocs=3), the 2-doc chorus survives
    val banner = "visit our great site"
    val chorus = "only two docs here"
    val docs = Seq(
      (1L, s"$banner alpha beta gamma delta"),
      (2L, s"epsilon zeta eta theta $banner"),
      (3L, s"$banner $chorus"),
      (4L, s"$chorus iota kappa lambda mu"),
      (5L, banner + " " + banner), // every segment boilerplate
      (6L, ""), // zero tokens
      (7L, "unique tail of five words") // partial final segment
    ).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateStrip(docs, "doc_id", "text",
        window = 4, minDocs = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 7, "every doc emits a row")
    // banner stripped wherever it aligns to a window boundary; order kept
    assert(out(1L) == ((1L, "alpha beta gamma delta", 1L, 1L)))
    assert(out(2L) == ((2L, "epsilon zeta eta theta", 1L, 1L)))
    assert(out(3L) == ((3L, chorus, 1L, 1L)))
    // the 2-doc chorus is below the floor and survives
    assert(out(4L) == ((4L, s"$chorus iota kappa lambda mu", 2L, 0L)))
    // all-boilerplate doc -> empty text, counted drops
    assert(out(5L) == ((5L, "", 0L, 2L)))
    // zero-token doc -> empty text, zero segments either way
    assert(out(6L) == ((6L, "", 0L, 0L)))
    // 5 tokens at window 4: full slice + 1-token partial slice both kept
    assert(out(7L) == ((7L, "unique tail of five words", 2L, 0L)))
  }

  test("tokenizerFertility compresses per source through the merge fold") {
    // merge (a,b): source x's text is dense in "a b", y's has none
    val docs = Seq(
      // non-overlapping left-to-right: the first " a b " consumes its
      // trailing space, so the second pair survives this round (the
      // documented trainer fixpoint semantics)
      (1L, "x", "a b a b c"), // 5 raw -> "a§b a b c" = 4 pieces
      (2L, "x", "a b"),       // 2 raw -> 1 piece
      (3L, "y", "c d e"),     // untouched: 3 raw -> 3 pieces
      (4L, "y", "")           // zero tokens
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.tokenizerFertility(docs, "source", "text",
        Seq(("a", "b")))
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("x") == (("x", 2L, 7L, 5L, math.rint(5.0 / 7.0 * 1e6) / 1e6)))
    assert(out("y") == (("y", 2L, 3L, 3L, 1.0)))
    // all-empty source guards the divide
    val empty = TextAnalysis.tokenizerFertility(
        Seq((5L, "z", "")).toDF("doc_id", "source", "text"), "source", "text", Nil)
      .as[(String, Long, Long, Long, Double)].collect().head
    assert(empty == (("z", 1L, 0L, 0L, 0.0)))
  }

  test("hashedDocVectors lane counts normalize to unit vectors") {
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "alpha beta alpha"), // identical text -> identical vector
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.hashedDocVectors(docs, "doc_id", "text", dims = 8)
      .as[(Long, Seq[Double])].collect().map(r => r._1 -> r._2).toMap
    def md5p32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val counts = Array.fill(8)(0.0)
    Seq("alpha", "beta", "alpha").foreach(t => counts((md5p32(t) % 8).toInt) += 1)
    val nrm = math.sqrt(counts.map(x => x * x).sum)
    val want = counts.map(x => math.rint(x / nrm * 1e6) / 1e6).toSeq
    assert(out(1L) == want)
    assert(out(2L) == out(1L), "identical text, identical vector")
    assert(math.abs(out(1L).map(x => x * x).sum - 1.0) < 1e-5, "unit norm")
    assert(out(3L) == Seq.fill(8)(0.0), "zero-token doc keeps a zero vector")
  }

  test("mlmMask draws deterministic masks and emits recoverable targets") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, ""), (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.mlmMask(docs, "doc_id", "text", pct = 30)
      .as[(Long, String, String, Long)].collect().map(r => r._1 -> r).toMap
    // ground truth from the same hash rule in plain Scala
    def md5p32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val toks = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val sel = toks.indices.filter(i => md5p32(s"mlm0:1:$i") % 100 < 30)
    assert(sel.nonEmpty && sel.size < toks.length, "fixture must mask some, not all")
    val wantInput = toks.indices.map(i => if (sel.contains(i)) "<mask>" else toks(i)).mkString(" ")
    val wantTargets = sel.map(i => s"$i:${toks(i)}").mkString(" ")
    assert(out(1L) == ((1L, wantInput, wantTargets, sel.size.toLong)))
    // applying targets over the input reconstructs the original text
    val rebuilt = wantInput.split(" ").toBuffer
    wantTargets.split(" ").foreach { kv =>
      val Array(i, t) = kv.split(":"); rebuilt(i.toInt) = t }
    assert(rebuilt.mkString(" ") == toks.mkString(" "))
    // empty and NULL text normalize to the same empty sample
    assert(out(2L) == ((2L, "", "", 0L)) && out(3L) == ((3L, "", "", 0L)))
    // a different seed re-draws the mask (epoch re-generation)
    val again = TextAnalysis.mlmMask(docs, "doc_id", "text", pct = 30, seed = "mlm1")
      .as[(Long, String, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(again(1L) != out(1L)._2, "new seed, new mask draw")
  }

  test("spanCorrupt collapses mask runs into sentinels; targets recover the text") {
    val text = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // pct=40 so the fixture reliably produces multi-token runs
    val out = TextAnalysis.spanCorrupt(docs, "doc_id", "text", pct = 40)
      .as[(Long, String, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    def md5p32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val toks = text.split(" ")
    val m = toks.indices.map(i => md5p32(s"t5-0:1:$i") % 100 < 40)
    val spans = toks.indices.filter(i => m(i) && (i == 0 || !m(i - 1)))
    assert(spans.nonEmpty && m.count(identity) > spans.size,
      "fixture must contain a multi-token run")
    val (_, input, target, nSpans, nMasked) = out(1L)
    assert(nSpans == spans.size && nMasked == m.count(identity))
    // input: unmasked tokens with one sentinel per run, in order
    val wantInput = {
      val b = scala.collection.mutable.ArrayBuffer[String]()
      toks.indices.foreach { i =>
        if (!m(i)) b += toks(i)
        else if (spans.contains(i)) b += s"<extra_${spans.indexOf(i)}>"
      }
      b.mkString(" ")
    }
    assert(input == wantInput)
    // target: each sentinel followed by exactly the tokens it hides;
    // substituting them back into the input reconstructs the original
    val spanToks = target.split(" ").foldLeft(Map[String, Vector[String]]() -> "") {
      case ((acc, cur), t) =>
        if (t.startsWith("<extra_")) (acc + (t -> Vector()), t)
        else (acc + (cur -> (acc(cur) :+ t)), cur)
    }._1
    val rebuilt = input.split(" ").flatMap(t =>
      if (t.startsWith("<extra_")) spanToks(t) else Vector(t)).mkString(" ")
    assert(rebuilt == text, "sentinel substitution must reconstruct the original")
    assert(out(2L) == ((2L, "", "", 0L, 0L)) && out(3L) == ((3L, "", "", 0L, 0L)))
  }

  test("semanticSearch ranks by cosine against the hashed query vector") {
    val dir = "/root/testdata/sf0.001"
    val query = "table scan query fast value sort"
    val got = TextAnalysis.semanticSearch(spark, dir, query, k = 5)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 5 && got.forall(_._1 == -1L))
    // ground truth from the operator's own building blocks in Scala
    val emb = TextAnalysis.hashedDocVectors(
        graft.sources.Tables.load(spark, dir, "documents"), "doc_id", "text")
      .as[(Long, Seq[Double])].collect()
    val counts = graft.functions.TextKernels.hashLaneCounts(
      org.apache.spark.unsafe.types.UTF8String.fromString(query), 8).toLongArray()
    val nrm = math.sqrt(counts.map(c => c.toDouble * c.toDouble).sum)
    val qv = counts.map(c => BigDecimal(c / nrm)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toFloat.toDouble)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val af = a.map(_.toFloat.toDouble); val dot = af.zip(b).map(p => p._1 * p._2).sum
      dot / math.sqrt(af.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val want = emb.map { case (id, v) => (id, cos(v, qv.toSeq)) }
      .filterNot(p => p._2.isNaN)
      .sortBy(p => (-p._2, p._1)).take(5).map(_._1).toSeq
    assert(got.sortBy(r => (-r._3, r._2)).map(_._2).toSeq == want)
    // identical text to the query scores ~1 above everything else
    assert(got.map(_._3).max <= 1.0 + 1e-9)
  }

  test("dedupWithinDoc keeps first occurrences of repeated slices") {
    val docs = Seq(
      (1L, "a b c d a b e f"), // slices: ab cd ab ef -> ab cd ef
      (2L, "a b a c a b"),     // ab ac ab -> ab ac
      (3L, "x y z"),           // xy + partial z, no repeats
      (4L, ""),                // zero tokens
      (5L, "a b a")            // ab + partial a: distinct slices
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupWithinDoc(docs, "doc_id", "text", window = 2)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "a b c d e f", 3L, 1L)))
    assert(out(2L) == ((2L, "a b a c", 2L, 1L)))
    assert(out(3L) == ((3L, "x y z", 2L, 0L)))
    assert(out(4L) == ((4L, "", 0L, 0L)))
    // the partial final slice "a" differs from "a b" — both survive
    assert(out(5L) == ((5L, "a b a", 2L, 0L)))
  }

  test("trainQualityLr matches hand-run batch gradient descent") {
    // curated docs are stopword-dense, web docs stopword-free — a
    // separable fixture so the trained score must rank curated higher
    val docs = Seq(
      (1L, "good", "the of and in is it that a an to"),
      (2L, "good", "the the of of and and is is"),
      (3L, "web", "xxxx yyyy zzzz wwww"),
      (4L, "web", "qqqq rrrr ssss tttt uuuu"),
      (5L, "web", "") // zero tokens -> dropped
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.trainQualityLr(docs, Seq("good"), iters = 3)
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // plain-Scala replay with the same 6-dp discipline
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val toks = Map(1L -> Seq("the","of","and","in","is","it","that","a","an","to"),
      2L -> Seq("the","the","of","of","and","and","is","is"),
      3L -> Seq("xxxx","yyyy","zzzz","wwww"),
      4L -> Seq("qqqq","rrrr","ssss","tttt","uuuu"))
    val stop = Set("the","a","an","of","to","and","in","is","it","that")
    val f = toks.toSeq.sortBy(_._1).map { case (id, ts) =>
      val y = if (id <= 2) 1.0 else 0.0
      (id, y, r6(ts.count(stop).toDouble / ts.size),
        r6(ts.map(_.length).sum.toDouble / ts.size))
    }
    var (b, w1, w2) = (0.0, 0.0, 0.0)
    for (_ <- 1 to 3) {
      val ps = f.map { case (_, y, x1, x2) =>
        (y, x1, x2, 1.0 / (1.0 + math.exp(-(b + w1 * x1 + w2 * x2)))) }
      val n = ps.size
      val nb = r6(b - ps.map(p => p._4 - p._1).sum / n)
      val n1 = r6(w1 - ps.map(p => (p._4 - p._1) * p._2).sum / n)
      val n2 = r6(w2 - ps.map(p => (p._4 - p._1) * p._3).sum / n)
      b = nb; w1 = n1; w2 = n2
    }
    val want = f.map { case (id, y, x1, x2) =>
      id -> r6(1.0 / (1.0 + math.exp(-(b + w1 * x1 + w2 * x2)))) }.toMap
    assert(got.size == 4, "zero-token doc dropped")
    for (id <- want.keys) {
      assert(math.abs(got(id)._4 - want(id)) < 1e-9, s"doc $id")
      assert(got(id)._3 == (if (id <= 2) 1L else 0L))
    }
    // the classifier point: separable fixture ranks curated above web
    assert(Seq(1L, 2L).map(got(_)._4).min > Seq(3L, 4L).map(got(_)._4).max)
  }

  test("keyTerms ranks Dunning G2 keyness, positive-key only") {
    // source x over-uses "spark", y over-uses "duck"; "shared" is flat
    val docs = Seq(
      (1L, "x", "spark spark spark shared shared"),
      (2L, "x", "spark spark shared duck"),
      (3L, "y", "duck duck duck shared shared"),
      (4L, "y", "duck duck shared spark")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.keyTerms(docs, "source", "text", k = 2)
      .as[(String, String, Long, Double)].collect()
      .groupBy(_._1).map { case (s, rs) => s -> rs.sortBy(r => (-r._4, r._2)).toList }
    // ground truth in plain Scala with the same association order
    val counts = Map(("x", "spark") -> 5L, ("x", "shared") -> 3L, ("x", "duck") -> 1L,
      ("y", "duck") -> 5L, ("y", "shared") -> 3L, ("y", "spark") -> 1L)
    val tt = counts.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val stot = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n = counts.values.sum.toDouble
    def g2(s: String, t: String): Double = {
      val a = counts((s, t)).toDouble
      val e1 = tt(t) * stot(s).toDouble / n
      val b = tt(t) - counts((s, t))
      val e2 = tt(t) * (n - stot(s)) / n
      val t2 = if (b == 0) 0.0 else b * math.log(b / e2)
      BigDecimal(2.0 * (a * math.log(a / e1) + t2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // positive-key terms per source: only the over-used one (shared and
    // the cross-term sit at/below the corpus rate)
    assert(got("x").map(r => (r._2, r._3, r._4)) == List(("spark", 5L, g2("x", "spark"))))
    assert(got("y").map(r => (r._2, r._3, r._4)) == List(("duck", 5L, g2("y", "duck"))))
    assert(g2("x", "spark") > 0)
  }

  test("hybridSearch fuses the branch rankings by reciprocal rank") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    // ground truth from the two branch operators, fused in plain Scala
    val lexRank = TextAnalysis
      .bm25Rank(docs, "doc_id", "text", TextAnalysis.searchQuery, 50)
      .as[(Long, Double)].collect()
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val denseRank = Similarity.topKCosine(emb, queries, 50)
      .as[(Long, Long, Double)].collect()
      .sortBy { case (_, id, s) => (-s, id) }
      .zipWithIndex.map { case ((_, id, _), i) => id -> (i + 1) }.toMap
    assert(lexRank.nonEmpty && denseRank.nonEmpty)
    val expected = (lexRank.keySet ++ denseRank.keySet).toSeq
      .map { id =>
        val raw = lexRank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          denseRank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (id, BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, s) => (-s, id) }.take(25)
    val got = TextAnalysis.hybridDocs(spark, dir).as[(Long, Double)].collect().toSeq
    assert(got == expected, s"got $got\nwant $expected")
    // a doc ranked by both branches outscores its single-branch rrf parts
    val both = expected.filter { case (id, _) =>
      lexRank.contains(id) && denseRank.contains(id) }
    both.headOption.foreach { case (_, s) => assert(s > 1.0 / 61.0) }
  }

  test("curriculumOrder: phases cover quality terciles, seq is dense per phase, order is deterministic") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val got = TextAnalysis.curriculumOrder(docs, "doc_id", "text")
      .as[(Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    // phases partition the corpus; phase 0 is the HIGHEST-quality slice
    val byPhase = got.groupBy(_._2)
    assert(byPhase.keySet.subsetOf(Set(0L, 1L, 2L)))
    val minQ0 = byPhase(0L).map(_._3).min
    val maxQ2 = byPhase(2L).map(_._3).max
    assert(minQ0 >= maxQ2,
      s"phase 0 must be easier (higher quality) than phase 2: $minQ0 vs $maxQ2")
    // seq is exactly 0..n-1 within each phase
    byPhase.foreach { case (p, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (0L until rows.size).toSeq,
        s"phase $p seq not dense")
    }
    // a re-run reproduces the identical order (pure function of (seed, id))
    val again = TextAnalysis.curriculumOrder(docs, "doc_id", "text")
      .as[(Long, Long, Double, Long)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a different seed permutes within-phase order but keeps the phases
    val other = TextAnalysis.curriculumOrder(docs, "doc_id", "text",
        seed = "curriculum1")
      .as[(Long, Long, Double, Long)].collect()
    assert(other.map(r => r._1 -> r._2).toMap == got.map(r => r._1 -> r._2).toMap)
    assert(other.map(r => r._1 -> r._4).toMap != got.map(r => r._1 -> r._4).toMap)
  }

  test("hybridDocsSteady (landed serves) equals the direct compressed composer") {
    // answer parity between the production read path (landed bucket-pruned
    // postings + landed cell-bucketed code table) and the from-scratch
    // index-backed composer over the same corpus and quantizers — the
    // steady/rebuild discipline every *_steady entry follows; the
    // approximate-dense ORACLE is the txt_hybrid_rrf_steady entry
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val (centDf, book) = Similarity.landedQuantizers(spark, dir)
    val want = TextAnalysis.hybridSearchCompressed(docs, emb,
        Similarity.IvfPqIndex.build(emb, centDf, book),
        "doc_id", "text", TextAnalysis.searchQuery, queryVecId = 0L)
      .as[(Long, Double)].collect().toSeq
    val got = TextAnalysis.hybridDocsSteady(spark, dir)
      .as[(Long, Double)].collect().toSeq
    assert(got == want, s"got $got\nwant $want")
    assert(got.size == 25)
  }

  test("bm25Prf expands with the feedback set's top non-query terms and re-ranks") {
    // tiny corpus: the query term co-occurs with "alpha" in its top
    // docs; a doc containing only "alpha" is invisible to the base
    // query but reachable after expansion
    val docs = Seq(
      (1L, "needle alpha alpha common"),
      (2L, "needle alpha beta"),
      (3L, "alpha alpha alpha alone here"),
      (4L, "unrelated words entirely different"),
      (5L, "common filler text nothing")).toDF("doc_id", "text")
    val q = Seq("needle")
    val base = TextAnalysis.bm25Rank(docs, "doc_id", "text", q, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(base == Set(1L, 2L), "base query reaches only the needle docs")
    val prf = TextAnalysis.bm25Prf(docs, "doc_id", "text", q,
        fb = 2, e = 1, k = 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    // top feedback term of docs {1,2} excluding "needle" is "alpha"
    // (3 occurrences); expansion must surface doc 3
    assert(prf.contains(3L), s"expansion must reach the alpha-only doc, got $prf")
    // and equals bm25 with the hand-expanded query
    val want = TextAnalysis.bm25Rank(docs, "doc_id", "text",
        Seq("needle", "alpha"), 10)
      .as[(Long, Double)].collect().toSet
    assert(TextAnalysis.bm25Prf(docs, "doc_id", "text", q, fb = 2, e = 1, k = 10)
      .as[(Long, Double)].collect().toSet == want)
  }

  test("bm25PrfSteady (landed index, both passes) equals the direct PRF") {
    val dir = "/root/testdata/sf0.001"
    val want = TextAnalysis.bm25PrfDocs(spark, dir)
      .as[(Long, Double)].collect().toSet
    assert(TextAnalysis.bm25PrfSteady(spark, dir)
      .as[(Long, Double)].collect().toSet == want)
  }

  test("sourceCap: at most cap per source, small sources keep all, draw deterministic") {
    val docs = ((0 until 25).map(i => (i.toLong, "big")) ++
      (100 until 105).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val got = TextAnalysis.sourceCap(docs, cap = 10)
      .as[(String, Long)].collect()
    val bySource = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySource("big").size == 10, "oversized source cut to the cap")
    assert(bySource("small") == (100 until 105).map(_.toLong).toSet,
      "undersized source keeps every document")
    assert(bySource("big").subsetOf((0 until 25).map(_.toLong).toSet))
    // the md5 draw is deterministic: a rerun picks the identical subset
    assert(TextAnalysis.sourceCap(docs, cap = 10)
      .as[(String, Long)].collect().toSet == got.toSet)
    // and matches the driver-side replay of the same draw
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val wantBig = (0 until 25).map(_.toLong)
      .sortBy(id => (h(id), id)).take(10).toSet
    assert(bySource("big") == wantBig)
  }

  test("dsirSelect ranks target-like raw docs above off-domain docs; target docs never score") {
    val docs = (
      (1 to 10).map(i => (i.toLong, "alpha beta gamma alpha beta", true)) ++ Seq(
        (101L, "alpha beta gamma alpha", false), // target-vocab raw doc
        (102L, "zig zag zog zig", false),        // off-domain raw doc
        (103L, "alpha zig beta zag", false))     // mixed
    ).toDF("doc_id", "text", "tgt")
    val out = TextAnalysis.dsirSelect(docs, "doc_id", "text", col("tgt"),
        dims = 32, k = 3)
      .select("doc_id", "weight", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
    assert(out.map(_._1) == Seq(101L, 103L, 102L), s"got $out")
    assert(out(0)._2 > out(1)._2 && out(1)._2 > out(2)._2, s"got $out")
    assert(!out.map(_._1).exists(id => id <= 10L), "target docs must never score")
  }

  // ── DSIR driver-side replay machinery (shared by the weight and
  //    Gumbel-key tests) ──
  private val dsirDims = 16
  private val dsirCorpus = Seq(1L -> true, 2L -> true, 3L -> false,
    4L -> false, 5L -> false)
  private val dsirTexts = Map(1L -> "data table spark",
    2L -> "table spark spark query", 3L -> "window sort merge",
    4L -> "data table window", 5L -> "spark query data table")
  private def dsirDf = dsirCorpus
    .map { case (id, tgt) => (id, dsirTexts(id), tgt) }
    .toDF("doc_id", "text", "tgt")
  private def md5Bytes(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
  private def dsirLanes(text: String): Array[Long] = {
    val c = new Array[Long](dsirDims)
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).foreach { t =>
      val d = md5Bytes(t)
      val lane = ((((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)) % dsirDims).toInt
      c(lane) += 1
    }
    c
  }
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  /** Weights replayed exactly as the operator computes them. */
  private def dsirWantWeights: Map[Long, Double] = {
    val tc = new Array[Long](dsirDims); val rc = new Array[Long](dsirDims)
    dsirCorpus.foreach { case (id, tgt) =>
      val l = dsirLanes(dsirTexts(id))
      (0 until dsirDims).foreach(j => if (tgt) tc(j) += l(j) else rc(j) += l(j))
    }
    val (tt, rt) = (tc.sum, rc.sum)
    val llr = (0 until dsirDims).map(j => r6(
      math.log((tc(j) + 1.0) / (tt + dsirDims.toDouble)) -
        math.log((rc(j) + 1.0) / (rt + dsirDims.toDouble))))
    dsirCorpus.filterNot(_._2).map { case (id, _) =>
      val l = dsirLanes(dsirTexts(id))
      id -> r6((0 until dsirDims).foldLeft(0.0)((acc, j) => acc + l(j) * llr(j)))
    }.toMap
  }

  test("dsirSelect weights equal a driver-side replay of the hashed-bag model") {
    val got = TextAnalysis.dsirSelect(dsirDf, "doc_id", "text", col("tgt"),
        dims = dsirDims, k = 10)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    assert(got == dsirWantWeights, s"got $got want $dsirWantWeights")
  }

  test("dsirResample keys equal weight/T − ln(−ln(u)) under the deterministic md5 draw") {
    val temp = 2.0
    val want = dsirWantWeights.map { case (id, w) =>
      val d = md5Bytes(id.toString)
      val prefix = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      val u = (prefix.toDouble + 0.5) / 4294967296.0
      id -> (w, r6(w / temp - math.log(-math.log(u))))
    }
    val got = TextAnalysis.dsirResample(dsirDf, "doc_id", "text", col("tgt"),
        dims = dsirDims, k = 10, temp = temp)
      .select("doc_id", "weight", "key")
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want, s"got $got want $want")
    // ranks descend in key with the doc_id tie-break
    val ranks = TextAnalysis.dsirResample(dsirDf, "doc_id", "text", col("tgt"),
        dims = dsirDims, k = 10, temp = temp)
      .select("doc_id", "key", "rank").as[(Long, Double, Int)].collect()
      .sortBy(_._3).toSeq
    assert(ranks.map(r => (-r._2, r._1)) == ranks.map(r => (-r._2, r._1)).sorted)
  }

  test("proximityRank: minimum covering windows on planted position patterns") {
    val q = Seq("vector", "merge", "stream")
    val docs = Seq(
      (1L, "vector x merge stream"),                     // v1 m3 s4 → 4
      (2L, "merge vector stream vector"),                // m1 v2 s3 → 3
      (3L, "vector merge x x stream merge vector"),      // s5 m6 v7 → 3
      (4L, "vector merge only"),                         // missing stream
      (5L, "stream merge vector"),                       // adjacent → 3
      (6L, "vector x x x x x x x merge stream vector"),  // m9 s10 v11 → 3
    ).toDF("doc_id", "text")
    val got = TextAnalysis.proximityRank(docs, "doc_id", "text", q)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 4L, 2L -> 3L, 3L -> 3L, 5L -> 3L, 6L -> 3L),
      s"got $got")
  }

  test("proximityDocsSteady serves the direct answer from the landed positional index") {
    val dir = "/root/testdata/sf0.001"
    val direct = TextAnalysis.proximityDocs(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(direct.nonEmpty, "searchQuery must co-occur somewhere at sf0.001")
    val served = TextAnalysis.proximityDocsSteady(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(served == direct)
  }

  test("pplBuckets: per-language terciles partition the scored docs, monotone in score") {
    val out = TextAnalysis.pplBucketDocs(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Double, String)].collect().toSeq
    assert(out.nonEmpty)
    assert(out.map(_._4).toSet.subsetOf(Set("head", "middle", "tail")))
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val b = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      for (h <- b.get("head"); m <- b.get("middle"))
        assert(h.min >= m.max, s"$lang: head/middle overlap")
      for (m <- b.get("middle"); t <- b.get("tail"))
        assert(m.min >= t.max, s"$lang: middle/tail overlap")
      // a tercile split of ≥ 3 docs populates every stratum
      if (rows.size >= 3)
        assert(b.keySet == Set("head", "middle", "tail"),
          s"$lang: ${rows.size} docs split into ${b.keySet}")
    }
    // sub-2-token docs carry no perplexity and are excluded, others all present
    val n = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(org.apache.spark.sql.functions.size(
        TextAnalysis.tokens(org.apache.spark.sql.functions.col("text"))) >= 2)
      .count()
    assert(out.size.toLong == n)
  }

  test("dsirDocsSteady serves the retrain answer from the landed model") {
    val dir = "/root/testdata/sf0.001"
    val retrain = TextAnalysis.dsirDocs(spark, dir)
      .as[(Long, Double, Int)].collect().toSet
    val served = TextAnalysis.dsirDocsSteady(spark, dir)
    assert(served.as[(Long, Double, Int)].collect().toSet == retrain)
    // the landed artifact exists and the serve plan carries no model fit
    assert(spark.catalog.tableExists(s"${TextAnalysis.dsirPrefix(dir)}_llr"))
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("posexplode"),
      s"steady serve must not refit the lane model:\n$plan")
  }

  test("dsirSelect is reproducible across reruns and partitionings") {
    val docs = (1 to 40).map(i =>
      (i.toLong, graft.TestDocs.doc(i), i % 3 == 0)).toDF("doc_id", "text", "tgt")
    val a = TextAnalysis.dsirSelect(docs, "doc_id", "text", col("tgt"), k = 10)
      .select("doc_id", "weight", "rank").as[(Long, Double, Int)].collect().toSet
    val b = TextAnalysis.dsirSelect(docs.repartition(7), "doc_id", "text",
        col("tgt"), k = 10)
      .select("doc_id", "weight", "rank").as[(Long, Double, Int)].collect().toSet
    assert(a == b && a.size == 10)
  }

  test("curationReport: per-source dup rate, token share, keep rate, novelty share, exactly") {
    val docs = Seq(
      (1L, "en", "A", "the alpha beta gamma delta"), // keep (stopword 'the')
      (2L, "en", "A", "the alpha beta gamma delta"), // verbatim dup of 1
      (3L, "en", "B", "one two three four"),         // 18 chars → keep false
    ).toDF("doc_id", "lang", "source", "text")
    val out = TextAnalysis.curationReport(docs)
      .as[(String, Long, Long, Double, Long, Double, Double, Double)]
      .collect().map(r => (r._1, r)).toMap
    // A: 2 docs, 1 dup, tokens 10/14, keep 2/2; grams: 3 per doc, copy
    // contributes 0 novel → 3/6
    assert(out("A") == (("A", 2L, 1L, 0.5, 10L, 0.714286, 1.0, 0.5)))
    // B: 1 doc, 0 dups, tokens 4/14, keep 0; both grams novel
    assert(out("B") == (("B", 1L, 0L, 0.0, 4L, 0.285714, 0.0, 1.0)))
  }

  test("retrievalEval: perfect ranking scores 1.0 across the board; k cuts recall, not MRR") {
    val docs = Seq(
      (1L, "x y x y"),  // relevant, strongest
      (2L, "x y"),      // relevant
      (3L, "x z"),      // one term only — never outranks a both-term doc
      (4L, "w w"),      // no terms
    ).toDF("doc_id", "text")
    val q = Seq("x", "y")
    val full = TextAnalysis.retrievalEval(docs, "doc_id", "text", q, k = 25)
      .as[(Int, Long, Long, Double, Double, Double)].collect().head
    assert(full == ((25, 2L, 2L, 1.0, 1.0, 1.0)), s"full: $full")
    // k=1: one of the two relevant docs is cut — recall halves, the
    // rank-1 hit keeps MRR at 1.0, and nDCG@1 vs ideal@min(n_rel,1) is 1
    val at1 = TextAnalysis.retrievalEval(docs, "doc_id", "text", q, k = 1)
      .as[(Int, Long, Long, Double, Double, Double)].collect().head
    assert(at1 == ((1, 2L, 1L, 0.5, 1.0, 1.0)), s"at1: $at1")
  }

  test("collocations: PMI ranks the planted pair, honors the count floor, derives unigrams from the pair table") {
    // unigrams: alpha 6, beta 6, c 7 (T = 19); bigrams: (alpha,beta)×5,
    // (c,c)×4, three singletons (TB = 12) — the floor cuts the singletons
    val docs = (Seq.fill(5)("alpha beta") ++
      Seq("c c c c c", "alpha c beta c") ++ Seq("", "solo"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def pmi(np: Long, n1: Long, n2: Long, t: Long, tb: Long): Double =
      BigDecimal(math.log(np.toDouble * t * t / (tb.toDouble * n1 * n2)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.collocations(docs, "text", minCount = 2L, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    // "solo" adds 1 to unigrams (T = 20) with no bigram
    val want = Seq(
      ("alpha", "beta", 5L, pmi(5, 6, 6, 20, 12)),
      ("c", "c", 4L, pmi(4, 7, 7, 20, 12)))
    assert(got == want, s"got $got want $want")
    // the floor at 5 on the tiny corpus keeps only the planted pair
    val floored = TextAnalysis.collocations(docs, "text", minCount = 5L, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(floored == want.take(1), s"floored: $floored")
    // layout invariance
    val rep = TextAnalysis.collocations(docs.repartition(7), "text",
        minCount = 2L, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(rep == got, "collocations must not depend on input layout")
    // additivity: pair counts summed over ANY batch partition serve the
    // same report (the steady-form law)
    val merged = TextAnalysis.collocationsFromPairs(
      TextAnalysis.collocationPairRows(docs.filter(col("doc_id") % 3 === 0), "text")
        .unionByName(TextAnalysis.collocationPairRows(
          docs.filter(col("doc_id") % 3 =!= 0), "text"))
        .groupBy("w1", "w2").agg(sum(col("c")).as("c")),
      minCount = 2L, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(merged == got, "pair counts must be additive over batches")
  }

  test("domainReweight upweights the domain the generalist model underfits") {
    // 'niche': tiny vocabulary, few docs — its own bigram LM fits it far
    // better than the corpus-wide model (whose vocab is inflated by
    // 'bulk'); 'bulk': large vocabulary. Excess loss per bigram is
    // ln((c_l + V)/(c_l + V_s)): large for niche (V ≫ V_s, small c_l),
    // near zero for bulk (V ≈ V_s).
    val bulk = (0 until 5).map { i =>
      (i.toLong, (0 until 30).map(j => s"w${i}x$j").mkString(" "), "bulk")
    }
    val niche = Seq(
      (100L, "p q p q p q p q", "niche"),
      (101L, "q p q p q p", "niche"))
    val docs = (bulk ++ niche).toDF("doc_id", "text", "source")
    val got = TextAnalysis.domainReweight(docs, "doc_id", "text", "source")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set("bulk", "niche"))
    val (xB, wB) = (got("bulk")._4, got("bulk")._5)
    val (xN, wN) = (got("niche")._4, got("niche")._5)
    assert(xN > xB, s"niche excess $xN must exceed bulk $xB")
    assert(math.abs(wB + wN - 1.0) < 1e-5, "weights must normalize")
    // the update must UPWEIGHT niche relative to its size share
    val shareN = got("niche")._3.toDouble / (got("bulk")._3 + got("niche")._3)
    assert(wN > shareN, s"niche weight $wN must exceed its share $shareN")
    // layout invariance
    val rep = TextAnalysis.domainReweight(docs.repartition(7),
        "doc_id", "text", "source")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rep == got, "reweighting must not depend on input layout")
  }

  test("landed LM state serves the direct domain reweight (landed ≡ direct)") {
    // the steady serve folds the landed model/vocab/stats catalog
    // tables — additive relations with no arrival-order term, so it
    // must equal the direct corpus scan bit-for-bit (the shared-oracle
    // law, pinned locally at sf0.001); the second serve reuses the
    // catalog tables (the quantizer-memo discipline)
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(TextAnalysis.domainReweightSteadyDocs(spark, dir))
      == rows(TextAnalysis.domainReweightDocs(spark, dir)),
      "steady domain reweight must equal the direct scan")
    val prefix = TextAnalysis.lmPrefix(dir)
    assert(Seq("model", "vocab", "stats")
      .forall(t => spark.catalog.tableExists(s"${prefix}_$t")),
      "the LM state must be landed as catalog tables")
    // η re-sweeps off the same landed state stay consistent: weights
    // re-normalize, the integer state (n_docs, n_bigrams) is unchanged
    val e2 = TextAnalysis.domainReweightSteadyDocs(spark, dir, eta = 2.0)
      .as[(String, Long, Long, Double, Double)].collect()
    val e1 = TextAnalysis.domainReweightSteadyDocs(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(e2.map(r => (r._1, r._2, r._3)).toSet
      == e1.map(r => (r._1, r._2, r._3)).toSet,
      "η must not change the integer state")
    assert(math.abs(e2.map(_._5).sum - 1.0) < 1e-4,
      "η-swept weights must still normalize")
  }

  // ── NFC normalization (E210) ─────────────────────────────────────────

  test("nfc_norm: composed and decomposed spellings fingerprint identically") {
    import org.apache.spark.sql.functions.md5
    val rows = Seq(
      (1L, "caf\u00e9 \u00fcber"),       // composed e-acute, u-umlaut
      (2L, "café über"),      // decomposed e+´, u+¨
      (3L, "plain ascii stays put"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = rows.select(col("id"),
        graft.functions.GraftFunctions.nfcNorm(col("t")).as("n"),
        md5(graft.functions.GraftFunctions.nfcNorm(col("t")).cast("binary")).as("fp"))
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    assert(got(1L)._2 == got(2L)._2,
      "composed and decomposed forms must share a fingerprint")
    assert(got(1L)._1.get == "caf\u00e9 \u00fcber", "NFC output is the composed form")
    assert(got(2L)._1.get == "caf\u00e9 \u00fcber", "decomposed input composes")
    assert(got(3L)._1.get == "plain ascii stays put", "ASCII is untouched")
    assert(got(4L)._1.isEmpty && got(4L)._2.isEmpty, "null in → null out")
    // idempotence: normalizing the normalized form is identity
    val twice = rows.filter(col("t").isNotNull).select(
      graft.functions.GraftFunctions.nfcNorm(
        graft.functions.GraftFunctions.nfcNorm(col("t"))).as("n2"),
      graft.functions.GraftFunctions.nfcNorm(col("t")).as("n1"))
      .collect()
    assert(twice.forall(r => r.getString(0) == r.getString(1)), "NFC idempotent")
  }

  test("normalizeFingerprints: changed flags exactly the planted decomposed rows") {
    val dir = "/root/testdata/sf0.001"
    val got = TextAnalysis.normalizeFingerprints(spark, dir)
      .as[(Long, String, Boolean)].collect()
    val (planted, base) = got.partition(_._1 >= 2000000L)
    assert(planted.nonEmpty, "planting broken")
    assert(planted.forall(_._3), "every planted row carries decomposed marks")
    assert(base.forall(!_._3), "the ASCII base corpus must be NFC-identity")
    // the planted copy's fp differs from its base doc's (suffix appended)
    val baseFp = base.map(r => r._1 -> r._2).toMap
    assert(planted.forall(p => baseFp(p._1 - 2000000L) != p._2))
  }
}
