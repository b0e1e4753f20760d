package graft

import java.util.Locale

/** The bench harness's selection rule, JSON writers and entry shape. */
class BenchSpec extends SparkTestBase {
  private val family = Seq("stream_near", "stream_search", "stream_hybrid",
    "stream_knn", "stream_hist", "stream_kmv", "stream_softdf",
    "stream_contain", "unified")

  private def selected(only: Option[Set[String]]): Seq[String] =
    Bench.entries.filter(Bench.selects(only, _)).map(_.key)

  test("selection: default, stream umbrella and explicit-only groups") {
    val laws: Seq[(Option[Set[String]], Seq[String])] = Seq(
      None -> (Seq("stream") ++ family :+ "prep_full"),
      Some(Set("stream")) -> ("stream" +: family),
      Some(Set("stream_near")) -> Seq("stream_near"),
      Some(Set("stream_cross")) -> Seq("stream_cross"),
      Some(Set("prep_full")) -> Seq("prep_full"),
      Some(Set("q2_count")) -> Seq.empty,
      Some(Set("stream", "unified_vs_separate")) ->
        (("stream" +: family) :+ "unified_vs_separate"))
    laws.foreach { case (only, want) =>
      assert(selected(only) == want, s"selection under $only")
    }
  }

  test("fnum renders a decimal dot under any default locale; jstr escapes") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try assert(Bench.fnum(1.5) == "1.5000")
    finally Locale.setDefault(saved)
    assert(Bench.jstr("a\"b\\c\nd\u0001e") == "\"a\\\"b\\\\c\\nd\\u0001e\"")
  }

  test("SPARK_GRAFT_BENCH_ONLY: unknown names fail, documented names pass") {
    val e = intercept[IllegalArgumentException](
      Bench.parseOnly(Some("stream_clean_docs, unified_ingest,stream")))
    assert(e.getMessage.contains("stream_clean_docs, unified_ingest"))
    Bench.entries.foreach(en => assert(e.getMessage.contains(en.key)))
    val ok = "dedup_minhash_lsh,stream_cross,unified_vs_separate"
    assert(Bench.parseOnly(Some(ok)) == Some(ok.split(",").toSet))
    assert(Bench.parseOnly(None).isEmpty)
  }

  test("stream_hist and stream_kmv entries emit the documented keys") {
    val want = Map(
      "stream_hist" -> Seq("op", "rows_in", "batches", "grow_wall_sec",
        "serve_quantiles_sec"),
      "stream_kmv" -> Seq("op", "rows_in", "batches", "grow_wall_sec",
        "serve_estimates_sec", "serve_setops_sec"))
    want.foreach { case (key, keys) =>
      val entry = Bench.entries.find(_.key == key).get
      val fields = Bench.run(spark, "/root/testdata/sf0.001", entry)
        .fold(err => fail(err), identity)
      assert(fields.map(_._1) == keys)
      assert(fields.toMap.apply("op") == key)
      assert(fields.toMap.apply("rows_in") == 1000L)
    }
  }
}
