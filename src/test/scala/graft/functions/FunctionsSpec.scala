package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  // Reference vectors computed with Python: str(int(hashlib.md5(s.encode()).hexdigest(), 16))
  // — the exact semantics of encrypt_zip (kafka_streaming_service.py:142-146).
  private val pseudonymVectors = Seq(
    "12345"   -> "173447602773428053556316684567667297915",
    "E14 5AB" -> "175404693582726355372592189695861390975",
    "0"       -> "276215275525073243129443018166533317850",
    "hello"   -> "123957004363873451094272536567338222994",
    ""        -> "281949768489412648962353822266799178366",
  )

  test("md5Pseudonym matches Python int(md5(s).hexdigest(), 16) on known vectors") {
    val df = pseudonymVectors.map(_._1).toDF("zip")
      .select(GraftFunctions.md5Pseudonym(col("zip")).as("p"))
    assert(df.as[String].collect().toSeq == pseudonymVectors.map(_._2))
  }

  test("hex_to_dec exceeds 64 bits without truncation (the conv() trap)") {
    // conv('ffffffffffffffffff', 16, 10) wraps at 64 bits; hex_to_dec must not.
    val got = spark.sql("SELECT hex_to_dec('ffffffffffffffffff') AS v").as[String].head()
    assert(got == BigInt("ffffffffffffffffff", 16).toString)
    assert(got == "4722366482869645213695")
  }

  test("hex_to_dec is null on malformed input and null input") {
    val got = spark.sql("SELECT hex_to_dec('xyz') AS a, hex_to_dec(CAST(NULL AS STRING)) AS b")
      .collect().head
    assert(got.isNullAt(0) && got.isNullAt(1))
  }

  test("hex_to_dec property: round-trips BigInt hex for arbitrary values (seeded)") {
    val rnd = new scala.util.Random(42)
    val hexes = Seq.fill(50)(Seq.fill(1 + rnd.nextInt(40))("0123456789abcdef"(rnd.nextInt(16))).mkString)
    val got = hexes.toDF("h").select(GraftFunctions.hexToDec(col("h")).as("v"))
      .as[String].collect().toSeq
    assert(got == hexes.map(h => BigInt(h, 16).toString))
  }

  test("cosine_sim: identical → 1, orthogonal → 0, known value") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
    ).toDF("a", "b").select(GraftFunctions.cosineSim(col("a"), col("b")).as("c"))
    val Seq(one, zero, known) = df.as[Double].collect().toSeq
    assert(math.abs(one - 1.0) < 1e-12)
    assert(math.abs(zero) < 1e-12)
    val expect = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(known - expect) < 1e-12)
  }

  test("cosine_sim null propagation") {
    val r = spark.sql(
      "SELECT cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS v")
      .collect().head
    assert(r.isNullAt(0))
  }

  test("dot_f computes the double-precision dot product") {
    val d = Seq((Array(1.5f, -2f), Array(4f, 0.25f))).toDF("a", "b")
      .select(GraftFunctions.dotF(col("a"), col("b")).as("d")).as[Double].head()
    assert(math.abs(d - (1.5 * 4 - 2 * 0.25)) < 1e-12)
  }

  test("minhash_sig: deterministic, k values, permutation-invariant, set-sensitive") {
    val df = Seq(
      Seq(1L, 2L, 3L, 4L),
      Seq(4L, 3L, 2L, 1L), // same set, different order
      Seq(9L, 10L, 11L, 12L), // disjoint set
    ).toDF("h").select(GraftFunctions.minhashSig(col("h"), 16, 42L).as("sig"))
    val Seq(a, b, c) = df.as[Seq[Long]].collect().toSeq
    assert(a.length == 16)
    assert(a == b, "minhash must depend on the set, not element order")
    assert(a != c, "disjoint sets should (overwhelmingly) differ")
  }

  test("minhash_sig property: Jaccard-similar sets share more signature slots") {
    // 90%-overlapping sets should agree on many slots; disjoint on ~none.
    val base = (1L to 100L).toSeq
    val near = base.drop(10) ++ (201L to 210L)
    val far = (1001L to 1100L).toSeq
    val df = Seq(base, near, far).toDF("h")
      .select(GraftFunctions.minhashSig(col("h"), 64, 7L).as("sig"))
    val Seq(sb, sn, sf) = df.as[Seq[Long]].collect().toSeq
    val agreeNear = sb.zip(sn).count { case (x, y) => x == y }
    val agreeFar = sb.zip(sf).count { case (x, y) => x == y }
    assert(agreeNear > 40, s"expected >40/64 agreement for J≈0.82, got $agreeNear")
    assert(agreeFar < 8, s"expected <8/64 agreement for J=0, got $agreeFar")
  }

  test("simhash64: equal sets equal hashes; overlapping sets near in Hamming space") {
    val base = (1L to 200L).toSeq
    val near = base.drop(5) ++ (901L to 905L)
    val far = (10001L to 10200L).toSeq
    val df = Seq(base, base, near, far).toDF("h")
      .select(GraftFunctions.simhash64(col("h")).as("s"))
    val Seq(a, b, n, f) = df.as[Long].collect().toSeq
    assert(a == b)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, n) < ham(a, f), s"near=${ham(a, n)} far=${ham(a, f)}")
    assert(ham(a, n) <= 12, s"97.5% overlap should be few bits, got ${ham(a, n)}")
  }

  test("topk_by equals sort-take-k, skips NaN/null, breaks ties on id asc") {
    val rng = new scala.util.Random(5)
    // groups with ties, NaN, nulls, and fewer-than-k groups
    val rows = (1 to 500).map { i =>
      val g = (i % 7).toLong
      val s: java.lang.Double = i % 23 match {
        case 0 => Double.NaN
        case 1 => null
        case _ => (rng.nextInt(10) / 10.0) // many exact ties
      }
      (g, i.toLong, s)
    } ++ Seq((99L, 1L, java.lang.Double.valueOf(0.5))) // group smaller than k
    val df = rows.toDF("query_id", "vec_id", "score")
    val k = 5
    val got = df.groupBy("query_id")
      .agg(graft.functions.GraftFunctions.topKBy(col("score"), col("vec_id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("vec_id"), col("t.score").as("score"))
      .as[(Long, Long, Double)].collect().toSet
    val want = rows.filter(r => r._3 != null && !r._3.isNaN)
      .groupBy(_._1).flatMap { case (g, rs) =>
        rs.map(r => (r._2, r._3.doubleValue()))
          .sortBy { case (id, s) => (-s, id) }.take(k)
          .map { case (id, s) => (g, id, s) }
      }.toSet
    assert(got == want)
  }

  test("topk_by plans as a partial-merge ObjectHashAggregate, not a window sort") {
    val df = Seq((1L, 1L, 0.5), (1L, 2L, 0.7)).toDF("query_id", "vec_id", "score")
    val cut = df.groupBy("query_id")
      .agg(graft.functions.GraftFunctions.topKBy(col("score"), col("vec_id"), 5).as("top"))
    cut.collect()
    val plan = cut.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_topk_by"), s"expected a partial aggregation phase:\n$plan")
  }

  test("functions are SQL-registered via GraftExtensions") {
    assert(spark.sql("SELECT hex_to_dec('ff') AS v").as[String].head() == "255")
    val c = spark.sql(
      "SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS v")
      .as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
    val sig = spark.sql("SELECT minhash_sig(array(1L, 2L), 8, 42L) AS v").as[Seq[Long]].head()
    assert(sig.length == 8)
    val top = spark.sql(
      "SELECT topk_by(CAST(s AS DOUBLE), i, 2) AS t FROM (VALUES (0.3, 1L), (0.9, 2L), (0.5, 3L)) AS v(s, i)")
      .select(explode(col("t")).as("p")).select("p.id").as[Long].collect().toSeq
    assert(top == Seq(2L, 3L))
  }

  test("pq_codes / pq_cell reject a codebook subspace with no cells at construction") {
    val ids = Array(Array(0L, 1L), Array.empty[Long])
    val cents = Array(Array(Array(0.0, 1.0), Array(1.0, 0.0)), Array.empty[Array[Double]])
    val enc = intercept[IllegalArgumentException](
      GraftFunctions.pqCodes(col("e"), 2, ids, cents))
    assert(enc.getMessage.contains("subspace 1 has no cells"), enc.getMessage)
    val cell = intercept[IllegalArgumentException](
      GraftFunctions.pqCell(col("s"), col("e"), ids, cents))
    assert(cell.getMessage.contains("subspace 1 has no cells"), cell.getMessage)
  }

  test("pq_codes maps a null embedding to null codes") {
    val ids = Array(Array(0L, 1L), Array(0L, 1L))
    val cents = Array.fill(2)(Array(Array(0.0, 1.0), Array(1.0, 0.0)))
    val got = Seq((1L, Some(Array(1f, 0f, 0f, 1f))), (2L, None))
      .toDF("id", "e")
      .select(col("id"), GraftFunctions.pqCodes(col("e"), 2, ids, cents).as("c"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(got(1L).contains(Seq(1L, 0L)))
    assert(got(2L).isEmpty, "a null embedding has no codes")
  }

  test("moment_sums fails clearly when a 128-bit sum exceeds decimal(38,0)") {
    val agg = MomentSums(org.apache.spark.sql.catalyst.expressions.Literal(null))
    val buf = agg.createAggregationBuffer()
    buf.grow(1)
    buf.cnt = 1
    // 10^38 − 1 is the largest decimal(38,0): it still converts
    def set(v: java.math.BigInteger): Unit = {
      buf.pairHi(0) = v.shiftRight(64).longValue()
      buf.pairLo(0) = v.longValue()
    }
    set(MomentSums.MaxDecimal38)
    assert(agg.eval(buf) != null)
    // one more needs 39 digits (still < 2^127, so the limbs hold it)
    set(MomentSums.MaxDecimal38.add(java.math.BigInteger.ONE))
    val e = intercept[ArithmeticException](agg.eval(buf))
    assert(e.getMessage.contains("exceeds decimal(38,0)"), e.getMessage)
  }
}
