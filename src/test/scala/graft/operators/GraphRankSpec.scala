package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank semantics on graphs whose stationary behavior is known in
  * closed form — the oracle checks the corpus instantiation; these pin
  * the recurrence itself (mass conservation, uniformity on symmetric
  * graphs, dangling redistribution, hub dominance) on adversarial
  * shapes the corpus graph can't isolate. */
class GraphRankSpec extends SparkTestBase {
  import spark.implicits._

  private def verts(n: Int): DataFrame =
    (0L until n.toLong).toDF("vec_id")

  private def ranksOf(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("ring graph: uniform ranks, mass exactly conserved") {
    val n = 8
    val edges = (0L until n.toLong).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val r = ranksOf(GraphRank.pageRank(verts(n), edges, iters = 5))
    assert(r.size == n)
    // the uniform vector is the ring's fixed point from iteration 0
    r.values.foreach(v => assert(math.abs(v - 1.0 / n) < 1e-9, r))
    assert(math.abs(r.values.sum - 1.0) < 1e-7)
  }

  test("hub graph: every leaf points at the hub; hub dominates and leaves tie") {
    val n = 6
    val edges = (1L until n.toLong).map(i => (i, 0L)).toDF("src", "dst")
    val r = ranksOf(GraphRank.pageRank(verts(n), edges, iters = 5))
    val leaves = (1L until n.toLong).map(r)
    assert(leaves.distinct.size == 1, "leaves must tie exactly")
    assert(r(0L) > 3 * leaves.head, s"hub must dominate: $r")
    // hub itself is dangling — its mass redistributes, total stays 1
    assert(math.abs(r.values.sum - 1.0) < 1e-7)
  }

  test("all-dangling graph (no edges): stays uniform via redistribution") {
    val n = 5
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val r = ranksOf(GraphRank.pageRank(verts(n), edges, iters = 3))
    r.values.foreach(v => assert(math.abs(v - 1.0 / n) < 1e-9, r))
  }

  test("two-scc asymmetry: a vertex receiving two in-edges outranks one receiving zero") {
    // 1->0, 2->0, 0->1: vertex 0 has in-degree 2, vertex 2 in-degree 0
    val edges = Seq((1L, 0L), (2L, 0L), (0L, 1L)).toDF("src", "dst")
    val r = ranksOf(GraphRank.pageRank(verts(3), edges, iters = 5))
    assert(r(0L) > r(1L) && r(1L) > r(2L), r)
    assert(math.abs(r.values.sum - 1.0) < 1e-7)
  }

  test("iteration count is honored: iters=0 returns the uniform start") {
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    val r = ranksOf(GraphRank.pageRank(verts(4), edges, iters = 0))
    r.values.foreach(v => assert(v == 0.25, r))
  }

  test("corpus instantiation is deterministic and covers every vector") {
    val dir = "/root/testdata/sf0.001"
    val a = GraphRank.pageRankDocs(spark, dir)
    val nVec = graft.sources.Tables.load(spark, dir, "embeddings").count()
    assert(a.count() == nVec)
    val b = GraphRank.pageRankDocs(spark, dir)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // mass conservation survives the real graph's dangling vertices
    val total = a.agg(sum(col("rank"))).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-5, total)
  }

  // ---- label propagation ----

  /** Reference LPA: the same deterministic synchronous rule (symmetrize
    * + dedup, neighbor votes + one self-vote, max count then min label)
    * as a driver-side loop — ground truth for the distributed plan. */
  private def lpaRef(n: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val und = (edges ++ edges.map(e => (e._2, e._1))).distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = n.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lab = n.map { v =>
        val votes = (adj.getOrElse(v, Seq.empty).map(lab) :+ lab(v))
          .groupBy(identity).view.mapValues(_.size)
        v -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }.toMap
    }
    lab
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("LPA: two disjoint triangles collapse to their min ids; isolated vertex keeps its own") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("src", "dst")
    val l = labelsOf(GraphRank.labelPropagation(verts(7), edges, iters = 5))
    assert(Seq(0L, 1L, 2L).map(l).forall(_ == 0L), l)
    assert(Seq(3L, 4L, 5L).map(l).forall(_ == 3L), l)
    assert(l(6L) == 6L, s"isolated vertex must keep its own label: $l")
  }

  test("LPA: the self-vote damps the star's synchronous oscillation to one stable community") {
    // K1,3: without the self-vote the center would adopt a leaf label in
    // the same round the leaves adopt the center's — a two-cycle. With
    // it, round 1 is already the fixed point {all -> 0}.
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val one = labelsOf(GraphRank.labelPropagation(verts(4), edges, iters = 1))
    assert(one.values.forall(_ == 0L), one)
    val five = labelsOf(GraphRank.labelPropagation(verts(4), edges, iters = 5))
    assert(five == one, s"fixed point must be stable: $five vs $one")
  }

  test("LPA: matched pair adopts min(a,b); direction of the input edge is irrelevant") {
    val f = labelsOf(GraphRank.labelPropagation(verts(4),
      Seq((2L, 1L)).toDF("src", "dst"), iters = 3))
    val b = labelsOf(GraphRank.labelPropagation(verts(4),
      Seq((1L, 2L)).toDF("src", "dst"), iters = 3))
    assert(f == b, s"symmetrization must erase direction: $f vs $b")
    assert(f(1L) == 1L && f(2L) == 1L && f(0L) == 0L && f(3L) == 3L, f)
  }

  test("communitySample caps every community at k, keeps singletons, and is deterministic") {
    // two triangles (collapse to communities of 3) + an isolated vertex:
    // cap at 2 keeps exactly 2 per triangle and the singleton itself
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("src", "dst")
    val com = GraphRank.labelPropagation(verts(7), edges, iters = 5)
    val s = GraphRank.communitySample(com, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byCom = s.groupBy(_._1)
    assert(byCom.keySet == Set(0L, 3L, 6L), s"communities: ${byCom.keySet}")
    assert(byCom(0L).length == 2 && byCom(3L).length == 2 && byCom(6L).length == 1, s)
    val again = GraphRank.communitySample(com, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(s.sorted.sameElements(again.sorted), "sample must be deterministic")
  }

  test("modularity: disjoint triangles score 0.25 each; the all-in-one partition scores 0") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("src", "dst")
    // the LPA partition: {0,1,2} and {3,4,5} — m_dir=12, per triangle
    // in_dir=6, deg=6 → 6/12 − (6/12)² = 0.25; Q = 0.5
    val com = GraphRank.labelPropagation(verts(6), edges, iters = 5)
    val m = GraphRank.modularity(com, edges).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(m == Map(0L -> 0.25, 3L -> 0.25), s"got $m")
    // the degenerate one-community partition always scores exactly 0
    val one = verts(6).select(col("vec_id"), lit(0L).as("community"))
    val q0 = GraphRank.modularity(one, edges).collect()
      .map(_.getDouble(4)).sum
    assert(q0 == 0.0, s"one-community Q must be 0, got $q0")
  }

  test("LPA equals the reference rule on randomized graphs") {
    for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      val n = 12L
      val edges = Seq.fill(20)((rng.nextInt(12).toLong, rng.nextInt(12).toLong))
        .filter(e => e._1 != e._2).distinct
      val want = lpaRef(0L until n, edges, iters = 5)
      val got = labelsOf(GraphRank.labelPropagation(verts(12),
        edges.toDF("src", "dst"), iters = 5))
      assert(got == want, s"seed=$seed: got $got want $want")
    }
  }

  test("landed community state serves the direct monitor answers (landed ≡ direct)") {
    // the steady serves fold the landed edge/label tables — same
    // deterministic tails, so they must equal the direct rebuild
    // bit-for-bit (the shared-oracle law, pinned locally at sf0.001);
    // landing is paid once: the second serve must reuse the catalog
    // tables (the quantizer-memo discipline)
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(GraphRank.modularitySteadyDocs(spark, dir))
      == rows(GraphRank.modularityDocs(spark, dir)),
      "steady modularity must equal the direct rebuild")
    assert(rows(GraphRank.communitySampleSteadyDocs(spark, dir))
      == rows(GraphRank.communitySampleDocs(spark, dir)),
      "steady community sample must equal the direct rebuild")
    val prefix = GraphRank.communityPrefix(dir)
    assert(spark.catalog.tableExists(s"${prefix}_labels") &&
      spark.catalog.tableExists(s"${prefix}_edges"),
      "the community state must be landed as catalog tables")
  }

  // ---- the co-partitioned RDD kernels against the DataFrame recurrence ----

  /** The DataFrame form of [[GraphRank.pageRank]] the RDD kernel
    * replaced, kept verbatim (minus the plan-audit switch) as the
    * reference the kernel must equal bit-for-bit. */
  private def refPageRank(vertices: DataFrame, edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val n = vertices.count()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val e = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcSet = e.select(col("src").as("vec_id")).distinct().localCheckpoint()
    var ranks = vertices.select(col("vec_id"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      val dang = ranks.join(srcSet, Seq("vec_id"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dmass"))
      val contribs = e
        .join(ranks.withColumnRenamed("vec_id", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("w") * col("rank")).as("contrib"))
      ranks = vertices.select(col("vec_id"))
        .join(contribs.withColumnRenamed("dst", "vec_id"),
          Seq("vec_id"), "left_outer")
        .crossJoin(broadcast(dang))
        .select(col("vec_id"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) +
              col("dmass") / lit(n.toDouble))).as("rank"))
        .localCheckpoint()
    }
    val out = ranks.select(col("vec_id"), round(col("rank"), 9).as("rank"))
    e.unpersist()
    out
  }

  /** The DataFrame form of [[GraphRank.labelPropagation]] the RDD kernel
    * replaced (see [[refPageRank]]). */
  private def refLabelPropagation(vertices: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = vertices.select(col("vec_id"), col("vec_id").as("label"))
    for (_ <- 1 to iters) {
      val votes = und
        .join(labels.withColumnRenamed("vec_id", "dst"), Seq("dst"))
        .select(col("src").as("vec_id"), col("label"))
        .unionByName(labels)
        .groupBy(col("vec_id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      labels = votes
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("cnt").desc, col("label").asc)))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("label"))
        .localCheckpoint()
    }
    val out = labels.select(col("vec_id"), col("label").as("community"))
    und.unpersist()
    out
  }

  /** Rows with the second column as raw bits, sorted (duplicates kept). */
  private def exactRows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.get(1) match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case l: Long => l
    })).sorted

  /** A seeded graph over vertices 0 until n with every awkward shape in
    * it: dangling and isolated vertices (ids ≥ n/2 get no out-edges),
    * duplicate edges, self-loops, mutual edges, and endpoints outside
    * the vertex set on both sides (ids −2, −1, n, n + 1). */
  private def awkwardGraph(seed: Int, n: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    def id(): Long = rng.nextInt(n + 4).toLong - 2
    val random = Seq.fill(3 * n)((rng.nextInt(n / 2).toLong, id()))
    val shaped = Seq((1L, 1L), (2L, 3L), (2L, 3L), (3L, 2L),
      (-1L, 4L), (4L, n.toLong), (5L, n + 1L))
    (random ++ shaped ++ random.take(n / 4)).toDF("src", "dst")
  }

  test("RDD pageRank equals the DataFrame recurrence bit-for-bit on awkward graphs") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    for ((edges, n) <- Seq((awkwardGraph(1, 40), 40), (awkwardGraph(2, 200), 200),
        (empty, 7)); iters <- Seq(0, 1, 5)) {
      val got = GraphRank.pageRank(verts(n), edges, iters)
      val want = refPageRank(verts(n), edges, iters)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)))
      assert(exactRows(got) == exactRows(want), s"n=$n iters=$iters")
    }
  }

  test("RDD labelPropagation equals the DataFrame recurrence on awkward graphs") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    // mutual edges only: each pair votes once per direction
    val mutual = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 2L))
      .toDF("src", "dst")
    for ((edges, n) <- Seq((awkwardGraph(3, 40), 40), (awkwardGraph(4, 200), 200),
        (mutual, 4), (empty, 7)); iters <- Seq(0, 1, 5)) {
      val got = GraphRank.labelPropagation(verts(n), edges, iters)
      val want = refLabelPropagation(verts(n), edges, iters)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)))
      assert(exactRows(got) == exactRows(want), s"n=$n iters=$iters")
    }
  }

  test("both kernels give identical rows whatever the edge input's partition count") {
    val edges = awkwardGraph(5, 300)
    def split(k: Int) = edges.repartition(k).localCheckpoint()
    val pr = Seq(1, 3, 7).map(k => exactRows(GraphRank.pageRank(verts(300), split(k))))
    val lpa = Seq(1, 3, 7).map(k =>
      exactRows(GraphRank.labelPropagation(verts(300), split(k))))
    assert(pr.distinct.size == 1 && lpa.distinct.size == 1)
  }

  test("one job per iteration: pageRank and labelPropagation start at most iters + 2") {
    val edges = awkwardGraph(6, 500).localCheckpoint()
    val iters = 5
    val (_, pr) = jobsDuring(spark)(GraphRank.pageRank(verts(500), edges, iters).collect())
    val (_, lpa) = jobsDuring(spark)(
      GraphRank.labelPropagation(verts(500), edges, iters).collect())
    assert(pr <= iters + 2, s"pageRank started $pr jobs")
    assert(lpa <= iters + 2, s"labelPropagation started $lpa jobs")
  }
}
