package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Landing, Tables}

/** Beyond-reference analytics over the TPC-H-ish tables: the join /
  * per-group-top-k / distinct-counting shapes any consumer of the landed
  * data reaches for next. The reference's own surface has no joins at all
  * (SURVEY §2.4) — these pin down the engine's multi-join and
  * rank-per-group plans and their scale behavior.
  */
object Analytics {

  /** Star-schema revenue rollup: fact (lineitem) ⋈ orders ⋈ customer ⋈
    * nation, grouped by nation. The canonical "would this survive 100×"
    * join: dimensions are orders-of-magnitude smaller than the fact table,
    * so AQE turns every dimension side into a broadcast and the fact table
    * is never shuffled until the final (tiny, per-nation) aggregate; scan
    * reads exactly the 7 referenced columns of the 4 tables. */
  def starRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.load(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables.load(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val n = Tables.load(spark, dir, "nation").select("n_nationkey", "n_name")
    // price and discount are 2-dp values stored as doubles; summing
    // p*(1-d) in floating point makes the total depend on partial-merge
    // order (flaps across runs AND engines). Rescale to exact integers —
    // cents × (100 - discount%) — sum as long (≪ 2^53), divide once.
    val revScaled =
      round(l("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(l("l_discount") * 100).cast("long"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        (sum(revScaled) / 10000.0d).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Per-group top-k: the 3 most active users per event type. GroupBy
    * first (two-phase, one row per (type, user) crosses the shuffle), THEN
    * the native `topk_by` partial-merge cut over the aggregated set — at
    * 100 TB the (type, user) set is still millions of rows, and the
    * aggregate forwards k per type per partition where a rank window
    * would re-shuffle and sort all of them. Counts ride through the
    * double score losslessly (exact to 2^53). */
  def topUsersPerType(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val counts = Tables.load(spark, dir, "events")
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"))
    counts
      .groupBy("event_type")
      .agg(graft.functions.GraftFunctions.topKBy(
        col("n").cast("double"), col("user_id"), k).as("top"))
      .select(col("event_type"), explode(col("top")).as("t"))
      .select(col("event_type"), col("t.id").as("user_id"),
        col("t.score").cast("long").as("n"))
  }

  /** Skew diagnostics: the exact top-N heaviest values of a prospective
    * shuffle/join key with each one's share of the table — the
    * measurement [[graft.operators.SaltedAgg]]'s known-hot-key salting
    * consumes (you can't salt the keys you haven't found), and the first
    * thing to run when AQE reports a straggling skew-split stage.
    *
    * Scale shape: one two-phase count aggregate (one row per DISTINCT key
    * crosses the shuffle), then the `topk_by` bounded partial-merge
    * aggregate cuts to N per partition before the single final merge —
    * no rank window, no global sort, no driver-side collect; the total
    * rides a 1-row broadcast. Exact by design: the sketch alternative
    * (count-min / frequent-items) trades the guarantee for one pass, but
    * the count aggregate is one pass anyway. */
  def heavyHitters(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("n"))
    // total = table row count, taken directly from the input: summing
    // `counts` instead would re-run the whole keyed aggregate (Spark has
    // no cross-branch subplan sharing) — this branch is a scan folding to
    // one row with no shuffle (and a metadata-only count where the
    // source supports aggregate pushdown)
    val total = df.groupBy().agg(count(lit(1)).as("__total"))
    counts
      .groupBy()
      .agg(graft.functions.GraftFunctions.topKBy(
        col("n").cast("double"), col(keyCol), topN).as("top"))
      .select(posexplode(col("top")))
      .toDF("rk", "t")
      .crossJoin(broadcast(total))
      .select(
        col("t.id").as(keyCol),
        col("t.score").cast("long").as("n"),
        round(col("t.score") / col("__total"), 9).as("share"),
        (col("rk") + 1).cast("long").as("rank"))
  }

  /** CORRECTNESS instantiation: the 10 heaviest event users. */
  def heavyUserKeys(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(Tables.load(spark, dir, "events"), "user_id")

  /** Per-user training sequences — the "user history" construction every
    * behavioral-model data pipeline runs (and an LLM pipeline's
    * conversation/session assembly): each user's first `maxLen` events in
    * (ts, event_id) order, serialized as a delimited event-type string,
    * with the user's TOTAL event count alongside so downstream can tell
    * truncated histories from complete ones.
    *
    * Scale shape: the head-of-history cut runs through the custom
    * [[graft.plans.TopKPerKey]] operator — per-task bounded heaps mean at
    * most `users_in_task × maxLen` rows leave each scan task, where the
    * rank-window spelling would shuffle and per-user sort EVERY event of
    * every user (the full 100 TB). The collect_list then aggregates a set
    * already bounded to maxLen per user, so its per-group state is
    * bounded by contract — the unbounded-collect trap this operator
    * family usually hides. The total count is a separate two-phase agg
    * (one row per user) joined on the same key, so AQE plans both sides
    * of the join hash-partitioned identically. Determinism: (ts,
    * event_id) is a total order (event_id unique), and the final
    * array_sort orders each user's ≤ maxLen structs row-locally. */
  def userEventSequences(events: DataFrame, maxLen: Int): DataFrame = {
    val firstK = graft.plans.TopKPerKey(
      events.select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), Seq(col("ts").asc, col("event_id").asc), maxLen)
    val seqs = firstK
      .groupBy("user_id")
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("ord"))
      .select(
        col("user_id"),
        size(col("ord")).cast("long").as("seq_len"),
        array_join(transform(col("ord"), e => e.getField("event_type")), "|")
          .as("seq"))
    val totals = events.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    seqs.join(totals, "user_id")
      .select("user_id", "n_events", "seq_len", "seq")
  }

  /** CORRECTNESS instantiation: maxLen = 64 sits inside the sf0.01
    * per-user event-count range (49–86), so both the truncated and the
    * complete-history paths are live. */
  def userSequences(spark: SparkSession, dir: String): DataFrame =
    userEventSequences(Tables.load(spark, dir, "events"), maxLen = 64)

  /** Exact distinct counting (two-phase: partial distinct per partition,
    * merge). The approximate HLL++ path (`approx_count_distinct`) is the
    * 100 TB default — constant memory per group instead of a distinct
    * shuffle — and is accuracy-tested against this exact result in
    * AnalyticsSpec (no oracle: HLL sketches are engine-specific). */
  def userCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** Semi-structured extraction: parse the `props` JSON column against a
    * declared schema and aggregate an extracted field — the reference's
    * from_json operator (P2) applied batch-side to landed data. Parse is
    * scan-side and codegen'd; only (type, sum, count) partials shuffle.
    * avg = exact-long sum / count, so the double result is engine-stable. */
  def propsStats(spark: SparkSession, dir: String): DataFrame = {
    val kSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    Tables.load(spark, dir, "events")
      .select(col("event_type"), from_json(col("props"), kSchema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"), avg(col("k")).as("avg_k"))
  }

  /** Exact value percentiles per event_type (linear interpolation — the
    * same definition as the oracle's quantile_cont). Exact percentile
    * sorts every group's values; the 100 TB default is
    * [[approxValueQuantiles]] (constant-memory sketch), accuracy-tested
    * against this in AnalyticsSpec. */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.95)).as("p95"),
        percentile(col("value"), lit(0.99)).as("p99"))

  /** Sketch-based percentiles (`approx_percentile`): one bounded-size
    * digest per group crosses the shuffle instead of every value. */
  def approxValueQuantiles(spark: SparkSession, dir: String, acc: Int = 10000): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        approx_percentile(col("value"), lit(0.5), lit(acc)).as("p50"),
        approx_percentile(col("value"), lit(0.95), lit(acc)).as("p95"))

  /** 7-day trailing moving average of daily event counts per type —
    * the window-frame (RANGE BETWEEN) operator over event time. Scale
    * shape: aggregate FIRST (one row per (type, day) crosses the shuffle),
    * then the window frame runs over the tiny aggregated set — never a
    * sliding frame over raw events. The frame key is an integer day index
    * so RANGE semantics are exact across calendar gaps (a missing day
    * contributes nothing rather than shifting the frame). */
  def dailyMovingAvg(spark: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val byDay = Tables.load(spark, dir, "events")
      .groupBy(
        col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      // calendar-day index via datediff against a fixed epoch DATE: exact
      // under any session timezone (a μs-division index assumes 24h days,
      // which DST/half-hour-offset zones break — adjacent days could
      // collapse to one index and corrupt the RANGE frame)
      .withColumn("day_idx",
        datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day_idx")
      .rangeBetween(-(days - 1).toLong, 0L)
    byDay
      .withColumn("avg_n", round(avg(col("n_events")).over(frame), 6))
      .select("event_type", "day", "n_events", "avg_n")
  }

  /** The ranking-window suite (row_number / rank / dense_rank / ntile /
    * percent_rank) over daily per-type counts — aggregate FIRST (one row
    * per (type, day) crosses the shuffle), then all five ranking
    * functions run over the small aggregated set. Two window specs:
    * rank / dense_rank / percent_rank order by the (tie-carrying) count
    * so tie semantics are actually exercised; row_number / ntile need a
    * total order (ties would make them nondeterministic) so they add the
    * day as tiebreak. Catalyst plans both specs over ONE exchange (same
    * partition key, compatible sort). */
  def typeDailyRanks(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val byDay = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val ties = w.partitionBy("event_type").orderBy(col("n").desc)
    val total = w.partitionBy("event_type").orderBy(col("n").desc, col("day"))
    byDay.select(
      col("event_type"), col("day"), col("n"),
      row_number().over(total).cast("long").as("rn"),
      rank().over(ties).cast("long").as("rnk"),
      dense_rank().over(ties).cast("long").as("drnk"),
      ntile(4).over(total).cast("long").as("quartile"),
      round(percent_rank().over(ties), 6).as("pct_rank"))
  }

  /** Day-over-day change per event type: lag over the aggregated daily
    * counts (one row per (type, day) shuffles; the lag window slides over
    * ~30 rows per type, never raw events). First day's delta is NULL —
    * the honest answer, not 0. */
  def dailyDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("day"), col("n"),
        (col("n") - lag(col("n"), 1).over(w)).as("delta"),
        round((col("n") - lag(col("n"), 1).over(w)).cast("double") /
          lag(col("n"), 1).over(w), 6).as("pct_change"))
  }

  /** Ordered conversion funnel: how many users completed each stage
    * prefix IN ORDER — stage i counts users with an event of type
    * stages(i) strictly after their FIRST completion time of stages
    * 0..i−1 (the standard first-touch funnel rule; re-orderings like
    * purchase-before-signup do not count).
    *
    * Scale shape: every aggregate and join keys on user_id, so the whole
    * chain runs inside one hash distribution of the type-filtered events
    * — Catalyst reuses the groupBy's partitioning for each subsequent
    * same-key join; per-stage state is one (user_id, t) row per
    * qualifying user; the final counts are single-row aggregates whose
    * union is |stages| rows. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    var reached = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min(col("ts")).as("t"))
    val counts = collection.mutable.ListBuffer[DataFrame](
      reached.agg(count(lit(1)).as("n_users"))
        .select(lit(1).as("stage"), lit(stages.head).as("event_type"),
          col("n_users")))
    stages.zipWithIndex.drop(1).foreach { case (st, i) =>
      reached = e.filter(col("event_type") === st)
        .join(reached, "user_id")
        .filter(col("ts") > col("t"))
        .groupBy("user_id").agg(min(col("ts")).as("t"))
      counts += reached.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(st).as("event_type"),
          col("n_users"))
    }
    counts.reduce(_ unionByName _)
  }

  /** Event-type transition matrix (first-order Markov counts): how often
    * each event type is immediately followed by each other, per user
    * timeline — the behavioral-analytics staple behind flow diagrams and
    * next-event models. Total order (ts, event_id) per user makes the
    * pairing deterministic under timestamp ties.
    * Scale shape: ONE hash exchange on user_id + partition-local sort
    * feeds the lag pairing (each user's timeline is modest by contract);
    * the (from, to) count is a two-phase aggregate — |types|² rows out. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  def eventTransitionMatrix(spark: SparkSession, dir: String): DataFrame =
    eventTransitions(Tables.load(spark, dir, "events"))

  /** STATIONARY event mix — the long-run state distribution of the
    * [[eventTransitions]] Markov chain by power iteration (π P^T
    * applied `iters` times from uniform): the "where does user behavior
    * settle" number behind session-mix dashboards, and the analytics
    * sibling of the PageRank recurrence (public: the power method).
    *
    * Scale split, explicitly: the CORPUS-scale work is the one
    * transition-count aggregate (the [[eventTransitions]] plan — a
    * doc-keyed window + two-phase count); everything after it is a
    * ≤ |types|² relation, which COLLECTS (the bounded trainer class —
    * k-means centroids, BPE merge tables, LR weights) and iterates
    * driver-side in a canonical sorted order, 6-dp rounded per
    * iteration (the kmeans cross-engine discipline — the oracle
    * replays every iteration as an unrolled CTE). Emitting the final π
    * as literals is the honest design: a distributed spelling of a
    * 25-row fixpoint would re-run the corpus aggregate once per
    * iteration for nothing.
    *
    * States with no outgoing transitions would leak mass (the dangling-
    * node caveat of every power method); all event types transition in
    * this schema, and the spec pins conservation Σπ ≈ 1. */
  def stationaryEventMix(events: DataFrame, iters: Int = 5): DataFrame = {
    val trans = eventTransitions(events)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val types = events.select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted
    stationaryFromCounts(events.sparkSession, trans, types, iters)
  }

  /** The driver-side power-iteration tail over an already-collected
    * (from, to, n) matrix — the bounded trainer core shared with the
    * streamed serve ([[graft.streaming.StreamSequences.stationaryMix]]). */
  private[graft] def stationaryFromCounts(spark: SparkSession,
      trans: Array[(String, String, Long)], types: Array[String],
      iters: Int): DataFrame = {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tot = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val prob = trans.map { case (f, t, n) => (f, t) -> r6(n.toDouble / tot(f)) }.toMap
    var p = types.map(s => s -> r6(1.0 / types.length)).toMap
    (1 to iters).foreach { _ =>
      p = types.map { to =>
        to -> r6(types.foldLeft(0.0)((acc, from) =>
          acc + p(from) * prob.getOrElse((from, to), 0.0)))
      }.toMap
    }
    import spark.implicits._
    types.map(s => (s, p(s))).toSeq.toDF("state", "p")
  }

  /** CORRECTNESS instantiation: 5 power iterations over the events
    * chain. */
  def stationaryEvents(spark: SparkSession, dir: String): DataFrame =
    stationaryEventMix(Tables.load(spark, dir, "events"))

  /** The Morton z-value projection as a QUERY — the clustering key
    * [[graft.sources.Layout.writeZOrdered]] sorts by, surfaced so the
    * `z_order2` codegen kernel has a full value-level DuckDB oracle
    * (ZOrderLayoutSpec pins the layout effect; this pins every output
    * bit of the kernel itself on real data: sign-flip, five
    * spread-mask rounds per dimension, interleave, flip-back). Pure
    * scan-side projection, zero shuffles. */
  def zOrderKeys(events: DataFrame): DataFrame =
    events.select(col("event_id"),
      graft.functions.GraftFunctions.zOrder2(col("user_id").cast("int"),
        floor(col("value")).cast("int")).as("zval"))

  def zOrderEvents(spark: SparkSession, dir: String): DataFrame =
    zOrderKeys(Tables.load(spark, dir, "events"))

  /** EXACT sliding-window distinct users — distinct-over-a-trailing-range
    * is NOT sum-of-dailies (users repeat across days), and a RANGE-frame
    * `count_distinct` window does not exist; the scalable exact spelling
    * is a row-local FAN-OUT: each (user, day) activity row contributes
    * itself to the ≤ `days` window-days it falls in (a sequence explode —
    * ×days row growth, bounded by the window, no self-join), then one
    * two-phase distinct count per (window day). The approximate
    * alternative at extreme scale is the landed HLL path
    * ([[dailyUserSketches]] + [[distinctOverRange]]); this is the exact
    * one, and the fan-out factor — not the corpus — is the knob. Window
    * days past the last active day are clipped so every reported day is
    * a real day of the data. */
  def slidingDistinctUsers(events: DataFrame, days: Int = 7): DataFrame = {
    val uw = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val hi = uw.agg(max(col("day")).as("max_day"))
    uw.crossJoin(broadcast(hi))
      .select(col("user_id"), explode(sequence(col("day"),
        least(col("max_day"),
          col("day") + expr(s"interval ${days - 1} days")),
        expr("interval 1 day"))).as("win_day"))
      .groupBy("win_day")
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  def eventSlidingDistinct(spark: SparkSession, dir: String): DataFrame =
    slidingDistinctUsers(Tables.load(spark, dir, "events"))

  /** Dense daily grid (gap filling): every (event_type, calendar day) in
    * the type's [first, last] day range with its count — 0 where no
    * events landed. The resampling step time-series consumers need when
    * "no data" must read as zero rather than as a missing row (a gap-
    * blind moving average or anomaly baseline silently stretches over
    * holes; [[dailyAnomalies]] documents the shrink-don't-stretch
    * alternative — this operator is how you choose the other semantics).
    *
    * Scale shape: the corpus collapses to the per-(type, day) two-phase
    * count FIRST; the dense grid sequence()-explodes from one [lo, hi]
    * row per type — grid rows = types × days, and the left join runs
    * over that tiny pair of tables, never raw events. */
  def denseDailyCounts(events: DataFrame): DataFrame = {
    val byDay = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val grid = byDay.groupBy("event_type")
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    grid.join(byDay, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  def eventDenseDays(spark: SparkSession, dir: String): DataFrame =
    denseDailyCounts(Tables.load(spark, dir, "events"))

  /** Landed per-day count-min sketches — the per-key-FREQUENCY sibling of
    * [[dailyUserSketches]] (distinct questions → HLL, "how often did key
    * K appear" questions → CMS): one `count_min_sketch` binary per day
    * persists the day's user_id frequency structure, so any later
    * key-frequency question over a day range merges the covered sketches
    * — a metadata-scale scan — instead of re-reading raw events. ε/δ are
    * fixed at land time (the standard CMS contract: estimate ≥ true,
    * ≤ true + ε·N w.p. ≥ 1−δ); the day's exact row count rides along so
    * consumers can state the absolute error bound per range. */
  def dailyUserCms(events: DataFrame, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    // Typed-Literal construction (the BloomJoin/Bridge pattern), not SQL
    // string interpolation: a Double that prints in scientific notation
    // (1.0E-5) would render an unparseable `1.0E-5d` literal in the expr
    // string; Literal arguments carry the exact value regardless of its
    // toString form.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.CountMinSketchAgg
    import org.apache.spark.sql.graftbridge.Bridge
    val cms = Bridge.column(new CountMinSketchAgg(
      Bridge.expression(col("user_id")),
      Literal(eps), Literal(confidence), Literal(seed))
      .toAggregateExpression())
    events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(cms.as("users_cms"), count(lit(1)).as("n_events"))
  }

  /** Frequency estimates for `keys` over a day range, answered from the
    * landed sketch table alone: deserialize and merge the ≤ |range days|
    * covered sketches DRIVER-side (bounded by contract — the k-means-
    * collect legitimacy class; sketches share ε/δ/seed so merge is
    * well-defined) and probe each key. An empty range answers 0. */
  def cmsEstimatesOverRange(sketches: DataFrame, from: String, to: String,
      keys: Seq[Long]): DataFrame = {
    val spark = sketches.sparkSession
    import spark.implicits._
    val blobs = sketches
      .filter(col("day").between(
        lit(from).cast("timestamp"), lit(to).cast("timestamp")))
      .select(col("users_cms")).as[Array[Byte]].collect()
    val merged = blobs
      .map(b => org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(b)))
      .reduceOption { (a, b) => a.mergeInPlace(b); a }
    keys.map(k => (k, merged.map(_.estimateCount(Long.box(k))).getOrElse(0L)))
      .toDF("user_id", "est_n")
  }

  /** CORRECTNESS instantiation: the signup → click → purchase funnel. */
  def signupFunnel(spark: SparkSession, dir: String): DataFrame =
    funnel(Tables.load(spark, dir, "events"),
      Seq("signup", "click", "purchase"))

  /** Weekly cohort retention matrix: users cohorted by the week of their
    * first event; each (cohort_week, week_offset) cell counts the
    * cohort's users active that many weeks later. Weeks are calendar-day
    * numbers since the 1970-01-01 epoch divided by 7 — timezone-exact via
    * datediff (the dailyMovingAvg rule), identical in both engines.
    *
    * Scale shape: the (user, week) activity set is a distinct keyed on
    * user_id; first-touch is a min-aggregate over it on the SAME key (no
    * second corpus shuffle — Catalyst reuses the distribution); their
    * join is user-keyed too; only (cohort, offset) rows cross the final
    * tiny shuffle. Since the activity set is distinct per (user, week),
    * the cell count is a plain count — no count_distinct pass. */
  def weeklyRetention(events: DataFrame): DataFrame = {
    val wk = floor(
      datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) / 7).cast("long")
    val uw = events.select(col("user_id"), wk.as("week")).distinct()
    val first = uw.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    uw.join(first, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  def eventRetention(spark: SparkSession, dir: String): DataFrame =
    weeklyRetention(Tables.load(spark, dir, "events"))

  /** Trailing z-score anomaly detection over daily per-type counts: each
    * (event_type, day) scored against the mean/stddev of the PRECEDING
    * `days` calendar days (strictly before today — the baseline must not
    * include the point being judged, or every spike dampens its own
    * z-score). z is NULL while the baseline has < 2 days (sample stddev
    * undefined) and when the baseline is flat (stddev 0, via nullif) —
    * the honest answers, not 0. RANGE frame on the calendar-day index so
    * missing days shrink the baseline instead of silently stretching it.
    *
    * Scale shape: the corpus-sized work is the daily two-phase count (one
    * row per (type, day) shuffles); the window slides over the tiny
    * aggregated table. */
  def dailyAnomalies(events: DataFrame, days: Int = 7): DataFrame =
    anomaliesFromDailyCounts(
      events
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n")),
      days)

  /** The z-scoring stage over an already-aggregated (event_type, day, n)
    * table — split out so [[graft.streaming.StreamAnomaly]] can rescore
    * its continuously-merged daily counts with the SAME window logic the
    * batch operator uses (stream ≡ batch by construction, not by a
    * parallel implementation). */
  def anomaliesFromDailyCounts(byDay: DataFrame, days: Int = 7): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day_idx")
      .rangeBetween(-days.toLong, -1L)
    byDay
      .withColumn("day_idx",
        datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
      .select(
        col("event_type"), col("day"), col("n"),
        count(col("n")).over(w).as("n_baseline"),
        round((col("n") - avg(col("n")).over(w)) /
          nullif(stddev_samp(col("n")).over(w), lit(0.0d)), 6).as("z"))
  }

  def eventAnomalies(spark: SparkSession, dir: String): DataFrame =
    dailyAnomalies(Tables.load(spark, dir, "events"))

  /** ROBUST daily anomalies — the median/MAD sibling of
    * [[dailyAnomalies]]' mean/stddev z-scores (the public robust-stats
    * recipe: a single extreme day inflates the mean AND the stddev,
    * masking itself and flagging normal days; the median and the median
    * absolute deviation have a 50% breakdown point, so outliers can't
    * hide themselves). Score = 0.6745·(n − median)/MAD (the standard
    * consistency constant making MAD comparable to σ under normality),
    * NULL where MAD = 0 (a constant series has no scale — the
    * [[dailyAnomalies]] nullif discipline).
    *
    * Scale shape: the corpus collapses to per-(type, day) counts
    * (two-phase); each robust center is an exact `percentile` aggregate
    * moving ONE row per type (the calibratedQualityFloor discipline,
    * ≡ DuckDB quantile_cont, 6-dp), broadcast back — two tiny
    * aggregate+join rounds over the already-aggregated day grid, the
    * corpus is read once. */
  def robustDailyAnomalies(events: DataFrame): DataFrame = {
    val byDay = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val med = byDay.groupBy("event_type")
      .agg(round(percentile(col("n"), lit(0.5)), 6).as("med"))
    val withMed = byDay.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("n") - col("med")))
    val mad = withMed.groupBy("event_type")
      .agg(round(percentile(col("dev"), lit(0.5)), 6).as("mad"))
    withMed.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"),
        round(lit(0.6745) * (col("n") - col("med")) /
          nullif(col("mad"), lit(0.0d)), 6).as("rz"))
  }

  def eventRobustAnomalies(spark: SparkSession, dir: String): DataFrame =
    robustDailyAnomalies(Tables.load(spark, dir, "events"))

  /** Per-group WINSORIZATION — the standard outlier treatment for
    * metric columns feeding aggregates or model features (clip to the
    * group's [lo, hi] quantiles instead of dropping rows, so heavy
    * tails stop dominating sums without shrinking the sample): cutoffs
    * are the exact two-phase `percentile` aggregate (ONE row per group
    * crosses — the calibratedQualityFloor discipline, ≡ DuckDB
    * quantile_cont, 6-dp), broadcast back; the clip itself is a
    * scan-side `least/greatest` — unclipped rows pass their RAW double
    * through bit-identically on both engines. */
  def winsorize(events: DataFrame, lo: Double = 0.05,
      hi: Double = 0.95): DataFrame = {
    val cuts = events.groupBy("event_type")
      .agg(round(percentile(col("value"), lit(lo)), 6).as("lo"),
        round(percentile(col("value"), lit(hi)), 6).as("hi"))
    events.join(broadcast(cuts), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        least(greatest(col("value"), col("lo")), col("hi")).as("clipped"),
        col("lo"), col("hi"))
  }

  def winsorizedEvents(spark: SparkSession, dir: String): DataFrame =
    winsorize(Tables.load(spark, dir, "events"))

  /** KEY-SKEW profile — the audit a join/aggregate plan review runs
    * BEFORE choosing between plain hash distribution, AQE skew-join, and
    * explicit salting ([[SaltedAgg]]): one row summarizing how a key
    * column's row mass is distributed — distinct keys, the count
    * quantiles, the heaviest key's share, and the top-10 keys' share.
    * (The full Gini needs a global sort of the key distribution;
    * max/p50/p99/top-share answer the planning question — "does one key
    * dominate a partition" — without one.)
    *
    * Scale shape: per-key counts are a two-phase aggregate; quantiles
    * are ONE exact `percentile` row over the counts; the top-10 is a
    * bounded `TakeOrderedAndProject`; everything joins as 1-row
    * broadcasts. */
  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("k"))
      .agg(count(lit(1)).as("n"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("n")).as("n_rows"),
      max(col("n")).as("max_n"),
      round(percentile(col("n"), lit(0.5)), 6).as("p50_n"),
      round(percentile(col("n"), lit(0.99)), 6).as("p99_n"))
    val top = counts.orderBy(col("n").desc, col("k").asc).limit(10)
      .agg(sum(col("n")).as("top10_rows"))
    stats.crossJoin(broadcast(top))
      .select(col("n_keys"), col("n_rows"), col("max_n"),
        col("p50_n"), col("p99_n"),
        round(col("max_n").cast("double") / col("n_rows"), 6)
          .as("top1_share"),
        round(col("top10_rows").cast("double") / col("n_rows"), 6)
          .as("top10_share"))
  }

  /** CORRECTNESS instantiation: the events table's user_id key. */
  def eventKeySkew(spark: SparkSession, dir: String): DataFrame =
    keySkewProfile(Tables.load(spark, dir, "events"), "user_id")

  /** Fixed-width value histogram per event type: two-phase aggregate on
    * (type, bin) — the profiling primitive behind any numeric-distribution
    * dashboard. floor() bins so negative values land in negative bins
    * identically across engines. */
  def valueHistogram(spark: SparkSession, dir: String, width: Double = 10.0): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(
        col("event_type"),
        floor(col("value") / width).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("value")), 6).as("min_v"),
        round(max(col("value")), 6).as("max_v"))

  /** The HLL++ approximate variant of [[userCounts]] per event_type. */
  def approxUserCountsByType(spark: SparkSession, dir: String, rsd: Double = 0.05): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))

  /** Landed distinct-count sketches — the pre-aggregate-once /
    * answer-any-range pattern: one Datasketches HLL sketch per group
    * (here: per day), persisted as a binary column. A later query for
    * "distinct users over ANY day range" merges the covered sketches
    * (`hll_union_agg`) instead of re-scanning raw events — at 100 TB the
    * daily sketch table is megabytes, and every ad-hoc range question
    * costs a metadata-scale scan. Sketches are mergeable by construction
    * (the union of sketches ≡ the sketch of the union — asserted in
    * AnalyticsSpec against exact counts; no oracle: the binary is
    * engine-specific). */
  def dailyUserSketches(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("users_hll"),
        count(lit(1)).as("n_events"))

  /** Distinct users over an inclusive day range, answered from the
    * sketch table alone. An empty range answers 0, not NULL (hll_union_agg
    * over zero rows is NULL, which would NPE typed consumers). */
  def distinctOverRange(sketches: DataFrame, from: String, to: String): DataFrame =
    sketches
      .filter(col("day").between(to_date(lit(from)), to_date(lit(to))))
      .agg(coalesce(hll_sketch_estimate(hll_union_agg(col("users_hll"))), lit(0L))
        .as("approx_distinct_users"))

  /** Landed per-day value HISTOGRAMS → any-range approximate quantiles —
    * the QUANTILE member of the pre-aggregate-once / answer-any-range
    * sketch family ([[dailyUserSketches]] HLL distincts, [[dailyUserCms]]
    * CMS frequencies): fixed-edge equi-width bin counts are ADDITIVE
    * (the histogram of a union is the sum of the histograms — the only
    * property a mergeable summary needs), so a ≤ `bins`-row table per
    * day answers ANY day-range quantile question by summing the covered
    * rows and interpolating inside the containing bin, a metadata-scale
    * scan instead of re-reading and re-sorting raw events. FIXED edges
    * (not per-day min/max) are exactly what buys the mergeability; the
    * price is the resolution bound — the estimate is within one bin
    * width of the true quantile (AnalyticsSpec's assertion), the
    * classic histogram-sketch trade. Out-of-domain values clamp into
    * the edge bins so the count-conservation law (Σ bins ≡ row count)
    * survives dirty data.
    *
    * Everything is exact integer counting + one deterministic
    * interpolation, so unlike the HLL/CMS binaries this family IS
    * DuckDB-oracle-able end to end. */
  def dailyValueHistograms(events: DataFrame, width: Double = 25.0,
      bins: Int = 20): DataFrame =
    events.groupBy(to_date(col("ts")).as("day"),
        greatest(least(floor(col("value") / width), lit((bins - 1).toLong)),
          lit(0L)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))

  /** Quantiles over an inclusive day range, answered from the histogram
    * table alone: sum the covered rows per bin (two-phase, ≤ `bins` rows
    * cross), cumulate over the ≤ `bins`-row relation (the bounded
    * single-partition window class), and linearly interpolate the rank
    * p·N inside the containing bin. Empty ranges answer zero rows.
    * 6-dp rounded — every association mirrored in the oracle SQL. */
  def histQuantiles(hist: DataFrame, from: String, to: String,
      ps: Seq[Double], width: Double = 25.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = hist
      .filter(col("day").between(to_date(lit(from)), to_date(lit(to))))
      .groupBy("bin").agg(sum(col("n")).as("n"))
    val wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    merged
      .withColumn("cum", sum(col("n")).over(wc))
      .withColumn("cum_before", col("cum") - col("n"))
      .crossJoin(broadcast(merged.agg(sum(col("n")).as("total"))))
      .withColumn("p", explode(array(ps.map(lit(_)).toIndexedSeq: _*)))
      .filter(col("cum_before") < col("p") * col("total") &&
        col("p") * col("total") <= col("cum"))
      .select(col("p"),
        round(col("bin") * width + lit(width) *
          (col("p") * col("total") - col("cum_before")) / col("n"), 6)
          .as("est"),
        col("total"))
  }

  /** The registered day range / quantile set: the middle fortnight,
    * median + tails. */
  private val histFrom = "2024-01-08"
  private val histTo = "2024-01-21"
  private val histPs = Seq(0.5, 0.95, 0.99)

  /** CORRECTNESS instantiation (direct): build the daily histograms and
    * answer the range quantiles in one plan. */
  def histQuantilesEvents(spark: SparkSession, dir: String): DataFrame =
    histQuantiles(dailyValueHistograms(Tables.load(spark, dir, "events")),
      histFrom, histTo, histPs)

  /** STEADY-STATE [[histQuantilesEvents]]: serve the range quantiles from
    * the landed day-partitioned table — the timed cost is the pruned
    * metadata-scale serve, raw events never read. Same answer, same
    * oracle. The table lands PARTITIONED BY day, so a range serve's day
    * filter prunes partitions at the file index — the scan reads only
    * the covered days' files. */
  def histQuantilesSteady(spark: SparkSession, dir: String): DataFrame = {
    val prefix = Landing.key("hist_steady", dir)
    Landing.ensureLanded(spark, prefix, Seq(s"${prefix}_hist")) { path =>
      dailyValueHistograms(Tables.load(spark, dir, "events"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("parquet")
        .partitionBy("day")
        .option("path", s"$path/hist").saveAsTable(s"${prefix}_hist")
    }
    histQuantiles(spark.table(s"${prefix}_hist"), histFrom, histTo, histPs)
  }
}
