package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Landing, Tables}

/** Deterministic negative-pair sampling for contrastive training data —
  * "give every document m pseudo-random partners from elsewhere in the
  * corpus" (the negatives in a contrastive/embedding training batch),
  * WITHOUT a cartesian product and WITHOUT `rand()`.
  *
  * Design: hash every doc into one of B buckets, pick one representative
  * per bucket (min id — deterministic), and have each doc draw its m
  * partners from m hash-chosen OTHER buckets' representatives. Every
  * decision is a pure function of (id, j), so the output is reproducible
  * across runs, engines (the DuckDB oracle recomputes it), retries, and
  * partitionings — the same md5-prefix recipe as
  * [[Relational.stratifiedSample]].
  *
  * Scale shape (100 TB corpus): the representative table is B rows (a
  * constant) → broadcast; the per-doc bucket draw is a scan-side codegen
  * projection; the m-way fan-out is a row-local explode. No shuffle
  * touches the corpus beyond the B-row aggregate; never any all-pairs
  * structure. (A true uniform-over-corpus negative needs a global index —
  * a global sort at scale; bucket representatives are the standard
  * trade: uniform over B well-mixed hash buckets, O(1) state.)
  */
object Contrastive {

  /** 32-bit uniform hash of a string column (the shared md5-prefix
    * primitive — one definition keeps every draw site oracle-identical). */
  private def h32(c: Column): Column = graft.functions.GraftFunctions.md5Prefix32(c)

  /** m deterministic cross-bucket negative partners per row of `docs`.
    * Output: (idCol, j, neg_id) — j in [0, m).
    *
    * Draws remap over a DENSE RANK of the occupied buckets (not raw
    * bucket ids): with B > |docs| or unlucky hashing, raw-id draws can
    * land in an EMPTY bucket and the join silently under-fills a doc's
    * negatives. Ranking only the occupied buckets guarantees every doc
    * exactly m partners whenever ≥ 2 buckets are occupied (the rank
    * window runs over ≤ B bounded rows — not a data-sized sort). In the
    * fully-occupied case rank ≡ bucket id, so the draw is unchanged.
    * Degenerate single-occupied-bucket corpora fall back to the bucket's
    * representative, with self-pairs filtered. */
  def negativePairs(docs: DataFrame, idCol: String,
      m: Int = 4, buckets: Int = 64): DataFrame = {
    require(m > 0 && buckets > 1, "need m > 0 and at least 2 buckets")
    val withB = docs.select(col(idCol),
      (h32(col(idCol).cast("string")) % buckets).as("__b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__rep_b")
    val reps = withB.groupBy(col("__b").as("__rep_b"))
      .agg(min(col(idCol)).as("neg_id"))
      .withColumn("__r", row_number().over(w).cast("long") - 1)
    val nOcc = reps.agg(count(lit(1)).as("__R"))
    val fanned = withB
      .join(broadcast(reps.select(col("__rep_b").as("__b"), col("__r").as("__own"))), "__b")
      .crossJoin(broadcast(nOcc))
      .select(col(idCol), col("__own"), col("__R"),
        explode(array((0 until m).map(j => lit(j.toLong)): _*)).as("j"))
    // target rank: own + 1 + h(id:j) mod (R-1), mod R — never the own
    // bucket when R ≥ 2, so a doc can never draw itself
    val probe = fanned.withColumn("__t",
      (col("__own") + lit(1L) +
        h32(concat(col(idCol).cast("string"), lit(":"), col("j").cast("string")))
          % greatest(col("__R") - 1, lit(1L))) % col("__R"))
    probe.join(broadcast(reps.select(col("__r").as("__t"), col("neg_id"))), Seq("__t"))
      .filter(col("neg_id") =!= col(idCol))
      .select(col(idCol), col("j"), col("neg_id"))
  }

  /** CORRECTNESS instantiation over the documents table. */
  def docNegativePairs(spark: SparkSession, dir: String): DataFrame =
    negativePairs(Tables.load(spark, dir, "documents"), "doc_id")

  /** Quality-contrastive PREFERENCE pairs from near-dup clusters — the
    * corpus-side analog of DPO/RLHF (chosen, rejected) assembly: a
    * near-dup cluster is several crawls/edits of the SAME content, so
    * (best copy, worst copy) is a natural preference pair — "same
    * context, one response strictly preferred" — usable for reward-model
    * or quality-classifier training without any human labels (the
    * weak-supervision recipe behind quality-contrastive filtering:
    * treat the kept side of dedup survivorship as the positive).
    *
    * Exact over transitive chains, like [[Dedup.keepBestPerCluster]]:
    * pairs → [[Dedup.connectedComponents]] → per component the CHOSEN is
    * the lexicographic max under (score, then smallest id) and the
    * REJECTED the lexicographic min under the same key (ties to the
    * LARGEST id — the two tie-breaks are opposite-facing, so with ≥ 2
    * members chosen ≠ rejected always, and chosen_score = max(score) /
    * rejected_score = min(score) by construction). Components are ≥ 2
    * members by construction (every CC node appears in some pair), so
    * every output row is a genuine pair; singleton docs have no
    * counterfactual and emit nothing.
    *
    * Scale shape (100 TB): the star rounds of the CC are the cost
    * ceiling (see [[Dedup.connectedComponents]]); the pair selection is
    * ONE two-phase aggregate moving one row per component, and the
    * docs→label join is an equi-join on the id. No window over the
    * corpus, no all-pairs structure beyond the candidate `pairs` input
    * (itself banded/bucketed upstream). Returns one row per cluster:
    * (component, chosen_id, rejected_id, chosen_score, rejected_score,
    * n_members). */
  def preferencePairs(docs: DataFrame, pairs: DataFrame, idCol: String,
      score: Column): DataFrame =
    preferencePairsWith(docs,
      Dedup.connectedComponents(pairs).withColumnRenamed("node", idCol),
      idCol, score)

  /** [[preferencePairs]] against a PREBUILT (or landed) component table
    * (idCol, component) — the train/serve seam: the CC closure is the
    * operator's whole cost ceiling and is a pure function of the pair
    * set, so a per-corpus-snapshot landed component table (the same
    * artifact class as the landed centroids / community state) turns
    * every later pairs pass into one equi-join + one two-phase
    * aggregate. Landed ≡ direct is spec-pinned in ContrastiveSpec. */
  def preferencePairsWith(docs: DataFrame, cc: DataFrame, idCol: String,
      score: Column): DataFrame = {
    // inner: only clustered docs can be paired (singletons emit nothing)
    docs.join(cc, Seq(idCol))
      .groupBy("component")
      .agg(
        // lexicographic (score, -id) tie-break assumes NONNEGATIVE ids —
        // the keepBestPerCluster contract: a negative id (or
        // Long.MinValue, whose negation wraps) would silently invert the
        // tie order. Every corpus id in this library is nonnegative by
        // construction; callers feeding external ids must remap first.
        max_by(col(idCol), struct(score, -col(idCol))).as("chosen_id"),
        min_by(col(idCol), struct(score, -col(idCol))).as("rejected_id"),
        max(score).as("chosen_score"),
        min(score).as("rejected_score"),
        count(lit(1)).as("n_members"))
  }

  /** CORRECTNESS instantiation: preference pairs over the planted
    * near-dup corpus with score = text length — the planted copy (one
    * token longer) is provably the chosen side of every planted
    * cluster, its original the rejected side, so the pairing differs
    * from any id-ordered strawman by construction. */
  def docPreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Dedup.plantedNearDocs(spark, dir)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
    preferencePairs(docs, pairs, "doc_id", length(col("text")).cast("long"))
  }

  /** Catalog table name for the LANDED near-dup component state of one
    * corpus dir. */
  def prefComponentsTable(dir: String): String = Landing.key("prefcc", dir)

  /** STEADY-STATE [[docPreferencePairs]]: pairs served off the LANDED
    * component table — no shingling, no banded join, no CC star rounds
    * in the timed plan; the serve is one docs→component equi-join and
    * one per-component two-phase aggregate. The CC closure is
    * deterministic from the banded pair set, so landing changes no
    * answer — it amortizes the star rounds (the operator's cost
    * ceiling) to the first call. Same components, same answer, same
    * oracle as the direct entry. */
  def docPreferencePairsSteady(spark: SparkSession, dir: String): DataFrame = {
    val table = prefComponentsTable(dir)
    Landing.ensureLanded(spark, table, Seq(table)) { path =>
      val docs = Dedup.plantedNearDocs(spark, dir)
      Landing.saveTable(
        Dedup.connectedComponents(Dedup.minhashLshPairs(docs, "doc_id", "text"))
          .withColumnRenamed("node", "doc_id"), table, s"$path/prefcc")
    }
    preferencePairsWith(Dedup.plantedNearDocs(spark, dir), spark.table(table),
      "doc_id", length(col("text")).cast("long"))
  }
}
