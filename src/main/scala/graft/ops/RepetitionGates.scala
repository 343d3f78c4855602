package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Repetition-based quality gates (Gopher §A1.1-style repetitious-text
  * filters, token-granularity): per document, the fraction of token
  * mass in the single most frequent unigram / bigram, and the fraction
  * of bigram mass in bigrams that occur more than once. Documents
  * dominated by a few repeated n-grams are boilerplate/spam with high
  * probability and are dropped before training.
  *
  * Scale shape: the signals are PER-DOCUMENT functions of tokens that
  * are already in-row, so the default path is a pure projection — the
  * codegen [[graft.expr.RepetitionStats]] expression tallies both
  * n-gram multiplicities in one in-row traversal. Zero exchanges: at
  * corpus scale the previous explode→groupBy form shuffled the
  * tokenized corpus (larger than the corpus itself) twice; this form
  * shuffles nothing and pipelines with whatever scan/filter surrounds
  * it. The exploded form is kept as [[signalsExploded]], the
  * relational reference RepetitionGatesSpec checks [[signals]]
  * against. Fractions are ONE double division of two exact longs, so the
  * numbers (and the threshold flags) are bit-reproducible across
  * engines (oracled as t13). */
object RepetitionGates {

  /** Default thresholds (Gopher-ish, token-granularity). */
  final case class Thresholds(
      topUnigram: Double = 0.30,
      topBigram: Double = 0.18,
      dupBigram: Double = 0.40)

  private def fractions(stats: DataFrame, idCol: String, t: Thresholds) =
    stats
      .select(col("__id").as(idCol),
        (col("top_uni").cast("double") / col("n_uni").cast("double"))
          .as("top_uni_frac"),
        (col("top_bi").cast("double") / col("n_bi").cast("double"))
          .as("top_bi_frac"),
        (col("dup_bi").cast("double") / col("n_bi").cast("double"))
          .as("dup_bi_frac"))
      .withColumn("keep",
        (col("top_uni_frac") <= t.topUnigram) &&
          (col("top_bi_frac") <= t.topBigram) &&
          (col("dup_bi_frac") <= t.dupBigram))

  /** (id, top_uni_frac, top_bi_frac, dup_bi_frac, keep) from a frame
    * with an id column and a tokenized `array<string>` column.
    * Documents with fewer than 2 tokens have no bigrams and are
    * DROPPED (no signal — same stance both engines take when the
    * bigram explode yields nothing).
    *
    * Default path: the codegen [[graft.expr.RepetitionStats]]
    * expression — both n-gram tallies in ONE in-row traversal, no
    * exchange, no per-element interpreted fold. */
  def signals(df: DataFrame, idCol: String, toksCol: String,
      t: Thresholds = Thresholds()): DataFrame = {
    val stats = df
      .select(col(idCol).as("__id"), col(toksCol).as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col("__id"),
        size(col("__ws")).cast("long").as("n_uni"),
        // shingles(n tokens, 2) has exactly n-1 elements for n >= 2
        // (the filter above)
        (size(col("__ws")) - 1).cast("long").as("n_bi"),
        call_function("graft_rep_stats", col("__ws")).as("rs"))
      .select(col("__id"),
        col("rs.top_uni").as("top_uni"), col("n_uni"),
        col("rs.top_bi").as("top_bi"), col("n_bi"),
        col("rs.dup_bi").as("dup_bi"))
    fractions(stats, idCol, t)
  }

  /** The explode→groupBy form (shuffles key on the high-cardinality
    * id×token, so it also scales — but it moves the whole tokenized
    * corpus through two exchanges where [[signals]] moves nothing).
    * Kept as the relational reference the spec checks [[signals]]
    * against. */
  def signalsExploded(df: DataFrame, idCol: String, toksCol: String,
      t: Thresholds = Thresholds()): DataFrame = {
    val toks = df.select(col(idCol).as("__id"), col(toksCol).as("ws"))
    val uni = toks
      .select(col("__id"), explode(col("ws")).as("w"))
      .groupBy("__id", "w").agg(count(lit(1)).as("c"))
      .groupBy("__id")
      .agg(max(col("c")).as("top_uni"), sum(col("c")).as("n_uni"))
    val bi = toks
      .select(col("__id"),
        explode(graft.functions.TextOps.shingles(col("ws"), 2)).as("b"))
      .groupBy("__id", "b").agg(count(lit(1)).as("c"))
      .groupBy("__id")
      .agg(max(col("c")).as("top_bi"), sum(col("c")).as("n_bi"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_bi"))
    fractions(uni.join(bi, "__id"), idCol, t)
  }
}
