package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextOps.{md5Long60, shingles, tokens}

/** Exact-substring dedup, both halves (the "deduplicating training
  * data" op): detect token spans repeated across documents, then strip
  * them from the corpus. Detection is the oracled d10 query
  * (DedupSuite); this module is the library form plus the removal pass
  * that consumes its dictionary.
  *
  * Scale shape: the detect groupBy's output (the dictionary) is tiny
  * next to the corpus — strip joins the corpus's span hashes against
  * it (AQE broadcasts a small dictionary; a 100 TB run with a huge
  * dictionary falls back to a shuffle join on the hash, still
  * bounded by candidate spans, never all pairs). Token masking then
  * happens entirely in-row: covered positions collect per doc and a
  * filter-with-index lambda drops them — no per-token rows ever
  * shuffle. */
object RepeatedSpans {

  /** Span-hash dictionary: every n-token span occurring in ≥ 2 distinct
    * documents (same plan as oracle query d10). */
  def detect(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(transform(shingles(tokens(col(textCol)), n),
          g => md5Long60(g))).as("h"))
      // explicit two-stage distinct: count+countDistinct in one agg
      // would plan an Expand that DOUBLES the exploded span rows
      // through the shuffle; aggregating (h, doc_id) first combines
      // map-side and ships each doc's span counts once
      .groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), sum("c").as("n_total"))
      .filter(col("n_docs") >= 2)

  /** Remove every occurrence of every dictionary span from every
    * document: a token is dropped iff some flagged n-span covers it.
    * Documents with nothing flagged pass through untouched (left
    * join). Output: (idCol, textCol) with the cleaned text. */
  def strip(docs: DataFrame, spanDict: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("tk"))
    // span-start positions whose hash is in the dictionary
    val flagged = toks
      .select(col(idCol),
        posexplode(transform(shingles(col("tk"), n), g => md5Long60(g)))
          .as(Seq("start", "h")))
      .join(spanDict.select("h").distinct(), Seq("h"))
    // all covered token positions, re-grouped per doc (bounded by doc
    // length — an in-row mask, not a corpus-scale window)
    val masks = flagged
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + lit(n - 1))).as("p"))
      .groupBy(idCol)
      .agg(collect_set("p").as("drop"))
    toks.join(masks, Seq(idCol), "left")
      .select(col(idCol),
        array_join(
          filter(col("tk"), (t, i) =>
            !array_contains(coalesce(col("drop"),
              array().cast("array<integer>")), i)),
          " ").as(textCol))
  }
}
