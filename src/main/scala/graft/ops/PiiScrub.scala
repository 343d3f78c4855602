package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII detection + redaction for training-data curation — the
  * scrub-before-train pass every large text pipeline runs (north-star
  * op; the reference's corpus is product copy where emails/phones do
  * appear in descriptions).
  *
  * Engineering stance:
  *  - pure `regexp_replace`/`regexp_count` expression chains — codegen
  *    fused, no UDF, scan-parallel at any scale;
  *  - patterns stay inside the Java-regex ∩ RE2 common subset (greedy
  *    character classes and bounded repeats only; NO `\b`, lookaround
  *    or backrefs), so the DuckDB oracle executes the IDENTICAL
  *    patterns and the redacted text hash-matches bit-for-bit — the
  *    same cross-engine determinism rule the hash/quantize layers
  *    follow;
  *  - redaction ORDER is part of the contract (email → card → ip →
  *    phone, most-specific first) since replacements can overlap.
  */
object PiiScrub {

  /** (type, pattern, replacement) — order matters and is the public
    * contract. */
  val patterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("card", "\\d{4}-\\d{4}-\\d{4}-\\d{4}", "[CARD]"),
    ("ip", "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "[IP]"),
    ("phone", "\\+\\d{1,3}[ -]\\d{3}[ -]\\d{3,4}", "[PHONE]"))

  /** The redacted text: every pattern replaced globally, in contract
    * order. */
  def redact(text: Column): Column =
    patterns.foldLeft(text) { case (acc, (_, p, r)) =>
      regexp_replace(acc, p, r)
    }

  /** df + `<textCol>_redacted` + per-type `n_<type>` match counts
    * (computed on the ORIGINAL text, so counts are
    * order-independent). */
  def scrub(df: DataFrame, textCol: String): DataFrame =
    patterns.foldLeft(df) { case (d, (name, p, _)) =>
      d.withColumn(s"n_$name",
        regexp_count(col(textCol), lit(p)).cast("long"))
    }.withColumn(s"${textCol}_redacted", redact(col(textCol)))
}
