package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Output checks of one `CorpusCuration.curate` over a generated corpus.
  * `rows` are the curated (id, text, shard, n_tokens) rows, `report` the
  * drop report (stage, gate, n_docs, n_tokens_total). */
final case class CurateChecks(results: Seq[(String, Boolean, String)],
    checksum: String, keepCounts: Seq[(String, Long)])

object CurateChecks {
  val Gates: Seq[String] =
    Seq("quality", "repetition", "boilerplate", "decontaminate", "exact_dedup")

  def apply(rows: Array[Row], report: Array[Row], plantedDupIds: Set[Long])
      : CurateChecks = {
    val texts = rows.map(_.getString(1))
    val survivingDups = rows.count(r => plantedDupIds.contains(r.getLong(0)))
    val tokens = rows.map(_.getLong(3)).sum
    val reported = report.find(_.getString(1) == "exact_dedup").map(_.getLong(3))
    CurateChecks(
      Seq(("survivor_text_md5_unique", texts.distinct.length == texts.length, ""),
        ("planted_dups_keep_lowest_id", survivingDups == 0,
          s"$survivingDups planted duplicates survived beside their lowest id"),
        ("shard_tokens_match_report", reported.contains(tokens),
          s"shard tokens $tokens, report $reported")),
      checksum(rows), report.map(r => r.getString(1) -> r.getLong(2)).toSeq)
  }

  /** Order-independent checksum of the (id, text, shard) rows: the sum of
    * each row's leading 64 MD5 bits. */
  def checksum(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val d = MessageDigest.getInstance("MD5").digest(
        s"${r.getLong(0)}\t${r.getString(1)}\t${r.get(2)}".getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(d).getLong
    }
    f"$acc%016x"
  }
}
