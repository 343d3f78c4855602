package graft.etl

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The end-to-end curation facade: stage counts match the
  * individually-applied operators, the final corpus carries every
  * stage's guarantee simultaneously (no boilerplate segment, no eval
  * span, no duplicate content, contiguous balanced shards), and the
  * whole run is deterministic.
  */
class CorpusCurationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
    .select("doc_id", "text")
  // a small held-out "benchmark": the d09/d15 convention
  private lazy val eval = docs.filter(col("doc_id") % 23 === 0)
  private lazy val train = docs.filter(col("doc_id") % 23 =!= 0)

  private lazy val result = CorpusCuration.curate(
    train, "doc_id", "text", evalDocs = Some(eval))

  test("the drop report matches individually-applied stages") {
    val rep = result.report.collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rep.keySet === Set("input", "quality", "repetition",
      "boilerplate", "decontaminate", "exact_dedup"))
    assert(rep("input")._1 === train.count())
    // monotone: every stage keeps at most what the previous kept
    val order = Seq("input", "quality", "repetition", "boilerplate",
      "decontaminate", "exact_dedup").map(rep(_))
    order.sliding(2).foreach { case Seq((d1, t1), (d2, t2)) =>
      assert(d2 <= d1 && t2 <= t1, s"non-monotone funnel: $order")
    }
    // the funnel must BITE somewhere and never flatten the corpus
    assert(rep("exact_dedup")._1 > 0)
    assert(rep("exact_dedup")._1 < rep("input")._1)
  }

  test("the final corpus carries every stage's guarantee at once") {
    val rows = result.corpus.collect()
    val texts = rows.map(r =>
      r.getLong(r.fieldIndex("doc_id")) ->
        r.getString(r.fieldIndex("text"))).toMap
    // (1) no duplicate content survives
    assert(texts.values.toSeq.distinct.size === texts.size)
    // (2) no eval 5-gram survives
    val evalGrams = eval.collect().flatMap(
      _.getString(1).split(" ", -1).sliding(5).filter(_.length == 5)
        .map(_.mkString(" "))).toSet
    texts.values.foreach { t =>
      val hit = t.split(" ", -1).sliding(5).filter(_.length == 5)
        .map(_.mkString(" ")).find(evalGrams.contains)
      assert(hit.isEmpty, s"eval gram survived: $hit")
    }
    // (3) shards are contiguous along the shuffle order and balanced
    val byKey = rows.map(r => (
      r.getString(r.fieldIndex("shuffle_key")),
      r.getLong(r.fieldIndex("shard")),
      r.getLong(r.fieldIndex("n_tokens")))).sortBy(_._1)
    val shards = byKey.map(_._2)
    assert(shards.zip(shards.tail).forall { case (a, b) => a <= b })
    val total = byKey.map(_._3).sum
    val maxDoc = byKey.map(_._3).max
    val perShard = byKey.groupBy(_._2).map(_._2.map(_._3).sum)
    assert(perShard.max <= total / 8 + maxDoc)
    // (4) n_tokens is the token count of the CLEANED text
    rows.foreach { r =>
      val t = r.getString(r.fieldIndex("text"))
      assert(r.getLong(r.fieldIndex("n_tokens")) ===
        t.split(" ", -1).length.toLong)
    }
  }

  test("curate is deterministic end-to-end") {
    val a = result.corpus.collect().map(_.toSeq).sortBy(_.toString)
    val again = CorpusCuration.curate(
      train, "doc_id", "text", evalDocs = Some(eval))
    val b = again.corpus.collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq === b.toSeq)
    again.release()
  }

  test("the optional DSIR stage keeps exactly the target-like docs") {
    val full = spark.read.parquet(s"$dir/documents.parquet")
    val r = CorpusCuration.curate(
      full.filter(col("doc_id") % 23 =!= 0), "doc_id", "text",
      evalDocs = Some(eval),
      dsirTarget = Some(col("lang") === "en")) // metadata-column predicate
    // the report carries every stage, ordinal and gate name in
    // pipeline order
    assert(r.report.orderBy("stage").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toSeq === Seq(
        0L -> "input", 1L -> "quality", 2L -> "repetition",
        3L -> "boilerplate", 4L -> "decontaminate", 5L -> "dsir_select",
        6L -> "exact_dedup"))
    val rep = r.report.collect()
      .map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(rep("dsir_select") < rep("decontaminate"),
      "DSIR selection must drop something on this corpus")
    assert(rep("dsir_select") > 0)
    // and the no-target run keeps more docs than the targeted one
    assert(result.corpus.count() > r.corpus.count())
    r.release()
  }

  test("without an eval set the decontaminate stage is absent") {
    val r = CorpusCuration.curate(train, "doc_id", "text")
    assert(!r.report.collect().map(_.getString(1))
      .contains("decontaminate"))
    r.release()
  }
}
