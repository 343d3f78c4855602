package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The incremental curation contract (VERDICT r12 item 7): feeding
  * ascending-id slices through [[CorpusCuration.curateIncremental]]
  * against indexes fit on the standing corpus reproduces the batch
  * [[CorpusCuration.curate]] survivor set over corpus ∪ slices
  * EXACTLY — given the documented refresh precondition (the standing
  * boilerplate dictionary equals the batch one), which the fixture
  * both satisfies and asserts.
  */
class CurateIncrementalSpec extends SparkSpec {
  import spark.implicits._

  // topK=1: the one shared header dominates distinct-doc frequency in
  // every prefix of the stream, so the standing dictionary provably
  // equals the batch one (the refresh precondition, asserted below).
  private val cfg = CorpusCuration.Config(boilerplateTopK = 1)
  private val H = "promo header" // aligned 2-token boilerplate segment

  private def doc(id: Long, body: String): (Long, String) =
    (id, s"$H $body")

  // adversarial bodies: combining marks (NFD) and right-to-left
  // tokens, and doubled spaces that split into empty tokens
  private val Marks = "cafe\u0301 nai\u0308ve \u05e9\u05dc\u05d5\u05dd " +
    "\u0645\u0631\u062d\u0628\u0627 \u05e2\u05d5\u05dc\u05dd x\u0323"
  private val Spaced = "one  two three  four"

  /** Standing corpus: distinct bodies, one within-corpus duplicate,
    * one gate-reject (repetition), plus the shared header on every
    * doc. Bodies are 6 tokens (8 with header — above minTokens, even
    * count so no trailing-token drop ambiguity across dup pairs).
    * Plus the adversarial rows: combining-mark/RTL and empty-token
    * bodies that survive, a NULL-text and an empty-text doc that the
    * quality gate drops. */
  private def corpus: DataFrame = Seq(
    doc(0L, "alpha beta gamma delta epsilon zeta"),
    doc(1L, "eta theta iota kappa lambda mu"),
    doc(2L, "nu xi omicron pi rho sigma"),
    doc(3L, "alpha beta gamma delta epsilon zeta"), // dup of 0 → dropped
    (4L, s"$H $H $H"), // repetition-gated (dup-bigram mass)
    doc(5L, "tau upsilon phi chi psi omega"),
    doc(6L, Marks),
    doc(7L, Spaced),
    (8L, null: String), // NULL text → quality-gated
    (9L, "") // empty text → quality-gated
  ).toDF("doc_id", "text")

  /** Eval set: shares a 5-token span with slice doc 102. */
  private def evalDocs: DataFrame = Seq(
    (9000L, "secret bench span one two three four five")
  ).toDF("doc_id", "text")

  private def slice1: DataFrame = Seq(
    doc(100L, "s1 novel body first aa bb"),
    doc(101L, "eta theta iota kappa lambda mu"), // dup of corpus 1
    doc(102L, "clean secret bench span one two three four five tail x"),
    doc(103L, "s1 novel body second cc dd"),
    doc(104L, "s1 novel body second cc dd"), // within-slice dup of 103
    // passes the quality gate (4 of 8 tokens distinct), fails the
    // repetition gate (3 of 7 bigrams repeat)
    doc(105L, "ab cd ab cd ab cd"),
    (106L, null: String),
    (107L, "")
  ).toDF("doc_id", "text")

  private def slice2: DataFrame = Seq(
    doc(200L, "s2 novel body first ee ff"),
    doc(201L, "s1 novel body first aa bb"), // dup of slice1's 100
    (202L, "too short"), // quality-gated
    doc(203L, "s2 novel body second gg hh"),
    // the NFC (precomposed) spelling of corpus doc 6: a different
    // byte string, so exact dedup keeps both
    doc(204L, java.text.Normalizer.normalize(Marks,
      java.text.Normalizer.Form.NFC)),
    doc(205L, "uno  dos tres  cuatro"),
    doc(206L, Spaced) // dup of corpus 7
  ).toDF("doc_id", "text")

  private def survivors(df: DataFrame): Map[Long, String] =
    df.select("doc_id", "text").as[(Long, String)].collect().toMap

  test("N incremental slices reproduce the batch survivor set exactly") {
    val union = corpus.unionByName(slice1).unionByName(slice2)

    // refresh precondition: the standing dictionary IS the batch one
    val standingDict = graft.ops.Boilerplate.topSegments(
      corpus, "doc_id", "text", cfg.boilerplateSegTokens,
      cfg.boilerplateTopK).select("segment").as[String].collect().toSet
    val batchDict = graft.ops.Boilerplate.topSegments(
      union, "doc_id", "text", cfg.boilerplateSegTokens,
      cfg.boilerplateTopK).select("segment").as[String].collect().toSet
    assert(standingDict == Set(H) && batchDict == Set(H),
      s"fixture broke the refresh precondition: $standingDict / $batchDict")

    // batch over the whole stream
    val batch = CorpusCuration.curate(union, "doc_id", "text",
      evalDocs = Some(evalDocs), cfg = cfg)
    val want = survivors(batch.corpus)

    // incremental: curate the standing corpus once, fit indexes from
    // it, then push the slices through in arrival order
    val init = CorpusCuration.curate(corpus, "doc_id", "text",
      evalDocs = Some(evalDocs), cfg = cfg)
    val idx0 = CorpusCuration.fitIndexes(corpus,
      init.corpus.select("doc_id", "text"), "doc_id", "text",
      evalDocs = Some(evalDocs), cfg = cfg)
    val inc1 = CorpusCuration.curateIncremental(
      slice1, idx0, "doc_id", "text", cfg)
    val inc2 = CorpusCuration.curateIncremental(
      slice2, inc1.updated, "doc_id", "text", cfg)
    val got = survivors(init.corpus) ++
      survivors(inc1.curated) ++ survivors(inc2.curated)

    assert(got == want,
      s"missing=${(want.keySet -- got.keySet)} " +
        s"extra=${(got.keySet -- want.keySet)} " +
        s"textDiff=${want.collect { case (k, v) if got.get(k).exists(_ != v) => k }}")
    batch.release(); init.release()

    // the interesting rows actually exercised their stages
    assert(!got.contains(3L) && !got.contains(101L) &&
      !got.contains(104L) && !got.contains(201L), "dups must drop")
    assert(!got.contains(4L) && !got.contains(202L), "gates must drop")
    assert(Seq(8L, 9L, 105L, 106L, 107L, 206L).forall(!got.contains(_)),
      s"null/empty text, repetition reject and dup must drop: ${got.keySet}")
    assert(Seq(6L, 7L, 204L, 205L).forall(got.contains),
      s"adversarial novel docs must survive: ${got.keySet}")
    assert(got(7L).contains("  "), "empty tokens must survive the strip")
    assert(got.contains(102L) &&
      !got(102L).contains("secret bench span"), "eval span must scrub")
    assert(got.keySet.intersect(Set(0L, 1L, 2L, 5L, 100L, 103L,
      200L, 203L)).size == 8, s"novel docs must survive: ${got.keySet}")
  }

  test("refreshIndexes: a stale dictionary drifts slices off the " +
      "batch funnel; refresh restores slice-exact equality " +
      "(VERDICT r13 item 5)") {
    val cfgR = CorpusCuration.Config(boilerplateTopK = 1)
    def filler(i: Int) = (0 until 6).map(j => s"t${i}_$j").mkString(" ")
    // the stream's boilerplate CHANGES: the standing corpus trails
    // "sub now" (dfd 20), the slice trails "buy this" (dfd 40) — so
    // the union's top-1 dictionary is no longer the standing one,
    // violating exactly the precondition the other test satisfies
    val corpus0 = (0 until 20)
      .map(i => (i.toLong, s"${filler(i)} sub now")).toDF("doc_id", "text")
    val slice = (100 until 140)
      .map(i => (i.toLong, s"${filler(i)} buy this")).toDF("doc_id", "text")
    val union = corpus0.unionByName(slice)
    def dictOf(idx: CorpusCuration.Indexes) = idx.boilerplate
      .select("segment").as[String].collect().toSet

    val batch = CorpusCuration.curate(union, "doc_id", "text", cfg = cfgR)
    val want = survivors(batch.corpus)

    val init = CorpusCuration.curate(corpus0, "doc_id", "text", cfg = cfgR)
    val idx0 = CorpusCuration.fitIndexes(corpus0,
      init.corpus.select("doc_id", "text"), "doc_id", "text", cfg = cfgR)
    assert(dictOf(idx0) == Set("sub now"))

    // stale: the slice keeps its new boilerplate — drifted off batch
    val stale = CorpusCuration.curateIncremental(
      slice, idx0, "doc_id", "text", cfgR)
    val staleOut = survivors(stale.curated)
    assert(staleOut(100L).contains("buy this") &&
      want(100L) != staleOut(100L))

    // refresh: re-fit over the accumulated raw corpus — byte-equal to
    // fitIndexes on the same frame, exact state untouched
    val idxR = CorpusCuration.refreshIndexes(
      union, idx0, "doc_id", "text", cfg = cfgR)
    val viaFit = CorpusCuration.fitIndexes(union,
      init.corpus.select("doc_id", "text"), "doc_id", "text", cfg = cfgR)
    assert(dictOf(idxR) == dictOf(viaFit) &&
      dictOf(idxR) == Set("buy this"))
    assert(idxR.seenHashes eq idx0.seenHashes,
      "refresh must not rebuild exact dedup state")

    // post-refresh, the slice matches the batch funnel EXACTLY
    val fresh = CorpusCuration.curateIncremental(
      slice, idxR, "doc_id", "text", cfgR)
    assert(survivors(fresh.curated) ==
      want.view.filterKeys(_ >= 100L).toMap)

    // the residual (documented) distance: refresh is not retroactive —
    // batch re-strips NOTHING from corpus0 under the new dictionary,
    // while the admitted corpus0 had "sub now" stripped under the old
    assert(want(0L).contains("sub now") &&
      !survivors(init.corpus)(0L).contains("sub now"))
    batch.release(); init.release()
  }

  test("slice curation never scans standing-corpus documents") {
    // the incremental plan's only standing-state inputs are the
    // indexes: dictionary (broadcast), eval dict, hash set. Pin it by
    // probing the logical plan for the corpus frame's relation.
    val init = CorpusCuration.curate(corpus, "doc_id", "text", cfg = cfg)
    val idx = CorpusCuration.fitIndexes(corpus,
      init.corpus.select("doc_id", "text"), "doc_id", "text", cfg = cfg)
    // materialize the indexes as a nightly job would (write/read);
    // afterwards the slice plan must reference nothing derived from
    // the corpus LocalRelation
    val tmp = java.nio.file.Files.createTempDirectory("curate_idx")
    idx.boilerplate.write.parquet(s"$tmp/boiler")
    idx.seenHashes.write.parquet(s"$tmp/seen")
    val standing = CorpusCuration.Indexes(
      spark.read.parquet(s"$tmp/boiler"), None, None,
      spark.read.parquet(s"$tmp/seen"))
    val out = CorpusCuration.curateIncremental(
      slice1, standing, "doc_id", "text", cfg)
    val scans = out.curated.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    // exactly the two index relations + nothing else file-backed; the
    // slice itself is a LocalRelation in this fixture
    assert(scans.size == 2 && scans.forall(s =>
      s.contains("boiler") || s.contains("seen")), scans.toString)
    init.release()
  }
}
