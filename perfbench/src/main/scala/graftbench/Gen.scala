package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything the library sees is built here
  * from the workload seed; the same seed gives the same bytes, and each
  * generator returns the properties it varied plus a SHA-256 digest of
  * what it produced, for the run artifact. */
object Gen {

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def uniform(): Double = r.nextDouble()
    def int(n: Int): Int = r.nextInt(n)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def gauss(): Double = {
      // Box-Muller; one draw per call keeps the stream easy to reason about
      val u1 = math.max(r.nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rng: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.uniform())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes(UTF_8))
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  // ---------------------------------------------------------- vocabulary

  private val viOnsets = Vector("", "b", "c", "ch", "d", "đ", "g", "gi", "h",
    "k", "kh", "l", "m", "n", "ng", "nh", "ph", "qu", "r", "s", "t", "th",
    "tr", "v", "x")
  private val viVowels = Vector("a", "á", "à", "ả", "ã", "ạ", "ă", "ắ", "ằ",
    "ặ", "â", "ấ", "ầ", "ẩ", "ậ", "e", "é", "è", "ẻ", "ẹ", "ê", "ế", "ề",
    "ể", "ệ", "i", "í", "ì", "ỉ", "ị", "o", "ó", "ò", "ỏ", "ọ", "ô", "ố",
    "ồ", "ổ", "ộ", "ơ", "ớ", "ờ", "ở", "ợ", "u", "ú", "ù", "ủ", "ụ", "ư",
    "ứ", "ừ", "ử", "ự", "y", "ý")
  private val viCodas = Vector("", "", "c", "ch", "m", "n", "ng", "nh", "p",
    "t", "i", "o", "u")
  private val enSyl = Vector("ba", "ker", "ry", "fresh", "cream", "sun",
    "light", "morn", "ing", "gar", "den", "ri", "ver", "stone", "bright",
    "wa", "ter", "mar", "ket", "lo", "cal", "win", "ter", "sum", "mer",
    "blue", "green", "fold", "ton", "ville", "ship", "craft", "ness", "able")
  private val enCommon = Vector("the", "of", "and", "to", "in", "a", "is",
    "that", "for", "it", "with", "as", "was", "on", "be", "at", "by",
    "this", "have", "from", "or", "one", "had", "not", "but", "what", "all",
    "were", "when", "we", "there", "can", "an", "your", "which", "their",
    "said", "if", "do", "will", "each", "about", "how", "up", "out", "them",
    "then", "she", "many", "some", "so", "these", "would", "other", "into",
    "has", "more", "her", "two", "like", "him", "see", "time", "could",
    "no", "make", "than", "first", "been", "its", "who", "now", "people",
    "my", "made", "over", "did", "down", "only", "way", "find", "use",
    "may", "water", "long", "little", "very", "after", "words", "called",
    "just", "where", "most", "know", "bread", "cake", "shop", "order")

  /** Fixed vocabularies (independent of the seed): Zipf rank order is
    * the generation order, so common words come first. */
  private def vocab(lang: String, size: Int): IndexedSeq[String] = {
    val rng = new Rng(if (lang == "vi") 7L else 11L)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    if (lang == "en") out ++= enCommon
    while (out.size < size) {
      out += (if (lang == "vi")
        rng.pick(viOnsets) + rng.pick(viVowels) + rng.pick(viCodas)
      else (0 until 1 + rng.int(3)).map(_ => rng.pick(enSyl)).mkString)
    }
    out.toIndexedSeq
  }
  lazy val viVocab: IndexedSeq[String] = vocab("vi", 3000)
  lazy val enVocab: IndexedSeq[String] = vocab("en", 6000)
  private lazy val viZipf = new Zipf(viVocab.size, 1.0)
  private lazy val enZipf = new Zipf(enVocab.size, 1.0)

  private def words(rng: Rng, vi: Boolean, n: Int): Seq[String] =
    if (vi) Seq.fill(n)(viVocab(viZipf.sample(rng)))
    else Seq.fill(n)(enVocab(enZipf.sample(rng)))

  private val headers = Vector(
    "Trang chủ Sản phẩm Tin tức Liên hệ Giỏ hàng Đăng nhập",
    "Chào mừng bạn đến với cửa hàng bánh của chúng tôi hôm nay",
    "Home Products News Contact Cart Sign in Search",
    "Welcome to our bakery shop read the latest news below today",
    "Miễn phí giao hàng cho đơn từ hai trăm nghìn đồng",
    "Free delivery on every order over fifty dollars this week")
  private val footers = Vector(
    "Bản quyền thuộc về công ty Mọi quyền được bảo lưu",
    "Đăng ký nhận bản tin để nhận ưu đãi mới nhất mỗi tuần",
    "Copyright all rights reserved terms of use privacy policy",
    "Subscribe to our newsletter for the latest offers every week",
    "Theo dõi chúng tôi trên mạng xã hội để cập nhật tin tức",
    "Follow us on social media for news and special offers")

  // ------------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String)

  /** What a corpus generator planted, for the output checks. */
  final case class Corpus(docs: IndexedSeq[Doc], eval: IndexedSeq[Doc],
      dupOf: Map[Long, Long], props: Seq[(String, Any)], digest: String)

  // what the corpus generator plants; the artifact records each
  private val DupShare = 0.10
  private val BoilerShare = 0.5
  private val EvalShare = 0.02
  private val ViShare = 0.5
  private val LenMedian = 60.0
  private val LenSigma = 1.0
  private val MaxLen = 3000
  private val NEval = 300
  // planted into each nightly slice
  val SliceExactShare = 0.1
  val SliceNearShare = 0.1

  private def bodyLength(rng: Rng): Int =
    math.max(3, math.min(MaxLen,
      math.round(LenMedian * math.exp(LenSigma * rng.gauss())).toInt))

  /** One fresh (not duplicated) document: header? body (+ eval span?)
    * footer?. Returns the text and what was planted in it. */
  private def freshDoc(rng: Rng, eval: IndexedSeq[Doc])
      : (String, Boolean, Boolean) = {
    val vi = rng.chance(ViShare)
    val body = ArrayBuffer.from(words(rng, vi, bodyLength(rng)))
    val withEval = eval.nonEmpty && rng.chance(EvalShare)
    if (withEval) {
      val ev = rng.pick(eval).text.split(" ")
      val from = rng.int(math.max(1, ev.length - 12))
      body.insertAll(rng.int(body.size + 1), ev.slice(from, from + 12))
    }
    val boiler = rng.chance(BoilerShare)
    val parts = ArrayBuffer.empty[String]
    if (boiler && rng.chance(0.7)) parts += rng.pick(headers)
    parts += body.mkString(" ")
    if (boiler && (parts.size == 1 || rng.chance(0.6))) parts += rng.pick(footers)
    (parts.mkString(" "), boiler, withEval)
  }

  private def evalSet(seed: Long): IndexedSeq[Doc] = {
    val rng = new Rng(seed ^ 0x5eedL)
    (0 until NEval).map(i =>
      Doc(i.toLong, words(rng, rng.chance(0.5), 30 + rng.int(30)).mkString(" ")))
  }

  def corpus(seed: Long, nDocs: Int): Corpus = {
    val rng = new Rng(seed)
    val eval = evalSet(seed)
    val docs = new ArrayBuffer[Doc](nDocs)
    val originals = new ArrayBuffer[Long]()
    val dupOf = Map.newBuilder[Long, Long]
    var nBoiler, nEval = 0
    for (i <- 0 until nDocs) {
      val id = i.toLong
      if (originals.size >= 100 && rng.chance(DupShare)) {
        val src = originals(rng.int(originals.size))
        docs += Doc(id, docs(src.toInt).text)
        dupOf += id -> src
      } else {
        val (t, b, e) = freshDoc(rng, eval)
        if (b) nBoiler += 1
        if (e) nEval += 1
        docs += Doc(id, t)
        originals += id
      }
    }
    val dups = dupOf.result()
    Corpus(docs.toIndexedSeq, eval, dups,
      textProps(docs.toSeq) ++ Seq(
        "docs" -> nDocs, "eval_docs" -> eval.size,
        "exact_dup_share" -> dups.size.toDouble / nDocs,
        "boilerplate_share" -> nBoiler.toDouble / nDocs,
        "eval_overlap_share" -> nEval.toDouble / nDocs,
        "vi_doc_share" -> ViShare,
        "length_model" -> (s"lognormal(median=$LenMedian tokens, " +
          s"sigma=$LenSigma), clamped to [3, $MaxLen]")),
      digestOf(docs.toSeq ++ eval))
  }

  /** A nightly slice: fresh docs plus planted exact and near duplicates
    * of the standing corpus. Ids continue above everything before. */
  def slice(seed: Long, night: Int, standing: IndexedSeq[Doc], size: Int,
      idBase: Long): (IndexedSeq[Doc], Int, Int) = {
    val rng = new Rng(seed * 1000003L + night)
    var nExact, nNear = 0
    val out = (0 until size).map { i =>
      val id = idBase + i
      val u = rng.uniform()
      if (u < SliceExactShare) {
        nExact += 1; Doc(id, rng.pick(standing).text)
      } else if (u < SliceExactShare + SliceNearShare) {
        nNear += 1
        val toks = rng.pick(standing).text.split(" ")
        val vi = toks.exists(_.exists(_ > 127))
        val edited = toks.map(t => if (rng.chance(0.05)) words(rng, vi, 1).head else t)
        Doc(id, edited.mkString(" "))
      } else Doc(id, freshDoc(rng, IndexedSeq.empty)._1)
    }
    (out, nExact, nNear)
  }

  def textProps(docs: Seq[Doc]): Seq[(String, Any)] = {
    val lens = docs.map(_.text.count(_ == ' ') + 1.0)
    val chars = docs.iterator.map(_.text.length.toLong).sum
    val nonAscii = docs.iterator.map(_.text.count(_ > 127).toLong).sum
    Seq("tokens_p10" -> Stats.percentile(lens, 10),
      "tokens_p50" -> Stats.percentile(lens, 50),
      "tokens_p90" -> Stats.percentile(lens, 90),
      "tokens_p99" -> Stats.percentile(lens, 99),
      "tokens_max" -> lens.max,
      "text_bytes" -> docs.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum,
      "non_ascii_char_share" -> nonAscii.toDouble / math.max(1L, chars))
  }

  def digestOf(docs: Seq[Doc]): String = {
    val d = new Digest
    docs.foreach(x => d.add(s"${x.id}\t${x.text}\n"))
    d.hex
  }

  // ------------------------------------------------------------ catalog

  /** Raw categories as scraped (Vietnamese variants the categorizer maps
    * exactly), one per standard category whose two-letter product-code
    * prefix is unique. */
  val rawCategories: Vector[String] = Vector("bánh ngọt", "bánh mì",
    "bánh nướng", "trung thu", "cookies", "bánh lạnh", "tra-sua",
    "da-xay-frosty-1", "bingsu", "topping thêm")
  private val brands = Vector("Bánh Ngon", "Maison Dorée", "Tous les Jours",
    "Hỷ Lâm Môn", "Givral", "Paris Gâteaux", "ABC Bakery", "Phúc Long")
  private val nameHeads = Vector("Bánh", "Trà", "Kem", "Bánh bông lan",
    "Bánh su", "Bánh quy", "Bánh tart", "Bánh cuộn")

  final case class Catalog(props: Seq[(String, Any)], digest: String)

  private val CatalogDupShare = 0.05

  private def csvField(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** Raw per-category-style product CSVs: quoted, multiLine descriptions,
    * duplicate (name, url) rows, blank and zero price strings. */
  def catalog(seed: Long, dir: File, rows: Int, nFiles: Int): Catalog = {
    val rng = new Rng(seed ^ 0xca7L)
    dir.mkdirs()
    val digest = new Digest
    val writers = (0 until nFiles).map { f =>
      val file = new File(dir, f"products_$f%02d.csv")
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(file), UTF_8))
      val header = "product_name,product_brand,original_category," +
        "product_url,product_image_url,product_image_name," +
        "product_description,product_unit_price,product_stock_quantity\n"
      w.write(header)
      (file, w)
    }
    val seen = new ArrayBuffer[(String, String)]()
    var nDup = 0
    var bytes = 0L
    for (i <- 0 until rows) {
      val (name, url) =
        if (seen.size > 100 && rng.chance(CatalogDupShare)) {
          nDup += 1; seen(rng.int(seen.size))
        } else {
          val n = s"${rng.pick(nameHeads)} ${words(rng, true, 2 + rng.int(3)).mkString(" ")} $i"
          val p = (n, s"https://shop.example/p/$i")
          seen += p
          p
        }
      val nImg = 1 + rng.int(3)
      val imgs = (0 until nImg).map(k => s"https://cdn.example/$i-$k.jpg").mkString("|")
      val imgNames = (0 until nImg).map(k => if (rng.chance(0.2)) "" else s"$name $k").mkString("|")
      val desc = (0 until 1 + rng.int(3)).map(_ =>
        words(rng, rng.chance(0.8), 6 + rng.int(20)).mkString(" "))
        .mkString(if (rng.chance(0.3)) "\n" else ". ") +
        (if (rng.chance(0.1)) " \"đặc biệt\"" else "")
      // numeric strings as scraped, blank or 0 when unlisted (the mock
      // stage fills those)
      val price = rng.int(5) match {
        case 0 => ""
        case 1 => "0"
        case _ => s"${(20 + rng.int(200)) * 1000}"
      }
      val line = Seq(name, rng.pick(brands), rng.pick(rawCategories), url,
        imgs, imgNames, desc, price).map(csvField).mkString(",") +
        s",${rng.int(500)}\n"
      writers(i % nFiles)._2.write(line)
      digest.add(line)
      bytes += line.getBytes(UTF_8).length
    }
    writers.foreach(_._2.close())
    Catalog(Seq(
      "csv_rows" -> rows, "csv_files" -> nFiles,
      "csv_duplicate_name_url_share" -> nDup.toDouble / rows,
      "csv_bytes" -> bytes, "categories" -> rawCategories.size),
      digest.hex)
  }

  private val NQueries = 20000
  private val QueryTemplates = 400
  private val QuerySkew = 1.1

  /** Query texts drawn from a Zipf mix over a pool of templates, so
    * popular queries repeat. */
  def queries(seed: Long): (IndexedSeq[String], Seq[(String, Any)], String) = {
    val rng = new Rng(seed ^ 0x9e77L)
    val pool = (0 until QueryTemplates).map(_ =>
      s"${rng.pick(nameHeads).toLowerCase} ${words(rng, true, 1 + rng.int(3)).mkString(" ")}")
    val z = new Zipf(QueryTemplates, QuerySkew)
    val qs = (0 until NQueries).map(_ => pool(z.sample(rng)))
    val d = new Digest
    qs.foreach(q => d.add(q + "\n"))
    (qs, Seq("queries_distinct" -> QueryTemplates, "query_zipf_skew" -> QuerySkew,
      "queries_generated" -> NQueries,
      "queries_distinct_used" -> qs.distinct.size), d.hex)
  }
}
