package graft.etl

import graft.SparkSpec

/** Fixture pins for the config-driven HTML field extractor.
  *
  * Goldens: bs4/html5lib is not installed in this environment, so the
  * expected rows are hand-traced from the reference code path by path
  * (`products_scraping.py:392-561` HTML, `:563-621` meta) — each
  * assertion cites the line whose behavior it pins, including the
  * reference's own quirks (the `https://http://` prefix at `:489-490`,
  * the unconditional `""` image-name append on the style path at
  * `:524`, the fatal `path_parts[-2]` at `:540`).
  *
  * Selector configs come from the REAL `utils/webs_config.yml` in the
  * reference checkout (like GoldenParitySpec, skipped if absent).
  */
class ProductExtractSpec extends SparkSpec {
  import ProductExtract._

  private val websYml = "/root/reference/utils/webs_config.yml"
  private lazy val sites: Map[String, SiteConfig] =
    if (new java.io.File(websYml).exists()) loadWebsConfig(websYml)
    else Map.empty

  private def site(name: String): SiteConfig = {
    assume(sites.nonEmpty, s"$websYml not present")
    sites(name)
  }

  test("webs_config.yml parses: every site, 'None' → absent, " +
      "description one-or-many") {
    assume(sites.nonEmpty)
    assert(sites.keySet == Set("tljus", "breadtalk", "panacota",
      "cailonuong", "thecoffeehouse", "igloo", "seorbingsu"))
    val bt = sites("breadtalk").selectors
    assert(bt.name.contains(".entry-title"))
    assert(bt.code.isEmpty) // YAML "None" string
    assert(bt.description.isEmpty)
    assert(bt.unitPrice.contains(
      "p.price span.woocommerce-Price-amount bdi"))
    // list-typed description (cailonuong has two fallbacks)
    assert(sites("cailonuong").selectors.description ==
      Seq(".woocommerce-product-details__short-description",
        ".the_content_wrapper"))
    // literal: category passes through un-split
    assert(sites("igloo").selectors.originalCategory
      .contains("literal:Bingsu"))
    assert(sites("breadtalk").websitePath ==
      "https://breadtalkvietnam.com/")
  }

  /** breadtalk-shaped page: woocommerce price chain, swiper gallery,
    * posted_in categories. */
  private val breadtalkHtml =
    """<html><body>
      |<h1 class="entry-title"> Bánh mì hoa cúc </h1>
      |<p class="price"><span class="woocommerce-Price-amount amount">
      |  <bdi>45,000<span>&#8363;</span></bdi></span></p>
      |<div class="swiper-wrapper">
      |  <div class="swiper-slide">
      |    <img src="//cdn.example.com/img/hoa-cuc_optimized.jpg"
      |         alt="banh-mi-hoa-cuc_optimized.jpg">
      |  </div>
      |  <div class="swiper-slide">
      |    <img data-large_image="https://cdn.example.com/large.png">
      |  </div>
      |  <div class="swiper-slide"><span>no img here</span></div>
      |</div>
      |<span class="posted_in">Categories:
      |  <a href="/c/banh-mi">Bánh mì</a>
      |  <a href="/c/featured">Sản phẩm nổi bật</a>
      |</span>
      |</body></html>""".stripMargin

  test("HTML path: name/price/images/categories per the reference") {
    val p = extractRow(breadtalkHtml,
      "https://breadtalkvietnam.com/product/banh-mi-hoa-cuc/",
      "https://breadtalkvietnam.com/product-category/banh-mi/",
      site("breadtalk")).toOption.get
    // `:404-408` name = elem.text.strip()
    assert(p.product_name == "Bánh mì hoa cúc")
    // `:441-444` strip non-digits from get_text(strip=True)
    assert(p.product_unit_price == 45000L)
    // image 1 (`:489-490`): protocol-relative → https:// + lstrip('/')
    // image 2: data-large_image PREFERRED over src (`:473`)
    assert(p.product_image == Seq(
      "https://cdn.example.com/img/hoa-cuc_optimized.jpg",
      "https://cdn.example.com/large.png"))
    // name 1 from alt: "_optimized" removed THEN extension stripped
    // (`:480-482`); name 2 falls back to src basename, -/_ → space
    assert(p.product_image_name == Seq("banh-mi-hoa-cuc", "large"))
    // `:536`: the 'Sản phẩm nổi bật' tag is skipped by direct-contents
    // membership
    assert(p.category_name == Seq("Bánh mì"))
    assert(p.product_band == "breadtalk")
    assert(p.product_code == "")
    assert(p.product_description == "")
  }

  test("http:// src keeps the reference's https://http:// quirk") {
    val html =
      """<h1 class="entry-title">X</h1>
        |<div class="swiper-wrapper"><div class="swiper-slide">
        |<img src="http://old.example.com/a.jpg" alt="a"></div></div>
        |<span class="posted_in"><a>C</a></span>""".stripMargin
    val p = extractRow(html, "https://x.com/p/a", "https://x.com/c/a",
      site("breadtalk")).toOption.get
    // `:489-490`: lstrip('/') strips SLASHES, not the scheme — the
    // reference produces a double-scheme URL and so do we
    assert(p.product_image == Seq("https://http://old.example.com/a.jpg"))
  }

  test("category falls back to the URL's second-to-last path segment " +
      "and quarantines when there are not enough segments") {
    val html = """<h1 class="entry-title">X</h1><span class="x"></span>"""
    // `:538-540`: no .posted_in match → path_parts[-2]
    val ok = extractRow(html,
      "https://breadtalkvietnam.com/banh-ngot/croissant/", "c",
      site("breadtalk")).toOption.get
    assert(ok.category_name == Seq("banh-ngot"))
    // single-segment path → IndexError in the reference → dropped;
    // here: quarantined with the reason preserved
    val bad = extractRow(html, "https://breadtalkvietnam.com/croissant",
      "c", site("breadtalk"))
    assert(bad.isLeft)
    assert(bad.swap.toOption.get.contains("IndexOutOfBounds"))
  }

  test("description: first matching selector of the list wins " +
      "(cailonuong two-fallback config)") {
    val html =
      """<h1 class="product_title">Cá lóc nướng</h1>
        |<div class="price">120.000đ</div>
        |<div class="the_content_wrapper"> long body </div>
        |<div class="woocommerce-product-details__short-description">
        | short desc </div>
        |<div class="woocommerce-product-gallery__wrapper"></div>
        |<span class="posted_in"><a>Món nướng</a></span>""".stripMargin
    val p = extractRow(html, "https://cailonuong.com/mon/ca-loc/", "c",
      site("cailonuong")).toOption.get
    // `:417-424`: list iterated in order, first HIT wins — short-desc
    // selector is FIRST in the config even though the other appears
    // earlier in the document
    assert(p.product_description == "short desc")
    assert(p.product_unit_price == 120000L)
  }

  test("tljus style background-image path appends url + empty name") {
    val html =
      """<div class="breadcrumb">Trang chủ / Bánh kem dâu</div>
        |<div class="menu-item-ingredients">dâu, kem</div>
        |<div class="menu-item-main-image"
        |     style="background-image: url('/uploads/cake.jpg')"></div>
        |<div class="cake-type"><div>Bánh kem</div></div>""".stripMargin
    val p = extractRow(html, "https://tljus.com/cakes/strawberry/", "c",
      site("tljus")).toOption.get
    assert(p.product_name == "Trang chủ / Bánh kem dâu")
    assert(p.product_description == "dâu, kem")
    // `:515-524`: url(...) extracted; no lstrip on this path — the
    // leading slash survives inside the https:// prefix; name is the
    // unconditional "" append
    assert(p.product_image == Seq("https:///uploads/cake.jpg"))
    assert(p.product_image_name == Seq(""))
    assert(p.category_name == Seq("Bánh kem"))
  }

  test("literal: category bypasses selectors (igloo config)") {
    val html =
      """<div class="title-pro-detail">Bingsu dâu</div>
        |<div class="price-new-pro-detail">99.000 đ</div>
        |<div class="left-pro-detail"><div class="MagicZoom">
        |<img src="https://igloo.com.vn/i.jpg" title="Bingsu dâu.jpg">
        |</div></div>""".stripMargin
    val p = extractRow(html, "https://igloo.com.vn/sp/bingsu-dau/", "c",
      site("igloo")).toOption.get
    assert(p.category_name == Seq("Bingsu")) // `:532-534`
    assert(p.product_unit_price == 99000L)
    assert(p.product_image_name == Seq("Bingsu dâu")) // title, ext stripped
  }

  test("meta og: fallback fires when HTML yields no name AND no price") {
    val html =
      """<html><head>
        |<meta property="og:title" content="Mochi kem">
        |<meta property="og:price:amount" content="35,000.00">
        |<meta property="og:image" content="https://x.com/mochi.jpg">
        |<script>const xr = [{"product_description": "ignored"}];</script>
        |</head><body><p>no selectors match</p></body></html>""".stripMargin
    val p = extractRow(html, "https://x.com/p/mochi",
      "https://x.com/collections/mochi-kem", site("thecoffeehouse"))
      .toOption.get
    assert(p.product_name == "Mochi kem")
    // `:593`: every digit concatenated — 35,000.00 → 3500000
    assert(p.product_unit_price == 3500000L)
    assert(p.product_image == Seq("https://x.com/mochi.jpg"))
    assert(p.product_image_name == Seq("mochi kem")) // `:618` lowercased
    // `:612`: LAST path segment of the LISTING url
    assert(p.category_name == Seq("mochi-kem"))
    // `:600` is commented out in the reference — description stays ""
    assert(p.product_description == "")
  }

  test("meta fallback quarantines: no og: tags at all; digit-free price") {
    val none = extractRow("<p>nothing</p>", "https://x.com/a/b", "c",
      site("thecoffeehouse"))
    assert(none.isLeft) // `:607` NameError → None in the reference
    val badPrice = extractRow(
      """<meta property="og:title" content="X">
        |<meta property="og:price:amount" content="contact us">"""
        .stripMargin,
      "https://x.com/a/b", "c", site("thecoffeehouse"))
    assert(badPrice.isLeft) // `:593` int('') ValueError → None
    assert(badPrice.swap.toOption.get.contains("no digits"))
  }

  test("HTML path wins whenever it found a name OR a nonzero price") {
    // name present, price 0 → NO meta fallback (`:381` is `and`)
    val html =
      """<h1 class="entry-title">Named</h1>
        |<meta property="og:title" content="MetaName">
        |<span class="posted_in"><a>C</a></span>""".stripMargin
    val p = extractRow(html, "https://x.com/a/b/", "c",
      site("breadtalk")).toOption.get
    assert(p.product_name == "Named")
  }

  test("menuUrls: class-regex containers, data-url fallback, keyword " +
      "filter, urljoin, dedup, and the missing-data-url fatal path") {
    val html =
      """<nav><ul class="sub-menu wide">
        |  <li><a href="/product-category/banh-mi/">Bánh mì</a></li>
        |  <li><a href="/product-category/banh-mi/">dup</a></li>
        |  <li><a href="#" data-url="https://x.com/product-category/tab1">T</a></li>
        |  <li><a href="/about">about</a></li>
        |  <li><a href="http://old.x.com/product-category/legacy">L</a></li>
        |  <li><a>no href</a></li>
        |</ul></nav>
        |<ul class="menu"><a href="/product-category/decoy/">D</a></ul>"""
        .stripMargin
    val got = ProductExtract.menuUrls(html, "https://shop.x.com/home",
      "ul", "sub-menu", Some("product-category"))
    // dedup keeps first; /about filtered; decoy container ('menu' does
    // not regex-match 'sub-menu'); http:// absolute passes unchanged
    assert(got == Right(Seq(
      "https://shop.x.com/product-category/banh-mi/",
      "https://x.com/product-category/tab1",
      "http://old.x.com/product-category/legacy")))
    // 'sub-menu-x' DOES regex-search-match 'sub-menu' (bs4 re.search)
    val fuzzy = ProductExtract.menuUrls(
      """<ul class="sub-menu-x"><a href="/product-category/a">A</a></ul>""",
      "https://s.com/p", "ul", "sub-menu", Some("product-category"))
    assert(fuzzy == Right(Seq("https://s.com/product-category/a")))
    // '#'-href without data-url: KeyError in the reference (fatal for
    // the page — only HTTPError is caught there) → Left here
    val bad = ProductExtract.menuUrls(
      """<ul class="sub-menu"><a href="#">x</a></ul>""",
      "https://s.com/p", "ul", "sub-menu", None)
    assert(bad.isLeft && bad.swap.toOption.get.contains("data-url"))
    // keyword None (the YAML "None" string) keeps everything
    val all = ProductExtract.menuUrls(
      """<ul class="sub-menu"><a href="rel/path">x</a></ul>""",
      "https://s.com/base/page", "ul", "sub-menu", None)
    assert(all == Right(Seq("https://s.com/base/rel/path")))
  }

  test("nextPageUrl: raw href of the next-selector hit; None ends " +
      "the pagination loop") {
    val html =
      """<nav><a class="next" href="/page/2/">»</a></nav>
        |<a class="page-link" href="/list?p=9">Next</a>""".stripMargin
    // breadtalk config: ".next"
    assert(ProductExtract.nextPageUrl(html, ".next")
      .contains("/page/2/"))
    // igloo config: a.page-link:contains(Next)
    assert(ProductExtract.nextPageUrl(html, "a.page-link:contains(Next)")
      .contains("/list?p=9"))
    assert(ProductExtract.nextPageUrl("<p>last page</p>", ".next").isEmpty)
    // hit without href also ends the loop (`next_page.get('href')` None)
    assert(ProductExtract.nextPageUrl("""<a class="next">x</a>""",
      ".next").isEmpty)
  }

  test("nextPageUrlsFromPages: raw hrefs for pages with a next link, " +
      "no row otherwise; a bad selector fails on the driver") {
    import spark.implicits._
    val pages = Seq(
      ("p1", """<a class="next" href="/page/2/">»</a>"""),
      ("p2", "<p>last page</p>"),
      ("p3", """<a class="next">hrefless</a>""")).toDF("url", "html")
    val got = ProductExtract.nextPageUrlsFromPages(pages, ".next")
      .as[(String, String)].collect().toSeq
    assert(got == Seq(("p1", "/page/2/")))
    // config typo must throw at build time, not yield an empty frame
    intercept[IllegalArgumentException] {
      ProductExtract.nextPageUrlsFromPages(pages, "a[href]")
    }
  }

  test("productCardUrls: own-href precedence, inner-anchor fallback, " +
      "skip patterns, duplicates preserved") {
    val html =
      """<div class="product-block" href="/direct"><a href="/inner">i</a></div>
        |<div class="product-block"><a href="/product/a/">A</a></div>
        |<div class="product-block"><a href="/product/a/">A again</a></div>
        |<div class="product-block"><a href="/danh-muc/skip/">S</a></div>
        |<div class="product-block">no link</div>
        |<div class="other"><a href="/product/decoy/">D</a></div>"""
        .stripMargin
    val got = ProductExtract.productCardUrls(html, "div",
      ".product-block", Some("danh-muc"), "https://shop.x.com/")
    // own href wins over the inner anchor (`:331-335` only falls back
    // when the card itself has none); dupes kept in card order
    assert(got == Right(Seq(
      "https://shop.x.com/direct",
      "https://shop.x.com/product/a/",
      "https://shop.x.com/product/a/")))
  }

  test("incremental extraction: pages stream through transformSink " +
      "into an append product table") {
    // the reference's crawl loop accumulates an append-mode CSV
    // (test_products_scraping.py:38-49); the streaming twin runs the
    // SAME pure extractor per micro-batch via foreachBatch
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // resolved on the test thread: `site` cancels via `assume` when the
    // reference config is absent, and inside the foreachBatch function
    // that cancel would surface as a StreamingQueryException instead
    val breadtalk = site("breadtalk")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    mem.addData(
      ("https://breadtalkvietnam.com/product/ok/", breadtalkHtml,
        "https://breadtalkvietnam.com/cat/banh-mi/"),
      ("https://breadtalkvietnam.com/broken", "<p>x</p>", "c"))
    val out = java.nio.file.Files
      .createTempDirectory("graft-extract-out").toString + "/t"
    val cp = java.nio.file.Files
      .createTempDirectory("graft-extract-cp").toString
    val q = graft.streaming.EventStreams.transformSink(
      mem.toDF.toDF("url", "html", "category_url"),
      batch => productsFromHtml(batch, breadtalk,
        categoryUrlCol = Some("category_url")).toDF(),
      out, cp)
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() == 1)
    assert(got.select("product_name").as[String].collect().toSeq ==
      Seq("Bánh mì hoa cúc"))
  }

  test("Spark operator: one map pass, goods + quarantine split") {
    val spark0 = spark
    import spark0.implicits._
    val pages = Seq(
      ("https://breadtalkvietnam.com/product/ok/", breadtalkHtml,
        "https://breadtalkvietnam.com/cat/banh-mi/"),
      // no selectors AND no og: tags → quarantine
      ("https://breadtalkvietnam.com/broken", "<html><p>x</p></html>",
        "https://breadtalkvietnam.com/cat/banh-mi/"))
      .toDF("url", "html", "category_url")
    val (goods, rejects) = productsFromHtmlSplit(
      pages.repartition(3), site("breadtalk"),
      categoryUrlCol = Some("category_url"))
    val g = goods.collect()
    assert(g.length == 1 && g.head.product_name == "Bánh mì hoa cúc")
    val r = rejects.collect()
    assert(r.length == 1 &&
      r.head.getString(0) == "https://breadtalkvietnam.com/broken")
    // the split is a map-side cache+filter: no exchange ABOVE the
    // cached attempts (the test's own repartition(3) lives inside the
    // InMemoryRelation and is not the operator's doing)
    val planAboveCache = goods.queryExecution.executedPlan.toString
      .split("InMemoryRelation")(0)
    assert(!planAboveCache.contains("Exchange"), planAboveCache)
    // the single-consumer path must NOT cache at all (pinning the
    // parsed corpus in storage for one pass would be a 100 TB bug)
    val direct = productsFromHtml(pages, site("breadtalk"),
      categoryUrlCol = Some("category_url"))
    assert(direct.collect().length == 1)
    val dplan = direct.queryExecution.executedPlan.toString
    assert(!dplan.contains("InMemoryRelation") &&
      !dplan.contains("Exchange"), dplan)
  }
}
