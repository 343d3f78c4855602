package graft.etl

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

import graft.etl.Html.Elem

/** Config-driven HTML→ProductInfo field extractor — the reference's
  * `_extract_from_html` (`scripts/extract/products_scraping.py:392-561`)
  * and its `_extract_from_meta` og:-fallback (`:563-621`), composed
  * from per-site CSS selectors (`utils/webs_config.yml`).
  *
  * Split of responsibilities (SURVEY §3.2): the CRAWL half — fetching,
  * pagination, tab/progressive loading, the browser — stays
  * out-of-engine by design (S7); parsing checked-in HTML into typed
  * rows is pure, deterministic and embarrassingly parallel, so it IS
  * an engine operator: one `Dataset.map` over (url, html) pages, no
  * shuffle, scales linearly with input splits at 100 TB.
  *
  * Faithfulness notes (reference quirks preserved deliberately):
  *  - a non-https `src` becomes `"https://" + src.lstrip('/')` even
  *    when it already starts with `http://` (`:489-490` produces
  *    `https://http://…` — mirrored, and covered by a spec);
  *  - the og:-fallback computes a `product_description` from a
  *    `const xr = […]` script block but never passes it to the
  *    ProductInfo constructor (`:600` is commented out in the
  *    reference), so the meta path always yields an empty description
  *    — we skip the dead computation and cite it here;
  *  - `_extract_from_meta` with none of og:title/og:price:amount/
  *    og:image present hits an unbound local (`:607` NameError),
  *    caught by the surrounding try → product dropped; a price meta
  *    whose content has no digits raises in `int('')` (`:593`) →
  *    dropped. Both become quarantine rows here, not silent drops;
  *  - the category URL-path fallback takes `path_parts[-2]` (`:540`)
  *    — an URL with fewer than two path segments raises IndexError →
  *    product dropped (quarantined here).
  */
object ProductExtract {

  /** The reference's `ProductInfo` dataclass (`:26-44`), restricted to
    * the fields the extractor actually populates; the remaining mock
    * defaults (sizes, discount, stock, ratings) are downstream
    * enrichment ([[MockData]]). `product_image_name` is typed as the
    * list the reference code actually builds (`:497,530`), though its
    * dataclass declares `str`. */
  final case class ProductInfo(
      product_name: String,
      product_url: String,
      product_band: String,
      category_name: Seq[String],
      product_image: Seq[String],
      product_image_name: Seq[String],
      product_code: String,
      product_description: String,
      product_unit_price: Long)

  /** `product_detail_selectors` for one site; `None` models the YAML
    * literal `"None"` (the configs use the string, not a YAML null).
    * `description` is one-or-many (`:409-425` handles both). */
  final case class DetailSelectors(
      name: Option[String],
      code: Option[String],
      description: Seq[String],
      unitPrice: Option[String],
      imageSelector: Option[String],
      detailImage: Option[String],
      originalCategory: Option[String],
      categoryTag: Option[String])

  final case class SiteConfig(
      websiteName: String,
      websitePath: String,
      selectors: DetailSelectors)

  // ---- webs_config.yml loading ----

  /** Parse a webs_config.yml-style document into per-site configs
    * (jackson-yaml, ships with Spark — same stack as
    * [[PipelineConfig]]). */
  def parseWebsConfig(yaml: String): Map[String, SiteConfig] = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory)
    val root = mapper.readTree(yaml)
    val sites = Option(root.get("websites"))
      .getOrElse(mapper.createObjectNode())
    def noneIsNone(s: String): Option[String] =
      Option(s).map(_.trim).filter(v => v.nonEmpty && v != "None")
    sites.properties().asScala.map { e =>
      val name = e.getKey
      val site = e.getValue
      val path = Option(site.at("/path/website_path"))
        .filter(_.isTextual).map(_.asText).getOrElse("")
      val ds = site.at("/scraping/product_detail_selectors")
      def sel(key: String): Option[String] =
        Option(ds.get(key)).filter(_.isTextual).flatMap(n =>
          noneIsNone(n.asText))
      val desc = Option(ds.get("description")) match {
        case Some(n) if n.isArray =>
          n.elements().asScala.flatMap(x => noneIsNone(x.asText)).toSeq
        case Some(n) if n.isTextual => noneIsNone(n.asText).toSeq
        case _ => Seq.empty
      }
      name -> SiteConfig(name, path, DetailSelectors(
        name = sel("name"),
        code = sel("code"),
        description = desc,
        unitPrice = sel("unit_price"),
        imageSelector = sel("image_selector"),
        detailImage = sel("detail_image"),
        originalCategory = sel("original_category"),
        categoryTag = sel("category_tag")))
    }.toMap
  }

  def loadWebsConfig(path: String): Map[String, SiteConfig] =
    parseWebsConfig(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  // ---- per-row extraction (pure) ----

  private def urlPathParts(url: String): Seq[String] = {
    // urlparse(url).path.strip('/').split('/') — Python split on a
    // stripped-empty path yields [''], mirrored by Seq("")
    val noScheme = url.indexOf("://") match {
      case -1 => url
      case i => url.substring(i + 3)
    }
    val pathStart = noScheme.indexOf('/')
    val rawPath = if (pathStart < 0) "" else {
      val p = noScheme.substring(pathStart)
      val cut = p.indexWhere(c => c == '?' || c == '#')
      if (cut < 0) p else p.substring(0, cut)
    }
    val stripped = rawPath.dropWhile(_ == '/').reverse.dropWhile(_ == '/')
      .reverse
    val parts = stripped.split("/", -1).toSeq
    if (parts.isEmpty) Seq("") else parts
  }

  private val StylUrl = """url\(["']?(.*?)["']?\)""".r

  /** `_extract_from_html` (`:392-561`). Throws on the reference's own
    * fatal paths (IndexError on the URL category fallback) — callers
    * catch and quarantine. */
  private[etl] def extractFromHtml(bs: Elem, site: SiteConfig,
      productUrl: String): ProductInfo = {
    val ds = site.selectors
    // name (`:404-408`): select_one runs even for "None" (matches
    // nothing — soupsieve treats it as a `none` tag selector)
    val name = ds.name.orElse(Some("None"))
      .flatMap(s => bs.selectOne(s)).map(_.text.trim).getOrElse("")
    // description (`:409-425`): first matching selector wins
    val description = ds.description.iterator
      .flatMap(s => bs.selectOne(s)).map(_.text.trim)
      .nextOption().getOrElse("")
    // price (`:430-446`): strip every non-digit; all-digits → int
    val price = ds.unitPrice.flatMap(s => bs.selectOne(s)).map { el =>
      val cleaned = el.textStripped.replaceAll("[^\\d]", "")
      if (cleaned.nonEmpty && cleaned.forall(_.isDigit))
        // Python int() is unbounded; the reference's prices fit long
        scala.util.Try(cleaned.toLong).getOrElse(0L)
      else 0L
    }.getOrElse(0L)

    // images (`:457-513`)
    val images = ArrayBuffer.empty[String]
    val imageNames = ArrayBuffer.empty[String]
    val imgsCon = ds.imageSelector.flatMap(s => bs.selectOne(s))
    imgsCon.foreach { con =>
      ds.detailImage.foreach { dsel =>
        con.select(dsel).foreach { imgDiv =>
          // inner try/except continue (`:508-510`): a card without a
          // usable <img> is skipped, never fatal
          try {
            imgDiv.findFirst("img").foreach { img =>
              val srcOpt = img.attr("data-large_image")
                .filter(_.nonEmpty).orElse(img.attr("src"))
              // name from alt/title/data-caption (`:475-486`)
              var nm = Seq("alt", "title", "data-caption").iterator
                .flatMap(img.attr).filter(_.nonEmpty).nextOption()
                .map(n => n.replace("_optimized", "")
                  .replaceAll("\\.[^.]+$", ""))
              val src0 = srcOpt.getOrElse(
                // `src.split(...)` on None raises → except → continue
                throw new NoSuchElementException("img without src"))
              if (nm.isEmpty) {
                // basename sans extension, -/_ → space (`:481-484`)
                val base = src0.split('/').lastOption.getOrElse("")
                  .split('.').headOption.getOrElse("")
                nm = Some(base.replace('-', ' ').replace('_', ' '))
              }
              // `:489-490`: https-prefix anything non-https, stripping
              // ONLY leading slashes (protocol-relative //cdn/…);
              // http:// URLs become https://http://… — reference
              // behavior, preserved (see scaladoc)
              val src = if (src0.startsWith("https://")) src0
                else "https://" + src0.dropWhile(_ == '/')
              if (src.nonEmpty) images += src
              nm.filter(_.nonEmpty).foreach(imageNames += _)
            }
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      // tljus background-image style (`:515-525`): unconditional ""
      // name append, and NO slash-strip on this path
      con.attr("style").foreach { style =>
        StylUrl.findFirstMatchIn(style).foreach { m =>
          val s0 = m.group(1)
          val s = if (s0.startsWith("https://")) s0 else "https://" + s0
          images += s
          imageNames += ""
        }
      }
    }

    // categories (`:528-545`)
    val categories = ArrayBuffer.empty[String]
    ds.originalCategory.foreach { catSel =>
      if (catSel.startsWith("literal:")) categories += catSel.drop(8)
      else {
        bs.selectOne(catSel).foreach { catElem =>
          ds.categoryTag.foreach { tagName =>
            catElem.findAll(tagName).foreach { tag =>
              // `'Sản phẩm nổi bật' in tag` checks DIRECT contents
              // membership (`:536`), not substring of all text
              if (!tag.directTexts.exists(_ == "Sản phẩm nổi bật"))
                categories += tag.textStripped
            }
          }
        }
        if (categories.isEmpty) {
          val parts = urlPathParts(productUrl)
          // `path_parts[-2]` (`:540`): IndexError when < 2 segments —
          // the reference's fatal path, surfaced for quarantine
          if (parts.length < 2)
            throw new IndexOutOfBoundsException(
              s"category URL fallback needs >= 2 path segments: $productUrl")
          categories += parts(parts.length - 2)
        }
      }
    }

    // sku (`:548-550`)
    val code = ds.code.flatMap(s => bs.selectOne(s))
      .map(_.textStripped).getOrElse("")

    ProductInfo(
      product_name = name,
      product_url = productUrl,
      product_band = site.websiteName,
      category_name = categories.toSeq,
      product_image = images.toSeq,
      product_image_name = imageNames.toSeq,
      product_code = code,
      product_description = description,
      product_unit_price = price)
  }

  /** `_extract_from_meta` (`:563-621`) — the Schema.org/OpenGraph
    * fallback. Throws on the reference's fatal paths (no og: tags at
    * all; digit-free price) — callers quarantine. */
  private[etl] def extractFromMeta(bs: Elem, site: SiteConfig,
      productUrl: String, categoryUrl: String): ProductInfo = {
    val metaName = bs.findMeta("og:title").flatMap(_.attr("content"))
    val metaPrice = bs.findMeta("og:price:amount").flatMap(_.attr("content"))
    val metaImage = bs.findMeta("og:image").flatMap(_.attr("content"))
    if (metaName.isEmpty && metaPrice.isEmpty && metaImage.isEmpty)
      // `:607`: unbound `product_name` → NameError → except → None
      throw new NoSuchElementException("no og: meta tags found")
    val name = metaName.getOrElse("")
    val price = metaPrice.map { c =>
      val digits = c.filter(_.isDigit)
      if (digits.isEmpty)
        // `int('')` ValueError (`:593`) → except → None
        throw new NumberFormatException(s"og:price:amount '$c' has no digits")
      digits.toLong
    }.getOrElse(0L)
    // `:612`: category = last path segment of the LISTING page URL;
    // passed as a bare string into the list-typed field — normalized
    // to a one-element list here
    val category = urlPathParts(categoryUrl).last
    ProductInfo(
      product_name = name,
      product_url = productUrl,
      product_band = site.websiteName,
      category_name = Seq(category),
      product_image = metaImage.toSeq,
      product_image_name = if (name.nonEmpty) Seq(name.toLowerCase(java.util.Locale.ROOT)) else Nil,
      product_code = "",
      product_description = "", // `:600` commented out in the reference
      product_unit_price = price)
  }

  /** `_extract_product_details` composition (`:363-390`): HTML-selector
    * extraction first; when it yields neither a name nor a price, fall
    * back to the og: meta tags. Any thrown path → Left(quarantine). */
  def extractRow(html: String, productUrl: String, categoryUrl: String,
      site: SiteConfig): Either[String, ProductInfo] =
    try {
      val bs = Html.parse(html)
      val fromHtml = extractFromHtml(bs, site, productUrl)
      if (fromHtml.product_name.isEmpty && fromHtml.product_unit_price == 0L)
        Right(extractFromMeta(bs, site, productUrl, categoryUrl))
      else Right(fromHtml)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** `_crawl_pagination`'s pure half (`products_scraping.py:240-244`):
    * the next-page link under the configured `next_selector` — the
    * raw `href`, NOT absolutized (the reference feeds it straight
    * back to `requests.get`), `None` when the selector misses or the
    * element has no href (both end the reference's loop). Supports
    * the configs' `:contains(Next)` form via the selector subset. */
  def nextPageUrl(html: String, nextSelector: String): Option[String] =
    Html.parse(html).selectOne(nextSelector).flatMap(_.attr("href"))

  // ---- menu / category-URL extraction (menus_crawling.py) ----

  /** Minimal `urljoin(base, url)` — the cases the reference hits
    * (`menus_crawling.py:47`): absolute URLs pass through,
    * protocol-relative take the base's scheme, root-relative take
    * scheme+host, others resolve against the base's directory. */
  private[etl] def urlJoin(base: String, url: String): String = {
    if (url.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*")) return url
    val schemeEnd = base.indexOf("://")
    val scheme = if (schemeEnd < 0) "https" else base.substring(0, schemeEnd)
    if (url.startsWith("//")) return s"$scheme:$url"
    val hostStart = if (schemeEnd < 0) 0 else schemeEnd + 3
    val pathStart = base.indexOf('/', hostStart)
    val root = if (pathStart < 0) base else base.substring(0, pathStart)
    if (url.startsWith("/")) return root + url
    val dir = if (pathStart < 0) base + "/"
      else base.substring(0, base.lastIndexOf('/') + 1)
    dir + url
  }

  // class-regex patterns are config constants matched once per page
  // row — memoize the compiled forms (TrieMap: executor tasks share
  // the cache lock-free)
  private val classPatterns = scala.collection.concurrent.TrieMap
    .empty[String, java.util.regex.Pattern]
  private def classPattern(p: String): java.util.regex.Pattern =
    classPatterns.getOrElseUpdate(p, java.util.regex.Pattern.compile(p))

  /** `scrape_website`'s PARSE half (`menus_crawling.py:22-57`): menu
    * containers = elements with `tagName` whose class list regex-
    * matches `menuSelector` (bs4 `attrs={"class": re.compile(...)}`
    * — search against each class token); every descendant `<a href>`
    * yields a URL; a `#`-href falls back to `data-url` (absent →
    * KeyError in the reference, which only catches HTTPError, so the
    * page is fatal — quarantined here); keep URLs containing
    * `filterKeyword` (or all when "None"); non-https URLs resolve
    * against the page URL (an absolute http:// URL passes urljoin
    * unchanged — reference behavior). The reference then "removes
    * parent categories" via `is_parent_category` (`:12-19`) — a DEAD
    * filter: every URL's own path matches itself in the list, so the
    * function always returns False and everything is kept; mirrored
    * as the no-op it is, cited here rather than silently fixed.
    * Returns the DISTINCT urls in first-seen document order (the
    * reference returns a Python set — unordered; a deterministic
    * engine needs an order, and document order is the stable choice). */
  def menuUrls(html: String, pageUrl: String, tagName: String,
      menuSelector: String, filterKeyword: Option[String])
      : Either[String, Seq[String]] =
    try {
      val bs = Html.parse(html)
      val re = classPattern(menuSelector)
      val menus = bs.descendants.filter(e =>
        e.tag == Html.lc(tagName) &&
          e.classes.exists(c => re.matcher(c).find())).toSeq
      val out = ArrayBuffer.empty[String]
      val seen = scala.collection.mutable.HashSet.empty[String]
      menus.foreach { menu =>
        menu.findAll("a").filter(_.attr("href").isDefined).foreach { a =>
          val href = a.attr("href").get
          val url0 =
            if (href.startsWith("#"))
              a.attr("data-url").getOrElse(
                throw new NoSuchElementException(
                  s"#-href anchor without data-url on $pageUrl"))
            else href
          if (filterKeyword.forall(url0.contains)) {
            val url = if (url0.startsWith("https://")) url0
              else urlJoin(pageUrl, url0)
            if (seen.add(url)) out += url
          }
        }
      }
      Right(out.toSeq)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** `_crawl_each_page`'s product-card URL harvest
    * (`products_scraping.py:316-360`): cards = elements with
    * `productTag` whose class list regex-matches `productSelector`
    * with its dots stripped (`class_=re.compile(selector.replace(
    * ".",""))`, `:322-324`); the URL is the card's own `href`, falling
    * back to the first descendant `<a>`'s (`:331-335`); hrefless cards
    * are skipped and counted (`:350-353`); URLs containing
    * `skipUrlPattern` are dropped BEFORE absolutization (`:337-340`);
    * non-https URLs resolve against the site root with its trailing
    * slash stripped (`:344-348`). Order and duplicates are preserved —
    * the reference fetches every card in list order. */
  def productCardUrls(html: String, productTag: String,
      productSelector: String, skipUrlPattern: Option[String],
      websitePath: String): Either[String, Seq[String]] =
    try {
      val bs = Html.parse(html)
      val re = classPattern(productSelector.replace(".", ""))
      val base = websitePath.reverse.dropWhile(_ == '/').reverse
      val urls = bs.descendants
        .filter(e => e.tag == Html.lc(productTag) &&
          e.classes.exists(c => re.matcher(c).find()))
        .flatMap { card =>
          // Python falsy: an EMPTY card href also falls through to the
          // inner anchor; an empty anchor href is then skipped
          card.attr("href").filter(_.nonEmpty)
            .orElse(card.findFirst("a").flatMap(_.attr("href")))
            .filter(_.nonEmpty)
            .filterNot(u => skipUrlPattern.exists(u.contains))
            .map(u => if (u.startsWith("https://")) u else urlJoin(base, u))
        }
        .toSeq
      Right(urls)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Spark operator twin of [[productCardUrls]] over (url, html)
    * listing pages: one row per discovered product URL, in card
    * order. Map-side, no shuffle. */
  def productCardUrlsFromPages(pages: DataFrame, productTag: String,
      productSelector: String, skipUrlPattern: Option[String],
      websitePath: String,
      urlCol: String = "url", htmlCol: String = "html"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col(urlCol).cast("string").as("url"),
        col(htmlCol).cast("string").as("html"))
      .as[(String, String)]
      .flatMap { case (url, html) =>
        productCardUrls(html, productTag, productSelector,
            skipUrlPattern, websitePath)
          .toOption.toSeq.flatten.map(u => (url, u))
      }
      .toDF("url", "product_url")
  }

  /** Spark operator: (url, html) menu pages → one row per discovered
    * category URL. Map-side flatMap, no shuffle; unparseable pages
    * are dropped (quarantine them upstream via [[menuUrls]] if the
    * rejects are wanted). */
  def menuUrlsFromPages(pages: DataFrame, tagName: String,
      menuSelector: String, filterKeyword: Option[String],
      urlCol: String = "url", htmlCol: String = "html"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col(urlCol).cast("string").as("url"),
        col(htmlCol).cast("string").as("html"))
      .as[(String, String)]
      .flatMap { case (url, html) =>
        menuUrls(html, url, tagName, menuSelector, filterKeyword)
          .toOption.toSeq.flatten.map(u => (url, u))
      }
      .toDF("url", "category_url")
  }

  /** Spark operator twin of [[nextPageUrl]] over (url, html) listing
    * pages: one row per page that HAS a next link — (url, next_url),
    * the raw un-absolutized href (the reference feeds it straight
    * back to `requests.get`, `products_scraping.py:240-244`). Pages
    * whose selector misses, whose hit has no href, or whose HTML
    * doesn't parse produce no row. Reference fidelity note: of those
    * three, only the hrefless anchor (url=None) actually ENDS the
    * reference's loop — a selector miss hits `continue` with url
    * unchanged, so the reference refetches the same page until its
    * max_pages=20 bound. The twin's uniform no-row behavior is the
    * sane batch equivalent (a frontier never re-emits a stalled URL),
    * not a claim about the reference's control flow. Map-side
    * flatMap, no shuffle: the crawl frontier derives from a
    * projection of the fetched batch. */
  def nextPageUrlsFromPages(pages: DataFrame, nextSelector: String,
      urlCol: String = "url", htmlCol: String = "html"): DataFrame = {
    // config typo fails LOUDLY on the driver (validateSelectors'
    // rationale) — the per-row catch below is for malformed HTML
    // only, and must not convert a bad selector into an empty frame
    Html.Selector.parse(nextSelector)
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col(urlCol).cast("string").as("url"),
        col(htmlCol).cast("string").as("html"))
      .as[(String, String)]
      .flatMap { case (url, html) =>
        (try nextPageUrl(html, nextSelector)
         catch { case scala.util.control.NonFatal(_) => None })
          .map(n => (url, n))
      }
      .toDF("url", "next_url")
  }

  // ---- the Spark operator ----

  /** Eagerly parse every configured selector so a config typo or an
    * out-of-subset selector fails LOUDLY on the driver before any row
    * runs. Without this, extractRow's per-row quarantine converts a
    * config bug into "every row dropped/quarantined with the same
    * message" — the silently-matching-nothing trap Html's parse gate
    * exists to prevent, reintroduced one level up. `categoryTag` is a
    * bare tag name (findAll), not a selector; `literal:` categories
    * are not selectors either. */
  private[etl] def validateSelectors(site: SiteConfig): Unit = {
    val ds = site.selectors
    (ds.name.toSeq ++ ds.code.toSeq ++ ds.description ++
      ds.unitPrice.toSeq ++ ds.imageSelector.toSeq ++
      ds.detailImage.toSeq ++
      ds.originalCategory.filterNot(_.startsWith("literal:")).toSeq)
      .foreach(Html.Selector.parse)
  }

  /** Parse a frame of fetched pages into product rows. Input columns:
    * `urlCol` (the product page URL), `htmlCol` (raw HTML), optionally
    * `categoryUrlCol` (the listing page the crawl found it on — feeds
    * the meta path's category; defaults to the product URL). One
    * map-side pass, no shuffle; corrupt/unextractable pages are
    * dropped (use [[productsFromHtmlSplit]] to keep them). */
  def productsFromHtml(pages: DataFrame, site: SiteConfig,
      urlCol: String = "url", htmlCol: String = "html",
      categoryUrlCol: Option[String] = None): Dataset[ProductInfo] = {
    validateSelectors(site)
    // single-consumer path: flatMap straight through — no cache (the
    // split variant caches because BOTH sides re-read the parse; here
    // caching would pin the whole parsed corpus for nothing at scale)
    val spark = pages.sparkSession
    import spark.implicits._
    val catCol = categoryUrlCol.map(col).getOrElse(col(urlCol))
    pages
      .select(col(urlCol).cast("string").as("url"),
        col(htmlCol).cast("string").as("html"),
        catCol.cast("string").as("category_url"))
      .as[(String, String, String)]
      .flatMap { case (url, html, catUrl) =>
        extractRow(html, url, catUrl, site).toOption
      }
  }

  /** As [[productsFromHtml]], with the rejects kept: (products,
    * quarantine(url, error)). ONE parse per page (the parse dominates
    * cost): attempts are tagged then cached and split, mirroring
    * [[graft.multimodal.Multimodal.decodeImagesSplit]]. The cache is
    * MEMORY_AND_DISK (spills, never OOMs); consume both sides, then
    * `.unpersist()` either returned frame's underlying cache in
    * long-lived sessions. */
  def productsFromHtmlSplit(pages: DataFrame, site: SiteConfig,
      urlCol: String = "url", htmlCol: String = "html",
      categoryUrlCol: Option[String] = None)
      : (Dataset[ProductInfo], DataFrame) = {
    validateSelectors(site)
    val spark = pages.sparkSession
    import spark.implicits._
    val catCol = categoryUrlCol.map(col).getOrElse(col(urlCol))
    val attempts = pages
      .select(col(urlCol).cast("string").as("url"),
        col(htmlCol).cast("string").as("html"),
        catCol.cast("string").as("category_url"))
      .as[(String, String, String)]
      .map { case (url, html, catUrl) =>
        extractRow(html, url, catUrl, site) match {
          case Right(p) => (url, Option(p), Option.empty[String])
          case Left(err) => (url, Option.empty[ProductInfo], Option(err))
        }
      }
      .cache()
    val goods = attempts.flatMap(_._2)
    val rejects = attempts.filter(_._3.isDefined)
      .map(r => (r._1, r._3.get))
      .toDF("url", "error")
    (goods, rejects)
  }
}
