package graftbench

import java.util.SplittableRandom

/** Seeded generator of distinct, realistic web pages for the `pages`
  * workload.
  *
  * Each page is a pure function of (seed, index, page count): 20-160 KB
  * of content (log-uniform; with the noise, pages reach ~190 KB), a
  * wrapper chain that puts the main content 3-190 elements deep (the
  * deepest tenth at most ~96 KB), and the noise real pages carry (nav, sidebar, ads,
  * share bars, comments) around headings, paragraphs with inline
  * markup, lists, tables, code, math, images and quotes.
  *
  * Platform mix: article 45%, forum 35%, weixin 20%. About a third of
  * the pages wrap their content in class names no content selector
  * knows (`selectorMiss`), so the extractor falls through to scoring
  * every candidate node; their platform is then carried by the URL
  * only (a `forum-` conversation id, or the weixin tool).
  *
  * Nothing is filtered after generation: a page the engine fails on
  * stays in the input and counts as a failed operation. */
object PagesGen {

  final case class Page(conv_id: String, platform: String, selectorMiss: Boolean,
                        depth: Int, html: String) {
    def bytes: Int = html.getBytes("UTF-8").length
    /** The weixin tool makes the job dispatch on a weixin URL. */
    def tool: String = if (platform == "weixin") "weixin" else ""
  }

  private val Syllables = Array("ka", "lo", "mi", "ne", "su", "ta", "ro", "vi",
    "den", "mar", "pol", "quin", "ser", "tor", "zen", "bra", "cle", "dro")
  /** 600 pseudo-words of 2-4 syllables, the same for every seed. */
  private val Words: Array[String] = {
    val r = new SplittableRandom(7L)
    Array.fill(600) {
      val n = 2 + r.nextInt(3)
      (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
  }
  private val CjkWords = Array("数据", "处理", "文章", "内容", "分析", "系统", "模型", "结果")
  /** Container classes that no content or custom selector matches. */
  private val MissClasses = Array("lyt-col", "blk-main", "pane-x", "colm-b", "vbox-c")

  /** Page `i` of a set of `n`. Size, nesting, platform and selector
    * miss are fixed functions of `i`, jittered within a stratum of
    * width 1/n, so every seed draws the same page shapes (and the same
    * work per Spark partition) and only the content differs. */
  def page(seed: Long, i: Int, n: Int): Page = {
    val r = Gen.rng(seed, 40, i)
    def stratum(k: Int) = (i.toLong * k % n).toInt
    def quantile(k: Int) = (stratum(k) + r.nextDouble()) / n
    val depthQ = quantile(7)
    val wrappers =
      if (depthQ < 0.6) 3 + (depthQ / 0.6 * 18).toInt
      else if (depthQ < 0.9) 20 + ((depthQ - 0.6) / 0.3 * 60).toInt
      else 80 + ((depthQ - 0.9) / 0.1 * 110).toInt
    // the deepest tenth stays under ~96 KB: a page both deep and large
    // costs seconds and would leave one Spark task running alone
    val sizeQ = if (depthQ < 0.9) quantile(1) else 0.75 * quantile(1)
    val target = math.exp(math.log(20000) + sizeQ * math.log(8)).toInt
    val p = (stratum(11) + 0.5) / n
    val platform = if (p < 0.45) "article" else if (p < 0.80) "forum" else "weixin"
    val miss = stratum(13) % 3 == 0
    val convId = if (platform == "forum") f"forum-$i%06d" else f"page-$i%06d"
    val b = new PageWriter(r, platform == "weixin")
    b.head(i)
    b.open("body")
    b.siteNav()
    b.open("div", "layout")
    (0 until wrappers).foreach(k => b.open("div", s"w$k"))
    b.mainContent(platform, miss, target)
    (0 until wrappers).foreach(_ => b.close("div"))
    b.sidebar()
    b.comments(platform)
    b.close("div")
    b.footer()
    b.close("body")
    b.sb.append("</html>")
    Page(convId, platform, miss, b.maxDepth + 2, b.sb.toString)
  }

  private final class PageWriter(r: SplittableRandom, cjk: Boolean) {
    val sb = new java.lang.StringBuilder(200000)
    private var depth = 1 // <html>
    /** Deepest element opened through [[open]]; inline markup inside
      * paragraphs and list items adds at most two more levels. */
    var maxDepth = 1

    def open(tag: String, cls: String = null, id: String = null): Unit = {
      depth += 1
      maxDepth = math.max(maxDepth, depth)
      sb.append('<').append(tag)
      if (id != null) sb.append(" id=\"").append(id).append('"')
      if (cls != null) sb.append(" class=\"").append(cls).append('"')
      sb.append('>')
    }
    def close(tag: String): Unit = { depth -= 1; sb.append("</").append(tag).append('>') }

    def word(): String =
      if (cjk && r.nextInt(4) == 0) CjkWords(r.nextInt(CjkWords.length))
      else Words(r.nextInt(Words.length))

    def words(n: Int): Unit = {
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(word())
        k += 1
        if (k < n && r.nextInt(12) == 0) sb.append(if (r.nextBoolean()) "," else ".")
      }
    }

    def title(): Unit = { words(3 + r.nextInt(6)); sb.append(" &amp; ").append(word()) }

    def head(i: Int): Unit = {
      sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>")
      title(); sb.append(" | Site").append(i % 97).append("</title>")
      sb.append("<meta name=\"author\" content=\"").append(word()).append("\">")
      sb.append("<meta property=\"article:published_time\" content=\"2024-0")
        .append(1 + r.nextInt(9)).append("-1").append(r.nextInt(10)).append("\">")
      sb.append("<link rel=\"stylesheet\" href=\"/s.css\"><style>.a{color:red}</style>")
      sb.append("<script>var cfg = {page: ").append(i).append(", x: 1 < 2};</script></head>")
    }

    def links(n: Int, cls: String): Unit = {
      open("ul", cls)
      (0 until n).foreach { k =>
        sb.append("<li><a href=\"/p/").append(k).append("\">"); words(1 + r.nextInt(3))
        sb.append("</a></li>")
      }
      close("ul")
    }

    def siteNav(): Unit = {
      open("header", "site-header"); open("nav", "nav"); links(15 + r.nextInt(40), "menu")
      close("nav"); close("header")
    }

    def para(): Unit = {
      sb.append("<p>")
      val parts = 2 + r.nextInt(5)
      (0 until parts).foreach { k =>
        if (k > 0) sb.append(' ')
        words(8 + r.nextInt(30))
        r.nextInt(6) match {
          case 0 => sb.append(" <a href=\"https://ex.com/").append(word()).append("\">"); words(2); sb.append("</a>")
          case 1 => sb.append(" <strong>"); words(2); sb.append("</strong>")
          case 2 => sb.append(" <em>"); words(1); sb.append("</em>")
          case 3 => sb.append(" <code>").append(word()).append("()</code>")
          case _ => ()
        }
        sb.append(if (r.nextInt(5) == 0) "?" else ".")
      }
      sb.append("</p>")
    }

    def list(level: Int): Unit = {
      val tag = if (r.nextBoolean()) "ul" else "ol"
      open(tag)
      (0 until 2 + r.nextInt(5)).foreach { _ =>
        sb.append("<li>"); words(4 + r.nextInt(10))
        if (level < 3 && r.nextInt(4) == 0) list(level + 1)
        sb.append("</li>")
      }
      close(tag)
    }

    def table(): Unit = {
      val cols = 2 + r.nextInt(5)
      sb.append("<table><thead><tr>")
      (0 until cols).foreach { _ => sb.append("<th>"); words(1); sb.append("</th>") }
      sb.append("</tr></thead><tbody>")
      (0 until 3 + r.nextInt(12)).foreach { _ =>
        sb.append("<tr>")
        (0 until cols).foreach { _ => sb.append("<td>").append(r.nextInt(10000)).append(' '); words(1); sb.append("</td>") }
        sb.append("</tr>")
      }
      sb.append("</tbody></table>")
    }

    def code(): Unit = {
      sb.append("<pre><code class=\"language-scala\">")
      (0 until 3 + r.nextInt(15)).foreach { _ =>
        sb.append("val ").append(word()).append(" = ").append(word()).append('(')
          .append(r.nextInt(100)).append(") &lt; ").append(r.nextInt(9)).append('\n')
      }
      sb.append("</code></pre>")
    }

    def formula(): Unit =
      if (r.nextBoolean())
        sb.append("<p>where <span class=\"math\">\\(x_").append(r.nextInt(9))
          .append(" = \\sum_{i} w_i \\cdot v_i\\)</span> holds.</p>")
      else
        sb.append("<math><mi>x</mi><mo>=</mo><mfrac><mn>").append(r.nextInt(50))
          .append("</mn><mn>").append(1 + r.nextInt(9)).append("</mn></mfrac></math>")

    def figure(): Unit = {
      sb.append("<figure><img src=\"/img/").append(r.nextInt(100000))
        .append(".jpg\" alt=\"").append(word()).append("\"><figcaption>")
      words(3 + r.nextInt(6)); sb.append("</figcaption></figure>")
    }

    def inlineNoise(): Unit = r.nextInt(3) match {
      case 0 => open("div", "ad"); sb.append("<a href=\"https://ads.ex.com\">"); words(4); sb.append("</a>"); close("div")
      case 1 => open("div", "share"); (0 until 4).foreach(k => sb.append("<a href=\"#s").append(k).append("\">share</a>")); close("div")
      case _ => open("div", "related"); links(3 + r.nextInt(5), "rel"); close("div")
    }

    /** Headings and varied blocks until the page reaches `target`
      * bytes; every few blocks open a nested section. */
    def body(target: Int): Unit = {
      var open = 0 // nested sections still open
      sb.append("<h1>"); title(); sb.append("</h1>")
      while (sb.length < target) {
        r.nextInt(20) match {
          case 0 | 1 => sb.append("<h2>"); words(3 + r.nextInt(5)); sb.append("</h2>")
          case 2 => sb.append("<h3>"); words(2 + r.nextInt(5)); sb.append("</h3>")
          case 3 => list(0)
          case 4 => table()
          case 5 => code()
          case 6 => formula()
          case 7 => figure()
          case 8 => sb.append("<blockquote>"); para(); sb.append("</blockquote>")
          case 9 => inlineNoise()
          case 10 if open < 6 => this.open("div", "sec"); open += 1
          case 11 if open > 0 => close("div"); open -= 1
          case _ => para()
        }
      }
      while (open > 0) { close("div"); open -= 1 }
    }

    def mainContent(platform: String, miss: Boolean, target: Int): Unit = {
      def missCls = MissClasses(r.nextInt(MissClasses.length))
      platform match {
        case "article" if !miss =>
          open("article", "article-content"); body(target); close("article")
        case "forum" if !miss =>
          open("div", "thread"); open("div", "post first-post"); open("div", "post-content")
          body(target); close("div"); close("div")
          (0 until 2 + r.nextInt(6)).foreach { _ =>
            open("div", "post reply"); open("div", "reply-content"); para(); close("div"); close("div")
          }
          close("div")
        case "weixin" if !miss =>
          open("div", "rich_media"); sb.append("<h1 class=\"rich_media_title\">"); title(); sb.append("</h1>")
          open("div", "rich_media_meta_list"); sb.append("<span class=\"rich_media_meta\">"); words(2); sb.append("</span>"); close("div")
          open("div", "rich_media_content", "js_content"); body(target); close("div"); close("div")
        case _ =>
          open("div", missCls); body(target)
          if (platform == "forum") (0 until 2 + r.nextInt(6)).foreach { _ =>
            open("div", "msg-item"); para(); close("div")
          }
          close("div")
      }
    }

    def sidebar(): Unit = {
      open("aside", "sidebar"); open("div", "widget"); sb.append("<h3>"); words(2); sb.append("</h3>")
      links(5 + r.nextInt(20), "side"); close("div"); open("div", "ad banner"); words(6); close("div"); close("aside")
    }

    def comments(platform: String): Unit =
      if (platform != "forum") {
        open("div", "comments", "comments")
        (0 until r.nextInt(25)).foreach { _ =>
          open("div", "comment"); sb.append("<span class=\"user\">"); words(1); sb.append("</span>")
          para(); close("div")
        }
        close("div")
      }

    def footer(): Unit = {
      open("footer", "footer"); links(5 + r.nextInt(10), "foot")
      sb.append("<p class=\"copyright\">&copy; 2024 "); words(3); sb.append("</p>"); close("footer")
    }
  }
}
