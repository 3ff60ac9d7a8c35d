package graft.extract

import graftbench.Spans

/** Outside-in step trace of [[ExtractorSet.extract]]: the facade's
  * steps in the facade's order, each under its own span, so their
  * times can be checked against the facade's own time. Lives in the
  * engine's package only to read the main-content element the facade
  * renders from. */
object EngineSteps {

  val Steps: Seq[String] =
    Seq("precollapse", "parse", "detect", "cascade", "render_md", "render_text")

  def extract(ex: ExtractorSet, html: String, url: String, spans: Spans,
              trace: String): Either[String, ExtractResult] =
    spans(trace, "turn") { turn =>
      def step[T](name: String)(f: => T): T = spans(trace, name, turn)(_ => f)
      try {
        if (html == null || html.length < 100)
          Left("Retrieved HTML content is too short or empty")
        else {
          val collapsed = step("precollapse")(ex.article.preCollapse(html))
          val doc = step("parse")(HtmlParser.parse(collapsed))
          val extractor = ex.forType(step("detect")(ex.detectPageType(url, doc)))
          val result = step("cascade")(extractor.extractDoc(doc, url))
          if (result.content.isEmpty)
            Left("No content could be extracted from the page")
          else {
            val main = extractor.lastMainContent
            val md = step("render_md")(MarkdownRenderer.renderFrom(main))
            val txt = step("render_text")(TextRenderer.renderFrom(main))
            Right(result.copy(markdown = md, textFormat = txt))
          }
        }
      } catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

  /** Element count and deepest nesting of the parsed page. */
  def domShape(ex: ExtractorSet, html: String): (Int, Int) = {
    var elements = 0
    var maxDepth = 0
    var stack = List((HtmlParser.parse(ex.article.preCollapse(html)): Element, 0))
    while (stack.nonEmpty) {
      val (e, d) = stack.head
      stack = stack.tail
      elements += 1
      maxDepth = math.max(maxDepth, d)
      e.childElements.foreach(c => stack = (c, d + 1) :: stack)
    }
    (elements - 1, maxDepth) // the synthetic root is not an element of the page
  }
}
