package graftbench

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

class PagesGenSpec extends AnyFunSuite {
  private val N = 60

  private def pages(seed: Long) = (0 until N).map(PagesGen.page(seed, _, N))

  private def digest(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    pages(seed).foreach(p => md.update(p.html.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed gives identical bytes") {
    assert(digest(11) == digest(11))
  }

  test("a different seed gives different bytes, page by page") {
    assert(digest(11) != digest(12))
    pages(11).zip(pages(12)).foreach { case (a, b) => assert(a.html != b.html) }
  }

  test("every seed draws the same mix of page shapes") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val ps = pages(seed)
      assert(ps.map(_.html).distinct.length == N)
      assert(ps.forall(p => p.bytes >= 20000 && p.bytes < 200000))
      assert(ps.map(_.depth).max >= 80 && ps.map(_.depth).max <= 210)
      assert(ps.groupBy(_.platform).view.mapValues(_.length).toMap ==
        Map("article" -> 27, "forum" -> 21, "weixin" -> 12))
      assert(ps.count(_.selectorMiss) == N / 3)
    }
  }
}
