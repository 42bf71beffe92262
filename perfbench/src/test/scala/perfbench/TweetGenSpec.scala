package perfbench

import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class TweetGenSpec extends AnyFunSuite {
  private val shares = Shares(malformed = 0.01, duplicate = 0.05, nonEnglish = 0.10, blank = 0.02)
  private val n = 20000L
  private def lines(seed: Long): Seq[String] =
    (0L until n).map(i => new TweetGen(seed, shares).line(i, 1756735200000L + i))

  test("the same seed gives byte-identical output") {
    val a = lines(7).mkString("\n").getBytes("UTF-8")
    val b = lines(7).mkString("\n").getBytes("UTF-8")
    assert(java.util.Arrays.equals(a, b))
  }

  test("another seed gives other output") {
    assert(lines(7).take(100) != lines(8).take(100))
  }

  test("shares come out near the stated ones") {
    val g = new TweetGen(11, shares)
    val kinds = (0L until n).map(g.kind)
    def share(p: g.Kind => Boolean) = kinds.count(p).toDouble / n
    val fresh = (0L until n).filter(i => g.kind(i) == g.Fresh)
    def freshShare(p: Long => Boolean) = fresh.count(p).toDouble / fresh.size
    assert(math.abs(share(_ == g.Malformed) - 0.01) < 0.004)
    assert(math.abs(share(_.isInstanceOf[g.Duplicate]) - 0.05) < 0.01)
    assert(math.abs(freshShare(i => g.lang(i) != "en") - 0.10) < 0.015)
    assert(math.abs(freshShare(i => g.text(i).trim.isEmpty) - 0.02) < 0.005)
  }

  test("every line survives a UTF-8 round trip") {
    lines(9).foreach { l =>
      assert(new String(l.getBytes("UTF-8"), "UTF-8") == l)
    }
  }

  test("malformed lines do not parse, the others do") {
    val g = new TweetGen(3, shares)
    (0L until 5000L).foreach { i =>
      val parsed = JsonMethods.parseOpt(g.line(i, 0L))
      assert(parsed.isDefined == (g.kind(i) != g.Malformed), s"line $i")
    }
  }

  test("a duplicate re-sends an earlier fresh line's id and text") {
    val g = new TweetGen(5, shares)
    (0L until 5000L).map(i => i -> g.kind(i)).collect { case (i, g.Duplicate(j)) =>
      assert(j < i && g.kind(j) == g.Fresh)
      assert(g.line(i, 0L) == g.envelope(j, 0L))
    }
  }
}
