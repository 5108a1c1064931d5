package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def inputs(seed: Long) = (
    (0 until 3).map(Gen.poll(seed, 50, _)),
    Gen.preloadArticles(seed, 20),
    Gen.corpus(seed, 300, 100) match {
      case c => (c.docs, c.exactPairs, c.nearPairs, c.vecs.map { case (i, v) => (i, v.toSeq) })
    },
    Gen.queries(seed, 1000, 8))

  test("the same seed gives identical inputs, another seed different ones") {
    assert(inputs(7) == inputs(7))
    val (a, b) = (inputs(7), inputs(8))
    assert(a._1 != b._1 && a._2 != b._2 && a._3 != b._3 && a._4 != b._4)
  }

  test("pubDates come in the three RFC-822 forms the pipeline parses") {
    val dates = Gen.preloadArticles(3, 40).map(_.pubDate)
    assert(dates.exists(_.matches("""\w{3}, \d{2} \w{3} \d{4} \d{2}:\d{2}:\d{2} [+-]\d{4}""")))
    assert(dates.exists(_.matches("""\w{3}, \d{2} \w{3} \d{4} \d{2}:\d{2}:\d{2} GMT""")))
    assert(dates.exists(_.matches("""\w{3}, \d{2} \w{3} \d{2} \d{2}:\d{2}:\d{2} [+-]\d{4}""")))
  }

  test("a poll re-delivers its window; only freshPerPoll items per feed are new") {
    val keys = (c: Int) => Gen.poll(5, 50, c).map(_._2).mkString
    val titles = (c: Int) => """<title>([^<]*s\d+-\d+)</title>""".r
      .findAllMatchIn(keys(c)).map(_.group(1)).toSet
    val (p0, p1) = (titles(0), titles(1))
    assert(p1.size == Gen.sources * Gen.window)
    assert((p1 -- p0).size == Gen.sources * Gen.freshPerPoll)
    assert(Gen.expectedKeys(5, 50, 2).size == Gen.sources * (50 + 2 * Gen.freshPerPoll))
  }

  test("base documents have the sf0.1 shape: 10 to 100 words of a 31-word vocabulary") {
    val c = Gen.corpus(11, 400, 20)
    val base = c.docs.filter(_._1 < 400).map(_._2.split(' '))
    assert(base.forall(ws => ws.length >= 10 && ws.length <= 100))
    assert(base.flatten.toSet == Gen.corpusVocab.toSet && Gen.corpusVocab.size == 31)
    assert(c.exactPairs.size == 20 && c.nearPairs.size == 20)
  }
}
