package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators plant exactly what they report, at a tiny size. */
class GeneratorSpec extends AnyFunSuite {

  private val SourceId = """"(?:project_oid|_id|id)":"([^"]+)"""".r
  private val Stamp = """"timestamp":"([^"]+)"""".r
  // the top-level name field follows the source id in every spider's shape
  // (nested objects carry "name" keys of their own)
  private val Name = """"(?:project_oid|_id|id)":"[^"]+","(?:project_name|name)":"([^"]+)"""".r
  private def all(d: BronzeGen.Day) = d.lines.values.flatten.toSeq
  private def id(l: String) = SourceId.findFirstMatchIn(l).get.group(1)

  test("history day: every planted count is in the lines") {
    val (day, live) = BronzeGen.history(7, "2025-01-31", n = 612, invalid = 4,
      duplicates = 6, outliers = 2)
    val lines = all(day)
    assert(day.planted == BronzeGen.Planted(622, 4, 6, 2, 612))
    assert(lines.size == 622)
    assert(lines.count(l => Name.findFirstIn(l).isEmpty) == 4)
    val named = lines.filter(l => Name.findFirstIn(l).isDefined)
    val byId = named.groupBy(id)
    assert(byId.size == 612)
    // each re-send is an hour older than the record it duplicates
    val resent = byId.values.filter(_.size > 1).toSeq
    assert(resent.size == 6 && resent.forall(_.size == 2))
    resent.foreach { ls =>
      val ts = ls.map(l => Stamp.findFirstMatchIn(l).get.group(1)).sorted
      assert(java.time.Duration.between(java.time.LocalDateTime.parse(ts(0)),
        java.time.LocalDateTime.parse(ts(1))).toHours == 1)
    }
    assert(lines.count(_.contains("1.0E15")) == 2)
    assert(live.size == 610)
    assert(live.map(_.month).distinct.size == BronzeGen.HistoryMonths.size)
  }

  test("history day: every month holds each spider's share") {
    val (_, live) = BronzeGen.history(2, "2025-01-31", n = 612, 0, 0, 0)
    val share = BronzeGen.SpiderShare.toMap
    live.groupBy(_.month).values.foreach { ks =>
      assert(ks.groupBy(_.spider).map { case (s, v) => s -> v.size } == share)
    }
  }

  test("history day: the same seed gives the same lines") {
    def gen(seed: Long) = BronzeGen.history(seed, "2025-01-31", 60, 1, 1, 1)._1.lines
    assert(gen(3) == gen(3))
    assert(gen(3) != gen(4))
  }

  private def shingles(text: String): Set[String] =
    text.toLowerCase.split(' ').sliding(3).map(_.mkString(" ")).toSet
  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }

  test("corpus: planted stage counts, near-duplicate and unrelated similarity") {
    val (docs, p) = CorpusGen.corpus(11, base = 200, words = 60, rejects = 9,
      exactDups = 10, clusters = 8, clusterSize = 3)
    assert(docs.size == 200 + 9 + 10 + 16)
    assert(p == CorpusGen.Planted(235, 226, 216, 200,
      (0 until 200).count(i => CorpusGen.isTrain(i.toLong)),
      (0 until 200).count(i => !CorpusGen.isTrain(i.toLong))))
    assert(docs.map(_.docId).distinct.size == docs.size)
    val ordinary = docs.filter(_.docId < 200).sortBy(_.docId)
    val extras = docs.filter(_.docId >= 200)
    // every exact duplicate copies an ordinary document with a smaller id
    val texts = ordinary.map(d => d.text -> d.docId).toMap
    assert(extras.count(d => texts.get(d.text).exists(_ < d.docId)) == 10)
    // near-duplicates: same first words as a smaller-id ordinary document
    val near = extras.filter(d => !texts.contains(d.text) && d.lang != "xx" &&
      d.nChars >= 100 && !d.text.contains("!?;"))
    assert(near.size == 16)
    near.foreach { d =>
      val base = ordinary.find(o => o.text.split(' ').init.sameElements(d.text.split(' ').init)).get
      assert(base.docId < d.docId)
      assert(jaccard(base.text, d.text) >= 0.95)
    }
    ordinary.sliding(2).foreach { case Seq(a, b) => assert(jaccard(a.text, b.text) <= 0.3) }
  }

  test("isTrain mirrors the engine's md5 split") {
    // md5("0") = cfcd2084...: first byte 0xcf >= 0xcc → eval
    assert(!CorpusGen.isTrain(0))
    // md5("1") = c4ca4238...: 0xc4 < 0xcc → train
    assert(CorpusGen.isTrain(1))
  }
}
