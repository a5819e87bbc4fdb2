package perfbench

import scala.util.Random

/** Seeded document corpus for `CorpusPipeline.curate`, with every stage's
  * outcome planted by count.
  *
  * Ordinary documents are `words` tokens drawn from a vocabulary large
  * enough that two of them share (almost) no word 3-shingle, so their
  * Jaccard similarity is ≈ 0 — far below the 0.3 ceiling the workload
  * promises for unrelated pairs. A near-duplicate replaces only the last
  * token of its base document, which changes exactly one of its
  * `words - 2` shingles: Jaccard (words - 3) / (words - 1) ≥ 0.95 for
  * words ≥ 41, so MinHash LSH finds every planted pair with overwhelming
  * probability and the threshold keeps it.
  */
object CorpusGen {

  final case class Doc(docId: Long, text: String, lang: String,
                       source: String, nChars: Long)

  /** Stage counts `CorpusPipeline.CorpusStats` must report. */
  final case class Planted(input: Long, afterQuality: Long, afterExact: Long,
                           afterNear: Long, train: Long, eval: Long)

  /** `MinJaccard` passed to curate; planted near-duplicates sit above it. */
  val MinJaccard = 0.8
  val Langs: Seq[String] = Seq("en", "vi")

  /** Corpus of `base` ordinary documents plus the planted extras:
    *  - `rejects` gate rejects (a third each: wrong language, too short,
    *    too much punctuation);
    *  - `exactDups` byte-identical copies of ordinary documents;
    *  - `clusters` ordinary documents that each get `clusterSize - 1`
    *    near-duplicate extras. */
  def corpus(seed: Long, base: Int, words: Int, rejects: Int, exactDups: Int,
             clusters: Int, clusterSize: Int): (IndexedSeq[Doc], Planted) = {
    require(words >= 41, "near-duplicates need >= 41 words for Jaccard >= 0.95")
    require(exactDups + clusters <= base)
    val r = new Random(seed)
    val vocab = (0 until 20000).map(i => word(i))
    def text(n: Int): IndexedSeq[String] = {
      val toks = IndexedSeq.fill(n)(vocab(r.nextInt(vocab.size)))
      // light punctuation, far under the gate's 0.2 ratio
      toks.zipWithIndex.map { case (t, i) => if (i % 17 == 16) t + "." else t }
    }
    def doc(id: Long, toks: IndexedSeq[String], lang: String): Doc = {
      val s = toks.mkString(" ")
      Doc(id, s, lang, "bench", s.length.toLong)
    }
    // ids: ordinary documents first, so every duplicate and near-duplicate
    // has a larger id than the document it copies (curate keeps the min)
    val ordinary = (0 until base).map(i =>
      doc(i.toLong, text(words), Langs(i % Langs.size)))
    var next = base.toLong
    def nextId(): Long = { next += 1; next - 1 }
    val picks = r.shuffle(ordinary.indices.toVector)
    val (clusterBases, dupSources) =
      (picks.take(clusters), picks.slice(clusters, clusters + exactDups))
    val exact = dupSources.map(i => ordinary(i).copy(docId = nextId()))
    val near = clusterBases.flatMap { i =>
      val toks = ordinary(i).text.split(' ').toIndexedSeq
      (1 until clusterSize).map(j =>
        doc(nextId(), toks.init :+ s"variant$j", ordinary(i).lang))
    }
    val bad = (0 until rejects).map { j =>
      j % 3 match {
        case 0 => doc(nextId(), text(words), "xx")
        case 1 => doc(nextId(), text(5), "en")
        case _ => doc(nextId(), text(words).map(_ + "!?;"), "en")
      }
    }
    val all = r.shuffle(ordinary ++ exact ++ near ++ bad)
    val kept = ordinary.map(_.docId)
    val train = kept.count(id => isTrain(id))
    (all, Planted(all.size, all.size - rejects, all.size - rejects - exactDups,
      base, train, base - train))
  }

  /** Mirror of `graft.operators.Splits.hashSplit` at its default
    * threshold: train iff the first byte of md5(doc_id) is below 0xcc. */
  def isTrain(id: Long): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    (d(0) & 0xff) < 0xcc
  }

  /** Pronounceable, distinct token for vocabulary index `i`. */
  private def word(i: Int): String = {
    val syll = Seq("ba", "ke", "mi", "lo", "nu", "ra", "si", "to", "ve", "zu",
      "da", "fe", "gi", "ho", "ju", "pa")
    var n = i; val sb = new StringBuilder
    do { sb.append(syll(n % syll.size)); n /= syll.size } while (n > 0)
    sb.toString
  }
}
