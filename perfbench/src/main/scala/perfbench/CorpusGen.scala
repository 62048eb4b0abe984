package perfbench

import graft.text.TextAnalysis

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Corpus parameters of `curation_batch`; printed with every result. The
  * values are assumptions chosen to exercise every stage of the chain,
  * not measured from a real corpus. */
final case class CorpusParams(
    baseDocs: Int = 800,
    vocab: Int = 20000,
    wordZipf: Double = 1.1,
    // document length in words: (share, min, max)
    lengthMix: Seq[(Double, Int, Int)] = Seq((0.6, 40, 120), (0.3, 120, 400), (0.1, 400, 1200)),
    clusterShare: Double = 0.15, // base docs that get near-duplicates
    // extra members per cluster: (extra copies, share)
    clusterExtra: Seq[(Int, Double)] = Seq(1 -> 0.5, 2 -> 0.25, 3 -> 0.15, 5 -> 0.10),
    exactCopyShare: Double = 0.3, // extra members that are byte-identical
    editRate: Double = 0.03, // word substitutions in a near variant
    lowQualityShare: Double = 0.08) { // base docs that fail the quality filter
  def describe: Seq[(String, Any)] = Seq(
    "base_docs" -> baseDocs, "vocab" -> vocab, "word_zipf_s" -> wordZipf,
    "length_mix_words" -> lengthMix.map { case (s, lo, hi) =>
      Seq("share" -> s, "min" -> lo, "max" -> hi) },
    "near_dup_cluster_share" -> clusterShare,
    "cluster_extra_members" -> clusterExtra.map { case (k, s) => Seq("extra" -> k, "share" -> s) },
    "exact_copy_share" -> exactCopyShare, "edit_rate" -> editRate,
    "low_quality_share" -> lowQualityShare)
}

/** A generated corpus and the truth the curation chain must reproduce. */
final case class Corpus(ids: Array[Long], texts: Array[String],
                        survivors: Set[Long], survivorTokens: Long,
                        clusters: Int, plantedDuplicates: Int,
                        spareDuplicate: Long, digest: String)

/** Seeded corpus generator. Words are Zipf-distributed over a vocabulary
  * whose head is the English stopword list (so ordinary documents pass
  * the stopword rule); low-quality documents are punctuation-heavy.
  * Near-duplicate clusters are a base document plus copies and variants
  * with a few words substituted: every member shares well over half its
  * 3-word shingles with the base, unrelated documents share almost none.
  * A cluster keeps its lowest id; it survives iff that document passes
  * the quality filter.
  */
object CorpusGen {
  private def word(i: Int, stop: IndexedSeq[String]): String =
    if (i < stop.size) stop(i)
    else {
      val sb = new StringBuilder
      var x = i
      while (sb.length < 3 || x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
      sb.toString
    }

  def generate(seed: Long, p: CorpusParams = CorpusParams()): Corpus = {
    val rnd = new SplittableRandom(seed)
    val stop = TextAnalysis.englishStopwords.toIndexedSeq
    val vocab = Array.tabulate(p.vocab)(word(_, stop))
    val cdf = Zipf.cdf(p.vocab, p.wordZipf)
    def pick[T](mix: Seq[(Double, T)]): T = {
      val u = rnd.nextDouble(); var acc = 0.0
      mix.find { case (s, _) => acc += s; u < acc }.getOrElse(mix.last)._2
    }
    def render(words: Array[Int], lowQuality: Boolean): String =
      words.map(w => if (lowQuality) vocab(w) + "!!!" else vocab(w)).mkString(" ")

    // (word ids, lowQuality, cluster)
    val docs = ArrayBuffer.empty[(Array[Int], Boolean, Int)]
    var clusters = 0
    var planted = 0
    for (c <- 0 until p.baseDocs) {
      val (lo, hi) = pick(p.lengthMix.map { case (s, a, b) => (s, (a, b)) })
      val base = Array.fill(lo + rnd.nextInt(hi - lo + 1))(Zipf.draw(cdf, rnd))
      val lowQ = rnd.nextDouble() < p.lowQualityShare
      docs += ((base, lowQ, c))
      if (rnd.nextDouble() < p.clusterShare) {
        clusters += 1
        val extra = pick(p.clusterExtra.map(_.swap))
        for (_ <- 0 until extra) {
          planted += 1
          if (rnd.nextDouble() < p.exactCopyShare) docs += ((base, lowQ, c))
          else {
            val v = base.clone()
            val edits = math.max(1, (v.length * p.editRate).toInt)
            for (_ <- 0 until edits) v(rnd.nextInt(v.length)) = Zipf.draw(cdf, rnd)
            docs += ((v, lowQ, c))
          }
        }
      }
    }
    // ids are a seeded permutation, so the kept member of a cluster is
    // not always the base document
    val n = docs.size
    val perm = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val ids = perm.map(_.toLong)
    val texts = docs.map { case (w, q, _) => render(w, q) }.toArray
    val byCluster = docs.indices.groupBy(i => docs(i)._3)
    val keepers = byCluster.values.map(members => members.minBy(ids(_)))
    val surviving = keepers.filterNot(i => docs(i)._2)
    val survivors = surviving.map(ids(_)).toSet
    val tokens = surviving.map(i => docs(i)._1.length.toLong).sum
    // a planted duplicate whose cluster survives: the anti-vacuity fault
    // injects it back past dedup
    val spare = byCluster.values.filter(_.size > 1)
      .find(ms => !docs(ms.head)._2)
      .map(ms => ids(ms.filterNot(_ == ms.minBy(ids(_))).head)).getOrElse(-1L)
    val digest = new Digest.Running
    ids.indices.foreach { i => digest.add(ids(i).toString); digest.add(texts(i)) }
    Corpus(ids, texts, survivors, tokens, clusters, planted, spare, digest.hex)
  }
}
