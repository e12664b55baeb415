package perfbench

import scala.util.Random

/** Seeded input generation. Every generator is a pure function of the
  * seed it is given, so one `--seed` always yields the same inputs. */
object Gen {

  /** A vocabulary of distinct lowercase pseudo-words. Text built from it
    * tokenizes the same under any word splitter (single spaces, only
    * [a-z]), so references can split on spaces. */
  def vocab(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new Random(seed)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(6)
      seen += (1 to len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    seen.toIndexedSeq
  }

  def words(r: Random, v: IndexedSeq[String], lo: Int, hi: Int): IndexedSeq[String] =
    IndexedSeq.fill(lo + r.nextInt(hi - lo + 1))(v(r.nextInt(v.size)))

  /** Replace a fixed share of the words (at least one) with fresh draws. */
  def mutate(r: Random, v: IndexedSeq[String], ws: IndexedSeq[String], rate: Double): IndexedSeq[String] = {
    val edits = math.max(1, math.round(ws.size * rate).toInt)
    val at = r.shuffle(ws.indices.toList).take(edits).toSet
    ws.zipWithIndex.map { case (w, i) => if (at(i)) v(r.nextInt(v.size)) else w }
  }

  /** Digest of everything a run generates, for the run header. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    def hex: String = md.digest().map("%02x".format(_)).mkString.take(16)
  }
}
