package layerbench

import scala.collection.mutable

/** One generated document: its text, the PII it was planted with (if
  * any) and that text with the PII replaced by its redaction token. */
final case class Doc(id: Long, text: String, source: String, pii: Option[Pii]) {
  def nChars: Long = text.length.toLong
  def cleanText: String = pii.fold(text)(p => text.stripSuffix(p.raw) + p.token)
}

/** A planted PII string of one `TextOps.PiiPatterns` category. */
final case class Pii(category: String, raw: String) {
  def token: String = category match {
    case "email" => "<EMAIL>"
    case "ipv4" => "<IP>"
    case "phone" => "<PHONE>"
  }
}

/** Plain driver-side renderings of the curation chain's operator
  * contracts, computed from the generated documents alone. Whitespace
  * tokens are `split(' ')` of single-space text with no trailing space,
  * which Spark's `split` and Java's agree on. */
object CurationReference {
  /** The modulus and seeds the MinHash contract is defined with
    * (`graft.functions.TextHash`). */
  val P = 1000000007L
  def seeds: Seq[(Long, Long)] = graft.functions.TextHash.Seeds

  def tokens(text: String): Array[String] = text.split(' ')

  /** Polynomial rolling hash over UTF-16 code units, mod P. */
  def rollingHash(s: String): Long = {
    var h = 0L; var i = 0
    while (i < s.length) { h = (h * 31 + s.charAt(i)) % P; i += 1 }
    h
  }

  /** Distinct 3-token shingles; the whole text below 3 tokens. */
  def shingles(text: String): Set[String] = {
    val t = tokens(text)
    if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet else Set(text)
  }

  /** Ids `DedupOps.dropNearDuplicates(keepBestBy = n_chars)` keeps:
    * candidate pairs share every MinHash component of a band, pairs
    * whose exact shingle Jaccard reaches `minJaccard` are linked, and of
    * each linked cluster only the member with the most characters
    * survives (ties: the smallest id). */
  def dropNearDuplicates(docs: Seq[Doc], bands: Int, rowsPerBand: Int,
                         minJaccard: Double): Set[Long] = {
    val sh = docs.map(d => shingles(d.text))
    val sigs = sh.map { s =>
      val hs = s.toSeq.map(rollingHash)
      seeds.take(bands * rowsPerBand).map { case (a, b) => hs.map(h => (a * h + b) % P).min }
    }
    val candidates = mutable.Set.empty[(Int, Int)]
    (0 until bands).foreach { b =>
      docs.indices.groupBy(i => sigs(i).slice(b * rowsPerBand, (b + 1) * rowsPerBand))
        .values.foreach(g => for (x <- g; y <- g if docs(x).id < docs(y).id) candidates += ((x, y)))
    }
    val parent = mutable.Map.empty[Int, Int]
    def find(x: Int): Int = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    candidates.foreach { case (x, y) =>
      val common = sh(x).count(sh(y).contains)
      if (common.toDouble / (sh(x).size + sh(y).size - common) >= minJaccard) {
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
    }
    val dropped = parent.keys.groupBy(find).values.flatMap { members =>
      val keep = members.maxBy(i => (docs(i).nChars, -docs(i).id))
      members.filter(_ != keep).map(i => docs(i).id)
    }.toSet
    docs.map(_.id).toSet -- dropped
  }

  /** `withRepetitionStats` filtered at dup_bigram_frac <= maxDup and
    * top_bigram_frac <= maxTop, with the operator's divisions. */
  def passesRepetition(text: String, maxDup: Double, maxTop: Double): Boolean = {
    val t = tokens(text)
    val bigrams = if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty
    val dup = if (bigrams.isEmpty) 0.0
      else (bigrams.size - bigrams.distinct.size).toDouble / bigrams.size.toDouble
    val top = if (bigrams.isEmpty) 0L else bigrams.groupBy(identity).values.map(_.size).max.toLong
    val topFrac = if (t.isEmpty) 0.0 else top.toDouble * 2.0 / t.length.toDouble
    dup <= maxDup && topFrac <= maxTop
  }

  /** `withC4Flags` filtered on !f_min_words && !f_long_word && !f_word_len. */
  def passesC4(text: String, minWords: Int): Boolean = {
    val t = tokens(text)
    val n = t.length.toLong
    val len = t.map(_.length.toLong).sum
    n >= minWords && !t.exists(_.length > 20) && !(len < 3 * n || len > 10 * n)
  }

  /** `DedupOps.dedupSpans`: (id, n_spans, n_kept, kept_text) per doc,
    * where each distinct `spanTokens`-token span is kept only at its
    * first (id, span index). */
  def dedupSpans(docs: Seq[(Long, String)], spanTokens: Int): Seq[(Long, Long, Long, String)] = {
    val seen = mutable.Set.empty[String]
    docs.sortBy(_._1).map { case (id, text) =>
      val spans = tokens(text).grouped(spanTokens).map(_.mkString(" ")).toSeq
      val kept = spans.filter(seen.add)
      (id, spans.size.toLong, kept.size.toLong, kept.mkString(" "))
    }
  }

  /** `DedupOps.prefixJaccardPairs`: every pair (a < b) whose distinct
    * token sets reach Jaccard tNum/tDen, with (a, b, |a∩b|, |a∪b|). */
  def jaccardPairs(sets: IndexedSeq[Set[String]], tNum: Int, tDen: Int): Set[(Long, Long, Long, Long)] = {
    val ids = mutable.Map.empty[String, Int]
    val sorted = sets.map(s => s.toArray.map(t => ids.getOrElseUpdate(t, ids.size)).sorted)
    val out = Set.newBuilder[(Long, Long, Long, Long)]
    for (a <- sorted.indices; b <- a + 1 until sorted.size) {
      val (x, y) = (sorted(a), sorted(b))
      if (tDen.toLong * math.min(x.length, y.length) >= tNum.toLong * math.max(x.length, y.length)) {
        var i, j, inter = 0
        while (i < x.length && j < y.length) {
          if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
          else if (x(i) < y(j)) i += 1 else j += 1
        }
        val union = x.length + y.length - inter
        if (tDen.toLong * inter >= tNum.toLong * union) out += ((a.toLong, b.toLong, inter.toLong, union.toLong))
      }
    }
    out.result()
  }
}
