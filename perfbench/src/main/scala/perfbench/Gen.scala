package perfbench

import java.util.SplittableRandom
import graft.connectors.vectorstore.VSRecord

/** Seeded input generators: the same seed always gives the same inputs. */
object Gen {

  val Categories: IndexedSeq[String] = IndexedSeq("news", "code", "legal", "medical",
    "finance", "sports", "science", "travel")
  val Sources: IndexedSeq[String] = IndexedSeq("crawl", "books", "wiki", "forum")

  /** `n` records with `dim`-d gaussian vectors and 4 metadata keys. */
  def vectors(n: Int, dim: Int, seed: Long): Array[VSRecord] = {
    val rnd = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val v = new Array[Float](dim)
      var j = 0
      while (j < dim) { v(j) = (rnd.nextGaussian() * 0.5).toFloat; j += 1 }
      VSRecord(i.toString, v, Map(
        "category" -> Categories(rnd.nextInt(Categories.length)),
        "source" -> Sources(rnd.nextInt(Sources.length)),
        "rank" -> rnd.nextInt(1000).toString,
        "title" -> s"item-$i-${rnd.nextInt(100000)}"))
    }
  }

  final case class Doc(id: Long, text: String, source: String)

  /** A generated corpus and what was planted in it. `exactGroups` and
    * `nearGroups` list member ids (the smallest id is the one a dedup must
    * keep); `junk` documents score below the quality gate; `contaminated`
    * documents share an 8-gram with the benchmark eval set. */
  final case class Corpus(docs: IndexedSeq[Doc], exactGroups: Seq[Seq[Long]],
                          nearGroups: Seq[Seq[Long]],
                          spam: Seq[Long], junk: Seq[Long], contaminated: Seq[Long]) {
    def exactCopies: Set[Long] = exactGroups.flatMap(g => g.filterNot(_ == g.min)).toSet
    /** The copies a dedup keyed on the canonical (string) id removes: it
      * keeps the lexicographically smallest id of each group. */
    def exactCopiesByStringId: Set[Long] =
      exactGroups.flatMap(g => g.filterNot(_ == g.minBy(_.toString))).toSet
    def nearCopies: Set[Long] = nearGroups.flatMap(g => g.filterNot(_ == g.min)).toSet
  }

  private val Stop = IndexedSeq("the", "a", "and", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that")
  private val Syllables = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "pe", "da", "gu", "ho", "ze", "fi", "ba", "wy", "qu", "xe", "jo", "ra")

  /** 3-word shingle Jaccard, the similarity the near-dedup verifies. */
  def shingleJaccard(a: String, b: String): Double = {
    def sh(t: String) = t.toLowerCase.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** `n` documents of `minWords`..`maxWords` words (uniform), with planted
    * exact duplicates, near-duplicates (Jaccard >= 0.85 by construction),
    * repetitive spam, low-quality junk and eval-contaminated members. */
  def corpus(n: Int, minWords: Int, maxWords: Int, seed: Long,
             evalTexts: Seq[String]): Corpus = {
    val rnd = new SplittableRandom(seed)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 5000)
        seen += (0 until 2 + rnd.nextInt(3)).map(_ => Syllables(rnd.nextInt(Syllables.length))).mkString
      seen.toIndexedSeq
    }
    def word(): String =
      if (rnd.nextInt(4) == 0) Stop(rnd.nextInt(Stop.length))
      else vocab(rnd.nextInt(vocab.length))
    def text(words: Int): String = Array.fill(words)(word()).mkString(" ")
    def length(): Int = minWords + rnd.nextInt(maxWords - minWords + 1)

    val nExact = n / 50 // groups of 2..3
    val nNear = n / 50
    val nSpam = n / 100
    val nJunk = n / 100
    val nCont = math.max(3, n / 200)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def add(t: String): Long = {
      val id = docs.length.toLong + 1
      docs += Doc(id, t, Sources(rnd.nextInt(Sources.length))); id
    }
    // plain documents first, then planted members, then shuffled ids
    val plainCount = n - nExact * 3 - nNear * 2 - nSpam - nJunk - nCont
    (0 until plainCount).foreach(_ => add(text(length())))
    val exact = (0 until nExact).map { _ =>
      val t = text(length())
      (0 until 2 + rnd.nextInt(2)).map(_ => add(t))
    }
    val nearPairs = (0 until nNear).map { _ =>
      val base = text(math.max(80, length()))
      val words = base.split(' ')
      // one or two substituted words: >= 0.85 shingle Jaccard at >= 80 words
      (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        val i = rnd.nextInt(words.length)
        words(i) = vocab(rnd.nextInt(vocab.length)) + "x"
      }
      val other = words.mkString(" ")
      require(shingleJaccard(base, other) >= 0.85, "planted near-duplicate too far apart")
      Seq(add(base), add(other))
    }
    val spam = (0 until nSpam).map { _ =>
      val phrase = Array.fill(3 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
      add(Iterator.continually(phrase).flatten.take(length()).mkString(" "))
    }
    val junk = (0 until nJunk).map { _ =>
      add(Array.fill(3 + rnd.nextInt(6))(Seq("$$", "##", "!!", "%%", "&&")(rnd.nextInt(5))
        + rnd.nextInt(100)).mkString(" "))
    }
    val cont = (0 until nCont).map { i =>
      val ev = evalTexts(i % evalTexts.length).split(' ')
      val at = rnd.nextInt(ev.length - 7)
      val w = text(length()).split(' ')
      val cut = rnd.nextInt(w.length)
      add((w.take(cut) ++ ev.slice(at, at + 8) ++ w.drop(cut)).mkString(" "))
    }
    // shuffle ids so planted members are spread over the id space (and
    // over partitions); a planted group's original keeps the smallest id
    val perm = (1L to docs.length.toLong).toArray
    var k = perm.length - 1
    while (k > 0) { val j = rnd.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t; k -= 1 }
    def id(old: Long): Long = perm((old - 1).toInt)
    Corpus(
      docs.map(d => d.copy(id = id(d.id))).sortBy(_.id).toIndexedSeq,
      exact.map(_.map(id)), nearPairs.map(_.map(id)),
      spam.map(id), junk.map(id), cont.map(id))
  }
}
