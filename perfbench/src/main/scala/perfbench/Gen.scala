package perfbench

import scala.util.Random

/** Seeded input generators. Every input the benchmark hands to the
  * library is derived from the run's seed through these functions, so
  * the same seed reproduces the same vectors, tags, queries, write mix
  * and corpus, and a different seed gives different ones. Each stream
  * draws from its own `Random(seed, salt)` so adding a stream never
  * shifts another. */
object Gen {

  def rng(seed: Long, salt: String): Random =
    new Random(seed * 1000003L ^ salt.hashCode.toLong * 0x9E3779B97F4A7C15L)

  // ---- vectors ----

  /** Gaussian-mixture centres: `k` unit vectors of dimension `d`. */
  def centres(seed: Long, k: Int, d: Int): Array[Array[Float]] = {
    val r = rng(seed, "centres")
    Array.fill(k)(normalize(Array.fill(d)(r.nextGaussian().toFloat)))
  }

  /** `n` clustered vectors: a uniformly drawn centre plus
    * isotropic noise of scale `sigma` per coordinate. */
  def mixture(r: Random, cs: Array[Array[Float]], n: Int, sigma: Double): Array[Array[Float]] =
    labelled(r, cs, n, sigma).map(_._2)

  /** [[mixture]], with the index of each vector's centre. */
  def labelled(r: Random, cs: Array[Array[Float]], n: Int, sigma: Double): Array[(Int, Array[Float])] = {
    val d = cs.head.length
    Array.fill(n) {
      val k = r.nextInt(cs.length)
      val c = cs(k)
      (k, Array.tabulate(d)(i => (c(i) + sigma * r.nextGaussian()).toFloat))
    }
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  // ---- tag sets ----

  val Langs: Seq[String] = Seq("lang:en", "lang:de", "lang:fr", "lang:es")

  /** `count` distinct, sorted tag sets: one language tag plus one to
    * three topic tags out of `topics`. Index 0 is the most popular set
    * under [[Zipf]]. */
  def tagSets(seed: Long, count: Int, topics: Int): IndexedSeq[Seq[String]] = {
    val r = rng(seed, "tagsets")
    val seen = scala.collection.mutable.LinkedHashSet[Seq[String]]()
    while (seen.size < count) {
      val nt = 1 + r.nextInt(3)
      val ts = Seq.fill(nt)(f"t${r.nextInt(topics)}%02d").distinct
      seen += (Langs(r.nextInt(Langs.size)) +: ts).sorted
    }
    seen.toIndexedSeq
  }

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Query tags: one or two tags of a Zipf-drawn tag set, so every
    * query matches at least the set it was drawn from. */
  def queryTags(r: Random, sets: IndexedSeq[Seq[String]], z: Zipf): Seq[String] = {
    val set = sets(z.draw(r))
    r.shuffle(set).take(1 + r.nextInt(math.min(2, set.size))).sorted
  }

  // ---- store rows ----

  final case class VRow(id: Long, vector: Array[Float], content: String, tags: Seq[String]) {
    /** Raw user bytes: 4 bytes per float, content and tags as UTF-8. */
    def userBytes: Long =
      4L * vector.length + content.getBytes("UTF-8").length +
        tags.map(_.getBytes("UTF-8").length.toLong).sum
  }

  def rows(r: Random, firstId: Long, vs: Array[Array[Float]],
           tagOf: Int => Seq[String]): IndexedSeq[VRow] =
    vs.indices.map(i => VRow(firstId + i, vs(i), s"doc-${firstId + i}", tagOf(i)))

  // ---- corpus ----

  final case class Doc(id: Long, text: String)

  /** A curation corpus with planted duplicates.
    *  - `exactGroups`: sets of doc ids whose texts are identical up to
    *    case (the dedup key is md5(lower(text))).
    *  - `nearPairs`: (original, edited) id pairs whose texts differ by a
    *    few token edits, well above the 0.7 shingle-Jaccard threshold. */
  final case class Corpus(docs: IndexedSeq[Doc], exactGroups: Seq[Set[Long]],
                          nearPairs: Seq[(Long, Long)])

  private val markers = Map(
    "en" -> Seq("the", "a", "of", "and", "in", "to"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "y", "una"))

  def corpus(seed: Long, nBase: Int, nExactGroups: Int, nNear: Int): Corpus = {
    val r = rng(seed, "corpus")
    val vocab = Array.tabulate(4000)(i => word(r, i))
    val zw = new Zipf(vocab.length, 1.05)
    val langs = Seq("en", "en", "en", "de", "fr", "es")
    def text(len: Int): Seq[String] = {
      val lang = langs(r.nextInt(langs.size))
      val ms = markers(lang)
      Seq.fill(len)(if (r.nextDouble() < 0.22) ms(r.nextInt(ms.size)) else vocab(zw.draw(r)))
    }
    var next = 0L
    def fresh(): Long = { val i = next; next += 1; i }
    val base = IndexedSeq.fill(nBase) {
      val len = 20 + r.nextInt(r.nextInt(3) match { case 0 => 40; case 1 => 120; case _ => 300 })
      Doc(fresh(), text(len).mkString(" "))
    }
    val docs = scala.collection.mutable.ArrayBuffer[Doc]() ++= base
    def longer(n: Int) = base.indices.filter(i => base(i).text.count(_ == ' ') >= n).toList
    val nearSrc = r.shuffle(longer(100)).take(nNear)
    val exactSrc = r.shuffle(longer(40).filterNot(nearSrc.toSet)).take(nExactGroups)
    // exact duplicates: copies of distinct base docs, some upper-cased
    val exactGroups = exactSrc.map { i =>
      val src = base(i)
      val copies = Seq.fill(1 + r.nextInt(3)) {
        val t = if (r.nextBoolean()) src.text.toUpperCase else src.text
        val d = Doc(fresh(), t); docs += d; d.id
      }
      (copies :+ src.id).toSet
    }
    // near duplicates of docs of 100+ tokens: one or two single-token
    // substitutions keep the bigram Jaccard above 0.9
    val nearPairs = nearSrc.map { i =>
      val src = base(i)
      val toks = src.text.split(' ')
      for (_ <- 0 until 1 + r.nextInt(2)) toks(r.nextInt(toks.length)) = f"zz${r.nextInt(100000)}%05d"
      val d = Doc(fresh(), toks.mkString(" ")); docs += d
      (src.id, d.id)
    }
    Corpus(r.shuffle(docs.toIndexedSeq), exactGroups, nearPairs)
  }

  private def word(r: Random, i: Int): String = {
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val syl = 1 + (i % 3) + r.nextInt(2)
    (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
  }
}
