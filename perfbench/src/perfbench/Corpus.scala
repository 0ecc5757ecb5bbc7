package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One generated document in the engine's canonical corpus schema. */
final case class Doc(repo: String, path: String, commit: String, lang: String, content: String)

/** The corpus properties the engine's behaviour depends on.
  *
  * @param docs        total documents
  * @param meanTokens  mean tokens per document (each doc draws ±25%)
  * @param families    ordinary near-dup families (base + familySize−1 members)
  * @param familySize  docs per ordinary family
  * @param hotFamilies families of `hotSize` near-identical members, sized just
  *                    above the engine's maxBandSize (500) so their band groups
  *                    take the salted pair path
  * @param hotSize     docs per hot family
  * @param exactShare  share of family members that are byte-identical copies
  * @param containShare share of family members that embed a ≥50-token window
  *                    of the base in fresh text (suffix-pass duplicates)
  * @param batches     equal micro-batch slices the corpus is cut into
  */
final case class Shape(
    docs: Int,
    meanTokens: Int,
    families: Int,
    familySize: Int,
    hotFamilies: Int,
    hotSize: Int,
    exactShare: Double,
    containShare: Double,
    batches: Int) {
  require(families * familySize + hotFamilies * hotSize <= docs, "families exceed docs")
  require(docs % batches == 0, "batches must tile the corpus")
  def batchSize: Int = docs / batches
}

/** A generated corpus plus the properties it actually has. */
final case class Corpus(shape: Shape, docs: IndexedSeq[Doc], dupDocs: Int, exactDocs: Int,
    containDocs: Int) {
  lazy val tokens: Long = docs.iterator.map(d => d.content.count(_ == ' ') + 1L).sum
  lazy val contentBytes: Long = docs.iterator.map(_.content.getBytes(UTF_8).length.toLong).sum

  /** SHA-256 over every row in order — equal iff the corpora are byte-identical. */
  lazy val digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { d =>
      Seq(d.repo, d.path, d.commit, d.lang, d.content).foreach { s =>
        md.update(s.getBytes(UTF_8)); md.update(0.toByte)
      }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def batch(i: Int): IndexedSeq[Doc] =
    docs.slice(i * shape.batchSize, (i + 1) * shape.batchSize)

  /** The stated properties, as reported next to every result. */
  def stats: Seq[(String, Any)] = Seq(
    "docs" -> docs.size,
    "mean_tokens_per_doc" -> tokens.toDouble / docs.size,
    "content_bytes" -> contentBytes,
    "family_size" -> shape.familySize,
    "families" -> shape.families,
    "hot_families" -> shape.hotFamilies,
    "hot_family_size" -> shape.hotSize,
    "dup_share" -> dupDocs.toDouble / docs.size,
    "exact_dup_share" -> exactDocs.toDouble / docs.size,
    "containment_share" -> containDocs.toDouble / docs.size,
    "batch_size" -> shape.batchSize,
    "batches" -> shape.batches,
    "corpus_sha256" -> digest)
}

/** Seeded corpus generator: the same (shape, seed) always yields the same
  * rows in the same order. Text is drawn from a Zipf(1) vocabulary of
  * letter-only words, so unrelated docs share common words but essentially
  * never a 5-token shingle or a 50-token run; duplicates come only from the
  * planted families.
  */
object Corpus {
  private val Vocab = 30000
  private val MinRun = 50 // the engine's suffixMinLen

  private lazy val zipfCdf: Array[Double] = {
    val c = new Array[Double](Vocab)
    var acc = 0.0
    var i = 0
    while (i < Vocab) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
    c
  }

  private def word(i: Int): String = {
    // bijective base-26 over letters, offset so every word has ≥ 2 letters
    val sb = new StringBuilder
    var n = i + 26
    while (n > 0) { n -= 1; sb.append(('a' + n % 26).toChar); n /= 26 }
    sb.reverse.toString
  }

  private lazy val words: Array[String] = Array.tabulate(Vocab)(word)

  private def draw(rng: SplittableRandom): String = {
    val u = rng.nextDouble() * zipfCdf(Vocab - 1)
    var lo = 0
    var hi = Vocab - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (zipfCdf(m) < u) lo = m + 1 else hi = m }
    words(lo)
  }

  private def text(rng: SplittableRandom, n: Int): Array[String] = Array.fill(n)(draw(rng))

  private def length(rng: SplittableRandom, mean: Int): Int =
    math.max(8, mean - mean / 4 + rng.nextInt(mean / 2 + 1))

  /** A near-duplicate of `base`: one token edit per ~200 tokens (replace,
    * insert or delete) — Jaccard over 5-shingles stays well above 0.7.
    */
  private def nearDup(rng: SplittableRandom, base: Array[String]): Array[String] = {
    val b = base.toBuffer
    val edits = 1 + base.length / 200
    (0 until edits).foreach { _ =>
      val at = rng.nextInt(b.size)
      rng.nextInt(3) match {
        case 0 => b(at) = draw(rng)
        case 1 => b.insert(at, draw(rng))
        case _ => if (b.size > 8) b.remove(at) else b(at) = draw(rng)
      }
    }
    b.toArray
  }

  /** Fresh text around a ≥ MinRun+10-token window of `base`: low Jaccard,
    * but a shared run the suffix pass must find.
    */
  private def containing(rng: SplittableRandom, base: Array[String]): Array[String] = {
    val w = math.min(base.length, math.max(MinRun + 10, base.length / 3))
    val from = rng.nextInt(base.length - w + 1)
    val pre = text(rng, rng.nextInt(base.length / 2 + 1))
    val post = text(rng, rng.nextInt(base.length / 2 + 1))
    pre ++ base.slice(from, from + w) ++ post
  }

  /** @param name the workload name; it salts the seed so workloads differ */
  def generate(name: String, shape: Shape, seed: Long): Corpus = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + name.hashCode)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[String])]
    var dup, exact, contain = 0
    def family(fam: Int, size: Int, hot: Boolean): Unit = {
      val base = text(rng, length(rng, shape.meanTokens))
      out += fam -> base
      (1 until size).foreach { m =>
        val r = rng.nextDouble()
        val doc =
          if (hot) base :+ words(m % Vocab) // near-identical: one appended token
          else if (r < shape.exactShare) { exact += 1; base }
          else if (r < shape.exactShare + shape.containShare && base.length >= MinRun + 10) {
            contain += 1; containing(rng, base)
          } else nearDup(rng, base)
        dup += 1
        out += fam -> doc
      }
    }
    (0 until shape.hotFamilies).foreach(f => family(f, shape.hotSize, hot = true))
    (0 until shape.families).foreach(f => family(shape.hotFamilies + f, shape.familySize, hot = false))
    var single = shape.hotFamilies + shape.families
    while (out.size < shape.docs) {
      out += single -> text(rng, length(rng, shape.meanTokens)); single += 1
    }
    // Fisher–Yates: families spread across partitions and micro-batches
    val order = out.toArray
    var i = order.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val langs = Array("en", "de", "fr", "es")
    val docs = order.iterator.zipWithIndex.map { case ((fam, toks), pos) =>
      Doc(s"repo${fam % 211}", s"doc/$pos", "v0", langs(fam & 3), toks.mkString(" "))
    }.toIndexedSeq
    Corpus(shape, docs, dup, exact, contain)
  }
}
