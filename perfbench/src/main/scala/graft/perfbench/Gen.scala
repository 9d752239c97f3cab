package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generator for the three workloads. Everything here is a
  * pure function of (seed, sizes): the same seed yields the same records
  * and therefore the same canonical bytes ([[Gen.digest]]). The program
  * under test only ever sees the files written from these records. */
object Gen {

  // ---------------------------------------------------------- product pages

  /** One product card as the generator knows it: the raw strings that go
    * into the HTML and, for clean cards, the values the reference
    * cleaners must produce from them. */
  final case class Card(title: String, price: String, rating: String,
      colors: String, size: String, gender: String, dirty: Boolean) {
    /** Expected clean row (price ×16000 through the same IEEE parse the
      * cleaner's `try_cast` uses), or None for a dirty card. */
    def clean(ts: String): Option[Seq[Any]] =
      if (dirty) None
      else {
        val p = price.replaceAll("[^0-9.,]", "")
        val num = if (p.contains(",") && !p.contains(".")) p.replace(",", ".")
          else p.replace(",", "")
        val r = "\\d+(?:\\.\\d+)?".r.findFirstIn(rating).get
        Some(Seq(title, java.lang.Double.parseDouble(num) * 16000.0,
          java.lang.Double.parseDouble(r),
          "\\d+".r.findFirstIn(colors).get.toInt, size, gender, ts))
      }
  }

  val CardsPerPage = 20
  /** Share of dirty cards: the reference's products.csv loses ~13% of
    * rows to the dirty-pattern filter. */
  val DirtyPct = 13

  private val productTypes = Seq("T-shirt", "Hoodie", "Pants", "Outerwear",
    "Jacket", "Shirt", "Sweater", "Dress", "Skirt", "Shorts")
  private val sizes = Seq("S", "M", "L", "XL", "XXL")
  private val genders = Seq("Men", "Women", "Unisex")

  def cards(seed: Long, pages: Int): IndexedSeq[Card] = {
    val rng = new SplittableRandom(seed ^ 0x5eedc0deL)
    IndexedSeq.tabulate(pages * CardsPerPage) { i =>
      val title = s"${productTypes(rng.nextInt(productTypes.size))} ${i + 1}"
      val cents = 1000 + rng.nextInt(49000) // $10.00 .. $499.99
      val whole = cents / 100
      val frac = f"${cents % 100}%02d"
      // all three price spellings the cleaner handles
      val price = rng.nextInt(3) match {
        case 0 => s"$$$whole.$frac"
        case 1 => s"$whole,$frac"
        case _ => s"$$${1 + rng.nextInt(4)},${f"${rng.nextInt(1000)}%03d"}.$frac"
      }
      val rating = s"Rating: ⭐ ${1 + rng.nextInt(4)}.${rng.nextInt(10)} / 5"
      val colors = s"${1 + rng.nextInt(8)} Colors"
      val size = sizes(rng.nextInt(sizes.size))
      val gender = genders(rng.nextInt(genders.size))
      if (rng.nextInt(100) < DirtyPct) rng.nextInt(3) match {
        case 0 => Card("Unknown Product", price, rating, colors, size, gender, dirty = true)
        case 1 => Card(title, "Price Unavailable", rating, colors, size, gender, dirty = true)
        case _ => Card(title, price, "Invalid Rating / 5", colors, size, gender, dirty = true)
      }
      else Card(title, price, rating, colors, size, gender, dirty = false)
    }
  }

  private val pStyle = """<p style="font-size: 14px; color: #777;">"""

  def cardHtml(c: Card, n: Int): String =
    s"""<div class="collection-card"><div style="position: relative;">""" +
      s"""<img src="https://picsum.photos/280/350?random=$n" class="collection-image" alt="${c.title}"></div>""" +
      s"""<div class="product-details"><h3 class="product-title">${c.title}</h3>""" +
      s"""<div class="price-container"><span class="price">${c.price}</span></div>""" +
      s"""$pStyle${c.rating}</p>$pStyle${c.colors}</p>""" +
      s"""${pStyle}Size: ${c.size}</p>${pStyle}Gender: ${c.gender}</p></div></div>"""

  /** One page per line (the markup carries no newlines). */
  def pageLines(cs: IndexedSeq[Card]): Iterator[String] =
    cs.grouped(CardsPerPage).zipWithIndex.map { case (page, p) =>
      page.zipWithIndex.map { case (c, i) => cardHtml(c, p * CardsPerPage + i) }
        .mkString("""<html><body><div class="collection-grid">""", "",
          "</div></body></html>")
    }

  // ------------------------------------------------ documents (text corpus)

  /** A generated document. `embedFrom` is the doc whose embedding this
    * one's is a small perturbation of (itself for a fresh embedding). */
  final case class Doc(docId: Long, text: String, lang: String, source: String,
      embedFrom: Long)

  private val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
  private val stopWords = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a")

  /** A deterministic vocabulary of pronounceable words. */
  def vocabulary(size: Int): IndexedSeq[String] = {
    val on = Seq("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Seq("a", "e", "i", "o", "u")
    val syl = for (o <- on; n <- nu) yield o + n
    IndexedSeq.tabulate(size) { i =>
      var x = i; val sb = new StringBuilder
      do { sb ++= syl(x % syl.size); x /= syl.size } while (x > 0)
      sb ++= on(i % on.size)
      sb.toString
    }
  }

  /** Zipf(1) sampler over ranks 0..n-1 by inverse CDF on a prefix table. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / (r + 1))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t)
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Shares of a generated corpus: exact copies of an earlier doc, near
    * copies (a few tokens replaced, 3-shingle Jaccard well above 0.7), and
    * semantic copies (fresh text, embedding a perturbation of an earlier
    * doc's: cosine ≈ 0.97). */
  val ExactDupPct = 4
  val NearDupPct = 6
  val SemanticDupPct = 4

  private def freshText(rng: SplittableRandom, vocab: IndexedSeq[String], zipf: Zipf): String = {
    val n = 60 + rng.nextInt(120)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) {
        if (rng.nextInt(40) == 0) {
          sb += '\n'
          if (rng.nextInt(3) == 0) sb ++= "- "
        } else sb += ' '
      }
      sb ++= (if (rng.nextInt(7) == 0) stopWords(rng.nextInt(stopWords.size))
        else vocab(zipf.sample(rng)))
      if (rng.nextInt(90) == 0) sb ++= "..."
      i += 1
    }
    sb.toString
  }

  /** Near copy: replace ~4% of the tokens (at least two). */
  private def nearCopy(rng: SplittableRandom, text: String, vocab: IndexedSeq[String]): String = {
    val toks = text.split(" ", -1)
    val k = math.max(2, toks.length / 25)
    for (_ <- 0 until k) toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.size))
    toks.mkString(" ")
  }

  val VocabSize = 20000

  /** `n` documents with ids `firstId until firstId + n`. A duplicate's
    * source is drawn from `origin(id)`, the id range of earlier docs it may
    * copy (None → the doc is fresh); `pool` returns docs of earlier calls. */
  def docs(seed: Long, firstId: Long, n: Int,
      origin: Long => Option[(Long, Long)], pool: Long => Doc): IndexedSeq[Doc] = {
    val rng = new SplittableRandom(seed ^ (firstId * 0x9e3779b97f4a7c15L))
    val vocab = vocabularyCached
    val made = scala.collection.mutable.Map.empty[Long, Doc]
    IndexedSeq.tabulate(n) { i =>
      val id = firstId + i
      val roll = rng.nextInt(100)
      var embedFrom = id
      val text = origin(id) match {
        case Some((lo, hi)) if roll < ExactDupPct + NearDupPct + SemanticDupPct && hi > lo =>
          val srcId = lo + rng.nextLong(hi - lo)
          val src = made.getOrElse(srcId, pool(srcId))
          if (roll < ExactDupPct) src.text
          else if (roll < ExactDupPct + NearDupPct) nearCopy(rng, src.text, vocab)
          else { embedFrom = src.embedFrom; freshText(rng, vocab, zipfCached) }
        case _ => freshText(rng, vocab, zipfCached)
      }
      val d = Doc(id, text, langs(rng.nextInt(langs.size)), s"src${rng.nextInt(20)}", embedFrom)
      made(id) = d
      d
    }
  }

  private lazy val vocabularyCached = vocabulary(VocabSize)
  private lazy val zipfCached = new Zipf(VocabSize)

  /** A self-contained corpus of `n` docs (ids 0..n-1): duplicates copy any
    * earlier doc of the same corpus. */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] =
    docs(seed, 0L, n, id => Some((0L, id)), id => sys.error(s"doc $id is not earlier"))

  /** `batches` ingest batches of `batchDocs` docs each, ids increasing
    * across batches. A duplicate in batch b copies a doc of an earlier
    * batch; the first batch is all fresh. */
  def ingestBatches(seed: Long, batches: Int, batchDocs: Int): IndexedSeq[IndexedSeq[Doc]] = {
    val all = scala.collection.mutable.Map.empty[Long, Doc]
    (0 until batches).map { b =>
      val first = b.toLong * batchDocs
      val origin: Long => Option[(Long, Long)] = _ => if (b > 0) Some((0L, first)) else None
      val out = docs(seed + b, first, batchDocs, origin, all)
      out.foreach(d => all(d.docId) = d)
      out
    }
  }

  /** Embedding width, as in the harness `embeddings` table. */
  val EmbeddingDim = 64

  /** A doc's embedding: uniform in [-1, 1) per dimension, or for a
    * semantic copy its source's plus uniform noise in [-0.25, 0.25). */
  def embedding(seed: Long, d: Doc): Array[Float] = {
    val base = new SplittableRandom(seed * 31 + d.embedFrom)
    val v = Array.fill(EmbeddingDim)(base.nextDouble() * 2 - 1)
    if (d.embedFrom != d.docId) {
      val noise = new SplittableRandom(seed * 31 + d.docId)
      for (i <- v.indices) v(i) += (noise.nextDouble() - 0.5) * 0.5
    }
    v.map(_.toFloat)
  }

  /** Popularity bands of serve-query terms, by vocabulary rank (the corpus
    * draws words Zipf-distributed by rank, so rank sets posting length). */
  val QueryBands: Seq[(Int, Int)] = Seq((0, 10), (10, 100), (100, 1000))

  /** Serve-query terms: two terms, each drawn Zipf-skewed within one
    * popularity band, so popular terms repeat across queries while every
    * seed's queries touch postings of comparable length. */
  def queryTerms(rng: SplittableRandom, band: Int): Seq[String] = {
    val (lo, hi) = QueryBands(band % QueryBands.size)
    val z = zipfBands(band % QueryBands.size)
    Seq.fill(2)(vocabularyCached(lo + z.sample(rng))).distinct
  }
  private lazy val zipfBands = QueryBands.map { case (lo, hi) => new Zipf(hi - lo) }

  // ------------------------------------------------------------- canonical

  /** SHA-256 over a canonical rendering, for the determinism contract. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def docLines(ds: Iterable[Doc]): Iterator[String] =
    ds.iterator.map(d =>
      s"${d.docId}\t${d.lang}\t${d.source}\t${d.embedFrom}\t${d.text.replace("\n", "\\n")}")
}
