package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def pages(seed: Long) = Gen.digest(Gen.pageLines(Gen.cards(seed, 30)))
  private def corpus(seed: Long) = Gen.digest(Gen.docLines(Gen.corpus(seed, 300)))
  private def ingest(seed: Long) = Gen.digest(Gen.docLines(Gen.ingestBatches(seed, 4, 50).flatten))
  private def vectors(seed: Long) = Gen.digest(Gen.ingestBatches(seed, 2, 20).flatten.iterator
    .map(d => Gen.embedding(seed, d).mkString(",")))

  test("the same seed gives byte-identical inputs, another seed different ones") {
    for (g <- Seq[Long => String](pages, corpus, ingest, vectors)) {
      assert(g(7L) == g(7L))
      assert(g(7L) != g(8L))
    }
  }

  test("cards: about 13% dirty, every clean card has an expected clean row") {
    val cs = Gen.cards(3L, 500)
    val dirty = cs.count(_.dirty).toDouble / cs.size
    assert(dirty > 0.11 && dirty < 0.15, dirty)
    assert(cs.filterNot(_.dirty).forall(_.clean("ts").isDefined))
    assert(cs.filter(_.dirty).forall(_.clean("ts").isEmpty))
    // all three price spellings occur
    val prices = cs.map(_.price)
    assert(prices.exists(p => p.startsWith("$") && !p.contains(",")))
    assert(prices.exists(p => !p.startsWith("$") && p.contains(",")))
    assert(prices.exists(p => p.contains(",") && p.contains(".")))
  }

  test("expected clean values follow the reference cleaners") {
    val c = Gen.Card("Hoodie 1", "$1,234.50", "Rating: ⭐ 4.5 / 5", "3 Colors", "M", "Men", dirty = false)
    assert(c.clean("ts").get == Seq("Hoodie 1", 1234.5 * 16000.0, 4.5, 3, "M", "Men", "ts"))
    val comma = c.copy(price = "12,50")
    assert(comma.clean("ts").get(1) == 12.5 * 16000.0)
  }

  test("corpus: stated duplicate shares, copies point at earlier docs") {
    val ds = Gen.corpus(5L, 2000)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val exact = ds.count(d => !seen.add(d.text)).toDouble / ds.size
    assert(exact > 0.02 && exact < 0.06, exact)
    assert(ds.forall(d => d.embedFrom <= d.docId))
    assert(ds.map(_.docId) == ds.indices.map(_.toLong))
  }

  test("ingest batches: ids increase and copies point at earlier batches") {
    val bs = Gen.ingestBatches(9L, 6, 100)
    val ids = bs.flatten.map(_.docId)
    assert(ids == ids.sorted && ids.distinct.size == ids.size)
    val batchOf = bs.zipWithIndex.flatMap { case (b, i) => b.map(_.docId -> i) }.toMap
    val firstText = scala.collection.mutable.HashMap.empty[String, Long]
    bs.flatten.foreach { d =>
      firstText.get(d.text).foreach(src => assert(batchOf(src) < batchOf(d.docId)))
      firstText.getOrElseUpdate(d.text, d.docId)
      if (d.embedFrom != d.docId) assert(batchOf(d.embedFrom) < batchOf(d.docId))
    }
    assert(bs.head.forall(d => d.embedFrom == d.docId))
  }

  test("semantic copies sit near their source, well apart from fresh embeddings") {
    val bs = Gen.ingestBatches(4L, 3, 200).flatten
    def cos(a: Array[Float], b: Array[Float]) = {
      val d = a.indices.map(i => a(i).toDouble * b(i)).sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    val byId = bs.map(d => d.docId -> d).toMap
    val copies = bs.filter(d => d.embedFrom != d.docId)
    assert(copies.nonEmpty)
    copies.foreach(d => assert(cos(Gen.embedding(4L, d), Gen.embedding(4L, byId(d.embedFrom))) > 0.9))
    val fresh = bs.filter(d => d.embedFrom == d.docId).take(40).map(Gen.embedding(4L, _))
    for (i <- fresh.indices; j <- fresh.indices if i < j) assert(cos(fresh(i), fresh(j)) < 0.7)
  }
}
