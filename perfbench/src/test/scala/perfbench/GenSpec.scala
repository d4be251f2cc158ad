package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def shingles(t: String): Set[String] =
    t.split(" ").sliding(3).map(_.mkString(" ")).toSet
  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }
  private def cosine(a: Array[Float], b: Array[Float]): Double =
    a.indices.map(i => a(i).toDouble * b(i)).sum

  test("the archive, searches and batches are a function of the seed") {
    def archive(seed: Long) = {
      val a = Gen.Stac(seed, 256, 4)
      ((0 until a.rows).map(i => (a.id(i), a.dateMs(i), a.wkt(i))),
        (0 until 9).map(k => Gen.search(a, k)).map(s => (s.kind, s.collections, s.dates,
          s.boxE4.toSeq)))
    }
    assert(archive(7) == archive(7))
    assert(archive(7) != archive(8))
    def batches(seed: Long) = {
      val lc = Gen.Lifecycle(seed, 50, 10, 2)
      (0 until 3).map { r =>
        val b = lc.batch(r)
        val planted = b.planted.toMap
        (b, b.ids.map(lc.text(_, planted)), b.ids.map(lc.vector(_, planted).toSeq))
      }
    }
    assert(batches(7) == batches(7))
    assert(batches(7) != batches(8))
  }

  test("the archive is clustered by collection, then date") {
    val a = Gen.Stac(3, 512, 4)
    val rec = new Gen.StacRecords(a)
    (1 until a.rows).foreach { i =>
      if (a.collectionOf(i) == a.collectionOf(i - 1)) assert(rec.date(i) > rec.date(i - 1))
      else assert(a.collectionOf(i) == a.collectionOf(i - 1) + 1)
    }
  }

  test("planted near-duplicates sit far from the 0.7 Jaccard and 0.95 cosine thresholds") {
    val lc = Gen.Lifecycle(11, 200, 40, 8)
    (0 until 3).foreach { r =>
      val b = lc.batch(r)
      val planted = b.planted.toMap
      b.planted.foreach { case (copy, original) =>
        assert(copy > original)
        assert(jaccard(lc.text(copy, planted), lc.text(original, Map.empty)) > 0.9)
        assert(cosine(lc.vector(copy, planted), lc.vector(original, Map.empty)) > 0.98)
      }
    }
    val fresh = (0L until 60L).map(id => (Gen.freshText(11, id), Gen.freshVector(11, id)))
    for (i <- fresh.indices; j <- fresh.indices if i < j) {
      assert(jaccard(fresh(i)._1, fresh(j)._1) < 0.1)
      assert(cosine(fresh(i)._2, fresh(j)._2) < 0.7)
    }
  }

  test("a batch's originals were admitted before it") {
    val lc = Gen.Lifecycle(5, 30, 10, 3)
    val admitted = scala.collection.mutable.Set(lc.bootstrapIds: _*)
    (0 until 6).foreach { r =>
      val b = lc.batch(r)
      b.planted.foreach { case (_, original) => assert(admitted.contains(original)) }
      assert(b.admitted == b.ids.length - b.planted.length)
      admitted ++= b.ids.filterNot(b.planted.toMap.contains)
    }
  }
}
