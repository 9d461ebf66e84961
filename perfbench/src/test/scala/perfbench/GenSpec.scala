package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val vspec = Gen.VectorSpec(n = 300, dim = 16, clusters = 4,
    spread = 1.0, queries = 10, extra = 5)
  private val dspec = Gen.DocSpec(docs = 300, vocab = 500, minWords = 20,
    maxWords = 40, dupShare = 0.2, editRate = 0.02)

  test("the same seed gives the same vectors and digest") {
    val a = Gen.vectors(vspec, 7)
    val b = Gen.vectors(vspec, 7)
    assert(a.digest == b.digest)
    assert(a.store.map(_.toSeq).toSeq == b.store.map(_.toSeq).toSeq)
    assert(a.store.length == 300 && a.queries.length == 10 && a.extra.length == 5)
    assert(a.store.forall(_.length == 16))
  }

  test("a different seed gives different queries and a different digest") {
    val (a, b) = (Gen.vectors(vspec, 7), Gen.vectors(vspec, 8))
    assert(a.digest != b.digest)
    assert(a.queries.map(_.toSeq).toSeq != b.queries.map(_.toSeq).toSeq)
    assert(a.extra.map(_.toSeq).toSeq != b.extra.map(_.toSeq).toSeq)
    // the store is the fixed dataset every seed queries
    assert(a.store.map(_.toSeq).toSeq == b.store.map(_.toSeq).toSeq)
  }

  test("the same seed gives the same docs and digest, another seed does not") {
    val a = Gen.docs(dspec, 3)
    assert(a.digest == Gen.docs(dspec, 3).digest)
    assert(a.text.toSeq == Gen.docs(dspec, 3).text.toSeq)
    assert(a.digest != Gen.docs(dspec, 4).digest)
  }

  test("near-duplicates copy an earlier original at the stated rates") {
    val d = Gen.docs(dspec, 3)
    val dups = d.source.indices.filter(d.source(_) >= 0)
    assert(dups.forall(i => d.source(i) < i && d.source(d.source(i)) == -1))
    val share = dups.size.toDouble / dspec.docs
    assert(share > 0.1 && share < 0.3, s"dup share $share")
    // a 2% word edit rate keeps word-3-gram Jaccard well above 0.7 on average
    val jac = dups.map(i => Gen.jaccard(Gen.shingles(d.text(i)), Gen.shingles(d.text(d.source(i)))))
    assert(jac.sum / jac.size > 0.8)
  }

  test("the store size is stated against the driver-build budget") {
    assert(vspec.elements == 300L * 16)
    assert(vspec.describe("share_of_driver_budget") == 4800.0 / (4L << 20))
  }
}
