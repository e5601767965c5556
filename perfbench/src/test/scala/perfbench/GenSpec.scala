package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Seed determinism of the write-side generators (no Spark needed). */
class GenSpec extends AnyFunSuite {
  private def rows(b: EventBatch) = b.rows.map(_.toSeq)

  test("same seed and index give the same batch") {
    for (i <- Seq(0, 3, 8)) {
      val (a, b) = (new EventGen(42).batch(i), new EventGen(42).batch(i))
      assert(rows(a) == rows(b))
      assert(a.checksum == b.checksum && a.perUser == b.perUser)
    }
  }

  test("another seed or index gives another batch") {
    assert(rows(new EventGen(42).batch(1)) != rows(new EventGen(43).batch(1)))
    assert(rows(new EventGen(42).batch(1)) != rows(new EventGen(42).batch(2)))
  }

  test("batch sizes: small, with a big batch every 16th commit") {
    val g = new EventGen(7)
    assert((0 until 40).filter(i => g.size(i) > 50000) == Seq(8, 24))
    assert((0 until 40).filterNot(Set(8, 24)).forall(i => g.size(i) >= 1000 && g.size(i) <= 2000))
  }

  test("a batch's checksum is the sum of its rows' digests") {
    val b = new EventGen(5).batch(2)
    val sum = b.rows.map(r => Checksum.ofRow(r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3), math.round(r.getDouble(4) * 100), r.getLong(5))).reduce(_ + _)
    assert(sum == b.checksum)
    assert(b.perUser.values.map(_._1).sum == b.size)
  }

  test("key batches are seeded and their sums add up") {
    val (a, sa) = new KeyGen(3).batch(4, 500)
    val (b, sb) = new KeyGen(3).batch(4, 500)
    assert(a.map(_.toSeq) == b.map(_.toSeq) && sa == sb)
    assert(new KeyGen(4).batch(4, 500)._1.map(_.toSeq) != a.map(_.toSeq))
    assert(sa.values.sum == a.map(_.getLong(1)).sum)
  }
}
