package kgbench

import org.scalatest.funsuite.AnyFunSuite

class AppendGenSpec extends AnyFunSuite {

  private def gen(seed: Long, batch: Int) = AppendGen.batch(seed, batch, 50, 12)

  test("the same seed gives identical batches") {
    val (a, b) = (gen(7, 3), gen(7, 3))
    assert(a.turns == b.turns)
    assert(a.expected == b.expected)
  }

  test("another seed or batch index gives other batches") {
    val base = gen(7, 3)
    for (other <- Seq(gen(8, 3), gen(7, 4))) {
      assert(other.turns.map(_.text) != base.turns.map(_.text))
      assert(other.expected != base.expected)
    }
  }

  test("a batch has the requested shape and expects some triples") {
    val b = gen(1, 0)
    assert(b.turns.size == 50 * 12)
    assert(b.turns.map(_.conv_id).distinct.size == 50)
    assert(b.turns.forall(_.conv_id.startsWith(b.convPrefix)))
    assert(b.expected.count > 0)
  }

  test("the vocabulary is disjoint from the base corpus") {
    val corpusKinds = Seq("customer:", "part:", "supplier:", "category:", "item:")
    val text = gen(1, 0).turns.map(_.text).mkString(" ")
    corpusKinds.foreach(k => assert(!text.contains(k)))
  }

  test("the digest ignores order") {
    val t = Seq(AppendGen.Triple("c", 1, 0, 0, "a:x", "p", "b:y"),
      AppendGen.Triple("c", 2, 1, 1, "b:y", "q", "a:x"))
    assert(AppendGen.digest(t) == AppendGen.digest(t.reverse))
  }
}
