package graft.skyline

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the GSKY kernel (SURVEY.md §5.2), driven by a
  * seeded generator: small integer-valued domains force duplicates and
  * ties, the cases where naive skyline code goes wrong.
  */
class GskySpec extends AnyFunSuite {

  private def cases(trials: Int)(body: Seq[Array[Double]] => Unit): Unit = {
    val rnd = new Random(42)
    (1 to trials).foreach { _ =>
      val d = 1 + rnd.nextInt(4)
      val n = rnd.nextInt(120)
      val ps = Seq.fill(n)(Array.fill(d)((rnd.nextInt(7) - 3).toDouble))
      body(ps)
    }
  }

  private def run(ps: Seq[Array[Double]]): Seq[Array[Double]] =
    Gsky.skyline(ps.iterator.map(v => (v, ()))).toSeq.map(_._1)

  private def brute(ps: Seq[Array[Double]]): Seq[Array[Double]] =
    ps.filter(v => !ps.exists(w => Dominance.dominates(w, v)))

  private def canon(ps: Seq[Array[Double]]): Seq[Seq[Double]] =
    ps.map(_.toSeq).sortBy(_.mkString(","))

  test("gsky == brute force (multiset, ties kept)") {
    cases(300) { ps => assert(canon(run(ps)) == canon(brute(ps))) }
  }

  test("partition invariance: sky(sky(A) ∪ sky(B)) == sky(A ∪ B)") {
    val rnd = new Random(7)
    cases(300) { ps =>
      val (a, b) = ps.partition(_ => rnd.nextBoolean())
      val merged = Gsky.skyline(
        Gsky.skyline(a.iterator.map(v => (v, ()))).iterator ++
          Gsky.skyline(b.iterator.map(v => (v, ()))).iterator)
      assert(canon(merged.toSeq.map(_._1)) == canon(brute(ps)))
    }
  }

  test("no output point dominates another; every dropped point is dominated") {
    cases(200) { ps =>
      val sky = run(ps)
      assert(!sky.exists(a => sky.exists(b => Dominance.dominates(a, b))))
      val kept = sky.map(_.toSeq).toSet
      ps.filterNot(v => kept(v.toSeq)).foreach { v =>
        assert(sky.exists(w => Dominance.dominates(w, v)))
      }
    }
  }

  test("equal vectors are both kept (reference tie semantics)") {
    val buf = ArrayBuffer.empty[(Array[Double], Int)]
    Gsky.insert(buf, Array(1.0, 2.0), 1)
    Gsky.insert(buf, Array(1.0, 2.0), 2)
    Gsky.insert(buf, Array(0.5, 5.0), 3) // incomparable to the (1,2) ties
    assert(buf.map(_._2).sorted == Seq(1, 2, 3))
    // Dominates both (1,2) ties; incomparable to (0.5,5) which survives.
    Gsky.insert(buf, Array(1.0, 1.0), 4)
    assert(buf.map(_._2).sorted == Seq(3, 4))
  }

  test("anti-correlated blowup trips the buffer cap LOUDLY") {
    // Diagonal points (i, n−i): every pair is incomparable, so the
    // "skyline" is the whole input — SURVEY §7's named risk. The cap
    // must throw, not grind.
    val anti = (0 until 500).iterator.map(i => (Array(i.toDouble, (500 - i).toDouble), i))
    val ex = intercept[IllegalStateException] {
      Gsky.skyline(anti, cap = 100)
    }
    assert(ex.getMessage.contains("anti-correlated"))
    // The merge pass also guards: two under-cap halves can't silently
    // combine past the cap.
    val a = Gsky.skyline((0 until 90).iterator.map(i => (Array(i.toDouble, (500 - i).toDouble), i)), cap = 100)
    val b = Gsky.skyline((90 until 180).iterator.map(i => (Array(i.toDouble, (500 - i).toDouble), i)), cap = 100)
    intercept[IllegalStateException] { Gsky.skyline(a.iterator ++ b.iterator, cap = 100) }
  }

  test("correlated data stays far under the default cap") {
    // Correlated points (i, i+noise): tiny skyline; the guard must be
    // invisible on healthy inputs (the 15 registered skyline oracles).
    val rnd = new Random(3)
    val ps = Seq.fill(5000)({ val x = rnd.nextInt(1000); Array(x.toDouble, (x + rnd.nextInt(5)).toDouble) })
    val sky = Gsky.skyline(ps.iterator.map(v => (v, ())))
    assert(sky.length < 100)
  }

  test("3-way compare truth table") {
    assert(Dominance.compare(Array(1.0, 1.0), Array(2.0, 2.0)) == -1)
    assert(Dominance.compare(Array(2.0, 2.0), Array(1.0, 1.0)) == 1)
    assert(Dominance.compare(Array(1.0, 2.0), Array(2.0, 1.0)) == 0)
    assert(Dominance.compare(Array(1.0, 1.0), Array(1.0, 1.0)) == 0)
    assert(Dominance.compare(Array(1.0, 1.0), Array(1.0, 2.0)) == -1)
    assert(Dominance.weaklyDominates(Array(1.0, 1.0), Array(1.0, 1.0)))
    assert(!Dominance.weaklyDominates(Array(1.0, 2.0), Array(2.0, 1.0)))
  }
}
