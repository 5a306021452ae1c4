package perfbench

import graft.expressions.L2SqFloat
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData

/** Tests of the benchmark's JVM-side logic. Run through
  * `python3 -m unittest discover -s perfbench/tests`; exits non-zero on
  * the first failure. */
object SelfTest {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    check("brute force breaks distance ties by id") {
      val q = Array(0f, 0f)
      val rows = Seq(5L -> Array(1f, 0f), 2L -> Array(0f, 1f), 9L -> Array(-1f, 0f),
        1L -> Array(3f, 0f), 7L -> Array(0f, -1f))
      Check.topK(rows, q, 3).map(_._1) == Seq(2L, 5L, 7L)
    }
    check("brute force keeps the k nearest, nearest first") {
      val rows = (1 to 20).map(i => i.toLong -> Array(i.toFloat))
      Check.topK(rows, Array(7.4f), 3).map(_._1) == Seq(7L, 8L, 6L)
    }
    check("brute-force distances are bit-equal to the engine kernel") {
      val r = Gen.stream(3L, "kernel")
      (1 to 200).forall { _ =>
        val a = Array.fill(33)((r.nextGaussian() * 5).toFloat)
        val b = Array.fill(33)((r.nextGaussian() * 5).toFloat)
        val sq = L2SqFloat(Literal(a), Literal(b))
          .nullSafeEval(ArrayData.toArrayData(a), ArrayData.toArrayData(b))
          .asInstanceOf[Double]
        math.sqrt(sq) == Check.l2(a, b)
      }
    }
    check("recall counts shared ids over the exact set") {
      Check.recall(Seq(1L, 2L, 3L, 4L), Seq(4L, 9L, 1L, 8L)) == 0.5 &&
        Check.recall(Seq(1L, 2L), Seq(2L, 1L)) == 1.0
    }
    check("recall gate needs the share of queries at the bar") {
      Check.gate(Seq(0.7, 0.7, 0.7, 0.7, 0.6), 0.7, 0.8) &&
        !Check.gate(Seq(0.7, 0.7, 0.7, 0.6, 0.6), 0.7, 0.8)
    }
    check("result digests ignore row order") {
      import org.apache.spark.sql.Row
      Check.digest(Seq(Row(1, "a"), Row(2, "b"))) == Check.digest(Seq(Row(2, "b"), Row(1, "a"))) &&
        Check.digest(Seq(Row(1, "a"))) != Check.digest(Seq(Row(1, "b")))
    }
    check("one seed gives the same vectors and metadata") {
      def make(seed: Long) = {
        val m = new Gen.Mixture(seed, 8, 4)
        Gen.rows(m, Gen.stream(seed, "corpus"), 50).map(r => (r.vec.toSeq, r.meta))
      }
      make(11L).toSeq == make(11L).toSeq && make(11L).toSeq != make(12L).toSeq
    }
    check("one seed gives the same documents") {
      Gen.documents(11L, 80).toSeq == Gen.documents(11L, 80).toSeq &&
        Gen.documents(11L, 80).toSeq != Gen.documents(12L, 80).toSeq
    }
    check("documents include near-copies for the dedup queries") {
      val docs = Gen.documents(5L, 400)
      def grams(t: String) = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
      docs.indices.exists(i => (0 until i).exists { j =>
        val (a, b) = (grams(docs(i).text), grams(docs(j).text))
        (a intersect b).size.toDouble / (a union b).size >= 0.5
      })
    }
    check("streams of one seed differ by purpose") {
      Gen.stream(1L, "a").nextLong() != Gen.stream(1L, "b").nextLong() &&
        Gen.stream(1L, "a").nextLong() == Gen.stream(1L, "a").nextLong()
    }
    check("measured cycles follow the requested seconds in whole periods") {
      Harness.measuredCycles(18, 0.9) == 20 && Harness.measuredCycles(18, 3.0, 2) == 6 &&
        Harness.measuredCycles(18, 9.0) == 2 && Harness.measuredCycles(1, 9.0) == 1 &&
        Harness.measuredCycles(10, 3.0, 2) == 4
    }
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
  }
}
