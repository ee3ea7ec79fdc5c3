package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Session
import graft.ops.{Quantize, Similarity}

/** The one k-means trainer: the Lloyd loop's rules on hand-made
  * points (no Spark), then the trained centroid and codebook tables
  * bit-identical across input partitionings and session widths. */
class TrainerSpec extends AnyFunSuite with SharedSpark {

  private def lloyd(points: Seq[Seq[Double]], seeds: Seq[Seq[Double]],
      rounds: Int, unit: Boolean): Seq[Seq[Double]] =
    Similarity.lloyd(points.map(_.toArray).toArray,
      seeds.map(_.toArray).toArray, rounds, unit).map(_.toSeq).toSeq

  test("lloyd: a point equally near two centroids goes to the lowest " +
    "cid") {
    // (1, 1) scores x·c − ‖c‖²/2 = 0.5 against both seeds
    val out = lloyd(Seq(Seq(1.0, 1.0)), Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)),
      rounds = 1, unit = false)
    assert(out === Seq(Seq(1.0, 1.0), Seq(1.0, 0.0)))
    // identical seeds: every point goes to the first
    val dup = lloyd(Seq(Seq(1.0, 0.0), Seq(0.8, 0.6)),
      Seq(Seq(1.0, 0.0), Seq(1.0, 0.0)), rounds = 1, unit = false)
    assert(dup === Seq(Seq(0.9, 0.3), Seq(1.0, 0.0)))
  }

  test("lloyd: a cell that captures no point keeps its centroid") {
    val far = Seq(-1.0, 0.0)
    val out = lloyd(Seq(Seq(1.0, 0.0), Seq(0.6, 0.8), Seq(0.8, 0.6)),
      Seq(Seq(0.0, 1.0), far), rounds = 5, unit = true)
    assert(out.length === 2)
    assert(out(1) === far)
  }

  test("lloyd: the fixed-point exit returns exactly what running every " +
    "round returns") {
    val rng = new scala.util.Random(7)
    val points = Seq.fill(300)(Seq.fill(8)(rng.nextGaussian()))
    val seeds = points.take(6)
    for (unit <- Seq(false, true)) {
      // one round per call never exits early: the reference
      val byRound = Iterator.iterate(seeds)(c => lloyd(points, c, 1, unit))
        .take(41).toSeq
      val fixed = byRound.indices.dropRight(1)
        .find(r => byRound(r) == byRound(r + 1))
      assert(fixed.exists(_ < 40), s"unit=$unit: no fixed point in 40")
      val bits = (cs: Seq[Seq[Double]]) =>
        cs.map(_.map(java.lang.Double.doubleToRawLongBits))
      assert(bits(lloyd(points, seeds, 40, unit)) === bits(byRound(40)),
        s"unit=$unit")
    }
  }

  test("lloyd: PQ means stay plain, IVF means are normalized") {
    val points = Seq(Seq(2.0, 0.0), Seq(4.0, 0.0), Seq(0.0, 3.0))
    val seeds = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    assert(lloyd(points, seeds, 1, unit = false) ===
      Seq(Seq(3.0, 0.0), Seq(0.0, 3.0)))
    assert(lloyd(points, seeds, 1, unit = true) ===
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
  }

  test("ivfCentroidsDf and pqCodebooks give bit-identical rows at input " +
    "partitionings 1 and 7 and shuffle widths 2 and 8") {
    val corpus = Similarity.normalized(spark, sf.replace("sf0.001", "sf0.01"))
      .select("vec_id", "vec").localCheckpoint()
    def rows(df: DataFrame): Seq[Seq[Long]] = df.collect().toSeq
      .map(r => (0 until r.length - 1).map(i => r.getInt(i).toLong) ++
        r.getSeq[Double](r.length - 1).map(java.lang.Double.doubleToRawLongBits))
      .sortBy(r => (r(0), r(1)))
    val runs = for (parts <- Seq(1, 7); width <- Seq("2", "8")) yield
      Session.withConf(spark, "spark.sql.shuffle.partitions" -> width) {
        val in = corpus.repartition(parts, col("vec_id"))
        (rows(Similarity.ivfCentroidsDf(in, 16)),
          rows(Quantize.pqCodebooks(in, m = 8, ksub = 16)))
      }
    assert(runs.head._1.length === 16)
    assert(runs.head._2.length === 8 * 16)
    runs.tail.foreach(r => assert(r === runs.head))
  }
}
