package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RelationalOps.{BtMaxWinPairs, bradleyTerryMM}

/** ev_pref_bradley_terry collects its k²-bounded (win, lose, n) table once
  * and runs the MM rounds on the driver. These tests pin the driver-side
  * arithmetic, the checked bound, and the jobs the query runs. */
class BradleyTerrySpec extends AnyFunSuite {
  private lazy val spark = GraftSparkSession.spark
  private val dir = GraftSparkSession.sfDir

  test("driver-side MM: a 3-item example gives exact doubles after 3 rounds") {
    // n_ab = 3 + 1 = 4, n_ac = 2, n_bc = 1 + 2 = 3; W = (5, 2, 2).
    // Round 1 from s = 1: den = (4/2 + 2/2, 4/2 + 3/2, 2/2 + 3/2)
    // = (3, 3.5, 2.5), raw = FLOAT(W/den) = (1.6666666269302368,
    // 0.5714285969734192, 0.800000011920929), tot = FLOAT(Σ raw) and
    // s = FLOAT(raw/tot) = (0.5485893487930298, 0.18808777630329132,
    // 0.2633228898048401). Rounds 2 and 3 repeat the update.
    val wins = Seq(("a", "b", 3L), ("b", "a", 1L), ("a", "c", 2L), ("c", "b", 2L),
      ("b", "c", 1L))
    assert(bradleyTerryMM(wins, rounds = 1).map(_._4) ==
      Seq(0.5485893487930298, 0.18808777630329132, 0.2633228898048401))
    assert(bradleyTerryMM(wins, rounds = 3) == Seq(
      ("a", 5L, 6L, 0.6579159498214722),
      ("b", 2L, 7L, 0.1511896550655365),
      ("c", 2L, 5L, 0.19089433550834656)))
    // the input order does not move a bit of the result
    assert(bradleyTerryMM(wins.reverse, rounds = 3) == bradleyTerryMM(wins, rounds = 3))
  }

  test("driver-side MM: a winless item drops out after round 1, as the oracle's joins drop it") {
    // c never wins, so round 1 scores only a and b; from round 2 the
    // pairs against c have no score on one side and are skipped, which
    // leaves the two-item fixed point s_a = W_a / (W_a + W_b) = 3/7
    val wins = Seq(("a", "b", 2L), ("b", "a", 1L), ("a", "c", 1L), ("b", "c", 3L))
    assert(bradleyTerryMM(wins, rounds = 3) == Seq(
      ("a", 3L, 4L, 0.4285714030265808),
      ("b", 4L, 6L, 0.5714285373687744)))
  }

  test("driver-side MM rejects a wins table past its bound, naming k") {
    val k = 101
    val items = (0 until k).map(i => f"e$i%03d")
    val wins = for (a <- items; b <- items if a != b) yield (a, b, 1L)
    assert(wins.length > BtMaxWinPairs)
    val e = intercept[IllegalStateException](bradleyTerryMM(wins, rounds = 3))
    assert(e.getMessage.contains(s"at least $k items"), e.getMessage)
    // at the bound itself the loop runs
    assert(bradleyTerryMM(wins.take(BtMaxWinPairs), rounds = 1).nonEmpty)
  }

  test("bradley_terry pins its construction and execution jobs") {
    // construction runs the duel pipeline's jobs and the one collect of
    // the wins table, nothing per MM round; execution sorts the local
    // score table. Counts measured at the spec fixture.
    spark.catalog.clearCache()
    // warm Tables' per-JVM schema memo: a first load pays a footer job
    Tables.load(spark, dir, "events").schema
    val (df, built) = PlanHealth.traced(spark) {
      SparkEntry.queries("ev_pref_bradley_terry")(spark, dir)
    }
    assert(built.jobs == 4, built.jobNames.mkString("\n"))
    val (rows, ran) = PlanHealth.traced(spark) { df.collect() }
    assert(rows.nonEmpty)
    assert(ran.jobs == 3, ran.jobNames.mkString("\n"))
  }
}
