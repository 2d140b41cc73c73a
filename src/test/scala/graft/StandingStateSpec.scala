package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.StandingState.CkptOps

/** The session-keyed standing registry: names and scopes key entries,
  * and [[StandingState.release]] frees every tracked checkpoint and
  * makes the next use rebuild from source. */
class StandingStateSpec extends AnyFunSuite {
  import SparkFixture.spark

  test("two names on the same scope are two entries") {
    var builds = 0
    val a = StandingState.standing(spark, "spec-name-a", "scope") { builds += 1; "a" }
    val b = StandingState.standing(spark, "spec-name-b", "scope") { builds += 1; "b" }
    assert((a, b) == ("a", "b"))
    assert(StandingState.standing(spark, "spec-name-a", "scope") { builds += 1; "x" } == "a")
    assert(StandingState.standing(spark, "spec-name-b", "scope") { builds += 1; "x" } == "b")
    assert(builds == 2)
  }

  test("release frees every checkpoint and the next call rebuilds") {
    var builds = 0
    def counted() = StandingState.standing(spark, "spec-counted", SparkFixture.sf) {
      builds += 1
      spark.range(100).toDF("id").localCheckpointTracked()
    }
    assert(counted().count() == 100)
    assert(counted().count() == 100)
    assert(builds == 1)
    assert(StandingState.trackedCheckpoints > 0)
    StandingState.release()
    assert(StandingState.trackedCheckpoints == 0)
    assert(counted().count() == 100)
    assert(builds == 2)
  }

  test("q_sim_ivf returns the same rows before and after a release") {
    def rows() = SparkEntry.queries("q_sim_ivf")(spark, SparkFixture.sf)
      .collect().map(_.toString).toSeq
    val before = rows()
    assert(before.nonEmpty)
    StandingState.release()
    assert(rows() == before)
  }
}
