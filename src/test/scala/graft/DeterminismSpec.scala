package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Sort, Union}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Determinism regression guard: every declared query must produce
  * byte-identical rows when executed twice in the same session at
  * sf0.001. Catches accidental nondeterminism (rand-based sampling,
  * unstable orderings, time-dependent expressions) before it reaches
  * the driver's oracle gate — the cross-engine hash compare only works
  * because every query is a pure function of its inputs.
  *
  * The same two calls also pin that a query computes its output on
  * every call: a standing artifact is state a query reads, never the
  * query's result. Below Sort, Project and Union the two plans must
  * not return the same materialized relation — a checkpointed RDD
  * (same `rdd.id`) or a non-empty local relation (same `data`). Empty
  * local relations are skipped: every zero-row relation shares one
  * empty `data` object. */
class DeterminismSpec extends AnyFunSuite {
  import SparkFixture.{spark, sf}

  /** The relations a frame returns as they stand: its optimized plan
    * with Sort, Project and Union stripped off the top. */
  private def returned(df: DataFrame): Seq[LogicalPlan] = {
    def strip(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case s: Sort => strip(s.child)
      case pr: Project => strip(pr.child)
      case u: Union => u.children.flatMap(strip)
      case other => Seq(other)
    }
    strip(df.queryExecution.optimizedPlan)
  }

  private def sameRelation(x: LogicalPlan, y: LogicalPlan): Boolean = (x, y) match {
    case (a: LogicalRDD, b: LogicalRDD) => a.rdd.id == b.rdd.id
    case (a: LocalRelation, b: LocalRelation) => a.data.nonEmpty && (a.data eq b.data)
    case _ => false
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name: two executions, identical rows") {
      val first = fn(spark, sf)
      val a = first.collect().map(_.toString)
      val second = fn(spark, sf)
      val b = second.collect().map(_.toString)
      assert(a.length == b.length, s"row count drifted: ${a.length} vs ${b.length}")
      a.zip(b).zipWithIndex.collectFirst { case ((x, y), i) if x != y => (i, x, y) }
        .foreach { case (i, x, y) => fail(s"row $i drifted:\n  $x\n  $y") }
      val shared = returned(second).filter(y => returned(first).exists(sameRelation(_, y)))
      assert(shared.isEmpty,
        s"the second call returned the first call's relation:\n${shared.mkString("\n")}")
    }
  }
}
