package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GetStructField,
  HigherOrderFunction, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.{SparkEntry, SparkSpec}
import graft.operators.Intermediates

/** No registry plan evaluates a row input inside a higher-order
  * function's lambda. Spark runs lambdas interpreted, with no
  * subexpression elimination, so an outer expression in a lambda body
  * (say the `split` of the row's text) is re-evaluated for every array
  * element. Within every lambda body of every entry's optimized plan
  * (subqueries and cached relations included), each maximal subtree that
  * holds no lambda variable must be foldable, an attribute, or a chain
  * of struct-field reads over one.
  */
class LambdaCaptureGuardSpec extends SparkSpec {

  private val prefixBound = "the prefix filter compares each suffix mass against " +
    "0.36 * CAST(n2 AS DOUBLE), one multiply per element; hoisting the bound into a " +
    "column is undone by CollapseProject, because the lambda reads it only once"

  /** Entries that may capture, with the reason. */
  private val keep = Map(
    "dedup_cosine_pairs" -> prefixBound,
    "dedup_cosine_capped" -> prefixBound)

  private def cheap(e: Expression): Boolean = {
    def fieldOfAttribute(x: Expression): Boolean = x match {
      case _: Attribute => true
      case GetStructField(c, _, _) => fieldOfAttribute(c)
      case _ => false
    }
    e.foldable || fieldOfAttribute(e)
  }

  /** The maximal subtrees of `e` that hold no lambda variable. */
  private def captured(e: Expression): Seq[Expression] =
    if (!e.exists(_.isInstanceOf[NamedLambdaVariable])) Seq(e)
    else e.children.flatMap(captured)

  /** The costly captures of every lambda under `plan`. */
  private def captures(plan: LogicalPlan): Seq[Expression] = {
    val own = plan.expressions.flatMap(_.collect { case h: HigherOrderFunction => h })
      .flatMap(_.functions).flatMap {
        case LambdaFunction(body, _, _) => captured(body).filterNot(cheap)
        case _ => Nil
      }
    val inner = plan match {
      case r: InMemoryRelation => Seq(spark.sessionState.optimizer.execute(r.cacheBuilder.logicalPlan))
      case _ => Nil
    }
    own ++ (plan.children ++ plan.subqueries ++ inner).flatMap(captures)
  }

  test("no registry lambda re-evaluates a row input per element") {
    spark.catalog.clearCache()
    Intermediates.release(spark)
    val found = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val sqls = try {
        captures(SparkEntry.queries(name)(spark, sf0001).queryExecution.optimizedPlan)
          .map(_.sql).distinct
      } catch {
        case NonFatal(e) => Seq(s"threw ${e.toString.linesIterator.next()}")
      } finally Intermediates.release(spark)
      name -> sqls
    }.filter(_._2.nonEmpty).toMap
    val failures = (found -- keep.keys).map { case (n, s) => s"$n: ${s.mkString("; ")}" }
    assert(failures.isEmpty, failures.toSeq.sorted.mkString("\n"))
    val stale = keep.keySet -- found.keySet
    assert(stale.isEmpty, s"kept entries that no longer capture: $stale")
  }
}
