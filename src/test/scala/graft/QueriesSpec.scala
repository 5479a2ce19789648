package graft

import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Attribute,
  CreateArray, ExprId, Expression, HigherOrderFunction, LambdaFunction,
  NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, MapType}

/** Smoke gate: every declared query runs and returns rows on sf0.001, and
  * every oracle key has a matching queries entry. Value-level correctness is
  * checked against DuckDB by tools/check.py and the driver's gate.
  *
  * The same per-key loop also runs the lambda-invariant plan check
  * ([[QueriesSpec.lambdaInvariants]]) on the key's optimized plan, so no
  * key is built twice.
  */
class QueriesSpec extends SparkSpec {
  import QueriesSpec._

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query impl: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every lambda-invariant allowlist entry names a query key") {
    val unknown = allowed.keySet.map(_._1) -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"allowlist entries for unknown keys: $unknown")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs and returns rows on sf0.001") {
      val df = fn(spark, sfDir)
      val found = lambdaInvariants(df.queryExecution.optimizedPlan)
      val expected = allowed.keySet.collect { case (`name`, e) => e }
      val unlisted = found -- expected
      assert(unlisted.isEmpty,
        s"$name: a lambda re-evaluates these loop-invariant arrays once per " +
          "element; pass each as an argument of the higher-order function " +
          s"(or allowlist it with a reason): ${unlisted.mkString("; ")}")
      val stale = expected -- found
      assert(stale.isEmpty, s"$name: stale allowlist entries: $stale")
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }
}

object QueriesSpec {

  /** Lambda-invariant subexpressions the plan check accepts, keyed by
    * (query key, rendered expression), each with the reason it is cheap. */
  val allowed: Map[(String, String), String] = Map(
    ("dedup_span_removal", "coalesce(_starts, ARRAY())") ->
      ("a null-to-empty coalesce of a column returns the column's own " +
        "array: it copies no data per token"))

  /** Every maximal subexpression of a higher-order function's lambda body
    * that uses none of that lambda's variables, has an array or map type,
    * is not foldable and is not a bare column or lambda variable. Spark
    * evaluates a lambda body once per element and never hoists such a
    * subexpression, so each one is rebuilt on every iteration; as an
    * argument of the higher-order function it is evaluated once per row.
    * A nested lambda's variables count as varying inside that nested
    * lambda. A `transform` over a one-element array (`TextFunctions.let`)
    * runs its lambda once, so its own body is not checked. Rendered with
    * the numeric suffix of generated lambda variable names stripped, so
    * the text is stable across runs. */
  def lambdaInvariants(plan: LogicalPlan): Set[String] = {
    val hofs = plan.collectWithSubqueries { case p => p.expressions }
      .flatten.flatMap(_.collect {
        case ArrayTransform(CreateArray(Seq(_), _), _) => None
        case h: HigherOrderFunction => Some(h)
      }.flatten)
    hofs.flatMap(_.functions.flatMap {
      case l: LambdaFunction => invariants(l.function, varsOf(l))
      case _ => Nil
    }).map(render).toSet
  }

  private def varsOf(l: LambdaFunction): Set[ExprId] =
    l.arguments.map(_.exprId).toSet

  private def invariants(e: Expression, varying: Set[ExprId]): Seq[Expression] =
    e match {
      case l: LambdaFunction => invariants(l.function, varying ++ varsOf(l))
      case _ if flagged(e, varying) => Seq(e)
      case _ => e.children.flatMap(invariants(_, varying))
    }

  private def flagged(e: Expression, varying: Set[ExprId]): Boolean =
    (e.dataType match {
      case _: ArrayType | _: MapType => true
      case _ => false
    }) && !e.foldable && !e.isInstanceOf[Attribute] &&
      !e.isInstanceOf[NamedLambdaVariable] &&
      !e.exists {
        case v: NamedLambdaVariable => varying(v.exprId)
        case _ => false
      }

  private def render(e: Expression): String =
    e.transform {
      case v: NamedLambdaVariable => v.copy(name = v.name.replaceAll("_\\d+$", ""))
    }.sql
}
