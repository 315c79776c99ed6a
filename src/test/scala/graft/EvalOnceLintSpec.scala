package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.EvalOnce
import graft.ops.EntityMatch
import graft.text.DedupOps

/** EvalOnce barrier census. An [[EvalOnce]] projection is non-deterministic
  * to the optimizer, so NO predicate pushes through it: a cheap filter
  * written after the `withColumn` stays above the barrier and runs on every
  * scored row instead of pruning rows before the expensive scorer. Only
  * conjuncts that read the barrier's own output belong above it.
  *
  * Every `functions.EvalOnce(` site in src/main is audited here, and the
  * operators that build them are planned on a small fixture: a Filter
  * directly above an EvalOnce projection whose conjunct does not read an
  * EvalOnce column fails the suite. A NEW site fails until its operator is
  * added to the plan check.
  */
class EvalOnceLintSpec extends SparkSpec {
  import spark.implicits._

  /** file (relative to src/main/scala/graft) -> `functions.EvalOnce(` count */
  private val audited: Map[String, Int] = Map(
    "ops/EntityMatch.scala" -> 1,  // evalOnce: blockedEditDistancePairs, blockedJaroWinklerPairs
    "text/DedupOps.scala" -> 1)    // editDistancePairs

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Deterministic conjuncts of a Filter directly above an EvalOnce
    * projection that do not read any EvalOnce output: each would push below
    * the projection but for the barrier. */
  private def stranded(plan: LogicalPlan): Seq[Expression] = plan.collect {
    case Filter(cond, Project(fields, _)) if fields.exists(_.exists(_.isInstanceOf[EvalOnce])) =>
      val barrier = AttributeSet(fields.filter(_.exists(_.isInstanceOf[EvalOnce]))
        .map(_.asInstanceOf[NamedExpression].toAttribute))
      conjuncts(cond).filter(c => c.deterministic && !c.references.exists(barrier.contains))
  }.flatten

  private def assertNoneStranded(name: String, df: DataFrame): Unit = {
    val plan = df.queryExecution.optimizedPlan
    assert(plan.exists {
      case Project(fields, _) => fields.exists(_.exists(_.isInstanceOf[EvalOnce]))
      case _ => false
    }, s"$name: no EvalOnce projection in the plan\n$plan")
    val s = stranded(plan)
    assert(s.isEmpty, s"$name: predicates stranded above an EvalOnce projection: $s\n$plan")
  }

  private lazy val names = Seq((1L, "jonathan"), (2L, "jonathon"), (3L, "johnathan"),
    (4L, "margaret"), (5L, "margarett")).toDF("id", "name")

  test("every functions.EvalOnce( site in src/main is in the audited census") {
    val found = SourceScan.count("functions.EvalOnce(")
    assert(found == audited, s"EvalOnce sites $found vs audited $audited: plan-check " +
      "the new operator below, then update EvalOnceLintSpec")
  }

  test("no pushable predicate sits above an EvalOnce projection in the " +
      "audited operators' plans") {
    val block = (t: org.apache.spark.sql.Column) => substring(t, 1, 2)
    assertNoneStranded("blockedEditDistancePairs", EntityMatch.blockedEditDistancePairs(
      names, names, "id", "name", "id", "name", block, maxDist = 2))
    assertNoneStranded("blockedJaroWinklerPairs", EntityMatch.blockedJaroWinklerPairs(
      names, names, "id", "name", "id", "name", block, minSim = 0.9))
    assertNoneStranded("editDistancePairs", DedupOps.editDistancePairs(
      names, "id", $"name", maxDist = 2, lenBand = 4, prefixLen = 2))
  }

  test("the lint flags a cheap predicate written after the barrier") {
    // repartitioned, so the optimizer cannot fold the plan into a local relation
    val rows = names.repartition(2)
    val d = ColumnBridge.column(EvalOnce(ColumnBridge.expression(length($"name"))))
    val bad = rows.withColumn("d", d).filter($"d" > 2 && $"id" < 4)
    assert(stranded(bad.queryExecution.optimizedPlan).map(_.sql) == Seq("(id < 4L)"))
    val good = rows.filter($"id" < 4).withColumn("d", d).filter($"d" > 2)
    assert(stranded(good.queryExecution.optimizedPlan).isEmpty)
  }
}
