package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/**
 * Spark extension entry point: register graft's native expressions,
 * its optimizer rule and the search planner strategy permanently in
 * every session via `spark.sql.extensions=graft.GraftExtensions` — the
 * idiomatic way to ship library functions (survives session cloning,
 * works from pure SQL, thriftserver, etc.). `graft.functions.registerAll`
 * installs the same functions and strategy on ad-hoc sessions.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // ONE catalog drives both this permanent surface and the ad-hoc
    // registerAll path (FunctionCatalog) — the two can no longer drift
    graft.functions.FunctionCatalog.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }

    ext.injectOptimizerRule(graft.plans.NormalizedCosineRule)
    ext.injectPlannerStrategy(_ => graft.plans.VectorTopKStrategy)
  }
}
