package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CosineOnPacked, FuseQuantizedKernels, GraftFunctions}

/** [[GraftFunctions.register]] is the one way graft's functions and
  * optimizer rules attach to a session graft did not build (a caller's
  * own, the driver's). A `newSession()` starts with no temp functions and
  * no extra optimizations, so it stands in for such a session. */
class RegistrationSpec extends AnyFunSuite {

  test("register attaches every graft function and each rule once to a bare session") {
    val bare = SparkTestSession.spark.newSession()
    val registry = bare.sessionState.functionRegistry
    val names = GraftFunctions.builders.map(_._1)

    assert(!registry.listFunction().exists(_.funcName.startsWith("graft_")))
    assert(bare.experimental.extraOptimizations.isEmpty)

    GraftFunctions.register(bare)
    GraftFunctions.register(bare)
    assert(names.forall(n => registry.functionExists(FunctionIdentifier(n))),
      names.filterNot(n => registry.functionExists(FunctionIdentifier(n))))
    val rules = bare.experimental.extraOptimizations
    for (r <- Seq(FuseQuantizedKernels, graft.plans.TagSupersetPruning,
                  graft.plans.TermBucketPruning))
      assert(rules.count(_ eq r) == 1, s"${r.ruleName} in $rules")

    // FuseQuantizedKernels fires: cosine(unpack(p), q) scores off the bytes
    val packed = bare.range(3).select(GraftFunctions.pack(
      array(col("id").cast("float"), lit(1f), lit(2f))).as("p"))
    val scored = packed.select(GraftFunctions.cosine(
      GraftFunctions.unpack(col("p")), GraftFunctions.vecLit(Seq(1f, 2f, 3f))).as("s"))
    val opt = scored.queryExecution.optimizedPlan
    assert(opt.exists(_.expressions.exists(_.exists(_.isInstanceOf[CosineOnPacked]))),
      opt.toString)
    assert(scored.collect().length == 3)
  }
}
