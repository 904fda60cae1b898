package graft

import graft.functions.{CosineSimilarity, MinHashSig, ShingleHashes, SimHash32}
import graft.plans.{AsOfJoinStrategy, AsOfPruningRule, AsOfPushdownRule}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Session-extension entry point: injects the [[GraftExtensions$]]
  * table into any session started with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) — the deployment path on a
  * shared cluster, where every cloned session inherits it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftExtensions.optimizations.foreach(r => e.injectOptimizerRule(_ => r))
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

/** The one table of the engine's native SQL functions and as-of plan
  * rules, applied by injection ([[GraftExtensions]]) or by [[install]]
  * on a running session. Every registry op, and every public entry
  * point that needs a function or the as-of planner, calls [[install]].
  */
object GraftExtensions {

  private def fn(name: String, usage: String)(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
      build)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors")(
      e => CosineSimilarity(e(0), e(1))),
    fn("shingle_hashes", "shingle_hashes(text) - distinct 3-gram shingle hashes")(
      e => ShingleHashes(e.head)),
    fn("minhash_sig", "minhash_sig(hashes) - 16-wide MinHash signature")(
      e => MinHashSig(e.head)),
    fn("simhash32", "simhash32(hashes) - 32-bit SimHash")(
      e => SimHash32(e.head)),
    fn("bloom_agg", "bloom_agg(xxhash64(k)) - mergeable BloomFilter sketch")(
      e => new BloomFilterAggregate(e.head)),
    fn("bloom_might_contain", "bloom_might_contain(bf, xxhash64(k)) - probe, no false negatives")(
      e => BloomFilterMightContain(e(0), e(1))))

  val optimizations: Seq[Rule[LogicalPlan]] = Seq(AsOfPushdownRule, AsOfPruningRule)

  /** Apply the table to a running session, idempotently (as Pathling's
    * `SqlStrategy.setup` does): a function is registered only when the
    * session lacks it, so an extension session or a repeated call
    * replaces nothing, and the strategy and rules are appended once.
    * Driver-side registry work only; it runs no Spark job.
    */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      functions.foreach { case (id, info, build) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
      }
    }
    GraftSqlBridge.addStrategy(spark, AsOfJoinStrategy)
    optimizations.foreach(GraftSqlBridge.addOptimization(spark, _))
  }
}
