package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Deployment surface for graft's native Catalyst expressions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * registers every graft function (cosine, sign-RP LSH keys, signature
  * agreement, bloom probes, MinHash signature) at session build time, so
  * the functions also exist in plain `spark.sql(...)` sessions the
  * library never touches (notebooks, Thrift server). This is the only
  * registration path: graft code calls the functions by name and expects
  * a session built with this extension ([[graft.GraftSession]] sets it).
  * A session built without it gets the same set from [[GraftExtensions.registerAll]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      extensions.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // whole-operator extension: band/range join (logical node + rewrite
    // rule + planner strategy — graft.plans.RangeJoin). The rewrite goes
    // into the ONE-SHOT pre-CBO batch, not injectOptimizerRule's
    // fixed-point operator batch: there it would re-traverse every
    // query's plan (stats lookups included) on every fixed-point
    // iteration — measured as a double-digit-seconds planning tax across
    // a 160-query bench sweep. Pre-CBO also runs after pushdown/pruning,
    // which is exactly when the 2-conjunct band shape is visible.
    extensions.injectPreCBORule(_ => graft.plans.RangeJoinRewrite)
    extensions.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
  }
}

object GraftExtensions {
  /** Every graft-native SQL function, by registry name. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> graft.functions.CosineSimilarity.builder,
    "graft_sign_rp_keys" -> graft.functions.SignRpKeys.builder,
    "graft_sig_agreement" -> graft.functions.SignatureAgreement.builder,
    "graft_bloom_contains" -> graft.functions.BloomContains.builder,
    "graft_bloom_probe" -> graft.functions.BloomBytesContain.builder,
    "graft_minhash_sig" -> graft.functions.MinHashSig.builder)

  /** The same set onto an EXISTING session (e.g. `spark.newSession()`),
    * for callers who cannot influence session construction. Idempotent:
    * only absent functions are registered, so a session that already has
    * them is left as it is. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!registry.functionExists(new FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
