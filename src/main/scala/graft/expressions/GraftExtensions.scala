package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}

/** The engine's one function registry: every `graft_*` kernel, injected
  * into the session's function registry when the session is built.
  * [[graft.core.GraftSession.builder]] installs it, so every session of
  * the engine (and each `newSession()` of it) resolves these names —
  * through the Column builders' `call_function` and through SQL alike —
  * and nothing writes the registry after the session exists. Outside
  * GraftSession, attach it with
  * `--conf spark.sql.extensions=graft.expressions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {
  /** (SQL name, expression class, builder) of every injected function. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("graft_nearest_cids", classOf[NearestCentroids],
      e => NearestCentroids(e(0), e(1), e(2))),
    ("graft_pq_codes", classOf[PqCodes], e => PqCodes(e(0), e(1))),
    ("graft_pq_lut", classOf[PqLut], e => PqLut(e(0), e(1))),
    ("graft_hyperplane_sig", classOf[HyperplaneSig],
      e => HyperplaneSig(e(0), e(1), e(2))),
    ("graft_bpe_encode", classOf[BpeEncode], e => BpeEncode(e(0), e(1), e(2))),
    ("graft_levenshtein", classOf[EditDistance], e => EditDistance(e(0), e(1), e(2))),
    // Spark's own codegen'd bloom probe, which Spark registers under no
    // SQL name (Integrity.fkViolationsBloom)
    ("graft_might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))
}
