package graft

import graft.ops._

/** All implemented operators from SURVEY.md §2, keyed by their stable
  * query key. SparkEntry derives `queries` and `oracleSql` from here.
  * Every op's `query` installs the native functions and as-of rules
  * ([[GraftExtensions.install]]) on its session before it builds.
  */
object Registry {
  val all: Seq[Op] =
    (Sources.ops ++ CoreOps.ops ++ StoreOps.ops ++ Relational.ops ++
      Analytics.ops ++ EventOps.ops ++ Functions.ops ++ StreamingOps.ops ++
      LlmDedup.ops ++ LlmText.ops ++ LlmVectors.ops ++ Multimodal.ops).map { o =>
      o.copy(query = (s, d) => { GraftExtensions.install(s); o.query(s, d) })
    }

  require(all.map(_.key).distinct.size == all.size, "duplicate op keys")

  def byKey(key: String): Op =
    all.find(_.key == key).getOrElse(sys.error(s"no such op: $key"))
}
