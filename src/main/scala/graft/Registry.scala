package graft

import graft.ops._

/** All implemented operators from SURVEY.md §2, keyed by their stable
  * query key. SparkEntry derives `queries` and `oracleSql` from here.
  * Every op's `query` installs the native functions and as-of rules
  * ([[GraftExtensions.install]]) on its session before it builds.
  */
object Registry {
  val all: Seq[Op] =
    (Sources.ops ++ CoreOps.ops ++ Relational.ops ++ Functions.ops ++
      StreamingOps.ops ++ LlmOps.ops ++ Multimodal.ops ++ Round3.ops ++ Round4.ops ++
      Round5.ops ++ Round5b.ops ++ Round7.ops ++ Round8.ops ++ Round8b.ops ++
      EventOps.ops ++ Round9.ops ++ Round9b.ops ++ Round9c.ops ++ Round10.ops ++
      Round11.ops ++ Round12.ops).map { o =>
      o.copy(query = (s, d) => { GraftExtensions.install(s); o.query(s, d) })
    }

  require(all.map(_.key).distinct.size == all.size, "duplicate op keys")

  def byKey(key: String): Op =
    all.find(_.key == key).getOrElse(sys.error(s"no such op: $key"))
}
