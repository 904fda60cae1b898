package graft.functions

import org.apache.spark.sql.SparkSession

/** SQL access to Spark's runtime-filter Bloom expressions (Catalyst ships
  * them for its own InjectRuntimeFilter rule but does not register them
  * in the public function registry):
  *
  *  - `bloom_agg(xxhash64(k))` builds a BloomFilter over a key stream
  *    (mergeable binary sketch, map-side partial aggregation);
  *  - `bloom_might_contain(bf, xxhash64(k))` probes it (no false
  *    negatives).
  *
  * The use-case is semi-join reduction: build a bloom over the fact
  * side's keys, pre-filter the other side before the exact join. Results
  * stay exact — false positives only reduce how much the filter prunes.
  */
object BloomFunctions {
  /** Install the native functions ([[graft.GraftExtensions.install]]). */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.install(spark)
}
