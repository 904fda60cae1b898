package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL MATERIALIZED VIEWS over an [[UpsertStore]] table — the
  * classic IVM shape for grouped sum/count aggregates, maintained from
  * the store's CDF image feed instead of recomputed from scratch.
  *
  * Why this exists at 100 TB: a dashboard aggregate over a CDC-fed
  * fact table costs a full table scan per refresh if recomputed, but a
  * micro-batch changes a sliver of rows. Sum/count are
  * self-maintainable: subtract every `delete`/`update_preimage` row,
  * add every `insert`/`update_postimage` row, and the stored view
  * moves to the new exact state — including rows whose update MOVES
  * them between groups, which is precisely why the feed must carry
  * both images ([[UpsertStore.changesBetweenImages]]); the
  * after-image-only feed cannot express the group they left. Groups
  * whose maintained count reaches zero are dropped (never emit
  * phantom zero-groups). Min/max are deliberately NOT offered: they
  * are not self-maintainable under deletes without per-group row
  * logs — recompute or a different sketch is the honest answer.
  *
  * Refresh cost: O(changed buckets) to derive the window's images +
  * O(|view| + |delta groups|) for the merge — never O(fact table).
  *
  * EXACTLY-ONCE state: the view state and its changefeed cursor
  * commit ATOMICALLY as one ledgered generation ([[StoreIO.commitGen]]):
  * `gen/state` (the view table) and `gen/state.json` (`last_seq`, the
  * last store commit folded in, plus the state schema) are promoted
  * with a single rename, so a crash anywhere leaves a consistent
  * (state, cursor) pair and the next refresh re-derives the same window
  * (the changefeed is a deterministic function of two snapshots). A
  * separate cursor file would double-apply a window on a crash between
  * state write and cursor commit — additive deltas are NOT idempotent,
  * unlike the key-overwrite consumers that tolerate the at-least-once
  * cursor.
  */
object MatView {

  private def genDir(viewDir: String) = s"$viewDir/gen"

  /** The maintained view state: group columns + `n_rows` +
    * `sum_<col>` per tracked column. Throws when the view has never
    * been refreshed (there is no schema to serve). Reads with the
    * schema recorded at the last refresh (no footer-inference job per
    * read; refresh reads the state back every trigger). A corrupt or
    * non-struct recorded schema falls back to footer inference.
    */
  def read(spark: SparkSession, viewDir: String): DataFrame =
    StoreIO.readTable(spark, viewDir, "state")

  /** The last store commit folded into the view, -1 before the first
    * refresh. A view written before `state.json` recorded its cursor in
    * `gen/cursor.json` (same `last_seq` field); it is read here until
    * the next refresh replaces that generation.
    */
  def cursor(spark: SparkSession, viewDir: String): Long = {
    val gen = StoreIO.genPath(spark, genDir(viewDir))
    StoreIO.stateIn(spark, gen)
      .orElse(StoreIO.readSmall(spark, s"$gen/cursor.json").map(StoreIO.jackson.readTree))
      .map(_.get("last_seq").asLong()).getOrElse(-1L)
  }

  /** Fold every store commit since the last refresh into the view.
    * `groupCols` are the view's dimensions (expressions over the
    * stored row, named); `sumCols` the summed measures. The first
    * refresh seeds from the full snapshot (as inserts); later ones
    * consume exactly the (cursor, head] image window. Returns the head
    * seq now reflected in the view (== the previous head when nothing
    * new committed — the refresh is then a no-op).
    */
  def refresh(
      spark: SparkSession,
      storeDir: String,
      key: String,
      viewDir: String,
      groupCols: Seq[(String, Column)],
      sumCols: Seq[String]): Long = {
    require(groupCols.nonEmpty, "a materialized view needs group columns")
    val head = UpsertStore.snapshotSeq(spark, storeDir)
    val from = cursor(spark, viewDir)
    if (from == head) return head
    // the image window: first refresh = full snapshot as inserts
    val images =
      if (from < 0L) {
        val cur = UpsertStore.read(spark, storeDir)
        cur.withColumn("change", lit("insert"))
      } else UpsertStore.changesBetweenImages(spark, storeDir, from, head, key)
    val sign = when(col("change").isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))
    val gb = groupCols.map { case (n, c) => c.as(n) }
    val names = groupCols.map(_._1)
    val delta = images.select(sign.as("__s") +: sumCols.map(col) ++: gb: _*)
      .groupBy(names.map(col): _*)
      .agg(sum(col("__s")).as("__dn"),
        sumCols.map(c => sum(col("__s") * col(c)).as(s"__d_$c")): _*)
    // no cursor means no state yet: the first refresh seeds it
    val cur = if (from < 0L) None else Some(read(spark, viewDir))
    val merged = cur match {
      case None =>
        delta.select(names.map(col) ++:
          coalesce(col("__dn"), lit(0L)).as("n_rows") +:
          sumCols.map(c => col(s"__d_$c").as(s"sum_$c")): _*)
          .where(col("n_rows") > 0)
      case Some(state) =>
        // NULL-SAFE key equality (`<=>`): a NULL-valued group key must
        // match its existing state row — a plain using-columns join
        // never matches NULL to NULL, so every refresh would append a
        // fresh NULL-group row and that group's counts would silently
        // diverge from a recompute. Keys coalesce across the two sides
        // (both NULL for the NULL group — coalesce then keeps NULL).
        val st = state.alias("st")
        val dl = delta.alias("dl")
        val cond = names.map(n => col(s"st.$n") <=> col(s"dl.$n")).reduce(_ && _)
        st.join(dl, cond, "full_outer")
          .select(names.map(n => coalesce(col(s"st.$n"), col(s"dl.$n")).as(n)) ++:
            (coalesce(col("st.n_rows"), lit(0L)) +
              coalesce(col("dl.__dn"), lit(0L))).as("n_rows") +:
            sumCols.map(c =>
              (coalesce(col(s"st.sum_$c"), lit(0L).cast(state.schema(s"sum_$c").dataType)) +
                coalesce(col(s"dl.__d_$c"), lit(0L).cast(state.schema(s"sum_$c").dataType)))
                .as(s"sum_$c")): _*)
          .where(col("n_rows") > 0)
    }
    // state + cursor promote in ONE atomic swap (see scaladoc)
    StoreIO.commitGen(spark, viewDir, Nil, Some("state" -> merged), "last_seq" -> head)
    head
  }
}
