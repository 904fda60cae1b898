package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declarative record schema with a uniqueness key — snapflow's
  * ObjectSchema (named fields + types + unique_on) on StructType.
  *
  * - `conform` = snapflow's schema *cast*: coerce realized columns to the
  *   declared types (strict -> cast, soft -> try_cast to NULL on failure),
  *   dropping undeclared columns and adding missing ones as NULL.
  * - `translateFrom` = snapflow's schema *translation*: rename realized
  *   fields onto the declared names first, then conform.
  * - `dedupeKeepLatest` = the canonical unique_on maintenance operator.
  * - `validate` flags rows violating nullability or key uniqueness.
  */
final case class RecordSchema(
    struct: StructType,
    uniqueOn: Seq[String] = Nil) {

  require(uniqueOn.forall(struct.fieldNames.contains),
    s"unique_on fields ${uniqueOn.filterNot(struct.fieldNames.contains)} not in schema")

  private def castCol(f: StructField, soft: Boolean): Column = {
    val c = col(f.name)
    if (soft) expr(s"try_cast(${f.name} AS ${f.dataType.sql})").as(f.name)
    else c.cast(f.dataType).as(f.name)
  }

  /** Coerce a realized frame to this schema (declared column order). */
  def conform(df: DataFrame, soft: Boolean = false): DataFrame = {
    val cols = struct.fields.map { f =>
      if (df.columns.contains(f.name)) castCol(f, soft)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Rename realized fields (realizedName -> declaredName), then conform. */
  def translateFrom(df: DataFrame, mapping: Map[String, String], soft: Boolean = false): DataFrame = {
    val renamed = mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    conform(renamed, soft)
  }

  /** Keep the latest record per unique_on key by `orderCol` (+ remaining
    * declared columns as deterministic tiebreak).
    */
  def dedupeKeepLatest(df: DataFrame, orderCol: String): DataFrame = {
    require(uniqueOn.nonEmpty, "dedupeKeepLatest needs unique_on")
    graft.Tables.topK(df, uniqueOn, col(orderCol).desc +: struct.fieldNames
      .filterNot(uniqueOn.contains).filterNot(_ == orderCol).map(col(_).desc).toIndexedSeq,
      1, "__rn").drop("__rn")
  }

  /** Schema drift report against a realized frame: which declared
    * columns are missing, which realized columns are undeclared, and
    * which exist with a different type — the decision input for
    * soft-conform vs hard-fail on block ingestion.
    */
  def diff(df: DataFrame): Seq[RecordSchema.Drift] = {
    val realized = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val declared = struct.fields.map(f => f.name -> f.dataType).toMap
    val missing = struct.fields.collect {
      case f if !realized.contains(f.name) =>
        RecordSchema.Drift(f.name, "missing", f.dataType.sql, "")
    }
    val extra = df.schema.fields.collect {
      case f if !declared.contains(f.name) =>
        RecordSchema.Drift(f.name, "undeclared", "", f.dataType.sql)
    }
    val changed = struct.fields.collect {
      case f if realized.get(f.name).exists(_ != f.dataType) =>
        RecordSchema.Drift(f.name, "type_changed", f.dataType.sql, realized(f.name).sql)
    }
    (missing ++ extra ++ changed).sortBy(d => (d.column, d.kind))
  }

  /** Rows violating declared nullability, plus duplicate-key rows. */
  def violations(df: DataFrame): DataFrame = {
    val nullViolation = struct.fields.filterNot(_.nullable)
      .map(f => col(f.name).isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    val keyed =
      if (uniqueOn.isEmpty) df.withColumn("__dup", lit(false))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(uniqueOn.map(col).toIndexedSeq: _*)
        df.withColumn("__dup", count(lit(1)).over(w) > 1)
      }
    keyed.withColumn("__nullbad", nullViolation)
      .where(col("__dup") || col("__nullbad"))
  }
}

object RecordSchema {
  /** One drift finding from [[RecordSchema.diff]]. */
  final case class Drift(column: String, kind: String, declared: String, realized: String)
}
