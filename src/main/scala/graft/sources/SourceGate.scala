package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ONE action serving every merge/upsert source gate: emptiness, the
  * key-ambiguity check and (Delta's keyed merge) the CHECK / NOT NULL
  * violation count. A job per gate over the same cached source would
  * each pay the scheduling floor; a single aggregate returns (total
  * rows, max per-key multiplicity, violating rows) — and materializes
  * the persist while at it. */
private[sources] object SourceGate {
  /** (total source rows, max rows per key, rows where `violation`
    * holds) in one action. A NULL `violation` result does not count. */
  def apply(src: DataFrame, keyCols: Seq[String],
            violation: Column = lit(false)): (Long, Long, Long) = {
    val r = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__gate_n"),
        count(when(violation, lit(1))).as("__gate_bad"))
      .agg(coalesce(sum("__gate_n"), lit(0L)),
        coalesce(max("__gate_n"), lit(0L)),
        coalesce(sum("__gate_bad"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
