package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array, col, explode}

object Rewrite {

  /** `df.withColumn(name, value).where(keep(col(name)))` with `value`
    * evaluated once per row. The optimizer pushes that filter below the
    * projection and copies `value` into it, so the plain form runs a
    * per-row kernel twice; a filter on a generator's output cannot move
    * below the generator, so routing the value through a one-element
    * `explode(array(value))` keeps one copy. Rows, column order and null
    * handling are those of the plain form. */
  private[graft] def thenKeep(df: DataFrame, name: String, value: Column)
      (keep: Column => Column): DataFrame = {
    val once = "__graft_once"
    df.select(col("*"), explode(array(value)).as(once))
      .withColumn(name, col(once)).drop(once)
      .where(keep(col(name)))
  }
}
