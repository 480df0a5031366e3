package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew tools for joins whose key cardinality is far below the
  * cluster's parallelism (or whose key distribution is heavy-tailed).
  * AQE's skew-join splits oversized *partitions*, but a 5-value block
  * key still yields ≤5 tasks — salting fixes the task count itself.
  */
object Skew {

  /** Equi-join left⋈right on `keys` with `salts`-way fan-out: the
    * left side gets a deterministic salt from `saltBy`, the right
    * side replicates across all salts. Same rows out, `salts`× the
    * parallelism in.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltBy: Column, salts: Int): DataFrame = {
    val l = left.withColumn("_salt", pmod(saltBy, lit(salts)).cast("int"))
    val r = right.withColumn("_salt", explode(expr(s"sequence(0, ${salts - 1})")))
    l.join(r, keys :+ "_salt").drop("_salt")
  }
}
