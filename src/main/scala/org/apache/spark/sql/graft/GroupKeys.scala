package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers

/** A `private[sql]` doorway for driver tiers that group rows as a
  * Spark aggregate does: the optimizer rewrites every grouping key
  * through `NormalizeFloatingNumbers`, so NaNs group as one value and
  * `-0.0` with `0.0`, and the aggregate outputs the normalized key. */
object GroupKeys {

  /** `key` as the aggregate groups and outputs it; unchanged when it
    * holds no float or double. */
  def normalized(key: Expression): Expression = NormalizeFloatingNumbers.normalize(key)
}
