package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Output order for a frame a per-query rank filter has already bounded
  * (`rk <= k` over a `row_number() OVER (PARTITION BY query ...)` window
  * leaves at most queries × k rows).
  *
  * `orderBy` plans a RangePartitioning exchange, whose sampling job and
  * extra shuffle stage cost more than sorting the few surviving rows.
  * Here the rows are gathered into one partition by a narrow coalesce and
  * sorted there: no sampling job and no exchange, while the rank window
  * upstream keeps its own `PARTITION BY` exchange. Same rows, same order
  * as `orderBy(cols)` whenever `cols` identify a row (they end in the
  * rank), which every caller's key does.
  */
object RankedOrder {

  /** The ordering as a transform: `ranked.transform(RankedOrder(cols))`. */
  def apply(cols: String*): DataFrame => DataFrame =
    _.coalesce(1).sortWithinPartitions(cols.map(col): _*)
}
