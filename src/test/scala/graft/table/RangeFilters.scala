package graft.table

import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}

/** `lo <= c <= hi` (either side optional) as the conjunct list
  * `IceliteTable.scan` and `planFiles` take.
  */
object RangeFilters {
  def apply(c: String, lo: Option[Any], hi: Option[Any]): Seq[Filter] =
    lo.map(GreaterThanOrEqual(c, _)).toSeq ++ hi.map(LessThanOrEqual(c, _))
}
