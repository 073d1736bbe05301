package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Folds a buffer frame into a serving generation with
  * [[ServingIndex.patched]]. The caller makes sure the buffer's epochs
  * sort after the generation's and are unique per id (the patch gate).
  */
object Patches {

  /** `idx` with `buffer` (cols vec_id, epoch, deleted, centroid_id, vec)
    * folded in.
    */
  def fold(idx: ServingIndex, buffer: DataFrame): ServingIndex =
    idx.patched(buffer.select(col("vec_id").cast("long"),
        col("epoch").cast("long"), col("deleted").cast("boolean"),
        col("centroid_id").cast("long"), col("vec").cast("array<double>"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3),
        if (r.isNullAt(4)) null else r.getSeq[Double](4).toArray)))
}
