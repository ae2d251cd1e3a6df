package graft.ops

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/** How the graph operators' driver tiers ([[CorpusOps.dupClusters]],
  * [[CorpusOps.bfsDistances]], [[CorpusOps.incrementalBfs]],
  * [[PageRank.ranks]]) read: they solve a model-sized graph in driver
  * memory and hand a larger one to their distributed loops.
  */
object Bounded {

  /** Every row of `df` when it has at most `cap`, else None: gate and
    * read in ONE `limit(cap + 1).collect()`, so no separate size probe
    * runs the plan twice and no more than `cap + 1` rows ever reach the
    * driver. A `cap <= 0` disables the driver tier without a job.
    */
  def collect(df: DataFrame, cap: Int): Option[Array[Row]] =
    if (cap <= 0) None
    else {
      val rows = df.limit(cap + 1).collect()
      if (rows.length > cap) None else Some(rows)
    }

  private val Integral: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  /** The one type for ids a driver tier reads from several columns
    * (`name -> type`): equal types stand; an all-integral mix widens to
    * the widest (narrowing would wrap or null ids out of range); any
    * other mix has no lossless type — a cast would null unparseable ids
    * and silently mangle the graph — so it fails loud.
    */
  def idType(op: String, cols: (String, DataType)*): DataType = {
    val types = cols.map(_._2)
    if (types.distinct.size == 1) types.head
    else if (types.forall(Integral)) types.maxBy(_.defaultSize)
    else throw new IllegalArgumentException(
      s"$op: id types must be equal or all integral; got " +
        cols.map { case (n, t) => s"$n=${t.sql}" }.mkString(", "))
  }
}
