package graft.core

import org.apache.spark.sql.Dataset

/** The driver tier of a path whose working relation is usually
  * model-sized (q142's transition matrix, q189's daily fold,
  * [[graft.operators.DedupClusters.connectedComponents]]' edge list).
  * The size is a DATA property, so a cap is enforced: at most `cap` rows
  * fold in driver Scala, more take the caller's distributed form. Both
  * forms return the same rows on every input (LocalTierSpec). */
object LocalTier {

  /** Session key: when set, the row cap of every local tier, in place
    * of each caller's default. */
  val CapKey = "graft.localTier.cap"

  /** `local(rows)` when `ds` has at most the cap's rows, else
    * `distributed`. One job sends at most cap + 1 rows to the driver, in
    * partition order: a shuffle-free `coalesce(1)` reads the partitions
    * in one task, which stops at cap + 1 rows. (`take(cap + 1)` on `ds`
    * would scan the partitions in growing rounds, one job per round, and
    * a task per partition would each send up to cap + 1.) */
  def apply[T, R](ds: Dataset[T], defaultCap: Int)(local: Array[T] => R)(distributed: => R): R = {
    val cap = ds.sparkSession.conf.getOption(CapKey).fold(defaultCap)(_.toInt)
    require(cap >= 0 && cap < Int.MaxValue, s"$CapKey must be in [0, ${Int.MaxValue}), got $cap")
    val rows = ds.rdd.coalesce(1).take(cap + 1)
    if (rows.length > cap) distributed else local(rows)
  }
}
