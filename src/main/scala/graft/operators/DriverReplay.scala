package graft.operators

import org.apache.spark.sql.Dataset

/** The size rule every size-adaptive operator follows — nine
  * operators, seven distinct recurrences: CC; integer rank, which
  * PageRank, TextRank and host rank share in `Dedup.integerRank`;
  * k-core; LPA; HITS; k-means; k-center. A fixpoint whose input fits
  * a budget is collected once and replayed on the driver; above the
  * budget the distributed loop runs. Both sides return identical rows
  * — the recurrences are integer-exact by design, and parity specs
  * force each side. Integer rank is one kernel in two placements: its
  * round runs over one partition's iterators, on the driver one
  * partition holding every edge, distributed each partition of the
  * edges hash-partitioned by src. So are k-means and k-center: their
  * rounds run over the collected points as one partition, or per
  * partition of the points checkpointed once as an RDD, and the driver
  * merges the partials. This is the contract of Spark's own
  * broadcast threshold: one setting, read in one place, that changes
  * how a result is computed, never what it is.
  *
  * The probe is a plain `count()`. A bounded `limit(budget + 1).count()`
  * looks cheaper on the big side but is not: on 40M rows in 16
  * checkpointed partitions with a 2M budget, the limit shuffled
  * 32,000,016 rows into its single-partition limit and took 2.7–3.3 s,
  * while `count()` shuffled 16 partial counts and took 2.35 s.
  */
private[graft] object DriverReplay {

  /** Symmetric edge rows a graph fixpoint may replay on the driver
    * (2M rows ≈ 32 MB serialized, far under maxResultSize). The one
    * operator-level setting: `SPARK_GRAFT_GRAPH_LOCAL_EDGES`; 0 forces
    * every graph operator onto its distributed loop. */
  val GraphEdgeBudget: Long =
    sys.env.getOrElse("SPARK_GRAFT_GRAPH_LOCAL_EDGES", "2000000").toLong

  /** Vector rows k-means / k-center may replay on the driver
    * (100k × 64 longs ≈ 52 MB). */
  val VectorRowBudget: Long = 100000L

  /** The rows of `ds` (or `rdd`) when there are at most `budget` of them (the
    * driver-replay side), else None (the distributed side). A negative
    * budget always answers None, `Long.MaxValue` always collects. */
  def collectWithin[T](ds: Dataset[T], budget: Long): Option[Array[T]] =
    if (ds.count() <= budget) Some(ds.collect()) else None

  def collectWithin[T: scala.reflect.ClassTag](rdd: org.apache.spark.rdd.RDD[T],
      budget: Long): Option[Array[T]] =
    if (rdd.count() <= budget) Some(rdd.collect()) else None
}
