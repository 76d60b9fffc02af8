package graft.operators

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The size rule every size-adaptive operator follows — nine
  * operators, seven distinct recurrences: CC; integer rank, which
  * PageRank, TextRank and host rank share in `Dedup.integerRank`;
  * k-core; LPA; HITS; k-means; k-center. A fixpoint whose input fits
  * a budget is collected once and replayed on the driver; above the
  * budget the distributed loop runs. Both sides return identical rows
  * — the recurrences are integer-exact by design, and parity specs
  * force each side. Integer rank, k-core, LPA and HITS are each one
  * kernel in two placements ([[place]], [[Placed]]): a round runs over
  * one partition's iterators, on the driver one partition holding
  * every edge, distributed each partition of the edges hash-partitioned
  * once by source vertex. So are k-means and k-center, over the
  * collected points or per partition of the points checkpointed once
  * as an RDD, the driver merging the partials. This is the contract of
  * Spark's own broadcast threshold: one setting, read in one place,
  * that changes how a result is computed, never what it is.
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

  def collectWithin[T: ClassTag](rdd: RDD[T], budget: Long): Option[Array[T]] =
    if (rdd.count() <= budget) Some(rdd.collect()) else None

  /** The edges of a partitioned fixpoint, `key` of each row of `frame`:
    * on the driver when `frame` has at most `budget` rows, else
    * hash-partitioned by source vertex into the shuffle partitions and
    * checkpointed by the first round. The probe checkpoints a copy of
    * `frame.rdd`, which is one RDD per frame and may be read again. */
  def place[K: ClassTag, V: ClassTag](frame: DataFrame, budget: Long)(
      key: Row => IterableOnce[(K, V)]): Placed[(K, V)] = {
    val rows = frame.rdd.map(r => r).localCheckpoint()
    collectWithin(rows, budget) match {
      case Some(es) => rows.unpersist(); new Placed(Left(es.flatMap(key)))
      case None => new Placed(Right(rows.flatMap(key).partitionBy(new HashPartitioner(
        frame.sparkSession.sessionState.conf.numShufflePartitions)).localCheckpoint()), Some(rows))
    }
  }
}

/** A vertex-keyed collection of a partitioned fixpoint: on the driver
  * (`Left`), one partition; or an RDD (`Right`) hash-partitioned by key.
  * A kernel's output claims no partitioner, so [[Placed.round]] always
  * moves its messages. `under`: the rows spread edges came from. */
private[graft] final class Placed[T](val rows: Either[Array[T], RDD[T]],
    private var under: Option[RDD[_]] = None) {
  /** `f` over each partition of this and the same partition of `that` */
  def zip[U: ClassTag, V: ClassTag](that: Placed[U])(f: (Iterator[T], Iterator[U]) => Iterator[V]): Placed[V] =
    new Placed(((rows, that.rows): @unchecked) match {
      case (Left(a), Left(b)) => Left(f(a.iterator, b.iterator).toArray)
      case (Right(a), Right(b)) => Right(a.zipPartitions(b)(f))
    })

  def mapPartitions[V: ClassTag](f: Iterator[T] => Iterator[V]): Placed[V] =
    new Placed(rows.fold(a => Left(f(a.iterator).toArray), r => Right(r.mapPartitions(f))))

  /** this, materialized (spread: checkpointed by one job), and the fold of its rows */
  def materialize[A: ClassTag](zero: A)(seq: (A, T) => A, comb: (A, A) => A): (Placed[T], A) =
    rows.fold(a => (this, a.foldLeft(zero)(seq)), { r =>
      val done = r.localCheckpoint()
      (new Placed(Right(done)), done.aggregate(zero)(seq, comb))
    })

  def release(): Unit = { rows.foreach(_.unpersist()); under.foreach(_.unpersist()); under = None }

  def toDF(spark: SparkSession, schema: StructType)(row: T => Row): DataFrame =
    rows.fold(a => spark.createDataFrame(a.toSeq.map(row).asJava, schema),
      r => spark.createDataFrame(r.map(row), schema))
}

private[graft] object Placed {
  /** One round: `send` over each partition's edges and state, its
    * messages moved to their vertex's partition, `recv` over state and
    * messages; the next state is materialized by the fold of its rows,
    * and the one before it (and the rows under the edges) released. */
  def round[E, K: ClassTag, S, M: ClassTag, A: ClassTag](edges: Placed[E], state: Placed[(K, S)])(
      send: (Iterator[E], Iterator[(K, S)]) => Iterator[(K, M)],
      recv: (Iterator[(K, S)], Iterator[(K, M)]) => Iterator[(K, S)])(
      zero: A)(seq: (A, (K, S)) => A, comb: (A, A) => A): (Placed[(K, S)], A) = {
    val msgs = new Placed(edges.zip(state)(send).rows.map(m =>
      m.partitionBy(new HashPartitioner(m.getNumPartitions))))
    val next = state.zip(msgs)(recv).materialize(zero)(seq, comb)
    state.release()
    edges.under.foreach(_.unpersist())
    edges.under = None
    next
  }
}
