package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Curation, Dedup, Relational, Similarity, TextAnalysis}
import graft.traffic.Traffic

/** The registered inputs of one setup, each from the first of `dirs`
  * holding it, plus counts the calls report beside their rows
  * (fixpoint rounds, candidate pairs). */
final class Inputs(val spark: SparkSession, dirs: Seq[String], names: Seq[String]) {
  val tables: Map[String, DataFrame] = names.map { n =>
    n -> Tables.load(spark, dirs.find(d => new java.io.File(s"$d/$n.parquet").isDirectory).get, n)
  }.toMap
  def apply(name: String): DataFrame = tables(name)
  val notes: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
}

/** One call into a layer's public functions; its name is the per-layer
  * metric its time is reported under. */
final case class Op(name: String, run: Inputs => DataFrame)

/** A batch workload: `pass` is what one timed pass runs; `probes` are
  * the extra sub-layer calls only the traced run makes. An untraced run
  * sets up `setups` times and times at least `passes` passes; a traced
  * run sets up once and runs a traced pass between two untraced ones,
  * then the probes and, with `tracesStream`, the streaming open loop. */
final case class BatchWorkload(name: String, tables: Seq[String], pass: Seq[Op],
    probes: Seq[Op], setups: Int, passes: Int, tracesStream: Boolean = false)

object Workloads {
  private def scalar(spark: SparkSession, v: Double): DataFrame =
    spark.range(1).select(lit(v).as("v"))

  /** Scans every input table in full: the loading layer on its own. */
  private val loadAll = Op("tables.load_s",
    in => scalar(in.spark, in.tables.values.map(t => Data.digest(t)._1).sum.toDouble))

  private val minhash = Op("dedup.minhash_s", in => {
    val p = Dedup.minhashLsh(in("documents")).select(col("x"), col("y"))
    in.notes("dedup.pairs") = p.count().toDouble
    p
  })

  private def connectedComponents(name: String, budget: Long) = Op(name, in => {
    val pairs = Dedup.minhashLsh(in("documents")).select(col("x"), col("y"))
    val (out, rounds) = Dedup.connectedComponentsWithRounds(pairs, in("documents"), budget)
    in.notes(name.stripSuffix("_s") + "_rounds") = rounds.toDouble
    out
  })

  /** The local-replay side of every call forced_dist times, each named
    * after its distributed twin with `_local` added: CC, k-means and
    * k-center take their budget as an argument, the graph calls read it
    * from SPARK_GRAFT_GRAPH_LOCAL_EDGES, which this workload's JVM leaves
    * at its default. Their digests are the ones the distributed side must
    * match, and their job counts the bar it must pass. */
  private val local = Seq(
    connectedComponents("dedup.cc_local_s", Long.MaxValue),
    Op("graph.pagerank_local_s", in => Dedup.pageRank(in("documents"))),
    Op("graph.kcore_local_s", in => Dedup.kCore(in("documents"))),
    Op("graph.lpa_local_s", in => Dedup.labelPropagation(in("documents"))),
    Op("graph.hits_local_s", in => Relational.hits(in("orders"), in("lineitem"))),
    Op("sim.kmeans_local_s",
      in => Similarity.kmeansAssign(in("embeddings"), localRowBudget = Long.MaxValue)),
    Op("sim.kcenter_local_s",
      in => Similarity.kcenterSelect(in("embeddings"), localRowBudget = Long.MaxValue)))

  /** The traffic pipelines, timed. The traced run also times the
    * curation layers, the local side of the size-adaptive calls and the
    * streaming flagship in an open loop. */
  val trafficBatch: BatchWorkload = BatchWorkload("traffic_batch",
    Seq("events", "documents", "embeddings", "orders", "lineitem"),
    pass = Seq(
      Op("traffic.maxflow_e2e_s", in => Traffic.maxLaneFlowE2eScan(in("events"))),
      Op("traffic.injector_s", in => Traffic.injectorFilter(in("documents"))),
      Op("traffic.starter_s", in => Traffic.starterUpper(in("documents"))),
      Op("traffic.dense_s", in => Traffic.maxFlowSlidingAuto(Traffic.densify(in("events"))))),
    probes = Seq(
      loadAll,
      Op("traffic.extract_s", in => Traffic.extractLanes(Traffic.csvLines(in("events")))),
      Op("traffic.density_probe_s", in => {
        val sparse = Traffic.bucketDensity(in("events"))
        val dense = Traffic.bucketDensity(Traffic.densify(in("events")))
        in.notes("traffic.density_sparse") = sparse
        in.notes("traffic.density_dense") = dense
        // 1 when the two feeds take the two sides of the fork
        scalar(in.spark, if (sparse < Traffic.DenseThreshold && dense >= Traffic.DenseThreshold) 1 else 0)
      }),
      Op("curation.web_s", in => Curation.webPipeline(in("documents"))),
      Op("curation.pipeline_s", in => Curation.curationPipeline(in("documents"))),
      Op("text.quality_s", in => TextAnalysis.quality(in("documents"))),
      Op("text.nb_s", in => TextAnalysis.nbClassify(in("documents"))),
      Op("text.pii_s", in => TextAnalysis.piiScrub(in("documents"))),
      Op("text.tokens_s", in => TextAnalysis.tokenCount(in("documents"))),
      minhash) ++ local,
    setups = 3, passes = 3, tracesStream = true)

  /** The distributed side of the size-adaptive calls: local-replay
    * budgets 0. PageRank, k-core, LPA and HITS read theirs from
    * SPARK_GRAFT_GRAPH_LOCAL_EDGES, which the launcher sets to 0 for this
    * workload's JVM. k-core, LPA and HITS, the slowest, are timed in the
    * traced run only. */
  val forcedDist: BatchWorkload = BatchWorkload("forced_dist",
    Seq("documents", "embeddings", "orders", "lineitem"),
    pass = Seq(
      connectedComponents("dedup.cc_s", 0L),
      Op("graph.pagerank_s", in => Dedup.pageRank(in("documents"))),
      Op("sim.kmeans_s", in => Similarity.kmeansAssign(in("embeddings"), localRowBudget = 0L)),
      Op("sim.kcenter_s", in => Similarity.kcenterSelect(in("embeddings"), localRowBudget = 0L))),
    probes = Seq(
      loadAll,
      Op("graph.kcore_s", in => Dedup.kCore(in("documents"))),
      Op("graph.lpa_s", in => Dedup.labelPropagation(in("documents"))),
      Op("graph.hits_s", in => Relational.hits(in("orders"), in("lineitem")))),
    setups = 1, passes = 2)

  val batch: Map[String, BatchWorkload] =
    Seq(trafficBatch, forcedDist).map(w => w.name -> w).toMap
}
