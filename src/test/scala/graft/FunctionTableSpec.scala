package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.VectorFunctions
import graft.operators.{Similarity, TextAnalysis}
import graft.traffic.Traffic

/** graft's custom expressions have one name table, and operators build
  * them straight into Columns: the SQL extension injects exactly that
  * table, and no operator writes to the session's function registry. */
class FunctionTableSpec extends SparkSpec {

  test("GraftExtensions injects exactly the function table") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    val names = VectorFunctions.table.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate table names: $names")
    assert(injected.sorted == names.sorted)
  }

  test("operators leave the session's function registry as they found it") {
    // a fresh session: nothing registered by earlier suites, so the
    // table's own names would show up here too
    val fresh = spark.newSession()
    val embeddings = Tables.load(fresh, sf, "embeddings")
    val documents = Tables.load(fresh, sf, "documents")
    val events = Tables.load(fresh, sf, "events")
    val merges = IndexedSeq(("t", "h"), ("i", "n"), ("th", "e"))
    val ops: Seq[() => Any] = Seq(
      () => Similarity.kmeansAssign(embeddings).collect(),
      () => Similarity.annIvf(embeddings).collect(),
      () => Similarity.topComponent(embeddings).collect(),
      () => Similarity.silhouette(embeddings).collect(),
      () => TextAnalysis.bpeEncodeWith(documents, merges).collect(),
      () => Traffic.extractLanes(Traffic.csvLines(events)).collect())
    def functions() = fresh.sessionState.functionRegistry.listFunction().toSet
    SparkSession.setActiveSession(fresh)
    try {
      val before = functions()
      for (_ <- 1 to 2; op <- ops) op()
      val after = functions()
      val (n0, n1) = (before.size, after.size)
      assert(n1 == n0,
        s"registry grew by ${(after -- before).map(_.funcName).toSeq.sorted}")
    } finally SparkSession.setActiveSession(spark)
  }

  test("only graft.functions touches the function registry") {
    // Operators build custom expressions through the typed Column
    // helpers in VectorFunctions; registering by name (and calling by
    // name) belongs to the SQL-facing table alone.
    val banned = Seq("createOrReplaceTempFunction", "VectorFunctions.register",
      "call_function(\"graft_")
    val root = Paths.get("src/main/scala/graft")
    val exempt = root.resolve("functions")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(exempt)).toSeq
    assert(files.size > 20, s"scanned only ${files.size} files under $root")
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
