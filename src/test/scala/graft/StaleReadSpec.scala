package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** A result never depends on what ran earlier in the session. Each
  * operator that materializes a shared intermediate runs on a path,
  * the files under that path are replaced behind the session's back,
  * and a fresh read must answer for the new files: exactly what the
  * operator returns on a never-read copy of them. A plan-keyed
  * `.cache()` entry matches the old read by path and fails this, so
  * every case also asserts the session's cache manager is left empty
  * (specs share one session, so this also catches a leak from another
  * suite). */
class StaleReadSpec extends SparkSpec {

  // the old corpus, and the new one with a third of the documents gone
  private lazy val corpora: (Path, Path) = {
    val base = Files.createTempDirectory("graft-stale")
    val docs = Tables.load(spark, sf, "documents")
    docs.write.parquet(s"$base/old")
    docs.where(col("doc_id") % 3 =!= 0).write.parquet(s"$base/new")
    (base.resolve("old"), base.resolve("new"))
  }

  /** Make `to` hold exactly the files of `from`. */
  private def replaceFiles(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(to).iterator().asScala.toList.foreach(Files.delete)
    Files.list(from).iterator().asScala.foreach(f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "containmentDedup" -> Dedup.containmentDedup,
    "ngramJaccard" -> Dedup.ngramJaccard,
    "prefixJoin" -> Dedup.prefixJoin,
    "minhashLsh" -> Dedup.minhashLsh,
    "minhashCalibration" -> Dedup.minhashCalibration,
    "minhashContamination" -> Dedup.minhashContamination,
    "incrementalDedup" -> Dedup.incrementalDedup,
    "simhashDedup" -> Dedup.simhashDedup,
    "kmvOverlap" -> Dedup.kmvOverlap,
    "bbitMinhashCalibration" -> Dedup.bbitMinhashCalibration,
    "tfidf" -> TextAnalysis.tfidf,
    "fingerprintPairs" -> TextAnalysis.fingerprintPairs)

  operators.foreach { case (name, op) =>
    test(s"$name answers for the files on disk after they are replaced") {
      val (oldFiles, newFiles) = corpora
      val dir = Files.createTempDirectory(s"graft-stale-$name")
      val live = dir.resolve("live")
      val fresh = dir.resolve("fresh")
      replaceFiles(oldFiles, live)
      replaceFiles(newFiles, fresh)
      val before = rows(op(spark.read.parquet(live.toString)))
      replaceFiles(newFiles, live)
      val rerun = rows(op(spark.read.parquet(live.toString)))
      val want = rows(op(spark.read.parquet(fresh.toString)))
      assert(before != want, s"$name: the two corpora give the same answer, so the case proves nothing")
      assert(rerun == want,
        s"$name: a fresh read of replaced files returned ${rerun.size} rows, the new files give ${want.size}")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a plan-keyed cache entry in the session")
    }
  }

  test("a GraftTable time-travel read answers for its pinned version after the table gains another") {
    val dir = Files.createTempDirectory("graft-stale-table").resolve("docs").toString
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id").as("event_id"), col("text").as("line"))
    def append(df: DataFrame): Unit =
      df.write.format("graft-table").mode("append").option("path", dir).save()
    def read(version: Option[Long]): DataFrame = {
      val r = spark.read.format("graft-table")
      version.foreach(v => r.option("version", v.toString))
      r.load(dir).select(col("event_id").as("doc_id"), col("line").as("text"))
    }
    append(docs)
    val pinned = rows(Dedup.minhashLsh(read(Some(1L))))
    // version 2 adds an exact copy of every third document under a new
    // id, so the latest version has pairs version 1 lacks
    append(docs.where(col("event_id") % 3 === 0)
      .select((col("event_id") + 1000000L).as("event_id"), col("line")))
    val rerun = rows(Dedup.minhashLsh(read(Some(1L))))
    val latest = rows(Dedup.minhashLsh(read(None)))
    assert(latest != pinned, "the two versions give the same answer, so the case proves nothing")
    assert(rerun == pinned,
      s"a read pinned to version 1 returned ${rerun.size} rows after version 2, version 1 gives ${pinned.size}")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the time-travel reads left a plan-keyed cache entry in the session")
  }
}
