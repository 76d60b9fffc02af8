package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.{column, expression}
import org.apache.spark.sql.internal.SQLConf

/** graft's custom Catalyst expressions, reached two ways:
  *
  *  - DataFrame operators call the typed Column helpers below, which
  *    build the expression straight into a Column. Nothing is written
  *    to the session's function registry, so a plan never depends on
  *    what was registered earlier in the session.
  *  - SQL users reach the same expressions by name through [[table]]:
  *    [[register]] writes it into one session's registry, and
  *    [[graft.GraftExtensions]] injects it into every session built
  *    with the extension.
  */
object VectorFunctions {

  /** One SQL function: its name, the expression class it builds and the
    * builder over the call's argument expressions. Scalar arguments
    * (n, seeds, boundary arrays) must be foldable literals; the builder
    * evaluates them once, at analysis. */
  final case class Fn(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression)

  private def folded[T](e: Expression): T = e.eval(null).asInstanceOf[T]

  val table: Seq[Fn] = Seq(
    Fn("graft_dot", classOf[DotProduct], a => DotProduct(a(0), a(1))),
    Fn("graft_simhash60", classOf[SimHash60], a => SimHash60(a.head)),
    Fn("graft_shingles", classOf[WordShingles],
      a => WordShingles(a(0), folded[Int](a(1)))),
    Fn("graft_grams", classOf[WordShingles],
      a => WordShingles(a(0), folded[Int](a(1)), distinct = false)),
    Fn("graft_winnow", classOf[Winnow], a => Winnow(a.head)),
    Fn("graft_gram_hashes", classOf[GramHashes],
      a => GramHashes(a(0), folded[Int](a(1)), a(2).eval(null).toString)),
    Fn("graft_ffill", classOf[ForwardFill], a => ForwardFill(a(0), folded[Int](a(1)))),
    // SQLConf.get is the analysis-time thread-local: the time zone of
    // the session analyzing the query
    Fn("graft_extract_reading", classOf[ExtractReading],
      a => ExtractReading(a.head, SQLConf.get.sessionLocalTimeZone)),
    Fn("graft_bpe", classOf[BpeEncode], a => BpeEncode(a.head)),
    Fn("graft_bucket", classOf[BoundaryBucket],
      a => BoundaryBucket(a(0), folded[ArrayData](a(1)).toDoubleArray())),
    Fn("graft_md5long60", classOf[Md5Long60], a => Md5Long60(a.head)),
    Fn("graft_pair_combos", classOf[PairCombos], a => PairCombos(a.head)),
    Fn("graft_boot_w", classOf[BootWeights],
      a => BootWeights(a(0), folded[ArrayData](a(1)).toLongArray())))

  /** Make [[table]] callable from `spark.sql` in one session. */
  def register(spark: SparkSession): Unit = table.foreach { f =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      f.name, f.build, "built-in")
  }

  // ---- typed Column helpers: one per expression ----

  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))

  def simHash60(tokens: Column): Column = column(SimHash60(expression(tokens)))

  /** Distinct word n-grams of a token array (`graft_shingles`). */
  def shingles(tokens: Column, n: Int): Column =
    column(WordShingles(expression(tokens), n))

  /** Every word n-gram of a token array, in order (`graft_grams`). */
  def grams(tokens: Column, n: Int): Column =
    column(WordShingles(expression(tokens), n, distinct = false))

  def winnow(text: Column): Column = column(Winnow(expression(text)))

  def gramHashes(tokens: Column, n: Int, seed: String): Column =
    column(GramHashes(expression(tokens), n, seed))

  def ffill(slots: Column, n: Int): Column = column(ForwardFill(expression(slots), n))

  /** Parse one traffic CSV reading; timestamps resolve in `zone`. */
  def extractReading(line: Column, zone: String): Column =
    column(ExtractReading(expression(line), zone))

  def bpe(word: Column, merges: IndexedSeq[(String, String)] = Bpe.MergesIdx): Column =
    column(BpeEncode(expression(word), merges))

  def bucket(key: Column, bounds: Array[Double]): Column =
    column(BoundaryBucket(expression(key), bounds))

  def md5Long60(c: Column): Column = column(Md5Long60(expression(c)))

  def pairCombos(items: Column): Column = column(PairCombos(expression(items)))

  def bootWeights(digestInput: Column, thresholds: Array[Long]): Column =
    column(BootWeights(expression(digestInput), thresholds))

  // ---- per-call model state: SQL cannot name these, so no table entry ----

  def topCells(v: Column, matrix: Array[Array[Double]], k: Int, ids: Array[Int]): Column =
    column(TopCells(expression(v), matrix, k, ids))

  def kmDist(v: Column, cents: Array[Array[Long]]): Column =
    column(KmDist(expression(v), cents))

  def pcScore(v: Column, mu: Array[Double], pv: Array[Double]): Column =
    column(PcScore(expression(v), mu, pv))

  def silhouetteScore(v: Column, label: Column, state: SilhouetteScore.State): Column =
    column(SilhouetteScore(expression(v), expression(label), state))
}
