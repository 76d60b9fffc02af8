package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy merge-rule byte-pair encoding (SURVEY §2.3 L33) — the real
  * BPE algorithm (Sennrich et al. 2016), not the regex token-count
  * proxy of L10: start from the word's characters, repeatedly find the
  * LOWEST-RANK adjacent pair present in the token sequence and merge
  * all its leftmost-nonoverlapping occurrences, stop when no rule
  * applies. This is exactly the inference loop of every deployed BPE
  * tokenizer; the only difference from GPT-2/SentencePiece is the
  * size of the merges table.
  *
  * Tokenizer-swap seam: [[Bpe.Merges]] is the entire model. A real
  * tokenizer loads its merges.txt into this same ranked pair list —
  * broadcast with the plan as literal closure state, the TopCells
  * pattern — and nothing else changes. The table here is a small,
  * deterministic English-frequency-ordered stand-in so the DuckDB
  * oracle can carry the identical table inline.
  */
object Bpe {

  /** Ranked merge rules (rank = index, lower merges first). */
  val Merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("e", "s"), ("s", "t"), ("a", "r"), ("o", "u"), ("an", "d"),
    ("in", "g"), ("o", "f"), ("t", "o"), ("i", "s"), ("i", "t"),
    ("a", "l"), ("e", "d"), ("c", "o"), ("d", "e"))

  val MergesIdx: IndexedSeq[(String, String)] = Merges.toIndexedSeq

  private val rank: Map[(String, String), Int] =
    Merges.zipWithIndex.map { case (p, i) => p -> i }.toMap

  /** Encode one word with the default table. */
  def encode(word: String): Array[String] = encodeWith(word, MergesIdx, rank)

  /** Encode one word with an ARBITRARY ranked merges table — the
    * tokenizer-swap seam made callable: a learned table (L33t's
    * bpeTrain output, or a real tokenizer's merges.txt) drops in here
    * with nothing else changing. Merge-all-occurrences is leftmost
    * non-overlapping in a single scan — the DuckDB oracle reproduces
    * it with two replace() passes over a separator-joined token string
    * (pass 1 merges every other occurrence of a consecutive run, pass
    * 2 the rest; isolated occurrences all land in pass 1), which is
    * provably the same result because a merge can never create a new
    * occurrence of its own single-token pattern. */
  def encodeWith(word: String, merges: IndexedSeq[(String, String)],
      rankOf: Map[(String, String), Int]): Array[String] = {
    var toks: Array[String] = Array.tabulate(word.length)(i => word.substring(i, i + 1))
    var continue = toks.length > 1
    while (continue) {
      var best = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = rankOf.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        val (a, b) = merges(best)
        val out = Array.newBuilder[String]
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == a && toks(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += toks(j); j += 1 }
        }
        toks = out.result()
        continue = toks.length > 1
      }
    }
    toks
  }
}

/** Precompiled merges table for the encode hot loop (r13, guide §4).
  *
  * The word stream every query feeds `graft_bpe` is
  * `regexp_extract_all(lower(text), '[a-z]+')`, so on the hot path a
  * token is always a lowercase-ASCII string, and the set of token
  * strings that can EVER exist during an encode is closed: the 26
  * single chars plus the merge outputs (a token is born a single char
  * and only changes by applying a rule). That closure lets the whole
  * greedy loop run over int SYMBOL IDS — the per-pair rank probe
  * becomes one flat-array read instead of a Tuple2 allocation + two
  * string hashes through a Map, and the merge pass rewrites an int
  * array in place instead of rebuilding an Array[String]. Output
  * tokens are the interned per-symbol UTF8Strings (immutable, safely
  * shared across rows). Words or tables touching anything outside
  * [a-z] take the original [[Bpe.encodeWith]] path — same result by
  * construction, pinned by the fast==generic property spec.
  */
final class BpeTable(val merges: IndexedSeq[(String, String)])
    extends Serializable {

  @transient private lazy val rankOf: Map[(String, String), Int] =
    merges.zipWithIndex.map { case (p, i) => p -> i }.toMap

  private def azOnly(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 'a' || c > 'z') return false
      i += 1
    }
    true
  }

  // ---- symbol interning (driver/executor-local, rebuilt lazily) ----
  // ids 0..25 = 'a'..'z'; then one id per distinct [a-z]+ rule output.
  @transient private lazy val state: (Array[UTF8String], Array[Int],
      Array[Int], Array[Int], Array[Int], Int) = {
    val symIdx = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    (0 until 26).foreach(i => symIdx(('a' + i).toChar.toString) = i)
    merges.foreach { case (a, b) =>
      val m = a + b
      if (azOnly(m) && !symIdx.contains(m)) symIdx(m) = symIdx.size
    }
    val v = symIdx.size
    val syms = new Array[UTF8String](v)
    symIdx.foreach { case (s, i) => syms(i) = UTF8String.fromString(s) }
    // rank table: LAST duplicate wins — Map(zipWithIndex) semantics
    val rank = Array.fill(v * v)(Int.MaxValue)
    val la = new Array[Int](merges.length)
    val rb = new Array[Int](merges.length)
    val mo = new Array[Int](merges.length)
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      (symIdx.get(a), symIdx.get(b)) match {
        case (Some(ia), Some(ib)) =>
          rank(ia * v + ib) = r
          la(r) = ia; rb(r) = ib; mo(r) = symIdx(a + b)
        case _ => la(r) = -1; rb(r) = -1; mo(r) = -1 // unreachable rule
      }
    }
    // duplicate pairs: the foreach writes in table order, so rank(p)
    // keeps the LAST index — Map(zipWithIndex) semantics preserved
    (syms, rank, la, rb, mo, v)
  }

  /** Hot-path encode: int-symbol greedy loop for pure [a-z] words,
    * generic fallback otherwise. Returns the expression's ArrayData. */
  def encode(word: UTF8String): GenericArrayData = {
    val (syms, rank, la, rb, mo, v) = state
    val nb = word.numBytes()
    var i = 0
    var asciiAz = true
    while (asciiAz && i < nb) {
      val b = word.getByte(i)
      if (b < 'a' || b > 'z') asciiAz = false
      i += 1
    }
    if (!asciiAz) return encodeGeneric(word)
    val ids = new Array[Int](nb)
    i = 0
    while (i < nb) { ids(i) = word.getByte(i) - 'a'; i += 1 }
    var len = nb
    var continue = len > 1
    while (continue) {
      var best = Int.MaxValue
      var j = 0
      while (j < len - 1) {
        val r = rank(ids(j) * v + ids(j + 1))
        if (r < best) best = r
        j += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        val a = la(best); val b = rb(best); val m = mo(best)
        var src = 0; var dst = 0
        while (src < len) {
          if (src < len - 1 && ids(src) == a && ids(src + 1) == b) {
            ids(dst) = m; src += 2
          } else { ids(dst) = ids(src); src += 1 }
          dst += 1
        }
        len = dst
        continue = len > 1
      }
    }
    val out = new Array[Any](len)
    var t = 0
    while (t < len) { out(t) = syms(ids(t)); t += 1 }
    new GenericArrayData(out)
  }

  private def encodeGeneric(word: UTF8String): GenericArrayData =
    new GenericArrayData(
      Bpe.encodeWith(word.toString, merges, rankOf)
        .map(UTF8String.fromString(_): Any))
}

/** `graft_bpe(word)` → array<string> of BPE tokens — one tight
  * int-symbol JVM loop per word through [[BpeTable]], codegen'd (was
  * CodegenFallback through the string/Map loop until r13; the BPE
  * metering stage is q_curation_web's hot loop, 2.2× faster on it —
  * OPTIMIZATION_r13.md, Wave 1). The merges table is constructor
  * state, so a LEARNED table rides with the plan as a Column built
  * through `VectorFunctions.bpe(word, merges)`; `BpeEncode(e)` keeps the
  * default table. */
case class BpeEncode(child: Expression,
    merges: IndexedSeq[(String, String)] = Bpe.MergesIdx)
    extends UnaryExpression {

  @transient private lazy val table: BpeTable = new BpeTable(merges)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe"

  override def nullSafeEval(input: Any): Any =
    table.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    // the table (not the Seq) rides as the reference object so the
    // interning work happens once per plan, not per row
    val ref = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeTable].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
