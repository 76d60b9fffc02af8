package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over two array<double> columns.
  *
  * The built-in route — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
  * is a higher-order function: interpreted per element, never enters
  * whole-stage codegen, and allocates an intermediate array per row.
  * For pairwise similarity (millions of pairs × 64 dims) that is the
  * dominant cost; this expression compiles to a tight primitive loop
  * (~50× less per-element overhead) with identical left-to-right IEEE
  * summation, so DuckDB's list_dot_product oracle still matches.
  *
  * Null elements are treated as 0 (the embeddings corpus has none).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are array<double> by construction (callers cast); no
  // ExpectsInputTypes — AbstractDataType is private[sql].
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
            $s += $a.getDouble($i) * $b.getDouble($i);
          }
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 60-bit count-weighted SimHash over an array<string> of tokens.
  *
  * Replaces a nested aggregate/zip_with fold (interpreted: tokens × 60
  * bits × tree-walk ≈ 30M ops at sf0.1 = 6.7 s) with one tight JVM
  * loop per row (~0.5 s). Bit-for-bit identical to the portable
  * formula the DuckDB oracle uses: token hash = first 15 md5 hex chars
  * of "s:<token>" as a long; bit b set iff the count-weighted ±1 sum of
  * hash-bit b is > 0.
  *
  * CodegenFallback: the md5 loop dominates, codegen'ing the wrapper
  * would not pay for breaking the surrounding span.
  */
case class SimHash60(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val md = java.security.MessageDigest.getInstance("MD5")
    val counters = new Array[Long](60)
    var i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i)) {
        val tok = toks.getUTF8String(i).toString
        md.reset()
        val digest = md.digest(("s:" + tok).getBytes("UTF-8"))
        // first 15 hex chars = first 7 bytes + high nibble of byte 8
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
        h = (h << 4) | ((digest(7) & 0xf0L) >> 4)
        var bit = 0
        while (bit < 60) {
          counters(bit) += (((h >> bit) & 1L) * 2L) - 1L
          bit += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 60) {
      if (counters(bit) > 0) sig |= 1L << bit
      bit += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word n-gram shingles of an array<string> of tokens, as one tight
  * loop per row. `distinct = true` (the `graft_shingles` registration)
  * dedups with first-occurrence order — equivalent to
  * `array_distinct(transform(sequence(1, size-n+1),
  * i -> concat_ws(' ', toks[i..i+n-1])))` — which, being a nested
  * higher-order function, is interpreted per element and dominated
  * ngram dedup runtime. `distinct = false` (`graft_grams`) keeps every
  * occurrence in order, for operators that need true per-gram counts
  * (e.g. repetition's top-bigram share, where deduping would make every
  * count 1).
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = if (distinct) "graft_shingles" else "graft_grams"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val out: java.util.Collection[org.apache.spark.unsafe.types.UTF8String] =
      if (distinct) new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
      else new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String](math.max(0, m - n + 1))
    var i = 0
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    while (i + n <= m) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var k = 0
      while (k < n) {
        parts(k) = if (toks.isNullAt(i + k))
          org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
        else toks.getUTF8String(i + k)
        k += 1
      }
      out.add(org.apache.spark.unsafe.types.UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(Array.empty[AnyRef]))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Seeded md5 hashes of every word n-gram of an array<string>, one
  * tight loop per row — array<long>, position-aligned with the grams.
  *
  * Value-identical to `transform(sequence(1, size-n+1),
  * i -> md5Long(seed, concat_ws(' ', toks[i..i+n-1])))` — hash = first
  * 15 md5 hex chars of "<seed>:<gram>" as a long, exactly
  * Portable.md5Long — but never materialises the gram strings as rows:
  * the HOF form is interpreted per element AND ships ~n× the corpus
  * text into the explode (the r8 q_dup_spans regression, 2.3 → 4.0 s);
  * here each gram string exists only transiently in a reused buffer.
  * Oracle side is unchanged: DuckDB hashes the same joined string.
  */
case class GramHashes(child: Expression, n: Int, seed: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val cnt = m - n + 1
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val strs = new Array[String](m)
    var i = 0
    while (i < m) {
      strs(i) = if (toks.isNullAt(i)) "" else toks.getUTF8String(i).toString
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder()
    val out = new Array[Long](cnt)
    var p = 0
    while (p < cnt) {
      sb.setLength(0)
      sb.append(seed).append(':')
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(strs(p + k))
        k += 1
      }
      md.reset()
      val digest = md.digest(sb.toString.getBytes("UTF-8"))
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      out(p) = (h << 4) | ((digest(7) & 0xf0L) >> 4)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprints of a string in one pass: k-gram (k=5)
  * rolling md5 hashes over the lowercased text, minimum of each
  * 4-hash window, distinct — returned as array<long>.
  *
  * The value set is bit-identical to the explode→groupBy(doc, window)
  * →min→distinct plan (and the DuckDB oracle), but runs map-only:
  * no shuffle at all, where the relational shape needs two. Hash =
  * first 15 md5 hex chars of "f:<gram>", exactly Portable.md5Long.
  */
case class Winnow(child: Expression)
    extends UnaryExpression with CodegenFallback {

  private val K = 5 // gram length
  private val W = 4 // window (hashes per window)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.toLowerCase(java.util.Locale.ROOT)
    val n = text.length
    if (n < K + W - 1) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val m = n - K + 1
    val hashes = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.reset()
      val digest = md.digest(("f:" + text.substring(i, i + K)).getBytes("UTF-8"))
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      hashes(i) = (h << 4) | ((digest(7) & 0xf0L) >> 4)
      i += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j + W <= m) {
      var mn = hashes(j)
      var k = 1
      while (k < W) { if (hashes(j + k) < mn) mn = hashes(j + k); k += 1 }
      out.add(mn)
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = it.next(); p += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Forward-fill a fixed slot grid from a sparse (slot -> value) map:
  * out[k] = value at the greatest j <= k present in the map (null
  * before the first present slot). One pass per row — replaces a
  * grid-join + last(ignoreNulls) window whose sort/join costs scale
  * with slots × rows (measured 5.5 s -> ~1 s at sf0.1 for gap-fill),
  * where this is O(slots) per (group) row with no join and no window.
  */
case class ForwardFill(child: Expression, slots: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_ffill"

  override def nullSafeEval(input: Any): Any = {
    val m = input.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    val keys = m.keyArray()
    val vals = m.valueArray()
    val present = new Array[Boolean](slots)
    val slot = new Array[Double](slots)
    var i = 0
    while (i < m.numElements()) {
      val k = keys.getInt(i)
      if (k >= 0 && k < slots && !vals.isNullAt(i)) {
        present(k) = true
        slot(k) = vals.getDouble(i)
      }
      i += 1
    }
    val out = new Array[Any](slots)
    var cur: Any = null
    var k = 0
    while (k < slots) {
      if (present(k)) cur = slot(k)
      out(k) = cur
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-k rows of a fixed coefficient matrix by dot product with the
  * input vector, returned as their ids — the IVF cell assignment /
  * probe primitive.
  *
  * Replaces `array_max(array(struct(graft_dot(v, lit...), i), ...))` /
  * `slice(sort_array(...), 1, k)` over C per-centroid structs: that
  * shape allocates C structs PER ROW, and its expression tree grows
  * with C (C ≈ √N means hundreds of array literals — codegen gives up
  * and the whole span drops to interpreted eval). Here the matrix
  * lives once in the expression (closure state, not plan literals) and
  * each row costs one C×dim primitive loop plus an O(k·C) selection —
  * the same result under the same order: score desc, then row id desc
  * (matching the struct comparison ties of the array_max/sort_array
  * form).
  *
  * `ids(r)` maps matrix row r to the emitted id (identity for a flat
  * index; the member-cell subset for hierarchical IVF).
  */
case class TopCells(child: Expression, matrix: Array[Array[Double]],
    k: Int, ids: Array[Int])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_top_cells"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val c = matrix.length
    val dots = new Array[Double](c)
    var r = 0
    while (r < c) {
      val row = matrix(r)
      val n = math.min(v.numElements(), row.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) s += v.getDouble(i) * row(i)
        i += 1
      }
      dots(r) = s
      r += 1
    }
    val kk = math.min(k, c)
    val out = new Array[Int](kk)
    val used = new Array[Boolean](c)
    var j = 0
    while (j < kk) {
      var best = -1
      var bp = Double.NegativeInfinity
      var q = 0
      while (q < c) {
        // >= : equal scores resolve to the higher row id, matching
        // max/sort_array over struct(p, c) ties
        if (!used(q) && dots(q) >= bp) { bp = dots(q); best = q }
        q += 1
      }
      used(best) = true
      out(j) = ids(best)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass parse of a 50-field traffic CSV reading (the hot inner
  * loop of `Traffic.extractLanes` — reference ExtractFlowInfoFn,
  * TrafficMaxLaneFlow.java:205-233).
  *
  * Replaces `split` + 8 × (concat_ws + rlike) + a fixed 8-struct array
  * + slice with a single scan over the line: the relational shape
  * builds ~60 intermediate UTF8Strings and runs 8 compiled-regex
  * matches per line (measured ≈2.3 s of the 3.4 s extract at sf0.1);
  * this loop splits once and validates digits char-wise. Semantics are
  * identical: a lane is valid iff its (flow, occupancy, speed) triple
  * is all-digit and present (an out-of-range index is invalid, matching
  * the null-killed concat_ws + `^[0-9]+,...$` regex), lanes stop at the
  * FIRST invalid triple, and a line with fewer than 48 fields returns
  * null.
  *
  * The timestamp is parsed here too — strict `MM/dd/yyyy HH:mm:ss`
  * (fixed zero-padded positions, calendar-validated via
  * `LocalDateTime.of`, resolved in the session timezone) → epoch
  * micros, null on any mismatch. `try_to_timestamp` with the same
  * pattern was the single largest extract cost (≈1.0 s of 2.3 s at
  * sf0.1 — DateTimeFormatter per row); field arithmetic produces the
  * identical instant for every parseable reading and rejects the
  * reference's malformed-timestamp injections (dashed separators)
  * exactly like the parse-and-drop path
  * (TrafficMaxLaneFlow.java:215-222).
  *
  * Returns struct(ts_us, station, direction, freeway, total,
  * lanes: array<struct<i, flow, ao, asp>>).
  */
case class ExtractReading(child: Expression, sessionZone: String)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = ExtractReading.schema
  override def prettyName: String = "graft_extract_reading"

  @transient private lazy val zone = java.time.ZoneId.of(sessionZone)

  /** Parse field bytes [from, until) as a non-negative long; -1 when
    * empty or any byte is not an ASCII digit (field lengths in this
    * format are far below overflow range). */
  private def digitsToLong(bytes: Array[Byte], from: Int, until: Int): Long = {
    if (until <= from) return -1L
    var v = 0L
    var i = from
    while (i < until) {
      val b = bytes(i)
      if (b < '0' || b > '9') return -1L
      v = v * 10 + (b - '0')
      i += 1
    }
    v
  }

  /** Strict fixed-format parse on raw bytes; Long.MinValue = malformed. */
  private def parseTsMicrosBytes(bytes: Array[Byte], from: Int, until: Int): Long = {
    if (until - from != 19) return Long.MinValue
    def at(p: Int) = bytes(from + p)
    if (at(2) != '/' || at(5) != '/' || at(10) != ' ' || at(13) != ':' || at(16) != ':')
      return Long.MinValue
    var i = 0
    while (i < 19) {
      if (i != 2 && i != 5 && i != 10 && i != 13 && i != 16) {
        val b = at(i)
        if (b < '0' || b > '9') return Long.MinValue
      }
      i += 1
    }
    def d2(p: Int) = (at(p) - '0') * 10 + (at(p + 1) - '0')
    val yr = d2(6) * 100 + d2(8)
    try {
      java.time.LocalDateTime
        .of(yr, d2(0), d2(3), d2(11), d2(14), d2(17))
        .atZone(zone).toInstant.getEpochSecond * 1000000L
    } catch { case _: java.time.DateTimeException => Long.MinValue }
  }

  // The line is parsed directly off the UTF8String bytes: one boundary
  // scan, then per-field byte-range parses. The earlier
  // toString + split(",", -1) shape allocated ~60 objects per row (the
  // String, 50 field Strings, the array) — under full-run heap
  // pressure that allocation rate, not CPU, dominated the stage.
  // Only the 3 emitted string fields and the lane rows allocate now.
  private val MaxFields = 50

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    // field boundary scan: starts(k) = first byte of field k; a field
    // k spans [starts(k), ends(k))
    val starts = new Array[Int](MaxFields)
    val ends = new Array[Int](MaxFields)
    var field = 0
    var p = 0
    starts(0) = 0
    while (p <= bytes.length && field < MaxFields) {
      if (p == bytes.length || bytes(p) == ',') {
        ends(field) = p
        field += 1
        if (field < MaxFields) starts(field) = p + 1
      }
      p += 1
    }
    // fields beyond MaxFields exist iff we stopped early with bytes left;
    // total count only matters for the >= 48 floor
    if (field < 48) return null
    val lanes = new scala.collection.mutable.ArrayBuffer[InternalRow](8)
    var i = 1
    var stop = false
    while (i <= 8 && !stop) {
      val base = 6 + i * 5 // 0-based index of field 7 + i*5
      if (base + 2 >= field) stop = true
      else {
        val flow = digitsToLong(bytes, starts(base), ends(base))
        val ao = digitsToLong(bytes, starts(base + 1), ends(base + 1))
        val asp = digitsToLong(bytes, starts(base + 2), ends(base + 2))
        if (flow < 0 || ao < 0 || asp < 0) stop = true
        else {
          lanes += InternalRow(i, flow, ao, asp)
          i += 1
        }
      }
    }
    val tsUs = parseTsMicrosBytes(bytes, starts(0), ends(0))
    def str(k: Int) =
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, starts(k), ends(k)))
    val total = digitsToLong(bytes, starts(7), ends(7))
    InternalRow(
      if (tsUs == Long.MinValue) null else tsUs,
      str(1),
      str(3),
      str(2),
      if (total < 0) null else total,
      new GenericArrayData(lanes.toArray[Any]))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All unordered pairs (p1 < p2 by position) of a SORTED array<long>
  * — the C63/C106 in-basket pair generation, one tight loop per
  * basket. Replaces the sized-basket SELF-JOIN (`a JOIN b ON a.bid =
  * b.bid AND a.item < b.item`): the join machinery hash-builds and
  * probes every basket against itself (b² row comparisons through
  * join code paths) and evaluates the `sized` subtree a second time
  * where exchange reuse misses; here each basket emits its ≤
  * C(64,2) = 2016 pair structs in one allocation-bounded loop, feeding
  * the same (p1, p2) count aggregate. Input is sorted + distinct by
  * construction (sort_array over a distinct collect), so p1 < p2 holds
  * by value and each unordered pair appears exactly once — identical
  * multiset to the self-join. CodegenFallback: allocation-dominated.
  */
case class PairCombos(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p1", LongType, nullable = false),
    StructField("p2", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_pair_combos"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(x, a.getLong(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bucket index of a double key against a SORTED, DISTINCT boundary
  * array: the count of boundaries strictly below the key — exactly the
  * `Σ [key > b]` fold the C48 two-phase rank used to build as a
  * boundary-count when-chain, replaced because the chain is O(parts)
  * per row and parts now tracks `defaultParallelism` (thousands on a
  * real cluster, where a thousands-deep expression tree breaks codegen
  * method limits). Binary search: O(log parts) per row, one tight
  * codegen'd call. The array is driver-computed bounded state (one
  * double per bucket boundary), carried as a codegen reference object,
  * never a column. */
case class BoundaryBucket(child: Expression, bounds: Array[Double])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bucket"

  override def nullSafeEval(input: Any): Any = {
    val r = java.util.Arrays.binarySearch(bounds, input.asInstanceOf[Double])
    if (r >= 0) r else -r - 1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bounds", bounds, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
        int $r = java.util.Arrays.binarySearch($ref, (double) $c);
        ${ev.value} = ($r >= 0) ? $r : -$r - 1;
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The [[Portable.md5Long]] fast path: first 60 bits of md5(input) as
  * a non-negative long, read STRAIGHT OFF THE DIGEST. Bit-identical to
  * the classic chain `conv(substring(md5(x), 1, 15), 16, 10)` — 15 hex
  * chars = bytes 0–6 plus the high nibble of byte 7, big-endian — but
  * skips the 32-char hex materialization, the substring, and conv's
  * arbitrary-base string parse (three UTF8String allocations per call;
  * md5-dense operators make up to 13 calls per row). The digest object
  * is thread-cached — Spark's own Md5 expression re-creates one per
  * call via DigestUtils. */
object Md5Long60 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** Raw 16-byte md5 digest through the thread-cached instance. */
  def digest(bytes: Array[Byte]): Array[Byte] = {
    val m = md.get()
    m.reset()
    m.digest(bytes)
  }
  def eval(bytes: Array[Byte]): Long = {
    val d = digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }
}

case class Md5Long60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5long60"

  override def nullSafeEval(input: Any): Any =
    Md5Long60.eval(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  // NB: the companion's eval(byte[]) gets NO static forwarder on the
  // class (the case class already has Expression.eval), so generated
  // code must go through MODULE$ — `Md5Long60.eval(bytes)` resolves to
  // the instance method in Janino and fails to compile, silently
  // degrading every projection containing this expression to
  // interpreted mode (found in the r12 test-log sweep)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Long60$$.MODULE$$.eval($c.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The C56 bootstrap's four Poisson draws per digest, read straight
  * off the md5 bytes. Bit-identical to the classic per-slice chain
  * `conv(substring(md5(seed), sl*7+1, 7), 16, 10)` — slice sl's
  * 28-bit uniform is hex chars [7·sl, 7·sl+7) of the digest, i.e.
  * nibbles big-endian — followed by the ascending-threshold count
  * `Σ [u ≥ t]`, but skips the 32-char hex materialization and four
  * arbitrary-base string parses per digest. Thresholds are a foldable
  * array literal (the Poisson(1) CDF grid — bounded model state). */
object BootWeights {
  def eval(bytes: Array[Byte], thresholds: Array[Long]): ArrayData = {
    val d = Md5Long60.digest(bytes)
    val out = new Array[Long](4)
    var sl = 0
    while (sl < 4) {
      var u = 0L
      var k = 7 * sl
      val end = k + 7
      while (k < end) {
        val b = d(k >> 1) & 0xff
        u = (u << 4) | (if ((k & 1) == 0) b >>> 4 else b & 0xf)
        k += 1
      }
      // thresholds ascend (a CDF grid), so the first miss ends the count
      var w = 0L
      var t = 0
      while (t < thresholds.length && u >= thresholds(t)) { w += 1; t += 1 }
      out(sl) = w
      sl += 1
    }
    ArrayData.toArrayData(out)
  }
}

case class BootWeights(child: Expression, thresholds: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_boot_w"

  override def nullSafeEval(input: Any): Any =
    BootWeights.eval(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes,
      thresholds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("thresholds", thresholds, "long[]")
    // MODULE$ for the same reason as Md5Long60: the case class's
    // Expression.eval suppresses the companion's static forwarder
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BootWeights$$.MODULE$$.eval($c.getBytes(), $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The L82/L83 integer squared-L2 argmin — [min dist, 1-based argmin]
  * of a BIGINT coordinate vector against a literal centroid matrix, as
  * ONE primitive loop per row.
  *
  * Replaces `transform(centsLit, c -> aggregate(zip_with(xi, c,
  * (a,b) -> (a-b)*(a-b)), 0L, +))` + `array_min` + `array_position` —
  * NESTED higher-order functions interpreted per element (the known
  * O(k·d) interpreted-walk cost, PcScore posture). Parity with the HOF
  * chain, corner by corner (property-spec-pinned):
  *  - centroids all share length d; if xi's length differs, zip_with
  *    pads with nulls → every per-centroid sum is null → array_min is
  *    null → null result. Same for any null element of xi.
  *  - ANSI long arithmetic REJECTS overflow (`(a-b)*(a-b)` + sum throw
  *    SparkArithmeticException), so the loop uses add/multiplyExact —
  *    identical values in range, and the overflow regime (reachable
  *    only past |coord| ≈ 3e17, i.e. |x| ≈ 3e11 before scaling — far
  *    outside the embedding domain) errors in both paths instead of
  *    silently diverging.
  *  - array_min skips nulls; array_position returns the FIRST index
  *    equal to the min → strict `<` keeping the earliest minimum.
  *
  * The centroid matrix is driver-computed bounded model state (K×d
  * longs), carried as a codegen reference object — never a plan
  * literal (TopCells/PcScore posture). */
object KmDist {
  def eval(v: ArrayData, cents: Array[Array[Long]]): Any = {
    val k = cents.length
    if (k == 0) return null
    val d = cents(0).length
    if (v.numElements() != d) return null
    var i = 0
    while (i < d) { if (v.isNullAt(i)) return null; i += 1 }
    var best = 0L
    var bestIdx = -1
    var c = 0
    while (c < k) {
      val cc = cents(c)
      var s = 0L
      i = 0
      while (i < d) {
        val diff = Math.subtractExact(v.getLong(i), cc(i))
        s = Math.addExact(s, Math.multiplyExact(diff, diff))
        i += 1
      }
      if (bestIdx < 0 || s < best) { best = s; bestIdx = c }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(best, (bestIdx + 1).toLong))
  }
}

case class KmDist(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_km_dist"

  override def nullSafeEval(input: Any): Any =
    KmDist.eval(input.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "long[][]")
    // MODULE$: the case class's Expression.eval suppresses the
    // companion's static forwarder (the Md5Long60 Janino gotcha)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
        Object $r = graft.functions.KmDist$$.MODULE$$.eval($c, $ref);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $r; }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The L87/q_top_component projection — score = Σᵢ dec6(round((v[i] −
  * mu[i]) · pv[i], 6)) accumulated as DECIMAL(28,6), released DOUBLE —
  * as ONE primitive loop per row.
  *
  * Replaces `aggregate(sequence(1, 64), 0::decimal(28,6), (acc, i) =>
  * (acc + round((v[i]-mu[i])*pv[i], 6)::decimal(18,6))::decimal(28,6))`
  * — a higher-order function interpreted per element that walks a
  * 64-step decimal expression tree per row (the dominant cost of the
  * projection pass). Bit-parity with the HOF chain, step by step:
  * round(double, 6) = BigDecimal.valueOf(d).setScale(6, HALF_UP)
  * .doubleValue (Spark RoundBase); double → DECIMAL(18,6) cast =
  * valueOf(d).setScale(6, HALF_UP), null when integer digits exceed 12
  * (non-ANSI overflow → null acc → null result); the decimal(28,6) sum
  * is exact integer micros (never overflows 28 digits at 64 terms, but
  * CAN exceed a long on adversarial inputs — retried in BigInteger);
  * DECIMAL(28,6) → DOUBLE = BigDecimal.doubleValue. A short or
  * null-holed vector yields null (element_at out of range → null).
  *
  * mu / pv are driver-computed bounded model state (64 doubles each),
  * carried as codegen reference objects — they never appear as plan
  * literals (TopCells posture).
  */
object PcScore {
  def eval(v: ArrayData, mu: Array[Double], pv: Array[Double]): Any = {
    val n = mu.length
    if (v.numElements() < n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val rounded = java.math.BigDecimal
        .valueOf((v.getDouble(i) - mu(i)) * pv(i))
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
      val t = java.math.BigDecimal.valueOf(rounded)
        .setScale(6, java.math.RoundingMode.HALF_UP)
      if (t.precision - t.scale > 12) return null // decimal(18,6) overflow
      val u = t.unscaledValue().longValueExact()
      val s = acc + u
      // overflow of the long carrier (not of decimal(28,6)): redo in BigInteger
      if (((acc ^ s) & (u ^ s)) < 0L) return evalBig(v, mu, pv)
      acc = s
      i += 1
    }
    java.math.BigDecimal.valueOf(acc, 6).doubleValue()
  }

  private def evalBig(v: ArrayData, mu: Array[Double], pv: Array[Double]): Any = {
    val n = mu.length
    var acc = java.math.BigInteger.ZERO
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val rounded = java.math.BigDecimal
        .valueOf((v.getDouble(i) - mu(i)) * pv(i))
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
      val t = java.math.BigDecimal.valueOf(rounded)
        .setScale(6, java.math.RoundingMode.HALF_UP)
      if (t.precision - t.scale > 12) return null
      acc = acc.add(t.unscaledValue())
      i += 1
    }
    new java.math.BigDecimal(acc, 6).doubleValue()
  }
}

case class PcScore(child: Expression, mu: Array[Double], pv: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pc_score"

  override def nullSafeEval(input: Any): Any =
    PcScore.eval(input.asInstanceOf[ArrayData], mu, pv)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("mu", mu, "double[]")
    val pvRef = ctx.addReferenceObj("pv", pv, "double[]")
    // MODULE$: the case class's Expression.eval suppresses the
    // companion's static forwarder (the Md5Long60 Janino gotcha)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
        Object $r = graft.functions.PcScore$$.MODULE$$.eval($c, $muRef, $pvRef);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Double) $r).doubleValue(); }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The L153/q_silhouette per-point pass — (misassigned flag, silhouette
  * s) against a bounded (labels × dims) class-sum matrix — as ONE call
  * per row.
  *
  * Replaces the relational shape (posexplode → broadcast-join the
  * class-sum frame on dim → corpus×|labels| partial rows → two
  * corpus-keyed aggregates (xx, dots) → 3 joins → ab aggregate): the
  * class matrix (Σ v6 per (label, dim), n_c, ss2_c) is alphabet-bounded
  * model state — collected once (the pcaPower/GramAggregator precedent)
  * and carried as a reference object, so the per-point pass is
  * map-side-only into the final |labels|-row aggregate.
  *
  * Bit-parity with the join chain, step by step:
  *  - v6 = (round(v, 6)::DECIMAL(18,6) · 1e6)::BIGINT — round-6 via
  *    BigDecimal.valueOf(d).setScale(6, HALF_UP) twice (RoundBase, then
  *    the decimal cast), null when integer digits exceed 12 (the
  *    non-ANSI cast-null contract, same as PcScore)
  *  - xx = Σ v6² (long, nulls skipped; null when all elements null)
  *  - per candidate label c (null labels never act as c — they drop at
  *    the old plan's nc join): the (point, c) group exists iff the
  *    point's dims overlap c's present dims (the inner d-join); dot =
  *    Σ v6·s6 over the overlap skipping null terms (null when none
  *    survive); q = (n²·xx − 2n·dot + ss2) div n² in BigInteger —
  *    decDiv ≡ divide because the numerator is a sum of squares ≥ 0
  *  - a NULL own label returns null overall: the old chain's dots ⋈ xx
  *    equi-join on (vec_id, label) never matches a null key, so
  *    null-label points were absent from the ab frame
  *  - aq = own label's q; bq = min q over other labels, nulls skipped
  *  - mis = (bq < aq)::BIGINT (null-propagating); s replays
  *    sqrt(aq::DOUBLE / 1e12) with DECIMAL(38,0)::DOUBLE ≡
  *    BigDecimal.doubleValue, greatest-skips-nulls, the `greatest = 0 →
  *    0.0` branch, and Spark's round-on-double
  *  - a null or EMPTY embedding returns null overall (the point never
  *    entered the explode, so it was absent from the old ab frame) —
  *    callers filter these rows before the final aggregate.
  *
  * CodegenFallback: the per-row cost is the |labels|×dims loop and a
  * handful of BigInteger ops — the interpreted wrapper is noise
  * (SimHash60 posture), and the fallback is declared, not silent.
  */
object SilhouetteScore {
  /** Bounded class-matrix state: arrays indexed by candidate-label
    * ordinal; per label, dim-indexed presence/value/null triples (a dim
    * is "present" iff the class-sum frame has a row for it, even a
    * null-valued one — presence drives the inner-join existence
    * semantics, nullness the term-skip semantics). */
  final class State(
      val labels: Array[Long],
      val nc: Array[Long],
      val present: Array[Array[Boolean]],
      val s6: Array[Array[Long]],
      val s6null: Array[Array[Boolean]],
      val ss2: Array[java.math.BigInteger]) extends Serializable {
    @transient lazy val n2: Array[java.math.BigInteger] =
      nc.map(n => java.math.BigInteger.valueOf(n).pow(2))
    @transient lazy val ownIdx: java.util.HashMap[java.lang.Long, Integer] = {
      val m = new java.util.HashMap[java.lang.Long, Integer]()
      var i = 0
      while (i < labels.length) { m.put(labels(i), i); i += 1 }
      m
    }
  }

  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def eval(v: ArrayData, lab: java.lang.Long, st: State): Any = {
    import java.math.BigInteger
    val m = v.numElements()
    if (m == 0 || lab == null) return null
    val v6 = new Array[Long](m)
    val v6n = new Array[Boolean](m)
    var xxAcc = 0L
    var xxBig: BigInteger = null
    var xxCnt = 0
    var i = 0
    while (i < m) {
      if (v.isNullAt(i)) v6n(i) = true
      else {
        val r = java.math.BigDecimal.valueOf(v.getDouble(i))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val t = java.math.BigDecimal.valueOf(r)
          .setScale(6, java.math.RoundingMode.HALF_UP)
        if (t.precision - t.scale > 12) v6n(i) = true
        else {
          val u = t.unscaledValue().longValueExact()
          v6(i) = u
          // past the long carrier (|u| > ~3.04e9, or ~64 dims of
          // magnitude ~3.8e8 in micro-units): continue exact in
          // BigInteger — the same retry the dot loop below uses (r12
          // advice: an uncaught ArithmeticException here killed the
          // whole query, while the oracle's HUGEINT sum stays exact)
          if (xxBig == null) {
            try xxAcc = Math.addExact(xxAcc, Math.multiplyExact(u, u))
            catch { case _: ArithmeticException =>
              xxBig = BigInteger.valueOf(xxAcc)
                .add(BigInteger.valueOf(u).multiply(BigInteger.valueOf(u)))
            }
          } else {
            xxBig = xxBig
              .add(BigInteger.valueOf(u).multiply(BigInteger.valueOf(u)))
          }
          xxCnt += 1
        }
      }
      i += 1
    }
    val xxB =
      if (xxCnt == 0) null
      else if (xxBig != null) xxBig
      else BigInteger.valueOf(xxAcc)
    // a non-null-label point with m ≥ 1 always contributed to the
    // class-sum frame under its own label, so own ≥ 0 whenever the
    // state was built from the same corpus; the guard is defensive
    val own = { val o = st.ownIdx.get(lab); if (o == null) -1 else o.intValue() }
    var aq: BigInteger = null
    var bq: BigInteger = null
    var ci = 0
    while (ci < st.labels.length && own >= 0) {
      val pres = st.present(ci)
      val sv = st.s6(ci)
      val sn = st.s6null(ci)
      val dmax = math.min(m, pres.length)
      var overlap = false
      var dotAcc = 0L
      var dotCnt = 0
      var dotBig: BigInteger = null
      var d = 0
      while (d < dmax) {
        if (pres(d)) {
          overlap = true
          if (!v6n(d) && !sn(d)) {
            if (dotBig == null) {
              try dotAcc = Math.addExact(dotAcc, Math.multiplyExact(v6(d), sv(d)))
              catch { case _: ArithmeticException =>
                dotBig = BigInteger.valueOf(dotAcc)
                  .add(BigInteger.valueOf(v6(d)).multiply(BigInteger.valueOf(sv(d))))
              }
            } else {
              dotBig = dotBig
                .add(BigInteger.valueOf(v6(d)).multiply(BigInteger.valueOf(sv(d))))
            }
            dotCnt += 1
          }
        }
        d += 1
      }
      if (overlap) {
        val dot =
          if (dotCnt == 0) null
          else if (dotBig != null) dotBig
          else BigInteger.valueOf(dotAcc)
        val q: BigInteger =
          if (xxB == null || dot == null || st.ss2(ci) == null) null
          else {
            val n = BigInteger.valueOf(st.nc(ci))
            st.n2(ci).multiply(xxB)
              .subtract(n.shiftLeft(1).multiply(dot))
              .add(st.ss2(ci))
              .divide(st.n2(ci))
          }
        if (ci == own) aq = q
        else if (q != null && (bq == null || q.compareTo(bq) < 0)) bq = q
      }
      ci += 1
    }
    val mis: Any =
      if (aq == null || bq == null) null
      else java.lang.Long.valueOf(if (bq.compareTo(aq) < 0) 1L else 0L)
    val sa: java.lang.Double =
      if (aq == null) null
      else java.lang.Double.valueOf(
        math.sqrt(new java.math.BigDecimal(aq).doubleValue() / 1e12))
    val sb: java.lang.Double =
      if (bq == null) null
      else java.lang.Double.valueOf(
        math.sqrt(new java.math.BigDecimal(bq).doubleValue() / 1e12))
    val g: java.lang.Double =
      if (sa == null) sb
      else if (sb == null) sa
      else java.lang.Double.valueOf(math.max(sa.doubleValue(), sb.doubleValue()))
    val s: Any =
      if (g == null) null
      else if (g.doubleValue() == 0.0) java.lang.Double.valueOf(0.0)
      else if (sa == null || sb == null) null
      else java.lang.Double.valueOf(round6((sb.doubleValue() - sa.doubleValue()) / g.doubleValue()))
    org.apache.spark.sql.catalyst.InternalRow(mis, s)
  }
}

case class SilhouetteScore(left: Expression, right: Expression,
    state: SilhouetteScore.State)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("mis", LongType, nullable = true),
    StructField("s", DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sil_score"

  // manual eval: a NULL label is a live input (it yields a present row
  // with null mis/s), so nullSafeEval's any-null short-circuit is wrong
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) return null
    val lab = right.eval(input)
    SilhouetteScore.eval(
      v.asInstanceOf[ArrayData],
      if (lab == null) null else java.lang.Long.valueOf(lab.asInstanceOf[Long]),
      state)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ExtractReading {
  val schema: StructType = StructType(Seq(
    StructField("ts_us", LongType),
    StructField("station", StringType),
    StructField("direction", StringType),
    StructField("freeway", StringType),
    StructField("total", LongType),
    StructField("lanes", ArrayType(StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("flow", LongType, nullable = false),
      StructField("ao", LongType, nullable = false),
      StructField("asp", LongType, nullable = false))), containsNull = false))))
}
