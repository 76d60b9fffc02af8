package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.functions.VectorFunctions

/** Statistical estimation operators: uncertainty quantification and
  * cardinality estimation for corpus metrics at 100 TB.
  *
  * Everything here follows the repo's exactness discipline: random
  * choices derive from md5 (portable, partitioning-independent),
  * moneyed sums aggregate as decimals (order-free), and the one IEEE
  * operation happens identically in both engines on identical inputs.
  */
object Stats {

  // ---- C56: Poisson-bootstrap confidence intervals ----
  // The distributed bootstrap. Classical bootstrap resamples n rows
  // WITH replacement B times — a coordinated global sample per
  // replicate, unusable when one machine cannot see the corpus. The
  // Poisson bootstrap replaces the multinomial resample with an
  // independent Poisson(1) weight PER (row, replicate): no
  // coordination, no global count needed up front, and the replicate
  // totals converge to the classical bootstrap distribution (the
  // standard large-scale formulation). Every weight is DETERMINISTIC
  // here: u = md5("boot<b>:<event_id>") is a 60-bit uniform, and the
  // weight is the count of Poisson(1) CDF thresholds (floor(cdf·2^60),
  // fixed BIGINT literals baked into both engines) lying at or below
  // u — pure integer comparisons, no floats anywhere near the draw,
  // identical on any engine, partitioning, or rerun. The tail is
  // truncated at weight 8 (P ≈ 1e-5, absorbed into the top bucket) —
  // part of the declared contract, mirrored by the oracle.
  //
  // Plan shape: the B-way fan-out rides the scan (projection is three
  // narrow columns) and partial aggregation absorbs it map-side, so
  // the exchange carries |event_type|·B rows — the corpus is read
  // once, never shuffled. The hashing is the bootstrap's honest CPU
  // price, amortized 4×: each md5 is 128 random bits, and one draw
  // only needs 28 exact bits (tail resolution 2^-28 ≪ the declared
  // 1e-5 truncation), so ONE hash funds FOUR draws — ceil(B/4) = 13
  // md5s per row, not 50 (measured 7.2 → 2.5 s at sf0.1, same
  // replicate semantics: distinct bit-ranges of a random function are
  // independent draws). Replicate means are exact-decimal sums
  // divided once in IEEE double; the CI is the exact interpolated
  // percentile over B=50 replicate means per group (a B-row frame —
  // bounded by construction).
  private[graft] val BootB = 50
  private[graft] val BootWeightCap = 8
  private val BootDrawBits = 28

  /** floor(CDF_Poisson(1)(k) · 2^28) for k = 0..7 — weight w is the
    * number of thresholds ≤ u, so w = k while cdf(k-1) ≤ u/2^28 <
    * cdf(k), truncated at [[BootWeightCap]]. */
  private[graft] val BootThresholds: Seq[Long] = {
    val scale = math.pow(2, BootDrawBits)
    var p = math.exp(-1.0)
    var c = 0.0
    (0 until BootWeightCap).map { k =>
      if (k > 0) p = p / k
      c += p
      (c * scale).toLong
    }
  }

  /** Poisson(1) weight of a 28-bit uniform column. */
  private[graft] def bootWeight(u: org.apache.spark.sql.Column) =
    BootThresholds.map(t => when(u >= lit(t), 1L).otherwise(0L)).reduce(_ + _)

  def bootstrapCi(events: DataFrame): DataFrame = {
    val base = events.select(col("event_type"), col("event_id"),
      round(col("value"), 6).cast("decimal(18,6)").as("v"))
    val point = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("v")).cast("double") / count(lit(1)), 6).as("mean"))
    // per digest, the four 28-bit draws AND their Poisson weights come
    // straight off the md5 bytes (graft_boot_w, codegen'd) — bit-equal
    // to the old md5-hex + conv(substring) + threshold-when chain, which
    // materialized a 32-char hex string per (row, group) and ran four
    // arbitrary-base string parses on it (B/4 digests × N rows); rows
    // with w = 0 are dropped BEFORE the aggregate (they contribute 0 to
    // both sums; a replicate's n > 0 gate is unchanged)
    val reps = base
      .select(col("event_type"), col("event_id"), col("v"),
        explode(sequence(lit(0), lit((BootB + 3) / 4 - 1))).as("g"))
      .select(col("event_type"), col("v"), col("g"),
        posexplode(VectorFunctions.bootWeights(concat(lit("boot"),
          col("g").cast("string"), lit(":"), col("event_id").cast("string")),
          BootThresholds.toArray))
          .as(Seq("sl", "w")))
      .withColumn("b", col("g") * 4 + col("sl"))
      .where(col("b") < BootB && col("w") > 0)
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("w")).as("n"), sum(col("v") * col("w")).as("s"))
      .where(col("n") > 0)
      .select(col("event_type"), col("n"),
        (col("s").cast("double") / col("n")).as("rep_mean"))
    val ci = reps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_reps"),
        round(expr("percentile(rep_mean, 0.025)"), 6).as("ci_lo"),
        round(expr("percentile(rep_mean, 0.975)"), 6).as("ci_hi"))
    point.join(ci, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("mean"),
        col("n_reps"), col("ci_lo"), col("ci_hi"))
  }

  val bootstrapCiSql: String = {
    val w = BootThresholds.map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH base AS (
  SELECT event_type, event_id, round(value, 6)::DECIMAL(18,6) AS v FROM events),
hashed AS (
  SELECT event_type, v, g.g, md5('boot' || g.g || ':' || event_id) AS h
  FROM base CROSS JOIN generate_series(0, ${(BootB + 3) / 4 - 1}) AS g(g)),
rep AS (
  SELECT event_type, v, g * 4 + s.sl AS b,
         ('0x' || substr(h, s.sl * 7 + 1, 7))::BIGINT AS u
  FROM hashed CROSS JOIN generate_series(0, 3) AS s(sl)
  WHERE g * 4 + s.sl < $BootB),
wtd AS (SELECT event_type, b, v, $w AS w FROM rep),
agg AS (
  SELECT event_type, b, sum(w)::BIGINT AS n, sum(v * w) AS s
  FROM wtd GROUP BY event_type, b),
reps AS (SELECT event_type, s::DOUBLE / n AS rep_mean FROM agg WHERE n > 0),
point AS (
  SELECT event_type, count(*) AS n_events,
         round(sum(v)::DOUBLE / count(*), 6) AS mean
  FROM base GROUP BY event_type),
ci AS (
  SELECT event_type, count(*) AS n_reps,
         round(quantile_cont(rep_mean, 0.025), 6) AS ci_lo,
         round(quantile_cont(rep_mean, 0.975), 6) AS ci_hi
  FROM reps GROUP BY event_type)
SELECT p.event_type, p.n_events, p.mean, c.n_reps, c.ci_lo, c.ci_hi
FROM point p JOIN ci c USING (event_type)"""
  }

  // ---- C54: join-cardinality estimation via CMS inner product ----
  // The planner statistic a 100 TB join needs BEFORE running it: will
  // |A ⋈ B| explode? Exact answer = Σ_k cntA(k)·cntB(k) — a full
  // aggregation of both sides. The sketch answer: build a count-min
  // sketch (d rows × w counters, the L41 machinery) over each side's
  // join key and take min_j Σ_i cellA[j][i]·cellB[j][i] — the classic
  // CMS inner-product estimate. Collisions only ADD mass, so the
  // estimate is ONE-SIDED: est ≥ exact always (spec-pinned), with
  // expected excess ≤ |A|·|B|/w per row. Plan shape per side: one
  // partial-agged groupBy(key) → d·w bounded cell grid (two tiny
  // shuffles); the comparison join of the two d×w grids is
  // constant-sized regardless of data volume. The exact join size is
  // computed beside the estimate so the oracle hash-proves the sketch
  // arithmetic AND the error ratio end-to-end.
  private val JsD = 4
  private val JsW = 1024L

  private def cmsCells(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        explode(array((0 until JsD).map(j => struct(lit(j.toLong).as("j"),
          pmod(md5Long(lit(s"js$j"), col("k").cast("string")), lit(JsW)).as("idx"))): _*)).as("h"))
      .select(col("h.j").as("j"), col("h.idx").as("idx"), col("cnt"))
      .groupBy(col("j"), col("idx")).agg(sum(col("cnt")).as("cell"))

  def joinSizeEst(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val a = cmsCells(orders, "o_orderkey").withColumnRenamed("cell", "cell_a")
    val b = cmsCells(lineitem, "l_orderkey").withColumnRenamed("cell", "cell_b")
    val est = a.join(b, Seq("j", "idx"))
      .groupBy(col("j")).agg(sum(col("cell_a") * col("cell_b")).as("dot"))
      .agg(min(col("dot")).as("est_size"))
    val exact = orders.select(col("o_orderkey").as("k"))
      .join(lineitem.select(col("l_orderkey").as("k")), Seq("k"))
      .agg(count(lit(1)).as("exact_size"))
    est.crossJoin(exact)
      .select(col("est_size"), col("exact_size"),
        round(col("est_size").cast("double") / col("exact_size"), 6).as("ratio"))
  }

  val joinSizeEstSql: String = {
    def cells(tbl: String, key: String) = {
      val hashes = (0 until JsD).map(j =>
        s"SELECT $j AS j, ${md5LongSql(s"'js$j'", "k")} % $JsW AS idx, cnt FROM ${tbl}_cnt")
        .mkString("\n    UNION ALL ")
      s"""${tbl}_cnt AS (SELECT $key AS k, count(*) AS cnt FROM $tbl GROUP BY $key),
${tbl}_cells AS (
  SELECT j, idx, sum(cnt)::BIGINT AS cell FROM (
    $hashes) GROUP BY j, idx)"""
    }
    s"""WITH ${cells("orders", "o_orderkey")},
${cells("lineitem", "l_orderkey")},
est AS (
  SELECT min(dot)::BIGINT AS est_size FROM (
    SELECT a.j, sum(a.cell * b.cell) AS dot
    FROM orders_cells a JOIN lineitem_cells b ON a.j = b.j AND a.idx = b.idx
    GROUP BY a.j)),
ex AS (
  SELECT count(*) AS exact_size
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
SELECT e.est_size, x.exact_size,
       round(e.est_size::DOUBLE / x.exact_size, 6) AS ratio
FROM est e CROSS JOIN ex x"""
  }

  // ---- C55: distributed Pareto skyline ----
  // The multi-criteria frontier ("no other order is both at least as
  // recent AND at least as expensive, one strictly"): the classic
  // skyline operator, whose naive form is a quadratic NOT EXISTS
  // self-join. Scale decomposition for 2-D: r is dominated iff
  // (a) some row on a strictly LATER date has price ≥ r's — captured
  // by M(d) = running max of per-date max price over later dates — or
  // (b) some row on the SAME date has price > r's — captured by the
  // per-date max E(d). So: one groupBy(date) produces the per-date
  // frame (bounded by the calendar, the C48 small-frame rule), the
  // running max is a window over THAT frame (never over data), and the
  // verdict joins back broadcast + map-only. No sort of the fact
  // table, no pairwise join, no cartesian — the oracle states the
  // quadratic dominance semantics directly and the hash gate re-proves
  // the decomposition. Ties: equal (date, price) duplicates dominate
  // neither way and all surface (spec-pinned). For continuous dims,
  // bucket the axis and add the C26-style in-bucket residual check —
  // the calendar date here IS the bucketing.
  def skyline(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = orders.select(col("o_orderkey"),
      round(col("o_totalprice"), 2).cast("decimal(18,2)").as("price"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("date_us"))
    val byDate = base.groupBy(col("date_us")).agg(max(col("price")).as("e"))
    val later = byDate.withColumn("m",
      max(col("e")).over(Window.orderBy(col("date_us").desc)
        .rowsBetween(Window.unboundedPreceding, -1)))
    base.join(broadcast(later), Seq("date_us"))
      .where((col("m").isNull || col("price") > col("m")) && col("price") === col("e"))
      .select(col("o_orderkey"), col("price").cast("double").as("price"), col("date_us"))
  }

  val skylineSql: String =
    """WITH base AS (
  SELECT o_orderkey, round(o_totalprice, 2)::DECIMAL(18,2) AS price,
         epoch_us(o_orderdate) AS date_us
  FROM orders)
SELECT o_orderkey, price::DOUBLE AS price, date_us
FROM base r
WHERE NOT EXISTS (
  SELECT 1 FROM base s
  WHERE s.price >= r.price AND s.date_us >= r.date_us
    AND (s.price > r.price OR s.date_us > r.date_us))"""

  // ---- L95: binned isotonic calibration (PAVA) ----
  // A quality classifier's raw scores are not probabilities; training
  // -data selection that thresholds on them (L44's budget select, L31's
  // classifier) wants CALIBRATED P(label | score). Isotonic regression
  // is the standard distribution-free calibrator, and its scale shape
  // here is two-level: scores collapse into ≤B fixed-width bins in ONE
  // partial-agged groupBy (the corpus never sorts), then
  // pool-adjacent-violators runs on the B-row bin frame as bounded
  // driver model state (the k-means/top-component precedent) with
  // EXACT BigInt rational comparisons — pooled means are compared by
  // cross-multiplication, so no float decides a pool. The fitted step
  // function is the released artifact (bin → calibrated prob); mapping
  // the corpus through it is a broadcast lookup, map-only.
  //
  // The oracle replays none of the sequential PAVA: it states the
  // CLOSED FORM the PAVA theorem guarantees — iso(i) = max_{k≤i}
  // min_{j≥i} mean(k..j) over prefix sums (the minimax
  // characterization of the unique isotonic fit) — as three small SQL
  // joins over the B-row frame, so the hash gate proves the pooling
  // algorithm against the mathematical definition, not against a
  // reimplementation of itself. Score = 'the'-token rate (a crude but
  // monotone Englishness signal); label = (lang = 'en').
  private val CalBins = 20

  /** PAVA over (n, pos) per ascending bin: returns the pooled block
    * (n, pos) each bin lands in. Exact rational comparisons. */
  private[graft] def pava(bins: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    case class Blk(n: BigInt, pos: BigInt, span: Int)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Blk]
    bins.foreach { case (n, pos) =>
      var cur = Blk(BigInt(n), BigInt(pos), 1)
      // pool while the previous block's mean exceeds the current's
      while (stack.nonEmpty && stack.last.pos * cur.n > cur.pos * stack.last.n) {
        val p = stack.remove(stack.length - 1)
        cur = Blk(p.n + cur.n, p.pos + cur.pos, p.span + cur.span)
      }
      stack += cur
    }
    stack.flatMap(b => Seq.fill(b.span)((b.n.toLong, b.pos.toLong))).toSeq
  }

  def calibrate(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = documents.select(
      when(col("lang") === "en", 1L).otherwise(0L).as("label"),
      (size(filter(toks, t => t === "the")).cast("double") /
        greatest(lit(1), size(toks))).as("score"))
      .select(col("label"),
        least(floor(col("score") * CalBins).cast("long"), lit(CalBins - 1L)).as("bin"))
    val binRows = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
      .orderBy(col("bin"))
      .collect() // ≤ CalBins rows — bounded model state
    val pooled = pava(binRows.map(r => (r.getLong(1), r.getLong(2))).toSeq)
    val sp = documents.sparkSession
    import sp.implicits._
    binRows.zip(pooled).map { case (r, (pn, pp)) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), pp.toDouble / pn.toDouble)
    }.toSeq.toDF("bin", "n", "pos", "cal")
      .withColumn("cal", round(col("cal"), 6)) // same rounding fn pair as every oracle
  }

  val calibrateSql: String =
    s"""WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
    least(floor((len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t = 'the'))::DOUBLE
      / greatest(1, len(string_split_regex(lower(text), '\\s+')))) * $CalBins)::BIGINT,
      ${CalBins - 1}) AS bin
  FROM documents),
bins AS (SELECT bin, count(*) AS n, sum(label)::BIGINT AS pos FROM scored GROUP BY bin),
ord AS (SELECT bin, n, pos, row_number() OVER (ORDER BY bin) AS i FROM bins),
pre AS (SELECT i, bin, n, pos,
  sum(n) OVER (ORDER BY i) AS cn, sum(pos) OVER (ORDER BY i) AS cp FROM ord),
m AS (
  SELECT lo.i AS k, hi.i AS j,
    (hi.cp - coalesce(lo2.cp, 0))::DOUBLE / (hi.cn - coalesce(lo2.cn, 0)) AS mean
  FROM pre hi JOIN pre lo ON lo.i <= hi.i
  LEFT JOIN pre lo2 ON lo2.i = lo.i - 1),
inner_min AS (
  SELECT m.k, p.i, min(m.mean) AS v
  FROM m JOIN pre p ON m.k <= p.i AND m.j >= p.i
  GROUP BY m.k, p.i),
iso AS (SELECT i, max(v) AS cal FROM inner_min GROUP BY i)
SELECT o.bin, o.n, o.pos, round(iso.cal, 6) AS cal
FROM ord o JOIN iso ON iso.i = o.i"""

  // ---- C59: data-quality constraint report ----
  // The Deequ-style verification suite an ingest runs before
  // publishing a partition: declarative constraints evaluated
  // wholesale, emitted as one diffable report row per rule (the L91
  // datasheet's enforcement-side twin). Cost discipline: the four
  // ROW-LEVEL rules (null, range, domain, date sanity) share ONE scan
  // — a single aggregate of conditional sums unpivoted by stack();
  // uniqueness is one partial-agged key aggregate (violations =
  // Σ(cnt−1), so a key counted twice contributes one violation);
  // referential integrity is one equi left join against the distinct
  // parent keys with the null-probe counted in the same aggregate —
  // no anti-join + recount double pass, no cross join. At 100 TB the
  // whole suite costs one fact scan + one key shuffle + one RI join,
  // independent of how many row-level rules pile on.
  def qualityReport(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rowRules = orders.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v1"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v2"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("v3"),
      sum(when(col("o_orderdate") < to_timestamp(lit("1992-01-01 00:00:00")) ||
        col("o_orderdate") >= to_timestamp(lit("1999-01-01 00:00:00")), 1L)
        .otherwise(0L)).as("v4"))
      .select(col("n").as("n_checked"), expr(
        """stack(4, 'not_null:o_custkey', v1, 'positive:o_totalprice', v2,
                    'domain:o_orderstatus', v3, 'range:o_orderdate', v4)
           as (rule, n_violations)"""))
    val uniq = orders.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_checked"), sum(col("c") - 1).as("n_violations"))
      .select(col("n_checked"), lit("unique:o_orderkey").as("rule"), col("n_violations"))
    val ref = orders.select(col("o_custkey"))
      .join(customer.select(col("c_custkey")).distinct(),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_violations"))
      .select(col("n_checked"), lit("ref:o_custkey->customer").as("rule"), col("n_violations"))
    rowRules.unionByName(uniq).unionByName(ref)
      .select(col("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0).cast("long").as("pass"))
  }

  val qualityReportSql: String =
    """WITH rr AS (
  SELECT count(*) AS n,
    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v1,
    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v2,
    sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS v3,
    sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01 00:00:00'
          OR o_orderdate >= TIMESTAMP '1999-01-01 00:00:00' THEN 1 ELSE 0 END) AS v4
  FROM orders),
rows_unpivot AS (
  SELECT 'not_null:o_custkey' AS rule, n AS n_checked, v1::BIGINT AS n_violations FROM rr
  UNION ALL SELECT 'positive:o_totalprice', n, v2::BIGINT FROM rr
  UNION ALL SELECT 'domain:o_orderstatus', n, v3::BIGINT FROM rr
  UNION ALL SELECT 'range:o_orderdate', n, v4::BIGINT FROM rr),
uniq AS (
  SELECT 'unique:o_orderkey' AS rule, sum(c)::BIGINT AS n_checked,
         sum(c - 1)::BIGINT AS n_violations
  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)),
ref AS (
  SELECT 'ref:o_custkey->customer' AS rule, count(*) AS n_checked,
         sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_violations
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey),
allr AS (
  SELECT * FROM rows_unpivot UNION ALL SELECT * FROM uniq UNION ALL SELECT * FROM ref)
SELECT rule, n_checked, n_violations, (n_violations = 0)::BIGINT AS pass FROM allr"""

  // ---- C61: one-scan Pearson correlation matrix ----
  // The feature-audit primitive (collinearity screening before a model
  // fit, drift checks between corpus versions): all pairwise
  // correlations of k numeric features in ONE scan. Naive pairwise
  // corr() calls scan the table k(k+1)/2 times; this aggregates the
  // full moment set — n, per-feature sums, and every pairwise product
  // sum — in a single partial-agged aggregate (the L87 moment-grid
  // idea, flattened columnar since k is small), then derives every
  // cell from the one-row frame, exploded long-format map-side.
  // Exactness: features scale to cent BIGINTs (the C28 idiom), every
  // sum and every num/den polynomial (n·Σxy − ΣxΣy) rides
  // DECIMAL(38,0) — order-free, bit-equal cross-engine; corr performs
  // the identical double-cast → sqrt → divide → round-6 sequence in
  // both engines. Values stay < 1e38 through 100 TB row counts (the
  // polynomial is ~n²·x̄² ≈ 1e32 at 1e9 rows of 1e7-cent values).
  private val CorrFeats = Seq("qty", "price", "disc", "tax")

  def corrMatrix(lineitem: DataFrame): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val base = lineitem.select(
      (dec(col("l_quantity")) * 100).cast("long").as("qty"),
      (dec(col("l_extendedprice")) * 100).cast("long").as("price"),
      (dec(col("l_discount")) * 100).cast("long").as("disc"),
      (dec(col("l_tax")) * 100).cast("long").as("tax"))
    val pairs = for {
      i <- CorrFeats.indices; j <- i until CorrFeats.size
    } yield (CorrFeats(i), CorrFeats(j))
    val aggs = CorrFeats.map(f => sum(d38(col(f))).as(s"s_$f")) ++
      pairs.map { case (a, b) => sum(d38(d38(col(a)) * col(b))).as(s"p_${a}_$b") }
    val g = base.agg(count(lit(1)).as("n"), aggs: _*)
    def num(a: String, b: String) =
      col("n") * col(s"p_${a}_$b") - col(s"s_$a") * col(s"s_$b")
    g.select(col("n"), explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("f1"), lit(b).as("f2"),
          round(num(a, b).cast("double") /
            sqrt(num(a, a).cast("double")) / sqrt(num(b, b).cast("double")), 6)
            .as("corr"))
      }: _*)).as("c"))
      .select(col("c.f1").as("f1"), col("c.f2").as("f2"), col("n"), col("c.corr").as("corr"))
  }

  val corrMatrixSql: String = {
    val feats = Map("qty" -> "l_quantity", "price" -> "l_extendedprice",
      "disc" -> "l_discount", "tax" -> "l_tax")
    val pairs = for {
      i <- CorrFeats.indices; j <- i until CorrFeats.size
    } yield (CorrFeats(i), CorrFeats(j))
    // DuckDB's decimal multiply binds at width w1+w2 (> 38 here), so
    // products ride HUGEINT — exact int128, same integers as Spark's
    // capped-width DECIMAL(38,0) arithmetic at these magnitudes
    val sums = (CorrFeats.map(f => s"sum($f::HUGEINT) AS s_$f") ++
      pairs.map { case (a, b) => s"sum($a::HUGEINT * $b) AS p_${a}_$b" })
      .mkString(", ")
    def num(a: String, b: String) =
      s"(n::HUGEINT * p_${a}_$b - s_$a * s_$b)"
    val arms = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS f1, '$b' AS f2, n,
  round(${num(a, b)}::DOUBLE / sqrt(${num(a, a)}::DOUBLE)
    / sqrt(${num(b, b)}::DOUBLE), 6) AS corr FROM g"""
    }.mkString("\nUNION ALL ")
    s"""WITH base AS (
  SELECT ${feats.map { case (k, v) => s"((($v)::DECIMAL(18,2)) * 100)::BIGINT AS $k" }.mkString(", ")}
  FROM lineitem),
g AS (SELECT count(*) AS n, $sums FROM base)
$arms"""
  }

  // ---- C62: categorical association — mutual information + chi² ----
  // The dependence audit between two categorical columns (is activity
  // type independent of weekday? does source predict language?):
  // per-cell pointwise MI, the cell's MI contribution, and its chi²
  // term, from ONE partial-agged (x, y) contingency aggregate — the
  // corpus never shuffles twice; margins and totals derive from the
  // alphabet-bounded cell frame (the L67/L84 post-aggregate pattern)
  // behind broadcast-sized joins. Exactness: every count is an exact
  // BIGINT; each released value performs the identical
  // integer-product → double-divide → ln/square → round-6 sequence in
  // both engines (c·n and rx·cy stay < 2^63 through 1e9-row inputs;
  // at 100 TB promote the products to DECIMAL(38,0) — same plan).
  // Weekday = (epoch-day + 4) % 7 in pure integer arithmetic (the C31
  // rule: no date_trunc conventions cross-engine). Epoch-day uses
  // FLOORED division on both engines: both Spark `div` and DuckDB `//`
  // TRUNCATE toward zero (measured: -7 // 2 = -3), which misplaces
  // every pre-1970 timestamp by a day; subtracting the non-negative
  // residue first ((us - pmod(us, D)) div D, mirrored in the oracle)
  // makes the division exact and the weekday correct for all signs.
  def mutualInfo(events: DataFrame): DataFrame = {
    val D = 86400L * 1000000L
    val cells = events
      .select(col("event_type"),
        pmod(expr(s"(unix_micros(ts) - pmod(unix_micros(ts), ${D}L)) div ${D}L") + 4,
          lit(7)).as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("c"))
    val rx = cells.groupBy(col("event_type")).agg(sum(col("c")).as("rx"))
    val cy = cells.groupBy(col("dow")).agg(sum(col("c")).as("cy"))
    val n = cells.agg(sum(col("c")).as("n"))
    cells.join(broadcast(rx), "event_type").join(broadcast(cy), "dow")
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("dow"), col("c"), col("rx"), col("cy"), col("n"),
        round(log((col("c") * col("n")).cast("double") /
          (col("rx") * col("cy")).cast("double")), 6).as("pmi"),
        round((col("c").cast("double") / col("n")) *
          log((col("c") * col("n")).cast("double") /
            (col("rx") * col("cy")).cast("double")), 6).as("mi_term"),
        round(pow((col("c").cast("double") -
            (col("rx") * col("cy")).cast("double") / col("n")), 2) /
          ((col("rx") * col("cy")).cast("double") / col("n")), 6).as("chi2_term"))
  }

  val mutualInfoSql: String =
    s"""WITH cells AS (
  SELECT event_type,
    -- floored epoch-day: DuckDB's integer // TRUNCATES toward zero
    -- (measured: -7 // 2 = -3), so subtract the non-negative residue
    -- first to make the division exact, mirroring Spark's
    -- (us - pmod(us, D)) div D
    (((epoch_us(ts) - ((epoch_us(ts) % ${86400L * 1000000L}) + ${86400L * 1000000L}) % ${86400L * 1000000L})
      // ${86400L * 1000000L} + 4) % 7 + 7) % 7 AS dow,
         count(*) AS c
  FROM events GROUP BY 1, 2),
rx AS (SELECT event_type, sum(c)::BIGINT AS rx FROM cells GROUP BY 1),
cy AS (SELECT dow, sum(c)::BIGINT AS cy FROM cells GROUP BY 1),
n AS (SELECT sum(c)::BIGINT AS n FROM cells)
SELECT cells.event_type, cells.dow, cells.c, rx.rx, cy.cy, n.n,
  round(ln((cells.c * n.n)::DOUBLE / (rx.rx * cy.cy)::DOUBLE), 6) AS pmi,
  round((cells.c::DOUBLE / n.n) *
    ln((cells.c * n.n)::DOUBLE / (rx.rx * cy.cy)::DOUBLE), 6) AS mi_term,
  round(pow(cells.c::DOUBLE - (rx.rx * cy.cy)::DOUBLE / n.n, 2)
    / ((rx.rx * cy.cy)::DOUBLE / n.n), 6) AS chi2_term
FROM cells JOIN rx USING (event_type) JOIN cy USING (dow) CROSS JOIN n"""

  // ---- C63 (r8): frequent itemset pairs — market-basket association ----
  // The co-occurrence miner (recommendations, assortment planning, and
  // in a data pipeline: which source pairs co-cite, which tag pairs
  // co-occur): item pairs appearing together in ≥ minsup baskets, with
  // support and LIFT. Scale discipline instead of FP-growth's shared
  // trie (which needs the frequency-ordered items resident per task):
  // (1) baskets dedupe to distinct (basket, item) first — quantity
  // noise never inflates pairs; (2) a basket-size cap drops
  // pathological baskets BEFORE the self-join (a 10k-item basket is
  // 5·10^7 pairs; the L5/MaxOcc discipline — and the cap is NOT
  // silent: n_dropped_baskets rides the single-row broadcast into
  // every output row, the repo's no-silent-caps rule);
  // (3) pair generation is a per-basket self-join
  // keyed on the basket id (high-cardinality key, no hot reducer);
  // (4) per-item supports attach via two keyed joins against the
  // item-support frame — never broadcast (items scale with the
  // catalog); the single-row basket total is the one declared
  // broadcast. Lift = support·n_baskets / (s1·s2): exact BIGINT
  // products (< 2^63 through 1e9-basket inputs), ONE double division,
  // round 6 — identical on both engines.
  private val PairMinSup = 2
  private val MaxBasket = 64

  /** Shared C63/C106 core: size-capped baskets → supported item pairs
    * with both item supports and the basket totals attached. */
  private def supportedPairs(lineitem: DataFrame): DataFrame = {
    val d = lineitem.select(col("l_orderkey").as("bid"), col("l_partkey").as("item"))
      .distinct()
    val bsz = d.groupBy(col("bid")).agg(count(lit(1)).as("bsz"))
    val sized = d.join(
      bsz.where(col("bsz") <= MaxBasket).select(col("bid")),
      "bid")
    val nb = bsz.agg(
      sum((col("bsz") <= MaxBasket).cast("long")).as("n_baskets"),
      sum((col("bsz") > MaxBasket).cast("long")).as("n_dropped_baskets"))
    val supp = sized.groupBy(col("item")).agg(count(lit(1)).as("s"))
    // in-basket pair generation (r12 wave 16): one basket-local loop
    // per group through graft_pair_combos — sized is already
    // partitioned by bid from the gate join, so the collect costs no
    // new exchange, the basket array is gate-bounded (≤ MaxBasket
    // items), and the self-join's per-basket hash build + b² probes
    // (plus a second sized subtree where exchange reuse misses) are
    // gone. sort_array over the distinct items gives p1 < p2 by value,
    // each unordered pair once — the identical pair multiset.
    val pairs = sized.groupBy(col("bid"))
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .select(explode(VectorFunctions.pairCombos(col("items"))).as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= PairMinSup)
    pairs
      .join(supp.select(col("item").as("p1"), col("s").as("s1")), "p1")
      .join(supp.select(col("item").as("p2"), col("s").as("s2")), "p2")
      .crossJoin(broadcast(nb))
  }

  def frequentPairs(lineitem: DataFrame): DataFrame =
    supportedPairs(lineitem)
      .select(col("p1"), col("p2"), col("support"),
        round((col("support") * col("n_baskets")).cast("double") /
          (col("s1") * col("s2")).cast("double"), 6).as("lift"),
        col("n_dropped_baskets"))

  // ---- C106 (r10): association rules — directed confidence + lift ----
  // The Apriori rule-generation step C63 stops short of: a frequent
  // pair {a, b} becomes the two DIRECTED rules a→b and b→a, and it is
  // the direction that retail action reads (conf(a→b) = P(b|a) can be
  // high while conf(b→a) is noise when b is a staple). Over C63's
  // ALREADY-REDUCED supported-pair frame (all pruning inherited):
  // each pair fans to its two directions map-side; confidence is the
  // exact ppm div support·1e6 div s_ante; lift is symmetric (one
  // rounded division, the C63 expression). Nothing new shuffles — one
  // explode over a post-aggregate frame.
  def assocRules(lineitem: DataFrame): DataFrame = {
    val both = supportedPairs(lineitem)
      .select(col("support"), col("n_baskets"),
        round((col("support") * col("n_baskets")).cast("double") /
          (col("s1") * col("s2")).cast("double"), 6).as("lift"),
        explode(array(
          struct(col("p1").as("ante"), col("p2").as("cons"), col("s1").as("s_ante"),
            col("s2").as("s_cons")),
          struct(col("p2").as("ante"), col("p1").as("cons"), col("s2").as("s_ante"),
            col("s1").as("s_cons")))).as("r"))
    both.select(col("r.ante").as("antecedent"), col("r.cons").as("consequent"),
      col("support"), col("r.s_ante").as("s_ante"), col("r.s_cons").as("s_cons"),
      expr("(support * 1000000L) div r.s_ante").as("conf_ppm"), col("lift"))
  }

  val assocRulesSql: String =
    s"""WITH d AS (SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem),
bsz AS (SELECT bid, count(*) AS bsz FROM d GROUP BY bid),
sized AS (SELECT d.bid, d.item FROM d
  JOIN (SELECT bid FROM bsz WHERE bsz <= $MaxBasket) k USING (bid)),
nb AS (SELECT sum((bsz <= $MaxBasket)::INT)::BIGINT AS n_baskets FROM bsz),
supp AS (SELECT item, count(*)::BIGINT AS s FROM sized GROUP BY item),
pairs AS (
  SELECT a.item AS p1, b.item AS p2, count(*)::BIGINT AS support
  FROM sized a JOIN sized b ON a.bid = b.bid AND a.item < b.item
  GROUP BY a.item, b.item HAVING count(*) >= $PairMinSup),
sp AS (
  SELECT p1, p2, support, s1.s AS s1, s2.s AS s2, nb.n_baskets,
    round((support * nb.n_baskets)::DOUBLE / (s1.s * s2.s)::DOUBLE, 6) AS lift
  FROM pairs
  JOIN supp s1 ON s1.item = pairs.p1
  JOIN supp s2 ON s2.item = pairs.p2
  CROSS JOIN nb),
both_ AS (
  SELECT p1 AS antecedent, p2 AS consequent, support, s1 AS s_ante, s2 AS s_cons, lift
  FROM sp
  UNION ALL
  SELECT p2, p1, support, s2, s1, lift FROM sp)
SELECT antecedent, consequent, support, s_ante, s_cons,
  ((support * 1000000) // s_ante)::BIGINT AS conf_ppm, lift
FROM both_"""

  val frequentPairsSql: String =
    s"""WITH d AS (SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem),
bsz AS (SELECT bid, count(*) AS bsz FROM d GROUP BY bid),
sized AS (SELECT d.bid, d.item FROM d
  JOIN (SELECT bid FROM bsz WHERE bsz <= $MaxBasket) k USING (bid)),
nb AS (SELECT sum((bsz <= $MaxBasket)::INT)::BIGINT AS n_baskets,
  sum((bsz > $MaxBasket)::INT)::BIGINT AS n_dropped_baskets FROM bsz),
supp AS (SELECT item, count(*)::BIGINT AS s FROM sized GROUP BY item),
pairs AS (
  SELECT a.item AS p1, b.item AS p2, count(*)::BIGINT AS support
  FROM sized a JOIN sized b ON a.bid = b.bid AND a.item < b.item
  GROUP BY a.item, b.item HAVING count(*) >= $PairMinSup)
SELECT p1, p2, support,
  round((support * nb.n_baskets)::DOUBLE / (s1.s * s2.s)::DOUBLE, 6) AS lift,
  nb.n_dropped_baskets
FROM pairs
JOIN supp s1 ON s1.item = pairs.p1
JOIN supp s2 ON s2.item = pairs.p2
CROSS JOIN nb"""

  // ---- C65 (r8): PSI drift report — binned share drift vs reference ----
  // The production-ML drift metric (population stability index): has a
  // feature's DISTRIBUTION moved between a reference window and the
  // current one? L84 answers this for embeddings and C34 for exact row
  // sets; PSI is the tabular-feature standard — decile bins are FITTED
  // ON THE REFERENCE window (the L102 fit/transform discipline: the
  // current window must not influence its own yardstick), both
  // windows' bin shares are Laplace-smoothed ((c+1)/(n+B), so an
  // empty current bin contributes a finite term instead of ln 0), and
  // psi_term = (p_cur - p_ref)·ln(p_cur/p_ref) per bin; Σ over bins
  // is the headline number (>0.25 = action). Windows split the corpus
  // at its temporal midpoint (min/max micros — one single-row
  // broadcast, the declared crossJoin). Scale: one reference decile
  // aggregate per type (exact percentile; swap the C25 GK sketch at
  // 100× per the C13 precedent), one map-side binning pass (a
  // 10-element array filter per row), one (type, win, bin) count —
  // the corpus never joins itself. Exact: counts are BIGINTs, every
  // released double runs the identical share → ln → round-6 sequence
  // on both engines.
  private val PsiBins = 10

  def psiDrift(events: DataFrame): DataFrame = {
    val mid = events.agg(expr(
      "min(unix_micros(ts)) + (max(unix_micros(ts)) - min(unix_micros(ts))) div 2")
      .as("mid"))
    val qs = (1 until PsiBins).map(i => i.toDouble / PsiBins)
    val tagged = events
      .crossJoin(broadcast(mid))
      .select(col("event_type"), col("value"),
        when(expr("unix_micros(ts)") < col("mid"), lit("ref"))
          .otherwise(lit("cur")).as("win"))
    val edges = tagged.where(col("win") === "ref")
      .groupBy(col("event_type"))
      .agg(expr(s"percentile(value, array(${qs.mkString("D, ")}D))").as("edges"))
    val counts = tagged
      .join(broadcast(edges), "event_type")
      .withColumn("bin", size(filter(col("edges"), e => col("value") > e)).cast("long"))
      .groupBy(col("event_type"), col("win"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val grid = edges
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(PsiBins - 1L))).as("bin"))
    val cells = grid
      .join(counts.where(col("win") === "ref")
        .select(col("event_type"), col("bin"), col("c").as("c_ref")),
        Seq("event_type", "bin"), "left")
      .join(counts.where(col("win") === "cur")
        .select(col("event_type"), col("bin"), col("c").as("c_cur")),
        Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("c_ref", "c_cur"))
    val totals = tagged.groupBy(col("event_type"))
      .agg(sum(when(col("win") === "ref", 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("win") === "cur", 1L).otherwise(0L)).as("n_cur"))
    cells.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("bin"), col("c_ref"), col("c_cur"),
        round(
          ((col("c_cur") + 1).cast("double") / (col("n_cur") + PsiBins) -
            (col("c_ref") + 1).cast("double") / (col("n_ref") + PsiBins)) *
            log(((col("c_cur") + 1).cast("double") / (col("n_cur") + PsiBins)) /
              ((col("c_ref") + 1).cast("double") / (col("n_ref") + PsiBins))),
          6).as("psi_term"))
  }

  val psiDriftSql: String = {
    val qs = (1 until PsiBins).map(i => i.toDouble / PsiBins).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
mid AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM e),
tagged AS (SELECT event_type, value,
    CASE WHEN us < mid.mid THEN 'ref' ELSE 'cur' END AS win
  FROM e CROSS JOIN mid),
edges AS (SELECT event_type, quantile_cont(value, $qs) AS edges
  FROM tagged WHERE win = 'ref' GROUP BY event_type),
binned AS (SELECT t.event_type, t.win,
    len(list_filter(e.edges, x -> t.value > x))::BIGINT AS bin
  FROM tagged t JOIN edges e USING (event_type)),
counts AS (SELECT event_type, win, bin, count(*)::BIGINT AS c
  FROM binned GROUP BY event_type, win, bin),
grid AS (SELECT event_type, g.b AS bin
  FROM edges, unnest(generate_series(0, ${PsiBins - 1})) AS g(b)),
cells AS (SELECT grid.event_type, grid.bin,
    coalesce(r.c, 0) AS c_ref, coalesce(cu.c, 0) AS c_cur
  FROM grid
  LEFT JOIN (SELECT event_type, bin, c FROM counts WHERE win = 'ref') r
    ON r.event_type = grid.event_type AND r.bin = grid.bin
  LEFT JOIN (SELECT event_type, bin, c FROM counts WHERE win = 'cur') cu
    ON cu.event_type = grid.event_type AND cu.bin = grid.bin),
totals AS (SELECT event_type,
    sum(CASE WHEN win = 'ref' THEN 1 ELSE 0 END)::BIGINT AS n_ref,
    sum(CASE WHEN win = 'cur' THEN 1 ELSE 0 END)::BIGINT AS n_cur
  FROM tagged GROUP BY event_type)
SELECT c.event_type, c.bin, c.c_ref, c.c_cur,
  round(((c.c_cur + 1)::DOUBLE / (t.n_cur + $PsiBins) -
         (c.c_ref + 1)::DOUBLE / (t.n_ref + $PsiBins)) *
        ln(((c.c_cur + 1)::DOUBLE / (t.n_cur + $PsiBins)) /
           ((c.c_ref + 1)::DOUBLE / (t.n_ref + $PsiBins))), 6) AS psi_term
FROM cells c JOIN totals t USING (event_type)"""
  }

  // ---- C71 (r8): sequential A/B monitoring — two-proportion z by day ----
  // The experiment-analysis daily readout: cumulative users and
  // converters per arm as of each day, with the pooled two-proportion
  // z statistic — the curve an experimenter watches (and the input to
  // any alpha-spending rule). Scale discipline: "distinct users to
  // date" is NOT a windowed distinct over the event log — each user
  // collapses to (variant, first_seen_day, first_conversion_day) in
  // ONE corpus aggregate, and the daily curve is two prefix sums over
  // the calendar-bounded (variant, day) frame. Counts exact BIGINTs;
  // z runs the identical share → sqrt → divide → round-6 sequence on
  // both engines, NULL until both arms have users and the pooled rate
  // is informative (p in (0,1)). Variant = user parity (stand-in for
  // the assignment column a real experiment carries).
  def abSequential(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = 86400L * 1000000L
    val users = events
      .select(col("user_id"), col("event_type"),
        expr(s"unix_micros(ts) div ${D}L").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_seen"),
        min(when(col("event_type") === "purchase", col("day"))).as("first_conv"))
      .select(when(pmod(col("user_id"), lit(2)) === 0, lit("A")).otherwise(lit("B"))
        .as("variant"), col("first_seen"), col("first_conv"))
    val days = users.select(col("first_seen").as("day"))
      .unionAll(users.where(col("first_conv").isNotNull)
        .select(col("first_conv").as("day")))
      .distinct()
    val perDay = users.groupBy(col("variant"), col("first_seen").as("day"))
      .agg(count(lit(1)).as("joined"))
    val convDay = users.where(col("first_conv").isNotNull)
      .groupBy(col("variant"), col("first_conv").as("day"))
      .agg(count(lit(1)).as("converted"))
    val w = Window.partitionBy("variant").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val curve = days
      .select(col("day"), explode(array(lit("A"), lit("B"))).as("variant"))
      .join(perDay, Seq("variant", "day"), "left")
      .join(convDay, Seq("variant", "day"), "left")
      .na.fill(0L, Seq("joined", "converted"))
      .withColumn("n", sum(col("joined")).over(w))
      .withColumn("x", sum(col("converted")).over(w))
    val a = curve.where(col("variant") === "A")
      .select(col("day"), col("n").as("n_a"), col("x").as("x_a"))
    val b = curve.where(col("variant") === "B")
      .select(col("day"), col("n").as("n_b"), col("x").as("x_b"))
    a.join(b, "day")
      .select(col("day"), col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        when(col("n_a") > 0 && col("n_b") > 0 &&
            col("x_a") + col("x_b") > 0 &&
            col("x_a") + col("x_b") < col("n_a") + col("n_b"),
          round(
            (col("x_a").cast("double") / col("n_a") -
              col("x_b").cast("double") / col("n_b")) /
            sqrt(((col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b"))) *
              (lit(1.0) - (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
          .as("z"))
  }

  val abSequentialSql: String = {
    val D = 86400L * 1000000L
    s"""WITH u AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
    min(epoch_us(ts) // $D) AS first_seen,
    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) // $D END) AS first_conv
  FROM events GROUP BY user_id),
days AS (SELECT day, v.variant
  FROM (SELECT first_seen AS day FROM u
        UNION SELECT first_conv FROM u WHERE first_conv IS NOT NULL),
       unnest(['A', 'B']) AS v(variant)),
pd AS (SELECT variant, first_seen AS day, count(*)::BIGINT AS joined
  FROM u GROUP BY 1, 2),
cd AS (SELECT variant, first_conv AS day, count(*)::BIGINT AS converted
  FROM u WHERE first_conv IS NOT NULL GROUP BY 1, 2),
curve AS (
  SELECT d.variant, d.day,
    sum(coalesce(pd.joined, 0)) OVER w ::BIGINT AS n,
    sum(coalesce(cd.converted, 0)) OVER w ::BIGINT AS x
  FROM days d
  LEFT JOIN pd ON pd.variant = d.variant AND pd.day = d.day
  LEFT JOIN cd ON cd.variant = d.variant AND cd.day = d.day
  WINDOW w AS (PARTITION BY d.variant ORDER BY d.day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
ab AS (
  SELECT a.day, a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
  FROM (SELECT * FROM curve WHERE variant = 'A') a
  JOIN (SELECT * FROM curve WHERE variant = 'B') b USING (day))
SELECT day, n_a, x_a, n_b, x_b,
  CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b
    THEN round((x_a::DOUBLE / n_a - x_b::DOUBLE / n_b) /
      sqrt(((x_a + x_b)::DOUBLE / (n_a + n_b)) *
           (1.0 - (x_a + x_b)::DOUBLE / (n_a + n_b)) *
           (1.0 / n_a + 1.0 / n_b)), 6)
    ELSE NULL END AS z
FROM ab"""
  }

  // ---- C67 (r8): Kaplan-Meier survival — time-to-churn with censoring ----
  // Retention grids (C31) show cohort activity shares; survival
  // analysis answers the harder question those shares bias: how long
  // do users LAST, given that users still active at corpus end have
  // NOT churned — dropping them (or counting them as churned) skews
  // every lifetime estimate, and right-censoring is the fix.
  // Subjects: one row per user — duration = floored days between
  // first and last event; CHURNED iff silent for > 7 days before the
  // corpus end (else censored); cohort = first-seen epoch-week.
  // Estimator per cohort over ordered distinct durations t_i:
  //   n_i = at-risk = N − (subjects gone before t_i)   [exact ints]
  //   S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)
  // The running product rides exp(Σ ln(factor)) over the ordered
  // prefix (released at round 6 — the pmi/lm_score ln precedent); a
  // zero factor (everyone at risk churns) is handled by a prefix
  // zero-flag instead of ln(0), which Spark nulls and DuckDB sends to
  // -inf — the one cross-engine trap here. Scale: one (user)
  // aggregate over the corpus, then everything operates on the
  // per-subject frame (≤ one row per user) and the calendar-bounded
  // duration frame; corpus end is the declared single-row broadcast.
  private val ChurnHorizonDays = 7L

  def survival(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D = 86400L * 1000000L
    val end = events.agg(max(expr("unix_micros(ts)")).as("end_us"))
    val subjects = events
      .groupBy(col("user_id"))
      .agg(min(expr("unix_micros(ts)")).as("first_us"),
        max(expr("unix_micros(ts)")).as("last_us"))
      .crossJoin(broadcast(end))
      .select(
        expr(s"first_us div (7 * ${D}L)").as("cohort"),
        expr(s"(last_us - first_us) div ${D}L").as("dur"),
        (col("end_us") - col("last_us") > ChurnHorizonDays * D)
          .cast("long").as("churned"))
    val g = subjects.groupBy(col("cohort"), col("dur"))
      .agg(sum(col("churned")).as("d"), count(lit(1)).as("leaving"))
    val n = subjects.groupBy(col("cohort")).agg(count(lit(1)).as("n_total"))
    val wPrev = Window.partitionBy("cohort").orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPfx = Window.partitionBy("cohort").orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, 0)
    g.join(broadcast(n), "cohort")
      .withColumn("n_risk", col("n_total") - coalesce(sum(col("leaving")).over(wPrev), lit(0L)))
      .withColumn("factor",
        (col("n_risk") - col("d")).cast("double") / col("n_risk"))
      .withColumn("dead", max(when(col("factor") === 0.0, 1L).otherwise(0L)).over(wPfx))
      .select(col("cohort"), col("dur"), col("n_risk"), col("d"), col("leaving"),
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(exp(sum(
            when(col("factor") > 0.0, log(col("factor"))).otherwise(lit(0.0))).over(wPfx)), 6))
          .as("surv"))
  }

  val survivalSql: String = {
    val D = 86400L * 1000000L
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
fin AS (SELECT max(us) AS end_us FROM e),
subj AS (
  SELECT first_us // (7 * $D) AS cohort,
         (last_us - first_us) // $D AS dur,
         (end_us - last_us > ${ChurnHorizonDays * D})::BIGINT AS churned
  FROM (SELECT user_id, min(us) AS first_us, max(us) AS last_us
        FROM e GROUP BY user_id) CROSS JOIN fin),
g AS (SELECT cohort, dur, sum(churned)::BIGINT AS d, count(*)::BIGINT AS leaving
  FROM subj GROUP BY cohort, dur),
n AS (SELECT cohort, count(*)::BIGINT AS n_total FROM subj GROUP BY cohort),
r AS (SELECT g.cohort, g.dur, g.d, g.leaving,
    (n.n_total - coalesce(sum(g.leaving) OVER (PARTITION BY g.cohort ORDER BY g.dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_risk
  FROM g JOIN n USING (cohort)),
f AS (SELECT *, (n_risk - d)::DOUBLE / n_risk AS factor FROM r),
z AS (SELECT *,
    max(CASE WHEN factor = 0 THEN 1 ELSE 0 END) OVER w AS dead,
    sum(CASE WHEN factor > 0 THEN ln(factor) ELSE 0 END) OVER w AS lsum
  FROM f WINDOW w AS (PARTITION BY cohort ORDER BY dur
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT cohort, dur, n_risk, d, leaving,
  CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(lsum), 6) END AS surv
FROM z"""
  }

  // ---- C96 (r9): Wilson-interval ranking ----
  // The "sort by rating" problem solved correctly: ranking items by
  // raw success share promotes 1-for-1 flukes over 95-for-100
  // workhorses; the Wilson score lower bound penalizes small n and is
  // the standard fix (the Reddit/Evan Miller ranking). Here: parts
  // ranked by the 95% lower bound of their non-return rate. Counts
  // are exact BIGINTs; the bound is one mirrored float sequence per
  // part; ranking windows over the part-catalog-bounded profile frame
  // (post-aggregate — the C48 small-frame rule) with a total
  // (bound, partkey) order.
  def wilsonRanking(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prof = lineitem.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        sum((col("l_returnflag") =!= "R").cast("long")).as("pos"))
    val z2 = "3.8415984400000006" // 1.96^2, shared literal both engines
    val scored = prof.selectExpr("l_partkey AS partkey", "n", "pos",
      s"""round((pos / cast(n as double) + $z2 / (2 * n)
        - 1.96 * sqrt(pos / cast(n as double) * (1.0 - pos / cast(n as double)) / n
          + $z2 / (4.0 * cast(n as double) * n))) / (1.0 + $z2 / n), 6)
        AS wilson_lb""")
    // r11: the part catalog scales with the corpus — the full-ranking
    // export rides the C48 two-phase bucket rank, not a global window
    Relational.totalOrderRank(scored,
        Seq(col("wilson_lb").desc, col("partkey")), negate(col("wilson_lb")))
      .withColumn("rnk", col("rn").cast("long")).drop("rn")
  }

  val wilsonRankingSql: String = {
    val z2 = "3.8415984400000006"
    s"""WITH prof AS (
  SELECT l_partkey AS partkey, count(*)::BIGINT AS n,
    sum((l_returnflag <> 'R')::INT)::BIGINT AS pos
  FROM lineitem GROUP BY 1),
scored AS (
  SELECT partkey, n, pos,
    round((pos / cast(n as double) + $z2 / (2 * n)
      - 1.96 * sqrt(pos / cast(n as double) * (1.0 - pos / cast(n as double)) / n
        + $z2 / (4.0 * cast(n as double) * n))) / (1.0 + $z2 / n), 6) AS wilson_lb
  FROM prof)
SELECT partkey, n, pos, wilson_lb,
  row_number() OVER (ORDER BY wilson_lb DESC, partkey)::BIGINT AS rnk
FROM scored"""
  }

  // ---- C97 (r9): exact two-sample Kolmogorov-Smirnov distance ----
  // The drift family's distribution-shape member (C65's PSI needs
  // bins and loses within-bin shifts; KS is binless): per event_type,
  // D = max |F_a(v) − F_b(v)| between the md5-parity arms. INTEGER
  // UNTIL THE END: per pooled distinct value, cumulative arm counts
  // come from one window over the (type, value) frame, and the max
  // runs over |cum_a·n_b − cum_b·n_a| — exact BIGINT cross products —
  // so D is ONE division of exact integers and the reject flag
  // compares identically-computed doubles. The value-frame window is
  // the C13 exact path (per-type distinct values; a GK-sketch CDF is
  // the declared 100× twin).
  def ksDistance(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = events.select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      pmod(md5Long(lit("ks"), col("event_id")), lit(2)).as("arm"))
    val cells = tagged.groupBy(col("event_type"), col("v"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("event_type"))
    cells
      .withColumn("cum0", sum(col("c0")).over(w))
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("n0", sum(col("c0")).over(wt))
      .withColumn("n1", sum(col("c1")).over(wt))
      .groupBy(col("event_type"), col("n0"), col("n1"))
      .agg(max(abs(col("cum0") * col("n1") - col("cum1") * col("n0"))).as("dnum"))
      .select(col("event_type"), col("n0"), col("n1"),
        round(col("dnum").cast("double") / (col("n0") * col("n1")).cast("double"), 6)
          .as("d_stat"),
        round(lit(1.358) * sqrt((col("n0") + col("n1")).cast("double") /
          (col("n0") * col("n1")).cast("double")), 6).as("threshold_95"),
        (col("dnum").cast("double") / (col("n0") * col("n1")).cast("double") >
          lit(1.358) * sqrt((col("n0") + col("n1")).cast("double") /
            (col("n0") * col("n1")).cast("double"))).cast("long").as("reject"))
  }

  val ksDistanceSql: String = {
    val h = graft.functions.Portable.md5LongSql("'ks'", "event_id")
    s"""WITH tagged AS (
  SELECT event_type, ((value::DECIMAL(18,2)) * 100)::BIGINT AS v,
    $h % 2 AS arm
  FROM events),
cells AS (
  SELECT event_type, v,
    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
  FROM tagged GROUP BY 1, 2),
cum AS (
  SELECT event_type, v, c0, c1,
    sum(c0) OVER (PARTITION BY event_type ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum0,
    sum(c1) OVER (PARTITION BY event_type ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum1,
    sum(c0) OVER (PARTITION BY event_type)::BIGINT AS n0,
    sum(c1) OVER (PARTITION BY event_type)::BIGINT AS n1
  FROM cells),
d AS (
  SELECT event_type, n0, n1,
    max(abs(cum0 * n1 - cum1 * n0))::BIGINT AS dnum
  FROM cum GROUP BY 1, 2, 3)
SELECT event_type, n0, n1,
  round(dnum::DOUBLE / (n0 * n1)::DOUBLE, 6) AS d_stat,
  round(1.358 * sqrt((n0 + n1)::DOUBLE / (n0 * n1)::DOUBLE), 6) AS threshold_95,
  (dnum::DOUBLE / (n0 * n1)::DOUBLE >
    1.358 * sqrt((n0 + n1)::DOUBLE / (n0 * n1)::DOUBLE))::BIGINT AS reject
FROM d"""
  }

  // ---- C102 (r10): Mann-Whitney U — two-sample rank test ----
  // The nonparametric sibling of C97's KS: where KS asks "are the two
  // arm distributions the same SHAPE", Mann-Whitney asks the A/B
  // question experiments actually ship on — "does one arm
  // stochastically dominate" — with no normality assumption (C71's z
  // needs proportions; this ranks raw values). EXACT integers
  // throughout the hashed surface: doubled midpoint tie ranks (the
  // C87/C101 2·rank + ties − 1 discipline) make 2·U an exact BIGINT,
  // and the tie-corrected variance rides an exact DECIMAL(38,0)
  // numerator internally (released BIGINT, r11) over a BIGINT
  // denominator — the z score (spec-pinned float) replays as
  // (u2 − n0·n1)/(2·√(var_num/var_den)) with single correctly-rounded
  // ops. Plan (r11): NO per-row rank window — rank sums and ties all
  // derive from (type, value[, arm]) CELL frames (the C147 cell-rank
  // pattern); everything after is type-alphabet-bounded.
  def mannWhitney(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val tagged = events.select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      pmod(md5Long(lit("mw"), col("event_id")), lit(2)).as("arm"))
    // r11 (the C147 cell-rank pattern): the per-type rank window
    // capped parallelism at the type alphabet — one reducer per type
    // at 100 TB. The doubled midrank is constant within a (type,
    // value) cell (r2 = 2·cum − t + 1), so rank sums and ties all
    // derive from CELL frames; the only ordered window rides the
    // post-aggregate distinct-(type, value) frame.
    val cells = tagged.groupBy(col("event_type"), col("v"), col("arm"))
      .agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cellsV = cells.groupBy(col("event_type"), col("v"))
      .agg(sum(col("c")).as("t"))
      .withColumn("cum", sum(col("t")).over(wv))
      .select(col("event_type"), col("v"), col("t"),
        (lit(2L) * col("cum") - col("t") + 1).as("r2"))
    val ties = cellsV.groupBy(col("event_type"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    cells.join(cellsV, Seq("event_type", "v"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("c") * col("r2")).otherwise(0L))
          .as("r2sum"))
      .join(ties, "event_type")
      .select(col("event_type"), (col("n") - col("n1")).as("n0"), col("n1"),
        (col("r2sum") - col("n1") * (col("n1") + 1)).as("u2"),
        // Released as the INTEGER VARIANCE QUOTIENT var_int =
        // var_num div var_den ≈ n³/48 (exact floor both engines).
        // The r11 lesson in two steps: the DECIMAL(38,0) numerator
        // was the driver hash-red class, and its straight BIGINT
        // cast overflowed at bench scale (var_num ≈ n⁵/4 = 8e20 at
        // n ≈ 2e4/type — ANSI CAST_OVERFLOW, caught live by the sf0.1
        // bench). The quotient is int64-safe to n ≈ 7.6e6 rows/type;
        // the C25-style sketch is the declared path beyond, where an
        // exact tie-corrected variance stops mattering anyway. The
        // 38-digit products stay internal; z replays as
        // (u2 − n0·n1)/(2·√var_int) with a documented ≤1-ulp floor.
        graft.functions.Portable.decDiv(
          ((col("n") - col("n1")) * col("n1")).cast(d38)
            .multiply(col("n").cast(d38) * (col("n").cast(d38) * col("n").cast(d38)
              - 1) - col("tie3").cast(d38)),
          nullif((lit(12L) * col("n") * (col("n") - 1)).cast(d38),
            lit(0).cast(d38)))
          .cast("long").as("var_int"))
  }

  val mannWhitneySql: String = {
    val h = graft.functions.Portable.md5LongSql("'mw'", "event_id")
    s"""WITH tagged AS (
  SELECT event_type, ((value::DECIMAL(18,2)) * 100)::BIGINT AS v,
    $h % 2 AS arm
  FROM events),
ranked AS (
  SELECT event_type, arm,
    (2::BIGINT * rank() OVER (PARTITION BY event_type ORDER BY v)
      + count(*) OVER (PARTITION BY event_type, v) - 1)::BIGINT AS r2
  FROM tagged),
ties AS (
  SELECT event_type, sum(t * t * t - t)::BIGINT AS tie3
  FROM (SELECT event_type, v, count(*)::BIGINT AS t FROM tagged GROUP BY 1, 2)
  GROUP BY event_type),
g AS (
  SELECT event_type, count(*)::BIGINT AS n,
    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
    sum(CASE WHEN arm = 1 THEN r2 ELSE 0 END)::BIGINT AS r2sum
  FROM ranked GROUP BY event_type)
SELECT g.event_type, (n - n1) AS n0, n1,
  (r2sum - n1 * (n1 + 1))::BIGINT AS u2,
  ((((n - n1) * n1)::HUGEINT
    * (n::HUGEINT * (n::HUGEINT * n::HUGEINT - 1) - tie3::HUGEINT))
    // nullif(12::HUGEINT * n * (n - 1), 0))::BIGINT AS var_int
FROM g JOIN ties USING (event_type)"""
  }

  // ---- C103 (r10): one-way ANOVA — k-group mean separation ----
  // The parametric k-group counterpart of C102's two arms: does mean
  // spend differ ACROSS the four channels (the segmentation question
  // C88's attribution feeds)? Between/within sums of squares from
  // exact cent-integer moments. The representational hazard here is
  // NEW (found building this, r10): quantizing a LARGE double to
  // DECIMAL(38,6) is cross-engine fragile — DuckDB scales by 10^6 in
  // double first, which leaves 2^53 above ~9e9 (measured: per-group
  // S²/n terms ~1.3e10 cast to …315 vs …316) — so unlike L117's
  // small-magnitude terms, the decimal-quantize discipline CANNOT
  // carry these sums. Instead the channel alphabet is pivoted to
  // FIXED columns (ch0..ch3 by construction) and Σ S_g²/n_g runs as a
  // fixed-order scalar chain ((t0+t1)+t2)+t3 of correctly-rounded
  // IEEE ops on exact-integer inputs — bit-identical in both engines
  // with no quantization anywhere. Hashed floats are only the
  // small-magnitude F (round-6-safe); SSB/SSW stay spec-pinned, and
  // the exact moment surface (n, s, q per type) is released as
  // BIGINTs. Degenerate guards: ssw = 0 and k = 1 NULL out F via
  // nullif. Plan: one (type) pivot aggregate — alphabet-bounded
  // everything, single exchange.
  def anovaF(events: DataFrame): DataFrame = {
    val k = pmod(get_json_object(col("props"), "$.k").cast("long"), lit(4))
    val rows = events.select(col("event_type"), k.as("g"),
      (dec(col("value")) * 100).cast("long").as("v"))
    def cnt(i: Int) = sum(when(col("g") === i, 1L).otherwise(0L)).as(s"c$i")
    def sg(i: Int) = sum(when(col("g") === i, col("v")).otherwise(0L)).as(s"s$i")
    val byType = rows.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("q"),
        cnt(0), sg(0), cnt(1), sg(1), cnt(2), sg(2), cnt(3), sg(3))
    def term(i: Int) =
      when(col(s"c$i") > 0,
        col(s"s$i").cast("double") / col(s"c$i").cast("double") *
          col(s"s$i").cast("double")).otherwise(lit(0.0))
    val gterm = ((term(0) + term(1)) + term(2)) + term(3)
    val kGroups = (0 to 3).map(i => (col(s"c$i") > 0).cast("long")).reduce(_ + _)
    byType
      .withColumn("k", kGroups)
      .withColumn("ssb",
        gterm - col("s").cast("double") / col("n").cast("double") * col("s").cast("double"))
      .withColumn("ssw", col("q").cast("double") - gterm)
      .select(col("event_type"), col("k"), col("n"), col("s"), col("q"),
        round((col("ssb") * (col("n") - col("k")).cast("double")) /
          nullif(col("ssw") * (col("k") - 1).cast("double"), lit(0.0)), 6)
          .as("f_stat"))
  }

  val anovaFSql: String =
    """WITH rows_ AS (
  SELECT event_type,
    (((json_extract_string(props, '$.k')::BIGINT) % 4 + 4) % 4) AS g,
    ((value::DECIMAL(18,2)) * 100)::BIGINT AS v
  FROM events),
t AS (
  SELECT event_type, count(*)::BIGINT AS n, sum(v)::BIGINT AS s,
    sum(v * v)::BIGINT AS q,
    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
    sum(CASE WHEN g = 0 THEN v ELSE 0 END)::BIGINT AS s0,
    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
    sum(CASE WHEN g = 1 THEN v ELSE 0 END)::BIGINT AS s1,
    sum(CASE WHEN g = 2 THEN 1 ELSE 0 END)::BIGINT AS c2,
    sum(CASE WHEN g = 2 THEN v ELSE 0 END)::BIGINT AS s2,
    sum(CASE WHEN g = 3 THEN 1 ELSE 0 END)::BIGINT AS c3,
    sum(CASE WHEN g = 3 THEN v ELSE 0 END)::BIGINT AS s3
  FROM rows_ GROUP BY event_type),
d AS (
  SELECT event_type, n, s, q,
    ((c0 > 0)::BIGINT + (c1 > 0)::BIGINT + (c2 > 0)::BIGINT + (c3 > 0)::BIGINT) AS k,
    (((CASE WHEN c0 > 0 THEN s0::DOUBLE / c0::DOUBLE * s0::DOUBLE ELSE 0.0 END
      + CASE WHEN c1 > 0 THEN s1::DOUBLE / c1::DOUBLE * s1::DOUBLE ELSE 0.0 END)
      + CASE WHEN c2 > 0 THEN s2::DOUBLE / c2::DOUBLE * s2::DOUBLE ELSE 0.0 END)
      + CASE WHEN c3 > 0 THEN s3::DOUBLE / c3::DOUBLE * s3::DOUBLE ELSE 0.0 END) AS gterm
  FROM t)
SELECT event_type, k, n, s, q,
  round(((gterm - s::DOUBLE / n::DOUBLE * s::DOUBLE) * (n - k)::DOUBLE) /
    nullif((q::DOUBLE - gterm) * (k - 1)::DOUBLE, 0.0), 6) AS f_stat
FROM d"""

  // ---- C111 (r10): Welch's t-test — unequal-variance two-sample mean test ----
  // The parametric partner of C102: Mann-Whitney asks "does one arm
  // stochastically dominate"; Welch asks the effect-size question the
  // experiment readout actually reports — "how far apart are the arm
  // MEANS, in standard errors" — without C103's pooled equal-variance
  // assumption (arms routinely have different spread: treatment widens
  // tails). Arms are the C102 md5-parity split (seed "welch" — an
  // independent assignment from C102's "mw"). The hashed surface is
  // the C102/C103 discipline: exact BIGINT moments (n, Σv, Σv² in
  // cents), exact DECIMAL(38,0) variance numerators n·q − s² (cast
  // BEFORE the products — n·q leaves BIGINT past ~4e18, i.e. ~1e9
  // rows/type at 1e4-cent values), and the two floats (t, Welch-
  // Satterthwaite df) run one FIXED-ORDER chain written once as SQL
  // text and executed verbatim by both engines (the C103 lesson:
  // shared expression text, chained left-assoc divisions, no
  // FMA-contraction site), then round-6 onto the audit grid. Arms
  // with n ≤ 1 have no variance: the whole row is excluded (WHERE,
  // not NULL — same both engines); zero-variance-both-arms yields
  // NULL via nullif. Plan: ONE map-side-partial aggregate per
  // event_type — no window, no join; type-alphabet-bounded after.
  def welchTTest(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val tagged = events.select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      pmod(md5Long(lit("welch"), col("event_id")), lit(2)).as("arm"))
    def cnt(i: Int) = sum(when(col("arm") === i, 1L).otherwise(0L)).as(s"n$i")
    def sv(i: Int) = sum(when(col("arm") === i, col("v")).otherwise(0L)).as(s"s$i")
    def qv(i: Int) =
      sum(when(col("arm") === i, col("v") * col("v")).otherwise(0L)).as(s"q$i")
    val g = tagged.groupBy(col("event_type"))
      .agg(cnt(0), sv(0), qv(0), cnt(1), sv(1), qv(1))
      .where(col("n0") > 1 && col("n1") > 1)
      .select(col("event_type"), col("n0"), col("s0"), col("n1"), col("s1"),
        // Released as BIGINT: vn ≈ n·Σv² ≈ 1e16 at sf0.01 and 1e18 at
        // sf0.1 (v ≤ ~5e4 cents) — int64-safe through the bench scale;
        // the DECIMAL(38,0) difference-of-products stays internal.
        (col("n0").cast(d38) * col("q0") - col("s0").cast(d38) * col("s0"))
          .cast("long").as("vn0"),
        (col("n1").cast(d38) * col("q1") - col("s1").cast(d38) * col("s1"))
          .cast("long").as("vn1"))
    g.selectExpr(Seq("event_type", "n0", "s0", "vn0", "n1", "s1", "vn1") ++
      welchFloatExprs: _*)
  }

  // the one float chain, written ONCE and run verbatim by both engines
  // over identical exact inputs: a_i = v_i/n_i via chained left-assoc
  // double divisions of the exact DECIMAL numerator
  private val welchFloatExprs: Seq[String] = {
    def a(i: Int) =
      s"cast(vn$i as double) / cast(n$i as double) / cast(n$i - 1 as double) / cast(n$i as double)"
    val (a0, a1) = (a(0), a(1))
    val num = "(cast(s1 as double) / cast(n1 as double) - cast(s0 as double) / cast(n0 as double))"
    Seq(
      s"round($num / nullif(sqrt(($a1) + ($a0)), 0.0), 6) AS t_stat",
      s"round((($a1) + ($a0)) * (($a1) + ($a0)) / nullif(($a1) * ($a1) / cast(n1 - 1 as double) + ($a0) * ($a0) / cast(n0 - 1 as double), 0.0), 6) AS welch_df")
  }

  val welchTTestSql: String = {
    val h = graft.functions.Portable.md5LongSql("'welch'", "event_id")
    val floats = welchFloatExprs.mkString(",\n  ")
    s"""WITH tagged AS (
  SELECT event_type, ((value::DECIMAL(18,2)) * 100)::BIGINT AS v,
    $h % 2 AS arm
  FROM events),
m AS (
  SELECT event_type,
    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
    sum(CASE WHEN arm = 0 THEN v ELSE 0 END)::BIGINT AS s0,
    sum(CASE WHEN arm = 0 THEN v * v ELSE 0 END)::BIGINT AS q0,
    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
    sum(CASE WHEN arm = 1 THEN v ELSE 0 END)::BIGINT AS s1,
    sum(CASE WHEN arm = 1 THEN v * v ELSE 0 END)::BIGINT AS q1
  FROM tagged GROUP BY event_type),
g AS (
  SELECT event_type, n0, s0, n1, s1,
    (n0::HUGEINT * q0 - s0::HUGEINT * s0)::BIGINT AS vn0,
    (n1::HUGEINT * q1 - s1::HUGEINT * s1)::BIGINT AS vn1
  FROM m WHERE n0 > 1 AND n1 > 1)
SELECT event_type, n0, s0, vn0, n1, s1, vn1,
  $floats
FROM g"""
  }

  // ---- C98 (r9): log-log price elasticity ----
  // The pricing-economics regression: elasticity = d ln(qty)/d ln(price),
  // the slope of an OLS fit in log-log space, per brand. The float-sum
  // trap (Σ of ln terms is order-dependent) is closed with the L24
  // discipline: every per-row log term AND cross product is quantized
  // to DECIMAL(18,9) BEFORE summation, so the aggregates are
  // order-free decimals and the closing slope/intercept sequence runs
  // once per brand on identical inputs. One keyed part-join + one
  // grouped aggregate; nothing corpus-wide sorts.
  def priceElasticity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    // spread AFTER the filtered narrow select so the predicates still
    // reach PushedFilters — the per-row ln + decimal-quantize chain is
    // the CPU that a single-split local scan would serialize
    // (Scale.spreadNarrowScan is a no-op at real scan widths)
    val base = Scale.spreadNarrowScan(
      lineitem
        .where(col("l_quantity") > 0 && col("l_extendedprice") > 0)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice")),
      col("l_partkey"))
    val rows = base
      .join(part.select(col("p_partkey").as("l_partkey"), col("p_brand")), "l_partkey")
      .select(col("p_brand"),
        log(dec(col("l_extendedprice")).cast("double")).as("x"),
        log(dec(col("l_quantity")).cast("double")).as("y"))
    val d = "decimal(18,9)"
    val s = rows.groupBy(col("p_brand")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d)).as("sx"),
      sum(col("y").cast(d)).as("sy"),
      sum((col("x") * col("y")).cast(d)).as("sxy"),
      sum((col("x") * col("x")).cast(d)).as("sxx"))
    val slopeQ = "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
    s.selectExpr("p_brand", "n",
      s"round($slopeQ, 6) AS elasticity",
      s"round((cast(sy as double) - ($slopeQ) * cast(sx as double)) / cast(n as double), 6) AS ln_intercept")
  }

  val priceElasticitySql: String = {
    val slopeQ = "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
    s"""WITH rows_ AS (
  SELECT p.p_brand,
    ln((l.l_extendedprice::DECIMAL(18,2))::DOUBLE) AS x,
    ln((l.l_quantity::DECIMAL(18,2))::DOUBLE) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity > 0 AND l.l_extendedprice > 0),
s AS (
  SELECT p_brand, count(*) AS n,
    sum(CAST(x AS DECIMAL(18,9))) AS sx,
    sum(CAST(y AS DECIMAL(18,9))) AS sy,
    sum(CAST(x * y AS DECIMAL(18,9))) AS sxy,
    sum(CAST(x * x AS DECIMAL(18,9))) AS sxx
  FROM rows_ GROUP BY 1)
SELECT p_brand, n,
  round($slopeQ, 6) AS elasticity,
  round((cast(sy as double) - ($slopeQ) * cast(sx as double)) / cast(n as double), 6)
    AS ln_intercept
FROM s"""
  }

  // ---- C90 (r9): split-conformal prediction intervals ----
  // The distribution-free uncertainty wrapper every forecast should
  // ship with: fit a model on a CALIBRATION split, take the 90th
  // percentile of its absolute residuals as the band half-width, and
  // the conformal guarantee says a fresh point lands inside the band
  // with ≥ 90% probability regardless of the residual distribution —
  // verified here by scoring the held-out split (the L106
  // audit-beside-operator pattern). Composition: C40's OLS fit (exact
  // DECIMAL(38,0) moments over the md5-parity calibration split,
  // centered time axis), the finite-sample conformal quantile — the
  // ceil(0.9·(n+1))-th ORDER STATISTIC of the calibration residuals,
  // not the interpolated 0.9 percentile, which undercovers by ~1/n —
  // one broadcast of the per-type fit, and an exact count ratio for
  // the measured coverage. The residual doubles run the identical
  // IEEE sequence in both engines, so the ≤ q90 comparisons agree
  // bit-for-bit. Scale: two corpus scans (fit moments, score), two
  // tiny per-type broadcasts, no wide shuffle.
  def conformalIntervals(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      round(col("value") * 1000000L, 0).cast("long").as("y"))
      .withColumn("cal", pmod(md5Long(lit("cf"), col("event_id")), lit(2)))
    val t0 = e.groupBy(col("event_type")).agg(min(col("ts_us")).as("t0"))
    val c = e.join(broadcast(t0), "event_type")
      .select(col("event_type"), col("cal"),
        expr("(ts_us - t0) div 1000000").as("x"), col("y"))
      .localCheckpoint() // feeds the fit AND the residual scan
    val s = c.where(col("cal") === 0).groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum(expr("cast(x * x as decimal(38,0))")).as("sxx"),
      sum(expr("cast(x * y as decimal(38,0))")).as("sxy"))
    val slopeQ = "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
    val fit = s.selectExpr("event_type", "n as n_cal",
      s"($slopeQ) AS slope_mu",
      s"(cast(sy as double) - ($slopeQ) * cast(sx as double)) / cast(n as double) AS icept_mu")
    val scored = c.join(broadcast(fit), "event_type")
      .withColumn("resid",
        abs(col("y").cast("double") - (col("icept_mu") + col("slope_mu") * col("x"))))
    // conformal quantile: k-th smallest calibration residual with
    // k = ceil(0.9 * (n_cal + 1)) (the C13 exact path — the GK sketch
    // is the declared 100x twin). r11 cell-rank pattern: the k-th
    // order statistic is the residual VALUE whose cell spans position
    // k (cum − t < k ≤ cum), so the selection rides the distinct-
    // residual cell frame, not a per-row rank over the calibration
    // split. least(): a type with < 9 calibration rows clamps to its
    // max residual instead of silently vanishing from the report.
    val q = {
      import org.apache.spark.sql.expressions.Window
      val cells = scored.where(col("cal") === 0)
        .groupBy(col("event_type"), col("n_cal"), col("resid"))
        .agg(count(lit(1)).as("t"))
      val wv = Window.partitionBy(col("event_type")).orderBy(col("resid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum", sum(col("t")).over(wv))
        .withColumn("k",
          least(ceil(lit(0.9) * (col("n_cal") + 1)).cast("long"), col("n_cal")))
        .where(col("cum") - col("t") < col("k") && col("k") <= col("cum"))
        .groupBy(col("event_type")).agg(min(col("resid")).as("q90_mu"))
    }
    scored.where(col("cal") === 1).join(broadcast(q), "event_type")
      .groupBy(col("event_type"), col("n_cal"), col("slope_mu"), col("q90_mu"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("resid") <= col("q90_mu"), 1L).otherwise(0L)).as("covered"))
      .select(col("event_type"), col("n_cal"), col("n_test"),
        round(col("slope_mu") * 86400.0 / 1000000.0, 6).as("slope_per_day"),
        round(col("q90_mu") / 1000000.0, 6).as("q90"),
        round(col("covered").cast("double") / col("n_test"), 6).as("coverage"))
  }

  val conformalIntervalsSql: String = {
    val h = graft.functions.Portable.md5LongSql("'cf'", "event_id")
    val slopeQ = "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
    s"""WITH e AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
    round(value * 1000000)::BIGINT AS y, $h % 2 AS cal
  FROM events),
t0 AS (SELECT event_type, min(ts_us) AS t0 FROM e GROUP BY 1),
c AS (SELECT e.event_type, e.cal, (e.ts_us - t0.t0) // 1000000 AS x, e.y
  FROM e JOIN t0 USING (event_type)),
s AS (
  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
    sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM c WHERE cal = 0 GROUP BY event_type),
fit AS (
  SELECT event_type, n AS n_cal, ($slopeQ) AS slope_mu,
    (cast(sy as double) - ($slopeQ) * cast(sx as double)) / cast(n as double) AS icept_mu
  FROM s),
scored AS (
  SELECT c.event_type, c.cal, fit.n_cal, fit.slope_mu,
    abs(c.y::DOUBLE - (fit.icept_mu + fit.slope_mu * c.x)) AS resid
  FROM c JOIN fit USING (event_type)),
q AS (
  SELECT event_type, min(resid) AS q90_mu
  FROM (SELECT event_type, n_cal, resid,
      row_number() OVER (PARTITION BY event_type ORDER BY resid) AS rn
    FROM scored WHERE cal = 0)
  WHERE rn = least(ceil(0.9 * (n_cal + 1))::BIGINT, n_cal)
  GROUP BY event_type)
SELECT s.event_type, s.n_cal, count(*)::BIGINT AS n_test,
  round(s.slope_mu * 86400.0 / 1000000.0, 6) AS slope_per_day,
  round(q.q90_mu / 1000000.0, 6) AS q90,
  round(sum(CASE WHEN s.resid <= q.q90_mu THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
    AS coverage
FROM scored s JOIN q USING (event_type)
WHERE s.cal = 1
GROUP BY s.event_type, s.n_cal, s.slope_mu, q.q90_mu"""
  }

  // ---- C93 (r9): Markov transition matrix over event sequences ----
  // The behavioral model behind "what happens next": per-user event
  // streams yield adjacent (from, to) transitions (one lag window,
  // user-keyed — the C42 sequence discipline), counted into the
  // alphabet-bounded transition matrix with row-normalized
  // probabilities and a per-cell entropy term −p·ln p. Terms are
  // released PER CELL (the C62 rule: no cross-engine float sum — the
  // consumer folds the ≤|alphabet|² rows); counts and row totals are
  // exact BIGINTs and p is the one division. Scale: one user-keyed
  // window over the corpus, one (from, to) aggregate; everything
  // after is alphabet-bounded.
  def markovTransitions(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
    val cnt = pairs.groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("from_type")).agg(sum(col("n")).as("row_total"))
    cnt.join(tot, "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("row_total"),
        round(col("n").cast("double") / col("row_total"), 6).as("p"),
        round(-(col("n").cast("double") / col("row_total")) *
          log(col("n").cast("double") / col("row_total")), 6).as("h_term"))
  }

  val markovTransitionsSql: String =
    """WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS from_type,
    event_type AS to_type
  FROM events),
cnt AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, sum(n)::BIGINT AS row_total FROM cnt GROUP BY 1)
SELECT cnt.from_type, cnt.to_type, cnt.n, tot.row_total,
  round(cnt.n::DOUBLE / tot.row_total, 6) AS p,
  round(-(cnt.n::DOUBLE / tot.row_total) * ln(cnt.n::DOUBLE / tot.row_total), 6)
    AS h_term
FROM cnt JOIN tot USING (from_type)"""

  // ---- C84 (r9): Benford first-digit audit ----
  // The forensic-accounting / data-quality screen: naturally occurring
  // amounts follow Benford's law (P(d) = log10(1+1/d)); fabricated or
  // systematically generated ones don't, and the per-digit deviation +
  // chi-square term is the standard test statistic. Exactness: amounts
  // become exact cents, the first significant digit comes from a pure
  // integer CASE ladder (no log10 on data — float log at a power-of-10
  // boundary is an engine-divergence trap), and the nine expected
  // frequencies are shared 6-decimal literals, so the one float
  // division (share) happens identically on both engines. Scale: one
  // map-side digit classification + one 9-bucket aggregate; the share
  // window runs over the 9-row digit frame, never the corpus.
  private val BenfordExpected = Seq(
    1 -> "0.301030", 2 -> "0.176091", 3 -> "0.124939", 4 -> "0.096910",
    5 -> "0.079181", 6 -> "0.066947", 7 -> "0.057992", 8 -> "0.051153",
    9 -> "0.045757")

  def benfordAudit(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = lineitem.select((dec(col("l_extendedprice")) * 100).cast("long").as("c"))
      .where(col("c") > 0)
    // integer ladder: digit = c div 10^k for the k with 10^k <= c < 10^(k+1)
    // (fold from k=0 up so the final chain tests the largest power first)
    val digit = (0 to 14).foldLeft(lit(0L): org.apache.spark.sql.Column) { (acc, k) =>
      val p = math.pow(10, k).toLong
      when(col("c") >= p, expr(s"c div ${p}L")).otherwise(acc)
    }
    val counts = cents.select(digit.as("digit")).groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val expected = BenfordExpected.foldLeft(lit(0.0)) { case (acc, (d, e)) =>
      when(col("digit") === d, lit(e.toDouble)).otherwise(acc)
    }
    val w = Window.partitionBy(lit(1)) // the 9-row digit frame
    counts
      .withColumn("share", round(col("n").cast("double") / sum(col("n")).over(w), 6))
      .withColumn("expected", expected)
      .withColumn("deviation", round(col("share") - col("expected"), 6))
      .withColumn("chi_term", round(
        (col("share") - col("expected")) * (col("share") - col("expected")) /
          col("expected") * sum(col("n")).over(w), 6))
      .select(col("digit"), col("n"), col("share"), col("expected"),
        col("deviation"), col("chi_term"))
  }

  val benfordAuditSql: String = {
    val ladder = (14 to 0 by -1).map { k =>
      val p = math.pow(10, k).toLong
      s"WHEN c >= $p THEN c // $p"
    }.mkString("\n    ")
    val exp = BenfordExpected.map { case (d, e) => s"WHEN $d THEN $e" }.mkString(" ")
    // the cast matters: a bare decimal literal in a DuckDB CASE types
    // the whole expression DECIMAL, not DOUBLE
    val expCase = s"(CASE digit $exp ELSE 0.0 END)::DOUBLE"
    s"""WITH cents AS (
  SELECT ((l_extendedprice::DECIMAL(18,2)) * 100)::BIGINT AS c
  FROM lineitem WHERE l_extendedprice > 0),
dig AS (
  SELECT CASE
    $ladder
    ELSE 0 END AS digit
  FROM cents),
cnt AS (SELECT digit, count(*)::BIGINT AS n FROM dig GROUP BY digit),
tot AS (SELECT digit, n, sum(n) OVER () AS t FROM cnt)
SELECT digit, n,
  round(n::DOUBLE / t, 6) AS share,
  $expCase AS expected,
  round(round(n::DOUBLE / t, 6) - $expCase, 6) AS deviation,
  round((round(n::DOUBLE / t, 6) - $expCase)
    * (round(n::DOUBLE / t, 6) - $expCase)
    / $expCase * t, 6) AS chi_term
FROM tot"""
  }

  // ---- C86 (r9): Gini concentration of revenue per nation ----
  // The inequality/concentration readout (customer-revenue
  // concentration, supplier dependency, token-budget skew): per
  // nation, the Gini coefficient of per-customer revenue via the exact
  // rank formula G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) over ascending
  // (x, custkey)-ordered revenues. Everything before the one final
  // division is integer/decimal-exact: revenues are cent BIGINTs, the
  // rank products accumulate as DECIMAL(38,0) (n·max_cents·n headroom
  // at any scale), and the (cents, custkey) order is total. Scale: the
  // corpus aggregates per customer first; the rank window partitions
  // by nation over the aggregated frame (the C4 contract).
  def giniConcentration(orders: DataFrame, customer: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = orders.groupBy(col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
      .join(customer.select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").as("nation")), "o_custkey")
    // r11 (the C147 cell-rank pattern, rank-SUM form): Σ i·x over a
    // (cents, custkey)-ordered row numbering telescopes per (nation,
    // cents) cell to x·(c·a + c(c+1)/2) with a = rows before the cell
    // — the custkey tiebreak only permutes ranks WITHIN the cell,
    // where x is constant, so the sum is identical. No per-nation
    // per-row window (25-way parallelism cap at scale) — the one
    // ordered window rides the distinct-(nation, cents) cell frame.
    val d38g = "decimal(38,0)"
    val wv = Window.partitionBy(col("nation")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.groupBy(col("nation"), col("cents")).agg(count(lit(1)).as("c"))
      .withColumn("a", sum(col("c")).over(wv) - col("c"))
      .withColumn("ixc", col("cents").cast(d38g) *
        (col("c").cast(d38g) * col("a") +
          graft.functions.Portable.decDiv(
            col("c").cast(d38g) * (col("c") + 1), lit(2).cast(d38g))))
      .groupBy(col("nation"))
      .agg(sum(col("c")).as("n_customers"),
        sum(col("c") * col("cents")).as("total_cents"),
        sum(col("ixc")).as("ix"))
      .select(col("nation"), col("n_customers"), col("total_cents"),
        round((lit(2).cast("decimal(38,0)") * col("ix") -
          (col("n_customers") + 1).cast("decimal(38,0)") * col("total_cents"))
          .cast("double") /
          (col("n_customers").cast("decimal(38,0)") * col("total_cents"))
            .cast("double"), 6).as("gini"))
  }

  val giniConcentrationSql: String =
    """WITH rev AS (
  SELECT o_custkey, (sum(o_totalprice::DECIMAL(18,2)) * 100)::BIGINT AS cents
  FROM orders GROUP BY o_custkey),
tagged AS (
  SELECT c.c_nationkey AS nation, r.cents,
    row_number() OVER (PARTITION BY c.c_nationkey ORDER BY r.cents, r.o_custkey) AS i
  FROM rev r JOIN customer c ON c.c_custkey = r.o_custkey),
g AS (
  SELECT nation, count(*)::BIGINT AS n_customers,
    sum(cents)::BIGINT AS total_cents,
    sum(i::HUGEINT * cents)::HUGEINT AS ix
  FROM tagged GROUP BY nation)
SELECT nation, n_customers, total_cents,
  round((2::HUGEINT * ix - (n_customers + 1)::HUGEINT * total_cents)::DOUBLE /
    (n_customers::HUGEINT * total_cents)::DOUBLE, 6) AS gini
FROM g"""

  // ---- C87 (r9): Spearman rank correlation ----
  // The robust monotone-association twin of C61's Pearson matrix:
  // rank-transform both variables (average ranks for ties — the
  // standard treatment), then Pearson over the ranks. The doubled
  // average rank 2r + c − 1 (r = min rank of the tie group, c = tie
  // size) is an INTEGER, so every moment accumulates exactly in
  // DECIMAL(38,0) and the single float sequence (three casts, one
  // sqrt, one division, round 6) runs on identical inputs in both
  // engines. Scale (r11): both rank transforms ride value-cell
  // frames (no per-row window at all) + one grouped moment
  // aggregate — no corpus-wide OR type-partitioned window, no
  // self-join.
  def spearmanCorr(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events.select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("x"),
      unix_micros(col("ts")).as("y"))
    // r11 (the C147/C102 cell-rank pattern): each variable's doubled
    // midrank is a pure function of its VALUE (2·cum − t + 1 over the
    // per-type distinct-value frame), so both rank transforms become
    // keyed joins against value-cell frames and the per-row moments
    // aggregate over (type, x, y) cells — the per-type window that
    // capped parallelism at the type alphabet is gone.
    def cellRanks(c: String) = {
      val wv = Window.partitionBy(col("event_type")).orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.groupBy(col("event_type"), col(c)).agg(count(lit(1)).as("t"))
        .withColumn("cum", sum(col("t")).over(wv))
        .select(col("event_type"), col(c),
          (lit(2L) * col("cum") - col("t") + 1).as(s"r$c"))
    }
    val cells = base.groupBy(col("event_type"), col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
      .join(cellRanks("x"), Seq("event_type", "x"))
      .join(cellRanks("y"), Seq("event_type", "y"))
    val d38 = "decimal(38,0)"
    cells.groupBy(col("event_type"))
      .agg(sum(col("c")).cast(d38).as("n"),
        sum(col("c").cast(d38) * col("rx")).as("sx"),
        sum(col("c").cast(d38) * col("ry")).as("sy"),
        sum(col("c").cast(d38) * col("rx") * col("ry")).as("sxy"),
        sum(col("c").cast(d38) * col("rx") * col("rx")).as("sxx"),
        sum(col("c").cast(d38) * col("ry") * col("ry")).as("syy"))
      .select(col("event_type"), col("n").cast("long").as("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("spearman"))
  }

  val spearmanCorrSql: String =
    """WITH base AS (
  SELECT event_type, ((value::DECIMAL(18,2)) * 100)::BIGINT AS x,
         epoch_us(ts) AS y
  FROM events),
ranked AS (
  SELECT event_type,
    (2 * rank() OVER (PARTITION BY event_type ORDER BY x)
      + count(*) OVER (PARTITION BY event_type, x) - 1)::BIGINT AS rx,
    (2 * rank() OVER (PARTITION BY event_type ORDER BY y)
      + count(*) OVER (PARTITION BY event_type, y) - 1)::BIGINT AS ry
  FROM base),
m AS (
  SELECT event_type, count(*)::HUGEINT AS n,
    sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
    sum(rx::HUGEINT * ry) AS sxy,
    sum(rx::HUGEINT * rx) AS sxx, sum(ry::HUGEINT * ry) AS syy
  FROM ranked GROUP BY event_type)
SELECT event_type, n::BIGINT AS n,
  round((n * sxy - sx * sy)::DOUBLE /
    sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6) AS spearman
FROM m"""

  // ---- C89 (r9): CUPED variance reduction for A/B readouts ----
  // The experimentation-platform standard (Deng et al.'s controlled
  // pre-experiment data): adjust each unit's experiment-window metric
  // Y by its PRE-period covariate X, Y' = Y − θ(X − mean X) with
  // θ = cov(X,Y)/var(X) fitted POOLED across arms (θ from the pooled
  // frame is assignment-independent, so the adjustment is unbiased),
  // typically halving the variance the t-test sees. Determinism: the
  // window split is the corpus temporal midpoint (single-row
  // broadcast, the C65 idiom), the arm is an md5 parity, X/Y are
  // exact cent sums per user, every moment is a DECIMAL(38,0)
  // aggregate, and θ plus the closed-form adjusted variance
  // Var(Y) − 2θCov + θ²Var(X) run the identical float sequence on
  // both engines — no per-row float ever accumulates. Scale: one
  // (user) aggregate, one single-row pooled-moment broadcast, one
  // (arm) aggregate.
  def cupedAdjust(events: DataFrame): DataFrame = {
    val mid = events.agg(expr(
      "min(unix_micros(ts)) + (max(unix_micros(ts)) - min(unix_micros(ts))) div 2")
      .as("mid"))
    val d38 = "decimal(38,0)"
    val units = events.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        (coalesce(sum(when(unix_micros(col("ts")) < col("mid"), dec(col("value")))),
          lit(0).cast("decimal(18,2)")) * 100).cast("long").as("x"),
        (coalesce(sum(when(unix_micros(col("ts")) >= col("mid"), dec(col("value")))),
          lit(0).cast("decimal(18,2)")) * 100).cast("long").as("y"))
      .withColumn("arm", pmod(md5Long(lit("arm"), col("user_id")), lit(2)))
    val pooled = units.agg(
      count(lit(1)).cast(d38).as("pn"),
      sum(col("x").cast(d38)).as("psx"),
      sum(col("y").cast(d38)).as("psy"),
      sum(col("x").cast(d38) * col("x")).as("psxx"),
      sum(col("x").cast(d38) * col("y")).as("psxy"))
    val theta = pooled.select(
      ((col("pn") * col("psxy") - col("psx") * col("psy")).cast("double") /
        (col("pn") * col("psxx") - col("psx") * col("psx")).cast("double"))
        .as("theta"),
      (col("psx").cast("double") / col("pn").cast("double")).as("mean_x"))
    units.groupBy(col("arm"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("y").cast(d38) * col("y")).as("syy"),
        sum(col("x").cast(d38) * col("y")).as("sxy"))
      .crossJoin(broadcast(theta))
      .select(col("arm"), col("n").cast("long").as("n"),
        round(col("sy").cast("double") / col("n").cast("double") / 100, 4)
          .as("mean_y"),
        round((col("sy").cast("double") / col("n").cast("double") -
          col("theta") * (col("sx").cast("double") / col("n").cast("double") -
            col("mean_x"))) / 100, 4).as("mean_y_adj"),
        round(((col("n") * col("syy") - col("sy") * col("sy")).cast("double") /
          (col("n") * col("n")).cast("double")) / 10000, 4).as("var_y"),
        round(((col("n") * col("syy") - col("sy") * col("sy")).cast("double") /
          (col("n") * col("n")).cast("double") -
          lit(2.0) * col("theta") *
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("n")).cast("double")) +
          col("theta") * col("theta") *
            ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
              (col("n") * col("n")).cast("double"))) / 10000, 4).as("var_y_adj"))
  }

  val cupedAdjustSql: String = {
    val h = graft.functions.Portable.md5LongSql("'arm'", "user_id")
    s"""WITH mid AS (
  SELECT min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS mid
  FROM events),
units AS (
  SELECT user_id,
    (coalesce(sum(CASE WHEN epoch_us(ts) < mid THEN value::DECIMAL(18,2) END),
      0::DECIMAL(18,2)) * 100)::BIGINT AS x,
    (coalesce(sum(CASE WHEN epoch_us(ts) >= mid THEN value::DECIMAL(18,2) END),
      0::DECIMAL(18,2)) * 100)::BIGINT AS y,
    $h % 2 AS arm
  FROM events CROSS JOIN mid
  GROUP BY user_id),
pooled AS (
  SELECT count(*)::HUGEINT AS pn, sum(x::HUGEINT) AS psx, sum(y::HUGEINT) AS psy,
    sum(x::HUGEINT * x) AS psxx, sum(x::HUGEINT * y) AS psxy
  FROM units),
theta AS (
  SELECT (pn * psxy - psx * psy)::DOUBLE / (pn * psxx - psx * psx)::DOUBLE AS theta,
    psx::DOUBLE / pn::DOUBLE AS mean_x
  FROM pooled),
arms AS (
  SELECT arm, count(*)::HUGEINT AS n, sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
    sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy, sum(x::HUGEINT * y) AS sxy
  FROM units GROUP BY arm)
SELECT arm, n::BIGINT AS n,
  round(sy::DOUBLE / n::DOUBLE / 100, 4) AS mean_y,
  round((sy::DOUBLE / n::DOUBLE - theta * (sx::DOUBLE / n::DOUBLE - mean_x)) / 100, 4)
    AS mean_y_adj,
  round(((n * syy - sy * sy)::DOUBLE / (n * n)::DOUBLE) / 10000, 4) AS var_y,
  round(((n * syy - sy * sy)::DOUBLE / (n * n)::DOUBLE
    - 2.0 * theta * ((n * sxy - sx * sy)::DOUBLE / (n * n)::DOUBLE)
    + theta * theta * ((n * sxx - sx * sx)::DOUBLE / (n * n)::DOUBLE)) / 10000, 4)
    AS var_y_adj
FROM arms CROSS JOIN theta"""
  }

  // ---- C101 (r9): exact ROC AUC — one-vs-rest, per class ----
  // The classifier-evaluation standard, computed EXACTLY via the
  // Mann-Whitney identity: AUC = (Σ ranks of positives − n⁺(n⁺+1)/2)
  // / (n⁺·n⁻), with AVERAGE ranks for score ties (the tie-corrected
  // estimator — ties count 1/2, exactly what the trapezoidal ROC
  // integral does). The C87 doubled-rank trick keeps everything
  // integer: 2·rank + ties − 1 is the doubled average rank, so the
  // positive-rank sum S2 is a BIGINT and
  // AUC = (S2 − n⁺(n⁺+1)) / (2·n⁺·n⁻) is ONE float division.
  // Scored one-vs-rest per class: class c's score is embedding
  // dimension c (a deterministic per-class scorer over the shared
  // vector — the shape a multi-head probe produces). The class grid
  // is a declared ≤|alphabet|-row broadcast (q_dedup_sweep pattern).
  // Scale: the per-class rank window totals-orders the corpus per
  // class — exact by design at report scale; the C48 two-phase
  // ranking is the declared 100× path (same integers, same AUC).
  // r10 hardening (ADVICE r9): rank() is IntegerType — the doubled
  // tie-midpoint is computed in LONG (an Int 2·rank overflows past
  // ~2^30 rows/class while the SQL side is BIGINT); null scores (a
  // label outside the embedding dimensionality) are filtered BEFORE
  // ranking (Spark windows sort NULLS FIRST vs DuckDB's NULLS LAST —
  // a silent cross-engine rank shift); and the hashed surface is
  // ALL-INTEGER — AUC = auc_num/auc_den is released as the exact
  // BIGINT pair (the q_modularity r10 discipline: no float, no
  // round()-tie fragility, and a single-class partition yields
  // auc_den = 0 instead of an engine-dependent NaN). StatsSpec pins
  // the float.
  def rocAuc(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"),
      col("embedding").cast("array<double>").as("v"))
    val classes = base.select(col("label").as("class")).distinct()
    val scored = base.crossJoin(broadcast(classes))
      .select(col("class"),
        // try_: an out-of-range label must read NULL (then be filtered
        // below), not throw under ANSI — mirroring DuckDB list indexing
        try_element_at(col("v"), (col("class") + 1).cast("int")).as("score"),
        when(col("label") === col("class"), 1L).otherwise(0L).as("pos"))
      .where(col("score").isNotNull)
    // r11 (the C147/C102 cell-rank pattern): the doubled midrank is a
    // pure function of the score value — derive it on the per-(class,
    // score) cell frame instead of a class-partitioned per-row window
    // (class alphabet = window parallelism cap at scale). Grouping by
    // the double score is exact: identical bits, no arithmetic.
    val cells = scored.groupBy(col("class"), col("score"), col("pos"))
      .agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy(col("class")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cellsV = cells.groupBy(col("class"), col("score"))
      .agg(sum(col("c")).as("t"))
      .withColumn("cum", sum(col("t")).over(wv))
      .select(col("class"), col("score"),
        (lit(2L) * col("cum") - col("t") + 1).as("r2"))
    cells.join(cellsV, Seq("class", "score"))
      .groupBy(col("class"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("pos") === 1, col("c")).otherwise(0L)).as("n_pos"),
        sum(when(col("pos") === 1, col("c") * col("r2")).otherwise(0L))
          .as("s2"))
      .select(col("class"), col("n_pos"),
        (col("n") - col("n_pos")).as("n_neg"),
        (col("s2") - col("n_pos") * (col("n_pos") + 1)).as("auc_num"),
        (lit(2L) * col("n_pos") * (col("n") - col("n_pos"))).as("auc_den"))
  }

  val rocAucSql: String =
    """WITH base AS (
  SELECT vec_id, label::BIGINT AS label, embedding::DOUBLE[] AS v FROM embeddings),
classes AS (SELECT DISTINCT label AS class FROM base),
scored AS (
  SELECT c.class, b.v[(c.class + 1)::INT] AS score,
    CASE WHEN b.label = c.class THEN 1::BIGINT ELSE 0::BIGINT END AS pos
  FROM base b CROSS JOIN classes c),
ranked AS (
  SELECT class, pos,
    (2::BIGINT * rank() OVER (PARTITION BY class ORDER BY score)
      + count(*) OVER (PARTITION BY class, score) - 1)::BIGINT AS r2
  FROM scored WHERE score IS NOT NULL),
g AS (
  SELECT class, count(*)::BIGINT AS n, sum(pos)::BIGINT AS n_pos,
    sum(CASE WHEN pos = 1 THEN r2 ELSE 0 END)::BIGINT AS s2
  FROM ranked GROUP BY class)
SELECT class, n_pos, (n - n_pos) AS n_neg,
  (s2 - n_pos * (n_pos + 1))::BIGINT AS auc_num,
  (2::BIGINT * n_pos * (n - n_pos))::BIGINT AS auc_den
FROM g"""

  // ---- C125 (r10): difference-in-differences — pre/post x arm lift ----
  // The observational-lift estimator the experimentation suite (C71
  // sequential z, C89 CUPED, C102/C111 tests) still lacked: when
  // treatment switches ON at a point in time, the causal read is the
  // TREATED arm's pre-to-post move MINUS the control arm's (parallel-
  // trends assumption). Cells: arm = md5-parity on USER (assignment
  // unit — not event, or within-user correlation leaks across arms),
  // period = event time vs the single-row corpus temporal midpoint
  // (the C65 idiom). Hashed surface: 8 exact cell moments (n, Σ cents)
  // + ONE float (the DiD estimate) from a fixed-order chain of four
  // exact divisions; types with any empty cell are excluded by WHERE.
  // Plan: one map-side-partial aggregate per type over the broadcast
  // midpoint — no window, no join.
  def didLift(events: DataFrame): DataFrame = {
    val mid = events.agg(expr(
      "min(unix_micros(ts)) + (max(unix_micros(ts)) - min(unix_micros(ts))) div 2")
      .as("mid"))
    val tagged = events.crossJoin(broadcast(mid))
      .select(col("event_type"),
        (dec(col("value")) * 100).cast("long").as("v"),
        pmod(md5Long(lit("did"), col("user_id")), lit(2)).as("arm"),
        when(expr("unix_micros(ts)") < col("mid"), 0L).otherwise(1L).as("post"))
    def cell(a: Int, p: Int) = (
      sum(when(col("arm") === a && col("post") === p, 1L).otherwise(0L)).as(s"n$a$p"),
      sum(when(col("arm") === a && col("post") === p, col("v")).otherwise(0L)).as(s"s$a$p"))
    val cells = Seq(cell(0, 0), cell(0, 1), cell(1, 0), cell(1, 1))
      .flatMap { case (a, b) => Seq(a, b) }
    tagged.groupBy(col("event_type"))
      .agg(cells.head, cells.tail: _*)
      .where(col("n00") > 0 && col("n01") > 0 && col("n10") > 0 && col("n11") > 0)
      .selectExpr(Seq("event_type", "n00", "s00", "n01", "s01",
        "n10", "s10", "n11", "s11", didFloatExpr): _*)
  }

  // the one float chain, shared verbatim with the oracle
  private val didFloatExpr: String =
    "round((cast(s11 as double) / cast(n11 as double) - cast(s10 as double) / cast(n10 as double)) - (cast(s01 as double) / cast(n01 as double) - cast(s00 as double) / cast(n00 as double)), 6) AS did_cents"

  val didLiftSql: String = {
    val h = graft.functions.Portable.md5LongSql("'did'", "user_id")
    s"""WITH mid AS (
  SELECT min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS mid
  FROM events),
tagged AS (
  SELECT event_type, ((value::DECIMAL(18,2)) * 100)::BIGINT AS v,
    $h % 2 AS arm,
    CASE WHEN epoch_us(ts) < mid THEN 0 ELSE 1 END AS post
  FROM events CROSS JOIN mid),
cells AS (
  SELECT event_type,
    sum(CASE WHEN arm = 0 AND post = 0 THEN 1 ELSE 0 END)::BIGINT AS n00,
    sum(CASE WHEN arm = 0 AND post = 0 THEN v ELSE 0 END)::BIGINT AS s00,
    sum(CASE WHEN arm = 0 AND post = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
    sum(CASE WHEN arm = 0 AND post = 1 THEN v ELSE 0 END)::BIGINT AS s01,
    sum(CASE WHEN arm = 1 AND post = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
    sum(CASE WHEN arm = 1 AND post = 0 THEN v ELSE 0 END)::BIGINT AS s10,
    sum(CASE WHEN arm = 1 AND post = 1 THEN 1 ELSE 0 END)::BIGINT AS n11,
    sum(CASE WHEN arm = 1 AND post = 1 THEN v ELSE 0 END)::BIGINT AS s11
  FROM tagged GROUP BY event_type)
SELECT event_type, n00, s00, n01, s01, n10, s10, n11, s11,
  $didFloatExpr
FROM cells WHERE n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0"""
  }

  // ---- C128 (r10): sample-ratio-mismatch check — the experiment gate ----
  // Run BEFORE any A/B readout (C71/C89/C102/C111/C125): if the
  // realized arm split deviates from the designed 50/50 beyond chance,
  // the assignment is broken and every downstream stat is invalid.
  // One-df chi-square against 50/50 is (n0 − n1)²/(n0 + n1) — the
  // numerator an exact DECIMAL(38,0) square (cast before the product;
  // counts can exceed 3e9 per type at corpus scale), one division +
  // round the only float. The md5 arm reuses C102's "mw" seed so this
  // gates the ACTUAL assignment the tests consume. One map-side
  // aggregate per type; SRM flagged at the conventional chi2 > 3.841
  // (p < 0.05) — the flag computed on the exact rational, not the
  // rounded float (cross-multiplied: 1000·(n0−n1)² > 3841·n).
  def srmCheck(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    events.select(col("event_type"),
        pmod(md5Long(lit("mw"), col("event_id")), lit(2)).as("arm"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      .select(col("event_type"), col("n0"), col("n1"),
        ((col("n0") - col("n1")).cast(d38) * (col("n0") - col("n1"))).as("d2"),
        (col("n0") + col("n1")).as("n"))
      .select(col("event_type"), col("n0"), col("n1"),
        round(col("d2").cast("double") / col("n").cast("double"), 6).as("chi2"),
        (col("d2") * 1000 > col("n").cast(d38) * 3841).cast("long").as("srm_flag"))
  }

  val srmCheckSql: String = {
    val h = graft.functions.Portable.md5LongSql("'mw'", "event_id")
    s"""WITH armed AS (
  SELECT event_type, $h % 2 AS arm FROM events),
m AS (
  SELECT event_type,
    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
  FROM armed GROUP BY event_type),
d AS (
  SELECT event_type, n0, n1,
    ((n0 - n1)::HUGEINT * (n0 - n1))::DECIMAL(38,0) AS d2,
    (n0 + n1)::BIGINT AS n
  FROM m)
SELECT event_type, n0, n1,
  round(d2::DOUBLE / n::DOUBLE, 6) AS chi2,
  (d2 * 1000 > n::DECIMAL(38,0) * 3841)::BIGINT AS srm_flag
FROM d"""
  }

  // ---- C129 (r10): p-chart — proportion control chart on return rate ----
  // C28 control-charts VALUES (3-sigma z on amounts); the other SPC
  // staple monitors a PROPORTION: weekly return rate against binomial
  // 3-sigma limits around the long-run center p = R/N — the "did
  // quality slip this week" gate. All-integer hashed surface: weekly
  // (n, r, exact ppm), the center as exact (R, N), and the OUT-OF-
  // CONTROL FLAG decided on the cross-multiplied exact rational
  //   (r·N − R·n)² > 9·R·(N − R)·n
  // (DECIMAL(38,0), cast before products — holds to ~1e9-row weeks;
  // the C128 discipline), never on a rounded float. The reported UCL
  // is one fixed-order float chain, round 6. One daily-free weekly
  // aggregate + a single-row center broadcast.
  def pChart(lineitem: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val weekly = lineitem.select(
        expr("datediff(to_date(l_shipdate), date'1970-01-01') div 7")
          .cast("long").as("week"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n"), sum(col("ret")).as("r"))
    val center = weekly.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"))
    weekly.crossJoin(broadcast(center))
      .select(col("week"), col("n"), col("r"),
        expr("(r * 1000000) div n").as("rate_ppm"),
        expr("(rr * 1000000) div nn").as("center_ppm"),
        ((col("r").cast(d38) * col("nn") - col("rr").cast(d38) * col("n")) *
          (col("r").cast(d38) * col("nn") - col("rr").cast(d38) * col("n")) >
          col("rr").cast(d38) * (col("nn") - col("rr")) * col("n") * 9)
          .cast("long").as("ooc_flag"),
        expr("round(cast(rr as double) / cast(nn as double) + 3.0 * sqrt(cast(rr as double) / cast(nn as double) * (1.0 - cast(rr as double) / cast(nn as double)) / cast(n as double)), 6)")
          .as("ucl"))
  }

  val pChartSql: String =
    """WITH weekly AS (
  SELECT (date_diff('day', DATE '1970-01-01', l_shipdate::DATE) // 7)::BIGINT AS week,
    count(*)::BIGINT AS n,
    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS r
  FROM lineitem GROUP BY 1),
center AS (SELECT sum(n)::BIGINT AS nn, sum(r)::BIGINT AS rr FROM weekly)
SELECT week, n, r,
  ((r * 1000000) // n)::BIGINT AS rate_ppm,
  ((rr * 1000000) // nn)::BIGINT AS center_ppm,
  ((r::DECIMAL(38,0) * nn - rr::DECIMAL(38,0) * n) *
   (r::DECIMAL(38,0) * nn - rr::DECIMAL(38,0) * n) >
   rr::DECIMAL(38,0) * (nn - rr) * n * 9)::BIGINT AS ooc_flag,
  round(cast(rr as double) / cast(nn as double) + 3.0 * sqrt(cast(rr as double) / cast(nn as double) * (1.0 - cast(rr as double) / cast(nn as double)) / cast(n as double)), 6) AS ucl
FROM weekly CROSS JOIN center"""

  // ---- C131 (r10): heterogeneous treatment effect by pre-spend decile ----
  // The "who does the treatment work FOR" readout on top of C125's
  // assignment: per-user pre-period spend (C89's covariate) cuts the
  // user base into rank deciles, and each decile reports its own arms
  // and treatment effect — flat effects justify one global readout,
  // concentrated ones change the rollout. Assignment stays the C125
  // per-USER md5 parity; period split is the single-row corpus
  // midpoint. Hashed surface: per decile the four exact moments
  // (users + post-cents per arm) and ONE fixed-order float (the
  // decile ATE); deciles with an empty arm excluded by WHERE. The
  // per-user rank is the C48/C126 declared total-order concession.
  def hteDeciles(events: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val mid = events.agg(expr(
      "min(unix_micros(ts)) + (max(unix_micros(ts)) - min(unix_micros(ts))) div 2")
      .as("mid"))
    val per = events.crossJoin(broadcast(mid))
      .select(col("user_id"),
        pmod(md5Long(lit("did"), col("user_id")), lit(2)).as("arm"),
        (dec(col("value")) * 100).cast("long").as("v"),
        (expr("unix_micros(ts)") < col("mid")).cast("long").as("pre"))
      .groupBy(col("user_id"), col("arm"))
      .agg(sum(when(col("pre") === 1, col("v")).otherwise(0L)).as("pre_cents"),
        sum(when(col("pre") === 0, col("v")).otherwise(0L)).as("post_cents"))
    val n = per.agg(count(lit(1)).as("n_users"))
    per.crossJoin(broadcast(n))
      .withColumn("rn", row_number()
        .over(W.orderBy(col("pre_cents").desc, col("user_id").asc)))
      .withColumn("decile", expr("((rn - 1) * 10) div n_users"))
      .groupBy(col("decile"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("post_cents")).otherwise(0L)).as("s0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("post_cents")).otherwise(0L)).as("s1"))
      .where(col("n0") > 0 && col("n1") > 0)
      .selectExpr("decile", "n0", "s0", "n1", "s1",
        "round(cast(s1 as double) / cast(n1 as double) - cast(s0 as double) / cast(n0 as double), 6) AS ate_cents")
  }

  val hteDecilesSql: String = {
    val h = graft.functions.Portable.md5LongSql("'did'", "user_id")
    s"""WITH mid AS (
  SELECT min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS mid
  FROM events),
per AS (
  SELECT user_id, $h % 2 AS arm,
    sum(CASE WHEN epoch_us(ts) < mid
      THEN ((value::DECIMAL(18,2)) * 100)::BIGINT ELSE 0 END)::BIGINT AS pre_cents,
    sum(CASE WHEN epoch_us(ts) >= mid
      THEN ((value::DECIMAL(18,2)) * 100)::BIGINT ELSE 0 END)::BIGINT AS post_cents
  FROM events CROSS JOIN mid GROUP BY 1, 2),
n AS (SELECT count(*)::BIGINT AS n_users FROM per),
ranked AS (
  SELECT arm, post_cents,
    ((row_number() OVER (ORDER BY pre_cents DESC, user_id ASC) - 1) * 10) // n_users AS decile
  FROM per CROSS JOIN n),
cells AS (
  SELECT decile,
    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
    sum(CASE WHEN arm = 0 THEN post_cents ELSE 0 END)::BIGINT AS s0,
    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
    sum(CASE WHEN arm = 1 THEN post_cents ELSE 0 END)::BIGINT AS s1
  FROM ranked GROUP BY 1)
SELECT decile, n0, s0, n1, s1,
  round(cast(s1 as double) / cast(n1 as double) - cast(s0 as double) / cast(n0 as double), 6) AS ate_cents
FROM cells WHERE n0 > 0 AND n1 > 0"""
  }

  // ---- C134 (r10): Markov next-event predictive accuracy ----
  // C93 fits the transition matrix; this asks whether it PREDICTS:
  // users split by md5 parity (seed "mk"), the train half fits
  // per-from-type argmax next events (count desc, event-type desc
  // tiebreak — one lexicographic struct max, deterministic both
  // engines), the held-out half scores top-1 accuracy per from-type —
  // the L106/C90 audit-beside-operator pattern applied to the
  // sequence model. All-integer: counts + exact ppm accuracy; test
  // from-types unseen in training are excluded by the join (they have
  // no prediction to score). One user-keyed lag window + two bounded
  // aggregates over the type-alphabet frame.
  def markovAccuracy(events: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val seq0 = events.select(col("user_id"), col("event_type"),
      pmod(md5Long(lit("mk"), col("user_id")), lit(2)).as("split"),
      unix_micros(col("ts")).as("us"), col("event_id"))
    val trans = seq0
      .withColumn("from_t", lag(col("event_type"), 1)
        .over(W.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      .where(col("from_t").isNotNull)
      .select(col("split"), col("from_t"), col("event_type").as("to_t"))
    val pred = trans.where(col("split") === 0)
      .groupBy(col("from_t"), col("to_t")).agg(count(lit(1)).as("c"))
      .groupBy(col("from_t"))
      .agg(max(struct(col("c"), col("to_t"))).as("m"))
      .select(col("from_t"), col("m.to_t").as("pred_t"), col("m.c").as("train_c"))
    trans.where(col("split") === 1)
      .join(broadcast(pred), "from_t")
      .groupBy(col("from_t"), col("pred_t"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("to_t") === col("pred_t"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy_ppm", expr("(n_correct * 1000000) div n_test"))
  }

  val markovAccuracySql: String = {
    val h = graft.functions.Portable.md5LongSql("'mk'", "user_id")
    s"""WITH seq0 AS (
  SELECT user_id, event_type, $h % 2 AS split, epoch_us(ts) AS us, event_id
  FROM events),
trans AS (
  SELECT split,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_t,
    event_type AS to_t
  FROM seq0),
t2 AS (SELECT * FROM trans WHERE from_t IS NOT NULL),
cnt AS (
  SELECT from_t, to_t, count(*)::BIGINT AS c
  FROM t2 WHERE split = 0 GROUP BY 1, 2),
pred AS (
  SELECT from_t, (max(struct_pack(c := c, to_t := to_t))).to_t AS pred_t,
    (max(struct_pack(c := c, to_t := to_t))).c AS train_c
  FROM cnt GROUP BY 1)
SELECT t.from_t, p.pred_t, count(*)::BIGINT AS n_test,
  sum((t.to_t = p.pred_t)::INT)::BIGINT AS n_correct,
  ((sum((t.to_t = p.pred_t)::INT) * 1000000) // count(*))::BIGINT AS accuracy_ppm
FROM t2 t JOIN pred p USING (from_t)
WHERE t.split = 1
GROUP BY 1, 2"""
  }

  // ---- C137 (r10): Fano-factor overdispersion audit ----
  // The count-process health check beside C104/C78: a Poisson arrival
  // stream has variance = mean per day (F = 1); F >> 1 means bursty /
  // clumped traffic (C78's bursts as a one-number dispersion), F << 1
  // means regularized (rate-limited) flow. Per type over daily counts:
  // exact BIGINT moments, exact DECIMAL(38,0) variance numerator
  // n·Σc² − S² (cast before products), Fano = vn/((n−1)·S) as ONE
  // float division, and the OVERDISPERSED FLAG decided on the exact
  // cross-multiplied rational vn > (n−1)·S — the C129 discipline.
  // Degenerates excluded by WHERE (n > 1, S > 0).
  def fanoFactor(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val D = 86400L * 1000000L
    val daily = events
      .select(col("event_type"),
        expr(s"(unix_micros(ts) - pmod(unix_micros(ts), ${D}L)) div ${D}L").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
      .where(col("n_days") > 1 && col("s") > 0)
      .select(col("event_type"), col("n_days"), col("s"),
        (col("n_days").cast(d38) * col("q") - col("s").cast(d38) * col("s"))
          .as("vn"))
      .select(col("event_type"), col("n_days"), col("s"),
        // Released as BIGINT: vn ≤ n_days·Σc² — calendar-bounded days
        // times daily-count squares keeps this far under 2⁶³ at any
        // driver scale; the decimal difference-of-products is internal.
        col("vn").cast("long").as("vn"),
        round(col("vn").cast("double") /
          ((col("n_days") - 1).cast("double") * col("s").cast("double")), 6)
          .as("fano"),
        (col("vn") > (col("n_days") - 1).cast(d38) * col("s")).cast("long")
          .as("overdispersed"))
  }

  val fanoFactorSql: String = {
    val D = 86400L * 1000000L
    s"""WITH daily AS (
  SELECT event_type,
    (epoch_us(ts) - ((epoch_us(ts) % $D) + $D) % $D) // $D AS day,
    count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type, count(*)::BIGINT AS n_days, sum(c)::BIGINT AS s,
    sum(c * c)::BIGINT AS q
  FROM daily GROUP BY 1),
g AS (
  SELECT event_type, n_days, s,
    (n_days::HUGEINT * q - s::HUGEINT * s)::DECIMAL(38,0) AS vn
  FROM m WHERE n_days > 1 AND s > 0)
SELECT event_type, n_days, s, vn::BIGINT AS vn,
  round(vn::DOUBLE / ((n_days - 1)::DOUBLE * s::DOUBLE), 6) AS fano,
  (vn > (n_days - 1)::DECIMAL(38,0) * s)::BIGINT AS overdispersed
FROM g"""
  }

  // ---- C142 (r10): Wald–Wolfowitz runs test — serial-randomness
  // audit ----
  // C140 asks "is there a trend?"; this asks the orthogonal question:
  // is the SEQUENCE random at all, or does it clump (autocorrelated
  // demand, batched postings)? Per priority lane, daily revenue is
  // split at its exact lower-median cents value into above/at-or-below
  // flags; R = number of runs of equal flags. ENTIRELY integer
  // arithmetic: under H₀, E[R] = 1 + 2ab/n and Var scales as
  // 2ab(2ab−n)/(n²(n−1)); the |z| > 1.96 gate cross-multiplies to
  // 625·(nR − n − 2ab)²·(n−1) > 2401·2ab·(2ab−n) — products ride
  // DECIMAL(38,0) (a 2400-day lane already exceeds 2^63 on the left),
  // den ≤ 0 (a one-sided lane) reads nonrandom = 0 rather than an
  // engine-dependent NaN. The daily rollup is the only corpus-sized
  // pass (localCheckpointed once for the median + runs branches); the
  // per-lane window walks calendar-bounded frames.
  def runsTest(orders: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val daily = orders
      .groupBy(col("o_orderpriority").as("priority"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("cents"))
      .localCheckpoint()
    val med = daily
      .withColumn("r", row_number().over(
        W.partitionBy(col("priority")).orderBy(col("cents"), col("day"))))
      .withColumn("n", count(lit(1)).over(W.partitionBy(col("priority"))))
      .where(col("r") === expr("(n + 1) div 2"))
      .select(col("priority"), col("cents").as("m"))
    val wD = W.partitionBy(col("priority")).orderBy(col("day"))
    val flagged = daily.join(broadcast(med), Seq("priority"))
      .withColumn("above", (col("cents") > col("m")).cast("long"))
      .withColumn("brk",
        when(lag(col("above"), 1).over(wD).isNull ||
          lag(col("above"), 1).over(wD) =!= col("above"), 1L).otherwise(0L))
    flagged.groupBy(col("priority"))
      .agg(count(lit(1)).as("n_days"), sum(col("above")).as("n_above"),
        (count(lit(1)) - sum(col("above"))).as("n_below"),
        sum(col("brk")).as("n_runs"))
      .withColumn("ab2", lit(2).cast(d38) * col("n_above") * col("n_below"))
      .select(col("priority"), col("n_days"), col("n_above"),
        col("n_below"), col("n_runs"),
        (col("ab2") > col("n_days") &&
          lit(625).cast(d38) *
            (col("n_days").cast(d38) * col("n_runs") - col("n_days") - col("ab2")) *
            (col("n_days").cast(d38) * col("n_runs") - col("n_days") - col("ab2")) *
            (col("n_days") - 1) >
          lit(2401).cast(d38) * col("ab2") * (col("ab2") - col("n_days")))
          .cast("long").as("nonrandom"))
  }

  val runsTestSql: String =
    """WITH daily AS (
  SELECT o_orderpriority AS priority, date_trunc('day', o_orderdate) AS day,
    sum(((o_totalprice::DECIMAL(18,2)) * 100)::BIGINT)::BIGINT AS cents
  FROM orders GROUP BY 1, 2),
med AS (
  SELECT priority, cents AS m FROM (
    SELECT priority, cents,
      row_number() OVER (PARTITION BY priority ORDER BY cents, day) AS r,
      count(*) OVER (PARTITION BY priority) AS n
    FROM daily) WHERE r = (n + 1) // 2),
flagged AS (
  SELECT d.priority, d.day, (d.cents > med.m)::BIGINT AS above
  FROM daily d JOIN med USING (priority)),
runs AS (
  SELECT priority, above,
    CASE WHEN lag(above) OVER w IS NULL OR lag(above) OVER w <> above
      THEN 1 ELSE 0 END AS brk
  FROM flagged WINDOW w AS (PARTITION BY priority ORDER BY day)),
agg AS (
  SELECT priority, count(*)::BIGINT AS n_days, sum(above)::BIGINT AS n_above,
    (count(*) - sum(above))::BIGINT AS n_below, sum(brk)::BIGINT AS n_runs
  FROM runs GROUP BY 1)
SELECT priority, n_days, n_above, n_below, n_runs,
  (2::HUGEINT * n_above * n_below > n_days AND
   625::HUGEINT *
     (n_days::HUGEINT * n_runs - n_days - 2::HUGEINT * n_above * n_below) *
     (n_days::HUGEINT * n_runs - n_days - 2::HUGEINT * n_above * n_below) *
     (n_days - 1) >
   2401::HUGEINT * (2::HUGEINT * n_above * n_below) *
     (2::HUGEINT * n_above * n_below - n_days))::BIGINT AS nonrandom
FROM agg"""

  // ---- C143 (r10): Kendall tau-b — rank agreement between two
  // entity metrics ----
  // C87's Spearman asks how two CONTINUOUS columns co-rank per row;
  // tau-b asks the coarser, tie-aware question at entity grain: do
  // nations that rank high on revenue also rank high on order count?
  // Defined directly on pairwise comparisons (no rank window needed):
  // over all entity pairs, concordant/discordant/tied counts from
  // sign((x_a−x_b)(y_a−y_b)) — every comparison exact (integer cents
  // and counts). The released floats are tau-b's single
  // division-over-sqrt off exact integers (the C138 cosine proof
  // shape). Pair loop runs on the POST-AGGREGATE geography frame
  // (~25 rows → 300 pairs, broadcast); the star rollup is the only
  // corpus-sized pass.
  def kendallTau(orders: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame = {
    val prof = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("x"),
        count(lit(1)).as("y"))
    val a = prof.toDF("na", "xa", "ya")
    val b = prof.toDF("nb", "xb", "yb")
    a.join(broadcast(b), col("na") < col("nb"))
      .agg(count(lit(1)).as("n0"),
        sum(((col("xa") > col("xb") && col("ya") > col("yb")) ||
          (col("xa") < col("xb") && col("ya") < col("yb"))).cast("long"))
          .as("nc"),
        sum(((col("xa") > col("xb") && col("ya") < col("yb")) ||
          (col("xa") < col("xb") && col("ya") > col("yb"))).cast("long"))
          .as("nd"),
        sum((col("xa") === col("xb")).cast("long")).as("tx"),
        sum((col("ya") === col("yb")).cast("long")).as("ty"))
      .select(col("n0"), col("nc"), col("nd"), col("tx"), col("ty"),
        round((col("nc") - col("nd")).cast("double") /
          (sqrt((col("n0") - col("tx")).cast("double")) *
            sqrt((col("n0") - col("ty")).cast("double"))), 6).as("tau_b"))
  }

  val kendallTauSql: String =
    """WITH prof AS (
  SELECT n_name,
    sum(((o_totalprice::DECIMAL(18,2)) * 100)::BIGINT)::BIGINT AS x,
    count(*)::BIGINT AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1),
pairs AS (
  SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
  FROM prof a JOIN prof b ON a.n_name < b.n_name),
agg AS (
  SELECT count(*)::BIGINT AS n0,
    sum(((xa > xb AND ya > yb) OR (xa < xb AND ya < yb))::INT)::BIGINT AS nc,
    sum(((xa > xb AND ya < yb) OR (xa < xb AND ya > yb))::INT)::BIGINT AS nd,
    sum((xa = xb)::INT)::BIGINT AS tx,
    sum((ya = yb)::INT)::BIGINT AS ty
  FROM pairs)
SELECT n0, nc, nd, tx, ty,
  round((nc - nd)::DOUBLE /
    (sqrt((n0 - tx)::DOUBLE) * sqrt((n0 - ty)::DOUBLE)), 6) AS tau_b
FROM agg"""

  // ---- C147 (r10): Kruskal-Wallis H — k-group rank test ----
  // Completes the test triptych: C103's ANOVA asks "do the k channel
  // MEANS differ" under normality; C102's Mann-Whitney drops the
  // assumption for TWO arms; Kruskal-Wallis is the k-group
  // nonparametric member — does ANY event type's value distribution
  // stochastically dominate, on ranks alone. Exactness: global
  // doubled midpoint tie ranks (the C102 2·rank + ties − 1
  // discipline) make every per-type rank sum an exact BIGINT; the
  // per-type S²/n term is a DECLARED fixed-point quotient
  // (t2²·1000 div 4n — floor at 1e-3 rank-units, identical truncating
  // division both engines); H is released as the ONE fixed-order
  // float chain (A/B)·(C/D) of four exact-integer casts — the C103
  // fixed-order discipline, no quantization of large doubles
  // anywhere. Ties fold in via the standard 1 − Σ(t³−t)/(N³−N)
  // correction, all integer. Degenerate guard: all-tied corpus
  // (N³−N = tie3) NULLs H via nullif. 38-digit bound: exact to
  // N ≈ 1e8 rows (A ~ N²·n_g·10³); the declared 100×-scale path is
  // C25's sketched ranks, where an exact tie correction stops
  // mattering. Plan (r11): NO corpus window at all — the doubled
  // midrank is constant within a value cell (r2 = 2·cum − t + 1, cum
  // the inclusive running count over distinct values), so rank sums,
  // sizes, and tie bookkeeping (Σ_v t³−t = Σ_cells c·(t²−1)) all
  // derive from the (type, value) CELL frame; the one ordered window
  // runs over the post-aggregate distinct-value frame, never the
  // corpus — the former C48 report-scale concession here is retired.
  def kruskalWallis(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val vals = events.select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"))
    val cells = vals.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cellsV = cells.groupBy(col("v")).agg(sum(col("c")).as("t"))
      .withColumn("cum", sum(col("t")).over(wv))
      .select(col("v"), col("t"),
        (lit(2L) * col("cum") - col("t") + 1).as("r2"))
    val groups = cells.join(cellsV, "v")
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_g"), sum(col("c") * col("r2")).as("r2sum"),
        sum(col("c").cast(d38) * (col("t").cast(d38) * col("t") - 1))
          .as("tie3p"))
      .withColumn("c_g", decDiv(
        col("r2sum").cast(d38) * col("r2sum") * 1000,
        lit(4).cast(d38) * col("n_g")))
    val summary = groups.agg(sum(col("n_g")).cast(d38).as("n"),
      sum(col("tie3p")).as("tie3"), sum(col("c_g")).as("q"))
      .select(col("n").cast("long").as("n"), col("tie3").cast("long").as("tie3"),
        round(
          ((lit(12).cast(d38) * col("q") -
            lit(3).cast(d38) * (col("n") + 1) * col("n") * (col("n") + 1) * 1000)
            .cast("double") /
            (lit(1000).cast(d38) * col("n") * (col("n") + 1)).cast("double")) *
            ((col("n") * col("n") * col("n") - col("n")).cast("double") /
              nullif(col("n") * col("n") * col("n") - col("n") - col("tie3"),
                lit(0).cast(d38)).cast("double")), 6).as("h"))
    groups.select(col("event_type"), col("n_g"), col("r2sum"))
      .crossJoin(broadcast(summary))
  }

  val kruskalWallisSql: String =
    """WITH vals AS (
  SELECT event_type, ((value::DECIMAL(18,2)) * 100)::BIGINT AS v FROM events),
ranked AS (
  SELECT event_type, count(*) OVER (PARTITION BY v) AS t,
    (2::BIGINT * rank() OVER (ORDER BY v)
      + count(*) OVER (PARTITION BY v) - 1)::BIGINT AS r2
  FROM vals),
groups AS (
  SELECT event_type, count(*)::BIGINT AS n_g, sum(r2)::BIGINT AS r2sum,
    sum(t::HUGEINT * t - 1)::HUGEINT AS tie3p,
    ((r2sum::HUGEINT * r2sum::HUGEINT * 1000) // (4 * count(*)::HUGEINT))
      AS c_g
  FROM ranked GROUP BY event_type),
summary AS (
  SELECT sum(n_g)::BIGINT AS n, sum(tie3p)::BIGINT AS tie3,
    round(
      ((12::HUGEINT * sum(c_g)
          - 3::HUGEINT * (n + 1) * n * (n + 1) * 1000)::DOUBLE
        / (1000::HUGEINT * n * (n + 1))::DOUBLE)
      * ((n::HUGEINT * n * n - n)::DOUBLE
        / nullif(n::HUGEINT * n * n - n - tie3, 0)::DOUBLE), 6) AS h
  FROM groups)
SELECT event_type, n_g, r2sum, n, tie3, h
FROM (SELECT event_type, n_g, r2sum FROM groups) g CROSS JOIN summary"""

  // ---- C148 (r10): McNemar paired-change test — churn asymmetry ----
  // C110's segment-migration matrix COUNTS who moved; McNemar asks
  // whether the movement is ASYMMETRIC beyond chance — the paired
  // sibling of C71's two-proportion z, on the SAME users across two
  // periods (pairing removes between-user variance, which the z test
  // wrongly counts). Cells: did each user purchase in the first vs
  // second half of the corpus window (halves from the single-row
  // min/max midpoint anchor, the C110/C65 broadcast idiom); only the
  // discordant cells b = yes→no, c = no→yes carry information.
  // chi2 = (b−c)²/(b+c) and its continuity-corrected form
  // (max(|b−c|−1, 0))²/(b+c) are each ONE division of exact BIGINTs,
  // round 6, NULL (not NaN) when b + c = 0. Plan: one per-(user,
  // half) conditional aggregate over the scan, then a 4-cell rollup —
  // the corpus shuffles once on user_id.
  def mcnemar(events: DataFrame): DataFrame = {
    val mid = events.agg(expr(
      "min(unix_micros(ts)) + (max(unix_micros(ts)) - min(unix_micros(ts))) div 2")
      .as("mid"))
    val cells = events.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "purchase" &&
          unix_micros(col("ts")) < col("mid"), 1L).otherwise(0L)).as("p1"),
        max(when(col("event_type") === "purchase" &&
          unix_micros(col("ts")) >= col("mid"), 1L).otherwise(0L)).as("p2"))
      .groupBy()
      .agg(sum(when(col("p1") === 0 && col("p2") === 0, 1L).otherwise(0L)).as("n00"),
        sum(when(col("p1") === 0 && col("p2") === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(col("p1") === 1 && col("p2") === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("p1") === 1 && col("p2") === 1, 1L).otherwise(0L)).as("n11"))
    cells.select(col("n00"), col("n01"), col("n10"), col("n11"),
      round((col("n01") - col("n10")).cast("double") *
        (col("n01") - col("n10")).cast("double") /
        nullif(col("n01") + col("n10"), lit(0L)).cast("double"), 6).as("chi2"),
      round(greatest(abs(col("n01") - col("n10")) - 1, lit(0L)).cast("double") *
        greatest(abs(col("n01") - col("n10")) - 1, lit(0L)).cast("double") /
        nullif(col("n01") + col("n10"), lit(0L)).cast("double"), 6).as("chi2_cc"))
  }

  val mcnemarSql: String =
    """WITH mid AS (
  SELECT min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS mid
  FROM events),
halves AS (
  SELECT user_id,
    max(CASE WHEN event_type = 'purchase' AND epoch_us(ts) < mid
      THEN 1 ELSE 0 END)::BIGINT AS p1,
    max(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= mid
      THEN 1 ELSE 0 END)::BIGINT AS p2
  FROM events CROSS JOIN mid GROUP BY user_id),
cells AS (
  SELECT sum(CASE WHEN p1 = 0 AND p2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n00,
    sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
    sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
    sum(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n11
  FROM halves)
SELECT n00, n01, n10, n11,
  round((n01 - n10)::DOUBLE * (n01 - n10)::DOUBLE
    / nullif(n01 + n10, 0)::DOUBLE, 6) AS chi2,
  round(greatest(abs(n01 - n10) - 1, 0)::DOUBLE
    * greatest(abs(n01 - n10) - 1, 0)::DOUBLE
    / nullif(n01 + n10, 0)::DOUBLE, 6) AS chi2_cc
FROM cells"""

  // ---- C149 (r10): chi-squared independence + Cramér's V ----
  // The categorical-association member of the test family: is order
  // priority INDEPENDENT of order status (C90's mutual information
  // measures the same association in nats; chi-squared is the
  // significance-calibrated classic, and Cramér's V its [0,1] effect
  // size). Exactness: expected counts are never materialized as
  // floats — each cell's (o·n − r·c)²/(r·c) term is a DECLARED 1e-3
  // fixed-point quotient of exact DECIMAL(38,0) count products
  // (identical truncating division both engines, the C147
  // discipline), summed exactly; chi2 = Σq/(10³·n) and
  // V = sqrt(Σq/(10³·n²·min(R−1, C−1))) are each ONE
  // correctly-rounded release, round 6. The grid is the FULL R×C
  // outer product of the marginals (zero-observed cells contribute
  // r·c/n), built as the cohenKappa rm×cm pattern —
  // alphabet-bounded, ~15 rows. Degenerate guard: a single-row or
  // single-column table (min(R−1, C−1) = 0) NULLs V via nullif.
  // Plan: ONE corpus aggregate to the (pr, st) cell frame; every
  // join after is on alphabet-bounded frames.
  def chiSquared(orders: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val obs = orders
      .groupBy(col("o_orderpriority").as("pr"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("o"))
    val rm = obs.groupBy(col("pr")).agg(sum(col("o")).as("r"))
    val cm = obs.groupBy(col("st")).agg(sum(col("o")).as("c"))
    val tot = rm.agg(sum(col("r")).as("n"), count(lit(1)).as("nr"))
    val ctot = cm.agg(count(lit(1)).as("nc"))
    val grid = rm.crossJoin(cm)
      .join(obs, Seq("pr", "st"), "left")
      .select(col("r"), col("c"), coalesce(col("o"), lit(0L)).as("o"))
    val dev = col("o").cast(d38) * col("n") - col("r").cast(d38) * col("c")
    val cells = grid.crossJoin(broadcast(tot)).crossJoin(broadcast(ctot))
      .withColumn("q", decDiv(dev * dev * 1000, col("r").cast(d38) * col("c")))
    cells.groupBy(col("n"), col("nr"), col("nc"))
      .agg(sum(col("q")).as("qsum"))
      .select(col("n"), ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        round(col("qsum").cast("double") /
          (lit(1000).cast(d38) * col("n")).cast("double"), 6).as("chi2"),
        round(sqrt(col("qsum").cast("double") /
          nullif(lit(1000).cast(d38) * col("n") * col("n") *
            least(col("nr") - 1, col("nc") - 1), lit(0).cast(d38))
            .cast("double")), 6).as("cramers_v"))
  }

  val chiSquaredSql: String =
    """WITH obs AS (
  SELECT o_orderpriority AS pr, o_orderstatus AS st, count(*)::BIGINT AS o
  FROM orders GROUP BY 1, 2),
rm AS (SELECT pr, sum(o)::BIGINT AS r FROM obs GROUP BY 1),
cm AS (SELECT st, sum(o)::BIGINT AS c FROM obs GROUP BY 1),
tot AS (SELECT sum(r)::BIGINT AS n, count(*)::BIGINT AS nr FROM rm),
ctot AS (SELECT count(*)::BIGINT AS nc FROM cm),
grid AS (
  SELECT rm.r, cm.c, coalesce(obs.o, 0)::BIGINT AS o
  FROM rm CROSS JOIN cm LEFT JOIN obs ON obs.pr = rm.pr AND obs.st = cm.st),
cells AS (
  SELECT n, nr, nc,
    (((o::HUGEINT * n - r::HUGEINT * c) * (o::HUGEINT * n - r::HUGEINT * c)
      * 1000) // (r::HUGEINT * c)) AS q
  FROM grid CROSS JOIN tot CROSS JOIN ctot)
SELECT n, ((nr - 1) * (nc - 1))::BIGINT AS dof,
  round(sum(q)::DOUBLE / (1000::HUGEINT * n)::DOUBLE, 6) AS chi2,
  round(sqrt(sum(q)::DOUBLE
    / nullif(1000::HUGEINT * n * n * least(nr - 1, nc - 1), 0)::DOUBLE), 6)
    AS cramers_v
FROM cells GROUP BY n, nr, nc"""

  // ---- C151 (r10): Cramér–von Mises two-sample test ----
  // Completes the two-sample family: C97's KS reacts to the single
  // WORST ECDF gap (tail-insensitive), C102's Mann-Whitney to a
  // location shift; CvM integrates the SQUARED ECDF gap over the whole
  // range — the all-purpose "same distribution?" statistic that
  // catches variance/shape changes KS's sup-norm dilutes. Anderson's
  // rank form: T = U/(N·n·m) − (4nm − 1)/(6N) with
  // U = n·Σ(r_i − i)² + m·Σ(s_j − j)² over combined vs own-sample
  // ranks. Exactness: doubled midpoint tie ranks (C102 discipline)
  // make every (2r − 2i)² an exact integer — within a tie block the
  // midrank is constant and the own-index SET is fixed, so the sum is
  // permutation-invariant and engine-independent; U₄ = 4U aggregates
  // as DECIMAL(38,0) (~4N⁴ leaves BIGINT past N ≈ 70k); T is released
  // as the ONE fixed-order chain A/B − C/D of exact-integer casts
  // (C147 discipline). Plan: the C102 shape — one global-per-type
  // rank window + one per-(type, arm) index window sharing the type
  // exchange, then type-alphabet-bounded aggregates.
  def cramerVonMises(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val tagged = events.select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      pmod(md5Long(lit("cvm"), col("event_id")), lit(2)).as("arm"))
    // r11 (the C147/C102 cell-rank pattern, extended to own-indices):
    // within a (type, value, arm) cell the doubled midrank r2 is
    // constant and the own-indices are the consecutive block
    // i2 = 2(ia + j), j = 1..c (ia = this arm's row count before v),
    // so Σ(r2 − i2)² telescopes to the exact integer closed form
    // c·d² − 2d·c(c+1) + 2c(c+1)(2c+1)/3 with d = r2 − 2·ia — no
    // per-row rank/row_number window; both windows ride cell frames.
    val cells = tagged.groupBy(col("event_type"), col("v"), col("arm"))
      .agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cellsV = cells.groupBy(col("event_type"), col("v"))
      .agg(sum(col("c")).as("t"))
      .withColumn("cum", sum(col("t")).over(wv))
      .select(col("event_type"), col("v"),
        (lit(2L) * col("cum") - col("t") + 1).as("r2"))
    val wa = Window.partitionBy(col("event_type"), col("arm")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scoredCells = cells
      .withColumn("ia", sum(col("c")).over(wa) - col("c"))
      .join(cellsV, Seq("event_type", "v"))
      .withColumn("d", (col("r2") - lit(2L) * col("ia")).cast(d38))
      .withColumn("sq",
        col("c") * col("d") * col("d")
          - lit(2).cast(d38) * col("d") * col("c") * (col("c") + 1)
          // 2c(c+1)(2c+1) is always divisible by 3; decDiv keeps the
          // term at decimal scale 0 (a true /3 would widen the scale)
          + graft.functions.Portable.decDiv(
            lit(2).cast(d38) * col("c") * (col("c") + 1) * (lit(2L) * col("c") + 1),
            lit(3).cast(d38)))
    scoredCells.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("sq")).otherwise(lit(0).cast(d38)))
          .as("sq0"),
        sum(when(col("arm") === 1, col("sq")).otherwise(lit(0).cast(d38)))
          .as("sq1"))
      .select(col("event_type"), (col("n") - col("n1")).as("n0"), col("n1"),
        // Released as an exact quotient/remainder pair mod n²: u4 ≈
        // 4N⁴ overflows BIGINT past N ≈ 70k per type — a direct cast
        // THREW at the r12 sf1.0 smoke (N ≈ 100k/type, u4 ≈ 2.8e20).
        // u4 = u4_q·n² + u4_r reconstructs the exact integer at any
        // scale (u4_q ≈ 4N², int64-safe past N ≈ 10⁹/type; u4_r < n²)
        // while the decimal arithmetic stays internal.
        graft.functions.Portable.decDiv(
          (col("n") - col("n1")).cast(d38) * col("sq0")
            + col("n1").cast(d38) * col("sq1"),
          col("n").cast(d38) * col("n")).cast("long").as("u4_q"),
        pmod(
          (col("n") - col("n1")).cast(d38) * col("sq0")
            + col("n1").cast(d38) * col("sq1"),
          col("n").cast(d38) * col("n")).cast("long").as("u4_r"),
        round(
          ((col("n") - col("n1")).cast(d38) * col("sq0")
            + col("n1").cast(d38) * col("sq1")).cast("double") /
            nullif(lit(4).cast(d38) * col("n") * (col("n") - col("n1")) * col("n1"),
              lit(0).cast(d38)).cast("double")
            - (lit(4).cast(d38) * (col("n") - col("n1")) * col("n1") - 1)
              .cast("double") /
              (lit(6).cast(d38) * col("n")).cast("double"), 6).as("t"))
  }

  val cramerVonMisesSql: String = {
    val h = graft.functions.Portable.md5LongSql("'cvm'", "event_id")
    s"""WITH tagged AS (
  SELECT event_type, ((value::DECIMAL(18,2)) * 100)::BIGINT AS v,
    $h % 2 AS arm
  FROM events),
ranked AS (
  SELECT event_type, arm,
    (2::BIGINT * rank() OVER (PARTITION BY event_type ORDER BY v)
      + count(*) OVER (PARTITION BY event_type, v) - 1)::BIGINT AS r2,
    (2::BIGINT * row_number()
      OVER (PARTITION BY event_type, arm ORDER BY v))::BIGINT AS i2
  FROM tagged),
g AS (
  SELECT event_type, count(*)::BIGINT AS n,
    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
    sum(CASE WHEN arm = 0 THEN (r2 - i2)::HUGEINT * (r2 - i2)
      ELSE 0::HUGEINT END)::HUGEINT AS sq0,
    sum(CASE WHEN arm = 1 THEN (r2 - i2)::HUGEINT * (r2 - i2)
      ELSE 0::HUGEINT END)::HUGEINT AS sq1
  FROM ranked GROUP BY event_type)
SELECT event_type, (n - n1) AS n0, n1,
  (((n - n1)::HUGEINT * sq0 + n1::HUGEINT * sq1)
    // (n::HUGEINT * n))::BIGINT AS u4_q,
  (((n - n1)::HUGEINT * sq0 + n1::HUGEINT * sq1)
    % (n::HUGEINT * n))::BIGINT AS u4_r,
  round(
    ((n - n1)::HUGEINT * sq0 + n1::HUGEINT * sq1)::DOUBLE
      / nullif(4::HUGEINT * n * (n - n1) * n1, 0)::DOUBLE
    - (4::HUGEINT * (n - n1) * n1 - 1)::DOUBLE
      / (6::HUGEINT * n)::DOUBLE, 6) AS t
FROM g"""
  }

  // ---- C152 (r10): Markov conditional entropy — sequence memory ----
  // C92's transition matrix shows WHERE the process goes; this
  // measures HOW MUCH the current state matters: H(next) is the
  // marginal surprise, H(next|cur) the surprise once you know where
  // you are, and their difference — the information gain, the mutual
  // information of consecutive events — is the sequence-memory
  // number that says whether sequence features are worth modeling at
  // all (IG ≈ 0 ⇒ C113's Markov accuracy can't beat the marginal
  // baseline, by identity). Exactness: every probability is a ratio
  // of exact BIGINT counts; each −p·ln(p) term is one fixed-order
  // float chain off those counts, quantized DECIMAL(18,9) BEFORE the
  // order-free decimal summation (the L13/L117 entropy discipline);
  // released entropies are the decimal sums cast once, round 6.
  // Plan: ONE corpus pass (the C92 lag window on the user_id
  // exchange) to the (from, to) cell frame; everything after is
  // type-alphabet-bounded (≤ 25 cells).
  def condEntropy(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d9 = "decimal(18,9)"
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cnt = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTot = cnt.groupBy(col("from_type")).agg(sum(col("n")).as("nf"))
    val toTot = cnt.groupBy(col("to_type")).agg(sum(col("n")).as("nt"))
    val tot = fromTot.agg(sum(col("nf")).as("nn"))
    val cells = cnt.join(fromTot, "from_type").crossJoin(broadcast(tot))
    val hGiven = cells
      .select(col("from_type"), col("nf"),
        (-(col("n").cast("double") / col("nf")) *
          log(col("n").cast("double") / col("nf"))).cast(d9).as("tg"),
        (-(col("n").cast("double") / col("nn")) *
          log(col("n").cast("double") / col("nf"))).cast(d9).as("tc"))
      .groupBy(col("from_type"), col("nf"))
      .agg(sum(col("tg")).as("hg"), sum(col("tc")).as("hcp"))
    val hCond = hGiven.agg(sum(col("hcp")).as("hc"))
    val hNext = toTot.crossJoin(broadcast(tot))
      .select((-(col("nt").cast("double") / col("nn")) *
        log(col("nt").cast("double") / col("nn"))).cast(d9).as("tn"))
      .agg(sum(col("tn")).as("hn"))
    hGiven
      .select(col("from_type"), col("nf").as("n_from"),
        round(col("hg").cast("double"), 6).as("h_given"))
      .crossJoin(broadcast(hCond.crossJoin(hNext).select(
        round(col("hn").cast("double"), 6).as("h_next"),
        round(col("hc").cast("double"), 6).as("h_cond"),
        round((col("hn") - col("hc")).cast("double"), 6).as("info_gain"))))
  }

  val condEntropySql: String =
    """WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS from_type,
    event_type AS to_type
  FROM events),
cnt AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2),
ft AS (SELECT from_type, sum(n)::BIGINT AS nf FROM cnt GROUP BY 1),
tt AS (SELECT to_type, sum(n)::BIGINT AS nt FROM cnt GROUP BY 1),
tot AS (SELECT sum(nf)::BIGINT AS nn FROM ft),
cells AS (
  SELECT cnt.from_type, ft.nf,
    CAST(-(cnt.n::DOUBLE / ft.nf) * ln(cnt.n::DOUBLE / ft.nf)
      AS DECIMAL(18,9)) AS tg,
    CAST(-(cnt.n::DOUBLE / tot.nn) * ln(cnt.n::DOUBLE / ft.nf)
      AS DECIMAL(18,9)) AS tc
  FROM cnt JOIN ft USING (from_type) CROSS JOIN tot),
hg AS (
  SELECT from_type, nf, sum(tg)::DECIMAL(18,9) AS hg,
    sum(tc)::DECIMAL(18,9) AS hcp
  FROM cells GROUP BY 1, 2),
hc AS (SELECT sum(hcp)::DECIMAL(18,9) AS hc FROM hg),
hn AS (
  SELECT sum(CAST(-(nt::DOUBLE / nn) * ln(nt::DOUBLE / nn)
    AS DECIMAL(18,9)))::DECIMAL(18,9) AS hn
  FROM tt CROSS JOIN tot)
SELECT from_type, nf AS n_from, round(hg::DOUBLE, 6) AS h_given,
  round(hn::DOUBLE, 6) AS h_next, round(hc::DOUBLE, 6) AS h_cond,
  round((hn - hc)::DOUBLE, 6) AS info_gain
FROM hg CROSS JOIN hc CROSS JOIN hn"""

  // ---- C158 (r10): 1-D Wasserstein distance — earth mover's between
  // arms ----
  // The metric member of the two-sample family: KS (C97) is the worst
  // ECDF gap, CvM (C151) its integrated square — both unitless;
  // W₁ = ∫\|F_a − F_b\| dx is HOW MUCH value must move, in cents — the
  // number a finance or drift review can act on. Exact end to end:
  // over the pooled sorted support, each segment contributes
  // \|cum_a·n_b − cum_b·n_a\|·(next_v − v) — cross-multiplied ECDF
  // gaps in exact integers weighted by exact cent gaps — summed as
  // DECIMAL(38,0); W₁ = num/(n_a·n_b) is the ONE float division,
  // round 6 (NULL when either arm is empty). Plan: one (type, v) cell
  // aggregate, two running windows + a lead on the SAME per-type
  // value-ordered exchange, one alphabet-bounded rollup.
  def wasserstein1(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val tagged = events.select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      pmod(md5Long(lit("emd"), col("event_id")), lit(2)).as("arm"))
    val cells = tagged.groupBy(col("event_type"), col("v"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val wa = Window.partitionBy(col("event_type"))
    val seg = cells
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
      .withColumn("gap", lead(col("v"), 1).over(w) - col("v"))
      .withColumn("na", sum(col("ca")).over(wa))
      .withColumn("nb", sum(col("cb")).over(wa))
      .where(col("gap").isNotNull)
    seg.groupBy(col("event_type"), col("na"), col("nb"))
      .agg(sum(abs(col("cum_a").cast(d38) * col("nb")
        - col("cum_b").cast(d38) * col("na")) * col("gap")).as("num"))
      .select(col("event_type"), col("na").as("n_a"), col("nb").as("n_b"),
        // Released as BIGINT: num ≤ n_a·n_b·value_range_cents ≈ 5e16
        // at sf0.01 — int64-safe at driver check scale; the decimal
        // cross-multiplied sum stays internal.
        col("num").cast("long").as("w1_num"),
        round(col("num").cast("double") /
          nullif(col("na").cast(d38) * col("nb"), lit(0).cast(d38))
            .cast("double"), 6).as("w1_cents"))
  }

  val wasserstein1Sql: String = {
    val h = graft.functions.Portable.md5LongSql("'emd'", "event_id")
    s"""WITH tagged AS (
  SELECT event_type, ((value::DECIMAL(18,2)) * 100)::BIGINT AS v,
    $h % 2 AS arm
  FROM events),
cells AS (
  SELECT event_type, v,
    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM tagged GROUP BY 1, 2),
seg AS (
  SELECT event_type,
    sum(ca) OVER (PARTITION BY event_type ORDER BY v
      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_a,
    sum(cb) OVER (PARTITION BY event_type ORDER BY v
      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_b,
    lead(v) OVER (PARTITION BY event_type ORDER BY v) - v AS gap,
    sum(ca) OVER (PARTITION BY event_type)::BIGINT AS na,
    sum(cb) OVER (PARTITION BY event_type)::BIGINT AS nb
  FROM cells QUALIFY gap IS NOT NULL)
SELECT event_type, na AS n_a, nb AS n_b,
  sum(abs(cum_a::HUGEINT * nb - cum_b::HUGEINT * na) * gap)::BIGINT
    AS w1_num,
  round(sum(abs(cum_a::HUGEINT * nb - cum_b::HUGEINT * na) * gap)::DOUBLE
    / nullif(na::HUGEINT * nb, 0)::DOUBLE, 6) AS w1_cents
FROM seg GROUP BY event_type, na, nb"""
  }

  // ---- C159 (r10): iterative proportional fitting — survey raking ----
  // The post-stratification weighting every survey/panel pipeline
  // runs, and the classic algorithm that is PURE relational algebra:
  // rescale the observed (priority, status) joint so BOTH margins hit
  // uniform targets, alternating row and column fits (Deming–Stephan
  // IPF). The C39/C154 iteration discipline whole: weights in 1e-6
  // units, every rescale an exact decDiv (w·target div marginsum —
  // identical floor both engines), 3 fixed rounds mirrored by the
  // oracle's unrolled CTE chain, convergence REPORTED as exact
  // max-margin-deviation ppm columns rather than asserted by a float
  // tolerance. Fitting runs over the OBSERVED support (absent cells
  // stay absent — the standard IPF zero-cell convention). Plan: ONE
  // corpus aggregate to the ≤15-cell frame; all six rescales are
  // windows on that alphabet-bounded frame.
  private val IpfRounds = 3

  def rakeIpf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val cells = orders
      .groupBy(col("o_orderpriority").as("pr"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("c"))
    val tot = cells.agg(sum(col("c")).as("n"),
      countDistinct(col("pr")).as("r"), countDistinct(col("st")).as("cc"))
    var w = cells.crossJoin(broadcast(tot))
      .select(col("pr"), col("st"), col("c"),
        (col("c").cast(d38) * 1000000L).as("w"),
        decDiv(col("n").cast(d38) * 1000000L, col("r").cast(d38)).as("tr"),
        decDiv(col("n").cast(d38) * 1000000L, col("cc").cast(d38)).as("tc"))
    val Wr = Window.partitionBy(col("pr"))
    val Wc = Window.partitionBy(col("st"))
    for (_ <- 1 to IpfRounds) {
      w = w.withColumn("rs", sum(col("w")).over(Wr))
        .withColumn("w", decDiv(col("w") * col("tr"), col("rs"))).drop("rs")
      w = w.withColumn("cs", sum(col("w")).over(Wc))
        .withColumn("w", decDiv(col("w") * col("tc"), col("cs"))).drop("cs")
    }
    val fin = w.withColumn("rs", sum(col("w")).over(Wr))
      .withColumn("cs", sum(col("w")).over(Wc))
    val dev = fin.agg(
      max(decDiv(abs(col("rs") - col("tr")) * 1000000L, col("tr")))
        .cast("long").as("max_row_dev_ppm"),
      max(decDiv(abs(col("cs") - col("tc")) * 1000000L, col("tc")))
        .cast("long").as("max_col_dev_ppm"))
    fin.select(col("pr"), col("st"), col("c").as("n_obs"),
        col("w").cast("long").as("w_q6"))
      .crossJoin(broadcast(dev))
  }

  val rakeIpfSql: String = {
    val rounds = (1 to IpfRounds).map { i =>
      val prev = if (i == 1) "w0" else s"b${i - 1}"
      s"""a$i AS MATERIALIZED (
  SELECT pr, st, c, tr, tc,
    (w * tr) // (sum(w) OVER (PARTITION BY pr)) AS w FROM $prev),
b$i AS MATERIALIZED (
  SELECT pr, st, c, tr, tc,
    (w * tc) // (sum(w) OVER (PARTITION BY st)) AS w FROM a$i)"""
    }.mkString(",\n")
    s"""WITH cells AS (
  SELECT o_orderpriority AS pr, o_orderstatus AS st, count(*)::BIGINT AS c
  FROM orders GROUP BY 1, 2),
tot AS (SELECT sum(c)::BIGINT AS n, count(DISTINCT pr)::BIGINT AS r,
  count(DISTINCT st)::BIGINT AS cc FROM cells),
w0 AS (
  SELECT pr, st, c, (c::HUGEINT * 1000000) AS w,
    ((n::HUGEINT * 1000000) // r) AS tr,
    ((n::HUGEINT * 1000000) // cc) AS tc
  FROM cells CROSS JOIN tot),
$rounds,
fin AS (
  SELECT pr, st, c, tr, tc, w,
    sum(w) OVER (PARTITION BY pr) AS rs,
    sum(w) OVER (PARTITION BY st) AS cs
  FROM b$IpfRounds),
dev AS (
  SELECT max((abs(rs - tr) * 1000000) // tr)::BIGINT AS max_row_dev_ppm,
    max((abs(cs - tc) * 1000000) // tc)::BIGINT AS max_col_dev_ppm
  FROM fin)
SELECT pr, st, c AS n_obs, w::BIGINT AS w_q6, max_row_dev_ppm, max_col_dev_ppm
FROM fin CROSS JOIN dev"""
  }

  // ---- C165 (r10): effect sizes — Cliff's delta + Cohen's d ----
  // The practical-significance half the test family (C102/C151/C158)
  // leaves open: a tiny p at scale means nothing about HOW BIG the
  // difference is. Cliff's delta falls out of C102's own exact
  // surface — δ = (wins − losses)/(n0·n1) = (2U − n0·n1)/(n0·n1),
  // and with doubled midpoint tie ranks 2U is the exact BIGINT u2,
  // so the numerator is EXACT and the release one division. Cohen's
  // d is the parametric twin: pooled-SD-standardized mean gap as one
  // fixed-order float chain off exact per-arm cent moments (n, Σx,
  // Σx² — the C103/C153 discipline), NULL when an arm is empty or
  // the pooled variance vanishes. Plan: the C102 rank shape plus one
  // per-(type, arm) moment aggregate sharing the same scan.
  def effectSizes(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val tagged = events.select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      pmod(md5Long(lit("mw"), col("event_id")), lit(2)).as("arm"))
    // r11: the C147/C102 cell-rank pattern — r2 = 2·cum − t + 1 from
    // the (type, value) cell frame; no per-row rank window (the
    // per-type window capped parallelism at the type alphabet)
    val cells = tagged.groupBy(col("event_type"), col("v"), col("arm"))
      .agg(count(lit(1)).as("c"),
        sum(col("v").cast(d38) * col("v")).as("qq"))
    val wv = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cellsV = cells.groupBy(col("event_type"), col("v"))
      .agg(sum(col("c")).as("t"))
      .withColumn("cum", sum(col("t")).over(wv))
      .select(col("event_type"), col("v"),
        (lit(2L) * col("cum") - col("t") + 1).as("r2"))
    val g = cells.join(cellsV, Seq("event_type", "v"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("c") * col("r2")).otherwise(0L))
          .as("r2sum"),
        sum(when(col("arm") === 1, col("c") * col("v")).otherwise(0L)).as("sx1"),
        sum(when(col("arm") === 0, col("c") * col("v")).otherwise(0L)).as("sx0"),
        sum(when(col("arm") === 1, col("qq")).otherwise(lit(0).cast(d38)))
          .as("sq1"),
        sum(when(col("arm") === 0, col("qq")).otherwise(lit(0).cast(d38)))
          .as("sq0"))
    val n0 = col("n") - col("n1")
    val u2 = col("r2sum") - col("n1") * (col("n1") + 1)
    val v1 = (col("n1").cast(d38) * col("sq1")
      - col("sx1").cast(d38) * col("sx1")).cast("double") /
      nullif(col("n1"), lit(0L)).cast("double")
    val v0 = (n0.cast(d38) * col("sq0")
      - col("sx0").cast(d38) * col("sx0")).cast("double") /
      nullif(n0, lit(0L)).cast("double")
    val sp = sqrt((v1 + v0) /
      nullif(col("n") - 2, lit(0L)).cast("double"))
    g.select(col("event_type"), n0.as("n0"), col("n1"),
      (u2 - n0 * col("n1")).as("delta_num"),
      round((u2 - n0 * col("n1")).cast("double") /
        nullif(n0 * col("n1"), lit(0L)).cast("double"), 6).as("cliffs_delta"),
      round((col("sx1").cast("double") / nullif(col("n1"), lit(0L))
        - col("sx0").cast("double") / nullif(n0, lit(0L))) /
        nullif(sp, lit(0.0)), 6).as("cohens_d"))
  }

  val effectSizesSql: String = {
    val h = graft.functions.Portable.md5LongSql("'mw'", "event_id")
    s"""WITH tagged AS (
  SELECT event_type, ((value::DECIMAL(18,2)) * 100)::BIGINT AS v,
    $h % 2 AS arm
  FROM events),
ranked AS (
  SELECT event_type, arm, v,
    (2::BIGINT * rank() OVER (PARTITION BY event_type ORDER BY v)
      + count(*) OVER (PARTITION BY event_type, v) - 1)::BIGINT AS r2
  FROM tagged),
g AS (
  SELECT event_type, count(*)::BIGINT AS n,
    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
    sum(CASE WHEN arm = 1 THEN r2 ELSE 0 END)::BIGINT AS r2sum,
    sum(CASE WHEN arm = 1 THEN v ELSE 0 END)::BIGINT AS sx1,
    sum(CASE WHEN arm = 0 THEN v ELSE 0 END)::BIGINT AS sx0,
    sum(CASE WHEN arm = 1 THEN v::HUGEINT * v ELSE 0::HUGEINT END)::HUGEINT
      AS sq1,
    sum(CASE WHEN arm = 0 THEN v::HUGEINT * v ELSE 0::HUGEINT END)::HUGEINT
      AS sq0
  FROM ranked GROUP BY event_type)
SELECT event_type, (n - n1) AS n0, n1,
  (r2sum - n1 * (n1 + 1) - (n - n1) * n1)::BIGINT AS delta_num,
  round((r2sum - n1 * (n1 + 1) - (n - n1) * n1)::DOUBLE
    / nullif((n - n1) * n1, 0)::DOUBLE, 6) AS cliffs_delta,
  round((sx1::DOUBLE / nullif(n1, 0) - sx0::DOUBLE / nullif(n - n1, 0))
    / nullif(sqrt(((n1::HUGEINT * sq1 - sx1::HUGEINT * sx1)::DOUBLE
        / nullif(n1, 0)::DOUBLE
      + ((n - n1)::HUGEINT * sq0 - sx0::HUGEINT * sx0)::DOUBLE
        / nullif(n - n1, 0)::DOUBLE) / nullif(n - 2, 0)::DOUBLE), 0.0), 6)
    AS cohens_d
FROM g"""
  }

  // ---- C166b (r10): Hill tail-index estimator ----
  // C153's Gumbel fits block maxima under a light tail; the Hill
  // estimator asks whether the tail is POWER-LAW and how heavy:
  // α = k / Σ ln(x_(i)/x_(k+1)) over the top-k order statistics —
  // the risk number deciding whether means/variances are even
  // finite. Exactness: the top-(k+1) selection is a value-level
  // order statistic (ties may permute ROWS across the boundary but
  // only values equal to the threshold can straddle, and their
  // ln-ratio is exactly 0 — the estimator is tie-invariant by
  // construction); each ln term is quantized DECIMAL(18,9) before
  // the order-free sum (entropy discipline); α is one float
  // division, round 6, NULL when the top k are all equal. k = 100
  // declared. The top-(k+1) selection rides TakeOrderedAndProject
  // (r11 — per-partition top-k, merge of P·(k+1) rows: the
  // distributed top-k plan, replacing the global row_number window;
  // the only remaining window orders the ≤ k+1 selected rows — a
  // frame bounded by the declared k, never by data).
  private val HillK = 100

  def hillTail(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d9 = "decimal(18,9)"
    val v = orders
      .select((dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      .where(col("cents") > 0)
    val ranked = v.orderBy(col("cents").desc).limit(HillK + 1)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("cents").desc)))
      .where(col("rk") <= HillK + 1)
    val thr = ranked.where(col("rk") === HillK + 1)
      .select(col("cents").as("xk1"))
    ranked.where(col("rk") <= HillK).crossJoin(broadcast(thr))
      .select(col("xk1"),
        log(col("cents").cast("double") / col("xk1").cast("double"))
          .cast(d9).as("t"))
      .groupBy(col("xk1"))
      .agg(count(lit(1)).as("k"), sum(col("t")).as("s"))
      .select(col("k"), col("xk1").as("threshold_cents"),
        round(col("s").cast("double"), 6).as("sum_log_ratio"),
        round(col("k").cast("double") /
          nullif(col("s"), lit(0).cast(d9)).cast("double"), 6)
          .as("hill_alpha"))
  }

  val hillTailSql: String =
    s"""WITH v AS (
  SELECT ((o_totalprice::DECIMAL(18,2)) * 100)::BIGINT AS cents
  FROM orders WHERE o_totalprice > 0),
ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents DESC) AS rk FROM v
  QUALIFY rk <= ${HillK + 1}),
thr AS (SELECT cents AS xk1 FROM ranked WHERE rk = ${HillK + 1}),
terms AS (
  SELECT xk1, CAST(ln(cents::DOUBLE / xk1::DOUBLE) AS DECIMAL(18,9)) AS t
  FROM ranked CROSS JOIN thr WHERE rk <= $HillK)
SELECT count(*)::BIGINT AS k, xk1 AS threshold_cents,
  round(sum(t)::DOUBLE, 6) AS sum_log_ratio,
  round(count(*)::DOUBLE / nullif(sum(t), 0)::DOUBLE, 6) AS hill_alpha
FROM terms GROUP BY xk1"""

  // ---- C169 (r10): group-sequential monitoring — the peeking audit ----
  // Every dashboard-watched experiment is a sequential test whether
  // the analyst admits it or not; this runs the honest version: 5
  // equal-information looks over the time-ordered stream, a Welch z
  // at each look from EXACT cumulative per-arm cent moments, compared
  // against the O'Brien–Fleming spending boundary c·√(K/k) (c = 2.04,
  // K = 5 — the declared approximation table, baked as shared
  // literals; no quantile function ever runs). The z chain is
  // fixed-order floats off exact integers (C103 discipline); the
  // crossing flag compares bit-identical doubles against a shared
  // literal. Looks are count-equal ntiles under a (ts, event_id)
  // total order — the C48 contract at report scale. Plan: one global
  // ntile window, one (look, arm) moment aggregate, running sums over
  // the 5-row look frame.
  private val SeqLooks = 5
  private val SeqObfC = "2.04"

  def seqTest(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    // r11: the equal-information looks ride the C48 two-phase rank +
    // closed-form ntile identity instead of a global NTile window —
    // (ts, event_id) is a total order, so look assignment is
    // seam-invariant and no single-reducer window touches the stream
    val base = events.select(col("ts"), col("event_id"),
      (dec(col("value")) * 100).cast("long").as("v"),
      pmod(md5Long(lit("mw"), col("event_id")), lit(2)).as("arm"))
    val nAll = base.agg(count(lit(1)).as("n_all"))
    val tagged = Relational.totalOrderRank(base,
        Seq(col("ts").asc, col("event_id").asc), unix_micros(col("ts")))
      .crossJoin(broadcast(nAll))
      .select(col("v"), col("arm"),
        Relational.ntileExpr("rn", "n_all", SeqLooks).cast("long").as("look"))
    val byLook = tagged.groupBy(col("look"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
        sum(col("v").cast(d38) * col("v")).as("sx2"))
    val W = Window.partitionBy(col("arm")).orderBy(col("look"))
    val cum = byLook
      .withColumn("cn", sum(col("n")).over(W))
      .withColumn("cs", sum(col("sx")).over(W))
      .withColumn("cq", sum(col("sx2")).over(W))
    val wide = cum.groupBy(col("look"))
      .agg(max(when(col("arm") === 0, col("cn"))).as("n0"),
        max(when(col("arm") === 0, col("cs"))).as("s0"),
        max(when(col("arm") === 0, col("cq"))).as("q0"),
        max(when(col("arm") === 1, col("cn"))).as("n1"),
        max(when(col("arm") === 1, col("cs"))).as("s1"),
        max(when(col("arm") === 1, col("cq"))).as("q1"))
    def varOf(n: Column, s: Column, q: Column) =
      (n.cast(d38) * q - s.cast(d38) * s).cast("double") /
        nullif(n.cast(d38) * n * (n - 1), lit(0).cast(d38)).cast("double")
    val z = (col("s1").cast("double") / col("n1")
      - col("s0").cast("double") / col("n0")) /
      sqrt(varOf(col("n1"), col("s1"), col("q1"))
        + varOf(col("n0"), col("s0"), col("q0")))
    val bound = lit(SeqObfC).cast("double") *
      sqrt(lit(SeqLooks).cast("double") / col("look").cast("double"))
    wide.select(col("look"), (col("n0") + col("n1")).as("n_seen"),
      round(z, 6).as("z"),
      round(bound, 6).as("obf_bound"),
      (abs(z) > bound).cast("long").as("crossed"))
  }

  val seqTestSql: String = {
    val h = graft.functions.Portable.md5LongSql("'mw'", "event_id")
    s"""WITH tagged AS (
  SELECT ((value::DECIMAL(18,2)) * 100)::BIGINT AS v,
    $h % 2 AS arm,
    ntile($SeqLooks) OVER (ORDER BY ts, event_id)::BIGINT AS look
  FROM events),
bylook AS (
  SELECT look, arm, count(*)::BIGINT AS n, sum(v)::BIGINT AS sx,
    sum(v::HUGEINT * v)::HUGEINT AS sx2
  FROM tagged GROUP BY 1, 2),
cum AS (
  SELECT look, arm,
    sum(n) OVER (PARTITION BY arm ORDER BY look
      ROWS UNBOUNDED PRECEDING)::BIGINT AS cn,
    sum(sx) OVER (PARTITION BY arm ORDER BY look
      ROWS UNBOUNDED PRECEDING)::BIGINT AS cs,
    sum(sx2) OVER (PARTITION BY arm ORDER BY look
      ROWS UNBOUNDED PRECEDING)::HUGEINT AS cq
  FROM bylook),
wide AS (
  SELECT look,
    max(CASE WHEN arm = 0 THEN cn END)::BIGINT AS n0,
    max(CASE WHEN arm = 0 THEN cs END)::BIGINT AS s0,
    max(CASE WHEN arm = 0 THEN cq END)::HUGEINT AS q0,
    max(CASE WHEN arm = 1 THEN cn END)::BIGINT AS n1,
    max(CASE WHEN arm = 1 THEN cs END)::BIGINT AS s1,
    max(CASE WHEN arm = 1 THEN cq END)::HUGEINT AS q1
  FROM cum GROUP BY 1)
SELECT look, (n0 + n1)::BIGINT AS n_seen,
  round((s1::DOUBLE / n1 - s0::DOUBLE / n0)
    / sqrt((n1::HUGEINT * q1 - s1::HUGEINT * s1)::DOUBLE
        / nullif(n1::HUGEINT * n1 * (n1 - 1), 0)::DOUBLE
      + (n0::HUGEINT * q0 - s0::HUGEINT * s0)::DOUBLE
        / nullif(n0::HUGEINT * n0 * (n0 - 1), 0)::DOUBLE), 6) AS z,
  round($SeqObfC * sqrt(${SeqLooks}::DOUBLE / look::DOUBLE), 6) AS obf_bound,
  (abs((s1::DOUBLE / n1 - s0::DOUBLE / n0)
    / sqrt((n1::HUGEINT * q1 - s1::HUGEINT * s1)::DOUBLE
        / nullif(n1::HUGEINT * n1 * (n1 - 1), 0)::DOUBLE
      + (n0::HUGEINT * q0 - s0::HUGEINT * s0)::DOUBLE
        / nullif(n0::HUGEINT * n0 * (n0 - 1), 0)::DOUBLE))
    > $SeqObfC * sqrt(${SeqLooks}::DOUBLE / look::DOUBLE))::BIGINT
    AS crossed
FROM wide"""
  }

  // ---- C160 (r10): minimum detectable effect — experiment sizing ----
  // The question asked BEFORE every A/B test the C71/C102/C158 family
  // evaluates after: at the current per-type volume, what effect
  // size could a 50/50 split even detect? MDE = (z_{α/2} + z_β)·
  // √(2σ²/n_arm) at α = 5%, power = 80% — the standard two-sample
  // sizing formula. Exactness: σ² comes from exact cent moments
  // (n·Σx² − (Σx)² over n(n−1), both DECIMAL(38,0)); the release is
  // ONE fixed-order float chain off those exact casts with the two
  // z quantiles baked as shared full-precision literals (C153
  // discipline — no inverse-normal ever runs); relative MDE divides
  // by the exact mean. Single-row lanes NULL via nullif. Plan: one
  // per-type moment aggregate — a single exchange, alphabet-bounded
  // output.
  private val MdeZSum = "2.801585218" // z_{0.975} + z_{0.80}

  def mde(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val m = events.select(col("event_type"),
        (dec(col("value")) * 100).cast("long").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
        sum(col("v").cast(d38) * col("v")).as("sx2"))
    val mean = col("sx").cast("double") / col("n").cast("double")
    val var0 = (col("n").cast(d38) * col("sx2") - col("sx").cast(d38) * col("sx"))
      .cast("double") /
      nullif(col("n").cast(d38) * (col("n") - 1), lit(0).cast(d38))
        .cast("double")
    val nArm = col("n").cast("double") / 2.0
    val mdeAbs = lit(MdeZSum).cast("double") * sqrt(var0 * 2.0 / nArm)
    m.select(col("event_type"), col("n"), col("sx").as("sum_cents"),
      round(mean, 6).as("mean_cents"),
      round(sqrt(var0), 6).as("sd_cents"),
      round(mdeAbs, 6).as("mde_abs_cents"),
      round(mdeAbs / mean * 100.0, 6).as("mde_rel_pct"))
  }

  val mdeSql: String =
    s"""WITH m AS (
  SELECT event_type, count(*)::BIGINT AS n,
    sum(((value::DECIMAL(18,2)) * 100)::BIGINT)::BIGINT AS sx,
    sum((((value::DECIMAL(18,2)) * 100)::BIGINT)::HUGEINT
      * (((value::DECIMAL(18,2)) * 100)::BIGINT))::HUGEINT AS sx2
  FROM events GROUP BY 1)
SELECT event_type, n, sx AS sum_cents,
  round(sx::DOUBLE / n::DOUBLE, 6) AS mean_cents,
  round(sqrt((n::HUGEINT * sx2 - sx::HUGEINT * sx)::DOUBLE
    / nullif(n::HUGEINT * (n - 1), 0)::DOUBLE), 6) AS sd_cents,
  round($MdeZSum * sqrt(((n::HUGEINT * sx2 - sx::HUGEINT * sx)::DOUBLE
      / nullif(n::HUGEINT * (n - 1), 0)::DOUBLE) * 2.0
    / (n::DOUBLE / 2.0)), 6) AS mde_abs_cents,
  round(($MdeZSum * sqrt(((n::HUGEINT * sx2 - sx::HUGEINT * sx)::DOUBLE
      / nullif(n::HUGEINT * (n - 1), 0)::DOUBLE) * 2.0
    / (n::DOUBLE / 2.0))) / (sx::DOUBLE / n::DOUBLE) * 100.0, 6)
    AS mde_rel_pct
FROM m"""
}
