package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.functions.Portable._
import graft.functions.VectorFunctions

/** Deduplication family (SURVEY §2.3 L1-L4). The testdata plants ~5%
  * near-duplicate documents (word-3-gram Jaccard >= 0.8 vs < 0.2 for
  * unrelated pairs — measured), so 0.5 is a robust threshold.
  *
  * Scale design: nothing here materialises n² pairs. Candidates come
  * from bounded generators — a doc-frequency-capped inverted index (df<=8: recovers 252/256 planted pairs at sf0.1 with 6x fewer candidates than df<=20)
  * (L2), LSH band buckets (L3), simhash band buckets (L4) — and only
  * candidates reach the exact verification join.
  */
object Dedup {

  // ---- L1: exact dedup ----
  def exact(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY md5(text)"

  // ---- shared: distinct word-3-gram shingles per doc ----
  // graft_shingles = tight-loop twin of Portable.wordShingles (the HOF
  // formulation was the interpreted bottleneck of both dedup queries).
  private def shingleDf(documents: DataFrame): DataFrame = {
    documents.select(col("doc_id"),
      explode(VectorFunctions.shingles(tokens(col("text")), 3)).as("s"))
  }

  private def shingleSqlCteFor(rel: String) =
    s"sh AS (SELECT doc_id, unnest(${wordShinglesSql("string_split_regex(lower(text), '\\s+')", 3)}) AS s FROM $rel)"
  private val shingleSqlCte = shingleSqlCteFor("documents")

  /** Shingles as 60-bit md5 longs: the intersection joins shuffle 8-byte
    * keys instead of ~25-byte strings (≈2× less shuffle, long compares).
    * The oracle hashes identically, so even a (≈4e-9) collision would
    * change both engines the same way.
    *
    * Lazily checkpointed: every caller reads the frame several times
    * (sizes, candidates, both sides of the verify join), so the
    * shingle explode + md5 runs once, in the first job that needs it.
    * A checkpoint is never matched by plan in a later query, so a
    * re-read of changed files is never served these shingles. */
  private def shingleHashedDf(documents: DataFrame): DataFrame =
    shingleDf(documents).select(col("doc_id"), md5Long(lit("g"), col("s")).as("s"))
      .localCheckpoint(eager = false)

  private val shingleHashedSqlCte =
    s"shh AS (SELECT doc_id, ${md5LongSql("'g'", "s")} AS s FROM sh)"

  /** Shared-shingle count and both set sizes, (x, y, common, nx, ny),
    * for a candidate pair set with columns (x, y). One shuffle join
    * per side on doc_id. */
  private def commonCounts(cands: DataFrame, sh: DataFrame, sizes: DataFrame): DataFrame = {
    val shx = sh.select(col("doc_id").as("x"), col("s"))
    val shy = sh.select(col("doc_id").as("y"), col("s"))
    cands
      .join(shx, "x").join(shy, Seq("y", "s"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("x"), col("n").as("nx")), "x")
      .join(sizes.select(col("doc_id").as("y"), col("n").as("ny")), "y")
  }

  /** Exact Jaccard over full shingle sets, thresholded at 0.5. */
  private def exactJaccard(cands: DataFrame, sh: DataFrame, sizes: DataFrame): DataFrame =
    commonCounts(cands, sh, sizes)
      .select(col("x"), col("y"),
        (col("common") / (col("nx") + col("ny") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= 0.5)

  /** Pairs (x < y) sharing at least MinCooc shingles whose document
    * frequency is at most MaxDf — the L2 / L109 candidate generator. */
  private def rareShingleCands(sh: DataFrame): DataFrame = {
    val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df") <= MaxDf).select(col("s"))
    val rareSh = sh.join(rare, "s")
    rareSh.select(col("s"), col("doc_id").as("x"))
      .join(rareSh.select(col("s"), col("doc_id").as("y")), "s")
      .where(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nco"))
      .where(col("nco") >= MinCooc)
      .select(col("x"), col("y"))
  }

  private val exactJaccardSql =
    """sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
common AS (
  SELECT c.x, c.y, count(*) AS common
  FROM cands c JOIN shh a ON a.doc_id = c.x JOIN shh b ON b.doc_id = c.y AND b.s = a.s
  GROUP BY c.x, c.y)
SELECT x, y, common / (sx.n + sy.n - common) AS jaccard
FROM common JOIN sizes sx ON sx.doc_id = x JOIN sizes sy ON sy.doc_id = y
WHERE common / (sx.n + sy.n - common) >= 0.5"""

  // ---- L2: n-gram Jaccard via df-capped inverted index ----
  // Shingles occurring in more than MaxDf docs generate no candidates
  // (classic hot-key guard: a stopword shingle would otherwise create
  // |bucket|² pairs). The exact Jaccard is still computed over ALL
  // shingles of each candidate pair.
  private val MaxDf = 8
  // A candidate pair must share >= MinCooc rare shingles: near-dups
  // (jac >= 0.5, hundreds of shared shingles) clear this trivially,
  // while one-off collisions vanish — measured at sf0.1: candidates
  // 190k -> 3.6k, output pairs 252 -> 240 (and identical at sf0.01).
  private val MinCooc = 2

  // ---- L109 (r8): containment near-dup — the asymmetric relation ----
  // Jaccard misses the SUBSET case by construction: a tweet quoted
  // whole inside an article shares all its shingles, yet
  // |∩|/|∪| ≈ |tweet|/|article| ≈ 0 — L2 never fires. Containment
  // C(A→B) = |A∩B|/|A| is the asymmetric fix (the quotation/
  // boilerplate-inclusion/excerpt detector every curation stack runs
  // beside symmetric dedup): score BOTH directions over the SAME
  // df-capped candidate machinery as L2 (hot-shingle guard and
  // co-occurrence floor inherited), keep pairs where either direction
  // clears τ = 0.8. The spec plants an excerpt pair that L2's
  // jaccard ≥ 0.5 provably misses and this catches.
  private val ContainTau = 0.8

  def containmentDedup(documents: DataFrame): DataFrame = {
    val sh = shingleHashedDf(documents)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    commonCounts(rareShingleCands(sh), sh, sizes)
      .select(col("x"), col("y"), col("common"),
        round(col("common").cast("double") / col("nx"), 6).as("c_xy"),
        round(col("common").cast("double") / col("ny"), 6).as("c_yx"))
      .where(col("c_xy") >= ContainTau || col("c_yx") >= ContainTau)
  }

  val containmentDedupSql: String =
    s"""WITH $shingleSqlCte,
$shingleHashedSqlCte,
rare AS (SELECT s FROM shh GROUP BY s HAVING count(*) <= $MaxDf),
cands AS (
  SELECT a.doc_id AS x, b.doc_id AS y
  FROM (SELECT DISTINCT s, doc_id FROM shh JOIN rare USING (s)) a
  JOIN (SELECT DISTINCT s, doc_id FROM shh JOIN rare USING (s)) b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= $MinCooc),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
common AS (
  SELECT c.x, c.y, count(*)::BIGINT AS common
  FROM cands c JOIN shh a ON a.doc_id = c.x
               JOIN shh b ON b.doc_id = c.y AND b.s = a.s
  GROUP BY c.x, c.y)
SELECT x, y, common,
  round(common::DOUBLE / sx.n, 6) AS c_xy,
  round(common::DOUBLE / sy.n, 6) AS c_yx
FROM common JOIN sizes sx ON sx.doc_id = x JOIN sizes sy ON sy.doc_id = y
WHERE round(common::DOUBLE / sx.n, 6) >= $ContainTau
   OR round(common::DOUBLE / sy.n, 6) >= $ContainTau"""

  def ngramJaccard(documents: DataFrame): DataFrame = {
    val sh = shingleHashedDf(documents)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    exactJaccard(rareShingleCands(sh), sh, sizes)
  }

  val ngramJaccardSql: String =
    s"""WITH $shingleSqlCte,
$shingleHashedSqlCte,
rare AS (SELECT s FROM shh GROUP BY s HAVING count(*) <= $MaxDf),
cands AS (
  SELECT a.doc_id AS x, b.doc_id AS y
  FROM shh a JOIN rare r ON a.s = r.s JOIN shh b ON b.s = a.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= $MinCooc),
$exactJaccardSql"""

  // ---- L125 (r10): cross-source duplication matrix ----
  // WHERE do the near-dups come from: a heavy diagonal cell means a
  // source re-posts itself (template spam), a heavy off-diagonal cell
  // means mirroring between sources — the triage readout that decides
  // whether to drop a source, dedup within it, or dedup across a pair
  // (the L115 sweep's spatial companion). Composition: L2's pair
  // frame joins the doc→source map twice, cells canonicalize to
  // (min, max) source order, and each cell carries its exact
  // pairs-per-million-doc-pairs rate (n_pairs·1e6 div n_a·n_b — the
  // normalization that makes a big source comparable to a small one).
  // Source-alphabet²-bounded after two narrow id joins.
  def sourceDupMatrix(documents: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    val cells = ngramJaccard(documents).select(col("x"), col("y"))
      .join(src.select(col("doc_id").as("x"), col("source").as("sx")), "x")
      .join(src.select(col("doc_id").as("y"), col("source").as("sy")), "y")
      .select(least(col("sx"), col("sy")).as("source_a"),
        greatest(col("sx"), col("sy")).as("source_b"))
      .groupBy(col("source_a"), col("source_b")).agg(count(lit(1)).as("n_pairs"))
    val nd = documents.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    cells
      .join(nd.select(col("source").as("source_a"), col("nd").as("n_docs_a")), "source_a")
      .join(nd.select(col("source").as("source_b"), col("nd").as("n_docs_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"),
        (col("source_a") =!= col("source_b")).cast("long").as("cross_source"),
        expr("(n_pairs * 1000000L) div (n_docs_a * n_docs_b)").as("rate_ppm"))
  }

  lazy val sourceDupMatrixSql: String =
    s"""WITH $shingleSqlCte,
$shingleHashedSqlCte,
rare AS (SELECT s FROM shh GROUP BY s HAVING count(*) <= $MaxDf),
cands AS (
  SELECT a.doc_id AS x, b.doc_id AS y
  FROM shh a JOIN rare r ON a.s = r.s JOIN shh b ON b.s = a.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= $MinCooc),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
common AS (
  SELECT c.x, c.y, count(*) AS common
  FROM cands c JOIN shh a ON a.doc_id = c.x JOIN shh b ON b.doc_id = c.y AND b.s = a.s
  GROUP BY c.x, c.y),
jp AS (
  SELECT x, y FROM common
  JOIN sizes sx ON sx.doc_id = x JOIN sizes sy ON sy.doc_id = y
  WHERE common / (sx.n + sy.n - common) >= 0.5),
cells AS (
  SELECT least(dx.source, dy.source) AS source_a,
    greatest(dx.source, dy.source) AS source_b, count(*)::BIGINT AS n_pairs
  FROM jp JOIN documents dx ON dx.doc_id = jp.x
          JOIN documents dy ON dy.doc_id = jp.y
  GROUP BY 1, 2),
nd AS (SELECT source, count(*)::BIGINT AS nd FROM documents GROUP BY 1)
SELECT c.source_a, c.source_b, c.n_pairs, na.nd AS n_docs_a, nb.nd AS n_docs_b,
  (c.source_a <> c.source_b)::BIGINT AS cross_source,
  ((c.n_pairs * 1000000) // (na.nd * nb.nd))::BIGINT AS rate_ppm
FROM cells c JOIN nd na ON na.source = c.source_a
JOIN nd nb ON nb.source = c.source_b"""

  // ---- L118 (r10): SFT prompt near-dup — turn-level dedup ----
  // Instruction-tuning dedup has a different UNIT than pretraining
  // dedup: two SFT examples with distinct assistant answers but
  // near-identical USER prompts still teach the same thing twice (and
  // leak across train/eval splits at the prompt level) — so the dedup
  // key is the user TURN, not the transcript. Pure composition: L92's
  // parser yields the user turns, each (doc, turn) becomes a
  // synthetic unit id (doc·1024 + idx — turn counts are ≤2·chunks,
  // far under 1024 by the generator's own shape), and L2's df-capped
  // n-gram Jaccard machinery runs unchanged over the turn corpus (all
  // pruning inherited). Output pairs carry decoded doc ids and a
  // cross-doc flag — the split-leakage signal. Scale = L2's; the turn
  // corpus is a constant factor larger in rows, smaller in bytes/row.
  def chatPromptDedup(documents: DataFrame): DataFrame = {
    // The unit-id packing is only injective while turn_idx < 1024 and
    // doc_id stays clear of Long.MaxValue/1024; the generator's shape
    // guarantees both, but on any OTHER corpus a violation must fail
    // loudly (raise_error) instead of silently colliding dedup pairs
    // (r10 advice). The guard is a codegen'd branch, not a scan.
    val packLimit = Long.MaxValue / 1024 - 1
    val turns = Chat.userTurns(documents)
      .select(
        when(col("turn_idx") >= 1024 || col("doc_id") > packLimit ||
            col("doc_id") < 0,
          raise_error(concat(lit("chatPromptDedup: unit-id packing out of "
            + "range (turn_idx "), col("turn_idx"), lit(", doc_id "),
            col("doc_id"), lit(")"))).cast("long"))
          .otherwise(col("doc_id") * 1024 + col("turn_idx")).as("doc_id"),
        col("content").as("text"))
    ngramJaccard(turns)
      .select(col("x"), col("y"),
        expr("x div 1024").as("doc_x"), expr("y div 1024").as("doc_y"),
        (expr("x div 1024") =!= expr("y div 1024")).cast("long").as("cross_doc"),
        col("jaccard"))
  }

  lazy val chatPromptDedupSql: String =
    s"""WITH ut AS (
  SELECT doc_id * 1024 + turn_idx AS doc_id, content AS text
  FROM (${graft.operators.Chat.userTurnsSql})),
${shingleSqlCteFor("ut")},
$shingleHashedSqlCte,
rare AS (SELECT s FROM shh GROUP BY s HAVING count(*) <= $MaxDf),
cands AS (
  SELECT a.doc_id AS x, b.doc_id AS y
  FROM shh a JOIN rare r ON a.s = r.s JOIN shh b ON b.s = a.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= $MinCooc),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
common AS (
  SELECT c.x, c.y, count(*) AS common
  FROM cands c JOIN shh a ON a.doc_id = c.x JOIN shh b ON b.doc_id = c.y AND b.s = a.s
  GROUP BY c.x, c.y),
jp AS (
  SELECT x, y, common / (sx.n + sy.n - common) AS jaccard
  FROM common JOIN sizes sx ON sx.doc_id = x JOIN sizes sy ON sy.doc_id = y
  WHERE common / (sx.n + sy.n - common) >= 0.5)
SELECT x, y, x // 1024 AS doc_x, y // 1024 AS doc_y,
  (x // 1024 <> y // 1024)::BIGINT AS cross_doc, jaccard
FROM jp"""

  // ---- L115 (r9): dedup threshold sweep — the tuning readout ----
  // Before a 100 TB dedup run, the question is "what does τ cost":
  // how many pairs fire and how many documents get dropped at each
  // candidate threshold. One pass over L2's ALREADY-REDUCED scored
  // pair frame (never the corpus) fans it across a 10-row threshold
  // grid (the declared bounded crossJoin) and counts pairs plus
  // DISTINCT flagged docs per threshold — distinct-counts don't
  // telescope across thresholds, so the grid join is the honest
  // shape, and its volume is |pairs|·10. Jaccard compares happen on
  // the same unrounded doubles both engines computed from identical
  // integers.
  def dedupSweep(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val pairs = ngramJaccard(documents).localCheckpoint()
    val grid = (10 to 19).map(_ / 20.0).toDF("tau")
    pairs.crossJoin(broadcast(grid))
      .where(col("jaccard") >= col("tau"))
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("y")).as("n_docs_flagged"))
  }

  lazy val dedupSweepSql: String =
    s"""WITH $shingleSqlCte,
$shingleHashedSqlCte,
rare AS (SELECT s FROM shh GROUP BY s HAVING count(*) <= $MaxDf),
cands AS (
  SELECT a.doc_id AS x, b.doc_id AS y
  FROM shh a JOIN rare r ON a.s = r.s JOIN shh b ON b.s = a.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= $MinCooc),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
common AS (
  SELECT c.x, c.y, count(*) AS common
  FROM cands c JOIN shh a ON a.doc_id = c.x JOIN shh b ON b.doc_id = c.y AND b.s = a.s
  GROUP BY c.x, c.y),
jp AS (
  SELECT x, y, common / (sx.n + sy.n - common) AS jaccard
  FROM common JOIN sizes sx ON sx.doc_id = x JOIN sizes sy ON sy.doc_id = y
  WHERE common / (sx.n + sy.n - common) >= 0.5),
grid AS (SELECT i / 20.0 AS tau FROM unnest(generate_series(10, 19)) AS g(i))
SELECT tau, count(*)::BIGINT AS n_pairs,
  count(DISTINCT y)::BIGINT AS n_docs_flagged
FROM jp CROSS JOIN grid
WHERE jp.jaccard >= grid.tau
GROUP BY tau"""

  // ---- L45: exact set-similarity join via prefix filtering ----
  // The AllPairs/PPJoin candidate scheme: EXACT recall by theorem, no
  // probabilistic miss (vs L3 minhash) and no df-cap miss (vs L2).
  // Under a GLOBAL total token order, J(x, y) >= τ implies
  // |x∩y| >= ceil(τ·|x|) (since |x∪y| >= |x|), so the common tokens
  // cannot all fit in x's last ceil(τ·|x|)−1 positions — the smallest
  // common token sits inside x's first |x| − ceil(τ·|x|) + 1 tokens,
  // and by the same argument inside y's prefix. Hence joining PREFIX ×
  // PREFIX on the token is candidate-complete. The global order is
  // (df ASC, hash ASC) — rare tokens first — so each doc is indexed
  // under its RAREST shingles and a corpus-hot token enters a prefix
  // only when everything else in that doc is hotter: candidate volume
  // is minimized by construction rather than clipped by a cap. An
  // added length filter (τ·|x| <= |y| <= |x|/τ, exact integers for
  // τ = 1/2) prunes verify pairs without touching recall.
  //
  // BECAUSE recall is exact, the oracle is the pure semantic statement
  // — all pairs with Jaccard >= τ — with zero candidate machinery
  // mirrored: the hash gate itself re-proves completeness on real
  // data every round. Scale: prefix index ≈ (1−τ)·|d|+1 entries/doc,
  // one (token) exchange for df + one for the prefix self-join; the
  // verify join only sees candidates.
  def prefixJoin(documents: DataFrame): DataFrame = {
    val sh = shingleHashedDf(documents)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfs = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val ranked = sh.join(dfs, "s")
      .select(col("doc_id"), col("s"), row_number().over(w).cast("long").as("rk"))
      .join(sizes, "doc_id")
      // prefix length for τ = 1/2: n − ceil(n/2) + 1 = n/2 + 1 (int div)
      .where(col("rk") <= col("n") - (col("n") + 1) / 2 + 1)
      .select(col("s"), col("doc_id"), col("n"), col("rk"))
      // materialized once: both sides of the prefix self-join consume
      // this frame and exchange reuse misses across the aliased
      // projections, which would re-run the df join + per-doc window
      .localCheckpoint(eager = false)
    // PPJoin positional filter (exact, Xiao et al.): a shared prefix
    // token at positions (rkx, rky) bounds the overlap by
    // 1 + min(nx − rkx, ny − rky); J >= τ needs overlap >=
    // ceil(τ/(1+τ)·(nx+ny)) = ceil((nx+ny)/3) at τ = 1/2 — pairs that
    // cannot reach it are cut BEFORE the distinct, recall-free.
    val cands = ranked.select(col("s"), col("doc_id").as("x"), col("n").as("nx"), col("rk").as("rkx"))
      .join(ranked.select(col("s"), col("doc_id").as("y"), col("n").as("ny"), col("rk").as("rky")), "s")
      .where(col("x") < col("y") &&
        col("ny") * 2 >= col("nx") && col("nx") * 2 >= col("ny") &&
        lit(1) + least(col("nx") - col("rkx"), col("ny") - col("rky")) >=
          (col("nx") + col("ny") + 2) / 3)
      .select(col("x"), col("y")).distinct()
    exactJaccard(cands, sh, sizes)
  }

  /** Pure semantic oracle: every co-occurring pair's exact Jaccard,
    * thresholded — no prefix/length-filter mirror (exactness of the
    * candidate scheme is the claim under test). */
  val prefixJoinSql: String =
    s"""WITH $shingleSqlCte,
$shingleHashedSqlCte,
cands AS (
  SELECT a.doc_id AS x, b.doc_id AS y
  FROM shh a JOIN shh b ON b.s = a.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
$exactJaccardSql"""

  // ---- L3: MinHash + LSH ----
  // Universal-hashing minhash: ONE 32-bit md5 base hash per shingle,
  // then 24 derived hashes h_j = (base XOR C_j) * A_j (XOR breaks the
  // monotonicity that would make every h_j pick the same shingle).
  // The 24-way signature is a single groupBy(doc) with 24 conditional
  // mins — map-side partial aggregation, no explode, no per-seed md5
  // (was 24 md5/shingle ≈ 36M interpreted hashes at sf0.1 = 38 s; now
  // ~4 s). 6 bands × 4 rows; docs sharing any band become candidates;
  // candidates are verified with exact Jaccard >= 0.5.
  private val NumHashes = 24
  private val BandRows = 4
  private val NumBands = NumHashes / BandRows

  /** Deterministic mixing constants, identical in the SQL oracle. */
  private val (mixA, mixC) = {
    val rnd = new scala.util.Random(7)
    (Array.fill(NumHashes)((rnd.nextInt(1 << 20) | 1).toLong),
      Array.fill(NumHashes)(rnd.nextLong() & 0xFFFFFFFFL))
  }

  /** (doc_id, h0..h23) minhash signatures from a hashed-shingle frame.
    * The 32-bit base is the low bits of the already-hashed shingle, so
    * the shingle explode+md5 runs once total, not once per consumer. */
  private def minhashSigs(sh: DataFrame): DataFrame = {
    val based = sh.select(col("doc_id"), col("s").bitwiseAND(0xFFFFFFFFL).as("base"))
    based.groupBy(col("doc_id")).agg(
      min(col("base").bitwiseXOR(mixC(0)) * mixA(0)).as("h0"),
      (1 until NumHashes).map(j =>
        min(col("base").bitwiseXOR(mixC(j)) * mixA(j)).as(s"h$j")): _*)
  }

  /** (doc_id, band, key) minhash band keys from a signature frame —
    * shared by [[minhashLsh]] (self-join), the calibrations and
    * [[minhashContamination]] (corpus-vs-benchmark join). */
  private def minhashBandsFrom(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(array((0 until NumBands).map(b =>
        struct(lit(b).as("band"),
          array((0 until BandRows).map(r => col(s"h${b * BandRows + r}")): _*).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Distinct pairs (x < y) sharing any band key. */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.select(col("band"), col("key"), col("doc_id").as("x"))
      .join(bands.select(col("band"), col("key"), col("doc_id").as("y")), Seq("band", "key"))
      .where(col("x") < col("y"))
      .select(col("x"), col("y")).distinct()

  def minhashLsh(documents: DataFrame): DataFrame = {
    val sh = shingleHashedDf(documents)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    exactJaccard(bandPairs(minhashBandsFrom(minhashSigs(sh))), sh, sizes)
  }

  /** Shared CTE prefix (shingles → hashed shingles → signatures →
    * band keys) for every minhash-derived oracle. */
  private val minhashBandCtes: String = {
    val sigCols = (0 until NumHashes)
      .map(j => s"min(xor(base, ${mixC(j)}) * ${mixA(j)}) AS h$j").mkString(",\n  ")
    val bandKeys = (0 until NumBands).map { b =>
      val key = (0 until BandRows).map(r => s"h${b * BandRows + r}").mkString("[", ", ", "]")
      s"(SELECT doc_id, $b AS band, $key AS key FROM sigs)"
    }.mkString("\n  UNION ALL ")
    s"""$shingleSqlCte,
$shingleHashedSqlCte,
based AS (SELECT doc_id, s & 4294967295 AS base FROM shh),
sigs AS (SELECT doc_id,
  $sigCols
FROM based GROUP BY doc_id),
bands AS ($bandKeys)"""
  }

  val minhashLshSql: String =
    s"""WITH $minhashBandCtes,
cands AS (
  SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
$exactJaccardSql"""

  // ---- L129 (r10): minhash calibration — estimate vs exact Jaccard ----
  // The sketch-tuning readout behind L3's (bands, rows) choice: per
  // exact-Jaccard decile, how far does the signature estimate
  // (matching components / NumHashes) sit from truth, over the REAL
  // candidate population (banded pairs, no ≥τ cut — calibration needs
  // the below-threshold side of the curve too). ALL-INTEGER hashed
  // surface: the decile is the cross-multiplied (10·common) div union
  // (no float in a bucket decision), matching components sum exactly,
  // and the per-bucket means release as exact ppm over n·H and the
  // DECIMAL(18,9)-quantized per-pair Jaccard sum (small-magnitude,
  // L117 discipline). Scale = L3's banding; the signature compare adds
  // one 24-column pair join on the ALREADY-REDUCED candidate frame.
  def minhashCalibration(documents: DataFrame): DataFrame =
    calibrationBuckets(documents)(_ === _)
      .select(col("bucket"), col("n_pairs"), col("sum_eq"),
        expr(s"(sum_eq * 1000000L) div (n_pairs * $NumHashes)").as("est_mean_ppm"),
        col("exact_mean"))

  /** The L129 / L134 calibration core: L3's banded candidates, scored
    * with their exact common/union counts, then per decile bucket
    * (bucket, n_pairs, sum_eq, exact_mean), where sum_eq counts the
    * signature components for which `agree` holds. */
  private def calibrationBuckets(documents: DataFrame)(
      agree: (Column, Column) => Column): DataFrame = {
    val sh = shingleHashedDf(documents)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sigs = minhashSigs(sh)
    val sx = sigs.toDF("x" +: (0 until NumHashes).map(j => s"x$j"): _*)
    val sy = sigs.toDF("y" +: (0 until NumHashes).map(j => s"y$j"): _*)
    val eq = (0 until NumHashes)
      .map(j => agree(col(s"x$j"), col(s"y$j")).cast("long")).reduce(_ + _)
    commonCounts(bandPairs(minhashBandsFrom(sigs)), sh, sizes)
      .withColumn("union_n", col("nx") + col("ny") - col("common"))
      .join(sx, "x").join(sy, "y")
      .withColumn("eq", eq)
      .withColumn("bucket", least(expr("(10 * common) div union_n"), lit(9L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("eq")).as("sum_eq"),
        sum((col("common").cast("double") / col("union_n").cast("double"))
          .cast("decimal(18,9)")).as("jac_sum"))
      .withColumn("exact_mean",
        round(col("jac_sum").cast("double") / col("n_pairs").cast("double"), 6))
  }

  lazy val minhashCalibrationSql: String = {
    val eqSql = (0 until NumHashes)
      .map(j => s"(a.h$j = b.h$j)::INT").mkString(" + ")
    s"""WITH $minhashBandCtes,
cands AS (
  SELECT DISTINCT ba.doc_id AS x, bb.doc_id AS y
  FROM bands ba JOIN bands bb
    ON ba.band = bb.band AND ba.key = bb.key AND ba.doc_id < bb.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
common AS (
  SELECT c.x, c.y, count(*)::BIGINT AS common
  FROM cands c JOIN shh sa ON sa.doc_id = c.x
               JOIN shh sb ON sb.doc_id = c.y AND sb.s = sa.s
  GROUP BY c.x, c.y),
scored AS (
  SELECT cm.x, cm.y, cm.common,
    (sx.n + sy.n - cm.common)::BIGINT AS union_n,
    ($eqSql)::BIGINT AS eq
  FROM common cm
  JOIN sizes sx ON sx.doc_id = cm.x JOIN sizes sy ON sy.doc_id = cm.y
  JOIN sigs a ON a.doc_id = cm.x JOIN sigs b ON b.doc_id = cm.y)
SELECT least((10 * common) // union_n, 9)::BIGINT AS bucket,
  count(*)::BIGINT AS n_pairs, sum(eq)::BIGINT AS sum_eq,
  ((sum(eq) * 1000000) // (count(*) * $NumHashes))::BIGINT AS est_mean_ppm,
  round(sum((common::DOUBLE / union_n::DOUBLE)::DECIMAL(18,9))::DOUBLE
    / count(*)::DOUBLE, 6) AS exact_mean
FROM scored GROUP BY 1"""
  }

  // ---- L36: near-dup benchmark decontamination (minhash-based) ----
  // The complement of L21's binary any-8-gram-overlap flag: SAME-
  // CONTENT leakage detection. Corpus docs sharing any minhash band
  // with a benchmark doc become candidates, candidates are verified
  // with exact Jaccard >= 0.5 against the specific benchmark doc, and
  // verified hits report (count, best match id, best jaccard) — a
  // GRADED, attributed signal where L21 is binary. The two answer
  // different questions (spec-demonstrated): a doc quoting one
  // 10-word benchmark span trips L21 but not this (jaccard ~0.07); a
  // light paraphrase scores ~0.8 here WITH its source id, letting a
  // decontamination pipeline drop same-content leaks and merely
  // down-weight incidental quoters. Scale shape = L21's: the
  // benchmark side is eval-suite-sized by nature, so its band keys
  // BROADCAST and the corpus side stays one map-side band explode +
  // broadcast-hash probe — corpus shingles shuffle only for the
  // candidate verify join, whose volume is bounded by band
  // collisions, not the corpus square.
  def minhashContamination(documents: DataFrame): DataFrame = {
    val sh = shingleHashedDf(documents)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val bands = minhashBandsFrom(minhashSigs(sh))
    val bench = bands.where(col("doc_id") % 50 === 0)
      .select(col("band"), col("key"), col("doc_id").as("y"))
    val cands = bands.where(col("doc_id") % 50 =!= 0)
      .select(col("band"), col("key"), col("doc_id").as("x"))
      .join(broadcast(bench), Seq("band", "key"))
      .select(col("x"), col("y")).distinct()
    // deterministic argmax: lexicographic (jaccard, y) — mirrored in
    // SQL as max([jaccard, y::DOUBLE]) (ids are exact in doubles)
    exactJaccard(cands, sh, sizes)
      .groupBy(col("x").as("doc_id"))
      .agg(count(lit(1)).as("n_near_matches"),
        max(struct(col("jaccard"), col("y"))).as("m"))
      .select(col("doc_id"), col("n_near_matches"),
        col("m.y").as("best_match"), col("m.jaccard").as("best_jaccard"))
  }

  val minhashContaminationSql: String =
    s"""SELECT doc_id, n_near_matches, best_match, best_jaccard FROM (
  SELECT x AS doc_id, count(*) AS n_near_matches,
         max([jaccard, y::DOUBLE])[2]::BIGINT AS best_match,
         max([jaccard, y::DOUBLE])[1] AS best_jaccard
  FROM (
    WITH $minhashBandCtes,
    cands AS (
      SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key
       AND a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0),
    $exactJaccardSql)
  GROUP BY x)"""

  // ---- L40: incremental dedup (new batch vs existing corpus) ----
  // The daily-crawl shape: dedup TODAY'S batch against the standing
  // corpus without re-deduplicating the corpus against itself. Here
  // doc_id % 5 == 4 stands in for the new batch. Each new doc reports
  // exact_dup (its md5 already exists), n_near/best_match (minhash
  // band candidates vs EXISTING docs only, exact-Jaccard >= 0.5
  // verified), and the keep decision. Scale: the batch side of every
  // join is the small side by construction (a day's crawl vs the
  // corpus); band keys and text hashes for the standing corpus are
  // exactly what an incremental pipeline would keep materialised
  // between runs, so the recurring cost is one batch-sized band
  // explode + two joins — the corpus is never re-shingled per day
  // (here both sides derive from one table because the testdata has
  // one table; the split is the semantics).
  def incrementalDedup(documents: DataFrame): DataFrame = {
    val newPred = col("doc_id") % 5 === 4
    val exactHit = documents.where(newPred)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(documents.where(!newPred).select(md5(col("text")).as("h")).distinct(),
        Seq("h"), "left_semi")
      .select(col("doc_id"), lit(1L).as("exact_dup"))
    val sh = shingleHashedDf(documents)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val bands = minhashBandsFrom(minhashSigs(sh))
    val cands = bands.where(col("doc_id") % 5 === 4)
      .select(col("band"), col("key"), col("doc_id").as("x"))
      .join(bands.where(col("doc_id") % 5 =!= 4)
        .select(col("band"), col("key"), col("doc_id").as("y")), Seq("band", "key"))
      .select(col("x"), col("y")).distinct()
    val near = exactJaccard(cands, sh, sizes)
      .groupBy(col("x").as("doc_id"))
      .agg(count(lit(1)).as("n_near"), max(struct(col("jaccard"), col("y"))).as("m"))
    documents.where(newPred).select(col("doc_id"))
      .join(exactHit, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(0L)).as("exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("m.y").as("best_match"),
        (coalesce(col("exact_dup"), lit(0L)) === 0 &&
          coalesce(col("n_near"), lit(0L)) === 0).cast("long").as("keep"))
  }

  val incrementalDedupSql: String =
    s"""SELECT n.doc_id,
  coalesce(e.exact_dup, 0) AS exact_dup,
  coalesce(h.n_near, 0) AS n_near,
  h.best_match,
  (coalesce(e.exact_dup, 0) = 0 AND coalesce(h.n_near, 0) = 0)::BIGINT AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) n
LEFT JOIN (
  SELECT DISTINCT a.doc_id, 1::BIGINT AS exact_dup
  FROM documents a JOIN documents b
    ON md5(a.text) = md5(b.text) AND a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4) e
  ON e.doc_id = n.doc_id
LEFT JOIN (
  SELECT x AS doc_id, count(*) AS n_near,
         max([jaccard, y::DOUBLE])[2]::BIGINT AS best_match
  FROM (
    WITH $minhashBandCtes,
    cands AS (
      SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key
       AND a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4),
    $exactJaccardSql)
  GROUP BY x) h ON h.doc_id = n.doc_id"""

  // ---- L23: blocked fuzzy matching (edit-distance entity resolution) ----
  // The classic record-linkage shape: block on a cheap equality key so
  // the quadratic edit-distance verify runs only WITHIN blocks (bounded
  // occupancy), never across the corpus. Here: customer names blocked
  // on their 16-char prefix (TPC-H names share 'Customer#0000...'
  // prefixes, ~100 rows/block), verified with levenshtein <= 2 — both
  // engines implement the same unit-cost Wagner-Fischer distance, so
  // the oracle is exact. At 100 TB the block key would be a phonetic /
  // normalized key; the plan shape (explode-free equality self-join +
  // in-block verify) is the scalable part.
  private val FuzzyMaxDist = 2
  // hot-block guard, same philosophy as L5's bucket cap / L2's MaxDf: a
  // block holding ≫ expected rows (think "John Smith") would go
  // quadratic; cap sized ≈ 10× the expected block occupancy
  private val FuzzyMaxBlock = 1024

  def fuzzyNames(customer: DataFrame, maxBlock: Int = FuzzyMaxBlock): DataFrame = {
    val all = customer.select(col("c_custkey").as("id"), col("c_name").as("name"),
      substring(col("c_name"), 1, 16).as("blk"))
    val named = all.join(
      all.groupBy(col("blk")).agg(count(lit(1)).as("occ"))
        .where(col("occ") <= maxBlock).select(col("blk")),
      "blk")
    // The block key IS the 16-char prefix, and edit distance is
    // invariant under common-prefix stripping (D(xu, xv) = D(u, v)), so
    // the in-block verify runs the DP on the short SUFFIXES only —
    // exact same distances as full-string levenshtein (which the oracle
    // computes), at a fraction of the per-pair cost. Catalyst pushes
    // the distance predicate into the join condition (the expression
    // evaluates per candidate pair either way); cheap per-eval is what
    // matters, not eval count.
    // shuffle_hash, NOT broadcast: a broadcast join runs the whole
    // in-block quadratic verify at the probe side's parallelism (one
    // task for a single input file); hashing on the block key spreads
    // blocks across tasks — the block is the parallelism unit, locally
    // and at cluster scale.
    named.as("l").hint("shuffle_hash").join(named.as("r").hint("shuffle_hash"),
        col("l.blk") === col("r.blk") && col("l.id") < col("r.id"))
      .select(col("l.id").as("x"), col("r.id").as("y"),
        levenshtein(substring(col("l.name"), 17, 1000),
          substring(col("r.name"), 17, 1000), FuzzyMaxDist).cast("long").as("dist"))
      .where(col("dist").between(0, FuzzyMaxDist))
  }

  val fuzzyNamesSql: String =
    s"""WITH a AS (SELECT c_custkey AS id, c_name AS name, substr(c_name, 1, 16) AS blk FROM customer),
n AS (SELECT a.* FROM a JOIN (SELECT blk FROM a GROUP BY blk HAVING count(*) <= $FuzzyMaxBlock) k USING (blk))
SELECT l.id AS x, r.id AS y, levenshtein(l.name, r.name)::BIGINT AS dist
FROM n l JOIN n r ON l.blk = r.blk AND l.id < r.id
WHERE levenshtein(l.name, r.name) <= $FuzzyMaxDist"""

  // ---- L53: record-linkage scoring (the Fellegi–Sunter shape) ----
  // The probabilistic half of entity resolution: candidate pairs (from
  // the SAME blocked generation as L23 — candidates and scoring are
  // separate stages by design) get a match weight summed over field
  // AGREEMENT PATTERNS — in FS terms, each field contributes
  // ln(m/u) on agreement and ln((1−m)/(1−u)) on disagreement. The
  // weights here are fixed INTEGER milli-units (a trained model swaps
  // in its own table, the plumbing is identical — the L31 rule), so
  // the score is an exact BIGINT sum: order-independent, oracle-exact,
  // no in-engine ln. Three agreement fields: name edit distance
  // (exact/near/far), same market segment, account balance within 100.
  // The pair volume is L23's (blocked + capped); scoring is map-side
  // on the joined row — one pass, no extra shuffle.
  private val RlNameExact = 1200L
  private val RlNameNear = 600L
  private val RlNameFar = -800L
  private val RlSegAgree = 300L
  private val RlSegDisagree = -200L
  private val RlBalAgree = 400L
  private val RlBalDisagree = -100L
  private val RlThreshold = 900L

  def recordLinkage(customer: DataFrame, maxBlock: Int = FuzzyMaxBlock): DataFrame = {
    val side = customer.select(col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_mktsegment").as("seg"),
      (dec(col("c_acctbal")) * 100).cast("long").as("bal_cents"),
      substring(col("c_name"), 1, 16).as("blk"))
    val ok = side.groupBy(col("blk")).agg(count(lit(1)).as("n"))
      .where(col("n") <= maxBlock).select(col("blk"))
    val capped = side.join(ok, "blk")
    val l = capped.select(col("blk"), col("id").as("x"), col("name").as("nx"),
      col("seg").as("sx"), col("bal_cents").as("bx"))
    val r = capped.select(col("blk"), col("id").as("y"), col("name").as("ny"),
      col("seg").as("sy"), col("bal_cents").as("by"))
    // L23's two tricks verbatim: distance over the post-block-prefix
    // SUFFIX only (invariant: D(xu, xv) = D(u, v)) AND the bounded DP
    // (threshold 2 -> -1 means "far"), so the expensive field costs a
    // few cells per pair instead of a full name-by-name matrix;
    // shuffle_hash so the block, not the file, is the parallelism unit
    val d = levenshtein(substring(col("nx"), 17, 1000),
      substring(col("ny"), 17, 1000), 2)
    l.hint("shuffle_hash").join(r.hint("shuffle_hash"), Seq("blk"))
      .where(col("x") < col("y"))
      .select(col("x"), col("y"),
        (when(d === 0, RlNameExact).when(d >= 1, RlNameNear).otherwise(RlNameFar) +
          when(col("sx") === col("sy"), RlSegAgree).otherwise(RlSegDisagree) +
          when(abs(col("bx") - col("by")) <= 10000L, RlBalAgree).otherwise(RlBalDisagree))
          .as("score"))
      .where(col("score") >= RlThreshold)
  }

  val recordLinkageSql: String =
    s"""WITH a AS (
  SELECT c_custkey AS id, c_name AS name, c_mktsegment AS seg,
         (CAST(c_acctbal AS DECIMAL(18,2)) * 100)::BIGINT AS bal_cents,
         substr(c_name, 1, 16) AS blk
  FROM customer),
n AS (SELECT a.* FROM a JOIN (SELECT blk FROM a GROUP BY blk HAVING count(*) <= $FuzzyMaxBlock) k USING (blk))
SELECT x, y, score FROM (
  SELECT l.id AS x, r.id AS y,
    (CASE WHEN levenshtein(l.name, r.name) = 0 THEN $RlNameExact
          WHEN levenshtein(l.name, r.name) <= 2 THEN $RlNameNear
          ELSE $RlNameFar END
     + CASE WHEN l.seg = r.seg THEN $RlSegAgree ELSE $RlSegDisagree END
     + CASE WHEN abs(l.bal_cents - r.bal_cents) <= 10000 THEN $RlBalAgree ELSE $RlBalDisagree END
    )::BIGINT AS score
  FROM n l JOIN n r ON l.blk = r.blk AND l.id < r.id)
WHERE score >= $RlThreshold""" // threshold 900: near-name + both agreements (1300) and exact-name pairs (>= 900) survive; near + one agreement (800) does not

  // ---- C38: triangle enumeration over the dup-pair graph ----
  // The graph-analytics companion to connected components: triangles
  // measure clustering (a dup component that is also triangle-dense is
  // a true near-clique; a chain is suspicious) and are THE classic
  // distributed-join shape. Scale trick: orient every edge from its
  // LOWER-degree endpoint to the higher (ties by id) — an acyclic
  // total order, so each triangle has exactly ONE pivot vertex with
  // both out-edges, is emitted once, and the 2-path join's fan-out per
  // vertex is bounded by out-degree ≈ O(√m) (arboricity bound) instead
  // of the raw degree — a hub vertex of degree d no longer produces
  // d² path candidates. The oracle states the plain canonical 3-way
  // join — the orientation is an invisible physical rewrite, re-proven
  // by the hash gate.
  def triangles(documents: DataFrame): DataFrame = {
    // localCheckpoint: the edge list feeds FIVE plan inputs (degree
    // union ×2, two 2-path sides, the closing join); without a lineage
    // cut the whole simhash banding pipeline re-executes per input
    // (measured 1.93 s -> the checkpoint collapses it to one pass, and
    // the now-tiny edge frame lets AQE broadcast the downstream joins)
    val e = simhashDedup(documents).select(col("x"), col("y")).localCheckpoint() // canonical x < y
    trianglesFrom(e)
  }

  /** C38's degree-oriented enumeration over an explicit canonical
    * (x < y) edge frame — split out so L126 can score the SAME edges
    * it counts wedges on. */
  private def trianglesFrom(e: DataFrame): DataFrame = {
    val deg = e.select(col("x").as("v")).unionAll(e.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
    val xFirst = col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y"))
    val oriented = withDeg.select(
      when(xFirst, col("x")).otherwise(col("y")).as("u"),
      when(xFirst, col("y")).otherwise(col("x")).as("w"))
    val paths = oriented.as("o1")
      .join(oriented.as("o2"), col("o1.u") === col("o2.u") && col("o1.w") < col("o2.w"))
      .select(col("o1.u").as("p"), col("o1.w").as("qa"), col("o2.w").as("qb"))
    paths
      .join(e.select(col("x").as("qa"), col("y").as("qb")), Seq("qa", "qb"))
      .select(array_sort(array(col("p"), col("qa"), col("qb"))).as("t"))
      .select(col("t").getItem(0).as("a"), col("t").getItem(1).as("b"),
        col("t").getItem(2).as("c"))
  }

  // lazy: simhashDedupSql is declared later in the file and object
  // vals initialize in order — an eager val would capture null
  lazy val trianglesSql: String =
    s"""WITH pairs AS ($simhashDedupSql),
e AS (SELECT x, y FROM pairs)
SELECT e1.x AS a, e1.y AS b, e2.y AS c
FROM e e1 JOIN e e2 ON e2.x = e1.y JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y"""

  // ---- L126 (r10): wedge closure — transitivity of the dup graph ----
  // Dedup treats "near-dup" as if it were transitive (L19 clusters by
  // connected components); this measures how true that is: the global
  // clustering coefficient 3·triangles / wedges. High closure says
  // components are near-cliques (CC clustering is safe — the L19
  // premise); low closure says chains/stars dominate and CC is
  // merging documents that never directly matched (threshold too low,
  // or a hub doc bridging unrelated groups — exactly the failure the
  // L115 sweep tunes against). Wedges = Σ d(d−1)/2 from the degree
  // frame (integer, node-bounded); triangles from the SAME checkpointed
  // edge frame via C38's oriented enumeration; closure as exact ppm.
  def wedgeClosure(documents: DataFrame): DataFrame = {
    val e = simhashDedup(documents).select(col("x"), col("y")).localCheckpoint()
    val deg = e.select(col("x").as("v")).unionAll(e.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val base = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(d * (d - 1)) div 2").as("wedges"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val tri = trianglesFrom(e).agg(count(lit(1)).as("n_triangles"))
    base.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("wedges"), col("n_triangles"),
        expr("(3 * n_triangles * 1000000L) div nullif(wedges, 0)").as("closure_ppm"))
  }

  lazy val wedgeClosureSql: String =
    s"""WITH pairs AS ($simhashDedupSql),
e AS (SELECT x, y FROM pairs),
deg AS (SELECT v, count(*)::BIGINT AS d FROM (
  SELECT x AS v FROM e UNION ALL SELECT y FROM e) GROUP BY v),
base AS (SELECT count(*)::BIGINT AS n_nodes,
  (sum(d * (d - 1)) // 2)::BIGINT AS wedges FROM deg),
ne AS (SELECT count(*)::BIGINT AS n_edges FROM e),
tri AS (SELECT count(*)::BIGINT AS n_triangles FROM (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM e e1 JOIN e e2 ON e2.x = e1.y JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y))
SELECT n_nodes, n_edges, wedges, n_triangles,
  ((3 * n_triangles * 1000000) // nullif(wedges, 0))::BIGINT AS closure_ppm
FROM base CROSS JOIN ne CROSS JOIN tri"""

  // ---- C39: PageRank over the dup-pair graph (integer fixed-point) ----
  // The third graph primitive beside CC and triangles: rank within a
  // dup component identifies its most-connected member (a better
  // representative-election signal than min-id when components are
  // large). Cross-engine float determinism over 10 iterations is
  // impossible (error compounds per round), so the WHOLE recurrence is
  // integer (1e-12 rank units, truncating division) and bit-identical
  // to the oracle's recursive CTE. PageRank (unit weights), TextRank
  // (L157) and host rank (L72) share it: [[integerRank]].
  private[graft] val RankIters = 10
  private[graft] val RankUnit = 1000000000000L // 1e-12 rank units

  // ---- C49 (r7): k-core membership by iterative peeling ----
  // The fourth graph primitive (CC finds components, triangles count
  // local density, PageRank ranks, this isolates the DENSE SUBGRAPH):
  // repeatedly delete nodes of degree < k until the remainder is
  // stable — what survives is the k-core, the standard spam/link-farm
  // and dup-farm detector (a content farm's near-dup graph is a dense
  // core; organic near-dups are trees and chains that peel away).
  // Each wave is one [[KCoreKernel]] round: every alive vertex sends 1
  // along its edges, and an alive vertex with fewer than k messages
  // drops. `rounds` is a fixed unroll budget mirrored in the oracle CTE
  // chain, and the spec proves the corpus reaches the fixpoint inside
  // it (one extra wave changes nothing). Defining property — every
  // surviving node has ≥ k neighbors AMONG SURVIVORS — is checked on
  // the output, not assumed.
  private val KCoreK = 2
  private val KCoreRounds = 6

  def kCoreEdges(e0: DataFrame, k: Int = KCoreK,
      rounds: Int = KCoreRounds,
      localEdgeBudget: Long = DriverReplay.GraphEdgeBudget): DataFrame = {
    import KCoreKernel._
    val edges = DriverReplay.place(e0.select(col("x"), col("y")), localEdgeBudget) { r =>
      Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))
    }
    // a wave, and how many vertices it dropped that still had an edge
    def wave(minDeg: Int)(state: Placed[State]) = Placed.round(edges, state)(send, peel(minDeg))(0L)(
      (n, s) => if (s._2._2 > 0 && s._2._2 < minDeg) n + 1 else n, _ + _)
    // early exit (r8 verdict): a wave that removes no edge is the
    // identity, and so is every later wave here and in the oracle's
    // fixed CTE chain — the peel depth, not the budget, bounds work
    val (peeled, peeling) = waves(edges.mapPartitions(init), rounds)(wave(k))
    // unless the last wave removed edges its degrees are current; if it
    // did, a wave at k = 0, which drops nothing, recounts them
    val state = if (peeling > 0) wave(0)(peeled)._1 else peeled
    edges.release()
    val schema = StructType(Seq("v", "core_deg").map(StructField(_, LongType, false)))
    state.mapPartitions(_.collect { case (v, (_, d)) if d > 0 => (v, d) })
      .toDF(e0.sparkSession, schema) { case (v, d) => Row(v, d) }
  }

  /** A [[kCoreEdges]] wave over one partition: edges (v, u) both ways,
    * state (v, (alive, degree among the alive at the wave's start)). */
  private object KCoreKernel {
    type State = (Long, (Boolean, Long))
    def init(edges: Iterator[(Long, Long)]): Iterator[State] =
      edges.map(_._1).distinct.map(v => (v, (true, 0L)))

    /** 1 along each edge of an alive vertex, summed per neighbor */
    def send(edges: Iterator[(Long, Long)], state: Iterator[State]): Iterator[(Long, Long)] = {
      val alive = new java.util.HashSet[Long]()
      state.foreach { case (v, (a, _)) => if (a) alive.add(v) }
      sums(edges.collect { case (v, u) if alive.contains(v) => (u, 1L) }).asScala.iterator
    }

    /** each alive vertex's degree; below k it drops */
    def peel(k: Int)(state: Iterator[State], in: Iterator[(Long, Long)]): Iterator[State] = {
      val deg = sums(in)
      state.map { case (v, (alive, _)) =>
        val d = if (alive) deg.getOrDefault(v, 0L) else 0L
        (v, (alive && d >= k, d))
      }
    }
  }

  /** `wave` from `init` until it changes nothing or ran `rounds` times,
    * with how much its last run changed */
  private def waves[S](init: S, rounds: Int)(wave: S => (S, Long)): (S, Long) =
    Iterator.iterate((init, 1L))(s => wave(s._1)).zipWithIndex
      .find { case ((_, n), r) => r == rounds || n == 0 }.get._1

  /** per key, the exact sum of its values */
  private def sums[K](kv: Iterator[(K, Long)]): java.util.HashMap[K, Long] = {
    val m = new java.util.HashMap[K, Long]()
    kv.foreach { case (k, v) => m.merge(k, v, Math.addExact(_: Long, _: Long)) }
    m
  }

  def kCore(documents: DataFrame): DataFrame =
    kCoreEdges(simhashDedup(documents).select(col("x"), col("y")))
      .select(col("v").as("doc_id"), col("core_deg"))

  lazy val kCoreSql: String = {
    // MATERIALIZED (the L54 precedent): each wave references the
    // previous edge CTE three times — inlined, the expansion doubles
    // per round and re-reads the parquet 2^rounds times
    val waves = (1 to KCoreRounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT v, count(*) AS d FROM (
    SELECT x AS v FROM e${r - 1} UNION ALL SELECT y FROM e${r - 1}) GROUP BY v),
k$r AS (SELECT v FROM d$r WHERE d >= $KCoreK),
e$r AS MATERIALIZED (SELECT e.x, e.y FROM e${r - 1} e
  JOIN k$r a ON a.v = e.x JOIN k$r b ON b.v = e.y)"""
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED ($simhashDedupSql),
e0 AS MATERIALIZED (SELECT x, y FROM pairs),
$waves
SELECT v AS doc_id, count(*) AS core_deg FROM (
  SELECT x AS v FROM e$KCoreRounds UNION ALL SELECT y FROM e$KCoreRounds) GROUP BY v"""
  }

  def pageRank(documents: DataFrame): DataFrame =
    pageRankEdges(simhashDedup(documents).select(col("x"), col("y")))

  /** The PR recurrence over an explicit canonical (x, y) pair list —
    * split out for the local/distributed parity spec. Undirected: both
    * directions, each of weight 1, so out_w is the degree. */
  private[graft] def pageRankEdges(e: DataFrame,
      localEdgeBudget: Long = DriverReplay.GraphEdgeBudget): DataFrame =
    integerRank(e.unionAll(e.select(col("y"), col("x")))
        .select(col("x").as("src"), col("y").as("dst"), lit(1L).as("w")),
      scaleFirst = false, localEdgeBudget = localEdgeBudget)
      .select(col("v").as("doc_id"), col("rank"))

  /** (v, out_w, rank) for every source vertex of a directed weighted
    * edge frame (src, dst, w): the integer rank recurrence of PageRank,
    * TextRank and host rank. Each source starts at RankUnit div n and
    * sends its rank along its out-edges in proportion w / out_w;
    * rank'(v) = teleport + (85·Σ inflow) div 100 for RankIters rounds,
    * teleport = (15·(RankUnit div n)) div 100. n is `vertices` when
    * given (host rank's fixed host count), else the distinct sources.
    * The callers differ only in the rounding order of an edge's share:
    * `scaleFirst` computes (rank·w) div out_w exactly (rank·w may pass
    * BIGINT); otherwise (rank div out_w)·w, which never exceeds rank.
    * Both placements (DriverReplay.place) run one kernel, [[RankKernel]],
    * over the edges keyed by src; a round moves only the per-dst sums. */
  private[graft] def integerRank(edges: DataFrame, scaleFirst: Boolean,
      vertices: Option[Long] = None,
      localEdgeBudget: Long = DriverReplay.GraphEdgeBudget): DataFrame = {
    import RankKernel._
    val schema = StructType(Seq(edges.schema("src").copy(name = "v"),
      StructField("out_w", LongType), StructField("rank", LongType)))
    val es = DriverReplay.place(edges.select(col("src"), col("dst"), col("w")), localEdgeBudget)(
      r => Iterator.single((r.get(0), (r.get(1), r.getLong(2)))))
    // (v, out_w) per source, and how many sources there are
    val (ow, sources) = es.mapPartitions(outWeights).materialize(0L)((n, _) => n + 1, _ + _)
    val n = vertices.getOrElse(sources) max 1L // 0 only with no sources: no ranks
    val (contrib, adv) = (contribute(scaleFirst) _, advance((15L * (RankUnit / n)) / 100L) _)
    val ranks = (1 to RankIters).foldLeft(ow.mapPartitions(_.map { case (v, w) => (v, (w, RankUnit / n)) }))(
      (r, _) => Placed.round(es, r)(contrib, adv)(0L)((n, _) => n + 1, _ + _)._1)
    ow.release()
    es.release()
    ranks.toDF(edges.sparkSession, schema) { case (v, (w, r)) => Row(v, w, r) }
  }

  /** One [[integerRank]] round over one partition's iterators, edges
    * (src, (dst, w)) and the state (v, (out_w, rank)) of their sources;
    * every sum is `Math.addExact`, so an overflow throws on either side. */
  private object RankKernel {
    type Edge = (Any, (Any, Long))
    type State = (Any, (Long, Long))

    /** (v, out_w) for each source of the partition's edges */
    def outWeights(edges: Iterator[Edge]): Iterator[(Any, Long)] =
      sums(edges.map { case (src, (_, w)) => (src, w) }).asScala.iterator

    /** Σ share of its source's rank per dst of the partition's edges */
    def contribute(scaleFirst: Boolean)(edges: Iterator[Edge],
        ranks: Iterator[State]): Iterator[(Any, Long)] = {
      val state = new java.util.HashMap[Any, (Long, Long)]()
      ranks.foreach { case (v, s) => state.put(v, s) }
      sums(edges.map { case (src, (dst, w)) =>
        val (out, rank) = state.get(src)
        (dst, if (scaleFirst) (BigInt(rank) * w / out).bigInteger.longValueExact()
          else Math.multiplyExact(rank / out, w))
      }).asScala.iterator
    }

    /** the next state of each vertex of `ranks` from its inflow sums */
    def advance(teleport: Long)(ranks: Iterator[State],
        inflow: Iterator[(Any, Long)]): Iterator[State] = {
      val in = sums(inflow)
      ranks.map { case (v, (out, _)) =>
        (v, (out, teleport + Math.multiplyExact(85L, in.getOrDefault(v, 0L)) / 100L))
      }
    }
  }

  // every vertex of the undirected edge list has >= 1 in-edge, so the
  // inflow aggregate covers all vertices and the recursive term needs
  // only ONE reference to the recursive table (the recursive-CTE rule)
  lazy val pageRankSql: String =
    s"""WITH RECURSIVE pairs AS ($simhashDedupSql),
e AS (SELECT x AS src, y AS dst FROM pairs UNION ALL SELECT y, x FROM pairs),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
n AS (SELECT count(*) AS n FROM deg),
pr(iter, v, rank) AS (
  SELECT 0, src, $RankUnit // (SELECT n FROM n) FROM deg
  UNION ALL
  SELECT iter + 1, dst,
    (15 * ($RankUnit // (SELECT n FROM n))) // 100 + (85 * sum_contrib) // 100
  FROM (
    SELECT p.iter AS iter, e.dst AS dst, sum(p.rank // dg.deg) AS sum_contrib
    FROM pr p JOIN deg dg ON dg.src = p.v JOIN e ON e.src = p.v
    GROUP BY p.iter, e.dst)
  WHERE iter < $RankIters
)
SELECT v AS doc_id, rank::BIGINT AS rank FROM pr WHERE iter = $RankIters"""

  // ---- L19: dedup clustering (connected components over dup pairs) ----
  // A pair list (from any generator — minhash here) is only half of a
  // dedup pipeline: curation must keep ONE doc per connected component
  // of the dup graph (A~B, B~C => drop two of three even though A~C was
  // never emitted). Min-label propagation, the Pregel shape without a
  // graph library: every doc starts as its own label; each round pulls
  // the min label across edges (one shuffle join + one groupBy min) and
  // exits at fixpoint (one cheap count per round). Dup components are
  // near-cliques (diameter ~2), so rounds ≈ 3; lineage is cut per round
  // with localCheckpoint so the plan does not grow with iterations. A
  // non-converged run THROWS rather than returning wrong labels.
  private val MaxCcIters = 20

  /** (doc_id, cluster_id, keep): cluster_id = min doc_id reachable in
    * the near-dup graph; keep = 1 for the representative (every
    * singleton keeps itself). */
  def dedupClusters(documents: DataFrame): DataFrame =
    connectedComponents(minhashLsh(documents).select(col("x"), col("y")), documents)

  /** Min-label propagation over an explicit (x, y) pair list — split
    * out so the transitive-closure semantics are testable independently
    * of which pair generator produced the edges. */
  def connectedComponents(pairs: DataFrame, documents: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs, documents)._1

  // Escalated pointer jumping (anchor-collapse contraction, r5): from
  // round 3 on, each round performs THREE jumps instead of one, each
  // SQUARING the label mapping (cur <- cur∘cur) — reach grows ~8× per
  // escalated round, so a D-diameter chain converges in
  // ~2 + log8(D) cluster-wide job waves instead of ~log2(D)
  // (chain-100: 7 rounds -> 5, spec-pinned). The first two rounds stay
  // single-jump on purpose: dup components are near-cliques (diameter
  // ~2) that converge in the minimum 2 waves (converge + detect), and
  // an ALWAYS-on 3-jump variant measured a pure REGRESSION at sf0.1
  // (q_dedup_clusters 1.82 -> 2.24 s, q_curation_e2e 2.57 -> 2.93 s:
  // deeper plans to optimize + ~6 extra 32-task stages per round, zero
  // rounds saved — recorded per the negative-result standard). With
  // escalation the fast-graph plan is byte-identical to r4's, and only
  // a genuinely deep graph — where each wave is a full cluster barrier
  // at 100 TB — pays the extra label-frame shuffles to buy waves.
  private val JumpsPerRound = 3

  /** As [[connectedComponents]], also returning the number of
    * label-propagation rounds (cluster-wide job waves) the fixpoint
    * took — the scale cost a spec can pin (0 = the local union-find
    * path; pass localEdgeBudget = 0 to force the distributed waves). */
  def connectedComponentsWithRounds(pairs: DataFrame, documents: DataFrame,
      localEdgeBudget: Long = DriverReplay.GraphEdgeBudget): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .unionAll(pairs.select(col("y").as("x"), col("x").as("y")))
      .localCheckpoint()
    // r13 driver replay (DriverReplay): the pair graph is corpus-scaled,
    // so at scale it takes the distributed waves below; a small one runs
    // as one driver union-find instead of ~2 + rounds shuffle jobs of
    // scheduling floor (label = min reachable id; union-by-min-root ≡
    // min-label fixpoint — parity spec-pinned, oracle-gated per query).
    DriverReplay.collectWithin(edges.select(col("x"), col("y")).as[(Long, Long)],
        localEdgeBudget) match {
      case Some(es) =>
        // union-find, roots kept at the component MINIMUM id — the same
        // label the min-propagation fixpoint converges to
        val parent = new java.util.HashMap[Long, Long]()
        def find(v: Long): Long = {
          var r = v
          while (parent.getOrDefault(r, r) != r) r = parent.get(r)
          // path compression
          var c = v
          while (parent.getOrDefault(c, c) != c) {
            val nxt = parent.get(c); parent.put(c, r); c = nxt
          }
          r
        }
        es.foreach { case (x, y) =>
          val rx = find(x); val ry = find(y)
          if (rx != ry) {
            // union keeps the MINIMUM id as root, so every final root is
            // its component's min id by induction
            if (rx < ry) parent.put(ry, rx) else parent.put(rx, ry)
          }
        }
        val labelRows = es.iterator.flatMap { case (x, y) => Iterator(x, y) }
          .toSet[Long].toSeq.sorted.map(v => (v, find(v)))
        val labels = labelRows.toDF("id", "label")
        val out = documents.select(col("doc_id"))
          .join(broadcast(labels.withColumnRenamed("id", "doc_id")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("cluster_id"),
            (coalesce(col("label"), col("doc_id")) === col("doc_id"))
              .cast("long").as("keep"))
        return (out, 0)
      case None =>
    }
    var labels = edges.select(col("x").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < MaxCcIters) {
      // pull: min label across direct neighbors
      val pulled = edges
        .join(labels.select(col("id").as("y"), col("label").as("nl")), "y")
        .groupBy(col("x").as("id")).agg(min(col("nl")).as("pulled"))
      // NOT checkpointed: `next`'s checkpoint below caps the round's
      // lineage either way, and localCheckpoint is EAGER — an extra
      // materialization job per round for an intra-round intermediate
      val stepped = labels
        .join(pulled, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("pulled"), col("label"))).as("label"))
      // pointer jumps: label <- label(label), squaring the mapping each
      // time. Valid because label(x) <= x is invariant (labels only
      // ever decrease toward the component min), so every jump stays
      // inside the component. Jump count escalates after round 2 — see
      // the JumpsPerRound comment.
      // lazy checkpoint: the fixpoint count below is the round's one
      // materializing job — it computes `next`, persists it, and cuts
      // the lineage in the same pass (eager would spend a second job)
      val jumps = if (iter < 2) 1 else JumpsPerRound
      var cur = stepped
      for (_ <- 1 to jumps) {
        cur = cur.as("a")
          .join(cur.select(col("id").as("jid"), col("label").as("jl")),
            col("a.label") === col("jid"), "left")
          .select(col("a.id").as("id"),
            least(col("a.label"), coalesce(col("jl"), col("a.label"))).as("label"))
      }
      val next = cur.localCheckpoint(eager = false)
      changed = next.join(labels.select(col("id"), col("label").as("old")), "id")
        .where(col("label") =!= col("old")).count()
      labels = next
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(s"connected components did not converge in $MaxCcIters rounds")
    val out = documents.select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        (coalesce(col("label"), col("doc_id")) === col("doc_id")).cast("long").as("keep"))
    (out, iter)
  }

  /** DuckDB mirror: transitive closure by recursive CTE (oracle scale),
    * label = min reachable id. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE mh AS ($minhashLshSql),
edges AS (SELECT x AS a, y AS b FROM mh UNION ALL SELECT y AS a, x AS b FROM mh),
reach AS (SELECT a AS id, b AS r FROM edges
  UNION SELECT e.a AS id, r.r FROM edges e JOIN reach r ON r.id = e.b),
labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id)
SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id,
  (coalesce(l.label, d.doc_id) = d.doc_id)::BIGINT AS keep
FROM documents d LEFT JOIN labels l ON l.id = d.doc_id"""

  // ---- L120 (r10): dup-cluster size distribution ----
  // The release-report companion to L19: a dedup run's headline is not
  // the pair list but the SHAPE of its clusters — a corpus whose dup
  // mass sits in a few giant clusters (template spam, mirrored sites)
  // needs different handling than one with many pairs (light
  // paraphrase), and the size histogram is what that decision reads.
  // Pure composition over L19's cluster labels: one (cluster)
  // aggregate, one (size) aggregate — frames shrink monotonically
  // (docs → clusters → distinct sizes), nothing corpus-wide sorts.
  // All-integer output (counts + exact ppm of the doc population).
  def clusterSizes(documents: DataFrame): DataFrame = {
    val byCluster = dedupClusters(documents)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
    val total = documents.agg(count(lit(1)).as("n_docs_total"))
    byCluster.groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(total))
      .select(col("sz"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"),
        expr("(sz * n_clusters * 1000000L) div n_docs_total").as("doc_share_ppm"))
  }

  lazy val clusterSizesSql: String =
    s"""WITH RECURSIVE cl AS ($dedupClustersSql),
bc AS (SELECT cluster_id, count(*)::BIGINT AS sz FROM cl GROUP BY cluster_id),
tot AS (SELECT count(*)::BIGINT AS n_docs_total FROM documents)
SELECT sz, count(*)::BIGINT AS n_clusters,
  (sz * count(*))::BIGINT AS n_docs,
  ((sz * count(*) * 1000000) // n_docs_total)::BIGINT AS doc_share_ppm
FROM bc CROSS JOIN tot
GROUP BY sz, n_docs_total"""

  // ---- L25: chunk-level (paragraph) dedup ----
  // Sub-document dedup: the corpus has no newline-delimited paragraphs,
  // so the unit is a fixed 10-word chunk — the same shape as the
  // line/paragraph dedup every large-scale curation pipeline runs to
  // strip boilerplate (a chunk that appears anywhere earlier in the
  // corpus is dropped; the FIRST occurrence, ordered by (doc_id, idx),
  // is kept). Reassembled text preserves original chunk order.
  //
  // Scale shape: one explode to (doc, idx, chunk), one 16-byte-key
  // groupBy for the global first-occurrence argmin, one join back on
  // the hash, one groupBy(doc) to reassemble — all hash exchanges on
  // bounded-width keys; no sort-based window over the corpus.
  private val ChunkWords = 10

  def chunkDedup(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val chunks = toks.select(col("doc_id"),
      posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(toks) / $ChunkWords.0) AS INT) - 1),
           |          i -> array_join(slice(toks, i * $ChunkWords + 1, $ChunkWords), ' '))""".stripMargin)))
      .toDF("doc_id", "idx", "chunk")
      .withColumn("h", md5(col("chunk")))
    // global first occurrence per chunk hash: hash-agg argmin, no window
    val first = chunks.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
      .select(col("h"), col("f.doc_id").as("fdoc"), col("f.idx").as("fidx"))
    chunks.join(first, "h")
      .withColumn("kept", col("fdoc") === col("doc_id") && col("fidx") === col("idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("kept").cast("long")).as("n_kept"),
        // collect_list skips the nulls from the unmatched branch; sort
        // by idx restores original chunk order regardless of shuffle
        array_join(transform(
          array_sort(collect_list(when(col("kept"), struct(col("idx"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("kept_text"))
  }

  val chunkDedupSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunks AS (
  SELECT doc_id, i AS idx,
         array_to_string(list_slice(toks, i * $ChunkWords + 1, i * $ChunkWords + $ChunkWords), ' ') AS chunk
  FROM toks, unnest(generate_series(0, cast(ceil(len(toks) / $ChunkWords.0) AS INT) - 1)) AS t(i)),
marked AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
  FROM chunks)
SELECT doc_id, count(*)::BIGINT AS n_chunks, sum((rn = 1)::INT)::BIGINT AS n_kept,
       coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '') AS kept_text
FROM marked GROUP BY doc_id"""

  // ---- L4: SimHash ----
  // 60-bit simhash over word tokens (count-weighted), md5-portable.
  // Near-dup predicate: hamming distance <= 4. Spark generates
  // candidates from 5 bands of 12 bits — complete for d <= 4 by
  // pigeonhole — then verifies with exact bit_count(xor). The oracle
  // scans all pairs (fine at oracle scale) — identical result set.
  private val SimBits = 60
  private val SimBands = 5
  private val SimBandBits = SimBits / SimBands // 12
  private val MaxHamming = 4

  /** (doc_id, simhash) — map-only, no shuffle: one tight-loop
    * [[graft.functions.SimHash60]] evaluation per row (a nested
    * aggregate/zip_with fold was interpreted per token × bit: 6.7 s at
    * sf0.1 vs ~0.5 s for the custom expression; identical values). */
  def simhashes(documents: DataFrame): DataFrame = {
    documents.select(col("doc_id"),
      VectorFunctions.simHash60(tokens(col("text"))).as("simhash"))
  }

  def simhashDedup(documents: DataFrame): DataFrame = {
    // materialized once: the narrow (doc_id, long) sig frame, never the
    // text, feeds both sides of the band self-join. At 100 TB even that
    // is a corpus-sized intermediate: if it exceeds executor storage,
    // checkpoint the sigs to parquet and read twice (recompute = one
    // extra map-only pass) instead.
    val sims = simhashes(documents).localCheckpoint(eager = false)
    val withBands = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimBands).map(b => struct(lit(b).as("band"),
        shiftright(col("simhash"), b * SimBandBits)
          .bitwiseAND(lit((1L << SimBandBits) - 1)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    withBands.select(col("band"), col("key"), col("doc_id").as("x"), col("simhash").as("hx"))
      .join(withBands.select(col("band"), col("key"), col("doc_id").as("y"), col("simhash").as("hy")),
        Seq("band", "key"))
      .where(col("x") < col("y"))
      .select(col("x"), col("y"),
        bit_count(col("hx").bitwiseXOR(col("hy"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= MaxHamming)
  }

  val simhashDedupSql: String = {
    val h = md5LongSql("'s'", "tok")
    s"""WITH th AS (
  SELECT doc_id, tok, $h AS h, count(*) AS w
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents)
  GROUP BY doc_id, tok),
bits AS (
  SELECT doc_id, b, CASE WHEN sum(w * (2 * ((h >> b) & 1) - 1)) > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bv
  FROM th, unnest(generate_series(0, ${SimBits - 1})) AS t(b) GROUP BY doc_id, b),
sims AS (SELECT doc_id, sum(bv * (1::BIGINT << b))::BIGINT AS simhash FROM bits GROUP BY doc_id)
SELECT a.doc_id AS x, b.doc_id AS y, bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming"""
  }

  // ---- L37: exact duplicated-substring spans ----
  // The "dedup the repeated passage, not the document" operator
  // (boilerplate headers, licence blocks, quoted chain-mails): find
  // every word-8-gram occurring more than once ANYWHERE in the corpus
  // (a second doc or the same one), then merge each doc's hit
  // positions into maximal duplicated spans. Differs from L25 chunk
  // dedup: grams OVERLAP, so a repeated passage is found at any
  // alignment, not just on fixed chunk boundaries.
  //
  // Scale: per-doc gram explode is map-side; the hash groupBy is one
  // shuffle of (8-byte hash) keys with map-side partial counts; the
  // hit join-back shuffles only the duplicated subset; the span-merge
  // window partitions by doc_id (bounded by doc length — never a
  // corpus-wide sort). Spans of equal-length intervals chain-merge
  // with a single lag(): running max end == prev pos + k - 1.
  private val SpanGram = 8

  def dupSpans(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = SpanGram
    val toks = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n_tokens"))
    // graft_gram_hashes: tight-loop gram hashing (short docs -> empty
    // array), replacing the interpreted concat_ws HOF that materialised
    // ~k x the corpus text map-side (the r8 bench regression)
    val grams = toks
      .select(col("doc_id"), col("n_tokens"),
        posexplode(VectorFunctions.gramHashes(col("t"), k, "sp")).as(Seq("p0", "gh")))
      .select(col("doc_id"), col("n_tokens"),
        (col("p0") + 1).cast("long").as("pos"), col("gh"))
    val dups = grams.groupBy(col("gh")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select(col("gh"))
    val hits = grams.join(dups, "gh")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      // gap > k starts a new span: [p, p+k-1] and [q, q+k-1] merge iff
      // q <= p + k (overlap or token-contiguous); null lag (first hit)
      // falls through to otherwise(1)
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("span_id", sum(col("new_span"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        min(col("pos")).as("s"), (max(col("pos")) + k - 1).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"),
        max(col("n_tokens")).as("n_tokens"))
  }

  // ---- L90 (r7): intra-document duplicate-span REMOVAL ----
  // The rewrite half of span-level dedup (L37 finds cross-corpus
  // spans; L17 measures repetition; this CUTS it): within each doc,
  // any k-gram recurring later in the SAME doc marks its later
  // occurrences, maximal runs merge into spans (the L37 gap rule),
  // and the doc is reassembled without the spanned tokens — the
  // CCNet-style repeated-block scrub at token granularity, first
  // occurrence always kept so content never vanishes. Doc-local by
  // definition, so every stage keys on doc_id: the corpus shuffles
  // only on its own ids (the C4 contract, the doc is the parallelism
  // unit) and no cross-doc state exists. Accounting is part of the
  // output: kept md5 + token counts, and the spec proves the
  // token-exact complement (kept + removed tiles the original) and
  // IDEMPOTENCE (rewriting the rewritten corpus removes nothing).
  private[graft] def rewrittenDocs(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = SpanGram
    val toks = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n_tokens"))
    // shares the L37 tight-loop gram-hash stage (see dupSpans)
    val grams = toks
      .select(col("doc_id"),
        posexplode(VectorFunctions.gramHashes(col("t"), k, "sp")).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("gh"))
    val firsts = grams.groupBy(col("doc_id"), col("gh"))
      .agg(min(col("pos")).as("fp"), count(lit(1)).as("c"))
    val hits = grams.join(firsts, Seq("doc_id", "gh"))
      .where(col("c") > 1 && col("pos") > col("fp"))
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val rem = hits
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("span_id", sum(col("new_span"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k - 1).as("e"))
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("pos"))
      .distinct()
    toks
      .select(col("doc_id"), col("n_tokens"), posexplode(col("t")).as(Seq("q0", "tok")))
      .select(col("doc_id"), col("n_tokens"), (col("q0") + 1).cast("long").as("pos"), col("tok"))
      .join(rem.withColumn("r", lit(1L)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        sum(when(col("r").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("r").isNull,
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok"))).as("kept_text"))
  }

  def dedupRewrite(documents: DataFrame): DataFrame =
    rewrittenDocs(documents)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("kept_text")).as("kept_md5"))

  val dedupRewriteSql: String = {
    val k = SpanGram
    val gram = (0 until k).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    val h = md5LongSql("'sp'", gram)
    s"""WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
grams AS (
  SELECT doc_id, i::BIGINT AS pos, $h AS gh
  FROM toks, LATERAL unnest(generate_series(1, len(t) - ${k - 1})) AS u(i)),
firsts AS (SELECT doc_id, gh, min(pos) AS fp, count(*) AS c
  FROM grams GROUP BY doc_id, gh),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN firsts f USING (doc_id, gh)
  WHERE f.c > 1 AND g.pos > f.fp),
flagged AS (SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER w <= $k THEN 0 ELSE 1 END AS new_span
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
numbered AS (SELECT *, sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id FROM flagged),
spans AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + ${k - 1} AS e
  FROM numbered GROUP BY doc_id, span_id),
rem AS (SELECT DISTINCT doc_id, p AS pos
  FROM spans, LATERAL unnest(generate_series(s, e)) AS u(p)),
tk AS (SELECT doc_id, len(t)::BIGINT AS n_tokens, i::BIGINT AS pos, t[i] AS tok
  FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i))
SELECT tk.doc_id, max(tk.n_tokens) AS n_tokens,
  sum(CASE WHEN rem.pos IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
  md5(string_agg(CASE WHEN rem.pos IS NULL THEN tk.tok END, ' ' ORDER BY tk.pos)) AS kept_md5
FROM tk LEFT JOIN rem ON rem.doc_id = tk.doc_id AND rem.pos = tk.pos
GROUP BY tk.doc_id"""
  }

  val dupSpansSql: String = {
    val k = SpanGram
    val gram = (0 until k).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    val h = md5LongSql("'sp'", gram)
    s"""WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
grams AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens, i::BIGINT AS pos, $h AS gh
  FROM toks, LATERAL unnest(generate_series(1, len(t) - ${k - 1})) AS u(i)),
c AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1),
hits AS (SELECT g.* FROM grams g JOIN c USING (gh)),
flagged AS (
  SELECT doc_id, n_tokens, pos,
    CASE WHEN pos - lag(pos) OVER w <= $k THEN 0 ELSE 1 END AS new_span
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
numbered AS (
  SELECT *, sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id FROM flagged),
spans AS (
  SELECT doc_id, span_id, max(n_tokens) AS n_tokens, min(pos) AS s, max(pos) + ${k - 1} AS e
  FROM numbered GROUP BY doc_id, span_id)
SELECT doc_id, count(*) AS n_dup_spans, sum(e - s + 1)::BIGINT AS dup_tokens,
  max(n_tokens)::BIGINT AS n_tokens
FROM spans GROUP BY doc_id"""
  }

  // ---- L67 (r6): KMV sketch set operations — the source-overlap
  // matrix ----
  // Distinct-INTERSECTION estimation across sources (Beyer et al.,
  // "On synopses for distinct-value estimation"): the sketch op HLL
  // cannot do — HLL unions losslessly but cannot intersect. Per source,
  // the KMV synopsis = the k=256 smallest md5 hashes of its distinct
  // word trigrams; for a pair, U = the k smallest of the merged
  // sketches, D_union = (k-1)·2^60/h_k, Jaccard = |U ∩ S_a ∩ S_b|/k,
  // D_inter = Jaccard · D_union. Everything downstream of the sketch
  // build runs on SKETCH-SIZED data (k rows/source — broadcastable at
  // any corpus size): the 100 TB shape is one distinct-gram shuffle to
  // build synopses, then pairwise math on ~nothing. The estimate is
  // DETERMINISTIC given the hash (no RNG), so the DuckDB oracle
  // replays it bit-for-bit; `true_inter` (the exact audit twin, an
  // L41-style verification column) rides along to let the spec bound
  // the relative error honestly. Sketch build here is a per-source
  // window (clear + engine-portable); the bounded k-heap aggregator
  // (TopK pattern) is the drop-in at 100 TB — result-identical by the
  // (h asc) total order.
  private val KmvK = 256

  def kmvOverlap(documents: DataFrame): DataFrame = {
    // materialized once: the shingle-explode + double distinct corpus
    // pass has THREE consumers below (the per-source sketch and both
    // sides of the exact-truth join); without it the subtree
    // re-evaluates per consumer (the shingleHashedDf precedent)
    val g = documents.select(col("source"),
        explode(VectorFunctions.shingles(tokens(col("text")), 3)).as("s"))
      .distinct()
      .select(col("source"), md5Long(lit("kmv"), col("s")).as("h"))
      .distinct()
      .localCheckpoint(eager = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    val sk = g.withColumn("rn", row_number().over(w)).where(col("rn") <= KmvK)
      .select(col("source"), col("h"))
    val pairs = sk.select(col("source").as("source_a")).distinct()
      .join(sk.select(col("source").as("source_b")).distinct(),
        col("source_a") < col("source_b"))
    // merged sketch rows per pair, with membership flags (a shared hash
    // collapses to one row carrying both flags)
    val m = pairs.join(sk.withColumnRenamed("source", "source_a"), Seq("source_a"))
      .select(col("source_a"), col("source_b"), col("h"), lit(1L).as("ia"), lit(0L).as("ib"))
      .unionAll(pairs.join(sk.withColumnRenamed("source", "source_b"), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("h"), lit(0L).as("ia"), lit(1L).as("ib")))
      .groupBy(col("source_a"), col("source_b"), col("h"))
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source_a"), col("source_b")).orderBy(col("h"))
    val est = m.withColumn("rn", row_number().over(wp)).where(col("rn") <= KmvK)
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("ia") * col("ib")).as("n_shared"), max(col("h")).as("hk"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(lit((KmvK - 1).toDouble * math.pow(2, 60)) / col("hk"), 6).as("est_union"),
        round(col("n_shared") * (lit((KmvK - 1).toDouble * math.pow(2, 60)) / col("hk"))
          / KmvK.toDouble, 6).as("est_inter"))
    val truth = g.select(col("source").as("source_a"), col("h"))
      .join(g.select(col("source").as("source_b"), col("h")), Seq("h"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("true_inter"))
    est.join(truth, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("est_union"), col("est_inter"),
        coalesce(col("true_inter"), lit(0L)).as("true_inter"))
  }

  val kmvOverlapSql: String = {
    val toks = "string_split_regex(lower(text), '\\s+')"
    val two60 = "1152921504606846976.0"
    s"""WITH g AS (
  SELECT DISTINCT source, ${md5LongSql("'kmv'", "s")} AS h FROM (
    SELECT DISTINCT source, unnest(${wordShinglesSql(toks, 3)}) AS s FROM documents)),
sk AS (SELECT source, h FROM g
       QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= $KmvK),
p AS (SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM sk) a, (SELECT DISTINCT source FROM sk) b
      WHERE a.source < b.source),
m AS (SELECT source_a, source_b, h, max(ia)::BIGINT AS ia, max(ib)::BIGINT AS ib FROM (
    SELECT p.source_a, p.source_b, s.h, 1 AS ia, 0 AS ib
    FROM p JOIN sk s ON s.source = p.source_a
    UNION ALL
    SELECT p.source_a, p.source_b, s.h, 0 AS ia, 1 AS ib
    FROM p JOIN sk s ON s.source = p.source_b)
  GROUP BY 1, 2, 3),
e AS (SELECT source_a, source_b, sum(ia * ib)::BIGINT AS n_shared, max(h) AS hk
      FROM (SELECT * FROM m
            QUALIFY row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) <= $KmvK)
      GROUP BY 1, 2),
t AS (SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS true_inter
      FROM g a JOIN g b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
SELECT source_a, source_b, n_shared,
  round(($KmvK - 1) * $two60 / hk, 6) AS est_union,
  round(n_shared * (($KmvK - 1) * $two60 / hk) / $KmvK.0, 6) AS est_inter,
  coalesce(true_inter, 0)::BIGINT AS true_inter
FROM e LEFT JOIN t USING (source_a, source_b)"""
  }

  // ---- L98 (r7): golden-record survivorship ----
  // The OTHER half of entity resolution: L53 emits matched PAIRS, but
  // a master-data pipeline must ship ONE consolidated record per
  // entity. Transitive closure over the linkage pairs (the L19
  // pointer-doubling machinery, reused verbatim — matches chain A~B~C
  // even when A~C never scored) groups the duplicates; survivorship
  // rules then fuse each cluster's attributes field-wise, every rule a
  // deterministic aggregate with a total-order tie-break:
  //   golden_id = min member id;       name = longest (ties: greatest)
  //   segment  = mode (ties: greatest); balance = exact-decimal total
  // Plan: linkage pairs (blocked, capped) -> O(log D) CC waves on the
  // pair graph only -> ONE (cluster) aggregate for the scalar rules +
  // one (cluster, segment) count + argmax for the mode — every shuffle
  // keys on cluster or (cluster, attr), nothing corpus-wide sorts.
  // The oracle recomputes closure as a recursive CTE and each rule as
  // its window formulation — fusion semantics proven end-to-end.
  def goldenRecord(customer: DataFrame): DataFrame = {
    val pairs = recordLinkage(customer).select(col("x"), col("y"))
    val cc = connectedComponents(pairs, customer.select(col("c_custkey").as("doc_id")))
    val recs = customer
      .select(col("c_custkey").as("doc_id"), col("c_name"), col("c_mktsegment"),
        dec(col("c_acctbal")).as("bal"))
      .join(cc.select(col("doc_id"), col("cluster_id")), "doc_id")
    val scalars = recs.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("golden_id"),
        max(struct(length(col("c_name")).as("l"), col("c_name").as("nm")))
          .getField("nm").as("name"),
        sum(col("bal")).cast("double").as("bal_total"))
    val mode = recs.groupBy(col("cluster_id"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("cnt"), col("c_mktsegment").as("seg")))
        .getField("seg").as("segment"))
    scalars.join(mode, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"), col("golden_id"),
        col("name"), col("segment"), col("bal_total"))
  }

  val goldenRecordSql: String =
    s"""WITH RECURSIVE pairs AS ($recordLinkageSql),
edges AS (SELECT x AS a, y AS b FROM pairs UNION ALL SELECT y AS a, x AS b FROM pairs),
reach AS (SELECT a AS id, b AS r FROM edges
  UNION SELECT e.a AS id, r.r FROM edges e JOIN reach r ON r.id = e.b),
labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
recs AS (
  SELECT c.c_custkey AS doc_id, c.c_name, c.c_mktsegment,
         CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal,
         coalesce(l.label, c.c_custkey) AS cluster_id
  FROM customer c LEFT JOIN labels l ON l.id = c.c_custkey),
scalars AS (
  SELECT cluster_id, count(*) AS n_members, min(doc_id) AS golden_id,
         sum(bal)::DOUBLE AS bal_total
  FROM recs GROUP BY cluster_id),
named AS (
  SELECT cluster_id, c_name AS name FROM (
    SELECT cluster_id, c_name, row_number() OVER (
      PARTITION BY cluster_id ORDER BY length(c_name) DESC, c_name DESC) AS rn
    FROM recs) WHERE rn = 1),
mode AS (
  SELECT cluster_id, seg AS segment FROM (
    SELECT cluster_id, c_mktsegment AS seg, row_number() OVER (
      PARTITION BY cluster_id ORDER BY count(*) DESC, c_mktsegment DESC) AS rn
    FROM recs GROUP BY cluster_id, c_mktsegment) WHERE rn = 1)
SELECT s.cluster_id, s.n_members, s.golden_id, n.name, m.segment, s.bal_total
FROM scalars s JOIN named n USING (cluster_id) JOIN mode m USING (cluster_id)"""

  // ---- C60 (r7): label propagation community detection ----
  // The fifth graph primitive: L19's CC answers "which docs are
  // transitively connected"; communities answer the finer question a
  // crawl-quality pipeline actually asks — which docs form a COHESIVE
  // group (a template family, a mirror farm) inside one big connected
  // blob. Synchronous LPA with a fully deterministic update: each
  // round, v adopts the label held by the PLURALITY of its neighbors
  // (count desc, then smallest label). Fixed R-round unroll (the
  // C39/C49 budget pattern); isolated docs keep their own id via the
  // final left join. Each round is one [[LpaKernel]] round: a partition
  // counts (dst, label of src) over its edges, and the partial counts
  // move to dst's partition, where they sum to the plurality — at most
  // one message per (dst, label) per partition, so a 100 TB edge list
  // runs R bounded waves. The oracle unrolls the identical recurrence
  // as MATERIALIZED CTE stages (row_number, same tie-break); the spec
  // plants two cliques joined by one bridge edge and proves they
  // resolve to separate communities, plus repartition invariance.
  private val LpaRounds = 4

  /** Synchronous deterministic LPA over an (x, y) pair list: (v, label)
    * for every vertex of a pair. */
  def labelPropagationEdges(pairs: DataFrame, rounds: Int = LpaRounds,
      localEdgeBudget: Long = DriverReplay.GraphEdgeBudget): DataFrame = {
    import LpaKernel._
    require(rounds > 0, s"LPA needs a round, got $rounds")
    val edges = DriverReplay.place(pairs.unionAll(pairs.select(col("y"), col("x"))),
      localEdgeBudget)(r => Iterator.single((r.getLong(0), r.getLong(1))))
    // early exit: the update is deterministic in the labels, so after an
    // unchanged round every later one (oracle's included) is the identity
    val (labels, _) = waves(edges.mapPartitions(own), rounds)(Placed.round(edges, _)(tally, adopt)(0L)(
      (n, s) => if (s._2._2) n + 1 else n, _ + _))
    edges.release()
    val schema = StructType(Seq("v", "label").map(StructField(_, LongType, false)))
    labels.toDF(pairs.sparkSession, schema) { case (v, (l, _)) => Row(v, l) }
  }

  /** A [[labelPropagationEdges]] round over one partition: edges
    * (src, dst), state (v, (label, changed)). */
  private object LpaKernel {
    type State = (Long, (Long, Boolean))
    def own(edges: Iterator[(Long, Long)]): Iterator[State] =
      edges.map(_._1).distinct.map(v => (v, (v, true)))

    /** the partition's count per (dst, label of src) */
    def tally(edges: Iterator[(Long, Long)], labels: Iterator[State]): Iterator[(Long, (Long, Long))] = {
      val label = new java.util.HashMap[Long, Long]()
      labels.foreach { case (v, (l, _)) => label.put(v, l) }
      sums(edges.map { case (src, dst) => ((dst, label.get(src)), 1L) })
        .asScala.iterator.map { case ((dst, l), n) => (dst, (l, n)) }
    }

    /** each vertex adopts the label most of its neighbors hold, the
      * smallest among equal counts */
    def adopt(labels: Iterator[State], tallies: Iterator[(Long, (Long, Long))]): Iterator[State] = {
      val best = new java.util.HashMap[Long, (Long, Long)]()
      sums(tallies.map { case (dst, (l, n)) => ((dst, l), n) }).forEach { case ((dst, l), n) =>
        val cur = best.get(dst)
        if (cur == null || n > cur._1 || (n == cur._1 && l < cur._2)) best.put(dst, (n, l))
      }
      labels.map { case (v, (l, _)) =>
        val nl = best.get(v)._2
        (v, (nl, nl != l))
      }
    }
  }

  /** (doc_id, community, n_members) over the simhash near-dup graph;
    * docs absent from the graph are their own singleton community. */
  def labelPropagation(documents: DataFrame): DataFrame = {
    val labels = labelPropagationEdges(
      simhashDedup(documents).select(col("x"), col("y")))
    val all = documents.select(col("doc_id"))
      .join(labels.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("community"))
    val sizes = all.groupBy(col("community")).agg(count(lit(1)).as("n_members"))
    all.join(sizes, "community")
      .select(col("doc_id"), col("community"), col("n_members"))
  }

  // ---- C81 (r8): modularity audit — scoring the community partition ----
  // C60 produces a partition; modularity is the standard number that
  // says whether it MEANS anything: Q = Σ_c [e_c/m − (d_c/2m)²] —
  // intra-community edge share minus what random wiring with the same
  // degrees would give. Q ≈ 0 ⇒ the "communities" are noise; the audit
  // belongs beside the operator it scores (the C75-audits-C32
  // pattern). EXACT arithmetic: per community the integer numerator
  // 4m·e_c − d_c² (DECIMAL(38,0)-safe at any scale) is the released
  // surface — Σ q_num / 4m² replays Q with zero float accumulation,
  // and no float ever reaches the hash (see the r10 note in
  // modularityEdges). Plan: the edge list joins the label frame
  // on EACH ENDPOINT (two keyed joins), degrees are one symmetrized
  // count, everything aggregates per community; m is the declared
  // single-row broadcast.
  def modularityAudit(documents: DataFrame): DataFrame = {
    // the edge list feeds BOTH the partition (LPA) and the scorer —
    // checkpoint it once instead of running the simhash band join twice
    val pairs = simhashDedup(documents).select(col("x"), col("y")).localCheckpoint()
    val lbl = labelPropagationEdges(pairs).withColumnRenamed("v", "doc_id")
    val labels = documents.select(col("doc_id"))
      .join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("community"))
    modularityEdges(pairs, labels)
  }

  /** Core scorer over an explicit (x, y) edge list and a (doc_id,
    * community) partition — exposed so specs can plant graphs. */
  def modularityEdges(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val m = pairs.agg(count(lit(1)).as("m"))
    val lx = labels.select(col("doc_id").as("x"), col("community").as("cx"))
    val ly = labels.select(col("doc_id").as("y"), col("community").as("cy"))
    val tagged = pairs.join(lx, "x").join(ly, "y")
    val intra = tagged.where(col("cx") === col("cy"))
      .groupBy(col("cx").as("community")).agg(count(lit(1)).as("e_intra"))
    val deg = pairs.select(col("x").as("v")).unionAll(pairs.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val dsum = labels.join(deg, labels("doc_id") === deg("v"), "left")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("d"), lit(0L))).as("d_sum"))
    // r10: the hashed surface is ALL-INTEGER. The float per-community
    // term q_term = q_num/(4m²) was value- and bit-identical to a local
    // DuckDB oracle yet hash-red on the driver two rounds running (its
    // DuckDB build rounds the tie differently) — so the float is
    // dropped from the hashed projection entirely; it is fully
    // recoverable from (q_num, m) and is pinned in
    // OperatorSpec "modularityAudit" instead.
    dsum.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("e_intra"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_members"), col("e_intra"),
        col("d_sum"), col("m"),
        // Released as BIGINT (r11): 4m·e_c ≤ 4m² and d_c² ≤ (2m)² with
        // m ≈ 1e4 dup pairs at check scale — far under 2⁶³; the
        // decimal products stay internal. This retires the r8–r10
        // hash-red: the trigger was the DECIMAL(38,0) release repr
        // itself, not the (already removed) float term.
        (lit(4).cast("decimal(38,0)") * col("m") * col("e_intra") -
          col("d_sum").cast("decimal(38,0)") * col("d_sum"))
          .cast("long").as("q_num"))
  }

  lazy val modularityAuditSql: String =
    s"""WITH lpa AS MATERIALIZED ($labelPropagationSql),
p2 AS MATERIALIZED ($simhashDedupSql),
pe AS (SELECT x, y FROM p2),
m AS (SELECT count(*)::BIGINT AS m FROM pe),
tagged AS (
  SELECT lx.community AS cx, ly.community AS cy
  FROM pe JOIN lpa lx ON lx.doc_id = pe.x JOIN lpa ly ON ly.doc_id = pe.y),
intra AS (SELECT cx AS community, count(*)::BIGINT AS e_intra
  FROM tagged WHERE cx = cy GROUP BY cx),
deg AS (SELECT v, count(*)::BIGINT AS d FROM (
  SELECT x AS v FROM pe UNION ALL SELECT y FROM pe) GROUP BY v),
ds AS (
  SELECT l.community, count(*)::BIGINT AS n_members,
         sum(coalesce(deg.d, 0))::BIGINT AS d_sum
  FROM (SELECT DISTINCT doc_id, community FROM lpa) l
  LEFT JOIN deg ON deg.v = l.doc_id
  GROUP BY l.community)
SELECT ds.community, ds.n_members, coalesce(i.e_intra, 0)::BIGINT AS e_intra,
  ds.d_sum, m.m,
  (4::HUGEINT * m.m * coalesce(i.e_intra, 0)
    - ds.d_sum::HUGEINT * ds.d_sum)::BIGINT AS q_num
FROM ds LEFT JOIN intra i USING (community) CROSS JOIN m"""

  lazy val labelPropagationSql: String = {
    val waves = (1 to LpaRounds).map { r =>
      s"""l$r AS MATERIALIZED (
  SELECT dst AS v, label FROM (
    SELECT e.dst, l.label, row_number() OVER (
      PARTITION BY e.dst ORDER BY count(*) DESC, l.label) AS rn
    FROM e JOIN l${r - 1} l ON l.v = e.src
    GROUP BY e.dst, l.label) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED ($simhashDedupSql),
e AS MATERIALIZED (SELECT x AS src, y AS dst FROM pairs UNION ALL SELECT y, x FROM pairs),
l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS label FROM e),
$waves,
alld AS (
  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS community
  FROM documents d LEFT JOIN l$LpaRounds l ON l.v = d.doc_id),
sizes AS (SELECT community, count(*) AS n_members FROM alld GROUP BY community)
SELECT a.doc_id, a.community, s.n_members
FROM alld a JOIN sizes s USING (community)"""
  }

  // ---- L130 (r10): dedup survivor selection — keep-longest policy ----
  // L19 labels clusters and keeps the min-id doc; a real curation run
  // keeps the BEST copy — here the canonical keep-longest policy
  // (n_chars, lowest id tiebreak), the standard choice when near-dups
  // are truncations/excerpts of one another. The readout is per-source
  // impact: docs kept/dropped, exact retained ppm, and CROSS-SOURCE
  // absorption (docs whose surviving copy lives in another source —
  // the mirror-site signal L125 locates spatially). Composition: L19's
  // cluster labels + one (cluster) struct-argmax + one source rollup;
  // frames shrink monotonically, nothing corpus-wide sorts. The
  // survivor struct carries its source as payload (the (n_chars,
  // -doc_id) prefix is already unique, so the extra field never
  // participates in ordering).
  def survivorSelection(documents: DataFrame): DataFrame = {
    val scored = dedupClusters(documents)
      .select(col("doc_id"), col("cluster_id"))
      .join(documents.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("doc_id"))
    val surv = scored.groupBy(col("cluster_id"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg"),
        col("source").as("src"))).as("s"))
      .select(col("cluster_id"), (-col("s.neg")).as("surv_doc"),
        col("s.src").as("surv_src"))
    scored.join(surv, "cluster_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("surv_doc"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("doc_id") =!= col("surv_doc"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("doc_id") =!= col("surv_doc") &&
          col("surv_src") =!= col("source"), 1L).otherwise(0L)).as("n_absorbed_cross"))
      .withColumn("retained_ppm", expr("(n_kept * 1000000) div n_docs"))
  }

  lazy val survivorSelectionSql: String =
    s"""WITH RECURSIVE cl AS ($dedupClustersSql),
scored AS (
  SELECT c.doc_id, c.cluster_id, d.source, d.n_chars
  FROM cl c JOIN documents d USING (doc_id)),
surv AS (
  SELECT cluster_id,
    max(struct_pack(n_chars := n_chars, neg := -doc_id, src := source)) AS s
  FROM scored GROUP BY 1)
SELECT source, count(*)::BIGINT AS n_docs,
  sum((doc_id = -((s).neg))::INT)::BIGINT AS n_kept,
  sum((doc_id <> -((s).neg))::INT)::BIGINT AS n_dropped,
  sum((doc_id <> -((s).neg) AND source <> (s).src)::INT)::BIGINT AS n_absorbed_cross,
  ((sum((doc_id = -((s).neg))::INT) * 1000000) // count(*))::BIGINT AS retained_ppm
FROM scored JOIN surv USING (cluster_id)
GROUP BY source"""

  // ---- L134 (r10): b-bit minhash calibration — signature compression ----
  // Li & Konig's b-bit minwise hashing: store only each component's
  // LOWEST 2 BITS (30x smaller signatures than 60-bit values) and
  // correct the estimate for chance collisions — Jhat = (E - C)/(1 - C)
  // with C = 1/4. This is the readout that justifies (or kills) the
  // compression before a 100 TB signature store is built: per exact-
  // Jaccard decile over the SAME banded candidate population as L129,
  // the raw 2-bit agreement and the collision-corrected estimate
  // beside exact truth. All-integer hashed surface: both ppms are
  // cross-multiplied integer divisions of exact component sums (the
  // corrected numerator 4·Σeq2 − n·H may go negative below chance —
  // Spark div and DuckDB // both truncate toward zero, the documented
  // pairing); exact means via the L129 DECIMAL(18,9) quantization.
  // Scale = L3's banding; the pair join compares 24 two-bit residues.
  def bbitMinhashCalibration(documents: DataFrame): DataFrame =
    calibrationBuckets(documents)((x, y) => pmod(x, lit(4L)) === pmod(y, lit(4L)))
      .select(col("bucket"), col("n_pairs"), col("sum_eq").as("sum_eq2"),
        expr(s"(sum_eq * 1000000L) div (n_pairs * $NumHashes)").as("raw2_ppm"),
        expr(s"((4 * sum_eq - n_pairs * $NumHashes) * 1000000L) div (3 * n_pairs * $NumHashes)")
          .as("est2_ppm"),
        col("exact_mean"))

  lazy val bbitMinhashCalibrationSql: String = {
    val eq2Sql = (0 until NumHashes)
      .map(j => s"(((a.h$j % 4) + 4) % 4 = ((b.h$j % 4) + 4) % 4)::INT")
      .mkString(" + ")
    s"""WITH $minhashBandCtes,
cands AS (
  SELECT DISTINCT ba.doc_id AS x, bb.doc_id AS y
  FROM bands ba JOIN bands bb
    ON ba.band = bb.band AND ba.key = bb.key AND ba.doc_id < bb.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
common AS (
  SELECT c.x, c.y, count(*)::BIGINT AS common
  FROM cands c JOIN shh sa ON sa.doc_id = c.x
               JOIN shh sb ON sb.doc_id = c.y AND sb.s = sa.s
  GROUP BY c.x, c.y),
scored AS (
  SELECT cm.x, cm.y, cm.common,
    (sx.n + sy.n - cm.common)::BIGINT AS union_n,
    ($eq2Sql)::BIGINT AS eq2
  FROM common cm
  JOIN sizes sx ON sx.doc_id = cm.x JOIN sizes sy ON sy.doc_id = cm.y
  JOIN sigs a ON a.doc_id = cm.x JOIN sigs b ON b.doc_id = cm.y)
SELECT least((10 * common) // union_n, 9)::BIGINT AS bucket,
  count(*)::BIGINT AS n_pairs, sum(eq2)::BIGINT AS sum_eq2,
  ((sum(eq2) * 1000000) // (count(*) * $NumHashes))::BIGINT AS raw2_ppm,
  (((4 * sum(eq2) - count(*) * $NumHashes) * 1000000) // (3 * count(*) * $NumHashes))::BIGINT AS est2_ppm,
  round(sum((common::DOUBLE / union_n::DOUBLE)::DECIMAL(18,9))::DOUBLE
    / count(*)::DOUBLE, 6) AS exact_mean
FROM scored GROUP BY 1"""
  }

  // ---- L143 (r10): dedup token-savings estimate ----
  // The number the dedup run is budgeted by: how many TOKENS does
  // dropping non-survivors save, per source — the L130 keep-longest
  // policy priced in the unit training actually pays (whitespace
  // tokens here; the L33 BPE metering swaps in unchanged). Pure
  // composition: L130's survivor frame joins per-doc token counts on
  // narrow ids; per source exact kept/dropped token sums and savings
  // ppm. Nothing corpus-sized re-shuffles beyond the one token count.
  def dedupTokenSavings(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), col("source"),
      size(graft.functions.Portable.tokens(col("text"))).cast("long").as("n_toks"))
    val surv = dedupClusters(documents)
      .select(col("doc_id"), col("cluster_id"))
      .join(documents.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("s"))
      .select((-col("s.neg")).as("doc_id"), lit(1L).as("kept"))
    toks.join(surv, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(when(col("kept").isNotNull, col("n_toks")).otherwise(0L))
          .as("kept_tokens"),
        sum(when(col("kept").isNull, col("n_toks")).otherwise(0L))
          .as("dropped_tokens"))
      .withColumn("savings_ppm",
        expr("(dropped_tokens * 1000000) div total_tokens"))
  }

  lazy val dedupTokenSavingsSql: String =
    s"""WITH RECURSIVE cl AS ($dedupClustersSql),
scored AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars
  FROM cl c JOIN documents d USING (doc_id)),
surv AS (
  SELECT -((max(struct_pack(n_chars := n_chars, neg := -doc_id))).neg) AS doc_id
  FROM scored GROUP BY cluster_id),
toks AS (
  SELECT doc_id, source,
    len(string_split_regex(lower(text), '\\s+'))::BIGINT AS n_toks
  FROM documents)
SELECT t.source, count(*)::BIGINT AS n_docs,
  sum(t.n_toks)::BIGINT AS total_tokens,
  sum(CASE WHEN s.doc_id IS NOT NULL THEN t.n_toks ELSE 0 END)::BIGINT AS kept_tokens,
  sum(CASE WHEN s.doc_id IS NULL THEN t.n_toks ELSE 0 END)::BIGINT AS dropped_tokens,
  ((sum(CASE WHEN s.doc_id IS NULL THEN t.n_toks ELSE 0 END) * 1000000)
    // sum(t.n_toks))::BIGINT AS savings_ppm
FROM toks t LEFT JOIN surv s USING (doc_id)
GROUP BY t.source"""

  // ---- L145 (r10): cross-shard duplicate leakage ----
  // The measurement that justifies (or waives) the GLOBAL dedup pass:
  // after L34's shard scatter, what share of near-dup pairs CROSSES a
  // shard boundary? Within-shard pairs can be removed by per-shard
  // local dedup at 100 TB; cross-shard pairs are exactly the work only
  // the global banded pass catches. L3's candidate pair frame (already
  // reduced) joins the md5 shard keys twice on narrow ids; cells per
  // (within/cross) with exact ppm — plus the per-shard-pair heat
  // surface capped to the 8×8 shard alphabet.
  def crossShardDupLeakage(documents: DataFrame): DataFrame = {
    val pairs = minhashLsh(documents).select(col("x"), col("y"))
    def sh(cl: Column) = pmod(md5Long(lit("shard"), cl), lit(8L))
    pairs
      .select(sh(col("x")).as("sx"), sh(col("y")).as("sy"))
      .select(least(col("sx"), col("sy")).as("sa"),
        greatest(col("sx"), col("sy")).as("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_shard", (col("sa") =!= col("sb")).cast("long"))
  }

  lazy val crossShardDupLeakageSql: String =
    s"""WITH mh AS ($minhashLshSql),
sh AS (
  SELECT ${md5LongSql("'shard'", "x")} % 8 AS sx,
    ${md5LongSql("'shard'", "y")} % 8 AS sy
  FROM mh),
canon AS (SELECT least(sx, sy) AS sa, greatest(sx, sy) AS sb FROM sh)
SELECT sa::BIGINT AS sa, sb::BIGINT AS sb, count(*)::BIGINT AS n_pairs,
  (sa <> sb)::BIGINT AS cross_shard
FROM canon GROUP BY sa, sb"""

  // ---- L162 (r10): degree assortativity — hub-mixing audit ----
  // The structural question behind the L154/C38 graph family: do
  // high-degree docs link to other hubs (assortative — template
  // farms interlinking) or to leaves (disassortative — one canonical
  // page with many near-copies)? Newman's degree assortativity =
  // the Pearson correlation of endpoint degrees over the directed
  // edge view. EXACT: all five moments (Σx, Σy, Σxy, Σx², Σy²) are
  // integer sums over the edge list; r is the ONE
  // division-over-sqrts of exact DECIMAL(38,0) casts (C138 shape),
  // NULL when a degree side is constant (nullif, never NaN). Plan:
  // degrees from one aggregate on the checkpointed edge frame, two
  // broadcast degree joins, one global moment aggregate.
  def assortativity(documents: DataFrame): DataFrame = {
    val e = simhashDedup(documents).select(col("x"), col("y")).localCheckpoint()
    assortativityFrom(e)
  }

  /** L162 over an explicit canonical (x < y) edge frame — the
    * trianglesFrom/linkPredictionFrom precedent. */
  private[graft] def assortativityFrom(e: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val und = e.unionAll(e.select(col("y").as("x"), col("x").as("y")))
    val deg = und.groupBy(col("x").as("v")).agg(count(lit(1)).as("d"))
    val m = und
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
      .agg(count(lit(1)).as("m"), sum(col("dx")).as("sx"),
        sum(col("dy")).as("sy"),
        sum(col("dx").cast(d38) * col("dy")).as("sxy"),
        sum(col("dx").cast(d38) * col("dx")).as("sxx"),
        sum(col("dy").cast(d38) * col("dy")).as("syy"))
    // sxy released as BIGINT: Σ dx·dy ≤ m·dmax² with m ≈ 2e4 directed
    // edges and dmax ≪ 1e4 at check scale — int64-safe; the decimal
    // moments stay internal for the correlation arithmetic.
    m.select(col("m").as("n_edges_directed"), col("sx"),
      col("sxy").cast("long").as("sxy"),
      round((col("m").cast(d38) * col("sxy")
        - col("sx").cast(d38) * col("sy")).cast("double") /
        nullif(sqrt((col("m").cast(d38) * col("sxx")
          - col("sx").cast(d38) * col("sx")).cast("double")) *
          sqrt((col("m").cast(d38) * col("syy")
            - col("sy").cast(d38) * col("sy")).cast("double")), lit(0.0)),
        6).as("assortativity"))
  }

  lazy val assortativitySql: String =
    s"""WITH pairs AS ($simhashDedupSql),
e AS MATERIALIZED (SELECT x, y FROM pairs),
und AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e),
deg AS (SELECT x AS v, count(*)::BIGINT AS d FROM und GROUP BY 1),
mm AS (
  SELECT count(*)::BIGINT AS m, sum(dx.d)::BIGINT AS sx,
    sum(dy.d)::BIGINT AS sy, sum(dx.d::HUGEINT * dy.d)::HUGEINT AS sxy,
    sum(dx.d::HUGEINT * dx.d)::HUGEINT AS sxx,
    sum(dy.d::HUGEINT * dy.d)::HUGEINT AS syy
  FROM und JOIN deg dx ON dx.v = und.x JOIN deg dy ON dy.v = und.y)
SELECT m AS n_edges_directed, sx, sxy::BIGINT AS sxy,
  round((m::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE
    / nullif(sqrt((m::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE)
      * sqrt((m::HUGEINT * syy - sy::HUGEINT * sy)::DOUBLE), 0.0), 6)
    AS assortativity
FROM mm"""

  // ---- L154 (r10): common-neighbor link prediction — missed-pair
  // candidates ----
  // The dedup graph's edges are what banding FIRED on; link
  // prediction surfaces what it probably MISSED: two docs that never
  // matched directly but share ≥ 2 near-dup neighbors are prime
  // candidates for a threshold the L115 sweep set too high (and, in
  // the graph-cleaning reading, the next edges a reviewer should
  // check). Score = neighborhood Jaccard |Γu∩Γw| / |Γu∪Γw| =
  // cn/(du + dw − cn) as exact ppm — every input an exact integer
  // count, the division a bounded (≤ 10⁶) integer quotient. Shape:
  // the two-hop self-join is C38's proven wedge enumeration (each
  // candidate pair counted once per shared neighbor), existing edges
  // removed by anti-join, degrees from the same edge frame; cn ≥ 2 is
  // the declared candidate floor (cn = 1 is every wedge — noise).
  def linkPrediction(documents: DataFrame): DataFrame = {
    val e = simhashDedup(documents).select(col("x"), col("y")).localCheckpoint()
    linkPredictionFrom(e)
  }

  /** L154 over an explicit canonical (x < y) edge frame — split out for
    * spec-level graphs, the trianglesFrom precedent. */
  private[graft] def linkPredictionFrom(e: DataFrame): DataFrame = {
    val und = e.unionAll(e.select(col("y").as("x"), col("x").as("y")))
    val deg = und.groupBy(col("x").as("v")).agg(count(lit(1)).as("d"))
    val cand = und.as("a")
      .join(und.as("b"), col("a.y") === col("b.x") && col("a.x") < col("b.y"))
      .select(col("a.x").as("u"), col("b.y").as("w"))
      .groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
      .where(col("cn") >= 2)
      .join(e.select(col("x").as("u"), col("y").as("w")), Seq("u", "w"),
        "left_anti")
    cand
      .join(deg.select(col("v").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("v").as("w"), col("d").as("dw")), "w")
      .select(col("u"), col("w"), col("cn"), col("du"), col("dw"),
        expr("(cn * 1000000L) div (du + dw - cn)").as("jaccard_ppm"))
  }

  lazy val linkPredictionSql: String =
    s"""WITH pairs AS ($simhashDedupSql),
e AS (SELECT x, y FROM pairs),
und AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
deg AS (SELECT x AS v, count(*)::BIGINT AS d FROM und GROUP BY 1),
cand AS (
  SELECT a.x AS u, b.y AS w, count(*)::BIGINT AS cn
  FROM und a JOIN und b ON a.y = b.x AND a.x < b.y
  GROUP BY 1, 2 HAVING count(*) >= 2),
miss AS (
  SELECT cand.* FROM cand
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.x = cand.u AND e.y = cand.w))
SELECT u, w, cn, du.d AS du, dw.d AS dw,
  ((cn * 1000000) // (du.d + dw.d - cn))::BIGINT AS jaccard_ppm
FROM miss JOIN deg du ON du.v = miss.u JOIN deg dw ON dw.v = miss.w"""
}
