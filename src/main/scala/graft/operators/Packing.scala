package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Sequence packing for LLM training batches (SURVEY §2.3 L27).
  *
  * Next-fit bin packing of whole documents into fixed token-budget
  * bins: docs are sharded, ordered by doc_id within a shard, and the
  * current bin closes whenever the next doc does not fit. No document
  * is split; a doc larger than the budget gets a bin of its own. This
  * is the standard whole-doc packing used when examples must not cross
  * attention boundaries (the alternative, concat-and-chunk, is a
  * cumulative-sum window — strictly easier).
  *
  * Scale shape: next-fit is sequentially dependent WITHIN a shard by
  * definition, so the shard is the parallelism unit — the same
  * repartition + sortWithinPartitions + mapPartitions pattern as
  * [[graft.traffic.SlidingScan]]. Shard count scales with the cluster;
  * state per shard is two longs (current bin, current fill); one
  * exchange of (shard, doc_id, tok) triples total.
  *
  * Two budget meters: [[packSequences]] uses the whitespace proxy
  * (cheap, split-only); [[packSequencesBpe]] (r6) budgets by REAL BPE
  * token counts — L33's `graft_bpe` inference riding the same select,
  * so the count a training batch actually pays is the count the bins
  * are sized by. The packing recurrence is shared; only the `tok`
  * column differs.
  */
object Packing {

  private val DefaultBudget = 256L
  private val DefaultShards = 32

  /** BPE budget — sized from the corpus (median ~250 alpha chars/doc
    * pre-merge → ~5 docs/bin), mirrored in the oracle. */
  private val BpeBudget = 1024L

  /** The shared next-fit core over (shard, doc_id, tok). */
  private def nextFit(toks: DataFrame, budget: Long): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Int, Long, Long)]
      .mapPartitions { it =>
        // several shards can hash into one partition; the sort keeps
        // each contiguous, so a shard change resets the packing state
        var shard = Int.MinValue
        var bin = 0L
        var fill = 0L
        it.map { case (s, id, tok) =>
          if (s != shard) { shard = s; bin = 0L; fill = tok }
          else if (fill + tok <= budget) fill += tok
          else { bin += 1L; fill = tok }
          (s, id, tok, bin, fill)
        }
      }
      .toDF("shard", "doc_id", "tok", "bin", "fill")
  }

  private def sharded(documents: DataFrame, tok: Column, shards: Int): DataFrame =
    documents.select(
      pmod(col("doc_id"), lit(shards)).cast("int").as("shard"),
      col("doc_id"),
      tok.cast("long").as("tok"))

  /** (shard, doc_id, tok, bin, fill): bin = next-fit bin index within
    * the shard, fill = bin occupancy AFTER placing this doc. */
  def packSequences(documents: DataFrame, budget: Long = DefaultBudget,
      shards: Int = DefaultShards): DataFrame =
    nextFit(sharded(documents, size(split(col("text"), " ")), shards), budget)

  /** Token-exact twin (r6): the SAME next-fit recurrence, budgeted by
    * the real BPE token count — Σ over [a-z]+ words of
    * len(graft_bpe(word)). The count rides the scan as one map-only
    * aggregate-of-transform (no explode, no per-word shuffle: the
    * lambda only touches its own element, so evaluation is linear),
    * then the one (shard) exchange is identical to L27. Docs with no
    * [a-z]+ word pack as tok=0. */
  def packSequencesBpe(documents: DataFrame, budget: Long = BpeBudget,
      shards: Int = DefaultShards): DataFrame = {
    val bpeTok = aggregate(
      transform(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)),
        w => size(VectorFunctions.bpe(w))),
      lit(0L), (acc, x) => acc + x)
    nextFit(sharded(documents, bpeTok, shards), budget)
  }

  private def packCtes(toksCte: String, budget: Long): String =
    s"""pack AS (
  SELECT shard, rn, doc_id, tok, 0::BIGINT AS bin, tok AS fill FROM $toksCte WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.tok,
         CASE WHEN p.fill + t.tok <= $budget THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.fill + t.tok <= $budget THEN p.fill + t.tok ELSE t.tok END
  FROM pack p JOIN $toksCte t ON t.shard = p.shard AND t.rn = p.rn + 1)
SELECT shard, doc_id, tok, bin, fill FROM pack"""

  /** Recursive-CTE mirror: one recursion step per doc per shard, same
    * next-fit recurrence. */
  val packSequencesSql: String =
    s"""WITH RECURSIVE toks AS (
  SELECT doc_id, (doc_id % $DefaultShards)::INT AS shard,
         len(string_split(text, ' '))::BIGINT AS tok,
         row_number() OVER (PARTITION BY doc_id % $DefaultShards ORDER BY doc_id) AS rn
  FROM documents),
${packCtes("toks", DefaultBudget)}"""

  /** BPE-twin mirror: per-doc counts from the SAME greedy-merge replay
    * as bpeEncodeSql (TextAnalysis.bpeFinCtes), then the identical
    * packing recursion. LEFT JOIN keeps wordless docs at tok 0. */
  val packSequencesBpeSql: String =
    s"""WITH RECURSIVE
${TextAnalysis.bpeFinCtes},
btoks AS (
  SELECT d.doc_id, (d.doc_id % $DefaultShards)::INT AS shard,
         coalesce(sum(f.n_toks), 0)::BIGINT AS tok,
         row_number() OVER (PARTITION BY d.doc_id % $DefaultShards ORDER BY d.doc_id) AS rn
  FROM documents d LEFT JOIN fin f USING (doc_id)
  GROUP BY d.doc_id),
${packCtes("btoks", BpeBudget)}"""

  // ---- L62 (r6): overlapping context-window chunking ----
  // The concat-free half of batch prep (RAG passage windows, long-doc
  // truncation-free training): each doc splits into windows of W=32
  // tokens at stride S=24 (overlap W-S=8), so no token is ever lost at
  // a window boundary and every chunk carries its absolute offset.
  // Scale: PURE MAP — n_chunks and every window derive from the one
  // token array already in the row (sequence + explode + slice), zero
  // shuffles, fused into the parquet scan. The 100 TB posture is
  // exactly the scan's: output rows ~= input tokens / S.
  private val ChunkW = 32L
  private val ChunkS = 24L

  def chunkDocs(documents: DataFrame): DataFrame = {
    val base = documents
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      // ceil((n-W)/S)+1 windows; sequence() counts DOWN if the bound
      // goes negative, so the n <= W case pins n_chunks to 1
      .withColumn("n_chunks", when(col("n") <= ChunkW, lit(1L))
        .otherwise(expr(s"(n - $ChunkW + $ChunkS - 1) div $ChunkS") + 1L))
    base
      .select(col("doc_id"), col("n"), col("toks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * ChunkS)
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        least(lit(ChunkW), col("n") - col("start_tok")).as("chunk_len"),
        array_join(slice(col("toks"), (col("start_tok") + 1).cast("int"),
          lit(ChunkW.toInt)), " ").as("chunk_text"))
  }

  // ---- L78 (r6): fixed-length causal-LM example assembly ----
  // The third member of the batch-prep trio: L27 packs WHOLE docs into
  // budget bins (no doc split), L62 windows WITHIN a doc (no concat);
  // this is the GPT-pretraining layout — concatenate the corpus token
  // stream in doc_id order and tile it into fixed E-token examples,
  // emitting one row per (example, doc-segment) so the consumer can
  // rebuild both the example content and its attention-boundary mask:
  //   ex_start  = segment position within the example,
  //   doc_start = segment position within the source doc,
  //   seg_len   = tokens in the segment.
  // The trailing partial example (< E tokens) is dropped, as training
  // would drop it.
  //
  // Scale: the only global state is the PREFIX SUM of per-doc token
  // counts in doc order — computed hierarchically: one (granule)
  // aggregate collapses the corpus to docs/Granule rows, granule bases
  // cumsum on that small frame (single-partition window over the
  // GRANULE table only; Granule is the knob — 1e5 docs/granule keeps
  // that frame ~1e5 rows at 1e10 docs, and a third level is the same
  // recurrence), then doc offsets finish with a within-granule window
  // behind one (granule) exchange that the join reuses. Tiling itself
  // is map-only (explode over the doc's own example range). n_examples
  // rides the same granule window — no single-row crossJoin needed.
  private val ExLen = 32L
  private val Granule = 64L

  def lmExamples(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = documents
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n"))
      .withColumn("g", expr(s"doc_id div $Granule"))
    val gw = Window.orderBy("g")
    val gBase = d.groupBy("g").agg(sum("n").as("g_n"))
      .select(col("g"),
        coalesce(sum("g_n").over(gw.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("g_base"),
        expr(s"(sum(g_n) over (order by g rows between unbounded preceding " +
          s"and unbounded following)) div $ExLen").as("n_ex"))
    d.join(gBase, "g")
      .withColumn("cum",
        sum("n").over(Window.partitionBy("g").orderBy("doc_id")))
      .withColumn("off", col("g_base") + col("cum") - col("n"))
      // a doc entirely inside the dropped tail emits nothing; the guard
      // also keeps sequence() from counting down
      .where(col("off") < col("n_ex") * ExLen)
      .withColumn("example_id", explode(sequence(
        expr(s"off div $ExLen"),
        least(expr(s"(off + n - 1) div $ExLen"), col("n_ex") - 1))))
      .select(col("example_id"), col("doc_id"),
        (greatest(col("off"), col("example_id") * ExLen)
          - col("example_id") * ExLen).as("ex_start"),
        (greatest(col("off"), col("example_id") * ExLen)
          - col("off")).as("doc_start"),
        (least(col("off") + col("n"), (col("example_id") + 1) * ExLen)
          - greatest(col("off"), col("example_id") * ExLen)).as("seg_len"))
  }

  /** The oracle skips the granule decomposition (semantically inert)
    * and takes the prefix sum in one window — identical offsets. */
  val lmExamplesSql: String =
    s"""WITH d AS (SELECT doc_id,
    len(string_split_regex(lower(text), '\\s+'))::BIGINT AS n FROM documents),
o AS (SELECT doc_id, n,
    coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off,
    (sum(n) OVER () // $ExLen)::BIGINT AS n_ex
  FROM d)
SELECT e::BIGINT AS example_id, doc_id,
  (greatest(off, e * $ExLen) - e * $ExLen)::BIGINT AS ex_start,
  (greatest(off, e * $ExLen) - off)::BIGINT AS doc_start,
  (least(off + n, (e + 1) * $ExLen) - greatest(off, e * $ExLen))::BIGINT AS seg_len
FROM o, unnest(generate_series(off // $ExLen, least((off + n - 1) // $ExLen, n_ex - 1))) AS u(e)
WHERE off < n_ex * $ExLen"""

  // ---- L85 (r7): length-bucketed inference batch assembly ----
  // The batch-prep shape INFERENCE needs (L27/L78 serve training):
  // batched generation pads every sequence in a batch to the longest
  // member, so batching arbitrary-length docs together burns compute
  // on pad tokens. Standard fix: bucket by length ceiling (powers of
  // two, 16..1024), then assemble fixed-size batches WITHIN a bucket —
  // per batch the pad waste is bounded by the bucket granularity, and
  // the waste column prices it exactly (clamped at 0 in the open-ended
  // top bucket). The batch key needs a rank within each bucket;
  // computing it with one window per bucket would serialize the
  // corpus through ~8 reducers, so the rank is HIERARCHICAL (the L78
  // recurrence, here per bucket): per-(bucket, granule) counts →
  // per-bucket granule-frame prefix sum → within-granule row_number
  // behind one (bucket, granule) exchange that the offset join then
  // reuses. Granule is the knob; the granule frame is docs/Granule
  // rows per bucket, and a third level is the same recurrence.
  // The oracle takes the flat per-bucket window — identical ranks.
  private val BatchB = 8L
  private val BkGranule = 64L

  def lengthBatches(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = documents
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n"))
      .withColumn("bucket",
        when(col("n") <= 16, 16).when(col("n") <= 32, 32)
          .when(col("n") <= 64, 64).when(col("n") <= 128, 128)
          .when(col("n") <= 256, 256).when(col("n") <= 512, 512)
          .otherwise(1024))
      .withColumn("g", expr(s"doc_id div $BkGranule"))
    val gw = Window.partitionBy("bucket").orderBy("g")
    val gBase = d.groupBy("bucket", "g").agg(count(lit(1)).as("g_n"))
      .select(col("bucket"), col("g"),
        coalesce(sum("g_n").over(gw.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("g_base"))
    d.join(gBase, Seq("bucket", "g"))
      .withColumn("rk", col("g_base") +
        row_number().over(Window.partitionBy("bucket", "g").orderBy("doc_id")))
      .withColumn("batch", expr(s"(rk - 1) div $BatchB"))
      .groupBy(col("bucket"), col("batch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_toks"),
        max(col("n")).as("max_len"),
        sum(greatest(lit(0L), col("bucket") - col("n"))).as("waste"))
  }

  val lengthBatchesSql: String =
    s"""WITH d AS (SELECT doc_id,
    len(string_split_regex(lower(text), '\\s+'))::BIGINT AS n FROM documents),
b AS (SELECT doc_id, n,
    CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
         WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
         ELSE 1024 END AS bucket FROM d),
r AS (SELECT doc_id, n, bucket,
    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rk FROM b)
SELECT bucket, (rk - 1) // $BatchB AS batch, count(*) AS n_docs,
       sum(n)::BIGINT AS sum_toks, max(n) AS max_len,
       sum(greatest(0, bucket - n))::BIGINT AS waste
FROM r GROUP BY bucket, batch"""

  val chunkDocsSql: String =
    s"""WITH base AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents),
c AS (SELECT doc_id, toks, len(toks)::BIGINT AS n,
  CASE WHEN len(toks) <= $ChunkW THEN 1
       ELSE (len(toks) - $ChunkW + $ChunkS - 1) // $ChunkS + 1 END::BIGINT AS n_chunks
  FROM base)
SELECT doc_id, (e - 1)::BIGINT AS chunk_id, ((e - 1) * $ChunkS)::BIGINT AS start_tok,
  least($ChunkW, n - (e - 1) * $ChunkS)::BIGINT AS chunk_len,
  array_to_string(toks[((e - 1) * $ChunkS + 1):((e - 1) * $ChunkS + $ChunkW)], ' ') AS chunk_text
FROM c, unnest(generate_series(1, n_chunks)) AS u(e)"""

  // ---- L99 (r7): content-defined chunking (rolling-hash boundaries) ----
  // The dedup-friendly third chunker: L62's fixed stride means one
  // inserted token SHIFTS every later window — chunk-level dedup (L25)
  // then sees a near-identical doc as 100% novel chunks. Content-
  // defined chunking (the rsync/LBFS/restic recipe) places a boundary
  // wherever a rolling hash of the k=3 PRECEDING tokens hits a magic
  // residue (rate 1/32): the decision is a pure function of local
  // content, so an edit realigns within ~k tokens and every later
  // chunk is byte-identical again — the property that makes chunk
  // stores and near-dup chunk dedup work across document versions.
  // Hash: per-token md5 folded to 10 bits, three lags packed into one
  // <2^30 key (no overflow on either engine), boundary iff key % 32 =
  // 0. Plan: posexplode + per-doc lag/prefix-sum windows + ordered
  // reassembly behind ONE (doc_id) exchange — the C4 "doc is the
  // parallelism unit" contract; nothing cross-doc. Spec proves the
  // defining property ON PURPOSE-BUILT VERSIONS: a token prepended to
  // a 400-token doc changes only the leading chunks (all others
  // md5-identical), chunks tile each doc exactly, and layout
  // invariance; the oracle replays hash, boundaries, and reassembly.
  private val CdcFold = 1024L // 10-bit per-token fold
  private val CdcMask = 32L   // boundary rate 1/32

  def cdcChunk(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Portable.md5Long
    val w = Window.partitionBy("doc_id").orderBy("pos")
    documents
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "tok")))
      .withColumn("d", pmod(md5Long(lit("cdc"), col("tok")), lit(CdcFold)))
      .withColumn("rk", lag(col("d"), 3).over(w) * CdcFold * CdcFold +
        lag(col("d"), 2).over(w) * CdcFold + lag(col("d"), 1).over(w))
      .withColumn("s", when(col("pos") === 0 ||
        (col("pos") >= 3 && pmod(col("rk"), lit(CdcMask)) === 0), 1L).otherwise(0L))
      .withColumn("chunk_id", sum(col("s")).over(w) - 1)
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(min(col("pos").cast("long")).as("start_pos"), count(lit(1)).as("n_toks"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ")).as("chunk_md5"))
  }

  val cdcChunkSql: String = {
    import graft.functions.Portable.md5LongSql
    s"""WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
tok AS (
  SELECT doc_id, u.i - 1 AS pos, t[u.i] AS tok
  FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)),
h AS (SELECT doc_id, pos, tok, ${md5LongSql("'cdc'", "tok")} % $CdcFold AS d FROM tok),
k AS (
  SELECT doc_id, pos, tok,
    lag(d, 3) OVER w * $CdcFold * $CdcFold + lag(d, 2) OVER w * $CdcFold
      + lag(d, 1) OVER w AS rk
  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
c AS (
  SELECT doc_id, pos, tok, (sum(s) OVER (PARTITION BY doc_id ORDER BY pos) - 1)::BIGINT AS chunk_id
  FROM (SELECT doc_id, pos, tok, CASE WHEN pos = 0
      OR (pos >= 3 AND rk % $CdcMask = 0) THEN 1 ELSE 0 END AS s FROM k))
SELECT doc_id, chunk_id, min(pos)::BIGINT AS start_pos, count(*) AS n_toks,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
FROM c GROUP BY doc_id, chunk_id"""
  }

  // ---- L101 (r8): content-defined chunk-store dedup ----
  // The reason CDC exists: a chunk STORE keeps one copy of each
  // distinct chunk, so near-identical document versions (the dominant
  // redundancy in crawl snapshots and versioned wikis) share all but
  // O(1) chunks — L25's chunk dedup at storage granularity, made
  // edit-stable by L99's content-defined boundaries (a fixed-stride
  // chunker would re-store the entire tail of every edited doc).
  // Stored copy of a chunk = the (doc_id, chunk_id)-least occurrence,
  // as ONE min(struct) aggregate per chunk_md5 — partial aggregation
  // collapses duplicate chunks map-side, no window over the chunk
  // frame. Per-doc report: chunks/tokens total vs actually stored.
  // Shuffles: the chunker's (doc_id) exchange, one (chunk_md5)
  // store aggregate, the owner join back, one (doc_id) rollup —
  // all keyed, nothing corpus-wide. Oracle replays the store rule as
  // the equivalent row_number-over-md5 formulation; the spec edits a
  // doc and proves only its leading chunks enter the store.
  def cdcDedup(documents: DataFrame): DataFrame = {
    val chunks = cdcChunk(documents)
    val store = chunks
      .groupBy(col("chunk_md5"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("o"),
        count(lit(1)).as("n_copies"))
      .select(col("chunk_md5"), col("o.doc_id").as("o_doc"),
        col("o.chunk_id").as("o_chunk"), col("n_copies"))
    chunks.join(store, "chunk_md5")
      .withColumn("stored",
        (col("o_doc") === col("doc_id") && col("o_chunk") === col("chunk_id"))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("stored")).as("n_stored"),
        sum(col("n_toks")).as("toks_total"),
        sum(col("stored") * col("n_toks")).as("toks_stored"))
  }

  val cdcDedupSql: String =
    s"""WITH chunks AS ($cdcChunkSql),
r AS (SELECT doc_id, chunk_id, n_toks,
        row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_id) AS rn
      FROM chunks)
SELECT doc_id, count(*)::BIGINT AS n_chunks,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_stored,
       sum(n_toks)::BIGINT AS toks_total,
       sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END)::BIGINT AS toks_stored
FROM r GROUP BY doc_id"""
}
