package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Relational, Similarity}

/** Randomized twins of the single-fixture exactness specs: the
  * prefix-filter join's completeness theorem and the weighted median's
  * crossing rule hold on ANY input, so seeded random corpora must
  * reproduce brute force exactly — a class of bug a hand-built fixture
  * can miss (boundary prefix lengths, tie pile-ups, skewed dfs).
  */
class ExactnessPropertySpec extends SparkSpec {
  import spark.implicits._

  test("Md5Long60 digest-direct equals the portable conv chain on any string") {
    // the r12 fast path reads 60 bits off the digest; this pins
    // bit-equality against the oracle-mirrored chain on adversarial
    // inputs: empty, whitespace, unicode (multi-byte utf8), long,
    // hex-looking, and seeded-random strings
    graft.functions.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(97)
    val adversarial = Seq("", " ", "a", "0xdeadbeef", "ü ñ 中文 🚀",
      "x" * 10000, "\t\n", "7:já") ++
      (1 to 500).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(40)).mkString) ++
      (1 to 100).map(_ => (1 to 5).map(_ => rnd.nextPrintableChar()).mkString)
    val df = adversarial.toDF("s")
    val bad = df.selectExpr(
        "s",
        "graft_md5long60(s) AS fast",
        "cast(conv(substring(md5(s),1,15),16,10) as bigint) AS chain")
      .where(col("fast") =!= col("chain") || col("fast").isNull)
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
    // null propagates as null, like the chain
    val n = Seq[Option[String]](None).toDF("s")
      .selectExpr("graft_md5long60(s) AS v").collect()(0)
    assert(n.isNullAt(0))
  }

  test("digest-direct expressions COMPILE under CODEGEN_ONLY (no silent interpreter fallback)") {
    // r12 found wave 8's Md5Long60 codegen never compiled: the
    // companion's eval(byte[]) gets no static forwarder (the case
    // class already has Expression.eval), Janino resolved the call to
    // eval(InternalRow), and every projection fell back to interpreted
    // mode with only a WARN. CODEGEN_ONLY turns that fallback into a
    // hard failure, so this pins the fix (MODULE$ references).
    graft.functions.VectorFunctions.register(spark)
    val th = graft.operators.Stats.BootThresholds.mkString("array(", "L,", "L)")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pc_score_cg", exprs => graft.functions.PcScore(exprs.head,
        Array(0.5, -0.5), Array(1.0, 2.0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_km_dist_cg", exprs => graft.functions.KmDist(exprs.head,
        Array(Array(0L, 1L), Array(2L, 3L))), "built-in")
    val key = "spark.sql.codegen.factoryMode"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val r = Seq("a", "b").toDF("s").selectExpr(
        "graft_md5long60(s) AS h", s"graft_boot_w(s, $th) AS w",
        "graft_pc_score_cg(array(1.0D, 2.0D)) AS pc",
        "graft_bpe('theother') AS bpe",
        "graft_km_dist_cg(array(4L, 5L)) AS km").collect()
      assert(r.length == 2 && !r(0).isNullAt(0) && r(0).getSeq[Long](1).length == 4
        && !r(0).isNullAt(2) && r(0).getSeq[String](3).nonEmpty
        && r(0).getSeq[Long](4).length == 2)
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("BpeTable int-symbol fast path equals the generic string loop on any word/table") {
    // r13: the encode hot loop runs over interned int symbol ids when
    // the word is pure [a-z] (the only stream the queries feed it);
    // this pins fast == generic on adversarial words (non-a-z chars →
    // fallback), random learned tables (including rules with
    // unreachable sides and DUPLICATE pairs — Map semantics keep the
    // last rank), and the default table
    import graft.functions.{Bpe, BpeTable}
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(4242)
    def check(merges: IndexedSeq[(String, String)], words: Seq[String]): Unit = {
      val table = new BpeTable(merges)
      val rankOf = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
      words.foreach { w =>
        val fast = (0 until table.encode(UTF8String.fromString(w)).numElements())
          .map(i => table.encode(UTF8String.fromString(w)).getUTF8String(i).toString)
        val slow = Bpe.encodeWith(w, merges, rankOf).toSeq
        assert(fast == slow, s"word '$w' table $merges: $fast != $slow")
      }
    }
    val azWords = (1 to 300).map(_ =>
      (1 to (1 + rnd.nextInt(12))).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
    val weird = Seq("", "a", "Ab", "über", "x-y", "aaaaaaa", "ththe", "thethe",
      "zzz", "中文ab")
    // default table
    check(Bpe.MergesIdx, azWords ++ weird)
    // random tables over a tiny alphabet (dense rule hits), with
    // chained outputs, a duplicate pair, and an unreachable side
    (1 to 20).foreach { _ =>
      val base = (1 to (2 + rnd.nextInt(8))).map(_ =>
        (('a' + rnd.nextInt(4)).toChar.toString, ('a' + rnd.nextInt(4)).toChar.toString))
      val chained = base.flatMap { case (a, b) =>
        Seq((a, b), (a + b, ('a' + rnd.nextInt(4)).toChar.toString)) }
      val withDup = chained ++ chained.headOption.toSeq // duplicate pair: last rank wins
      val withUnreachable = withDup :+ (("qq", "zz")) // never a reachable token
      check(withUnreachable.toIndexedSeq, azWords.take(120) ++ weird)
    }
  }

  test("bpeTrain driver replay equals the distributed recurrence") {
    // r13: the greedy merge training loop runs on the driver over the
    // capped type table (bounded model state by contract); pin
    // row-for-row equality against the retained distributed loop on a
    // corpus with pair-count ties, repeated words, and 1-char words
    val docs = Seq(
      (1L, "the then there that an and band banana bananas"),
      (2L, "in inn inning thin thing sing singing a a a i"),
      (3L, "ababab abab ab a b cabbage cab cab cab"),
      (4L, "zzz zz z xyzzy xy xy yz yz yz"),
      (5L, "the the the and and in in re re er er")
    ).toDF("doc_id", "text")
    val fast = graft.operators.TextAnalysis.bpeTrain(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val slow = graft.operators.TextAnalysis.bpeTrainDistributed(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(fast == slow, s"driver replay diverged:\n$fast\n$slow")
    // and with a tiny cap, so the cap boundary is exercised
    val fastCap = graft.operators.TextAnalysis.bpeTrain(docs, 8, 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val slowCap = graft.operators.TextAnalysis.bpeTrainDistributed(docs, 8, 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(fastCap == slowCap, s"capped replay diverged:\n$fastCap\n$slowCap")
  }

  test("connectedComponents local union-find equals the distributed waves on any graph") {
    // r13: below the edge budget the CC fixpoint runs as one driver
    // union-find; pin row-for-row equality against the distributed
    // label-propagation waves on adversarial graphs — chains (deep
    // diameter), cliques, stars, isolated docs, docs absent from the
    // edge list, self-loop-free random graphs, and the empty graph
    val rnd = new scala.util.Random(1319)
    def check(pairs: Seq[(Long, Long)], ids: Seq[Long], tag: String): Unit = {
      val p = pairs.toDF("x", "y")
      val d = ids.toDF("doc_id")
      val local = graft.operators.Dedup
        .connectedComponentsWithRounds(p, d, localEdgeBudget = Long.MaxValue)
      val dist = graft.operators.Dedup
        .connectedComponentsWithRounds(p, d, localEdgeBudget = 0L)
      assert(local._2 == 0, s"$tag: local path not taken")
      assert(dist._2 > 0 || pairs.isEmpty, s"$tag: distributed path not taken")
      val a = local._1.orderBy("doc_id").collect().toSeq
      val b = dist._1.orderBy("doc_id").collect().toSeq
      assert(a == b, s"$tag:\n$a\nvs\n$b")
    }
    check(Seq.empty, Seq(1L, 2L, 3L), "empty graph")
    check((1L until 60L).map(i => (i, i + 1)), (1L to 70L), "chain-60")
    check((2L to 20L).map(i => (1L, i)), (1L to 25L), "star")
    check(for (a <- 1L to 8L; b <- (a + 1) to 8L) yield (a, b), (1L to 10L), "clique")
    (1 to 5).foreach { t =>
      val n = 30 + rnd.nextInt(60)
      val pairs = (1 to n).map(_ =>
        (rnd.nextInt(40).toLong + 1, rnd.nextInt(40).toLong + 1))
        .filter { case (a, b) => a != b }
      check(pairs, (1L to 45L), s"random-$t")
    }
  }

  test("graph recurrences: local driver replay equals the distributed waves (integer rank on Long and String keys, both shares, fixed n, BIGINT-passing rank*w, empty graph, overflowing out_w throws; kCore/LPA/HITS)") {
    // r13: the size-adaptive local path extends from CC to the other
    // integer fixed-point graph recurrences; each must replay its
    // distributed loop operation-for-operation. Random graphs with
    // parallel-structure stress: hubs, chains, cliques, multi-edges
    // (pre-aggregated where the operator demands distinct edges).
    val rnd = new scala.util.Random(2718)
    def randPairs(n: Int, vmax: Int): Seq[(Long, Long)] =
      (1 to n).map(_ => (rnd.nextInt(vmax).toLong + 1, rnd.nextInt(vmax).toLong + 1))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
    // k-core, LPA and HITS at both placements: the same rows and the
    // same schema; `distBudget` -1 forces the distributed side even on
    // no rows
    def placements(what: String, distBudget: Long = 0L)(run: Long => org.apache.spark.sql.DataFrame)
        : Seq[org.apache.spark.sql.Row] = {
      val Seq(l, d) = Seq(Long.MaxValue, distBudget).map(run)
      val Seq(lr, dr) = Seq(l, d).map(df => df.orderBy(df.columns.map(col): _*).collect().toSeq)
      assert(lr == dr, s"$what diverged:\n$lr\nvs\n$dr")
      assert(l.schema == d.schema, s"$what schemas differ: ${l.schema} vs ${d.schema}")
      lr
    }
    def kCore(p: org.apache.spark.sql.DataFrame, tag: String) =
      placements(s"kCore ($tag)")(b => Dedup.kCoreEdges(p, localEdgeBudget = b))
    def lpa(p: org.apache.spark.sql.DataFrame, tag: String, rounds: Int = 4) =
      placements(s"LPA ($tag)")(b => Dedup.labelPropagationEdges(p, rounds, localEdgeBudget = b))
    def hits(bip: org.apache.spark.sql.DataFrame, tag: String) =
      placements(s"HITS ($tag)")(b => Relational.hitsEdges(bip, localEdgeBudget = b))
    (1 to 3).foreach { t =>
      val pairs = randPairs(60 + rnd.nextInt(100), 50)
      val p = pairs.toDF("x", "y")
      // pageRank
      val prL = graft.operators.Dedup.pageRankEdges(p, localEdgeBudget = Long.MaxValue)
        .orderBy("doc_id").collect().toSeq
      val prD = graft.operators.Dedup.pageRankEdges(p, localEdgeBudget = 0L)
        .orderBy("doc_id").collect().toSeq
      assert(prL == prD, s"pageRank diverged (trial $t):\n$prL\nvs\n$prD")
      kCore(p, s"trial $t")
      lpa(p, s"trial $t")
      // HITS over a bipartite (c, s) frame
      hits((1 to 120).map(_ =>
        (rnd.nextInt(20).toLong + 1, rnd.nextInt(8).toLong + 100)).distinct.toDF("c", "s"), s"trial $t")
    }
    // chain-40: kCore peels from both ends — exercises multiple waves,
    // the round cap (the chain outlasts it) and the early exit
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("x", "y")
    assert(kCore(chain, "chain-40").nonEmpty, "chain-40 peeled away inside the round cap")
    assert(kCore((1L until 7L).map(i => (i, i + 1)).toDF("x", "y"), "chain-7").isEmpty,
      "chain-7 outlived its peel")
    // the empty graph: no rows on either side
    val none = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(placements("kCore (empty)", -1L)(b => Dedup.kCoreEdges(none, localEdgeBudget = b)).isEmpty)
    assert(placements("LPA (empty)", -1L)(b => Dedup.labelPropagationEdges(none, localEdgeBudget = b)).isEmpty)
    assert(placements("HITS (empty)", -1L)(b =>
      Relational.hitsEdges(none.toDF("c", "s"), localEdgeBudget = b)).isEmpty)
    // inputs in 7 partitions; distributed, each vertex's state sits in
    // the partition of its edges, which its output row keeps
    def spread(rows: Seq[(Long, Long)], names: String*) =
      spark.sparkContext.parallelize(rows, 7).toDF(names: _*)
    def partOf(df: org.apache.spark.sql.DataFrame, key: String*): Map[Seq[Any], Int] =
      df.select(key.map(col) :+ spark_partition_id(): _*).collect()
        .map(r => r.toSeq.init -> r.getInt(key.length)).toMap
    kCore(spread(randPairs(150, 40), "x", "y"), "7 partitions")
    // LPA: in round 2, vertex 50's neighbors 5 and 6 hold label 1 and 8
    // and 12 hold label 2, a 2-2 tie the smaller label wins. The two
    // counts for label 1 come from different partitions and the two for
    // label 2 from one, so a round that took a partition's count for a
    // (vertex, label) in place of their sum would pick label 2.
    val tie = spread(Seq((1L, 5L), (1L, 6L), (5L, 50L), (6L, 50L), (2L, 8L), (2L, 12L),
      (8L, 50L), (12L, 50L)), "x", "y")
    val lpaPart = partOf(Dedup.labelPropagationEdges(tie, localEdgeBudget = 0L), "v")
      .map { case (k, p) => k.head -> p }
    assert(lpaPart(5L) != lpaPart(6L) && lpaPart(8L) == lpaPart(12L),
      s"the tie's counts are not split as planned: $lpaPart")
    assert(lpa(tie, "7 partitions, tie", rounds = 2)
      .collectFirst { case r if r.getLong(0) == 50L => r.getLong(1) }.contains(1L),
      "the 2-2 tie at vertex 50 did not go to the smaller label")
    lpa(tie, "7 partitions, tie, all rounds")
    // HITS: customer 1 buys from every supplier and supplier 102 sells
    // to every customer, so they are the top hub and the top authority
    // (score HitsUnit); they sit in different partitions, so each
    // half-step's max must merge them
    val bip = spread(((100L to 111L).map(s => (1L, s)) ++ (1L to 30L).map(c => (c, 102L)) ++
      (1 to 150).map(_ => (rnd.nextInt(30).toLong + 1, rnd.nextInt(12).toLong + 100))).distinct, "c", "s")
    val (topHub, topAuth) = hits(bip, "7 partitions").filter(_.getLong(2) == 1000000000000L)
      .map(r => Seq(r.getString(0), r.getLong(1))).partition(_.head == "hub")
    val hitsPart = partOf(Relational.hitsEdges(bip, localEdgeBudget = 0L), "node_type", "node_id")
    assert(topHub.nonEmpty && topAuth.nonEmpty &&
      topHub.map(hitsPart).intersect(topAuth.map(hitsPart)).isEmpty,
      s"the top hub and authority share a partition: ${(topHub ++ topAuth).map(k => k -> hitsPart(k))}")
    // the shared integer rank (PageRank, TextRank, host rank) on
    // directed String-keyed weighted graphs: sinks, sources without
    // in-edges, weights above 1, under both rounding orders of a share
    def rank(edges: Seq[(String, String, Long)], scaleFirst: Boolean,
        vertices: Option[Long], budget: Long) =
      Dedup.integerRank(edges.toDF("src", "dst", "w"), scaleFirst, vertices, budget)
        .orderBy("v").collect().toSeq
    def sides(edges: Seq[(String, String, Long)], scaleFirst: Boolean,
        vertices: Option[Long], tag: String, distBudget: Long = 0L) = {
      val l = rank(edges, scaleFirst, vertices, Long.MaxValue)
      val d = rank(edges, scaleFirst, vertices, distBudget)
      assert(l == d, s"integer rank diverged ($tag, scaleFirst = $scaleFirst):\n$l\nvs\n$d")
      l
    }
    (1 to 3).foreach { t =>
      val edges = (1 to 40 + rnd.nextInt(60))
        .map(_ => (s"w${rnd.nextInt(25)}", s"w${rnd.nextInt(25)}"))
        .filter { case (a, b) => a != b }.distinct
        .map { case (a, b) => (a, b, 1L + rnd.nextInt(9)) }
      Seq(true, false).foreach { sf =>
        val got = sides(edges, sf, None, s"random directed $t")
        assert(got.nonEmpty && got.map(_.getLong(2)).sum > 0L)
      }
      // a fixed vertex count (host rank's n) instead of the distinct sources
      sides(edges, scaleFirst = false, Some(40L), s"random directed $t, n = 40")
    }
    // rank·w passes BIGINT (1e12 / 3 · 1e9 > 2^63): the exact share
    // runs through BigInteger on the driver and decimal(38,0) distributed
    val big = Seq(("a", "b", 1000000000L), ("a", "c", 3L), ("b", "a", 2L),
      ("c", "a", 1L), ("c", "b", 5L))
    assert(BigInt(Dedup.RankUnit / 3) * 1000000000L > BigInt(Long.MaxValue))
    Seq(true, false).foreach(sf => sides(big, sf, None, "BIGINT-passing rank*w"))
    // out_w(a) passes BIGINT (Long.MaxValue + 1): both sides must throw
    // rather than rank with a wrapped weight
    val wraps = Seq(("a", "b", Long.MaxValue), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
    for (sf <- Seq(true, false); budget <- Seq(Long.MaxValue, 0L)) {
      val thrown = try { rank(wraps, sf, None, budget); None }
        catch { case e: Exception => Some(e) }
      assert(thrown.exists(e => Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])),
        s"integer rank wrapped out_w (scaleFirst = $sf, budget = $budget): $thrown")
    }
    // the empty graph has no ranks on either side (n = 0); -1 forces
    // the distributed side even on no rows
    Seq(true, false).foreach(sf =>
      assert(sides(Seq.empty, sf, None, "empty graph", distBudget = -1L).isEmpty))
  }

  test("distributed integer rank leaves at most its edge and final rank RDDs persisted") {
    // each round releases the one before it, and the edges go once the
    // rounds are done: what a call leaves behind does not grow with
    // RankIters
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = (1L to 40L).flatMap(i => Seq((i, i % 40 + 1, 1L), (i, i * 7 % 40 + 1, 2L)))
      .toDF("src", "dst", "w")
    assert(Dedup.integerRank(edges, scaleFirst = false, localEdgeBudget = 0L)
      .collect().length == 40)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.size <= 2, s"${left.size} persisted RDDs left: ${left.values.mkString(", ")}")
  }

  test("distributed k-core, LPA and HITS leave at most their final state persisted") {
    // each round releases the one before it and the edges go once the
    // rounds are done, so what a call leaves behind does not grow with
    // its rounds: chain-40 runs k-core to its cap, the two rings LPA
    // through its rounds, HITS its six half-steps
    val sc = spark.sparkContext
    def leftBy(what: String)(run: => org.apache.spark.sql.DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      assert(run.collect().nonEmpty, s"$what returned no rows")
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.size <= 1, s"$what left ${left.size} persisted RDDs: ${left.values.mkString(", ")}")
    }
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("x", "y")
    leftBy("k-core")(Dedup.kCoreEdges(chain, localEdgeBudget = 0L))
    val rings = (0L until 30L).flatMap(i => Seq((i, (i + 1) % 30), (i, (i + 2) % 30),
      (100 + i, 100 + (i + 1) % 30)))
    leftBy("LPA")(Dedup.labelPropagationEdges(rings.toDF("x", "y"), localEdgeBudget = 0L))
    val bip = (1L to 40L).flatMap(c => Seq((c, 100 + c % 7), (c, 100 + c * c % 11))).distinct
    leftBy("HITS")(Relational.hitsEdges(bip.toDF("c", "s"), localEdgeBudget = 0L))
  }

  test("BootWeights digest-direct equals the md5-hex + conv + threshold chain") {
    // the r12 bootstrap fast path reads the four 28-bit draws (and their
    // Poisson weights) straight off the digest; pin bit-equality against
    // the defining chain per slice on adversarial + random seeds
    graft.functions.VectorFunctions.register(spark)
    val th = graft.operators.Stats.BootThresholds
    val arr = th.mkString("array(", "L,", "L)")
    val rnd = new scala.util.Random(553)
    val seeds = Seq("", "boot0:1", "boot12:999983", "ü 中文", "x" * 2000) ++
      (1 to 400).map(_ => s"boot${rnd.nextInt(13)}:${rnd.nextLong()}")
    val df = seeds.toDF("s")
      .select(col("s"), explode(array((0 to 3).map(lit): _*)).as("sl"))
    val chainW = graft.operators.Stats.bootWeight(
      expr("cast(conv(substring(md5(s), sl * 7 + 1, 7), 16, 10) as long)"))
    val bad = df.select(col("s"), col("sl"),
        expr(s"element_at(graft_boot_w(s, $arr), sl + 1)").as("fast"),
        chainW.as("chain"))
      .where(col("fast") =!= col("chain") || col("fast").isNull)
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("GramAggregator equals the explode + decimal-sum Gram grid on random vectors") {
    // q_pca's one-pass grid: n, Σ v6, and Σ v6ᵢ·v6ⱼ must equal the
    // generator + DECIMAL(38,0)-sum chain it replaced, including the
    // 126-bit carry cells (forced here by large-magnitude elements)
    // magnitudes up to ±1000 force 126-bit carries (micros ~1e9,
    // products ~1e18, crossing 2^62 within a few rows) while staying
    // inside the documented |v6| < 2^31 product-exactness bound;
    // RAGGED lengths (3..8) pin the dim-adaptive resize path
    val dim = 8
    val rnd = new scala.util.Random(41)
    val vecs = (1 to 300).map { i =>
      val d = if (i % 7 == 0) 3 + rnd.nextInt(dim - 3) else dim
      Array.fill(d)(if (rnd.nextInt(10) == 0) (rnd.nextDouble() * 2 - 1) * 1000
        else rnd.nextGaussian())
    }
    val df = vecs.map(v => Tuple1(v.toSeq)).toDF("embedding")
    val buf = df.select(col("embedding").cast("array<double>"))
      .as[Array[Double]]
      .select((new graft.functions.GramAggregator).toColumn)
      .head()
    val v6arr = df.select(transform(col("embedding"),
      v => (round(v.cast("double"), 6).cast("decimal(18,6)") * 1000000)
        .cast("long")).as("v6"))
    val s = v6arr.select(posexplode(col("v6")).as(Seq("d", "e")))
      .groupBy(col("d")).agg(sum(col("e")).as("s")).orderBy(col("d"))
      .as[(Int, Long)].collect()
    val g = v6arr.select(posexplode(col("v6")).as(Seq("i", "vi")), col("v6"))
      .select(col("i"), col("vi"), posexplode(col("v6")).as(Seq("j", "vj")))
      .where(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("vi").cast("decimal(38,0)") * col("vj")).as("g"))
      .orderBy(col("i"), col("j"))
      .as[(Int, Int, java.math.BigDecimal)].collect()
    assert(buf(0) == vecs.size.toLong)
    assert(buf(1) == dim.toLong)
    s.foreach { case (d, v) => assert(buf(2 + d) == v, s"s($d)") }
    val base = 2 + dim
    g.zipWithIndex.foreach { case ((i, j, want), k) =>
      val got = java.math.BigInteger.valueOf(buf(base + 2 * k)).shiftLeft(62)
        .add(java.math.BigInteger.valueOf(buf(base + 2 * k + 1)))
      assert(got == want.toBigInteger, s"g($i,$j): $got vs $want")
    }
  }

  test("PcScore primitive loop equals the decimal HOF chain on random and adversarial vectors") {
    // q_top_component's projection (r12 wave 15): one loop per row must
    // reproduce `aggregate(sequence(1, n), 0::decimal(28,6), (acc, i) =>
    // (acc + round((v[i]-mu[i])*pv[i], 6)::decimal(18,6))::decimal(28,6))
    // ::double` bit-for-bit, including: decimal(18,6) cast overflow →
    // null (|term| ≥ 1e12), short vectors → null (element_at out of
    // range), null elements → null, and sums past the long carrier
    // (forced by 64 near-max terms — the BigInteger retry path)
    val rnd = new scala.util.Random(787)
    def register(name: String, mu: Array[Double], pv: Array[Double]): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, exprs => graft.functions.PcScore(exprs.head, mu, pv),
        "built-in")
    def chain(dim: Int, mu: Array[Double], pv: Array[Double]) =
      aggregate(sequence(lit(1), lit(dim)),
        lit(BigDecimal(0)).cast("decimal(28,6)"),
        (acc, i) => (acc + round(
          (element_at(col("v"), i) - element_at(typedLit(mu.toSeq), i)) *
            element_at(typedLit(pv.toSeq), i), 6)
          .cast("decimal(18,6)")).cast("decimal(28,6)")).cast("double")
    def asDf(vecs: Seq[Seq[java.lang.Double]]) =
      vecs.map(Tuple1(_)).toDF("v").select(col("v").cast("array<double>").as("v"))
    for ((dim, trial) <- Seq((8, 1), (64, 2))) {
      val mu = Array.fill(dim)(math.rint(rnd.nextGaussian() * 1e6) / 1e6)
      val pv = Array.fill(dim)(math.rint((rnd.nextDouble() * 2 - 1) * 1e6) / 1e6)
      val name = s"graft_pc_score_test_$trial"
      register(name, mu, pv)
      val vecs: Seq[Seq[java.lang.Double]] =
        (1 to 200).map(_ => Seq.fill[java.lang.Double](dim)(rnd.nextGaussian())) ++
        // a null element: null term -> null acc -> null, on both paths
        Seq(Seq.fill[java.lang.Double](dim - 1)(1.0) :+ (null: java.lang.Double))
      val bad = asDf(vecs).select(col("v"),
          call_function(name, col("v")).as("fast"), chain(dim, mu, pv).as("slow"))
        .where(not(col("fast") <=> col("slow")))
        .collect()
      assert(bad.isEmpty,
        s"dim $dim: ${bad.take(3).map(r => (r.get(1), r.get(2))).mkString("; ")}")
    }
    // long-carrier overflow (64 near-max legal terms, monotone sum past
    // 2^63 micros): the BigInteger retry path must equal the decimal
    // chain, whose decimal(28,6) accumulator is nowhere near overflow
    val mu0 = Array.fill(64)(0.0); val pv1 = Array.fill(64)(1.0)
    register("graft_pc_score_test_big", mu0, pv1)
    val big = asDf(Seq(Seq.fill[java.lang.Double](64)(9.99e11)))
      .select(call_function("graft_pc_score_test_big", col("v")).as("fast"),
        chain(64, mu0, pv1).as("slow")).collect()(0)
    assert(big.getDouble(0) == big.getDouble(1), s"big: $big")
    // out-of-domain inputs (unreachable on real 64-dim embeddings,
    // where terms are unit-scale): PcScore returns null — under the
    // engine's ANSI-on default the HOF chain instead raises
    // (decimal-cast overflow / element_at out of range), so there is
    // no defined chain value to compare against
    val nulls = asDf(Seq(
        Seq.fill[java.lang.Double](64)(2.0e12), // decimal(18,6) overflow term
        Seq.fill[java.lang.Double](61)(1.0)))   // short vector
      .select(call_function("graft_pc_score_test_big", col("v")).as("fast"))
      .collect()
    assert(nulls.forall(_.isNullAt(0)), nulls.mkString("; "))
  }

  test("SilhouetteScore one-pass equals the relational join chain on adversarial corpora (L153 parity)") {
    // q_silhouette's r12 wave-18 rewrite: the bounded-matrix expression
    // must reproduce the posexplode + broadcast-join + 3-aggregate chain
    // row-for-row, including the join-existence corners: ragged dims
    // (partial overlap between a point's dims and a class's present
    // dims), null elements (term-skip vs group-existence), null / empty
    // embeddings (absent from the old ab frame entirely), null labels
    // (ALSO absent — the old dots ⋈ xx equi-join on label never matches
    // a null key, a corner found by this spec's first run),
    // single-label corpora (bq null; aq = 0 → the greatest-0 → s = 0.0
    // branch), and singleton classes (aq = 0 exactly).
    val rnd = new scala.util.Random(1153)
    def check(rows: Seq[(Long, Option[Seq[Option[Double]]], Option[Int])],
        tag: String): Unit = {
      val df = rows.toDF("vec_id", "embedding", "label")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"),
          col("label"))
      val a = Similarity.silhouette(df).orderBy("label").collect()
      val b = Similarity.silhouetteViaJoins(df).orderBy("label").collect()
      assert(a.length == b.length, s"$tag: ${a.length} vs ${b.length} rows")
      a.zip(b).foreach { case (x, y) => assert(x == y, s"$tag: $x vs $y") }
    }
    def vec(d: Int): Seq[Option[Double]] =
      Seq.fill(d)(Some(if (rnd.nextInt(12) == 0) (rnd.nextDouble() * 2 - 1) * 1000
        else rnd.nextGaussian()))
    // adversarial random corpus: 4 labels with different dim profiles
    // (label 3's vectors are all SHORTER than the others), plus nulls
    val random = (1L to 150L).map { i =>
      val lab = (i % 5) match {
        case 4 => if (i % 10 == 4) None else Some(3) // label 3 sparse + some null labels
        case k => Some(k.toInt)
      }
      val emb: Option[Seq[Option[Double]]] = (i % 17) match {
        case 0 => None                          // null embedding: absent row
        case 1 => Some(Seq.empty)               // empty: absent row
        case 2 => Some(Seq.fill(4)(None: Option[Double])) // all-null elements
        case 3 => Some(vec(6).updated(2, None)) // a null hole
        case _ =>
          val d = if (lab.contains(3)) 3 + rnd.nextInt(2) else 8
          Some(vec(d))
      }
      (i, emb, lab)
    }
    check(random, "random")
    // single label, incl. a singleton slice: aq = 0 for the lone point
    check(Seq((1L, Some(vec(5)), Some(7))), "lone point")
    check((1L to 6L).map(i => (i, Some(vec(5)), Some(7))), "single label")
    // singleton classes: every point its own label (aq = 0, bq > 0);
    // plus two identical points in different labels (aq = bq = 0 → the
    // greatest-0 branch)
    val twin = vec(5)
    check(Seq((1L, Some(twin), Some(1)), (2L, Some(twin), Some(2)),
      (3L, Some(vec(5)), Some(3))), "singleton classes")
    // empty corpus
    check(Seq.empty, "empty")
  }

  test("SilhouetteScore xx survives the long carrier (BigInteger retry, r12 advice)") {
    // component magnitude 1e6 → v6 = 1e12 micro-units → v6² = 1e24
    // overflows the long xx accumulator on the FIRST term; the r13 fix
    // retries in BigInteger (like the dot loop) instead of throwing an
    // uncaught ArithmeticException. (No parity check here: the retained
    // join chain's LongType sum(v6*v6) silently WRAPS in this regime —
    // the exact value is the oracle's HUGEINT behavior.)
    // Geometry chosen so the exact answer is known: two identical huge
    // points in label 1 (aq = 0) and one far point in label 2; the twin
    // points' bq is huge but exact, s = round((sb-0)/sb, 6) = 1.0.
    val df = Seq(
      (1L, Some(Seq(Some(1.0e6), Some(1.0e6))), Some(1)),
      (2L, Some(Seq(Some(1.0e6), Some(1.0e6))), Some(1)),
      (3L, Some(Seq(Some(-1.0e6), Some(-1.0e6))), Some(2))
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.silhouette(df).orderBy("label").collect()
    assert(got.length == 2, got.mkString("; "))
    val l1 = got(0)
    assert(l1.getLong(0) == 1L && l1.getLong(1) == 2L &&
      l1.getLong(2) == 0L && l1.getDouble(3) == 1.0, l1.toString)
  }

  test("BoundaryBucket binary search equals the boundary-count fold on random inputs") {
    // the r12 bucket expression must agree with its defining fold
    // (#bounds strictly below the key) on ANY sorted distinct boundary
    // set and any key — including keys equal to a boundary, below all,
    // above all, and at ±extremes
    graft.functions.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(31337)
    for (trial <- 1 to 5) {
      val bounds = (1 to (1 + rnd.nextInt(40)))
        .map(_ => math.rint(rnd.nextGaussian() * 1000) / 8)
        .distinct.sorted.toArray
      val keys = (bounds.toSeq ++ bounds.map(_ - 0.001) ++ bounds.map(_ + 0.001) ++
        Seq(-1e18, 1e18, 0.0) ++ (1 to 50).map(_ => rnd.nextGaussian() * 1200)).toDF("k")
      val arr = bounds.mkString("array(", "D,", "D)")
      val bad = keys.selectExpr(
          "k",
          s"graft_bucket(k, $arr) AS fast",
          bounds.map(b => s"(CASE WHEN k > ${b}D THEN 1 ELSE 0 END)")
            .mkString("(", " + ", ") AS fold"))
        .where(col("fast") =!= col("fold"))
        .collect()
      assert(bad.isEmpty, s"trial $trial: ${bad.take(5).mkString("; ")}")
    }
  }

  test("frequentPairs in-row pair generation equals brute force on random baskets (C63 property)") {
    // r12 wave 16 replaced the in-basket self-join with
    // graft_pair_combos over sorted collected baskets; the support /
    // s1 / s2 / n_baskets / lift surface must equal a Scala
    // brute-force replay on random inputs with duplicate (bid, item)
    // rows and baskets straddling the MaxBasket=64 gate
    val rnd = new scala.util.Random(641)
    val rows = (1 to 4000).map { _ =>
      val bid = rnd.nextInt(60).toLong
      // bids 0-4 are oversize (>64 distinct items); others small
      val item = if (bid < 5) rnd.nextInt(200).toLong else rnd.nextInt(12).toLong
      (bid, item)
    } ++ (0L until 5L).flatMap(b => (0L until 70L).map(i => (b, i * 3)))
    val li = rows.toDF("l_orderkey", "l_partkey")
    val got = graft.operators.Stats.frequentPairs(li)
      .select("p1", "p2", "support", "lift", "n_dropped_baskets")
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4, t._5)).toMap
    // brute force with the same constants (MaxBasket 64, PairMinSup 2)
    val baskets = rows.groupBy(_._1).map { case (_, rs) => rs.map(_._2).toSet }
    val (kept, dropped) = baskets.partition(_.size <= 64)
    val nB = kept.size.toLong
    val suppItem = kept.toSeq.flatten.groupBy(identity).map { case (i, xs) => i -> xs.size.toLong }
    val suppPair = kept.toSeq
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= 2)
    assert(got.keySet == suppPair.keySet,
      s"pairs: missing=${(suppPair.keySet -- got.keySet).take(5)} extra=${(got.keySet -- suppPair.keySet).take(5)}")
    suppPair.foreach { case (p, sup) =>
      val lift = java.math.BigDecimal
        .valueOf((sup * nB).toDouble / (suppItem(p._1) * suppItem(p._2)).toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(got(p) == ((sup, lift, dropped.size.toLong)), s"$p: ${got(p)} vs ($sup, $lift)")
    }
  }

  test("prefix-filter join equals brute force on random corpora (L45 property)") {
    val rnd = new scala.util.Random(271)
    for (trial <- 1 to 3) {
      // small vocab -> heavy shingle overlap -> pairs near the tau
      // boundary; variable lengths exercise the ceil arithmetic
      val vocab = Vector.tabulate(12)(i => s"w$i")
      val docs = (0 until 40).map { id =>
        val n = 6 + rnd.nextInt(10)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "), "s")
      }.toDF("doc_id", "text", "source")
      def shingles(t: String): Set[String] =
        t.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
      val sets = docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
      val expected = (for {
        x <- sets.keys; y <- sets.keys if x < y
        inter = (sets(x) & sets(y)).size.toDouble
        j = inter / (sets(x).size + sets(y).size - inter) if j >= 0.5
      } yield (x, y)).toSet
      val got = Dedup.prefixJoin(docs).select("x", "y")
        .as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"trial $trial: missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("KmDist codegen loop equals the nested HOF chain on any vector") {
    // r13: the L82/L83 distance+argmin runs as one primitive loop
    // (PcScore posture); pin [dist, cid] parity against the
    // transform/zip_with/aggregate + array_min + array_position chain
    // on adversarial vectors — null elements, wrong lengths, null
    // vectors, exact ties via duplicate centroids. (The overflow
    // regime is REJECTED in both paths — ANSI throws in the chain,
    // add/multiplyExact in the loop — asserted separately below.)
    val rnd = new scala.util.Random(8211)
    val d = 4
    val cents: IndexedSeq[Array[Long]] = IndexedSeq(
      Array(0L, 0L, 0L, 0L),
      Array(1L, 2L, 3L, 4L),
      Array(1L, 2L, 3L, 4L), // duplicate: ties must pick the FIRST
      Array(-5L, 7L, -9L, 11L))
    val name = "graft_km_dist_spec"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => graft.functions.KmDist(exprs.head, cents.toArray),
      "built-in")
    val vecs: Seq[Seq[java.lang.Long]] =
      Seq(null, Seq.empty[java.lang.Long], Seq[java.lang.Long](1L, 2L, 3L),
        Seq[java.lang.Long](1L, null, 3L, 4L),
        Seq[java.lang.Long](1L, 2L, 3L, 4L)) ++
        (1 to 300).map(_ => Seq.fill(d)(
          java.lang.Long.valueOf(rnd.nextInt(21).toLong - 10)))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "xi")
    val lit2 = typedLit(cents.map(_.toSeq))
    val chain = df
      .withColumn("dists", transform(lit2, c =>
        aggregate(zip_with(col("xi"), c, (a, b) => (a - b) * (a - b)),
          lit(0L), (s, x) => s + x)))
      .select(col("vec_id"), array_min(col("dists")).as("dist"),
        array_position(col("dists"), array_min(col("dists"))).as("cid"))
    val fast = df.selectExpr("vec_id", s"$name(xi) AS km")
      .selectExpr("vec_id", "element_at(km, 1) AS dist", "element_at(km, 2) AS cid")
    val a = chain.orderBy("vec_id").collect().toSeq
    val b = fast.orderBy("vec_id").collect().toSeq
    assert(a == b, s"KmDist diverged:\n${a.zip(b).filter(p => p._1 != p._2).take(5)}")
    // overflow rejects (never silently diverges): the loop throws like
    // ANSI's chain does
    intercept[ArithmeticException] {
      graft.functions.KmDist.eval(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array(Long.MaxValue, 0L, 0L, 1L)),
        cents.toArray)
    }
  }

  test("kmeans/kcenter local driver replay equals the distributed rounds") {
    // r13: below the vector-row budget the Lloyd update rounds and the
    // k-center greedy replay on the driver; pin row-for-row equality
    // with both paths forced on random corpora (cluster structure +
    // uniform noise, duplicate points for tie pressure)
    // (k-means rows by vec_id, k-center rows by rk) of the local side,
    // after asserting the distributed side returns the same
    def sides(df: org.apache.spark.sql.DataFrame, what: String)
        : (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
      val Seq(kmL, kmD) = Seq(Long.MaxValue, -1L).map(b =>
        Similarity.kmeansAssign(df, localRowBudget = b).orderBy("vec_id").collect().toSeq)
      assert(kmL == kmD, s"kmeans diverged ($what):\n${kmL.take(5)}\nvs\n${kmD.take(5)}")
      val Seq(kcL, kcD) = Seq(Long.MaxValue, -1L).map(b =>
        Similarity.kcenterSelect(df, localRowBudget = b).orderBy("rk").collect().toSeq)
      assert(kcL == kcD, s"kcenter diverged ($what):\n$kcL\nvs\n$kcD")
      (kmL, kcL)
    }
    val rnd = new scala.util.Random(4133)
    (1 to 3).foreach { t =>
      val n = 40 + rnd.nextInt(40)
      val emb = (1L to n).map { id =>
        val c = rnd.nextInt(3)
        val base = Seq(0.0, 5.0, -5.0)(c)
        (id, Seq.fill(6)(math.rint((base + rnd.nextGaussian()) * 100) / 100))
      } ++ Seq((n + 1L, (1 to 6).map(_ => 0.42)), (n + 2L, (1 to 6).map(_ => 0.42)))
      // a null-holed vector: malformed, so it neither moves a k-means
      // center nor wins a k-center round on either path
      val holed = Seq((n + 3L, Seq[java.lang.Double](9.0, null, 9.0, 9.0, 9.0, 9.0)))
        .toDF("vec_id", "embedding")
      sides(emb.toDF("vec_id", "embedding").unionByName(holed), s"trial $t")
    }
    // the empty corpus: no seeds and no first pick, so no rows
    val empty = sides(Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"), "empty corpus")
    assert(empty == ((Nil, Nil)), s"rows from an empty corpus: $empty")
    // 7 partitions merged on the driver: the identical points of every
    // third vec_id share one k-means cluster, which spans every
    // partition, and the farthest point appears twice, at equal
    // distance, with the smaller vec_id in the later partition; the
    // second k-center pick must be the smaller vec_id
    val spread = (1L to 63L).map(id => (id,
        if (id % 3 == 0) Seq.fill(6)(0.25)
        else Seq.fill(6)(math.rint((Seq(5.0, -5.0)((id % 3).toInt - 1) + rnd.nextGaussian()) * 100) / 100)))
      .patch(5, Seq((501L, Seq.fill(6)(40.0))), 0).patch(60, Seq((500L, Seq.fill(6)(40.0))), 0)
    val parts = spark.createDataFrame(spark.sparkContext.parallelize(spread, 7))
      .toDF("vec_id", "embedding")
    val partOf = parts.select(col("vec_id"), spark_partition_id()).as[(Long, Int)].collect().toMap
    assert(partOf(500L) > partOf(501L), s"the tied points' partitions: $partOf")
    val (kmP, kcP) = sides(parts, "7 partitions")
    val spanning = kmP.filter(r => r.getLong(0) % 3 == 0 && r.getLong(0) <= 63)
    assert(spanning.map(_.get(1)).distinct.size == 1 &&
      spanning.map(r => partOf(r.getLong(0))).toSet == (0 until 7).toSet,
      s"no k-means cluster spans the 7 partitions: $kmP")
    assert(kcP(1).getLong(1) == 500L, s"k-center tie went to the larger vec_id: $kcP")
    // null-holed seeds: every k-means seed and k-center's first pick
    // (the smallest md5 draws) has a null coordinate, as do half the
    // rest. Both sides read a seed's null as 0 and never assign the
    // holed row itself.
    val ids = (1L to 40L).toDF("vec_id")
    def drawn(seed: String, k: Int): Set[Long] =
      ids.orderBy(graft.functions.Portable.md5Long(lit(seed), col("vec_id")), col("vec_id"))
        .limit(k).as[Long].collect().toSet
    val holedIds = drawn("km", 8) ++ drawn("kc", 1) ++ (1L to 20L)
    val seeded = (1L to 40L).map { id =>
      (id, Seq.tabulate[java.lang.Double](6)(i =>
        if (i == 3 && holedIds(id)) null
        else math.rint((Seq(0.0, 5.0, -5.0)((id % 3).toInt) + rnd.nextGaussian()) * 100) / 100))
    }.toDF("vec_id", "embedding")
    val (_, kcL) = sides(seeded, "null-holed seeds")
    assert(holedIds(kcL.head.getLong(1)), "k-center's first pick is not null-holed")
    // near-identical vectors around 1e12: each scaled coordinate is
    // ~1e18, so a center's coordinate sum overflows Long once 10 points
    // share it (80 points, 8 centers: one center has >= 10), while the
    // point-to-center distances stay small. With one update round
    // (iters = 2) that round is the last one kmeansAssign runs before
    // it returns, so both paths must throw there, not hand a wrapped
    // center to the final assignment.
    val huge = (1L to 80L).map(id =>
        (id, Seq.tabulate(4)(i => 1e12 + (id * (i + 1)) % 7 * 0.25)))
      .toDF("vec_id", "embedding")
    def overflows(budget: Long): Boolean =
      try { Similarity.kmeansAssign(huge, iters = 2, localRowBudget = budget); false }
      catch {
        case e: Exception => Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
      }
    assert(overflows(Long.MaxValue), "local k-means wrapped an overflowing center sum")
    assert(overflows(-1L), "distributed k-means wrapped an overflowing center sum")
  }

  test("distributed k-means and k-center leave no RDD persisted") {
    // the checkpointed point RDD goes once the rounds are done
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val emb = (1L to 60L).map(id => (id, Seq.fill(4)((id % 5).toDouble + id * 0.01)))
      .toDF("vec_id", "embedding")
    assert(Similarity.kmeansAssign(emb, localRowBudget = -1L).collect().length == 60)
    assert(Similarity.kcenterSelect(emb, localRowBudget = -1L).collect().length == 8)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"${left.size} persisted RDDs left: ${left.values.mkString(", ")}")
  }

  test("driver replay takes exactly budget rows locally and budget + 1 distributed") {
    import graft.operators.DriverReplay
    val ds = spark.range(5).as[Long]
    assert(DriverReplay.collectWithin(ds, 5L).map(_.toSeq.sorted) == Some(0L to 4L))
    assert(DriverReplay.collectWithin(ds, 4L).isEmpty)
    // the parity specs' forcing budgets: -1 is distributed even on an
    // empty input, Long.MaxValue always replays
    assert(DriverReplay.collectWithin(ds.limit(0), -1L).isEmpty)
    assert(DriverReplay.collectWithin(ds, Long.MaxValue).isDefined)
    // through an operator: 2 pairs are 4 symmetric edge rows, and CC
    // reports 0 rounds on the driver side, > 0 on the distributed one
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("x", "y")
    val docs = (1L to 4L).toDF("doc_id")
    val (local, r4) = Dedup.connectedComponentsWithRounds(pairs, docs, 4L)
    val (dist, r3) = Dedup.connectedComponentsWithRounds(pairs, docs, 3L)
    assert(r4 == 0 && r3 > 0, s"rounds at budget 4: $r4, at budget 3: $r3")
    assert(local.orderBy("doc_id").collect().toSeq == dist.orderBy("doc_id").collect().toSeq)
  }

  test("weighted median crossing matches a reference fold on random groups (C33 property)") {
    val rnd = new scala.util.Random(97)
    for (trial <- 1 to 3) {
      val rows = (0 until 300).map { i =>
        (s"g${i % 4}", math.rint(rnd.nextDouble() * 1000) / 10, 1L + rnd.nextInt(9))
      }
      val df = rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      val got = Relational.weightedMedian(df).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val sorted = rs.map(t => (t._2, t._3)).sortBy(_._1)
        val tot = sorted.map(_._2).sum
        var cum = 0L
        val med = sorted.find { case (_, w) => cum += w; 2 * cum >= tot }.get._1
        assert(got(g) == ((med, tot)), s"trial $trial group $g: ${got(g)} vs ($med, $tot)")
      }
    }
  }
}
