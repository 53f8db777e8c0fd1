package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The public Engine facade under non-default parameters — the paths the
  * oracle-backed registry queries (which use defaults) don't exercise.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("minHashNearDups: wider banding (32x2) finds the same J>=0.9 pairs as 16x4") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    def pairsAt(bands: Int) =
      Engine.minHashNearDups(docs, "doc_id", "text",
          threshold = 0.9, bands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p16 = pairsAt(16)
    assert(p16.nonEmpty)
    // r=2 rows/band has miss probability (1-0.81)^32 ~ 1e-23 at J=0.9:
    // parameterization must not change the verified answer.
    assert(pairsAt(32) == p16)
    p16.foreach { case (a, b) => assert(a < b) }
  }

  test("nearDupClusters: components get the min id; singletons don't appear") {
    import spark.implicits._
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Engine.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("nearDupClusters: an aborted run is recoverable by rerunning from the edge list") {
    import spark.implicits._
    // The loop localCheckpoints its per-round labels, trading lineage
    // (an executor-loss recompute path) for bounded analysis cost; the
    // documented recovery contract is that a failed run is abandoned and
    // the CALLER reruns from the cheap edge list. Exercise exactly that:
    // a long chain whose closure cannot finish in 1 round aborts
    // mid-loop (the same abandon-the-run state a lost checkpoint block
    // leaves behind — checkpointed label blocks from a dead run, plus
    // the persisted edge list), then a fresh full run over the SAME
    // input must converge to the right components, unpolluted by the
    // aborted run's leftovers.
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // driverMaxEdges = 0 forces the distributed loop (the path under test)
    intercept[IllegalStateException] {
      Engine.nearDupClusters(chain, maxIterations = 1, driverMaxEdges = 0)
        .count()
    }
    val got = Engine.nearDupClusters(chain, driverMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("nearDupClusters: driver union-find == distributed loop") {
    import spark.implicits._
    // Adversarial mix: a long chain (pointer-jump territory), a star, a
    // triangle with a pendant, singleton pairs, ids out of order —
    // identical assignment from both paths on the same input.
    val pairs = ((1L until 30L).map(i => (i + 1, i)) ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L),
        (200L, 201L), (201L, 202L), (202L, 200L), (202L, 203L),
        (500L, 400L))).toDF("doc_a", "doc_b")
    val fast = Engine.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Engine.nearDupClusters(pairs, driverMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop)
    assert(fast(30L) == 1L && fast(103L) == 100L &&
      fast(203L) == 200L && fast(500L) == 400L)
  }

  test("cosineTopK: rank 1 of every query is the query itself at cos 1.0") {
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val top1 = Engine.cosineTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 1)
      .collect()
    assert(top1.length == 5)
    top1.foreach { r =>
      assert(r.getLong(0) == r.getLong(2)) // query_id == vec_id
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-6)
    }
  }

  test("constraintAudit: fused conditional sums and the exact duplicate " +
      "count agree with hand counts; null predicates do not count") {
    import spark.implicits._
    val d = Seq(
      (1L, 1, 10.0), (1L, 1, 20.0), // duplicate (key, line)
      (2L, 1, 60.0), (3L, 2, 5.0)
    ).toDF("k", "ln", "qty")
      .withColumn("qty", when(col("k") === 3, lit(null)).otherwise(col("qty")))
    val out = Engine.constraintAudit(d,
        Seq("qty_le_50" -> (col("qty") > 50),
          "k_not_null" -> col("k").isNull),
        uniqueKey = Seq("k", "ln"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    // row 4's NULL qty predicate is neither true nor false — not a
    // violation; the duplicate (1,1) pair counts exactly once.
    assert(out == Set(("qty_le_50", 1L, 4L), ("k_not_null", 0L, 4L),
      ("unique_key", 1L, 4L)))
  }

  test("constraintAudit: a NULL key column is a distinct key value, not " +
      "a duplicate; reserved/duplicate names rejected") {
    import spark.implicits._
    // countDistinct(a, b) would SKIP the (null, 1) tuple and report a
    // phantom duplicate; the struct-distinct counts it (row-value SQL
    // semantics, matching DuckDB's count(DISTINCT (a, b))).
    val d = Seq((Some(1L), 1), (None, 1), (Some(2L), 1))
      .toDF("k", "ln")
    val uniq = Engine.constraintAudit(d,
        Seq("noop" -> lit(false)), uniqueKey = Seq("k", "ln"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(uniq("unique_key") == 0L)
    intercept[IllegalArgumentException] {
      Engine.constraintAudit(d, Seq("unique_key" -> lit(false)),
        uniqueKey = Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Engine.constraintAudit(d,
        Seq("a" -> lit(false), "a" -> lit(true)), uniqueKey = Seq("k"))
    }
  }

  test("constraintAudit: an EMPTY corpus reports 0 violations for every " +
      "check family, never NULL") {
    import spark.implicits._
    // sum() over zero rows is NULL while count−countDistinct is 0 — the
    // coalesce makes the two families agree and getLong safe (r10 advice)
    val empty = Seq.empty[(Long, Int)].toDF("k", "ln")
    val out = Engine.constraintAudit(empty,
        Seq("k_neg" -> (col("k") < 0)), uniqueKey = Seq("k", "ln"))
      .collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(!r.isNullAt(1), s"${r.getString(0)} n_violations was NULL")
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L)
    }
  }

  test("tvdDrift: identical slices show zero gap; disjoint buckets sum " +
      "to total variation 1") {
    import spark.implicits._
    val same = Seq((0, true), (0, false), (1, true), (1, false))
      .toDF("b", "r")
    val zero = Engine.tvdDrift(same, col("r"), !col("r"), col("b"))
      .collect()
    assert(zero.length == 2 && zero.forall(_.getDouble(5) == 0.0))
    val disjoint = Seq((0, true), (0, true), (1, false)).toDF("b", "r")
    val gaps = Engine.tvdDrift(disjoint, col("r"), !col("r"), col("b"))
      .collect().map(_.getDouble(5)).sum
    assert(gaps == 2.0) // TVD = 0.5 * 2.0 = 1: full separation
    // an entirely EMPTY candidate slice is the zero measure: its share
    // is 0.0 and every gap equals the reference share — maximal drift
    // must surface as numbers, never as NULL-on-zero-divide
    val empty = Seq((0, true), (1, true)).toDF("b", "r")
    val rows = Engine.tvdDrift(empty, col("r"), !col("r"), col("b"))
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getDouble(4) == 0.0) // share_cand
      assert(r.getDouble(5) == 0.5) // gap == share_ref
    }
  }

  test("globalIds: dense 0-based ids in key order, robust to a skewed " +
      "input partitioning") {
    val d = Tables.t(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id")).repartition(7) // arbitrary input layout
    val got = Engine.globalIds(d, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    val want = d.collect().map(_.getLong(0)).sorted.zipWithIndex
      .map { case (id, i) => (id, i.toLong) }
    assert(got.toSeq == want.toSeq) // contiguous, gap-free, key-ordered
  }

  test("truncateRerank: with an unpruned shortlist the reranked top-k " +
      "equals the exact brute force; pruned shortlists stay self-first") {
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    // shortlist >= corpus: truncation cannot prune, so stage 2 sees
    // every vector and the output must equal cosineTopK exactly.
    val full = Engine.truncateRerank(e, "vec_id", "embedding",
        q, "vec_id", "embedding", dTrunc = 16, shortlist = n, k = 3)
      .select("query_id", "rnk", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val exact = Engine.cosineTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(full == exact)
    // pruned: the query's own vector has truncated cosine 1.0, so it
    // survives any shortlist and reranks to the top at full precision.
    val pruned = Engine.truncateRerank(e, "vec_id", "embedding",
        q, "vec_id", "embedding", dTrunc = 16, shortlist = 10, k = 1)
      .collect()
    assert(pruned.length == 5)
    pruned.foreach { r =>
      assert(r.getLong(0) == r.getLong(2)) // query_id == vec_id
      assert(math.abs(r.getDouble(4) - 1.0) < 1e-6)
    }
  }

  test("appendIvfIndex: build(90%) + append(10%) serves identically to " +
      "a fresh build over the union") {
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val cents = e.filter(col("vec_id") % 61 === 2) // any fixed seed set
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val full = graft.sources.IO.scratch("enginespec-ivf-full",
      TestSpark.sfDir)
    Engine.buildIvfIndex(e, "vec_id", "embedding",
      cents, "vec_id", "embedding", full)
    val incr = graft.sources.IO.scratch("enginespec-ivf-incr",
      TestSpark.sfDir)
    Engine.buildIvfIndex(e.filter(col("vec_id") % 10 =!= 3),
      "vec_id", "embedding", cents, "vec_id", "embedding", incr)
    Engine.appendIvfIndex(e.filter(col("vec_id") % 10 === 3),
      "vec_id", "embedding", cents, "vec_id", "embedding", incr)
    def serve(path: String) = rows(Engine.searchIvfIndex(
      q, "vec_id", "embedding", cents, "vec_id", "embedding",
      path, nprobe = 2, k = 3))
    assert(serve(incr) == serve(full))
    assert(serve(full).nonEmpty)
  }

  /** (query_id, vec_id) result pairs of an ANN-shaped frame. */
  private def annPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dupSpans: shared runs surface per doc; in-doc repeats merge") {
    import spark.implicits._
    // n=2: "x y" occurs in all three docs (and twice in doc 3, where the
    // two occurrences sit gap=2 apart ⇒ one merged span). "y q" / "z x" /
    // "y x" are corpus-unique and must not appear.
    val docs = Seq(
      (1L, "x y q"),
      (2L, "z x y"),
      (3L, "x y x y")
    ).toDF("doc_id", "text")
    val got = Engine.dupSpans(docs, "doc_id", "text", n = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(got == Set((1L, 1, 2, 2), (2L, 2, 3, 2), (3L, 1, 4, 4)))
  }

  test("kmeansRefine: separated members pull each centroid to their mean") {
    import spark.implicits._
    // 1,2 point along x (cos 1.0 to seed [1,0]), 3 along y → after one
    // round each centroid is the plain per-dim mean of its members.
    val vecs = Seq(
      (1L, Array(2.0f, 0.0f)),
      (2L, Array(4.0f, 0.0f)),
      (3L, Array(0.0f, 3.0f))
    ).toDF("vec_id", "embedding")
    val seeds = Seq(
      (10L, Array(1.0f, 0.0f)),
      (20L, Array(0.0f, 1.0f))
    ).toDF("cid", "ce")
    val got = Engine.kmeansRefine(vecs, "vec_id", "embedding",
        seeds, "cid", "ce", iters = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map((10L, 1) -> 3.0, (10L, 2) -> 0.0,
      (20L, 1) -> 0.0, (20L, 2) -> 3.0))
  }

  test("scrubSpans conserves tokens: kept + dropped positions == doc length") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val spans = Engine.dupSpans(docs, "doc_id", "text", n = 8)
    val dropped = spans.select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("i"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dropped"))
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    val kept = Engine.scrubSpans(docs, "doc_id", "text", spans)
      .select(col("doc_id"), col("n_kept"))
    val joined = lens
      .join(dropped, Seq("doc_id"), "left").na.fill(0, Seq("n_dropped"))
      .join(kept, Seq("doc_id"), "left").na.fill(0, Seq("n_kept"))
    assert(joined.filter(
      col("n_kept") + col("n_dropped") =!= col("n_tokens")).count() == 0)
    // and scrubbing is not vacuous on this corpus
    assert(joined.filter(col("n_dropped") > 0).count() > 0)
  }

  test("heavyHitters: sketch+verify equals the full exact groupBy") {
    val toks = Tables.t(spark, TestSpark.sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    val got = Engine.heavyHitters(toks, col("tok"), supportPct = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = toks.count()
    val exact = toks.groupBy("tok").count()
      .filter(col("count") * 100 >= lit(3) * lit(n))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    assert(got == exact)
  }

  test("decontaminateBloom == decontaminate (no false negatives, FPs verified away)") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    def bag(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = bag(Engine.decontaminate(docs, col("doc_id"), col("text"),
      Engine.stableSample(col("doc_id"), 5)))
    assert(exact.nonEmpty)
    assert(bag(Engine.decontaminateBloom(docs, col("doc_id"), col("text"),
      Engine.stableSample(col("doc_id"), 5))) == exact)
    // even a deliberately tiny, FP-heavy sketch must stay exact — the
    // verify join is what guarantees the result, the bloom only prunes
    assert(bag(Engine.decontaminateBloom(docs, col("doc_id"), col("text"),
      Engine.stableSample(col("doc_id"), 5), numBits = 1L << 8)) == exact)
  }

  test("semanticDedup: hand-built cells drop exactly the near-dup tails") {
    import spark.implicits._
    // Two orthogonal centroids; vectors 1,2,3 cluster on c10 with 1≈2
    // (cos 1.0) and 3 distinct; 4 clusters alone on c20. Expected drops:
    // only 2 (smaller-id near-dup 1 in the same cell).
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f, 0.0f)),   // parallel to 1 → dropped
      (3L, Array(0.9f, 0.0f, 0.9f, 0.0f)),   // same cell, cos≈0.7 < 0.9
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f))    // alone in cell 20
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (20L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("cid", "ce")
    val got = Engine.semanticDedup(vecs, "vec_id", "embedding",
        cents, "cid", "ce", tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 10L, 3L -> 10L, 4L -> 20L))
    // survivors are invariant to the centroid-id labels' order
    val relabeled = Engine.semanticDedup(vecs, "vec_id", "embedding",
        cents.select((col("cid") + 100).as("cid"), col("ce")),
        "cid", "ce", tau = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(relabeled == Set(1L, 3L, 4L))
  }

  test("semanticDedup: the grid-decomposed pair join is slice-invariant") {
    // The r17 grid decomposition's correctness claim, pinned: every
    // unordered within-cell pair lands in >= 1 (p, q) block and the
    // dropped set is greatest(va, vb) de-duplicated — so survivors must
    // be BIT-IDENTICAL for any slice count, including S=1 (the unsalted
    // degenerate). Run the registered q92f shape on the fixture
    // embeddings at S=1 vs the default vs a non-divisor S.
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val cents = e.filter(col("vec_id").isin(
      Seq(3L, 67L, 131L, 195L, 259L, 323L, 387L, 451L): _*))
    def survivorsAt(slices: Int): Set[(Long, Long)] =
      Engine.semanticDedup(e, "vec_id", "embedding",
          cents, "vec_id", "embedding", tau = 0.35, slices = slices)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val unsalted = survivorsAt(1)
    assert(unsalted.nonEmpty)
    assert(survivorsAt(8) == unsalted)
    assert(survivorsAt(5) == unsalted) // non-divisor of the id space
  }

  test("graft.* knobs: a bad value fails naming the knob, a good one " +
      "parses, unset falls back to the default") {
    import Engine.{BucketCompactMaxFiles, ProbeBroadcastMaxCands,
      SemDedupSlices, VerifyBroadcastMaxDocs}
    for ((knob, bad) <- Seq(SemDedupSlices -> "0",
        BucketCompactMaxFiles -> "0", ProbeBroadcastMaxCands -> "-1",
        SemDedupSlices -> "eight", BucketCompactMaxFiles -> "2147483648",
        ProbeBroadcastMaxCands -> "", VerifyBroadcastMaxDocs -> "-1",
        VerifyBroadcastMaxDocs -> "x")) {
      val e = intercept[IllegalArgumentException](knob.parse(Some(bad)))
      assert(e.getMessage.contains(s"graft.${knob.name}="), e.getMessage)
    }
    assert(SemDedupSlices.parse(None) == 8)
    assert(SemDedupSlices.parse(Some(" 5 ")) == 5)
    assert(BucketCompactMaxFiles.parse(None) == 8)
    // 0 is the documented way to force the probe's shuffled attach
    assert(ProbeBroadcastMaxCands.parse(Some("0")) == 0L)
    assert(ProbeBroadcastMaxCands.parse(None) == 1000000L)
    // 0 forces the verify stage's sort-merge attach
    assert(VerifyBroadcastMaxDocs.parse(Some("0")) == 0L)
    assert(VerifyBroadcastMaxDocs.parse(None) == 250000L)
  }

  test("q99/q99b ANN recall@3 against the exact top-k is a bound, not prose") {
    // The q92→q99 cutover's quantified cost: run both approximate ANN
    // operators exactly as registered and measure recall@3 against
    // Engine.cosineTopK (exact brute force) on the same 20-query set.
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val exact = annPairs(Engine.cosineTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe")),
      "query_id", "qe", k = 3))
    assert(exact.size == 60) // 20 queries x top-3
    def recallOf(name: String): Double = {
      val approx = annPairs(SparkEntry.queries(name)(spark, TestSpark.sfDir))
      approx.intersect(exact).size.toDouble / exact.size
    }
    val bucketed = recallOf("q99_bucketed_ann")
    val ivf = recallOf("q99b_ivf_ann")
    val hyper = recallOf("q99f_hyperplane_ann")
    info(f"recall@3: bucketed=$bucketed%.3f ivf=$ivf%.3f hyper=$hyper%.3f")
    // Lower bounds leave headroom under the measured values so a real
    // recall regression (bucket family edit, centroid drift) fails loudly
    // while seed-level jitter does not.
    assert(bucketed >= 0.5, f"bucketed-ANN recall@3 $bucketed%.3f")
    assert(ivf >= 0.5, f"IVF-ANN recall@3 $ivf%.3f")
    // the hyperplane OR construction must BEAT the dim-capped family —
    // being the growth axis is its reason to exist
    assert(hyper >= bucketed,
      f"hyperplane-ANN recall@3 $hyper%.3f < coordinate-LSH $bucketed%.3f")
    assert(hyper >= 0.7, f"hyperplane-ANN recall@3 $hyper%.3f")
  }

  test("q91 banding recall against the exact pair set is a bound, not prose") {
    // minHashNearDups verifies candidates with the exact Jaccard, so its
    // pairs are a subset of the exact set; the only loss is banding
    // misses (theoretical (1-0.8^4)^16 ~ 2e-4 per pair at J=0.8). The
    // exact set comes from jaccardJoin — recall 1.0 by the prefix-filter
    // theorem — run on the SAME shingle family (3-word n-grams, t=0.8).
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val banded = Engine.minHashNearDups(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Engine.jaccardJoin(docs, "doc_id", "text",
        thresholdPct = 80, ngramWords = 3)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(banded.subsetOf(exact),
      s"banded emitted non-pairs: ${banded.diff(exact)}")
    val recall = banded.size.toDouble / exact.size
    info(f"banding recall=$recall%.3f over ${exact.size} exact pairs")
    assert(recall >= 0.9, f"banding recall $recall%.3f")
  }

  test("minHashJoinAcross: banded bipartite candidates + exact verify " +
      "equal the exact prefix-filter join on this fixture, both " +
      "broadcast arms, strictly bipartite") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val (batch, hist) = (docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") % 5 =!= 0))
    val want = Engine.jaccardJoinAcross(batch, hist, "doc_id", "text",
        thresholdPct = 60, ngramWords = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(want.nonEmpty, "test needs at least one qualifying pair")
    def banded(bc: Boolean) = Engine.minHashJoinAcross(batch, hist,
        "doc_id", "text", thresholdPct = 60, numHashes = 64, bands = 16,
        ngramWords = 2, broadcastBounded = bc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val got = banded(bc = true)
    // this fixture's true pairs all sit at J >= 0.889, where the 16x4
    // banding miss probability is (1-0.889^4)^16 ~ 1.5e-7 — and the
    // xxhash64 family is deterministic, so equality here is a stable
    // assertion, not a flaky probabilistic one. jaccard values must be
    // BIT-identical (same merge kernel + integer arithmetic).
    assert(got == want)
    assert(banded(bc = false) == want) // unpinned arm plans differently
    got.foreach { case (l, r, _) =>
      assert(l % 5 == 0 && r % 5 != 0, s"non-bipartite pair ($l, $r)")
    }
  }

  test("minHash dedup index: build + append + search == the in-memory " +
      "bipartite join; append adds files without rewriting history") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val (batch, hist) = (docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") % 5 =!= 0))
    val path = java.nio.file.Files
      .createTempDirectory("mh_index").toString
    try {
      Engine.buildMinHashIndex(
        hist.filter(col("doc_id") % 10 =!= 4), "doc_id", "text", path)
      def partFiles(sub: String): Map[String, Long] = {
        val d = new java.io.File(s"$path/$sub")
        d.listFiles().filter(_.getName.startsWith("part-"))
          .map(f => f.getName -> f.lastModified()).toMap
      }
      val (bandsBefore, docsBefore) = (partFiles("bands"), partFiles("docs"))
      assert(bandsBefore.nonEmpty && docsBefore.nonEmpty)
      Engine.appendMinHashIndex(
        hist.filter(col("doc_id") % 10 === 4), "doc_id", "text", path)
      // append = NEW files only; every pre-append file survives unmodified
      val (bandsAfter, docsAfter) = (partFiles("bands"), partFiles("docs"))
      assert(bandsAfter.size > bandsBefore.size)
      bandsBefore.foreach { case (n, m) => assert(bandsAfter(n) == m) }
      docsBefore.foreach { case (n, m) => assert(docsAfter(n) == m) }
      val got = Engine.searchMinHashIndex(batch, "doc_id", "text", path,
          thresholdPct = 60)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val want = Engine.minHashJoinAcross(batch, hist, "doc_id", "text",
          thresholdPct = 60)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(want.nonEmpty && got == want)
    } finally {
      graft.sources.IO.deleteRec(new java.io.File(path))
    }
  }

  test("dedupIngest: greedy earliest-wins on a real chain — B drops " +
      "against A, C survives because its only match B did not survive") {
    import spark.implicits._
    // A chain at tau=0.6 MUST live near the threshold: Jaccard distance
    // is a metric, so J(A,B), J(B,C) >= 0.85 would force J(A,C) >= 0.7
    // by the triangle inequality — no chain exists there. This fixture
    // sits at J(A,B) = J(B,C) = 11/17 ~ 0.647 and J(A,C) = 8/20 = 0.4;
    // the test passes bands=32 (r=2), where the banding miss at J=0.647
    // is (1-0.647^2)^32 ~ 3e-8 — safe, unlike the default 16x4's 4%
    // at this J (exactly the banded q90d's documented borderline honesty bound).
    val a = (1 to 15).map(i => s"a$i")
    val bTx = (a.take(12) ++ (1 to 3).map(i => s"b$i")).mkString(" ")
    val cTx = ((1 to 3).map(i => s"c$i") ++ a.slice(3, 12) ++
      (1 to 3).map(i => s"b$i")).mkString(" ")
    val docs = Seq((1L, a.mkString(" "), 0L), (2L, bTx, 1L),
      (3L, cTx, 2L)).toDF("doc_id", "text", "slot")
    // the chain shape holds on the EXACT side: (A,B) and (B,C) qualify
    // at tau=0.6, (A,C) does not
    val pairs = Engine.jaccardJoin(docs, "doc_id", "text",
        thresholdPct = 60, ngramWords = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)))
    for (backend <- ingestBackends) withIngest(backend) { ingest =>
      val got = ingest(docs, 32)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 0L), (3L, 2L)),
        s"$backend: greedy chain broken: $got")
    }
  }

  private val ingestBackends = Seq("path", "bucketed")

  /** The ingest loop over one index backend at a fixed index path —
    * batches by `slot`, tau=0.6, 64 hashes in the given number of
    * bands — plus a reader of the index tables it wrote. */
  private final class IngestRun(backend: String, path: String,
      table: String) {
    def apply(docs: org.apache.spark.sql.DataFrame,
        bands: Int): org.apache.spark.sql.DataFrame =
      if (backend == "path")
        Engine.dedupIngest(docs, "doc_id", "text", col("slot"), path,
          thresholdPct = 60, bands = bands)
      else
        Engine.dedupIngestBucketed(docs, "doc_id", "text", col("slot"),
          path, table, thresholdPct = 60, bands = bands)
    /** index table `sub` ("bands" or "docs") */
    def index(sub: String): org.apache.spark.sql.DataFrame =
      if (backend == "path") spark.read.parquet(s"$path/$sub")
      else spark.table(s"${table}_$sub")
  }

  /** Run `body` with an [[IngestRun]] at a fresh index path, then clean
    * up. */
  private def withIngest(backend: String)(body: IngestRun => Unit): Unit = {
    val path = java.nio.file.Files
      .createTempDirectory(s"ingest_$backend").toString
    val table = "engspec_ingest_idx"
    try body(new IngestRun(backend, path, table))
    finally {
      graft.sources.IO.deleteRec(new java.io.File(path))
      Seq("bands", "docs").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${table}_$t"))
    }
  }

  test("searchMinHashIndexBucketed: bit-identical to the path-based " +
      "probe over the same corpus (shared probe body, catalog layout)") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val path = java.nio.file.Files
      .createTempDirectory("mh_bucketed_eq").toString
    try {
      Engine.buildMinHashIndex(hist, "doc_id", "text", path)
      // bucketed side exercises the FULL lifecycle: build 90%, append
      // the rest — the appended bucket files must probe identically
      Engine.buildMinHashIndexBucketed(
        hist.filter(col("doc_id") % 10 =!= 4), "doc_id", "text",
        "mh_bucketed_eq_idx")
      Engine.appendMinHashIndexBucketed(
        hist.filter(col("doc_id") % 10 === 4), "doc_id", "text",
        "mh_bucketed_eq_idx")
      def set(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaPath = set(Engine.searchMinHashIndex(
        batch, "doc_id", "text", path, thresholdPct = 60))
      val viaTable = set(Engine.searchMinHashIndexBucketed(
        batch, "doc_id", "text", "mh_bucketed_eq_idx", thresholdPct = 60))
      assert(viaTable == viaPath && viaPath.nonEmpty,
        s"bucketed ${viaTable.size} vs path ${viaPath.size}")
    } finally {
      graft.sources.IO.deleteRec(new java.io.File(path))
      spark.sql("DROP TABLE IF EXISTS mh_bucketed_eq_idx_bands")
      spark.sql("DROP TABLE IF EXISTS mh_bucketed_eq_idx_docs")
    }
  }

  test("chunkNovelty: a doc rebuilt from indexed paragraphs reads ~0% " +
      "novel, fresh text ~100%, and an edited doc only pays for its edit") {
    import spark.implicits._
    val para1 = "the quick brown fox jumps over the lazy dog " * 6
    val para2 = "pack my box with five dozen liquor jugs today " * 6
    val fresh = "completely new content never indexed before xyz " * 6
    val hist = Seq((1L, para1), (2L, para2)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, para1 + para2),          // pure recombination of history
      (11L, fresh),                  // entirely novel
      (12L, "EDIT! " + para1)        // one edit at the head
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("chunk_idx").toString
    try {
      Engine.buildChunkIndex(hist, col("doc_id"), col("text"), path)
      val got = Engine.chunkNovelty(batch, col("doc_id"), col("text"),
        path).collect()
        .map(r => r.getLong(0) -> r.getDouble(5)).toMap
      // recombination: only the paragraph SEAM chunks can be novel
      assert(got(10L) < 0.15, s"recombined doc read ${got(10L)} novel")
      assert(got(11L) == 1.0, s"fresh doc read ${got(11L)} novel")
      // content-defined boundaries localize the edit: far less than the
      // whole doc re-keys (fixed-offset chunking would pay ~100%)
      assert(got(12L) < 0.35, s"edited doc read ${got(12L)} novel")
      assert(got(12L) > 0.0)
    } finally {
      graft.sources.IO.deleteRec(new java.io.File(path))
    }
  }

  test("centroidDrift: identical cohorts read cos 1 / shift 0; an " +
      "offset cohort reads the hand-computed drift") {
    import spark.implicits._
    // cohorts 0 and 1 identical; cohort 2 = cohort 1 shifted by +2 on
    // dim 0 (vectors chosen so means are exact in decimal)
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (0L, Seq(3.0f, 2.0f)),  // mean (2, 1)
      (1L, Seq(1.0f, 0.0f)), (1L, Seq(3.0f, 2.0f)),  // mean (2, 1)
      (2L, Seq(5.0f, 0.0f)), (2L, Seq(3.0f, 2.0f))   // mean (4, 1)
    ).toDF("c", "embedding")
    val got = Engine.centroidDrift(df, "embedding", col("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // cos((2,1),(4,1)) = 9 / (sqrt5 * sqrt17); shift = 2
    val cos12 = r6(9.0 / math.sqrt(5.0 * 17.0))
    assert(got.toSeq == Seq((0L, 1L, 1.0, 0.0), (1L, 2L, cos12, 2.0)))
  }

  test("splitLeakage: a near-dup pair across splits is reported; the " +
      "same-split twin and the dissimilar cross-split doc are not") {
    import spark.implicits._
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val aDup = (1 to 28).map(i => s"w$i").mkString(" ") + " x1 x2"
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, a, "train"), (2L, aDup, "test"),
      (3L, a, "train"), (4L, other, "test"))
      .toDF("doc_id", "text", "sp")
    val got = Engine.splitLeakage(df, "doc_id", "text", col("sp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 3L)), s"got $got")
  }

  test("compactMinHashIndex: file counts shrink to the target, the probe " +
      "is bit-identical, and a leftover temp dir from a crash is ignored") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val path = java.nio.file.Files
      .createTempDirectory("mh_compact").toString
    try {
      Engine.buildMinHashIndex(
        hist.filter(col("doc_id") % 10 =!= 4), "doc_id", "text", path)
      Engine.appendMinHashIndex(
        hist.filter(col("doc_id") % 10 === 4), "doc_id", "text", path)
      def files(sub: String) = new java.io.File(s"$path/$sub")
        .listFiles().count(_.getName.startsWith("part-"))
      def probe() = Engine.searchMinHashIndex(
          batch, "doc_id", "text", path, thresholdPct = 60)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val before = probe()
      val (fb, fd) = (files("bands"), files("docs"))
      // a dead compaction's temp dir must not break the next run
      new java.io.File(s"$path/__compact_bands").mkdirs()
      Engine.compactMinHashIndex(spark, path, files = 1)
      assert(files("bands") == 1 && files("docs") == 1,
        s"expected 1 file each, got bands=${files("bands")} " +
          s"docs=${files("docs")} (was $fb/$fd)")
      assert(fb > 1 && fd > 1, s"fixture too small to prove compaction")
      assert(probe() == before && before.nonEmpty)
      // crash windows: stop a swap after rename 1 (live gone, the
      // finished rewrite in __compact) and after rename 2 (old files
      // still in __trash); the next compaction must recover both
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def at(n: String) = new org.apache.hadoop.fs.Path(s"$path/$n")
      for (renames <- Seq(1, 2)) {
        Seq("bands", "docs").foreach { sub =>
          spark.read.parquet(s"$path/$sub")
            .write.parquet(s"$path/__compact_$sub")
          assert(fs.rename(at(sub), at(s"__trash_$sub")))
          if (renames == 2) assert(fs.rename(at(s"__compact_$sub"), at(sub)))
        }
        Engine.compactMinHashIndex(spark, path, files = 1)
        assert(probe() == before, s"crash after rename $renames")
        assert(new java.io.File(path).list().sorted.toSeq ==
          Seq("bands", "docs"), s"leftovers after rename $renames")
        assert(files("bands") == 1 && files("docs") == 1)
      }
    } finally {
      graft.sources.IO.deleteRec(new java.io.File(path))
    }
  }

  test("compactBucketedIndex: per-bucket files fold to one, the probe " +
      "is bit-identical, and a leftover temp table from a crash is " +
      "ignored") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val table = "engspec_bkt_compact_idx"
    val buckets = 4
    def files(sub: String) = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_$sub")))
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(loc).count(_.getPath.getName.startsWith("part-"))
    }
    def probe() = Engine.searchMinHashIndexBucketed(
        batch, "doc_id", "text", table, thresholdPct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    Engine.buildMinHashIndexBucketed(
      hist.filter(col("doc_id") % 10 =!= 4), "doc_id", "text", table,
      numBuckets = buckets)
    Engine.appendMinHashIndexBucketed(
      hist.filter(col("doc_id") % 10 === 4), "doc_id", "text", table,
      numBuckets = buckets)
    val before = probe()
    // the aligned write lands one file per bucket per write
    assert(files("bands") == 2 * buckets && files("docs") == 2 * buckets,
      s"expected ${2 * buckets} files, got bands=${files("bands")} " +
        s"docs=${files("docs")}")
    // a dead compaction's temp table must not break the next run
    spark.range(1).write.mode("overwrite")
      .saveAsTable(s"${table}__compact_bands")
    // below threshold: the cadence gate must NOT compact
    assert(!Engine.maybeCompactBucketedIndex(spark, table, buckets,
      maxFilesPerBucket = 2))
    assert(files("bands") == 2 * buckets)
    // at threshold 1 it must: one sorted file per bucket, same rows
    assert(Engine.maybeCompactBucketedIndex(spark, table, buckets,
      maxFilesPerBucket = 1))
    assert(files("bands") == buckets && files("docs") == buckets,
      s"expected $buckets files, got bands=${files("bands")} " +
        s"docs=${files("docs")}")
    assert(probe() == before && before.nonEmpty)
    // crash windows, as in the path test, with the catalog rename as the
    // atom: after rename 1 and after rename 2 (trash not yet dropped)
    for (renames <- Seq(1, 2)) {
      Seq("bands" -> Seq("__band", "__bh"), "docs" -> Seq("doc_id"))
        .foreach { case (sub, keys) =>
          val (live, tmp, trash) = (s"${table}_$sub",
            s"${table}__compact_$sub", s"${table}__trash_$sub")
          spark.table(live).write
            .bucketBy(buckets, keys.head, keys.tail: _*)
            .sortBy(keys.head, keys.tail: _*)
            .format("parquet").saveAsTable(tmp)
          spark.sql(s"ALTER TABLE $live RENAME TO $trash")
          if (renames == 2) spark.sql(s"ALTER TABLE $tmp RENAME TO $live")
        }
      Engine.compactBucketedIndex(spark, table, buckets)
      assert(probe() == before, s"crash after rename $renames")
      val left = for {
        sub <- Seq("bands", "docs"); stage <- Seq("compact", "trash")
        t = s"${table}__${stage}_$sub"
        if spark.catalog.tableExists(t) || new java.io.File(
          spark.sessionState.catalog.defaultTablePath(
            org.apache.spark.sql.catalyst.TableIdentifier(t))).exists()
      } yield t
      assert(left.isEmpty, s"leftovers after rename $renames: $left")
      assert(files("bands") == buckets && files("docs") == buckets)
    }
  }

  test("dedupIngest: the ingest loop compacts a path index on the " +
      "bucketed cadence, and its survivors equal the bucketed loop's") {
    val batches = 31
    // the fixture is one parquet file, so every batch is one scan
    // partition and each append lands one bands file
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
      .withColumn("slot", col("doc_id") % batches)
    val path = java.nio.file.Files
      .createTempDirectory("ingest_cadence").toString
    def bandFiles(): Int = Option(new java.io.File(s"$path/bands")
      .listFiles()).fold(0)(_.count(_.getName.startsWith("part-")))
    // one bucket: the cadence compacts past bucketCompactMaxFiles files.
    // The count is sampled at every job end; each sample is a state the
    // directory really had while the loop ran
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val sampler = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        seen.add(bandFiles())
    }
    def survivors(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.sparkContext.addSparkListener(sampler)
    try {
      val viaPath = survivors(Engine.ingest(
        Engine.PathIndex(spark, path, numBuckets = 1,
          idType = Some(docs.schema("doc_id").dataType)),
        docs, "doc_id", "text", col("slot"), path, thresholdPct = 60,
        numHashes = 64, bands = 16, ngramWords = 2))
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      val bound = Engine.bucketCompactMaxFiles + 1
      val counts = seen.asScala.map(_.intValue).toSeq :+ bandFiles()
      assert(counts.max <= bound,
        s"bands files exceeded $bound: ${counts.mkString(",")}")
      // an append never deletes a file, so a drop is a compaction
      assert(counts.zip(counts.tail).exists { case (a, b) => b < a },
        s"no compaction: ${counts.mkString(",")}")
      assert(viaPath.nonEmpty)
      withIngest("bucketed") { ingest =>
        assert(survivors(ingest(docs, 16)) == viaPath)
      }
    } finally {
      spark.sparkContext.removeSparkListener(sampler)
      graft.sources.IO.deleteRec(new java.io.File(path))
    }
  }

  test("dedupIngest: a doc too short to shingle in a later batch is " +
      "accepted but never enters the index (both backends)") {
    import spark.implicits._
    // doc 3 has one word: no bigram, so no signature to probe or index
    val docs = Seq((1L, "alpha beta gamma delta", 0L),
      (2L, "epsilon zeta eta theta", 1L), (3L, "solo", 1L))
      .toDF("doc_id", "text", "slot")
    for (backend <- ingestBackends) withIngest(backend) { ingest =>
      val got = ingest(docs, 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 0L), (2L, 1L), (3L, 1L)), backend)
      for (sub <- Seq("bands", "docs"))
        assert(ingest.index(sub).select("doc_id").as[Long].collect()
          .toSet == Set(1L, 2L), s"$backend $sub")
    }
  }

  test("dedupIngest: every batch releases the frames it cached " +
      "(both backends)") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
      .withColumn("slot", col("doc_id") % 3)
    for (backend <- ingestBackends) withIngest(backend) { ingest =>
      val before = spark.sparkContext.getPersistentRDDs.size
      assert(ingest(docs, 16).count() > 0)
      assert(spark.sparkContext.getPersistentRDDs.size == before, backend)
    }
  }

  test("dedupIngest: a rerun at the same indexPath with a CHANGED batch " +
      "set leaves no phantom survivors from the prior run") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta", 0L),
      (2L, "epsilon zeta eta theta", 1L),
      (3L, "iota kappa lambda mu", 2L))
      .toDF("doc_id", "text", "slot")
    for (backend <- ingestBackends) withIngest(backend) { ingest =>
      // first run ingests slots {0, 1, 2}; all distinct texts survive
      val first = ingest(docs, 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(first == Set((1L, 0L), (2L, 1L), (3L, 2L)), backend)
      // rerun with only slots {0, 1}: slot 2's accepted/batch=2 dir from
      // the first run must NOT resurface via partition discovery
      val second = ingest(docs.filter(col("slot") < 2), 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(second == Set((1L, 0L), (2L, 1L)),
        s"$backend: stale accepted partitions leaked into: $second")
    }
  }

  test("deleteFromIvfIndex: a non-numeric id fails loudly instead of " +
      "writing a tombstone that silently matches nothing") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("ivf_tomb").toString
    try {
      val e = intercept[Exception] {
        Engine.deleteFromIvfIndex(
          Seq("doc-a", "doc-b").toDF("id"), "id", path)
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("does not cast to BIGINT")),
        s"unexpected failure: $e")
      // numeric ids (any castable type) still write fine
      Engine.deleteFromIvfIndex(Seq("7", "9").toDF("id"), "id", path)
      val tomb = spark.read.parquet(s"$path/_tombstones")
        .collect().map(_.getLong(0)).toSet
      assert(tomb == Set(7L, 9L))
    } finally {
      graft.sources.IO.deleteRec(new java.io.File(path))
    }
  }

  test("stableSample: partition-invariant and near the requested fraction") {
    val orders = Tables.t(spark, TestSpark.sfDir, "orders")
    def sampled(parts: Int) = orders.repartition(parts)
      .filter(Engine.stableSample(col("o_orderkey"), 10))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val s1 = sampled(1)
    assert(sampled(7) == s1) // same keys however the data is partitioned
    val frac = s1.size.toDouble / orders.count()
    assert(frac > 0.05 && frac < 0.16, s"fraction $frac")
  }

  test("verify attach: forced sort-merge branch == broadcast branch (the 100 TB shape)") {
    // The verifyBroadcastMaxDocs gate never flips below 250k docs, so
    // without forcing it the sort-merge attach — the ONLY shape a 100 TB
    // corpus can run — would go to production untested. Force it
    // through the shared verify's gate parameter and require each of
    // the three prefix-filter joins to match its default (broadcast)
    // output bit for bit. The forced side runs in a session with
    // automatic broadcasts off: at this fixture's size the planner
    // would otherwise broadcast the array tables on its own estimate,
    // and no sort-merge attach would run.
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val budget = Engine.exactJoinDefaultBudget
    val noAuto = spark.newSession()
    Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .foreach(noAuto.conf.set(_, "-1"))
    val sdocs = Tables.t(noAuto, TestSpark.sfDir, "documents")
    def sortMerged(c: Engine.Candidates) = {
      val df = Engine.verify(c, broadcastMaxDocs = 0L)
      df.collect() // an adaptive plan is final once it has run
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(s"SortMergeJoin [${c.idA}#"), plan)
      df
    }
    def jac(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def cont(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val viaBroadcast = (
      jac(Engine.jaccardJoin(docs, "doc_id", "text", thresholdPct = 60)),
      jac(Engine.jaccardJoinAcross(batch, hist, "doc_id", "text",
        thresholdPct = 60)),
      cont(Engine.containmentJoin(docs, docs, "doc_id", "text",
        thresholdPct = 80)))
    assert(viaBroadcast._1.nonEmpty && viaBroadcast._3.nonEmpty)
    val viaSortMerge = (
      jac(sortMerged(Engine.jaccardCandidates(sdocs, "doc_id", "text",
        60, 2, budget))),
      jac(sortMerged(Engine.jaccardAcrossCandidates(
        sdocs.filter(col("doc_id") % 5 === 0),
        sdocs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", 60, 2, broadcastBounded = false, budget))),
      cont(sortMerged(Engine.containmentCandidates(sdocs, sdocs, "doc_id",
        "text", 80, 2, budget))))
    assert(viaSortMerge == viaBroadcast)
  }

  test("jaccardJoin: prefix filtering finds EXACTLY the brute-force pairs (recall 1.0)") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val got = Engine.jaccardJoin(docs, "doc_id", "text",
        thresholdPct = 60, ngramWords = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Brute force: all pairs, exact bigram Jaccard, same integer-exact
    // threshold — the prefix-filter theorem says the sets must be EQUAL
    // (not just contained), unlike MinHash's probabilistic recall.
    val sets = docs
      .withColumn("sv", Engine.wordNgrams(split(col("text"), " "), 2))
      .filter(size(col("sv")) >= 1)
      .select(col("doc_id"), col("sv"))
    val a = sets.select(col("doc_id").as("doc_a"), col("sv").as("sa"))
    val b = sets.select(col("doc_id").as("doc_b"), col("sv").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val uni = size(col("sa")) + size(col("sb")) - inter
    val want = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .filter(inter * 100 >= uni * 60)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "test needs at least one qualifying pair")
    assert(got == want)
  }

  test("exact-join priced gate: over-budget joins refuse with the banded " +
      "exit named; the explicit override runs them unchanged") {
    // The r11 q90p flood (2.6 GB spill) is exactly the number the gate
    // prices — a new call site must hit a refusal, not the flood. A
    // 1-pair budget guarantees refusal on this corpus for all three
    // exact forms; MaxValue must run them to the same answer.
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    def refuses(df: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception] {
        df.write.format("noop").mode("overwrite").save()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val all = msgs(e).mkString(" ")
      // each form's refusal must name ITS banded exit (containment's
      // is containmentJoinBanded since r14; the Jaccard forms name the
      // MinHash family)
      assert(all.contains("maxCandidatePairs") &&
        (all.contains("minHashNearDups") ||
          all.contains("minHashJoinAcross") ||
          all.contains("containmentJoinBanded")), all.take(500))
    }
    refuses(Engine.jaccardJoin(docs, "doc_id", "text",
      thresholdPct = 60, maxCandidatePairs = 1L))
    refuses(Engine.jaccardJoinAcross(batch, hist, "doc_id", "text",
      thresholdPct = 60, maxCandidatePairs = 1L))
    refuses(Engine.containmentJoin(batch, docs, "doc_id", "text",
      thresholdPct = 80, maxCandidatePairs = 1L))
    // the override (and the in-budget default) computes the identical
    // answer the round-12 plans computed
    val viaDefault = Engine.jaccardJoin(docs, "doc_id", "text",
        thresholdPct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaOverride = Engine.jaccardJoin(docs, "doc_id", "text",
        thresholdPct = 60, maxCandidatePairs = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDefault.nonEmpty && viaDefault == viaOverride)
  }

  test("prefix-filter joins: the self-join, bipartite and containment " +
      "forms find EXACTLY the brute-force pairs") {
    // The length, positional and asymmetric-prefix filters prune inside
    // the candidate join; this pins that they prune ONLY false pairs —
    // set equality against brute force, not ⊆ — for all three forms.
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val sets = docs
      .withColumn("sv", Engine.wordNgrams(split(col("text"), " "), 2))
      .filter(size(col("sv")) >= 1)
      .select(col("doc_id"), col("sv"))
    val gotSelf = Engine.jaccardJoin(docs, "doc_id", "text",
        thresholdPct = 60)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val sa0 = sets.select(col("doc_id").as("pa"), col("sv").as("sa"))
    val sb0 = sets.select(col("doc_id").as("pb"), col("sv").as("sb"))
    val interS = size(array_intersect(col("sa"), col("sb")))
    val uniS = size(col("sa")) + size(col("sb")) - interS
    val wantSelf = sa0.crossJoin(sb0).filter(col("pa") < col("pb"))
      .filter(interS * 100 >= uniS * 60)
      .select("pa", "pb")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(wantSelf.nonEmpty && gotSelf == wantSelf)
    val gotAcross = Engine.jaccardJoinAcross(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", thresholdPct = 60)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val la = sets.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("lid"), col("sv").as("sa"))
    val rb = sets.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("rid"), col("sv").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val uni = size(col("sa")) + size(col("sb")) - inter
    val wantAcross = la.crossJoin(rb).filter(inter * 100 >= uni * 60)
      .select("lid", "rid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(wantAcross.nonEmpty, "test needs at least one qualifying pair")
    assert(gotAcross == wantAcross)
    val gotCont = Engine.containmentJoin(docs, docs, "doc_id", "text",
        thresholdPct = 80)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val ca = sets.select(col("doc_id").as("da"), col("sv").as("sa"))
    val cb = sets.select(col("doc_id").as("db"), col("sv").as("sb"))
    val wantCont = ca.crossJoin(cb).filter(col("da") =!= col("db"))
      .filter(size(array_intersect(col("sa"), col("sb"))) * 100 >=
        size(col("sa")) * 80)
      .select("da", "db")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(wantCont.nonEmpty, "test needs at least one contained pair")
    assert(gotCont == wantCont)
  }

  test("quantizeInt8: codes bounded, L1 error within the half-step bound, " +
      "zero vector quantizes to zeros not NaN") {
    import spark.implicits._
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val out = Engine.quantizeInt8(e, "vec_id", "embedding").collect()
    assert(out.nonEmpty)
    val dims = e.select(size(col("embedding"))).head().getInt(0)
    out.foreach { r =>
      val (scale, cmin, cmax, err) =
        (r.getDouble(1), r.getInt(3), r.getInt(4), r.getDouble(5))
      // symmetric quantization: |code| ≤ 127 with no clamp (|x| ≤ 127·scale)
      assert(cmin >= -127 && cmax <= 127, s"codes out of range: $r")
      // per-dim error ≤ scale/2 (round-to-nearest), so L1 ≤ dims·scale/2
      // (+ the 1e-6 decimal grid per term)
      assert(err <= dims * (scale + 1e-6) / 2 + dims * 1e-6,
        s"recon error above the half-step bound: $r")
    }
    // the all-zero vector: scale 0 must yield zero codes and zero error,
    // never a 0/0 NaN; the zero-LENGTH vector is excluded entirely
    // (nothing to quantize — not an all-NULL row)
    val mixed = Engine.quantizeInt8(
      Seq((1L, Array.fill(8)(0f)), (2L, Array.empty[Float]))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding").collect()
    assert(mixed.length == 1)
    val z = mixed.head
    assert(z.getLong(0) == 1L && z.getDouble(1) == 0.0 &&
      z.getLong(2) == 0L && z.getInt(3) == 0 && z.getInt(4) == 0 &&
      z.getDouble(5) == 0.0)
  }

  test("exactDedup: doubled input halves to one keeper per distinct text") {
    val d = Tables.t(spark, TestSpark.sfDir, "documents")
    val out = Engine.exactDedup(d.unionAll(d), col("doc_id"), col("text"))
    assert(out.count() == d.select("text").distinct().count())
    assert(out.filter(col("n_copies") =!= 2).count() == 0)
  }

  test("sessionize: session count and coverage respond to the gap parameter") {
    import spark.implicits._
    // user 1: events at 0, 10, 50, 65 min; user 2: a single event
    val ev = Seq((1L, 0L, 100L), (1L, 600L, 101L), (1L, 3000L, 102L),
      (1L, 3900L, 103L), (2L, 0L, 200L))
      .map { case (u, s, id) =>
        (u, new java.sql.Timestamp(1700000000000L + s * 1000), id)
      }.toDF("user_id", "ts", "event_id")
    def sessions(gapSec: Long) =
      Engine.sessionize(ev, col("user_id"), col("ts"), col("event_id"),
        gapSec).collect()
    // 30-min gap: user 1 -> {0,10,50,65} splits at the 40-min hole = 2
    // sessions; user 2 -> 1.
    assert(sessions(30 * 60).length == 3)
    // 12-min gap: the 40- and 15-min holes split -> user 1 has 3 sessions.
    assert(sessions(12 * 60).length == 4)
    // 5-min gap: every hole splits -> 4 + 1 singleton sessions.
    assert(sessions(5 * 60).length == 5)
    // every event is covered exactly once at any gap
    assert(sessions(30 * 60).map(_.getInt(4)).sum == 5)
  }

  test("gapFill: interpolated slots sit between their brackets; observed slots pass through") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .filter(col("event_type") === "click")
    val filled = Engine.gapFill(ev, col("event_type"), col("ts"),
      col("value"), slotSeconds = 3600)
    val rows = filled.orderBy("wstart").collect()
    assert(rows.nonEmpty)
    // dense spine: one row per hour slot between the observed bounds
    val n = rows.length
    val span = (rows.last.getTimestamp(0).getTime -
      rows.head.getTimestamp(0).getTime) / 1000 / 3600 + 1
    assert(n == span, s"spine has $n rows for $span slots")
    // no nulls escape: every slot carries a value (edges take nearest)
    assert(rows.forall(!_.isNullAt(3)))
  }

  test("compact: one file per partition value, content untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact")
    val raw = s"$tmp/raw"
    val out = s"$tmp/compacted"
    val li = Tables.t(spark, TestSpark.sfDir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity")
    li.repartition(16)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(raw)
    def filesPerPartition(path: String): Map[String, Int] = {
      val base = new java.io.File(path)
      base.listFiles().filter(_.getName.startsWith("l_returnflag="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val before = filesPerPartition(raw)
    assert(before.values.forall(_ > 1), s"expected small files, got $before")
    Engine.compact(spark, raw, out, Seq("l_returnflag"))
    val after = filesPerPartition(out)
    assert(after.keySet == before.keySet)
    assert(after.values.forall(_ == 1), s"expected 1 file/partition, got $after")
    // content identical (order-free bag compare via counts per group)
    val want = li.groupBy("l_returnflag", "l_linestatus").count()
      .collect().map(_.toString).sorted.toSeq
    val got = spark.read.parquet(out)
      .groupBy("l_returnflag", "l_linestatus").count()
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("decontaminate: flags exactly the non-benchmark docs sharing an n-gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f", true), // benchmark doc
      (2L, "a b c d e f", false), // exact copy -> contaminated
      (3L, "x b c d e f", false), // shares no 6-gram with benchmark
      (4L, "q r s t u v", false)) // disjoint
      .toDF("doc_id", "text", "bench")
    val got = Engine.decontaminate(docs, col("doc_id"), col("text"),
        col("bench"), n = 6)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(2L -> 1))
    // shorter grams widen the net: 5-grams catch doc 3's "b c d e f"
    val got5 = Engine.decontaminate(docs, col("doc_id"), col("text"),
        col("bench"), n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(got5 == Set(2L, 3L))
  }

  test("zOrderKey: bit interleaving and 2-D file pruning beat a linear sort") {
    import spark.implicits._
    // a=3 -> bits 0,1 -> even positions 0,2 = 5; b=1 -> odd position 1 = 2
    val z = Seq((3L, 1L)).toDF("a", "b")
      .select(Engine.zOrderKey(col("a"), col("b"), bits = 4))
      .head().getLong(0)
    assert(z == 7L)
    // Layout comparison on a 256×256 grid, 16 files each. A 4096-row
    // z-block is an axis-aligned 64×64 square of the grid, so the
    // y < 16 stripe intersects only the 4 squares with y-block 0 —
    // z-order confines the stripe to ~4 files (range-partition boundary
    // sampling can clip a couple more), while the x-sorted linear layout
    // has no y locality at all and the stripe rides every file.
    val grid = spark.range(256L * 256)
      .select((col("id") / 256).cast("long").as("x"),
        (col("id") % 256).as("y"))
    val zDir = graft.sources.IO.scratch("zorder-test", TestSpark.sfDir)
    val linDir = graft.sources.IO.scratch("linear-test", TestSpark.sfDir)
    grid.withColumn("__z", Engine.zOrderKey(col("x"), col("y"), bits = 8))
      .repartitionByRange(16, col("__z")).sortWithinPartitions("__z")
      .drop("__z").write.mode("overwrite").parquet(zDir)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linDir)
    def filesTouched(dir: String): Long = spark.read.parquet(dir)
      .filter(col("y") < 16)
      .select(input_file_name()).distinct().count()
    val (zf, lf) = (filesTouched(zDir), filesTouched(linDir))
    assert(lf == 16, s"linear layout should spread the stripe, got $lf")
    assert(zf <= 6, s"z-order should confine the stripe, touched $zf files")
  }

  test("dedupChunks: first occurrence survives, reassembly preserves order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),  // chunks (K=2): "a b", "c d"
      (2L, "c d a b"),  // both chunks already seen in doc 1 -> empty
      (3L, "a b x y"),  // "a b" dup, "x y" fresh
      (4L, "z"))        // single short tail chunk
      .toDF("doc_id", "text")
    val got = Engine.dedupChunks(docs, "doc_id", "text", chunkWords = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got == Map(
      1L -> ((2, 2, "a b c d")),
      2L -> ((2, 0, "")),
      3L -> ((2, 1, "x y")),
      4L -> ((1, 1, "z"))))
    // idempotence: rerunning on the deduped text removes nothing further
    val round2 = Engine.dedupChunks(
      Engine.dedupChunks(docs, "doc_id", "text", 2)
        .filter(col("text_dedup") =!= "")
        .select(col("doc_id"), col("text_dedup").as("text")),
      "doc_id", "text", 2)
    assert(round2.filter(col("kept_chunks") =!= col("total_chunks")).count() == 0)
  }

  test("packSequences: shards pack independently, capacity bounds sequence starts") {
    import spark.implicits._
    val docs = Seq(
      // shard s0: tokens 6,6,6 with cap 10 -> starts 0,6,12 -> seqs 0,0,1
      ("s0", 1L, 6L), ("s0", 2L, 6L), ("s0", 3L, 6L),
      // shard s1: one oversized doc still lands in seq 0
      ("s1", 1L, 25L), ("s1", 2L, 5L))
      .toDF("shard", "id", "nt")
    val got = Engine.packSequences(docs, col("shard"), col("id"),
        col("nt"), capTokens = 10)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getInt(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      ("s0", 0) -> ((2, 12L)), ("s0", 1) -> ((1, 6L)),
      ("s1", 0) -> ((1, 25L)), ("s1", 2) -> ((1, 5L))))
  }

  test("stratified stableSample: per-stratum rate column matches the scalar form") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    // constant rate column == scalar overload, row for row
    val viaCol = docs.filter(Engine.stableSample(col("doc_id"), lit(10)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaInt = docs.filter(Engine.stableSample(col("doc_id"), 10))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaCol == viaInt && viaCol.nonEmpty)
  }

  test("containmentJoin: finds the subsumed doc that Jaccard misses") {
    import spark.implicits._
    // a's bigrams are a strict subset of b's: containment(a→b) = 1.0,
    // but J = 2/9 — far below any useful symmetric threshold
    val docs = Seq(
      (1L, "x y z"),
      (2L, "x y z p q r s t u v"),
      (3L, "m n o")).toDF("doc_id", "text")
    val got = Engine.containmentJoin(docs, docs, "doc_id", "text",
        thresholdPct = 80)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3))).toSet
    assert(got == Set((1L, 2L, 2, 2))) // both of a's bigrams, |g(a)| = 2
    val jac = Engine.jaccardJoin(docs, "doc_id", "text",
      thresholdPct = 80).count()
    assert(jac == 0L) // the symmetric join cannot see the pair
  }

  test("charEntropy: null text emits the empty-text degenerate row " +
      "(0, 0, 0.0, 0.0, true) — the q95m oracle's LEFT JOIN semantics") {
    import spark.implicits._
    val docs = Seq((1L, Option.empty[String]), (2L, Some("")),
      (3L, Some("ababab"))).toDF("doc_id", "text")
    val got = Engine.charEntropy(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSet
    // null text and empty text must agree (the oracle cannot tell them
    // apart through its LEFT JOIN + coalesce)
    assert(got.contains((1L, 0L, 0, 0.0, 0.0, true)))
    assert(got.contains((2L, 0L, 0, 0.0, 0.0, true)))
    assert(got.exists(t => t._1 == 3L && t._3 == 2))
  }

  test("containmentJoinBanded == exact containmentJoin on the fixture " +
      "(measured-recall-1.0 territory), and misses the asymmetric pair " +
      "the exact path owns (the documented honesty bound)") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val batch = docs.filter(Engine.stableSample(col("doc_id"), 5))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3))).toSet
    val exact = norm(Engine.containmentJoin(batch, docs, "doc_id",
      "text", thresholdPct = 80, maxCandidatePairs = Long.MaxValue))
    val banded = norm(Engine.containmentJoinBanded(batch, docs,
      "doc_id", "text", thresholdPct = 80))
    // same verification kernel ⇒ identical surviving values; banding
    // recall on this corpus's J ≥ 0.9167 pairs is 1 − ~3e-9
    assert(exact.nonEmpty && banded == exact)
    // the structural limit, pinned: containment 1.0 at J = 2/9 — the
    // exact pigeonhole prefix finds it, Jaccard-banding cannot (the
    // whole-band collision probability at J = 2/9 is ~16·(2/9)⁴ ≈ 4e-4)
    val wrapper = Seq(
      (1L, "x y z"),
      (2L, "x y z p q r s t u v")).toDF("doc_id", "text")
    assert(Engine.containmentJoin(wrapper, wrapper, "doc_id", "text",
      thresholdPct = 80).count() == 1L)
    assert(Engine.containmentJoinBanded(wrapper, wrapper, "doc_id",
      "text", thresholdPct = 80).count() == 0L)
  }

  test("annBits sizes the LSH width; recall@3 >= 0.7 on the sized corpus") {
    import spark.implicits._
    // the integer rule at its boundaries — no float log2 ambiguity
    assert(Engine.annBits(500, 2) == 8) // the embeddings gate table
    assert(Engine.annBits(50, 2) == 5)
    assert(Engine.annBits(400, 8) == 6) // interior: the clamp is NOT active
    assert(Engine.annBits(1L << 40, 1000, 20) == 20) // family-width clamp
    assert(Engine.annBits(0, 2) == 1)
    // A corpus where bucketing can actually work (unlike the honesty-
    // limited near-uniform test table): 16 tight clusters × 25 members.
    // True top-3 of a member is same-cluster, same-ish sign pattern —
    // the regime the sizing rule is FOR.
    val rnd = new java.util.Random(42)
    val centers = Array.fill(16)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
    val vecs = for (c <- 0 until 16; m <- 0 until 25) yield
      ((c * 25 + m).toLong,
        centers(c).map(x => (x + (rnd.nextDouble() * 2 - 1) * 0.05).toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 25 === 0)
    val truth = Engine.cosineTopK(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val bits = Engine.annBits(vecs.size, targetBucket = 8)
    assert(bits == 6)
    val got = Engine.lshTopK(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", 3, bits = bits)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = truth.intersect(got).size.toDouble / truth.size
    assert(recall >= 0.7, s"recall@3 $recall on the annBits-sized corpus")
  }

  test("simhashClusters == pair-derived clustering; edges close identically") {
    import spark.implicits._
    // Real corpus (natural near-dups) + forced signature-identical copies
    // (the crawl-boilerplate case the rep-collapse exists for).
    val base = Tables.t(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text")
    val copies = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val docs = base.unionByName(copies)
    val fast = Engine.simhashClusters(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Reference: doc-level banded pairs (the q98 listing contract) →
    // connected components → assignment, unclustered docs keep themselves.
    val pairs = Engine.simhashPairs(
      Engine.simhash64(docs, col("doc_id"), col("text")))
    val clusters = Engine.nearDupClusters(pairs.select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => id -> clusters.getOrElse(id, id)).toMap
    assert(fast == ref)
    // forced copies really did land in their original's cluster
    (0L until 5L).foreach(id => assert(fast(id + 100000L) == fast(id)))
    // the O(docs) edge list (star + rep pairs) closes to the same
    // components through the ONE shared clustering path
    val viaEdges = Engine.nearDupClusters(
        Engine.simhashEdges(docs, col("doc_id"), col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refEdges = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => id -> viaEdges.getOrElse(id, id)).toMap
    assert(refEdges == ref)
  }

  test("simhash64 is bit-for-bit md5-derived and spans all 64 bits") {
    import spark.implicits._
    // A single-token doc's signature IS its token hash: every per-bit
    // vote sum is ±1, so sign(bit) reproduces the hash exactly. That
    // makes the whole pipeline (md5 → hi/lo compose → vote → assemble)
    // checkable bit-for-bit against an independent JVM md5 — including
    // bit 63 (sign) and bits 32..62, which a 32-bit-truncating regression
    // would zero.
    val words = (0 until 64).map(i => s"w$i-token")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val got = Engine.simhash64(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    words.zipWithIndex.foreach { case (w, i) =>
      val hex = md.digest(w.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val expect = (java.lang.Long.parseLong(hex.substring(0, 8), 16) << 32) |
        java.lang.Long.parseLong(hex.substring(8, 16), 16)
      assert(got(i.toLong) == expect, s"signature of '$w'")
    }
    // the corpus genuinely exercises the widened space: some signature
    // has bit 63 set (negative) and the upper half is not all-zero
    assert(got.values.exists(_ < 0), "no signature used bit 63")
    assert(got.values.exists(v => v >= 0 && (v >>> 32) != 0),
      "upper 32 bits never set — 32-bit truncation regression")
    // FALSE-MERGE BOUND: distinct tokens ⇒ distinct signatures here; the
    // birthday expectation at this width is n²/2⁶⁵ (~10⁻¹⁷ for 64 docs,
    // ~0.03 at 10⁹ docs) vs ~10⁸ expected fusions for 32-bit at crawl
    // scale — the reason the geometry widened.
    assert(got.values.toSet.size == words.size)
  }

  test("applyDedup consumes containment pairs unchanged (one apply path)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z", "en"),
      (2L, "x y z p q r s t u v", "en"),
      (3L, "m n o", "fr")).toDF("doc_id", "text", "lang")
    // containmentJoin's (doc_a, doc_b, ...) output feeds applyDedup's
    // first-two-columns edge contract directly — no adapter
    val cleaned = Engine.applyDedup(docs, "doc_id",
        Engine.containmentJoin(docs, docs, "doc_id", "text",
          thresholdPct = 80))
      .collect().map(_.getLong(0)).toSet
    assert(cleaned == Set(1L, 3L)) // 2 subsumes 1's grams → cluster {1,2}, min 1 kept
  }

  test("bm25Rank: hand-computed scores on a 3-doc corpus, absent docs absent") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "a c c"), (3L, "c c c"))
      .toDF("doc_id", "text")
    val got = Engine.bm25Rank(docs, col("doc_id"), col("text"),
        Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, avgdl=3, dl=3 everywhere → denominator tf + 1.2.
    // idf_a=(3+1)/(2+0.5)=1.6, idf_b=4/1.5; term scores round to 6dp:
    // d1 = 1.6·4.4/3.2 + (4/1.5)·2.2/2.2 = 2.2 + 2.666667 = 4.866667
    // d2 = 1.6·2.2/2.2 = 1.6; d3 has no probe term → no row.
    assert(got.keySet == Set(1L, 2L))
    assert(math.abs(got(1L) - 4.866667) < 1e-9, got(1L).toString)
    assert(math.abs(got(2L) - 1.6) < 1e-9, got(2L).toString)
  }

  test("signProjection: matches the per-term-rounded dot product, in-row") {
    import spark.implicits._
    val vs = Seq((1L, Array(0.5f, -1.25f, 2.0f)),
      (2L, Array(1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Engine.signProjection(vs, col("vec_id"), "embedding", 4, dims = 3)
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(i => r.getDouble(i))).toMap
    // Independent replay of the md5-Achlioptas sign: first 4 hex chars
    // of md5("j:i") mod 6 → {0:+1, 1:-1, else:0}.
    def sign(j: Int, i: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4)
      java.lang.Long.parseLong(hex, 16) % 6 match {
        case 0 => 1; case 1 => -1; case _ => 0
      }
    }
    def expected(xs: Array[Float], i: Int): Double =
      xs.zipWithIndex.map { case (x, j0) =>
        BigDecimal(x.toDouble * sign(j0 + 1, i))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
    for ((id, xs) <- Seq(1L -> Array(0.5f, -1.25f, 2.0f),
        2L -> Array(1.0f, 1.0f, 1.0f)); i <- 1 to 4)
      assert(got(id)(i - 1) == expected(xs, i), s"vec $id dim $i")
  }

  test("signProjection: output dims are decorrelated, not period-3 combs") {
    import spark.implicits._
    // A 32-dim vector of distinct values: under the old affine lattice
    // hash, y_i and y_{i+3} were identical for every input. With a real
    // mixing hash the 8 projections must be pairwise distinct, and the
    // sign sequence of each column must not be a shift of another's.
    val xs = (1 to 32).map(j => (j * j % 13 + 1).toFloat).toArray
    val row = Engine.signProjection(
        Seq((1L, xs)).toDF("vec_id", "embedding"),
        col("vec_id"), "embedding", 8, dims = 32)
      .collect().head
    val ys = (1 to 8).map(i => row.getDouble(i))
    for (a <- ys.indices; b <- ys.indices if a < b)
      assert(ys(a) != ys(b), s"y${a + 1} == y${b + 1} (${ys(a)})")
  }

  test("ivfPqSearch: a vector whose residual IS a codebook entry scores " +
      "at its exact cell-relative distance (lossless decode there)") {
    // The seed vectors' residuals are codebook entries, so their codes
    // decode losslessly (per-block distance 0 picks the own entry) and
    // their ADC distance must equal the EXACT blockwise decimal-rounded
    // distance between the query's and the vector's residuals relative
    // to the VECTOR's cell — which pins the whole residual plumbing:
    // assignment, residual subtraction, the per-(query, cell) LUT
    // keying, and the decimal sum. nprobe=8 probes every cell so each
    // seed is a candidate of each query.
    graft.plans.PqBlockDists.register(spark)
    graft.plans.CosineSimilarity.register(spark)
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val centIds = Seq(3L, 67L, 131L, 195L, 259L, 323L, 387L, 451L)
    val seedIds = Seq(7L, 71L, 135L, 199L, 263L, 327L, 391L, 455L)
    val cents = e.filter(col("vec_id").isin(centIds: _*))
    val cb = Engine.pqSeedResidualCodebook(e, "vec_id", "embedding",
      cents, "vec_id", "embedding", seedIds)
    val got = Engine.ivfPqSearch(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        cents, "vec_id", "embedding", cb, "cb_id", "cb_vec",
        blocks = 8, nprobe = 8, k = 1000000)
      .filter(col("vec_id").isin(seedIds: _*))
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    // expected: residuals of query and seed RELATIVE TO THE SEED'S CELL,
    // per-block decimal-rounded squared L2, decimal-summed
    val res = Engine.ivfResiduals(e, "vec_id", "embedding",
      cents, "vec_id", "embedding")
    val seedRes = res.filter(col("vec_id").isin(seedIds: _*))
      .join(cents.select(col("vec_id").as("cell"),
        col("embedding").as("__ce")), Seq("cell"))
      .select(col("vec_id").as("svid"), col("cell"),
        col("residual").as("__sr"), col("__ce"))
    val want = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qvid"), col("embedding").as("__qe"))
      .crossJoin(seedRes)
      .select(col("qvid"), col("svid"),
        expr("CAST(aggregate(pq_block_dists(" +
          "zip_with(__qe, __ce, (a, b) -> CAST(a AS DOUBLE) - CAST(b AS DOUBLE)), " +
          "__sr, 8), CAST(0 AS DECIMAL(38,6)), " +
          "(acc, x) -> acc + CAST(x AS DECIMAL(38,6))) AS DOUBLE)")
          .as("__want"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(want.nonEmpty && want.keySet.subsetOf(got.keySet))
    want.foreach { case (k2, v) =>
      assert(got(k2) == v, s"$k2: adist ${got(k2)} != exact $v")
    }
  }

  test("pqTrainResidualCodebook: Lloyd iterations never increase the " +
      "measured encode distortion, entries stay full-width") {
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val centIds = Seq(3L, 67L, 131L, 195L, 259L, 323L, 387L, 451L)
    val seedIds = Seq(7L, 71L, 135L, 199L, 263L, 327L, 391L, 455L)
    val cents = e.filter(col("vec_id").isin(centIds: _*))
    val res = Engine.ivfResiduals(e, "vec_id", "embedding",
      cents, "vec_id", "embedding")
    def distortion(iters: Int): Double = {
      val cb = Engine.pqTrainResidualCodebook(e, "vec_id", "embedding",
        cents, "vec_id", "embedding", seedIds, blocks = 8, iters = iters)
      assert(cb.count() == seedIds.size)
      assert(cb.select(size(col("cb_vec"))).distinct().collect()
        .map(_.getInt(0)).toSeq == Seq(64))
      Engine.pqDistortion(res, "vec_id", "residual",
          cb, "cb_id", "cb_vec", blocks = 8)
        .collect().head.getDouble(1)
    }
    val d0 = distortion(0)
    val d1 = distortion(1)
    val d2 = distortion(2)
    assert(d1 <= d0, s"lloyd1 $d1 > seed $d0")
    assert(d2 <= d1 + 1e-6, s"lloyd2 $d2 > lloyd1 $d1")
    assert(d1 < d0, s"one iteration should strictly improve here ($d0)")
  }

  test("bm25Search == per-query bm25Rank with that query's own terms") {
    import spark.implicits._
    // The retrieval operator must be exactly the fixed-term scorer run
    // once per query with the query's distinct tokens as the term set
    // (self-match dropped) — the equivalence that makes q93j the same
    // verified arithmetic as q93h, not a reimplementation.
    val docs = Seq(
      (1L, "spark window join"),
      (2L, "hash table scan"),
      (3L, "spark spark hash join window"),
      (4L, "sort merge join window window"),
      (5L, "scan filter scan")).toDF("id", "text")
    val got = Engine.bm25Search(docs, col("id"), col("text"),
        col("id") <= 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(got.nonEmpty)
    for (qid <- Seq(1L, 2L)) {
      val terms = docs.filter(col("id") === qid).head()
        .getString(1).split(" ").distinct.toSeq
      val want = Engine.bm25Rank(docs, col("id"), col("text"), terms)
        .filter(col("doc_id") =!= qid)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val gotQ = got.collect { case ((q, d), s) if q == qid => d -> s }
      assert(gotQ == want, s"query $qid")
    }
  }

  test("semanticDecontaminate: flags exactly the corpus vectors within tau of a bench vector") {
    import spark.implicits._
    // bench = {1}; corpus 2 is identical (cos 1), 4 is oblique
    // (cos 0.8), 3 is orthogonal (cos 0) — tau 0.5 must flag 2 and 4
    // with their rounded scores and never report a benchmark row.
    val vs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
    val got = Engine.semanticDecontaminate(vs, "vec_id", "embedding",
        col("vec_id") === 1L, tau = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(got == Map(2L -> (1, 1.0), 4L -> (1, 0.8)))
  }

  test("shardShuffle: per-shard 1..n positions, partition-invariant, growth-stable shards") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      Engine.shardShuffle(df, col("doc_id"), seed = "42", shards = 8)
        .select("doc_id", "shard", "pos").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val base = keyed(docs)
    assert(base.size == docs.count())
    // positions form exactly 1..n within every shard
    base.values.groupBy(_._1).foreach { case (shard, vs) =>
      val ps = vs.map(_._2).toSeq.sorted
      assert(ps == (1 to ps.size), s"shard $shard positions")
    }
    // bit-identical under arbitrary repartitioning (orderBy(rand()) is
    // not; this is the property that makes the export reproducible)
    assert(keyed(docs.repartition(7)) == base)
    // corpus growth must never move an existing doc's SHARD (positions
    // may shift as new hashes interleave — that is the rank contract)
    val grown = keyed(docs.unionByName(
      Seq((100001L, "new doc text", "en", "web", 12L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")))
    base.foreach { case (id, (shard, _)) =>
      assert(grown(id)._1 == shard, s"doc $id moved shard")
    }
  }

  test("dsirWeights: content-only scoring, target vocabulary outscores off-target") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb aa bb", "en"),
      (2L, "aa bb bb aa", "en"),
      (3L, "zz yy zz yy", "de"),
      (4L, "aa bb aa bb", "de")).toDF("doc_id", "text", "lang")
    def weights(df: org.apache.spark.sql.DataFrame) =
      Engine.dsirWeights(df, col("doc_id"), col("text"),
          col("lang") === "en")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    val w = weights(docs)
    // 4 words -> 4 unigrams + 3 positional bigrams
    assert(w(1L)._1 == 7)
    // doc 4 carries the target vocabulary (despite its own label) and
    // must outscore the genuinely off-target doc 3 — the weight is a
    // function of CONTENT against the fitted distributions, not of the
    // row's own target flag
    assert(w(4L)._2 > w(3L)._2)
    assert(w(4L)._2 == w(1L)._2)
    // reproducible under arbitrary repartitioning
    assert(weights(docs.repartition(5)) == w)
  }

  test("dsirResample: exactly k rows, boundary-ordered, partition-invariant") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    def sample(df: org.apache.spark.sql.DataFrame) =
      Engine.dsirResample(df, col("doc_id"), col("text"),
        col("lang") === "en", k = 25).collect()
    val rows = sample(docs)
    assert(rows.length == 25)
    // the produced order IS the selection order: gkey DESC, id ASC
    val keys = rows.map(r => (r.getDouble(2), r.getLong(0))).toSeq
    assert(keys.sliding(2).forall {
      case Seq((g1, d1), (g2, d2)) => g1 > g2 || (g1 == g2 && d1 < d2)
      case _ => true
    })
    // the Gumbel draw derives from md5, not an RNG: the identical
    // corpus re-sampled under different partitioning keeps the
    // identical training set in the identical order
    assert(sample(docs.repartition(7)).map(_.getLong(0)).toSeq ==
      rows.map(_.getLong(0)).toSeq)
  }

  test("keepBest: quality argmax per cluster, min-id on ties") {
    import spark.implicits._
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 10L), (7L, 7L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 1L))
      .toDF("id", "n")
    val got = Engine.keepBest(clusters, "doc_id", "cluster_id",
        scores, "id", col("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // cluster 10: docs 2 and 3 tie at score 9 -> min id 2 survives;
    // singleton clusters keep their only member
    assert(got == Map(10L -> (2L, 9L), 7L -> (7L, 1L)))
  }

  test("clusterCap: per-cell cap respected, ranks dense, partition-invariant") {
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val cents = e.filter(col("vec_id")
      .isin(Seq(3L, 67L, 131L, 195L, 259L, 323L, 387L, 451L): _*))
    def cap(df: org.apache.spark.sql.DataFrame) =
      Engine.clusterCap(df, "vec_id", "embedding", cents, "vec_id",
        "embedding", cap = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val got = cap(e)
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (cell, rs) =>
      val ps = rs.map(_._3).toSeq.sorted
      assert(ps.size <= 10, s"cell $cell over cap")
      assert(ps == (1 to ps.size), s"cell $cell ranks not dense")
    }
    // the md5-rank reservoir is partition-invariant — same kept set,
    // same ranks, whatever the input layout
    assert(cap(e.repartition(7)).toSet == got.toSet)
  }

  test("topKWithin: ties break by the next order key, rnk is a dense INT " +
      "from 1, and a key with fewer than k rows keeps them all") {
    import spark.implicits._
    val df = Seq((1L, 5L, 0.5), (1L, 3L, 0.9), (1L, 4L, 0.5), (1L, 2L, 0.5),
      (2L, 7L, 0.1)).toDF("key", "id", "score")
    val top = Engine.topKWithin(df, "key",
      Seq(col("score").desc, col("id").asc), 3)
    assert(top.schema("rnk").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val got = top.select("key", "rnk", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // key 1: 0.9 first, then the 0.5 tie in ascending id, id 5 cut at k
    assert(got == Set((1L, 1, 3L), (1L, 2, 2L), (1L, 3, 4L), (2L, 1, 7L)))
  }

  test("nearestCells: probe = 2 keeps the two nearest centroids, a rounded " +
      "cosine tie goes to the smaller centroid id, other columns ride through") {
    import spark.implicits._
    // centroids 30 and 10 are parallel, so every row scores them equal
    val rows = Seq((1L, "a", Array(1.0f, 0.1f, 0.0f)),
      (2L, "b", Array(0.1f, 1.0f, 0.0f))).toDF("vec_id", "tag", "embedding")
    val cents = Seq((30L, Array(1.0f, 0.0f, 0.0f)),
      (10L, Array(2.0f, 0.0f, 0.0f)),
      (20L, Array(0.0f, 1.0f, 0.0f))).toDF("cid", "ce")
    def cells(probe: Int) = Engine.nearestCells(rows, "vec_id", "embedding",
        cents, "cid", "ce", probe)
      .select("vec_id", "tag", "__ccid", "__ce").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getSeq[Float](3))).toSet
    assert(cells(1) == Set((1L, "a", 10L, Seq(2.0f, 0.0f, 0.0f)),
      (2L, "b", 20L, Seq(0.0f, 1.0f, 0.0f))))
    assert(cells(2).map(c => (c._1, c._2, c._3)) == Set((1L, "a", 10L),
      (1L, "a", 30L), (2L, "b", 20L), (2L, "b", 10L)))
  }

  test("nearestCells: ivfResiduals, buildIvfIndex, semanticDedup and " +
      "clusterCap assign every fixture vector the same cell") {
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val cents = e.filter(col("vec_id")
      .isin(Seq(3L, 67L, 131L, 195L, 259L, 323L, 387L, 451L): _*))
    def cellOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("string")).collect()
        .map(r => r.getLong(0) -> r.getString(1).stripPrefix("c")).toMap
    val residual = cellOf(Engine.ivfResiduals(e, "vec_id", "embedding",
      cents, "vec_id", "embedding"))
    val index = graft.sources.IO.scratch("enginespec-ivf-assign",
      TestSpark.sfDir)
    Engine.buildIvfIndex(e, "vec_id", "embedding", cents, "vec_id",
      "embedding", index)
    // a rounded cosine never exceeds 1, so tau 2 drops no vector and
    // clusterCap's cap is the corpus size
    val dedup = cellOf(Engine.semanticDedup(e, "vec_id", "embedding",
      cents, "vec_id", "embedding", tau = 2.0))
    val capped = cellOf(Engine.clusterCap(e, "vec_id", "embedding",
      cents, "vec_id", "embedding", cap = e.count().toInt))
    assert(residual.size == e.count())
    assert(cellOf(spark.read.parquet(index)) == residual)
    assert(dedup == residual)
    assert(capped == residual)
  }

  test("vacuumPartitions: drops exactly the pre-cutoff slots, keeps the rest intact") {
    import spark.implicits._
    val dir = graft.sources.IO.scratch("enginespec-vacuum", TestSpark.sfDir)
    Seq(("2024-01-10", 1L), ("2024-01-14", 2L), ("2024-01-15", 3L),
      ("2024-01-20", 4L))
      .toDF("slot", "v")
      .write.mode("overwrite").partitionBy("slot").parquet(dir)
    val kept = Engine.vacuumPartitions(spark, dir, "slot", "2024-01-15")
    // strict < cutoff dropped; the cutoff slot itself survives
    assert(kept == Seq("2024-01-15", "2024-01-20"))
    // the surviving partitions are untouched, contents included
    val rows = spark.read.parquet(dir)
      .select(col("slot").cast("string"), col("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(rows == Set("2024-01-15" -> 3L, "2024-01-20" -> 4L))
    // idempotent: a second vacuum with the same cutoff is a no-op
    assert(Engine.vacuumPartitions(spark, dir, "slot", "2024-01-15") == kept)
  }

  test("vacuumPartitions: Hive-escaped values compare UNESCAPED; the null " +
      "partition is refused, not silently retained") {
    import spark.implicits._
    val dir = graft.sources.IO.scratch("enginespec-vacuum-escape",
      TestSpark.sfDir)
    // ':' (0x3A) sorts above '9' but its escape '%3A' starts with '%'
    // (0x25), below every digit — so a raw directory-name comparison
    // INVERTS this order: escaped "09%3A30" < cutoff "09:00" even
    // though the value "09:30" is past it. The value comparison must
    // keep 09:30 and drop 08:45.
    Seq(("08:45", 1L), ("09:30", 2L)).toDF("slot", "v")
      .write.mode("overwrite").partitionBy("slot").parquet(dir)
    assert(Engine.vacuumPartitions(spark, dir, "slot", "09:00")
      == Seq("09:30"))
    // a null slot (__HIVE_DEFAULT_PARTITION__) has no place in a value
    // order: refuse loudly instead of silently surviving every cutoff
    val dir2 = graft.sources.IO.scratch("enginespec-vacuum-null",
      TestSpark.sfDir)
    Seq((Option("2024-01-10"), 1L), (Option.empty[String], 2L))
      .toDF("slot", "v")
      .write.mode("overwrite").partitionBy("slot").parquet(dir2)
    intercept[IllegalArgumentException] {
      Engine.vacuumPartitions(spark, dir2, "slot", "2024-01-15")
    }
  }

  test("vacuumPartitions under a concurrent reader: all-or-nothing, never " +
      "a silent partial partition") {
    import spark.implicits._
    // The retention contract (the fs.py:21-48 atomic-publish discipline
    // applied to DELETION): a reader whose scan straddles a vacuum must
    // see a to-be-dropped partition either wholly (planned before the
    // delete and still readable) or not at all — and if the files
    // vanish under its tasks, it must FAIL loudly (ignoreMissingFiles
    // is false by default), never return a partition's partial rows as
    // if they were the whole slot. Kept partitions are untouched either
    // way.
    val dir = graft.sources.IO.scratch("enginespec-vacuum-reader",
      TestSpark.sfDir)
    // many files per partition so a partial-partition read is possible
    // in principle — the thing the contract forbids
    (1 to 40).map(i => (f"2024-01-${i % 2 + 10}%02d", i.toLong)).toDF("slot", "v")
      .repartition(8).write.mode("overwrite").partitionBy("slot").parquet(dir)
    val oldCount = spark.read.parquet(dir)
      .filter(col("slot") === "2024-01-10").count()
    assert(oldCount == 20)
    // reader plans (file listing happens here) BEFORE the vacuum…
    val midScan = spark.read.parquet(dir).filter(col("slot") === "2024-01-10")
    midScan.rdd.getNumPartitions // forces listing + plan
    assert(Engine.vacuumPartitions(spark, dir, "slot", "2024-01-11")
      == Seq("2024-01-11"))
    // …and collects AFTER: either the complete old partition (a
    // filesystem still serving the open snapshot) or a loud failure —
    // any other row count is a silent partial read, the contract breach
    val outcome = try Right(midScan.collect().length)
    catch { case e: org.apache.spark.SparkException => Left(e) }
    outcome match {
      case Right(rows) => assert(rows.toLong == oldCount,
        s"partial partition: $rows of $oldCount rows")
      case Left(_) => () // loud failure: acceptable, and the common case
    }
    // a fresh reader sees the partition wholly gone, the kept one whole
    val after = spark.read.parquet(dir)
      .select(col("slot").cast("string"), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after.map(_._1) == Set("2024-01-11"))
    assert(after.size == 20)
  }

  test("normalizeText: case/punct/whitespace variants collapse to one canonical form") {
    import spark.implicits._
    val forms = Seq("The  cat RUNS!", "the cat runs", "  the,cat ; runs.")
      .toDF("t").select(Engine.normalizeText(col("t")).as("n"))
      .collect().map(_.getString(0)).toSet
    assert(forms == Set("the cat runs"))
  }

  test("exportManifest: order-free checksum, layout-invariant, shards partition the corpus") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Engine.exportManifest(df, col("doc_id"), col("n_chars"),
        seed = "42", shards = 8).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
    val base = manifest(docs)
    // shards partition the corpus exactly
    assert(base.values.map(_._1).sum == docs.count())
    // the checksum is a sum — commutative — so any physical layout of
    // the same rows reproduces the identical manifest (the property a
    // consumer relies on when re-deriving it with different parallelism)
    assert(manifest(docs.repartition(11)) == base)
    assert(manifest(docs.orderBy(col("n_chars"))) == base)
    // a substituted row moves the checksum (integrity, not just counts)
    val tampered = docs.withColumn("doc_id",
      when(col("doc_id") === 0L, 999983L).otherwise(col("doc_id")))
    assert(manifest(tampered) != base)
  }

  test("tokenBudgetMix: kept chars land near the budget, partition-invariant") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    def kept(df: org.apache.spark.sql.DataFrame) =
      Engine.tokenBudgetMix(df, col("doc_id"), "lang", col("n_chars"),
        budget = 20000.0).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    val base = kept(docs)
    assert(base.nonEmpty && base.size < docs.count())
    // expected kept chars = budget·Σ(√w_s/Σ√w) = budget; the md5 draw
    // is a fixed deterministic sample, so allow generous slack
    val chars = docs.filter(col("doc_id").isin(base.toSeq: _*))
      .agg(sum("n_chars")).head().getLong(0)
    assert(chars > 20000 / 2 && chars < 20000 * 2,
      s"kept $chars chars for a 20000 budget")
    // the hash draw is partition-invariant
    assert(kept(docs.repartition(7)) == base)
  }

  test("intervalOverlapJoin: exactly-once emission across bin spans, " +
    "touching endpoints included, disjoint excluded") {
    import spark.implicits._
    // bin size 10. a1 [5,25] spans bins 0-2; b1 [8,40] spans 0-4: the
    // pair shares THREE bins and must still appear exactly once (the
    // max-start bin rule, no dedup shuffle). b2 [25,30] touches a1 at
    // exactly 25 (inclusive endpoints -> a match); b3 [26,60] is
    // disjoint from a1. a2 [55,57] overlaps only b3.
    val a = Seq((1L, 5L, 25L), (2L, 55L, 57L)).toDF("a_id", "as", "ae")
    val b = Seq((10L, 8L, 40L), (20L, 25L, 30L), (30L, 26L, 60L))
      .toDF("b_id", "bs", "be")
    val got = Engine.intervalOverlapJoin(a, b, "as", "ae", "bs", "be",
        binSize = 10)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(got == Seq((1L, 10L), (1L, 20L), (2L, 30L)))
    // exactly-once: the multi-bin pair (1,10) appears once, not thrice
    assert(got.size == got.distinct.size)
  }

  test("intervalOverlapJoin: the documented contract is enforced — " +
    "negative start and reversed interval fail loud, shared column " +
    "names are rejected") {
    import spark.implicits._
    val ok = Seq((1L, 5L, 25L)).toDF("a_id", "as", "ae")
    // overlapping column sets would make the joined filters ambiguous
    intercept[IllegalArgumentException] {
      Engine.intervalOverlapJoin(ok,
        Seq((2L, 1L, 2L)).toDF("a_id", "bs", "be"),
        "as", "ae", "bs", "be", binSize = 10)
    }
    // negative start: `div` truncates toward zero (not floor), so bins
    // below 0 would misalign and break exactly-once emission — raise
    def run(a: (Long, Long, Long)): Unit =
      Engine.intervalOverlapJoin(Seq(a).toDF("a_id", "as", "ae"),
        Seq((9L, 0L, 100L)).toDF("b_id", "bs", "be"),
        "as", "ae", "bs", "be", binSize = 10).collect()
    val neg = intercept[Exception] { run((1L, -5L, 25L)) }
    assert(neg.getMessage.contains("intervalOverlapJoin") ||
      neg.getCause != null)
    // reversed interval: sequence() would emit a DESCENDING bin range
    val rev = intercept[Exception] { run((1L, 25L, 5L)) }
    assert(rev.getMessage.contains("intervalOverlapJoin") ||
      rev.getCause != null)
    // the guard is transparent for valid rows
    run((1L, 5L, 25L))
  }

  test("intervalOverlapJoin: auto bin width (median interval length) " +
    "returns the exact pair set on a skewed-length fixture") {
    import spark.implicits._
    // lengths heavily skewed: many 1-2 day intervals plus one 1000-day
    // monster — the median pre-pass must size bins near the SHORT mass
    // (the monster replicates across bins; the short intervals don't
    // fan into one giant bin), and results must equal brute force at
    // ANY bin size.
    val a = ((1L to 40L).map(i => (i, i * 3, i * 3 + 1)) :+
      (99L, 0L, 1000L)).toDF("a_id", "as", "ae")
    val b = ((1L to 40L).map(i => (100 + i, i * 3 + 1, i * 3 + 2)) :+
      (199L, 500L, 600L)).toDF("b_id", "bs", "be")
    def pairsOf(bin: Long) =
      Engine.intervalOverlapJoin(a, b, "as", "ae", "bs", "be", bin)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = a.crossJoin(b)
      .filter(col("as") <= col("be") && col("bs") <= col("ae"))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(pairsOf(0L) == brute)   // auto path
    assert(pairsOf(7L) == brute)   // explicit knob unchanged
  }

  test("pageRankInt: hand-computed integer iterations on a 3-node graph " +
    "with a dangling node") {
    import spark.implicits._
    // a→b, b→a, a→c: outdeg(a)=2, outdeg(b)=1, c dangling.
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    def prAt(iters: Int): Map[String, Long] =
      Engine.pageRankInt(edges, "src", "dst", iterations = iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // iter 1: a gets b's full 10^6 → 150000 + 850000; b and c each get
    // a's 10^6 div 2 → 150000 + 425000
    assert(prAt(1) == Map("a" -> 1000000L, "b" -> 575000L, "c" -> 575000L))
    // iter 2: a gets 575000 → 150000 + 85·575000 div 100 = 638750;
    // b and c each get 1000000 div 2 again
    assert(prAt(2) == Map("a" -> 638750L, "b" -> 575000L, "c" -> 575000L))
    // duplicate edges must not double-count (the edge list is a SET)
    val dup = edges.unionAll(Seq(("a", "b")).toDF("src", "dst"))
    assert(Engine.pageRankInt(dup, "src", "dst", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == prAt(2))
  }

  test("madOutliers: hand-computed medians, MAD=0 degenerate group, " +
    "null values ignored by the quantiles") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Double)](
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0),
      ("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 9.0),
      ("b", null)).toDF("k", "v")
    val got = Engine.madOutliers(df, "k", "v", k = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))))
      .toMap
    // a: med 3, deviations (2,1,0,1,97) → mad 1; only 100 exceeds 3·1
    assert(got("a") == ((3.0, 1.0, 5L, 1L)))
    // b: med 5, deviations (0,0,0,4,null) → mad 0 — the degenerate
    // group where MAD flags exactly the rows off the mode (strict >);
    // the null row counts toward n but never toward the quantiles or
    // the outlier count
    assert(got("b") == ((5.0, 0.0, 5L, 1L)))
  }

  test("searchIvfIndexLive: tombstoned serve equals a fresh build over " +
      "the corpus minus the deleted ids; plain serve still sees them") {
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val cents = e.filter(col("vec_id") % 61 === 2)
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val live = graft.sources.IO.scratch("enginespec-ivf-live",
      TestSpark.sfDir)
    Engine.buildIvfIndex(e, "vec_id", "embedding",
      cents, "vec_id", "embedding", live)
    Engine.deleteFromIvfIndex(e.filter(col("vec_id") % 10 === 3),
      "vec_id", live)
    val fresh = graft.sources.IO.scratch("enginespec-ivf-fresh",
      TestSpark.sfDir)
    Engine.buildIvfIndex(e.filter(col("vec_id") % 10 =!= 3),
      "vec_id", "embedding", cents, "vec_id", "embedding", fresh)
    val tombstoned = rows(Engine.searchIvfIndexLive(
      q, "vec_id", "embedding", cents, "vec_id", "embedding",
      live, nprobe = 2, k = 3))
    assert(tombstoned == rows(Engine.searchIvfIndex(
      q, "vec_id", "embedding", cents, "vec_id", "embedding",
      fresh, nprobe = 2, k = 3)))
    assert(tombstoned.nonEmpty)
    // the same index WITHOUT honoring tombstones still serves deleted
    // ids (they're in the files — the delete was metadata-only)…
    val plain = rows(Engine.searchIvfIndex(
      q, "vec_id", "embedding", cents, "vec_id", "embedding",
      live, nprobe = 2, k = 3))
    assert(plain != tombstoned)
    assert(plain.exists { case (_, _, vid, _) => vid % 10 == 3 })
    // …and the live serve never returns one
    tombstoned.foreach { case (_, _, vid, _) => assert(vid % 10 != 3) }
    // a live serve against an index with NO tombstone dir is the plain
    // serve (the fs-exists fast path)
    assert(rows(Engine.searchIvfIndexLive(
      q, "vec_id", "embedding", cents, "vec_id", "embedding",
      fresh, nprobe = 2, k = 3)) == rows(Engine.searchIvfIndex(
      q, "vec_id", "embedding", cents, "vec_id", "embedding",
      fresh, nprobe = 2, k = 3)))
  }

  test("applyChangelog: last-op-wins per key, a final D removes the key, " +
      "a D overridden by a later U does not") {
    import spark.implicits._
    val log = Seq(
      // key 1: I then U → survives with the U payload
      (1L, 10L, 1L, "I", 1.0), (1L, 20L, 2L, "U", 2.5),
      // key 2: I then D → removed
      (2L, 10L, 3L, "I", 9.0), (2L, 20L, 4L, "D", 0.0),
      // key 3: I, D, then U — the delete is NOT final → survives
      (3L, 10L, 5L, "I", 1.0), (3L, 20L, 6L, "D", 0.0),
      (3L, 30L, 7L, "U", 7.5),
      // key 4: same-seq tiebreak falls to the second seq column
      (4L, 10L, 8L, "I", 1.0), (4L, 10L, 9L, "U", 4.0)
    ).toDF("k", "seq", "sub", "op", "v")
    val got = Engine.applyChangelog(log, keyCols = Seq("k"),
        seqCols = Seq("seq", "sub"), opCol = "op")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == Set(1L, 3L, 4L))
    assert(got(1L) == ((2L, 20L, 2L, 2.5)))
    assert(got(3L) == ((3L, 30L, 7L, 7.5)))
    assert(got(4L) == ((2L, 10L, 9L, 4.0)))
  }

  test("ksTwoSample: matches a driver-side ECDF reference on the events " +
      "fixture (the distributed prefix sum is exact across partitions)") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
    val got = Engine.ksTwoSample(ev, col("event_type"), col("value"),
      "click", "view").collect().head
    val sample = ev
      .filter(col("event_type").isin("click", "view") &&
        col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val a = sample.filter(_._1 == "click").map(_._2)
    val b = sample.filter(_._1 == "view").map(_._2)
    val (n1, n2) = (a.length.toLong, b.length.toLong)
    val d = (a ++ b).distinct.map { v =>
      math.abs(a.count(_ <= v).toDouble / n1 -
        b.count(_ <= v).toDouble / n2)
    }.max
    assert(got.getLong(0) == n1 && got.getLong(1) == n2)
    // the engine reports d rounded to 6 decimals; the rejection test
    // runs on the UNROUNDED statistic
    assert(math.abs(got.getDouble(2) - d) <= 5.000001e-7)
    assert(got.getBoolean(3) ==
      (d > 1.358 * math.sqrt((n1 + n2).toDouble /
        (n1.toDouble * n2.toDouble))))
  }

  test("ksTwoSample: an empty group fails loudly") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
    val e = intercept[IllegalArgumentException] {
      Engine.ksTwoSample(ev, col("event_type"), col("value"),
        "click", "no_such_type")
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("cdcChunkDedup: matches a driver-side reference chunker, and an " +
      "inserted prefix leaves most of the original's chunks shared") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val edited = "INSERTED PREFIX " + base
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def chunksOf(t: String): Seq[String] = {
      val w = 16
      // per-position fold (NOT the rolling recurrence the engine uses) —
      // an independent derivation of the same boundary rule
      def h(sub: String): Long =
        sub.foldLeft(0L)((a, c) => (a * 257L + c) % 1000000007L)
      val starts = 1 +: (2 to t.length - w + 1)
        .filter(i => h(t.substring(i - 1, i - 1 + w)) % 16 == 0)
      (starts :+ (t.length + 1)).sliding(2).collect {
        case Seq(s, e) => t.substring(s - 1, e - 1)
      }.toSeq
    }
    val byDoc = Map(1L -> chunksOf(base), 2L -> chunksOf(edited))
    val expected = byDoc.toSeq
      .flatMap { case (id, cs) => cs.map(c => (md5hex(c), id, c.length)) }
      .groupBy(_._1)
      .collect { case (h, occ) if occ.map(_._2).distinct.size >= 2 =>
        h -> ((occ.map(_._2).distinct.size.toLong, occ.size.toLong,
          occ.map(_._3).min))
      }.toMap
    val got = Engine.cdcChunkDedup(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(got == expected)
    // content-defined robustness: the shared chunks cover most of the
    // ORIGINAL text — a fixed-offset chunker re-keys everything after
    // the 16-char insertion and shares ~nothing
    val sharedChars = byDoc(1L)
      .filter(c => byDoc(2L).contains(c)).map(_.length).sum
    assert(sharedChars > base.length / 2,
      s"shared $sharedChars of ${base.length} chars")
  }

  test("touchAttribution: first/last credit on a hand fixture; a " +
      "conversion with no prior touch keeps a NULL channel row") {
    import spark.implicits._
    val ev = Seq(
      // u1: click → purchase(10): click opens AND closes
      (1L, 10L, 1L, "click", 0.0), (1L, 20L, 2L, "purchase", 10.0),
      // u2: purchase(5) with no prior touch → NULL channel
      (2L, 10L, 3L, "purchase", 5.0),
      // u3: view … error → purchase(20): first=view, last=error; a
      // LATER touch (ignored) must not leak into the attribution
      (3L, 10L, 4L, "view", 0.0), (3L, 20L, 5L, "error", 0.0),
      (3L, 30L, 6L, "purchase", 20.0), (3L, 40L, 7L, "click", 0.0)
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = Engine.touchAttribution(ev, col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"),
        "purchase", col("value"))
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == Map(
      Some("click") -> ((1L, 10.0, 1L, 10.0)),
      Some("view") -> ((1L, 20.0, 0L, 0.0)),
      Some("error") -> ((0L, 0.0, 1L, 20.0)),
      None -> ((1L, 5.0, 1L, 5.0))))
  }

  test("scd2Merge: append-only delta merge is row-identical to a full " +
      "rebuild; untouched keys, absorbed deltas, new keys all covered") {
    import spark.implicits._
    def ev(rows: (Long, Long, Long, String)*) =
      rows.toDF("k", "d", "o", "attr")
    val history = ev(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "B"), // untouched key
      (2L, 10L, 3L, "A"),                     // touched, delta absorbs
      (3L, 10L, 4L, "A"), (3L, 20L, 5L, "B")) // touched, delta changes
    val delta = ev(
      (2L, 30L, 6L, "A"),                     // same attr → absorbed
      (3L, 30L, 7L, "C"), (3L, 40L, 8L, "B"), // two real changes
      (4L, 30L, 9L, "X"))                     // brand-new key
    val built = Engine.scd2Build(history, "k", "attr", "d", "o")
    val merged = Engine.scd2Merge(built, delta, "k", "attr", "d", "o")
    val full = Engine.scd2Build(history.unionByName(delta),
      "k", "attr", "d", "o")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)), r.getBoolean(4), r.getInt(5))).toSet
    assert(rows(merged) == rows(full))
    // the incremental claims, spot-checked: key 1 untouched (2 rows,
    // same versions), key 2's current row still open (absorbed), key 3
    // grew to 4 versions, key 4 opened at version 1
    val m = merged.collect().map(r => (r.getLong(0), r.getInt(5),
      r.getBoolean(4))).groupBy(_._1)
    assert(m(1L).length == 2 && m(2L).length == 1)
    assert(m(2L).head._3) // still current
    assert(m(3L).map(_._2).sorted.toSeq == Seq(1, 2, 3, 4))
    assert(m(4L).toSeq == Seq((4L, 1, true)))
  }

  test("mannWhitneyU: matches a driver-side midrank reference on the " +
      "events fixture") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
    val got = Engine.mannWhitneyU(ev, col("event_type"), col("value"),
      "click", "view").collect().head
    val sample = ev
      .filter(col("event_type").isin("click", "view") &&
        col("value").isNotNull)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val a = sample.filter(_._1 == "click").map(_._2)
    val b = sample.filter(_._1 == "view").map(_._2)
    val (n1, n2) = (a.length.toLong, b.length.toLong)
    val all = (a ++ b).sorted
    val rank = all.zipWithIndex.groupBy(_._1)
      .map { case (v, xs) =>
        v -> (xs.map(_._2 + 1).sum.toDouble / xs.length)
      }
    val r1 = BigDecimal(a.map(rank).sum).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val u = r1 - n1 * (n1 + 1) / 2.0
    assert(got.getLong(0) == n1 && got.getLong(1) == n2)
    assert(math.abs(got.getDouble(2) - u) <= 5.000001e-7)
    val nn = n1 + n2
    val ties = all.groupBy(identity).values
      .map(g => g.length.toLong).map(t => t * t * t - t).sum
    val z = (u - n1.toDouble * n2 / 2.0) /
      math.sqrt(n1.toDouble * n2 / 12.0 *
        ((nn + 1).toDouble - ties.toDouble / (nn.toDouble * (nn - 1))))
    assert(math.abs(got.getDouble(3) - z) <= 5.000001e-7)
    assert(got.getBoolean(4) == (math.abs(z) > 1.959964))
  }

  test("dupSourceMatrix: equals the jaccardJoin pair list rolled up by " +
      "unordered source pair") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Engine.jaccardJoin(docs, "doc_id", "text",
        thresholdPct = 60, ngramWords = 2)
      .select("doc_a", "doc_b").collect()
      .map { r =>
        val (sa, sb) = (srcOf(r.getLong(0)), srcOf(r.getLong(1)))
        if (sa <= sb) (sa, sb) else (sb, sa)
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = Engine.dupSourceMatrix(docs, "doc_id", "text", "source",
        thresholdPct = 60, ngramWords = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("searchIvfIndexWhere: filtered serve equals a fresh build over " +
      "the filtered corpus (cells depend only on centroids)") {
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val cents = e.filter(col("vec_id") % 61 === 2)
    val q = e.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val withMeta = graft.sources.IO.scratch("enginespec-ivf-meta",
      TestSpark.sfDir)
    Engine.buildIvfIndex(e, "vec_id", "embedding",
      cents, "vec_id", "embedding", withMeta, meta = Seq("label"))
    val filteredOnly = graft.sources.IO.scratch("enginespec-ivf-flt",
      TestSpark.sfDir)
    Engine.buildIvfIndex(e.filter(col("label") === 1),
      "vec_id", "embedding", cents, "vec_id", "embedding", filteredOnly)
    val got = rows(Engine.searchIvfIndexWhere(q, "vec_id", "embedding",
      cents, "vec_id", "embedding", withMeta, nprobe = 2, k = 3,
      predicate = col("label") === 1))
    assert(got == rows(Engine.searchIvfIndex(q, "vec_id", "embedding",
      cents, "vec_id", "embedding", filteredOnly, nprobe = 2, k = 3)))
    assert(got.nonEmpty)
  }

  test("vocabGrowth: hand fixture — buckets accumulate tokens, each gram " +
      "counts once in its first bucket, empty tokens drop") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b"), (1L, "b  c"), // double space: empty token filtered
      (2L, "a b"), (3L, "c d")
    ).toDF("doc_id", "text")
    val got = Engine.vocabGrowth(docs, col("doc_id"), col("text"),
        n = 2, bucketWidth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // bucket 0 (docs 0-1): grams "a b", "b c" — 2 tokens, 2 new
    // bucket 1 (docs 2-3): "a b" (seen), "c d" (new) — 2 tokens, 1 new
    assert(got == Seq((0L, 2L, 2L), (1L, 4L, 3L)))
  }

  test("psiDrift: hand fixture — uniform baseline vs point mass alarms, " +
      "outliers clamp into edge bins, an empty group fails loudly") {
    import spark.implicits._
    // baseline: one value per bin (mn=0.5, mx=9.5, width=0.9);
    // current: a point mass in bin 0 plus one outlier above the
    // baseline range, which must CLAMP into bin 9 (not drop).
    val base = (0 until 10).map(i => ("a", i + 0.5))
    val cur = Seq.fill(9)(("b", 0.6)) :+ ("b", 100.0)
    val df = (base ++ cur).toDF("g", "v")
    val r = Engine.psiDrift(df, col("g"), col("v"), "a", "b").collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 10L && r(0).getLong(1) == 10L)
    // driver-side reference with the operator's exact formula:
    // pa=0.1 everywhere; pb: bin0 0.9, bin9 0.1, bins 1-8 -> 1e-4
    def t(pa: Double, pb: Double) =
      BigDecimal((pa - pb) * math.log(pa / pb))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val expect = (t(0.1, 0.9) + t(0.1, 0.1) + t(0.1, 1e-4) * 8)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(0).getDouble(2) == expect)
    assert(r(0).getBoolean(3)) // drift: psi >> 0.2
    val e = intercept[IllegalArgumentException] {
      Engine.psiDrift(df, col("g"), col("v"), "a", "absent").collect()
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("skewAudit: hand fixture — max-count tie reports the smallest " +
      "key, entropy/salt math matches a driver reference, single key " +
      "is defined") {
    import spark.implicits._
    val df = Seq("a", "a", "a", "b", "b", "b", "c", "c").toDF("k")
    val r = Engine.skewAudit(df, col("k")).collect()(0)
    assert(r.getLong(0) == 8L && r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getString(3) == "a") // tie a/b at 3 -> smallest key
    assert(r.getDouble(4) == 0.375)
    assert(r.getDouble(5) == 1.125) // 3 * 3 / 8
    def h(p: Double) = BigDecimal(-p * math.log(p))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val ent = ((h(0.375) * 2 + h(0.25)).toDouble / math.log(3.0))
    assert(r.getDouble(6) ==
      BigDecimal(ent).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(r.getInt(7) == 2) // ceil(1.125)
    val one = Engine.skewAudit(Seq("x", "x").toDF("k"), col("k"))
      .collect()(0)
    assert(one.getDouble(6) == 1.0 && one.getInt(7) == 1)
  }

  test("rrfFuse: both-list items sum reciprocals, single-list items " +
      "keep one term, equal scores break ties on item id") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 3))
      .toDF("q", "i", "r")
    val b = Seq((1L, 11L, 1), (1L, 12L, 2), (2L, 21L, 3))
      .toDF("q", "i", "r")
    val got = Engine.rrfFuse(a, b, "q", "i", "r", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    def rr(r: Int) = 1.0 / (60 + r).toDouble
    def rnd(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: item 11 in both lists (1/61 + 1/62) beats 10 (1/61) beats
    // 12 (1/62); q2: 20 and 21 tie at 1/63 -> item order
    assert(got == Seq(
      (1L, 1, 11L, rnd(rr(1) + rr(2))),
      (1L, 2, 10L, rnd(rr(1))),
      (1L, 3, 12L, rnd(rr(2))),
      (2L, 1, 20L, rnd(rr(3))),
      (2L, 2, 21L, rnd(rr(3)))))
  }

  test("resampleInterpolate: linear values on a hand fixture, a grid " +
      "point landing on an observation returns it, a one-day key " +
      "emits no grid") {
    import spark.implicits._
    val obs = Seq(
      (1L, "2024-01-01 00:00:00", 100L, 0.0),
      (1L, "2024-01-03 00:00:00", 101L, 4.0),
      (2L, "2024-02-05 06:00:00", 200L, 7.0),
      (2L, "2024-02-05 18:00:00", 201L, 9.0) // same-day span: no grid
    ).toDF("k", "ts", "eid", "v")
      .withColumn("ts", to_timestamp(col("ts")))
    val got = Engine.resampleInterpolate(obs, col("k"), col("ts"),
        col("eid"), col("v"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getDouble(2))).sortBy(x => (x._1, x._2)).toSeq
    // key 1: grid Jan 2 (midpoint -> 2.0) and Jan 3 (== obs -> 4.0)
    assert(got == Seq(
      (1L, "2024-01-02 00:00:00.0", 2.0),
      (1L, "2024-01-03 00:00:00.0", 4.0)))
  }

  test("cusumChangePoints: hand fixture — a persistent shift crosses " +
      "the threshold, the pre-shift trace clamps at zero, keys " +
      "without a reference period drop") {
    import spark.implicits._
    // ref days (mean 10) -> mu=10, k=1, h=5; then a +6 shift:
    // Jan5 S=5 (not yet > 5), Jan6 S=10 -> detected
    val rows = Seq(
      ("a", "2024-01-01", 10.0), ("a", "2024-01-02", 10.0),
      ("a", "2024-01-03", 10.0), ("a", "2024-01-04", 10.0),
      ("a", "2024-01-05", 16.0), ("a", "2024-01-06", 16.0),
      ("late", "2024-01-20", 99.0) // no pre-cutoff day -> dropped
    ).toDF("k", "d", "v").withColumn("d", to_timestamp(col("d")))
    val got = Engine.cusumChangePoints(rows, col("k"), col("d"),
        col("v"), lit("2024-01-05").cast("timestamp"))
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).toString.take(10), r.getDouble(4),
        r.getBoolean(5))).sortBy(x => (x._1, x._2)).toSeq
    assert(got == Seq(
      ("a", "2024-01-01", 0.0, false), ("a", "2024-01-02", 0.0, false),
      ("a", "2024-01-03", 0.0, false), ("a", "2024-01-04", 0.0, false),
      ("a", "2024-01-05", 5.0, false), ("a", "2024-01-06", 10.0, true)))
  }

  test("ragChunks: window/stride arithmetic on a hand fixture — " +
      "overlap shares tokens, the short tail chunk survives") {
    import spark.implicits._
    val df = Seq((7L, "t1 t2 t3 t4 t5")).toDF("id", "txt")
    val got = Engine.ragChunks(df, col("id"), col("txt"),
        window = 3, stride = 2)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((0, "t1 t2 t3", 3), (1, "t3 t4 t5", 3),
      (2, "t5", 1)))
  }

  test("triangleStats: hand graph — canonicalizes duplicates and " +
      "reversed edges, drops self-loops, matches hand-counted " +
      "wedges/triangles") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 3-4, fed messy: dup + reversed +
    // self-loop. deg = (1:2, 2:2, 3:3, 4:1) -> wedges 1+1+3+0 = 5
    val edges = Seq((2L, 1L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 3L), (2L, 2L)).toDF("x", "y")
    val r = Engine.triangleStats(edges, col("x"), col("y")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 4L, 5L, 1L)))
    assert(r.getDouble(4) == 0.6) // 3 * 1 / 5
  }

  test("mmrRerank: lambda sweeps the relevance-diversity dial — " +
      "pure-relevance order at 100, the near-dup demoted at 60, " +
      "maximal diversity at 50") {
    import spark.implicits._
    // query [1, .2, 0]; D ~ the query direction (top rel 0.986), A a
    // near-duplicate of D (sim 0.9995, rel 0.981), C diverse at decent
    // rel (0.832, sim-to-D 0.728), B orthogonal-ish low-rel (0.196,
    // sim-to-D 0.031). Relevance order: D, A, C, B.
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),   // A
      (2L, Seq(0.0, 1.0, 0.0)),   // B
      (3L, Seq(0.707, 0.707, 0.0)), // C
      (4L, Seq(0.98, 0.03, 0.0))  // D
    ).toDF("vid", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    val q = Seq((0L, Seq(1.0, 0.2, 0.0))).toDF("vid", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    def picks(lp: Int) = Engine.mmrRerank(corpus, "vid", "emb",
        q, "vid", "emb", n = 4, k = 3, lambdaPct = lp)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
      .sortBy(_._1).map(_._2).toSeq
    assert(picks(100) == Seq(4L, 1L, 3L)) // relevance-only
    // hand trace at lambda=60 (s100 units): step 2 scores A 18.85,
    // C 20.79, B 10.54 -> C jumps the near-dup; step 3 A 18.85 vs
    // B -16.52 -> A returns
    assert(picks(60) == Seq(4L, 3L, 1L))
    // lambda=50: step 2 B 8.28 > C 5.18 > A -0.95 -> the orthogonal
    // item wins outright; step 3 C 5.18 > A -> A never places
    assert(picks(50) == Seq(4L, 2L, 3L))
  }

  test("rankingMetrics: hand fixture — graded DCG order, rel-0 for " +
      "items outside the truth, MRR 0 with no hits, truth-less " +
      "queries dropped") {
    import spark.implicits._
    // truth q=1: a(1), b(2), c(3) -> rel a=3, b=2, c=1
    val truth = Seq((1L, "a", 1), (1L, "b", 2), (1L, "c", 3))
      .toDF("qid", "item", "rnk")
    // pred q=1: b, a, x (x outside truth -> gain 0); q=2 has no truth
    val pred = Seq((1L, "b", 1), (1L, "a", 2), (1L, "x", 3),
      (2L, "a", 1)).toDF("qid", "item", "rnk")
    val got = Engine.rankingMetrics(pred, truth, "qid", "item", "rnk")
      .collect()
    assert(got.length == 1) // q=2 dropped: no ideal ranking exists
    val r = got(0)
    def t(rel: Int, pos: Int) =
      BigDecimal(rel / (math.log(pos + 1.0) / math.log(2.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dcg = BigDecimal(t(2, 1)) + BigDecimal(t(3, 2)) // b then a; x=0
    val idcg = BigDecimal(t(3, 1)) + BigDecimal(t(2, 2)) +
      BigDecimal(t(1, 3))
    val ndcg = BigDecimal(dcg.toDouble / idcg.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) == 1L && r.getDouble(1) == ndcg)
    assert(r.getDouble(2) == 1.0 && r.getInt(3) == 2) // first hit pos 1
    // all-miss predictions: ndcg 0, mrr 0, hits 0
    val miss = Engine.rankingMetrics(
      Seq((1L, "x", 1)).toDF("qid", "item", "rnk"), truth,
      "qid", "item", "rnk").collect()(0)
    assert(miss.getDouble(1) == 0.0 && miss.getDouble(2) == 0.0 &&
      miss.getInt(3) == 0)
  }

  test("profileColumns: typed min/max before the string cast, exact " +
      "null and distinct counts per column") {
    import spark.implicits._
    val df = Seq((Some(10L), Some("b")), (Some(9L), None),
      (Some(10L), Some("a")), (None, Some("a")))
      .toDF("k", "s")
    val got = Engine.profileColumns(df, Seq("k", "s")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).sortBy(_._1)
    // typed min of (10, 9, 10) is 9 — a string-cast-first profiler
    // would report "10" as the min
    assert(got.toSeq == Seq(("k", 4L, 1L, 2L, "9", "10"),
      ("s", 4L, 1L, 2L, "a", "b")))
  }

  test("autocorrDaily: an alternating daily series has acf -1/+1/-1 " +
      "at lags 1/2/3, intra-day events average first, constant " +
      "series yield NULL") {
    import spark.implicits._
    val days = (1 to 6).map(d => f"2024-01-0$d")
    val alt = days.zipWithIndex.flatMap { case (d, i) =>
      // day value 2 on even index, 1 on odd — split across two events
      // so the daily mean (not the raw rows) drives the series
      val v = if (i % 2 == 0) 2.0 else 1.0
      Seq(("alt", d, v - 0.5), ("alt", d, v + 0.5))
    }
    val const = days.map(d => ("const", d, 5.0))
    val df = (alt ++ const).toDF("k", "d", "v")
      .withColumn("d", to_timestamp(col("d")))
    val got = Engine.autocorrDaily(df, col("k"), col("d"), col("v"))
      .collect().map(r => ((r.getString(0), r.getInt(1)),
        (r.getInt(2), if (r.isNullAt(3)) null else r.getDouble(3))))
      .toMap
    assert(got(("alt", 1)) == ((5, -1.0)))
    assert(got(("alt", 2)) == ((4, 1.0)))
    assert(got(("alt", 3)) == ((3, -1.0)))
    assert(got(("const", 1)) == ((5, null)))
    assert(got(("const", 2)) == ((4, null)))
    assert(got(("const", 3)) == ((3, null)))
  }

  test("kaplanMeier: hand fixture — censored users stay at risk " +
      "without counting as deaths, the curve steps only at churn " +
      "times, a whole-risk-set death pins survival to exactly 0") {
    import spark.implicits._
    // cohort week Jan 1: u1 churns at t=0, u2 at t=4, u3/u4 censored
    // (still active within 7 days of the Jan 20 corpus end);
    // cohort week Jan 8: its only user churns -> survival 0.0
    val rows = Seq(
      (1L, "2024-01-01"), (2L, "2024-01-01"), (2L, "2024-01-05"),
      (3L, "2024-01-01"), (3L, "2024-01-20"),
      (4L, "2024-01-01"), (4L, "2024-01-18"),
      (5L, "2024-01-08"), (5L, "2024-01-09"))
      .toDF("u", "d").withColumn("d", to_timestamp(col("d")))
    val got = Engine.kaplanMeier(rows, col("u"), col("d"), 7)
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).sortBy(x => (x._1, x._2)).toSeq
    assert(got == Seq(
      ("2024-01-01", 0, 4L, 1L, 0L, 0.75),  // 1 - 1/4
      ("2024-01-01", 4, 3L, 1L, 0L, 0.5),   // 0.75 * (1 - 1/3)
      ("2024-01-01", 17, 2L, 0L, 1L, 0.5),  // censoring: no step
      ("2024-01-01", 19, 1L, 0L, 1L, 0.5),
      ("2024-01-08", 1, 1L, 1L, 0L, 0.0)))  // d = n: pinned, not ln(0)
  }

  test("benfordAudit: hand fixture — first SIGNIFICANT digit (sub-unit " +
      "0.095 audits as 9, not the carried 1), non-positives and " +
      "sub-grid magnitudes excluded, empty digits still feed chi2") {
    import spark.implicits._
    // digits: 1, 1, 2, 2, 9; -5, 0 (non-positive) and 1e-12 (rounds to
    // 0 on the 9-dp grid) excluded; digits 3..8 observed zero times but
    // contribute their full expected counts to the statistic
    val df = Seq(1.00, 19.99, 0.02, 2.50, 0.095, -5.0, 0.0, 1e-12)
      .toDF("v")
    val got = Engine.benfordAudit(df, col("v")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bs = (1 to 9).map(d => r9(math.log10((d + 1.0) / d)))
    val nObs = Map(1 -> 2L, 2 -> 2L, 9 -> 1L).withDefaultValue(0L)
    val chi2 = (1 to 9).map { d =>
      val e = 5 * bs(d - 1)
      BigDecimal(r6(math.pow(nObs(d) - e, 2) / e))
    }.sum.toDouble
    assert(got == (1 to 9).map(d =>
      (d, nObs(d), r6(nObs(d) / 5.0), bs(d - 1), chi2)))
  }

  test("winsorizedStats: hand fixture — exact interpolated band, " +
      "wall counts, and the clipped decimal mean") {
    import spark.implicits._
    val df = ((1 to 10).map(_.toDouble) :+ 1000.0).map(("a", _))
      .toDF("k", "v")
    val r = Engine.winsorizedStats(df, col("k"), col("v"), 0.05, 0.95)
      .collect()(0)
    // p05 = 1.5 (between 1 and 2), p95 = 505 (between 10 and 1000);
    // clipped mean = (1.5 + (2+..+10) + 505) / 11 = 560.5 / 11
    assert((r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getDouble(6)) ==
      (("a", 1.5, 505.0, 11L, 1L, 1L, 50.954545)))
  }

  test("kCore: chain peels one layer per round until only the " +
      "triangle core survives; extra rounds are idempotent; messy " +
      "edges canonicalize") {
    import spark.implicits._
    // path 1-2-3-4-5 (no 2-core) + triangle 10-11-12 (the 2-core),
    // fed with a duplicate, a reversal, and a self-loop
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (11L, 10L), (5L, 5L))
      .toDF("a", "b")
    def core(r: Int) = Engine.kCore(edges, col("a"), col("b"), 2, r)
      .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
    val tri = Seq((10L, 2L), (11L, 2L), (12L, 2L))
    assert(core(3) == tri)
    assert(core(6) == tri) // idempotent past the fixed point
    // a too-small bound keeps chain remnants (documented semantics:
    // N rounds of peel, not the fixed point)
    assert(core(1).map(_._1).contains(3L))
  }

  test("seasonalIndexDow: per-weekday mean over the per-key mean, " +
      "exact through the decimal window sums") {
    import spark.implicits._
    // Mon 2024-01-01: values 1.5+2.5 (mean 2), Tue: 4 -> overall 8/3
    val df = Seq(("a", "2024-01-01", 1.5), ("a", "2024-01-01", 2.5),
      ("a", "2024-01-02", 4.0)).toDF("k", "d", "v")
      .withColumn("d", to_timestamp(col("d")))
    val got = Engine.seasonalIndexDow(df, col("k"), col("d"), col("v"))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1, 2L, 0.75), (2, 1L, 1.5)))
    // an all-zero key has no multiplicative profile: NULL, never NaN
    val zero = Seq(("z", "2024-01-01", 0.0), ("z", "2024-01-02", 0.0))
      .toDF("k", "d", "v").withColumn("d", to_timestamp(col("d")))
    assert(Engine.seasonalIndexDow(zero, col("k"), col("d"), col("v"))
      .collect().forall(_.isNullAt(3)))
  }

  test("wilsonInterval: bounds match the closed form and stay inside " +
      "[0, 1] at extreme p-hat where the normal interval would not") {
    import spark.implicits._
    val df = (Seq.fill(39)(("a", false)) :+ (("a", true)))
      .toDF("k", "s")
    val r = Engine.wilsonInterval(df, col("k"), col("s"))
      .collect()(0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (n, p, z) = (40.0, 1.0 / 40.0, 1.96)
    val c = p + z * z / (2 * n)
    val h = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    val d = 1 + z * z / n
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((40L, 1L, 0.025)))
    assert(r.getDouble(4) == r6((c - h) / d) && r.getDouble(4) > 0.0)
    assert(r.getDouble(5) == r6((c + h) / d) && r.getDouble(5) < 1.0)
    // the normal interval at this p-hat dips below zero — the reason
    // Wilson is the gate-grade interval
    assert(p - z * math.sqrt(p * (1 - p) / n) < 0.0)
  }

  test("labelPropagation: two bridged cliques converge to one label " +
      "per clique under the deterministic count-desc/label-asc tie " +
      "rule") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 5L),
      (5L, 6L), (6L, 7L), (5L, 7L)).toDF("a", "b")
    val got = Engine.labelPropagation(edges, col("a"), col("b"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (5L, 3L), (6L, 3L), (7L, 3L)))
  }

  test("associationRules: presence not multiplicity, min-support " +
      "pruning, asymmetric confidence with symmetric lift") {
    import spark.implicits._
    // b1={x,y} (x twice), b2={x,y}, b3={x,z}, b4={y}: pair (x,z) dies
    // at minSupport=2; x->y conf 2/3, lift (2/3)/(3/4)
    val df = Seq(("b1", "x"), ("b1", "x"), ("b1", "y"), ("b2", "x"),
      ("b2", "y"), ("b3", "x"), ("b3", "z"), ("b4", "y"))
      .toDF("b", "i")
    val got = Engine.associationRules(df, col("b"), col("i"), 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7))).sortBy(_._1).toSeq
    assert(got == Seq(
      ("x", "y", 2L, 3L, 3L, 0.5, 0.666667, 0.888889),
      ("y", "x", 2L, 3L, 3L, 0.5, 0.666667, 0.888889)))
  }

  test("theilSen: one corrupt day cannot move the median slope or " +
      "intercept; intra-day events average first") {
    import spark.implicits._
    // days 0..4 with means 1,2,3,4,100 — a perfect slope-1 line plus
    // one corrupt day; 6 of 10 pairwise slopes are exactly 1, so the
    // median slope is 1 and the intercept median is 1 (OLS would fit
    // slope ~19)
    val rows = Seq(("a", "1970-01-01", 0.5), ("a", "1970-01-01", 1.5),
      ("a", "1970-01-02", 2.0), ("a", "1970-01-03", 3.0),
      ("a", "1970-01-04", 4.0), ("a", "1970-01-05", 100.0))
      .toDF("k", "d", "v").withColumn("d", to_timestamp(col("d")))
    val r = Engine.theilSen(rows, col("k"), col("d"), col("v"))
      .collect()(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
      r.getDouble(4)) == (("a", 5L, 10L, 1.0, 1.0)))
  }

  test("joinSizeAudit: hand fixture — est rows multiply per key, " +
      "max-product ties report the smallest key, disjoint keys " +
      "audit to zero") {
    import spark.implicits._
    val a = Seq(1L, 1L, 2L, 9L).toDF("k")
    val b = Seq(1L, 2L, 2L, 3L).toDF("k")
    val r = Engine.joinSizeAudit(a, col("k"), b, col("k")).collect()(0)
    // key 1: 2*1=2, key 2: 1*2=2 (tie -> worst key 1); est 4
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 2L, 2L, 1L)))
    assert(r.getDouble(4) == 0.5)
    val none = Engine.joinSizeAudit(a, col("k"),
      Seq(7L).toDF("k"), col("k")).collect()(0)
    assert(none.getLong(0) == 0L && none.getLong(1) == 0L)
    assert(none.isNullAt(2) && none.isNullAt(3) && none.isNullAt(4))
  }

  test("maxSimRetrieve: hand fixture — per-query-token maxes sum, " +
      "self-doc excluded, rank order by score") {
    import spark.implicits._
    // 2-D unit-ish vectors with exact cosines: (1,0)·(0.6,0.8) = 0.6
    val tok = Seq(
      (100L, 1L, Seq(1.0f, 0.0f)), // query doc: token along x
      (100L, 2L, Seq(0.0f, 1.0f)), //            token along y
      (1L, 3L, Seq(1.0f, 0.0f)),   // doc 1: exact x match
      (1L, 4L, Seq(0.6f, 0.8f)),   //        0.8 vs y
      (2L, 5L, Seq(0.6f, 0.8f))    // doc 2: 0.6 vs x, 0.8 vs y
    ).toDF("doc", "tok_id", "embedding")
    val got = Engine.maxSimRetrieve(tok, "doc", "tok_id", "embedding",
        tok.filter(col("doc") === 100L), k = 5)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    // doc 1: max_x = 1.0, max_y = 0.8 -> 1.8; doc 2: 0.6 + 0.8 = 1.4;
    // the query doc itself (score 2.0) must NOT appear.
    assert(got.toSeq == Seq((100L, 1, 1L, 1.8), (100L, 2, 2L, 1.4)))
  }

  test("kAnonymity: only sub-k equivalence classes surface") {
    import spark.implicits._
    val df = (Seq.fill(5)(("a", 1)) ++ Seq.fill(2)(("a", 2)) ++
      Seq(("b", 1))).toDF("g", "h")
    val got = Engine.kAnonymity(df,
        Seq(("g", col("g")), ("h", col("h"))), k = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSet
    // the 5-row class ("a",1) is k-anonymous at k=3 and must not appear
    assert(got == Set(("a", 2, 2L), ("b", 1, 1L)))
  }

  test("countMinWords: estimates never underestimate and grade the " +
      "exact top-N") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val rows = Engine.countMinWords(docs, col("text"),
      depth = 4, width = 256, topN = 10).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (exact, est, over) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact, s"CM sketch underestimated: $r")
      assert(over == est - exact)
    }
    // widening the sketch can only tighten estimates (fewer collisions)
    val wide = Engine.countMinWords(docs, col("text"),
        depth = 4, width = 4096, topN = 10)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(wide(r.getString(0)) <= r.getLong(2))
    }
  }

  test("fdAudit: held and broken dependencies report exact fan-outs, " +
      "null lhs rows are excluded") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), "a"), (Some(1L), "a"), // key 1 -> one rhs (held)
      (Some(2L), "a"), (Some(2L), "b"), (Some(2L), "c"), // fan-out 3
      (None, "z") // null lhs: not a key
    ).toDF("k", "v")
    val got = Engine.fdAudit(df, Seq(("k->v", col("k"), col("v"))))
      .collect()(0)
    assert(got.getString(0) == "k->v")
    assert(got.getLong(1) == 2L) // lhs keys: 1, 2
    assert(got.getLong(2) == 1L) // only key 2 violates
    assert(got.getDouble(3) == 0.5)
    assert(got.getLong(4) == 3L) // worst fan-out
    assert(!got.getBoolean(5))
    val held = Engine.fdAudit(df.filter(col("k") =!= 2L),
      Seq(("k->v", col("k"), col("v")))).collect()(0)
    assert(held.getBoolean(5) && held.getLong(2) == 0L)
  }

  test("survivorsAsOf: the as-of read equals rerunning the ingest on " +
      "only the as-of batches — acceptance depends on earlier slots " +
      "alone") {
    import spark.implicits._
    // batches 0..2; doc 20's text near-dups doc 10 (J = 8/10 = 0.8 on
    // bigrams), doc 21 is novel, doc 12 near-dups doc 0
    val docs = Seq(
      (0L, "a b c d e f g h i j", 0L),
      (1L, "k l m n o p q r s t", 0L),
      (10L, "u v w x y z aa bb cc dd", 1L),
      (12L, "a b c d e f g h i k", 1L), // dup of 0 -> rejected
      (20L, "u v w x y z aa bb cc de", 2L), // dup of 10 -> rejected
      (21L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q0", 2L)
    ).toDF("doc_id", "text", "b")
    val full = "/tmp/graft_asof_full"
    val prefix = "/tmp/graft_asof_prefix"
    Engine.dedupIngest(docs, "doc_id", "text", col("b"), full): Unit
    Engine.dedupIngest(docs.filter(col("b") <= 1L), "doc_id", "text",
      col("b"), prefix): Unit
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val asOf1 = ids(Engine.survivorsAsOf(spark, full, maxBatch = 1))
    assert(asOf1 == ids(spark.read.parquet(s"$prefix/accepted")))
    assert(asOf1 == Set(0L, 1L, 10L))
    assert(ids(Engine.survivorsAsOf(spark, full, maxBatch = 2)) ==
      Set(0L, 1L, 10L, 21L))
  }

  test("dedupCostAudit: hand fixture — candidate pairs price exactly " +
      "as sum df*(df-1)/2, heaviest gram reported") {
    import spark.implicits._
    // bigrams: doc1 {a b, b c}, doc2 {a b, b d}, doc3 {a b, b c} ->
    // df(a b)=3, df(b c)=2, df(b d)=1 -> pairs = 3 + 1 + 0 = 4
    val df = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a b c"))
      .toDF("id", "txt")
    val r = Engine.dedupCostAudit(df, col("id"), col("txt")).collect()(0)
    assert(r.getLong(0) == 3L) // docs
    assert(r.getLong(1) == 3L) // distinct grams
    assert(r.getLong(2) == 4L) // candidate pairs
    assert(r.getString(3) == "a b" && r.getLong(4) == 3L)
    assert(r.getDouble(5) == BigDecimal(4.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("cmCells: sketches from disjoint batches ADD cell-for-cell to " +
      "the all-at-once sketch") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    def cellMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val whole = cellMap(Engine.cmCells(docs, col("text"), 4, 64))
    val a = cellMap(Engine.cmCells(
      docs.filter(col("doc_id") % 2 === 0), col("text"), 4, 64))
    val b = cellMap(Engine.cmCells(
      docs.filter(col("doc_id") % 2 =!= 0), col("text"), 4, 64))
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged == whole)
  }

  test("bm25StaleIdfAudit: identity when history is the whole corpus; " +
      "a ranking-shifting append is detected") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val full = Engine.bm25StaleIdfAudit(docs, col("doc_id"),
      col("text"), col("doc_id") < 5 && col("doc_id") % 5 =!= 0,
      lit(true), k = 10).collect()
    assert(full.nonEmpty)
    full.foreach(r => assert(r.getDouble(2) == 1.0,
      s"frozen==fresh must overlap fully: $r"))
    val stale = Engine.bm25StaleIdfAudit(docs, col("doc_id"),
      col("text"), col("doc_id") < 5 && col("doc_id") % 5 =!= 0,
      col("doc_id") % 5 =!= 0, k = 10).collect()
    stale.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 10L)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
    // a synthetic corpus where the append DOMINATES a query term's df:
    // the frozen index must rank differently for at least one query
    val base = Seq((1L, "alpha beta gamma", false),
      (2L, "alpha beta delta", false), (3L, "beta epsilon zeta", false),
      (4L, "alpha zeta eta", false)) ++
      (10L to 30L).map(i => (i, "alpha filler" + i, true))
    val df2 = base.toDF("id", "txt", "isDelta")
    val drift = Engine.bm25StaleIdfAudit(df2, col("id"), col("txt"),
      col("id") === 1L, !col("isDelta"), k = 3).collect()
    assert(drift.exists(_.getDouble(2) < 1.0),
      s"df-dominating append must shift some top-k: ${drift.toSeq}")
  }

  test("survivorWeights: weights conserve corpus mass, min member " +
      "survives, loners weigh 1") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L))
      .toDF("doc_id", "cluster_id")
    val got = Engine.survivorWeights(docs, "doc_id", clusters,
        "doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 3L -> 1L, 4L -> 1L))
    assert(got.values.sum == 4L) // sum of weights == corpus size
  }

  test("quotaSample: exact per-stratum counts, md5-rank stable under " +
      "repartitioning") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (if (i % 4 == 0) "a" else "b", i))
      .toDF("s", "k")
    val quotas = Seq(("a", 5), ("b", 10)).toDF("stratum", "quota")
    val got = Engine.quotaSample(df, col("s"), col("k"), quotas)
    val counts = got.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 5L, "b" -> 10L))
    val re = Engine.quotaSample(df.repartition(7), col("s"), col("k"),
      quotas)
    assert(got.collect().map(_.toSeq).toSet ==
      re.collect().map(_.toSeq).toSet)
  }

  test("pqDistortion: a codebook containing every vector has zero " +
      "distortion; a coarser one does not") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq.fill(16)(1.0f)), (2L, Seq.fill(16)(2.0f)),
      (3L, Seq.fill(16)(3.0f))).toDF("vec_id", "embedding")
    val perfect = Engine.pqDistortion(vecs, "vec_id", "embedding",
      vecs, "vec_id", "embedding", blocks = 2).collect()(0)
    assert(perfect.getLong(0) == 3L && perfect.getDouble(1) == 0.0 &&
      perfect.getDouble(4) == 0.0)
    val coarse = Engine.pqDistortion(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 1L), "vec_id", "embedding",
      blocks = 2).collect()(0)
    // vec 2 is off by 1 per dim, vec 3 by 2: Σd² = 16, 64; mean 80/3
    assert(coarse.getDouble(4) == 64.0)
    assert(coarse.getDouble(1) == BigDecimal(80.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("rfmFeatures: five users with strictly ordered measures score " +
      "exactly 1..5 on every axis") {
    import spark.implicits._
    // user u: u events ending u days after base, spend 10*u each
    val rows = for (u <- 1 to 5; k <- 1 to u) yield
      (u.toLong, s"2024-01-${10 + u} 00:00:00", 10.0 * u, "purchase")
    val ev = rows.toDF("user_id", "ts", "value", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Engine.rfmFeatures(ev, col("user_id"), col("ts"),
        col("value"), col("event_type") === "purchase",
        lit("2024-01-20").cast("date"))
      .orderBy("user_id").collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val u = i + 1
      assert(r.getLong(1) == 10 - u) // recency_days
      assert(r.getLong(2) == u) // frequency
      assert(r.getDouble(3) == 10.0 * u * u) // monetary
      assert((r.getLong(4), r.getLong(5), r.getLong(6)) ==
        ((u.toLong, u.toLong, u.toLong)),
        s"user $u scored ${r.toSeq}")
    }
  }

  test("embeddingAudit: zero-norm, non-finite, ragged dims, and dup " +
      "rows all counted on one pass") {
    import spark.implicits._
    val df = Seq(
      Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), // dup pair
      Seq(0.0f, 0.0f), // zero norm
      Seq(Float.NaN, 1.0f), // non-finite
      Seq(1.0f, 2.0f, 3.0f) // ragged
    ).toDF("embedding")
    val r = Engine.embeddingAudit(df, "embedding").collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 1L &&
      r.getLong(2) == 1L)
    assert(r.getLong(3) == 2L && r.getLong(4) == 3L && r.getBoolean(5))
    assert(r.getLong(6) == 2L) // both rows of the dup pair
  }

  test("distinctNgramRatios: exact ratios on a hand corpus") {
    import spark.implicits._
    val df = Seq(("s1", "a a b")).toDF("src", "txt")
    val got = Engine.distinctNgramRatios(df, col("src"), col("txt"),
        Seq(1, 2))
      .orderBy("n").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == Seq((1, 3L, 2L, 0.666667), (2, 2L, 2L, 1.0)))
  }

  test("hashClassifier: logit == the closed-form weight mean, blank " +
      "tokens filtered") {
    import spark.implicits._
    def h(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 257L + c.toLong) % 1000000007L)
    def w(t: String): Double =
      (((h(t) % 4096) * 2654435761L + 12345) % 1048576).toDouble /
        1048576.0 - 0.5
    val df = Seq((1L, "foo bar  baz"), (2L, "spark")).toDF("id", "txt")
    val got = Engine.hashClassifier(df, col("id"), col("txt"), 4096)
      .orderBy("doc_id").collect()
    val s1 = w("foo") + w("bar") + w("baz")
    assert(got(0).getLong(1) == 3L) // the double space adds no token
    assert(got(0).getDouble(2) ==
      BigDecimal(s1 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(got(0).getBoolean(3) == (s1 > 0.0))
    assert(got(1).getLong(1) == 1L)
    assert(got(1).getDouble(2) ==
      BigDecimal(w("spark")).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("containmentBandingRisk: quiet on near-uniform corpora, fires " +
      "once length spread blinds banding to a fully-contained pair") {
    // near-uniform: a C=1 pair at the extremes still has J ~ 0.9 —
    // inside 16x4 banding reach, nothing asymmetric to warn about
    assert(Engine.containmentBandingRisk(90, 100, 80, 64, 16).isEmpty)
    // ratio 1.25 (J_full = 0.8, miss ~2e-4): still structurally safe
    assert(Engine.containmentBandingRisk(100, 125, 80, 64, 16).isEmpty)
    // ratio 1.35 (J_full ~ 0.74, miss ~3e-3): past the 0.1% line —
    // the cleanest wrapper pair at the extremes can now slip banding
    assert(Engine.containmentBandingRisk(100, 135, 80, 64, 16).nonEmpty)
    // the q90h fixture's measured spread (8..98 bigrams): fires, and
    // the note names the exact-path exit — its safety is the per-round
    // oracle measurement, not structure
    val w = Engine.containmentBandingRisk(8, 98, 80, 64, 16)
    assert(w.exists(_.contains("containmentJoin")))
    // degenerate sides stay quiet (nothing to audit)
    assert(Engine.containmentBandingRisk(0, 98, 80, 64, 16).isEmpty)
    // the firing note now carries the τ-dependent qualifying bound too
    assert(w.exists(_.contains("QUALIFYING")))
  }

  test("containmentBandingAudit: a firing corpus produces the audit " +
      "ROW (gateable data, not just stderr); a uniform corpus reads " +
      "fires=false") {
    import spark.implicits._
    // asymmetric: 3-word contained doc (2 bigrams) vs a 60-word
    // container (59 bigrams) — ρ ≈ 30, far past the 1.3 firing line
    val small = Seq((1L, "a b c")).toDF("doc_id", "text")
    val big = Seq((2L, (1 to 61).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fired = Engine.containmentBandingAudit(small, big,
      "doc_id", "text", thresholdPct = 80).collect().head
    assert(fired.getAs[Int]("na_min") == 2 &&
      fired.getAs[Int]("nb_max") == 60)
    assert(fired.getAs[Boolean]("fires"))
    assert(fired.getAs[Double]("miss_full") > 1e-3)
    // the qualifying bound is STRICTLY worse (lower J, higher miss)
    // than the fully-contained bound whenever sizes differ
    assert(fired.getAs[Double]("j_qual") < fired.getAs[Double]("j_full"))
    assert(fired.getAs[Double]("miss_qual") >=
      fired.getAs[Double]("miss_full"))
    // near-uniform lengths: the C=1 pair stays inside banding reach —
    // no asymmetric blindness, fires=false — while miss_qual still
    // reports the borderline-J window every LSH scheme carries
    val u1 = Seq((1L, (1 to 10).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val u2 = Seq((2L, (1 to 11).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val quiet = Engine.containmentBandingAudit(u1, u2,
      "doc_id", "text", thresholdPct = 80).collect().head
    assert(!quiet.getAs[Boolean]("fires"))
    assert(quiet.getAs[Double]("miss_qual") > quiet.getAs[Double]("miss_full"))
  }

  test("annTablesFor: recall-targeted OR-construction sizing — the " +
      "annBits companion") {
    // the two committed fixture geometries (RECALL.json): annBits
    // gives 6 bits at sf0.1 (2k vectors) and 10 at the 10x stress
    // fixture (20k) — the sized counts are what the ledgered rows
    // re-measure at >=0.9 every round
    assert(Engine.annTablesFor(0.9, 6) == 9)
    assert(Engine.annTablesFor(0.9, 10) == 51)
    // more bits → sparser buckets → more tables at the same target
    // (the exact under-provisioning the fixed 8-table default hid)
    assert(Engine.annTablesFor(0.9, 10) > Engine.annTablesFor(0.9, 6))
    // a higher recall target can only cost more tables
    assert(Engine.annTablesFor(0.99, 10) > Engine.annTablesFor(0.9, 10))
    // the cost ceiling clamps a geometry that is wrong for the target
    // (bits=16 wants ~750 tables — resize bits, don't pay this)
    assert(Engine.annTablesFor(0.9, 16) == 64)
    // bits=1 with Hamming-1 probing covers the whole space → 1 table
    assert(Engine.annTablesFor(0.9, 1, neighborCos = 0.9) == 1)
  }

  test("whitenedStalenessAudit: overlap is exactly 1.0 when the " +
      "frozen slice IS the corpus, and reports per-query rows for " +
      "every full-dim query") {
    import spark.implicits._
    val rnd = new java.util.Random(11)
    val df = (0L until 40L).map(i =>
        i -> Array.fill(8)(rnd.nextFloat() * 2 - 1))
      .toDF("vec_id", "embedding")
    // history = whole corpus → frozen moments == fresh moments → the
    // two rankings are bit-identical and every overlap reads 1.0
    val idAudit = Engine.whitenedStalenessAudit(df, "vec_id",
      "embedding", isHistory = lit(true), isQuery = col("vec_id") < 5,
      k = 3).collect()
    assert(idAudit.length == 5)
    assert(idAudit.forall(_.getAs[Double]("overlap_ratio") == 1.0))
    // drift the non-history slice hard: per-dim moments move, the two
    // z spaces disagree, and at least one query's overlap drops — the
    // audit has signal, not just an identity path
    val drifted = df.withColumn("embedding",
      when(col("vec_id") % 2 === 0,
        transform(col("embedding"),
          x => x.cast("double") * lit(5.0) + lit(2.0)))
        .otherwise(transform(col("embedding"), x => x.cast("double"))))
    val dAudit = Engine.whitenedStalenessAudit(drifted, "vec_id",
      "embedding", isHistory = col("vec_id") % 2 =!= 0,
      isQuery = col("vec_id") < 5, k = 3).collect()
    assert(dAudit.length == 5)
    assert(dAudit.exists(_.getAs[Double]("overlap_ratio") < 1.0))
  }

  test("whitenedCosineTopK: ragged and null vectors are excluded from " +
      "the search space, never null-padded into the kernel") {
    import spark.implicits._
    // zip_with pads a short vector with nulls against the |dims|-wide
    // stats array and zips a null embedding to a null array — either
    // would feed the cosine kernel's trusted-equal-dims loop. The guard
    // keeps them out of the search space (they still contribute their
    // own coordinates to the per-dim moments, the q92t semantics).
    val rnd = new java.util.Random(7)
    def v(d: Int) = Array.fill(d)(rnd.nextFloat() * 2 - 1)
    val rows: Seq[(Long, Array[Float])] =
      (2L to 7L).map(i => i -> v(8)) ++
        Seq(0L -> v(4), 1L -> v(8), 8L -> null)
    val df = rows.toDF("vec_id", "embedding")
    val got = Engine.whitenedCosineTopK(df, "vec_id", "embedding",
      col("vec_id") <= 1, k = 3).collect()
    // ragged query 0 and null vector 8 are excluded on BOTH sides:
    // only the full-dim query 1 emits rows, and neither 0 nor 8 can be
    // a neighbour; no score is ever null.
    assert(got.length == 3, got.mkString("; "))
    assert(got.forall(_.getLong(0) == 1L))
    assert(got.forall(r => !r.isNullAt(3)))
    val ids = got.map(_.getLong(2)).toSet
    assert(!ids.contains(0L) && !ids.contains(8L))
    // self-similarity survives whitening: rank 1 of query 1 is itself
    assert(got.find(_.getInt(1) == 1).map(_.getLong(2)).contains(1L))
  }

  test("whitened index: persisted build+search == in-memory whitened " +
      "search when queries are drawn from the indexed corpus") {
    // The frozen-stats contract collapses to the in-memory form exactly
    // when the query set is part of the corpus the stats were derived
    // from — the equivalence that proves the index pair changes WHERE
    // the standardization lives, never WHAT it computes. (The q99o
    // oracle covers the other half: queries OUTSIDE the corpus
    // standardize through the frozen moments.)
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val path = graft.sources.IO.scratch("enginespec-whitened-idx",
      TestSpark.sfDir)
    val bits = Engine.annBits(e.count(), targetBucket = 32, maxBits = 16)
    Engine.buildWhitenedHyperIndex(e, "vec_id", "embedding", path,
      tables = 8, bits = bits)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val served = rows(Engine.searchWhitenedHyperIndex(
      e.filter(col("vec_id") < 20), "vec_id", "embedding", path,
      k = 3, tables = 8, bits = bits))
    val inMem = rows(Engine.whitenedLshTopKHyper(e, "vec_id",
      "embedding", col("vec_id") < 20, k = 3, tables = 8, bits = bits))
    assert(served == inMem)
    assert(served.nonEmpty)
  }

  test("whitenedRebuildDue: strict-below threshold boundary, drift " +
      "fires the gate, and an empty surviving query batch never does") {
    import spark.implicits._
    val rnd = new java.util.Random(13)
    val df = (0L until 40L).map(i =>
        i -> Array.fill(8)(rnd.nextFloat() * 2 - 1))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("rebuild_due_idx").toString
    try {
      Engine.buildWhitenedHyperIndex(df, "vec_id", "embedding", path,
        tables = 4, bits = 4, dims = 8)
      val q = df.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      // corpus == the indexed corpus → frozen == fresh → mean overlap
      // is exactly 1.0, and the STRICT comparison must not fire at a
      // threshold of exactly 1.0 (at-threshold still serves)
      val id0 = Engine.whitenedRebuildDue(df, "vec_id", "embedding",
        q, "qid", "qe", path, k = 3, minOverlap = 1.0).collect().head
      assert(id0.getAs[Long]("n_queries") == 5L)
      assert(id0.getAs[Double]("mean_overlap") == 1.0)
      assert(!id0.getAs[Boolean]("rebuild_due"))
      // drift half the corpus hard after the build: fresh moments pull
      // away from the frozen stats, overlap drops, the gate fires
      val drifted = df.withColumn("embedding",
        when(col("vec_id") % 2 === 0,
          transform(col("embedding"),
            x => x.cast("double") * lit(5.0) + lit(2.0)))
          .otherwise(transform(col("embedding"), x => x.cast("double"))))
      val dr = Engine.whitenedRebuildDue(drifted, "vec_id", "embedding",
        q, "qid", "qe", path, k = 3, minOverlap = 1.0).collect().head
      assert(dr.getAs[Double]("mean_overlap") < 1.0)
      assert(dr.getAs[Boolean]("rebuild_due"))
      // and a threshold at/below the measured mean must NOT fire
      val at = Engine.whitenedRebuildDue(drifted, "vec_id", "embedding",
        q, "qid", "qe", path, k = 3,
        minOverlap = dr.getAs[Double]("mean_overlap") - 0.01)
        .collect().head
      assert(!at.getAs[Boolean]("rebuild_due"))
      // queries that all fail the frozen fixed-dim guard: no evidence
      // is not drift — n_queries 0, rebuild_due false
      val ragged = Seq(100L -> Array.fill(4)(0.5f)).toDF("qid", "qe")
      val none = Engine.whitenedRebuildDue(df, "vec_id", "embedding",
        ragged, "qid", "qe", path, k = 3, minOverlap = 1.0)
        .collect().head
      assert(none.getAs[Long]("n_queries") == 0L)
      assert(!none.getAs[Boolean]("rebuild_due"))
    } finally graft.sources.IO.deleteRec(new java.io.File(path))
  }

  test("searchMinHashIndex: forced shuffled-attach fallback == the " +
      "pinned candidate-broadcast branch, and the pinned probe ships " +
      "no history payload across an exchange") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("mh_probe_gate").toString
    try {
      Engine.buildMinHashIndex(hist, "doc_id", "text", path)
      val pinned = Engine.searchMinHashIndex(batch, "doc_id", "text",
          path).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pinned.nonEmpty)
      // the pinned plan's exchanges carry candidate ids / batch-side
      // payload only — history gram arrays are read in place via the
      // candidate broadcast, never shuffled (the q90q histCols rule)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
        case a: AdaptiveSparkPlanExec => exchanges(a.initialPlan)
        case e: ShuffleExchangeExec => Seq(e)
      }.flatten
      val plan = Engine.searchMinHashIndex(batch, "doc_id", "text",
        path).queryExecution.executedPlan
      assert(exchanges(plan).forall(e =>
        e.output.forall(a => a.name != "__sb" && a.name != "grams")),
        s"history payload crossed an exchange:\n$plan")
      // the overflow regime (gate forced to 0) falls back loudly to
      // the shuffled attach — result-identical, the 100 TB-burst shape
      val shuffled = Engine.probeIndex(Engine.PathIndex(spark, path),
          Engine.minHashDocTable(batch, "doc_id", "text", 2),
          thresholdPct = 60, numHashes = 64, bands = 16,
          broadcastMaxCands = 0L).pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(shuffled == pinned)
    } finally graft.sources.IO.deleteRec(new java.io.File(path))
  }

  test("annDesignCosine: measured design point sits in the open " +
      "domain, rises with pct, and a duplicate-saturated sample " +
      "sizes one table") {
    import spark.implicits._
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val d25 = Engine.annDesignCosine(e, "vec_id", "embedding",
      q, "qid", "qe", k = 10)
    val dMax = Engine.annDesignCosine(e, "vec_id", "embedding",
      q, "qid", "qe", k = 10, pct = 1.0)
    assert(d25 > -1.0 && d25 < 1.0)
    assert(dMax >= d25) // nearest-rank percentile is monotone in pct
    // harder design point (lower cosine) must never size FEWER tables
    assert(Engine.annTablesFor(0.9, 10, neighborCos = d25) >=
      Engine.annTablesFor(0.9, 10, neighborCos = dMax))
    // every k-th neighbour an exact duplicate → cosine clamps just
    // under 1 → copies collide in any single table
    val dup = (0L until 30L).map(i => i -> Array.fill(8)(0.25f))
      .toDF("vec_id", "embedding")
    val dq = dup.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val dcos = Engine.annDesignCosine(dup, "vec_id", "embedding",
      dq, "qid", "qe", k = 5)
    assert(Engine.annTablesFor(0.9, 10, neighborCos = dcos) == 1)
  }

  test("hashClassifier: zero-token text yields null logit and " +
      "keep=false, never NaN") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, "ok")).toDF("id", "txt")
    val got = Engine.hashClassifier(df, col("id"), col("txt"), 4096)
      .orderBy("doc_id").collect()
    Seq(0, 1).foreach { i =>
      assert(got(i).getLong(1) == 0L)
      assert(got(i).isNullAt(2), s"row $i logit must be null")
      assert(!got(i).getBoolean(3))
    }
    assert(got(2).getLong(1) == 1L && !got(2).isNullAt(2))
  }
}
