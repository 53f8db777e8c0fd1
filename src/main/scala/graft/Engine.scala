package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

/** The user-facing operator library — the programmatic surface behind the
  * oracle-checked query registry. Every operator here is the same
  * implementation the registry verifies (the q9x queries delegate to
  * these), parameterized for reuse:
  *
  *  - [[exactDedup]] — digest groupBy (one shuffle on the hash)
  *  - [[wordNgrams]] — zip-sliced n-gram construction (O(n) per row)
  *  - [[minHashNearDups]] — banded-MinHash candidate pairs + exact
  *    Jaccard verification; never all-pairs
  *  - [[nearDupClusters]] — connected components over a pair list
  *  - [[cosineTopK]] — exact top-k cosine of a bounded query set
  *  - [[stableSample]] — reproducible hash-bucket sampling (uniform or
  *    stratified via a per-stratum rate column)
  *  - [[dedupChunks]] — chunk/line-level corpus dedup with
  *    order-preserving reassembly
  *  - [[applyDedup]] — materialize the cleaned corpus from near-dup
  *    pairs (cluster-representative selection)
  *  - [[packSequences]] — context-window packing by running token count
  *  - [[hardNegatives]] — contrastive near-miss negative mining
  *  - [[zOrderKey]] — interleaved-bit clustering key for 2-D data
  *    skipping
  *  - [[sessionize]] — gap-cut sessions, one shuffle on the key
  *  - [[gapFill]] — dense slot series with linear interpolation
  *  - [[decontaminate]] — n-gram overlap vs a benchmark set
  *
  * Streaming/pipeline entry points live beside these:
  * [[graft.pipeline.SlotPipeline]] (cursor-driven slot ingestion) and
  * [[graft.sources.Sources.eventsStream]] (landing-zone file streams).
  */
object Engine {

  /** MEMORY_AND_DISK persist that is a no-op when the plan is already in
    * the session cache (public `storageLevel` probe — a cached plan
    * reports its level, an uncached one NONE). Two registry queries that
    * build the identical intermediate would otherwise both call
    * `.persist` and the second fills the log with `CacheManager: Asked
    * to cache already cached data` warnings. */
  private[graft] implicit class PersistOnceOps(private val df: DataFrame) {
    def persistOnce(): DataFrame =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
  }

  /** Single-scan DATA-QUALITY audit (the Deequ discipline): every
    * row-local constraint is a conditional sum fused into ONE partial
    * aggregate, so auditing N constraints costs one corpus pass — not
    * N. `constraints` are (name, violation-predicate) pairs; a NULL
    * predicate counts as non-violating (nulls get their own IS NULL
    * constraint, keeping each check single-purpose). `uniqueKey` adds a
    * duplicate-count check (rows − distinct keys), the one constraint
    * that cannot be row-local: it plans as Spark's Expand + two-phase
    * distinct aggregate — the honest corpus shuffle any exact
    * uniqueness audit pays; swap in `approx_count_distinct` when a ±1%
    * audit suffices at 100 TB. Returns one row per constraint:
    * (check_name, n_violations, n_rows). */
  def constraintAudit(df: DataFrame, constraints: Seq[(String, Column)],
      uniqueKey: Seq[String]): DataFrame = {
    require(constraints.nonEmpty && uniqueKey.nonEmpty)
    // names are spliced into a stack() SQL string below — restrict to
    // identifier characters so a quote in a name cannot break (or
    // inject into) the generated expression
    constraints.foreach { case (n, _) =>
      require(n.matches("[A-Za-z0-9_]+"),
        s"constraint name must be [A-Za-z0-9_]+, got '$n'")
    }
    val names0 = constraints.map(_._1)
    require(names0.distinct.size == names0.size && !names0.contains(
      "unique_key"), "constraint names must be unique and not the " +
      s"reserved 'unique_key': ${names0.mkString(",")}")
    // coalesce: sum over ZERO rows is NULL, while the unique_key check
    // (count − countDistinct) is 0 on the same empty corpus — without it
    // the two check families disagree on an empty audit and a consumer
    // reading getLong NPEs (r10 advice)
    val sums = constraints.map { case (n, pred) =>
      coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L)).as(s"__v_$n")
    }
    // distinct over the STRUCT, not the column list: countDistinct(a, b)
    // silently skips tuples containing a NULL (so a NULL-keyed row would
    // read as a duplicate), while a struct with null fields is itself
    // non-null and counts — the row-value distinct SQL semantics
    val uniq = (count(lit(1)) -
      countDistinct(struct(uniqueKey.map(col): _*))).as("__v_unique_key")
    val agg = df.agg(count(lit(1)).as("__n"), (sums :+ uniq): _*)
    val names = constraints.map(_._1) :+ "unique_key"
    val stackArgs = names.map(n => s"'$n', __v_$n").mkString(", ")
    agg.select(
      expr(s"stack(${names.size}, $stackArgs) AS (check_name, n_violations)"),
      col("__n").as("n_rows"))
  }

  /** Distribution DRIFT between a reference and a candidate slice as
    * per-bucket total-variation terms — the training-data monitoring
    * pass that catches a source mix shifting under the pipeline.
    * Deliberately TVD, not PSI/KL: shares are exact-integer counts
    * through one IEEE divide and subtract, so the result is
    * bit-deterministic in any engine — a log() would tie the contract
    * to each engine's libm rounding. Plan: one filtered scan into one
    * conditional-sum aggregate on the bucket key (both slices in the
    * same pass — no self-join), plus a 1-row totals broadcast; sums
    * over the bucket table (≤ bucket-count rows) give TVD =
    * 0.5·Σ gap. */
  def tvdDrift(df: DataFrame, isRef: Column, isCand: Column,
      bucket: Column): DataFrame = {
    // Rows in NEITHER slice (both predicates false — or NULL, e.g. an
    // unparseable partition key) are out of scope by contract: they
    // belong to no distribution being compared. An entirely EMPTY
    // slice is the zero measure — its shares are 0 and every gap
    // equals the other slice's share (TVD → 1, maximal drift). A
    // NULL-on-zero-divide here would instead blank the gaps exactly
    // when the monitor has the most to say.
    val b = df.filter(isRef || isCand)
      .select(bucket.cast("int").as("bucket"),
        isRef.as("__r"), isCand.as("__c"))
      .groupBy("bucket")
      .agg(sum(when(col("__r"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__c"), 1L).otherwise(0L)).as("n_cand"))
    val tot = b.agg(sum("n_ref").as("__tr"), sum("n_cand").as("__tc"))
    def share(n: Column, t: Column): Column =
      when(t === 0, lit(0.0)).otherwise(n / t)
    val sr = share(col("n_ref"), col("__tr"))
    val sc = share(col("n_cand"), col("__tc"))
    b.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_ref"), col("n_cand"),
        round(sr, 6).as("share_ref"),
        round(sc, 6).as("share_cand"),
        round(abs(sr - sc), 6).as("gap"))
  }

  /** Unkeyed INTERVAL OVERLAP join via BIN BUCKETING — the primitive the
    * q27 key-anchored range join cannot express: every (a, b) pair of
    * intervals with a.start ≤ b.end AND b.start ≤ a.end, with NO shared
    * equi-key to hash on. The naive plan is a cartesian product; this one
    * never is: each interval explodes to the fixed-width bins it covers,
    * the join runs as a plain EQUI-join on the bin id, and each
    * overlapping pair is emitted EXACTLY ONCE without any dedup shuffle —
    * a pair is kept only in the bin containing max(a.start, b.start),
    * which both intervals provably cover (max(start) ≤ min(end) for an
    * overlapping pair, and floor is monotone), so no distinct/groupBy
    * pass re-shuffles the output. At 100 TB: bin width trades replication
    * (intervals spanning many bins) against per-bin join fan-in (skew
    * when everything lands in one bin) — near the median interval length
    * is the right size, and that sizing rule is now the DEFAULT, not a
    * doc comment (r10 verdict item 6): leave `binSize` at 0 and an
    * approx-percentile pre-pass over the two interval-length columns
    * picks max(1, median length) across both inputs. The pre-pass is one
    * cheap projection-only scan per side into a 1-row sketch aggregate —
    * at 100 TB it reads two long columns, nothing else — and the
    * explicit knob remains for callers that know their distribution
    * (exactly-once emission holds for EVERY bin size, so the knob only
    * moves performance, never results).
    *
    * Contract: `aStart/aEnd/bStart/bEnd` are NON-NEGATIVE integral
    * columns (e.g. days since epoch), intervals inclusive, column names
    * across `a` and `b` disjoint. */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame,
      aStart: String, aEnd: String, bStart: String, bEnd: String,
      binSize: Long = 0L): DataFrame = {
    require(binSize >= 0, "binSize: 0 = auto (median interval length)")
    val bin =
      if (binSize >= 1) binSize
      else {
        val lens = a.select(
            (col(aEnd) - col(aStart) + 1).cast("long").as("__len"))
          .unionByName(b.select(
            (col(bEnd) - col(bStart) + 1).cast("long").as("__len")))
        val m = lens.agg(
          expr("approx_percentile(__len, 0.5, 10000)").as("m")).head()
        if (m.isNullAt(0)) 1L else math.max(1L, m.getLong(0))
      }
    // The documented contract is now ENFORCED, not just documented (r10
    // advice): overlapping column names would make the joined filters
    // ambiguous, a negative start silently breaks exactly-once emission
    // (Spark's `div` truncates toward zero, not floor, so bins below 0
    // misalign), and a reversed interval makes sequence() emit a
    // DESCENDING bin range instead of failing. The row guard is one
    // codegen'd comparison per row feeding raise_error only on
    // violation — negligible against the explode it gates.
    require(a.columns.toSet.intersect(b.columns.toSet).isEmpty,
      "intervalOverlapJoin requires disjoint column names across a and b")
    def binned(df: DataFrame, s: String, e: String) = df.withColumn(
      "__bin", explode(expr(
        s"CASE WHEN $s < 0 OR $e < $s THEN " +
          s"raise_error(concat('intervalOverlapJoin: interval must " +
          s"satisfy 0 <= $s <= $e, got (', $s, ', ', $e, ')')) " +
          s"ELSE sequence($s div $bin, $e div $bin) END")))
    binned(a, aStart, aEnd).join(binned(b, bStart, bEnd), Seq("__bin"))
      .filter(col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd))
      .filter(col("__bin") ===
        expr(s"greatest($aStart, $bStart) div $bin"))
      .drop("__bin")
  }

  /** CHI-SQUARE test of independence between two categorical columns —
    * the global drift statistic complementing [[tvdDrift]]'s per-bucket
    * gaps (TVD localizes WHERE two slices differ; χ² answers whether two
    * attributes are associated at all, e.g. "did lang stay independent
    * of source after this ingest?"). All observed/marginal counts are
    * integers; each expected count is (row·col)/N through IEEE ops in
    * one fixed order, each cell term (O−E)²/E likewise, and the
    * cell-term SUM routes through [[Canon.sumDec]]'s decimal grid — the
    * one place an FP sum's order-dependence could diverge engines.
    * Plan: one count aggregate on the (a, b) pair, marginals re-derived
    * from the CELL table (≤ |A|·|B| rows — never a second corpus scan),
    * 1-row total broadcast. Returns one row (n_cells, dof, chi2). */
  def chiSquareIndependence(df: DataFrame, colA: String,
      colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowT = cells.groupBy("__a").agg(sum("__o").as("__r"))
    val colT = cells.groupBy("__b").agg(sum("__o").as("__c"))
    val tot = cells.agg(sum("__o").as("__n"))
    val e = col("__r").cast(DoubleType) * col("__c") / col("__n")
    val withE = cells.join(rowT, Seq("__a")).join(colT, Seq("__b"))
      .crossJoin(broadcast(tot))
      .withColumn("__e", e)
      .withColumn("__t",
        (col("__o") - col("__e")) * (col("__o") - col("__e")) / col("__e"))
    withE.agg(count(lit(1)).as("n_cells"),
        ((countDistinct(col("__a")) - 1) *
          (countDistinct(col("__b")) - 1)).as("dof"),
        round(graft.Canon.sumDec(col("__t")), 6).as("chi2"))
  }

  /** Fixed-point integer PAGERANK over a directed edge list — the
    * TextRank/centrality kernel (q93p). Scores are scaled by 10⁶ and
    * every operation is integer: per-edge contribution `pr div outdeg`,
    * damping `(85·Σ) div 100`, floor (1−d)·scale = 150000 — zero
    * floating point, so any two engines agree in every bit of every
    * iteration (the q49c EWMA determinism argument applied to an
    * iterative fixpoint). Self-loops are the caller's concern; dangling
    * nodes keep the floor.
    *
    * Scale shape: the iteration count is FIXED and small, and each
    * round is one equi-join + one hash aggregate on the node key over
    * the EDGE-LIST-sized tables — for the TextRank use the graph is
    * vocabulary-sized (sublinear in corpus), so the loop never touches
    * corpus-sized data. A convergence-driven variant must add the
    * [[nearDupClusters]] lineage-truncation discipline; at a fixed 3
    * rounds the lineage is 3 joins deep and needs none. */
  def pageRankInt(edges: DataFrame, src: String, dst: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 20)
    val e = edges.select(col(src).as("__src"), col(dst).as("__dst"))
      .distinct().persistOnce()
    // outdeg is loop-invariant but its subtree appears once per
    // iteration in the final plan — pinned so it computes once, like
    // e and nodes
    val outdeg = e.groupBy("__src").agg(count(lit(1)).as("__od"))
      .persistOnce()
    val nodes = e.select(col("__src").as("word"))
      .unionByName(e.select(col("__dst").as("word")))
      .distinct().persistOnce()
    val p0 = nodes.withColumn("pr", lit(1000000L))
    (1 to iterations).foldLeft(p0) { (p, _) =>
      val contrib = e.join(outdeg, Seq("__src"))
        .join(p.select(col("word").as("__src"), col("pr").as("__p")),
          Seq("__src"))
        .select(col("__dst").as("word"), expr("__p div __od").as("__c"))
        .groupBy("word").agg(sum(col("__c")).as("__s"))
      nodes.join(contrib, Seq("word"), "left")
        .select(col("word"),
          expr("150000L + (85 * coalesce(__s, 0L)) div 100").as("pr"))
    }
  }

  /** ROBUST per-group outlier profile via median/MAD — the quality gate
    * that survives what mean/stddev cannot: a single corrupted batch of
    * extreme values drags a z-score gate's own yardstick toward the
    * garbage (breakdown point 0), while the median absolute deviation
    * ignores up to half the data being bad. Per key: med = median(v),
    * mad = median(|v − med|), and a row is an outlier when
    * |v − med| > k·mad (strict — the MAD=0 degenerate group, over half
    * its values identical, flags exactly the rows off the mode).
    *
    * Determinism: med and mad are ROUNDED to 6 dp before anything
    * compares against them — exact-interpolation medians agree across
    * engines only to ~1 ulp, and an unrounded boundary comparison would
    * flip rows at exactly the threshold (the q99b rounded-cosine
    * discipline applied to quantiles). After rounding, |v − med| and
    * k·mad are single IEEE ops on identical doubles — bit-identical
    * everywhere.
    *
    * Plan shape: the two medians are inherently SEQUENTIAL (the second
    * aggregates a quantity defined by the first — no single-pass form
    * exists), so the floor is two grouped aggregates on the same key
    * plus the flagging pass, all sharing one hash partitioning; the
    * per-key scalar tables (med, mad) join back unhinted — group
    * cardinality is not bounded by this API's contract, so the
    * broadcast is AQE's runtime-size call, not a pinned claim (the q29
    * discipline). At 100 TB swap the exact percentile for
    * approx_percentile(·, 0.5, ε) per the q39 accuracy note. */
  def madOutliers(df: DataFrame, key: String, value: String,
      k: Int = 3): DataFrame = {
    require(k >= 1)
    val v = df.select(col(key).as("__k"),
      col(value).cast("double").as("__v"))
    val med = v.groupBy("__k")
      .agg(round(expr("percentile(__v, 0.5D)"), 6).as("med"))
    val dev = v.join(med, Seq("__k"))
      .withColumn("__ad", abs(col("__v") - col("med")))
    val mad = dev.groupBy("__k")
      .agg(round(expr("percentile(__ad, 0.5D)"), 6).as("mad"))
    dev.join(mad, Seq("__k"))
      .groupBy(col("__k"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__ad") > col("mad") * k, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("__k").as(key), col("med"), col("mad"), col("n"),
        col("n_outliers"))
  }

  /** Contiguous 0-based GLOBAL row ids in `orderCol` order — the
    * training-example indexing primitive (every packed/exported corpus
    * needs a dense id space; `monotonically_increasing_id` leaves
    * partition-sized gaps, and `row_number() OVER (ORDER BY ...)` is
    * the classic scale-killer: Catalyst plans an empty-frame window as
    * ONE partition holding the whole corpus).
    *
    * The scale shape: range-repartition + in-partition sort gives the
    * total order across partitions; `zipWithIndex` then runs one
    * lightweight count job over the first P−1 partitions, prefix-sums
    * the P counts on the driver (P scalars, bounded by the partition
    * count), and attaches offset+local index in a second pass — the
    * shuffle files materialized by the count job are REUSED by the
    * attach job (same RDD lineage), so the sampled range boundaries
    * cannot shift between the two passes. Zero corpus-sized windows,
    * zero single-partition exchanges, one range shuffle total.
    *
    * `orderCol` must be a total order (unique values) — with ties the
    * in-partition tie order, and therefore the ids, would be
    * nondeterministic.
    *
    * EAGER: zipWithIndex computes its partition offsets in its
    * CONSTRUCTOR, so building the returned frame already runs the scan
    * + range shuffle (one job), before any action on the result — call
    * this when you mean to execute, not to compose a lazy plan. */
  def globalIds(df: DataFrame, orderCol: String,
      outCol: String = "global_id"): DataFrame = {
    // repartitionByRange IS the spread: it redistributes any input
    // layout across shuffle-partition count ranges, so a
    // Spread here would only stack a second exchange under it.
    val sorted = df.repartitionByRange(col(orderCol))
      .sortWithinPartitions(col(orderCol))
    val schema = sorted.schema.add(outCol, LongType, nullable = false)
    val withIds = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(withIds, schema)
  }

  /** Distinct word n-grams of a BOUND words-array column —
    * `array_distinct` over the [[graft.plans.WordNgrams]] codegen
    * kernel. History of this kernel (SURVEY §8): indexed lambdas →
    * zip-slice HOF (~7× better) → native expression (the r13 HOF
    * audit: the zip-slice lambda still evaluated INTERPRETED outside
    * whole-stage codegen, measured as 4.2 s of q90f's 7.8 s at the 10×
    * fixture; the expression is one fused byte-level concatWs loop,
    * bit-equal by ExpressionSpec pin). */
  def wordNgrams(words: Column, n: Int): Column = {
    require(n >= 1)
    array_distinct(positionalNgrams(words, n))
  }

  /** POSITIONAL word n-grams: element p (0-based) is the n-gram starting
    * at token p+1 — [[wordNgrams]] without the distinct, for operators
    * that need the start offset ([[dupSpans]]). The expression is built
    * directly (no session-registry dependency), so every shingling
    * operator gets the codegen kernel with no call-site changes. */
  def positionalNgrams(words: Column, n: Int): Column = {
    require(n >= 1)
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.WordNgrams(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(words), n))
  }

  /** Banded MinHash signature of a shingle array (ARRAY<BIGINT> of
    * `bands` band hashes; empty for an empty or NULL array) — the
    * row-local [[graft.plans.MinHashBands]] kernel behind every band
    * table, built directly like [[positionalNgrams]]. */
  private[graft] def minHashBands(grams: Column, numHashes: Int,
      bands: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.MinHashBands(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(grams),
        numHashes, bands))

  /** Duplicated-substring SPANS (the exact substring-dedup pass of Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better"): every maximal token span whose n-gram windows all occur
    * at least twice in the corpus. Returns (id, span_start, span_end,
    * n_tokens), token positions 1-based inclusive.
    *
    * Plan shape: positional n-grams (linear per row) → partial-
    * aggregated gram count (the corpus-sized shuffle any substring
    * dedup pays — at scale ship xxhash64 fingerprints, not strings) →
    * semi-join back to positions → per-doc island merge with gap ≤ n
    * (overlap or contiguity) under doc-partitioned windows only. */
  def dupSpans(df: DataFrame, id: String, text: String,
      n: Int = 8): DataFrame = {
    val grams = df
      .select(col(id).as("__id"), split(col(text), " ").as("__w"))
      .filter(size(col("__w")) >= n)
      .select(col("__id"),
        posexplode(positionalNgrams(col("__w"), n)).as(Seq("__p", "__g")))
      .select(col("__id"), (col("__p") + 1).cast("int").as("__i"),
        col("__g"))
    // duplicated-gram detection as ONE unbounded count window — over
    // the 16-byte md5 DIGEST of the gram, not the n-word string: the
    // count needs only gram identity, so the exchange ships (id, i,
    // 16 B) instead of (id, i, ~n·6 B text) and the window sort
    // compares fixed-width binaries (measured at the 10× fixture:
    // 7.0 → 3.3 s for the detection stage, exchange bytes 388 → 180 MB
    // — the r13 §8 HOF-audit finding for q90f, which turned out to be
    // exchange width, not an interpreted lambda). Digest-identity is
    // the q90 exactDedup bar (md5 collisions are 2⁻¹²⁸-scale, the same
    // assumption exact dedup already rests on). The groupBy+semi-join
    // predecessor shipped the string three times (count shuffle + both
    // join sides) and recomputed the explode for the join probe;
    // measured 11.1 s at the same fixture. Skew note: a pathologically
    // hot gram concentrates its occurrences in one partition either
    // way; the window adds a sort but no per-key state.
    val pos = grams
      .withColumn("__h", unhex(md5(col("__g"))))
      .select(col("__id"), col("__i"), col("__h"))
      .withColumn("__c", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .filter(col("__c") > 1)
      .select(col("__id"), col("__i"))
    val wdoc = Window.partitionBy(col("__id")).orderBy(col("__i"))
    val run = wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pos
      .withColumn("__brk",
        when(col("__i") - lag(col("__i"), 1).over(wdoc) <= n, lit(0))
          .otherwise(lit(1)))
      .withColumn("__island", sum(col("__brk")).over(run))
      .groupBy(col("__id"), col("__island"))
      .agg(min(col("__i")).as("span_start"),
        (max(col("__i")) + (n - 1)).as("span_end"))
      .select(col("__id").as(id), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** Span SCRUBBING — the apply step of [[dupSpans]]: cut the given
    * token spans out of each document, keeping the remaining tokens in
    * original order. `spans` must carry (id, span_start, span_end),
    * 1-based inclusive. Returns (id, n_kept, clean_text); documents
    * scrubbed to nothing drop out.
    *
    * Plan: the span table (duplicated regions only — tiny vs the
    * corpus) explodes to a distinct (id, position) drop set, anti-joins
    * the positional tokens, and reassembly sorts only inside each
    * doc's collected array; every shuffle is doc-keyed. */
  def scrubSpans(df: DataFrame, id: String, text: String,
      spans: DataFrame): DataFrame = {
    val toks = df.select(col(id).as("__id"),
        posexplode(split(col(text), " ")).as(Seq("__p", "__tok")))
      .select(col("__id"), (col("__p") + 1).cast("int").as("__i"),
        col("__tok"))
    val drop = spans.select(col(id).as("__id"),
        explode(sequence(col("span_start"), col("span_end"))).as("__i"))
      .distinct()
    toks.join(drop, Seq("__id", "__i"), "left_anti")
      .groupBy(col("__id"))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__i"), col("__tok")))),
          x => x.getField("__tok")), " ").as("clean_text"))
      .select(col("__id").as(id), col("n_kept"), col("clean_text"))
  }

  /** Exact HEAVY HITTERS behind a sketch prefilter — tokens occurring in
    * ≥ `supportPct`% of the stream, computed sketch-then-verify like
    * [[decontaminateBloom]]: `freqItems` (Spark's one-pass mergeable
    * Karp/Misra-Gries sketch) nominates a candidate SUPERSET — it can
    * over-report but never misses a true heavy hitter — and one exact
    * count over only the ≤ 100/supportPct candidates confirms. The
    * driver materialization is the candidate array (bounded by
    * construction — the [[withCountGreater]] scalar class); the
    * threshold compare is exact integer arithmetic (cnt·100 ≥ pct·N),
    * never a float rate. Returns (token, cnt).
    *
    * At 100 TB the naive full groupBy shuffles every distinct token;
    * this plan shuffles ONE pass of partial sketches plus a filtered
    * count whose key space is ≤ 100/supportPct. */
  def heavyHitters(df: DataFrame, token: Column,
      supportPct: Int): DataFrame = {
    require(supportPct >= 1 && supportPct <= 100)
    val toks = df.select(token.as("token"))
    val cands: Seq[String] = toks.stat
      .freqItems(Seq("token"), supportPct / 100.0)
      .head().getSeq[String](0)
    val tot = toks.agg(count(lit(1)).as("__N"))
    toks.filter(col("token").isin(cands: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * 100 >= lit(supportPct) * col("__N"))
      .select(col("token"), col("cnt"))
  }

  /** Exact dedup: group identical content by digest. Returns
    * (content_hash, keeper_id = min id, n_copies). */
  def exactDedup(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Near-duplicate pairs via banded MinHash + exact verification.
    *
    * `numHashes` must be `bands` × rows-per-band; miss probability for a
    * pair at Jaccard J is (1 − J^r)^b. Candidate generation is an
    * equi-join on (band, band-hash) — O(colliding pairs), never O(n²).
    * Returns (doc_a, doc_b, jaccard) with jaccard ≥ threshold, doc_a <
    * doc_b.
    *
    * Documents shorter than `shingleWords` words have NO shingles and are
    * excluded entirely — they can never appear in the output, even as
    * exact duplicates of each other; route short texts through
    * [[exactDedup]] (or lower `shingleWords`). The banded signature table
    * is locally checkpointed (it is read twice by the candidate
    * self-join); the shingle table is cheap and recomputed per reference.
    */
  def minHashNearDups(df: DataFrame, id: String, text: String,
      threshold: Double = 0.8, numHashes: Int = 64,
      bands: Int = 16, shingleWords: Int = 3): DataFrame = {
    val docs = Spread(df)
      .withColumn("__words", split(col(text), " "))
      .withColumn("__sv", wordNgrams(col("__words"), shingleWords))
      .select(col(id).as("__id"), col("__sv"))
    val banded = minHashBandTable(docs, "__id", numHashes, bands)
      // Cache policy (uniform across Engine's straight-line pipelines):
      // persist, NOT localCheckpoint — the row-local signature kernel
      // still runs ONCE (both sides of the candidate self-join read the
      // cache), but lineage is kept, so a lost executor recomputes the
      // missing blocks instead of failing the job (localCheckpoint blocks
      // are non-replicated and unrecoverable — r3 advice). DISK spillover
      // bounds memory at scale. Iterative loops (nearDupClusters) are the
      // one place lineage truncation is still required.
      // LIFETIME (deliberate, r5 advice adjudicated): no unpersist — the
      // plan stays pinned in the session CacheManager, which is what lets
      // a LATER query with the identical sub-plan reuse the blocks
      // (plan-identity hit: the dedup-materialization round reuses the
      // clustering round's pair computation, measured 2.25 s → 1.13 s).
      // The pin is bounded by operators × input dirs per session, blocks
      // spill to disk, and ContextCleaner reclaims on session stop; an
      // unpersist-after-action would trade that bounded footprint for
      // recomputing the signature table in every consumer.
      .persistOnce()
    val cands = banded
      .select(col("__band"), col("__bh"), col("__id").as("doc_a"))
      .join(banded.select(col("__band"), col("__bh"),
        col("__id").as("doc_b")), Seq("__band", "__bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    val verified = cands
      .join(docs.select(col("__id").as("doc_a"), col("__sv").as("__sa")),
        Seq("doc_a"))
      .join(docs.select(col("__id").as("doc_b"), col("__sv").as("__sb")),
        Seq("doc_b"))
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    val uni = size(col("__sa")) + size(col("__sb")) - inter
    verified
      .withColumn("jaccard", round(inter.cast(DoubleType) / uni, 6))
      .filter(inter.cast(DoubleType) / uni >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Default priced-candidate budget for the EXACT prefix-filter join
    * family ([[jaccardJoin]] / [[jaccardJoinAcross]] /
    * [[containmentJoin]]): the q90v price (Σ over grams of the all-pairs
    * product the gram equi-join can emit) above which the join REFUSES
    * to run unless the caller raises the budget explicitly. Calibration
    * from the committed ledgers: the q90d sf1 flood prices 1.17e9 and
    * costs a 1.1 GB spill floor; q91c's trigram self-join prices 1.25e8
    * at sf1 and runs clean. 5e8 sits between them — a saturated-
    * vocabulary corpus one notch past q91c's sf1 volume gets a refusal
    * NAMING the banded exit instead of a multi-GB shuffle flood
    * (the r11 q90p incident, priced in advance). */
  val exactJoinDefaultBudget: Long = 500_000_000L

  /** PRICED REFUSAL GATE for the exact joins: crossJoin the 1-row
    * `price` (column `__price`, the q90v candidate count) onto the
    * gram-frequency table and fail the PLAN — codegen'd when/raise_error
    * in the row path, the [[pqBlockDistances]] guard discipline, never a
    * driver-side collect — if the price exceeds the budget. The gate
    * rides the frequency table every prefix ranking already consumes, so
    * a refused join dies after one vocabulary-sized aggregate, BEFORE
    * any candidate pair is generated or shuffled. `price` maps the
    * (persisted) frequency table to its 1-row price; `maxPairs` =
    * Long.MaxValue opts out, returning `freq` unpriced. */
  private def candidateBudgetGate(freq: DataFrame, opName: String,
      bandedExit: String, maxPairs: Long)(
      price: DataFrame => DataFrame): DataFrame =
    if (maxPairs == Long.MaxValue) freq
    else {
      val gated = freq.persistOnce()
      gated.crossJoin(broadcast(price(gated)))
        .filter(when(col("__price") <= lit(maxPairs), lit(true))
          .otherwise(raise_error(concat(
            lit(s"$opName: priced exact-join candidate volume "),
            col("__price").cast(DecimalType(38, 0)).cast(StringType),
            lit(s" exceeds maxCandidatePairs=$maxPairs. The gram equi-join" +
              s" would flood (the q90p lesson: a 2.6 GB spill this price" +
              s" predicts in one cheap aggregate — see dedupCostAudit)." +
              s" Use the banded exit ($bandedExit) for the same verified" +
              s" answer, or pass maxCandidatePairs explicitly to run the" +
              s" exact form anyway")))))
        .drop("__price")
    }

  /** N-gram Jaccard similarity join via PREFIX FILTERING (the
    * AllPairs/PPJoin family) — the deterministic-recall alternative to
    * [[minHashNearDups]]: candidate generation is EXACT, not
    * probabilistic.
    *
    * Theorem (prefix filter): order every document's n-gram set by one
    * global total order; if two sets have Jaccard ≥ t, their prefixes of
    * length |s| − ⌈t·|s|⌉ + 1 must share at least one n-gram. So an
    * equi-join on prefix n-grams finds EVERY qualifying pair, and exact
    * verification removes the false positives — recall 1.0 by
    * construction, which is why this operator's oracle can be exact
    * all-pairs with no triage note (contrast q91's banding-miss note).
    *
    * The global order is (document frequency ASC, n-gram ASC): rare
    * n-grams first, so the hot stopword-ish n-grams land at the END of
    * each set and almost never enter a prefix — the candidate join's key
    * distribution is anti-skewed by construction, which is what makes
    * this shape survive 100 TB (the df join shuffles on n-gram once, and
    * prefixes are O(1−t) of each set).
    *
    * `thresholdPct` is an integer percentage so the prefix length is
    * computed in exact integer arithmetic (⌈t·n⌉ = (n·pct + 99) div 100)
    * — a float ⌈⌉ at the boundary could shorten a prefix and silently
    * lose recall. Returns (doc_a, doc_b, jaccard), doc_a < doc_b,
    * jaccard ≥ pct/100.
    *
    * Candidate pruning beyond the prefix filter — both loss-free PPJoin
    * theorems, applied INSIDE the candidate join so pruned pairs never
    * reach the dedup shuffle (they matter when the n-gram vocabulary is
    * small relative to the corpus and prefix selectivity alone degrades):
    *  - LENGTH filter: J ≥ t ⇒ min(|a|,|b|) ≥ t·max(|a|,|b|)
    *    (J ≤ min/max since i ≤ min and u ≥ max).
    *  - POSITIONAL filter: J ≥ t ⇔ i ≥ α = ⌈t/(1+t)·(|a|+|b|)⌉. For the
    *    FIRST prefix n-gram two docs share — at 1-based rarity ranks
    *    (ra, rb) — no earlier n-gram is common, so
    *    i ≤ 1 + min(|a|−ra, |b|−rb); rows violating
    *    1 + min(|a|−ra, |b|−rb) ≥ α can be dropped: a qualifying pair's
    *    first shared prefix n-gram always survives, so recall stays 1.0.
    *
    * Verification is the family's one exact [[verify]] (the merge
    * kernel over LEX-SORTED n-gram arrays). Measured at sf0.1 (5000
    * docs, 931-n-gram vocabulary — a worst case for prefix
    * selectivity): raw candidate rows drop 12.8M → 8.85M via the
    * asymmetric prefixes, then to 2.4M distinct pairs after the
    * length/positional filters — for 256 true pairs — and the filters
    * + merge kernel together took the operator from 23.4 s to ~8 s for
    * the identical output.
    */
  def jaccardJoin(df: DataFrame, id: String, text: String,
      thresholdPct: Int = 60, ngramWords: Int = 2,
      maxCandidatePairs: Long = exactJoinDefaultBudget): DataFrame =
    verify(jaccardCandidates(df, id, text, thresholdPct, ngramWords,
      maxCandidatePairs))

  /** [[jaccardJoin]]'s prefix-filter candidate half. */
  private[graft] def jaccardCandidates(df: DataFrame, id: String,
      text: String, thresholdPct: Int, ngramWords: Int,
      maxCandidatePairs: Long): Candidates = {
    require(thresholdPct >= 1 && thresholdPct <= 100)
    val docs = prefixDocTable(df, id, text, ngramWords)
    val tok = docs.select(col("__id"), col("__n"), explode(col("__sv")).as("__t"))
    // priced refusal (see [[candidateBudgetGate]]): Σ df·(df−1)/2 — the
    // exact all-pairs volume of the gram equi-join (q90v's number) —
    // must fit the budget before any candidate is generated
    val dfreq = candidateBudgetGate(
        tok.groupBy("__t").agg(count(lit(1)).as("__df")),
        "jaccardJoin", "minHashNearDups (q91)", maxCandidatePairs)(
      _.agg(coalesce(
        sum(expr("CAST(__df AS DECIMAL(38,0)) * (__df - 1) / 2")),
        lit(0).cast(DecimalType(38, 6))).as("__price")))
    val byDoc = Window.partitionBy(col("__id"))
    val pref = tok.join(dfreq, Seq("__t"))
      .withColumn("__rn", row_number().over(
        byDoc.orderBy(col("__df").asc, col("__t").asc)))
      .filter(col("__rn") <=
        col("__n") - expr(s"(__n * $thresholdPct + 99) div 100") + 1)
      .select(col("__t"), col("__id"), col("__rn"), col("__n"))
      // the prefix pipeline runs once, not per join side (cache policy:
      // see [[prefixDocTable]])
      .persistOnce()
    // PPJoin's ASYMMETRIC prefixes: order each pair by (size, id); the
    // SMALLER record only needs the INDEXING prefix of length
    // n − ⌈2t/(1+t)·n⌉ + 1 (for any partner at least its size, the
    // required overlap is ≥ 2t/(1+t)·n), while the larger keeps the full
    // probing prefix n − ⌈t·n⌉ + 1. Both arrays sort in ONE global
    // order, so a qualifying pair's first shared n-gram is preceded only
    // by non-shared ones in BOTH — it sits within rank n − i + 1 ≤ both
    // prefix bounds and passes the positional filter with cnt_before = 0;
    // recall stays 1.0 while the short side drops ~⅓ of its index rows.
    val a = pref
      .filter(col("__rn") <= col("__n") -
        expr(s"(2 * $thresholdPct * __n + ${100 + thresholdPct - 1})" +
          s" div ${100 + thresholdPct}") + 1)
      .select(col("__t"), col("__id").as("ida"),
        col("__rn").as("__ra"), col("__n").as("__na"))
    val b = pref.select(col("__t"), col("__id").as("idb"),
      col("__rn").as("__rb"), col("__n").as("__nb"))
    // α in exact integer arithmetic: ⌈pct·(na+nb) / (100+pct)⌉
    val alpha = expr(s"(($thresholdPct * (__na + __nb) + ${100 + thresholdPct - 1})" +
      s" div ${100 + thresholdPct})")
    val cands = a.join(b, Seq("__t"))
      .filter((col("__na") < col("__nb") ||
          (col("__na") === col("__nb") && col("ida") < col("idb"))) &&
        col("__nb") * 100 >= col("__na") * thresholdPct &&
        col("__na") * 100 >= col("__nb") * thresholdPct &&
        least(col("__na") - col("__ra"), col("__nb") - col("__rb")) + 1 >= alpha)
    // a candidate recurs once per shared prefix n-gram: reduce to the
    // distinct pair list before the wide verify, narrowed to the two ids
    // first — a carried-along column becomes a per-entry buffer in the
    // dedup aggregate, and the two-long entry is what bounds its
    // map/spill footprint when a gram-saturated corpus floods the
    // candidate join (77.7M distinct pairs at the 10× fixture; the
    // tighter PPJoin suffix bound in this aggregate was measured and
    // refuted there, SURVEY.md §8)
    Candidates(cands.select("ida", "idb").dropDuplicates("ida", "idb")
        .select(least(col("ida"), col("idb")).as("doc_a"),
          greatest(col("ida"), col("idb")).as("doc_b")),
      "doc_a", docs, "doc_b", docs, Jaccard(thresholdPct))
  }

  /** The prefix joins' doc table: [[minHashDocTable]] plus each doc's
    * gram count `__n`, LONG from the start so every downstream product
    * (__n · pct, __na + __nb) runs in 64-bit — Int arithmetic would
    * overflow (and under ANSI mode, throw) at ~21M n-grams per document
    * (r3 advice). Read by the token explode and the verify attach:
    * persist, not localCheckpoint — same recoverability rationale as
    * minHashNearDups' banded signatures. */
  private def prefixDocTable(df: DataFrame, id: String, text: String,
      ngramWords: Int): DataFrame =
    minHashDocTable(df, id, text, ngramWords)
      .withColumn("__n", size(col("__sv")).cast("long")).persistOnce()

  /** A threshold measure of the one exact [[verify]], as an integer
    * percentage — so every bound is exact integer arithmetic; a float
    * ⌈⌉ at the boundary could shorten a bound and lose recall. */
  private[graft] sealed trait Measure
  /** J(a, b) = |a ∩ b| / |a ∪ b| ≥ pct/100 → (idA, idB, jaccard) */
  private[graft] final case class Jaccard(pct: Int) extends Measure
  /** C(a→b) = |a ∩ b| / |a| ≥ pct/100 → (idA, idB, n_shared, n_grams_a) */
  private[graft] final case class Containment(pct: Int) extends Measure

  /** One n-gram similarity operator's candidate pairs (`idA`, `idB`),
    * the (__id, __sv) doc table each side attaches its sorted gram
    * array from, and the measure the pairs are verified by. */
  private[graft] final case class Candidates(pairs: DataFrame,
      idA: String, docsA: DataFrame, idB: String, docsB: DataFrame,
      measure: Measure)

  /** The ONE exact verify of the n-gram similarity family: every
    * candidate generator — prefix filter ([[jaccardJoin]],
    * [[jaccardJoinAcross]], [[containmentJoin]]), banding
    * ([[minHashJoinAcross]], [[containmentJoinBanded]]), index probe
    * ([[probeIndex]], tail only) — feeds it, so a pair's answer cannot
    * depend on which generator found it (REPOSE's bound-then-verify
    * split, PAPERS.md).
    *
    * The attach is size-gated on the doc count (a self-join hands one
    * table to both sides and counts it once; two tables are counted by
    * one action over their union): at or under
    * `broadcastMaxDocs` ([[verifyBroadcastMaxDocs]]) both array tables
    * BROADCAST, so distinct pairs stream through two in-memory hash
    * joins and the arrays never ride an exchange; past it, sort-merge —
    * the only shape when the corpus outgrows a broadcast. The 10× scale
    * fixture is the motivating regime: its ~31-word vocabulary
    * saturates the trigram space, prefix selectivity collapses (10.9M
    * candidates for 256 true pairs), and an SMJ attach shipped every
    * pair's arrays through two shuffles — measured 39–58 s solo at sf1
    * vs ~14 s streamed. The candidate list itself is never broadcast:
    * its size is candidate-volume-bound, not corpus-bound. */
  private[graft] def verify(c: Candidates,
      broadcastMaxDocs: Long = verifyBroadcastMaxDocs): DataFrame = {
    val nDocs =
      if (c.docsA eq c.docsB) c.docsA.count()
      else c.docsA.select(lit(1)).union(c.docsB.select(lit(1))).count()
    def side(docs: DataFrame, id: String, sv: String) = {
      val s = docs.select(col("__id").as(id), col("__sv").as(sv))
      if (nDocs <= broadcastMaxDocs) broadcast(s) else s
    }
    keepQualifying(c.pairs.join(side(c.docsA, c.idA, "__sa"), Seq(c.idA))
      .join(side(c.docsB, c.idB, "__sb"), Seq(c.idB)), c.idA, c.idB,
      c.measure)
  }

  /** [[verify]]'s tail: keep the pairs of `attached` (candidates carrying
    * both sorted arrays `__sa`/`__sb`) whose measure reaches the
    * threshold, with the measure's output columns. The kernel is the
    * early-terminating merge ([[graft.plans.SortedIntersectAtLeast]])
    * under each measure's exact required overlap — J ≥ t ⟺ inter ≥ α =
    * ⌈pct·(|a|+|b|)/(100+pct)⌉, C ≥ t ⟺ inter ≥ ⌈pct·|a|/100⌉ — so
    * doomed candidates exit the walk in ~bound steps (the
    * saturated-vocabulary fixture put 31.9M candidates in front of 30
    * true containment pairs; the full walk was 13.8 s of the query's
    * 26 s) and survivors return exact counts. Every filter product runs
    * in 64-bit: the ×100/×pct products overflow Int at ~21M distinct
    * n-grams, which ANSI mode turns into a job-killing exception (r3
    * advice). Containment also prunes on size first (intersection ≤
    * |b|), short-circuiting the kernel on pairs no larger b could
    * satisfy. */
  private def keepQualifying(attached: DataFrame, idA: String, idB: String,
      m: Measure): DataFrame = {
    graft.plans.SortedIntersectCount.register(attached.sparkSession)
    def atLeast(bound: String) =
      expr(s"sorted_intersect_count(__sa, __sb, $bound)")
    val (na, nb) = (size(col("__sa")), size(col("__sb")))
    m match {
      case Jaccard(pct) =>
        val inter = atLeast(s"(CAST($pct AS BIGINT) * (size(__sa) + " +
          s"size(__sb)) + ${100 + pct - 1}) div ${100 + pct}")
        val uni = na + nb - inter
        attached
          .withColumn("jaccard", round(inter.cast(DoubleType) / uni, 6))
          .filter(inter.cast("long") * 100 >= uni.cast("long") * pct)
          .select(idA, idB, "jaccard")
      case Containment(pct) =>
        val inter = atLeast(s"(CAST(size(__sa) AS BIGINT) * $pct + 99) div 100")
        val need = na.cast("long") * pct
        attached
          .filter(nb.cast("long") * 100 >= need &&
            inter.cast("long") * 100 >= need)
          .select(col(idA), col(idB), inter.cast("int").as("n_shared"),
            na.cast("int").as("n_grams_a"))
    }
  }

  /** Gate for [[verify]]'s array attach: corpora at or under this row
    * count attach their n-gram arrays to the (deduped) candidate pairs
    * via BROADCAST hash joins — the arrays cross the cluster once, never
    * per pair; larger corpora sort-merge. ~250k docs × ~400 B of
    * sorted n-gram array ≈ 100 MB — comfortable in the deployment
    * contract's executor memory, far under Spark's 8 GB broadcast cap.
    * The gate matters because a vocabulary-saturated corpus floods the
    * candidate join (42,000× the true-pair count measured on the 10×
    * fixture) and an SMJ attach ships arrays per PAIR, while a 100 TB
    * corpus can never broadcast its arrays and only the sort-merge shape
    * survives. Size, not semantics: both branches verify identically —
    * EngineSpec pins that equivalence by forcing the sort-merge branch
    * through [[verify]]'s `broadcastMaxDocs` parameter (the gate would
    * otherwise never flip below 250k docs, leaving the exact branch that
    * runs at production scale untested). `-Dgraft.verifyBroadcastMaxDocs`
    * is an ops tuning knob for executors whose memory budget differs
    * from the deployment contract's. */
  def verifyBroadcastMaxDocs: Long = VerifyBroadcastMaxDocs.value
  private[graft] val VerifyBroadcastMaxDocs = Knob("verifyBroadcastMaxDocs",
    default = 250000L, min = 0L, max = Long.MaxValue)

  /** Gate for [[searchMinHashIndex]]'s PINNED ids-only candidate
    * broadcast (pairs, not docs — the broadcast ships two longs per
    * candidate; the batch-side gram arrays ride their own bounded
    * broadcast either way). Past the gate the probe falls back loudly
    * to the shuffled history attach — see the probe body's rationale.
    * Overridable via `-Dgraft.probeBroadcastMaxCands` (the
    * [[verifyBroadcastMaxDocs]] ops discipline); [[probeIndex]]'s
    * `broadcastMaxCands` = 0 forces the shuffled attach. */
  def probeBroadcastMaxCands: Long = ProbeBroadcastMaxCands.value
  private[graft] val ProbeBroadcastMaxCands = Knob("probeBroadcastMaxCands",
    default = 1000000L, min = 0L, max = Long.MaxValue)

  /** An integral `-Dgraft.<name>` override, validated where it is read:
    * unset is `default`, anything outside [min, max] fails naming the
    * knob — a silently accepted 0 slice count would turn q92f into a
    * no-op. */
  private[graft] final case class Knob(name: String, default: Long,
      min: Long, max: Long = Int.MaxValue) {
    def parse(raw: Option[String]): Long = raw.fold(default) { v =>
      v.trim.toLongOption.filter(n => n >= min && n <= max).getOrElse(
        throw new IllegalArgumentException(
          s"-Dgraft.$name=$v: expected an integer in [$min, $max]"))
    }
    def value: Long = parse(sys.props.get(s"graft.$name"))
  }

  /** PRODUCT-QUANTIZATION encode: split each embedding into `blocks`
    * contiguous sub-vectors and assign every block the id of its nearest
    * codebook sub-vector (squared L2, rounded-decimal ties broken by
    * code id) — the compression half of an IVF-PQ index: a D-float
    * vector becomes `blocks` small ints, an ~32× footprint cut that is
    * what makes billion-vector search RAM-resident at 100 TB.
    *
    * Plan shape: the codebook broadcasts (K·D floats, bounded config);
    * each (vector × code) row computes ALL block distances IN-ROW via
    * slice/zip_with/aggregate HOFs — the embeddings themselves never
    * shuffle. The exploded (vec, block, dist, code) stream is scalar-
    * skinny and partial-aggregates to min(struct(dist, code)) map-side,
    * so the one exchange carries O(N · blocks) tiny rows. Squared
    * differences are exact IEEE ops on casts from float; each term
    * rounds through DECIMAL(38,6) before the order-free decimal sum —
    * both engines agree bit-for-bit, including at argmin ties. */
  def pqEncode(vecs: DataFrame, id: String, vec: String,
      codebook: DataFrame, cid: String, cvec: String,
      blocks: Int, subDim: Int = 8): DataFrame = {
    pqBlockDistances(vecs, id, vec, codebook, cid, cvec, blocks, subDim)
      .groupBy(col("__qid").as("vec_id"), col("__blk").as("block"))
      .agg(min(struct(col("__dd"), col("__cid"))).as("__m"))
      .select(col("vec_id"), col("block"), col("__m.__cid").as("code"))
  }

  /** PQ ASYMMETRIC-DISTANCE (ADC) top-k search: score every encoded
    * corpus vector against a bounded query set using only its PQ codes —
    * distance ≈ Σ_blocks LUT(query, block, code), where the LUT holds the
    * exact block distance from the query to each codebook sub-vector.
    * The search half of IVF-PQ: after [[pqEncode]], queries never touch
    * the corpus floats again.
    *
    * Plan shape: the LUT is queries × blocks × K scalars — bounded
    * config, built by [[pqEncode]]'s own distance kernel applied to the
    * query set, then broadcast; the codes table equi-joins it on
    * (block, code) — a broadcast hash join, no shuffle of the corpus —
    * and the per-(query, vector) sum partial-aggregates through
    * DECIMAL(38,6). Top-k per query is a rank-k window, which compiles
    * to a partial WindowGroupLimit below its exchange (the q44 family).
    * At 100 TB the scan reads `blocks` small ints per vector instead of
    * D floats — that I/O cut, not the arithmetic, is the win. */
  def pqSearch(codes: DataFrame, queries: DataFrame, qid: String,
      qvec: String, codebook: DataFrame, cid: String, cvec: String,
      blocks: Int, k: Int, subDim: Int = 8): DataFrame = {
    require(k >= 1)
    val lut = broadcast(pqBlockDistances(queries, qid, qvec,
      codebook, cid, cvec, blocks, subDim))
    val scored = codes
      .join(lut, codes("block") === lut("__blk") &&
        codes("code") === lut("__cid"))
      .groupBy(lut("__qid").as("query_id"), codes("vec_id").as("vec_id"))
      .agg(sum(col("__dd").cast(org.apache.spark.sql.types
        .DecimalType(38, 6))).cast(DoubleType).as("adist"))
    topKWithin(scored, "query_id",
        Seq(col("adist").asc, col("vec_id").asc), k)
      .select("query_id", "rnk", "vec_id", "adist")
  }

  /** Per-vector IVF RESIDUAL: assign every row its nearest coarse
    * centroid ([[nearestCells]]) and emit (idAs, cell, residual =
    * vec − μ_cell), the quantity the standard IVF-PQ construction
    * encodes. Subtraction runs element-wise in DOUBLE (float→double
    * widening is exact and IEEE subtraction is correctly rounded, so
    * both engines agree bit-for-bit). Centroids broadcast; the whole
    * thing is a map pass over the corpus — no shuffle, pipelines inside
    * the scan at any scale. */
  def ivfResiduals(corpus: DataFrame, id: String, vec: String,
      centroids: DataFrame, cid: String, cvec: String,
      idAs: String = "vec_id"): DataFrame =
    nearestCells(corpus.select(col(id).as(idAs), col(vec).as("__e")), idAs,
        "__e", centroids, cid, cvec, probe = 1)
      .select(col(idAs), col("__ccid").as("cell"),
        expr("zip_with(__e, __ce, (a, b) -> " +
          "CAST(a AS DOUBLE) - CAST(b AS DOUBLE))").as("residual"))

  /** The deterministic seed PQ codebook for the RESIDUAL space: the
    * residuals of `seedIds`' own vectors vs their assigned coarse cells
    * — entries that live where the residuals live (near the origin, at
    * residual scale), which is what raw data vectors structurally are
    * NOT (the round-12 recall floor: codes quantized RAW vectors
    * against data-vector entries — 0.11–0.13 recall@10; residual
    * entries are centered and scaled with what they quantize).
    * Production trains per-block k-means on residuals and ships it
    * into the same (id, vector) slot; this seed form is the
    * oracle-replayable bootstrap, the [[ivfCentroidIds]] discipline
    * applied to the residual space. */
  def pqSeedResidualCodebook(corpus: DataFrame, id: String, vec: String,
      centroids: DataFrame, cid: String, cvec: String,
      seedIds: Seq[Long]): DataFrame = {
    require(seedIds.nonEmpty)
    ivfResiduals(corpus.filter(col(id).isin(seedIds: _*)), id, vec,
        centroids, cid, cvec)
      .select(col("vec_id").as("cb_id"), col("residual").as("cb_vec"))
  }

  /** PER-BLOCK Lloyd training of a residual PQ codebook — the standard
    * IVF-PQ training loop as a real operator instead of prose: starting
    * from [[pqSeedResidualCodebook]]'s seed entries, each iteration
    * (a) assigns every corpus residual its per-block argmin code (the
    * same decimal-exact [[graft.plans.PqBlockDists]] kernel the encoder
    * uses — training and encoding can never disagree on a boundary) and
    * (b) replaces each (block, code) sub-vector with the decimal-rounded
    * mean of its assigned residual slices, per block INDEPENDENTLY —
    * full-width entries whose block b segment is block b's own centroid,
    * which is exactly per-block codebooks in the engine's full-width
    * storage shape. Empty clusters keep their previous entry.
    *
    * Plan per iteration: one assignment pass (corpus × K in-row kernel,
    * map-side argmin) + one (blocks·K·subDim)-sized mean aggregate +
    * a driver-bounded reassembly of K rows — the corpus shuffles
    * nothing wider than (vec_id, blk, code). Means round through
    * DECIMAL(38,9), so the trained codebook is bit-reproducible across
    * partitionings and reruns.
    *
    * `tol` > 0 turns `iters` into a CAP with convergence early-stop:
    * after each pass the measured encode distortion ([[pqDistortion]],
    * one bounded action per pass — a training loop, not a query) is
    * compared to the previous pass's, and training stops once the
    * relative improvement drops below `tol`. Lloyd monotonicity
    * (EngineSpec pins it) makes the stop deterministic. */
  def pqTrainResidualCodebook(corpus: DataFrame, id: String, vec: String,
      centroids: DataFrame, cid: String, cvec: String,
      seedIds: Seq[Long], blocks: Int, subDim: Int = 8,
      iters: Int = 1, tol: Double = 0.0): DataFrame = {
    require(iters >= 0)
    val dec9 = DecimalType(38, 9)
    val res = ivfResiduals(corpus, id, vec, centroids, cid, cvec)
      .persistOnce()
    var cb = res.filter(col("vec_id").isin(seedIds: _*))
      .select(col("vec_id").as("cb_id"), col("residual").as("cb_vec"))
      .persistOnce()
    def distortion(): Double =
      pqDistortion(res, "vec_id", "residual", cb, "cb_id", "cb_vec",
        blocks, subDim).collect().head.getDouble(1)
    // Convergence state seeds from the FIRST in-loop measurement — no
    // pre-training distortion pass (the loop's documented cost is one
    // bounded action per pass, and pass 1 always runs regardless of the
    // seed codebook's quality, so measuring before it buys nothing).
    var prev = Double.NaN
    var converged = false
    for (_ <- 1 to iters if !converged) {
      val assign = pqBlockDistances(res, "vec_id", "residual",
          cb, "cb_id", "cb_vec", blocks, subDim)
        .groupBy(col("__qid"), col("__blk"))
        .agg(min(struct(col("__dd"), col("__cid"))).as("__m"))
        .select(col("__qid").as("vec_id"), col("__blk").as("blk"),
          col("__m.__cid").as("code"))
      val means = assign.join(res, Seq("vec_id"))
        .select(col("blk"), col("code"),
          posexplode(expr(s"slice(residual, blk * $subDim + 1, $subDim)"))
            .as(Seq("__d", "__x")))
        .groupBy(col("blk"), col("code"), col("__d"))
        .agg((sum(col("__x").cast(dec9)) / count(col("__x")))
          .cast(dec9).cast(DoubleType).as("__mv"))
      // reassemble full-width entries: old codebook exploded per
      // (code, blk, dim), new means coalesced over it (empty cluster ⇒
      // the old block segment survives), dims re-packed in order —
      // blocks·K·subDim rows, bounded config, never corpus-sized
      val oldExp = cb.select(col("cb_id"),
          posexplode(col("cb_vec")).as(Seq("__j", "__old")))
        .select(col("cb_id"), col("__j"),
          (col("__j") / subDim).cast("int").as("blk"),
          (col("__j") % subDim).as("__d"), col("__old"))
      cb = oldExp
        .join(means, col("code") === col("cb_id") &&
          means("blk") === oldExp("blk") &&
          means("__d") === oldExp("__d"), "left")
        .select(col("cb_id"), oldExp("__j").as("__j"),
          coalesce(col("__mv"), col("__old")).as("__v"))
        .groupBy(col("cb_id"))
        .agg(transform(array_sort(collect_list(struct(col("__j"),
          col("__v")))), e => e.getField("__v")).as("cb_vec"))
      // lineage cut: the codebook is K config-sized rows, so pin it to
      // the driver and restart each pass's plan from a literal table —
      // without this, 10+ chained assign/mean/reassemble passes OOM on
      // plan-TREE size alone (a training loop collects its model; the
      // corpus never leaves the cluster)
      val pinned = cb.collect().toSeq
      cb = res.sparkSession.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(pinned).asJava,
        cb.schema)
      if (tol > 0) {
        val cur = distortion()
        // cur == 0 is exact reconstruction — nothing left to improve
        // (prev - cur < tol*prev is 0 < 0 at prev == 0 and would run
        // every capped pass on a perfect codebook); otherwise compare
        // against the previous pass once one exists.
        if (cur == 0.0 || (!prev.isNaN && prev - cur < tol * prev))
          converged = true
        prev = cur
      }
    }
    cb
  }

  /** IVF-PQ top-k search — the two ANN halves composed the way a
    * billion-vector index actually runs, with the STANDARD residual
    * construction: the IVF coarse quantizer prunes the corpus to the
    * queries' `nprobe` nearest cells, each vector's PQ codes quantize
    * its RESIDUAL r = x − μ_cell(x) against `codebook`, and asymmetric
    * distance scores candidates as Σ_blocks ‖(q − μ_cell)_blk −
    * codebook[code]_blk‖² — i.e. ‖q − (μ_cell + decode(codes))‖²,
    * the L2 distance to the reconstructed vector. Encoding residuals
    * instead of raw vectors is what makes the codebook's job possible:
    * residuals are centered at the origin at residual scale, so
    * codebook entries trained/seeded in that space describe them,
    * while raw vectors quantized against data-vector entries carry the
    * full corpus geometry per code (the measured round-12 recall
    * floor). [[lshTopK]]'s measured limit motivates the composition:
    * hash geometry saturates once 2·bits exhausts the embedding dims,
    * while IVF cells grow with the corpus and PQ keeps the candidate
    * read at `blocks` small ints per vector.
    *
    * Plan shape: centroids broadcast for BOTH assignments (corpus
    * residuals and query probes are maps, no shuffle); the probe list
    * and the per-(query, probed-cell) LUT are queries×nprobe(×blocks×K)
    * scalars — bounded config, broadcast; candidate selection is one
    * equi-join on the cell id (the inverted-file read — nprobe/K of
    * the corpus, never all of it); ADC scoring joins the candidates'
    * codes to the LUT on (query, cell, block, code) and
    * partial-aggregates the DECIMAL(38,6) block sums map-side. No
    * corpus float is read after encode; no all-pairs stage anywhere.
    * At 100 TB: grow K toward √N (cells stay small, the centroid
    * broadcast stays bounded), feed [[kmeansRefine]] output as the
    * centroid set and a residual-trained codebook (e.g.
    * [[pqSeedResidualCodebook]] refined offline) as `codebook`.
    *
    * Determinism: cells come from [[nearestCells]]; residuals subtract in
    * double (exact); block distances and their sums reuse the
    * decimal-exact [[graft.plans.PqBlockDists]] kernel; final ranking
    * ties break (adist ASC, id ASC).
    *
    * `rerank` > 0 adds the standard FAISS-style REFINE stage: the ADC
    * pass keeps its top-`rerank` shortlist per query, whose RAW vectors
    * are re-read and scored exactly (rounded cosine, the q92m
    * truncate-rerank shape); output ranks by (cos_sim DESC, id ASC)
    * and `adist` is replaced by `cos_sim`. This converts PQ from a
    * (lossy) ranker into a candidate compressor — recall is then gated
    * only by IVF probe coverage and shortlist width, not quantization
    * noise (the r13 measured floor on isotropic corpora). Cost at
    * scale: the shortlist is |Q|·rerank ids — config-sized — so the
    * re-read is one broadcast semi-join against the corpus, never a
    * second scan-wide shuffle. */
  def ivfPqSearch(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String,
      centroids: DataFrame, cid: String, cvec: String,
      codebook: DataFrame, cbid: String, cbvec: String,
      blocks: Int, nprobe: Int, k: Int, subDim: Int = 8,
      rerank: Int = 0): DataFrame = {
    require(nprobe >= 1 && k >= 1)
    require(rerank == 0 || rerank >= k,
      s"rerank shortlist ($rerank) must be at least k ($k)")
    // corpus side: cell + residual in ONE assignment pass, the cell
    // riding through the encode as part of the composite key — the
    // whole corpus side is a single map+aggregate pipeline (no second
    // residual pass, nothing corpus-sized pinned)
    val res = ivfResiduals(corpus, id, vec, centroids, cid, cvec)
    val codes = pqBlockDistances(
        res.select(struct(col("vec_id"), col("cell")).as("__vc"),
          col("residual")),
        "__vc", "residual", codebook, cbid, cbvec, blocks, subDim)
      .groupBy(col("__qid"), col("__blk"))
      .agg(min(struct(col("__dd"), col("__cid"))).as("__m"))
      .select(col("__qid.vec_id").as("vec_id"),
        col("__qid.cell").as("cell"),
        col("__blk").as("block"), col("__m.__cid").as("code"))
    // query side: nprobe cells, each with its OWN query residual — the
    // LUT is keyed (query, cell): ADC distances are cell-relative
    val qres = nearestCells(
        queries.select(col(qid).as("query_id"), col(qvec).as("__qe")),
        "query_id", "__qe", centroids, cid, cvec, nprobe)
      .select(col("query_id"), col("__ccid").as("cell"),
        expr("zip_with(__qe, __ce, (a, b) -> " +
          "CAST(a AS DOUBLE) - CAST(b AS DOUBLE))").as("__qr"))
    val lut = broadcast(pqBlockDistances(
        qres.select(struct(col("query_id"), col("cell")).as("__qc"),
          col("__qr")),
        "__qc", "__qr", codebook, cbid, cbvec, blocks, subDim)
      .select(col("__qid.query_id").as("query_id"),
        col("__qid.cell").as("__lc"), col("__blk"), col("__cid"),
        col("__dd")))
    // candidate selection AND ADC scoring in one broadcast join: the
    // LUT row (query, cell, block, code) exists only for probed cells,
    // so the equi-join both prunes to the inverted-file read and
    // attaches the block distance
    val scored = codes
      .join(lut, col("__lc") === col("cell") &&
        col("__blk") === col("block") && col("__cid") === col("code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("__dd").cast(org.apache.spark.sql.types
        .DecimalType(38, 6))).cast(DoubleType).as("adist"))
    val byAdist = Seq(col("adist").asc, col("vec_id").asc)
    if (rerank == 0) {
      topKWithin(scored, "query_id", byAdist, k)
        .select("query_id", "rnk", "vec_id", "adist")
    } else {
      // refine: the |Q|·rerank shortlist broadcasts onto the corpus —
      // one hash join keyed on the vector id re-reads ONLY shortlist
      // vectors; exact rounded-cosine rescoring then ranks the final k
      val shortlist = topKWithin(scored, "query_id", byAdist, rerank)
        .select(col("query_id"), col("vec_id"))
      val qv = broadcast(queries
        .select(col(qid).as("query_id"), col(qvec).as("__qe2")))
      val exact = corpus
        .select(col(id).as("vec_id"), col(vec).as("__e2"))
        .join(broadcast(shortlist), Seq("vec_id"))
        .join(qv, Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("__qe2"), col("__e2")).as("cos_sim"))
      topKWithin(exact, "query_id",
          Seq(col("cos_sim").desc, col("vec_id").asc), k)
        .select("query_id", "rnk", "vec_id", "cos_sim")
    }
  }

  /** IVF search served from a PERSISTED index — the missing operational
    * half of [[ivfPqSearch]]: a billion-vector index is not rebuilt per
    * query batch, it is a TABLE, laid out so the storage engine prunes
    * it. Build: assign every corpus vector its nearest cell
    * ([[nearestCells]]) and write (vec_id, embedding) PARTITIONED BY
    * cell to `indexPath`. Serve: compute each query's `nprobe` nearest
    * cells, collect the DISTINCT probed-cell list (bounded by
    * min(|queries|·nprobe, K) scalars — a config-sized driver list,
    * never data), and read the index back with `cell IN (…)`: the
    * filter lands on the PARTITION column, so
    * the scan reads only the probed directories — nprobe/K of the
    * corpus off disk, which is the entire point of an inverted file.
    * Scoring then joins the broadcast probes on the cell and ranks
    * top-k exactly like the in-memory path; same results, index build
    * amortized across every future query batch.
    *
    * The cell key is written as the STRING "c<centroid-id>" — a
    * numeric partition value would be re-inferred as INT on read-back
    * and the long/int coercion cast would defeat partition pruning. */
  def ivfPersistedSearch(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String,
      centroids: DataFrame, cid: String, cvec: String,
      indexPath: String, nprobe: Int, k: Int): DataFrame = {
    buildIvfIndex(corpus, id, vec, centroids, cid, cvec, indexPath)
    searchIvfIndex(queries, qid, qvec, centroids, cid, cvec, indexPath,
      nprobe, k)
  }

  /** The vector family's one exact scorer: the cosine of two
    * ARRAY<FLOAT|DOUBLE> columns through the codegen
    * [[graft.plans.CosineSimilarity]] kernel, rounded to 6 dp so every
    * rank, threshold and argmax compares values both engines produce
    * identically. Built directly like [[positionalNgrams]], so no session
    * has to register the kernel first. */
  private[graft] def cosine(a: Column, b: Column): Column =
    round(org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CosineSimilarity(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b))), 6)

  /** The first `k` rows of `df` within each `key` by `order`, numbered
    * by an INT `rnk` from 1. The rank filter compiles to a partial
    * WindowGroupLimit below the window's exchange (the q44 family). */
  private[graft] def topKWithin(df: DataFrame, key: String,
      order: Seq[Column], k: Int): DataFrame =
    df.withColumn("rnk",
        row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)))
      .filter(col("rnk") <= k)

  /** The vector family's one nearest-centroid step: each row of `rows`
    * (identified by `key`) keeps its `probe` nearest centroids by
    * [[cosine]] of `vec`, ties to the smaller centroid id, so a vector's
    * cell cannot depend on which operator assigned it. The centroids
    * broadcast and the assignment is a map pass. Every column of `rows`
    * rides through beside the centroid's `__ccid` and `__ce` (and the
    * row's `__cos` and `rnk`). */
  private[graft] def nearestCells(rows: DataFrame, key: String, vec: String,
      centroids: DataFrame, cid: String, cvec: String,
      probe: Int): DataFrame =
    topKWithin(rows.crossJoin(broadcast(
          centroids.select(col(cid).as("__ccid"), col(cvec).as("__ce"))))
        .withColumn("__cos", cosine(col(vec), col("__ce"))),
      key, Seq(col("__cos").desc, col("__ccid").asc), probe)

  /** [[nearestCells]] keyed as the persisted index's STRING cell
    * "c<centroid-id>". Every other column of `src` rides through
    * unchanged, so index builds can carry filterable metadata beside
    * the vector. */
  private def ivfCells(src: DataFrame, idAs: String, vecAs: String,
      centroids: DataFrame, cid: String, cvec: String,
      probe: Int): DataFrame =
    nearestCells(src, idAs, vecAs, centroids, cid, cvec, probe)
      .select(src.columns.toIndexedSeq.map(col) :+
        concat(lit("c"), col("__ccid")).as("cell"): _*)

  /** Build the persisted inverted file: one cell per vector, written
    * partitioned by cell (overwriting any previous index — which also
    * clears any tombstones: a rebuild IS the compaction). `meta` names
    * extra corpus columns to store beside the vector so serves can
    * filter on them in-scan ([[searchIvfIndexWhere]]). */
  def buildIvfIndex(corpus: DataFrame, id: String, vec: String,
      centroids: DataFrame, cid: String, cvec: String,
      indexPath: String, meta: Seq[String] = Nil): Unit =
    ivfCells(corpus.select(col(id).as("vec_id") +:
          col(vec).as("embedding") +: meta.map(col): _*),
        "vec_id", "embedding", centroids, cid, cvec, probe = 1)
      .write.mode("overwrite").partitionBy("cell").parquet(indexPath)

  /** INCREMENTAL index maintenance: assign the delta batch with the
    * SAME centroid set and append into the existing cell directories —
    * the nightly ingest path of a persisted index (a rebuild would
    * rewrite the whole corpus to add 0.1% of it). Append-only is the
    * honest mode here: the centroid set must not move between build
    * and append (a moved centroid re-cells old vectors), which is also
    * the real constraint production IVF maintenance operates under —
    * re-clustering is a rebuild, not an append. Readers see old+new
    * identically to a fresh build over the union corpus (spec +
    * q99h's oracle equivalence). */
  def appendIvfIndex(delta: DataFrame, id: String, vec: String,
      centroids: DataFrame, cid: String, cvec: String,
      indexPath: String): Unit =
    ivfCells(delta.select(col(id).as("vec_id"), col(vec).as("embedding")),
        "vec_id", "embedding", centroids, cid, cvec, probe = 1)
      .write.mode("append").partitionBy("cell").parquet(indexPath)

  /** Serve top-k from the persisted index: probe each query's `nprobe`
    * nearest cells, collect the DISTINCT probed-cell list (bounded by
    * min(|queries|·nprobe, K) scalars — config-sized, never data), and
    * read the index back with `cell IN (…)` on the PARTITION column —
    * the scan prunes to the probed directories, nprobe/K of the corpus
    * off disk. See [[ivfPersistedSearch]] for the build+serve compose
    * and the string-cell-key rationale. */
  def searchIvfIndex(queries: DataFrame, qid: String, qvec: String,
      centroids: DataFrame, cid: String, cvec: String,
      indexPath: String, nprobe: Int, k: Int): DataFrame =
    ivfServe(queries, qid, qvec, centroids, cid, cvec, indexPath,
      nprobe, k, honorTombstones = false)

  /** [[searchIvfIndex]] with TOMBSTONE deletes honored: rows whose ids
    * were handed to [[deleteFromIvfIndex]] are dropped from the probed
    * candidates BEFORE ranking (so replacements rise into the top-k),
    * giving results identical to a fresh build over the corpus minus
    * the deleted ids — without rewriting a single index file. Deleting
    * 0.1% of a billion-vector index must not rewrite the other 99.9%
    * any more than appending it should (the [[appendIvfIndex]]
    * argument, applied to the other half of maintenance). */
  def searchIvfIndexLive(queries: DataFrame, qid: String, qvec: String,
      centroids: DataFrame, cid: String, cvec: String,
      indexPath: String, nprobe: Int, k: Int): DataFrame =
    ivfServe(queries, qid, qvec, centroids, cid, cvec, indexPath,
      nprobe, k, honorTombstones = true)

  /** METADATA-FILTERED vector search over the persisted index: top-k
    * among only the indexed rows satisfying `predicate` — the "nearest
    * docs WHERE lang='en' AND license='ok'" query every retrieval
    * system needs. The predicate lands directly on the pruned index
    * scan (the filtered columns were stored by `buildIvfIndex(meta=…)`),
    * so it pushes into parquet row-group pruning UNDER the partition
    * pruning — filtering happens before a single candidate is scored,
    * not on the ranked output (post-filtering top-k silently returns
    * fewer than k). Honors tombstones like [[searchIvfIndexLive]].
    * At high selectivity raise nprobe — filtered ANN's recall is
    * bounded by survivors per probed cell. */
  def searchIvfIndexWhere(queries: DataFrame, qid: String, qvec: String,
      centroids: DataFrame, cid: String, cvec: String,
      indexPath: String, nprobe: Int, k: Int,
      predicate: Column): DataFrame =
    ivfServe(queries, qid, qvec, centroids, cid, cvec, indexPath,
      nprobe, k, honorTombstones = true, candidateFilter = Some(predicate))

  /** DELETE from the persisted IVF index, tombstone-style: the ids are
    * appended under `<indexPath>/_tombstones` — an underscore-prefixed
    * directory, which Spark's file listing treats as hidden, so the
    * index's own partitioned scan NEVER sees tombstone files — and the
    * serve path ([[searchIvfIndexLive]]) anti-joins them out of the
    * probed candidates. Append-mode, so successive deletes accumulate;
    * a compaction (rebuild minus tombstones) reclaims space offline.
    * The index keys vec_id as BIGINT, so the ids must cast to BIGINT —
    * enforced per row via try_cast + a codegen'd raise_error carrying
    * the operator contract: a non-numeric id would otherwise become a
    * tombstone that matches nothing in the anti-join, silently
    * no-op'ing the delete while deleted vectors kept being served (the
    * r11 advice item; under ANSI the plain cast throws a generic cast
    * error — this names the failing contract instead). NULL input ids
    * fail the same check (a NULL tombstone can address no indexed
    * row). */
  def deleteFromIvfIndex(deleted: DataFrame, id: String,
      indexPath: String): Unit = {
    val asLong = expr(s"try_cast(`$id` AS BIGINT)")
    deleted.select(
      when(asLong.isNotNull, asLong)
      .otherwise(raise_error(concat(
        lit(s"deleteFromIvfIndex: id '$id' value '"),
        coalesce(expr(s"try_cast(`$id` AS STRING)"), lit("NULL")),
        lit("' does not cast to BIGINT (the index's vec_id type) — " +
          "refusing a tombstone that would silently match nothing"))))
      .as("vec_id")).distinct()
      .write.mode("append").parquet(s"$indexPath/_tombstones")
  }

  private def ivfServe(queries: DataFrame, qid: String, qvec: String,
      centroids: DataFrame, cid: String, cvec: String,
      indexPath: String, nprobe: Int, k: Int,
      honorTombstones: Boolean,
      candidateFilter: Option[Column] = None): DataFrame = {
    require(nprobe >= 1 && k >= 1)
    val spark = queries.sparkSession
    val probes = ivfCells(queries.select(col(qid).as("query_id"),
      col(qvec).as("__qe")), "query_id", "__qe", centroids, cid, cvec,
      probe = nprobe)
    val probed = probes.select("cell").distinct()
      .collect().map(_.getString(0)).sorted // bounded: ≤ |Q|·nprobe
    val scan = candidateFilter.foldLeft(
      spark.read.parquet(indexPath)
        .filter(col("cell").isin(probed.toSeq: _*)))(_.filter(_))
    val index =
      if (!honorTombstones) scan
      else {
        val tomb = new org.apache.hadoop.fs.Path(indexPath, "_tombstones")
        val fs = tomb.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        // no tombstones yet → nothing to drop; the anti-join key is the
        // index's own vec_id, so the plan stays an equi left-anti that
        // Spark sizes (broadcast when small) — tombstones are usually a
        // sliver of the index but are NOT bounded by construction
        if (!fs.exists(tomb)) scan
        else scan.join(spark.read.parquet(tomb.toString),
          Seq("vec_id"), "left_anti")
      }
    val scored = index.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("__qe"), col("embedding")).as("cos_sim"))
    topKWithin(scored, "query_id",
        Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .select("query_id", "rnk", "vec_id", "cos_sim")
  }

  /** The shared (id, block, code, dist) distance kernel behind
    * [[pqEncode]] (argmin of it) and [[pqSearch]]'s LUT (all of it):
    * every block's squared L2 to every codebook sub-vector, computed
    * IN-ROW against the broadcast codebook — the source vectors never
    * shuffle, and the emitted stream is scalar-skinny. */
  private def pqBlockDistances(vecs: DataFrame, id: String, vec: String,
      codebook: DataFrame, cid: String, cvec: String,
      blocks: Int, subDim: Int): DataFrame = {
    require(blocks >= 1 && subDim >= 1)
    graft.plans.PqBlockDists.register(vecs.sparkSession)
    // DIMENSION CONTRACT: every source vector and codebook sub-vector
    // must be exactly blocks·subDim floats. Without this guard a short
    // vector silently truncates the distance loop (min-length
    // semantics), and pqEncode's min(struct) then silently assigns
    // garbage codes with no diagnostic; extra trailing dims would be
    // silently ignored. The guard lives IN the row path
    // (when/raise_error), so column pruning cannot optimize it away
    // the way a detached assert_true could be.
    val want = blocks * subDim
    def guarded(c: Column, side: String): Column =
      when(size(c) === lit(want), c).otherwise(raise_error(concat(
        lit(s"pq $side vector length must be $want (blocks=$blocks × " +
          s"subDim=$subDim), got "), size(c).cast(StringType))))
    val cent = broadcast(
      codebook.select(col(cid).as("__cid"),
        guarded(col(cvec), "codebook").as("__ce")))
    // One fused codegen loop per (vector, code) pair — the
    // [[graft.plans.PqBlockDists]] expression, decimal-summation-exact
    // but in primitive long fixed-point. The HOF predecessor
    // (per-block slice → zip_with → decimal aggregate) allocated a
    // BigDecimal PER TERM: blocks·subDim·|codebook| per vector, the
    // measured bottleneck of the whole PQ family at the 10× fixture
    // (q92i 11.3 s → see BENCH ledger after the swap). ExpressionSpec
    // pins bit-equality of the two forms.
    vecs.select(col(id).as("__qid"), guarded(col(vec), "source").as("__e"))
      .crossJoin(cent)
      .select(col("__qid"), col("__cid"),
        posexplode(expr(s"pq_block_dists(__e, __ce, $blocks)"))
          .as(Seq("__blk", "__dd")))
      .select(col("__qid"), col("__blk").cast("int").as("__blk"),
        col("__cid"), col("__dd"))
  }

  /** Asymmetric CONTAINMENT similarity join: ordered pairs (a, b) with
    * a from `contained`, b from `container`, where C(a→b) =
    * |g(a) ∩ g(b)| / |g(a)| ≥ pct/100 over distinct word n-grams — the
    * "document a is subsumed by document b" detector (quotes,
    * extraction wrappers, boilerplate envelopes around a shorter
    * original) that Jaccard structurally misses when |b| ≫ |a|:
    * J ≤ |g(a)|/|g(b)| caps the symmetric score below any useful
    * threshold even at PERFECT containment.
    *
    * The signature is BIPARTITE (the q90d/jaccardJoinAcross shape) and
    * that is a scale decision, not a convenience: containment gives the
    * container side no size-relative prefix bound — b must index every
    * gram — so candidates are Σ_{t∈prefix(a)} df_B(t), and on a
    * small-vocabulary corpus (this one is adversarially so) a
    * corpus×corpus call degenerates toward the hot-gram product
    * (measured: 12× the bounded form at sf0.1). The production shapes
    * are batch-vs-corpus (incremental hygiene, like [[jaccardJoinAcross]])
    * or short-docs-vs-corpus; pass the same frame twice only when the
    * corpus is known gram-diverse.
    *
    * Candidate generation keeps [[jaccardJoin]]'s prefix-filter
    * discipline on the CONTAINED side: if C ≥ t then at most ⌊(1−t)·n⌋
    * of a's grams are unshared, so among a's n − ⌈t·n⌉ + 1 first grams
    * in the global (container-df, gram) order at least one is shared —
    * recall 1.0 by pigeonhole (a-grams absent from the container sort
    * with df 0: they occupy prefix slots but the unshared-total bound
    * already accounts for them, and they match nothing). Both sides
    * carry their rank in that SAME global order, which buys the
    * positional filter: a qualifying pair's first shared gram has
    * min(n_a − r_a, n_b − r_b) + 1 ≥ ⌈t·n_a⌉ — applied with the size
    * prune (intersection ≤ |g(b)|) inside the join, BEFORE the pair
    * dedup and the array-attach verify joins (the q91c ordering
    * argument). Verification is the one exact [[verify]]; the contract
    * is integer-only — (n_shared, n_grams_a), no FP. */
  def containmentJoin(contained: DataFrame, container: DataFrame,
      id: String, text: String, thresholdPct: Int = 80,
      ngramWords: Int = 2,
      maxCandidatePairs: Long = exactJoinDefaultBudget): DataFrame =
    verify(containmentCandidates(contained, container, id, text,
      thresholdPct, ngramWords, maxCandidatePairs))

  /** [[containmentJoin]]'s prefix-filter candidate half. */
  private[graft] def containmentCandidates(contained: DataFrame,
      container: DataFrame, id: String, text: String, thresholdPct: Int,
      ngramWords: Int, maxCandidatePairs: Long): Candidates = {
    require(thresholdPct >= 1 && thresholdPct <= 100)
    val (da, db) = (prefixDocTable(contained, id, text, ngramWords),
      prefixDocTable(container, id, text, ngramWords))
    def tokOf(d: DataFrame) =
      d.select(col("__id"), col("__n"), explode(col("__sv")).as("__t"))
    // the container's df defines the one global rarity order both
    // rankings share (required for the positional filter's
    // first-shared-gram argument). Priced refusal (see
    // [[candidateBudgetGate]]): containment's
    // candidates are Σ_{t∈prefix(a)} df_B(t) ≤ Σ_t df_A(t)·df_B(t) —
    // priced with the UPPER bound (both df tables are vocabulary-sized
    // aggregates; the prefix discount is corpus-dependent and the gate
    // must never under-price).
    val dfreq = candidateBudgetGate(
        tokOf(db).groupBy("__t").agg(count(lit(1)).as("__df")),
        "containmentJoin", "containmentJoinBanded (the q90h default)",
        maxCandidatePairs)(
      _.join(tokOf(da).groupBy("__t").agg(count(lit(1)).as("__dfa")),
        Seq("__t")).agg(coalesce(
        sum(expr("CAST(__dfa AS DECIMAL(38,0)) * __df")),
        lit(0).cast(DecimalType(38, 0))).as("__price")))
    def rankOf(tok: DataFrame) = tok
      .join(dfreq, Seq("__t"), "left")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__id"))
          .orderBy(coalesce(col("__df"), lit(0L)).asc, col("__t").asc)))
    val ceilTna = expr(s"(__na * $thresholdPct + 99) div 100")
    val prefA = rankOf(tokOf(da))
      .withColumnRenamed("__n", "__na")
      .filter(col("__rn") <= col("__na") - ceilTna + 1)
      .select(col("__t"), col("__id").as("doc_a"),
        col("__rn").as("__ra"), col("__na"))
    val allB = rankOf(tokOf(db)).select(col("__t"),
      col("__id").as("doc_b"), col("__rn").as("__rb"), col("__n").as("__nb"))
    // ALWAYS reduce to the narrow pair list first (as in
    // [[jaccardCandidates]]): containment's candidate duplication
    // factor is the worst of the family (the container side has no
    // size-relative prefix bound, so a pair recurs once per shared gram
    // and the saturated-vocabulary fixture measured ~20× duplication;
    // streaming raw candidates through the merge kernel cost 2× the OLD
    // shape).
    Candidates(prefA.join(allB, Seq("__t"))
        .filter(col("doc_a") =!= col("doc_b") &&
          col("__nb") * 100 >= col("__na") * thresholdPct &&
          least(col("__na") - col("__ra"), col("__nb") - col("__rb")) + 1
            >= ceilTna)
        .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b"),
      "doc_a", da, "doc_b", db, Containment(thresholdPct))
  }

  /** BANDED containment join — [[containmentJoin]]'s exact verification
    * behind [[minHashJoinAcross]]'s banded candidate generation, and
    * the DEFAULT q90h path since r14: the exact pigeonhole prefix must
    * emit every pair sharing one rare gram, which on a gram-saturated
    * corpus is a measured candidate floor (the 33.5 MB sf1 spill the
    * qio ledger carried through r13); banding emits only pairs agreeing
    * on a full min-hash band, collapsing candidates by orders of
    * magnitude for the same verified answer.
    *
    * HONESTY BOUND (the banded-dedup discipline): band collision probability is
    * a function of JACCARD, not containment, so a contained-in-much-
    * larger pair (C ≥ t but J ≈ t·n_a/n_b → 0 as n_b grows) can be
    * missed — the asymmetric case [[containmentJoin]] exists for. This
    * corpus's true containment pairs are measured at J ≥ 0.9167 (30/30
    * at sf0.1; miss ≤ (1−0.9167⁴)¹⁶ ≈ 3e-9 per pair at 16×4), because
    * its docs are near-uniform length — banding is exact HERE, and the
    * oracle gate re-checks that claim every round. On a corpus with
    * genuine wrapper/quote asymmetry (n_b ≫ n_a mass), use the exact
    * prefix path — its priced refusal gate names this operator as the
    * exit precisely so the choice is a measured one. Verification is
    * the exact path's own [[verify]] — the two paths can never disagree
    * on a surviving pair's values. */
  def containmentJoinBanded(contained: DataFrame, container: DataFrame,
      id: String, text: String, thresholdPct: Int = 80,
      ngramWords: Int = 2, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100)
    val da = minHashDocTable(contained, id, text, ngramWords).persistOnce()
    val db = minHashDocTable(container, id, text, ngramWords).persistOnce()
    // ASYMMETRY AUDIT (r15, ADVICE): the honesty bound below is silent
    // by construction — a corpus where it bites looks exactly like one
    // where it doesn't. Price the check instead: one bounded min/max
    // aggregate over the already-persisted doc tables bounds the WORST
    // Jaccard a true containment pair can have at these size extremes,
    // and if banding's miss probability at that J is material, say so
    // loudly and name the exact-path exit. Measured misuse, not silent.
    val ext = da.agg(min(size(col("__sv"))).as("__namin")).crossJoin(
      db.agg(max(size(col("__sv"))).as("__nbmax"))).collect().head
    if (!ext.isNullAt(0) && !ext.isNullAt(1))
      containmentBandingRisk(ext.getInt(0).toLong, ext.getInt(1).toLong,
        thresholdPct, numHashes, bands).foreach(w =>
        System.err.println(s"[engine] containmentJoinBanded: $w"))
    // contained ⊆ container in the q90h batch-vs-corpus shape, so the
    // banded equi-join surfaces self-pairs the bipartite dedup callers
    // never see — drop them before the verify attach
    verify(Candidates(minHashCandidatesAcross(da, db, numHashes, bands,
        broadcastBounded = false)
      .filter(col("left_id") =!= col("right_id"))
      .select(col("left_id").as("doc_a"), col("right_id").as("doc_b")),
      "doc_a", da, "doc_b", db, Containment(thresholdPct)))
  }

  /** [[containmentJoinBanded]]'s asymmetry audit, factored pure so the
    * spec can pin its boundary. The quantity audited is what asymmetry
    * SPECIFICALLY breaks — not the borderline-J miss every LSH scheme
    * carries (a C ≈ t, J ≈ t/(2−t) pair can always slip a band with a
    * few percent probability; that is the documented, accepted recall
    * characteristic), but the FULLY-contained pair: a doc of n_a grams
    * quoted verbatim inside one of n_b has C = 1 (the clearest
    * possible duplicate) yet J = n_a/n_b, so once the corpus' length
    * spread ρ = n_bMax/n_aMin passes ~1.3 (at 16×4), banding can no
    * longer even SEE the cleanest wrapper pair at the size extremes —
    * miss = (1 − (n_a/n_b)^r)^bands → 1 as ρ grows. Returns the audit
    * note when that bound exceeds 0.1%; None on near-uniform corpora,
    * where asymmetric blindness structurally cannot occur. A corpus
    * that fires is not necessarily WRONG — the q90h fixture fires at
    * ρ ≈ 12 and its oracle still measures banded == exact, because no
    * true pair happens to live in the blind region — but its safety is
    * then a MEASUREMENT (the oracle gate, and the exact-vs-banded
    * contrast ledgered in RECALL.json `dedup_recall`), not a structural
    * guarantee, and the note says so in the run log. */
  private[graft] def containmentBandingRisk(naMin: Long, nbMax: Long,
      thresholdPct: Int, numHashes: Int, bands: Int): Option[String] = {
    if (naMin <= 0 || nbMax <= 0) return None
    val rows = math.max(numHashes / bands, 1)
    def missAt(j: Double) =
      math.pow(1.0 - math.pow(math.min(j, 1.0), rows), bands)
    val jFull = naMin.toDouble / nbMax
    val miss = missAt(jFull)
    // τ-DEPENDENT companion bound (r16, ADVICE): the worst Jaccard of
    // any QUALIFYING pair (C ≥ t but not fully contained) is even
    // lower — J ≥ t·naMin/(naMin + nbMax − t·naMin) — and its miss
    // probability is reported alongside. It does NOT gate the firing:
    // the borderline C ≈ t pair's miss window is the documented recall
    // characteristic every LSH scheme carries (near-uniform corpora
    // fire it too — J_qual = t/(2−t) ≈ 0.67 at t=0.8, miss ≈ 3%);
    // what asymmetry SPECIFICALLY breaks, and what this audit fires
    // on, is banding losing even the C = 1 wrapper pair.
    val tna = naMin * thresholdPct / 100.0
    val jQual = tna / (naMin + nbMax - tna)
    if (miss <= 1e-3) None
    else Some(
      f"length asymmetry (min contained grams $naMin, max container " +
        f"grams $nbMax) puts FULLY-contained pairs at Jaccard " +
        f"$jFull%.4f, which ${bands}x$rows banding misses with " +
        f"probability up to $miss%.3f (worst QUALIFYING pair at " +
        f"threshold $thresholdPct%%: J ≥ $jQual%.4f, miss up to " +
        f"${missAt(jQual)}%.3f) — banded recall on this corpus " +
        "is certified by the oracle gate and the RECALL.json " +
        "dedup_recall measurement, not by construction; if " +
        "asymmetric wrappers matter, route " +
        "through containmentJoin (the exact prefix path behind the " +
        "priced refusal gate); containmentBandingAudit returns this " +
        "audit as a gateable row")
  }

  /** [[containmentBandingRisk]] AS DATA (r16): the audit a pipeline can
    * actually gate on — stderr on an executor log is where warnings go
    * to die, but a one-row DataFrame joins into any quality ledger.
    * One bounded min/max aggregate per side over the same gram tables
    * the banded join builds, then pure scalar arithmetic:
    *
    *  - `j_full` / `miss_full` — the Jaccard of a FULLY-contained
    *    (C = 1) pair at the corpus' size extremes and the probability
    *    `bands`×`rows` banding misses it. This is what length
    *    asymmetry SPECIFICALLY breaks, and what `fires` keys on
    *    (> 0.1%, the [[containmentBandingRisk]] line).
    *  - `j_qual` / `miss_qual` — the τ-dependent worst case over every
    *    QUALIFYING pair (C ≥ t): J ≥ t·naMin/(naMin + nbMax − t·naMin).
    *    Reported, not fired on: at t = 0.8 even a length-uniform corpus
    *    has J_qual = t/(2−t) ≈ 0.67 (miss ≈ 3%) — the borderline-J
    *    recall window every LSH scheme carries by construction.
    *
    * Determinism: both engines compute the miss probabilities through
    * LEFT-ASSOCIATIVE double product chains (x·x·…·x), never libm
    * `pow` — Math.pow and C pow are not correctly-rounded, so an
    * oracle replaying `pow` could drift in the last ulp; a fixed
    * multiplication order is bit-identical IEEE on both sides. */
  def containmentBandingAudit(contained: DataFrame, container: DataFrame,
      id: String, text: String, thresholdPct: Int = 80,
      ngramWords: Int = 2, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100)
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes=$numHashes must divide into bands=$bands")
    val rows = numHashes / bands
    // integer-exponent power as a left-assoc product chain (see note)
    def ipow(x: Column, n: Int): Column = Seq.fill(n)(x).reduce(_ * _)
    val ext = minHashDocTable(contained, id, text, ngramWords)
      .agg(min(size(col("__sv"))).as("na_min"))
      .crossJoin(minHashDocTable(container, id, text, ngramWords)
        .agg(max(size(col("__sv"))).as("nb_max")))
    // (na·t)/100 then the division — one FP rounding, mirrored verbatim
    // in the oracle's (na_min * t) / 100.0 spelling
    val tna = (col("na_min") * thresholdPct) / lit(100.0)
    ext
      .withColumn("j_full",
        least(col("na_min").cast(DoubleType) / col("nb_max"), lit(1.0)))
      .withColumn("j_qual",
        least(tna / (col("na_min") + col("nb_max") - tna), lit(1.0)))
      .withColumn("__mf", lit(1.0) - ipow(col("j_full"), rows))
      .withColumn("__mq", lit(1.0) - ipow(col("j_qual"), rows))
      .withColumn("miss_full", ipow(col("__mf"), bands))
      .withColumn("miss_qual", ipow(col("__mq"), bands))
      .withColumn("fires", col("miss_full") > lit(1e-3))
      .select("na_min", "nb_max", "j_full", "miss_full", "j_qual",
        "miss_qual", "fires")
  }

  /** BIPARTITE n-gram Jaccard join — [[jaccardJoin]]'s machinery across
    * two corpora: every (left, right) pair with Jaccard ≥ t, recall 1.0
    * by the same prefix-filter theorem. THE incremental-curation shape:
    * `left` is the new batch (a day's crawl — small), `right` the
    * standing corpus (100 TB — huge); nothing here is ever
    * left×left or right×right.
    *
    * The prefix global order uses the COMBINED document frequency of
    * both corpora (one shared total order is what the theorem needs);
    * rare-first ordering anti-skews the candidate join exactly as in the
    * self-join form. Per side the full probing prefix (n − ⌈t·n⌉ + 1) is
    * kept — the self-join's asymmetric indexing-prefix trick orders the
    * two records of a PAIR by size, which has no analog when the roles
    * are fixed. Length and positional filters apply unchanged (both are
    * pair-local theorems), and verification is the one exact
    * [[verify]]. Returns (left_id, right_id, jaccard). */
  def jaccardJoinAcross(left: DataFrame, right: DataFrame, id: String,
      text: String, thresholdPct: Int = 60, ngramWords: Int = 2,
      broadcastBounded: Boolean = false,
      maxCandidatePairs: Long = exactJoinDefaultBudget): DataFrame =
    verify(jaccardAcrossCandidates(left, right, id, text, thresholdPct,
      ngramWords, broadcastBounded, maxCandidatePairs))

  /** [[jaccardJoinAcross]]'s prefix-filter candidate half. */
  private[graft] def jaccardAcrossCandidates(left: DataFrame,
      right: DataFrame, id: String, text: String, thresholdPct: Int,
      ngramWords: Int, broadcastBounded: Boolean,
      maxCandidatePairs: Long): Candidates = {
    require(thresholdPct >= 1 && thresholdPct <= 100)
    val (dl, dr) = (prefixDocTable(left, id, text, ngramWords),
      prefixDocTable(right, id, text, ngramWords))
    def tokOf(d: DataFrame) =
      d.select(col("__id"), col("__n"), explode(col("__sv")).as("__t"))
    val (tokL, tokR) = (tokOf(dl), tokOf(dr))
    // priced refusal (see [[candidateBudgetGate]]): the bipartite price
    // is Σ df_L·df_R per gram — the exact cross-side volume of the
    // prefix equi-join's worst case. Side counts ride the SAME
    // aggregate the prefix order already needs (one extra sum).
    val dfreq = candidateBudgetGate(
        tokL.withColumn("__l", lit(1L))
          .unionByName(tokR.withColumn("__l", lit(0L)))
          .groupBy("__t").agg(count(lit(1)).as("__df"),
            sum(col("__l")).as("__dfl")),
        "jaccardJoinAcross", "minHashJoinAcross (q90d)",
        maxCandidatePairs)(
      _.agg(coalesce(
        sum(expr("CAST(__dfl AS DECIMAL(38,0)) * (__df - __dfl)")),
        lit(0).cast(DecimalType(38, 0))).as("__price")))
      .drop("__dfl")
    def prefixOf(tok: DataFrame) = tok.join(dfreq, Seq("__t"))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__id"))
        .orderBy(col("__df").asc, col("__t").asc)))
      .filter(col("__rn") <=
        col("__n") - expr(s"(__n * $thresholdPct + 99) div 100") + 1)
    val a = prefixOf(tokL).select(col("__t"), col("__id").as("left_id"),
      col("__rn").as("__ra"), col("__n").as("__na"))
    val b = prefixOf(tokR).select(col("__t"), col("__id").as("right_id"),
      col("__rn").as("__rb"), col("__n").as("__nb"))
    val alpha = expr(
      s"(($thresholdPct * (__na + __nb) + ${100 + thresholdPct - 1})" +
        s" div ${100 + thresholdPct})")
    // EXPLICIT broadcast shape — the bipartite join's asymmetry IS the
    // scale contract (left = the bounded incremental batch, right = the
    // standing corpus), so the batch-side PREFIX table is broadcastable
    // by design, and pinning it also pins the plan: left to AQE's size
    // estimates, the broadcast choice flapped run-to-run, and the bad
    // pick rebuilt a shingling sub-plan serially inside the
    // broadcast-build thread (measured 17 vs 6 s for identical code —
    // stage trace showed 16-35 s single-task broadcast builds). dfreq
    // stays unhinted: vocabulary scales with the corpus and must
    // shuffle, never collect. The DEFAULT is unpinned (broadcastBounded
    // = false): only a call site that KNOWS its left side is a bounded
    // batch may opt in — a pinned default would silently turn any new
    // corpus-vs-corpus caller's AQE-degradable oversized side into a
    // hard 8 GB-broadcast / driver-OOM failure at production scale.
    //
    // The CANDIDATE list is deliberately NOT broadcastable-by-claim:
    // its size is candidate-volume-bound, not batch-bound — on a
    // vocabulary-saturated corpus the prefix equi-join floods (the 10×
    // fixture measured ~10⁸ raw candidates for a 10k-doc batch), and a
    // pinned broadcast(cands) turned that into a hard driver-side
    // collect failure the first time q90d ran at sf1. [[verify]] gates
    // the ARRAY tables instead, whose sizes are known (both sides are
    // persisted corpora).
    def bounded(df: DataFrame) = if (broadcastBounded) broadcast(df) else df
    // narrow pair reduction before the wide verify, as in
    // [[jaccardCandidates]] (this join's 10× flood is the 77.7M pairs)
    Candidates(bounded(a).join(b, Seq("__t"))
        .filter(col("__nb") * 100 >= col("__na") * thresholdPct &&
          col("__na") * 100 >= col("__nb") * thresholdPct &&
          least(col("__na") - col("__ra"), col("__nb") - col("__rb")) + 1
            >= alpha)
        .select("left_id", "right_id").dropDuplicates("left_id", "right_id"),
      "left_id", dl, "right_id", dr, Jaccard(thresholdPct))
  }

  /** BIPARTITE banded-MinHash join — [[minHashNearDups]]' machinery
    * across two corpora, and the documented SCALE EXIT from
    * [[jaccardJoinAcross]]'s exact candidate floor (SURVEY §8 carried
    * item 2, now a measured row): on a gram-saturated corpus the exact
    * prefix filter MUST emit every pair sharing a rare prefix gram
    * (77.7M real candidates at the 10× fixture — a 1.1 GB spill floor
    * no loss-free pruning can cross, PPJoin suffix bound measured and
    * refuted there), while banding emits only pairs agreeing on a FULL
    * band of `numHashes/bands` min-hashes: collision probability
    * 1−(1−J^r)^b ≈ b·J^r for background pairs — at this fixture's
    * J ≤ 0.08 background that is ≤ 16·0.08⁴ ≈ 7e-4 per pair, collapsing
    * the candidate set by ~4 orders of magnitude for the same verified
    * answer (every candidate is still EXACTLY verified; only recall is
    * probabilistic, miss (1−J^r)^b ≤ 1.5e-7 at this fixture's J ≥ 0.889
    * true pairs).
    *
    * The incremental-curation contract mirrors [[jaccardJoinAcross]]:
    * `left` is the bounded new batch, `right` the standing corpus, and
    * nothing is ever left×left or right×right. At 100 TB the history
    * side's banded signature table is THE precomputable, incrementally
    * maintained dedup index — `bands` rows of 16 bytes per historical
    * doc, appended as history grows, never recomputed — and each day's
    * batch hashes only itself and equi-joins the index on
    * (band, band-hash). `broadcastBounded` opt-in pins the batch-side
    * BAND table broadcast (bands × batch rows — KNOWN bounded, unlike
    * the candidate list, which stays unpinned for the same reason as
    * the exact form). Hash family and banding are the ones
    * [[minHashNearDups]] uses (the seeded-xxhash64 [[minHashBands]]
    * kernel), so a self-join dedup and this incremental form never
    * disagree on a pair's signature. Returns (left_id, right_id,
    * jaccard ≥ pct/100), jaccard EXACT: the prefix-filter joins' one
    * [[verify]], so a pair both find carries a bit-identical value. */
  def minHashJoinAcross(left: DataFrame, right: DataFrame, id: String,
      text: String, thresholdPct: Int = 60, numHashes: Int = 64,
      bands: Int = 16, ngramWords: Int = 2,
      broadcastBounded: Boolean = false): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100)
    // read twice (banding + verify attach): persist, not localCheckpoint
    // — same recoverability rationale as minHashNearDups
    val dl = minHashDocTable(left, id, text, ngramWords).persistOnce()
    val dr = minHashDocTable(right, id, text, ngramWords).persistOnce()
    verify(Candidates(minHashCandidatesAcross(dl, dr, numHashes, bands,
      broadcastBounded), "left_id", dl, "right_id", dr, Jaccard(thresholdPct)))
  }

  /** Candidate stage of [[minHashJoinAcross]] — the banded bipartite
    * equi-join. Inputs are the (__id, __sv) doc tables; output is the
    * distinct (left_id, right_id) candidate set. */
  private def minHashCandidatesAcross(dl: DataFrame, dr: DataFrame,
      numHashes: Int, bands: Int, broadcastBounded: Boolean): DataFrame = {
    def bounded(df: DataFrame) = if (broadcastBounded) broadcast(df) else df
    // each side's band table is row-local (the minHashBands kernel): the
    // only exchange is the (band, band-hash) equi-join itself
    bounded(minHashBandTable(dl, "left_id", numHashes, bands))
      .join(minHashBandTable(dr, "right_id", numHashes, bands),
        Seq("__band", "__bh"))
      .select("left_id", "right_id")
      .dropDuplicates("left_id", "right_id")
  }

  /** Internal: (__id, __sv) doc table of the n-gram similarity family —
    * shared by the banded joins, the prefix joins ([[prefixDocTable]])
    * and the persisted-index builders, so an index probe and an
    * in-memory join never disagree on shingling. */
  private[graft] def minHashDocTable(df: DataFrame, id: String, text: String,
      ngramWords: Int): DataFrame =
    withShingles(shingleFrame(df, id, text, ngramWords))

  /** Internal: (__id, __text, __sv) — EVERY row of `df`, spread, with its
    * sorted distinct word n-gram set (empty below `ngramWords` words). */
  private def shingleFrame(df: DataFrame, id: String, text: String,
      ngramWords: Int): DataFrame = Spread(df)
    .select(col(id).as("__id"), col(text).as("__text"), sort_array(
      wordNgrams(split(col(text), " "), ngramWords)).as("__sv"))

  /** Internal: the (__id, __sv) doc table of a [[shingleFrame]] — docs
    * with no shingles have no signature and are dropped. */
  private def withShingles(sh: DataFrame): DataFrame =
    sh.filter(size(col("__sv")) >= 1).select(col("__id"), col("__sv"))

  /** Storage form of a PERSISTED banded-MinHash dedup index — the
    * incremental-maintenance contract [[minHashJoinAcross]]'s Scaladoc
    * promises, made a real artifact: the standing corpus's banded
    * signature table `bands` (doc_id, __band, __bh — the probe table)
    * and its shingle arrays `docs` (doc_id, grams — the exact-verify
    * side) are written once, appended per ingest slot WITHOUT touching
    * existing rows, probed with a new batch and compacted in place.
    * Build, append, probe, compaction, its cadence ([[maybeCompact]])
    * and the ingest loop are written ONCE over this type; a case decides
    * only where a table lives, how it is read and its sink ([[save]]):
    *
    *  - [[PathIndex]] — path parquet under `path/bands`, `path/docs`.
    *  - [[BucketedIndex]] — catalog tables `<table>_bands` /
    *    `<table>_docs` written by an aligned `bucketBy`, so a probe's
    *    history side is exchange-free by PLAN.
    *
    * Compaction temps are named by `at(sub, "compact")` /
    * `at(sub, "trash")` — `__compact_<sub>` / `__trash_<sub>` beside
    * the live table. */
  private[graft] sealed trait DedupIndex {
    def spark: org.apache.spark.sql.SparkSession
    /** the standing parallelism of the history side: the bucket count,
      * and the file count of each table after a compaction */
    def numBuckets: Int
    /** live name of table `sub`, or of its compaction `stage` temp */
    def at(sub: String, stage: String = ""): String
    /** the directory holding table `name`'s files */
    def location(name: String): org.apache.hadoop.fs.Path
    def read(sub: String): DataFrame
    /** whether the probe pins its ids-only candidate broadcast (see
      * [[probeIndex]]) */
    def pinsProbe: Boolean
    /** the sink: write `df` as table `name` clustered on `keys` */
    def save(df: DataFrame, name: String, keys: Seq[String],
        mode: String): Unit
    // compaction-swap primitives over a named table
    def exists(name: String): Boolean
    def rename(from: String, to: String): Unit
    def remove(name: String): Unit
    def refresh(name: String): Unit
    final def fs: org.apache.hadoop.fs.FileSystem = location(at("bands"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    /** build or append both tables. A build drops the tables AND their
      * locations first — an in-memory catalog forgets a table between
      * JVMs but its location survives, and CREATE then fails with
      * LOCATION_ALREADY_EXISTS. */
    final def write(bandRows: => DataFrame, docRows: => DataFrame,
        overwrite: Boolean): Unit = {
      val mode = if (overwrite) "overwrite" else "append"
      if (overwrite) Seq("bands", "docs").foreach(t => remove(at(t)))
      Overlap.both(spark)(save(bandRows, at("bands"), BandKeys, mode),
        save(docRows, at("docs"), DocKeys, mode)): Unit
    }
    /** the compaction rewrite: `numBuckets` files hash-clustered on
      * `keys`, the placement a bucket spec uses. It reads the table's
      * FILES as plain parquet, not the table: a bucketed scan
      * advertises HashPartitioning(keys, numBuckets), so the planner
      * would ELIDE the repartition while the scan runs one partition
      * per FILE, and the rewrite would compact nothing. */
    final def rewrite(from: String, to: String, keys: Seq[String]): Unit =
      save(spark.read.parquet(location(from).toString)
        .repartition(numBuckets, keys.map(col): _*), to, keys,
        "errorifexists")
  }

  /** clustering key of each index table — the key it is probed,
    * bucketed and compacted on */
  private val BandKeys = Seq("__band", "__bh")
  private val DocKeys = Seq("doc_id")

  /** Path-parquet dedup index. Path-based parquet cannot carry bucket
    * metadata (a catalog property, not an engine limit), so an append
    * is only sorted within its files; a compaction clusters the table. */
  private[graft] final case class PathIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, numBuckets: Int = 8,
      idType: Option[org.apache.spark.sql.types.DataType] = None)
      extends DedupIndex {
    require(numBuckets >= 1)
    def at(sub: String, stage: String = ""): String =
      if (stage.isEmpty) s"$path/$sub" else s"$path/__${stage}_$sub"
    def location(name: String): org.apache.hadoop.fs.Path =
      new org.apache.hadoop.fs.Path(name)
    // with the doc id type known (the ingest loop wrote every row) the
    // read skips parquet schema inference, which is a job per read
    def read(sub: String): DataFrame = idType.fold(spark.read) { t =>
      import org.apache.spark.sql.types._
      spark.read.schema(StructType(StructField("doc_id", t) +: (
        if (sub == "bands") Seq(StructField("__band", IntegerType),
          StructField("__bh", LongType))
        else Seq(StructField("grams", ArrayType(StringType))))))
    }.parquet(at(sub))
    def pinsProbe: Boolean = true
    // the probe pushes no filter into the scan, so the sort skips no row
    // group; it is kept for size: a compacted bands table, most of a
    // long-lived index, is 3.6 % smaller sorted at sf0.01 (3.8 % at
    // sf0.1), while an append's file is 7–12 % larger until compacted
    def save(df: DataFrame, name: String, keys: Seq[String],
        mode: String): Unit =
      df.sortWithinPartitions(keys.map(col): _*)
        .write.mode(mode).parquet(name)
    def exists(name: String): Boolean = fs.exists(location(name))
    def rename(from: String, to: String): Unit =
      require(fs.rename(location(from), location(to)),
        s"rename $from -> $to failed")
    def remove(name: String): Unit =
      if (exists(name)) fs.delete(location(name), true): Unit
    // a rename is not a writer, so nothing else invalidates the
    // session's cached listings for this path — a persisted plan over
    // the pre-swap read can later recompute against files the swap
    // deleted (FAILED_READ_FILE.FILE_NOT_EXIST, seen once in the r16
    // baseline bench on q90t's second pass)
    def refresh(name: String): Unit = spark.catalog.refreshByPath(name)
  }

  /** Bucketed-catalog dedup index: both tables land via
    * `bucketBy(...).saveAsTable`, `<table>_bands` bucketed+sorted on
    * the probe key and `<table>_docs` on doc_id, so a probe exchanges
    * NOTHING on the history side (PlanSpec q90q/q90y). `numBuckets` is
    * the standing parallelism of the history side — size it to history
    * volume / healthy-scan-partition at deployment, not to the batch. */
  private final case class BucketedIndex(
      spark: org.apache.spark.sql.SparkSession, table: String,
      numBuckets: Int = 8) extends DedupIndex {
    require(numBuckets >= 1)
    def at(sub: String, stage: String = ""): String =
      if (stage.isEmpty) s"${table}_$sub" else s"${table}__${stage}_$sub"
    // the one place a catalog table's location is resolved: the table
    // is managed, so it lives at the default path of its name
    def location(name: String): org.apache.hadoop.fs.Path =
      new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(name)))
    def read(sub: String): DataFrame = spark.table(at(sub))
    // an explicit broadcast hint would mask the structural SMJ
    def pinsProbe: Boolean = false
    /** Each side is REPARTITIONED onto its bucket key into exactly
      * `numBuckets` partitions before the write: `repartition(n, keys)`
      * is the same Murmur3 `pmod(hash, n)` placement the bucket spec
      * uses, so every write task holds one bucket and emits ONE file.
      * Without it a 32-partition append landed up to 32 files in EVERY
      * bucket (INGEST_PROFILE.json's 1.3→4.3 s probe curve was mostly
      * this). */
    def save(df: DataFrame, name: String, keys: Seq[String],
        mode: String): Unit =
      df.repartition(numBuckets, keys.map(col): _*)
        .write.mode(mode)
        .bucketBy(numBuckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .format("parquet").saveAsTable(name)
    def exists(name: String): Boolean = spark.catalog.tableExists(name)
    def rename(from: String, to: String): Unit =
      spark.sql(s"ALTER TABLE `$from` RENAME TO `$to`"): Unit
    def remove(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      if (fs.exists(location(name))) fs.delete(location(name), true): Unit
    }
    def refresh(name: String): Unit = spark.catalog.refreshTable(name)
  }

  /** Build or append an index from a raw (id, text) frame. Appends are
    * new files only (A15/A16 layout discipline: never rewrite history),
    * and the caller contract is that appended ids are NEW (an id
    * already indexed would produce duplicate candidate rows; dedup
    * upstream, or route re-crawls through [[exactDedup]] first). */
  private def writeIndex(ix: DedupIndex, df: DataFrame, id: String,
      text: String, numHashes: Int, bands: Int, ngramWords: Int,
      overwrite: Boolean): Unit =
    writeDocTable(ix, minHashDocTable(df, id, text, ngramWords)
      .persistOnce(), numHashes, bands, overwrite)

  /** Write both index tables from a (__id, __sv) doc table. */
  private def writeDocTable(ix: DedupIndex, docs: DataFrame,
      numHashes: Int, bands: Int, overwrite: Boolean): Unit =
    ix.write(minHashBandTable(docs, "doc_id", numHashes, bands),
      docs.select(col("__id").as("doc_id"), col("__sv").as("grams")),
      overwrite)

  /** The one compaction swap. Each append lands as new files, so a
    * long-lived index accumulates one small-file wave per ingest slot
    * and pays probe listing + per-file open cost for it; compaction
    * rewrites each table clustered on its key. Rows are untouched: a
    * post-compaction probe is bit-identical (spec'd).
    *
    * Per table: rewrite `live` into `__compact`, rename live →
    * `__trash`, rename `__compact` → live, drop trash, refresh. A
    * directory or catalog rename is the atom, so a crash leaves one of
    * three states, and entry recovers each before doing anything else:
    *  - live present — at most stale temps (a crash during the rewrite,
    *    or after rename 2): they are dropped;
    *  - live missing, `__compact` present — a crash between the two
    *    renames; `__compact` is complete because rename 1 only runs
    *    after the rewrite finished, so roll FORWARD by renaming it in;
    *  - live missing, no `__compact` — roll BACK by renaming `__trash`
    *    in.
    * Readers racing the swap can still miss the live table inside the
    * rename window; the index is a single-writer structure. */
  private def compactIndex(ix: DedupIndex): Unit = {
    def swap(sub: String, keys: Seq[String]): Unit = {
      val (live, tmp, trash) =
        (ix.at(sub), ix.at(sub, "compact"), ix.at(sub, "trash"))
      if (!ix.exists(live)) {
        val from = if (ix.exists(tmp)) tmp else trash
        require(ix.exists(from),
          s"compaction: $live is missing and there is no $tmp or $trash " +
            "to recover it from")
        ix.rename(from, live)
        ix.refresh(live)
      }
      Seq(tmp, trash).foreach(ix.remove)
      ix.rewrite(live, tmp, keys)
      ix.rename(live, trash)
      ix.rename(tmp, live)
      ix.remove(trash)
      ix.refresh(live)
    }
    // the two tables touch disjoint names — overlap the rewrites (guide
    // §2.6); each swap's internal order is unchanged
    Overlap.both(ix.spark)(swap("bands", BandKeys),
      swap("docs", DocKeys)): Unit
  }

  /** Compaction CADENCE gate, run by the ingest loop after each append:
    * count the bands table's data files (cheap — one listStatus, and
    * the file count IS the cost being bounded) and compact when the
    * average per-bucket file count exceeds `maxFilesPerBucket`. Returns
    * whether it compacted, so a caller can mark the sawtooth teeth. */
  private def maybeCompact(ix: DedupIndex,
      maxFilesPerBucket: Int = bucketCompactMaxFiles): Boolean = {
    require(maxFilesPerBucket >= 1)
    val loc = ix.location(ix.at("bands"))
    val nFiles =
      if (!ix.fs.exists(loc)) 0
      else ix.fs.listStatus(loc).count(s => s.isFile &&
        !s.getPath.getName.startsWith("_"))
    val due = nFiles > ix.numBuckets.toLong * maxFilesPerBucket
    if (due) compactIndex(ix)
    due
  }

  /** Probe an index with a new batch: (left_id = batch doc, right_id =
    * indexed doc, jaccard ≥ pct/100) — result-identical to
    * [[minHashJoinAcross]](batch, history) by construction (same
    * seeded-xxhash64 family, same banding, same exact sorted-merge
    * verification — [[verify]]'s Jaccard tail), with history-side
    * hashing amortized to ZERO: only the batch's (__id, __sv) doc table
    * `dl` is hashed here. Both storage forms share this body, so their
    * probe semantics cannot drift. `broadcastMaxCands` is the pinned
    * candidate-broadcast gate ([[probeBroadcastMaxCands]]). */
  private[graft] def probeIndex(ix: DedupIndex, dl: DataFrame,
      thresholdPct: Int, numHashes: Int, bands: Int,
      broadcastMaxCands: Long = probeBroadcastMaxCands): Probe = {
    require(thresholdPct >= 1 && thresholdPct <= 100)
    val (bandsTbl, docsTbl) = (ix.read("bands"), ix.read("docs"))
    // the batch-side band table is bands × |batch| rows — the bounded
    // side by the incremental contract, so pin the broadcast (the q90d
    // rationale: AQE size estimates flap on freshly-derived tables)
    val cands = broadcast(minHashBandTable(dl, "left_id", numHashes, bands))
      .join(bandsTbl
        .select(col("doc_id").as("right_id"), col("__band"), col("__bh")),
        Seq("__band", "__bh"))
      .select("left_id", "right_id")
      .dropDuplicates("left_id", "right_id")
    val sl = dl.select(col("__id").as("left_id"), col("__sv").as("__sa"))
    val docsSide = docsTbl
      .select(col("doc_id").as("right_id"), col("grams").as("__sb"))
    // The index-side array attach joins the (bounded, by the
    // incremental contract) candidate list against the index's own
    // docs table. The PATH-based index (no catalog bucketing) relied
    // on AQE broadcasting the candidate side — INGEST_PROFILE.json
    // measured that flatness (~1.4 MB probe shuffle/slot, invariant
    // to index size), but it is an ADAPTIVE outcome: a dup-burst
    // batch whose candidates overflow the size estimate re-plans
    // into a shuffle of the FULL history docs table. So the path
    // index PINS the ids-only candidate broadcast behind an explicit
    // count gate (the verifyBroadcastMaxDocs discipline): under the
    // gate, history grams stream through a broadcast hash join and
    // never ride an exchange; past it, fall back LOUDLY to the
    // shuffled attach — at deployment scale that regime belongs on
    // the BUCKETED index, whose clustering makes the exchange-free
    // history side a plan property no re-plan can undo (q90q/q90y
    // pins — which is also why the bucketed index does NOT pin).
    val pinned = ix.pinsProbe && {
      val nCands = cands.persistOnce().count()
      val ok = nCands <= broadcastMaxCands
      if (!ok) Console.err.println(
        s"[graft] probeMinHashIndex: $nCands candidate pairs overflow " +
          s"the pinned broadcast gate ($broadcastMaxCands; " +
          "-Dgraft.probeBroadcastMaxCands overrides) — the history " +
          "docs attach will SHUFFLE this slot. A sustained dup-burst " +
          "regime belongs on the bucketed index (dedupIngestBucketed), " +
          "whose history side cannot re-shuffle by construction.")
      ok
    }
    val verified =
      if (pinned)
        docsSide.join(broadcast(cands), Seq("right_id"))
          .join(broadcast(sl), Seq("left_id"))
      else
        cands.join(broadcast(sl), Seq("left_id"))
          .join(docsSide, Seq("right_id"))
    Probe(keepQualifying(verified, "left_id", "right_id",
      Jaccard(thresholdPct)), if (ix.pinsProbe) Seq(cands) else Nil)
  }

  /** A probe's (left_id, right_id, jaccard) pairs and the frames it
    * cached to plan them, which a caller that is done with the pairs
    * releases. */
  private[graft] final case class Probe(pairs: DataFrame,
      cached: Seq[DataFrame])

  /** [[probeIndex]] with `batch` shingled here (the doc table stays
    * cached for the returned pairs' lifetime). */
  private def searchIndex(ix: DedupIndex, batch: DataFrame, id: String,
      text: String, thresholdPct: Int, numHashes: Int, bands: Int,
      ngramWords: Int): DataFrame =
    probeIndex(ix, minHashDocTable(batch, id, text, ngramWords)
      .persistOnce(), thresholdPct, numHashes, bands).pairs

  /** Build a [[PathIndex]] under `path` (overwriting). Scale notes: the
    * bands table is `bands` 16-byte rows per doc — ~1 KB/doc at 64×16 —
    * so a 10-billion-doc history is a ~10 TB probe table read ONCE per
    * batch via an equi-join on (band, bandhash). */
  def buildMinHashIndex(corpus: DataFrame, id: String, text: String,
      path: String, numHashes: Int = 64, bands: Int = 16,
      ngramWords: Int = 2): Unit =
    writeIndex(PathIndex(corpus.sparkSession, path), corpus, id, text,
      numHashes, bands, ngramWords, overwrite = true)

  /** Append a delta corpus to a [[buildMinHashIndex]] index: new parquet
    * files under the same layout, existing rows untouched — appending
    * 0.1% of the history must not rewrite the other 99.9%. */
  def appendMinHashIndex(delta: DataFrame, id: String, text: String,
      path: String, numHashes: Int = 64, bands: Int = 16,
      ngramWords: Int = 2): Unit =
    writeIndex(PathIndex(delta.sparkSession, path), delta, id, text,
      numHashes, bands, ngramWords, overwrite = false)

  /** COMPACT a [[buildMinHashIndex]] index in place through the shared
    * crash-recoverable swap ([[compactIndex]]): each table is rewritten
    * HASH-CLUSTERED on its key (bands on (__band, __bh), docs on
    * doc_id) into `files` files, the placement the bucketed index
    * uses. Size `files` to table volume / healthy-scan-partition at
    * deployment. */
  def compactMinHashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, files: Int = 8): Unit =
    compactIndex(PathIndex(spark, path, files))

  /** Probe a [[buildMinHashIndex]] index (see [[probeIndex]]). */
  def searchMinHashIndex(batch: DataFrame, id: String, text: String,
      path: String, thresholdPct: Int = 60, numHashes: Int = 64,
      bands: Int = 16, ngramWords: Int = 2): DataFrame =
    searchIndex(PathIndex(batch.sparkSession, path), batch, id, text,
      thresholdPct, numHashes, bands, ngramWords)

  /** Build a [[BucketedIndex]] as catalog tables `<table>_bands` /
    * `<table>_docs` (dropping any previous ones): the
    * zero-exchange-history promise made a PLAN property (the q99g
    * promotion) — at a 10-billion-doc history that is the difference
    * between re-shuffling ~10 TB of signatures per daily batch and
    * reading them in place. */
  def buildMinHashIndexBucketed(corpus: DataFrame, id: String,
      text: String, table: String, numBuckets: Int = 8,
      numHashes: Int = 64, bands: Int = 16, ngramWords: Int = 2): Unit =
    writeIndex(BucketedIndex(corpus.sparkSession, table, numBuckets),
      corpus, id, text, numHashes, bands, ngramWords, overwrite = true)

  /** COMPACT a [[buildMinHashIndexBucketed]] index in place through the
    * shared swap ([[compactIndex]]), with the catalog rename as the
    * atom: each bucket's accumulated append files fold back to ONE
    * sorted file. Rows and bucket spec are untouched, so a
    * post-compaction probe is result-identical and keeps the
    * exchange-free history plan. */
  def compactBucketedIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, numBuckets: Int = 8): Unit =
    compactIndex(BucketedIndex(spark, table, numBuckets))

  /** [[maybeCompact]] over a [[buildMinHashIndexBucketed]] index. */
  def maybeCompactBucketedIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, numBuckets: Int = 8,
      maxFilesPerBucket: Int = bucketCompactMaxFiles): Boolean =
    maybeCompact(BucketedIndex(spark, table, numBuckets), maxFilesPerBucket)

  /** Default files-per-bucket threshold of [[maybeCompact]] on both
    * index backends (`-Dgraft.bucketCompactMaxFiles` overrides, ≥ 1).
    * Deployment sizing: a bucketed append adds one file per bucket, so
    * the threshold is the append count between compactions — pay one
    * in-bucket rewrite every K appends to keep probe listing +
    * file-open cost bounded at K files/bucket instead of unbounded
    * (INGEST_PROFILE.json: ~0.95 s/slot over 31 appends). A path index
    * counts its `numBuckets` post-compaction files as buckets, so
    * one-file appends compact every `numBuckets × K` appends. */
  def bucketCompactMaxFiles: Int = BucketCompactMaxFiles.value.toInt
  private[graft] val BucketCompactMaxFiles =
    Knob("bucketCompactMaxFiles", 8, min = 1)

  /** Append a delta corpus into a [[buildMinHashIndexBucketed]] index:
    * new files only, placed into their buckets (Spark routes appended
    * rows by the table's bucket spec, so the clustering contract — and
    * the exchange-free probe — survives the append). Same caller
    * contract as [[appendMinHashIndex]]: delta ids are NEW. */
  def appendMinHashIndexBucketed(delta: DataFrame, id: String,
      text: String, table: String, numBuckets: Int = 8,
      numHashes: Int = 64, bands: Int = 16, ngramWords: Int = 2): Unit =
    writeIndex(BucketedIndex(delta.sparkSession, table, numBuckets),
      delta, id, text, numHashes, bands, ngramWords, overwrite = false)

  /** Probe a [[buildMinHashIndexBucketed]] index: result-identical to
    * [[searchMinHashIndex]] over the same corpus (same probe body), with
    * the history side exchange-free by bucket clustering. */
  def searchMinHashIndexBucketed(batch: DataFrame, id: String,
      text: String, table: String, thresholdPct: Int = 60,
      numHashes: Int = 64, bands: Int = 16,
      ngramWords: Int = 2): DataFrame =
    searchIndex(BucketedIndex(batch.sparkSession, table), batch, id,
      text, thresholdPct, numHashes, bands, ngramWords)

  /** ONLINE corpus construction with an ACCUMULATING dedup index — the
    * production ingest loop the persisted index exists for: batches
    * arrive in order, each batch is probed against the index of every
    * EARLIER SURVIVOR, non-duplicates are kept and appended into the
    * same index, duplicates never enter it. The greedy earliest-wins
    * rule this implements (a doc is dropped iff it near-matches a doc
    * that itself SURVIVED an earlier batch) is the semantics a crawl
    * ingest actually wants: if A~B and B~C but A≁C, B drops against A
    * and C is KEPT — dropping C too would over-delete through a
    * non-surviving middleman.
    *
    * The driver loop is bounded by the number of ingest slots (the
    * reference's own trigger model — `main.py`'s interval loop), and
    * every per-batch step is fully distributed: probe =
    * [[searchMinHashIndex]] (batch-side hashing only), accept = one
    * anti-join, index growth = [[appendMinHashIndex]] (new files only).
    * History is NEVER re-hashed or re-scanned beyond the banded probe —
    * per-slot cost is O(batch) + O(collisions), which is what lets the
    * loop run forever at 100 TB accumulated history.
    *
    * Within-batch duplicates are deliberately OUT OF SCOPE (a batch
    * only probes earlier survivors): route same-slot dedup through
    * [[minHashNearDups]]/[[exactDedup]] first. `batchOf` must be a
    * deterministic integral expression; batches run in ascending order.
    * Returns the surviving (id, batch) pairs; `indexPath/accepted`
    * holds them Hive-partitioned by batch. */
  def dedupIngest(docs: DataFrame, id: String, text: String,
      batchOf: Column, indexPath: String, thresholdPct: Int = 60,
      numHashes: Int = 64, bands: Int = 16,
      ngramWords: Int = 2): DataFrame =
    ingest(PathIndex(docs.sparkSession, indexPath,
        idType = Some(docs.schema(id).dataType)), docs, id, text,
      batchOf, indexPath, thresholdPct, numHashes, bands, ngramWords)

  /** [[dedupIngest]] over the BUCKETED index `table`: the same loop,
    * whose exchange-free history side is a PLAN guarantee (PlanSpec
    * q90y) rather than the path index's gated broadcast, at the
    * maintenance cost of one file per bucket per append that the
    * in-bucket compaction cadence folds back. The two forms return
    * identical survivor sets. `numBuckets` is the standing parallelism
    * of the history side (see [[buildMinHashIndexBucketed]]). */
  def dedupIngestBucketed(docs: DataFrame, id: String, text: String,
      batchOf: Column, indexPath: String, table: String,
      numBuckets: Int = 8, thresholdPct: Int = 60,
      numHashes: Int = 64, bands: Int = 16,
      ngramWords: Int = 2): DataFrame =
    ingest(BucketedIndex(docs.sparkSession, table, numBuckets), docs, id,
      text, batchOf, indexPath, thresholdPct, numHashes, bands, ngramWords)

  /** The one ingest loop behind [[dedupIngest]] / [[dedupIngestBucketed]]. */
  private[graft] def ingest(ix: DedupIndex, docs: DataFrame, id: String,
      text: String, batchOf: Column, indexPath: String, thresholdPct: Int,
      numHashes: Int, bands: Int, ngramWords: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // bounded by the ingest-slot count — the one driver-side list the
    // loop needs (the reference's catalog paging discipline, A4)
    val batchIds = docs.select(batchOf.cast("long").as("__b"))
      .distinct().orderBy(col("__b")).as[Long].collect()
    // a RERUN at the same indexPath with a different batch set would
    // otherwise leave the prior run's accepted/batch=<b> dirs behind
    // (each loop iteration only overwrites its OWN partition), and
    // partition discovery below would surface them as phantom
    // survivors — clear the whole accepted tree alongside the i==0
    // index rebuild (the r11 advice item)
    locally { // scoped: one FS round-trip before the loop
      val acc = new org.apache.hadoop.fs.Path(indexPath, "accepted")
      val fs = acc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(acc)) fs.delete(acc, true)
    }
    // the frozen survivor files' schema: reads skip schema inference
    val frozen = org.apache.spark.sql.types.StructType(
      Seq(docs.schema(id), docs.schema(text)))
    batchIds.zipWithIndex.foreach { case (b, i) =>
      // the batch is read, spread and shingled ONCE: the probe, the
      // freeze and the append all read this frame
      val batch = docs.filter(batchOf.cast("long") === b)
      val sh = shingleFrame(batch, id, text, ngramWords).persistOnce()
      // the writes undo the spread: the batch's own scan partitioning is
      // sized to its bytes, so a small batch lands one file per table
      // instead of one per spread partition
      val width = Spread.width(batch)
      val dl = withShingles(sh)
      // NOTE (A/B, `dedup_ingest` benchmark: 20-doc batches at local[3]
      // on a 4-core host, 10 seed pairs alternating with the previous
      // loop): this shared frame measured 8.1 → 11.2 docs/s median,
      // faster in 10/10 pairs, and 21.9 → 14.4 jobs per path batch. The
      // r16 version of the sharing lost (9.0–9.3 s before vs 10.4–11.3 s
      // shared at sf0.1) because it paid a broadcast semi-join build and
      // a second cached copy of the shingles on top of the explode →
      // 64×`min` groupBy signature. With the row-local minHashBands
      // kernel the band table needs neither a cache nor a shuffle, and
      // the one cached frame replaces re-reading and re-shingling the
      // survivors.
      val probe =
        if (i == 0) None
        else Some(probeIndex(ix, dl, thresholdPct, numHashes, bands))
      // the dup ids are a subset of the batch, the bounded side, so the
      // anti-join pins their broadcast (no exchange of the batch), and
      // an anti-join needs no distinct on its build side
      val kept0 = probe.fold(sh)(p => sh.join(
        broadcast(p.pairs.select(col("left_id").as("__id"))), Seq("__id"),
        "left_anti"))
      // MATERIALIZE the accepted set BEFORE the index grows: the probe
      // above reads the index lazily, so a lineage recompute after the
      // append (cache eviction, lost partition) would re-probe an index
      // that now contains LATER survivors — or this batch's own bands —
      // and silently change the answer. Writing the survivors under the
      // index layout (Hive-partitioned by batch — also the provenance
      // record an ingest pipeline wants) freezes each probe at its
      // point-in-time index state; the index append then selects its
      // rows by the frozen ids, never through the live lineage. The
      // freeze is written from the unfiltered frame: a doc with no
      // shingles cannot be a near-duplicate and is accepted, though it
      // never enters the index.
      val at = s"$indexPath/accepted/batch=$b"
      kept0.coalesce(width)
        .select(col("__id").as(id), col("__text").as(text))
        .write.mode("overwrite").parquet(at)
      // with no probe (the first batch) every row survives
      val survivors = probe.fold(dl)(_ => dl.join(
        spark.read.schema(frozen).parquet(at).select(col(id).as("__id")),
        Seq("__id"), "left_semi"))
      writeDocTable(ix, survivors.coalesce(width), numHashes, bands,
        overwrite = i == 0)
      if (i > 0) maybeCompact(ix): Unit
      // release this batch's caches: a long-running loop must not pin
      // one set of blocks per batch for the session's life
      // (dependents first, or uncaching `sh` would re-plan them)
      (probe.toSeq.flatMap(_.cached) :+ sh).foreach(_.unpersist())
    }
    // partition discovery rehydrates the batch column from the layout
    spark.read.schema(frozen.add("batch", LongType))
      .parquet(s"$indexPath/accepted").select(col(id), col("batch"))
  }

  /** Internal: banded signature table (outId, __band, __bh) of a
    * (__id, __sv) doc table — the hash family shared verbatim by the
    * in-memory join and the persisted index. Row-local: one
    * `posexplode` of the [[minHashBands]] kernel, no exchange. A doc
    * with no shingles gets no band rows. */
  private def minHashBandTable(d: DataFrame, outId: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    d.select(col("__id").as(outId), posexplode(
      minHashBands(col("__sv"), numHashes, bands)).as(Seq("__band", "__bh")))
  }

  /** Edge-count gate for [[nearDupClusters]]' driver fast path: pair
    * lists at or under this size are collected and union-found on the
    * driver (milliseconds), skipping the iterative join loop whose
    * per-round FIXED cost — a union-join-aggregate-join pipeline, a
    * localCheckpoint materialization and a convergence count action —
    * dwarfs the actual work on sparse near-dup graphs (the common case:
    * this corpus's rep graphs carry tens of edges; even an aggressive
    * dedup rarely pairs more than a few permille of a corpus). 1M edges
    * collect to ~30 MB of rows — trivially safe in the deployment
    * contract's driver heap — while a crawl-scale pair list blows the
    * gate and takes the distributed loop, which remains the 100 TB
    * path. */
  val driverCcMaxEdges: Long = 1000000L

  /** Connected components over an undirected pair list (first two columns
    * = the edge endpoints): every node gets the minimum id of its
    * component. Size-adaptive: bounded pair lists (≤
    * [[driverCcMaxEdges]]) run an exact union-find on the driver in one
    * collect; larger graphs run iterative min-label propagation — rounds
    * bounded by log(component diameter) via pointer jumping, lineage
    * truncated and the previous round's blocks freed each round, driver
    * sees only a scalar per round. Both paths produce the identical
    * (doc_id, cluster_id = component-min) assignment. Throws
    * IllegalStateException if `maxIterations` rounds don't reach a
    * fixpoint — a silent partial answer would assign one component
    * multiple cluster ids. */
  def nearDupClusters(pairs: DataFrame, maxIterations: Int = 20,
      driverMaxEdges: Long = driverCcMaxEdges): DataFrame = {
    require(pairs.columns.length >= 2,
      "nearDupClusters expects a two-column (src, dst) pair DataFrame")
    val Seq(a, b) = pairs.columns.toSeq.take(2).map(col)
    val edges = pairs.select(a.as("src"), b.as("dst"))
      .union(pairs.select(b.as("src"), a.as("dst")))
      // read every round; persist keeps the producing pipeline's lineage
      // so a lost executor recomputes rather than kills the job
      .persistOnce()
    // DRIVER FAST PATH: the gate count runs on the just-persisted edge
    // blocks (one cheap job), the collect re-reads the same blocks.
    if (edges.count() <= 2 * driverMaxEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        // path compression: point the whole chain at the root
        var c = x
        while (parent.getOrDefault(c, c) != r) {
          val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
        }
        r
      }
      es.foreach { case (s, d) =>
        val (rs, rd) = (find(s), find(d))
        // union by MIN id: the root IS the component minimum, so no
        // second relabeling pass is needed (chains stay shallow through
        // path compression; the edge list is bounded by the gate)
        if (rs < rd) parent.put(rd, rs)
        else if (rd < rs) parent.put(rs, rd)
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      edges.unpersist()
      return nodes.iterator.map(n => (n, find(n))).toSeq
        .toDF("doc_id", "cluster_id")
    }
    // The per-round labels DO use localCheckpoint: an iterative join loop
    // is the one case where lineage must be TRUNCATED (a persisted plan
    // grows a join level per round and analysis cost compounds). The
    // executor-loss tradeoff is accepted here and bounded: losing a block
    // fails the round, and the caller reruns from the (cheap) edge list.
    // Seed with min(id, min neighbor) — the node-set dedup is a groupBy
    // shuffle either way, so the first propagation round rides it free.
    var mat = edges.groupBy(col("src").as("id"))
      .agg(min(least(col("dst"), col("src"))).as("lbl"))
      .localCheckpoint()
    var labels = mat
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // FUSED PROPAGATION: neighbor-min and pointer jump are both "send
      // a label to a node" messages, so they ride ONE message stream —
      //  - a real edge (src, dst) delivers lbl(src) to dst (neighbor
      //    min), and
      //  - a label link (lbl(id) → id) delivers lbl(lbl(id)) to id (the
      //    POINTER JUMP: every label value is a node id in the same
      //    component, so the lookup is total).
      // One equi-join + one groupBy-min + one apply-join per round,
      // where the unfused form paid two joins, a groupBy and a three-way
      // combine — the per-round fixed cost (stages + exchanges), not
      // shuffle volume, dominates this loop at test scale. Jumping makes
      // label chains halve each round, so rounds grow with
      // log(component diameter): the SimHash rep graph's 13-round chains
      // (measured at sf0.1) converge in 5. Monotonicity is unchanged —
      // least(old, incoming-min) only ever decreases toward the
      // component min, and the fixpoint is identical to the unfused
      // update least(old, nbrMin, jumpLbl).
      val links = labels.select(col("lbl").as("src"), col("id").as("dst"))
      val msgs = edges.unionByName(links)
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id2")).agg(min(col("lbl")).as("nlbl"))
      // The previous label rides the checkpointed row, so the convergence
      // check is a filter-count over already-materialized blocks — no
      // extra per-round shuffle join against the old label table.
      val next = labels
        .join(msgs, labels("id") === msgs("id2"), "left")
        .select(col("id"), col("lbl").as("__prev"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      val changes = next.filter(col("lbl") =!= col("__prev")).count()
      mat.unpersist() // next is checkpointed; the old blocks can go
      mat = next
      labels = next.select("id", "lbl")
      converged = changes == 0
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"nearDupClusters did not converge in $maxIterations rounds " +
        "(component diameter exceeds the cap); raise maxIterations")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** DEDUP MATERIALIZATION: the step that actually produces the cleaned
    * corpus from a near-dup pair list — keep every row that is either in
    * no duplicate cluster or is its cluster's canonical representative
    * (the minimum id, via [[nearDupClusters]]). All original columns
    * survive. Scale shape: the cluster table holds only docs that
    * appear in a pair (small relative to the corpus at realistic dup
    * rates), so the left join broadcasts or AQE-plans cheaply; the
    * corpus is scanned once. */
  def applyDedup(df: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val clusters = nearDupClusters(pairs)
      .withColumnRenamed("doc_id", "__cm_id")
    df.join(clusters, df(id) === col("__cm_id"), "left")
      .filter(col("cluster_id").isNull || df(id) === col("cluster_id"))
      .drop("__cm_id", "cluster_id")
  }

  /** 64-bit SimHash fingerprint per document (Charikar 2002): md5-derived
    * token hashes (md5 is the one hash every engine shares bit-for-bit),
    * per-bit ±1 vote sums, sign → bit. One token explode + one groupBy on
    * the id — partial-aggregated map-side, the canonical fingerprint plan
    * at any scale. Returns (doc_id, sh).
    *
    * WHY 64 BITS: signature-identical docs fuse unconditionally in the
    * [[simhashClusters]] rep-collapse, so the signature width bounds the
    * BIRTHDAY false-merge rate — at 10⁹ docs a 32-bit signature expects
    * ~10⁸ spurious fusions (n²/2³³) where 64 bits expect ~0.03 (n²/2⁶⁵).
    * The token hash takes BOTH 32-bit halves of the md5 prefix and
    * composes them as (hi << 32) | lo — two's-complement arithmetic every
    * engine reproduces bit-for-bit (a single 16-hex-digit parse would
    * overflow a signed 64-bit cast for half the space). The signature
    * assembles per-bit flags with bitwise OR, not addition: bit 63's flag
    * IS Long.MinValue and must not ride an ANSI-checked sum. */
  def simhash64(df: DataFrame, id: Column, text: Column): DataFrame = {
    // per-token md5 + base-conv + 64 bit-sums otherwise run inside the
    // (row-group-bounded) scan stage — serial on the fixture inputs at
    // any core count (Spread scaladoc; guide §2.5). No-op at real scale.
    val tok = Spread(df.select(id.as("doc_id"), text.as("__txt")),
        col("doc_id"))
      .select(col("doc_id"), explode(split(col("__txt"), " ")).as("__t"))
      .select(col("doc_id"), md5(col("__t")).as("__m"))
      .select(col("doc_id"),
        shiftleft(conv(substring(col("__m"), 1, 8), 16, 10)
          .cast(LongType), 32)
          .bitwiseOR(conv(substring(col("__m"), 9, 8), 16, 10)
            .cast(LongType)).as("__h"))
    val sums = tok.groupBy("doc_id").agg(
      sum(shiftright(col("__h"), 0).bitwiseAND(lit(1L)) * 2 - 1).as("s0"),
      (1 until 64).map(j =>
        sum(shiftright(col("__h"), j).bitwiseAND(lit(1L)) * 2 - 1)
          .as(s"s$j")): _*)
    val simhash = (0 until 64)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    sums.select(col("doc_id"), simhash.as("sh"))
  }

  /** Banded SimHash candidate pairs with exact Hamming verification ≤ 3,
    * over a (doc_id, sh) table: 4 disjoint 16-bit bands → equi-join on
    * (band, band-key) for candidates → bit_count verify INSIDE the join
    * stage (both signatures already ride the joined row). With 4 bands
    * any pair within Hamming 3 shares at least one identical band
    * (pigeonhole), so banded recall is EXACT — never an all-pairs scan.
    * Returns (doc_a, doc_b, hamming), doc_a < doc_b.
    *
    * BAND GEOMETRY: 4 bands is the MINIMUM that pigeonholes Hamming ≤ 3,
    * so the 64-bit signature gives each band its maximum width, 16 bits
    * = 65,536 buckets per band. Unlike ANN probing (where [[annBits]]
    * trades bucket count against probe cost), exact-recall banding has no
    * width tradeoff: recall is pigeonhole-guaranteed at ANY key width, so
    * the FULL band is always the right join key — wider keys only shrink
    * the candidate set (expected candidate work O(S²/2¹⁶) per band vs the
    * old 8-bit geometry's O(S²/2⁸), 256× fewer spurious collisions at
    * crawl scale; annBits(n, target, maxBits=16) saturates at 16 for any
    * corpus past ~10⁵ distinct signatures, i.e. the clamp IS the rule's
    * answer at scale).
    *
    * SCALE WARNING: the PAIR SET itself is quadratic in duplicate-cluster
    * size — a boilerplate cluster of 10⁶ signature-identical docs is
    * ~5·10¹¹ pairs no matter how good the plan. Call this on a
    * signature-DEDUPED table (one representative per distinct sh, the
    * [[simhashClusters]] path) unless the caller has bounded clusters. */
  def simhashPairs(sh: DataFrame): DataFrame = {
    val bands = sh.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("sh"), 16 * k).bitwiseAND(lit(65535L))): _*))
        .as(Seq("band", "bk")))
    val ham = bit_count(col("sha").bitwiseXOR(col("shb")))
    bands
      .select(col("band"), col("bk"), col("doc_id").as("doc_a"),
        col("sh").as("sha"))
      .join(bands.select(col("band"), col("bk"),
        col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("band", "bk"))
      .filter(col("doc_a") < col("doc_b") && ham <= 3)
      .select(col("doc_a"), col("doc_b"), ham.as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** SimHash near-dup CLUSTERING with O(docs) output — the scale-safe
    * materialization of the q98 family. The r7 sf1 sweep measured the
    * raw pair set at 8.53M rows (×11,769 for 10× docs) because
    * word-shuffled copies are signature-IDENTICAL — exactly what a
    * crawl-scale corpus looks like — so the pair contract, not the plan,
    * was the scale-killer. Here signature-identical docs collapse to
    * their min-id representative FIRST (one groupBy on sh — the q90c
    * first-occurrence shape), banding and Hamming verification run over
    * DISTINCT signatures only, and the output is one (doc_id,
    * cluster_id) row per document: cluster_id = the min doc_id of the
    * transitive Hamming-≤3 component, itself when unclustered. A
    * 10⁶-copy boilerplate cluster costs one aggregate row, not 5·10¹¹
    * pairs. */
  def simhashClusters(df: DataFrame, id: Column, text: Column): DataFrame = {
    val shx = simhash64(df, id, text).persistOnce()
    // one representative per distinct signature; rep_id = min doc_id, so
    // the component-min over reps IS the component-min over docs
    val rep = shx.groupBy("sh").agg(min(col("doc_id")).as("rep_id"))
      .persistOnce()
    val repPairs = simhashPairs(
      rep.select(col("rep_id").as("doc_id"), col("sh")))
    // connected components over rep-level edges only — the rep table is
    // O(distinct signatures), its pair set O(near-dup rep pairs)
    val clu = nearDupClusters(repPairs.select("doc_a", "doc_b"))
      .withColumnRenamed("doc_id", "rep_id")
    shx.join(rep, Seq("sh"))
      .join(clu, Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"))
  }

  /** SimHash near-dup EDGES with O(docs) size — the bridge from the q98
    * family into the ONE clustering/materialization path shared by every
    * near-dup family ([[nearDupClusters]] / [[applyDedup]] consume any
    * (a, b)-shaped pair list: MinHash q91, containment q90h, and this).
    * Emits a STAR per signature group (representative → each other
    * member: |group|−1 edges, never the (|group| choose 2) clique) plus
    * the rep-level verified Hamming pairs; transitive closure over these
    * edges reaches exactly the [[simhashClusters]] components. */
  def simhashEdges(df: DataFrame, id: Column, text: Column): DataFrame = {
    val shx = simhash64(df, id, text).persistOnce()
    val rep = shx.groupBy("sh").agg(min(col("doc_id")).as("rep_id"))
      .persistOnce()
    val stars = shx.join(rep, Seq("sh"))
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"))
    val repPairs = simhashPairs(
        rep.select(col("rep_id").as("doc_id"), col("sh")))
      .select("doc_a", "doc_b")
    stars.unionByName(repPairs)
  }

  /** LSH BIT-WIDTH SIZING — the log₂(N / target-bucket-occupancy) rule
    * as a function instead of prose: the smallest b (1 ≤ b ≤ maxBits)
    * such that 2^b buckets hold n vectors at ≤ targetBucket expected
    * occupancy (2^b · targetBucket ≥ n), clamped to the hash family's
    * available bits. Integer-exact on purpose — a float log2 rounds
    * 256 → 7.999… in some engines and the oracle must reproduce the
    * choice bit-for-bit. Growing bits with the corpus holds the probed
    * FRACTION of the corpus constant (each probe visits ~targetBucket
    * vectors), which is what keeps per-query ANN work flat from the
    * 500-vector test table to 10⁹ vectors (16–20 bits). */
  def annBits(n: Long, targetBucket: Long, maxBits: Int = 8): Int = {
    require(n >= 0 && targetBucket >= 1 && maxBits >= 1 && maxBits <= 62,
      s"annBits(n=$n, targetBucket=$targetBucket, maxBits=$maxBits)")
    var b = 1
    while (b < maxBits && (1L << b) * targetBucket < n) b += 1
    b
  }

  /** RECALL-TARGETED table sizing — [[annBits]]'s missing companion
    * (r16): `annBits` holds the probed FRACTION constant as the corpus
    * grows, but growing bits also shrinks each table's chance of
    * catching a given neighbor, so a fixed table count silently
    * under-provisions at scale — the committed RECALL.json measured
    * the 8-table default at 0.53 recall on the 10× stress fixture vs
    * 0.93 at 32 tables. This derives the OR-construction table count
    * from a recall target instead:
    *
    *  - per-hyperplane sign agreement for a neighbor at angle θ is
    *    q = 1 − θ/π (the Goemans–Williamson identity);
    *  - one table's bucket catches the neighbor directly or via one of
    *    the `bits` Hamming-1 probe flips:
    *    p = q^bits + bits·q^(bits−1)·(1 − q);
    *  - independent tables miss together with (1−p)^T, so
    *    T = ⌈ln(1 − recall) / ln(1 − p)⌉.
    *
    * `neighborCos` is the DESIGN neighbor — the farthest cosine the
    * caller still wants retrieved at the target recall. The 0.3
    * default is deliberately conservative for high-dim top-k tails
    * (close neighbors over-achieve; calibration against the committed
    * ledger: sized T = 9 at the sf0.1 geometry and T = 51 at the 10×
    * stress geometry land measured recall 0.91 / 0.99 where the old
    * 8-table default measured 0.89 / 0.53 — RECALL.json's
    * *_hyper_sized rows re-measure this every round). The `maxTables`
    * clamp is a cost ceiling: past it the geometry is wrong for the
    * target — lower `bits` via a larger annBits targetBucket (denser
    * buckets, cheaper per table) rather than paying a runaway
    * OR-construction. */
  def annTablesFor(recall: Double, bits: Int, neighborCos: Double = 0.3,
      maxTables: Int = 64): Int = {
    require(recall > 0 && recall < 1 && bits >= 1 && bits <= 62 &&
      neighborCos > -1.0 && neighborCos < 1.0 && maxTables >= 1,
      s"annTablesFor(recall=$recall, bits=$bits, " +
        s"neighborCos=$neighborCos, maxTables=$maxTables)")
    val q = 1.0 - math.acos(neighborCos) / math.Pi
    val p = math.pow(q, bits) + bits * math.pow(q, bits - 1) * (1.0 - q)
    if (p >= 1.0) 1
    else math.max(1, math.min(maxTables,
      math.ceil(math.log1p(-recall) / math.log1p(-p)).toInt))
  }

  /** MEASURED design cosine for [[annTablesFor]] — the r16 advice: the
    * rule's `neighborCos = 0.3` default is calibrated against the test
    * fixtures' isotropic unit vectors, and a corpus with tighter
    * neighborhoods (real text embeddings cluster) over-provisions
    * tables ~2× if sized against it. This estimates the design point
    * FROM DATA with one bounded exact pass (RECALL.json's truth
    * machinery): exact [[cosineTopK]] over a query sample, each
    * query's k-th-neighbor cosine (its worst retrieved neighbor when
    * fewer than k exist), and the `pct` NEAREST-RANK percentile of
    * those — a LOW percentile sizes for the hardest queries in the
    * sample, which is the conservative direction (recall, not cost,
    * is what a miss breaks). The result is clamped into
    * [[annTablesFor]]'s open (−1, 1) domain: a duplicate-saturated
    * sample whose k-th neighbors are exact copies clamps to ~1 and
    * sizes one table, which is correct — copies collide in every
    * table. Driver-side Double by design: this is a SIZING pass run
    * once per (corpus, k) against a bounded query sample, not a
    * registered operator. RECALL.json ledgers the sized-vs-fixed
    * table-count ratio at both fixtures. */
  def annDesignCosine(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int,
      pct: Double = 0.25): Double = {
    require(k >= 1 && pct > 0.0 && pct <= 1.0,
      s"annDesignCosine(k=$k, pct=$pct)")
    val kth = cosineTopK(corpus, id, vec, queries, qid, qvec, k)
      .withColumn("__last",
        max(col("rnk")).over(Window.partitionBy(col("query_id"))))
      .filter(col("rnk") === col("__last"))
      .select(col("cos_sim")).collect().map(_.getDouble(0)).sorted
    require(kth.nonEmpty, "annDesignCosine: empty query sample")
    val v = kth(math.max(0, math.ceil(pct * kth.length).toInt - 1))
    math.max(-0.999999, math.min(0.999999, v))
  }

  /** OR-CONSTRUCTION multi-probe LSH top-k — the q99 family as a library
    * operator. Each of `tables` hash tables owns a disjoint
    * `coordsPerTable`-coordinate range of the embedding; bit i of table
    * t is the sign comparison of coordinates (t·coordsPerTable + 2i+1,
    * t·coordsPerTable + 2i+2). Queries probe their own bucket plus every
    * single-bit flip (Hamming radius 1) in every table; candidates dedup
    * on (query, vec) before the one exact cosine scoring pass. Never
    * all-pairs: per-query candidate work is O(tables · probes ·
    * N/2^bits) — size `bits` via [[annBits]] to hold that constant as N
    * grows. The query side is broadcast (bounded query set). */
  def lshTopK(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int,
      tables: Int = 4, coordsPerTable: Int = 16, bits: Int = 8): DataFrame = {
    require(tables >= 1 && bits >= 1 && 2 * bits <= coordsPerTable,
      s"lshTopK needs 2·bits ≤ coordsPerTable (bits=$bits, " +
        s"coordsPerTable=$coordsPerTable)")
    def codeAt(v: Column, offset: Int): Column = (0 until bits)
      .map(i => when(element_at(v, offset + 2 * i + 1) >
        element_at(v, offset + 2 * i + 2), lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)
    bucketTopK(corpus, id, vec, queries, qid, qvec, k, bits) {
      (df, idName, vecName) =>
        df.select(col(idName), col(vecName), posexplode(
          array((0 until tables).map(t =>
            codeAt(col(vecName), coordsPerTable * t)): _*))
          .as(Seq("tbl", "bucket")))
    }
  }

  /** The bucket searches' shared candidate-and-rank half: `buckets`
    * turns an (id, vec) frame into its (id, vec, tbl, bucket) rows;
    * queries probe their [[hamming1Probes]] against the corpus buckets
    * (the (tbl, bucket) equi-join is the OR construction's union, the
    * query side broadcast), candidates dedup on (query, vec) and the
    * one exact [[cosine]] ranks them. */
  private def bucketTopK(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int, bits: Int)(
      buckets: (DataFrame, String, String) => DataFrame): DataFrame = {
    val e = buckets(corpus.select(col(id).as("vec_id"),
      col(vec).as("embedding")), "vec_id", "embedding")
    val probes = hamming1Probes(buckets(queries.select(
      col(qid).as("query_id"), col(qvec).as("qe")), "query_id", "qe"), bits)
    val cands = e.join(broadcast(probes), Seq("tbl", "bucket"))
      .dropDuplicates("query_id", "vec_id")
    topKWithin(cands.select(col("query_id"), col("vec_id"),
          cosine(col("qe"), col("embedding")).as("cos_sim")),
        "query_id", Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .select("query_id", "rnk", "vec_id", "cos_sim")
  }

  /** Each row of a `bits`-wide (…, tbl, bucket) table probed at its own
    * bucket and at every Hamming-1 flip of it: the probe set of the
    * bucket searches ([[bucketTopK]], [[searchWhitenedHyperIndex]]). */
  private def hamming1Probes(buckets: DataFrame, bits: Int): DataFrame =
    buckets
      .withColumn("__xor",
        explode(array((0 +: (0 until bits).map(1 << _)).map(lit): _*)))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("__xor")))
      .drop("__xor")

  /** HYPERPLANE multi-table OR-LSH top-k — [[lshTopK]]'s growth axis
    * past the dimension cap. The coordinate-pair codes of [[lshTopK]]
    * spend 2 embedding dims per bit and give each table a DISJOINT
    * coordinate range, so a 64-dim embedding caps out at 4 tables × 8
    * bits — and RECALL.json records that cap as recall decaying to
    * ~0.55 by 20k vectors (buckets grow, the probed fraction with
    * them). Here each bit is the sign of the vector's dot product with
    * a pseudo-random sparse ±1/0 hyperplane (the [[signProjection]]
    * md5 matrix rule — deterministic, no RNG state, reproducible in
    * any engine), so EVERY bit sees the whole vector: `bits` sizes
    * with the corpus via [[annBits]] unbounded by dims, and `tables`
    * independent hyperplane sets are the recall lever (OR
    * construction — a neighbor missed by one table's code is caught
    * by another's; the (tbl, bucket) equi-join IS the union, and
    * candidates dedup on (query, vec) before the one exact scoring
    * pass).
    *
    * Plan shape: all tables·bits dot products per vector run in ONE
    * fused [[graft.plans.SignProject]] codegen loop (exact long
    * fixed-point — the sign comparison is deterministic, never an FP
    * epsilon); buckets are in-row bit-assembly; the corpus never
    * all-pairs — per-query work is O(tables · (bits+1) · N/2^bits).
    * Queries probe their bucket plus every Hamming-1 flip and ride a
    * broadcast (bounded query set, the q99 contract). */
  /** Internal: (id, vec, tbl, bucket) hyperplane sign-buckets — the
    * shared candidate geometry of [[lshTopKHyper]] and the persisted
    * [[buildWhitenedHyperIndex]]/[[searchWhitenedHyperIndex]] pair (one
    * construction, so an index probe and an in-memory search can never
    * disagree on a bucket). Hyperplane h (1-based) = table (h−1) div
    * bits, bit (h−1) mod bits; all tables·bits dot products in one
    * fused SignProject pass; the md5 sign matrix is deterministic, so
    * there is no matrix artifact to persist — (tables, bits, dims) ARE
    * the index geometry contract. */
  private[graft] def hyperBuckets(df: DataFrame, idName: String,
      vecName: String, tables: Int, bits: Int, dims: Int): DataFrame = {
    require(tables >= 1 && bits >= 1 && bits <= 30 && dims >= 1,
      s"hyperBuckets(tables=$tables, bits=$bits, dims=$dims)")
    graft.plans.SignProject.register(df.sparkSession)
    val matrix = typedLit((1 to tables * bits).map(h =>
      (1 to dims).map(j => signMatrixEntry(j, h))))
    val guarded = when(size(col(vecName)) === dims, col(vecName))
      .otherwise(raise_error(concat(
        lit(s"hyperBuckets expects $dims-dim vectors, got "),
        size(col(vecName)).cast(StringType))))
    df.select(col(idName), col(vecName),
        call_function(graft.plans.SignProject.name,
          guarded, matrix).as("__ys"))
      .select(col(idName), col(vecName), posexplode(
        array((0 until tables).map { t =>
          (0 until bits).map(i =>
            when(element_at(col("__ys"), t * bits + i + 1) > 0,
              lit(1 << i)).otherwise(lit(0)))
            .reduce(_ + _) }: _*)).as(Seq("tbl", "bucket")))
  }

  def lshTopKHyper(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int,
      tables: Int = 8, bits: Int = 10, dims: Int = 64): DataFrame =
    bucketTopK(corpus, id, vec, queries, qid, qvec, k, bits)(
      hyperBuckets(_, _, _, tables, bits, dims))

  /** Two-stage TRUNCATE-then-RERANK retrieval (the Matryoshka recipe:
    * score the corpus on a dim prefix, rerank a shortlist at full
    * precision). Stage 1 computes cosine on the first `dTrunc` dims —
    * a `dims/dTrunc`× FLOP and bandwidth cut over the full scan — and
    * keeps the top `shortlist` per query; stage 2 rescores ONLY the
    * shortlist with full-dim cosine and returns the top `k`. Both
    * stages round to 6 dp and tie-break on ascending id, so the
    * shortlist boundary is deterministic in any engine.
    *
    * Plan shape: the stage-1 shuffle moves LEAN rows (query_id,
    * vec_id, cos_trunc — ~20 bytes), never the embeddings; the
    * shortlist (|Q|·shortlist rows — bounded because the query set is
    * bounded, the same contract as [[cosineTopK]]) is broadcast back
    * onto the corpus so stage 2 touches |Q|·shortlist full vectors
    * instead of |corpus|. At 100 TB, stage 1 composes with the q99
    * bucketed/IVF pruning — truncation cuts the per-candidate cost,
    * bucketing cuts the candidate count; they multiply.
    *
    * With `shortlist >= |corpus|` truncation cannot prune, so the
    * output's (query_id, rnk, vec_id, cos_sim) equals [[cosineTopK]]
    * exactly — the spec's equivalence gate. */
  def truncateRerank(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String,
      dTrunc: Int, shortlist: Int, k: Int): DataFrame = {
    require(dTrunc >= 1 && shortlist >= k && k >= 1)
    val q = broadcast(queries.select(col(qid).as("query_id"),
      col(qvec).as("__qe"), slice(col(qvec), 1, dTrunc).as("__qt")))
    val lean = corpus
      .select(col(id).as("vec_id"), slice(col(vec), 1, dTrunc).as("__et"))
      .crossJoin(q.select(col("query_id"), col("__qt")))
      .select(col("query_id"), col("vec_id"),
        cosine(col("__qt"), col("__et")).as("cos_trunc"))
    val short = topKWithin(lean, "query_id",
      Seq(col("cos_trunc").desc, col("vec_id").asc), shortlist).drop("rnk")
    val rescored = corpus.select(col(id).as("vec_id"), col(vec).as("__e"))
      .join(broadcast(short), Seq("vec_id"))
      .join(q.select(col("query_id"), col("__qe")), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("cos_trunc"),
        cosine(col("__qe"), col("__e")).as("cos_sim"))
    topKWithin(rescored, "query_id",
        Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .select("query_id", "rnk", "vec_id", "cos_trunc", "cos_sim")
  }

  /** The deterministic sparse-sign matrix entry shared by
    * [[signProjection]] and [[lshTopKHyper]]: ±1 with probability 1/6
    * each, else 0, keyed on (input dim j, output dim / hyperplane h)
    * through md5 — Achlioptas's database-friendly JL matrix, no RNG
    * state, bit-reproducible in any engine with md5 (the DuckDB
    * oracles replay it in SQL). */
  private[graft] def signMatrixEntry(j: Int, h: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$h".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 4)
    java.lang.Long.parseLong(hex, 16) % 6 match {
      case 0 => 1; case 1 => -1; case _ => 0
    }
  }

  /** Exact top-k cosine of a bounded query set against a corpus; the
    * query side is broadcast. Returns (query_id, rnk, vec_id, cos_sim)
    * with deterministic (cos DESC, id ASC) tie-break. For unbounded query
    * sets use bucketed ANN (see q99) — this is the exact baseline. */
  def cosineTopK(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int): DataFrame = {
    val scored = corpus.select(col(id).as("vec_id"), col(vec).as("__e"))
      .crossJoin(broadcast(
        queries.select(col(qid).as("query_id"), col(qvec).as("__qe"))))
      .select(col("query_id"), col("vec_id"),
        cosine(col("__qe"), col("__e")).as("cos_sim"))
    topKWithin(scored, "query_id",
        Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .select("query_id", "rnk", "vec_id", "cos_sim")
  }

  /** k-NN WEAK LABELER: each query vector takes the MAJORITY label of
    * its k nearest labeled corpus vectors (rounded cosine; votes tie
    * toward the smaller label) — the semi-supervised labeling /
    * label-denoising pass a training-data pipeline runs when a small
    * gold set must annotate a large crawl. Returns (query_id,
    * pred_label, votes, vote_share). Caller contract: `queries` must
    * not appear in `corpus` (a self-neighbor votes for its own label
    * at cosine 1 and turns the labeler into an echo).
    *
    * Plan: rides [[cosineTopK]]'s broadcast-queries exact-scoring shape
    * (the q92 contract: a BOUNDED query set; unbounded query sets route
    * through the bucketed/IVF candidate cutover first), then one
    * (query, label) vote aggregate and a 1-row-per-query argmax window
    * — both on k·|queries| rows, never corpus-sized. */
  def knnLabel(corpus: DataFrame, id: String, vec: String,
      labelCol: String, queries: DataFrame, qid: String, qvec: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val nn = cosineTopK(corpus, id, vec, queries, qid, qvec, k)
    val lab = corpus.select(col(id).as("vec_id"),
      col(labelCol).as("__l"))
    val votes = nn.join(lab, Seq("vec_id"))
      .groupBy(col("query_id"), col("__l").as("pred_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("pred_label").asc)
    votes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("pred_label"), col("votes"),
        round(col("votes").cast(DoubleType) / k, 6).as("vote_share"))
  }

  /** SEMANTIC dedup (the SemDeDup recipe): assign every vector to its
    * nearest centroid ([[nearestCells]]), compare pairs only WITHIN a
    * cell, and drop each vector that has a smaller-id neighbor at
    * rounded cosine ≥ tau. Returns the survivors as (id, cell).
    *
    * Scale shape: the centroid table is broadcast (assignment is an
    * O(N·K/parallelism) map), the pair join shuffles once on the cell
    * key, and candidate pairs are Σ|cell|²/2 — never corpus². At 100 TB
    * grow K with the corpus (K ≈ √N keeps the expected per-cell
    * quadratic flat) and feed the centroids from [[kmeansRefine]]
    * instead of fixed seeds.
    *
    * The cell-assignment subtree is deliberately RECOMPUTED for its
    * three consumers (pair-join both sides + survivor anti-join) rather
    * than persisted: assignment is a broadcast map over the corpus, and
    * at scale three cheap map passes beat pinning corpus-sized
    * (id, embedding, cell) blocks through the shuffle-heavy pair
    * stage — the opposite call from [[minHashNearDups]], whose cached
    * signature table is tiny relative to its recompute cost. */
  def semanticDedup(vecs: DataFrame, id: String, vec: String,
      centroids: DataFrame, cid: String, cvec: String,
      tau: Double, slices: Int = semDedupSlices): DataFrame = {
    require(slices >= 1, s"semanticDedup: slices must be >= 1, got $slices")
    // NOTE (r17, §1 negative result): spreading the vecs before this
    // crossJoin was A/B-measured at 30× — 22.97 s original vs 27.23 s
    // spread — because the wall is NOT the centroid scoring but the
    // within-cell pair join below (partitioned by `cell`, parallelism
    // bounded by cell count and skewed by the largest cell), and the
    // extra embedding exchange only added cost. Left as-is; the cell
    // skew is priced in OPTIMIZATION_r17.md's not-optimized list.
    val cells = nearestCells(vecs.select(col(id).as("__vid"),
        col(vec).as("__e")), "__vid", "__e", centroids, cid, cvec, probe = 1)
      .select(col("__vid"), col("__e"), col("__ccid").as("cell"))
    // GRID-DECOMPOSED within-cell pair join (r17, guide §2 "split hot
    // keys"): keyed on `cell` alone, the pair join's parallelism is
    // bounded by the CELL COUNT (K=8 in the registered query) and
    // skewed by the largest cell — measured at 30× as the whole
    // operator running at concurrency ~6.7 on 32 cores. Slice each row
    // by an id hash into S slices and join block (p, q), p ≤ q, on
    // (cell, p, q): the pair space of one cell splits into S(S+1)/2
    // independently-scheduled blocks at the cost of re-shuffling each
    // side ~(S+1)/2×. RESULT-IDENTICAL by construction: every
    // unordered within-cell pair {u, w} lands in at least one block
    // (the (min, max) of its two slices; a diagonal block p = q sees a
    // same-slice pair in both arrangements and keeps only __va < __vb),
    // qualification (rounded cosine ≥ tau) is symmetric, the emitted id
    // is greatest(va, vb) — exactly the `__vb` of the previous
    // `__va < __vb` form — and the DISTINCT collapses multiplicity.
    // S=1 degenerates to the unsalted join.
    val sliced = cells.withColumn("__s",
      pmod(xxhash64(col("__vid")), lit(slices)).cast("int"))
    val lhs = sliced
      .withColumn("__q", explode(expr(s"sequence(__s, ${slices - 1})")))
      .select(col("cell"), col("__s").as("__p"), col("__q"),
        col("__vid").as("__va"), col("__e").as("__ea"))
    val rhs = sliced
      .withColumn("__p", explode(expr("sequence(0, __s)")))
      .select(col("cell"), col("__p"), col("__s").as("__q"),
        col("__vid").as("__vb"), col("__e").as("__eb"))
    val dropped = lhs.join(rhs, Seq("cell", "__p", "__q"))
      .filter(col("__va") =!= col("__vb") &&
        ((col("__p") =!= col("__q")) || (col("__va") < col("__vb"))) &&
        cosine(col("__ea"), col("__eb")) >= lit(tau))
      .select(greatest(col("__va"), col("__vb")).as("__vid")).distinct()
    cells.join(dropped, Seq("__vid"), "left_anti")
      .select(col("__vid").as(id), col("cell"))
  }

  /** Slice count for [[semanticDedup]]'s grid-decomposed pair join
    * (`-Dgraft.semDedupSlices` overrides, ≥ 1). Sizing: the hot cell's
    * quadratic splits into S(S+1)/2 blocks while each side's shuffle
    * grows ~(S+1)/2× — S=8 turns one 8-cell join into 288 schedulable
    * blocks for a ~4.5× wider (but embedding-sized, not pair-sized)
    * exchange. */
  def semDedupSlices: Int = SemDedupSlices.value.toInt
  private[graft] val SemDedupSlices = Knob("semDedupSlices", 8, min = 1)

  /** SEMANTIC decontamination: flag every corpus vector whose rounded
    * cosine to ANY benchmark vector reaches `tau` — the embedding-space
    * analog of [[decontaminate]]'s n-gram overlap, catching the
    * paraphrased/translated eval leakage that no lexical gram can (the
    * reason modern pipelines run both). Returns
    * (id, n_bench_hits, max_cos) for contaminated vectors only.
    *
    * Scale shape: benchmark suites are FIXED-SIZE while the corpus
    * grows, so the benchmark side broadcasts and the corpus is scanned
    * once — a bounded crossJoin + per-row threshold + one partial-agg
    * groupBy on the id; never corpus×corpus. If the benchmark ever
    * outgrows a broadcast, bucket both sides with [[lshTopK]]'s code
    * family first (the q90g sketch-then-verify move in embedding
    * space). Cosines round through 6 decimals before the threshold and
    * the max, so both the flag and the reported score are
    * engine-stable. */
  def semanticDecontaminate(vecs: DataFrame, id: String, vec: String,
      isBenchmark: Column, tau: Double): DataFrame = {
    val bench = broadcast(vecs.filter(isBenchmark)
      .select(col(vec).as("__be")))
    vecs.filter(!isBenchmark)
      .select(col(id).as(id), col(vec).as("__e"))
      .crossJoin(bench)
      .select(col(id), cosine(col("__e"), col("__be")).as("__c"))
      .filter(col("__c") >= lit(tau))
      .groupBy(col(id))
      .agg(count(lit(1)).cast("int").as("n_bench_hits"),
        max(col("__c")).as("max_cos"))
  }

  /** Distributed LLOYD REFINEMENT (k-means on cosine assignment): run
    * `iters` rounds of assign-to-nearest-centroid → recompute centroids
    * as the per-cell per-dimension mean, starting from a seed centroid
    * table. Returns the final centroids exploded as (cell, dim,
    * centroid) — dim 1-based — the feed for [[semanticDedup]] /
    * IVF-ANN cell quality at scale (fixed seeds are only a bootstrap).
    *
    * Plan shape per round: the K-row centroid table is broadcast
    * (assignment is a map, no shuffle), and the update is ONE
    * partial-aggregated shuffle carrying (cell, dim) partial sums — the
    * same label×dims shape as the q92d centroid pass, with means routed
    * through DECIMAL(38,6) so partial-addition order cannot perturb the
    * result. A cell that loses every member disappears (both engines
    * agree by construction). The loop is driver-side but each round is
    * wholly distributed — no collect anywhere. */
  def kmeansRefine(vecs: DataFrame, id: String, vec: String,
      seeds: DataFrame, cid: String, cvec: String,
      iters: Int): DataFrame = {
    require(iters >= 1)
    val e = vecs.select(col(id).as("__vid"), col(vec).as("__e"))
    var cent = seeds.select(col(cid).as("__ccid"), col(cvec).as("__ce"))
    var perDim: DataFrame = null
    for (_ <- 1 to iters) {
      perDim = nearestCells(e, "__vid", "__e", cent, "__ccid", "__ce",
          probe = 1)
        .select(col("__ccid"), posexplode(col("__e")).as(Seq("__d", "__v")))
        .groupBy(col("__ccid"), (col("__d") + 1).cast("int").as("__dim"))
        .agg(graft.Canon.avgDec(col("__v").cast(DoubleType)).as("__c"))
      cent = perDim
        .groupBy(col("__ccid"))
        .agg(transform(
          array_sort(collect_list(struct(col("__dim"), col("__c")))),
          x => x.getField("__c")).as("__ce"))
    }
    perDim.select(col("__ccid").as("cell"), col("__dim").as("dim"),
      col("__c").as("centroid"))
  }

  /** Per-dimension EMBEDDING STANDARDIZATION (q92t) — z-score each
    * coordinate against the corpus-wide per-dim mean/σ (diagonal
    * whitening): the preprocessing step before cosine/PQ work when one
    * embedding dimension's scale dominates the rest (a common defect of
    * contrastively-trained encoders — rogue dimensions carry most of
    * the norm and drown the similarity signal; q92r's embedding audit
    * DETECTS that condition, this operator repairs it).
    *
    * Scale shape: the per-dim moment pass is a posexplode into a
    * groupBy(dim) — dims·rows exploded rows, but partial aggregation
    * collapses each partition to |dims| rows map-side, so the exchange
    * carries |dims|·partitions rows, never data. The |dims|-row stats
    * table comes back as a BROADCAST hash join keyed on the dim index,
    * so the rewrite never shuffles data rows. Output is SCALAR rows
    * (vec_id, d, zx) — the q36/q38 "arrays don't canonicalize" rule —
    * which also gives ragged/null inputs the oracle's semantics for
    * free: a short vector emits only its own dims, a null embedding
    * emits no rows (posexplode and unnest agree). Determinism: moments
    * ride the DECIMAL(38,6) grid (float→double widening is exact;
    * decimal addition order-free); mean/σ/z divide in double with one
    * pinned op order mirrored by the oracle; constant dims (σ=0) emit
    * z=0 by contract. */
  def standardizeEmbeddings(vecs: DataFrame, id: String,
      vec: String): DataFrame = {
    val ex = vecs.select(col(id).as("vec_id"),
        posexplode(col(vec)).as(Seq("d", "__xf")))
      .select(col("vec_id"), col("d"),
        col("__xf").cast(DoubleType).as("__x"))
    val stats = ex.groupBy(col("d").as("__sd")).agg(
      count(lit(1)).as("__n"),
      graft.Canon.sumDec(col("__x")).as("__sx"),
      graft.Canon.sumDec(col("__x") * col("__x")).as("__sxx"))
    val mean = col("__sx") / col("__n")
    val sd = sqrt(greatest(col("__sxx") / col("__n") -
      (col("__sx") / col("__n")) * (col("__sx") / col("__n")), lit(0.0)))
    ex.join(broadcast(stats.select(col("__sd"), mean.as("__m"),
        sd.as("__s"))), col("d") === col("__sd"))
      .select(col("vec_id"), col("d"),
        when(col("__s") > 0,
          round((col("__x") - col("__m")) / col("__s"), 6))
          .otherwise(lit(0.0)).as("zx"))
  }

  /** WHITENED exact top-k cosine — [[cosineTopK]] run in the per-dim
    * standardized space of [[standardizeEmbeddings]]: every coordinate
    * z-scored against the corpus-wide per-dim mean/σ BEFORE the cosine,
    * so one rogue high-variance dimension (the defect q92r's audit
    * detects and q92t repairs) cannot drown the similarity signal. The
    * search-side closure of that detect→repair loop: audit (q92r) →
    * standardize (q92t) → search HERE — what a retrieval deployment
    * actually runs once the audit fires.
    *
    * Plan: the same single moment-pass exchange as q92t (posexplode →
    * groupBy(dim), map-side partials), the |dims|-row stats packed into
    * ONE broadcast row, the rewrite a pure zip_with map (arrays stay
    * internal — the registered envelope rule only binds query OUTPUT),
    * then [[cosineTopK]]'s broadcast-queries scoring over the z-arrays
    * — the cosine_sim kernel runs natively on the ARRAY<DOUBLE> z
    * vectors. Determinism: the zx grid is the q92t-proven
    * DECIMAL-moment + round-6 grid, so both engines fold identical
    * doubles in identical order. */
  def whitenedCosineTopK(corpus: DataFrame, id: String, vec: String,
      isQuery: Column, k: Int): DataFrame = {
    val z = whitenedZ(corpus, id, vec, isQuery)
    cosineTopK(z, "vec_id", "__z",
      z.filter(col("__isq")), "vec_id", "__z", k)
  }

  /** Internal: the (vec_id, __isq, __z) standardized-vector table shared
    * by [[whitenedCosineTopK]] and [[whitenedLshTopKHyper]] — the q92t
    * per-dim z-scoring packed back into ARRAY<DOUBLE> rows via one
    * moment exchange + a 1-row stats broadcast (arrays stay INTERNAL;
    * the registered scalar-envelope rule binds query output only).
    *
    * FIXED-DIM GUARD (the q92t ADVICE class one layer down): zip_with
    * null-pads a vector SHORTER than the |dims|-wide stats array, and a
    * NULL embedding zips to a null array — either would feed nulls into
    * the cosine/sign kernels' trusted-equal-dims loops. Ragged/null
    * vectors still contribute their own coordinates to the per-dim
    * moments (the q92t standardization semantics), but only FULL-dim
    * vectors enter the search space — a fixed-dim kernel cannot score a
    * vector that has no value on some standardized axis. EngineSpec
    * pins the ragged+null probe. */
  private def whitenedZ(corpus: DataFrame, id: String, vec: String,
      isQuery: Column): DataFrame =
    zApply(corpus, col(id), vec, Seq(isQuery.as("__isq")),
        packStats(dimStats(corpus, vec)))
      .persistOnce()

  /** Internal: the q92t per-dim moments as a (d, m, σ) table — one
    * posexplode → groupBy(dim) exchange with map-side partials, the
    * DECIMAL(38,6) moment grid and the one pinned mean/σ op order the
    * oracles mirror. This is the table [[buildWhitenedHyperIndex]]
    * PERSISTS: standardization parameters are part of an index, not of
    * a query (see the train/serve-skew note there). */
  private def dimStats(corpus: DataFrame, vec: String): DataFrame = {
    val ex = corpus.select(posexplode(col(vec)).as(Seq("__d", "__xf")))
      .select(col("__d"), col("__xf").cast(DoubleType).as("__x"))
    val st = ex.groupBy(col("__d")).agg(
      count(lit(1)).as("__n"),
      graft.Canon.sumDec(col("__x")).as("__sx"),
      graft.Canon.sumDec(col("__x") * col("__x")).as("__sxx"))
    val mean = col("__sx") / col("__n")
    val sd = sqrt(greatest(col("__sxx") / col("__n") -
      (col("__sx") / col("__n")) * (col("__sx") / col("__n")), lit(0.0)))
    st.select(col("__d"), mean.as("__m"), sd.as("__s"))
  }

  /** Internal: the |dims|-row stats table packed into ONE broadcastable
    * row (d-sorted struct array) for the zip_with rewrite. */
  private def packStats(stats: DataFrame): DataFrame =
    stats.agg(array_sort(collect_list(struct(col("__d"), col("__m"),
      col("__s")))).as("__st"))

  /** Internal: z-score `vec` against a packed stats row — the shared
    * rewrite of [[whitenedZ]] (fresh stats) and
    * [[searchWhitenedHyperIndex]] (FROZEN stats read from the index).
    * Carries the fixed-dim guard: only non-null vectors of exactly the
    * stats width survive (see [[whitenedZ]]'s hazard note). Output is
    * (vec_id, <keep…>, __z). */
  private def zApply(df: DataFrame, id: Column, vec: String,
      keep: Seq[Column], packed: DataFrame): DataFrame =
    df.crossJoin(broadcast(packed))
      .filter(col(vec).isNotNull && size(col(vec)) === size(col("__st")))
      .select(id.as("vec_id") +: keep :+
        zip_with(col(vec), col("__st"), (x, s) =>
          when(s.getField("__s") > 0,
            round((x.cast(DoubleType) - s.getField("__m")) /
              s.getField("__s"), 6)).otherwise(lit(0.0))).as("__z"): _*)

  /** PERSISTED whitened hyperplane index — the q99g/q90m index-artifact
    * discipline applied to [[whitenedLshTopKHyper]], and the fix for
    * the TRAIN/SERVE SKEW that in-memory whitened search hides: the
    * per-dim mean/σ are TRAINING-time statistics, so they must be
    * FROZEN into the index and applied verbatim to every future query —
    * a serve path that re-derives moments from "corpus + today's
    * queries" (or worse, from the query batch alone) scores in a
    * drifting space and its buckets stop matching its ranking. Layout
    * under `indexPath`: `stats/` (the |dims|-row (d, mean, σ) table —
    * THE standardization contract, written once at build), `vecs/`
    * (vec_id, z — the standardized corpus for exact re-scoring), and
    * `buckets/` (vec_id, tbl, bucket — the probe table, written
    * tbl-partition-clustered and bucket-sorted for row-group skipping
    * on the probe join). The md5 hyperplane matrix is deterministic, so
    * (tables, bits, dims) are the only geometry to carry — they are the
    * caller's index contract, exactly like nprobe/centroids for q99g.
    * The corpus z vectors are derived from the PERSISTED stats read
    * back (parquet double roundtrip is exact), so index rows and future
    * query rows standardize through the identical frozen values. */
  def buildWhitenedHyperIndex(corpus: DataFrame, id: String, vec: String,
      indexPath: String, tables: Int = 8, bits: Int = 10,
      dims: Int = 64): Unit = {
    val ss = corpus.sparkSession
    dimStats(corpus, vec).coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/stats")
    val packed = packStats(ss.read.parquet(s"$indexPath/stats"))
    val z = zApply(corpus, col(id), vec, Nil, packed).persistOnce()
    // vecs/ and buckets/ are independent projections of the persisted z
    // — overlap them (guide §2.6); stats/ stays strictly first (z is
    // derived from the persisted stats by contract)
    Overlap.both(ss)(
    z.select(col("vec_id"), col("__z").as("z"))
      .write.mode("overwrite").parquet(s"$indexPath/vecs"),
    hyperBuckets(z, "vec_id", "__z", tables, bits, dims)
      .select(col("vec_id"), col("tbl"), col("bucket"))
      .repartition(col("tbl")).sortWithinPartitions("tbl", "bucket")
      .write.mode("overwrite").parquet(s"$indexPath/buckets")): Unit
  }

  /** Serve whitened top-k from a [[buildWhitenedHyperIndex]] artifact:
    * queries standardize through the index's FROZEN `stats/` (never
    * fresh moments — a query batch contributes nothing to the space it
    * is scored in), bucket through the same deterministic hyperplanes,
    * probe their bucket plus every Hamming-1 flip via one broadcast
    * equi-join on (tbl, bucket) against `buckets/`, and rank the
    * candidates by exact rounded cosine over the `vecs/` z rows. Same
    * geometry params as the build — the index contract. With queries
    * drawn from the indexed corpus this returns exactly what
    * [[whitenedLshTopKHyper]] returns over that corpus (EngineSpec pins
    * the equivalence); NEW query vectors are standardized with the
    * frozen moments, which is the point. */
  def searchWhitenedHyperIndex(queries: DataFrame, qid: String,
      qvec: String, indexPath: String, k: Int, tables: Int = 8,
      bits: Int = 10, dims: Int = 64): DataFrame = {
    val ss = queries.sparkSession
    val packed = packStats(ss.read.parquet(s"$indexPath/stats"))
    val zq = zApply(queries, col(qid), qvec, Nil, packed)
      .select(col("vec_id").as("query_id"), col("__z").as("__qz"))
    val probes = hamming1Probes(
      hyperBuckets(zq, "query_id", "__qz", tables, bits, dims), bits)
    val cands = ss.read.parquet(s"$indexPath/buckets")
      .join(broadcast(probes), Seq("tbl", "bucket"))
      .dropDuplicates("query_id", "vec_id")
    val scored = cands
      .join(ss.read.parquet(s"$indexPath/vecs"), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("__qz"), col("z")).as("cos_sim"))
    topKWithin(scored, "query_id",
        Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .select("query_id", "rnk", "vec_id", "cos_sim")
  }

  /** WHITENED hyperplane ANN — [[lshTopKHyper]] run over the
    * [[whitenedZ]] standardized vectors: the 100 TB SERVING shape of the
    * rogue-dimension loop (q92r detects the defect, q92t repairs it,
    * [[whitenedCosineTopK]] is the exact/oracle form, THIS is what a
    * retrieval deployment actually indexes once the audit fires —
    * brute-force whitened search re-scans the corpus per query; an
    * index must be built in the SAME space the queries are scored in,
    * or bucket geometry and ranking geometry disagree).
    *
    * Plan: one moment exchange + 1-row stats broadcast (the q92t
    * shape), then the q99f machinery unchanged — all tables·bits sign
    * projections in one fused SignProject codegen pass (the kernel
    * accepts the ARRAY<DOUBLE> z rows natively; zx is 6-dp
    * grid-exact, so its long fixed-point rounding is lossless and both
    * engines compute identical signs), in-row bucket assembly,
    * broadcast Hamming-≤1 probes, exact rounded-cosine re-rank of the
    * bucket-pruned candidates. Per-query work stays
    * O(tables·(bits+1)·N/2^bits); nothing all-pairs. */
  def whitenedLshTopKHyper(corpus: DataFrame, id: String, vec: String,
      isQuery: Column, k: Int, tables: Int = 8, bits: Int = 10,
      dims: Int = 64): DataFrame = {
    val z = whitenedZ(corpus, id, vec, isQuery)
    lshTopKHyper(z, "vec_id", "__z",
      z.filter(col("__isq")), "vec_id", "__z", k, tables, bits, dims)
  }

  /** WHITENED-INDEX STALENESS AUDIT (r16) — the q93x discipline applied
    * to [[buildWhitenedHyperIndex]]'s frozen moments: freezing per-dim
    * mean/σ at build time is what makes the serving space stable (the
    * train/serve-skew fix), but a standardization frozen over history
    * goes STALE as appended data drifts — the serve-time z space and
    * the space a fresh rebuild would rank in pull apart, and nothing
    * in the oracle gate can see it because each ranking is internally
    * consistent. Like BM25's stale-IDF audit (q93x), this prices the
    * approximation into a number per query: the top-k overlap between
    *
    *  - FROZEN serving — every vector (history, appends, queries)
    *    standardized through the moments of the `isHistory` slice
    *    only, exactly what [[searchWhitenedHyperIndex]] does with its
    *    persisted `stats/`; and
    *  - a FRESH REBUILD — the same search with moments re-derived
    *    over the full current corpus.
    *
    * Both rankings are the EXACT whitened search ([[cosineTopK]] over
    * the z rows) so the overlap isolates the moments' drift, never LSH
    * bucket noise. Output (query_id, n_common, overlap_ratio) — the
    * query universe is the full-dim `isQuery` rows, so a query whose
    * two rankings share nothing still reports (qid, 0, 0.0). The
    * overlap PRICES staleness — near 1.0 the frozen index still serves
    * the fresh geometry; a sustained drop says the append stream has
    * drifted the space and the index (stats, vecs and buckets — all
    * three derive from the moments) needs rebuilding. The gate that
    * ACTS on the price is [[whitenedRebuildDue]], which runs this
    * audit against a persisted index's own frozen `stats/` and
    * reduces it to one thresholded boolean row a pipeline can branch
    * on.
    * Plan: two moment exchanges + 1-row broadcasts, two broadcast-query
    * scoring passes, one k-row-per-query overlap join — nothing
    * all-pairs; at 100 TB the audit rides a sample of queries, not the
    * corpus. */
  def whitenedStalenessAudit(corpus: DataFrame, id: String, vec: String,
      isHistory: Column, isQuery: Column, k: Int): DataFrame = {
    require(k >= 1)
    val frozen = packStats(dimStats(corpus.filter(isHistory), vec))
    val fresh = packStats(dimStats(corpus, vec))
    def zOf(packed: DataFrame) =
      zApply(corpus, col(id), vec, Seq(isQuery.as("__isq")), packed)
        .persistOnce()
    def topOf(z: DataFrame) =
      cosineTopK(z, "vec_id", "__z", z.filter(col("__isq")),
        "vec_id", "__z", k).select(col("query_id"), col("vec_id"))
    val zF = zOf(frozen)
    val common = topOf(zF).join(topOf(zOf(fresh)),
        Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    // universe = the queries that actually searched (full-dim isQuery
    // rows — the zApply guard excludes ragged/null vectors from both
    // rankings identically)
    zF.filter(col("__isq")).select(col("vec_id").as("query_id"))
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast(DoubleType) /
          lit(k.toDouble), 6).as("overlap_ratio"))
  }

  /** REBUILD-DUE gate over a persisted [[buildWhitenedHyperIndex]]
    * artifact — the thin decision layer on top of
    * [[whitenedStalenessAudit]]'s price: standardize the CURRENT
    * corpus and query batch twice (through the index's own frozen
    * `stats/`, and through moments re-derived fresh over the corpus),
    * run the exact whitened top-k both ways, and reduce the per-query
    * top-k overlap to ONE boolean row a pipeline can branch on:
    * (n_queries, mean_overlap, min_overlap, rebuild_due) with
    * rebuild_due ⟺ mean overlap STRICTLY below `minOverlap` (an
    * overlap exactly at the threshold still serves — EngineSpec pins
    * the boundary). The comparison runs on the exact rational
    * Σ n_common < minOverlap · k · n_queries, never the rounded
    * display column. Queries that fail the fixed-dim guard against
    * the frozen stats are excluded from the universe (they cannot be
    * served by the index at all); an empty surviving query batch
    * reports rebuild_due = false — no evidence is not drift. Cost is
    * the audit's: two moment passes + two bounded-query exact
    * searches; at 100 TB the gate rides a query SAMPLE, and its row
    * is cheap enough to run per append slot. */
  def whitenedRebuildDue(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, indexPath: String,
      k: Int, minOverlap: Double): DataFrame = {
    require(k >= 1 && minOverlap >= 0.0 && minOverlap <= 1.0,
      s"whitenedRebuildDue(k=$k, minOverlap=$minOverlap)")
    val ss = corpus.sparkSession
    val frozen = packStats(ss.read.parquet(s"$indexPath/stats"))
    val fresh = packStats(dimStats(corpus, vec))
    def topOf(packed: DataFrame) = {
      val z = zApply(corpus, col(id), vec, Nil, packed).persistOnce()
      val zq = zApply(queries, col(qid), qvec, Nil, packed)
      cosineTopK(z, "vec_id", "__z", zq, "vec_id", "__z", k)
        .select(col("query_id"), col("vec_id"))
    }
    val total = topOf(frozen)
      .join(topOf(fresh), Seq("query_id", "vec_id"))
      .agg(count(lit(1)).as("__c"))
    val nq = zApply(queries, col(qid), qvec, Nil, frozen)
      .select(col("vec_id")).distinct().agg(count(lit(1)).as("__q"))
    total.crossJoin(nq).select(
      col("__q").as("n_queries"),
      // ANSI-safe: an empty surviving query batch has no mean (NULL),
      // and the boolean below is false through the same guard
      when(col("__q") > 0,
        round(col("__c").cast(DoubleType) /
          (col("__q") * lit(k.toLong)).cast(DoubleType), 6))
        .as("mean_overlap"),
      lit(minOverlap).as("min_overlap"),
      (col("__q") > 0 && col("__c").cast(DoubleType) <
        lit(minOverlap) * (col("__q") * lit(k.toLong)).cast(DoubleType))
        .as("rebuild_due"))
  }

  /** Contrastive HARD-NEGATIVE mining: for each query vector, the k most
    * similar corpus vectors carrying a DIFFERENT label — the batch-prep
    * pass for contrastive/embedding training (the best negatives are the
    * near-misses, not random draws). Same plan as [[cosineTopK]] (the
    * bounded query set broadcasts; scoring via the codegen cosine
    * expression) with the label-mismatch filter applied BEFORE ranking;
    * the bucketed-ANN cutover composes identically for unbounded query
    * sets. Deterministic (cos DESC, id ASC) tie-break. */
  def hardNegatives(corpus: DataFrame, id: String, vec: String,
      label: String, queries: DataFrame, qid: String, qvec: String,
      qlabel: String, k: Int): DataFrame = {
    val scored = corpus
      .select(col(id).as("vec_id"), col(vec).as("__e"), col(label).as("__l"))
      .crossJoin(broadcast(queries.select(col(qid).as("query_id"),
        col(qvec).as("__qe"), col(qlabel).as("__ql"))))
      .filter(col("__l") =!= col("__ql"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("__qe"), col("__e")).as("cos_sim"))
    topKWithin(scored, "query_id",
        Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .select("query_id", "rnk", "vec_id", "cos_sim")
  }

  /** Backward as-of match in a single window pass (the scale-safe form of
    * q26 — no join, no candidate explosion under skew): rows where
    * `isTarget` holds are matched to the most recent NON-target row of
    * the same key at or before their timestamp. Null-timestamp source
    * rows are dropped (they can never satisfy ts ≤ target-ts); ties at
    * equal ts resolve source-before-target, then max id — identical to
    * the naive join + row_number formulation (AlgebraProps proves it).
    * Returns (p_id, p_ts, c_id, c_ts); unmatched targets keep NULLs.
    */
  def asOfMatch(events: DataFrame, key: String, ts: String, id: String,
      isTarget: Column): DataFrame = {
    // Null-ts/null-key SOURCE rows can never be a candidate under the
    // equi-join semantics this window replaces (`c.key = p.key AND
    // c.ts <= p.ts` is never true through NULL), so drop them before
    // the window — otherwise all null keys pool into one partition and
    // null-keyed targets would match null-keyed sources. Targets stay
    // unconditionally (the LEFT JOIN keeps them, with NULL candidates).
    val ev = events
      .filter(isTarget || (col(ts).isNotNull && col(key).isNotNull))
      .select(col(key).as("__k"), col(ts).as("__ts"), col(id).as("__id"),
        isTarget.as("__t"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__t").asc, col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastSrc = last(
      when(!col("__t"),
        struct(col("__ts").as("c_ts"), col("__id").as("c_id"))),
      ignoreNulls = true).over(w)
    ev.withColumn("__lc", lastSrc)
      .filter(col("__t"))
      .select(col("__id").as("p_id"), col("__ts").as("p_ts"),
        col("__lc.c_id").as("c_id"), col("__lc.c_ts").as("c_ts"))
  }

  /** NEAREST-in-time match — [[asOfMatch]]'s two-sided sibling: each
    * target row matches the temporally CLOSEST non-target row of its
    * key, before or after (sensor fusion / log alignment, where the
    * best reading may follow the probe). Same join-free single-window
    * plan: one exchange + one sort on (key, ts, src-before-target, id),
    * with the backward running-last and forward running-first taken
    * from the two frame directions of the SAME sort — never the naive
    * per-target candidate join, which explodes under hot keys. Ties:
    * equal-ts sources count as "before" (Δ = 0, max id — [[asOfMatch]]'s
    * convention); equal backward/forward distance prefers the earlier
    * (backward) candidate; the forward side takes min id. Distances are
    * integer microseconds (exact in both engines). Returns
    * (p_id, p_ts, c_id, c_ts, delta_us); targets with no candidate on
    * either side keep NULLs. Null-timestamp rows are dropped (no
    * distance is defined for them), and so are NULL-key SOURCE rows —
    * the window would otherwise pool all null keys into one partition
    * and let null-keyed targets match null-keyed sources, which
    * diverges from the equi-join semantics (`s.key = t.key` never
    * matches NULL) that this operator replaces. Null-key TARGETS stay,
    * with NULL candidates — the equi-join's LEFT JOIN keeps them too. */
  def nearestMatch(events: DataFrame, key: String, ts: String, id: String,
      isTarget: Column): DataFrame = {
    val ev = events
      .filter(col(ts).isNotNull && (isTarget || col(key).isNotNull))
      .select(col(key).as("__k"), col(ts).as("__ts"), col(id).as("__id"),
        isTarget.as("__t"))
    val base = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__t").asc, col("__id").asc)
    val wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val src = when(!col("__t"),
      struct(col("__ts").as("c_ts"), col("__id").as("c_id")))
    val withPn = ev
      .withColumn("__pv", last(src, ignoreNulls = true).over(wb))
      .withColumn("__nx", first(src, ignoreNulls = true).over(wf))
      .filter(col("__t"))
    val db = unix_micros(col("__ts")) - unix_micros(col("__pv.c_ts"))
    val df = unix_micros(col("__nx.c_ts")) - unix_micros(col("__ts"))
    val chosen = when(col("__pv").isNull, col("__nx"))
      .when(col("__nx").isNull, col("__pv"))
      .when(db <= df, col("__pv"))
      .otherwise(col("__nx"))
    withPn.withColumn("__c", chosen)
      .select(col("__id").as("p_id"), col("__ts").as("p_ts"),
        col("__c.c_id").as("c_id"), col("__c.c_ts").as("c_ts"),
        abs(unix_micros(col("__ts")) - unix_micros(col("__c.c_ts")))
          .as("delta_us"))
  }

  /** Per-row count of rows with a strictly greater value — the scale-safe
    * form of the q24 theta join, with no NLJ and no GLOBAL window. Two
    * levels: (1) aggregate to one row per distinct value (the theta join's
    * quadratic blow-up dies here); (2) equi-width-bucket the value domain
    * and run the prefix sum WITHIN each bucket — a partitioned window, so
    * the exchange is hash, not single-partition; (3) cross-bucket suffix
    * totals are ≤ `buckets` scalars — they ship to the driver once (the
    * same bounded collect as range partitioning's boundary sampling,
    * never the data path) and come back as a literal lookup map. Rows
    * with a NULL value get 0, mirroring SQL `>` three-valued logic.
    * Bucketing casts to double for RANGE assignment only; grouping and
    * comparison stay on the exact value, so decimals lose nothing. */
  def withCountGreater(df: DataFrame, value: Column,
      as: String = "n_greater", buckets: Int = 256): DataFrame = {
    require(buckets >= 1)
    val byVal = df.filter(value.isNotNull)
      .groupBy(value.as("__v")).agg(count(lit(1)).as("__cnt"))
    val bounds = byVal.agg(min(col("__v").cast(DoubleType)),
      max(col("__v").cast(DoubleType))).head()
    if (bounds.isNullAt(0)) return df.withColumn(as, lit(0L))
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val width = math.max((hi - lo) / buckets, java.lang.Double.MIN_NORMAL)
    def bucketOf(c: Column): Column = least(
      floor((c.cast(DoubleType) - lit(lo)) / lit(width)),
      lit(buckets - 1)).cast("int")
    val bucketed = byVal.withColumn("__b",
      coalesce(bucketOf(col("__v")), lit(buckets - 1))) // NaN → top bucket
    val totals = bucketed.groupBy("__b").agg(sum("__cnt").as("__bt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val above = totals.map { case (b, _) =>
      b -> totals.collect { case (b2, t) if b2 > b => t }.sum
    }
    val w = Window.partitionBy(col("__b")).orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val perVal = bucketed
      .withColumn("__local", coalesce(sum(col("__cnt")).over(w), lit(0L)))
      .select(col("__v"), (col("__local") +
        coalesce(element_at(typedLit(above), col("__b")), lit(0L))).as(as))
    df.join(perVal, value === col("__v"), "left")
      .withColumn(as, coalesce(col(as), lit(0L)))
      .drop("__v")
  }

  /** Reproducible hash sample: keeps rows whose md5-derived 16-bit value
    * falls below `pct`% of the 2^16 range — stable across engines, reruns
    * and repartitioning (Spark's sample() is neither). Thresholding the
    * raw hash (v·100 < pct·65536, exact integer arithmetic) instead of
    * `v % 100 < pct` avoids the 65536-mod-100 bucket-skew where residues
    * 0–35 were systematically over-represented. */
  def stableSample(key: Column, pct: Int): Column = {
    require(pct >= 0 && pct <= 100)
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
      .cast("int") * 100 < pct * 65536
  }

  /** Chunk-level exact dedup across the corpus — the line/paragraph
    * dedup pass of CCNet/RefinedWeb-style curation, over fixed-size word
    * windows (this corpus has no newlines; with newline-delimited text,
    * pass the lines as chunks instead). Splits each document into
    * consecutive `chunkWords`-word chunks, keeps only the FIRST
    * occurrence of each distinct chunk corpus-wide (ordered by
    * (id, position)), and reassembles the surviving chunks in document
    * order. Returns (id, total_chunks, kept_chunks, text_dedup) — docs
    * whose every chunk was seen earlier survive with text_dedup = ''.
    *
    * Scale shape: first-occurrence is min(struct(id, pos)) per chunk — a
    * hash AGGREGATE with map-side combine, so a boilerplate chunk
    * repeated 10^6 times contributes one partial per task, not 10^6 rows
    * on one reducer (the naive window-over-chunk form cannot be split
    * and dies on exactly those hot chunks). The join back on chunk is an
    * equi-join AQE's skew splitting can handle; reassembly is one
    * groupBy on the doc id. Never doc×doc. */
  def dedupChunks(df: DataFrame, id: String, text: String,
      chunkWords: Int = 5): DataFrame = {
    require(chunkWords >= 1)
    val chunked = df
      .withColumn("__w", split(col(text), " "))
      .filter(size(col("__w")) >= 1)
      .select(col(id).as("__id"),
        posexplode(expr(
          s"transform(sequence(0, (size(__w) - 1) div $chunkWords), " +
            s"i -> array_join(slice(__w, CAST(i * $chunkWords + 1 AS INT), " +
            s"$chunkWords), ' '))")).as(Seq("__pos", "__chunk")))
    val firsts = chunked.groupBy("__chunk")
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
    chunked.join(firsts, Seq("__chunk"))
      .withColumn("__keep",
        struct(col("__id"), col("__pos")) === col("__first"))
      .groupBy(col("__id").as(id))
      .agg(count(lit(1)).cast("int").as("total_chunks"),
        sum(when(col("__keep"), 1).otherwise(0)).cast("int")
          .as("kept_chunks"),
        array_join(transform(array_sort(collect_list(
          when(col("__keep"), struct(col("__pos"), col("__chunk"))))),
          s => s.getField("__chunk")), " ").as("text_dedup"))
  }

  /** Greedy-by-cumsum sequence PACKING: assign documents to fixed-budget
    * context windows ("sequences") of `capTokens` tokens, the batch-prep
    * pass between curation and training. Documents pack in (shard, id)
    * order; a document lands in the sequence where its running token
    * count STARTS (the chunked-packing approximation — a document may
    * straddle its sequence boundary rather than open a fresh one, which
    * is what packers that split-and-concatenate do anyway). Returns one
    * row per (shard, seq_id): n_docs, n_tokens.
    *
    * Scale shape: the running sum is a window PARTITIONED BY the shard
    * column — real pipelines pack per input shard, and that is also what
    * keeps this off the single-partition global-window cliff; shards
    * pack independently, so the plan is one hash exchange on shard. */
  def packSequences(df: DataFrame, shard: Column, id: Column,
      nTokens: Column, capTokens: Int): DataFrame = {
    require(capTokens >= 1)
    val w = Window.partitionBy(col("shard")).orderBy(col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(shard.as("shard"), id.as("__id"),
        nTokens.cast("long").as("__nt"))
      .withColumn("__start", sum(col("__nt")).over(w) - col("__nt"))
      .withColumn("seq_id",
        expr(s"__start div $capTokens").cast("int")) // exact integer div
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("__nt")).as("n_tokens"))
  }

  /** Deterministic GLOBAL SHUFFLE + SHARDING for training export: every
    * row gets a shard (`md5(seed:key) mod shards`) and a position within
    * its shard (rank of the same hash, key tiebreak) — the
    * write-training-shards pass between packing and the trainer, where
    * example order must be random-looking, reproducible bit-for-bit
    * across reruns/engines/partitioning (Spark's orderBy(rand()) is
    * none of those), and stable under corpus growth (a new doc lands in
    * its hash position without renumbering other shards).
    *
    * Plan shape: ONE hash exchange on the shard id plus a per-shard
    * sort — exactly the physical layout the export needs to write
    * shard files, so the shuffle is the work, not overhead. There is
    * deliberately NO global order: a total order would funnel the
    * corpus through a range exchange; per-shard positions give the
    * same training-time randomness at 1/shards the sort width. At
    * 100 TB size `shards` so a shard fits an executor's sort buffer
    * (shards ≈ corpus/256 MB); the md5 keys are uniform, so shards
    * balance without salting. */
  def shardShuffle(df: DataFrame, key: Column, seed: String,
      shards: Int): DataFrame = {
    require(shards >= 1)
    val h = conv(substring(md5(concat(lit(s"$seed:"),
      key.cast("string"))), 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h").asc, key.asc)
    df.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(shards)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("__h")
  }

  /** Stratified [[stableSample]]: the per-stratum rate arrives as a
    * COLUMN (joined from a tiny rates dim), so one pass samples every
    * stratum at its own rate — the language/domain rebalancing pass of
    * corpus curation. Same hash discipline as [[stableSample]]:
    * reproducible across engines, reruns and partitioning. */
  def stableSample(key: Column, pctCol: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
      .cast("int") * 100 < pctCol * 65536

  /** TEMPERATURE-rebalanced mixture sampling at α = 0.5 (the
    * multilingual-LM recipe: stratum i keeps expected
    * `target · √nᵢ / Σⱼ√nⱼ` rows, flattening head strata and
    * up-weighting the tail). α is fixed at 0.5 because sqrt is the one
    * power IEEE requires to be exactly rounded — `pow(x, α)` is only
    * 1-ulp-correct and may differ between engines, which would make the
    * per-mille thresholds non-reproducible. The √-sum routes through
    * DECIMAL(38,6) so partial-addition order cannot perturb it.
    *
    * Plan: one partial-aggregated stratum count, a 1-row √-sum
    * broadcast, a tiny rates dim broadcast back onto the corpus, then
    * the [[stableSample]] md5-threshold — one corpus pass, no collect,
    * reproducible across engines/reruns/partitioning. Returns the kept
    * rows of `df`. */
  def temperatureMix(df: DataFrame, key: Column, stratum: String,
      target: Double): DataFrame = {
    val counts = df.groupBy(col(stratum)).agg(count(lit(1)).as("__n"))
    val tot = counts.agg(
      sum(sqrt(col("__n")).cast(org.apache.spark.sql.types
        .DecimalType(38, 6))).cast(DoubleType).as("__S"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col(stratum),
        least(lit(1.0),
          lit(target) * sqrt(col("__n")) / col("__S") / col("__n"))
          .as("__r"))
    df.join(broadcast(rates), Seq(stratum))
      .filter(conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
        .cast("int") < floor(col("__r") * 65536).cast("int"))
      .drop("__r")
  }

  /** Batch sessionization: cut per-key sessions at inactivity gaps longer
    * than `gapSeconds`, via the lag + running-sum assignment. `tie` must
    * make (ts, tie) a total order within a key — without it, tied
    * timestamps would make session indexes partition-order-dependent.
    * Returns one row per (key, session_idx) with session_start /
    * session_end / n_events. The whole operator is ONE shuffle on `key`:
    * both windows and the final aggregate reuse the same partitioning
    * (asserted in PlanSpec), which is the non-negotiable shape at scale —
    * sessionization over 100 TB of events must not pay a second exchange
    * for the aggregate. */
  def sessionize(df: DataFrame, key: Column, ts: Column, tie: Column,
      gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0)
    val w = Window.partitionBy(key).orderBy(ts.asc, tie.asc)
    val wRun = Window.partitionBy(key).orderBy(ts.asc, tie.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__new_s",
        when(lag(ts, 1).over(w).isNull ||
          ts.cast("long") - lag(ts, 1).over(w).cast("long") > gapSeconds, 1)
          .otherwise(0))
      .withColumn("__sidx", sum(col("__new_s")).over(wRun).cast("int"))
      .groupBy(key.as("key"), col("__sidx").as("session_idx"))
      .agg(min(ts).as("session_start"), max(ts).as("session_end"),
        count(lit(1)).cast("int").as("n_events"))
  }

  /** Dense per-slot series with linear interpolation over gaps: bucket
    * `ts` into `slotSeconds` slots, aggregate `value` per (key, slot)
    * with the exact-decimal mean, generate the full slot spine from the
    * observed range × distinct keys, and fill empty slots by linear
    * interpolation between the bracketing non-empty slots (edge gaps take
    * the nearest value). Returns (wstart, key, filled, value_filled).
    * Work after the one per-slot aggregate is O(spine) — the spine is
    * (range/slot)×|keys| rows regardless of input volume, so the fill
    * pass costs the same at 100 TB as at a megabyte. */
  def gapFill(df: DataFrame, key: Column, ts: Column, value: Column,
      slotSeconds: Long): DataFrame = {
    require(slotSeconds > 0)
    val slotOf = (c: Column) =>
      timestamp_seconds(floor(unix_timestamp(c) / slotSeconds) * slotSeconds)
    val bounds = df.agg(slotOf(min(ts)).as("lo"), slotOf(max(ts)).as("hi"))
    val spine = slotSpine(bounds, slotSeconds)
      .crossJoin(df.select(key.as("key")).distinct())
    val agg = df.groupBy(slotOf(ts).as("wstart"), key.as("key"))
      .agg(Canon.avgDec(value).as("v"))
    val wp = Window.partitionBy(col("key")).orderBy(col("wstart"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col("key")).orderBy(col("wstart"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val marked = spine.join(agg, Seq("wstart", "key"), "left")
      .withColumn("__pv", last(col("v"), ignoreNulls = true).over(wp))
      .withColumn("__pt", last(when(col("v").isNotNull, col("wstart")),
        ignoreNulls = true).over(wp))
      .withColumn("__nv", first(col("v"), ignoreNulls = true).over(wn))
      .withColumn("__nt", first(when(col("v").isNotNull, col("wstart")),
        ignoreNulls = true).over(wn))
    val frac = (unix_timestamp(col("wstart")) - unix_timestamp(col("__pt")))
      .cast(DoubleType) /
      (unix_timestamp(col("__nt")) - unix_timestamp(col("__pt")))
        .cast(DoubleType)
    marked.select(col("wstart"), col("key"), col("v").isNull.as("filled"),
      round(when(col("v").isNotNull, col("v"))
        .when(col("__pv").isNull, col("__nv"))
        .when(col("__nv").isNull, col("__pv"))
        .otherwise(col("__pv") + (col("__nv") - col("__pv")) * frac), 6)
        .as("value_filled"))
  }

  /** Distributed slot spine over the CLOSED range [lo, hi] of a one-row
    * bounds frame, stepping `slotSeconds` — WITHOUT ever materializing the
    * whole range as one in-row array. A one-shot
    * `explode(sequence(lo, hi))` builds the entire spine inside a single
    * row before the explode (a multi-year 1-second spine is 3·10⁷ array
    * entries in one task); here a first explode emits day-sized CHUNK
    * anchors, a repartition spreads them, and a second explode emits each
    * chunk's ≤ chunkSeconds/slotSeconds entries — the per-task array is a
    * constant whatever the range. Chunking happens in slot-INDEX space
    * (k = 0..(hi−lo)/slot), so any phase/step combination stays exact.
    * Equivalence to the one-shot form is an AlgebraProps law; the
    * two-Generate shape is asserted in PlanSpec. Returns one `wstart`
    * TIMESTAMP column. */
  def slotSpine(bounds: DataFrame, slotSeconds: Long,
      chunkSeconds: Long = 86400L): DataFrame = {
    require(slotSeconds > 0 && chunkSeconds >= slotSeconds)
    val perChunk = chunkSeconds / slotSeconds // slots per chunk
    // integer k-arithmetic via `div`; magnitudes (< 2^35 for a millennium
    // of 1-second slots) are nowhere near any precision edge
    bounds
      .select(unix_timestamp(col("lo")).as("__lo"),
        expr(s"(unix_timestamp(hi) - unix_timestamp(lo)) div $slotSeconds")
          .as("__lastk"))
      .select(col("__lo"), col("__lastk"),
        explode(sequence(lit(0L), expr(s"__lastk div $perChunk")))
          .as("__chunk"))
      .repartition(col("__chunk"))
      .select(col("__lo"),
        explode(sequence(col("__chunk") * perChunk,
          least((col("__chunk") + 1) * perChunk - 1, col("__lastk"))))
          .as("__k"))
      .select(timestamp_seconds(col("__lo") + col("__k") * slotSeconds)
        .as("wstart"))
  }

  /** Z-ORDER key: interleaves the low `bits` bits of two non-negative
    * integer columns (a on even positions, b on odd), so sorting by the
    * result clusters rows that are close in BOTH dimensions into the
    * same files. Parquet keeps per-file/row-group min-max stats per
    * column; under a z-ordered layout a 2-D box predicate overlaps few
    * files' [min,max] ranges in EITHER dimension — a linear sort prunes
    * on its one sort column only and reads everything for a filter on
    * the other (EngineSpec measures exactly this). Skewed or sparse
    * domains should be rank-compacted before interleaving; TPC-H-style
    * dense surrogate keys are already the ideal input.
    *
    * CONTRACT: inputs must be non-negative and < 2^bits. Bits above
    * `bits` are DROPPED — keys 2^bits apart alias to the same z-key, so
    * clustering quality (never correctness: readers re-filter) silently
    * degrades past the range. Size `bits` to ceil(log2(max key + 1)), or
    * dense_rank-compact first when the domain is sparse/unbounded. */
  def zOrderKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31)
    (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(a.cast("long"), i).bitwiseAND(1), 2 * i),
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** RE-GRID of a tiled raster by nearest-neighbour resampling — the
    * reference's world-grid resample (`utils/conversion.py:15-17` maps a
    * satellite scene onto the 0.035° global grid) as a registered
    * relational operator instead of an analogy. Input: one row per TILE
    * — an anchor (`r0`, `c0`) on the source grid plus a row-major
    * `tileW`×`tileH` pixel array. Output: one row per covered TARGET
    * cell (`factor`× coarser), valued by the source pixel whose center
    * is nearest the target cell's center (ties: smaller (r, c), then
    * smaller tile id — a total order, so the result is deterministic
    * even when tiles overlap).
    *
    * Plan shape (the 100 TB contract): pixels posexplode WITHIN the
    * row — no join, no per-pixel shuffle key until the groupBy — and
    * the nearest-pixel argmin is `min(struct(d², r, c, id, v))`, which
    * Spark partial-aggregates map-side: the ONE hash exchange on the
    * target cell key carries at most (partitions × covered cells)
    * candidate structs, not pixels. Distances are integer quarter-units
    * (2·coord vs 2·center = factor·(2t)+factor−1), so the argmin is
    * exact arithmetic in any engine — no FP epsilon in the tie
    * structure. */
  def regridNearest(tiles: DataFrame, id: Column, r0: Column, c0: Column,
      px: Column, tileW: Int, tileH: Int, factor: Int): DataFrame = {
    require(tileW >= 1 && tileH >= 1 && factor >= 1)
    // Exact INTEGER grid math end to end (Spark's `/` is a DOUBLE
    // divide). Cell assignment uses FLOOR division via pmod — Spark's
    // `div` truncates toward zero, so a tile anchored at a negative
    // coordinate would bucket pixel −1 into cell 0 while a floor-div
    // engine (DuckDB `//`, numpy) puts it in cell −1; pmod keeps the
    // two semantics identical on any anchor sign.
    // DIMENSION CONTRACT (the pqBlockDistances discipline): every tile
    // must carry exactly tileW·tileH pixels — a long array would emit
    // phantom rows that contaminate neighboring cells' argmin, a short
    // one silently drops coverage; both raise instead.
    val want = tileW * tileH
    val guardedPx = when(size(px) === lit(want), px)
      .otherwise(raise_error(concat(
        lit(s"regrid tile must carry $want px (tileW=$tileW × " +
          s"tileH=$tileH), got "), size(px).cast(StringType))))
    // `(c - pmod(c, d)) div d`: the numerator is an exact multiple of
    // d, so truncating div IS floor div — all in integer types.
    val pixels = tiles.select(id.as("__id"), r0.as("__r0"), c0.as("__c0"),
        posexplode(guardedPx).as(Seq("__i", "__v")))
      .withColumn("__r", col("__r0") + expr(s"__i div $tileW"))
      .withColumn("__c", col("__c0") + col("__i") % tileW)
    regridNearestPixels(pixels, Seq.empty, factor)
  }

  /** The argmin half of [[regridNearest]] over an ALREADY-EXPLODED pixel
    * table — for inputs the fixed-size tile form can't express
    * (variable-geometry multiband rasters, the q94h capstone). Input
    * columns: `keys` (carried through as extra grouping columns — e.g.
    * (layer, band)) plus `__r`/`__c`/`__id`/`__v`. Same exact-integer
    * quarter-unit distance, same total tie order, same single hash
    * exchange on (keys, target cell). */
  def regridNearestPixels(pixels: DataFrame, keys: Seq[String],
      factor: Int): DataFrame = {
    require(factor >= 1)
    val px = pixels
      .withColumn("__tr", expr(s"(__r - pmod(__r, $factor)) div $factor"))
      .withColumn("__tc", expr(s"(__c - pmod(__c, $factor)) div $factor"))
    def d2(coord: String, cell: String) = {
      val d = col(coord) * 2 - (col(cell) * (2 * factor) + lit(factor - 1))
      d * d
    }
    px.groupBy(keys.map(col) ++ Seq(col("__tr").as("cell_row"),
        col("__tc").as("cell_col")): _*)
      .agg(min(struct(
        (d2("__r", "__tr") + d2("__c", "__tc")).as("d2"),
        col("__r").as("r"), col("__c").as("c"), col("__id").as("id"),
        col("__v").as("v"))).getField("v").as("value"))
  }

  /** RETENTION VACUUM over a partitioned layout: delete every
    * `partitionCol=value` directory whose value sorts strictly below
    * `cutoff` (lexicographic — exact for the ISO-date/zero-padded slot
    * values partitioned layouts use). Returns the kept partition
    * values, sorted. The third layout-maintenance primitive next to
    * [[compact]] and [[zOrderKey]]: retention is how a 100 TB store
    * stays 100 TB — and a compliance requirement, not an optimization.
    *
    * Hadoop FileSystem API, not java.io — the identical call runs
    * against HDFS/S3A on a cluster. Deletion is per-partition-DIRECTORY
    * (the recursive delete of one slot), so a concurrent reader sees
    * each partition wholly present or wholly gone — partition-granular
    * atomicity, the retention-job contract; never file-by-file inside
    * a live partition. Driver-side listing is O(|partitions|), which a
    * partitioned layout bounds by design (slots, not rows). */
  def vacuumPartitions(spark: org.apache.spark.sql.SparkSession,
      path: String, partitionCol: String, cutoff: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$partitionCol="
    val parts = fs.listStatus(root)
      .filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
    // Compare the partition VALUE, not the directory name: the writer
    // Hive-escapes special characters (`:` → %3A etc.), and the escaped
    // form sorts differently — a cutoff comparison on raw names would
    // silently mis-order any value the writer escaped. A null partition
    // (__HIVE_DEFAULT_PARTITION__) has no place in a value order at
    // all: refuse loudly rather than silently retain it forever.
    def valueOf(name: String): String = {
      val raw = name.stripPrefix(prefix)
      require(raw !=
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME,
        s"vacuumPartitions: null partition '$name' cannot be ordered " +
          s"against cutoff '$cutoff' — clean it explicitly")
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(raw)
    }
    val (drop, keep) = parts.partition(p => valueOf(p.getName) < cutoff)
    drop.foreach(d => fs.delete(d, true))
    keep.map(p => valueOf(p.getName)).toSeq.sorted
  }

  /** Small-file COMPACTION for a partitioned parquet layout — the
    * maintenance pass every long-running partitioned sink needs (the
    * slot pipeline emits one file per task per tick; a year of 15-min
    * slots at fleet parallelism is millions of small files, and scan
    * cost at 100 TB is dominated by file-open overhead once files drop
    * below the HDFS/S3 block size). Rewrites `inPath` to `outPath` with
    * each partition VALUE coalesced into exactly one task's output: a
    * hash repartition on the partition columns sends every value to one
    * task, and the partitioned writer splits per value, so the output is
    * one file per partition value. Content is untouched — the companion
    * query's oracle proves the round-trip, SourcesSpec proves the file
    * counts. */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "compact targets a partitioned layout")
    spark.read.parquet(inPath)
      .repartition(partitionCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*).parquet(outPath)
  }

  /** Benchmark decontamination: documents (rows where `isBenchmark` is
    * false) that share at least one distinct `n`-word n-gram with the
    * benchmark set (rows where it is true). Returns (doc_id,
    * n_shared_grams). The benchmark gram set is distinct and fixed-size
    * relative to a growing corpus, so the join is broadcastable; work is
    * O(corpus grams), never corpus × benchmark. */
  def decontaminate(df: DataFrame, id: Column, text: Column,
      isBenchmark: Column, n: Int = 8): DataFrame = {
    require(n >= 1)
    val grams = df
      .withColumn("__w", split(text, " "))
      .select(id.as("doc_id"), isBenchmark.as("__bench"),
        explode(wordNgrams(col("__w"), n)).as("__g"))
    val bench = grams.filter(col("__bench")).select("__g").distinct()
    grams.filter(!col("__bench"))
      .join(bench, Seq("__g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_shared_grams"))
  }

  /** [[decontaminate]] behind a BLOOM prefilter — the sketch-then-verify
    * form: the benchmark n-gram set aggregates into ONE Bloom sketch
    * (Spark's own `BloomFilterAggregate`, the q20c runtime-filter
    * machinery invoked explicitly), the corpus grams are prefiltered by
    * codegen'd `might_contain`, and only survivors reach the exact
    * semi-join verify. Bloom filters have no false negatives, so the
    * result is IDENTICAL to [[decontaminate]] (EngineSpec asserts it);
    * false positives only cost verify work (`numBits` sizes that rate).
    *
    * At 100 TB this is the plan that wins when the benchmark set is too
    * big to broadcast as an exact hash set but its sketch is not: the
    * corpus-sized gram stream drops to the contaminated sliver BEFORE
    * the join. The one driver materialization is the serialized sketch
    * (`numBits`/8 bytes, bounded by construction — the same bounded-
    * scalar class as [[withCountGreater]]), embedded as a binary
    * literal exactly as Spark's runtime-filter rewrite ships it. */
  def decontaminateBloom(df: DataFrame, id: Column, text: Column,
      isBenchmark: Column, n: Int = 8,
      numBits: Long = 1L << 20): DataFrame = {
    require(n >= 1)
    graft.plans.BloomFunctions.register(df.sparkSession)
    val grams = df
      .withColumn("__w", split(text, " "))
      .select(id.as("doc_id"), isBenchmark.as("__bench"),
        explode(wordNgrams(col("__w"), n)).as("__g"))
    val bench = grams.filter(col("__bench")).select("__g").distinct()
    val sketch: Array[Byte] = bench
      .agg(expr(s"${graft.plans.BloomFunctions.aggName}(xxhash64(__g), " +
        s"${numBits / 16}L, ${numBits}L)").as("__bf"))
      .head().getAs[Array[Byte]](0)
    grams.filter(!col("__bench"))
      .filter(call_function(graft.plans.BloomFunctions.mightContainName,
        lit(sketch), xxhash64(col("__g"))))
      .join(bench, Seq("__g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_shared_grams"))
  }

  /** BM25 relevance of every document against a FIXED query-term set —
    * the retrieval scorer of data curation (rank corpus docs against a
    * probe query; also the scoring half of a quality-targeted mixture).
    *
    * Plan shape: corpus stats (N, avgdl) partial-aggregate to ONE row
    * and broadcast; term document-frequencies aggregate to |terms| rows
    * and broadcast; per-(doc, term) tf is the only data-sized shuffle,
    * and the `isin(terms)` filter prunes the exploded token stream
    * map-side BEFORE that shuffle — so the exchange carries at most
    * |terms| rows per doc, never the corpus vocabulary. No self-join,
    * no collect; at 100 TB this is a token scan plus one narrow
    * doc-keyed exchange.
    *
    * Determinism: the classic `ln((N+1)/(df+0.5))` idf is replaced by
    * its (monotone) rational argument `(N+1)/(df+0.5)` because ln is
    * only 1-ulp-correct and may differ between engines (the q09d sqrt
    * rationale); every remaining operation is IEEE-exact arithmetic on
    * an identical tree, and the per-term scores sum through
    * DECIMAL(38,6) so addition order cannot perturb the total. */
  def bm25Rank(df: DataFrame, id: Column, text: Column,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty)
    val docs = df.select(id.as("__id"), split(text, " ").as("__w"))
      .withColumn("__dl", size(col("__w")))
    val stats = docs.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("__avgdl"))
    val toks = docs
      .select(col("__id"), col("__dl"), explode(col("__w")).as("__t"))
      .filter(col("__t").isin(terms: _*))
    val tf = toks.groupBy(col("__id"), col("__dl"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val dfT = toks.select(col("__id"), col("__t")).distinct()
      .groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfT), Seq("__t"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        (col("__n") + lit(1L)).cast(DoubleType) /
          (col("__df").cast(DoubleType) + lit(0.5)))
      .withColumn("__s",
        col("__idf") * (col("__tf").cast(DoubleType) * lit(k1 + 1.0)) /
          (col("__tf").cast(DoubleType) +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * (col("__dl").cast(DoubleType) / col("__avgdl")))))
      .groupBy(col("__id").as("doc_id"))
      .agg(graft.Canon.sumDec(col("__s")).as("score"))
  }

  /** BM25 top-k RETRIEVAL: rank corpus documents against EVERY query in
    * a bounded query table at once — [[bm25Rank]] generalized from one
    * fixed term list to a per-query inverted-index search, the
    * retrieval pass of deduplication-by-retrieval and RAG-corpus
    * curation. A query's terms are its own distinct tokens; its own
    * document is excluded from its result. Returns
    * (query_id, rnk, doc_id, score), top `k` per query.
    *
    * Plan shape: corpus stats (N, avgdl) partial-aggregate to ONE row;
    * the query-term table (queries × their distinct tokens) and the
    * per-term document frequencies — computed only for QUERY terms, via
    * a semi-join before the df aggregate — are both bounded by the
    * query set, so all three broadcast. The corpus-sized work is one
    * token scan whose exploded stream is pruned map-side by a broadcast
    * SEMI-join on the distinct query-term list, then tf-aggregated per
    * (doc, term) BEFORE the per-query fan-out: the (query, term)
    * broadcast multiplies aggregated postings, never raw token
    * occurrences, so the first shuffle carries distinct (doc, term)
    * pairs — sized by the corpus alone, invariant to how many queries
    * share a term. (The pre-r17 form fanned out first and aggregated
    * per (query, doc, term); its shuffle scaled with corpus × per-term
    * query overlap and was the first family to spill at the 30× stress
    * tier — ~133 MB/query retired by this reorder, bench_sf3.json.)
    * Scoring partial-aggregates per (query, doc) through
    * DECIMAL(38,6); top-k is a rank-k window that compiles to a partial
    * WindowGroupLimit below its exchange (the q44 family). No doc×doc
    * join; at 100 TB this is the scatter-gather inverted-index plan.
    *
    * Determinism: [[bm25Rank]]'s rational idf (ln is only
    * 1-ulp-correct across engines; its monotone argument is exact) and
    * decimal-routed score sums; ranking ties break (score DESC,
    * doc_id ASC) over bit-identical doubles. */
  def bm25Search(df: DataFrame, id: Column, text: Column,
      isQuery: Column, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25SearchStatsOn(df, id, text, isQuery, lit(true), k, k1, b)

  /** [[bm25Search]] with the CORPUS STATISTICS (N, avgdl, per-term df)
    * computed over only the `statsOn` rows while scoring still runs
    * over the whole table — the ranking an APPEND-ONLY search index
    * actually serves between stat refreshes: postings for new docs are
    * added, but IDF/avgdl stay frozen at the last rebuild. A term seen
    * only in appended docs carries df = 0 (maximal IDF) — exactly the
    * frozen-index behavior. With `statsOn = true` this IS bm25Search. */
  def bm25SearchStatsOn(df: DataFrame, id: Column, text: Column,
      isQuery: Column, statsOn: Column, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1)
    val docs = df.select(id.as("__id"), split(text, " ").as("__w"),
      isQuery.as("__isq"), statsOn.as("__st"))
      .withColumn("__dl", size(col("__w")))
    val stats = docs.filter(col("__st"))
      .agg(count(lit(1)).as("__n"),
        (sum(col("__dl")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("__avgdl"))
    val toks = docs.select(col("__id"), col("__dl"), col("__st"),
      explode(col("__w")).as("__t"))
    val qterms = broadcast(docs.filter(col("__isq"))
      .select(col("__id").as("__qid"), explode(col("__w")).as("__t"))
      .distinct())
    // tf per (doc, term) BEFORE the per-query fan-out: the semi-join
    // prunes the token stream to query terms map-side, and the
    // aggregate's shuffle then carries distinct (doc, term) pairs —
    // Q-invariant. Fanning out first (join qterms, aggregate per
    // (query, doc, term)) multiplies every token occurrence by the
    // queries sharing its term and was the 30×-tier spiller.
    val postings = toks
      .join(qterms.select("__t").distinct(), Seq("__t"), "left_semi")
      .groupBy(col("__id"), col("__dl"), col("__st"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val dfT = broadcast(postings.filter(col("__st"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__df")))
    postings.join(qterms, Seq("__t"))
      .filter(col("__id") =!= col("__qid"))
      // LEFT: a term absent from the stats slice has df = 0 (the
      // frozen-index maximal-IDF case); with statsOn = true every
      // scored term has df >= 1 and this is the old inner join
      .join(dfT, Seq("__t"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        (col("__n") + lit(1L)).cast(DoubleType) /
          (col("__df").cast(DoubleType) + lit(0.5)))
      .withColumn("__s",
        col("__idf") * (col("__tf").cast(DoubleType) * lit(k1 + 1.0)) /
          (col("__tf").cast(DoubleType) +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * (col("__dl").cast(DoubleType) / col("__avgdl")))))
      .groupBy(col("__qid").as("query_id"), col("__id").as("doc_id"))
      .agg(graft.Canon.sumDec(col("__s")).as("score"))
      .withColumn("rnk", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"),
        col("doc_id"), col("score"))
  }

  /** STALE-IDF drift audit for an append-only search index: how much
    * does the top-k ranking served with FROZEN corpus statistics
    * (N, avgdl, df from the pre-append `isHistory` slice — postings
    * appended, stats not rebuilt) differ from the fresh full rebuild?
    * Returns per query (query_id, n_common, overlap_ratio) over the
    * two top-k lists — the measured number that decides WHEN an index
    * rebuild is due, instead of rebuilding on a guess or serving
    * drifted rankings unknowingly. (IDF drift is the one thing q99h's
    * append-equivalence proof cannot cover for BM25: unlike MinHash
    * bands, BM25 scores are functions of GLOBAL stats, so append-only
    * serving is approximate BY CONSTRUCTION — this audit prices that
    * approximation.) Cost: two bm25 rankings sharing the scan +
    * one k-row-per-query join. */
  def bm25StaleIdfAudit(df: DataFrame, id: Column, text: Column,
      isQuery: Column, isHistory: Column, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val fresh = bm25SearchStatsOn(df, id, text, isQuery, lit(true),
      k, k1, b)
    val stale = bm25SearchStatsOn(df, id, text, isQuery, isHistory,
      k, k1, b)
    val common = fresh.select(col("query_id"), col("doc_id"))
      .join(stale.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    // Query universe from the isQuery rows, NOT from the fresh
    // ranking: a query whose terms match no other document retrieves
    // nothing in BOTH rankings and must still report (qid, 0, 0.0) —
    // deriving the universe from results would silently drop it.
    df.filter(isQuery).select(id.as("query_id")).distinct()
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast(DoubleType) /
          lit(k.toDouble), 6).as("overlap_ratio"))
  }

  /** Achlioptas-style SIGN RANDOM PROJECTION of an embedding column to
    * `outDims` dimensions: y_i = Σ_j x_j · r(j,i), with r(j,i) ∈
    * {-1, 0, 1} drawn with Achlioptas weights (1/6, 2/3, 1/6) from the
    * deterministic md5 mix `conv(md5("j:i")[0:4], 16, 10) mod 6` — the
    * q09 hashing discipline applied to dimensionality reduction. A real
    * mixing hash matters here: an affine lattice like `(j·31+i·17) mod
    * 3` collapses to period-3 sign combs (31≡1, 17≡2 mod 3), making
    * every third output dim identical and the projection effective rank
    * ≤ 3 regardless of `outDims` — useless for the LSH/JL prefilters
    * this feeds. No RNG, no projection matrix to ship, reproducible
    * across engines/reruns/partitioning.
    *
    * Plan shape: a PURE per-row projection — the dot products run as
    * zip_with/aggregate higher-order functions inside the row, so there
    * is no explode, no shuffle, nothing to spill; at 100 TB this
    * pipelines inside whatever scan feeds it. The sign matrix is
    * row-INDEPENDENT, so it is hashed once on the driver and shipped as
    * `outDims` literal arrays — recomputing md5 inside the row
    * (dims × outDims digests per vector) measured 3.7 s vs 0.9 s at
    * sf0.1 for bit-identical output; the DuckDB oracle keeps the
    * in-query md5 formulation, so the hash gate proves the precomputed
    * matrix IS the hash. `dims` pins the input width — a mismatched
    * vector raises (zip_with would null-pad silently, the PQ lesson).
    * The sign multiply is exact in IEEE (±x or 0), and accumulation
    * routes through DECIMAL(38,6) so addition order cannot perturb the
    * sums. */
  def signProjection(vecs: DataFrame, id: Column, vec: String,
      outDims: Int, dims: Int): DataFrame = {
    require(outDims >= 1 && dims >= 1)
    graft.plans.SignProject.register(vecs.sparkSession)
    def sign(j: Int, i: Int): Int = signMatrixEntry(j, i)
    val guarded = when(size(col(vec)) === dims, col(vec))
      .otherwise(raise_error(concat(
        lit(s"signProjection expects $dims-dim vectors, got "),
        size(col(vec)).cast(StringType))))
    // All outDims dot products in ONE fused codegen loop
    // ([[graft.plans.SignProject]]) — decimal-summation-exact long
    // fixed-point; the HOF predecessor (zip_with + decimal aggregate
    // per output dim) allocated dims × outDims BigDecimals per row.
    // Two projects so the expression evaluates once and the y-columns
    // are plain element_at reads, whatever CSE decides.
    val matrix =
      typedLit((1 to outDims).map(i => (1 to dims).map(j => sign(j, i))))
    vecs.select(id.as("vec_id"),
        call_function(graft.plans.SignProject.name, guarded, matrix)
          .as("__ys"))
      .select(col("vec_id") +:
        (1 to outDims).map(i => element_at(col("__ys"), i).as(s"y$i")): _*)
  }

  /** Symmetric per-vector INT8 quantization — the embedding-STORAGE
    * half of the ANN story (PQ compresses for search; int8 is the
    * standard lossless-enough format embeddings are stored and shipped
    * in, a 4× footprint cut that at 100 TB of vectors is the difference
    * between one cluster and four). Per vector: scale = max|x|/127,
    * code_i = round(x_i / scale) — |x_i| ≤ max|x| caps |code| at 127
    * with no clamp branch; an all-zero vector quantizes to zero codes
    * (scale 0 guarded), not NaN.
    *
    * Plan shape: a PURE per-row map (array HOFs, no explode, no
    * shuffle, nothing to spill — pipelines inside the scan at any
    * scale). Returned per vector: integer-exact code summaries
    * (sum/min/max — they pin every code without an array-typed
    * compare), the 6-dp scale, and the DECIMAL(38,6)-exact L1
    * reconstruction error Σ|x_i − code_i·scale| (each term rounds
    * through the decimal grid, the sum is order-free — both engines
    * agree bit-for-bit). Determinism note: round() on DOUBLE is
    * half-away-from-zero in BOTH engines, and x/scale is one IEEE
    * divide of identical inputs, so codes can never differ. */
  def quantizeInt8(vecs: DataFrame, id: String, vec: String): DataFrame = {
    // zero-LENGTH vectors are excluded (nothing to quantize: no scale,
    // no codes, no error — distinct from the all-zero vector, which
    // quantizes to zero codes); emitting an all-NULL row instead would
    // just defer the malformed input to the consumer
    val base = Spread(vecs).filter(size(col(vec)) >= 1)
      .select(col(id).as("vec_id"), col(vec).as("__v"))
      .withColumn("__scale",
        expr("array_max(transform(__v, x -> abs(CAST(x AS DOUBLE))))")
          / lit(127.0d))
      .withColumn("__q", expr(
        "transform(__v, x -> CASE WHEN __scale = 0.0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(round(CAST(x AS DOUBLE) / __scale) AS BIGINT) END)"))
    base.select(col("vec_id"),
      round(col("__scale"), 6).as("scale"),
      expr("aggregate(__q, CAST(0 AS BIGINT), (a, q) -> a + q)")
        .as("code_sum"),
      expr("array_min(__q)").cast("int").as("code_min"),
      expr("array_max(__q)").cast("int").as("code_max"),
      expr("CAST(aggregate(zip_with(__v, __q, (x, q) -> " +
        "CAST(abs(CAST(x AS DOUBLE) - q * __scale) AS DECIMAL(38,6))), " +
        "CAST(0 AS DECIMAL(38,6)), (a, t) -> a + t) AS DOUBLE)")
        .as("recon_l1"))
  }

  /** Per-document gram→hash-bucket stream shared by [[dsirWeights]]:
    * unigrams plus POSITIONAL bigrams (multiset counts, not distinct —
    * DSIR models occurrence frequencies), each hashed to one of
    * `buckets` ids by the q09 md5 discipline (first 16 digest bits mod
    * B) so bucketing is reproducible across engines, reruns and
    * partitioning. */
  private def dsirBuckets(docs: DataFrame, id: Column, text: Column,
      isTarget: Column, buckets: Int): DataFrame = {
    val d = Spread(docs.select(id.as("__id"),
      isTarget.as("__tgt"), split(text, " ").as("__w")))
    d.select(col("__id"), col("__tgt"),
        explode(concat(col("__w"), positionalNgrams(col("__w"), 2)))
          .as("__g"))
      .withColumn("__b",
        conv(substring(md5(col("__g")), 1, 4), 16, 10).cast("int")
          % buckets)
  }

  /** DSIR importance weights (Data Selection via Importance Resampling,
    * Xie et al. 2023): score every document by how much more likely its
    * hashed-n-gram feature counts are under a TARGET distribution than
    * under the raw-corpus distribution — log w(x) = Σ_b c_b ·
    * ln(p̂_tgt[b] / p̂_raw[b]) with Laplace-smoothed bucket estimates
    * p̂[b] = (cnt_b + 1)/(total + B). `isTarget` marks the rows that
    * define the target distribution (a trusted high-quality slice — the
    * target set rides inside the same scan, no second input needed).
    * Returns (doc_id, n_grams, dsir_logw).
    *
    * Plan shape: ONE gram explode feeds a single (doc, bucket) count
    * aggregate (map-side combined — the only data-sized exchange); both
    * distributions come off that result by a second B-bounded aggregate
    * (count + conditional count in one pass, so the target set is never
    * re-scanned), and the B-row log-ratio table broadcasts back onto
    * the per-doc counts. Nothing doc×doc, nothing collected; at 100 TB
    * the shuffle is bounded by docs × min(B, grams-per-doc) rows of
    * three integers. The (doc, bucket) frame is persisted because both
    * the distribution pass and the scoring join read it — recomputing
    * would replay the corpus-sized explode.
    *
    * Determinism: the ln argument is assembled as
    * ((t+1)·(R+B)) / ((r+1)·(T+B)) — one division, mirrored exactly in
    * the oracle; per-bucket terms round through DECIMAL(38,6) before
    * the per-doc sum (the q95d discipline), so addition order cannot
    * perturb the score. */
  def dsirWeights(docs: DataFrame, id: Column, text: Column,
      isTarget: Column, buckets: Int = 256): DataFrame = {
    require(buckets >= 2)
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val bk = dsirBuckets(docs, id, text, isTarget, buckets)
    val dc = bk.groupBy(col("__id"), col("__b"))
      .agg(count(lit(1)).as("__c"),
        max(col("__tgt")).as("__tgt"))
      .persistOnce()
    val dists = dc.groupBy(col("__b")).agg(
      sum(col("__c")).as("__r"),
      sum(when(col("__tgt"), col("__c")).otherwise(0L)).as("__t"))
    // distinct total names (__rtot/__ttot, not __R/__T): the analyzer is
    // case-insensitive by default, so __T would collide with dists' __t
    val tot = dists.agg(
      sum(col("__r")).cast(DoubleType).as("__rtot"),
      sum(col("__t")).cast(DoubleType).as("__ttot"))
    val lr = broadcast(dists.crossJoin(broadcast(tot))
      .select(col("__b"),
        log(((col("__t").cast(DoubleType) + lit(1.0)) *
            (col("__rtot") + lit(buckets.toDouble))) /
          ((col("__r").cast(DoubleType) + lit(1.0)) *
            (col("__ttot") + lit(buckets.toDouble)))).as("__lr")))
    dc.join(lr, Seq("__b"))
      .groupBy(col("__id").as("doc_id"))
      .agg(sum(col("__c")).as("n_grams"),
        round(sum((col("__c").cast(DoubleType) * col("__lr"))
          .cast(dec)).cast(DoubleType), 6).as("dsir_logw"))
  }

  /** DSIR importance RESAMPLING: draw the `k` documents a
    * target-distribution-matched corpus would keep, via the Gumbel
    * top-k identity — adding an independent Gumbel noise term to each
    * log-weight and taking the top k IS sampling without replacement
    * with probability ∝ exp(log w). The Gumbel uniform derives from the
    * row key's md5 (the q09c A-ES discipline), so the "random" draw is
    * reproducible across engines, reruns and partitioning — a rerun
    * selects the identical corpus, which is what makes the sampled
    * training set auditable. Returns (doc_id, dsir_logw, gkey), the
    * selection key exposed for the audit trail.
    *
    * Plan: [[dsirWeights]] + a per-row key projection + a global top-k
    * that compiles to TakeOrderedAndProject (per-partition k, merge
    * k·parts on the driver — no global sort exchange). The 6-dp round
    * and doc-id tiebreak pin the selection boundary across engines. */
  def dsirResample(docs: DataFrame, id: Column, text: Column,
      isTarget: Column, k: Int, buckets: Int = 256): DataFrame = {
    require(k >= 1)
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast(DoubleType) + lit(1.0)) / lit(65537.0)
    dsirWeights(docs, id, text, isTarget, buckets)
      .withColumn("gkey",
        round(col("dsir_logw") - log(-log(u)), 6))
      .orderBy(col("gkey").desc_nulls_last, col("doc_id").asc_nulls_first,
        col("dsir_logw").asc_nulls_first)
      .limit(k)
      .select(col("doc_id"), col("dsir_logw"), col("gkey"))
  }

  /** Canonical-copy selection over a dedup clustering: given cluster
    * assignments (member, cluster) and a per-document score, keep the
    * highest-scoring member of each cluster — the production "WHICH
    * copy survives" policy ([[applyDedup]]'s min-id rule replaced by a
    * quality argmax: keep the longest / highest-quality / most recent
    * copy, whatever `score` encodes). Returns (cluster_id, kept,
    * score).
    *
    * Plan: one equi-join attaching the score (AQE broadcasts iff the
    * score side measures small), then a rank-1 window on the cluster
    * id that compiles to a partial WindowGroupLimit BELOW its exchange
    * — per-partition candidates-only shuffle, never the full member
    * list twice. Ties break (score DESC, member ASC) so the survivor
    * is engine-stable. */
  def keepBest(clusters: DataFrame, member: String, cluster: String,
      scores: DataFrame, scoreId: String, score: Column): DataFrame = {
    val sc = scores.select(col(scoreId).as("__m"), score.as("score"))
    val w = Window.partitionBy(col(cluster))
      .orderBy(col("score").desc, col(member).asc)
    clusters.join(sc, col(member) === col("__m"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(cluster).as("cluster_id"), col(member).as("kept"),
        col("score"))
  }

  /** Cluster-BALANCED corpus capping: assign every vector to its
    * nearest centroid ([[nearestCells]]) and keep at most `cap` members
    * per cell, chosen by the stable md5 rank of the id — the
    * embedding-space counterpart of the q95e per-source cap. Web-scale
    * corpora are extremely cluster-skewed (boilerplate templates form
    * giant cells); capping per SEMANTIC cell flattens that skew where a
    * per-source cap cannot see it (one domain spans many templates, one
    * template spans many domains). Returns (cell, vec_id, rnk) for the
    * kept rows.
    *
    * Plan: centroids broadcast (bounded config), assignment is a
    * per-row argmax — no data exchange; the cap is a rank window on
    * the cell id, one hash exchange, pruned below it by the partial
    * WindowGroupLimit. The md5 rank makes the kept set reproducible
    * across engines/reruns/partitioning — a hash-ordered reservoir,
    * not an RNG. */
  def clusterCap(vecs: DataFrame, id: String, vec: String,
      centroids: DataFrame, cid: String, cvec: String,
      cap: Int): DataFrame = {
    require(cap >= 1)
    val cells = nearestCells(Spread(vecs)
        .select(col(id).as("__vid"), col(vec).as("__e")),
        "__vid", "__e", centroids, cid, cvec, probe = 1)
      .select(col("__vid"), col("__ccid").as("cell"))
    topKWithin(cells, "cell", Seq(
        substring(md5(col("__vid").cast("string")), 1, 8).asc,
        col("__vid").asc), cap)
      .select(col("cell"), col("__vid").as("vec_id"), col("rnk"))
  }

  /** Text CANONICALIZATION for normalization-aware dedup: lowercase,
    * strip everything outside [a-z0-9 ], collapse whitespace runs, trim
    * — the CCNet-style pass that makes `"The  cat!"` and `"the cat"`
    * hash-identical so [[exactDedup]] catches formatting variants
    * byte-exact hashing misses. Pure per-row projection (codegen'd
    * regexp_replace chain), deliberately ASCII-conservative: anything
    * outside the kept class (punctuation, digits-with-accents, emoji)
    * is dropped rather than transliterated, so the canonical form never
    * depends on locale tables that differ across engines. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      // punctuation becomes a WORD BOUNDARY (replace with space, then
      // collapse) — deleting it outright would weld "the,cat" into
      // "thecat" and split tokens differently than any tokenizer does
      regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** EXPORT MANIFEST over the [[shardShuffle]] layout: per shard, the
    * integrity triple a training-data consumer re-derives to prove the
    * shard files it read are the shard files the pipeline wrote —
    * row count, exact payload total (`chars`), and an ORDER-FREE
    * content checksum (sum of each key's 32-bit md5 integer — addition
    * commutes, so the checksum is independent of row order, file
    * split, and read parallelism; a dropped, duplicated or substituted
    * row moves it). Returns (shard, n_docs, n_chars_total, checksum).
    *
    * Plan: the shard-id hash exchange [[shardShuffle]] already needs,
    * then a partial-aggregated groupBy on the SAME partitioning — AQE
    * reuses the exchange, so the manifest costs one map-side-combined
    * pass over the export, no second shuffle. */
  def exportManifest(df: DataFrame, key: Column, chars: Column,
      seed: String, shards: Int): DataFrame =
    shardShuffle(df, key, seed, shards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(chars).as("n_chars_total"),
        sum(conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
          .cast(LongType)).as("checksum"))

  /** TOKEN-BUDGET temperature mixture: [[temperatureMix]] re-weighted
    * by payload size — strata weights are Σ chars (the token-budget
    * proxy), not document counts, because production mixture budgets
    * are set in TOKENS and a doc-count rebalance over-serves strata
    * with short documents. Keeps an expected budget·√w_s/Σ√w_j chars
    * from stratum s (α = 0.5 — sqrt is the one power IEEE rounds
    * exactly, the q09d argument), with the keep decision the same
    * md5-threshold hash draw: reproducible across engines, reruns,
    * partitioning, and corpus growth.
    *
    * Plan: one partial-agg count exchange to |strata| rows, a 1-row
    * √-sum, a broadcast rates dim, one per-row hash filter. Identical
    * shape to [[temperatureMix]] — nothing data-sized shuffles. */
  def tokenBudgetMix(df: DataFrame, key: Column, stratum: String,
      chars: Column, budget: Double): DataFrame = {
    val weights = df.groupBy(col(stratum)).agg(sum(chars).as("__n"))
    val tot = weights.agg(
      sum(sqrt(col("__n")).cast(org.apache.spark.sql.types
        .DecimalType(38, 6))).cast(DoubleType).as("__S"))
    val rates = weights.crossJoin(broadcast(tot))
      .select(col(stratum),
        least(lit(1.0),
          lit(budget) * sqrt(col("__n")) / col("__S") / col("__n"))
          .as("__r"))
    df.join(broadcast(rates), Seq(stratum))
      .filter(conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
        .cast("int") < floor(col("__r") * 65536).cast("int"))
      .drop("__r")
  }

  /** CHANGELOG COMPACTION (CDC apply): replay an insert/update/delete
    * change stream into its final table state — the `MERGE`-free core of
    * what every lakehouse table format does on read. Per key, the LAST
    * event in `(seqCols)` order wins; a final 'D' removes the key. One
    * hash aggregate: the lexicographic `max(struct(seq…, op, payload…))`
    * IS the last event, so the plan gets map-side partial aggregation
    * and a single shuffle on the key — deliberately NOT a per-key sort
    * window, which would shuffle every change row into a sort just to
    * read one of them. At 100 TB of changelog the partial-agg shape is
    * the difference between shuffling keys and shuffling history.
    * CONTRACT: `seqCols` must totally order events within a key (a log
    * sequence number, or (ts, event_id)); ties would make "last" an
    * engine coin-flip. Returns one row per surviving key:
    * the key columns, `n_ops` (changelog entries replayed), and each
    * seq/payload column of the winning event as `last_<name>`. */
  def applyChangelog(log: DataFrame, keyCols: Seq[String],
      seqCols: Seq[String], opCol: String): DataFrame = {
    require(keyCols.nonEmpty && seqCols.nonEmpty)
    val payload = log.columns.toSeq
      .filterNot(c => keyCols.contains(c) || seqCols.contains(c) ||
        c == opCol)
    val carried = seqCols ++ Seq(opCol) ++ payload
    val packed = struct(carried.map(col): _*)
    log.groupBy(keyCols.map(col): _*)
      .agg(max(packed).as("__last"), count(lit(1)).as("n_ops"))
      .filter(col(s"__last.$opCol") =!= "D")
      .select(keyCols.map(col) ++ Seq(col("n_ops")) ++
        (seqCols ++ payload).map(c =>
          col(s"__last.$c").as(s"last_$c")): _*)
  }

  /** Two-sample Kolmogorov–Smirnov test: D = sup over the pooled sample
    * points of |F_a(x) − F_b(x)| — the distribution-free "did this
    * slice drift" statistic complementing [[tvdDrift]] (bucketed gaps)
    * and [[chiSquareIndependence]] (categorical association) with a
    * CONTINUOUS-measure test that needs no binning choice.
    *
    * The ECDFs need a global prefix sum, and a naive global window is a
    * single-partition sort — the classic scale-killer. Instead: (1) one
    * hash aggregate collapses the samples to per-distinct-value counts;
    * (2) `repartitionByRange` on the value + a FROZEN partition id; (3)
    * per-partition totals — a driver list bounded by the shuffle
    * partition count, never data — become broadcast offsets; (4) the
    * running sum then runs INSIDE each range partition. Every stage is
    * partitioned; nothing data-sized ever serializes through one task.
    * Determinism: cumulative counts are exact integers, each ECDF gap
    * is one IEEE divide+subtract of integers, and the 1.358·√((n1+n2)/
    * (n1·n2)) α=0.05 critical value is computed with the identical op
    * sequence in both engines; only the REPORTED d is rounded. */
  def ksTwoSample(df: DataFrame, group: Column, value: Column,
      a: String, b: String): DataFrame = {
    val perV = df.filter(group.isin(a, b) && value.isNotNull)
      .select(group.as("__g"), value.as("__v"))
      .groupBy(col("__v"))
      .agg(count(when(col("__g") === a, 1)).as("__c1"),
        count(when(col("__g") === b, 1)).as("__c2"))
    val (pref, tot) = rangedPrefix(perV, "__v", Seq("__c1", "__c2"))
    val (n1, n2) = (tot("__c1"), tot("__c2"))
    require(n1 > 0 && n2 > 0,
      s"ksTwoSample: both groups must be non-empty (|$a|=$n1, |$b|=$n2)")
    val gaps = pref.select(abs(
      col("__cum___c1").cast(DoubleType) / lit(n1).cast(DoubleType) -
        col("__cum___c2").cast(DoubleType) / lit(n2).cast(DoubleType))
      .as("__gap"))
    val crit = lit(1.358) * sqrt(
      lit(n1 + n2).cast(DoubleType) /
        (lit(n1).cast(DoubleType) * lit(n2).cast(DoubleType)))
    gaps.agg(max(col("__gap")).as("__d"))
      .select(lit(n1).as("n1"), lit(n2).as("n2"),
        round(col("__d"), 6).as("d_stat"),
        (col("__d") > crit).as("reject"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test with midranks
    * and tie correction — the rank-based drift companion to
    * [[ksTwoSample]]: KS is sensitive to the largest CDF gap, the
    * rank-sum to a consistent stochastic shift. Shares the same
    * scale skeleton: per-distinct-value counts, then [[rangedPrefix]]
    * for the exact rank positions — never a single-partition sort.
    * Determinism: midranks are exact halves (k or k+.5), so the
    * rank-sum routes through the decimal grid ([[Canon.sumDec]]); the
    * tie term Σ(t³−t) is integer, computed on DECIMAL(38,0) — a value
    * tied across >2.1M rows cubes past Long.MaxValue, and Spark wraps
    * Long silently where DuckDB errors, so the Long form corrupts z at
    * exactly the 100 TB scale this operator targets; the z denominator
    * is one pinned IEEE expression evaluated identically in both
    * engines. */
  def mannWhitneyU(df: DataFrame, group: Column, value: Column,
      a: String, b: String): DataFrame = {
    val perV = df.filter(group.isin(a, b) && value.isNotNull)
      .select(group.as("__g"), value.as("__v"))
      .groupBy(col("__v"))
      .agg(count(when(col("__g") === a, 1)).as("__c1"),
        count(when(col("__g") === b, 1)).as("__c2"))
      .withColumn("__t", col("__c1") + col("__c2"))
    val (pref, _) = rangedPrefix(perV, "__v", Seq("__t"))
    val counts = perV
      .agg(coalesce(sum(col("__c1")), lit(0L)),
        coalesce(sum(col("__c2")), lit(0L))).collect().head
    val (m1, m2) = (counts.getLong(0), counts.getLong(1))
    require(m1 > 0 && m2 > 0,
      s"mannWhitneyU: both groups must be non-empty (|$a|=$m1, |$b|=$m2)")
    val nn = m1 + m2
    // midrank of a distinct value = ranks it spans averaged =
    // (count before it) + (ties + 1)/2 — an exact half-integer
    val midrank = (col("__cum___t") - col("__t")).cast(DoubleType) +
      (col("__t") + 1).cast(DoubleType) / lit(2.0)
    val tDec = col("__t")
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val terms = pref.select(
      (col("__c1").cast(DoubleType) * midrank).as("__r1t"),
      (tDec * tDec * tDec - tDec).as("__tt"))
    val agg = terms.agg(Canon.sumDec(col("__r1t")).as("__r1"),
      sum(col("__tt")).as("__ties"))
    val u = col("__r1") - lit(m1).cast(DoubleType) *
      lit(m1 + 1).cast(DoubleType) / lit(2.0)
    val z = (u - lit(m1).cast(DoubleType) * lit(m2).cast(DoubleType) /
        lit(2.0)) /
      sqrt(lit(m1).cast(DoubleType) * lit(m2).cast(DoubleType) /
        lit(12.0) *
        (lit(nn + 1).cast(DoubleType) - col("__ties").cast(DoubleType) /
          (lit(nn).cast(DoubleType) * lit(nn - 1).cast(DoubleType))))
    agg.select(lit(m1).as("n1"), lit(m2).as("n2"),
      round(u, 6).as("u_stat"), round(z, 6).as("z"),
      (abs(z) > lit(1.959964)).as("reject"))
  }

  /** Range-partitioned EXACT running sums — the distributed prefix-sum
    * skeleton [[ksTwoSample]]/[[mannWhitneyU]] share: range-partition
    * on the order column with a FROZEN partition id, per-partition
    * totals (a driver list bounded by the shuffle-partition COUNT,
    * never data) become broadcast offsets, and the running sum then
    * runs INSIDE each range partition. Returns the frame with an
    * inclusive `__cum_<c>` per requested column, plus each column's
    * grand total. */
  private def rangedPrefix(perV: DataFrame, ord: String,
      cols: Seq[String]): (DataFrame, Map[String, Long]) = {
    val spark = perV.sparkSession
    val ranged = perV.repartitionByRange(col(ord))
      .withColumn("__pid", spark_partition_id()).persistOnce()
    val totals = ranged.groupBy(col("__pid"))
      .agg(sum(col(cols.head)).as(cols.head),
        cols.tail.map(c => sum(col(c)).as(c)): _*)
      .collect().sortBy(_.getInt(0)) // bounded: ≤ shuffle partitions
    val running = scala.collection.mutable.Map(cols.map(_ -> 0L): _*)
    val offRows = totals.map { r =>
      val row = org.apache.spark.sql.Row.fromSeq(
        r.getInt(0) +: cols.map(running(_)))
      cols.zipWithIndex.foreach { case (c, i) =>
        running(c) += r.getLong(i + 1)
      }
      row
    }.toIndexedSeq
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
      cols.map(c => org.apache.spark.sql.types.StructField(
        s"__off_$c", LongType, nullable = false)))
    val offs = broadcast(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(offRows).asJava),
      schema))
    val w = Window.partitionBy(col("__pid")).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = ranged.join(offs, Seq("__pid"))
      .select(ranged.columns.toIndexedSeq.map(col) ++ cols.map(c =>
        (sum(col(c)).over(w) + col(s"__off_$c")).as(s"__cum_$c")): _*)
    (out, cols.map(c => c -> running(c)).toMap)
  }

  /** FIRST/LAST-TOUCH conversion attribution: for every `conversion`
    * event, credit the first and the most recent PRECEDING
    * non-conversion event type the same key emitted ("which channel
    * opened the journey, which one closed it"), then roll both credit
    * assignments up per channel with conversion counts and
    * decimal-exact value sums. One per-key window (running
    * first/last with ignoreNulls over the event order — partitioned,
    * so it scales with keys) plus two bounded per-channel aggregates
    * joined full-outer on the channel (null channel = conversions with
    * no prior touch, kept honestly rather than dropped).
    * CONTRACT: `ord` must totally order events within a key. */
  def touchAttribution(df: DataFrame, key: Column, ord: Seq[Column],
      typ: Column, conversion: String, value: Column): DataFrame = {
    val chan = when(typ =!= conversion, typ)
    val w = Window.partitionBy(key).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conv = df
      .withColumn("__ft", first(chan, ignoreNulls = true).over(w))
      .withColumn("__lt", last(chan, ignoreNulls = true).over(w))
      .filter(typ === conversion)
      .persistOnce()
    def credit(c: String, n: String, rev: String) =
      conv.groupBy(col(c).as("channel"))
        .agg(count(lit(1)).as(n), Canon.sumDec(value).as(rev))
    val fst = credit("__ft", "n_first", "__rf")
    val lst = credit("__lt", "n_last", "__rl")
    fst.join(lst, fst("channel") <=> lst("channel"), "full_outer")
      .select(coalesce(fst("channel"), lst("channel")).as("channel"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        round(coalesce(col("__rf"), lit(0.0)), 6).as("rev_first"),
        coalesce(col("n_last"), lit(0L)).as("n_last"),
        round(coalesce(col("__rl"), lit(0.0)), 6).as("rev_last"))
  }

  /** VOCABULARY-GROWTH (Heaps' law) curve: cumulative distinct n-gram
    * vocabulary vs cumulative token count over the corpus in `id`
    * order, reported per id-bucket of `bucketWidth` docs — the corpus
    * statistic that says whether more data is still buying new
    * language ("is the curve still rising, or are we re-crawling the
    * same text"). One gram explode feeds BOTH aggregates: tokens per
    * bucket (count), and new-vocab per bucket (each gram counts once,
    * in the bucket of its FIRST occurrence — a min(id) per gram, one
    * shuffle on the gram). The running sums then run over the BUCKET
    * table, whose size is corpus/|bucket| — pick bucketWidth so that
    * table is config-sized (it is the curve's plot resolution, not a
    * data structure). */
  /** ZIPF-SLOPE fit (q93z) — OLS of ln(freq) on ln(rank) over the
    * top-N term frequencies: natural corpora follow Zipf's law with a
    * slope near −1, and the fitted slope is a one-number corpus-health
    * readout (synthetic/templated text flattens toward 0; a boilerplate-
    * flooded crawl steepens past −1.5). Complements q93q's Heaps-law
    * growth curve (is more data buying new vocabulary) with the static
    * rank-frequency shape of the vocabulary already there.
    *
    * Scale shape: the corpus-sized work is ONE token explode into a
    * partial-aggregated count (the q93c TF kernel); the top-N cut is a
    * TakeOrdered (no global sort materialization), and everything after
    * operates on exactly N rows — the row_number window over that
    * bounded result is N rows by construction, not the q10b global-
    * window trap. Determinism: ln terms and their products round onto
    * the 9-dp decimal grid before the exact decimal sums (the q11c
    * entropy discipline); the closed-form slope divides those exact
    * sums in double with one pinned operation order. */
  def zipfSlope(df: DataFrame, text: Column, topN: Int = 100): DataFrame = {
    require(topN >= 3, s"zipfSlope: need topN >= 3 ($topN)")
    val freq = df.select(explode(split(text, " ")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy("__w").agg(count(lit(1)).as("__f"))
    val top = freq.orderBy(col("__f").desc, col("__w").asc).limit(topN)
    val wR = Window.orderBy(col("__f").desc, col("__w").asc)
    val ranked = top.select(
      row_number().over(wR).cast(LongType).as("__r"), col("__f"))
    val x = round(log(col("__r").cast(DoubleType)), 9)
    val y = round(log(col("__f").cast(DoubleType)), 9)
    val dec9 = DecimalType(38, 9)
    val s = ranked.select(x.as("__x"), y.as("__y")).agg(
      count(lit(1)).cast(DoubleType).as("__n"),
      sum(col("__x").cast(dec9)).cast(DoubleType).as("__sx"),
      sum(col("__y").cast(dec9)).cast(DoubleType).as("__sy"),
      sum(round(col("__x") * col("__y"), 9).cast(dec9))
        .cast(DoubleType).as("__sxy"),
      sum(round(col("__x") * col("__x"), 9).cast(dec9))
        .cast(DoubleType).as("__sxx"))
    val slope = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
      (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
    s.select(col("__n").cast(LongType).as("n_terms"),
      round(slope, 6).as("slope"),
      round((col("__sy") - slope * col("__sx")) / col("__n"), 6)
        .as("intercept"))
  }

  /** Per-group drift screen with BENJAMINI–HOCHBERG FDR control (q46n)
    * — the multiple-testing layer the pairwise drift family (q46c/f/g/h)
    * deliberately lacks: screening EVERY segment against the rest at
    * α=0.05 each false-alarms ~1 segment in 20 on pure noise, which at a
    * 10⁴-segment catalog is 500 bogus drift tickets; BH bounds the
    * expected FALSE-DISCOVERY fraction instead. Per group g: a
    * two-sample KS statistic of g's value distribution vs the
    * complement, evaluated on a fixed 256-bucket grid (the ECDF gap at
    * bucket granularity — a lower bound on exact D, identical in both
    * engines because bucketing is one pinned IEEE expression); p from
    * the large-sample KS tail bound p = 2·exp(−2·D²·n_g·n_rest/(n_g+
    * n_rest)) capped at 1; then the BH step-up: order p ascending,
    * adj_i = min_{j≥i}(p_j·m/j) capped at 1, reject at q.
    *
    * Scale shape: the corpus-sized work is ONE partial-aggregated
    * groupBy on (group, bucket) — histogram rows are |groups|·256
    * BEFORE any window or join, so the ECDF windows, the dense-grid
    * broadcast cross join, and the BH sort all run on domain-sized
    * tables (the 1-row min/max reduce is a broadcast, the q46e
    * pattern). Never a per-row rank — the textbook ECDF-by-sort dies
    * on a corpus-sized single partition (the q10b trap). */
  def bhFdrDrift(events: DataFrame, group: Column, value: Column,
      buckets: Int = 256, q: Double = 0.05): DataFrame = {
    require(buckets >= 2 && q > 0 && q < 1)
    val f = events.filter(group.isNotNull && value.isNotNull)
      .select(group.as("__g"), value.as("__v"))
    val mm = f.agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val b = when(col("__hi") > col("__lo"),
      least(lit(buckets - 1), greatest(lit(0),
        floor((col("__v") - col("__lo")) / (col("__hi") - col("__lo"))
          * buckets)))).otherwise(lit(0)).cast("int")
    val hist = f.crossJoin(broadcast(mm))
      .select(col("__g"), b.as("__b"))
      .groupBy("__g", "__b").agg(count(lit(1)).as("__c"))
      .persistOnce()
    // dense (group × bucket) grid so every group's ECDF is defined at
    // every global jump point — both sides are domain-sized aggregates
    val grid = hist.select(col("__g")).distinct()
      .crossJoin(broadcast(hist.select(col("__b")).distinct()))
    val dense = grid.join(hist, Seq("__g", "__b"), "left")
      .select(col("__g"), col("__b"), coalesce(col("__c"), lit(0L)).as("__c"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense.withColumn("__cg", sum(col("__c")).over(wCum))
    val tot = cum.groupBy("__b").agg(sum(col("__c")).as("__cb"))
      .withColumn("__ca", sum(col("__cb")).over(
        Window.orderBy(col("__b").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("__b"), col("__ca"))
    val ns = hist.groupBy("__g").agg(sum(col("__c")).as("__ng"))
      .crossJoin(broadcast(hist.agg(sum(col("__c")).as("__n"))))
    val gaps = cum.join(broadcast(tot), Seq("__b"))
      .join(broadcast(ns), Seq("__g"))
      .filter(col("__n") > col("__ng"))
      .select(col("__g"), col("__ng"), col("__n"),
        abs(col("__cg").cast(DoubleType) / col("__ng") -
          (col("__ca") - col("__cg")).cast(DoubleType) /
            (col("__n") - col("__ng"))).as("__gap"))
    val d = gaps.groupBy("__g", "__ng", "__n")
      .agg(max(col("__gap")).as("__d"))
    val ne = (col("__ng").cast(DoubleType) *
      (col("__n") - col("__ng")).cast(DoubleType)) /
      col("__n").cast(DoubleType)
    val pRaw = least(lit(1.0),
      lit(2.0) * exp(lit(-2.0) * col("__d") * col("__d") * ne))
    val scored = d.select(col("__g"), col("__ng"), col("__d"),
      pRaw.as("__p"))
    // BH step-up over the m groups — the sort and both windows run on
    // the domain-sized table
    val byP = Window.orderBy(col("__p").asc, col("__g").asc)
    val wUp = byP.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val withAdj = scored
      .withColumn("__m", count(lit(1)).over(
        byP.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("__rk", row_number().over(byP))
      .withColumn("__adj", least(lit(1.0),
        min(col("__p") * col("__m") / col("__rk")).over(wUp)))
    withAdj.select(col("__g").as("group_key"),
      col("__ng").cast(LongType).as("n"),
      round(col("__d"), 6).as("d_stat"),
      round(col("__p"), 6).as("p_raw"),
      round(col("__adj"), 6).as("p_adj"),
      (col("__adj") <= q).as("reject"))
  }

  /** Per-column STATISTICS-DRIFT audit between two table versions
    * (q11g) — the data-contract companion to q58b's row diff: row diffs
    * say WHICH rows changed, this says whether any COLUMN's shape moved
    * (null rate, distinct cardinality, row count) — the check that
    * catches a silent upstream re-tag, a null-flood, or an enum
    * collapse before a model trains on it. Per column of both
    * versions: rows, non-null count, distinct count; then the aligned
    * drift readout with flags.
    *
    * Scale shape: one pass per version explodes each row into
    * |columns| (name, value) pairs — a constant fan-out of the scan,
    * partial-aggregated for counts; the DISTINCT pre-aggregate keys on
    * md5(value), so the exchange carries 16-byte digests, never the
    * values themselves (the q90f digest discipline — a text column at
    * 100 TB would otherwise ship its whole domain). All ratios are
    * divisions of exact longs — identical IEEE bits in both engines,
    * emitted UNROUNDED (no decimal-grid step needed). */
  def columnStatsDrift(oldDf: DataFrame, newDf: DataFrame,
      cols: Seq[String], ratioLo: Double = 0.8, ratioHi: Double = 1.25,
      nullDeltaMax: Double = 0.01): DataFrame = {
    require(cols.nonEmpty)
    def stats(df: DataFrame, suffix: String): DataFrame =
      df.select(explode(array(cols.map(c =>
          struct(lit(c).as("c"), col(c).cast(StringType).as("v"))): _*))
          .as("__p"))
        .select(col("__p.c").as("column_name"), col("__p.v").as("__v"))
        .groupBy("column_name")
        .agg(count(lit(1)).as(s"n_$suffix"),
          count(col("__v")).as(s"__nn_$suffix"),
          countDistinct(md5(col("__v"))).as(s"distinct_$suffix"))
    val o = stats(oldDf, "old")
    val n = stats(newDf, "new")
    val nullOld = (col("n_old") - col("__nn_old")).cast(DoubleType) /
      col("n_old")
    val nullNew = (col("n_new") - col("__nn_new")).cast(DoubleType) /
      col("n_new")
    val dRatio = col("distinct_new").cast(DoubleType) / col("distinct_old")
    o.join(n, Seq("column_name"))
      .select(col("column_name"), col("n_old"), col("n_new"),
        nullOld.as("null_rate_old"), nullNew.as("null_rate_new"),
        col("distinct_old"), col("distinct_new"),
        dRatio.as("distinct_ratio"),
        (dRatio < ratioLo || dRatio > ratioHi ||
          abs(nullNew - nullOld) > nullDeltaMax).as("drift"))
  }

  /** Per-document CHARACTER-ENTROPY quality signal (q95m) — Shannon
    * entropy of the code-point distribution plus its normalized form
    * (entropy / ln(alphabet)), the classic cheap junk detector: binary
    * blobs mis-ingested as text, base64/hex dumps, and key-mashing all
    * sit far from prose on this axis, and repeated-template boilerplate
    * collapses it toward 0. Complements q95 (word-shape ratios) and
    * q95c (word repetition) with the sub-token layer.
    *
    * Scale shape: a PURE MAP — the [[graft.plans.CharEntropy]] codegen
    * kernel computes histogram + fold per row in whole-stage codegen,
    * so the operator costs exactly the scan (the SQL formulation would
    * exchange one row per corpus CHARACTER; the HOF formulation is an
    * interpreted-lambda tree — the q95j lesson). Entropy terms ride the
    * 9-dp decimal grid inside the kernel (the q11c discipline), so the
    * emitted double is grid-exact and left UNROUNDED (a further 6-dp
    * round of a 9-dp grid value CAN land on a half — the q47i mean
    * lesson); the normalized ratio divides to an irrational and rounds
    * to 6 dp safely. Degenerate contract: n_distinct ≤ 1 (empty,
    * single-char-alphabet) → entropy_norm 0.0, low_entropy true. */
  def charEntropy(df: DataFrame, id: Column, text: Column,
      normMin: Double = 0.5): DataFrame = {
    val ce0 = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CharEntropy(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))
    // null text → the kernel's struct is null; coalesce it to the
    // empty-text degenerate row (0, 0, 0.0) so the operator matches
    // the q95m oracle's LEFT JOIN + coalesce semantics (r14, ADVICE —
    // latent while the documents fixture carries no null text)
    val ce = coalesce(ce0, struct(
      lit(0L).as("n_chars"), lit(0).as("n_distinct"),
      lit(0.0).as("entropy")))
    val norm = when(col("__ce.n_distinct") <= 1, lit(0.0))
      .otherwise(round(col("__ce.entropy") /
        log(col("__ce.n_distinct").cast(DoubleType)), 6))
    df.select(id.as("doc_id"), ce.as("__ce"))
      .select(col("doc_id"),
        col("__ce.n_chars").as("n_cps"),
        col("__ce.n_distinct").as("n_distinct"),
        col("__ce.entropy").as("entropy_nats"),
        norm.as("entropy_norm"),
        (norm < normMin).as("low_entropy"))
  }

  def vocabGrowth(df: DataFrame, id: Column, text: Column,
      n: Int = 2, bucketWidth: Long = 50): DataFrame = {
    require(n >= 1 && bucketWidth >= 1)
    val ws = filter(split(text, " "), w => w =!= "")
    val ex = df.select(id.as("__id"),
      explode(positionalNgrams(ws, n)).as("__gram"))
    def bucket(c: Column) = (c / lit(bucketWidth)).cast(LongType)
    val toks = ex.groupBy(bucket(col("__id")).as("bucket"))
      .agg(count(lit(1)).as("__toks"))
    val vocab = ex.groupBy(col("__gram"))
      .agg(min(col("__id")).as("__fd"))
      .groupBy(bucket(col("__fd")).as("bucket"))
      .agg(count(lit(1)).as("__nv"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(vocab, Seq("bucket"), "left")
      .select(col("bucket"), col("__toks"),
        coalesce(col("__nv"), lit(0L)).as("__nv"))
      .select(col("bucket"),
        sum(col("__toks")).over(w).as("cum_tokens"),
        sum(col("__nv")).over(w).as("cum_vocab"))
  }

  /** CONTENT-DEFINED chunk dedup (the FastCDC/rsync idea, as a query):
    * chunk boundaries are placed where the rolling fingerprint of the
    * `window` characters starting at a position hits a fixed pattern —
    * so an insertion near the start of a document shifts only the
    * chunks it touches, where fixed-offset chunking ([[dedupChunks]])
    * would re-key every chunk after it. The fingerprint is a base-257
    * polynomial rolling hash mod 1e9+7 ([[graft.plans.CdcBoundaries]],
    * a codegen expression: ONE multiply-add per character for ALL
    * boundaries, vs the md5-per-position rule this replaces at ~50×
    * the CPU); boundary = H % 16 == 0 (p = 1/16 → expected chunk ≈
    * window chars, same statistics as the old md5-nibble rule).
    *
    * The whole chunk list is built IN-ROW — the boundaries array zipped
    * with its own shifted self (the q93o co-occurrence pattern) closes
    * every chunk with its successor boundary, so no window over rows
    * carrying document text and NO text-replicating exchange (the old
    * plan shipped every doc ~len/16 times through the lead() shuffle).
    * The one exchange in the plan is `repartition(chunk_hash)`, whose
    * hash clustering serves BOTH aggregate levels ((hash, doc) then
    * hash) — and it moves (32-hex digest, id, len) rows, never text.
    * Returns the cross-document duplicated chunks: (chunk_hash, n_docs,
    * n_occ, chunk_len) with n_docs ≥ 2 — output bounded by distinct
    * shared chunks, never pairs. */
  def cdcChunkDedup(df: DataFrame, id: Column, text: Column,
      window: Int = 16): DataFrame =
    chunkOccurrences(df, id, text, window).repartition(col("chunk_hash"))
      .groupBy(col("chunk_hash"), col("__id"))
      .agg(count(lit(1)).as("__occ"), min(col("__len")).as("__len"))
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__occ")).as("n_occ"),
        min(col("__len")).as("chunk_len"))
      .filter(col("n_docs") >= 2)

  /** Internal: the (\_\_id, chunk_hash, \_\_len) content-defined chunk
    * occurrence table — one row per chunk of every document, built
    * entirely IN-ROW ([[graft.plans.CdcBoundaries]] rolling-hash
    * boundaries zipped with their own shifted slice), shared by
    * [[cdcChunkDedup]], [[buildChunkIndex]] and [[chunkNovelty]] so the
    * index build and the probe can never disagree on chunking. */
  private def chunkOccurrences(df: DataFrame, id: Column, text: Column,
      window: Int): DataFrame = {
    require(window >= 2)
    graft.plans.CdcBoundaries.register(df.sparkSession)
    val base = df.select(id.as("__id"), text.as("__t"))
    val t = col("__t")
    // starts (always led by 1) ++ the L+1 sentinel that closes the last
    // chunk; zip starts with their successors → (start, end) per chunk
    val b = concat(
      call_function(graft.plans.CdcBoundaries.name, t, lit(window)),
      array(length(t) + 1))
    val chunks = zip_with(
      slice(b, lit(1), size(b) - 1), slice(b, lit(2), size(b) - 1),
      (s, e) => t.substr(s, e - s))
    base.select(col("__id"), explode(chunks).as("__chunk"))
      .select(col("__id"), md5(col("__chunk")).as("chunk_hash"),
        length(col("__chunk")).as("__len"))
  }

  /** Build the persisted CONTENT-DEFINED CHUNK index of a corpus: the
    * DISTINCT chunk digests (with a representative length) of every
    * document's CDC chunks, written sorted by digest for row-group
    * skipping on probes. This is the storage half of incremental
    * fine-grained dedup: the index is bounded by distinct content
    * (each shared paragraph stored once as a 16-byte digest row, never
    * per occurrence), and probing a new crawl batch against it
    * ([[chunkNovelty]]) answers "how many bytes of this batch are
    * actually new" WITHOUT ever re-reading history text — the same
    * amortization argument as [[buildMinHashIndex]], at chunk grain.
    * Rebuild is overwrite (a rebuild IS the compaction). */
  def buildChunkIndex(corpus: DataFrame, id: Column, text: Column,
      path: String, window: Int = 16): Unit =
    chunkOccurrences(corpus, id, text, window)
      .groupBy(col("chunk_hash")).agg(min(col("__len")).as("chunk_len"))
      .sortWithinPartitions("chunk_hash")
      .write.mode("overwrite").parquet(path)

  /** Probe a [[buildChunkIndex]] index with a new batch: per batch
    * document, how many of its content-defined chunks — and how many
    * of its CHARACTERS — are novel against the indexed history. The
    * per-document novel-byte ratio is the number an incremental crawl
    * ingest actually budgets on ("this batch is 3% new content"); a
    * doc-grain near-dup pass can't see a boilerplate-heavy page that is
    * 95% already-stored paragraphs. Plan: batch chunks built in-row,
    * ONE digest equi-join against the distinct-hash index (no fanout —
    * the index is unique on digest), one per-doc aggregate; history
    * text is never read. Within-batch repeats count as novel on every
    * occurrence (the index freezes at probe time; route same-batch
    * dedup through [[cdcChunkDedup]] first). */
  def chunkNovelty(batch: DataFrame, id: Column, text: Column,
      path: String, window: Int = 16): DataFrame = {
    val spark = batch.sparkSession
    val idx = spark.read.parquet(path)
      .select(col("chunk_hash"), lit(true).as("__known"))
    chunkOccurrences(batch, id, text, window)
      .join(idx, Seq("chunk_hash"), "left")
      .groupBy(col("__id").as("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("__known").isNull, 1)).as("n_novel"),
        sum(col("__len")).as("total_chars"),
        coalesce(sum(when(col("__known").isNull, col("__len"))), lit(0L))
          .as("novel_chars"))
      .withColumn("novel_ratio", // NULL, not NaN, for an all-empty doc
        when(col("total_chars") > 0,
          round(col("novel_chars").cast(DoubleType) /
            col("total_chars"), 6)))
  }

  /** Cross-source near-duplication MATRIX: for every unordered source
    * pair, how many J ≥ τ near-dup document pairs span it — the
    * "which feeds are re-publishing which" corpus diagnostic that
    * turns a dedup pass's pair list into an actionable per-source
    * report (mirror sites, syndication, self-duplication on the
    * diagonal). Pair generation rides the BANDED-MinHash scale path
    * ([[minHashNearDups]], 64 hashes × 16 bands, exact verification of
    * candidates) — NOT the exact prefix-filter join; the rollup is two
    * id-keyed equi-joins to attach sources and one bounded (|sources|²)
    * aggregate. BANDING-MISS TRIAGE (same note as q90d): the oracle is
    * the exact all-pairs join, so a hash mismatch on fresh data most
    * likely means a true pair near the τ boundary was missed by banding
    * (~0.11 miss probability per pair at J = 0.6 under 16×4) — check
    * the missing pair's Jaccard before suspecting the rollup. */
  def dupSourceMatrix(df: DataFrame, id: String, text: String,
      src: String, thresholdPct: Int = 60,
      ngramWords: Int = 2): DataFrame = {
    // pair generation rides the BANDED-MinHash scale path (the q90d
    // measured exit), not the exact prefix-filter join: the matrix only
    // consumes verified ≥τ pairs, and on the gram-saturated 10× fixture
    // the exact join's candidate flood cost this operator 113.6 s and a
    // 2.6 GB spill where banding + exact verification returns the
    // IDENTICAL pair set (q90d: recall 1.0 measured, RECALL.json) in
    // ~8 s with zero spill. The oracle stays the exact all-pairs join —
    // every sweep re-proves the equivalence on this corpus's
    // J-distribution. Swap back to [[jaccardJoin]] only for corpora
    // with mass at the τ boundary, where banding's miss probability
    // (~0.11 at J=0.6 under 16×4) is a real recall tax.
    val pairs = minHashNearDups(df, id, text,
      threshold = thresholdPct / 100.0, numHashes = 64, bands = 16,
      shingleWords = ngramWords)
    val s = df.select(col(id), col(src))
    pairs
      .join(s.select(col(id).as("doc_a"), col(src).as("__sa")),
        Seq("doc_a"))
      .join(s.select(col(id).as("doc_b"), col(src).as("__sb")),
        Seq("doc_b"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** SPLIT-LEAKAGE audit: near-duplicate pairs (J ≥ τ on word n-grams)
    * whose endpoints landed in DIFFERENT splits of a deterministic
    * train/val/test assignment — the eval-set honesty check every
    * corpus release needs: a test document with a J=0.9 twin in train
    * makes the eval score a memorization measurement, and a doc-count
    * split integrity check (q09e) cannot see it. Returns the leaked
    * pairs (doc_a, doc_b, jaccard, split_a, split_b), output bounded
    * by the corpus's near-dup pair count.
    *
    * Pair generation rides the BANDED-MinHash scale path
    * ([[minHashNearDups]], exact verification of candidates), so the
    * audit runs at corpus scale without an all-pairs join; the split
    * attach is two id-keyed equi-joins. BANDING-MISS TRIAGE (q90d's
    * note): against an exact oracle, a missing borderline pair
    * (~0.11 per-pair miss at J=0.6 under 16×4) is the banding window,
    * not a bug — and for THIS operator a missed leaked pair is a
    * missed leak, so corpora with J-mass near τ should pass bands=32
    * (the measured RECALL.json boundary guidance). */
  def splitLeakage(df: DataFrame, id: String, text: String,
      split: Column, thresholdPct: Int = 60, numHashes: Int = 64,
      bands: Int = 16, ngramWords: Int = 2): DataFrame = {
    val pairs = minHashNearDups(df, id, text,
      threshold = thresholdPct / 100.0, numHashes = numHashes,
      bands = bands, shingleWords = ngramWords)
    val s = df.select(col(id), split.as("__split"))
    pairs
      .join(s.select(col(id).as("doc_a"), col("__split").as("split_a")),
        Seq("doc_a"))
      .join(s.select(col(id).as("doc_b"), col("__split").as("split_b")),
        Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
  }

  /** EMBEDDING-CENTROID drift between CONSECUTIVE cohorts (days,
    * ingest batches): per cohort the per-dimension mean vector, then
    * for each adjacent cohort pair the centroid cosine similarity and
    * L2 shift — the embedding-space companion to the scalar drift
    * family (q46f–q46i): an encoder version bump, a scraper pulling a
    * new site mix, or a language-share move all show up as the
    * centroid walking before any scalar column drifts.
    *
    * Scale shape: ONE posexplode pass feeds a (cohort, dim) aggregate
    * — the map-side partials bound the shuffle at |cohorts|·dims rows
    * regardless of corpus size — and the pairing join + final fold run
    * on that config-sized centroid table, never on vectors.
    * Determinism: per-dim means are [[Canon.avgDec]] rounded to 9 dp;
    * the cosine/L2 folds sum 9-dp-rounded products through the decimal
    * grid, so both engines fold identical term lists. */
  def centroidDrift(df: DataFrame, vec: String,
      cohort: Column): DataFrame = {
    val ex = df.filter(col(vec).isNotNull)
      .select(cohort.cast("long").as("__c"),
        posexplode(col(vec)).as(Seq("__d", "__x")))
    val cent = ex.groupBy(col("__c"), col("__d"))
      .agg(round(Canon.avgDec(col("__x").cast(DoubleType)), 9).as("__m"))
      .persistOnce()
    val a = cent.select(col("__c").as("cohort_a"), col("__d"),
      col("__m").as("__ma"))
    val b = cent.select((col("__c") - 1).as("cohort_a"),
      col("__d"), col("__m").as("__mb"))
    val dec9 = org.apache.spark.sql.types.DecimalType(38, 9)
    def fold(t: Column) = sum(round(t, 9).cast(dec9)).cast(DoubleType)
    a.join(b, Seq("cohort_a", "__d"))
      .groupBy(col("cohort_a"))
      .agg(fold(col("__ma") * col("__mb")).as("__ab"),
        fold(col("__ma") * col("__ma")).as("__aa"),
        fold(col("__mb") * col("__mb")).as("__bb"),
        fold((col("__ma") - col("__mb")) *
          (col("__ma") - col("__mb"))).as("__d2"))
      .select(col("cohort_a"), (col("cohort_a") + 1).as("cohort_b"),
        round(col("__ab") / sqrt(col("__aa") * col("__bb")), 6)
          .as("cos_sim"),
        round(sqrt(col("__d2")), 6).as("l2_shift"))
  }

  /** SCD TYPE-2 history build as a library operator (the q59 shape):
    * collapse a per-key event stream into attribute-validity intervals
    * — each attribute CHANGE opens an interval, the next change closes
    * it (NULL eff_to = still current), version numbers are
    * change-ordinals. One shuffle on the key. `(ord1, ord2)` must
    * totally order events within a key. */
  def scd2Build(ev: DataFrame, key: String, attr: String,
      ord1: String, ord2: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ord1).asc, col(ord2).asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col(key), col(attr), col(ord1), col(ord2))
      .withColumn("__ischg",
        when(lag(col(attr), 1).over(w).isNull ||
          lag(col(attr), 1).over(w) =!= col(attr), 1).otherwise(0))
      .withColumn("version", sum(col("__ischg")).over(wRun).cast("int"))
      .filter(col("__ischg") === 1)
      .withColumn("eff_to", lead(col(ord1), 1).over(
        Window.partitionBy(col(key))
          .orderBy(col(ord1).asc, col(ord2).asc)))
      .select(col(key), col(attr), col(ord1).as("eff_from"),
        col("eff_to"), col("eff_to").isNull.as("is_current"),
        col("version"))
  }

  /** INCREMENTAL SCD2 merge: apply an APPEND-ONLY delta event batch to
    * an existing [[scd2Build]] history WITHOUT recomputing untouched
    * keys — the nightly dimension-maintenance shape (a full rebuild
    * re-windows every key's whole event history; at 100 TB the delta
    * touches a sliver of the keys and this touches only them).
    *
    *  - keys absent from the delta: history rows pass through
    *    UNCHANGED (one anti-join — broadcastable when the delta's key
    *    set is small);
    *  - touched keys: closed intervals are immutable and pass through;
    *    only the CURRENT row can change — it is replayed as a
    *    pseudo-event ahead of the key's delta events (the append-only
    *    contract: every delta `(ord1)` is ≥ the key's history — makes
    *    "ahead" well-defined), change detection reruns over that
    *    per-key sliver, versions continue from the current row's.
    *
    * Result is row-identical to `scd2Build(history events ∪ delta)` —
    * EngineSpec proves the equivalence; the q59c oracle replays the
    * full rebuild. */
  def scd2Merge(history: DataFrame, delta: DataFrame, key: String,
      attr: String, ord1: String, ord2: String): DataFrame = {
    val ordT = delta.schema(ord2).dataType
    val touched = delta.select(col(key)).distinct()
    val hUntouched = history.join(touched, Seq(key), "left_anti")
    val hTouched = history.join(touched, Seq(key), "left_semi")
    val closed = hTouched.filter(!col("is_current"))
    val cur = hTouched.filter(col("is_current"))
    val ev = cur.select(col(key), col(attr),
        col("eff_from").as("__o1"), lit(null).cast(ordT).as("__o2"),
        lit(0).as("__flag"))
      .unionByName(delta.select(col(key), col(attr),
        col(ord1).as("__o1"), col(ord2).as("__o2"), lit(1).as("__flag")))
    val w = Window.partitionBy(col(key))
      .orderBy(col("__o1").asc, col("__flag").asc, col("__o2").asc)
    val replayed = ev
      .withColumn("__lag", lag(col(attr), 1).over(w))
      .withColumn("__ischg", when(col("__lag").isNull ||
        col("__lag") =!= col(attr), 1).otherwise(0))
      .withColumn("__isnew",
        when(col("__flag") === 1 && col("__ischg") === 1, 1)
          .otherwise(0))
      .withColumn("__cum", sum(col("__isnew")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__flag") === 0 || col("__isnew") === 1)
      .withColumn("__eff_to", lead(col("__o1"), 1).over(
        Window.partitionBy(col(key))
          .orderBy(col("__o1").asc, col("__flag").asc, col("__o2").asc)))
      .join(cur.select(col(key), col("version").as("__basev")),
        Seq(key), "left")
      .select(col(key), col(attr), col("__o1").as("eff_from"),
        col("__eff_to").as("eff_to"),
        col("__eff_to").isNull.as("is_current"),
        (coalesce(col("__basev"), lit(0)) + col("__cum")).cast("int")
          .as("version"))
    hUntouched.unionByName(closed).unionByName(replayed)
  }

  /** POPULATION STABILITY INDEX between a baseline group `a` and a
    * current group `b` over `value` — the binned member of the drift
    * family (TVD q46c sees categorical mass moves, KS q46f the largest
    * CDF gap, rank-sum q46g a stochastic shift; PSI is what model
    * monitoring dashboards actually alarm on, with the industry 0.2
    * threshold). Bins are `bins` equal-width cells over the BASELINE's
    * [min, max] (outliers clamp into the edge cells — the baseline
    * defines the reference frame, exactly why PSI detects range drift);
    * empty-side proportions take the standard 1e-4 floor so the log
    * stays finite.
    *
    * Scale shape: one projection scan → a 1-ROW bounds aggregate rides
    * a broadcast cross join (never a driver collect), binning is a
    * map-side expression, the per-bin count is ONE hash aggregate over
    * ≤ `bins` groups, and the final fold is over ≤ `bins` rows.
    * Determinism: each bin's term is rounded to 9 dp and summed on the
    * exact decimal grid; bin ids come from one pinned IEEE
    * floor-of-division evaluated identically in both engines. */
  def psiDrift(df: DataFrame, group: Column, value: Column,
      a: String, b: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"psiDrift: need at least 2 bins, got $bins")
    val f = df.filter(group.isin(a, b) && value.isNotNull)
      .select(group.as("__g"), value.as("__v"))
    val bounds = f.filter(col("__g") === a)
      .agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
    val width = (col("__mx") - col("__mn")) / lit(bins).cast(DoubleType)
    val binned = f.crossJoin(broadcast(bounds))
      .withColumn("__bin",
        when(col("__mx") === col("__mn"), lit(0)).otherwise(
          least(greatest(floor((col("__v") - col("__mn")) / width),
            lit(0)), lit(bins - 1))).cast("int"))
    val perBin = binned.groupBy(col("__bin"))
      .agg(count(when(col("__g") === a, 1)).as("__ca"),
        count(when(col("__g") === b, 1)).as("__cb"))
    val totals = perBin.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val terms = perBin.crossJoin(broadcast(totals))
      .withColumn("__pa", when(col("__ca") === 0, lit(1e-4)).otherwise(
        col("__ca").cast(DoubleType) / col("__na").cast(DoubleType)))
      .withColumn("__pb", when(col("__cb") === 0, lit(1e-4)).otherwise(
        col("__cb").cast(DoubleType) / col("__nb").cast(DoubleType)))
      .withColumn("__term",
        (col("__pa") - col("__pb")) * log(col("__pa") / col("__pb")))
    val psi = round(sum(round(col("__term"), 9)
      .cast(org.apache.spark.sql.types.DecimalType(38, 9)))
      .cast(DoubleType), 6)
    val out = terms.agg(max(col("__na")).as("n_base"),
      max(col("__nb")).as("n_cur"), psi.as("psi"))
    val (nbc, ncc) = (out.select("n_base", "n_cur").collect() match {
      case Array(r) => (if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))
      case _ => (0L, 0L)
    }) // bounded: one 2-long row — the non-empty contract check
    require(nbc > 0 && ncc > 0,
      s"psiDrift: both groups must be non-empty (|$a|=$nbc, |$b|=$ncc)")
    out.select(col("n_base"), col("n_cur"), col("psi"),
      (col("psi") > lit(0.2)).as("drift"))
  }

  /** KEY-SKEW AUDIT: the one-row diagnostic a 100 TB join/aggregation
    * plan review starts from — per-key cardinality shape for a proposed
    * shuffle key. Reports row/key counts, the heaviest key and its
    * share, the skew factor (max/avg per-key count; 1.0 = perfectly
    * uniform), normalized Shannon entropy of the key distribution
    * (1.0 = uniform, → 0 = one key dominates), and `salt_hint` —
    * ceil(skew factor), the salt fan-out that levels the heaviest
    * key's partition to the average ([[saltedJoin]]'s knob, measured
    * instead of guessed).
    *
    * Scale shape: ONE hash aggregate builds the per-key counts (the
    * same exchange the audited shuffle would do), then two bounded
    * aggregates over the counts frame; the totals row rides a
    * broadcast cross join. Ties on the max count report the SMALLEST
    * key; entropy terms round to 9 dp onto the exact decimal grid. */
  def skewAudit(df: DataFrame, key: Column): DataFrame = {
    val counts = df.filter(key.isNotNull).groupBy(key.as("__k"))
      .agg(count(lit(1)).as("__cnt")).persistOnce()
    val totals = counts.agg(sum(col("__cnt")).as("__n"),
      count(lit(1)).as("__keys"), max(col("__cnt")).as("__maxc"))
    val withT = counts.crossJoin(broadcast(totals))
    val p = col("__cnt").cast(DoubleType) / col("__n").cast(DoubleType)
    val entSum = sum(round(-p * log(p), 9)
      .cast(org.apache.spark.sql.types.DecimalType(38, 9)))
      .cast(DoubleType)
    val skew = col("max_cnt").cast(DoubleType) * col("n_keys")
      .cast(DoubleType) / col("n_rows").cast(DoubleType)
    withT.agg(
      max(col("__n")).as("n_rows"), max(col("__keys")).as("n_keys"),
      max(col("__maxc")).as("max_cnt"),
      min(when(col("__cnt") === col("__maxc"), col("__k")))
        .as("top_key"),
      entSum.as("__ent"))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        col("top_key"),
        round(col("max_cnt").cast(DoubleType) /
          col("n_rows").cast(DoubleType), 6).as("max_share"),
        round(skew, 6).as("skew_factor"),
        when(col("n_keys") === 1, lit(1.0)).otherwise(
          round(col("__ent") / log(col("n_keys").cast(DoubleType)), 6))
          .as("entropy_norm"),
        ceil(skew).cast("int").as("salt_hint"))
  }

  /** RECIPROCAL-RANK FUSION of two per-query top-k lists — the hybrid
    * retrieval combiner (Cormack et al. 2009): fused score =
    * Σ 1/(kRrf + rank) over the lists that ranked the item, so items
    * high on EITHER list surface without any score calibration between
    * a BM25 scale and a cosine scale (the reason RRF, not score
    * averaging, is the production default for text+vector search).
    * Inputs are two (qid, item, rnk) frames — e.g. [[bm25Search]] and
    * [[cosineTopK]] outputs over a shared id space; `k` bounds the
    * fused output per query.
    *
    * Scale shape: both inputs are top-k lists (≤ |Q|·k lean id rows —
    * the text/vector payloads never reach this operator), the
    * full-outer join is on (qid, item), and the final per-query
    * row_number window partitions on qid. Rank ties break on item id;
    * the two reciprocal terms add in one pinned IEEE order. */
  def rrfFuse(a: DataFrame, b: DataFrame, qid: String, item: String,
      rnk: String, k: Int, kRrf: Int = 60): DataFrame = {
    require(k >= 1 && kRrf >= 1)
    val la = a.select(col(qid).as("__q"), col(item).as("__i"),
      col(rnk).as("__ra"))
    val lb = b.select(col(qid).as("__q"), col(item).as("__i"),
      col(rnk).as("__rb"))
    val fused = la.join(lb, Seq("__q", "__i"), "full_outer")
      .withColumn("__score", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("__ra")).cast(DoubleType),
          lit(0.0)) +
        coalesce(lit(1.0) / (lit(kRrf) + col("__rb")).cast(DoubleType),
          lit(0.0)), 6))
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("__score").desc, col("__i").asc)
    fused.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("__q").as("query_id"),
        col("__rn").cast("int").as("rnk"), col("__i").as("item"),
        col("__score").as("score"))
  }

  /** PER-KEY time-series RESAMPLE with LINEAR INTERPOLATION: project
    * each key's irregular (ts, value) observations onto a fixed
    * `stepDays`-day grid strictly inside the key's observed [min, max]
    * span — the feature-pipeline regularizer (training windows want
    * aligned timestamps, sensors/prices arrive when they arrive).
    * Complements q48's dense-spine LOCF gap fill: this one
    * interpolates BETWEEN bracketing observations, per key, and emits
    * only grid points (every one of which has both a previous and a
    * next observation by construction, so no edge NULLs exist).
    *
    * Scale shape: per-key bounds are one hash aggregate; the grid
    * explodes from a bounded sequence() (span/step rows per key); the
    * observation∪grid spine shuffles ONCE on the key and both
    * bracketing lookups are running last/first-ignoreNulls windows
    * inside that partition — the q26 as-of discipline, never a range
    * self-join. Determinism: ties at one timestamp order observations
    * before grid points then by `tieBreak`; a grid point landing
    * exactly on an observation returns that value; the interpolation
    * is one pinned IEEE expression over exact microsecond deltas,
    * rounded to 6 dp. */
  def resampleInterpolate(df: DataFrame, key: Column, ts: Column,
      tieBreak: Column, value: Column, stepDays: Int = 1): DataFrame = {
    require(stepDays >= 1, s"resampleInterpolate: stepDays $stepDays")
    val obs = df.filter(key.isNotNull && ts.isNotNull && value.isNotNull)
      .select(key.as("__k"), ts.as("__ts"), tieBreak.as("__tb"),
        value.as("__v"))
    val grid = obs.groupBy(col("__k"))
      .agg(min(col("__ts")).as("__mn"), max(col("__ts")).as("__mx"))
      .select(col("__k"),
        date_trunc("DAY", col("__mn")).as("__d0"),
        date_trunc("DAY", col("__mx")).as("__d1"))
      .filter(col("__d1") >= col("__d0") + expr(
        s"INTERVAL $stepDays DAYS"))
      .select(col("__k"), explode(expr(
        s"sequence(__d0 + INTERVAL $stepDays DAYS, __d1," +
          s" INTERVAL $stepDays DAYS)")).as("__ts"))
      .select(col("__k"), col("__ts"), lit(null).cast("long").as("__tb"),
        lit(null).cast(DoubleType).as("__v"), lit(1).as("__isg"))
    val spine = obs.withColumn("__isg", lit(0))
      .select("__k", "__ts", "__tb", "__v", "__isg")
      .unionByName(grid)
    val ord = Seq(col("__ts").asc, col("__isg").asc,
      col("__tb").asc_nulls_first)
    val wp = Window.partitionBy(col("__k")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col("__k")).orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val vts = when(col("__v").isNotNull, col("__ts"))
    val withBrackets = spine
      .withColumn("__vp", last(col("__v"), ignoreNulls = true).over(wp))
      .withColumn("__tp", last(vts, ignoreNulls = true).over(wp))
      .withColumn("__vn", first(col("__v"), ignoreNulls = true).over(wn))
      .withColumn("__tn", first(vts, ignoreNulls = true).over(wn))
    val ratio = (unix_micros(col("__ts")) - unix_micros(col("__tp")))
      .cast(DoubleType) /
      (unix_micros(col("__tn")) - unix_micros(col("__tp")))
        .cast(DoubleType)
    withBrackets.filter(col("__isg") === 1)
      .select(col("__k").as("key"), col("__ts").as("ts"),
        round(when(col("__ts") === col("__tp"), col("__vp"))
          .otherwise(col("__vp") + (col("__vn") - col("__vp")) * ratio),
          6).as("value_interp"))
  }

  /** Distributed CUSUM change-point trace per key — SEQUENTIAL drift
    * detection (Page 1954), the family member q46c/f/g/h can't cover:
    * those compare two static samples; CUSUM watches a metric stream
    * and accumulates evidence until a persistent shift crosses the
    * decision threshold. Per key: the daily mean series x_d, a
    * reference mean μ from the pre-`refCutoff` days, slack
    * k = slackPct% of μ and threshold h = threshPct% of μ, then the
    * one-sided statistic S_d = max(0, S_{d-1} + x_d − μ − k).
    *
    * THE SCALE TRICK: the recurrence is NOT computed sequentially.
    * S_d = P_d − min(0, min_{j≤d} P_j) where P is the running prefix
    * sum of (x − μ − k) — so the whole trace is two ordinary
    * partitioned window aggregates (running sum + running min), one
    * shuffle on the key, no iterative loop, no per-key fold UDF. And
    * because x, μ, k are all 6-dp-rounded, the prefix arithmetic runs
    * on DECIMAL(38,6) — EXACT and order-free, so the trace (and the
    * detected boolean) is bit-identical across engines, partitionings
    * and reruns; a floating CUSUM would drift in the last ulp per
    * step. Keys with no reference days are dropped (no μ to test
    * against). */
  def cusumChangePoints(df: DataFrame, key: Column, ts: Column,
      value: Column, refCutoff: Column, slackPct: Int = 10,
      threshPct: Int = 50): DataFrame =
    cusumSeries(dailyMeans(df, key, ts, value), refCutoff, slackPct,
      threshPct)

  /** Per-key daily-mean rollup — the shared first stage of the drift
    * family ([[cusumChangePoints]], [[q100d]]'s monitoring capstone):
    * (key, day, daily_mean) with the mean 6-dp-rounded through the
    * exact decimal sum. One keyed exchange. */
  def dailyMeans(df: DataFrame, key: Column, ts: Column,
      value: Column): DataFrame =
    df.filter(key.isNotNull && ts.isNotNull && value.isNotNull)
      .groupBy(key.as("key"), date_trunc("DAY", ts).as("day"))
      .agg(round(Canon.avgDec(value), 6).as("daily_mean"))

  /** The CUSUM recurrence over an already-built (key, day, daily_mean)
    * series — split from [[cusumChangePoints]] so normalized series
    * (e.g. deseasonalized by [[seasonalIndexDow]]) can feed the same
    * detector. S_d = max(0, S_{d-1} + x_d − μ − k) computed as
    * P_d − min(0, min_{j≤d} P_j) over prefix sums — two partitioned
    * window aggregates on DECIMAL(38,6), no sequential loop, exact and
    * order-free. */
  def cusumSeries(daily: DataFrame, refCutoff: Column,
      slackPct: Int = 10, threshPct: Int = 50): DataFrame = {
    require(slackPct >= 0 && threshPct > 0)
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val ref = daily.filter(col("day") < refCutoff)
      .groupBy(col("key"))
      .agg(round(Canon.avgDec(col("daily_mean")), 6).as("mu_ref"))
      .withColumn("__kk",
        round(col("mu_ref") * lit(slackPct / 100.0), 6))
      .withColumn("__h",
        round(col("mu_ref") * lit(threshPct / 100.0), 6))
    val w = Window.partitionBy(col("key")).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = (col("daily_mean").cast(dec) - col("mu_ref").cast(dec) -
      col("__kk").cast(dec))
    val joined = daily.join(ref, Seq("key"))
      .withColumn("__p", sum(d).over(w))
      .withColumn("__minp",
        least(lit(0).cast(dec), min(col("__p")).over(w)))
      .withColumn("__s", col("__p") - col("__minp"))
    // the trailing round is lossless (the decimal is exact at 6 dp) but
    // necessary: decimal→double conversion takes different paths across
    // engines (hugeint scaling vs long scaling) and can differ by ~1e-15
    joined.select(col("key"), col("day"), col("daily_mean"),
      col("mu_ref"),
      round(col("__s").cast(DoubleType), 6).as("cusum"),
      (col("__s") > col("__h").cast(dec)).as("detected"))
  }

  /** Sliding-window TOKEN CHUNKING with overlap — the RAG-ingestion
    * pass (split every document into `window`-token chunks every
    * `stride` tokens, so consecutive chunks share `window − stride`
    * tokens of context and no sentence straddling a boundary is lost
    * to retrieval). Emits (id, chunk_index, chunk_text, n_tokens);
    * the final chunk may be short — dropping it would lose the
    * document tail.
    *
    * Plan: a PURE per-row explode of a bounded sequence() — tokens
    * never leave their row, no shuffle, no state; at 100 TB this is
    * embarrassingly parallel map work and the output lands already
    * collocated with its source document. */
  def ragChunks(df: DataFrame, id: Column, text: Column,
      window: Int = 30, stride: Int = 20): DataFrame = {
    require(window >= 1 && stride >= 1,
      s"ragChunks: window $window / stride $stride must be >= 1")
    df.select(id.as("doc_id"), split(text, " ").as("__ws"))
      .select(col("doc_id"), col("__ws"),
        posexplode(expr(s"sequence(1, size(__ws), $stride)"))
          .as(Seq("chunk_index", "__st")))
      .select(col("doc_id"), col("chunk_index").cast("int"),
        concat_ws(" ", slice(col("__ws"), col("__st"), lit(window)))
          .as("chunk_text"),
        size(slice(col("__ws"), col("__st"), lit(window))).cast("int")
          .as("n_tokens"))
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein
    * 1998): from each query's top-`n` relevance candidates, greedily
    * select `k` diversified results — pick = argmax of
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — so near-duplicate
    * hits don't crowd the result list (the diversification pass after
    * [[cosineTopK]]/[[rrfFuse]] retrieval).
    *
    * THE PLAN SHAPE: the greedy loop is UNROLLED at plan-build time
    * into `k` chained (anti-join → max-sim aggregate → argmax window)
    * stages over the bounded candidate set — no driver loop over data,
    * no UDF, no recursion; every stage is keyed by query id, and the
    * only quadratic object is the n×n per-query candidate-pair matrix
    * (n is a knob, never the corpus). Embeddings are read once to
    * build that matrix; the iteration itself moves only lean
    * (query, item, score) rows. Ties break on item id; all score
    * arithmetic runs ×100 on DECIMAL(38,6) — exact and engine-stable
    * (see the inline note) — so the pick sequence hash-matches. λ is
    * `lambdaPct`/100 (default 0.7 — the paper's relevance-leaning
    * setting). */
  def mmrRerank(corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String,
      n: Int, k: Int, lambdaPct: Int = 70): DataFrame = {
    require(n >= k && k >= 1, s"mmrRerank: need n >= k >= 1 ($n, $k)")
    require(lambdaPct >= 0 && lambdaPct <= 100)
    // score arithmetic runs ×100 on DECIMAL(38,6): λ·rel − (1−λ)·msim
    // over 6-dp-rounded sims lands on 7th-decimal HALFWAY points ~10%
    // of the time, where Spark (shortest-string HALF_UP) and other
    // engines (exact-binary) round apart — integer-scaled decimals
    // make every comparison and the emitted score exact instead
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    // q92's scored-cross shape, but self-matches drop BEFORE ranking so
    // every query gets a full n candidates
    val scored = corpus
      .select(col(id).as("__i"), col(vec).as("__e"))
      .crossJoin(broadcast(queries.select(col(qid).as("__q"),
        col(qvec).as("__qe"))))
      .filter(col("__i") =!= col("__q"))
      .select(col("__q"), col("__i"),
        cosine(col("__qe"), col("__e")).as("__rel"))
    // cand is |Q|·n rows but its SUBTREE is the corpus-wide cosine
    // scan + top-n window: every unrolled step anti-joins against it,
    // so without the persist the greedy loop re-scores the corpus
    // k+1 times (measured 11.4 s -> the persisted plan's ~2 s at
    // sf0.1)
    val cand = topKWithin(scored, "__q",
        Seq(col("__rel").desc, col("__i").asc), n)
      .drop("rnk").persistOnce()
    val withVec = cand.join(
      corpus.select(col(id).as("__i"), col(vec).as("__e")), Seq("__i"))
      .persistOnce()
    val pairSim = withVec.select(col("__q"), col("__i"), col("__e"))
      .join(withVec.select(col("__q"), col("__i").as("__j"),
        col("__e").as("__e2")), Seq("__q"))
      .filter(col("__i") =!= col("__j"))
      .select(col("__q"), col("__i"), col("__j"),
        cosine(col("__e"), col("__e2")).as("__sim"))
      .persistOnce()
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("__s100").desc, col("__i").asc)
    // every pick is |Q| rows but is REFERENCED three times by the next
    // step (anti-join, semi-join, union): uncached, the unrolled plan
    // re-derives the whole history ~3^k times (the kCore lineage
    // lesson; measured 11–14 s -> ~2 s at sf0.1 once cached). r16:
    // cache alone fixes only EXECUTION — the LOGICAL plan still holds
    // ~3^k copies of the pick subtree and Catalyst analyzes/optimizes
    // every copy on the single final action (driver-side planning was
    // the residual ~5 s of this query's bench wall, guide §7.3 "very
    // large query plans"). localCheckpoint is eager and TRUNCATES the
    // lineage, so step t's plan sees step t−1 as a leaf: planning cost
    // returns to linear in k. Values are unchanged — each pick is the
    // same deterministic |Q|-row table, just materialized.
    val firstPick = cand
      .withColumn("__s100", lit(lambdaPct) * col("__rel").cast(dec))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("__q"), col("__i"), col("__s100"),
        lit(1).as("step"))
      .localCheckpoint()
    var selected = firstPick
    for (t <- 2 to k) {
      val rem = cand.join(
        selected.select(col("__q"), col("__i")), Seq("__q", "__i"),
        "left_anti")
      val ms = rem
        .join(pairSim, Seq("__q", "__i"))
        .join(selected.select(col("__q"), col("__i").as("__j")),
          Seq("__q", "__j"), "left_semi")
        .groupBy(col("__q"), col("__i"))
        .agg(max(col("__rel")).as("__rel"), // constant within group
          max(col("__sim")).as("__msim"))
      val pick = ms
        .withColumn("__s100",
          lit(lambdaPct) * col("__rel").cast(dec) -
            lit(100 - lambdaPct) * col("__msim").cast(dec))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__q"), col("__i"), col("__s100"),
          lit(t).as("step"))
        .localCheckpoint() // lineage truncation, see firstPick note
      selected = selected.unionByName(pick)
    }
    selected.select(col("__q").as("query_id"),
      col("step").cast("int").as("step"), col("__i").as("item"),
      (round(col("__s100").cast(DoubleType), 6) / lit(100.0))
        .as("score"))
  }

  /** JOIN-SIZE AUDIT: the exact output cardinality an equi-join WOULD
    * produce, computed without running it — Σ over matching keys of
    * |a(k)|·|b(k)| — plus the worst key's contribution. The pre-flight
    * check before a 100 TB join: an accidental many-to-many (duplicate
    * keys on both sides) multiplies instead of matching, and this
    * audit prices it from two per-key count aggregates joined on the
    * key — data that is orders of magnitude smaller than the join it
    * predicts. `skew_share` (worst key's fraction of the estimate)
    * is the AQE-skew/salting decision input; ties on the worst
    * product report the smallest key. All arithmetic is exact
    * integer. */
  def joinSizeAudit(a: DataFrame, aKey: Column, b: DataFrame,
      bKey: Column): DataFrame = {
    val ca = a.filter(aKey.isNotNull).groupBy(aKey.as("__k"))
      .agg(count(lit(1)).as("__ca"))
    val cb = b.filter(bKey.isNotNull).groupBy(bKey.as("__k"))
      .agg(count(lit(1)).as("__cb"))
    val prod = ca.join(cb, Seq("__k"))
      .select(col("__k"), (col("__ca") * col("__cb")).as("__p"))
      .persistOnce()
    val totals = prod.agg(
      coalesce(sum(col("__p")), lit(0L)).as("est_join_rows"),
      count(lit(1)).as("n_matching_keys"),
      max(col("__p")).as("max_key_rows"))
    val worst = prod.crossJoin(broadcast(totals))
      .filter(col("__p") === col("max_key_rows"))
      .agg(min(col("__k")).as("worst_key"))
    totals.crossJoin(broadcast(worst))
      .select(col("est_join_rows"), col("n_matching_keys"),
        col("max_key_rows"), col("worst_key"),
        when(col("est_join_rows") > 0, round(
            col("max_key_rows").cast(DoubleType) /
              col("est_join_rows").cast(DoubleType), 6))
          .as("skew_share"))
  }

  /** RETRIEVAL RANKING METRICS — per-query NDCG and MRR of a predicted
    * ranking against a ground-truth ranking, the graded companion to
    * the recall gates (q99i/q99i_b): recall asks "how many of the true
    * top-k came back at all", NDCG asks "and in how good an order",
    * MRR "how soon does the first true hit appear". Inputs are two
    * lean (query, item, rank) tables; graded relevance is derived from
    * the truth rank (rel = depth − rank + 1, the standard linear gain),
    * so callers never hand-label. A predicted item absent from the
    * truth contributes gain 0; a query absent from the truth is
    * dropped (no ideal ranking exists to normalize against).
    *
    * Scale shape: one broadcast-or-shuffle equi-join of two
    * top-k-sized tables (rows = |Q|·k, never corpus-sized) and two
    * keyed aggregates — the metric pass costs nothing next to the
    * retrieval that produced its inputs. Determinism: each DCG term
    * rounds to 6 dp and sums on DECIMAL(38,6) (order-free, exact);
    * log2 runs on the tiny integer grid pos+1 ≤ k+1 where both
    * engines' libm agree; MRR is one IEEE divide of identical
    * inputs. */
  def rankingMetrics(pred: DataFrame, truth: DataFrame,
      q: String, item: String, rnk: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val t = truth.select(col(q).as("__q"), col(item).as("__i"),
      col(rnk).as("__tr"))
    // per-query truth depth: rel = depth − rank + 1 normalizes short
    // truth lists instead of assuming a global k
    val depth = t.groupBy(col("__q")).agg(max(col("__tr")).as("__k"))
    val rel = t.join(depth, Seq("__q"))
      .select(col("__q"), col("__i"), col("__tr"),
        (col("__k") - col("__tr") + 1).as("__rel"))
      .persistOnce()
    val p = pred.select(col(q).as("__q"), col(item).as("__i"),
      col(rnk).as("__pr"))
    val joined = p.join(rel.select(col("__q"), col("__i"), col("__rel")),
        Seq("__q", "__i"), "left")
      .withColumn("__rel", coalesce(col("__rel"), lit(0L)))
    val dcg = joined.groupBy(col("__q")).agg(
      sum(round(col("__rel").cast(DoubleType) /
        log2(col("__pr").cast(DoubleType) + lit(1.0)), 6).cast(dec))
        .as("__dcg"),
      min(when(col("__rel") > 0, col("__pr"))).as("__fp"),
      sum(when(col("__rel") > 0, 1).otherwise(0)).cast("int")
        .as("n_hits"))
    val idcg = rel.groupBy(col("__q")).agg(
      sum(round(col("__rel").cast(DoubleType) /
        log2(col("__tr").cast(DoubleType) + lit(1.0)), 6).cast(dec))
        .as("__idcg"))
    dcg.join(idcg, Seq("__q"))
      .select(col("__q").as("query_id"),
        round(col("__dcg").cast(DoubleType) /
          col("__idcg").cast(DoubleType), 6).as("ndcg"),
        coalesce(round(lit(1.0) / col("__fp"), 6), lit(0.0)).as("mrr"),
        col("n_hits"))
  }

  /** COLUMN PROFILER — per-column (rows, nulls, exact distincts,
    * min, max) over any frame, the data-quality first look before a
    * corpus enters the pipeline (and the freshness check after).
    * Returns long format (one row per column) with min/max rendered
    * as strings so heterogeneous column types share one schema; the
    * cast happens AFTER the typed min/max (string-casting first would
    * corrupt numeric order: "9" > "10").
    *
    * Scale shape: one single-pass aggregate PER COLUMN, unioned — not
    * one pass with N count-distincts, which Catalyst plans as an
    * Expand that multiplies every input row ×N before the shuffle.
    * Under parquet column pruning the per-column jobs each read
    * exactly one column, so total IO equals the one-pass plan's scan
    * while the shuffle stays expand-free; the jobs are independent
    * (a scheduler can run them concurrently). Exact distinct is the
    * point of a profiler; the sketch alternative is [[q33]]'s HLL. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns: need at least one column")
    cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast(StringType).as("min_value"),
        max(col(c)).cast(StringType).as("max_value"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_ unionByName _)
  }

  /** LAG-k AUTOCORRELATION of each key's daily-mean series, lags
    * 1..`maxLag` — the seasonality/persistence diagnostic completing
    * the drift family: CUSUM ([[cusumChangePoints]]) asks "did the
    * level shift", ACF asks "does the series remember itself" (a
    * strong lag-7 says weekly cycle; all-lags-near-zero says the
    * daily means are noise and drift alarms need wider windows).
    *
    * Plan shape: the daily aggregate is one keyed exchange; ALL lag
    * columns come from a single window pass over it (one sort per
    * key, not one per lag), stacked row-locally to (key, lag, x, y)
    * pairs and reduced to per-(key, lag) moment aggregates — the
    * [[q46b]] OLS discipline: exact DECIMAL(38,6) moment sums on
    * 6-dp-rounded inputs, one IEEE-deterministic double expression at
    * the end, round 6. Degenerate series (constant ⇒ zero variance)
    * yield NULL acf identically in both engines via the nullif
    * guard. */
  def autocorrDaily(events: DataFrame, key: Column, ts: Column,
      value: Column, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30)
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    def sumDec6(c: Column) = sum(c.cast(dec)).cast(DoubleType)
    val daily = events
      .filter(key.isNotNull && ts.isNotNull && value.isNotNull)
      .groupBy(key.as("__k"), date_trunc("day", ts).as("__day"))
      .agg(round(sum(value.cast(dec)).cast(DoubleType) /
        count(value).cast(DoubleType), 6).as("__x"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__day"))
    val lagged = (1 to maxLag).foldLeft(daily) { (d, l) =>
      d.withColumn(s"__y$l", lag(col("__x"), l).over(w))
    }
    val stackExpr = (1 to maxLag)
      .map(l => s"$l, __y$l").mkString(s"stack($maxLag, ", ", ",
        ") AS (__lag, __y)")
    val pairs = lagged.select(col("__k"), col("__x"), expr(stackExpr))
      .filter(col("__y").isNotNull)
    val mo = pairs.groupBy(col("__k"), col("__lag")).agg(
      count(lit(1)).cast(DoubleType).as("__n"),
      sumDec6(col("__x")).as("__sx"), sumDec6(col("__y")).as("__sy"),
      sumDec6(col("__x") * col("__y")).as("__sxy"),
      sumDec6(col("__x") * col("__x")).as("__sxx"),
      sumDec6(col("__y") * col("__y")).as("__syy"))
    val den = sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
      (col("__n") * col("__syy") - col("__sy") * col("__sy")))
    mo.select(col("__k").as("key"), col("__lag").cast("int").as("lag"),
      col("__n").cast("int").as("n_pairs"),
      round((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
        when(den === 0, lit(null)).otherwise(den), 6).as("acf"))
  }

  /** KAPLAN-MEIER SURVIVAL curves per signup-week cohort — the
    * time-to-churn view of retention that [[q47c]]'s fixed-window grid
    * can't express: censoring. A user still active at the observation
    * end hasn't churned, they're CENSORED — counting them as churned
    * biases survival down, dropping them biases it up; KM handles both
    * by keeping censored users in the at-risk denominator up to their
    * observed lifetime and never counting them as a death. Churn =
    * last activity more than `churnGapDays` before the corpus's end.
    *
    * Plan shape: one groupBy(user) pass builds lifetimes, one
    * groupBy(cohort, day) builds the risk table, and the curve itself
    * is two PARTITIONED window aggregates over that already-tiny
    * table — the survival product Π(1 − d/n) is computed as
    * exp(Σ ln(1 − d/n)) with each ln term rounded onto the 9-dp
    * decimal grid before the order-free cumulative sum (the [[q11c]]
    * entropy discipline), so the curve is engine-stable. A step that
    * kills the whole risk set (d = n) would be ln(0): a window-max
    * flag pins survival to exactly 0.0 from that step on. */
  def kaplanMeier(events: DataFrame, user: Column, ts: Column,
      churnGapDays: Int = 7): DataFrame = {
    require(churnGapDays >= 0)
    val dec9 = org.apache.spark.sql.types.DecimalType(38, 9)
    val lives = events.filter(user.isNotNull && ts.isNotNull)
      .groupBy(user.as("__u"))
      .agg(min(ts).as("__birth"), max(ts).as("__last"))
    val end = lives.agg(max(col("__last")).as("__end"))
    val risk = lives.crossJoin(broadcast(end))
      .select(date_trunc("week", col("__birth")).as("cohort"),
        datediff(to_date(col("__last")), to_date(col("__birth")))
          .as("t_day"),
        (col("__last") < col("__end") -
          expr(s"INTERVAL $churnGapDays DAYS")).cast("int").as("__churn"))
      .groupBy(col("cohort"), col("t_day"))
      .agg(count(lit(1)).as("__at"),
        sum(col("__churn")).as("n_churn"),
        sum(lit(1) - col("__churn")).as("n_censored"))
    val wRisk = Window.partitionBy(col("cohort")).orderBy(col("t_day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk.withColumn("n_risk", sum(col("__at")).over(wRisk))
      // the d = n step is excluded from the log fold (ln(0) = −∞ would
      // poison the decimal cast differently per engine); the __dead
      // flag pins that step and everything after it to exactly 0.0
      .withColumn("__term",
        when(col("n_churn") > 0 && col("n_churn") < col("n_risk"),
          round(log(lit(1.0) - col("n_churn").cast(DoubleType) /
            col("n_risk").cast(DoubleType)), 9))
        .otherwise(lit(0.0)).cast(dec9))
      .withColumn("__dead",
        max((col("n_churn") === col("n_risk")).cast("int")).over(wCum))
      .withColumn("survival", when(col("__dead") === 1, lit(0.0))
        .otherwise(round(exp(
          sum(col("__term")).over(wCum).cast(DoubleType)), 6)))
      .select(col("cohort"), col("t_day"), col("n_risk"),
        col("n_churn"), col("n_censored"), col("survival"))
  }

  /** BENFORD first-significant-digit audit of a positive measure —
    * the cheap pipeline-corruption tripwire: organically-generated
    * magnitudes follow P(d) = log10(1 + 1/d), while duplicated
    * batches, fill-in defaults, or unit mix-ups bend the digit
    * histogram long before a mean/quantile drifts. Emits one row per
    * digit with observed vs expected share and the χ² statistic.
    *
    * Determinism: the first SIGNIFICANT digit is the first [1-9]
    * character of the DECIMAL(38,9) rendering of the value — decimal
    * formatting emits digits in magnitude order in both engines (plain
    * or scientific), so the first nonzero digit is the significand's
    * leading digit for ANY magnitude ≥ 5e-10 (sub-unit values like
    * 0.095 audit as 9, where an integer-cents rendering would carry
    * the round into a spurious 1; values that round to 0 on the 9-dp
    * grid have no significant digit there and are excluded); expected
    * shares round log10 onto the 9-dp grid; the χ² fold sums
    * 6-dp-rounded decimal terms over the FULL 1..9 digit domain — a
    * digit with zero observations contributes its whole expected count
    * ((0−e)²/e = e), so a histogram missing a digit raises the
    * statistic instead of silently shrinking the sum. The scan
    * aggregates to ≤9 rows in one exchange; the domain join and window
    * totals run on that 9-row frame, not on data. */
  def benfordAudit(df: DataFrame, value: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    // positivity is tested on the DECIMAL — a positive value that rounds
    // to 0 on the 9-dp grid has no significant digit there, and Spark
    // renders zero decimals in E-notation ("0E-9"), whose exponent would
    // otherwise false-match [1-9]
    val vdec = value.cast(org.apache.spark.sql.types.DecimalType(38, 9))
    val observed = df.filter(vdec > 0)
      .select(regexp_extract(vdec.cast(StringType), "[1-9]", 0)
        .cast("int").as("digit"))
      .filter(col("digit").isNotNull)
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val digits = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
      .join(observed, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
    val wAll = Window.partitionBy()
    digits.withColumn("__n", sum(col("n_obs")).over(wAll))
      .filter(col("__n") > 0) // empty input stays an empty audit
      .withColumn("benford_share",
        round(log10((col("digit") + 1).cast(DoubleType) /
          col("digit").cast(DoubleType)), 9))
      .withColumn("__exp", col("__n").cast(DoubleType) * col("benford_share"))
      .withColumn("__t", round(
        (col("n_obs").cast(DoubleType) - col("__exp")) *
          (col("n_obs").cast(DoubleType) - col("__exp")) / col("__exp"), 6)
        .cast(dec))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast(DoubleType) /
          col("__n").cast(DoubleType), 6).as("share"),
        col("benford_share"),
        sum(col("__t")).over(wAll).cast(DoubleType).as("chi2"))
  }

  /** WINSORIZED per-group statistics — the outlier-robust aggregate a
    * quality gate wants when a handful of corrupt magnitudes would
    * otherwise own the mean: clip every value into its group's exact
    * [pLo, pHi] percentile band, report the band, how many rows hit
    * each wall, and the clipped mean. Two passes by necessity (the
    * band must exist before clipping): one exact-percentile aggregate
    * per key, then one keyed join + moment aggregate — both shuffle on
    * the same group key. The band edges round to 6 dp BEFORE clipping
    * so every comparison and the clipped sum run on engine-identical
    * values ([[q38]]'s percentile discipline, [[Canon.sumDec]] for the
    * mean). */
  def winsorizedStats(df: DataFrame, key: Column, value: Column,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi)
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val src = df.filter(key.isNotNull && value.isNotNull)
      .select(key.as("__k"), value.as("__v"))
    val bands = src.groupBy(col("__k"))
      .agg(expr(s"percentile(__v, array(${pLo}D, ${pHi}D))").as("__ps"))
      .select(col("__k"), round(element_at(col("__ps"), 1), 6).as("p_lo"),
        round(element_at(col("__ps"), 2), 6).as("p_hi"))
    src.join(bands, Seq("__k"))
      .withColumn("__c",
        least(greatest(col("__v"), col("p_lo")), col("p_hi")))
      .groupBy(col("__k"), col("p_lo"), col("p_hi"))
      .agg(count(lit(1)).as("n"),
        sum((col("__v") < col("p_lo")).cast("long")).as("n_clipped_lo"),
        sum((col("__v") > col("p_hi")).cast("long")).as("n_clipped_hi"),
        round(sum(col("__c").cast(dec)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("winsorized_mean"))
      .select(col("__k").as("key"), col("p_lo"), col("p_hi"), col("n"),
        col("n_clipped_lo"), col("n_clipped_hi"), col("winsorized_mean"))
  }

  /** K-CORE DECOMPOSITION by bounded synchronous peeling — the graph
    * community extractor completing [[triangleStats]]'s diagnostics:
    * the k-core is the maximal subgraph where every node keeps ≥ k
    * neighbors, the standard way to separate a similarity/
    * co-occurrence graph's dense heart from its pendant fuzz before
    * clustering. Each round recomputes degrees over surviving edges
    * and drops every node below k SIMULTANEOUSLY (synchronous peel:
    * the result is the same fixed point sequential peeling reaches,
    * but each round is two keyed aggregates + two semi-joins — pure
    * bulk-synchronous Spark, no driver data). `rounds` bounds the
    * plan depth; the fixed point is reached when a round removes
    * nothing, and extra rounds past it are idempotent no-ops, so a
    * generous bound is safe and DETERMINISTIC even if unconverged
    * (every engine replaying N rounds gets the identical frontier).
    * Edges are canonicalized first ([[triangleStats]]' rule: dedupe,
    * drop self-loops). Returns the surviving (node, degree) rows. */
  def kCore(edges: DataFrame, u: Column, v: Column, k: Int,
      rounds: Int = 6): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 32)
    // each round MATERIALIZES its surviving edges (localCheckpoint):
    // deg feeds two semi-joins plus the next round, so a lazy plan
    // would re-reference the whole history ~3× per round — exponential
    // lineage that stalls planning long before data moves. Truncating
    // per round keeps every round two aggregates + two hash joins over
    // a concrete frame — the shape an iterative graph pass needs at
    // any scale (and what a cluster job would checkpoint anyway).
    var live = edges.filter(u.isNotNull && v.isNotNull && u =!= v)
      .select(least(u, v).as("__u"), greatest(u, v).as("__v"))
      .distinct().localCheckpoint()
    var deg: DataFrame = null
    for (_ <- 1 to rounds) {
      deg = live.select(col("__u").as("__x"))
        .union(live.select(col("__v").as("__x")))
        .groupBy(col("__x")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
      live = live
        .join(deg.select(col("__x").as("__u")), Seq("__u"), "left_semi")
        .join(deg.select(col("__x").as("__v")), Seq("__v"), "left_semi")
        .localCheckpoint()
    }
    deg.select(col("__x").as("node"), col("__d").as("degree"))
  }

  /** LABEL-PROPAGATION COMMUNITIES by bounded synchronous rounds —
    * the community detector complementing [[kCore]] (which finds ONE
    * dense heart) and [[nearDupClusters]] (which merges anything
    * CONNECTED): LPA partitions a graph into locally-dense groups, the
    * right granularity for "which topical clumps does this
    * co-occurrence graph have". Every node starts as its own label;
    * each round it adopts the most frequent label among its neighbors
    * (ties break on the smallest label — with synchronous updates this
    * makes every round a deterministic function of the last, so N
    * rounds replay identically in any engine; classic async LPA is
    * order-dependent and would never hash-match). Rounds are two keyed
    * exchanges (neighbor-label join, per-node argmax) over
    * localCheckpoint-truncated frames — the [[kCore]] lineage
    * discipline. Returns (node, label) after `rounds`. */
  def labelPropagation(edges: DataFrame, u: Column, v: Column,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 32)
    val canon = edges.filter(u.isNotNull && v.isNotNull && u =!= v)
      .select(least(u, v).as("__u"), greatest(u, v).as("__v"))
      .distinct().localCheckpoint()
    val nbrs = canon.select(col("__u").as("__n"), col("__v").as("__m"))
      .union(canon.select(col("__v").as("__n"), col("__u").as("__m")))
      .localCheckpoint()
    var labels = nbrs.select(col("__n")).distinct()
      .select(col("__n"), col("__n").as("__l"))
      .localCheckpoint()
    val wTop = Window.partitionBy(col("__n"))
      .orderBy(col("__c").desc, col("__nl").asc)
    for (_ <- 1 to rounds) {
      labels = nbrs
        .join(labels.select(col("__n").as("__m"), col("__l").as("__nl")),
          Seq("__m"))
        .groupBy(col("__n"), col("__nl")).agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(wTop))
        .filter(col("__rn") === 1)
        .select(col("__n"), col("__nl").as("__l"))
        .localCheckpoint()
    }
    labels.select(col("__n").as("node"), col("__l").as("label"))
  }

  /** ASSOCIATION RULES over (basket, item) pairs — support,
    * confidence and lift for every co-occurring item pair, the
    * market-basket diagnostic that ranks "A and B travel together"
    * beyond what raw pair counts say (lift divides out each item's
    * base rate, so a pair of two ubiquitous items stops looking
    * interesting). Items are DISTINCT within a basket (presence, not
    * multiplicity); pairs are canonical (a < b) and both rule
    * directions are emitted since confidence is asymmetric.
    *
    * Plan shape (r17, guide §2.4 remove shuffles outright): ONE keyed
    * exchange of the corpus — the per-basket `collect_set` — then pair
    * generation runs ROW-LOCAL (posexplode × slice over the sorted
    * item array: exactly the i<j combinations, Σ|basket|²/2 candidates,
    * never corpus²), feeding a partially-aggregated pair count whose
    * shuffle carries only distinct (i, j, partial-count) rows. The
    * previous form self-joined the distinct (basket, item) table on the
    * basket id — two more full exchanges of the basket-item table (the
    * registry's largest shuffle, 17 MB at sf0.1) and a join fan-out the
    * map side then re-aggregated (measured 35 CPU-seconds at sf0.1;
    * row-local: the same pairs for ~1/10th of it). The item-count
    * lookups broadcast-join onto the pair counts (dimension-sized).
    * Ratios are single IEEE divides of exact counts, round 6.
    * `minSupport` prunes the pair tail BEFORE the rule expansion. */
  def associationRules(df: DataFrame, basket: Column, item: Column,
      minSupport: Int = 2): DataFrame = {
    require(minSupport >= 1)
    // per-basket DISTINCT SORTED item array: collect_set dedups within
    // the basket (presence, not multiplicity), sort_array makes the
    // in-row combination emit each unordered pair once with __i < __j.
    // Spread KEYED ON THE BASKET ID (guide §2.4/§2.5): a single-row-
    // group scan would otherwise build every basket's set serially in
    // the map-side partial, and hashing on __b lets the groupBy reuse
    // this same exchange instead of adding one.
    val baskets = Spread(
        df.filter(basket.isNotNull && item.isNotNull)
          .select(basket.as("__b"), item.as("__i")), col("__b"))
      .groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("__items"))
      .persistOnce()
    val nBaskets = baskets.agg(count(lit(1)).as("__nb"))
    val itemCnt = baskets
      .select(explode(col("__items")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__ci"))
    val pairs = baskets
      .select(posexplode(col("__items")).as(Seq("__p", "__i")),
        col("__items"))
      // elements after 0-based position __p: 1-based start __p + 2
      .select(col("__i"), explode(slice(col("__items"), col("__p") + 2,
        size(col("__items")) - col("__p") - 1)).as("__j"))
      .groupBy(col("__i"), col("__j")).agg(count(lit(1)).as("__cab"))
      .filter(col("__cab") >= minSupport)
    val rules = pairs.select(col("__i").as("__a"), col("__j").as("__b2"),
        col("__cab"))
      .union(pairs.select(col("__j").as("__a"), col("__i").as("__b2"),
        col("__cab")))
    rules
      .join(broadcast(itemCnt.select(col("__i").as("__a"),
        col("__ci").as("__ca"))), Seq("__a"))
      .join(broadcast(itemCnt.select(col("__i").as("__b2"),
        col("__ci").as("__cb"))), Seq("__b2"))
      .crossJoin(broadcast(nBaskets))
      .select(col("__a").as("antecedent"), col("__b2").as("consequent"),
        col("__cab").as("n_both"), col("__ca").as("n_ante"),
        col("__cb").as("n_cons"),
        round(col("__cab").cast(DoubleType) /
          col("__nb").cast(DoubleType), 6).as("support"),
        round(col("__cab").cast(DoubleType) /
          col("__ca").cast(DoubleType), 6).as("confidence"),
        round((col("__cab").cast(DoubleType) /
          col("__ca").cast(DoubleType)) /
          (col("__cb").cast(DoubleType) /
            col("__nb").cast(DoubleType)), 6).as("lift"))
  }

  /** THEIL-SEN ROBUST SLOPE per key over the daily-mean series — the
    * median of all pairwise slopes, the trend estimate that shrugs off
    * the corrupt days that drag [[q46b]]'s least-squares line around
    * (breakdown point 29% vs 0%). Slopes are exact IEEE divides of
    * 6-dp daily means over integer day gaps; the median is the exact
    * interpolated percentile ([[q38]]'s discipline); the intercept is
    * the median of y − m̂·x WITH THE ROUNDED slope, so both engines
    * multiply identical doubles.
    *
    * Scale shape: the pair join is per-key quadratic BY DESIGN —
    * O(days²) per key on the daily AGGREGATE, never on raw rows (a
    * year of dailies is 66k pairs; the raw events never pair). The
    * daily rollup is one keyed exchange; the pair join shuffles the
    * tiny daily table on the same key. */
  def theilSen(events: DataFrame, key: Column, ts: Column,
      value: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val daily = events
      .filter(key.isNotNull && ts.isNotNull && value.isNotNull)
      .groupBy(key.as("__k"),
        datediff(to_date(date_trunc("day", ts)), lit("1970-01-01"))
          .as("__x"))
      .agg(round(sum(value.cast(dec)).cast(DoubleType) /
        count(value).cast(DoubleType), 6).as("__y"))
      .persistOnce()
    val pairs = daily.join(
        daily.select(col("__k"), col("__x").as("__x2"),
          col("__y").as("__y2")), Seq("__k"))
      .filter(col("__x") < col("__x2"))
      .select(col("__k"), (col("__x2") - col("__x")).as("__dx"),
        (col("__y2") - col("__y")).as("__dy"))
    val slope = pairs.groupBy(col("__k"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(__dy / __dx, 0.5D)"), 6).as("slope"))
    daily.join(slope, Seq("__k"))
      .groupBy(col("__k"), col("n_pairs"), col("slope"))
      .agg(count(lit(1)).as("n_days"),
        round(expr("percentile(__y - slope * __x, 0.5D)"), 6)
          .as("intercept"))
      .select(col("__k").as("key"), col("n_days"), col("n_pairs"),
        col("slope"), col("intercept"))
  }

  /** DAY-OF-WEEK SEASONAL INDEX per key — mean(value | ISO weekday) /
    * mean(value), the multiplicative seasonality profile that turns
    * "traffic looks low today" into "traffic is low FOR A SATURDAY":
    * the normalization step before any daily drift gate
    * ([[cusumChangePoints]], [[psiDrift]]) runs on day-of-week-shaped
    * data. One keyed aggregate to (key, weekday) cells — the exchange
    * carries ≤ 7 rows per key — then the per-key overall mean comes
    * from a window-sum of the cells' EXACT decimal sums (never
    * re-reading the data, never summing doubles); both means divide
    * out in one IEEE expression, round 6. ISO weekday (Mon=1..Sun=7)
    * is the cross-engine-stable numbering. */
  def seasonalIndexDow(events: DataFrame, key: Column, ts: Column,
      value: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val cells = events
      .filter(key.isNotNull && ts.isNotNull && value.isNotNull)
      .groupBy(key.as("__k"), (weekday(ts) + lit(1)).as("isodow"))
      .agg(sum(value.cast(dec)).as("__s"), count(lit(1)).as("__n"))
    val wKey = Window.partitionBy(col("__k"))
    // a key whose values sum to exactly 0 has no meaningful
    // multiplicative profile: 0/0 would be NaN, whose rounding and
    // hashing are NOT part of the cross-engine contract — emit NULL
    // identically in both engines instead (the q46b nullif discipline)
    val overall = when(col("__st") === 0, lit(null))
      .otherwise(col("__st").cast(DoubleType) / col("__nt").cast(DoubleType))
    cells
      .withColumn("__st", sum(col("__s")).over(wKey))
      .withColumn("__nt", sum(col("__n")).over(wKey))
      .select(col("__k").as("key"), col("isodow").cast("int").as("isodow"),
        col("__n").as("n_events"),
        round((col("__s").cast(DoubleType) / col("__n").cast(DoubleType)) /
          overall, 6).as("seasonal_index"))
  }

  /** WILSON SCORE INTERVAL per group — the proportion estimate that
    * stays honest at small n and extreme p̂ (the normal approximation
    * interval goes negative or past 1 exactly where a data gate's
    * pass-rates live). For each group: successes, trials, p̂, and the
    * 95% Wilson bounds (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) /
    * (1 + z²/n), z = 1.96. One keyed aggregate; the bound expression
    * is divisions, multiplications and one IEEE sqrt of identical
    * inputs — deterministic across engines without any decimal
    * staging; round 6 on emit. */
  def wilsonInterval(df: DataFrame, key: Column, success: Column,
      z: Double = 1.96): DataFrame = {
    val agg = df.filter(key.isNotNull)
      .groupBy(key.as("__k"))
      .agg(count(lit(1)).as("n"),
        sum(success.cast("int")).as("n_success"))
    val n = col("n").cast(DoubleType)
    val p = col("n_success").cast(DoubleType) / n
    val z2 = lit(z * z)
    val center = p + z2 / (lit(2.0) * n)
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / n +
      z2 / (lit(4.0) * n * n))
    val denom = lit(1.0) + z2 / n
    agg.select(col("__k").as("key"), col("n"), col("n_success"),
      round(p, 6).as("p_hat"),
      round((center - half) / denom, 6).as("wilson_low"),
      round((center + half) / denom, 6).as("wilson_high"))
  }

  /** Exact TRIANGLE COUNT + global clustering coefficient over an
    * undirected edge list — graph-shape diagnostics (how clubby is
    * the co-occurrence/similarity graph a dedup or embedding pass
    * produced). Input pairs are canonicalized and deduped; self-loops
    * drop.
    *
    * Scale shape: the classic DEGREE-ORDERED ORIENTATION (each edge
    * points from its lower-(degree, id) endpoint), which bounds every
    * vertex's out-degree by O(√E) on any graph — the wedge self-join
    * then generates O(E^1.5) candidates worst-case instead of the
    * Σdeg² of a naive neighbor join (a hub with degree 10⁶ would
    * otherwise emit 10¹² wedges from one key). Each triangle is
    * counted exactly once, at its unique minimum-(degree, id) vertex;
    * candidates verify with one semi-join against the canonical edge
    * set. Three shuffles total (degree agg, wedge join, closure join)
    * — never a driver-side adjacency structure. */
  def triangleStats(pairs: DataFrame, u: Column, v: Column)
      : DataFrame = {
    val e = pairs.filter(u.isNotNull && v.isNotNull && u =!= v)
      .select(least(u, v).as("__u"), greatest(u, v).as("__v"))
      .distinct().persistOnce()
    val deg = e.select(col("__u").as("__n"))
      .unionByName(e.select(col("__v").as("__n")))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d")).persistOnce()
    // wedge count folds on DECIMAL(38,0): a degree past ~4.3e9 would
    // silently wrap d·(d−1) in Long (the mannWhitneyU tie-term lesson);
    // the product is even, so /2 is exact in decimal, and the final
    // cast back to LongType only matters once the TOTAL fits
    val totals = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr(
          "CAST(__d AS DECIMAL(38,0)) * (__d - 1) / 2")), lit(0))
        .cast(LongType).as("n_wedges"))
    // orient: from the lower-(degree, id) endpoint to the higher
    val withDeg = e
      .join(deg.select(col("__n").as("__u"), col("__d").as("__du")),
        Seq("__u"))
      .join(deg.select(col("__n").as("__v"), col("__d").as("__dv")),
        Seq("__v"))
    val oriented = withDeg.select(
      when(struct(col("__du"), col("__u")) <
          struct(col("__dv"), col("__v")), col("__u"))
        .otherwise(col("__v")).as("__a"),
      when(struct(col("__du"), col("__u")) <
          struct(col("__dv"), col("__v")), col("__v"))
        .otherwise(col("__u")).as("__b"))
    val o1 = oriented.select(col("__a"), col("__b").as("__x"))
    val o2 = oriented.select(col("__a"), col("__b").as("__y"))
    val wedges = o1.join(o2, Seq("__a")).filter(col("__x") < col("__y"))
      .select(least(col("__x"), col("__y")).as("__u"),
        greatest(col("__x"), col("__y")).as("__v"))
    val tri = wedges.join(e, Seq("__u", "__v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val edgeCount = e.agg(count(lit(1)).as("n_edges"))
    totals.crossJoin(broadcast(edgeCount)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0, round(
            lit(3.0) * col("n_triangles").cast(DoubleType) /
              col("n_wedges").cast(DoubleType), 6))
          .as("clustering_coeff"))
  }

  /** LATE-INTERACTION (MaxSim) retrieval — the ColBERT scoring rule:
    * documents and queries are BAGS of token vectors, and
    * score(q, d) = Σ_{t∈q} max_{u∈d} cos(t, u). The multi-vector
    * companion to [[cosineTopK]]'s single-vector contract: a
    * single-vector index cannot see that one paragraph of d matches one
    * clause of q exactly, which is the match late-interaction rankers
    * are run for.
    *
    * Plan (the q92 bounded-query contract): the query token bag is
    * BROADCAST (|Q|·tokens rows), the corpus token table is scanned
    * ONCE, per-pair cosines run through the codegen CosineSimilarity
    * expression, and both reductions — max over the document's tokens,
    * then sum over the query's tokens — are partial-aggregable
    * hash aggregates on (query, doc) grain, so nothing corpus-sized
    * ever shuffles with its embedding attached. Per-token maxes are
    * rounded to the 6-dp grid and summed on DECIMAL(38,6) (exact,
    * order-free — the Canon discipline). At 100 TB the corpus side
    * routes through an ANN candidate stage first (q99 cutover) and this
    * exact scorer reranks the per-query candidate set.
    *
    * Inputs: token tables (docCol, tokId, vecCol); queries must be a
    * bounded bag (broadcast side). Self-matches (same doc id on both
    * sides) are excluded. Returns (query_doc, rnk, doc, maxsim). */
  def maxSimRetrieve(tokens: DataFrame, doc: String, tokId: String,
      vec: String, queryTokens: DataFrame, k: Int): DataFrame = {
    val q = queryTokens.select(col(doc).as("query_doc"),
      col(tokId).as("__qt"), col(vec).as("__qe"))
    val t = tokens.select(col(doc).as("doc"), col(vec).as("__e"))
    val perTok = t.crossJoin(broadcast(q))
      .filter(col("doc") =!= col("query_doc"))
      .groupBy(col("query_doc"), col("__qt"), col("doc"))
      .agg(max(cosine(col("__qe"), col("__e"))).as("__m"))
    val scored = perTok.groupBy(col("query_doc"), col("doc"))
      .agg(sum(col("__m").cast(org.apache.spark.sql.types
          .DecimalType(38, 6))).cast(DoubleType).as("maxsim"))
    topKWithin(scored, "query_doc",
        Seq(col("maxsim").desc, col("doc").asc), k)
      .select(col("query_doc"), col("rnk"), col("doc"),
        round(col("maxsim"), 6).as("maxsim"))
  }

  /** K-ANONYMITY audit: every quasi-identifier combination whose
    * equivalence class holds FEWER than k rows — the re-identification
    * risk surface a privacy review reads before a dataset ships
    * (a (nation, segment, balance-band) triple shared by 2 people is a
    * needle; k-anonymity demands every released combination hide each
    * row among ≥ k). Returns the at-risk combos with their class size;
    * an empty result IS the pass certificate.
    *
    * Plan: ONE partial-aggregable hash aggregate on the quasi-id tuple
    * + a size filter — the audit costs a scan regardless of table
    * width, and at 100 TB the combo table it reduces to is bounded by
    * the quasi-id domain, not the row count. Generalization loops
    * (widen bands until the audit is empty) re-run this same aggregate
    * per candidate banding. */
  def kAnonymity(df: DataFrame, quasi: Seq[(String, Column)], k: Int)
      : DataFrame = {
    require(k >= 2 && quasi.nonEmpty)
    df.groupBy(quasi.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** COUNT-MIN sketch word-frequency estimation: a depth×width grid of
    * counters where every token increments one counter per row
    * (h_j(t) = (poly257(t)·(2j+1) + 97j) mod width), and a point query
    * reads the MIN across rows — the mergeable, fixed-size frequency
    * summary streaming/sharded pipelines keep when exact per-token
    * counts would be corpus-sized state. Always overestimates (never
    * under), error ≤ 2N/width with prob. 1−2^−depth.
    *
    * Returns, for the topN exact-count words, (word, exact, est,
    * overest = est−exact ≥ 0) — the estimate quality readout.
    *
    * Scale shape: the sketch build is a hash aggregate onto AT MOST
    * depth·width cells — the shuffle is O(partitions·depth·width)
    * regardless of corpus size (map-side combine collapses each
    * partition to ≤ d·w rows), which is the entire point of sketching;
    * the probe side joins topN·depth cell keys against the ≤ d·w-row
    * sketch (broadcast). The exact top-N pass exists only to GRADE the
    * estimate; production keeps the sketch and drops the exact pass. */
  def countMinWords(df: DataFrame, text: Column, depth: Int, width: Int,
      topN: Int): DataFrame = {
    require(depth >= 1 && width >= 2)
    val hashed = cmTokensHashed(df, text).persistOnce()
    val cells = cmCellsOf(hashed, depth, width)
    cmEstimate(cells, cmTopOf(hashed, topN), depth, width)
  }

  /** Tokenize + poly-hash one batch's text (internal CM plumbing). */
  private def cmTokensHashed(df: DataFrame, text: Column): DataFrame =
    df.select(explode(split(text, " ")).as("__t"))
      .filter(length(col("__t")) > 0)
      .withColumn("__h",
        expr("aggregate(transform(sequence(1, length(__t)), " +
          "i -> CAST(ascii(substring(__t, i, 1)) AS BIGINT)), 0L, " +
          "(a, x) -> (a * 257 + x) % 1000000007)"))

  private def cmCellsOf(hashed: DataFrame, depth: Int,
      width: Int): DataFrame =
    hashed.select(posexplode(
        transform(sequence(lit(0), lit(depth - 1)),
          j => (col("__h") * (j * 2 + 1) + j * 97) % width))
        .as(Seq("__j", "__b")))
      .groupBy(col("__j"), col("__b")).agg(count(lit(1)).as("__c"))

  private def cmTopOf(hashed: DataFrame, topN: Int): DataFrame =
    // deterministic top-N via sort+limit (TakeOrderedAndProject — a
    // per-partition heap + driver merge, never a 1-partition window)
    hashed.groupBy(col("__t").as("word"))
      .agg(count(lit(1)).as("exact"), min(col("__h")).as("__h"))
      .orderBy(col("exact").desc, col("word").asc)
      .limit(topN)

  /** One batch's Count-Min sketch as a (row __j, bucket __b, count __c)
    * cell table — the MERGEABLE half of [[countMinWords]], exposed for
    * incremental/streaming builds: CM cells from disjoint batches ADD
    * (each token increments exactly one counter per row), so
    * `Σ_batches cells(batch)` ≡ `cells(union of batches)` cell-for-cell
    * — the streaming registry query (q79c) proves that equivalence by
    * hashing against the batch oracle verbatim. */
  def cmCells(df: DataFrame, text: Column, depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && width >= 2)
    cmCellsOf(cmTokensHashed(df, text), depth, width)
  }

  /** The exact top-N word table (word, exact, __h) used to GRADE a CM
    * sketch — see [[countMinWords]]; production keeps only the sketch. */
  def cmTopWords(df: DataFrame, text: Column, topN: Int): DataFrame =
    cmTopOf(cmTokensHashed(df, text), topN)

  /** Point-query a CM cell table for each word in `top` (word, exact,
    * __h): est = min over the word's depth cells; returns (word, exact,
    * est, overest). The cell table is ≤ depth·width rows — broadcast. */
  def cmEstimate(cells: DataFrame, top: DataFrame, depth: Int,
      width: Int): DataFrame = {
    val probe = top.select(col("word"), col("exact"), posexplode(
        transform(sequence(lit(0), lit(depth - 1)),
          j => (col("__h") * (j * 2 + 1) + j * 97) % width))
        .as(Seq("__j", "__b")))
    probe.join(broadcast(cells.withColumn("__c",
        col("__c").cast(LongType))), Seq("__j", "__b"))
      .groupBy(col("word"), col("exact"))
      .agg(min(col("__c")).as("est"))
      .select(col("word"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overest"))
  }

  /** TIME-TRAVEL read of a [[dedupIngest]] ledger: the survivor set AS
    * OF ingest batch `maxBatch` — exactly what the accepted/ tree held
    * after that slot committed, because each batch's survivors were
    * materialized into their own `batch=<b>` partition at the
    * point-in-time index state (the probe-freezing discipline) and
    * never rewritten by later slots. The filter on the partition column
    * prunes at PLANNING time (PlanSpec-asserted): an as-of read of a
    * 10-year ledger lists only the requested slots' directories — this
    * is snapshot isolation for free, bought by the append-only layout
    * rather than a transaction log. */
  def survivorsAsOf(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, maxBatch: Long): DataFrame =
    spark.read.parquet(s"$indexPath/accepted")
      .filter(col("batch") <= maxBatch)

  /** FUNCTIONAL-DEPENDENCY audit: for each candidate FD lhs → rhs,
    * does every lhs value determine a single rhs value — and when not,
    * how badly is it broken (violating keys, worst fan-out)? The
    * schema-inference / data-contract check run before a column is
    * trusted as a join key, a dimension attribute, or a dedup
    * identity. Returns one row per candidate:
    * (fd, lhs_keys, violating_keys, violation_share, max_rhs, holds).
    *
    * Plan per FD: distinct (lhs, rhs) pairs (partial-aggregable — the
    * shuffle carries the distinct pair set, bounded by the value
    * domain, not the row count), a per-lhs fan-out count, then a
    * scalar rollup; candidates union into one result. At 100 TB each
    * audit costs one scan + one domain-sized exchange, and candidate
    * FDs share the scan under one action. */
  def fdAudit(df: DataFrame, fds: Seq[(String, Column, Column)])
      : DataFrame = {
    require(fds.nonEmpty)
    fds.map { case (name, lhs, rhs) =>
      val fanout = df.select(lhs.as("__l"), rhs.as("__r"))
        .filter(col("__l").isNotNull)
        .distinct()
        .groupBy(col("__l")).agg(count(lit(1)).as("__d"))
      fanout.agg(
          count(lit(1)).as("lhs_keys"),
          sum(when(col("__d") > 1, 1L).otherwise(0L))
            .as("violating_keys"),
          max(col("__d")).as("max_rhs"))
        .select(lit(name).as("fd"), col("lhs_keys"),
          col("violating_keys"),
          round(col("violating_keys").cast(DoubleType) /
            col("lhs_keys").cast(DoubleType), 6).as("violation_share"),
          col("max_rhs"),
          (col("violating_keys") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** HASHING-TRICK linear text classifier (the fastText/CCNet-style
    * quality-filter shape): every token hashes into one of `buckets`
    * weight slots, the document's logit is the mean of its tokens'
    * weights, and the keep decision is logit > 0 — the exact
    * at-scale mechanics of the learned quality filters LLM corpora are
    * gated through (CCNet's fastText LM filter, DCLM's classifier),
    * with the weight table here derived deterministically from the
    * bucket id (w(b) = ((b·2654435761 + 12345) mod 2^20)/2^20 − 1/2)
    * so the oracle can replay it; a trained model ships its real
    * weight array into the same slot.
    *
    * Plan: ZERO-SHUFFLE pure map — tokenize, hash, fold, per row; the
    * weight "table" is closed-form (a real one is a broadcast array
    * indexed by the same bucket id). Every weight is an exact multiple
    * of 2⁻²⁰, so the per-doc sum is EXACT in double (no rounding until
    * the final divide) and order-free. This is what a quality gate
    * must look like at 100 TB: classifier cost == scan cost. */
  def hashClassifier(df: DataFrame, id: Column, text: Column,
      buckets: Int): DataFrame = {
    require(buckets >= 2)
    // one codegen pass per row ([[graft.plans.ClassifierScore]]): the
    // HOF formulation (aggregate∘transform∘filter∘split with a nested
    // per-char fold) evaluates interpreted lambdas outside whole-stage
    // codegen — measured 10.7 s vs ~1 s for the sf1 corpus scan;
    // ExpressionSpec pins kernel ≡ HOF bit-for-bit
    graft.plans.ClassifierScore.register(df.sparkSession)
    df.select(id.as("doc_id"), text.as("__text"))
      .withColumn("__r",
        call_function(graft.plans.ClassifierScore.name,
          col("__text"), lit(buckets)))
      .select(col("doc_id"),
        col("__r.n_tokens").as("n_tokens"),
        // zero-token guard: empty/whitespace-only text has no logit
        // (null, keep=false), never 0.0/0 = NaN — Spark's NaN and
        // DuckDB's divide-by-zero NULL would otherwise diverge
        when(col("__r.n_tokens") === 0L, lit(null).cast(DoubleType))
          .otherwise(round(col("__r.score") /
            col("__r.n_tokens").cast(DoubleType), 6)).as("logit"),
        (col("__r.n_tokens") > 0L && col("__r.score") > 0.0).as("keep"))
  }

  /** PQ QUANTIZATION-DISTORTION audit: the per-vector encode error
    * Σ_blocks ‖sub−centroid‖² of a [[pqEncode]] codebook, reduced to
    * the one-row distribution summary (mean / p50 / p95 / max) an
    * index review reads before trusting ADC scores — the lossiness
    * companion to q99i's recall gate: recall says "did the right ids
    * surface", this says "how far are the codes from the floats" and
    * moves FIRST when a codebook stops fitting the data (drift,
    * wrong K, wrong block split). Same decimal-exact block kernel as
    * the encoder, so the audit is bit-reproducible; cost is the
    * encode pass + a 1-row reduce. */
  def pqDistortion(vecs: DataFrame, id: String, vec: String,
      codebook: DataFrame, cid: String, cvec: String,
      blocks: Int, subDim: Int = 8): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val per = pqBlockDistances(vecs, id, vec, codebook, cid, cvec,
        blocks, subDim)
      .groupBy(col("__qid"), col("__blk"))
      .agg(min(struct(col("__dd"), col("__cid"))).as("__m"))
      .groupBy(col("__qid"))
      .agg(sum(col("__m.__dd").cast(dec)).cast(DoubleType).as("__dist"))
    per.agg(
      count(lit(1)).as("n_vecs"),
      round(sum(col("__dist").cast(dec)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("mean_dist"),
      expr("round(percentile(__dist, 0.5D), 6)").as("p50_dist"),
      expr("round(percentile(__dist, 0.95D), 6)").as("p95_dist"),
      round(max(col("__dist")), 6).as("max_dist"))
  }

  /** DEDUP-THEN-UPWEIGHT (the data-constrained scaling recipe): one
    * survivor per near-dup cluster carrying weight = cluster size,
    * weight 1 for unclustered docs — so Σ weights == corpus size and a
    * sampler that draws by weight reproduces the original frequency
    * mass without training on byte-identical repeats. This is the
    * half of dedup that plain removal throws away: how often a
    * document occurred IS signal (site boilerplate vs canon), and
    * epoch-limited training wants it as a sampling weight, not as
    * copies. Cost: one aggregate on the cluster id + one anti-join. */
  def survivorWeights(docs: DataFrame, id: String, clusters: DataFrame,
      member: String, cluster: String): DataFrame = {
    val sz = clusters.groupBy(col(cluster))
      .agg(count(lit(1)).as("weight"), min(col(member)).as("__keep"))
    val keepers = sz.select(col("__keep").as(id), col("weight"))
    val loners = docs.select(col(id))
      .join(clusters.select(col(member).as(id)), Seq(id), "left_anti")
      .withColumn("weight", lit(1L))
    keepers.unionByName(loners)
  }

  /** QUOTA sampling: draw a TARGET COUNT per stratum (not a rate —
    * the q09b stratified form) by stable md5 rank of the key — "ship
    * 100k en, 20k each for the rest" is how a training mix is actually
    * specced. Deterministic across engines, reruns and partitioning
    * (the q09 hash discipline); the rank is one window keyed by the
    * stratum. With per-stratum quotas the window cannot prune below
    * its exchange (the limit is data-dependent) — at 100 TB pre-filter
    * with [[stableSample]] at a rate safely above quota/|stratum|,
    * then rank only the survivors. */
  def quotaSample(df: DataFrame, stratum: Column, key: Column,
      quotas: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("stratum"))
      .orderBy(md5(col("key").cast(StringType)).asc, col("key").asc)
    df.select(stratum.as("stratum"), key.as("key"))
      .withColumn("rnk", row_number().over(w))
      .join(broadcast(quotas), Seq("stratum"))
      .filter(col("rnk") <= col("quota"))
      .select(col("stratum"), col("key"), col("rnk"))
  }

  /** PRE-PRICE the exact gram-join dedup pass BEFORE running it: the
    * all-pairs candidate count of a shared-shingle join is EXACTLY
    * Σ_g df(g)·(df(g)−1)/2 over the gram document frequencies — one
    * cheap aggregate that predicts whether the q90d-shaped exact join
    * is affordable or the corpus must route through banding (q90d) —
    * the [[joinSizeAudit]] discipline applied to dedup (measured
    * cutover decisions, not guessed: q90p's 2.6 GB sf1 flood was this
    * number, unread). Returns one row: corpus size, distinct grams,
    * exact candidate-pair count, the heaviest gram and its df
    * (smallest gram on ties), and pairs-per-doc.
    *
    * The pair count folds on DECIMAL(38,0) — one gram shared by 2M
    * docs already overflows Long (the mannWhitneyU lesson). Plan:
    * shingle in-row, one gram-frequency aggregate (partial-aggregable;
    * the exchange carries the gram DOMAIN), two bounded folds. */
  /** N-GRAM DIVERSITY audit (distinct-n): per stratum and n, the
    * distinct/total n-gram ratio — the standard diversity readout for
    * SYNTHETIC or heavily-filtered corpora (mode-collapsed generation
    * repeats the same constructions: distinct-2 falls long before eye
    * inspection sees it; dedup'd web text sits near 1.0). One exploded
    * pass per n: total is a plain count, distinct routes through the
    * (stratum, gram) pre-aggregate — both partial-aggregable, the
    * exchange carries the gram domain. */
  def distinctNgramRatios(df: DataFrame, stratum: Column, text: Column,
      ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty)
    ns.map { n =>
      val g = df.select(stratum.as("stratum"),
        explode(positionalNgrams(split(text, " "), n)).as("__g"))
      val tot = g.groupBy(col("stratum"))
        .agg(count(lit(1)).as("total_ngrams"))
      val dis = g.select(col("stratum"), col("__g")).distinct()
        .groupBy(col("stratum")).agg(count(lit(1)).as("distinct_ngrams"))
      tot.join(dis, Seq("stratum"))
        .select(col("stratum"), lit(n).as("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          round(col("distinct_ngrams").cast(DoubleType) /
            col("total_ngrams").cast(DoubleType), 6).as("distinct_ratio"))
    }.reduce(_ unionByName _)
  }

  /** EMBEDDING-TABLE quality audit: the one-row health certificate an
    * embedding pipeline checks before vectors are indexed or trained
    * on — zero-norm vectors (a broken encoder's signature), non-finite
    * components (overflow/div-by-zero upstream), RAGGED dimensions (a
    * mixed-model table — every ANN structure silently assumes one
    * dim), and exact duplicate vectors (collapsed inputs). All four
    * are row-local predicates folding into one aggregate; the dup
    * count adds one distinct pre-aggregate keyed by the vector value.
    * An all-zero row (matching dims) IS the pass certificate. */
  def embeddingAudit(df: DataFrame, vec: String): DataFrame = {
    val v = col(vec)
    val row = df.select(
      size(v).as("__d"),
      (aggregate(transform(v, x => x.cast(DoubleType) * x),
        lit(0.0), (a, x) => a + x) < 1e-12).as("__zero"),
      exists(v, x => x.isNaN || x.cast(DoubleType) === lit(
        Double.PositiveInfinity) || x.cast(DoubleType) === lit(
        Double.NegativeInfinity)).as("__nonfin"),
      v.as("__v"))
    val dups = row.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(when(col("__c") > 1, col("__c"))), lit(0L))
        .as("dup_rows"))
    row.agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("__zero"), 1L).otherwise(0L)).as("n_zero_norm"),
        sum(when(col("__nonfin"), 1L).otherwise(0L)).as("n_nonfinite"),
        min(col("__d")).as("dim_min"), max(col("__d")).as("dim_max"))
      .crossJoin(broadcast(dups))
      .select(col("n_vecs"), col("n_zero_norm"), col("n_nonfinite"),
        col("dim_min").cast(LongType).as("dim_min"),
        col("dim_max").cast(LongType).as("dim_max"),
        (col("dim_min") =!= col("dim_max")).as("ragged"),
        col("dup_rows"))
  }

  /** RFM feature extraction with GLOBAL quintile scores and NO
    * single-partition window: per user — recency (days since last
    * event at `asOf`), frequency (event count), monetary (exact
    * decimal spend) — then each measure's 20/40/60/80 exact
    * percentiles reduce to ONE broadcast row and the score is
    * 1 + Σ(v > cut) (recency inverted: recent = high). The textbook
    * implementation is `ntile(5) OVER (ORDER BY …)` — which collapses
    * the user table to one partition (the q10b global-window trap);
    * this shape is the at-scale replacement: one keyed aggregate, one
    * 1-row percentile reduce, one broadcast map. Cuts round to the
    * 6-dp grid before comparison so both engines bucket identically. */
  def rfmFeatures(events: DataFrame, user: Column, ts: Column,
      value: Column, monetary: Column, asOf: Column): DataFrame = {
    val perUser = events.filter(user.isNotNull && ts.isNotNull)
      .groupBy(user.as("user_id"))
      .agg(
        datediff(asOf, max(ts)).cast(LongType).as("recency_days"),
        count(lit(1)).as("frequency"),
        coalesce(sum(when(monetary, value)
          .cast(org.apache.spark.sql.types.DecimalType(38, 6))),
          lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast(DoubleType).as("monetary"))
      .persistOnce()
    def cutsOf(c: String) = expr(
      s"transform(percentile($c, array(0.2D, 0.4D, 0.6D, 0.8D)), " +
        "x -> round(x, 6))").as(s"__$c")
    val cuts = perUser.agg(cutsOf("recency_days"), cutsOf("frequency"),
      cutsOf("monetary"))
    def score(c: String) = (lit(1) +
      aggregate(col(s"__$c"),
        lit(0), (a, cut) => a + when(col(c) > cut, 1).otherwise(0)))
      .cast(LongType)
    perUser.crossJoin(broadcast(cuts))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        round(col("monetary"), 6).as("monetary"),
        (lit(6L) - score("recency_days")).as("r_score"),
        score("frequency").as("f_score"),
        score("monetary").as("m_score"))
  }

  /** Top-k SEQUENTIAL event PATTERNS (q47j) — the most frequent
    * length-3 event-type sequences across per-user ordered streams,
    * with corpus support: the sequence-mining readout behind funnel
    * DISCOVERY (q47b measures a funnel you already know; this surfaces
    * the paths users actually take) and session-level anomaly review
    * (a scripted client's loop is a single dominant trigram — the
    * sequence-shaped complement to q47i's timing signal). Complements
    * q47d's Markov matrix (order-1 transitions) with order-2 context.
    *
    * Scale shape: ONE exchange — the per-user window hash-partitions
    * on user_id and two lags build each trigram row-locally inside it;
    * the count groupBy partial-aggregates into the |types|³-bounded
    * pattern domain, and the top-k cut is a TakeOrdered. Support
    * divides exact longs (identical IEEE bits; unrounded) against the
    * 1-row total broadcast. */
  def eventTrigrams(events: DataFrame, user: Column, ts: Column,
      eventId: Column, etype: Column, k: Int = 20): DataFrame = {
    require(k >= 1)
    val w = Window.partitionBy(col("__u"))
      .orderBy(col("__ts").asc, col("__eid").asc)
    val tri = events.filter(user.isNotNull && ts.isNotNull)
      .select(user.as("__u"), ts.as("__ts"), eventId.as("__eid"),
        etype.as("e3"))
      .withColumn("e1", lag(col("e3"), 2).over(w))
      .withColumn("e2", lag(col("e3"), 1).over(w))
      .filter(col("e1").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
      .persistOnce()
    val tot = tri.agg(sum(col("n")).as("__tot"))
    tri.crossJoin(broadcast(tot))
      .select(col("e1"), col("e2"), col("e3"), col("n"),
        (col("n").cast(DoubleType) / col("__tot")).as("support"))
      .orderBy(col("n").desc_nulls_last, col("e1").asc, col("e2").asc,
        col("e3").asc)
      .limit(k)
  }

  /** Inter-event GAP-REGULARITY audit (q47i) — the standard automation /
    * bot screen over an activity stream: a scripted client fires on a
    * timer, so its inter-event gaps have a coefficient of variation near
    * zero, where organic human traffic is near-Poisson (cv ≈ 1). Per
    * user: gap count, mean gap, and cv = σ/μ over the inter-arrival
    * times, plus the `automated` flag (cv below threshold with enough
    * gaps to mean something — a 3-event user's cv is noise).
    *
    * Scale shape: ONE exchange. The lag window hash-partitions on
    * user_id and the per-user aggregate reuses that exact partitioning,
    * so the audit is one shuffle + one sort at any corpus size — never a
    * self-join on consecutive event ids (the naive formulation, which
    * re-shuffles the stream once per offset). Determinism: gaps are
    * EXACT integer microseconds (unix_micros of the fixture's
    * micro-precision timestamps), Σgap and Σgap² accumulate in
    * DECIMAL(38,0) (a month-long gap is ~10¹³ µs; its square overflows
    * a signed 64-bit long, and decimal addition is order-free where a
    * double sum is not), and the mean/variance/cv divisions run in
    * double over those exact sums with ONE pinned operation order —
    * both engines hit identical IEEE bits, rounded to the 6-dp grid. */
  def gapRegularity(events: DataFrame, user: Column, ts: Column,
      eventId: Column, cvMax: Double = 0.2, minGaps: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__ts").asc, col("__eid").asc)
    val gaps = events.filter(user.isNotNull && ts.isNotNull)
      .select(user.as("user_id"), unix_micros(ts).as("__ts"),
        eventId.as("__eid"))
      .withColumn("__gap", col("__ts") - lag(col("__ts"), 1).over(w))
      .filter(col("__gap").isNotNull)
    val perUser = gaps.groupBy("user_id").agg(
      count(lit(1)).as("n_gaps"),
      sum(col("__gap").cast(DecimalType(38, 0))).as("__s"),
      sum((col("__gap").cast(DecimalType(38, 0)) *
        col("__gap").cast(DecimalType(38, 0))).cast(DecimalType(38, 0)))
        .as("__s2"))
    val meanUs = col("__s").cast(DoubleType) / col("n_gaps")
    val varUs = col("__s2").cast(DoubleType) / col("n_gaps") -
      meanUs * meanUs
    val sdUs = sqrt(greatest(varUs, lit(0.0)))
    val cv = when(meanUs > 0, sdUs / meanUs)
    // mean at the 6-dp grid via EXACT integer half-up at µs precision:
    // s/n is a small-denominator rational that LANDS on 7th-decimal
    // halfway points (sf0.1 hit one on the first sweep), where Spark
    // and DuckDB round(double, 6) split — (2s+n) div (2n) is tie-free.
    val meanUsInt = expr("(2 * __s + n_gaps) div (2 * n_gaps)")
    perUser.select(col("user_id"), col("n_gaps"),
      (meanUsInt.cast(DoubleType) / 1000000.0).as("mean_gap_s"),
      round(cv, 6).as("cv"),
      (coalesce(cv < cvMax, lit(false)) &&
        col("n_gaps") >= minGaps).as("automated"))
  }

  def dedupCostAudit(df: DataFrame, id: Column, text: Column,
      ngramWords: Int = 2): DataFrame = {
    val sh = df.select(id.as("__id"),
        wordNgrams(split(text, " "), ngramWords).as("__sv"))
      .filter(size(col("__sv")) >= 1)
    val grams = sh.select(explode(col("__sv")).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .persistOnce()
    val totals = grams.agg(
      count(lit(1)).as("n_grams"),
      sum(expr("CAST(__df AS DECIMAL(38,0)) * (__df - 1) / 2"))
        .as("candidate_pairs"),
      max(col("__df")).as("top_df"))
    val top = grams.join(broadcast(
        totals.select(col("top_df").as("__df"))), Seq("__df"))
      .agg(min(col("__g")).as("top_gram"))
    val docs = sh.agg(count(lit(1)).as("n_docs"))
    // decimal fold inside (one 2M-doc gram overflows Long in the
    // product), BIGINT readout — the q93s wedge-count discipline
    docs.crossJoin(broadcast(totals)).crossJoin(broadcast(top))
      .select(col("n_docs"), col("n_grams"),
        col("candidate_pairs").cast(LongType).as("candidate_pairs"),
        col("top_gram"), col("top_df"),
        round(col("candidate_pairs").cast(DoubleType) /
          col("n_docs").cast(DoubleType), 6).as("pairs_per_doc"))
  }
}
