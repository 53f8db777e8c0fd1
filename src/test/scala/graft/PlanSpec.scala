package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** Plan-shape assertions (SURVEY §5 item 6): the queries must not merely
  * return the right rows — they must plan the way a 100 TB run needs.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString

  /** Untruncated PushedFilters of every parquet scan in the plan (the
    * toString form elides long filter lists; AQE hides scans behind a
    * leaf AdaptiveSparkPlanExec). */
  private def scanFilters(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scanFilters(a.initialPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.metadata.getOrElse("PushedFilters", ""))
    }.flatten

  private def pushedFilters(name: String): String =
    scanFilters(SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan).mkString(";")

  test("q25: both dims join as BroadcastHashJoin") {
    val p = planOf("q25_broadcast_join")
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 2,
      s"expected 2 broadcast hash joins in:\n$p")
  }

  test("q12: range predicates are pushed to the parquet scan") {
    val pf = pushedFilters("q12_between")
    assert(pf.contains("GreaterThanOrEqual(l_quantity,10.0)"), pf)
    assert(pf.contains("LessThanOrEqual(l_quantity,20.0)"), pf)
    assert(pf.contains("GreaterThanOrEqual(l_shipdate"), pf)
  }

  test("q01: filter + projection reach the scan") {
    val pf = pushedFilters("q01_parquet_scan")
    assert(pf.contains("GreaterThan(l_quantity,49.0)"), pf)
    val p = planOf("q01_parquet_scan")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p)
  }

  test("q20c: runtime bloom filter probe reaches the fact side") {
    val p = operators.Joins.withBloomFilterConfs(spark) {
      operators.Joins.bloomJoin(spark, TestSpark.sfDir)
        .queryExecution.executedPlan.toString
    }
    assert(p.toLowerCase.contains("bloom_filter"),
      s"expected an injected bloom_filter probe in:\n$p")
    // and the confs were restored: a rebuilt plan has no bloom probe
    val p2 = operators.Joins.bloomJoin(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!p2.toLowerCase.contains("bloom_filter"), p2)
  }

  test("q20d: the bucketed join plans with ZERO shuffle exchanges") {
    val (li, o) = operators.Joins.bucketedTables(spark, TestSpark.sfDir)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val plan = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .queryExecution.executedPlan
      def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
        p.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            exchanges(a.initialPlan)
          case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            1
        }.sum
      assert(exchanges(plan) == 0,
        s"bucketed join must not exchange either side:\n$plan")
      assert(plan.toString.contains("SortMergeJoin"), plan.toString)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("q44: the rank filter pushes a partial WindowGroupLimit below the shuffle") {
    // Spark's WindowGroupLimit rewrite turns row_number()<=k into a
    // per-partition top-k BEFORE the exchange — the skew armor for
    // top-k-per-group at scale (a hot group ships k rows per map task,
    // not its whole partition).
    val p = planOf("q44_topk_per_group")
    assert(p.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$p")
  }

  test("q95e: the per-source cap pushes a partial WindowGroupLimit") {
    // Same rewrite family as q44: the rn<=k filter prunes each map task
    // to k rows per source BEFORE the exchange, so a hot source ships
    // O(k × tasks) rows, never its full partition — the property that
    // makes a per-domain quota affordable on a skewed 100 TB crawl.
    val p = planOf("q95e_source_cap")
    assert(p.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$p")
  }

  test("q92f: semantic dedup joins pairs on cell, never all-pairs") {
    // The only BNLJ allowed is the bounded 8-centroid assignment
    // broadcast; the pairwise stage must be an equi-join on the cell key
    // (shuffle or broadcast hash), and nothing may plan a cartesian.
    val p = planOf("q92f_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // the cell-assignment subtree has exactly 3 consumers (both sides of
    // the pair join + the survivor anti-join), so the bounded 8-centroid
    // broadcast appears 3×; anything more would mean an unbounded NLJ
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 3, s"expected only centroid-assignment BNLJs:\n$p")
  }

  test("q90g: the bloom prefilter sits in the scan stage before the verify join") {
    // The sketch is embedded as a binary literal (how Spark's own
    // runtime-filter rewrite ships it), so might_contain must appear as
    // a Filter below the join — the corpus-sized gram stream drops to
    // the contaminated sliver before any exchange.
    val p = planOf("q90g_bloom_decontaminate")
    assert(p.contains("might_contain"), s"expected might_contain in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q24: the theta-join semantics plan with no nested-loop join") {
    val p = planOf("q24_theta_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q24: every window in the plan is partitioned (no single-partition exchange)") {
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          windows(a.initialPlan)
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
      }.flatten
    val plan = SparkEntry.queries("q24_theta_join")(spark, TestSpark.sfDir)
      .queryExecution.executedPlan
    val ws = windows(plan)
    assert(ws.nonEmpty, "expected the in-bucket prefix window")
    ws.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window (global sort bottleneck at scale): $w"))
  }

  test("q26: the as-of join is a single-pass window, no join at all") {
    val p = planOf("q26_asof_join")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
    // exactly one shuffle for the per-key window (Engine.asOfMatch names
    // the key __k); the final orderBy adds one range exchange (oracle
    // canonicalization only).
    assert("hashpartitioning\\(__k".r.findAllMatchIn(p).nonEmpty, p)
  }

  test("q05: the partition filter prunes the read-back scan") {
    val plan = SparkEntry.queries("q05_partitioned_sink")(
      spark, TestSpark.sfDir).queryExecution.executedPlan
    val partFilters = plan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metadata.getOrElse("PartitionFilters", "")
        }
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.metadata.getOrElse("PartitionFilters", ""))
    }.flatten.mkString(";")
    assert(partFilters.contains("l_returnflag"), partFilters)
  }

  test("q07: the DSv2 catalog source receives the pushed ts range") {
    val p = planOf("q07_catalog_pushdown")
    // 2024-01-10T00:00Z .. 2024-01-12T00:00Z in epoch seconds — the scan
    // itself reports the narrowed generation range. The upper bound is
    // end+1: LessThan prunes conservatively (the pushed bound may carry
    // sub-second precision) and the residual filter trims the extra slot.
    assert(p.contains("graft-slot-catalog range=[1704844800,1705017601)"), p)
    assert(p.contains("pushedFilters=") && !p.contains("pushedFilters=0"), p)
    // the 193-slot window spans two c=100 pages — every page is planned
    // (no reference-style single-page truncation at >100 candidates)
    assert(p.contains("pageSize=100 pages=2"), p)
  }

  test("catalog source: ORDER BY ts LIMIT 1 pushes as TopN onto one page") {
    // The pipeline's earliest-candidate probe (SlotPipeline.tick): the
    // source generates in ts order (the reference's sort=start,time,0),
    // so the sort+limit pushes as a TopN and exactly one page is planned.
    val df = spark.read.format("graft.sources.CatalogSource")
      .option("start", "1704844800")
      .option("end", (1704844800L + 4 * 86400).toString)
      .load()
      .orderBy(org.apache.spark.sql.functions.col("ts").asc_nulls_last,
        org.apache.spark.sql.functions.col("identifier").asc_nulls_last)
      .limit(1)
    val rows = df.collect()
    assert(rows.length == 1 &&
      rows.head.getTimestamp(1).getTime == 1704844800L * 1000)
    val scans = df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        Seq(b)
    }.flatten
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(scans.head.scan.description().contains("limit=1"),
      scans.head.scan.description())
    assert(scans.head.inputRDD.getNumPartitions == 1,
      scans.head.scan.description())
  }

  test("catalog source: a pushed limit composes with c=100 paging") {
    // 4 days = 384 slots; limit 150 → only ⌈150/100⌉ = 2 of the 4 pages
    // are ever planned (the remote analog: stop requesting pages once the
    // client is satisfied), and Spark's re-applied global limit trims the
    // 200 generated rows to exactly 150.
    val df = spark.read.format("graft.sources.CatalogSource")
      .option("start", "1704844800")
      .option("end", (1704844800L + 4 * 86400).toString)
      .load().limit(150)
    val rows = df.collect()
    assert(rows.length == 150)
    val scans = df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        Seq(b)
    }.flatten
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(scans.head.scan.description().contains("limit=150"),
      scans.head.scan.description())
    assert(scans.head.inputRDD.getNumPartitions == 2,
      scans.head.scan.description())
  }

  test("q26b/q48: the slot spine is a parallel two-level explode, not one array") {
    // Engine.slotSpine: chunk anchors explode first, a repartition spreads
    // them, then the per-chunk explode — so no task ever holds the whole
    // range as one in-row sequence() array. Two Generate nodes in the
    // plan, with an exchange between them.
    for (q <- Seq("q26b_slot_match", "q48_gap_fill")) {
      val p = planOf(q)
      assert("Generate explode".r.findAllMatchIn(p).size >= 2,
        s"$q expected the two-level spine explode in:\n$p")
      assert(p.contains("hashpartitioning(__chunk"),
        s"$q expected the chunk-spreading exchange in:\n$p")
    }
  }

  test("q56: the correlated scalar subquery is decorrelated to a join") {
    val p = planOf("q56_correlated_subquery")
    assert(!p.contains("Subquery"), p) // no per-row subquery execution
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("q92: the query side of the top-k cosine is broadcast") {
    val p = planOf("q92_cosine_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q99g: the index read-back prunes on the cell PARTITION column") {
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => scans(a.initialPlan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      }.flatten
    val df = SparkEntry.queries("q99g_persisted_ivf")(
      spark, TestSpark.sfDir)
    // the probed-cell IN-list must land in PartitionFilters (directory
    // pruning), NOT in the data filters — that is the inverted-file
    // read the persisted layout exists for
    val pruned = scans(df.queryExecution.executedPlan).filter(
      _.partitionFilters.exists(_.toString.contains("cell")))
    assert(pruned.nonEmpty)
  }

  test("q90u: the as-of ledger read prunes batch PARTITIONS at " +
      "planning time — batch 3 is never listed") {
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => scans(a.initialPlan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      }.flatten
    val df = SparkEntry.queries("q90u_survivors_asof")(
      spark, TestSpark.sfDir)
    // the as-of predicate must land in PartitionFilters (directory
    // pruning — snapshot isolation from the append-only layout), and
    // the scan must select exactly the 3 as-of slots of the 4 written
    val ledger = scans(df.queryExecution.executedPlan).filter(
      _.partitionFilters.exists(_.toString.contains("batch")))
    assert(ledger.nonEmpty, "no scan prunes on the batch partition")
    assert(ledger.forall(_.selectedPartitions.partitionCount == 3),
      s"expected 3 of 4 slots listed, got " +
        ledger.map(_.selectedPartitions.partitionCount).mkString(","))
  }

  test("q10b: id assignment plans no single-partition exchange or " +
      "global window") {
    // the whole point of globalIds: the oracle's row_number() OVER
    // (ORDER BY ...) would collapse the corpus to one partition; the
    // engine's plan must never contain that shape (orderAll's final
    // rangepartitioning sort is fine — every partition stays parallel).
    val p = planOf("q10b_global_ids")
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("Window"), p)
  }

  test("q92m: both rerank joins broadcast; nothing plans a cartesian") {
    val p = planOf("q92m_truncate_rerank")
    assert(!p.contains("CartesianProduct"), p)
    // stage 2 = shortlist broadcast onto the corpus + query-vector
    // attach: both must be broadcast joins, never a shuffle join of
    // corpus-sized sides against a 200-row shortlist.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q94m: scene detection itself is exchange-free (per-blob local)") {
    implicit val s = spark
    import s.implicits._
    val blobs = Seq(1L, 2L).map(id => graft.operators.MediaBlob(
      id, "video", "en", graft.operators.Multimodal.aviFor(id))).toDS()
    val p = graft.operators.Multimodal.sceneChanges(blobs, 100.0)
      .queryExecution.executedPlan.toString
    // frame adjacency lives inside the blob: no keyed shuffle anywhere
    // (a RoundRobin exchange is the keyless Spread's decode balancer
    // over BLOB rows, absent here: 2 blobs are within 2× of local[4]; the
    // registered query's orderAll sort is the driver-compare determinism
    // wrapper — neither moves a frame).
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q57: NOT IN plans as a null-aware hash anti join, not a nested loop") {
    val p = planOf("q57_not_in_null")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q28: filters reach the scans and the dim join is broadcast") {
    val pf = pushedFilters("q28_star_join")
    assert(pf.contains("EqualTo(c_mktsegment,BUILDING)"), pf)
    assert(pf.contains("GreaterThan(l_shipdate"), pf)
    assert(pf.contains("LessThan(o_orderdate"), pf)
    val p = planOf("q28_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-10, no global sort
  }

  test("q29: all three dimension joins are broadcast; no cartesian") {
    val p = planOf("q29_snowflake_join")
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q91c: the similarity join is equi-join driven (no cartesian; " +
      "the only NLJ is the 1-row priced-budget gate)") {
    val p = planOf("q91c_jaccard_join")
    assert(!p.contains("CartesianProduct"), p)
    // the exact-join refusal gate crossJoins ONE 1-row price scalar
    // onto the vocabulary-sized gram-frequency table; every data-sized
    // join must stay an equi-join. The gated prefix table feeds both
    // sides of the candidate join, so the pre-materialization plan
    // text shows the gate's NLJ at most twice (once per reference —
    // the persistOnce collapses it to one at execution).
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size
    assert(bnlj <= 2, p)
    if (bnlj >= 1) assert(p.contains("__price"), p)
  }

  test("q92c/q95b: per-row quantize/redact plans carry no data shuffle") {
    // the ONLY exchanges allowed are the oracle-canonicalization range
    // sort and (q95b, r17) the REPARTITION_BY_NUM input spread directly
    // above the scan — the keyed Spread guard that parallelizes the
    // row-group-bounded fixture scan before the per-row regex work (a
    // no-op at production split counts). A hashpartitioning exchange
    // ANYWHERE ELSE would mean the projection itself shuffled data —
    // the 100 TB regression this pin guards.
    for (n <- Seq("q92c_quantize", "q95b_pii_redact")) {
      val p = planOf(n)
      val hashEx = "Exchange hashpartitioning".r.findAllMatchIn(p).size
      val spreadEx = "REPARTITION_BY_NUM".r.findAllMatchIn(p).size
      assert(hashEx == spreadEx,
        s"$n: ${hashEx - spreadEx} non-spread hash exchange(s):\n$p")
    }
  }

  test("Spread: a 1-split scan spreads keyed or keyless, a 2-partition input passes through, and the width read fires no job") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
      RoundRobinPartitioning}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ShuffleExchangeExec}
    def exchanges(ds: org.apache.spark.sql.Dataset[_]) =
      ds.queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan.collect { case e: ShuffleExchangeExec => e }
        case e: ShuffleExchangeExec => Seq(e)
      }.flatten
    val sc = spark.sparkContext
    val scan = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    // the width read physically plans the scan: a file listing and split
    // computation on the driver, no job
    val group = "spread-width-read"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "Spread.width on a parquet scan")
    val width = try {
      val w = Spread.width(scan)
      org.apache.spark.ListenerBusDrain.drain(sc)
      w
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"${jobs.get} job(s) ran to read the scan's width")
    assert(width == 1 && sc.defaultParallelism == 4)
    // keyed: one hash exchange on the key, to the session parallelism
    val keyed = exchanges(Spread(scan, col("doc_id")))
    assert(keyed.size == 1 && keyed.head.shuffleOrigin == REPARTITION_BY_NUM,
      keyed.mkString("\n"))
    keyed.head.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), 4) => assert(a.name == "doc_id")
      case other => fail(s"keyed spread partitions as $other")
    }
    // keyless: one round-robin exchange
    val keyless = exchanges(Spread(scan))
    assert(keyless.size == 1 &&
      keyless.head.shuffleOrigin == REPARTITION_BY_NUM, keyless.mkString("\n"))
    assert(keyless.head.outputPartitioning == RoundRobinPartitioning(4))
    // within 2× of the cores: the same Dataset back, keyed or keyless
    val two = spark.range(0, 8, 1, 2).toDF()
    assert(Spread(two) eq two)
    assert(Spread(two, col("id")) eq two)
  }

  test("q94g: the re-grid is one hash exchange on the target cell key") {
    // pixels explode WITHIN the row and the nearest-pixel argmin
    // partial-aggregates map-side, so the only data movement a re-grid
    // needs is the single hashpartitioning on (cell_row, cell_col); the
    // final orderBy adds a range exchange for oracle canonicalization.
    val p = planOf("q94g_regrid")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
    // the argmin MUST partial-aggregate below the exchange — a full
    // shuffle of raw pixel structs is the 100 TB regression this guards
    assert(p.contains("partial_min"),
      s"expected a partial_min below the exchange:\n$p")
  }

  test("q94h: the capstone's only data shuffle is the re-grid argmin") {
    // decode is mapPartitions, band/pixel explosion is in-row, the
    // geo-clip is a filter, band-select a filter — so the whole
    // decode→clip→regrid pipeline must move data exactly once: the
    // hashpartitioning on (layer, band, cell), with the argmin
    // partial-aggregated below it (a raw-pixel shuffle is the 100 TB
    // regression this guards). The registered query only adds the
    // partitioned sink + read-back around this plan.
    val p = graft.operators.Multimodal
      .rasterCapstone(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
    assert(p.contains("partial_min"),
      s"expected a partial_min below the exchange:\n$p")
  }

  test("q93t: RAG chunking moves ZERO data — a pure per-row explode") {
    // tokens never leave their row: the sequence() explode and both
    // slice()s are row-local, so the only exchange in the registered
    // plan is the oracle-canonicalization orderBy's range partitioning.
    // A hash exchange here means chunking started shuffling documents —
    // the 100 TB regression this guards (chunk output should land
    // collocated with its source).
    val p = planOf("q93t_rag_chunks")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 0, s"expected zero hash exchanges, got $n:\n$p")
  }

  test("q95j: hash classifier moves ZERO data — a pure per-row map") {
    // tokenize, hash, fold all happen inside the row: the only exchange
    // in the registered plan is the oracle-canonicalization orderBy's
    // range partitioning. A hash exchange here means the quality gate
    // started shuffling the corpus — at 100 TB a classifier must cost
    // exactly one scan (the q93t discipline, applied to scoring).
    val p = planOf("q95j_hash_classifier")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 0, s"expected zero hash exchanges, got $n:\n$p")
  }

  test("q92q: MaxSim exchanges carry scores, never embeddings") {
    // both reductions (max over doc tokens, sum over query tokens) are
    // partial-aggregable on (query, doc) grain, so every exchange in
    // the plan ships rounded scalars — a vector column in an exchange
    // schema means the late-interaction scorer started shuffling the
    // token table with embeddings attached (corpus-sized payload).
    val p = planOf("q92q_maxsim")
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(ex.forall(l => !l.contains("__e") && !l.contains("__qe") &&
      !l.contains("embedding")),
      s"an exchange ships an embedding column:\n$p")
  }

  test("q90o: CDC chunking is a SINGLE hash exchange that never ships text") {
    // chunk boundaries and the chunk list are built in-row
    // (CdcBoundaries + zip_with over the shifted boundary array), so the
    // one hashpartitioning exchange is repartition(chunk_hash), whose
    // clustering serves both aggregate levels ((hash, doc) then hash).
    // Two failure modes guarded: a second hash exchange (the distinct-agg
    // replan), and any text column in the exchanged schema (the old
    // lead()-window plan shipped each document ~len/16 times — the 100 TB
    // killer the round-12 rewrite removed).
    val p = planOf("q90o_cdc_chunks")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(ex.forall(l => !l.contains("__t") && !l.contains("__chunk")),
      s"the exchange must carry digests, not text:\n$p")
  }

  test("q90q: the bucketed index probe plans ZERO exchanges above any " +
      "history scan — the 100 TB dedup-index claim as a plan property") {
    // Build the bucketed index, then examine the probe plan with
    // broadcasts DISABLED: without the broadcast shortcut the verify
    // attach must still read history in place (SMJ against the bucketed
    // docs table), so the assertion proves the bucket clustering, not a
    // small-fixture broadcast. History scans are the two catalog tables;
    // an exchange anywhere above one means the 10-TB signature table
    // would re-shuffle per daily batch.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    graft.Engine.buildMinHashIndexBucketed(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      "q90q_planspec_idx")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val plan = graft.Engine.searchMinHashIndexBucketed(
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
        "q90q_planspec_idx").queryExecution.executedPlan
      def historyScans(p: SparkPlan, table: String): Int = p.collect {
        case a: AdaptiveSparkPlanExec => historyScans(a.initialPlan, table)
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == table) => 1
      }.sum
      def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
        case a: AdaptiveSparkPlanExec => exchanges(a.initialPlan)
        case e: ShuffleExchangeExec => Seq(e)
      }.flatten
      assert(historyScans(plan, "q90q_planspec_idx_bands") == 1 &&
        historyScans(plan, "q90q_planspec_idx_docs") == 1,
        s"expected both history tables scanned in:\n$plan")
      // (a) the DOCS scan — the heavy verify-attach side — must never
      // sit under a ShuffleExchange: its bucket clustering feeds the
      // SMJ directly, so the grams arrays are read in place
      assert(exchanges(plan).forall(e =>
        historyScans(e.child, "q90q_planspec_idx_docs") == 0),
        s"the docs table must never sit under a ShuffleExchange:\n$plan")
      // (b) exchanges downstream of the BANDS probe are legitimate only
      // if they ship CANDIDATES (ids, batch-side payload), never
      // HISTORY payload: no band-signature or history-grams column may
      // cross an exchange (the batch-side __sa array is bounded by the
      // incremental contract and may ship)
      val histCols = Set("__band", "__bh", "__sb", "grams")
      assert(exchanges(plan).forall(e =>
        historyScans(e.child, "q90q_planspec_idx_bands") == 0 ||
          e.output.forall(a => !histCols(a.name))),
        s"an exchange above the bands scan ships history payload:\n$plan")
      // and the verify attach really is the sort-merge shape (no
      // broadcast shortcut hiding the property)
      assert(plan.toString.contains("SortMergeJoin"), plan.toString)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("q90y: the ingest loop's probe stays exchange-free on the " +
      "history side AFTER per-slot appends — the per-slot 100 TB " +
      "claim as a plan property") {
    // q90q pins the property for a freshly-BUILT index; the ingest
    // loop's index is built once then APPENDED per slot (each append
    // adds one file per bucket), and bucket clustering must survive
    // those appends or the per-slot probe would re-shuffle history.
    // This is the STRUCTURAL guarantee the path-based loop lacks: its
    // measured flatness (INGEST_PROFILE.json, and the `dedup_ingest`
    // benchmark's per-backend rows) rides a count-gated broadcast of
    // the candidate set, which a dup-burst batch can overflow. Run a
    // 3-slot ingest, then examine the NEXT slot's probe plan against
    // the appended tables, broadcasts disabled.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    val path = java.nio.file.Files
      .createTempDirectory("q90y_planspec").toString
    graft.Engine.dedupIngestBucketed(docs, "doc_id", "text",
      col("doc_id") % 3, path, table = "q90y_planspec_idx").count()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val plan = graft.Engine.searchMinHashIndexBucketed(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        "q90y_planspec_idx").queryExecution.executedPlan
      def historyScans(p: SparkPlan, table: String): Int = p.collect {
        case a: AdaptiveSparkPlanExec => historyScans(a.initialPlan, table)
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == table) => 1
      }.sum
      def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
        case a: AdaptiveSparkPlanExec => exchanges(a.initialPlan)
        case e: ShuffleExchangeExec => Seq(e)
      }.flatten
      assert(historyScans(plan, "q90y_planspec_idx_bands") == 1 &&
        historyScans(plan, "q90y_planspec_idx_docs") == 1,
        s"expected both appended history tables scanned in:\n$plan")
      assert(exchanges(plan).forall(e =>
        historyScans(e.child, "q90y_planspec_idx_docs") == 0),
        s"the appended docs table sits under a ShuffleExchange:\n$plan")
      val histCols = Set("__band", "__bh", "__sb", "grams")
      assert(exchanges(plan).forall(e =>
        historyScans(e.child, "q90y_planspec_idx_bands") == 0 ||
          e.output.forall(a => !histCols(a.name))),
        s"an exchange above the bands scan ships history payload:\n$plan")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("q90r: the novelty probe's exchanges carry digests, never text") {
    // batch chunks are built in-row and projected to (id, digest, len)
    // BEFORE the index join, so no exchange in the plan may ship the
    // document text or chunk strings — the same 100 TB property the
    // q90o rewrite established, preserved through the probe composition.
    val p = planOf("q90r_chunk_novelty")
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(ex.nonEmpty)
    assert(ex.forall(l => !l.contains("__t") && !l.contains("__chunk")),
      s"a probe exchange ships text:\n$p")
  }

  test("q92o: centroid drift partial-aggregates the vector explode " +
      "below its exchange — the shuffle is (cohort, dim)-sized, not data") {
    // the posexplode pass is the only corpus-sized stage; map-side
    // partial sums must fold it to |cohorts|·dims rows per task before
    // anything moves, so the exchange volume is config-sized at any
    // corpus scale.
    val p = planOf("q92o_centroid_drift")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected map-side partials below the centroid exchange:\n$p")
  }

  test("q46i: the CUSUM trace reuses the daily rollup's key exchange " +
      "for both window passes") {
    // daily groupBy(key, day) shuffles on (key, day); the reference
    // aggregate re-keys to (key); the two cumulative windows must then
    // share ONE hashpartitioning(key) sort — a per-window exchange
    // would re-shuffle the tiny daily table twice more at scale.
    val p = planOf("q46i_cusum")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n <= 3, s"expected <= 3 hash exchanges, got $n:\n$p")
  }

  test("q47: sessionization is a single data shuffle on user_id") {
    // lag window, running session index, and per-session aggregate must
    // all reuse one hashpartitioning(user_id) exchange — partitioning by
    // user_id already co-locates every (user_id, session_idx) group, so a
    // second exchange before the aggregate would be pure waste at scale.
    val p = planOf("q47_sessionize")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
  }

  test("q47b: the three-stage funnel is a single data shuffle on user_id") {
    // chained running-mins share one (user_id, ts, event_id) window sort
    // and the per-user stage fold reuses that partitioning — a second
    // hash exchange would mean the cascade re-shuffled the event stream
    val p = planOf("q47b_funnel")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
  }

  test("q47c: retention is two data exchanges (user window + distinct)") {
    // cohort stamp reuses the user_id exchange; the (cohort, offset,
    // user) distinct is the only other hash shuffle — the final count
    // partial-aggregates on the distinct's partitioning
    val p = planOf("q47c_retention")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n <= 2, s"expected at most 2 hash exchanges, got $n:\n$p")
  }

  test("q26c: nearest match is one exchange, join-free") {
    // both frame directions ride one (key, ts, tie) sort; the naive
    // per-target candidate join the oracle uses must not appear
    val p = planOf("q26c_nearest_match")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("q92h: sign projection carries no data shuffle") {
    // per-row HOF dot products — the only exchange allowed is the
    // oracle-canonicalization range sort
    val p = planOf("q92h_random_projection")
    assert(!p.contains("hashpartitioning"), p)
  }

  test("q93g: pair generation is in-row; one partial-agg count exchange") {
    // zip_with pair emission must not shuffle the token stream on doc_id
    // (no window), and the top-20 must be a TakeOrdered, not a global sort
    val p = planOf("q93g_bpe_merge")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q93o: co-occurrence pair generation is in-row; one count exchange") {
    // token adjacency lives inside the document row: pair emission is
    // zip_with over slices (no explode + positional self-join), so the
    // ONLY hash exchange is the final pair-count aggregate and the plan
    // is join-free
    val p = planOf("q93o_cooccurrence")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q94o: aHash decode is shuffle-free; one exchange groups the hash") {
    // fingerprints are computed per-blob inside the decode scan; the
    // only hash exchange is the dup-cluster window on the 8-byte hash
    val p = planOf("q94o_image_ahash")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q27b: the unkeyed overlap join is an equi-join on the bin, " +
    "never a cartesian") {
    val p = planOf("q27b_interval_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") && p.contains("__bin"), p)
  }

  test("q93h: BM25 dims broadcast; tf is the only data-sized exchange") {
    // df-per-term joins as a broadcast hash join; (N, avgdl) is a 1-row
    // BNLJ cross (allowlisted); the doc-keyed tf/score aggregates are
    // hash exchanges over at most |terms| rows per doc
    val p = planOf("q93h_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q90b: decontamination is equi-join driven (no cartesian/NLJ)") {
    val p = planOf("q90b_decontaminate")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q47i: the gap audit moves data exactly once — the lag window's " +
      "user partitioning is reused by the per-user aggregate") {
    // the naive formulation shuffles twice (window, then a fresh
    // aggregate exchange); here the groupBy must ride the window's
    // hashpartitioning(user_id), so ONE hash exchange total (the final
    // orderAll adds a range exchange for oracle canonicalization)
    val p = planOf("q47i_gap_regularity")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
  }

  test("q95m / q66b: the codegen scalar kernels are PURE MAPS — zero " +
      "hash exchanges between scan and canonicalization sort") {
    // (whole-stage-codegen participation is pinned separately in
    // ExpressionSpec; the AQE-wrapped registry plan string does not
    // render codegen stars before finalization)
    for ((q, kernel) <- Seq("q95m_char_entropy" -> "char_entropy",
        "q66b_jaro_winkler" -> "jaro_winkler")) {
      val p = planOf(q)
      val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
      assert(n == 0, s"$q: expected 0 hash exchanges, got $n:\n$p")
      assert(p.contains(kernel), s"$q: $kernel missing from the plan:\n$p")
    }
  }

  test("q92t: one moment-pass exchange, stats return as a broadcast — " +
      "no data-keyed join anywhere in the rewrite") {
    // posexplode → groupBy(dim) is the single hashpartitioning (its
    // partial aggregate collapses each partition to |dims| rows
    // map-side); the |dims|-row stats table must come back as a
    // BroadcastExchange hash join on the dim index, never a
    // SortMergeJoin on vec rows
    val p = planOf("q92t_standardize")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange, got $n:\n$p")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"moment pass must partial-aggregate below the exchange:\n$p")
  }

  /** Registry queries whose BUILDER executes side effects (source/sink
    * round-trips that stage or write, streaming replays that run their
    * query on build, eager materialization under scoped confs, the
    * iterative clustering loops). Shared by the no-cartesian audit and
    * the output-schema lint, both of which only build LAZY queries; the
    * excluded names are pinned explicitly (and asserted ⊆ registry) so
    * a rename can never silently widen the blind spot. Side-effecting
    * queries' output schemas are still hash-checked by the driver's
    * per-round DuckDB compare. */
  private val sideEffecting = Set(
      "q01b_schema_evolution", "q02_csv_scan", "q03_json_scan",
      "q03b_corrupt_json", "q03c_xml_roundtrip", "q04_binary_scan",
      "q05_partitioned_sink", "q05b_compacted_roundtrip",
      "q05c_zorder_layout", "q05d_retention_vacuum",
      "q06_stream_sink", "q08_orc_roundtrip",
      "q70_tumbling", "q71_sliding", "q72_session", "q73_watermark",
      "q74_dedup", "q75_stateful_cursor", "q75b_transform_with_state",
      "q76_stream_static_join", "q76b_stream_anti_join",
      "q77_foreach_batch", "q77b_stream_upsert", "q78_stream_stream_join",
      "q78b_stream_stream_outer", "q79_stream_cusum",
      "q20c_bloom_join", "q20d_bucketed_join",
      "q91b_neardup_clusters", "q91e_apply_dedup",
      // write their index on build; targeted partition-pruning test
      "q99g_persisted_ivf", "q99h_index_append",
      // writes the whitened index (stats/vecs/buckets) on build
      "q99o_whitened_index",
      // writes index + tombstones on build (q99g class)
      "q99j_index_delete",
      // writes the meta-carrying index on build (q99g class)
      "q99k_filtered_ann",
      // writes the banded-MinHash dedup index on build (q99h class)
      "q90m_dedup_index",
      // driver ingest loop: builds + appends the index per batch
      "q90n_dedup_ingest",
      // writes the bucketed catalog tables on build (q90m class)
      "q90q_bucketed_index",
      // writes the chunk-hash index on build (q90m class)
      "q90r_chunk_novelty",
      // build + append + atomic-swap compaction before the probe
      "q90t_index_compaction",
      // streaming foreachBatch ingest probing the static chunk index
      "q79b_stream_novelty",
      // runs the whole Part-A slot loop (catalog match → fetch → unzip
      // → publish → cursor commit) on build, then reads the trace back
      "q101_pipeline_capstone")

  /** The q92t lesson as an executable rule: the driver's comparator
    * serializes results through pandas, whose sort/hash canonicalizer
    * crashes on nested cells (`unhashable type: numpy.ndarray`) — so a
    * registered query must only ever emit SCALAR top-level columns.
    * Arrays/maps/structs must be exploded to scalar rows first (the
    * q36/q38 convention, stated in prose at Aggregates.scala:230-236
    * and :257-259; enforced here). Returns the offending columns. */
  private def nestedOutputCols(
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
          f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq

  test("registry lint: no query registers a nested (array/map/struct) " +
      "output column — the q92t class cannot recur") {
    assert(sideEffecting.subsetOf(SparkEntry.queries.keySet),
      sideEffecting.diff(SparkEntry.queries.keySet).mkString(","))
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(sideEffecting)
    // schema alone forces only ANALYSIS, never a job — the whole
    // registry lints in seconds
    val bad = names.flatMap { n =>
      val nested = nestedOutputCols(
        SparkEntry.queries(n)(spark, TestSpark.sfDir).schema)
      if (nested.nonEmpty) Some(s"$n → ${nested.mkString(", ")}") else None
    }
    assert(bad.isEmpty,
      s"nested output columns (driver cannot canonicalize them — " +
        s"posexplode to scalar rows per the q36/q38 rule):\n" +
        bad.mkString("\n"))
  }

  test("registry lint: the nested-column detector itself fires on an " +
      "array-returning probe") {
    import spark.implicits._
    val probe = Seq((1L, Seq(1.0, 2.0))).toDF("id", "vec")
    assert(nestedOutputCols(probe.schema) == Seq("vec: array<double>"))
    val probe2 = probe.select(col("id"),
      org.apache.spark.sql.functions.map(col("id").cast("string"),
        col("id")).as("m"),
      org.apache.spark.sql.functions.struct(col("id")).as("s"))
    assert(nestedOutputCols(probe2.schema).size == 2)
  }

  test("q92u: whitened search adds NOTHING over q92t + q92's shapes — " +
      "moment + config-sized packing + ranking exchanges only, stats " +
      "broadcast, no data-keyed join") {
    val p = planOf("q92u_whitened_topk")
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    // the moment groupBy(dim), the |dims|-row stats-PACKING aggregate
    // (config-sized by construction), and the rank window's query_id
    // partitioning — nothing data-keyed beyond the one moment pass
    assert(n == 3, s"expected exactly 3 hash exchanges, got $n:\n$p")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("global audit: no CartesianProduct anywhere; BNLJ only where intended") {
    // Sweep every LAZILY-built registry query's executed plan for the
    // two scale-killers (side-effecting builders excluded — see
    // `sideEffecting`; those have targeted assertions or return
    // read-back scans with no join at all).
    // every excluded name must exist — a rename would silently widen the
    // sweep's blind spot otherwise
    assert(sideEffecting.subsetOf(SparkEntry.queries.keySet),
      sideEffecting.diff(SparkEntry.queries.keySet).mkString(","))
    // BNLJ allowlist — every entry is a crossJoin whose broadcast side
    // is BOUNDED by construction (the legitimate BNLJ): q23 an intended
    // 5×25 cross join; q92 a bounded query set; q33b/q93c/q95d a 1-row
    // scalar (sketch union / corpus size / token total); q48 the
    // bounds-row × distinct-keys spine; q99b the 8-centroid seed set.
    val bnljOk = Set("q23_cross_join", "q92_cosine_topk",
      "q92e_hard_negatives", // bounded query set, same plan as q92
      "q92m_truncate_rerank", // bounded query set (stage 1), q92 class
      "q92p_knn_label",       // bounded query set (5 ids), q92 class
      "q92q_maxsim",          // bounded query token bag, q92 class
      // 1-row totals + 1-row top-gram scalar broadcasts, q93f class
      "q90v_dedup_cost",
      // 1-row percentile-cuts scalar broadcast, q95g tertile class
      "q47h_rfm_features",
      // 1-row dup-count scalar broadcast, q93f class
      "q92r_embedding_audit",
      // 1-row distortion-summary reduce feeds no BNLJ, but its
      // percentile agg rides the same 1-row cross shape
      "q92s_pq_distortion",
      "q46c_tvd_drift",       // 1-row totals scalar broadcast, q93f class
      "q33b_hll_union", "q48_gap_fill", "q93c_tfidf", "q95d_lm_score",
      "q09d_temperature_mix", // 1-row √-sum scalar broadcast
      "q93f_heavy_hitters",   // 1-row token-total scalar broadcast
      "q93h_bm25",            // 1-row (N, avgdl) stats scalar broadcast
      "q49b_subseq_search",   // 1-row query-window broadcast
      "q99b_ivf_ann",
      // 8-centroid seed/refined set, same bounded shape as q99b
      "q92f_semantic_dedup", "q92g_kmeans_refine",
      // 8-entry PQ codebook broadcast (pqBlockDistances), plus the
      // bounded query set's LUT in q99c — the q99b class again
      "q92i_pq_codes", "q99c_pq_ann",
      // q99e composes exactly those two shapes: the 8-centroid
      // assignment crosses (q99b) and the codebook/LUT crosses (q99c)
      "q99e_ivfpq_ann",
      // q99m = q99e + the rerank broadcast (|Q|·R shortlist) — same
      // bounded crosses, refine leg is a keyed broadcast hash join
      "q99m_ivfpq_rerank",
      // 1-row packed per-dim stats cross (the q92t moment shape) +
      // the q92 bounded-query scoring cross
      "q92u_whitened_topk",
      // q92u's shape TWICE (frozen + fresh standardization, each a
      // 1-row stats cross + bounded-query scoring cross)
      "q99p_whitened_staleness",
      // two 1-row size-extreme aggregates crossed into the audit row
      "q90x_banding_audit",
      "q93j_bm25_search", // 1-row (N, avgdl) stats scalar, the q93h class
    // two 1-row (N, avgdl) stats scalars (fresh + frozen), q93j class
    "q93x_stale_idf_audit",
      "q92j_semantic_decontaminate", // bounded benchmark broadcast (q92 class)
      // the recall eval's ground-truth side IS the q92 plan (bounded
      // query set crossed against the corpus); the LSH side is equi-join
      "q99i_ann_recall",
      // same recall-eval shape over the hyperplane index (q99f's
      // approximate side is equi-join on (table, bucket))
      "q99i_b_hyper_recall",
      // 1-row (R, T) gram-total scalar broadcast, the q93f class
      "q93l_dsir_weights", "q93m_dsir_resample",
      "q92k_cluster_cap", // 8-centroid assignment cross, the q99b class
      // 1-row √-sum scalar, the q09d class (q100b composes the mix)
      "q09f_token_budget_mix", "q100b_export_pipeline",
      // 1-row token-total + 1-row tertile-cuts scalar broadcasts
      "q95g_quality_tiers",
      // 1-row corpus-count scalar broadcast, the q93f class
      "q95h_boilerplate",
      // 1-row grand-total scalar broadcast, the q46c class
      "q46e_chi2_independence",
      // 1-row baseline-bounds + 1-row totals scalar broadcasts
      "q46h_psi_drift",
      // 1-row (n_rows, n_keys, max_cnt) totals scalar broadcast
      "q11c_skew_audit",
      // composes q93j's 1-row stats scalar and q92's bounded query cross
      "q93r_hybrid_rrf",
      // two 1-row scalar broadcasts (edge count + triangle count)
      "q93s_graph_triangles",
      // bounded query set crossed against the corpus, the q92 class
      "q92n_mmr_rerank",
      // two bounded query crosses (truth + truncated-pred rankings)
      "q99l_ranking_metrics",
      // two 1-row scalar broadcasts (totals + worst key)
      "q20e_join_audit",
      // 1-row observation-end scalar broadcast cross
      "q47f_survival",
      // 1-row basket-total scalar broadcast cross
      "q30c_assoc_rules",
      // five 1-row sketch/exact scalars crossed into one row
      "q33c_overlap_estimate",
      // 1-row priced-candidate budget scalar broadcast (the exact-join
      // refusal gate riding q91c's gram-frequency table)
      "q91c_jaccard_join",
      // 1-row min/max bounds scalar + the domain-sized dense-grid
      // cross (|groups| × 256 buckets, both sides aggregates)
      "q46n_bh_fdr",
      // 1-row trigram-total scalar broadcast, the q93f class
      "q47j_event_trigrams")
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(sideEffecting)
    assert(names.size >= 95, s"audit should cover the bulk: ${names.size}")
    val bad = names.flatMap { n =>
      val p = planOf(n)
      val cart = p.contains("CartesianProduct")
      val bnlj = p.contains("BroadcastNestedLoopJoin") && !bnljOk(n)
      if (cart || bnlj)
        Some(s"$n: cartesian=$cart unexpected-bnlj=$bnlj")
      else None
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("q90d: the candidate pair list is never broadcast (the sf1 OOM class)") {
    // Candidate volume is saturation-bound, not batch-bound (~10^8 raw
    // rows at the 10x fixture), so a broadcast of the deduped pair list
    // is a driver-side collect failure waiting for scale — exactly how
    // q90d died the first time it ran at sf1. The pair dedup (a
    // HashAggregate grouping on left_id+right_id) must therefore only
    // ever appear on the STREAMED side of the verify joins, never under
    // a BroadcastExchange. The batch prefix table and the array tables
    // remain legitimately broadcastable.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => flatten(a.initialPlan)
      case n => Seq(n)
    }.flatten
    val plan = SparkEntry.queries("q90d_incremental_dedup")(
      spark, TestSpark.sfDir).queryExecution.executedPlan
    def dedupsPairs(p: SparkPlan): Boolean = flatten(p).exists {
      case agg: BaseAggregateExec =>
        // the pair-reducing aggregate groups on the id pair (plus, since
        // the exact-PPJoin tightening, the carried sizes __na/__nb —
        // functionally dependent on the ids)
        val g = agg.groupingExpressions.map(_.name).toSet
        g.contains("left_id") && g.contains("right_id")
      case _ => false
    }
    assert(dedupsPairs(plan), "expected the pair-dedup aggregate in the plan")
    val offenders = flatten(plan).collect {
      case b: BroadcastExchangeExec if dedupsPairs(b.child) => b
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q90h: building the banded containment plan runs at most 2 actions") {
    // the asymmetry audit and the verify gate's doc count are the only
    // actions before the query's own write; the two doc tables are
    // counted by one action, not one each. Adaptive execution splits an
    // action into one job per query stage (and the first action also
    // fills the persisted doc tables), so the count is of the distinct
    // SQL executions the plan build's jobs ran under
    val sc = spark.sparkContext
    val group = "q90h-plan-build"
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
            .orElse(Option(p.getProperty("spark.sql.execution.id"))))
          .foreach(execs.add(_): Unit)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "q90h plan build")
    try {
      SparkEntry.queries("q90h_containment_join")(spark, TestSpark.sfDir)
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(execs.size <= 2,
      s"${execs.size} actions ran while q90h's plan was built")
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query has a distinct name and an oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    val noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty,
      s"queries without oracle (rows-only check): $noOracle")
  }
}
