package graft

import org.scalatest.funsuite.AnyFunSuite

/** SHUFFLE-BYTE regression gate — the bench ledger's `qio` observation
  * promoted into CI. Seconds proved environment-dependent (the r9 host
  * shift moved every untouched query ~1.4× with zero code change), but
  * shuffle bytes are a property of the PLAN: byte-identical across runs
  * for identical code+data. A plan flap — a lost broadcast, an un-pruned
  * scan, a candidate join exploding past its filters — moves bytes by
  * integer FACTORS; host drift moves them not at all. This spec runs the
  * ledger's hotspot queries (the shuffle-heaviest families: prefix-filter
  * dedup, correlated subquery, stream-stream join) at the gate fixture
  * and fails when their cold shuffle-write volume leaves a committed
  * envelope — so a flap fails `sbt test` instead of waiting for a judge
  * to diff bench artifacts.
  *
  * Envelope: [expected/2, expected·2]. Measured volumes replayed at this
  * suite's fixed config (local[4], 4 shuffle partitions, sf0.001) vary
  * by a few percent at most (dictionary/compression jitter); every real
  * plan regression observed in the ledger history moved the bytes ≥4×
  * (the q90d broadcast loss, the q92j growing sample). A legitimate
  * plan IMPROVEMENT also trips the gate — by design: update the
  * constant in the same commit, which is exactly the review trail the
  * gate exists to create. */
class IoEnvelopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Expected cold shuffle-write bytes at local[4]/sf0.001 — re-measure
    * with `printf` below after an intentional plan change. */
  private val expectedWrite: Map[String, Long] = Map(
    "q56_correlated_subquery" -> 14659L,
    "q78_stream_stream_join" -> 40948L,
    // r15: q90d's registered path is the banded construction (the
    // absorbed q90l's measured envelope — 608239 under the exact
    // prefix flood before); the row-local minhash_bands kernel then
    // removed the signature aggregate's shuffle (320455 before)
    "q90d_incremental_dedup" -> 90525L,
    // r14: banded candidates replaced the exact prefix flood (708767
    // before the containmentJoinBanded default); minhash_bands as for
    // q90d (331157 before)
    "q90h_containment_join" -> 96309L,
    "q91c_jaccard_join" -> 1020185L,
    "q92g_kmeans_refine" -> 315306L,
    "q92n_mmr_rerank" -> 5959L,
    // the two round-12 candidate-generation additions: MaxSim's scored
    // (query, doc) aggregates and the clip-shingle pair join — the
    // exchanges that would balloon if an embedding / the saturation
    // cap ever escaped into them
    "q92q_maxsim" -> 27396L,
    "q94p_clip_neardup" -> 130116L,
    // r16: tf now aggregates per (doc, term) BEFORE the query fan-out
    // (the 30×-tier spill fix) — down from 806833 under the old
    // fan-out-first shape, and the Q-multiplier is out of the exchange
    "q93j_bm25_search" -> 367303L,
    "q93u_kcore" -> 41454L,
    "q93v_communities" -> 55782L)

  test("hotspot queries' cold shuffle volume stays inside the envelope") {
    val written = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) written.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // listener events are async: drain the bus so a query's last deltas
    // land in ITS snapshot
    def drain(): Unit =
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    try {
      // measure ALL queries before judging any: one run yields the full
      // set of current values even when several envelopes move at once
      val measured = expectedWrite.toSeq.sortBy(_._1).map {
        case (name, expected) =>
          // cold volume: caches dropped first, exactly one full execution
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          drain()
          val w0 = written.get()
          SparkEntry.queries(name)(spark, TestSpark.sfDir)
            .write.format("noop").mode("overwrite").save()
          drain()
          val w = written.get() - w0
          info(f"$name%-28s shuffle_write=$w (expected ~$expected)")
          (name, expected, w)
      }
      val breaches = measured.collect {
        case (name, expected, w)
            if w < expected / 2 || w > expected * 2 =>
          s"$name: $w outside [${expected / 2}, ${expected * 2}]"
      }
      assert(breaches.isEmpty,
        "shuffle-write envelope breach — a plan change (or an " +
          "improvement: update the constant in this spec in the same " +
          s"commit): ${breaches.mkString("; ")}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }
}
