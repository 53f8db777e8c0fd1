package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** TRIGGER-SIZING sweep (dev main, beside Bench/RecallProbe/
  * JobProfile): wall-seconds and trigger counts for the streaming
  * replay families as a CURVE over maxFilesPerTrigger — the r13 ledger
  * showed their sf1 cost is per-TRIGGER fixed overhead, invariant to
  * the state-store backend (STREAMING_PROFILE.json's hdfs≈rocksdb
  * rows), so the only lever left is how many triggers the same data is
  * chopped into. This probe measures that lever instead of guessing:
  * `-Dgraft.stream.mfpt` (see [[graft.sources.Sources]]) overrides
  * every registered stream's files-per-trigger, the queries run
  * UNMODIFIED from the registry, and each (query, mfpt) cell reports
  * seconds + observed trigger count. Methodology note: results are
  * about the REPLAY harness's fixed cost — in production the trigger
  * interval is the ingest cadence (a real slot arrival per trigger,
  * reference main.py:29's 15-min loop) and this overhead amortizes to
  * noise; what the curve pins is that a backfill should batch history
  * coarsely (mfpt ≥ the file count) rather than replay it slot by
  * slot. Mergeable sinks (q79b/c/d foreachBatch partitions, q79
  * cusum) produce batching-invariant RESULTS; the watermarked
  * stream-stream joins (q78/q78b) are timed here for the same curve
  * but their registered mfpt=1 stays the correctness contract (late
  * segments only materialize when batches arrive in order). Prints one
  * JSON line on stdout; merge into STREAMING_PROFILE.json as
  * `trigger_sizing`. */
object StreamSizing {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Trigger counts keyed by stream RUN id, not one shared counter:
    // listener events are async, so a terminated cell's stragglers can
    // arrive while the NEXT cell runs — under a shared counter they
    // bleed into the next cell's delta and skew the curve. Every stream
    // start mints a fresh runId, so a cell's count is exactly the sum
    // over runIds first seen during that cell; late events from prior
    // cells land on old runIds and cannot pollute it.
    val counts = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.util.concurrent.atomic.AtomicLong]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        counts.computeIfAbsent(e.progress.runId,
          _ => new java.util.concurrent.atomic.AtomicLong())
          .incrementAndGet(): Unit
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val names = Seq("q78_stream_stream_join", "q78b_stream_stream_outer",
      "q79_stream_cusum", "q79b_stream_novelty", "q79c_stream_sketch",
      "q79d_stream_classifier")
    // mfpt=1 replays file-by-file (every registered query's contract);
    // 2 halves the trigger count; 8 covers every staged source (2- and
    // 4-file) in ONE batch — the backfill shape
    val sweeps = Seq(1, 2, 8)
    val cells = for (name <- names; mfpt <- sweeps) yield {
      sys.props("graft.stream.mfpt") = mfpt.toString
      try {
        val before = {
          import scala.jdk.CollectionConverters._
          counts.keySet().asScala.toSet
        }
        val start = System.nanoTime()
        // the builder runs the stream to completion (awaitTermination)
        // and returns the read-back; count() forces the read-back scan
        val n = SparkEntry.queries(name)(spark, dir).count()
        val sec = (System.nanoTime() - start) / 1e9
        // brief drain for THIS cell's own async stragglers (prior
        // cells' late events land on old runIds and are excluded by
        // construction)
        Thread.sleep(300)
        val nt = {
          import scala.jdk.CollectionConverters._
          counts.asScala.collect {
            case (rid, c) if !before(rid) => c.get()
          }.sum
        }
        System.err.println(f"[sizing] $name mfpt=$mfpt $sec%.2f s " +
          s"triggers=$nt rows=$n")
        (name, mfpt, sec, nt)
      } finally sys.props.remove("graft.stream.mfpt"): Unit
    }
    val body = cells.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (name, cs) =>
        val row = cs.sortBy(_._2).map { case (_, m, s, t) =>
          f""""mfpt$m":{"sec":$s%.3f,"n_triggers":$t}"""
        }.mkString(",")
        s""""$name":{$row}"""
    }.mkString(",")
    println(s"""{"metric":"stream_trigger_sizing","sf":"$dir",""" +
      s""""queries":{$body}}""")
    spark.stop()
  }
}
