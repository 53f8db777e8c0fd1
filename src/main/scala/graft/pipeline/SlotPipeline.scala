package graft.pipeline

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Overlap

/** The reference pipeline's cursor document and its atomic store —
  * `sources/meteosat.py:61-80` + `utils/fs.py:21-48` re-expressed:
  * a JSON file `{"date": "...Z", "last_updated": "...Z"}`, written
  * temp-file-in-same-dir → sync → atomic rename (via [[AtomicFs]]), so a
  * crash can never leave a torn cursor. Paths resolve through the Hadoop
  * `FileContext`, so the A16 contract holds unchanged when the state file
  * lives on HDFS or an object store, not just a local POSIX volume.
  */
object CursorStore {
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** Missing/empty file ⇒ no cursor (bootstrap), meteosat.py:61-69. */
  def read(path: String,
      conf: Configuration = new Configuration()): Option[Instant] =
    AtomicFs.read(new HPath(path), conf).flatMap { bytes =>
      val s = new String(bytes, StandardCharsets.UTF_8)
      "\"date\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(s)
        .map(m => Instant.from(fmt.parse(m.group(1))))
    }

  /** Atomic commit (fs.py:21-48): same-directory temp file, sync, rename. */
  def commit(path: String, slot: Instant, now: Instant,
      conf: Configuration = new Configuration()): Unit = {
    val json =
      s"""{"date": "${fmt.format(slot)}", "last_updated": "${fmt.format(now)}"}"""
    AtomicFs.write(new HPath(path),
      json.getBytes(StandardCharsets.UTF_8), conf)
  }
}

/** One tick's outcome. */
sealed trait TickResult { def slot: Instant }
/** The slot was matched, processed, and committed. `blobEntries` counts
  * decompressed archive members when a [[BlobFetcher]] is injected (0
  * when the tick runs without a transport). */
final case class Processed(slot: Instant, productId: String, rows: Long,
    blobEntries: Long = 0L)
    extends TickResult
/** No catalog product matched the slot exactly — the cursor did NOT
  * advance; the same slot is retried next tick (meteosat.py:101-103). */
final case class Stalled(slot: Instant) extends TickResult

/** The reference's main loop (`sources/meteosat.py:82-122,187-188`) as a
  * batch-incremental Spark pipeline — the cohesive Part A replica
  * (A2/A3/A6/A15/A16/A17):
  *
  *  - one slot per tick, monotone cursor; bootstrap = hour-truncated
  *    "now" − 45 min (publication-delay guard, meteosat.py:93);
  *  - the catalog scan is bounded to ±30 min around the slot (the DSv2
  *    source prunes to that range), but selection is an EXACT match on
  *    the minute-truncated timestamp, earliest (ts, id) candidate wins;
  *  - a miss stalls forever (no gap-skip), a hit processes the slot's
  *    source rows into a slot-partitioned parquet layout (A15 —
  *    idempotent per slot: each publish is a direct overwrite of its one
  *    `slot_key=<key>` directory, so reprocessing REPLACES the slot's
  *    partition, an empty replay included);
  *  - with a transport, the rows publish and the archive publish run
  *    concurrently and the tick waits for both; a failure on either side
  *    is rethrown only after the other side has finished;
  *  - the cursor commits ONLY after both writes succeed (A16), so a crash
  *    between write and commit replays the slot idempotently (A17).
  */
final class SlotPipeline(spark: SparkSession, stateFile: String,
    outputDir: String, fetcher: Option[BlobFetcher] = None) {
  private val slotStep = 15L * 60
  private def hconf = spark.sparkContext.hadoopConfiguration

  /** The slot this tick will attempt (read state → +15 min | bootstrap). */
  def nextSlot(now: Instant): Instant =
    CursorStore.read(stateFile, hconf) match {
      case Some(last) => last.plusSeconds(slotStep)
      case None => now.truncatedTo(ChronoUnit.HOURS).minusSeconds(45L * 60)
    }

  /** Run one tick against a product catalog (identifier, ts) and a source
    * table carrying a `ts` column; `afterWrite` is a crash-injection seam
    * for tests (defaults to no-op). */
  def tick(catalog: DataFrame, source: DataFrame, now: Instant,
      afterWrite: () => Unit = () => ()): TickResult = {
    val slot = nextSlot(now)
    val slotTs = java.sql.Timestamp.from(slot)
    val lo = java.sql.Timestamp.from(slot.minusSeconds(30 * 60))
    val hi = java.sql.Timestamp.from(slot.plusSeconds(30 * 60))

    // A4/A6: bounded range scan (pushed into the source), exact-equality
    // selection on the minute-truncated timestamp, first in (ts, id) order.
    val hit = catalog
      .filter(col("ts") >= lo && col("ts") < hi)
      .filter(date_trunc("minute", col("ts")) === lit(slotTs))
      .orderBy(col("ts").asc_nulls_last, col("identifier").asc_nulls_last)
      .select("identifier")
      .limit(1)
      .collect() // exactly 0 or 1 driver-side row — never the data path

    hit.headOption match {
      case None => Stalled(slot)
      case Some(row) =>
        val id = row.getString(0)
        // A10–A15 analog: process the slot's source rows and publish them
        // under a slot-keyed partition (path-encoded layout).
        val slotEnd = java.sql.Timestamp.from(slot.plusSeconds(slotStep))
        val slotKey = DateTimeFormatter.ISO_INSTANT.format(slot)
          .replace(":", "-")
        // The slot partition is known, so each publish overwrites just
        // its `<dir>/slot_key=<key>` directory, the layout readers
        // discover. The count rides on the write as an Observation, so
        // the publish is one job per output; each attaches a fresh one to
        // the very frame it writes (`get` waits with no timeout).
        def publish(ds: Dataset[_], dir: String): Long = {
          val written = new Observation()
          ds.observe(written, count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(s"$dir/slot_key=$slotKey")
          written.get("n").asInstanceOf[Long]
        }
        val rows =
          source.filter(col("ts") >= lit(slotTs) && col("ts") < lit(slotEnd))
        // A7/A8 analog: when a transport is injected, fetch the matched
        // product's archive and publish its decompressed members under
        // the same slot partition of `<outputDir>-blobs`. The two
        // publishes are independent, so they run concurrently; both have
        // finished (or failed) before the tick goes on.
        val (n, nBlobs) = fetcher.fold((publish(rows, outputDir), 0L)) { f =>
          implicit val s: SparkSession = spark
          import spark.implicits._
          val blobs = Blobs.fetchAndExplode(spark.createDataset(Seq(id)), f)
          Overlap.both(spark)(publish(rows, outputDir),
            publish(blobs, s"$outputDir-blobs"))
        }
        afterWrite() // crash seam: fires between publish and commit
        CursorStore.commit(stateFile, slot, now, hconf) // A16: commit LAST
        Processed(slot, id, n, nBlobs)
    }
  }

  /** The reference's scheduler loop (`main.py:28-29`: an interval trigger
    * with `max_instances=1`) re-expressed: ticks run strictly serialized —
    * one in flight, ever — at a fixed wall-clock cadence, until `maxTicks`
    * ticks ran or the pipeline stalls (`stopOnStall`). `intervalMs = 0`
    * runs back-to-back (the test cadence). Returns the tick trace. */
  def run(catalog: DataFrame, source: DataFrame, now: () => Instant,
      maxTicks: Int, intervalMs: Long = 0L,
      stopOnStall: Boolean = true): Seq[TickResult] = {
    val trace = Vector.newBuilder[TickResult]
    var i = 0
    var stalled = false
    while (i < maxTicks && !(stalled && stopOnStall)) {
      if (i > 0 && intervalMs > 0) Thread.sleep(intervalMs)
      val r = tick(catalog, source, now())
      trace += r
      stalled = r.isInstanceOf[Stalled]
      i += 1
    }
    trace.result()
  }
}

object SlotPipeline {
  /** Build from the layered [[Settings]] (the `main.py:10-22` wiring:
    * settings resolve to constructor args at the entry point, not inside
    * the pipeline). STATE_DIR / OUTPUT_DIR are required — the reference
    * would crash later with `None` paths; failing here is the loud
    * version of the same contract. */
  def fromSettings(spark: SparkSession, s: Settings,
      fetcher: Option[BlobFetcher] = None): SlotPipeline = {
    def req(k: String) = s.get(k).getOrElse(
      throw new IllegalArgumentException(s"Settings key $k is required"))
    new SlotPipeline(spark, req(Settings.StateDir) + "/meteosat.json",
      req(Settings.OutputDir), fetcher)
  }

  /** The scheduler cadence from settings (`main.py:10,29`). */
  def intervalMsOf(s: Settings): Long =
    s.int(Settings.MinutesUpdateInterval, 15) * 60L * 1000L
}
