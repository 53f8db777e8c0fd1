package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.Instant
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{Engine, Q, SparkEntry, Tables}
import graft.pipeline.{CursorStore, HttpBlobFetcher, Processed, SlotPipeline, Stalled}

/** The measured window: `seconds` from its creation, checked between
  * operations, so an operation is never cut. Each workload warms up with a
  * fixed amount of work before it opens the window. */
final class Window(seconds: Double) {
  HeapAfterGc.open()
  private val t0 = Clock.nowMs
  def done: Boolean = Clock.nowMs - t0 >= seconds * 1000
}

/** A workload's session-bound state, made by [[Workload.prepare]]. */
trait Prepared extends AutoCloseable {
  def counters(): Map[String, Long] = Map.empty
  /** Runs operations until `a`'s window closes; returns what the checker
    * needs beyond the operation records. */
  def run(rec: Recorder, a: Args): Map[String, Any]
  override def close(): Unit = ()
}

trait Workload {
  /** Inputs only the JVM can make; untimed, before any session exists. */
  def generate(a: Args): Unit = ()
  /** Everything between session start and the first operation; timed as
    * set-up. */
  def prepare(spark: SparkSession, a: Args): Prepared
}

object Workload {
  def apply(name: String): Workload = name match {
    case "slot_catchup" => SlotCatchup
    case "dedup_ingest" => DedupIngest
    case "analytics_mix" => AnalyticsMix
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator.asScala
        .foreach(Files.delete)

  def countFiles(p: Path, skip: String => Boolean = _ => false): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala
      .count(f => Files.isRegularFile(f) && !skip(p.relativize(f).toString))
}

/** The reference's own traffic: a backlog of 15-minute slots caught up one
  * tick at a time (one tick in flight), each tick reading the catalog,
  * publishing the slot's source rows, fetching its archive over HTTP and
  * committing the cursor. Every episode replays the backlog on fresh state
  * until the tick after the last slot stalls. Tick times keep falling for
  * the first ~20 ticks of a JVM, so `warmTicks` ticks run before the
  * window opens. */
object SlotCatchup extends Workload {
  val collection = "EO:EUM:DAT:MSG:HRSEVIRI"
  val warmTicks = 20

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  /** One zip per slot, named by the catalog's identifier, holding a PNG and
    * a seeded binary payload of 2-8 KB (an assumed size, far below a real
    * product's; see NOTES.md); `manifest.json` lists each member's digest. */
  override def generate(a: Args): Unit = {
    val dir = a.inputs.resolve("archives")
    Files.createDirectories(dir)
    val manifest = (0 until a.slots).map { i =>
      val epoch = a.start + i * 900L
      val id = s"MSG4-$epoch"
      val rnd = new scala.util.Random(a.seed * 1000003L + i)
      val members = Seq(s"$id.png" -> graft.operators.Multimodal.pngFor(epoch / 900),
        s"$id.bin" -> Array.fill(2048 + rnd.nextInt(6144))(rnd.nextInt(256).toByte))
      val buf = new ByteArrayOutputStream()
      val zip = new ZipOutputStream(buf)
      members.foreach { case (n, b) =>
        zip.putNextEntry(new ZipEntry(n)); zip.write(b); zip.closeEntry()
      }
      zip.close()
      Files.write(dir.resolve(s"$id.zip"), buf.toByteArray)
      id -> members.map { case (n, b) =>
        n -> Map("len" -> b.length, "sha256" -> sha256(b)) }.toMap
    }.toMap
    Files.writeString(a.inputs.resolve("manifest.json"), Main.json.writeValueAsString(manifest))
  }

  override def prepare(spark: SparkSession, a: Args): Prepared = new Prepared {
    private val server = new StubServer(a.inputs.resolve("archives"))
    private val fetcher = HttpBlobFetcher(server.baseUrl, collection,
      "perfbench-key", "perfbench-secret")
    private val source = spark.read.parquet(a.inputs.resolve("events.parquet").toString)
    private val catalog = spark.read.format("graft.sources.CatalogSource")
      .option("start", a.start.toString)
      .option("end", (a.start + a.slots * 900L).toString).load()
    // the backlog starts at a quarter past an hour, so with "now" 45 min
    // later the bootstrap (hour of now − 45 min) lands on its first slot
    require(a.start % 3600 == 900, "the backlog must start at hh:15")
    private val now = Instant.ofEpochSecond(a.start + 45 * 60)

    override def counters(): Map[String, Long] = server.counters()
    override def close(): Unit = server.close()

    override def run(rec: Recorder, a: Args): Map[String, Any] = {
      var w: Window = null
      var ticks = 0
      val episodes = ArrayBuffer.empty[Map[String, Any]]
      var pipeline: SlotPipeline = null
      var dir: Path = null
      def stateFile = dir.resolve("state/meteosat.json").toString
      def endEpisode(complete: Boolean): Unit = {
        val cursor = CursorStore.read(stateFile,
          spark.sparkContext.hadoopConfiguration).map(_.getEpochSecond)
        episodes += Map("id" -> (episodes.size), "out" -> dir.resolve("out").toString,
          "cursor" -> cursor, "complete" -> complete)
        pipeline = null
      }
      while (w == null || !w.done) {
        if (ticks == warmTicks) w = new Window(a.seconds)
        if (pipeline == null) {
          dir = a.work.resolve(s"slot/e${episodes.size}")
          pipeline = new SlotPipeline(spark, stateFile, dir.resolve("out").toString,
            Some(fetcher))
        }
        val p = pipeline
        val r = rec.op("tick", w != null, "episode" -> episodes.size) {
          if (rec.tracing) rec.call("pipeline.nextSlot")(p.nextSlot(now))
          rec.call("pipeline.tick")(p.tick(catalog, source, now)) match {
            case Processed(slot, id, rows, blobs) =>
              Map("outcome" -> "processed", "slot" -> slot.getEpochSecond,
                "product" -> id, "rows" -> rows, "blobs" -> blobs)
            case Stalled(slot) =>
              Map("outcome" -> "stalled", "slot" -> slot.getEpochSecond)
          }
        }
        if (rec.tracing) rec.drain()
        ticks += 1
        if (r.get("outcome").contains("stalled")) endEpisode(complete = true)
      }
      if (pipeline != null) endEpisode(complete = false)
      Map("episodes" -> episodes.toList)
    }
  }
}

/** Incremental near-duplicate ingest: each call runs the whole batch stream
  * through the path-index loop and then the bucketed-index loop, each on a
  * fresh index, so index writes (freeze, append, compaction) run beside the
  * probes. There is no warm-up call: one call is nine batch steps per
  * backend, long enough that the first call is measured. */
object DedupIngest extends Workload {

  override def prepare(spark: SparkSession, a: Args): Prepared = new Prepared {
    private val docs = spark.read.parquet(a.inputs.resolve("docs.parquet").toString)
    private val table = "pb_index"
    private def tablePath(suffix: String): Path = java.nio.file.Paths.get(
      new java.net.URI(spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_$suffix")).toString))

    override def run(rec: Recorder, a: Args): Map[String, Any] = {
      import spark.implicits._
      val survivors = ArrayBuffer.empty[Map[String, Any]]
      val w = new Window(a.seconds)
      while (!w.done) {
        val c = survivors.size / 2
        val base = a.work.resolve(s"ingest/c$c")
        for (backend <- Seq("path", "bucketed")) {
          val idx = base.resolve(backend).toString
          var ids = Array.empty[Long]
          rec.op("ingest", measured = true, "backend" -> backend, "call" -> c,
              "docs" -> a.docs) {
            ids = backend match {
              case "path" => rec.call("Engine.dedupIngest", "backend" -> backend) {
                Engine.dedupIngest(docs, "doc_id", "text", col("batch"), idx)
                  .select("doc_id").as[Long].collect()
              }
              case _ => rec.call("Engine.dedupIngestBucketed", "backend" -> backend) {
                Engine.dedupIngestBucketed(docs, "doc_id", "text", col("batch"),
                  idx, table).select("doc_id").as[Long].collect()
              }
            }
            Map("kept" -> ids.length)
          }
          val files =
            if (backend == "path") Workload.countFiles(base.resolve(backend),
              rel => rel.startsWith("accepted") || rel.endsWith(".crc"))
            else Seq("bands", "docs").map(s => Workload.countFiles(tablePath(s),
              _.endsWith(".crc"))).sum
          rec.ops(rec.ops.size - 1) += ("index_files" -> files)
          survivors += Map("call" -> c, "backend" -> backend,
            "ids" -> ids.sorted.toSeq)
          if (rec.tracing) rec.drain()
        }
        Workload.deleteTree(base)
      }
      Map("survivors" -> survivors.toList)
    }
  }
}

/** Batch queries and stream replays over the fixture tables, each run like
  * the repo's bench: built, then written to the `noop` sink. A first pass
  * writes every result to parquet for the oracle check and warms the JVM
  * up; measured passes follow until the window closes, each in a seeded
  * order. One or two queries per family keep a warm pass near 7 s on
  * three cores. */
object AnalyticsMix extends Workload {
  val batch: Seq[String] = Seq(
    "q46_stats",                                               // scan-bound
    "q30_hash_agg", "q59c_scd2_merge",                         // shuffle
    "q91c_jaccard_join",                                       // similarity
    "q07_catalog_pushdown", "q14_like", "q51_topk", "q55_unpivot") // floor-bound
  val streams: Seq[String] = Seq("q74_dedup")

  override def prepare(spark: SparkSession, a: Args): Prepared = new Prepared {
    private val dir = a.inputs.toString
    private val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    private val qs: Seq[Q] = (batch ++ streams).map(n => byName.getOrElse(n,
      throw new IllegalStateException(s"query $n is not registered")))
    Tables.names.foreach(t => Tables.t(spark, dir, t).schema)

    private def execute(rec: Recorder, q: Q, pass: Int): Unit = {
      val before = rec.streams.count
      rec.op("query", pass > 0, "query" -> q.name, "pass" -> pass,
          "stream" -> streams.contains(q.name)) {
        val df = rec.call("Q.build", "query" -> q.name)(q.build(spark, dir))
        if (pass == 0)
          rec.call("write.parquet", "query" -> q.name)(df.write.mode("overwrite")
            .parquet(a.work.resolve(s"results/${q.name}").toString))
        else
          rec.call("write.noop", "query" -> q.name)(df.write.format("noop")
            .mode("overwrite").save())
        Map.empty
      }
      rec.drain()
      rec.ops(rec.ops.size - 1) += ("triggers" -> (rec.streams.count - before))
      // as the repo's bench does between queries: no query's cached data
      // squeezes the next one's working set
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    }

    override def run(rec: Recorder, a: Args): Map[String, Any] = {
      Files.writeString(a.work.resolve("oracle_sql.json"),
        Main.json.writeValueAsString(qs.map(q => q.name -> q.oracle.get).toMap))
      def pass(p: Int): Unit =
        new scala.util.Random(a.seed * 7919L + p).shuffle(qs).foreach(execute(rec, _, p))
      pass(0)
      val w = new Window(a.seconds)
      var p = 1
      while (!w.done) { pass(p); p += 1 }
      Map("results" -> a.work.resolve("results").toString,
        "oracle_sql" -> a.work.resolve("oracle_sql.json").toString)
    }
  }
}
