package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, inputs: Path,
    work: Path, out: Path, start: Long, slots: Int, docs: Long)

object Args {
  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_.head.startsWith("--")),
      s"expected --key value pairs, got ${argv.mkString(" ")}")
    val m = argv.grouped(2).map(kv => kv(0).drop(2) -> kv(1)).toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("cores").toInt, Paths.get(req("inputs")).toAbsolutePath,
      Paths.get(req("work")).toAbsolutePath, Paths.get(req("out")).toAbsolutePath,
      m.getOrElse("start", "0").toLong, m.getOrElse("slots", "0").toInt,
      m.getOrElse("docs", "0").toLong)
  }
}

/** Heap in use right after each collection while the measured window is
  * open (young collections included), through the collectors'
  * notifications: the workload's working set, sampled every time the young
  * generation fills. A window without a collection forces one full
  * collection as it closes, so there is always a sample. */
object HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** Heap in use after each collection, in MB. */
  private val samples = new ConcurrentLinkedQueue[Double]()
  private val seen = new AtomicLong(0L)
  @volatile private var armed = false

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (armed) samples.add(used / 1048576.0)
        seen.incrementAndGet()
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def open(): Unit = { samples.clear(); armed = true }

  /** Closes the window and returns its samples. */
  def close(): Seq[Double] = {
    if (samples.isEmpty) {
      val before = seen.get
      System.gc()
      val deadline = System.nanoTime() + 5000000000L
      while (seen.get == before && System.nanoTime() < deadline) Thread.sleep(10)
    }
    armed = false
    samples.asScala.toSeq
  }
}

/** The benchmark's JVM side: sets up a session (several times, so set-up
  * is a median), runs one workload's operations, and writes every
  * operation record, the outputs the checker needs and, when tracing, the
  * raw span events to `--out`. Metrics and checks are computed by run.py. */
object Main {
  /** Session starts per run: the first is cold, the median is a warm one. */
  val Setups = 3
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
    if (a.trace) FsOps.conf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Heap still in use after a full collection once the run has ended, in
    * MB: what the run left behind. Spark's context cleaner drops blocks and
    * shuffle state only once their handles are collected, so it gets a
    * moment to run before the final collection. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM, in MB (VmHWM). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    // graft.* properties are the program's tuning and profiling overrides;
    // the benchmark measures its defaults only
    val leaked = sys.props.keySet.filter(_.startsWith("graft.")).toSeq.sorted
    require(leaked.isEmpty,
      s"graft.* properties are set (${leaked.mkString(", ")}); unset them")
    sys.props("graft.io.dir") = a.work.resolve("graft-io").toString
    Files.createDirectories(a.work)
    val wl = Workload(a.workload)
    wl.generate(a)

    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var prepared: Prepared = null
    for (_ <- 1 to Setups) {
      if (prepared != null) { prepared.close(); spark.stop() }
      val t0 = Clock.nowMs
      spark = session(a)
      prepared = wl.prepare(spark, a)
      setups += (Clock.nowMs - t0) / 1000
      spark.sparkContext.setLogLevel("WARN")
    }

    val probe = new StreamProbe
    spark.streams.addListener(probe)
    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val p = prepared
    val rec = new Recorder(spark, tracer, probe, () => p.counters())
    val t0 = Clock.nowMs
    val outputs = prepared.run(rec, a)
    val t1 = Clock.nowMs
    val heap = HeapAfterGc.close()
    rec.drain()
    val result = Map(
      "workload" -> a.workload, "cores" -> a.cores, "run_t0" -> t0, "run_t1" -> t1,
      "setup_s" -> setups.toList, "peak_rss_mb" -> peakRssMb(),
      "heap_after_gc" -> heap,
      "live_heap_mb" -> liveHeapMb(),
      "ops" -> rec.ops.toList, "outputs" -> outputs, "calls" -> rec.calls.toList,
      "streams" -> probe.progress.asScala.toList,
      "bus_mismatches" -> rec.busMismatches,
      "trace" -> tracer.map(_.dump))
    Files.writeString(a.out, json.writeValueAsString(result))
    prepared.close()
    spark.stop()
  }
}
