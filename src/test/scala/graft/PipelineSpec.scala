package graft

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{BlobFetcher, Blobs, CursorStore, LocalDirFetcher,
  Processed, SlotPipeline, Stalled}

/** System-level golden trace of the Part A pipeline replica
  * (meteosat.py:82-122,187-188 semantics): bootstrap, one-slot-per-tick,
  * exact match, stall-on-missing, commit-after-success, crash replay.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val T0 = Instant.parse("2024-01-01T12:00:00Z")

  private def mkCatalog(slots: Seq[String]) = {
    import spark.implicits._
    slots.map(s => (s"MSG4-$s", java.sql.Timestamp.from(Instant.parse(s))))
      .toDF("identifier", "ts")
  }
  private def mkSource(tss: Seq[String]) = {
    import spark.implicits._
    tss.zipWithIndex.map { case (s, i) =>
      (i.toLong, java.sql.Timestamp.from(Instant.parse(s)), 1.0)
    }.toDF("event_id", "ts", "value")
  }
  private def fresh(name: String): (String, String) = {
    val root = graft.sources.IO.scratch(s"pipeline_$name", "spec")
    (s"$root/state.json", s"$root/out")
  }

  test("bootstrap slot is hour-truncated now minus 45 minutes (A3)") {
    val (state, out) = fresh("bootstrap")
    val p = new SlotPipeline(spark, state, out)
    assert(p.nextSlot(Instant.parse("2024-01-01T12:34:56Z")) ==
      Instant.parse("2024-01-01T11:15:00Z"))
  }

  test("golden trace: advance, advance, stall forever on a missing slot (A3/A6/A17)") {
    val (state, out) = fresh("trace")
    val p = new SlotPipeline(spark, state, out)
    // bootstrap slot = 11:15; catalog has 11:15, 11:30, 12:00 — 11:45 missing
    val catalog = mkCatalog(Seq("2024-01-01T11:15:00Z",
      "2024-01-01T11:30:00Z", "2024-01-01T12:00:00Z"))
    val source = mkSource(Seq("2024-01-01T11:16:00Z",
      "2024-01-01T11:31:00Z", "2024-01-01T11:32:00Z"))
    val r1 = p.tick(catalog, source, T0)
    assert(r1 == Processed(Instant.parse("2024-01-01T11:15:00Z"),
      "MSG4-2024-01-01T11:15:00Z", 1))
    val r2 = p.tick(catalog, source, T0)
    assert(r2 == Processed(Instant.parse("2024-01-01T11:30:00Z"),
      "MSG4-2024-01-01T11:30:00Z", 2))
    // 11:45 has no product: the cursor must stall there on EVERY
    // subsequent tick — never skip ahead to the existing 12:00 product.
    (1 to 3).foreach { _ =>
      assert(p.tick(catalog, source, T0) ==
        Stalled(Instant.parse("2024-01-01T11:45:00Z")))
    }
    // state still points at the last committed slot
    assert(CursorStore.read(state) ==
      Some(Instant.parse("2024-01-01T11:30:00Z")))
  }

  test("exact match on minute truncation; earliest (ts, id) candidate wins (A6)") {
    val (state, out) = fresh("exact")
    CursorStore.commit(state,
      Instant.parse("2024-01-01T11:00:00Z"), T0) // next = 11:15
    val p = new SlotPipeline(spark, state, out)
    // two candidates inside minute 11:15 (off-by-seconds) + one at 11:14
    // that must NOT match; earliest second wins, id breaks ties
    val catalog = mkCatalog(Seq("2024-01-01T11:14:59Z",
      "2024-01-01T11:15:30Z", "2024-01-01T11:15:10Z"))
    p.tick(catalog, mkSource(Nil), T0) match {
      case Processed(_, id, rows, blobEntries) =>
        assert(id == "MSG4-2024-01-01T11:15:10Z")
        // the empty source still publishes, and its write counts nothing
        assert(rows == 0 && blobEntries == 0)
      case r => fail(s"expected a hit, got $r")
    }
  }

  test("crash between publish and commit replays the slot idempotently (A16/A17)") {
    val (state, out) = fresh("crash")
    CursorStore.commit(state,
      Instant.parse("2024-01-01T11:00:00Z"), T0)
    val p = new SlotPipeline(spark, state, out)
    val catalog = mkCatalog(Seq("2024-01-01T11:15:00Z"))
    val source = mkSource(Seq("2024-01-01T11:16:00Z", "2024-01-01T11:17:00Z"))
    intercept[RuntimeException] {
      p.tick(catalog, source, T0,
        afterWrite = () => throw new RuntimeException("crash"))
    }
    // cursor did not advance -> same slot replays; partition overwrite
    // makes the re-publish idempotent
    assert(p.nextSlot(T0) == Instant.parse("2024-01-01T11:15:00Z"))
    assert(p.tick(catalog, source, T0) ==
      Processed(Instant.parse("2024-01-01T11:15:00Z"),
        "MSG4-2024-01-01T11:15:00Z", 2))
    assert(spark.read.parquet(out).count() == 2) // no duplicates
  }

  test("a replay replaces the slot's partition, an empty replay included (A15/A17)") {
    val (state, out) = fresh("replay_empty")
    CursorStore.commit(state,
      Instant.parse("2024-01-01T11:00:00Z"), T0)
    val p = new SlotPipeline(spark, state, out)
    val catalog = mkCatalog(Seq("2024-01-01T11:15:00Z"))
    intercept[RuntimeException] {
      p.tick(catalog,
        mkSource(Seq("2024-01-01T11:16:00Z", "2024-01-01T11:17:00Z")), T0,
        afterWrite = () => throw new RuntimeException("crash"))
    }
    assert(spark.read.parquet(out).count() == 2)
    // the source lost the slot's rows before the replay: the slot now
    // holds nothing, not the crashed tick's rows
    p.tick(catalog, mkSource(Nil), T0) match {
      case Processed(_, _, rows, _) => assert(rows == 0)
      case r => fail(s"expected a hit, got $r")
    }
    assert(spark.read.parquet(out)
      .filter(col("slot_key") === "2024-01-01T11-15-00Z").count() == 0)
  }

  test("cursor file is the reference's JSON shape and written atomically (A16)") {
    val (state, _) = fresh("atomic")
    CursorStore.commit(state,
      Instant.parse("2024-01-01T11:30:00Z"), T0)
    val json = new String(Files.readAllBytes(Paths.get(state)))
    assert(json.contains("\"date\": \"2024-01-01T11:30:00Z\""))
    assert(json.contains("\"last_updated\""))
    // no stray temp files left behind
    val dir = Paths.get(state).getParent.toFile.list()
    assert(!dir.exists(_.endsWith(".tmp")), dir.mkString(","))
  }

  private def stageZip(dir: String, id: String,
      entries: (String, String)*): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, body) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(body.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    Files.write(Paths.get(dir, s"$id.zip"), bos.toByteArray): Unit
  }

  test("a tick with a transport fetches + unzips the product archive (A7/A8)") {
    val (state, out) = fresh("fetch")
    CursorStore.commit(state,
      Instant.parse("2024-01-01T11:00:00Z"), T0) // next = 11:15
    val stage = graft.sources.IO.scratch("pipeline_fetch_stage", "spec")
    val id = "MSG4-2024-01-01T11:15:00Z"
    stageZip(stage, id, "scene.nat" -> "raster-bytes",
      "manifest.xml" -> "<m/>")
    val p = new SlotPipeline(spark, state, out,
      fetcher = Some(LocalDirFetcher(stage)))
    val r = p.tick(mkCatalog(Seq("2024-01-01T11:15:00Z")),
      mkSource(Seq("2024-01-01T11:16:00Z")), T0)
    assert(r == Processed(Instant.parse("2024-01-01T11:15:00Z"), id, 1, 2))
    // the decompressed members landed slot-partitioned next to the data
    val blobs = spark.read.parquet(s"$out-blobs")
      .collect().map(row => (row.getAs[String]("entry"),
        new String(row.getAs[Array[Byte]]("content"), "UTF-8"))).toMap
    assert(blobs == Map("scene.nat" -> "raster-bytes",
      "manifest.xml" -> "<m/>"))
  }

  private def blobsOf(out: String): Map[String, Seq[Byte]] =
    spark.read.parquet(s"$out-blobs").collect().map(row =>
      row.getAs[String]("entry") ->
        row.getAs[Array[Byte]]("content").toSeq).toMap

  test("a failed archive fetch fails the tick only after the rows publish " +
      "finished; the cursor stays and the rerun publishes the same slot (A16/A17)") {
    val (state, out) = fresh("fetch_fails")
    val (cleanState, cleanOut) = fresh("fetch_fails_clean")
    Seq(state, cleanState).foreach(CursorStore.commit(_,
      Instant.parse("2024-01-01T11:00:00Z"), T0)) // next = 11:15
    val stage = graft.sources.IO.scratch("pipeline_fetch_fails_stage", "spec")
    val id = "MSG4-2024-01-01T11:15:00Z"
    stageZip(stage, id, "scene.nat" -> "raster-bytes",
      "manifest.xml" -> "<m/>")
    val catalog = mkCatalog(Seq("2024-01-01T11:15:00Z"))
    val source = mkSource(Seq("2024-01-01T11:16:00Z", "2024-01-01T11:17:00Z"))
    val refused = new BlobFetcher {
      def fetch(identifier: String): Array[Byte] =
        throw new java.io.IOException(s"download of $identifier refused")
    }
    // the rows publish outlasts the failing fetch, so a tick that did not
    // wait for it would throw with its write still in flight; the
    // exchange keeps the optimizer from running the UDF at planning time
    val slowly = udf { (v: Double) => Thread.sleep(1500); v }
    val slowSource =
      source.repartition(1).withColumn("value", slowly(col("value")))
    val e = intercept[Exception] {
      new SlotPipeline(spark, state, out, fetcher = Some(refused))
        .tick(catalog, slowSource, T0)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("refused")), e)
    assert(CursorStore.read(state) ==
      Some(Instant.parse("2024-01-01T11:00:00Z")))
    // no write is still running once the tick has thrown: no committer
    // staging is left, and the rows partition is whole or absent
    Seq(out, s"$out-blobs").map(Paths.get(_)).filter(Files.exists(_))
      .foreach { dir =>
        val walk = Files.walk(dir)
        val left = try walk.iterator.asScala.map(_.toString)
          .filter(_.contains("_temporary")).toList finally walk.close()
        assert(left.isEmpty, left.mkString(", "))
      }
    val part = Paths.get(out, "slot_key=2024-01-01T11-15-00Z")
    if (Files.exists(part)) {
      assert(Files.exists(part.resolve("_SUCCESS")))
      assert(spark.read.parquet(part.toString).count() == 2)
    }
    // the rerun with a working transport equals a tick that never failed
    val fetcher = Some(LocalDirFetcher(stage))
    val r = new SlotPipeline(spark, state, out, fetcher = fetcher)
      .tick(catalog, source, T0)
    val clean = new SlotPipeline(spark, cleanState, cleanOut,
      fetcher = fetcher).tick(catalog, source, T0)
    assert(r == clean &&
      r == Processed(Instant.parse("2024-01-01T11:15:00Z"), id, 2, 2))
    def rows(o: String) = spark.read.parquet(o).orderBy("event_id")
      .collect().toSeq
    assert(rows(out) == rows(cleanOut))
    assert(blobsOf(out) == blobsOf(cleanOut))
    assert(CursorStore.read(state) ==
      Some(Instant.parse("2024-01-01T11:15:00Z")))
  }

  test("each publish of a transport tick is its own root SQL execution") {
    val (state, out) = fresh("root_execs")
    CursorStore.commit(state,
      Instant.parse("2024-01-01T11:00:00Z"), T0) // next = 11:15
    val stage = graft.sources.IO.scratch("pipeline_root_execs_stage", "spec")
    // a stale root id shows only once pool threads have been created
    // during earlier writes, so the trace runs a dozen ticks
    val slots = (0 until 12).map(i =>
      Instant.parse("2024-01-01T11:15:00Z").plusSeconds(900L * i).toString)
    slots.foreach(s => stageZip(stage, s"MSG4-$s", "scene.nat" -> s))
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          starts.add(s): Unit
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val trace = try {
      val p = new SlotPipeline(spark, state, out,
        fetcher = Some(LocalDirFetcher(stage)))
      val t = p.run(mkCatalog(slots), mkSource(Seq("2024-01-01T11:16:00Z")),
        () => T0, maxTicks = slots.size)
      org.apache.spark.ListenerBusDrain.drain(sc)
      t
    } finally sc.removeSparkListener(listener)
    assert(trace.count(_.isInstanceOf[Processed]) == slots.size)
    val writes = starts.asScala.toSeq.filter(s =>
      s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
        s.physicalPlanDescription.contains(out))
    val nested = writes.filter(s =>
      s.rootExecutionId.exists(_ != s.executionId))
    assert(nested.isEmpty, nested.map(s =>
      s"${s.executionId} under ${s.rootExecutionId}").mkString(", "))
    assert(writes.size == 2 * slots.size)
  }

  /** In-process HTTP stub modeling the reference API surface: a `/token`
    * OAuth2 client-credentials endpoint and a product download endpoint
    * answering with a zip + Content-Disposition filename
    * (eumdacapi.py:20-28,73-87). Records served paths for assertions. */
  private def withHttpStub(zipBytes: Array[Byte])(
      f: (String, java.util.concurrent.ConcurrentLinkedQueue[String]) => Unit)
      : Unit = {
    val served = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/token",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        served.add("/token")
        val auth = ex.getRequestHeaders.getFirst("Authorization")
        val (code, body) =
          if (auth != null && auth.startsWith("Basic "))
            (200, """{"access_token": "tok-123", "token_type": "bearer"}""")
          else (401, """{"error": "bad credentials"}""")
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, b.length)
        ex.getResponseBody.write(b)
        ex.close()
      })
    srv.createContext("/collections",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        served.add(ex.getRequestURI.getPath)
        val ok = "Bearer tok-123" ==
          ex.getRequestHeaders.getFirst("Authorization")
        if (!ok) { ex.sendResponseHeaders(403, -1); ex.close() }
        else {
          ex.getResponseHeaders.add("Content-Disposition",
            "attachment; filename=\"product.zip\"")
          ex.sendResponseHeaders(200, zipBytes.length)
          ex.getResponseBody.write(zipBytes)
          ex.close()
        }
      })
    srv.start()
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}", served)
    finally srv.stop(0)
  }

  private def zipOf(entries: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, body) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(body.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  test("HttpBlobFetcher: token exchange once per open, bearer download, " +
      "Content-Disposition filename (A7)") {
    withHttpStub(zipOf("scene.nat" -> "raster-bytes")) { (base, served) =>
      val fetcher = graft.pipeline.HttpBlobFetcher(base,
        "EO:EUM:DAT:MSG:HRSEVIRI", "key", "secret")
      fetcher.open()
      val (name1, bytes1) = fetcher.fetchNamed("P1")
      val (name2, _) = fetcher.fetchNamed("P2")
      assert(name1 == "product.zip" && name2 == "product.zip")
      assert(Blobs.unzip("P1", bytes1).map(_.entry) == Seq("scene.nat"))
      // one token exchange for two fetches; the collection survived the
      // path-segment percent-encoding round-trip (HttpServer hands back
      // the DECODED path — ':' went over the wire as %3A, never '+'),
      // identifiers appended per eumdacapi.py:75-77
      val paths = served.toArray(Array.empty[String]).toSeq
      assert(paths.count(_ == "/token") == 1)
      assert(paths.contains(
        "/collections/EO:EUM:DAT:MSG:HRSEVIRI/products/P1"))
      assert(paths.contains(
        "/collections/EO:EUM:DAT:MSG:HRSEVIRI/products/P2"))
    }
  }

  test("golden trace: a tick fetches over HTTP, publishes, then commits (A7/A16)") {
    withHttpStub(zipOf("scene.nat" -> "raster-bytes",
        "manifest.xml" -> "<m/>")) { (base, served) =>
      val (state, out) = fresh("http_fetch")
      CursorStore.commit(state,
        Instant.parse("2024-01-01T11:00:00Z"), T0) // next = 11:15
      val fetcher = graft.pipeline.HttpBlobFetcher(base,
        "EO:EUM:DAT:MSG:HRSEVIRI", "key", "secret")
      val p = new SlotPipeline(spark, state, out, fetcher = Some(fetcher))
      val id = "MSG4-2024-01-01T11:15:00Z"
      val r = p.tick(mkCatalog(Seq("2024-01-01T11:15:00Z")),
        mkSource(Seq("2024-01-01T11:16:00Z")), T0)
      assert(r == Processed(Instant.parse("2024-01-01T11:15:00Z"), id, 1, 2))
      // the decompressed members were published before the cursor moved
      val blobs = spark.read.parquet(s"$out-blobs")
        .collect().map(row => (row.getAs[String]("entry"),
          new String(row.getAs[Array[Byte]]("content"), "UTF-8"))).toMap
      assert(blobs == Map("scene.nat" -> "raster-bytes",
        "manifest.xml" -> "<m/>"))
      assert(CursorStore.read(state) ==
        Some(Instant.parse("2024-01-01T11:15:00Z")))
      // the archive was fetched once for the tick: counting the members
      // must not re-run the download
      assert(served.toArray(Array.empty[String]).toSeq == Seq("/token",
        s"/collections/EO:EUM:DAT:MSG:HRSEVIRI/products/$id"))
    }
  }

  test("unzip skips directories and preserves member bytes") {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("sub/")) // directory entry
    z.closeEntry()
    z.putNextEntry(new java.util.zip.ZipEntry("sub/a.bin"))
    z.write(Array[Byte](0, 1, 2, -1))
    z.closeEntry()
    z.close()
    val es = Blobs.unzip("X", bos.toByteArray)
    assert(es.map(_.entry) == Seq("sub/a.bin"))
    assert(es.head.content.toSeq == Seq[Byte](0, 1, 2, -1))
  }

  test("run() serializes ticks and stops at the first stall (A1 max_instances=1)") {
    val (state, out) = fresh("loop")
    val p = new SlotPipeline(spark, state, out)
    // bootstrap 11:15; products at 11:15 and 11:30, then a gap
    val catalog = mkCatalog(Seq("2024-01-01T11:15:00Z",
      "2024-01-01T11:30:00Z"))
    val trace = p.run(catalog, mkSource(Nil), () => T0, maxTicks = 5)
    // two hits, then ONE stall ends the loop — never 5 ticks
    assert(trace.map(_.slot) == Seq(
      Instant.parse("2024-01-01T11:15:00Z"),
      Instant.parse("2024-01-01T11:30:00Z"),
      Instant.parse("2024-01-01T11:45:00Z")))
    assert(trace.last == Stalled(Instant.parse("2024-01-01T11:45:00Z")))
    // the cursor reflects the last COMMITTED slot, not the stalled one
    assert(CursorStore.read(state) ==
      Some(Instant.parse("2024-01-01T11:30:00Z")))
  }

  test("the DSv2 catalog source drives a tick end-to-end (A4 pushdown path)") {
    val (state, out) = fresh("dsv2")
    CursorStore.commit(state,
      Instant.parse("2024-01-09T23:45:00Z"), T0) // next = 2024-01-10T00:00
    val p = new SlotPipeline(spark, state, out)
    val catalog = spark.read.format("graft.sources.CatalogSource").load()
    val source = mkSource(Seq("2024-01-10T00:05:00Z"))
    p.tick(catalog, source, T0) match {
      case Processed(slot, id, n, _) =>
        assert(slot == Instant.parse("2024-01-10T00:00:00Z"))
        assert(id == "MSG4-1704844800") // the source's slot identifier
        assert(n == 1)
      case r => fail(s"expected a hit, got $r")
    }
  }
}
