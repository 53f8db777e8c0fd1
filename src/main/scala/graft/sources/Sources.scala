package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, Tables}
import graft.Canon.{orderAll, sumDec, sumDecSql}

/** Scratch-dir management for source/sink round-trip queries. Each query
  * gets a per-(query, input-dir) directory under `target/graft-io`, wiped on
  * every invocation so re-runs are deterministic. On a real cluster this
  * would be a shared filesystem / object-store prefix; the layout and
  * commit behavior (Spark's FileCommitProtocol) are identical.
  */
object IO {
  /** The scratch path for (query, input dir) WITHOUT wiping it — for use
    * inside foreachBatch closures after [[scratch]] prepared the dir. */
  def scratchPath(name: String, inputDir: String): String =
    new java.io.File(
      new java.io.File(sys.props.getOrElse("graft.io.dir", "target/graft-io")),
      s"$name-${Integer.toHexString(inputDir.hashCode)}").getAbsolutePath

  def scratch(name: String, inputDir: String): String = {
    val d = new java.io.File(scratchPath(name, inputDir))
    deleteRec(d)
    d.mkdirs()
    d.getAbsolutePath
  }
  def deleteRec(f: java.io.File): Unit = {
    val fs = f.listFiles()
    if (fs != null) fs.foreach(deleteRec)
    f.delete(): Unit
  }
}

/** Source/sink surface (SURVEY.md §2 Q01–Q06).
  *
  * The reference's IO is a path-encoded partitioned file layout
  * (`sources/meteosat.py:152-183`), binary blob ingestion
  * (`sources/meteosat.py:130-139`), and JSON state/catalog documents
  * (`utils/eumdacapi.py:47-65`). Here each becomes a Spark reader/writer
  * round-trip whose read-back is oracle-checked against the original
  * parquet table — content equality, not file-byte equality (SURVEY §2
  * canonicalization for Q04/Q06).
  */
object Sources {

  /** Post-staging schema of the events stream (ts already micros). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val stageCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage `events` into a scratch DIRECTORY of `nFiles` time-range-sorted
    * parquet files (a streaming file source reads directories, and the
    * landing-zone copy normalizes the TIMESTAMP(NANOS) footer to micros).
    * Files are range-split on `ts` and their modification times set in
    * range order, so `maxFilesPerTrigger` replays history in event-time
    * order — the reference's slot-by-slot arrival (`meteosat.py:88-100`).
    * Cached per (dir, nFiles): staging is idempotent and reused across the
    * streaming queries of one session.
    */
  def stageEvents(s: SparkSession, dir: String, nFiles: Int = 1): String =
    stageCache.computeIfAbsent(s"$dir#$nFiles", _ => {
      val out = IO.scratch(s"events_stage$nFiles", dir)
      Tables.t(s, dir, "events")
        .repartitionByRange(nFiles, col("ts"))
        .sortWithinPartitions(col("ts"), col("event_id"))
        .write.mode("overwrite").parquet(out)
      // mtimes in ts-range order (FileStreamSource orders by mtime):
      // part file names carry the range-partition index prefix part-NNNNN.
      val files = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L): Unit
      }
      out
    })

  /** `events` as a file STREAM over the staged directory. Callers pick the
    * trigger / files-per-batch. Used by Q06 and the Q70–Q77 surface. */
  def eventsStream(s: SparkSession, dir: String, nFiles: Int = 1,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val staged = stageEvents(s, dir, nFiles)
    val r = s.readStream.schema(eventsSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(staged)
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** A FILTERED `documents` slice as a file STREAM, staged into `nFiles`
    * doc_id-ranged files (mtimes in range order, the [[stageEvents]]
    * discipline) — the "crawl batches arriving" source for the
    * streaming-ingest queries (q79b). */
  def docsStream(s: SparkSession, dir: String, filterSql: String,
      nFiles: Int = 1,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val staged = stageCache.computeIfAbsent(
      s"$dir#docs#$filterSql#$nFiles", _ => {
        val out = IO.scratch(
          s"docs_stage${nFiles}_${Integer.toHexString(filterSql.hashCode)}",
          dir)
        Tables.t(s, dir, "documents").filter(filterSql)
          .repartitionByRange(nFiles, col("doc_id"))
          .sortWithinPartitions(col("doc_id"))
          .write.mode("overwrite").parquet(out)
        val files = new java.io.File(out).listFiles()
          .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
        files.zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1700000000000L + i * 60000L): Unit
        }
        out
      })
    val r = s.readStream.schema(documentsSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(staged)
  }

  val all: Seq[Q] = Seq(

    // Q01 — parquet scan, explicitly registered: projection + predicate are
    // pushed into the scan (PushedFilters/ReadSchema asserted in PlanSpec).
    Q("q01_parquet_scan",
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity > 49
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
        |  l_quantity NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(Tables.t(s, dir, "lineitem")
        .filter(col("l_quantity") > 49)
        .select("l_orderkey", "l_linenumber", "l_quantity"))
    },

    // Q02 — CSV round-trip with an EXPLICIT schema (no inferSchema in any
    // production path — SURVEY §1.3). Doubles survive exactly because
    // Spark's CSV writer emits the shortest round-trippable representation.
    Q("q02_csv_scan",
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |ORDER BY c_custkey NULLS FIRST, c_name NULLS FIRST,
        |  c_nationkey NULLS FIRST, c_acctbal NULLS FIRST,
        |  c_mktsegment NULLS FIRST""".stripMargin) { (s, dir) =>
      val out = IO.scratch("q02_csv_scan", dir)
      Tables.t(s, dir, "customer")
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      orderAll(s.read.schema(schema).option("header", "true").csv(out))
    },

    // Q03 — nested JSON round-trip: rows nested into struct+array documents
    // (the reference's catalog/state JSON shape, eumdacapi.py:47-65), read
    // back with an explicit nested schema and flattened.
    Q("q03_json_scan",
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal,
        |  c_mktsegment AS tag0
        |FROM customer
        |ORDER BY id NULLS FIRST, name NULLS FIRST, bal NULLS FIRST,
        |  tag0 NULLS FIRST""".stripMargin) { (s, dir) =>
      val out = IO.scratch("q03_json_scan", dir)
      Tables.t(s, dir, "customer")
        .select(col("c_custkey").as("id"),
          struct(col("c_name").as("name"), col("c_acctbal").as("bal"))
            .as("info"),
          array(col("c_mktsegment")).as("tags"))
        .write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("info", StructType(Seq(
          StructField("name", StringType),
          StructField("bal", DoubleType)))),
        StructField("tags", ArrayType(StringType))))
      orderAll(s.read.schema(schema).json(out)
        .select(col("id"), col("info.name").as("name"),
          col("info.bal").as("bal"), element_at(col("tags"), 1).as("tag0")))
    },

    // Q03c (beyond-survey) — XML round-trip (the third text-based
    // ingestion format, built into Spark 4): rows written as <cust>
    // elements, read back with an explicit schema — schema-on-read
    // discipline identical to q02/q03 (no inferSchema in production
    // paths). Doubles survive because Spark serializes
    // Double.toString, which is round-trippable by definition.
    Q("q03c_xml_roundtrip",
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
        |FROM customer
        |ORDER BY id NULLS FIRST, name NULLS FIRST,
        |  bal NULLS FIRST""".stripMargin) { (s, dir) =>
      val out = IO.scratch("q03c_xml", dir)
      Tables.t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("bal"))
        .write.mode("overwrite").option("rowTag", "cust")
        .format("xml").save(out)
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("bal", DoubleType)))
      orderAll(s.read.schema(schema).option("rowTag", "cust")
        .format("xml").load(out))
    },

    // Q01b (beyond-survey) — SCHEMA EVOLUTION read: a long-lived dataset
    // whose later batches added a column. Two parquet batches with
    // different schemas land in one directory; mergeSchema=true
    // reconciles them at read (missing columns null-fill). At 100 TB a
    // dataset is written over years — refusing to read mixed schemas is
    // not an option, and the merge must happen at the footer level, not
    // via a rewrite. The oracle reconstructs the same union from the
    // source table.
    Q("q01b_schema_evolution",
      """SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source
        |FROM documents WHERE doc_id < 250
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS VARCHAR), source
        |FROM documents WHERE doc_id >= 250
        |ORDER BY doc_id NULLS FIRST, lang NULLS FIRST,
        |  source NULLS FIRST""".stripMargin) { (s, dir) =>
      val out = IO.scratch("q01b_evolution", dir)
      val docs = Tables.t(s, dir, "documents")
      docs.filter(col("doc_id") < 250).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$out/b=1")
      docs.filter(col("doc_id") >= 250).select("doc_id", "source")
        .write.mode("overwrite").parquet(s"$out/b=2")
      orderAll(s.read.option("mergeSchema", "true")
        .parquet(s"$out/b=1", s"$out/b=2")
        .select("doc_id", "lang", "source"))
    },

    // Q03b (beyond-survey) — CORRUPT-RECORD tolerance: PERMISSIVE JSON
    // ingestion quarantines malformed lines into _corrupt_record instead
    // of failing the job — at 100 TB of scraped input, malformed rows
    // are a statistical certainty and one of them must never kill an
    // ingest. Two broken lines are injected deterministically into a
    // staged JSON dump; the query reports good vs quarantined counts
    // (the good count verified against the source table).
    Q("q03b_corrupt_json",
      """SELECT CAST(count(*) AS BIGINT) AS n_good,
        |  CAST(2 AS BIGINT) AS n_corrupt
        |FROM events WHERE event_id < 1000
        |ORDER BY n_good NULLS FIRST, n_corrupt NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val out = IO.scratch("q03b_corrupt", dir)
        Tables.t(s, dir, "events").filter(col("event_id") < 1000)
          .select("event_id", "event_type")
          .coalesce(1).write.mode("overwrite").json(out)
        // inject malformed lines (a truncated object and raw garbage) as
        // their own file — appending to a Spark-written part file would
        // invalidate its .crc sidecar and fail the local-FS read
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, "corrupt-extra.json"),
          "{\"event_id\": 99999, \"event_type\"\nnot json at all\n")
        val schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("_bad", StringType)))
        // referencing only the corrupt-record column of a raw scan is
        // disallowed (the parser would have to re-run per column);
        // materializing the parse first is the documented pattern
        val read = s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .json(out).cache()
        orderAll(read.agg(
          count(when(col("_bad").isNull, 1)).as("n_good"),
          count(col("_bad")).as("n_corrupt")))
    },

    // Q04 — binaryFile scan (multimodal-blob ingestion, A7–A9 analog): a
    // document subset is materialized as one UTF-8 blob file per doc by the
    // EXECUTORS (foreachPartition — no driver collect), scanned back as
    // binary, and decoded; identity is recovered from the path. Writes are
    // idempotent (fixed name, fixed content) so task retries are safe. The
    // one-file-per-row layout is test-harness-only; at scale blobs ride
    // inside Parquet/Avro containers (see Q94).
    Q("q04_binary_scan",
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars_text
        |FROM documents WHERE doc_id < 200
        |ORDER BY doc_id NULLS FIRST, n_chars_text NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val out = IO.scratch("q04_binary_scan", dir)
        // Hadoop FileSystem API (not java.nio): the identical code writes
        // to HDFS/S3A on a cluster; the scheme comes from the path + the
        // session's Hadoop conf, shipped serializably to the executors.
        val hc = new org.apache.spark.util.SerializableConfiguration(
          s.sparkContext.hadoopConfiguration)
        // the 200 one-blob files are the DESIGN; creating them from the
        // single-row-group fixture scan serially on one task is not —
        // spread the write side so the fs.create/write/close round-trips
        // run on all cores (Spread scaladoc; guide §2.5). Read side and
        // the returned plan are untouched.
        graft.Spread.byKey(Tables.t(s, dir, "documents")
          .filter(col("doc_id") < 200).select("doc_id", "text"),
            col("doc_id"))
          .foreachPartition { (it: Iterator[Row]) =>
            val base = new org.apache.hadoop.fs.Path(out)
            val fs = base.getFileSystem(hc.value)
            it.foreach { r =>
              val p = new org.apache.hadoop.fs.Path(
                base, f"doc_${r.getLong(0)}%06d.txt")
              val os = fs.create(p, true) // overwrite: retries idempotent
              try os.write(r.getString(1)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              finally os.close()
            }
          }
        orderAll(s.read.format("binaryFile").load(s"$out/*.txt")
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1)
              .cast(LongType).as("doc_id"),
            length(col("content").cast(StringType)).as("n_chars_text")))
    },

    // Q05 — partitioned parquet sink (the reference's path-encoded layout,
    // meteosat.py:152-183): write lineitem partitioned by return flag, read
    // back through partition discovery with a partition-pruning filter, and
    // verify content. Partition pruning on the read-back is asserted in
    // PlanSpec.
    Q("q05_partitioned_sink",
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${sumDecSql("l_quantity")} AS sum_qty
         |FROM lineitem WHERE l_returnflag IN ('A', 'R')
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
         |  n NULLS FIRST, sum_qty NULLS FIRST""".stripMargin) { (s, dir) =>
      val out = IO.scratch("q05_partitioned_sink", dir)
      Tables.t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
      orderAll(s.read.parquet(out)
        .filter(col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sumDec(col("l_quantity")).as("sum_qty")))
    },

    // Q05b (beyond-survey) — small-file COMPACTION round-trip: the
    // partitioned sink is first written at high task parallelism (16
    // files per partition — the many-small-files state a long-running
    // slot sink degrades into), then Engine.compact rewrites it to one
    // file per partition value, and the query reads the COMPACTED copy.
    // The oracle checks content is untouched; SourcesSpec checks the
    // file counts actually collapsed. Scan cost at 100 TB is dominated
    // by file-open overhead once files shrink below block size —
    // compaction is the maintenance operator that keeps the layout
    // scannable.
    Q("q05b_compacted_roundtrip",
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${sumDecSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
         |  n NULLS FIRST, sum_qty NULLS FIRST""".stripMargin) { (s, dir) =>
      val raw = IO.scratch("q05b_raw", dir)
      val compacted = IO.scratchPath("q05b_compacted", dir)
      Tables.t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .repartition(16) // force the small-file state
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(raw)
      graft.Engine.compact(s, raw, compacted, Seq("l_returnflag"))
      orderAll(s.read.parquet(compacted)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sumDec(col("l_quantity")).as("sum_qty")))
    },

    // Q05d (beyond-survey) — RETENTION VACUUM, the third
    // layout-maintenance primitive (compaction q05b, z-order q05c):
    // stage events partitioned by slot date, delete every partition
    // strictly before the 2024-01-15 cutoff
    // ([[graft.Engine.vacuumPartitions]] — Hadoop FS, per-partition-
    // directory deletion so readers see each slot wholly present or
    // wholly gone), and prove via read-back that exactly the retained
    // slots survive with their full contents. Retention is how a
    // 100 TB store stays 100 TB; the oracle is the retained-range
    // aggregate over the source table.
    Q("q05d_retention_vacuum",
      s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS slot_date,
         |  count(*) AS n, ${sumDecSql("value")} AS sum_value
         |FROM events
         |WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
         |GROUP BY 1
         |ORDER BY slot_date NULLS FIRST, n NULLS FIRST,
         |  sum_value NULLS FIRST""".stripMargin) { (s, dir) =>
      val raw = IO.scratch("q05d_raw", dir)
      Tables.t(s, dir, "events")
        .withColumn("slot_date", to_date(col("ts")).cast("string"))
        .write.mode("overwrite").partitionBy("slot_date").parquet(raw)
      graft.Engine.vacuumPartitions(s, raw, "slot_date", "2024-01-15")
      orderAll(s.read.parquet(raw)
        .groupBy(col("slot_date").cast("string").as("slot_date"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value")))
    },

    // Q09c (beyond-survey) — WEIGHTED sampling without replacement
    // (Efraimidis–Spirakis A-ES): keep the k rows minimizing
    // -ln(u)/w, where u is a (0,1) uniform DERIVED FROM THE ROW's md5
    // hash — so unlike RNG-based weighted sampling this is reproducible
    // across engines, reruns and partitioning (the q09 discipline,
    // weight-aware). Weights here are document lengths: longer docs
    // proportionally likelier — the token-budget-aware corpus
    // subsampling pass. The top-k is a global TakeOrderedAndProject
    // (two-phase: per-partition k then merge k·parts rows — no global
    // sort); ln/÷ parity across engines follows the q93c precedent, and
    // the 6-dp round + id tie-break pins the boundary.
    Q("q09c_weighted_sample",
      """WITH keyed AS (SELECT doc_id, n_chars,
        |  round(- ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |      1, 4) AS INT) + 1) / 65537.0)
        |    / CAST(n_chars AS DOUBLE), 6) AS k
        |  FROM documents)
        |SELECT doc_id, n_chars, k FROM keyed
        |ORDER BY k ASC NULLS FIRST, doc_id ASC NULLS FIRST,
        |  n_chars NULLS FIRST
        |LIMIT 25""".stripMargin) { (s, dir) =>
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("int") + 1) / lit(65537.0)
      val k = round(-log(u) / col("n_chars").cast("double"), 6)
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), k.as("k"))
        .orderBy(col("k").asc_nulls_first, col("doc_id").asc_nulls_first,
          col("n_chars").asc_nulls_first)
        .limit(25)
    },

    // Q05c (beyond-survey) — Z-ORDER clustered layout: multi-dimensional
    // data skipping for the 100 TB fact scan. Sorting by the interleaved
    // bit key (Engine.zOrderKey) clusters rows close in BOTH l_partkey
    // and l_suppkey into the same files, so a 2-D box predicate prunes
    // by parquet min-max stats in either dimension — a linear sort only
    // prunes its one sort column (EngineSpec measures the file-count
    // difference). The oracle is the same box filter on the original
    // table: the clustered copy must be lossless. 8 range partitions
    // here; at scale the partition count tracks total size / file size.
    Q("q05c_zorder_layout",
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 500 AND l_suppkey BETWEEN 2 AND 5
        |ORDER BY l_orderkey NULLS FIRST, l_partkey NULLS FIRST,
        |  l_suppkey NULLS FIRST, l_quantity NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val out = IO.scratch("q05c_zorder", dir)
        Tables.t(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
          // bits sized to the key domain (zOrderKey drops higher bits):
          // 24 covers l_partkey to 16.7M (~TPC-H sf80); past that,
          // dense_rank-compact the keys before interleaving
          .withColumn("__z", graft.Engine.zOrderKey(
            col("l_partkey"), col("l_suppkey"), bits = 24))
          .repartitionByRange(8, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode("overwrite").parquet(out)
        orderAll(s.read.parquet(out)
          .filter(col("l_partkey").between(100, 500) &&
            col("l_suppkey").between(2, 5)))
    },

    // Q07 (beyond-survey) — the custom DSv2 slot-catalog source
    // (CatalogSource): range predicates and limits push INTO the source,
    // the remote-catalog-scan analog of eumdacapi.py:30-43. The pushed
    // range prunes whole day-partitions before a row is generated
    // (asserted in PlanSpec); the oracle regenerates the same slots with
    // generate_series.
    Q("q07_catalog_pushdown",
      """SELECT 'MSG4-' || CAST(CAST(floor(epoch(g)) AS BIGINT) AS VARCHAR)
        |    AS identifier, g AS ts
        |FROM (SELECT unnest(generate_series(
        |  TIMESTAMP '2024-01-10 00:00:00',
        |  TIMESTAMP '2024-01-11 23:45:00',
        |  INTERVAL '15 minutes')) AS g)
        |ORDER BY identifier NULLS FIRST, ts NULLS FIRST""".stripMargin) {
      (s, _) =>
        orderAll(s.read.format("graft.sources.CatalogSource").load()
          .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
            col("ts") < lit("2024-01-12 00:00:00").cast("timestamp")))
    },

    // Q08 (beyond-survey) — ORC round-trip: the second columnar format
    // (built into Spark). Content equality against the parquet source
    // proves the format conversion is lossless.
    Q("q08_orc_roundtrip",
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders
        |ORDER BY o_orderkey NULLS FIRST, o_orderstatus NULLS FIRST,
        |  o_totalprice NULLS FIRST, o_orderdate NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val out = IO.scratch("q08_orc_roundtrip", dir)
        Tables.t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
          .write.mode("overwrite").option("compression", "zstd").orc(out)
        orderAll(s.read.orc(out))
    },

    // Q09 (beyond-survey) — deterministic hash-based sampling: the stable
    // 10% sample every training-data pipeline needs (rerunnable, engine-
    // independent, whole-order granularity). Spark's sample() is
    // partition-RNG based and NOT reproducible across engines or
    // repartitioning; hashing the key is. md5 is the shared hash
    // (see duckdb-oracle notes); a row is kept when its 16-bit hash
    // value falls below 10% of the 2^16 range (raw-threshold form — no
    // 65536-mod-100 bucket skew).
    Q("q09_stable_sample",
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${sumDecSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |WHERE CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 4)
         |  AS INT) * 100 < 10 * 65536
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag NULLS FIRST, n NULLS FIRST,
         |  sum_qty NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(Tables.t(s, dir, "lineitem")
        .filter(graft.Engine.stableSample(col("l_orderkey"), 10))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sumDec(col("l_quantity")).as("sum_qty")))
    },

    // Q09g (beyond-survey) — QUOTA sampling
    // ([[graft.Engine.quotaSample]]): a TARGET COUNT per stratum, not
    // a rate — "ship 60 en docs, 15 each for the rest" is how a
    // training mix is actually specced (q09b rebalances by rate and
    // cannot hit a count; q09f budgets tokens). Selection is the
    // stable md5 rank of the key within the stratum — deterministic
    // across engines, reruns and partitioning (the q09 hash
    // discipline); quotas broadcast as a tiny dim. Per-stratum
    // DATA-DEPENDENT limits keep the rank window from pruning below
    // its exchange — the 100 TB form pre-filters with stableSample at
    // a rate safely above quota/|stratum| and ranks only survivors
    // (Scaladoc).
    Q("q09g_quota_sample",
      """WITH q AS (SELECT DISTINCT lang AS stratum,
        |    CASE WHEN lang = 'en' THEN 60 ELSE 15 END AS quota
        |  FROM documents),
        |rk AS (SELECT lang AS stratum, doc_id, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |      AS rnk
        |  FROM documents)
        |SELECT rk.stratum, doc_id AS key, CAST(rnk AS INT) AS rnk
        |FROM rk JOIN q USING (stratum) WHERE rnk <= quota
        |ORDER BY stratum NULLS FIRST, key NULLS FIRST,
        |  rnk NULLS FIRST""".stripMargin) { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
      val quotas = d.select(col("lang").as("stratum")).distinct()
        .withColumn("quota",
          when(col("stratum") === "en", 60).otherwise(15))
      orderAll(graft.Engine.quotaSample(d, col("lang"), col("doc_id"),
        quotas))
    },

    // Q09b (beyond-survey) — STRATIFIED stable sampling: the language /
    // domain REBALANCING pass of corpus curation (up-weight scarce
    // strata, down-weight dominant ones), q09's hash discipline with the
    // rate joined per-stratum from a tiny dim table. Plan: broadcast the
    // rates (bounded config, not data) + a pure per-row filter — zero
    // shuffles, reproducible across engines/reruns/partitioning.
    // Spark's sampleBy() is partition-RNG based and neither.
    Q("q09b_stratified_sample",
      """WITH rates(lang, rate_pct) AS (VALUES
        |  ('en', 10), ('de', 40), ('es', 40), ('fr', 40), ('zh', 80))
        |SELECT d.doc_id AS doc_id, d.lang AS lang FROM documents d
        |JOIN rates r ON d.lang = r.lang
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |  AS INT) * 100 < r.rate_pct * 65536
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val rates = s.createDataFrame(Seq(
          ("en", 10), ("de", 40), ("es", 40), ("fr", 40), ("zh", 80)))
          .toDF("lang", "rate_pct")
        orderAll(Tables.t(s, dir, "documents")
          .join(broadcast(rates), Seq("lang"))
          .filter(graft.Engine.stableSample(col("doc_id"), col("rate_pct")))
          .select(col("doc_id"), col("lang")))
    },

    // Q09d (beyond-survey) — TEMPERATURE mixture resampling at α = 0.5
    // (the multilingual-LM rebalance: stratum i keeps an expected
    // target·√nᵢ/Σ√nⱼ rows, flattening the en-heavy head). Rates are
    // COMPUTED from the corpus (partial-agg count → 1-row √-sum
    // broadcast → tiny rates dim broadcast), unlike q09b's given rates;
    // the keep decision is the same md5 threshold. α is pinned to 0.5
    // because sqrt is the one power IEEE rounds exactly — pow(x, α) is
    // only 1-ulp-correct and may drift between engines.
    Q("q09d_temperature_mix",
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(38,6))) AS DOUBLE)
        |  AS S FROM c),
        |r AS (SELECT lang, least(1.0, 100.0 * sqrt(n) / S / n) AS r
        |  FROM c CROSS JOIN t)
        |SELECT d.doc_id AS doc_id, d.lang AS lang FROM documents d
        |JOIN r USING (lang)
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |    AS INT) < CAST(floor(r.r * 65536) AS INT)
        |ORDER BY doc_id NULLS FIRST, lang NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.temperatureMix(
            Tables.t(s, dir, "documents"), col("doc_id"), "lang",
            target = 100.0)
          .select(col("doc_id"), col("lang")))
    },

    // Q09e (beyond-survey) — deterministic TRAIN/VAL/TEST split
    // assignment: the fixed-holdout discipline of corpus curation. The
    // split is a function of the doc key's md5 (q09's raw-threshold
    // form, 80/10/10), NOT of file position or partition RNG — so a doc
    // keeps its split across reruns, repartitioning, and corpus growth
    // (new docs land in splits without reshuffling old ones, which is
    // what keeps a held-out eval set honest). Output is the stratified
    // integrity check: doc and char counts per (split, lang). Plan: a
    // pure per-row projection + one partial-aggregated groupBy to a
    // |splits|×|langs| result — one exchange, no window, no collect.
    Q("q09e_split_assign",
      """WITH a AS (SELECT lang, n_chars,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |        1, 4) AS INT) * 100 < 80 * 65536 THEN 'train'
        |      WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |        1, 4) AS INT) * 100 < 90 * 65536 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, CAST(count(*) AS INT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM a GROUP BY split, lang
        |ORDER BY split NULLS FIRST, lang NULLS FIRST,
        |  n_docs NULLS FIRST, n_chars_total NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
          16, 10).cast("int")
        orderAll(Tables.t(s, dir, "documents")
          .withColumn("split",
            when(h * 100 < 80 * 65536, "train")
              .when(h * 100 < 90 * 65536, "val")
              .otherwise("test"))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).cast("int").as("n_docs"),
            sum(col("n_chars")).as("n_chars_total")))
    },

    // Q09f (beyond-survey) — TOKEN-BUDGET temperature mixture: q09d's
    // α = 0.5 rebalance re-weighted by Σ n_chars per stratum instead of
    // document counts ([[graft.Engine.tokenBudgetMix]]) — production
    // mixture budgets are set in TOKENS, and a doc-count rebalance
    // over-serves strata whose documents are short. Same plan shape as
    // q09d (|strata|-row partial agg, 1-row √-sum, broadcast rates,
    // per-row md5 threshold); budget 20 000 chars keeps every stratum
    // strictly below rate 1 at all shipped scales, so the sampling
    // boundary is actually exercised.
    Q("q09f_token_budget_mix",
      """WITH c AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(38,6))) AS DOUBLE)
        |  AS S FROM c),
        |r AS (SELECT lang, least(1.0, 20000.0 * sqrt(n) / S / n) AS r
        |  FROM c CROSS JOIN t)
        |SELECT d.doc_id AS doc_id, d.lang AS lang, d.n_chars AS n_chars
        |FROM documents d
        |JOIN r USING (lang)
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |    AS INT) < CAST(floor(r.r * 65536) AS INT)
        |ORDER BY doc_id NULLS FIRST, lang NULLS FIRST,
        |  n_chars NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.tokenBudgetMix(
          Tables.t(s, dir, "documents"), col("doc_id"), "lang",
          col("n_chars"), budget = 20000.0)
        .select(col("doc_id"), col("lang"), col("n_chars")))
    },

    // Q06 — streaming file source → streaming parquet sink, exactly-once:
    // the file sink's _spark_metadata commit log plus the checkpoint offset
    // log reproduce the reference's fsync-then-atomic-rename cursor commit
    // (utils/fs.py:21-48). Trigger.AvailableNow drains the source and
    // stops; the read-back sees only committed files.
    Q("q06_stream_sink",
      """SELECT event_id, event_type, value FROM events
        |ORDER BY event_id NULLS FIRST, event_type NULLS FIRST,
        |  value NULLS FIRST""".stripMargin) { (s, dir) =>
      val out = IO.scratch("q06_stream_sink", dir)
      val q = eventsStream(s, dir, nFiles = 2, maxFilesPerTrigger = Some(1))
        .select("event_id", "event_type", "value")
        .writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      orderAll(s.read.parquet(s"$out/data"))
    })
}
