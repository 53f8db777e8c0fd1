package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType,
  TimestampNTZType, TimestampType}

/** One registered engine query: a Spark-first implementation plus (where
  * SQL-expressible) a semantically identical DuckDB oracle. See SURVEY.md §2
  * Part B for the QID contract this implements.
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, Some(oracle))
  // NOTE: there is deliberately no oracle-less constructor — every query
  // must carry a DuckDB oracle (PlanSpec enforces it); tolerance-checked
  // operators encode their bound as a hash-matchable boolean (q33, q39).
}

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  /** Load one test table, normalizing `ts` to TimestampType whatever
    * parquet flavor the generator emitted — the fixture's footer type has
    * CHANGED ACROSS ROUNDS and every downstream operator assumes
    * TimestampType:
    *  - TIMESTAMP(NANOS): Spark 4 rejects it outright; read as raw nanos
    *    via the legacy flag and truncate to micros (the same conversion
    *    DuckDB applies implicitly).
    *  - TIMESTAMP(isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ,
    *    which unix_micros / interval-vs-TZ-literal arithmetic reject.
    *    Cast to TimestampType — under the engine's pinned UTC session the
    *    naive datetime maps to the identical instant DuckDB sees.
    * Both normalizations are value-identical across engines, so oracle
    * hashes are unaffected by whichever flavor a round's fixture carries. */
  /** Analyzed-plan cache for the fixture tables, keyed by (session,
    * dir, name). METADATA only — no rows are ever cached: reusing the
    * DataFrame handle skips the per-call directory listing + parquet
    * footer schema inference that `spark.read.parquet` repeats on every
    * construction (a real deployment gets the same amortization from
    * its catalog/metastore; the inputs here are immutable fixture
    * dirs). Keyed by the session object so a new session (new JVM, new
    * test SparkSession) re-lists from scratch; entries hold no data and
    * are few (10 tables × sf dirs). */
  private val tCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  /** Entry bound before stale-session eviction: one live session holds
    * ≤ (10 tables × a few sf dirs) entries, so crossing this means dead
    * sessions' handles (and their pinned SparkSession references — the
    * r16-flagged leak for embedded use) are piling up; drop every other
    * session's entries before inserting. Eviction only costs a re-list
    * on a session that somehow comes back — correctness is unaffected. */
  private val tCacheMaxEntries = 64

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (tCache.size > tCacheMaxEntries)
      tCache.keySet.removeIf(k => k._1 ne spark)
    tCache.computeIfAbsent((spark, dir, name), _ => {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema.fields.find(f => f.name == "ts").map(_.dataType) match {
        case Some(LongType) =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case Some(TimestampNTZType) =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    })
  }
}

/** The two deterministic corpus VERSIONS q58b (snapshot diff) and q100c
  * (incremental capstone) derive from the documents fixture — a single
  * definition, in both engines' renderings, so the diff operator and the
  * capstone that claims to compose it can never drift apart: the old
  * snapshot drops doc_id %11=3; the new drops %11=7 and re-tags lang for
  * %5=0; row identity is the md5 digest of (text | lang). */
object SnapshotFixture {
  def oldSnapshot(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 11 =!= 3)
  def newSnapshot(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 11 =!= 7)
      .withColumn("lang",
        when(col("doc_id") % 5 === 0, lit("xx")).otherwise(col("lang")))
  /** Content digest over the (text, lang) pair — computed AFTER the
    * snapshot's lang re-tag, so a re-tag reads as a modification. */
  def digest: Column = md5(concat_ws("|", col("text"), col("lang")))
  /** DuckDB CTEs: `so(doc_id, h)` — the old snapshot's digests — and
    * `snh(doc_id, text, lang, n_chars, h)` — the new snapshot with its
    * digests. The identical arithmetic as the Spark builders above. */
  val sqlCtes: String =
    """so AS (
      |  SELECT doc_id, md5(concat_ws('|', text, lang)) AS h
      |  FROM documents WHERE doc_id % 11 <> 3),
      |sn AS (
      |  SELECT doc_id, text, n_chars,
      |    CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS lang
      |  FROM documents WHERE doc_id % 11 <> 7),
      |snh AS (SELECT doc_id, text, lang, n_chars,
      |    md5(concat_ws('|', text, lang)) AS h FROM sn)""".stripMargin
}

/** Input-parallelism guard (guide §2.5 "input skew: one huge
  * unsplittable file"). Parquet scan parallelism is bounded by ROW-GROUP
  * count, not split count — a task whose byte range contains no
  * row-group start reads nothing — and the driver fixtures are
  * single-file single-row-group tables, so every fixture scan runs as
  * effectively ONE task and all per-row work fused into the scan stage
  * (decimal casts, Expand fan-out, percentile buffers, format_string)
  * serializes on it at ANY core count (measured r17: q46_stats 2.25 s
  * wall with 1.95 s summed task time — ~zero overlap on local[32]).
  * [[Spread.byKey]] hash-repartitions on a caller-chosen
  * high-cardinality key to the session default parallelism, moving the
  * per-row work onto all cores for one narrow exchange of the projected
  * columns; keyed hashing (vs keyless round-robin) avoids the
  * sort-before-repartition pass AND stays deterministic under task
  * retry. The guard is conditional: any input that already scans wider
  * (every production-scale table) passes through untouched, so this is
  * the small-input-regime floor, not a local[32] constant — same
  * discipline as [[Spread.roundRobin]] on the shingling and decode
  * paths. */
object Spread {
  def byKey(df: DataFrame, key: Column): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    // trigger only on MATERIALLY deficient parallelism (< half the
    // cores): a scan already within 2× of core count gains less from
    // the extra exchange than the exchange costs (measured on the 10×
    // fixture, whose ~27 row-group splits at 32 cores must pass through
    // untouched)
    if (df.rdd.getNumPartitions * 2 < want) df.repartition(want, key)
    else df
  }

  /** Raise a Dataset to at least the session's default parallelism
    * before a CPU-heavy per-row stage (shingling, hashing, media
    * decode). A small parquet input arrives as one or two scan
    * partitions, and when every downstream join broadcasts (or, for a
    * decode pipeline, there is no exchange of its own) the whole
    * pipeline runs at scan parallelism, i.e. serially (q90d measured
    * 33 s single-threaded vs 5 s spread; the bimodality was AQE
    * flapping between all-broadcast and sort-merge plans, the LATTER
    * accidentally re-parallelizing). At production scale the scan has
    * thousands of partitions and this is a no-op — the guard exists for
    * the tiny-file regime where Catalyst has no reason to add the
    * exchange the CPU profile needs. */
  def roundRobin[T](ds: Dataset[T]): Dataset[T] = {
    val want = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < want) ds.repartition(want) else ds
  }
}

/** Canonicalization helpers (SURVEY.md §2, determinism rules).
  *
  * Floating-point sums are order-dependent, and Spark/DuckDB will not add
  * partials in the same order. Any aggregate over a DOUBLE measure therefore
  * routes through DECIMAL(38,6): the cast rounds each input to a fixed grid
  * (identically in both engines, since the doubles are ~1e-15 away from their
  * decimal-valued sources), decimal addition is exact and order-free, and the
  * final cast back to DOUBLE is the deterministic IEEE nearest value.
  */
object Canon {
  /** Order-independent exact sum of a double measure, returned as double. */
  def sumDec(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast(DoubleType)
  /** DuckDB rendering of [[sumDec]]. */
  def sumDecSql(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(38,6))) AS DOUBLE)"
  /** Deterministic mean: exact decimal sum divided by count, in double. */
  def avgDec(c: Column): Column = sumDec(c) / count(c)
  def avgDecSql(e: String): String =
    s"(${sumDecSql(e)} / CAST(count($e) AS DOUBLE))"
  /** Total order over all output columns (ascending, nulls first — matches
    * the `NULLS FIRST` spelled out in every oracle's ORDER BY). */
  def orderAll(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
}
