package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import graft.{Q, Tables}
import graft.Canon.orderAll
import graft.functions.Similarity
import graft.sources.IO

/** LLM-training-data pipeline operators (SURVEY.md §2 Q90–Q94 + the
  * text-analysis extensions Q95–Q97) over `documents` / `embeddings`.
  *
  * Scale stance (the north-star mandate): every operator here is built so
  * the same plan survives 100 TB —
  *  - dedup is hash-groupBy (one shuffle on the digest);
  *  - near-dup candidates come from a BANDED MinHash equi-join, never an
  *    all-pairs comparison: candidate generation is O(docs × bands) rows
  *    shuffled on (band, signature) with exact verification only on
  *    colliding pairs;
  *  - similarity search is brute-force top-k only over a bounded query
  *    set (the oracle-checkable baseline); the documented scale path is
  *    LSH/IVF bucketing so each query probes one bucket's partition;
  *  - text analytics are pure per-row projections + one aggregation.
  */
object LlmPipeline {

  /** Distinct word n-grams over a BOUND words-array column — delegates to
    * the library operator [[graft.Engine.wordNgrams]] (zip-sliced, one
    * linear pass per row; the indexed-lambda form measures ~7× slower
    * under codegen, and the words array must be materialized via
    * withColumn first or Catalyst inlines the split() into every lambda
    * reference). */
  private def ngramsOf(words: org.apache.spark.sql.Column, n: Int) =
    graft.Engine.wordNgrams(words, n)

  /** 8-bit LSH bucket code over an embedding column, built from the 8
    * coordinate comparisons starting at `offset` (bit i = whether element
    * offset+2i+1 > element offset+2i+2) — the single definition family
    * shared by Q99, Q92b and their oracles so the bucket family can never
    * diverge between sites or engines. */
  private def bucketCodeAt(offset: Int): org.apache.spark.sql.Column =
    (0 until 8)
      .map(i => when(element_at(col("embedding"), offset + 2 * i + 1) >
        element_at(col("embedding"), offset + 2 * i + 2), lit(1 << i))
        .otherwise(lit(0)))
      .reduce(_ + _)

  /** Table 0 of the family (coordinates 1..16) — Q92b's bucket. */
  private def bucketCode: org.apache.spark.sql.Column = bucketCodeAt(0)

  /** Session-cached q90n ingest ledger per input dir (the stageEvents
    * pattern): q90u's REGISTERED query measures the as-of READ — the
    * operator under test — not the 4-slot ingest that builds its
    * fixture. The build lands once, in whatever pass touches it first
    * (Bench's unbilled warm-up; one-time cost in Verify). q90n keeps
    * its own per-invocation build at its own path: there the ingest
    * loop IS the operator under test. */
  private val asOfLedgerCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q90uLedger(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    asOfLedgerCache.computeIfAbsent(dir, _ => {
      val path = IO.scratch("q90u_survivors_asof", dir)
      graft.Engine.dedupIngest(Tables.t(s, dir, "documents"), "doc_id",
        "text", col("doc_id") % 4, path, thresholdPct = 60): Unit
      path
    })

  /** DuckDB rendering of [[bucketCodeAt]]. */
  private def bucketCodeSqlAt(offset: Int): String = (0 until 8)
    .map(i => s"(CASE WHEN embedding[${offset + 2 * i + 1}] > " +
      s"embedding[${offset + 2 * i + 2}] THEN ${1 << i} ELSE 0 END)")
    .mkString(" + ")

  private def bucketCodeSql: String = bucketCodeSqlAt(0)

  /** Q99 OR-construction: 4 independent 8-bit tables over DISJOINT
    * 16-coordinate ranges of the 64-dim embedding — a miss in one table
    * is independent-ish of a miss in another, so candidate recall is
    * 1 − Πₜ(1 − rₜ) for per-table recall rₜ. */
  private val annTables: Int = 4

  /** Q99 multi-probe family: the identity probe plus every single-bit
    * flip of the 8-bit bucket code (Hamming radius 1) — 9 distinct XOR
    * masks per table, shared with the oracle. */
  private val probeXors: Seq[Int] = 0 +: (0 until 8).map(1 << _)

  /** Directed skip-gram pairs (w_i, w_{i+j}) for j = 1..window over a
    * WORDS-ARRAY column, emitted ROW-LOCALLY: each offset j is one
    * zip_with of the word array with its own j-shifted slice — token
    * adjacency lives inside the document, so pair generation never
    * shuffles (the q94m in-blob adjacency argument applied to text; an
    * explode + positional self-join would move every token once per
    * window slot). Takes the words Column, not a fixed column name —
    * the [[graft.Engine.wordNgrams]] calling convention. Shared by
    * q93o (pair counts) and q93p (the TextRank word graph). */
  private def skipGramPairs(docs: org.apache.spark.sql.DataFrame,
      words: org.apache.spark.sql.Column,
      window: Int): org.apache.spark.sql.DataFrame = {
    def zipAt(j: Int) = zip_with(
      slice(words, lit(1), greatest(size(words) - j, lit(0))),
      slice(words, lit(j + 1), greatest(size(words) - j, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    docs.select(explode(concat((1 to window).map(zipAt): _*)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** DuckDB distinct word-trigram list over a pre-split words column `w`
    * (matches [[graft.Engine.wordNgrams]] n=3 — the Q91c shingle size). */
  private val trigramsSql: String =
    """CASE WHEN len(w) >= 3 THEN
      |  list_distinct(list_transform(generate_series(1, len(w) - 2),
      |    i -> concat_ws(' ', w[i], w[i+1], w[i+2])))
      |ELSE [] END""".stripMargin.replace("\n", " ")

  /** DuckDB distinct word-bigram list over a pre-split words column `w`
    * (the Q90d/Q90h n-gram family; matches [[graft.Engine.wordNgrams]] n=2). */
  private val bigramsSql: String =
    """CASE WHEN len(w) >= 2 THEN
      |  list_distinct(list_transform(generate_series(1, len(w) - 1),
      |    i -> concat_ws(' ', w[i], w[i+1])))
      |ELSE [] END""".stripMargin.replace("\n", " ")

  /** DuckDB rendering of [[shingles]] over `text`. */
  private val shinglesSql: String =
    """CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |  list_distinct(list_transform(
      |    generate_series(1, len(string_split(text, ' ')) - 2),
      |    i -> concat_ws(' ', string_split(text, ' ')[i],
      |      string_split(text, ' ')[i+1], string_split(text, ' ')[i+2])))
      |ELSE [] END""".stripMargin.replace("\n", " ")

  val all: Seq[Q] = Seq(

    // Q90 — exact dedup as hash-groupBy: the input is the documents table
    // unioned with itself (a simulated re-crawl), grouped on the content
    // digest; keeper = min doc_id. One shuffle keyed on the digest; at
    // 100 TB the digest GroupBy is the canonical exact-dedup plan (no
    // sort, no window).
    Q("q90_exact_dedup",
      """WITH crawl AS (
        |  SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
        |  count(*) AS n_copies
        |FROM crawl GROUP BY 1
        |ORDER BY content_hash NULLS FIRST, keeper_id NULLS FIRST,
        |  n_copies NULLS FIRST""".stripMargin) { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
      orderAll(graft.Engine.exactDedup(d.unionAll(d),
        col("doc_id"), col("text")))
    },

    // Q91 — near-duplicate detection: 3-word shingles → 64-hash MinHash
    // signature → 16 bands × 4 rows → equi-join on (band, band-hash) for
    // candidates → EXACT Jaccard verification ≥ 0.8 on candidates only.
    // The oracle computes exact all-pairs Jaccard (affordable in DuckDB at
    // sf0.01); band parameters make the miss probability of a J ≥ 0.8
    // pair (1 − 0.8⁴)¹⁶ ≈ 2e-4, and the verification step removes every
    // band false-positive, so both sides produce the same pair set. At
    // scale only the banded join exists — candidates are O(matching
    // pairs), never O(n²).
    // TRIAGE NOTE: the oracle is deliberately EXACT while the operator is
    // probabilistic-recall — a q91/q91b hash mismatch on a fresh/larger
    // dataset most likely means a borderline J≈0.8 pair fell in the 2e-4
    // banding miss window, not a bug; confirm by checking whether the
    // missing pair's bands all collided before suspecting the operator.
    Q("q91_minhash_neardup",
      s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sv FROM documents),
         |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = doc_a
         |JOIN sz sb ON sb.doc_id = doc_b
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
         |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST, jaccard NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(neardupPairs(s, dir))
    },

    // Q91b (beyond-survey) — near-dup CLUSTERING: connected components
    // over the verified near-dup pairs, assigning every clustered
    // document the minimum doc_id of its component — what an actual
    // dedup pass keys its keep/drop decision on. Iterative min-label
    // propagation: per round one join + one aggregate, lineage truncated
    // via localCheckpoint; rounds are bounded by the component diameter
    // (driver sees only a scalar per round — the standard distributed
    // connected-components shape, cf. GraphFrames/large-star).
    Q("q91b_neardup_clusters", neardupClustersOracleSql) { (s, dir) =>
      orderAll(graft.Engine.nearDupClusters(
        neardupPairs(s, dir).select("doc_a", "doc_b")))
    },

    // Q91e (beyond-survey) — DEDUP MATERIALIZATION: the pass that
    // actually EMITS the cleaned corpus (q91/q91b stop at pairs and
    // cluster labels) — keep docs in no cluster plus each cluster's
    // minimum-id representative. Same banding-recall triage note as
    // q91: the oracle's pair set is exact all-pairs while the operator's
    // is banded MinHash (miss prob ≈ 2e-4 at J=0.8); a divergence on
    // fresh data is recall, not logic, until the band collisions say
    // otherwise. Scale: the cluster table is small (only docs appearing
    // in pairs), the corpus is scanned once.
    Q("q91e_apply_dedup", applyDedupOracleSql) { (s, dir) =>
      orderAll(graft.Engine.applyDedup(
          Tables.t(s, dir, "documents"), "doc_id",
          neardupPairs(s, dir).select("doc_a", "doc_b"))
        .select("doc_id", "lang", "source"))
    },

    // Q91c (beyond-survey) — n-gram Jaccard similarity join via PREFIX
    // FILTERING (AllPairs/PPJoin family): the deterministic-recall
    // complement to Q91's MinHash. One global (df ASC, n-gram ASC) order,
    // prefix length |s| − ⌈t·|s|⌉ + 1 in exact integer arithmetic, an
    // equi-join on prefix n-grams for candidates, exact verification
    // after. Recall is 1.0 BY THEOREM, so — unlike q91 — the exact
    // all-pairs oracle must match on any dataset; no triage note needed.
    // Rare-first ordering anti-skews the candidate join (hot n-grams
    // almost never enter a prefix), which is the 100 TB survival trait.
    //
    // Shingle size w=3 (the classic w-shingling choice): prefix
    // selectivity is a VOCABULARY property, and this corpus's bigram
    // vocabulary is adversarially tiny — 931 distinct bigrams at
    // median df 285 put a 2.4M-pair candidate floor under ANY bigram
    // prefix scheme (measured: 17.6M joined rows, 9.8 s solo), while
    // the trigram vocabulary (27k, median df 9) collapses the same
    // query to ~1k candidates for the IDENTICAL 256-pair answer set
    // (near-dup pairs are near-dups at either order; verified against
    // both oracles). The operator stays order-agnostic — AlgebraProps
    // proves the n=2 path loss-free on generated corpora.
    Q("q91c_jaccard_join",
      s"""WITH sh AS (SELECT doc_id, $trigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = doc_a
         |JOIN sz sb ON sb.doc_id = doc_b
         |WHERE i * 100 >= (sa.n + sb.n - i) * 60
         |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST, jaccard NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.jaccardJoin(
          Tables.t(s, dir, "documents"), "doc_id", "text",
          thresholdPct = 60, ngramWords = 3))
    },

    // Q92 — similarity search: brute-force top-k cosine of a bounded
    // query set (vec_id < 10) against the whole corpus — the exact
    // baseline. Queries are broadcast; norms are computed once per side.
    // Documented scale cutover (SURVEY §7 item 7): random-hyperplane LSH
    // (or IVF coarse quantization) bucketing both sides so each query
    // scans one bucket, with this brute-force form as the in-bucket
    // scorer; tie-break on (cos DESC, vec_id ASC) keeps top-k stable.
    // Scoring runs through the codegen CosineSimilarity expression (one
    // fused loop per pair; bit-identical to the HOF/oracle formulation).
    Q("q92_cosine_topk",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT query_id, vec_id,
         |    round(${Similarity.cosineSql("qe", "embedding")}, 6) AS cos_sim
         |  FROM q CROSS JOIN embeddings),
         |ranked AS (SELECT query_id, vec_id, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rnk
         |  FROM scored)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
         |FROM ranked WHERE rnk <= 5
         |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST, vec_id NULLS FIRST,
         |  cos_sim NULLS FIRST""".stripMargin) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.cosineTopK(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5))
    },

    // Q92e (beyond-survey) — contrastive HARD-NEGATIVE mining: per query
    // vector, the 3 most similar corpus vectors with a DIFFERENT label
    // (near-miss negatives — the pairs contrastive training actually
    // wants). Engine.hardNegatives = the q92 broadcast-and-rank plan
    // with the label-mismatch filter before ranking; the q99 bucketed
    // cutover composes identically for unbounded query sets.
    Q("q92e_hard_negatives",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
         |    label AS ql
         |  FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT query_id, e.vec_id AS vec_id,
         |    round(${Similarity.cosineSql("qe", "e.embedding")}, 6)
         |      AS cos_sim
         |  FROM q CROSS JOIN embeddings e WHERE e.label <> q.ql),
         |ranked AS (SELECT query_id, vec_id, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rnk
         |  FROM scored)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
         |FROM ranked WHERE rnk <= 3
         |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST,
         |  vec_id NULLS FIRST, cos_sim NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val e = Tables.t(s, dir, "embeddings")
        orderAll(graft.Engine.hardNegatives(
          e, "vec_id", "embedding", "label",
          e.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
          k = 3))
    },

    // Q92b (beyond-survey) — embedding-cosine NEAR-DUP: the dedup framing
    // of similarity search. Candidate pairs come from the same 8-bit
    // bucketing as Q99 (never all-pairs — at 100 TB candidates are
    // O(Σ bucket²), tunable by code width); survivors are pairs scoring
    // cosine ≥ 0.3. The bucket approximation is part of the operator's
    // contract and the oracle applies it identically.
    Q("q92b_cosine_neardup", cosineNeardupOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), bucketCode.as("bucket"))
      val pairs = e.select(col("bucket"), col("vec_id").as("vec_a"),
          col("embedding").as("ea"))
        .join(e.select(col("bucket"), col("vec_id").as("vec_b"),
          col("embedding").as("eb")), Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          graft.Engine.cosine(col("ea"), col("eb")).as("cos_sim"))
      orderAll(pairs.filter(col("cos_sim") >= 0.3))
    },

    // Q93 — text analysis: tokenize → language filter → term frequency →
    // top-10 terms per language. Explode + two-phase hash agg; the window
    // ranks only the (lang, token) aggregate, which is already small.
    Q("q93_text_tf",
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE lang IN ('en', 'es')),
        |tf AS (SELECT lang, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |r AS (SELECT lang, token, tf, row_number() OVER (
        |    PARTITION BY lang ORDER BY tf DESC, token ASC) AS rnk FROM tf)
        |SELECT lang, CAST(rnk AS INT) AS rnk, token, tf FROM r
        |WHERE rnk <= 10
        |ORDER BY lang NULLS FIRST, rnk NULLS FIRST, token NULLS FIRST,
        |  tf NULLS FIRST""".stripMargin) { (s, dir) =>
      val tf = Tables.t(s, dir, "documents")
        .filter(col("lang").isin("en", "es"))
        .select(col("lang"),
          explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("tf").desc, col("token").asc)
      orderAll(tf.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select("lang", "rnk", "token", "tf"))
    },

    // Q93b (beyond-survey) — token COUNTING, whitespace vs a BPE-ish
    // pretokenizer: the GPT-2 pretokenizer regex family (contraction
    // suffixes | space-prefixed letter runs | digit runs | punctuation
    // runs | whitespace), minus its lookahead clause — RE2 (DuckDB) has
    // no lookahead, and dropping it only splits trailing-space runs,
    // identically in both engines. Whitespace is spelled as the explicit
    // class [ \t\n\x0B\f\r] rather than \s, because Java's \s includes
    // vertical tab while RE2's does not (r3 advice) — the explicit class
    // is engine-identical by construction. Pure per-row projection (no
    // shuffle); the per-token explode variant is Q93 — this is the
    // counting form a corpus-statistics pass runs at 100 TB.
    Q("q93b_bpe_tokens",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |  regexp_extract_all(text,
        |    '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+|[ \t\n\x0B\f\r]+')
        |    AS b FROM documents)
        |SELECT doc_id, CAST(len(w) AS INT) AS n_ws,
        |  CAST(len(b) AS INT) AS n_bpe,
        |  round(CAST(len(b) AS DOUBLE) / len(w), 6) AS bpe_per_ws
        |FROM t
        |ORDER BY doc_id NULLS FIRST, n_ws NULLS FIRST, n_bpe NULLS FIRST,
        |  bpe_per_ws NULLS FIRST""".stripMargin) { (s, dir) =>
      val pat =
        "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+|" +
          " ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+"
      val ws = split(col("text"), " ")
      val bpe = regexp_extract_all(col("text"), lit(pat), lit(0))
      orderAll(Tables.t(s, dir, "documents").select(
        col("doc_id"),
        size(ws).as("n_ws"),
        size(bpe).as("n_bpe"),
        round(size(bpe).cast(DoubleType) / size(ws), 6).as("bpe_per_ws")))
    },

    // Q94 — multimodal column round-trip: content as an opaque BINARY
    // column + a typed metadata struct, written to a modality-partitioned
    // parquet layout and read back through decode + feature extraction.
    // The "decode" here is UTF-8 (this container ships no image/audio
    // codecs — a real deployment swaps in a mapInPandas/mapPartitions
    // decoder over the same binary column); the plumbing — binary blobs
    // in Parquet, metadata struct, partition layout, executor-side
    // feature extraction — is the real 100 TB shape (blobs ride in
    // columnar containers, never one file per blob).
    Q("q94_multimodal",
      """SELECT doc_id, 'text' AS modality, lang,
        |  CAST(length(text) AS INT) AS n_bytes,
        |  ascii(text) AS first_byte,
        |  md5(text) AS content_md5
        |FROM documents
        |ORDER BY doc_id NULLS FIRST, modality NULLS FIRST, lang NULLS FIRST,
        |  n_bytes NULLS FIRST, first_byte NULLS FIRST, content_md5 NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val out = IO.scratch("q94_multimodal", dir)
        Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            encode(col("text"), "UTF-8").as("content"),
            lit("text").as("modality"),
            struct(col("lang"), col("source"), col("n_chars")).as("meta"))
          .write.mode("overwrite").partitionBy("modality").parquet(out)
        val decoded = col("content").cast(StringType)
        orderAll(s.read.parquet(out)
          .select(col("doc_id"), col("modality"), col("meta.lang").as("lang"),
            length(decoded).as("n_bytes"),
            ascii(decoded).as("first_byte"),
            md5(col("content")).as("content_md5")))
    },

    // Q94c (beyond-survey) — CHUNKED binary processing, the
    // frame-sampling shape: a media blob is cut into fixed-size byte
    // windows, every k-th window is sampled, and each sampled chunk is
    // fingerprinted — exactly how a video column is frame-sampled or an
    // audio column windowed at 100 TB (per-row generate+slice, no
    // shuffle; the decoder SPI of q94b slots in where md5 stands). The
    // Spark side slices the BINARY column (substr on BinaryType cuts
    // bytes — the real media semantics); DuckDB can neither substring
    // nor md5 a BLOB, so the oracle windows the VARCHAR — equivalent
    // here because the corpus is verified pure ASCII at every SF (byte
    // windows == char windows; on a non-ASCII corpus the oracle would
    // need a bytes-capable engine, the operator would not change).
    // Chunk size 32, sample stride 3, short final chunk kept.
    Q("q94c_chunk_sample",
      """WITH c AS (SELECT doc_id, text,
        |    unnest(generate_series(1,
        |      CAST(ceil(octet_length(encode(text)) / 32.0) AS BIGINT))) AS idx
        |  FROM documents WHERE octet_length(encode(text)) >= 1)
        |SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
        |  CAST(length(substring(text, CAST((idx - 1) * 32 + 1 AS BIGINT), 32))
        |    AS INT) AS n_bytes,
        |  md5(substring(text, CAST((idx - 1) * 32 + 1 AS BIGINT), 32))
        |    AS chunk_md5
        |FROM c WHERE idx % 3 = 1
        |ORDER BY doc_id NULLS FIRST, chunk_idx NULLS FIRST,
        |  n_bytes NULLS FIRST, chunk_md5 NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val chunkSize = 32
        val content = encode(col("text"), "UTF-8")
        val nChunks = ceil(length(content) / lit(chunkSize.toDouble))
          .cast(LongType)
        val chunk = expr(s"substr(content, (idx - 1) * $chunkSize + 1, " +
          s"$chunkSize)")
        orderAll(Tables.t(s, dir, "documents")
          .filter(length(content) >= 1) // empty blob: sequence(1,0) would
                                        // step BACKWARD, not empty
          .select(col("doc_id"), content.as("content"),
            explode(sequence(lit(1L), nChunks)).as("idx"))
          .filter(col("idx") % 3 === 1)
          .select(col("doc_id"), col("idx").cast("int").as("chunk_idx"),
            length(chunk).cast("int").as("n_bytes"),
            md5(chunk).as("chunk_md5")))
    },

    // Q95 — quality scoring: per-document length/token statistics and a
    // stopword ratio, with a boolean gate — the standard pre-training
    // corpus filter. Pure projections; no shuffle at all.
    Q("q95_quality_score",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |    length(text) AS nc FROM documents)
        |SELECT doc_id, nc, CAST(len(w) AS INT) AS n_tokens,
        |  round(CAST(nc AS DOUBLE) / len(w), 6) AS chars_per_token,
        |  round(CAST(len(list_filter(w, x -> x = 'the' OR x = 'a'))
        |    AS DOUBLE) / len(w), 6) AS stop_ratio,
        |  (len(w) BETWEEN 20 AND 200
        |    AND CAST(nc AS DOUBLE) / len(w) BETWEEN 3 AND 8) AS quality_pass
        |FROM t
        |ORDER BY doc_id NULLS FIRST, nc NULLS FIRST, n_tokens NULLS FIRST,
        |  chars_per_token NULLS FIRST, stop_ratio NULLS FIRST,
        |  quality_pass NULLS FIRST""".stripMargin) { (s, dir) =>
      val w = split(col("text"), " ")
      val nc = length(col("text"))
      val cpt = nc.cast(DoubleType) / size(w)
      orderAll(Tables.t(s, dir, "documents")
        .select(col("doc_id"), nc.as("nc"),
          size(w).as("n_tokens"),
          round(cpt, 6).as("chars_per_token"),
          round(size(filter(w, x => x === "the" || x === "a"))
            .cast(DoubleType) / size(w), 6).as("stop_ratio"),
          (size(w).between(20, 200) && cpt.between(3, 8))
            .as("quality_pass")))
    },

    // Q96 — language-ID heuristic: marker-token counts per candidate
    // language and an argmax prediction (ties → 'en'). On this synthetic
    // corpus every document scores as English — the point is the operator
    // shape: a constant marker table fused into a per-row projection, no
    // join, no shuffle.
    Q("q96_langid",
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |  FROM documents),
        |m AS (SELECT doc_id, lang,
        |  len(list_filter(w, x -> x = 'the' OR x = 'and' OR x = 'of')) AS n_en,
        |  len(list_filter(w, x -> x = 'el' OR x = 'la' OR x = 'de')) AS n_es
        |  FROM t)
        |SELECT doc_id, lang AS labeled_lang, CAST(n_en AS INT) AS n_en,
        |  CAST(n_es AS INT) AS n_es,
        |  CASE WHEN n_es > n_en THEN 'es' ELSE 'en' END AS predicted
        |FROM m
        |ORDER BY doc_id NULLS FIRST, labeled_lang NULLS FIRST,
        |  n_en NULLS FIRST, n_es NULLS FIRST, predicted NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val w = split(col("text"), " ")
        val nEn = size(filter(w,
          x => x === "the" || x === "and" || x === "of"))
        val nEs = size(filter(w, x => x === "el" || x === "la" || x === "de"))
        orderAll(Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang").as("labeled_lang"),
            nEn.as("n_en"), nEs.as("n_es"),
            when(nEs > nEn, "es").otherwise("en").as("predicted")))
    },

    // Q97 — document fingerprinting + token statistics: a canonical
    // content digest (md5 of the lowercased text — the cheap first-pass
    // fingerprint ahead of MinHash) and the distinct word-bigram count
    // used for n-gram overlap filters. Per-row projection only.
    Q("q97_fingerprint",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w, text
        |  FROM documents)
        |SELECT doc_id, md5(lower(text)) AS fp,
        |  CAST(len(w) AS INT) AS n_tokens,
        |  CAST(CASE WHEN len(w) >= 2 THEN len(list_distinct(list_transform(
        |    generate_series(1, len(w) - 1),
        |    i -> concat_ws(' ', w[i], w[i+1])))) ELSE 0 END AS INT)
        |    AS n_bigrams
        |FROM t
        |ORDER BY doc_id NULLS FIRST, fp NULLS FIRST, n_tokens NULLS FIRST,
        |  n_bigrams NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(Tables.t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"), md5(lower(col("text"))).as("fp"),
          size(col("words")).as("n_tokens"),
          size(ngramsOf(col("words"), 2)).as("n_bigrams")))
    },

    // Q98 (beyond-survey) — SimHash near-dup: a 64-bit per-document
    // fingerprint from md5-derived token hashes (md5 is the one hash both
    // engines share bit-for-bit), candidate pairs via 4×16-bit band
    // buckets, exact Hamming verification ≤ 3. With 4 bands, any pair
    // within Hamming 3 shares at least one identical band (pigeonhole),
    // so banded recall is exact — the Spark side NEVER compares all
    // pairs, while the sf0.01 oracle can afford to.
    Q("q98_simhash", simhashOracleSql) { (s, dir) =>
      // Hamming verification runs INSIDE the candidate join stage — both
      // signatures already ride on the joined row, so bit_count is free
      // — and the pair-dedup shuffles only qualifying pairs (collided
      // bands flood ~3M candidate rows at sf0.1 for ~700 real pairs;
      // dedup-before-verify shuffled all of them, ~1.5 s wasted).
      // PAIR-SET CAVEAT: this listing form is for bounded-cluster
      // verification; the production materialization is q98b/q98c —
      // the pair CONTRACT is quadratic in duplicate-cluster size (the
      // r7 sf1 sweep measured 8.53M pairs at 10× docs) even though the
      // banded PLAN is scale-safe.
      orderAll(graft.Engine.simhashPairs(graft.Engine.simhash64(
        Tables.t(s, dir, "documents"), col("doc_id"), col("text"))))
    },

    // Q98b (beyond-survey) — SimHash near-dup CLUSTERING with O(docs)
    // output: signature-identical docs collapse to a min-id
    // representative BEFORE banding (one groupBy on sh), candidates and
    // Hamming verification run over DISTINCT signatures only, connected
    // components assign every doc the min doc_id of its transitive
    // Hamming-≤3 component (itself when unclustered). This is the
    // production contract for the q98 family: the r7 sf1 sweep measured
    // the raw pair listing at 8.53M rows (×11,769 for 10× docs) because
    // crawl corpora are dominated by signature-identical boilerplate —
    // here that boilerplate costs one rep row, and the output is one row
    // per document regardless of cluster shape. Banded recall stays
    // exact (pigeonhole), so the recursive-closure oracle must match.
    Q("q98b_simhash_clusters", simhashClustersOracleSql) { (s, dir) =>
      orderAll(graft.Engine.simhashClusters(
        Tables.t(s, dir, "documents"), col("doc_id"), col("text")))
    },

    // Q98c (beyond-survey) — SimHash dedup MATERIALIZATION through the
    // ONE shared clustering path: Engine.simhashEdges emits O(docs)
    // star-plus-rep-pair edges whose closure equals the q98b components,
    // and Engine.applyDedup — the SAME materialization every near-dup
    // family uses (MinHash q91e, containment pairs in EngineSpec) —
    // keeps each component's min-id representative. One clustering/
    // apply code path for all near-dup families, fed by family-specific
    // edge generators.
    Q("q98c_apply_simhash", applySimhashOracleSql) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      orderAll(graft.Engine.applyDedup(docs, "doc_id",
          graft.Engine.simhashEdges(docs, col("doc_id"), col("text")))
        .select("doc_id", "lang", "source"))
    },

    // Q99 (beyond-survey) — the documented LSH scale path for Q92:
    // bucket both sides on 8-bit comparison codes, then rank by cosine
    // only over bucket-collision candidates. Two standard recall levers,
    // both equi-join-shaped:
    //  - OR-CONSTRUCTION: 4 independent tables over disjoint
    //    16-coordinate ranges of the 64-dim embedding (posexplode of the
    //    4 codes); a neighbor missed by one table is caught by another.
    //  - MULTI-PROBE (Hamming radius 1): per table, each query probes its
    //    own bucket plus the 8 single-bit variants — the query side
    //    explodes into 4×9 probe rows (a bounded broadcast), never a
    //    ≤1-bit theta-join.
    // Candidates dedup on (query, vec) BEFORE scoring, so each survivor
    // is scored once. Per-query candidate work is O(36·N/256) ≈ 14% of
    // the corpus vs exact O(N); measured recall@3 vs the exact q92
    // baseline: 0.35 (single table, no probes) → 0.55 at sf0.001,
    // asserted as a ≥0.5 bound in EngineSpec. The test corpus is the
    // honesty limit, not the design: 500 near-uniform vectors leave ~2
    // per bucket, so most of a query's true top-3 sits outside every
    // probed cell no matter the family. At production N the bit-width
    // grows as log2(N/target-bucket-size) (16–20 bits for 1e9 vectors),
    // which holds the probe FRACTION constant while bucket occupancy —
    // not table sparsity — dominates recall. The oracle applies the
    // identical table + probe family.
    Q("q99_bucketed_ann", bucketedAnnOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.lshTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 3))
    },

    // Q99d (beyond-survey) — AUTO-SIZED bucketed ANN: the bit-width rule
    // q99 documents as prose, applied as code. Engine.annBits picks the
    // smallest b with 2^b·targetBucket ≥ N (integer-exact; a float log2
    // rounds 256 → 7.999… in some engines), so each probe visits
    // ~targetBucket=32 vectors REGARDLESS of corpus size — 4 bits at the
    // 500-vector gate table, 6 at sf0.1's 2000, 16–20 at 10⁹, with the
    // probed corpus FRACTION falling as N grows instead of the per-probe
    // work growing. The corpus count is the one driver-side scalar (a
    // metadata-only parquet count); the oracle replays the identical
    // integer sizing rule from its own count(*), so the two engines must
    // pick the same width on any dataset.
    Q("q99d_sized_ann", sizedAnnOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val bits = graft.Engine.annBits(e.count(), targetBucket = 32)
      orderAll(graft.Engine.lshTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 3,
        bits = bits))
    },

    // Q99b (beyond-survey) — IVF (inverted-file) ANN: the coarse-quantizer
    // alternative to Q99's hash buckets. A FIXED bounded centroid set (in
    // production: offline k-means output; here: 8 deterministic seed
    // vectors) is broadcast; every corpus vector is assigned to its
    // nearest centroid (one broadcast join + per-vector argmax — N×8
    // rows, never N²), and each query probes its nprobe=2 nearest cells
    // via an equi-join on the cell id. Per-query candidate work is
    // nprobe/k of the corpus; at scale k is tuned toward √N so assignment
    // stays broadcastable while cells stay small. Ranking ties break on
    // (cos DESC, id ASC) and assignment ties on (cos DESC, cid ASC) —
    // over ROUNDED cosines, so both engines argmax identical values.
    Q("q99b_ivf_ann", ivfAnnOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val cent = e.filter(col("vec_id").isin(ivfCentroidIds: _*))
      def cells(src: org.apache.spark.sql.DataFrame, idAs: String,
          vecAs: String, nprobe: Int) =
        graft.Engine.nearestCells(src, "vec_id", "embedding",
            cent, "vec_id", "embedding", nprobe)
          .select(col("vec_id").as(idAs), col("embedding").as(vecAs),
            col("__ccid").as("cell"))
      val probes = cells(e.filter(col("vec_id") < 20),
        "query_id", "qe", nprobe = 2)
      val scored = cells(e, "vec_id", "embedding", nprobe = 1)
        .join(broadcast(probes), Seq("cell"))
        .select(col("query_id"), col("vec_id"),
          graft.Engine.cosine(col("qe"), col("embedding")).as("cos_sim"))
      orderAll(graft.Engine.topKWithin(scored, "query_id",
          Seq(col("cos_sim").desc, col("vec_id").asc), 3)
        .select("query_id", "rnk", "vec_id", "cos_sim"))
    },

    // Q99g (beyond-survey) — IVF served from a PERSISTED index
    // ([[graft.Engine.ivfPersistedSearch]]): same query semantics and
    // SAME ORACLE as q99b, but the inverted file is a parquet table
    // partitioned by cell, and the probe step reads back ONLY the
    // probed-cell directories (the `cell IN (…)` filter lands on the
    // partition column — PlanSpec asserts the scan's PartitionFilters).
    // This is the operational half q99b abstracts away: a
    // billion-vector index is built once and pruned by storage on
    // every query batch, not reassigned per run. The probed-cell
    // driver list is bounded by min(|Q|·nprobe, K) scalars.
    Q("q99g_persisted_ivf", ivfAnnOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.ivfPersistedSearch(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 20), "vec_id", "embedding",
        e.filter(col("vec_id").isin(ivfCentroidIds: _*)), "vec_id",
        "embedding",
        indexPath = IO.scratch("q99g_ivf_index", dir),
        nprobe = 2, k = 3))
    },

    // Q99h (beyond-survey) — INCREMENTAL index maintenance
    // ([[graft.Engine.appendIvfIndex]]): the index is built from 90% of
    // the corpus, the remaining tenth arrives as a delta batch appended
    // into the existing cell directories with the SAME centroid set
    // (the real production constraint — moving centroids is a rebuild,
    // not an append), and the search result must be IDENTICAL to a
    // fresh build over the union: same oracle as q99b/q99g. This is
    // the nightly-ingest path — appending 0.1% of a billion-vector
    // index must not rewrite the other 99.9%.
    Q("q99h_index_append", ivfAnnOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id").isin(ivfCentroidIds: _*))
      val path = IO.scratch("q99h_ivf_index", dir)
      graft.Engine.buildIvfIndex(e.filter(col("vec_id") % 10 =!= 3),
        "vec_id", "embedding", cents, "vec_id", "embedding", path)
      graft.Engine.appendIvfIndex(e.filter(col("vec_id") % 10 === 3),
        "vec_id", "embedding", cents, "vec_id", "embedding", path)
      orderAll(graft.Engine.searchIvfIndex(
        e.filter(col("vec_id") < 20), "vec_id", "embedding",
        cents, "vec_id", "embedding", path, nprobe = 2, k = 3))
    },

    // Q99i (beyond-survey) — ANN RECALL EVALUATION as a registered
    // operator, not a dev script: every production ANN deployment ships
    // the job that measures what its index actually recalls (the
    // "measure, don't guess" discipline of the RECALL.json ledger,
    // promoted to the query surface). The approximate side is the q99
    // multi-table LSH plan; ground truth is the q92 exact plan over the
    // SAME bounded query sample; recall@3 is one lean (query_id,
    // vec_id) left join + count — all integers through one IEEE
    // divide, bit-deterministic. At 100 TB the eval runs on a sampled
    // query set (here: the same bounded probe set both plans already
    // share), so the exact side's brute-force cost is |sample|·N — a
    // monitoring job, not a serving path; the oracle replays BOTH
    // pipelines as CTEs of one query, so the measured recall is itself
    // hash-gated.
    Q("q99i_ann_recall", annRecallOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 20)
      val ap = graft.Engine.lshTopK(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("vec_id"), lit(1).as("__hit"))
      val gt = graft.Engine.cosineTopK(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("vec_id"))
      orderAll(gt.join(ap, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_true"), count(col("__hit")).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_true"), 6)))
    },

    // Q99i_b (beyond-survey) — the q99i recall evaluation pointed at the
    // HYPERPLANE family ([[graft.Engine.lshTopKHyper]], the q99f plan):
    // the multi-table hyperplane index was measured at recall 0.93@32t
    // where the dim-capped q99 family plateaus at 0.55 — this row keeps
    // that headline claim continuously verified under the same
    // oracle-CTE discipline (approx and exact pipelines replayed as CTEs
    // of one query, so the measured recall is itself hash-gated), at
    // q99f's registered 8-table configuration.
    Q("q99i_b_hyper_recall", hyperRecallOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 20)
      val bits = graft.Engine.annBits(e.count(), targetBucket = 32,
        maxBits = 16)
      val ap = graft.Engine.lshTopKHyper(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 3, tables = 8, bits = bits)
        .select(col("query_id"), col("vec_id"), lit(1).as("__hit"))
      val gt = graft.Engine.cosineTopK(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("vec_id"))
      orderAll(gt.join(ap, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_true"), count(col("__hit")).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_true"), 6)))
    },

    // Q99l (beyond-survey) — graded RANKING METRICS
    // ([[graft.Engine.rankingMetrics]]): per-query NDCG and MRR of a
    // degraded retrieval against the exact ranking — the recall gates
    // (q99i/q99i_b) ask "how many of the true top-k came back", NDCG
    // asks "and in how good an order", MRR "how soon is the first true
    // hit". The measured pair here is Matryoshka-style dimension
    // truncation: cosine top-10 over the FIRST 16 of 32 dims scored
    // against the full-dim exact top-10 (graded rel = 11 − true rank).
    // The metric pass is two top-k-sized joins + keyed aggregates —
    // nothing next to the retrieval that feeds it; DCG terms round to
    // 6 dp and sum on DECIMAL(38,6) (order-free), log2 runs on the
    // integer grid pos+1 ≤ 11 where engines agree, MRR is one IEEE
    // divide.
    Q("q99l_ranking_metrics", rankingMetricsOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 8)
      def ranked(dims: Option[Int]) = {
        val ec = dims.map(d => slice(col("embedding"), 1, d))
          .getOrElse(col("embedding"))
        val scored = e.select(col("vec_id").as("__i"), ec.as("__e"))
          .crossJoin(broadcast(
            qs.select(col("vec_id").as("__q"), ec.as("__qe"))))
          .filter(col("__i") =!= col("__q"))
          .select(col("__q"), col("__i"),
            graft.Engine.cosine(col("__qe"), col("__e")).as("__s"))
        graft.Engine.topKWithin(scored, "__q",
            Seq(col("__s").desc, col("__i").asc), 10)
          .select(col("__q").as("qid"), col("__i").as("item"),
            col("rnk"))
      }
      orderAll(graft.Engine.rankingMetrics(
        ranked(Some(16)), ranked(None), "qid", "item", "rnk"))
    },

    // Q99j (beyond-survey) — TOMBSTONE DELETES on the persisted IVF
    // index ([[graft.Engine.deleteFromIvfIndex]] +
    // [[graft.Engine.searchIvfIndexLive]]): the other half of index
    // maintenance q99h's append started. Deleted ids land in an
    // underscore-prefixed `_tombstones` directory Spark's file listing
    // hides from the index's own scan, and the serve path anti-joins
    // them out of the probed candidates BEFORE ranking — so
    // replacements rise into the top-k and the result is IDENTICAL to
    // a fresh build over the corpus minus the deleted tenth (the
    // oracle applies exactly that filter to its cells CTE; a rebuild —
    // which also clears tombstones — is the offline compaction, not
    // the delete path). Deleting 0.1% of a billion-vector index must
    // not rewrite the other 99.9%.
    Q("q99j_index_delete", ivfAnnOracleSqlWhere("vec_id % 10 <> 3")) {
      (s, dir) =>
        val e = Tables.t(s, dir, "embeddings")
        val cents = e.filter(col("vec_id").isin(ivfCentroidIds: _*))
        val path = IO.scratch("q99j_ivf_index", dir)
        graft.Engine.buildIvfIndex(e, "vec_id", "embedding",
          cents, "vec_id", "embedding", path)
        graft.Engine.deleteFromIvfIndex(
          e.filter(col("vec_id") % 10 === 3), "vec_id", path)
        orderAll(graft.Engine.searchIvfIndexLive(
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          cents, "vec_id", "embedding", path, nprobe = 2, k = 3))
    },

    // Q99k (beyond-survey) — METADATA-FILTERED vector search
    // ([[graft.Engine.searchIvfIndexWhere]]): top-k among only the
    // indexed vectors with label=1 — the "nearest docs WHERE lang='en'
    // AND license='ok'" query every retrieval deployment needs. The
    // index is built carrying the label beside the vector
    // (buildIvfIndex meta=…), so the predicate lands on the PRUNED
    // index scan (parquet row-group pruning under the partition
    // pruning) and filtering happens before a single candidate is
    // scored — post-filtering a ranked top-k silently under-fills k
    // instead. The oracle applies the identical label filter to its
    // cells CTE: filtered serve ≡ fresh build over the filtered
    // corpus' cell contents, with the SAME cell assignment as the
    // unfiltered index (cells depend only on centroids).
    Q("q99k_filtered_ann", ivfAnnOracleSqlWhere("label = 1")) {
      (s, dir) =>
        val e = Tables.t(s, dir, "embeddings")
        val cents = e.filter(col("vec_id").isin(ivfCentroidIds: _*))
        val path = IO.scratch("q99k_ivf_index", dir)
        graft.Engine.buildIvfIndex(e, "vec_id", "embedding",
          cents, "vec_id", "embedding", path, meta = Seq("label"))
        orderAll(graft.Engine.searchIvfIndexWhere(
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          cents, "vec_id", "embedding", path, nprobe = 2, k = 3,
          predicate = col("label") === 1))
    },

    // Q92i (beyond-survey) — PRODUCT-QUANTIZATION encode: each 64-dim
    // embedding becomes 8 sub-vector codes (nearest codebook entry per
    // block, squared L2, decimal-exact, id tiebreak) — the library
    // operator [[graft.Engine.pqEncode]], the compression half of an
    // IVF-PQ index (~32× footprint cut; what makes billion-vector
    // search RAM-resident). The codebook here is the Q99b seed set —
    // a bootstrap, exactly like q99b's coarse quantizer; production
    // would feed [[graft.Engine.kmeansRefine]] output per block.
    Q("q92i_pq_codes", pqCodesOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.pqEncode(e, "vec_id", "embedding",
        e.filter(col("vec_id").isin(ivfCentroidIds: _*)),
        "vec_id", "embedding", blocks = 8))
    },

    // Q92s (beyond-survey) — PQ QUANTIZATION-DISTORTION audit
    // ([[graft.Engine.pqDistortion]]): the one-row encode-error
    // distribution (mean/p50/p95/max of Σ_blocks ‖sub−centroid‖²) of
    // the q92i codebook — the LOSSINESS companion to q99i's recall
    // gate: recall says "did the right ids surface", this says "how
    // far are the codes from the floats", and it moves FIRST when a
    // codebook stops fitting (embedding drift, wrong K, wrong block
    // split). Same decimal-exact block kernel as the encoder; cost is
    // the encode pass + a 1-row reduce; percentile ≡ quantile_cont
    // (the q38 parity).
    Q("q92s_pq_distortion",
      s"""WITH $pqDistCtes,
         |err AS (SELECT c.vec_id,
         |    CAST(sum(CAST(d.dd AS DECIMAL(38,6))) AS DOUBLE) AS dist
         |  FROM codes c JOIN dist d ON d.vec_id = c.vec_id
         |    AND d.blk = c.blk AND d.cid = c.code
         |  GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         |  round(CAST(sum(CAST(dist AS DECIMAL(38,6))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS mean_dist,
         |  round(quantile_cont(dist, 0.5), 6) AS p50_dist,
         |  round(quantile_cont(dist, 0.95), 6) AS p95_dist,
         |  round(max(dist), 6) AS max_dist
         |FROM err
         |ORDER BY n_vecs NULLS FIRST, mean_dist NULLS FIRST,
         |  p50_dist NULLS FIRST, p95_dist NULLS FIRST,
         |  max_dist NULLS FIRST""".stripMargin) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.pqDistortion(e, "vec_id", "embedding",
        e.filter(col("vec_id").isin(ivfCentroidIds: _*)),
        "vec_id", "embedding", blocks = 8))
    },

    // Q99c (beyond-survey) — PQ ASYMMETRIC-DISTANCE (ADC) top-k search
    // over the q92i codes — [[graft.Engine.pqSearch]]: the query builds
    // an (8 blocks × 8 codes) exact-distance LUT against the broadcast
    // codebook, and every corpus vector is scored from its CODES ALONE
    // (broadcast LUT equi-join + decimal sum; the corpus floats are
    // never read again). Completes the repo's ANN stack: q92 exact /
    // q99 LSH / q99b IVF / q99c PQ-ADC. The oracle replays the same
    // arithmetic as CTEs, so the encode→LUT→score→rank chain is
    // hash-gated end to end.
    Q("q99c_pq_ann", pqAnnOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id").isin(ivfCentroidIds: _*))
      val codes = graft.Engine.pqEncode(e, "vec_id", "embedding",
        cents, "vec_id", "embedding", blocks = 8)
      orderAll(graft.Engine.pqSearch(codes,
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        cents, "vec_id", "embedding", blocks = 8, k = 3))
    },

    // Q90b (beyond-survey) — benchmark DECONTAMINATION: flag training
    // documents that share any 8-word n-gram with a held-out benchmark
    // set (here: the stable 5% hash sample, q09's operator — any doc set
    // works). The canonical pre-training hygiene pass (cf. GPT-3 appendix
    // C / PaLM's 13-gram rule; 8 fits this corpus's ~54-word docs).
    // Scale shape: benchmark n-grams are DISTINCT and tiny relative to
    // the corpus (the benchmark is fixed-size while the corpus grows), so
    // the inner join on the n-gram is broadcastable; per-doc aggregation
    // counts distinct shared grams. Never all-pairs, no doc×doc join.
    Q("q90b_decontaminate", decontaminateOracleSql) {
      (s, dir) =>
        orderAll(graft.Engine.decontaminate(Tables.t(s, dir, "documents"),
          col("doc_id"), col("text"),
          graft.Engine.stableSample(col("doc_id"), 5), n = 8))
    },

    // Q90g (beyond-survey) — decontamination behind a BLOOM prefilter:
    // the benchmark n-gram set aggregates into one Bloom sketch
    // (Spark's own BloomFilterAggregate — the q20c runtime-filter
    // machinery invoked explicitly), corpus grams are prefiltered by
    // codegen'd might_contain, and only survivors reach the exact
    // verify join. No false negatives ⇒ the result is IDENTICAL to
    // q90b (same oracle; EngineSpec asserts plan-level equality too).
    // This is the 100 TB shape when the benchmark set outgrows an
    // exact broadcast hash set but its sketch does not: the
    // corpus-sized gram stream drops to the contaminated sliver
    // BEFORE any join.
    Q("q90g_bloom_decontaminate", decontaminateOracleSql) {
      (s, dir) =>
        orderAll(graft.Engine.decontaminateBloom(
          Tables.t(s, dir, "documents"), col("doc_id"), col("text"),
          graft.Engine.stableSample(col("doc_id"), 5), n = 8))
    },

    // Q90h (beyond-survey) — asymmetric CONTAINMENT join: (a, b) pairs
    // where ≥ 80% of a's distinct bigrams appear in b — the subsumed-
    // document detector (quotes, wrapper pages around a shorter
    // original) that symmetric Jaccard structurally misses when
    // |b| ≫ |a|. The library operator [[graft.Engine.containmentJoin]]
    // in its production shape: the incoming BATCH (the q09 stable 5%
    // sample) checked against the standing corpus — bipartite like
    // q90d, because the container side must index every gram (see the
    // operator Scaladoc for why corpus×corpus degenerates on a small-
    // vocabulary corpus). Since r14 the registered path is the BANDED
    // construction ([[graft.Engine.containmentJoinBanded]]): banded
    // MinHash candidates + the same codegen sorted-intersect verify,
    // which erases the exact prefix filter's candidate floor (the
    // 33.5 MB sf1 spill the qio ledger carried through r13). Recall is
    // measured-1.0 here (true pairs at J ≥ 0.9167, miss ~3e-9/pair —
    // see the operator's honesty bound for the asymmetric case the
    // exact path still owns). The oracle is the batch×corpus brute
    // force, so the recall claim stays hash-gated, not prose.
    Q("q90h_containment_join",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |sa AS (SELECT doc_id, sv FROM sh WHERE len(sv) >= 1
         |  AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
         |    AS INT) * 100 < 5 * 65536),
         |exa AS (SELECT doc_id, unnest(sv) AS s FROM sa),
         |exb AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |na AS (SELECT doc_id, len(sv) AS n FROM sa),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM exa a JOIN exb b ON a.s = b.s AND a.doc_id != b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(i AS INT) AS n_shared,
         |  CAST(na.n AS INT) AS n_grams_a
         |FROM inter JOIN na ON na.doc_id = doc_a
         |WHERE i * 100 >= na.n * 80
         |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST,
         |  n_shared NULLS FIRST, n_grams_a NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        orderAll(graft.Engine.containmentJoinBanded(
          docs.filter(graft.Engine.stableSample(col("doc_id"), 5)), docs,
          "doc_id", "text", thresholdPct = 80, ngramWords = 2))
    },

    // Q90x (beyond-survey) — q90h's banded-containment ASYMMETRY AUDIT
    // as DATA ([[graft.Engine.containmentBandingAudit]]): the r15
    // honesty bound went to stderr, where no pipeline can gate on it;
    // this returns the same quantities as a one-row DataFrame over the
    // same contained/container split as q90h. j_full/miss_full bound
    // what asymmetry SPECIFICALLY breaks (the C = 1 wrapper pair at the
    // corpus' size extremes — `fires` keys on it at the 0.1% line);
    // j_qual/miss_qual is the τ-dependent worst QUALIFYING pair (C ≥ t),
    // reported beside it because every LSH scheme carries that window
    // even on uniform corpora. On this fixture the audit FIRES (length
    // spread ~12×) — and q90h stays green anyway, which is exactly the
    // documented posture: a firing corpus is certified by the per-round
    // oracle measurement, not by construction. Determinism: both
    // engines compute the miss probabilities through left-associative
    // double PRODUCT CHAINS, never libm pow (not correctly-rounded —
    // last-ulp drift would hash-mismatch); one FP rounding per step,
    // mirrored spelling on both sides.
    Q("q90x_banding_audit",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |sa AS (SELECT sv FROM sh WHERE len(sv) >= 1
         |  AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
         |    AS INT) * 100 < 5 * 65536),
         |sb AS (SELECT sv FROM sh WHERE len(sv) >= 1),
         |ext AS (SELECT (SELECT min(len(sv)) FROM sa) AS na_min,
         |               (SELECT max(len(sv)) FROM sb) AS nb_max),
         |j AS (SELECT na_min, nb_max,
         |    least(CAST(na_min AS DOUBLE) / nb_max, 1.0) AS j_full,
         |    least(((na_min * 80) / 100.0)
         |      / (na_min + nb_max - (na_min * 80) / 100.0), 1.0)
         |      AS j_qual
         |  FROM ext),
         |m AS (SELECT na_min, nb_max, j_full, j_qual,
         |    1.0 - (j_full * j_full * j_full * j_full) AS mf,
         |    1.0 - (j_qual * j_qual * j_qual * j_qual) AS mq
         |  FROM j)
         |SELECT CAST(na_min AS INT) AS na_min,
         |  CAST(nb_max AS INT) AS nb_max, j_full,
         |  mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf AS miss_full,
         |  j_qual,
         |  mq*mq*mq*mq*mq*mq*mq*mq*mq*mq*mq*mq*mq*mq*mq*mq AS miss_qual,
         |  mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf*mf > 0.001
         |    AS fires
         |FROM m
         |ORDER BY na_min NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      orderAll(graft.Engine.containmentBandingAudit(
        docs.filter(graft.Engine.stableSample(col("doc_id"), 5)), docs,
        "doc_id", "text", thresholdPct = 80, ngramWords = 2))
    },

    // Q90c (beyond-survey) — CHUNK-LEVEL corpus dedup with order-
    // preserving reassembly (the CCNet/RefinedWeb line-dedup pass, over
    // 5-word windows since this corpus has no newlines): only the FIRST
    // corpus-wide occurrence of each distinct chunk survives, and each
    // document is rebuilt from its surviving chunks in order. Delegates
    // to Engine.dedupChunks — first-occurrence is min(struct(id,pos))
    // per chunk (map-side-combined hash agg, skew-safe where the naive
    // window-over-chunk is not; scale rationale at the operator).
    Q("q90c_chunk_dedup",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |c0 AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(0, (len(w) - 1) // 5),
        |    i -> {'pos': i, 'chunk':
        |      array_to_string(w[i * 5 + 1 : i * 5 + 5], ' ')})) AS u
        |  FROM w),
        |c AS (SELECT doc_id, CAST(u.pos AS INT) AS pos, u.chunk AS chunk
        |  FROM c0),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn FROM c)
        |SELECT doc_id, CAST(count(*) AS INT) AS total_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT)
        |    AS kept_chunks,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
        |    ORDER BY pos), '') AS text_dedup
        |FROM r GROUP BY doc_id
        |ORDER BY doc_id NULLS FIRST, total_chunks NULLS FIRST,
        |  kept_chunks NULLS FIRST, text_dedup NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.dedupChunks(
          Tables.t(s, dir, "documents"), "doc_id", "text", chunkWords = 5))
    },

    // Q90d (beyond-survey) — INCREMENTAL dedup: match a NEW batch (docs
    // with id % 5 = 0, standing in for today's crawl) against the
    // STANDING corpus (the rest) and report each new doc's best
    // historical near-duplicate. This is the production dedup shape — a
    // small increment against 100 TB of history — and it must never
    // degenerate into increment×increment or history×history work.
    // Since r15 the registered path is the BANDED construction
    // ([[graft.Engine.minHashJoinAcross]]): banded-MinHash candidates +
    // the same exact sorted-intersect verify. The exact prefix-filter
    // form ([[graft.Engine.jaccardJoinAcross]], recall 1.0 by the
    // prefix-filter theorem, proven bipartite in AlgebraProps) stays a
    // library operator behind the priced refusal gate — its candidate
    // set on a gram-saturated corpus is a THEOREM-BOUND floor (77.7M
    // real candidates / 1.1 GB spill on the 10× fixture, the last sf1
    // spill the qio ledger carried through r14), which no registered
    // bench query should pay when the banded path returns the same
    // verified answer (RECALL.json `dedup_recall` records banded ==
    // exact 100% on this fixture; miss prob (1−J⁴)¹⁶ ≤
    // 1.5e-7 at the fixture's J ≥ 0.889 dup population). The oracle is
    // deliberately EXACT (the batch×history brute force), so the recall
    // claim stays hash-gated per round, not prose — a mismatch on fresh
    // data most likely means a borderline J≈0.6 pair fell in the
    // banding miss window; check the pair's band collisions first.
    // Best match per new doc breaks ties on (jaccard DESC, historical
    // id ASC) over ROUNDED jaccards so both engines rank identical
    // values.
    Q("q90d_incremental_dedup",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS nid, b.doc_id AS hid, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT nid, hid,
         |    round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = nid
         |  JOIN sz sb ON sb.doc_id = hid
         |  WHERE i * 100 >= (sa.n + sb.n - i) * 60),
         |best AS (SELECT nid, hid, jaccard, row_number() OVER (
         |    PARTITION BY nid ORDER BY jaccard DESC, hid ASC) AS rn
         |  FROM pairs)
         |SELECT nid AS doc_id, hid AS dup_of, jaccard
         |FROM best WHERE rn = 1
         |ORDER BY doc_id NULLS FIRST, dup_of NULLS FIRST,
         |  jaccard NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      // broadcastBounded is an explicit OPT-IN here: this call site
      // knows its left side is the bounded increment (the day's batch),
      // so pinning the batch-side band-table broadcast is safe and
      // kills the measured AQE plan-flap; the Engine default stays
      // unpinned for safety.
      val pairs = graft.Engine.minHashJoinAcross(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", thresholdPct = 60, numHashes = 64, bands = 16,
        ngramWords = 2, broadcastBounded = true)
      val w = Window.partitionBy(col("left_id"))
        .orderBy(col("jaccard").desc, col("right_id").asc)
      orderAll(pairs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("left_id").as("doc_id"),
          col("right_id").as("dup_of"), col("jaccard")))
    },

    // Q90m (beyond-survey) — PERSISTED dedup-index lifecycle: the q99h
    // build/append/search discipline applied to the q90d banded-MinHash
    // index. History's banded signatures are built from 90% of the
    // standing corpus (doc_id % 10 ≠ 4 within history), the remaining
    // tenth arrives as a delta APPENDED into the same parquet layout
    // (new files only — appending 0.1% of a 10-billion-doc index must
    // not rewrite the other 99.9%), and probing with the day's batch
    // must return EXACTLY what the in-memory q90d join returns over the
    // full history — same oracle. This is the operational form of the
    // 100 TB claim: the history side is hashed ONCE at ingest, and each
    // day's dedup pass hashes only the batch.
    Q("q90m_dedup_index",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS nid, b.doc_id AS hid, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT nid, hid,
         |    round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = nid
         |  JOIN sz sb ON sb.doc_id = hid
         |  WHERE i * 100 >= (sa.n + sb.n - i) * 60),
         |best AS (SELECT nid, hid, jaccard, row_number() OVER (
         |    PARTITION BY nid ORDER BY jaccard DESC, hid ASC) AS rn
         |  FROM pairs)
         |SELECT nid AS doc_id, hid AS dup_of, jaccard
         |FROM best WHERE rn = 1
         |ORDER BY doc_id NULLS FIRST, dup_of NULLS FIRST,
         |  jaccard NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val hist = docs.filter(col("doc_id") % 5 =!= 0)
      val path = IO.scratch("q90m_dedup_index", dir)
      graft.Engine.buildMinHashIndex(
        hist.filter(col("doc_id") % 10 =!= 4), "doc_id", "text", path)
      graft.Engine.appendMinHashIndex(
        hist.filter(col("doc_id") % 10 === 4), "doc_id", "text", path)
      val pairs = graft.Engine.searchMinHashIndex(
        batch, "doc_id", "text", path, thresholdPct = 60)
      val w = Window.partitionBy(col("left_id"))
        .orderBy(col("jaccard").desc, col("right_id").asc)
      orderAll(pairs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("left_id").as("doc_id"),
          col("right_id").as("dup_of"), col("jaccard")))
    },

    // Q90t (beyond-survey) — dedup-index COMPACTION
    // ([[graft.Engine.compactMinHashIndex]]): the maintenance half of
    // the q90m lifecycle — every append lands a small-file wave, so a
    // long-lived index accumulates files; compaction rewrites both
    // tables HASH-CLUSTERED on their keys (the bucketed index's
    // placement) behind a two-rename swap that the next compaction
    // rolls forward or back after a crash (the A16 discipline). Rows are
    // untouched, so the oracle is q90m's probe VERBATIM — the hash
    // match proves compaction is invisible to results while the spec
    // proves the file count actually shrank.
    Q("q90t_index_compaction",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS nid, b.doc_id AS hid, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT nid, hid,
         |    round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = nid
         |  JOIN sz sb ON sb.doc_id = hid
         |  WHERE i * 100 >= (sa.n + sb.n - i) * 60),
         |best AS (SELECT nid, hid, jaccard, row_number() OVER (
         |    PARTITION BY nid ORDER BY jaccard DESC, hid ASC) AS rn
         |  FROM pairs)
         |SELECT nid AS doc_id, hid AS dup_of, jaccard
         |FROM best WHERE rn = 1
         |ORDER BY doc_id NULLS FIRST, dup_of NULLS FIRST,
         |  jaccard NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val hist = docs.filter(col("doc_id") % 5 =!= 0)
      val path = IO.scratch("q90t_index_compaction", dir)
      // one append wave on top of the build — the small-file
      // accumulation compaction exists for
      graft.Engine.buildMinHashIndex(
        hist.filter(col("doc_id") % 10 =!= 4), "doc_id", "text", path)
      graft.Engine.appendMinHashIndex(
        hist.filter(col("doc_id") % 10 === 4), "doc_id", "text", path)
      graft.Engine.compactMinHashIndex(s, path)
      val pairs = graft.Engine.searchMinHashIndex(
        batch, "doc_id", "text", path, thresholdPct = 60)
      val w = Window.partitionBy(col("left_id"))
        .orderBy(col("jaccard").desc, col("right_id").asc)
      orderAll(pairs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("left_id").as("doc_id"),
          col("right_id").as("dup_of"), col("jaccard")))
    },

    // Q90r (beyond-survey) — persisted CHUNK-HASH index + batch
    // NOVELTY probe ([[graft.Engine.buildChunkIndex]] /
    // [[chunkNovelty]]): the q90m incremental-dedup discipline at CHUNK
    // grain — history's content-defined chunk digests (q90o's boundary
    // rule, shared code) live once in a digest-sorted index; probing a
    // new batch answers "how many of this batch's BYTES are actually
    // new" per document, the number an incremental crawl ingest
    // budgets on (a doc-grain near-dup pass cannot see a page that is
    // 95% already-stored boilerplate paragraphs). Plan: batch chunks
    // built in-row, one digest equi-join against the unique-hash index
    // (no fanout), one per-doc aggregate — history text is never read.
    Q("q90r_chunk_novelty",
      """WITH st AS (
        |  SELECT doc_id, text,
        |    [1] || [i FOR i IN generate_series(2, len(text) - 15)
        |      IF list_reduce(list_transform(range(0,16),
        |             k -> CAST(ascii(text[i+k]) AS BIGINT)),
        |           (a,b) -> (a*257+b) % 1000000007) % 16 = 0] AS starts
        |  FROM documents),
        |ex AS (SELECT doc_id, text, unnest(starts) AS s FROM st),
        |ch AS (SELECT doc_id,
        |    substr(text, s, coalesce(lead(s) OVER (
        |      PARTITION BY doc_id ORDER BY s), len(text) + 1) - s)
        |      AS chunk
        |  FROM ex),
        |hist AS (SELECT DISTINCT md5(chunk) AS h FROM ch
        |  WHERE doc_id % 5 <> 0),
        |b AS (SELECT doc_id, md5(chunk) AS h, len(chunk) AS l FROM ch
        |  WHERE doc_id % 5 = 0)
        |SELECT b.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN hist.h IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(sum(l) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN hist.h IS NULL THEN l ELSE 0 END)
        |    AS BIGINT) AS novel_chars,
        |  CASE WHEN sum(l) > 0 THEN round(CAST(sum(CASE WHEN hist.h
        |    IS NULL THEN l ELSE 0 END) AS DOUBLE) / sum(l), 6)
        |    END AS novel_ratio
        |FROM b LEFT JOIN hist ON b.h = hist.h
        |GROUP BY 1
        |ORDER BY doc_id NULLS FIRST, n_chunks NULLS FIRST,
        |  n_novel NULLS FIRST, total_chars NULLS FIRST,
        |  novel_chars NULLS FIRST, novel_ratio NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        val path = IO.scratch("q90r_chunk_index", dir)
        graft.Engine.buildChunkIndex(
          docs.filter(col("doc_id") % 5 =!= 0), col("doc_id"),
          col("text"), path)
        orderAll(graft.Engine.chunkNovelty(
          docs.filter(col("doc_id") % 5 === 0), col("doc_id"),
          col("text"), path))
    },

    // Q90s (beyond-survey) — SPLIT-LEAKAGE audit
    // ([[graft.Engine.splitLeakage]]): near-dup pairs (J ≥ 0.6 on word
    // bigrams, banded generation + exact verification) whose endpoints
    // landed in DIFFERENT splits of the q09e deterministic md5
    // assignment — the eval-set honesty check a doc-count split
    // integrity audit cannot perform: a test doc with a J=0.96 twin in
    // train turns its eval score into a memorization measurement (this
    // corpus has 9 such pairs at sf0.01 — the audit finding real
    // leaks). Oracle is the exact all-pairs join + the same split rule;
    // q90d's banding-miss triage note applies, and because a missed
    // pair here is a missed LEAK, borderline corpora should pass
    // bands=32 (the RECALL.json boundary guidance).
    Q("q90s_split_leakage",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS xid, b.doc_id AS yid, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT xid, yid,
         |    round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = xid
         |  JOIN sz sb ON sb.doc_id = yid
         |  WHERE i * 100 >= (sa.n + sb.n - i) * 60),
         |sp AS (SELECT doc_id,
         |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |        1, 4) AS INT) * 100 < 80 * 65536 THEN 'train'
         |      WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |        1, 4) AS INT) * 100 < 90 * 65536 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM documents)
         |SELECT xid AS doc_a, yid AS doc_b, jaccard,
         |  pa.split AS split_a, pb.split AS split_b
         |FROM pr
         |JOIN sp pa ON pa.doc_id = xid
         |JOIN sp pb ON pb.doc_id = yid
         |WHERE pa.split <> pb.split
         |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST,
         |  jaccard NULLS FIRST, split_a NULLS FIRST,
         |  split_b NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("int")
      val split = when(h * 100 < 80 * 65536, "train")
        .when(h * 100 < 90 * 65536, "val").otherwise("test")
      orderAll(graft.Engine.splitLeakage(docs, "doc_id", "text", split,
        thresholdPct = 60, ngramWords = 2))
    },

    // Q90q (beyond-survey) — BUCKETED-CATALOG dedup index probe
    // ([[graft.Engine.buildMinHashIndexBucketed]] /
    // [[searchMinHashIndexBucketed]]): q90m's zero-exchange-history
    // story, promoted from a Scaladoc note to a plan property. Both
    // history tables are bucketBy().saveAsTable catalog tables (bands
    // on the probe key, docs on doc_id), appends route new files into
    // their buckets (full q90m lifecycle), and a batch probe exchanges
    // NOTHING on the history side — the bands probe streams history
    // through the broadcast-batch join and the verify attach reads doc
    // buckets already clustered on the join key (PlanSpec asserts no
    // ShuffleExchange above a history scan, broadcasts disabled). At a
    // 10-billion-doc history this is reading ~10 TB of signatures in
    // place per daily batch instead of re-shuffling them. Same oracle
    // as q90d/q90m: the probe must return exactly what the in-memory
    // join over (batch, full history) returns.
    Q("q90q_bucketed_index",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS nid, b.doc_id AS hid, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT nid, hid,
         |    round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = nid
         |  JOIN sz sb ON sb.doc_id = hid
         |  WHERE i * 100 >= (sa.n + sb.n - i) * 60),
         |best AS (SELECT nid, hid, jaccard, row_number() OVER (
         |    PARTITION BY nid ORDER BY jaccard DESC, hid ASC) AS rn
         |  FROM pairs)
         |SELECT nid AS doc_id, hid AS dup_of, jaccard
         |FROM best WHERE rn = 1
         |ORDER BY doc_id NULLS FIRST, dup_of NULLS FIRST,
         |  jaccard NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val hist = docs.filter(col("doc_id") % 5 =!= 0)
      // same lifecycle as q90m: 90% of history builds the tables, the
      // remaining tenth APPENDS (new files routed into their buckets —
      // the clustering contract survives the append)
      graft.Engine.buildMinHashIndexBucketed(
        hist.filter(col("doc_id") % 10 =!= 4), "doc_id", "text",
        "q90q_idx")
      graft.Engine.appendMinHashIndexBucketed(
        hist.filter(col("doc_id") % 10 === 4), "doc_id", "text",
        "q90q_idx")
      val pairs = graft.Engine.searchMinHashIndexBucketed(
        batch, "doc_id", "text", "q90q_idx", thresholdPct = 60)
      val w = Window.partitionBy(col("left_id"))
        .orderBy(col("jaccard").desc, col("right_id").asc)
      orderAll(pairs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("left_id").as("doc_id"),
          col("right_id").as("dup_of"), col("jaccard")))
    },

    // Q90n (beyond-survey) — ONLINE dedup INGEST (Engine.dedupIngest):
    // the loop the persisted index exists for — batches arrive in order
    // (here doc_id % 4 as the slot), each batch probes the accumulated
    // index of every EARLIER SURVIVOR, non-duplicates are kept and
    // appended into the index, duplicates never enter it. Greedy
    // earliest-wins semantics (A~B, B~C, A≁C ⇒ B drops, C survives —
    // dropping C would over-delete through a non-surviving middleman);
    // the oracle unrolls the four slots as CTEs: sₖ = batch-k docs with
    // no τ≥0.6 pair into s₀∪…∪sₖ₋₁. Per-slot cost is O(batch) +
    // O(collisions) — history is never re-hashed — which is what lets
    // the loop run forever at 100 TB accumulated history. Same banding
    // triage note as q90d. Within-batch dups are out of scope by
    // contract (route same-slot dedup through q90/q91 first).
    Q("q90n_dedup_ingest", dedupIngestOracleSql) {
      (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        val path = IO.scratch("q90n_dedup_ingest", dir)
        orderAll(graft.Engine.dedupIngest(docs, "doc_id", "text",
          col("doc_id") % 4, path, thresholdPct = 60))
    },

    // Q90y (beyond-survey) — the ingest loop over the BUCKETED index
    // ([[graft.Engine.dedupIngestBucketed]]): q90n's greedy
    // earliest-wins loop with the probe routed through
    // searchMinHashIndexBucketed, so the history side's exchange-free
    // probe is a PLAN GUARANTEE (PlanSpec pins it surviving per-slot
    // appends) instead of an optimizer outcome — INGEST_PROFILE.json
    // (the per-slot ledger; the traced `dedup_ingest` benchmark
    // reports the same per-backend costs) measured the path-based
    // loop's probe shuffle already FLAT at this scale because the
    // bounded candidate set is broadcast, which holds exactly until a
    // dup-burst batch overflows the broadcast gate and the fallback
    // shuffles a 10-billion-doc history's grams instead. The profile
    // also prices this form's
    // maintenance honestly: one file per bucket per append grows probe
    // wall ~3x across 31 appends (file-count overhead), which the q90t
    // compaction cadence resets. Result-identical to q90n by the
    // shared probe body (same hash family, same verify kernel — the
    // oracle is the SAME exact brute-force chain). The two
    // registrations differ in CONSTRUCTION (catalog bucketBy tables vs
    // path parquet), the q90m/q90q precedent.
    Q("q90y_ingest_bucketed", dedupIngestOracleSql) {
      (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        val path = IO.scratch("q90y_ingest_bucketed", dir)
        orderAll(graft.Engine.dedupIngestBucketed(docs, "doc_id", "text",
          col("doc_id") % 4, path, table = "q90y_ingest_idx",
          thresholdPct = 60))
    },

    // Q90u (beyond-survey) — TIME-TRAVEL read of the dedup-ingest
    // ledger ([[graft.Engine.survivorsAsOf]]): the survivor set AS OF
    // ingest batch 2 of q90n's 4-slot run — exactly what accepted/
    // held after that slot committed, because each slot materialized
    // its survivors into an own batch=<b> partition at its
    // point-in-time index state and later slots never rewrite it.
    // Snapshot isolation bought by the append-only layout rather than
    // a transaction log: the as-of filter prunes PARTITIONS at
    // planning time (PlanSpec asserts batch=3 is never listed), so an
    // as-of read of a 10-year ledger touches only the requested slots'
    // files. Oracle: q90n's greedy ingest chain truncated after slot 2
    // — the as-of semantics ("history as it was", not "current
    // survivors restricted to old batches") falls out identically for
    // this chain because acceptance depends only on EARLIER slots.
    Q("q90u_survivors_asof",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS xid, b.doc_id AS yid, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s
         |  WHERE (a.doc_id % 4) < (b.doc_id % 4)
         |  GROUP BY 1, 2),
         |pr AS (
         |  SELECT xid, yid FROM inter
         |  JOIN sz sa ON sa.doc_id = xid
         |  JOIN sz sb ON sb.doc_id = yid
         |  WHERE i * 100 >= (sa.n + sb.n - i) * 60),
         |s0 AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
         |s1 AS (SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 1
         |  AND NOT EXISTS (SELECT 1 FROM pr, s0
         |    WHERE pr.xid = s0.doc_id AND pr.yid = d.doc_id)),
         |s2 AS (SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 2
         |  AND NOT EXISTS (SELECT 1 FROM pr
         |    WHERE pr.xid IN (SELECT doc_id FROM s0
         |      UNION ALL SELECT doc_id FROM s1)
         |      AND pr.yid = d.doc_id))
         |SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS batch FROM (
         |  SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1
         |  UNION ALL SELECT doc_id FROM s2)
         |ORDER BY doc_id NULLS FIRST, batch NULLS FIRST""".stripMargin) {
      (s, dir) =>
        // the 4-slot ingest builds ONCE per session (shared fixture
        // cache) — this row measures the partition-pruned as-of READ,
        // the operator under test, not its fixture's construction
        orderAll(graft.Engine.survivorsAsOf(s, q90uLedger(s, dir),
            maxBatch = 2)
          .select(col("doc_id"), col("batch").cast("long").as("batch")))
    },

    // Q90v (beyond-survey) — dedup COST PRE-AUDIT
    // ([[graft.Engine.dedupCostAudit]]): the exact all-pairs candidate
    // count of the gram-join dedup pass — Σ_g df(g)·(df(g)−1)/2 — plus
    // the heaviest gram, priced from ONE cheap gram-frequency aggregate
    // BEFORE any pair is generated. This is the number that decides the
    // exact-vs-banded cutover (exact jaccardJoinAcross vs the banded q90d): q90p's 2.6 GB sf1 flood
    // was exactly this quantity, discovered by running the join instead
    // of reading it. The q20e join-audit discipline applied to dedup.
    // Decimal fold inside (a 2M-doc gram overflows Long in the
    // product), BIGINT readout.
    Q("q90v_dedup_cost",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |d AS (SELECT doc_id, sv FROM sh WHERE len(sv) >= 1),
         |ex AS (SELECT doc_id, unnest(sv) AS g FROM d),
         |dfv AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
         |tot AS (SELECT count(*) AS n_grams,
         |    CAST(sum((CAST(df AS HUGEINT) * (df - 1)) // 2) AS BIGINT)
         |      AS candidate_pairs,
         |    max(df) AS top_df FROM dfv),
         |tg AS (SELECT min(g) AS top_gram FROM dfv, tot
         |  WHERE df = top_df),
         |nd AS (SELECT count(*) AS n_docs FROM d)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_grams AS BIGINT) AS n_grams, candidate_pairs,
         |  top_gram, CAST(top_df AS BIGINT) AS top_df,
         |  round(CAST(candidate_pairs AS DOUBLE)
         |    / CAST(n_docs AS DOUBLE), 6) AS pairs_per_doc
         |FROM nd, tot, tg
         |ORDER BY n_docs NULLS FIRST, n_grams NULLS FIRST,
         |  candidate_pairs NULLS FIRST, top_gram NULLS FIRST,
         |  top_df NULLS FIRST, pairs_per_doc NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.dedupCostAudit(
          Tables.t(s, dir, "documents"), col("doc_id"), col("text")))
    },

    // Q90o (beyond-survey) — CONTENT-DEFINED chunk dedup
    // ([[graft.Engine.cdcChunkDedup]], the FastCDC/rsync idea as a
    // query): q90c keys chunks by fixed offsets, so one insertion
    // re-keys every chunk after it; here a boundary opens wherever the
    // base-257 polynomial rolling hash (mod 1e9+7) of the 16-char gram
    // is ≡ 0 mod 16 (p=1/16 → ~16-char expected chunks) — boundaries
    // depend only on LOCAL content, so edits shift only the chunks they
    // touch. The hash is a [[graft.plans.CdcBoundaries]] codegen
    // expression (one multiply-add per char for ALL boundaries); the
    // oracle folds the identical recurrence per position via
    // list_reduce, bit-equal on ASCII/BMP text. Chunks are built
    // IN-ROW (boundaries zipped with their own shifted slice — the
    // q93o pattern), so the ONLY exchange is the chunk-hash aggregate
    // and no document text is ever shuffled. Output is the
    // cross-document duplicated-chunk table (bounded by distinct
    // shared chunks, never pairs). At 100 TB this is the storage-dedup
    // half of the q90e substring family: same corpus-sized gram pass,
    // chunk-grain instead of span-grain.
    Q("q90o_cdc_chunks",
      """WITH st AS (
        |  SELECT doc_id, text,
        |    [1] || [i FOR i IN generate_series(2, len(text) - 15)
        |      IF list_reduce(list_transform(range(0,16),
        |             k -> CAST(ascii(text[i+k]) AS BIGINT)),
        |           (a,b) -> (a*257+b) % 1000000007) % 16 = 0] AS starts
        |  FROM documents),
        |ex AS (SELECT doc_id, text, unnest(starts) AS s FROM st),
        |ch AS (SELECT doc_id,
        |    substr(text, s, coalesce(lead(s) OVER (
        |      PARTITION BY doc_id ORDER BY s), len(text) + 1) - s)
        |      AS chunk
        |  FROM ex)
        |SELECT md5(chunk) AS chunk_hash,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occ,
        |  CAST(min(len(chunk)) AS INT) AS chunk_len
        |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY chunk_hash NULLS FIRST, n_docs NULLS FIRST,
        |  n_occ NULLS FIRST, chunk_len NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.cdcChunkDedup(
            Tables.t(s, dir, "documents"), col("doc_id"), col("text"),
            window = 16)
          .select(col("chunk_hash"), col("n_docs"), col("n_occ"),
            col("chunk_len").cast("int").as("chunk_len")))
    },

    // Q90p (beyond-survey) — cross-source near-DUPLICATION MATRIX
    // ([[graft.Engine.dupSourceMatrix]]): the dedup pass's pair list
    // rolled up per unordered source pair — "which feeds are
    // re-publishing which" (mirror sites, syndication, self-dup on
    // the diagonal), the report that turns a near-dup run into a
    // crawl-policy decision. Pair generation rides the BANDED-MinHash
    // scale path ([[graft.Engine.minHashNearDups]], 64×16 banding +
    // exact verification, J ≥ 0.6 on word bigrams) — the measured q90d
    // exit, after the exact prefix-filter join flooded at sf1; the
    // rollup is two id-keyed equi-joins to attach sources plus one
    // aggregate bounded by |sources|². The oracle stays the exact
    // all-pairs join, so a hash mismatch on fresh data most likely
    // means banding missed a true pair near the τ boundary (~0.11
    // per-pair miss at J=0.6 under 16×4) — check that pair's Jaccard
    // before suspecting the rollup (q90d's triage note applies).
    Q("q90p_dup_matrix",
      s"""WITH sh AS (SELECT doc_id, source, $bigramsSql AS sv
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
         |sz AS (SELECT doc_id, len(sv) AS n, source FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS xid, b.doc_id AS yid, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT sa.source AS s_a, sb.source AS s_b
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = xid
         |  JOIN sz sb ON sb.doc_id = yid
         |  WHERE i * 100 >= (sa.n + sb.n - i) * 60)
         |SELECT least(s_a, s_b) AS source_a,
         |  greatest(s_a, s_b) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr GROUP BY 1, 2
         |ORDER BY source_a NULLS FIRST, source_b NULLS FIRST,
         |  n_pairs NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.dupSourceMatrix(
        Tables.t(s, dir, "documents"), "doc_id", "text", "source",
        thresholdPct = 60, ngramWords = 2))
    },

    // Q90e (beyond-survey) — duplicated-SUBSTRING spans (the exact
    // substring-dedup pass of Lee et al. 2022: report every maximal
    // token span whose 8-gram windows all occur elsewhere in the
    // corpus, so a scrubber can cut the span, not the document).
    // Positional 8-grams via the zip-slice kernel (one linear pass per
    // row), one partial-aggregated groupBy to find grams with corpus
    // count > 1, a semi-join back to positions, then per-doc island
    // merge (gap ≤ n ⇒ overlapping/contiguous duplicated text) under
    // doc-partitioned windows. At 100 TB the gram shuffle is the
    // corpus-sized cost any substring dedup pays; ship 64-bit gram
    // fingerprints instead of strings (same plan, ~10× less shuffle
    // volume, collision probability ≈ N²/2⁶⁴ — audit on the matched
    // spans if that matters).
    Q("q90e_dup_spans",
      s"""$dupSpanCtes
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS n_tokens
         |FROM spans
         |ORDER BY doc_id NULLS FIRST, span_start NULLS FIRST,
         |  span_end NULLS FIRST, n_tokens NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.dupSpans(
          Tables.t(s, dir, "documents"), "doc_id", "text", n = 8))
    },

    // Q90f (beyond-survey) — span SCRUBBING: the apply step of exact
    // substring dedup — cut every q90e duplicated span out of the text,
    // keeping the rest in original order (the reference rewrite Lee et
    // al. recommend over whole-document dropping, which loses the
    // unique remainder). The span table is tiny relative to the corpus
    // (only duplicated regions); it explodes to a (doc, pos) drop set,
    // anti-joins the positional tokens — both shuffles doc-keyed — and
    // reassembly sorts only inside each doc's collected array (the q93e
    // kernel). Docs scrubbed to nothing drop out, same as a filter.
    Q("q90f_scrub_spans",
      s"""$dupSpanCtes,
         |dp AS (SELECT DISTINCT doc_id, CAST(j AS INT) AS i FROM spans
         |  CROSS JOIN unnest(generate_series(span_start, span_end))
         |    AS v(j)),
         |tok AS (SELECT doc_id, CAST(i AS INT) AS i, w[i] AS tok
         |  FROM t CROSS JOIN unnest(generate_series(1, len(w))) AS u2(i)),
         |kept AS (SELECT tok.doc_id, tok.i, tok.tok FROM tok
         |  LEFT JOIN dp ON tok.doc_id = dp.doc_id AND tok.i = dp.i
         |  WHERE dp.i IS NULL)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
         |  string_agg(tok, ' ' ORDER BY i) AS clean_text
         |FROM kept GROUP BY doc_id
         |ORDER BY doc_id NULLS FIRST, n_kept NULLS FIRST,
         |  clean_text NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      orderAll(graft.Engine.scrubSpans(docs, "doc_id", "text",
        graft.Engine.dupSpans(docs, "doc_id", "text", n = 8)))
    },

    // Q93d (beyond-survey) — SEQUENCE PACKING: assign documents to
    // 512-token context windows per source shard (the batch-prep pass
    // between curation and training), via Engine.packSequences. The
    // running token count is a window PARTITIONED BY the shard — real
    // packers work per input shard, which is also exactly what avoids
    // the single-partition global-window cliff at 100 TB. Token count =
    // whitespace tokens (the q93b BPE-ish count composes the same way).
    Q("q93d_pack_sequences",
      """WITH d AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |s AS (SELECT source, nt,
        |  sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt
        |    AS start FROM d)
        |SELECT source AS shard, CAST(start // 512 AS INT) AS seq_id,
        |  CAST(count(*) AS INT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM s GROUP BY 1, 2
        |ORDER BY shard NULLS FIRST, seq_id NULLS FIRST,
        |  n_docs NULLS FIRST, n_tokens NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.packSequences(Tables.t(s, dir, "documents"),
          col("source"), col("doc_id"),
          size(split(col("text"), " ")), capTokens = 512))
    },

    // Q100 (beyond-survey) — the CURATION PIPELINE capstone: quality
    // filter (q95's rule) → language filter → exact-dedup keeper
    // selection (q90's digest grouping) → sequence packing (q93d), all
    // COMPOSED INTO ONE PLAN — proving the library operators chain the
    // way a real corpus-prep job runs them, with Catalyst fusing the
    // per-row stages into the scan and the whole thing oracle-checked
    // end to end. Shuffles: one on the text digest (dedup), one on the
    // shard (packing) — nothing else survives to the exchange level.
    Q("q100_curation_pipeline",
      """WITH t AS (SELECT doc_id, source, text,
        |    string_split(text, ' ') AS w, length(text) AS nc
        |  FROM documents WHERE lang = 'en'),
        |q AS (SELECT * FROM t WHERE len(w) BETWEEN 20 AND 200
        |  AND CAST(nc AS DOUBLE) / len(w) BETWEEN 3 AND 8),
        |k AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text))
        |    AS keeper FROM q),
        |d AS (SELECT source, doc_id, CAST(len(w) AS BIGINT) AS nt
        |  FROM k WHERE doc_id = keeper),
        |s AS (SELECT source, nt,
        |  sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt
        |    AS start FROM d)
        |SELECT source AS shard, CAST(start // 512 AS INT) AS seq_id,
        |  CAST(count(*) AS INT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM s GROUP BY 1, 2
        |ORDER BY shard NULLS FIRST, seq_id NULLS FIRST,
        |  n_docs NULLS FIRST, n_tokens NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val w = split(col("text"), " ")
        val cpt = length(col("text")).cast(DoubleType) / size(w)
        val filtered = Tables.t(s, dir, "documents")
          .filter(col("lang") === "en" &&
            size(w).between(20, 200) && cpt.between(3, 8))
        val firsts = filtered
          .groupBy(md5(col("text")).as("__h"))
          .agg(min(col("doc_id")).as("__keep"))
        val keepers = filtered.join(firsts,
          md5(col("text")) === col("__h") &&
            col("doc_id") === col("__keep"), "left_semi")
        orderAll(graft.Engine.packSequences(keepers, col("source"),
          col("doc_id"), size(split(col("text"), " ")), capTokens = 512))
    },

    // Q95d (beyond-survey) — UNIGRAM-LM QUALITY SCORE (the CCNet
    // LM-perplexity filter, with the corpus's own unigram model standing
    // in for the external KenLM): per document, the mean negative log
    // probability of its tokens under p(t) = cnt(t)/total. High scores =
    // improbable token streams = filtration candidates. Determinism: ln
    // over identical doubles is identical (the q93c idf discipline); the
    // per-doc sum routes each tf·ln(p) term through DECIMAL(38,6) so
    // accumulation is exact and order-free; the final -, /, round tree
    // is the same IEEE op sequence in both engines. Scale shape: tf is
    // a (doc,token) hash agg (map-side combined); the vocab with counts
    // is a broadcastable dim (fixed vocabulary vs a growing corpus);
    // the scalar total rides a broadcast 1-row cross join — no driver
    // collect, no unpartitioned window.
    Q("q95d_lm_score",
      s"""WITH $lmScoreCtes
        |SELECT doc_id, n_tokens, avg_neg_logp FROM sc
        |ORDER BY doc_id NULLS FIRST, n_tokens NULLS FIRST,
        |  avg_neg_logp NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(lmScores(s, dir))
    },

    // Q95g (beyond-survey) — CCNet-style QUALITY TIERS: bucket every
    // document into head/middle/tail by the corpus-wide tertiles of
    // its q95d unigram-LM score (Wenzek et al. 2020 §4.3 — the split
    // that decides what trains, what gets sampled, what gets dropped).
    // Thresholds are the EXACT percentile aggregate rounded at 6 dp
    // (the q38 parity discipline: interpolation-ulp differences across
    // engines are absorbed by the round, and scores are themselves
    // 6-dp-rounded); the cuts broadcast as one row and the tier is a
    // per-row comparison. Scale note: exact global percentile gathers
    // the score multiset into one aggregation buffer — at production
    // scale swap `approx_percentile(…, accuracy)` in the SAME plan
    // position (the cut precision question is then statistical, not
    // distributional; everything else is unchanged).
    Q("q95g_quality_tiers",
      s"""WITH $lmScoreCtes,
        |c AS (SELECT
        |    round(quantile_cont(avg_neg_logp, 0.3333333333333333), 6)
        |      AS c1,
        |    round(quantile_cont(avg_neg_logp, 0.6666666666666666), 6)
        |      AS c2 FROM sc)
        |SELECT doc_id, avg_neg_logp,
        |  CASE WHEN avg_neg_logp <= c1 THEN 'head'
        |    WHEN avg_neg_logp <= c2 THEN 'middle'
        |    ELSE 'tail' END AS tier
        |FROM sc CROSS JOIN c
        |ORDER BY doc_id NULLS FIRST, avg_neg_logp NULLS FIRST,
        |  tier NULLS FIRST""".stripMargin) { (s, dir) =>
      // persisted: both the tertile aggregate and the per-doc tier read
      // this frame — without the pin the whole token-count subtree
      // (corpus scan + three aggregates) executes twice
      import graft.Engine.PersistOnceOps
      val sc = lmScores(s, dir).persistOnce()
      val cuts = sc.agg(expr("percentile(avg_neg_logp, " +
          "array(0.3333333333333333D, 0.6666666666666666D))").as("qs"))
        .select(round(element_at(col("qs"), 1), 6).as("c1"),
          round(element_at(col("qs"), 2), 6).as("c2"))
      orderAll(sc.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("avg_neg_logp"),
          when(col("avg_neg_logp") <= col("c1"), "head")
            .when(col("avg_neg_logp") <= col("c2"), "middle")
            .otherwise("tail").as("tier")))
    },

    // Q95h (beyond-survey) — BOILERPLATE ratio: the fraction of a
    // document's distinct bigrams whose corpus document-frequency
    // exceeds a prevalence threshold (6% of docs — chosen where this
    // fixture's DF distribution actually splits: bigram DF tops out
    // at ~9%, so a web-scale 30–50% gate would pass vacuously here;
    // production tunes θ against its own DF curve). This is the
    // PREVALENCE signal, distinct from its two neighbors: q95c scores
    // within-doc repetition, q90e/f find exactly-duplicated substrings
    // — boilerplate grams (nav bars, cookie banners, license headers)
    // are neither; they are *everywhere* without being exact dup spans.
    // CCNet/RefinedWeb-style cleaners gate on exactly this ratio.
    // Plan: one gram-explode pass feeds BOTH the df aggregate and the
    // per-doc hit count (semi-join against the vocabulary-sized
    // boilerplate gram set — unhinted, the q29 discipline; the 1-row
    // corpus count is the only pinned broadcast). All counts integer;
    // the ratio is one IEEE divide rounded to 6 dp.
    Q("q95h_boilerplate",
      s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents)),
         |d AS (SELECT doc_id, sv, len(sv) AS n FROM sh WHERE len(sv) >= 1),
         |ex AS (SELECT doc_id, unnest(sv) AS t FROM d),
         |dfv AS (SELECT t, count(*) AS df FROM ex GROUP BY t),
         |tot AS (SELECT count(*) AS N FROM d),
         |b AS (SELECT t FROM dfv CROSS JOIN tot WHERE df * 100 >= N * 6),
         |h AS (SELECT ex.doc_id, count(*) AS nb FROM ex
         |  JOIN b USING (t) GROUP BY ex.doc_id),
         |r AS (SELECT d.doc_id AS doc_id, CAST(d.n AS BIGINT) AS n_grams,
         |    CAST(coalesce(h.nb, 0) AS BIGINT) AS n_boiler,
         |    round(CAST(coalesce(h.nb, 0) AS DOUBLE) / d.n, 6)
         |      AS boiler_ratio
         |  FROM d LEFT JOIN h ON d.doc_id = h.doc_id)
         |SELECT doc_id, n_grams, n_boiler, boiler_ratio FROM r
         |ORDER BY doc_id NULLS FIRST, n_grams NULLS FIRST,
         |  n_boiler NULLS FIRST, boiler_ratio NULLS FIRST""".stripMargin) {
      (s, dir) =>
        import graft.Engine.PersistOnceOps
        val docs = Tables.t(s, dir, "documents")
          .withColumn("__words", split(col("text"), " "))
          .select(col("doc_id"),
            ngramsOf(col("__words"), 2).as("__sv"))
          .filter(size(col("__sv")) >= 1)
          .persistOnce()
        val tok = docs.select(col("doc_id"), explode(col("__sv")).as("__t"))
        val dfreq = tok.groupBy("__t").agg(count(lit(1)).as("__df"))
        val tot = docs.agg(count(lit(1)).as("__N"))
        val boiler = dfreq.crossJoin(broadcast(tot))
          .filter(col("__df") * 100 >= col("__N") * 6).select("__t")
        val hits = tok.join(boiler, Seq("__t"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
        orderAll(docs
          .select(col("doc_id"), size(col("__sv")).cast("long").as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
          .withColumn("boiler_ratio",
            round(col("n_boiler").cast("double") / col("n_grams"), 6)))
    },

    // Q95i (beyond-survey) — K-ANONYMITY audit
    // ([[graft.Engine.kAnonymity]]): quasi-identifier combinations
    // (nation, market segment, 2000-unit balance band) whose
    // equivalence class holds FEWER than k=5 customers — the
    // re-identification risk surface a privacy review reads before a
    // dataset ships (PII redaction, q95b, scrubs direct identifiers;
    // this audits the INDIRECT ones: a combo shared by 2 people is a
    // needle). One partial-aggregable hash aggregate + size filter —
    // at 100 TB the audit costs a scan and reduces to the quasi-id
    // domain, not the row count; the generalization loop (widen bands
    // until empty) re-prices this same aggregate per banding.
    Q("q95i_k_anonymity",
      """SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM customer
        |GROUP BY 1, 2, 3 HAVING count(*) < 5
        |ORDER BY nation NULLS FIRST, segment NULLS FIRST,
        |  bal_band NULLS FIRST, n NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val c = Tables.t(s, dir, "customer")
        orderAll(graft.Engine.kAnonymity(c, Seq(
          ("nation", col("c_nationkey")),
          ("segment", col("c_mktsegment")),
          ("bal_band", floor(col("c_acctbal") / 2000)
            .cast(org.apache.spark.sql.types.LongType))), k = 5))
    },

    // Q95j (beyond-survey) — HASHING-TRICK linear quality classifier
    // ([[graft.Engine.hashClassifier]]): the fastText/CCNet-shaped
    // learned quality gate — every token hashes into one of 4096
    // weight slots (base-257 poly hash, the q90o/q90r recurrence), the
    // document logit is the mean token weight, keep = logit > 0. The
    // weight table is a deterministic closed form of the bucket id so
    // the oracle replays it bit-for-bit (every weight is an exact
    // multiple of 2⁻²⁰ ⇒ the per-doc sum is EXACT in double, order-
    // free); a trained model ships its real weight array into the same
    // slot as a broadcast. ZERO-SHUFFLE pure map (PlanSpec-asserted):
    // classifier cost == scan cost, which is the only shape a quality
    // gate can afford at 100 TB.
    Q("q95j_hash_classifier",
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, len(ws) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(ws, t ->
        |        CAST(((list_reduce(list_transform(range(1, len(t) + 1),
        |              i -> CAST(ascii(t[i]) AS BIGINT)),
        |            (a, b) -> (a * 257 + b) % 1000000007) % 4096)
        |            * 2654435761 + 12345) % 1048576 AS DOUBLE)
        |          / 1048576.0 - 0.5)),
        |      (acc, x) -> acc + x) AS sc
        |  FROM d)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CASE WHEN n = 0 THEN NULL ELSE round(sc / n, 6) END AS logit,
        |  (n > 0 AND sc > 0.0) AS keep
        |FROM s
        |ORDER BY doc_id NULLS FIRST, n_tokens NULLS FIRST,
        |  logit NULLS FIRST, keep NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        orderAll(graft.Engine.hashClassifier(
          docs, col("doc_id"), col("text"), buckets = 4096))
    },

    // Q91d (beyond-survey) — FUZZY (edit-distance-1) join via DELETION
    // NEIGHBORHOODS (the FastSS blocking): the typo-variant detection
    // pass of vocabulary cleanup. Each term emits itself plus every
    // single-character deletion as candidate keys; two terms at edit
    // distance exactly 1 ALWAYS share a key (substitution: delete the
    // differing position from both; insertion: the deletion of the
    // inserted character IS the shorter term's identity key), so the
    // equi-join on keys + exact levenshtein verification has recall 1.0
    // by theorem — the oracle brute-forces all vocab pairs and must
    // agree exactly. Candidate work is O(Σ|w|) keys, never O(vocab²).
    // The corpus vocabulary carries no natural typos, so deterministic
    // variants (trailing insertion, leading substitution) are injected
    // first — the q95b pattern: the operator must actually fire.
    Q("q91d_fuzzy_join",
      """WITH v0 AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |v AS (SELECT DISTINCT w FROM (
        |  SELECT w FROM v0
        |  UNION ALL SELECT w || 'x' FROM v0 WHERE length(w) >= 4
        |  UNION ALL SELECT 'z' || substr(w, 2) FROM v0 WHERE length(w) >= 4))
        |SELECT a.w AS word_a, b.w AS word_b
        |FROM v a JOIN v b ON a.w < b.w AND levenshtein(a.w, b.w) = 1
        |ORDER BY word_a NULLS FIRST, word_b NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val v0 = Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w")).distinct()
        val long = v0.filter(length(col("w")) >= 4)
        val vocab = v0
          .unionAll(long.select(concat(col("w"), lit("x")).as("w")))
          .unionAll(long.select(
            concat(lit("z"), expr("substr(w, 2)")).as("w")))
          .distinct()
        // deletion neighborhood: the word itself (pos 0) + each deletion
        val keys = vocab.select(col("w"),
          explode(sequence(lit(0), length(col("w")))).as("pos"))
          .select(col("w"), when(col("pos") === 0, col("w"))
            .otherwise(concat(
              expr("substr(w, 1, pos - 1)"),
              expr("substr(w, pos + 1)"))).as("k"))
          .distinct()
        orderAll(keys.select(col("k"), col("w").as("word_a"))
          .join(keys.select(col("k"), col("w").as("word_b")), Seq("k"))
          .filter(col("word_a") < col("word_b"))
          .dropDuplicates("word_a", "word_b")
          .filter(levenshtein(col("word_a"), col("word_b")) === 1)
          .select("word_a", "word_b"))
    },

    // Q92c (beyond-survey) — embedding QUANTIZATION (int8 scalar, the
    // storage/bandwidth lever for 100 TB vector corpora: 4 bytes→1 byte
    // per dim): per-vector min/max affine quantization to 0..255 codes,
    // dequantized round-trip, and the max reconstruction error checked
    // against the half-step bound scale/2 (a THEOREM for round-to-nearest
    // affine quantization — so the boolean is exact, not a tolerance).
    // All arithmetic is elementwise double with an identical operation
    // tree in both engines (no reassociation), so even the float math
    // hash-matches bit-for-bit. Pure per-row projection: no shuffle.
    Q("q92c_quantize",
      """WITH q AS (SELECT vec_id,
        |    CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
        |    CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx,
        |    embedding AS e FROM embeddings),
        |s AS (SELECT vec_id, mn, mx, e, (mx - mn) / 255 AS step FROM q),
        |c AS (SELECT vec_id, step,
        |    list_transform(e, x ->
        |      CAST(round((CAST(x AS DOUBLE) - mn) / step) AS INT)) AS codes,
        |    list_transform(e, x -> abs((CAST(x AS DOUBLE) - mn)
        |      - round((CAST(x AS DOUBLE) - mn) / step) * step)) AS errs
        |  FROM s WHERE step > 0)
        |SELECT vec_id,
        |  CAST(list_aggregate(codes, 'min') AS INT) AS code_min,
        |  CAST(list_aggregate(codes, 'max') AS INT) AS code_max,
        |  (list_aggregate(errs, 'max') <= step / 2) AS within_half_step
        |FROM c
        |ORDER BY vec_id NULLS FIRST, code_min NULLS FIRST,
        |  code_max NULLS FIRST, within_half_step NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val mn = array_min(col("embedding")).cast(DoubleType)
        val mx = array_max(col("embedding")).cast(DoubleType)
        val base = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            mn.as("mn"), ((mx - mn) / 255).as("step"))
          .filter(col("step") > 0)
        val codes = transform(col("embedding"),
          x => round((x.cast(DoubleType) - col("mn")) / col("step"), 0)
            .cast("int"))
        val errs = transform(col("embedding"),
          x => abs((x.cast(DoubleType) - col("mn")) -
            round((x.cast(DoubleType) - col("mn")) / col("step"), 0) *
              col("step")))
        orderAll(base.select(col("vec_id"),
          array_min(codes).as("code_min"),
          array_max(codes).as("code_max"),
          (array_max(errs) <= col("step") / 2).as("within_half_step")))
    },

    // Q92d (beyond-survey) — per-label embedding CENTROIDS: the
    // element-wise mean vector per class — the training step behind
    // q99b's IVF cells (k-means is repeated centroid computation) and
    // the standard class-prototype operation. Spark shape: posexplode to
    // (label, dim, value) scalars, ONE hash aggregate over (label, dim)
    // with the exact-decimal mean — map-side partial aggregation does
    // dims×labels accumulators per task and the shuffle carries only
    // labels×dims×partials rows, which is the scalable formulation of
    // "average a 100 TB vector column" (a collect-and-average would
    // move the vectors; this moves 640 partial sums). Scalar output
    // rows double as the canonicalization (arrays don't hash).
    Q("q92d_centroids",
      s"""SELECT label, CAST(i AS INT) AS dim,
         |  ${graft.Canon.avgDecSql("CAST(embedding[i] AS DOUBLE)")} AS centroid
         |FROM embeddings
         |  CROSS JOIN unnest(generate_series(1, len(embedding))) AS t(i)
         |GROUP BY label, i
         |ORDER BY label NULLS FIRST, dim NULLS FIRST, centroid NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Tables.t(s, dir, "embeddings")
          .select(col("label"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("label"), (col("pos") + 1).cast("int").as("dim"))
          .agg(graft.Canon.avgDec(col("v").cast(DoubleType)).as("centroid")))
    },

    // Q93c (beyond-survey) — TF-IDF with smoothed IDF (the sklearn
    // formulation: idf = ln((N+1)/(df+1)) + 1) and each document's top
    // term: the canonical corpus-weighting pass. Determinism: tf/df/N
    // are exact integers, idf/tfidf derive from them with an identical
    // double operation tree in both engines, and the per-doc argmax
    // tie-breaks on (tfidf DESC, token ASC) so equal scores cannot make
    // the winner engine-dependent. Scale shape: one (doc,token) count,
    // one token-keyed df aggregate (vocab ≪ corpus → broadcastable
    // join back), one window keyed by doc — three narrow shuffles, no
    // text shipped past tokenization.
    Q("q93c_tfidf",
      """WITH tf AS (SELECT doc_id, w AS token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY doc_id, w),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (SELECT doc_id, tf.token AS token,
        |    tf * (ln((CAST(n AS DOUBLE) + 1) / (CAST(df AS DOUBLE) + 1)) + 1)
        |      AS tfidf
        |  FROM tf, df, n WHERE tf.token = df.token),
        |top AS (SELECT doc_id, token, tfidf, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, token AS top_term, round(tfidf, 6) AS top_tfidf
        |FROM top WHERE rn = 1
        |ORDER BY doc_id NULLS FIRST, top_term NULLS FIRST,
        |  top_tfidf NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val n = docs.select(countDistinct(col("doc_id")).as("n"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, Seq("token")).crossJoin(n)
        .withColumn("tfidf", col("tf") *
          (log((col("n").cast(DoubleType) + 1) /
            (col("df").cast(DoubleType) + 1)) + 1))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token").asc)
      orderAll(scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("token").as("top_term"),
          round(col("tfidf"), 6).as("top_tfidf")))
    },

    // Q95b (beyond-survey) — PII REDACTION: mask emails and phone numbers
    // with typed placeholders and count what was masked — the compliance
    // pass every training corpus runs. The synthetic corpus carries no
    // PII, so deterministic contact strings are appended per-doc first
    // (the redactor must actually fire to be tested). Patterns use only
    // explicit character classes — no \s/\d/\w, whose definitions differ
    // between Java regex and RE2 (the q93b lesson). Pure per-row
    // projection; the redacted text is hash-compared via md5.
    Q("q95b_pii_redact",
      """WITH t AS (SELECT doc_id,
        |    concat(text, ' reach user', CAST(doc_id AS VARCHAR),
        |      '@mail.example.com or +1-555-',
        |      substr(CAST(10000 + doc_id % 10000 AS VARCHAR), 2, 4),
        |      ' today') AS raw FROM documents),
        |r AS (SELECT doc_id, raw,
        |    regexp_replace(
        |      regexp_replace(raw,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+',
        |        '<EMAIL>', 'g'),
        |      '[+][0-9]+-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]',
        |      '<PHONE>', 'g') AS redacted FROM t)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+')) AS INT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(raw,
        |    '[+][0-9]+-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]')) AS INT)
        |    AS n_phones,
        |  md5(redacted) AS redacted_md5
        |FROM r
        |ORDER BY doc_id NULLS FIRST, n_emails NULLS FIRST,
        |  n_phones NULLS FIRST, redacted_md5 NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
        val phoneRe = "[+][0-9]+-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
        val raw = concat(col("text"), lit(" reach user"),
          col("doc_id").cast(StringType), lit("@mail.example.com or +1-555-"),
          substring((col("doc_id") % 10000 + 10000).cast(StringType), 2, 4),
          lit(" today"))
        // four per-row regex passes over the full text otherwise run
        // inside the single-row-group scan task (Spread scaladoc;
        // measured 25.6 s wall / 29.5 s task-time at 30× — serial)
        orderAll(graft.Spread(Tables.t(s, dir, "documents"),
            col("doc_id"))
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            regexp_count(col("raw"), lit(emailRe)).cast("int").as("n_emails"),
            regexp_count(col("raw"), lit(phoneRe)).cast("int").as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_md5")))
    },

    // Q95c (beyond-survey) — REPETITION signals (the Gopher/MassiveText
    // quality rules the q95 ratios don't cover): fraction of duplicated
    // word bigrams and the most-frequent-word share. High values flag
    // boilerplate/spam for the filtering pass. The bigram fraction is a
    // pure per-row projection (total = len−1 vs distinct via the shared
    // wordNgrams); the top-word share is one (doc, word) count + one
    // per-doc argmax — two narrow shuffles keyed by doc, no text shipped.
    Q("q95c_repetition",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT doc_id, len(w) - 1 AS n_bigrams,
        |    len(list_distinct(list_transform(generate_series(1, len(w) - 1),
        |      i -> concat_ws(' ', w[i], w[i+1])))) AS n_distinct,
        |    len(w) AS n_words FROM t),
        |wc AS (SELECT doc_id, max(c) AS top_c FROM (
        |    SELECT doc_id, count(*) AS c FROM
        |      (SELECT doc_id, unnest(w) AS word FROM t)
        |    GROUP BY doc_id, word) GROUP BY doc_id)
        |SELECT b.doc_id,
        |  round(1 - CAST(n_distinct AS DOUBLE) / n_bigrams, 6)
        |    AS dup_bigram_frac,
        |  round(CAST(top_c AS DOUBLE) / n_words, 6) AS top_word_frac
        |FROM b JOIN wc ON b.doc_id = wc.doc_id
        |ORDER BY b.doc_id NULLS FIRST, dup_bigram_frac NULLS FIRST,
        |  top_word_frac NULLS FIRST""".stripMargin) { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
        .withColumn("__w", split(col("text"), " "))
        .filter(size(col("__w")) >= 2)
      val perDoc = d.select(col("doc_id"),
        (size(col("__w")) - 1).as("n_bigrams"),
        size(ngramsOf(col("__w"), 2)).as("n_distinct"),
        size(col("__w")).as("n_words"))
      val topWord = d.select(col("doc_id"), explode(col("__w")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("top_c"))
      orderAll(perDoc.join(topWord, Seq("doc_id"))
        .select(col("doc_id"),
          round(lit(1) - col("n_distinct").cast(DoubleType) /
            col("n_bigrams"), 6).as("dup_bigram_frac"),
          round(col("top_c").cast(DoubleType) / col("n_words"), 6)
            .as("top_word_frac")))
    },

    // Q95m (beyond-survey) — CHARACTER-ENTROPY quality signal
    // ([[graft.Engine.charEntropy]] over the [[graft.plans.CharEntropy]]
    // codegen kernel): per-doc Shannon entropy of the code-point
    // distribution + the ln(alphabet)-normalized form — the cheap junk
    // detector for binary blobs, base64/hex dumps, and key-mashing
    // (all far from prose on this axis; template boilerplate collapses
    // toward 0). Sub-token companion to q95 (word-shape ratios) and
    // q95c (word repetition). A PURE MAP: histogram + fold per row in
    // whole-stage codegen — the SQL formulation below exchanges one
    // row per corpus CHARACTER (affordable at sf0.01, wrong at 100 TB,
    // the q93o argument). Entropy terms ride the 9-dp decimal grid in
    // the kernel (q11c discipline); the grid-exact sum is emitted
    // UNROUNDED (re-rounding a grid value can land on a half — the
    // q47i lesson); the normalized ratio rounds at 6 dp safely.
    Q("q95m_char_entropy",
      """WITH ch AS (SELECT doc_id, substr(text, i, 1) AS c
        |  FROM documents CROSS JOIN
        |    unnest(generate_series(1, length(text))) AS t(i)),
        |hist AS (SELECT doc_id, c, count(*) AS cnt FROM ch
        |  GROUP BY 1, 2),
        |nn AS (SELECT doc_id, sum(cnt) AS n, count(*) AS nd FROM hist
        |  GROUP BY 1),
        |e AS (SELECT h.doc_id,
        |    CAST(sum(CAST(round(-(CAST(cnt AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |      * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS ent
        |  FROM hist h JOIN nn USING (doc_id) GROUP BY 1),
        |o AS (SELECT d.doc_id,
        |    CAST(coalesce(n, 0) AS BIGINT) AS n_cps,
        |    CAST(coalesce(nd, 0) AS INT) AS n_distinct,
        |    coalesce(ent, 0.0) AS entropy_nats,
        |    CASE WHEN coalesce(nd, 0) <= 1 THEN 0.0
        |      ELSE round(ent / ln(CAST(nd AS DOUBLE)), 6) END
        |      AS entropy_norm
        |  FROM documents d LEFT JOIN nn USING (doc_id)
        |    LEFT JOIN e USING (doc_id))
        |SELECT doc_id, n_cps, n_distinct, entropy_nats, entropy_norm,
        |  (entropy_norm < 0.5) AS low_entropy
        |FROM o
        |ORDER BY doc_id NULLS FIRST, n_cps NULLS FIRST,
        |  n_distinct NULLS FIRST, entropy_nats NULLS FIRST,
        |  entropy_norm NULLS FIRST, low_entropy NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.charEntropy(
          Tables.t(s, dir, "documents"), col("doc_id"), col("text")))
    },

    // Q92f (beyond-survey) — SEMANTIC dedup (the SemDeDup recipe: cluster
    // by nearest centroid, compare only within a cluster, drop all but
    // the smallest id of each near-duplicate set). The centroids are the
    // fixed Q99b coarse-quantizer seeds, broadcast to every task; the
    // pairwise cosine runs ONLY inside a cell — candidates are
    // Σ|cell|²/2, never corpus², and at 100 TB the centroid count grows
    // with the corpus (K ≈ √N) so the per-cell quadratic stays bounded
    // while assignment stays an O(N·K/parallelism) broadcast map. One
    // shuffle on cell for the pair join, one anti-join to apply the drop
    // list. Reference analog: the exact-slot matching of
    // sources/meteosat.py:111-122 generalized to vector space.
    Q("q92f_semantic_dedup", semanticDedupOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.semanticDedup(
        e, "vec_id", "embedding",
        e.filter(col("vec_id").isin(ivfCentroidIds: _*)),
        "vec_id", "embedding", tau = 0.35))
    },

    // Q92g (beyond-survey) — distributed LLOYD refinement: 2 rounds of
    // assign-to-nearest-centroid → exact-decimal centroid update from
    // the Q99b seeds, returning the final (cell, dim, centroid) table.
    // Per round the K-row centroid table is broadcast (assignment = a
    // map) and the update is ONE partial-aggregated (cell, dim) shuffle
    // — the loop is driver-side, every round wholly distributed, no
    // collect. The oracle unrolls both rounds as CTE chains with the
    // identical rounded-cosine argmax and DECIMAL(38,6) means, so the
    // iterative path is hash-gated end to end, not just smoke-tested.
    Q("q92g_kmeans_refine", kmeansOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.kmeansRefine(
        e, "vec_id", "embedding",
        e.filter(col("vec_id").isin(ivfCentroidIds: _*)),
        "vec_id", "embedding", iters = 2))
    },

    // Q93f (beyond-survey) — corpus HEAVY HITTERS (the boilerplate-token
    // detection pass: tokens above a frequency support across the whole
    // stream), sketch-then-verify like q90g: Spark's one-pass freqItems
    // sketch nominates a bounded candidate superset (it can over-report,
    // never miss), and one exact count over only those candidates
    // confirms — the full-vocabulary groupBy never runs. The threshold
    // is exact integer arithmetic (cnt·100 ≥ pct·N), so both engines
    // agree bit-for-bit.
    Q("q93f_heavy_hitters",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS total FROM tok),
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
        |SELECT token, cnt FROM c CROSS JOIN n
        |WHERE cnt * 100 >= 3 * total
        |ORDER BY token NULLS FIRST, cnt NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.heavyHitters(
          Tables.t(s, dir, "documents")
            .select(explode(split(col("text"), " ")).as("tok")),
          col("tok"), supportPct = 3))
    },

    // Q93e (beyond-survey) — order-preserving WITHIN-document token dedup
    // (the rewrite counterpart of q95c's repetition score: strip repeated
    // tokens, keep first occurrences in original order). first-occurrence
    // = min(pos) per (doc, token) — a partially-aggregated groupBy (hot
    // tokens cost one partial per task), NOT a window, so no per-group
    // sort precedes the shuffle; reassembly sorts only inside each doc's
    // collected array. Two narrow doc-keyed shuffles; the text body is
    // shuffled exactly once.
    Q("q93e_dedup_tokens",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, i, w[i] AS tok FROM t
        |  CROSS JOIN unnest(generate_series(1, len(w))) AS u(i)),
        |f AS (SELECT doc_id, tok, min(i) AS i FROM tok GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |  string_agg(tok, ' ' ORDER BY i) AS uniq_text
        |FROM f GROUP BY doc_id
        |ORDER BY doc_id NULLS FIRST, n_kept NULLS FIRST,
        |  uniq_text NULLS FIRST""".stripMargin) { (s, dir) =>
      val firsts = Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .groupBy(col("doc_id"), col("tok"))
        .agg(min(col("pos")).as("pos"))
      orderAll(firsts.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("uniq_text")))
    },

    // Q95e (beyond-survey) — per-SOURCE document cap (the CommonCrawl-
    // style per-domain quota: at most k docs per source, chosen by a
    // deterministic hash priority so the selection is a reproducible
    // pseudo-random sample, not head-of-file bias). row_number ≤ k
    // compiles to a partial WindowGroupLimit below the shuffle
    // (PlanSpec-asserted, same family as q44): each task prunes its
    // partition to k rows per source BEFORE exchanging, so the shuffle
    // carries O(sources × k × tasks), not the corpus. The priority is a
    // Knuth multiplicative hash spelled in plain int64 arithmetic —
    // bit-identical in both engines.
    Q("q95e_source_cap",
      """WITH p AS (SELECT doc_id, source,
        |    (doc_id * 2654435761) % 4294967296 AS pri FROM documents),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY pri, doc_id) AS rn FROM p)
        |SELECT doc_id, source, CAST(rn AS INT) AS rn FROM r
        |WHERE rn <= 10
        |ORDER BY doc_id NULLS FIRST, source NULLS FIRST,
        |  rn NULLS FIRST""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(col("__pri").asc, col("doc_id").asc)
      orderAll(Tables.t(s, dir, "documents")
        .withColumn("__pri",
          (col("doc_id") * lit(2654435761L)) % lit(4294967296L))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 10)
        .select(col("doc_id"), col("source"),
          col("__rn").cast("int").as("rn")))
    },

    // Q93i (beyond-survey) — OOV RATE against an induced vocabulary:
    // per-document fraction of token OCCURRENCES outside the corpus's
    // top-k tokens — the tokenizer-coverage gate run before committing
    // a vocab (and per-doc, the "is this doc script/domain-alien"
    // quality signal). k = 16 because this corpus's whole vocabulary
    // is 31 tokens — a production top-30k vocab is the same plan. Two
    // stages, both bounded: the vocab is a TakeOrdered top-k
    // (deterministic (cnt DESC, token ASC) total order) that
    // BROADCASTS; the token stream left-joins it map-side and
    // partial-aggregates (n_tokens, n_known) per doc — one doc-keyed
    // exchange of two-int partials, the rate an exact-integer IEEE
    // division.
    Q("q93i_oov_rate",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |v AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM tok
        |  GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 16)),
        |f AS (SELECT t.doc_id,
        |    CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS known
        |  FROM tok t LEFT JOIN v ON t.tok = v.tok)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  CAST(sum(known) AS INT) AS n_known,
        |  CAST(count(*) - sum(known) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS oov_rate
        |FROM f GROUP BY doc_id
        |ORDER BY doc_id NULLS FIRST, n_tokens NULLS FIRST,
        |  n_known NULLS FIRST, oov_rate NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val toks = Tables.t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val vocab = toks.groupBy(col("tok"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok").asc).limit(16)
          .select(col("tok"), lit(1).as("__in"))
        orderAll(toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("int").as("n_tokens"),
            sum(coalesce(col("__in"), lit(0))).cast("int").as("n_known"))
          .withColumn("oov_rate",
            (col("n_tokens") - col("n_known")).cast("double") /
              col("n_tokens").cast("double")))
    },

    // Q93g (beyond-survey) — BPE MERGE CANDIDATES: the corpus-wide
    // adjacent-token-pair frequencies whose argmax is one byte-pair-
    // encoding merge step (vocabulary induction runs this repeatedly,
    // re-tokenizing with the merged symbol between rounds — each round
    // is exactly this plan). Pair generation is SHUFFLE-FREE: zip_with
    // over the two shifted slices of each doc's token array emits the
    // pairs inside the row (no per-doc window, no posexplode+lag — the
    // naive window form would shuffle the whole token stream on doc_id
    // first). The only exchange is the partial-aggregated pair count,
    // and the top-20 is a TakeOrderedAndProject (per-partition heap,
    // k·partitions rows to the driver — never a global sort). Ties are
    // impossible to mis-order: (cnt DESC, pair ASC) is total.
    Q("q93g_bpe_merge",
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT w[i] || ' ' || w[i+1] AS pair
        |  FROM t CROSS JOIN unnest(generate_series(1, len(w) - 1)) AS u(i)),
        |c AS (SELECT pair, CAST(count(*) AS INT) AS cnt FROM p
        |  GROUP BY pair),
        |top AS (SELECT pair, cnt FROM c
        |  ORDER BY cnt DESC, pair ASC LIMIT 20)
        |SELECT pair, cnt FROM top
        |ORDER BY pair NULLS FIRST, cnt NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
          .withColumn("__w", split(col("text"), " "))
        val pairs = docs.select(explode(zip_with(
          slice(col("__w"), lit(1), size(col("__w")) - 1),
          slice(col("__w"), lit(2), size(col("__w")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("pair"))
        orderAll(pairs.groupBy(col("pair"))
          .agg(count(lit(1)).cast("int").as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc)
          .limit(20))
    },

    // Q93h (beyond-survey) — BM25 RETRIEVAL SCORING of the corpus
    // against a fixed probe-term set — the library operator
    // [[graft.Engine.bm25Rank]] (see its Scaladoc for the broadcast-
    // stats plan and the rational-idf determinism argument). The fixed
    // terms make the oracle exact; an unbounded query workload swaps
    // the isin() prune for a broadcast terms dim — same plan.
    Q("q93h_bm25",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, len(w) AS dl, w FROM d),
        |st AS (SELECT count(*) AS n,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        |  FROM dl),
        |tok AS (SELECT doc_id, dl, unnest(w) AS t FROM dl),
        |ft AS (SELECT doc_id, dl, t, count(*) AS tf FROM tok
        |  WHERE t IN ('spark', 'hash', 'window') GROUP BY doc_id, dl, t),
        |dfq AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok
        |  WHERE t IN ('spark', 'hash', 'window') GROUP BY t),
        |s AS (SELECT f.doc_id,
        |    (CAST(n + 1 AS DOUBLE) / (CAST(df AS DOUBLE) + 0.5e0))
        |      * (CAST(tf AS DOUBLE) * 2.2e0)
        |      / (CAST(tf AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0 *
        |          (CAST(dl AS DOUBLE) / avgdl))) AS sc
        |  FROM ft f JOIN dfq USING (t) CROSS JOIN st)
        |SELECT doc_id,
        |  CAST(sum(CAST(sc AS DECIMAL(38,6))) AS DOUBLE) AS score
        |FROM s GROUP BY doc_id
        |ORDER BY doc_id NULLS FIRST, score NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.bm25Rank(Tables.t(s, dir, "documents"),
          col("doc_id"), col("text"), Seq("spark", "hash", "window")))
    },

    // Q92h (beyond-survey) — SIGN RANDOM PROJECTION to 8 dims — the
    // library operator [[graft.Engine.signProjection]]: the cheap
    // dimensionality-reduction pass that feeds LSH bucketing and
    // approximate-distance prefilters at corpus scale. The whole
    // operator is a per-row higher-order-function projection — zero
    // exchanges (PlanSpec asserts it), so at 100 TB it rides the scan.
    Q("q92h_random_projection", {
      val ys = (1 to 8).map(i =>
        s"CAST(sum(CAST(x * (CASE (CAST('0x' || substr(md5(" +
          s"CAST(j AS VARCHAR) || ':$i'), 1, 4) AS BIGINT) % 6) " +
          s"WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END) " +
          s"AS DECIMAL(38,6))) AS DOUBLE) AS y$i").mkString(",\n        |  ")
      val ord = (1 to 8).map(i => s"y$i NULLS FIRST").mkString(", ")
      s"""WITH u AS (SELECT vec_id, embedding AS v FROM embeddings),
         |t AS (SELECT vec_id, CAST(v[j] AS DOUBLE) AS x, j
         |  FROM u CROSS JOIN unnest(generate_series(1, len(v))) AS g(j))
         |SELECT vec_id,
         |  $ys
         |FROM t GROUP BY vec_id
         |ORDER BY vec_id NULLS FIRST, $ord""".stripMargin
    }) { (s, dir) =>
      orderAll(graft.Engine.signProjection(
        Tables.t(s, dir, "embeddings"), col("vec_id"), "embedding", 8,
        dims = 64))
    },

    // Q92l (beyond-survey) — symmetric per-vector INT8 quantization
    // ([[graft.Engine.quantizeInt8]]): the embedding-STORAGE format (4×
    // footprint cut — at 100 TB of vectors, the difference between one
    // cluster and four; PQ (q92i) compresses for SEARCH, int8 for
    // storage/shipping). Pure per-row map, no shuffle. Codes are pinned
    // by integer-exact summaries (sum/min/max), the scale by its 6-dp
    // rounding, and the information loss by the DECIMAL(38,6)-exact L1
    // reconstruction error — round() is half-away-from-zero on DOUBLE
    // in both engines and x/scale is one IEEE divide of identical
    // inputs, so the two engines cannot disagree on a single code.
    Q("q92l_int8_quantize",
      s"""WITH u AS (SELECT vec_id, embedding AS v FROM embeddings),
         |s AS (SELECT vec_id, v,
         |    list_max(list_transform(v, x -> abs(CAST(x AS DOUBLE)))) / 127
         |      AS scale FROM u),
         |t AS (SELECT vec_id, scale, CAST(v[g.i] AS DOUBLE) AS x,
         |    CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(round(CAST(v[g.i] AS DOUBLE) / scale) AS BIGINT)
         |    END AS q
         |  FROM s CROSS JOIN unnest(generate_series(1, len(v))) AS g(i))
         |SELECT vec_id, round(scale, 6) AS scale,
         |  CAST(sum(q) AS BIGINT) AS code_sum,
         |  CAST(min(q) AS INT) AS code_min,
         |  CAST(max(q) AS INT) AS code_max,
         |  CAST(sum(CAST(abs(x - q * scale) AS DECIMAL(38,6))) AS DOUBLE)
         |    AS recon_l1
         |FROM t GROUP BY vec_id, scale
         |ORDER BY vec_id NULLS FIRST, scale NULLS FIRST,
         |  code_sum NULLS FIRST, code_min NULLS FIRST,
         |  code_max NULLS FIRST, recon_l1 NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.quantizeInt8(
          Tables.t(s, dir, "embeddings"), "vec_id", "embedding"))
    },

    // Q92m (beyond-survey) — two-stage TRUNCATE-then-RERANK retrieval
    // ([[graft.Engine.truncateRerank]], the Matryoshka recipe): stage 1
    // scores every corpus vector on its first 16 of 64 dims (4× less
    // FLOP and bandwidth than the full scan) and shortlists the top 20
    // per query on LEAN rows; stage 2 rescores only the shortlist at
    // full precision via a broadcast-back join and keeps the top 5.
    // Both stages round to 6 dp with an ascending-id tie-break, so the
    // shortlist BOUNDARY — the one place a two-stage retriever can
    // diverge between engines — is pinned; the oracle replays both
    // stages with identical list slicing and left-to-right dot sums.
    Q("q92m_truncate_rerank",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
         |    embedding[1:16] AS qt
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, embedding AS e, embedding[1:16] AS et
         |  FROM embeddings),
         |s1 AS (SELECT query_id, vec_id,
         |    round(${Similarity.cosineSql("qt", "et")}, 6) AS cos_trunc
         |  FROM q CROSS JOIN c),
         |sl AS (SELECT query_id, vec_id, cos_trunc, row_number() OVER (
         |    PARTITION BY query_id
         |    ORDER BY cos_trunc DESC, vec_id ASC) AS srn
         |  FROM s1),
         |rr AS (SELECT sl.query_id, sl.vec_id, sl.cos_trunc,
         |    round(${Similarity.cosineSql("q.qe", "c.e")}, 6) AS cos_sim
         |  FROM sl JOIN q ON q.query_id = sl.query_id
         |          JOIN c ON c.vec_id = sl.vec_id
         |  WHERE sl.srn <= 20),
         |rk AS (SELECT query_id, vec_id, cos_trunc, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rnk
         |  FROM rr)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_trunc,
         |  cos_sim
         |FROM rk WHERE rnk <= 5
         |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST,
         |  vec_id NULLS FIRST, cos_trunc NULLS FIRST,
         |  cos_sim NULLS FIRST""".stripMargin) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.truncateRerank(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        dTrunc = 16, shortlist = 20, k = 5))
    },

    // Q92n (beyond-survey) — MAXIMAL MARGINAL RELEVANCE re-ranking
    // ([[graft.Engine.mmrRerank]], Carbonell & Goldstein 1998): each
    // query's top-10 cosine candidates greedily diversified to 5 picks
    // by argmax 0.7·rel − 0.3·max-sim-to-selected — the
    // diversification pass after retrieval (q92/q93r), so
    // near-duplicate hits don't crowd the result list. The greedy loop
    // is UNROLLED INTO THE PLAN: five chained anti-join → max-sim
    // aggregate → argmax-window stages over the bounded candidate set
    // — no driver loop over data, no UDF, no recursion; the only
    // quadratic object is the 10×10 per-query pair matrix. The oracle
    // unrolls the same five steps as chained CTEs; scores round to
    // 6 dp before every comparison so the pick sequence hash-matches.
    Q("q92n_mmr_rerank", mmrOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.mmrRerank(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        n = 10, k = 5))
    },

    // Q92p (beyond-survey) — k-NN WEAK LABELER
    // ([[graft.Engine.knnLabel]]): the semi-supervised labeling pass a
    // pipeline runs when a small gold set must annotate a crawl — each
    // "unlabeled" query vector (vec_id < 25, % 5 = 0: the bounded q92
    // query contract) takes the majority label of its k=7 nearest
    // labeled vectors (rounded cosine, smaller-label tiebreak); the
    // oracle re-joins the held-out TRUE labels so the query doubles as
    // a labeler-quality readout (vote_share is the confidence the
    // downstream filter thresholds on). Unbounded query sets route
    // through the bucketed/IVF candidate cutover first (q99 family).
    Q("q92p_knn_label",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < 25 AND vec_id % 5 = 0),
         |c AS (SELECT vec_id, embedding, label FROM embeddings
         |  WHERE vec_id % 5 <> 0),
         |scored AS (
         |  SELECT query_id, vec_id, label,
         |    round(${Similarity.cosineSql("qe", "embedding")}, 6)
         |      AS cos_sim
         |  FROM q CROSS JOIN c),
         |ranked AS (SELECT query_id, vec_id, label, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rnk
         |  FROM scored),
         |votes AS (SELECT query_id, label AS pred_label,
         |    count(*) AS votes
         |  FROM ranked WHERE rnk <= 7 GROUP BY 1, 2),
         |best AS (SELECT query_id, pred_label, votes, row_number()
         |    OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, pred_label ASC) AS rn
         |  FROM votes)
         |SELECT b.query_id, b.pred_label,
         |  CAST(b.votes AS BIGINT) AS votes,
         |  round(CAST(b.votes AS DOUBLE) / 7, 6) AS vote_share,
         |  e.label AS true_label, (b.pred_label = e.label) AS hit
         |FROM best b JOIN embeddings e ON e.vec_id = b.query_id
         |WHERE rn = 1
         |ORDER BY query_id NULLS FIRST, pred_label NULLS FIRST,
         |  votes NULLS FIRST, vote_share NULLS FIRST,
         |  true_label NULLS FIRST, hit NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val e = Tables.t(s, dir, "embeddings")
        val pred = graft.Engine.knnLabel(
          e.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          "label",
          e.filter(col("vec_id") < 25 && col("vec_id") % 5 === 0),
          "vec_id", "embedding", k = 7)
        orderAll(pred.join(
            e.select(col("vec_id").as("query_id"),
              col("label").as("true_label")), Seq("query_id"))
          .withColumn("hit", col("pred_label") === col("true_label")))
    },

    // Q92q (beyond-survey) — LATE-INTERACTION MaxSim retrieval
    // ([[graft.Engine.maxSimRetrieve]]): documents and queries as BAGS
    // of token vectors (token-doc = vec_id div 20 — ~20 token vectors
    // per pseudo-document), score(q,d) = Σ_{t∈q} max_{u∈d} cos(t,u) —
    // the ColBERT scoring rule single-vector retrieval cannot express
    // (one exactly-matching clause should dominate its own max term,
    // not be averaged away by the rest of the document). Bounded query
    // bag broadcast (the q92 contract), ONE corpus-token scan, then two
    // partial-aggregable hash aggregates on (query, doc) grain — no
    // row that carries an embedding ever shuffles; per-token maxes
    // round to the 6-dp grid and sum on DECIMAL(38,6) (Canon). 100 TB
    // cutover: q99's ANN candidates feed this exact scorer as rerank.
    Q("q92q_maxsim",
      s"""WITH tok AS (SELECT vec_id // 20 AS doc, embedding AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id // 20 AS query_doc, vec_id AS qt,
         |    embedding AS qv
         |  FROM embeddings WHERE vec_id < 60),
         |pt AS (SELECT q.query_doc, q.qt, t.doc,
         |    max(round(${Similarity.cosineSql("qv", "v")}, 6)) AS m
         |  FROM q CROSS JOIN tok t WHERE t.doc <> q.query_doc
         |  GROUP BY 1, 2, 3),
         |sc AS (SELECT query_doc, doc,
         |    CAST(sum(CAST(m AS DECIMAL(38,6))) AS DOUBLE) AS ms
         |  FROM pt GROUP BY 1, 2),
         |r AS (SELECT query_doc, doc, ms, row_number() OVER (
         |    PARTITION BY query_doc ORDER BY ms DESC, doc ASC) AS rnk
         |  FROM sc)
         |SELECT query_doc, CAST(rnk AS INT) AS rnk, doc,
         |  round(ms, 6) AS maxsim
         |FROM r WHERE rnk <= 5
         |ORDER BY query_doc NULLS FIRST, rnk NULLS FIRST,
         |  doc NULLS FIRST, maxsim NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val e = Tables.t(s, dir, "embeddings")
        val tok = e.select(expr("vec_id div 20").as("doc"),
          col("vec_id").as("tok_id"), col("embedding"))
        orderAll(graft.Engine.maxSimRetrieve(
          tok, "doc", "tok_id", "embedding",
          tok.filter(col("doc") < 3), k = 5))
    },

    // Q92r (beyond-survey) — EMBEDDING-TABLE quality audit
    // ([[graft.Engine.embeddingAudit]]): the one-row health
    // certificate checked before vectors are indexed or trained on —
    // zero-norm vectors (a broken encoder's signature), non-finite
    // components, RAGGED dimensions (a mixed-model table: every ANN
    // structure silently assumes one dim), exact duplicates. The
    // clean fixture is deterministically dirtied so the audit FIRES
    // (the q95b redaction argument): vec_id%97 → zeroed, %89 →
    // truncated to 16 dims, %83 → NaN first component — and the same
    // CASE replays in the oracle. Row-local predicates into one
    // aggregate + one distinct pre-aggregate; scan-cost at 100 TB.
    Q("q92r_embedding_audit",
      """WITH d AS (SELECT vec_id,
        |    CASE WHEN vec_id % 97 = 0
        |        THEN list_transform(embedding, x -> CAST(0 AS FLOAT))
        |      WHEN vec_id % 89 = 0 THEN embedding[1:16]
        |      WHEN vec_id % 83 = 0
        |        THEN [CAST('nan' AS FLOAT)] || embedding[2:]
        |      ELSE embedding END AS v
        |  FROM embeddings),
        |r AS (SELECT len(v) AS d,
        |    (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(v, x -> CAST(x AS DOUBLE) * x)),
        |      (a, x) -> a + x) < 1e-12) AS zero,
        |    len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0
        |      AS nonfin,
        |    v FROM d),
        |dup AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS dup_rows
        |  FROM (SELECT count(*) AS c FROM r GROUP BY v
        |        HAVING count(*) > 1))
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN zero THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_norm,
        |  CAST(sum(CASE WHEN nonfin THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonfinite,
        |  CAST(min(d) AS BIGINT) AS dim_min,
        |  CAST(max(d) AS BIGINT) AS dim_max,
        |  (min(d) <> max(d)) AS ragged, dup.dup_rows AS dup_rows
        |FROM r, dup GROUP BY dup.dup_rows
        |ORDER BY n_vecs NULLS FIRST, n_zero_norm NULLS FIRST,
        |  n_nonfinite NULLS FIRST, dim_min NULLS FIRST,
        |  dim_max NULLS FIRST, ragged NULLS FIRST,
        |  dup_rows NULLS FIRST""".stripMargin) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val dirty = e.withColumn("embedding",
        when(col("vec_id") % 97 === 0,
          transform(col("embedding"), _ => lit(0.0f)))
          .when(col("vec_id") % 89 === 0,
            slice(col("embedding"), 1, 16))
          .when(col("vec_id") % 83 === 0,
            concat(array(lit(Float.NaN)),
              slice(col("embedding"), 2, 1000000)))
          .otherwise(col("embedding")))
      orderAll(graft.Engine.embeddingAudit(dirty, "embedding"))
    },

    // Q92t (beyond-survey) — per-dimension EMBEDDING STANDARDIZATION
    // ([[graft.Engine.standardizeEmbeddings]]): z-score every
    // coordinate against the corpus-wide per-dim mean/σ (diagonal
    // whitening) — the repair step for the rogue-dimension defect
    // q92r's audit detects (one dominant dimension drowning the
    // cosine signal). The moment pass posexplodes into a groupBy(dim)
    // whose partial aggregation collapses each partition to |dims|
    // rows map-side; the |dims|-row stats table broadcasts back onto
    // the exploded rows — no data-keyed shuffle, scan-cost at 100 TB.
    // Output is SCALAR (vec_id, d, zx) rows per the q36/q38 "arrays
    // don't canonicalize" rule (the driver's pandas comparator cannot
    // hash array cells). Moments ride the DECIMAL(38,6) grid; mean/σ/z
    // divide in double with the one op order the oracle mirrors;
    // constant dims emit z=0 by contract.
    Q("q92t_standardize",
      """WITH ex AS (SELECT vec_id, CAST(dim - 1 AS INT) AS d,
        |    CAST(embedding[dim] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN
        |    unnest(generate_series(1, len(embedding))) AS t(dim)),
        |st AS (SELECT d, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |  FROM ex GROUP BY 1),
        |m AS (SELECT d, sx / n AS mean,
        |    sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)) AS sd
        |  FROM st)
        |SELECT vec_id, ex.d AS d,
        |    CASE WHEN sd > 0 THEN round((x - mean) / sd, 6)
        |      ELSE 0.0 END AS zx
        |FROM ex JOIN m ON ex.d = m.d
        |ORDER BY vec_id NULLS FIRST, d NULLS FIRST""".stripMargin) {
      (s, dir) =>
      graft.Engine.standardizeEmbeddings(
        Tables.t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id").asc_nulls_first, col("d").asc_nulls_first)
    },

    // Q92u (beyond-survey) — WHITENED cosine top-k
    // ([[graft.Engine.whitenedCosineTopK]]): q92's exact search run in
    // q92t's per-dim standardized space — the search-side closure of
    // the rogue-dimension loop (q92r detects, q92t repairs, this
    // serves). Same single moment exchange + 1-row stats broadcast as
    // q92t (the z arrays stay INTERNAL — the scalar-envelope rule
    // binds query output, not intermediates), then the q92 broadcast-
    // queries scoring with the cosine kernel running natively on the
    // ARRAY<DOUBLE> z vectors. The zx grid is the q92t-proven decimal
    // grid, so both engines fold identical doubles in identical order.
    Q("q92u_whitened_topk",
      s"""WITH $zListCtes,
         |q AS (SELECT vec_id AS query_id, z AS qz FROM zl
         |  WHERE vec_id < 5),
         |scored AS (SELECT query_id, vec_id,
         |    round(${Similarity.cosineSql("qz", "z")}, 6) AS cos_sim
         |  FROM q CROSS JOIN zl),
         |ranked AS (SELECT query_id, vec_id, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rnk
         |  FROM scored)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
         |FROM ranked WHERE rnk <= 3
         |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST,
         |  vec_id NULLS FIRST, cos_sim NULLS FIRST""".stripMargin) {
      (s, dir) =>
      orderAll(graft.Engine.whitenedCosineTopK(
        Tables.t(s, dir, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, k = 3))
    },

    // Q92o (beyond-survey) — embedding CENTROID DRIFT between
    // consecutive cohorts ([[graft.Engine.centroidDrift]], cohort =
    // vec_id % 4 standing in for the ingest day): per-cohort mean
    // vector, then per adjacent pair the centroid cosine and L2 shift
    // — the embedding-space companion to the scalar drift family
    // (q46f–q46i): an encoder version bump, a new site mix, or a
    // language-share move walks the centroid before any scalar column
    // drifts. One posexplode pass map-side-partials into a
    // (|cohorts|·dims)-row aggregate — the shuffle is config-sized
    // regardless of corpus size — and the pairing join + folds run on
    // that centroid table, never on vectors. Decimal-grid folds of
    // 9-dp-rounded terms keep both engines on identical term lists.
    Q("q92o_centroid_drift",
      s"""WITH exx AS (SELECT CAST(vec_id % 4 AS BIGINT) AS c,
         |    CAST(dim AS INT) AS d, CAST(embedding[dim] AS DOUBLE) AS x
         |  FROM embeddings CROSS JOIN
         |    unnest(generate_series(1, len(embedding))) AS t(dim)),
         |cent AS (SELECT c, d, round(${graft.Canon.avgDecSql("x")}, 9)
         |    AS m
         |  FROM exx GROUP BY c, d),
         |j AS (SELECT a.c AS cohort_a, a.m AS ma, b.m AS mb
         |  FROM cent a JOIN cent b ON b.c = a.c + 1 AND b.d = a.d)
         |SELECT cohort_a, cohort_a + 1 AS cohort_b,
         |  round(CAST(sum(CAST(round(ma*mb, 9) AS DECIMAL(38,9)))
         |      AS DOUBLE)
         |    / sqrt(CAST(sum(CAST(round(ma*ma, 9) AS DECIMAL(38,9)))
         |        AS DOUBLE)
         |      * CAST(sum(CAST(round(mb*mb, 9) AS DECIMAL(38,9)))
         |        AS DOUBLE)), 6) AS cos_sim,
         |  round(sqrt(CAST(sum(CAST(round((ma-mb)*(ma-mb), 9)
         |      AS DECIMAL(38,9))) AS DOUBLE)), 6) AS l2_shift
         |FROM j GROUP BY 1
         |ORDER BY cohort_a NULLS FIRST, cohort_b NULLS FIRST,
         |  cos_sim NULLS FIRST, l2_shift NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.centroidDrift(
          Tables.t(s, dir, "embeddings"), "embedding",
          col("vec_id") % 4))
    },

    // Q99e (beyond-survey) — IVF-PQ combined search, the two ANN halves
    // composed the way a billion-vector index runs: IVF cells prune the
    // corpus to each query's nprobe=2 nearest cells, PQ asymmetric
    // distance scores only those candidates from their codes — with the
    // STANDARD residual construction ([[graft.Engine.ivfPqSearch]]):
    // codes quantize r = x − μ_cell against a codebook that lives in
    // the residual space ([[graft.Engine.pqSeedResidualCodebook]], the
    // r12 recall-floor fix — raw codes against data-vector entries
    // measured 0.11–0.13 recall@10), and the LUT is per (query,
    // probed cell) so the summed ADC distance is ‖q − (μ + decode)‖².
    // Centroids are the q99b seed set, codebook seeds a disjoint fixed
    // id set; encode, cells, residuals, LUT and ranking are all
    // hash-gated against the CTE replay.
    Q("q99e_ivfpq_ann", ivfPqOracleSql()) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id").isin(ivfCentroidIds: _*))
      val cb = graft.Engine.pqSeedResidualCodebook(e, "vec_id",
        "embedding", cents, "vec_id", "embedding", pqResidualSeedIds)
      orderAll(graft.Engine.ivfPqSearch(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        cents, "vec_id", "embedding", cb, "cb_id", "cb_vec",
        blocks = 8, nprobe = 2, k = 3))
    },

    // Q99m (beyond-survey) — IVF-PQ with RAW-VECTOR RERANK
    // ([[graft.Engine.ivfPqSearch]] `rerank`): q99e's ADC pass kept as
    // the candidate COMPRESSOR, its top-10 shortlist re-scored with
    // the exact rounded cosine against raw vectors — the FAISS-style
    // refine that r14's RECALL ledger measured at parity with the IVF
    // probe ceiling (0.7836 vs 0.7841 at the sf1 fixture, R=512 on the
    // trained scale geometry; this registered toy geometry makes the
    // construction oracle-replayable). Scale shape: the shortlist is
    // |Q|·R ids — config-sized — so the refine is one broadcast hash
    // join re-reading ONLY shortlist vectors; no second scan-wide
    // shuffle, quantization noise gone from the final ranking.
    Q("q99m_ivfpq_rerank", ivfPqOracleSql(rerank = 10)) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id").isin(ivfCentroidIds: _*))
      val cb = graft.Engine.pqSeedResidualCodebook(e, "vec_id",
        "embedding", cents, "vec_id", "embedding", pqResidualSeedIds)
      orderAll(graft.Engine.ivfPqSearch(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        cents, "vec_id", "embedding", cb, "cb_id", "cb_vec",
        blocks = 8, nprobe = 2, k = 3, rerank = 10))
    },

    // Q99f (beyond-survey) — HYPERPLANE multi-table OR-LSH
    // ([[graft.Engine.lshTopKHyper]]): q99's growth axis past the
    // dimension cap. q99/q99d spend 2 embedding coordinates per code
    // bit over disjoint per-table ranges, so 64 dims hard-caps the
    // family at 4 tables × 8 bits — and RECALL.json records recall
    // decaying as the corpus outgrows that ceiling (0.74 at 2k
    // vectors for the sized coordinate path vs 0.90 for this one,
    // same probe). Here every bit is the sign of a whole-vector dot
    // product with a deterministic md5-derived ±1/0 hyperplane (the
    // q92h projection matrix rule), so `bits` follows Engine.annBits
    // with NO dim bound and `tables` is the recall lever. All
    // tables·bits projections run in one fused SignProject codegen
    // loop (exact fixed-point — the sign test is deterministic);
    // buckets assemble in-row; the oracle replays matrix, sizing
    // rule, buckets, Hamming-1 probes and ranking from scratch.
    Q("q99f_hyperplane_ann", hyperAnnOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val bits = graft.Engine.annBits(e.count(), targetBucket = 32,
        maxBits = 16)
      orderAll(graft.Engine.lshTopKHyper(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 3,
        tables = 8, bits = bits))
    },

    // Q99n (beyond-survey) — WHITENED hyperplane ANN
    // ([[graft.Engine.whitenedLshTopKHyper]]): the q99f index built and
    // probed in the q92t-standardized space — the 100 TB SERVING shape
    // of the rogue-dimension loop (q92r audits, q92t repairs, q92u is
    // the exact/oracle search; an index must live in the SAME space the
    // ranking scores in, or bucket geometry and ranking geometry
    // disagree — a rogue dimension owns the sign of nearly every
    // hyperplane dot product, so buckets collapse along it exactly as
    // the cosine does). One moment exchange + 1-row stats broadcast
    // (the q92t shape), then the q99f machinery verbatim over the z
    // rows — the SignProject kernel runs natively on ARRAY<DOUBLE>, and
    // the 6-dp z grid makes its long fixed-point rounding lossless, so
    // both engines compute identical sign bits. Whitened-vs-raw recall
    // at the stress fixtures is ledgered in RECALL.json (its
    // `whitened_*` columns); this registration hash-gates the construction.
    // GEOMETRY (r16): tables=8 here is the HASH-GATE geometry — a
    // fixed, oracle-replayable construction over the bounded k=3 query
    // set, kept stable so round-over-round hashes compare. It is NOT
    // the deployment sizing: a recall-targeted deployment derives the
    // table count via Engine.annTablesFor(target, annBits(n)) — the
    // fixed 8 measures 0.53 recall at the 10x stress fixture where the
    // sized count measures >=0.9 (RECALL.json's *_sizedT rows re-check
    // that claim every round).
    Q("q99n_whitened_ann", whitenedHyperAnnOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val bits = graft.Engine.annBits(e.count(), targetBucket = 32,
        maxBits = 16)
      orderAll(graft.Engine.whitenedLshTopKHyper(e, "vec_id",
        "embedding", col("vec_id") < 20, k = 3, tables = 8, bits = bits))
    },

    // Q99o (beyond-survey) — PERSISTED whitened index with FROZEN
    // standardization ([[graft.Engine.buildWhitenedHyperIndex]] /
    // [[searchWhitenedHyperIndex]]): the q99g index-artifact discipline
    // applied to q99n, closing the TRAIN/SERVE SKEW hole the in-memory
    // form hides — per-dim mean/σ are TRAINING-time statistics, so they
    // are written into the index (`stats/`) at build and applied
    // verbatim to every future query batch; a serving path that
    // re-derived moments from corpus+queries would score each batch in
    // a drifting space. The fixture makes freezing OBSERVABLE and
    // hash-gated: the index is built over the history slice
    // (vec_id % 5 ≠ 0) while the query set (vec_id < 20) includes
    // vectors OUTSIDE it — the oracle standardizes everything with
    // history-only moments, so an implementation that peeked at query
    // rows when deriving stats hash-mismatches immediately. Index
    // layout: stats/ + vecs/ (standardized corpus for exact re-scoring)
    // + buckets/ (tbl-clustered, bucket-sorted probe table); at 100 TB
    // the buckets read is one broadcast equi-join with row-group
    // skipping, history is standardized/hashed ONCE at build, and each
    // day's queries cost |Q|·tables·(bits+1) probes. tables=8 is the
    // hash-gate geometry (see q99n's note); a deployment sizes tables
    // from its recall target via Engine.annTablesFor — (tables, bits,
    // dims) are the index contract, so re-sizing means re-building.
    Q("q99o_whitened_index", whitenedIndexOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val hist = e.filter(col("vec_id") % 5 =!= 0)
      val path = IO.scratch("q99o_whitened_index", dir)
      val bits = graft.Engine.annBits(hist.count(), targetBucket = 32,
        maxBits = 16)
      graft.Engine.buildWhitenedHyperIndex(hist, "vec_id", "embedding",
        path, tables = 8, bits = bits)
      orderAll(graft.Engine.searchWhitenedHyperIndex(
        e.filter(col("vec_id") < 20), "vec_id", "embedding", path,
        k = 3, tables = 8, bits = bits))
    },

    // Q99p (beyond-survey) — WHITENED-INDEX STALENESS audit
    // ([[graft.Engine.whitenedStalenessAudit]]): q99o freezes per-dim
    // moments into the index, which fixes train/serve skew but means
    // the serving space goes STALE as appends drift — and no oracle
    // gate can see it, because a frozen ranking is internally
    // consistent. The q93x stale-IDF discipline, mirrored: per query,
    // top-10 overlap between serving through the FROZEN history-slice
    // moments and a FRESH full-corpus rebuild. The fixture makes the
    // drift real: the append slice (vec_id % 5 = 0) is affinely
    // drifted (x → x·1.5 + 0.3 per coordinate, applied AFTER the
    // double cast and mirrored verbatim in SQL), which moves every
    // dim's combined mean/σ away from the frozen ones — the two z
    // spaces visibly disagree and overlap drops below 1.0, which is
    // the number that decides rebuild cadence (RECALL.json ledgers the
    // same audit's mean at both stress fixtures). Both rankings are
    // the EXACT whitened search, so the overlap isolates moment drift
    // from LSH bucket noise; queries include drifted vectors
    // (vec_id 0/5/10/15 < 20) — new data served through old stats,
    // exactly the deployment hazard.
    Q("q99p_whitened_staleness", whitenedStalenessOracleSql) {
      (s, dir) =>
        val e = Tables.t(s, dir, "embeddings")
        // drift AFTER the double cast, identically to the oracle's
        // CASE on the CAST(... AS DOUBLE) column; both branches map to
        // ARRAY<DOUBLE> so the column type is drift-independent
        val drifted = e.withColumn("embedding",
          when(col("vec_id") % 5 === 0,
            transform(col("embedding"),
              x => x.cast("double") * lit(1.5) + lit(0.3)))
            .otherwise(transform(col("embedding"),
              x => x.cast("double"))))
        orderAll(graft.Engine.whitenedStalenessAudit(drifted, "vec_id",
          "embedding", isHistory = col("vec_id") % 5 =!= 0,
          isQuery = col("vec_id") < 20, k = 10))
    },

    // Q93j (beyond-survey) — BM25 top-k RETRIEVAL: q93h's scorer
    // generalized to a per-query inverted-index search
    // ([[graft.Engine.bm25Search]]) — every query doc (doc_id < 5, the
    // q99c bounded-query convention) retrieves its top-5 corpus
    // neighbors by BM25 over its own distinct tokens, self-match
    // excluded. The retrieval pass of dedup-by-retrieval and RAG-corpus
    // curation; see the operator Scaladoc for the broadcast-dims /
    // pruned-postings plan.
    Q("q93j_bm25_search", bm25SearchOracleSql) { (s, dir) =>
      orderAll(graft.Engine.bm25Search(Tables.t(s, dir, "documents"),
        col("doc_id"), col("text"), col("doc_id") < 5, k = 5))
    },

    // Q93x (beyond-survey) — STALE-IDF drift audit for an append-only
    // search index ([[graft.Engine.bm25StaleIdfAudit]]): per query, the
    // top-10 overlap between the ranking served with FROZEN corpus
    // stats (N, avgdl, df from the pre-append doc_id%5≠0 slice —
    // postings appended, stats not rebuilt; a delta-only term carries
    // df=0, i.e. maximal IDF) and the fresh full rebuild. BM25 scores
    // are functions of GLOBAL statistics, so append-only serving is
    // approximate BY CONSTRUCTION — unlike the MinHash index, whose
    // q99h-style append equivalence is exact. This audit prices that
    // approximation into a number (overlap@10 per query), which is
    // what decides WHEN a rebuild is due. Two rankings share the scan;
    // the comparison join touches k rows per query.
    Q("q93x_stale_idf_audit",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, len(w) AS dl, w FROM d),
        |stf AS (SELECT count(*) AS n,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        |  FROM dl),
        |sth AS (SELECT count(*) AS n,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        |  FROM dl WHERE doc_id % 5 <> 0),
        |tok AS (SELECT doc_id, dl, unnest(w) AS t FROM dl),
        |qt AS (SELECT DISTINCT doc_id AS qid, t FROM tok
        |  WHERE doc_id < 5 AND doc_id % 5 <> 0),
        |dff AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok
        |  WHERE t IN (SELECT t FROM qt) GROUP BY t),
        |dfh AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok
        |  WHERE doc_id % 5 <> 0 AND t IN (SELECT t FROM qt) GROUP BY t),
        |ft AS (SELECT doc_id, dl, t, count(*) AS tf FROM tok
        |  WHERE t IN (SELECT t FROM qt) GROUP BY doc_id, dl, t),
        |sF AS (SELECT q.qid, f.doc_id,
        |    (CAST(n + 1 AS DOUBLE) / (CAST(df AS DOUBLE) + 0.5e0))
        |      * (CAST(tf AS DOUBLE) * 2.2e0)
        |      / (CAST(tf AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0 *
        |          (CAST(dl AS DOUBLE) / avgdl))) AS sc
        |  FROM ft f JOIN qt q ON f.t = q.t AND f.doc_id != q.qid
        |  JOIN dff ON dff.t = f.t CROSS JOIN stf),
        |sH AS (SELECT q.qid, f.doc_id,
        |    (CAST(n + 1 AS DOUBLE)
        |      / (CAST(coalesce(dfh.df, 0) AS DOUBLE) + 0.5e0))
        |      * (CAST(tf AS DOUBLE) * 2.2e0)
        |      / (CAST(tf AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0 *
        |          (CAST(dl AS DOUBLE) / avgdl))) AS sc
        |  FROM ft f JOIN qt q ON f.t = q.t AND f.doc_id != q.qid
        |  LEFT JOIN dfh ON dfh.t = f.t CROSS JOIN sth),
        |rF AS (SELECT qid AS query_id, doc_id FROM (
        |  SELECT qid, doc_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY
        |        CAST(sum(CAST(sc AS DECIMAL(38,6))) AS DOUBLE) DESC,
        |        doc_id ASC) AS rn
        |    FROM sF GROUP BY qid, doc_id) WHERE rn <= 10),
        |rH AS (SELECT qid AS query_id, doc_id FROM (
        |  SELECT qid, doc_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY
        |        CAST(sum(CAST(sc AS DECIMAL(38,6))) AS DOUBLE) DESC,
        |        doc_id ASC) AS rn
        |    FROM sH GROUP BY qid, doc_id) WHERE rn <= 10),
        |qs AS (SELECT DISTINCT qid FROM qt),
        |ov AS (SELECT f.query_id, count(*) AS c
        |  FROM rF f JOIN rH h ON f.query_id = h.query_id
        |    AND f.doc_id = h.doc_id
        |  GROUP BY 1)
        |SELECT qid AS query_id,
        |  CAST(coalesce(c, 0) AS BIGINT) AS n_common,
        |  round(CAST(coalesce(c, 0) AS DOUBLE) / 10.0, 6)
        |    AS overlap_ratio
        |FROM qs LEFT JOIN ov ON ov.query_id = qs.qid
        |ORDER BY query_id NULLS FIRST, n_common NULLS FIRST,
        |  overlap_ratio NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.bm25StaleIdfAudit(
        Tables.t(s, dir, "documents"), col("doc_id"), col("text"),
        col("doc_id") < 5 && col("doc_id") % 5 =!= 0,
        col("doc_id") % 5 =!= 0, k = 10))
    },

    // Q93r (beyond-survey) — HYBRID text+vector retrieval via
    // RECIPROCAL-RANK FUSION ([[graft.Engine.rrfFuse]], Cormack et al.
    // 2009): each query's q93j BM25 top-20 and q92 cosine top-20
    // (self excluded on both sides — doc and vector ids share the
    // fixture's id space) fuse as Σ 1/(60+rank), surfacing items high
    // on EITHER list with NO score calibration between the BM25 scale
    // and the cosine scale — the reason RRF, not score averaging, is
    // the production hybrid-search default. The fusion join touches
    // only lean (query, item, rank) rows — text and vectors never
    // reach it; rank ties break on item id and the two reciprocal
    // terms add in one pinned IEEE order, so the fused ranking
    // hash-matches.
    Q("q93r_hybrid_rrf", hybridRrfOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val text = graft.Engine.bm25Search(Tables.t(s, dir, "documents"),
          col("doc_id"), col("text"), col("doc_id") < 5, k = 20)
        .select(col("query_id"), col("doc_id").as("item"), col("rnk"))
      val wv = Window.partitionBy(col("query_id"))
        .orderBy(col("rnk").asc)
      val vec = graft.Engine.cosineTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 21)
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__rr", row_number().over(wv))
        .filter(col("__rr") <= 20)
        .select(col("query_id"), col("vec_id").as("item"),
          col("__rr").cast("int").as("rnk"))
      orderAll(graft.Engine.rrfFuse(text, vec, "query_id", "item",
        "rnk", k = 5))
    },

    // Q93w (beyond-survey) — N-GRAM DIVERSITY audit (distinct-n)
    // ([[graft.Engine.distinctNgramRatios]]): per source and n ∈ {1,2},
    // the distinct/total n-gram ratio — the standard diversity readout
    // for SYNTHETIC or heavily-filtered corpora: mode-collapsed
    // generation repeats constructions, and distinct-2 falls long
    // before eye inspection sees it (the self-BLEU family's cheap,
    // exact cousin). Complements q93q (vocab growth over time) with a
    // per-stratum structural ratio. One exploded pass per n; total is
    // a plain count, distinct routes through the (source, gram)
    // pre-aggregate — the exchange carries the gram domain.
    Q("q93w_distinct_ngrams",
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws
        |  FROM documents),
        |u1 AS (SELECT source, unnest(ws) AS g FROM w),
        |t1 AS (SELECT source, CAST(1 AS INT) AS n,
        |    CAST(count(*) AS BIGINT) AS total_ngrams,
        |    CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams
        |  FROM u1 GROUP BY 1),
        |u2 AS (SELECT source, unnest(list_transform(
        |      generate_series(1, len(ws) - 1),
        |      i -> concat_ws(' ', ws[i], ws[i + 1]))) AS g
        |  FROM w WHERE len(ws) >= 2),
        |t2 AS (SELECT source, CAST(2 AS INT) AS n,
        |    CAST(count(*) AS BIGINT) AS total_ngrams,
        |    CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams
        |  FROM u2 GROUP BY 1)
        |SELECT source AS stratum, n, total_ngrams, distinct_ngrams,
        |  round(CAST(distinct_ngrams AS DOUBLE)
        |    / CAST(total_ngrams AS DOUBLE), 6) AS distinct_ratio
        |FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
        |ORDER BY stratum NULLS FIRST, n NULLS FIRST,
        |  total_ngrams NULLS FIRST, distinct_ngrams NULLS FIRST,
        |  distinct_ratio NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.distinctNgramRatios(
        Tables.t(s, dir, "documents"), col("source"), col("text"),
        ns = Seq(1, 2)))
    },

    // Q93s (beyond-survey) — TRIANGLE COUNT + clustering coefficient
    // ([[graft.Engine.triangleStats]]) over the q93o co-occurrence
    // graph (edges = word pairs co-occurring ≥ 3 times): graph-shape
    // diagnostics for the similarity/co-occurrence graphs curation
    // passes produce. The operator uses the classic DEGREE-ORDERED
    // ORIENTATION — every edge points from its lower-(degree, id)
    // endpoint, bounding each vertex's out-degree by O(√E) so the
    // wedge self-join is O(E^1.5) worst-case instead of Σdeg² (one
    // 10⁶-degree hub would otherwise emit 10¹² wedges); each triangle
    // counts once at its minimum-(degree, id) vertex. The oracle
    // counts via the id-ordered closure join — an algebraically
    // different route to the same exact totals, so the equality is
    // itself evidence both plans are right.
    Q("q93s_graph_triangles",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS w,
        |    generate_subscripts(ws, 1) AS pos FROM w),
        |pairs AS (SELECT least(a.w, b.w) AS u, greatest(a.w, b.w) AS v,
        |    count(*) AS cnt
        |  FROM t a JOIN t b
        |    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
        |  WHERE a.w <> b.w GROUP BY 1, 2),
        |edges AS (SELECT u, v FROM pairs WHERE cnt >= 3),
        |deg AS (SELECT x, count(*) AS d FROM
        |  (SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
        |  GROUP BY 1),
        |tr AS (SELECT count(*) AS n_triangles FROM edges e1
        |  JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
        |tot AS (SELECT count(*) AS n_nodes,
        |  CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
        |ec AS (SELECT count(*) AS n_edges FROM edges)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(n_edges AS BIGINT) AS n_edges, n_wedges,
        |  CAST(n_triangles AS BIGINT) AS n_triangles,
        |  CASE WHEN n_wedges > 0 THEN
        |    round(3.0e0 * CAST(n_triangles AS DOUBLE)
        |      / CAST(n_wedges AS DOUBLE), 6) END AS clustering_coeff
        |FROM tot, ec, tr
        |ORDER BY n_nodes NULLS FIRST, n_edges NULLS FIRST,
        |  n_wedges NULLS FIRST, n_triangles NULLS FIRST,
        |  clustering_coeff NULLS FIRST""".stripMargin) { (s, dir) =>
      val pairs = skipGramPairs(Tables.t(s, dir, "documents"),
          split(col("text"), " "), window = 2)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .select(least(col("w1"), col("w2")).as("u"),
          greatest(col("w1"), col("w2")).as("v"), col("cnt"))
        .groupBy("u", "v").agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") >= 3)
      orderAll(graft.Engine.triangleStats(pairs, col("u"), col("v")))
    },

    // Q93t (beyond-survey) — sliding-window TOKEN CHUNKING with
    // overlap ([[graft.Engine.ragChunks]]): every document split into
    // 30-token chunks every 20 tokens (10 tokens of shared context),
    // the RAG-ingestion pass that feeds an embedding index — kept
    // PURELY per-row (a bounded sequence() explode; tokens never
    // leave their row, no shuffle, no state), so at 100 TB it is
    // embarrassingly parallel map work landing collocated with its
    // source. The short final chunk is kept — dropping it would lose
    // every document's tail from retrieval.
    Q("q93t_rag_chunks",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    unnest(generate_series(1, len(ws), 20)) AS st, ws FROM t)
        |SELECT doc_id, CAST((st - 1) // 20 AS INT) AS chunk_index,
        |  array_to_string(list_slice(ws, st, st + 29), ' ')
        |    AS chunk_text,
        |  CAST(len(list_slice(ws, st, st + 29)) AS INT) AS n_tokens
        |FROM c
        |ORDER BY doc_id NULLS FIRST, chunk_index NULLS FIRST,
        |  chunk_text NULLS FIRST, n_tokens NULLS FIRST
        |LIMIT 5000""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.ragChunks(Tables.t(s, dir, "documents"),
        col("doc_id"), col("text"), window = 30, stride = 20))
        .limit(5000)
    },

    // Q93u (beyond-survey) — K-CORE DECOMPOSITION
    // ([[graft.Engine.kCore]]) of the q93s co-occurrence graph: the
    // maximal subgraph where every word keeps ≥ 10 co-occurrence
    // neighbors — the dense-heart extractor that separates a
    // similarity graph's core from its pendant fuzz before
    // clustering. Synchronous peeling, 4 bounded rounds (two keyed
    // aggregates + two semi-joins per round, no driver data); on
    // this gram-saturated fixture the peel converges in ROUND 1 and
    // the remaining rounds are idempotent no-ops — the oracle
    // replays all 4 rounds as unrolled CTEs, so the idempotence
    // itself is hash-verified (the multi-round peel dynamics are
    // pinned by the EngineSpec chain fixture, where each round
    // strips one layer). Emits the surviving (node, degree) rows.
    Q("q93u_kcore", kCoreOracleSql(k = 10, rounds = 4)) { (s, dir) =>
      val pairs = skipGramPairs(Tables.t(s, dir, "documents"),
          split(col("text"), " "), window = 2)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .select(least(col("w1"), col("w2")).as("u"),
          greatest(col("w1"), col("w2")).as("v"), col("cnt"))
        .groupBy("u", "v").agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") >= 3)
      orderAll(graft.Engine.kCore(pairs, col("u"), col("v"), k = 10,
        rounds = 4))
    },

    // Q93v (beyond-survey) — LABEL-PROPAGATION COMMUNITIES
    // ([[graft.Engine.labelPropagation]]) on the q93s co-occurrence
    // graph: the partitioner complementing q93u's single dense core —
    // every node adopts its neighbors' most frequent label each round
    // (ties to the smallest label; SYNCHRONOUS updates make each round
    // a deterministic function of the last, so the oracle replays the
    // same 4 rounds as unrolled CTEs — classic async LPA is
    // order-dependent and could never hash-match). On this saturated
    // fixture the graph is one dense clump and LPA rightly converges
    // to a single label — the modular two-clique dynamics are pinned
    // by the EngineSpec fixture. Two keyed exchanges per round over
    // localCheckpoint-truncated frames (the q93u lineage discipline).
    Q("q93v_communities", lpaOracleSql(rounds = 4)) { (s, dir) =>
      val pairs = skipGramPairs(Tables.t(s, dir, "documents"),
          split(col("text"), " "), window = 2)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .select(least(col("w1"), col("w2")).as("u"),
          greatest(col("w1"), col("w2")).as("v"), col("cnt"))
        .groupBy("u", "v").agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") >= 3)
      orderAll(graft.Engine.labelPropagation(pairs, col("u"), col("v"),
        rounds = 4))
    },

    // Q93k (beyond-survey) — deterministic training-export SHUFFLE +
    // SHARDING ([[graft.Engine.shardShuffle]]): shard = md5(seed:id)
    // mod 8, position = hash rank within the shard — the
    // write-training-shards pass where example order must look random
    // yet reproduce bit-for-bit across reruns/engines/partitioning
    // (orderBy(rand()) is none of those) and stay stable under corpus
    // growth. One hash exchange on the shard id + per-shard sort — the
    // exact physical layout the shard files need, with no global-order
    // range exchange anywhere.
    Q("q93k_shard_shuffle", shardShuffleOracleSql) { (s, dir) =>
      orderAll(graft.Engine.shardShuffle(Tables.t(s, dir, "documents"),
          col("doc_id"), seed = "42", shards = 8)
        .select(col("doc_id"), col("shard"), col("pos")))
    },

    // Q95f (beyond-survey) — GOPHER-style rule-based quality gates (cf.
    // Rae et al. 2021 §A1.1): word-count bounds, mean word length,
    // alphabetic-word fraction, distinct-stopword floor and max word
    // length, each reported per document with the combined pass flag.
    // Complements q95's ratio score with the hard-threshold filter
    // family production curation actually stacks. Pure per-row
    // projection — no join, no shuffle; the pass predicate evaluates
    // over the ROUNDED metrics so the boolean is engine-stable by
    // construction.
    Q("q95f_gopher_rules",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w, text
        |  FROM documents),
        |m AS (SELECT *, $gopherMetricsSql FROM t)
        |SELECT doc_id, n_words, mean_wl, alpha_frac, n_stop, max_wl,
        |  ($gopherPassSql) AS gopher_pass
        |FROM m
        |ORDER BY doc_id NULLS FIRST, n_words NULLS FIRST,
        |  mean_wl NULLS FIRST, alpha_frac NULLS FIRST, n_stop NULLS FIRST,
        |  max_wl NULLS FIRST, gopher_pass NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Tables.t(s, dir, "documents")
          .select(col("doc_id") +:
            gopherMetrics.map { case (n, c) => c.as(n) }: _*)
          .withColumn("gopher_pass", gopherPass))
    },

    // Q92j (beyond-survey) — SEMANTIC decontamination
    // ([[graft.Engine.semanticDecontaminate]]): flag corpus vectors
    // within rounded cosine ≥ 0.3 (the q92b near-dup threshold on this
    // near-uniform corpus) of ANY benchmark vector. The embedding-space
    // counterpart of q90b: lexical gram overlap misses paraphrased/
    // translated leakage; this catches it. The benchmark set is the
    // FIXED id slice vec_id < 25 (present at every scale), not a
    // percentage sample: benchmark suites are fixed-size while the
    // corpus grows — a fractional sample would quietly turn the
    // registered query quadratic (the r9 sf1 sweep measured 12.9 s for
    // the 5 %-sample form vs linear for this one), violating the very
    // broadcast-and-scan-once contract the operator documents.
    Q("q92j_semantic_decontaminate", semanticDecontaminateOracleSql) {
      (s, dir) =>
        orderAll(graft.Engine.semanticDecontaminate(
          Tables.t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 25, tau = 0.3))
    },

    // Q90i (beyond-survey) — train/test SPLIT-LEAKAGE audit: q90b's
    // decontamination operator pointed at the pipeline's own q09e
    // hash-splits — flag every TRAIN document sharing an 8-gram with
    // the held-out TEST split (val excluded from both sides). The
    // honest-eval gate that must run after any split assignment: hash
    // splitting is leakage-free only at the DOCUMENT level, and this
    // measures the n-gram leakage that survives it. Same scale shape as
    // q90b: test grams are a fixed-size distinct set vs a growing
    // corpus, equi-join on the gram, never doc×doc.
    Q("q90i_split_leakage", splitLeakageOracleSql) { (s, dir) =>
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("int")
      val isTrain = h * 100 < lit(80 * 65536)
      val isTest = h * 100 >= lit(90 * 65536)
      orderAll(graft.Engine.decontaminate(
        Tables.t(s, dir, "documents").filter(isTrain || isTest),
        col("doc_id"), col("text"), isTest, n = 8))
    },

    // Q93l (beyond-survey) — DSIR importance WEIGHTS (Xie et al. 2023,
    // Data Selection via Importance Resampling): score every document
    // by the log-likelihood ratio of its hashed unigram+bigram counts
    // under a target distribution (here the lang='en' slice — the
    // trusted-quality stand-in) vs the raw corpus, Laplace-smoothed
    // over 256 md5 buckets. The model-free "does this look like the
    // data I want more of" scorer that sits between q95's hard rules
    // and q95d's LM perplexity in every production curation stack. See
    // [[graft.Engine.dsirWeights]] for the single-explode / B-bounded-
    // distribution / broadcast-ratio plan.
    Q("q93l_dsir_weights", dsirWeightsOracleSql) { (s, dir) =>
      orderAll(graft.Engine.dsirWeights(Tables.t(s, dir, "documents"),
        col("doc_id"), col("text"), col("lang") === "en"))
    },

    // Q93m (beyond-survey) — DSIR importance RESAMPLING: the selection
    // half of q93l — Gumbel top-k over the importance weights draws the
    // 25 documents a target-matched corpus keeps, with the Gumbel
    // uniform derived from the doc key's md5 (the q09c discipline) so
    // the sampled training set reproduces bit-for-bit across engines,
    // reruns and partitioning. TakeOrderedAndProject, no global sort.
    Q("q93m_dsir_resample", dsirResampleOracleSql) { (s, dir) =>
      graft.Engine.dsirResample(Tables.t(s, dir, "documents"),
        col("doc_id"), col("text"), col("lang") === "en", k = 25)
    },

    // Q90j (beyond-survey) — canonical-copy selection over the q98b
    // SimHash clustering: keep the LONGEST member of every cluster
    // (n_chars argmax, doc-id tiebreak) instead of applyDedup's min-id
    // rule — the production "which copy survives dedup" policy, where
    // the canonical copy should be the most complete one, not the one
    // with the smallest key. See [[graft.Engine.keepBest]] for the
    // join + rank-1 WindowGroupLimit plan.
    Q("q90j_keep_best", keepBestOracleSql) { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
      orderAll(graft.Engine.keepBest(
        graft.Engine.simhashClusters(d, col("doc_id"), col("text")),
        "doc_id", "cluster_id", d, "doc_id", col("n_chars")))
    },

    // Q90w (beyond-survey) — DEDUP-THEN-UPWEIGHT
    // ([[graft.Engine.survivorWeights]], the data-constrained scaling
    // recipe): one survivor per q98b SimHash cluster carrying
    // weight = cluster size, weight 1 for unclustered docs, so
    // Σ weights == corpus size (spec-asserted) and a weight-
    // proportional sampler reproduces the original frequency mass
    // without training on byte-near-identical repeats. This is the
    // half of dedup plain removal throws away: occurrence COUNT is
    // signal, and epoch-limited training wants it as a sampling
    // weight, not as copies. One cluster aggregate + one anti-join.
    Q("q90w_survivor_weights",
      s"""$simhashClusterCtes,
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS weight,
         |    min(doc_id) AS keep FROM asg GROUP BY 1)
         |SELECT doc_id, weight FROM (
         |  SELECT keep AS doc_id, weight FROM sz
         |  UNION ALL
         |  SELECT d.doc_id, CAST(1 AS BIGINT) AS weight
         |  FROM documents d LEFT JOIN asg ON d.doc_id = asg.doc_id
         |  WHERE asg.doc_id IS NULL)
         |ORDER BY doc_id NULLS FIRST, weight NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val d = Tables.t(s, dir, "documents")
        orderAll(graft.Engine.survivorWeights(d, "doc_id",
          graft.Engine.simhashClusters(d, col("doc_id"), col("text")),
          "doc_id", "cluster_id"))
    },

    // Q92k (beyond-survey) — cluster-BALANCED capping: nearest-centroid
    // assignment (the q99b cells) + a per-cell cap of 40 by stable md5
    // rank — q95e's per-source cap moved into embedding space, where
    // template-skew actually lives (one boilerplate template spans many
    // domains; a source cap cannot see it, a semantic-cell cap can).
    // Centroids broadcast, assignment is exchange-free, the cap is one
    // WindowGroupLimit-pruned shuffle on the cell id
    // ([[graft.Engine.clusterCap]]).
    Q("q92k_cluster_cap", clusterCapOracleSql) { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      orderAll(graft.Engine.clusterCap(e, "vec_id", "embedding",
        e.filter(col("vec_id").isin(ivfCentroidIds: _*)),
        "vec_id", "embedding", cap = 40))
    },

    // Q90k (beyond-survey) — NORMALIZATION-aware exact dedup: q90's
    // hash-groupBy over [[graft.Engine.normalizeText]] canonical forms
    // (lowercase, strip non-[a-z0-9 ], collapse whitespace), so
    // formatting variants of the same content — here an upper-cased
    // shadow of every document — collapse into one group where
    // byte-exact md5 sees two. The crawl fixture makes the property
    // checkable: every group must carry BOTH the original and its
    // re-cased twin (n_copies ≥ 2 everywhere). Same one-shuffle
    // hash-agg plan as q90.
    Q("q90k_normalized_dedup",
      """WITH crawl AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) FROM documents)
        |SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS content_hash,
        |  min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM crawl GROUP BY 1
        |ORDER BY content_hash NULLS FIRST, keeper_id NULLS FIRST,
        |  n_copies NULLS FIRST""".stripMargin) { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val crawl = d.unionAll(d.select(col("doc_id") + 1000000,
        upper(col("text"))))
      orderAll(graft.Engine.exactDedup(crawl, col("doc_id"),
        graft.Engine.normalizeText(col("text"))))
    },

    // Q100b (beyond-survey) — the EXPORT capstone, composing this
    // session's surface end-to-end the way a production export job
    // stacks it: Gopher hard gates → first-occurrence dedup on the
    // NORMALIZED content hash (formatting variants collapse) →
    // token-budget temperature mix over the survivors → deterministic
    // shard manifest. The intake capstone q100 ends at packed
    // sequences; this one ends at the shipped artifact's integrity
    // record. Every stage is the registered library operator — the
    // composition is one Catalyst plan (gate and dedup fuse into the
    // scan; mix adds a broadcast rates dim; the manifest reuses the
    // shard exchange), so the capstone also demonstrates that the ops
    // compose without materialization barriers.
    Q("q100b_export_pipeline", exportPipelineOracleSql) { (s, dir) =>
      val gated = Tables.t(s, dir, "documents")
        .withColumns(gopherMetrics.toMap)
        .filter(gopherPass)
        .select("doc_id", "lang", "n_chars", "text")
      // first-occurrence selection as a window MIN over the hash — ONE
      // exchange on the content hash, and the regex-normalize chain
      // runs once per row (a groupBy+self-join re-derives the hash on
      // both sides and shuffles twice; measured 9.9 s → this form at
      // the 10× fixture)
      // persisted: tokenBudgetMix reads the survivors twice (stratum
      // rate aggregate + the keep join) — without the pin the gate +
      // normalize + dedup-window subtree executes twice
      import graft.Engine.PersistOnceOps
      val kept = gated
        .withColumn("__h", md5(graft.Engine.normalizeText(col("text"))))
        .withColumn("__keep",
          min(col("doc_id")).over(Window.partitionBy(col("__h"))))
        .filter(col("doc_id") === col("__keep"))
        .drop("__h", "__keep")
        .persistOnce()
      val mixed = graft.Engine.tokenBudgetMix(kept, col("doc_id"),
        "lang", col("n_chars"), budget = 20000.0)
      orderAll(graft.Engine.exportManifest(mixed, col("doc_id"),
        col("n_chars"), seed = "42", shards = 8))
    },

    // Q100c (beyond-survey) — the INCREMENTAL curation capstone: the
    // nightly path where only the DELTA flows through the pipeline.
    // Compose: the q58b snapshot diff selects added+modified docs (the
    // day's effective new content) → exact content dedup of the delta
    // against the UNCHANGED history — an anti-join on md5(text), the
    // q90 discipline, where history contributes only its hash set (at
    // rest that set is the incrementally-maintained dedup index,
    // bucketed by hash ⇒ the anti-join co-partitions to zero exchange)
    // → length gate (standing in for the q95f Gopher gate q100/q100b
    // exercise in full) → the q93n deterministic shard manifest with
    // this pipeline's own (seed, shards). The 100 TB point IS the
    // shape: history is never re-scored, re-deduped, or re-exported —
    // it is touched exactly once, as a hash-set probe; everything
    // data-sized that moves is delta-sized. Delta is pinned
    // (persistOnce): it feeds both the history anti-join and the
    // export, and re-deriving it would re-run the diff join twice.
    // Q100d (beyond-survey) — OPS-MONITORING capstone: the drift
    // pipeline a 100 TB ingest runs nightly, composed from the REAL
    // registry operators — [[graft.Engine.dailyMeans]] →
    // [[graft.Engine.seasonalIndexDow]] (fed the daily series itself)
    // → deseasonalize (divide out each weekday's index, so Saturdays
    // stop tripping the Monday-calibrated alarm) →
    // [[graft.Engine.cusumSeries]] (the q46i detector on the
    // normalized series). Every stage is a keyed aggregate/window on
    // the already-tiny daily table; the one raw-data pass is the
    // dailyMeans rollup. Zero-or-null seasonal cells are excluded
    // before the divide (no NaN/Inf enters the hash contract).
    // Q100e (beyond-survey) — GOVERNANCE capstone: the privacy/quality
    // gate a corpus passes before it ships, composed from the round's
    // registry operators — q95b's PII redaction (typed placeholders)
    // → q95j's hashing-trick quality classifier over the REDACTED text
    // (the gate must never score raw PII) → q95i's k-anonymity audit
    // of the kept set's quasi-identifiers (lang, source, length band).
    // The output is the at-risk combo table of the corpus that would
    // actually ship — redaction scrubs direct identifiers, the
    // classifier shrinks classes, and what remains below k=5 is the
    // release blocker a privacy review reads. Plan: two pure per-row
    // maps (redact, classify) + one domain-sized audit aggregate —
    // the whole gate costs one scan at 100 TB.
    Q("q100e_governance_pipeline",
      """WITH t AS (SELECT doc_id, lang, source, n_chars,
        |    concat(text, ' reach user', CAST(doc_id AS VARCHAR),
        |      '@mail.example.com or +1-555-',
        |      substr(CAST(10000 + doc_id % 10000 AS VARCHAR), 2, 4),
        |      ' today') AS raw FROM documents),
        |r AS (SELECT doc_id, lang, source, n_chars,
        |    regexp_replace(
        |      regexp_replace(raw,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+',
        |        '<EMAIL>', 'g'),
        |      '[+][0-9]+-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]',
        |      '<PHONE>', 'g') AS red FROM t),
        |d AS (SELECT doc_id, lang, source, n_chars,
        |    list_filter(string_split(red, ' '), w -> len(w) > 0) AS ws
        |  FROM r),
        |s AS (SELECT lang, source, n_chars,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(ws, w ->
        |        CAST(((list_reduce(list_transform(range(1, len(w) + 1),
        |              i -> CAST(ascii(w[i]) AS BIGINT)),
        |            (a, b) -> (a * 257 + b) % 1000000007) % 4096)
        |            * 2654435761 + 12345) % 1048576 AS DOUBLE)
        |          / 1048576.0 - 0.5)),
        |      (acc, x) -> acc + x) AS sc
        |  FROM d)
        |SELECT lang, source,
        |  CAST(floor(n_chars / 50) AS BIGINT) AS chars_band,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE sc > 0.0
        |GROUP BY 1, 2, 3 HAVING count(*) < 5
        |ORDER BY lang NULLS FIRST, source NULLS FIRST,
        |  chars_band NULLS FIRST, n NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val emailRe =
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
        val phoneRe = "[+][0-9]+-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
        val raw = concat(col("text"), lit(" reach user"),
          col("doc_id").cast(StringType),
          lit("@mail.example.com or +1-555-"),
          substring((col("doc_id") % 10000 + 10000).cast(StringType),
            2, 4),
          lit(" today"))
        val red = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"),
            regexp_replace(regexp_replace(raw, emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>").as("red"))
        val kept = graft.Engine.hashClassifier(
            red, col("doc_id"), col("red"), buckets = 4096)
          .filter(col("keep")).select("doc_id")
        orderAll(graft.Engine.kAnonymity(
          red.join(kept, Seq("doc_id")), Seq(
            ("lang", col("lang")),
            ("source", col("source")),
            ("chars_band", floor(col("n_chars") / 50)
              .cast(org.apache.spark.sql.types.LongType))), k = 5))
    },

    Q("q100d_monitor_pipeline",
      """WITH daily AS (SELECT event_type AS k,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(count(value) AS DOUBLE), 6) AS dm
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |cells AS (SELECT k, isodow(day) AS dow,
        |    sum(CAST(dm AS DECIMAL(38,6))) AS s, count(*) AS n
        |  FROM daily GROUP BY 1, 2),
        |wc AS (SELECT *, sum(s) OVER (PARTITION BY k) AS st,
        |    sum(n) OVER (PARTITION BY k) AS nt FROM cells),
        |seas AS (SELECT k, dow,
        |    round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(nullif(st, 0) AS DOUBLE) / CAST(nt AS DOUBLE)),
        |      6) AS si FROM wc),
        |desea AS (SELECT d.k, d.day, round(dm / si, 6) AS dm
        |  FROM daily d JOIN seas
        |    ON seas.k = d.k AND seas.dow = isodow(d.day)
        |  WHERE si IS NOT NULL AND si <> 0),
        |ref AS (SELECT k,
        |    round(CAST(sum(CAST(dm AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(count(dm) AS DOUBLE), 6) AS mu_ref
        |  FROM desea WHERE day < TIMESTAMP '2024-01-15' GROUP BY 1),
        |r2 AS (SELECT k, mu_ref, round(mu_ref * 0.1e0, 6) AS kk,
        |    round(mu_ref * 0.5e0, 6) AS h FROM ref),
        |j AS (SELECT d.k, d.day, d.dm, mu_ref, kk, h,
        |    CAST(d.dm AS DECIMAL(38,6))
        |      - CAST(mu_ref AS DECIMAL(38,6))
        |      - CAST(kk AS DECIMAL(38,6)) AS dd
        |  FROM desea d JOIN r2 USING (k)),
        |p AS (SELECT *, sum(dd) OVER (PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
        |  FROM j),
        |m AS (SELECT *, least(CAST(0 AS DECIMAL(38,6)), min(pp) OVER (
        |    PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS minp
        |  FROM p)
        |SELECT k AS key, day, dm AS daily_mean, mu_ref,
        |  round(CAST(pp - minp AS DOUBLE), 6) AS cusum,
        |  ((pp - minp) > CAST(h AS DECIMAL(38,6))) AS detected
        |FROM m
        |ORDER BY key NULLS FIRST, day NULLS FIRST,
        |  daily_mean NULLS FIRST, mu_ref NULLS FIRST,
        |  cusum NULLS FIRST, detected NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val daily = graft.Engine.dailyMeans(Tables.t(s, dir, "events"),
          col("event_type"), col("ts"), col("value"))
        val seas = graft.Engine.seasonalIndexDow(daily, col("key"),
          col("day"), col("daily_mean"))
        val desea = daily
          .withColumn("isodow", (weekday(col("day")) + lit(1)).cast("int"))
          .join(seas.select(col("key"), col("isodow"),
            col("seasonal_index")), Seq("key", "isodow"))
          .filter(col("seasonal_index").isNotNull &&
            col("seasonal_index") =!= 0.0)
          .select(col("key"), col("day"),
            round(col("daily_mean") / col("seasonal_index"), 6)
              .as("daily_mean"))
        orderAll(graft.Engine.cusumSeries(desea,
          lit("2024-01-15").cast("timestamp")))
    },

    Q("q100c_incremental_pipeline", incrementalPipelineOracleSql) {
      (s, dir) =>
        import graft.Engine.PersistOnceOps
        val docs = Tables.t(s, dir, "documents")
        val snh = graft.SnapshotFixture.newSnapshot(docs)
          .withColumn("__h", graft.SnapshotFixture.digest)
        val so = graft.SnapshotFixture.oldSnapshot(docs)
          .select(col("doc_id"), graft.SnapshotFixture.digest.as("__ho"))
        val delta = snh.join(so, Seq("doc_id"), "left")
          .filter(col("__ho").isNull || col("__ho") =!= col("__h"))
          .select(col("doc_id"), col("text"), col("n_chars"))
          .persistOnce()
        val hist = snh
          .join(delta.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(md5(col("text")).as("__th")).distinct()
        val ded = delta.join(hist,
          md5(col("text")) === col("__th"), "left_anti")
        val gated = ded.filter(col("n_chars").between(50, 5000))
        orderAll(graft.Engine.exportManifest(gated, col("doc_id"),
          col("n_chars"), seed = "d1", shards = 4))
    },

    // Q93n (beyond-survey) — EXPORT MANIFEST over the q93k shard
    // layout ([[graft.Engine.exportManifest]]): per shard, row count,
    // exact char total and an order-free content checksum (sum of each
    // key's 32-bit md5 integer) — the integrity record a training-data
    // consumer re-derives to prove the shards it read are the shards
    // the pipeline wrote, independent of row order, file split and
    // read parallelism. One hash exchange, reused between the shard
    // window and the manifest aggregate.
    Q("q93n_export_manifest",
      """WITH sh AS (SELECT doc_id, n_chars,
        |    CAST(CAST('0x' || substr(md5('42:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS INT)
        |      AS shard,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) AS ck
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
        |  CAST(sum(ck) AS BIGINT) AS checksum
        |FROM sh GROUP BY shard
        |ORDER BY shard NULLS FIRST, n_docs NULLS FIRST,
        |  n_chars_total NULLS FIRST, checksum NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.exportManifest(
          Tables.t(s, dir, "documents"), col("doc_id"), col("n_chars"),
          seed = "42", shards = 8))
    },

    // Q93o (beyond-survey) — WORD CO-OCCURRENCE counts within a ±2
    // token window: the corpus pass embedding training starts from
    // (word2vec/GloVe build their matrix from exactly these skip-gram
    // pair counts; PMI-based phrase mining divides them). The pair
    // generation is ROW-LOCAL by construction — token adjacency lives
    // inside the document, so each offset j is one zip of the word
    // array with its own j-shifted self (two slices + zip_with, all
    // codegen HOFs; same argument as q94m's in-blob frame adjacency),
    // never an explode + positional self-join, which would shuffle
    // every token once per window slot to rebuild what the row already
    // holds (the oracle does exactly that — affordable at sf0.01,
    // wrong at 100 TB). The one exchange is the final count groupBy on
    // the pair key, partial-aggregated map-side, output bounded by
    // vocabulary², not corpus size. Directional pairs (left word
    // first); count cast to the oracle's BIGINT.
    Q("q93o_cooccurrence",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS w,
        |    generate_subscripts(ws, 1) AS pos FROM w)
        |SELECT a.w AS w1, b.w AS w2, count(*) AS cnt
        |FROM t a JOIN t b
        |  ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
        |GROUP BY 1, 2
        |ORDER BY w1 NULLS FIRST, w2 NULLS FIRST,
        |  cnt NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(skipGramPairs(Tables.t(s, dir, "documents"),
          split(col("text"), " "), window = 2)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt")))
    },

    // Q93p (beyond-survey) — TEXTRANK keyword scoring (Mihalcea &
    // Tarau 2004): PageRank over the word co-occurrence graph — the
    // graph-centrality complement of frequency-based term weighting
    // (q93c TF-IDF ranks by counts; TextRank ranks by how central a
    // word is in the co-occurrence structure). The arithmetic is
    // FIXED-POINT INTEGER throughout: scores scaled by 10⁶, per-edge
    // contribution pr DIV outdeg (integer division), damping applied
    // as (85·Σ) DIV 100 — zero floating point, so three engines
    // disagree in zero bits after any number of iterations (the q49c
    // EWMA determinism argument, applied to an iterative fixpoint).
    // Scale shape: ONE corpus-sized pass (the row-local q93o pair
    // kernel) extracts the edge list; everything iterative then works
    // on the VOCABULARY-sized graph — sublinear in corpus size, so the
    // three unrolled iterations are joins over a bounded table, each
    // one hash exchange on the word key (the iteration count is fixed
    // and small; a convergence-driven loop would add the
    // nearDupClusters lineage-truncation discipline). Self-loops
    // dropped; dangling words keep the (1−d) floor, identically in
    // both engines.
    Q("q93p_textrank", textrankOracleSql) { (s, dir) =>
      val edges = skipGramPairs(Tables.t(s, dir, "documents"),
          split(col("text"), " "), window = 2)
        .filter(col("w1") =!= col("w2"))
      orderAll(graft.Engine.pageRankInt(edges, "w1", "w2",
        iterations = 3))
    },

    // Q93q (beyond-survey) — VOCABULARY-GROWTH (Heaps' law) curve
    // ([[graft.Engine.vocabGrowth]]): cumulative distinct-bigram
    // vocabulary vs cumulative tokens in doc_id order, per 50-doc
    // bucket — the "is more data still buying new language, or are we
    // re-crawling the same text" corpus statistic every scaling-law
    // data ablation starts from (bigrams because this fixture's
    // unigram vocabulary saturates in bucket 0 — the statistic needs a
    // growing vocabulary to be non-vacuous). One gram explode feeds
    // both aggregates (tokens per bucket; each gram counted once in
    // its FIRST bucket via min(doc_id) per gram — one gram-keyed
    // shuffle), and the running sums run over the bucket table, whose
    // row count is the plot resolution, not data.
    Q("q93q_vocab_growth",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram
        |  FROM t, unnest(generate_series(1, len(ws) - 1)) AS g(i)),
        |fo AS (SELECT gram, min(doc_id) AS first_doc FROM w
        |  GROUP BY gram),
        |tb AS (SELECT doc_id // 50 AS bucket, count(*) AS toks FROM w
        |  GROUP BY 1),
        |vb AS (SELECT first_doc // 50 AS bucket, count(*) AS nv FROM fo
        |  GROUP BY 1),
        |j AS (SELECT tb.bucket, toks, coalesce(nv, 0) AS nv
        |  FROM tb LEFT JOIN vb ON tb.bucket = vb.bucket)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(sum(toks) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |  CAST(sum(nv) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
        |FROM j
        |ORDER BY bucket NULLS FIRST, cum_tokens NULLS FIRST,
        |  cum_vocab NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.vocabGrowth(
        Tables.t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 2, bucketWidth = 50))
    },

    // Q93z (beyond-survey) — ZIPF-SLOPE fit
    // ([[graft.Engine.zipfSlope]]): OLS of ln(freq) on ln(rank) over
    // the top-100 term frequencies — natural corpora sit near −1;
    // templated/synthetic text flattens toward 0, boilerplate floods
    // steepen past −1.5. The static rank-frequency complement of
    // q93q's Heaps-law growth curve. Corpus-sized work is ONE token
    // explode into a partial-aggregated count; the top-100 cut is a
    // TakeOrdered and the regression runs over exactly 100 rows (the
    // row_number window is bounded by the LIMIT, not the q10b trap).
    // ln terms and products round onto the 9-dp decimal grid before
    // exact decimal sums (the q11c discipline); the closed-form slope
    // divides those sums in double with one pinned op order.
    Q("q93z_zipf_slope",
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f AS (SELECT w, count(*) AS f FROM t WHERE w <> ''
        |  GROUP BY 1),
        |top AS (SELECT w, f FROM f ORDER BY f DESC, w ASC LIMIT 100),
        |r AS (SELECT row_number() OVER (ORDER BY f DESC, w ASC) AS r,
        |    f FROM top),
        |tm AS (SELECT round(ln(CAST(r AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(f AS DOUBLE)), 9) AS y FROM r),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9)))
        |      AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9)))
        |      AS DOUBLE) AS sxx
        |  FROM tm)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
        |    / n, 6) AS intercept
        |FROM s
        |ORDER BY n_terms NULLS FIRST, slope NULLS FIRST,
        |  intercept NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.zipfSlope(
        Tables.t(s, dir, "documents"), col("text"), topN = 100))
    })

  /** Shared CTE prefix of the q98 family: per-doc 64-bit SimHash, ending
    * in `shx(doc_id, sh)` — the DuckDB rendering of
    * [[graft.Engine.simhash64]]. The token hash composes both 32-bit md5
    * halves as signed (hi << 32) | lo without a 64-bit shift or multiply
    * overflow (DuckDB checks both): re-sign hi into int32 range first,
    * then the scaled sum stays inside BIGINT for every input. The
    * signature assembles per-bit flags with `|`, not `+` — bit 63's flag
    * is BIGINT min and an addition would overflow-check. `>>` sign-
    * extends in both engines; the `& 1` mask makes that irrelevant. */
  private def simhashCtes: String = {
    val sumCols = (0 until 64)
      .map(j => s"sum(((h >> $j) & 1) * 2 - 1) AS s$j").mkString(", ")
    val shExpr = (0 until 64)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${
        if (j == 63) s"CAST(${Long.MinValue} AS BIGINT)" else (1L << j).toString
      } ELSE CAST(0 AS BIGINT) END)")
      .mkString(" | ")
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |hl AS (SELECT doc_id,
       |  CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hi,
       |  CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS lo FROM tok),
       |h AS (SELECT doc_id,
       |  (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
       |    * 4294967296 + lo AS h FROM hl),
       |s AS (SELECT doc_id, $sumCols FROM h GROUP BY doc_id),
       |shx AS (SELECT doc_id, $shExpr AS sh FROM s)""".stripMargin
  }

  /** DuckDB oracle for Q98: exact all-pairs Hamming ≤ 3 (affordable at
    * sf0.01; the operator side is banded with exact recall). */
  private def simhashOracleSql: String =
    s"""WITH $simhashCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |FROM shx a JOIN shx b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST, hamming NULLS FIRST""".stripMargin

  /** Shared CTE prefix of Q98b/Q98c: SimHash → signature-representative
    * collapse → rep-level Hamming edges → recursive transitive closure →
    * `asg(doc_id, cluster_id)` — the exact-arithmetic replay of
    * [[graft.Engine.simhashClusters]]. */
  private def simhashClusterCtes: String =
    s"""WITH RECURSIVE $simhashCtes,
       |rep AS (SELECT sh, min(doc_id) AS rep_id FROM shx GROUP BY sh),
       |rp AS (SELECT a.rep_id AS a, b.rep_id AS b
       |  FROM rep a JOIN rep b ON a.rep_id < b.rep_id
       |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
       |edges AS (SELECT a, b FROM rp UNION SELECT b, a FROM rp),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |rclu AS (SELECT a AS rep_id, least(a, min(b)) AS cid
       |  FROM reach GROUP BY a),
       |asg AS (SELECT d.doc_id AS doc_id,
       |    coalesce(rclu.cid, rep.rep_id) AS cluster_id
       |  FROM shx d JOIN rep ON d.sh = rep.sh
       |  LEFT JOIN rclu ON rep.rep_id = rclu.rep_id)""".stripMargin

  /** Per-document unigram-LM scores shared by q95d (the report) and
    * q95g (the tier split): (doc_id, n_tokens, avg_neg_logp). No
    * broadcast hint on vocab: natural-language vocabularies are
    * sublinear in corpus size but NOT bounded by the data model
    * (adversarial corpora mint unique tokens), so the 8 GB
    * broadcast-build ceiling applies — AQE broadcasts at runtime iff
    * the measured size permits (the q29 discipline). The 1-row total
    * is always broadcast. */
  private def lmScores(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tok = Tables.t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val vocab = tok.groupBy("t").agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("total"))
    val term = col("tf").cast(DoubleType) *
      log(col("cnt").cast(DoubleType) / col("total").cast(DoubleType))
    tf.join(vocab, Seq("t"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        round(-(sum(term.cast(org.apache.spark.sql.types
            .DecimalType(38, 6))).cast(DoubleType)) /
          sum(col("tf")).cast(DoubleType), 6).as("avg_neg_logp"))
  }

  /** DuckDB rendering of [[lmScores]], ending in
    * `sc(doc_id, n_tokens, avg_neg_logp)`. */
  private def lmScoreCtes: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
      |vocab AS (SELECT t, count(*) AS cnt FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
      |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  round(- CAST(sum(CAST(CAST(tf AS DOUBLE) *
      |      ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
      |      AS DECIMAL(38,6))) AS DOUBLE)
      |    / CAST(sum(tf) AS DOUBLE), 6) AS avg_neg_logp
      |FROM tf JOIN vocab USING (t) CROSS JOIN tot
      |GROUP BY doc_id)""".stripMargin

  /** The Gopher hard-threshold metric set over a `text` column (Rae et
    * al. 2021 §A1.1), shared by q95f (per-doc report) and the q100b
    * export capstone (gate stage): rounded metrics, so the pass
    * boolean is engine-stable by construction. */
  private def gopherMetrics: Seq[(String, org.apache.spark.sql.Column)] = {
    val w = split(col("text"), " ")
    val nWords = size(w)
    Seq(
      "n_words" -> nWords,
      "mean_wl" -> round(length(translate(col("text"), " ", ""))
        .cast(DoubleType) / nWords, 6),
      "alpha_frac" -> round(size(filter(w, x => x.rlike("^[a-z]+$")))
        .cast(DoubleType) / nWords, 6),
      "n_stop" -> size(array_distinct(filter(w,
        x => x.isin("the", "a", "of", "and", "to")))),
      "max_wl" -> array_max(transform(w, x => length(x))))
  }

  /** The combined Gopher gate over the [[gopherMetrics]] columns. */
  private def gopherPass: org.apache.spark.sql.Column =
    col("n_words").between(50, 100000) && col("mean_wl").between(3, 10) &&
      col("alpha_frac") >= 0.8 && col("n_stop") >= 2 && col("max_wl") <= 15

  /** DuckDB rendering of [[gopherMetrics]] (select-list fragment over a
    * CTE carrying `text` and `w = string_split(text, ' ')`). */
  private def gopherMetricsSql: String =
    """CAST(len(w) AS INT) AS n_words,
      |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w), 6)
      |    AS mean_wl,
      |  round(CAST(len(list_filter(w, x -> regexp_matches(x,
      |    '^[a-z]+$'))) AS DOUBLE) / len(w), 6) AS alpha_frac,
      |  CAST(len(list_distinct(list_filter(w, x -> x = 'the'
      |    OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to'))) AS INT)
      |    AS n_stop,
      |  CAST(list_max(list_transform(w, x -> length(x))) AS INT)
      |    AS max_wl""".stripMargin

  /** DuckDB rendering of [[gopherPass]]. */
  private def gopherPassSql: String =
    "n_words BETWEEN 50 AND 100000 AND mean_wl BETWEEN 3 AND 10 " +
      "AND alpha_frac >= 0.8 AND n_stop >= 2 AND max_wl <= 15"

  /** DuckDB rendering of [[graft.Engine.normalizeText]]. */
  private def normalizeTextSql(e: String): String =
    s"trim(regexp_replace(regexp_replace(lower($e), '[^a-z0-9 ]', ' ', " +
      "'g'), ' +', ' ', 'g'))"

  /** DuckDB oracle for Q100b — the export chain unrolled: gopher gate →
    * first occurrence per normalized content hash → token-budget mix
    * (rates computed over the SURVIVORS, the same frame the Spark side
    * feeds [[graft.Engine.tokenBudgetMix]]) → shard manifest. */
  /** Q93p oracle: the q93o positional-self-join pair CTE deduped to a
    * directed edge list (self-loops dropped), then THREE UNROLLED
    * PageRank iterations in the identical fixed-point integer
    * arithmetic (score ×10⁶, contribution `pr // outdeg`, damping
    * `(85·Σ) // 100`) — no floating point anywhere, so the two engines
    * agree in every bit of every iteration. */
  private def textrankOracleSql: String = {
    def iter(i: Int): String =
      s"""c$i AS (SELECT e.dst AS word, sum(p${i - 1}.pr // od.od) AS s
         |  FROM e JOIN od USING (src)
         |  JOIN p${i - 1} ON p${i - 1}.word = e.src
         |  GROUP BY e.dst),
         |p$i AS (SELECT n.word,
         |    CAST(150000 + (85 * coalesce(c$i.s, 0)) // 100 AS BIGINT)
         |      AS pr
         |  FROM n LEFT JOIN c$i ON n.word = c$i.word)""".stripMargin
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents),
       |t AS (SELECT doc_id, unnest(ws) AS w,
       |    generate_subscripts(ws, 1) AS pos FROM w),
       |e AS (SELECT DISTINCT a.w AS src, b.w AS dst
       |  FROM t a JOIN t b
       |    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
       |  WHERE a.w <> b.w),
       |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
       |n AS (SELECT src AS word FROM e UNION SELECT dst FROM e),
       |p0 AS (SELECT word, CAST(1000000 AS BIGINT) AS pr FROM n),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT word, pr FROM p3
       |ORDER BY word NULLS FIRST, pr NULLS FIRST""".stripMargin
  }

  /** Q100c oracle: the q58b snapshot CTEs → delta selection → exact
    * content dedup of the delta against the unchanged history (LEFT
    * JOIN anti form, never NOT IN — a NULL hash must keep, not
    * annihilate) → length gate → the q93n manifest arithmetic with
    * this pipeline's own (seed, shards). */
  private def incrementalPipelineOracleSql: String =
    s"""WITH ${graft.SnapshotFixture.sqlCtes},
      |delta AS (SELECT snh.doc_id, snh.text, snh.n_chars
      |  FROM snh LEFT JOIN so ON snh.doc_id = so.doc_id
      |  WHERE so.doc_id IS NULL OR so.h <> snh.h),
      |hist AS (SELECT DISTINCT md5(snh.text) AS th FROM snh
      |  LEFT JOIN delta ON snh.doc_id = delta.doc_id
      |  WHERE delta.doc_id IS NULL),
      |ded AS (SELECT delta.doc_id, delta.n_chars FROM delta
      |  LEFT JOIN hist ON md5(delta.text) = hist.th
      |  WHERE hist.th IS NULL),
      |gated AS (SELECT doc_id, n_chars FROM ded
      |  WHERE n_chars BETWEEN 50 AND 5000),
      |sh AS (SELECT doc_id, n_chars,
      |    CAST(CAST('0x' || substr(md5('d1:' ||
      |      CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4 AS INT)
      |      AS shard,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |      AS BIGINT) AS ck
      |  FROM gated)
      |SELECT shard, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
      |  CAST(sum(ck) AS BIGINT) AS checksum
      |FROM sh GROUP BY shard
      |ORDER BY shard NULLS FIRST, n_docs NULLS FIRST,
      |  n_chars_total NULLS FIRST, checksum NULLS FIRST""".stripMargin

  private def exportPipelineOracleSql: String =
    s"""WITH t AS (SELECT doc_id, lang, n_chars, text,
       |    string_split(text, ' ') AS w FROM documents),
       |m AS (SELECT *, $gopherMetricsSql FROM t),
       |g AS (SELECT doc_id, lang, n_chars, text FROM m
       |  WHERE $gopherPassSql),
       |k AS (SELECT *, min(doc_id) OVER (PARTITION BY
       |    md5(${normalizeTextSql("text")})) AS keeper FROM g),
       |d AS (SELECT doc_id, lang, n_chars FROM k WHERE doc_id = keeper),
       |c AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n FROM d
       |  GROUP BY 1),
       |tt AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(38,6))) AS DOUBLE)
       |  AS S FROM c),
       |r AS (SELECT lang, least(1.0, 20000.0 * sqrt(n) / S / n) AS r
       |  FROM c CROSS JOIN tt),
       |x AS (SELECT d.doc_id, d.n_chars FROM d JOIN r USING (lang)
       |  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
       |    AS INT) < CAST(floor(r.r * 65536) AS INT)),
       |sh AS (SELECT doc_id, n_chars,
       |    CAST(CAST('0x' || substr(md5('42:' ||
       |      CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS INT)
       |      AS shard,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
       |      AS BIGINT) AS ck
       |  FROM x)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
       |  CAST(sum(ck) AS BIGINT) AS checksum
       |FROM sh GROUP BY shard
       |ORDER BY shard NULLS FIRST, n_docs NULLS FIRST,
       |  n_chars_total NULLS FIRST, checksum NULLS FIRST""".stripMargin

  /** Shared CTE prefix of Q93l/Q93m — the DuckDB replay of
    * [[graft.Engine.dsirWeights]] (target = lang='en', B = 256), ending
    * in `wts(doc_id, n_grams, dsir_logw)`: unigram + positional-bigram
    * stream, 16-bit-md5 mod-256 buckets, one-pass raw/target bucket
    * counts, and the Laplace log-ratio assembled as
    * ((t+1)·(R+B)) / ((r+1)·(T+B)) — the IDENTICAL float expression
    * shape the Spark side evaluates, with per-bucket terms routed
    * through DECIMAL(38,6) before the per-doc sum. */
  private def dsirCtes: String =
    """w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
      |  FROM documents),
      |g1 AS (SELECT doc_id, lang, unnest(ws) AS g FROM w),
      |g2 AS (SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS g
      |  FROM w CROSS JOIN unnest(generate_series(1, len(ws) - 1))
      |    AS t(i)),
      |gr AS (SELECT doc_id, lang, g FROM g1
      |  UNION ALL SELECT doc_id, lang, g FROM g2),
      |bk AS (SELECT doc_id, lang,
      |    CAST('0x' || substr(md5(g), 1, 4) AS INT) % 256 AS b FROM gr),
      |dc AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
      |dist AS (SELECT b, count(*) AS r,
      |    count(*) FILTER (WHERE lang = 'en') AS t FROM bk GROUP BY 1),
      |tot AS (SELECT CAST(sum(r) AS DOUBLE) AS br,
      |    CAST(sum(t) AS DOUBLE) AS bt FROM dist),
      |lr AS (SELECT b, ln(((CAST(t AS DOUBLE) + 1.0) * (br + 256.0)) /
      |    ((CAST(r AS DOUBLE) + 1.0) * (bt + 256.0))) AS lr
      |  FROM dist CROSS JOIN tot),
      |wts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
      |    round(CAST(sum(CAST(CAST(c AS DOUBLE) * lr AS DECIMAL(38,6)))
      |      AS DOUBLE), 6) AS dsir_logw
      |  FROM dc JOIN lr USING (b) GROUP BY doc_id)""".stripMargin

  /** DuckDB oracle for Q93l. */
  private def dsirWeightsOracleSql: String =
    s"""WITH $dsirCtes
       |SELECT doc_id, n_grams, dsir_logw FROM wts
       |ORDER BY doc_id NULLS FIRST, n_grams NULLS FIRST,
       |  dsir_logw NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q93m: q93l's weights + the md5-derived Gumbel
    * key, top-25 (gkey DESC, doc_id tiebreak) — the same 6-dp rounded
    * boundary the Spark TakeOrderedAndProject ranks on. */
  private def dsirResampleOracleSql: String =
    s"""WITH $dsirCtes,
       |ky AS (SELECT doc_id, dsir_logw,
       |    round(dsir_logw - ln(-ln(
       |      (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
       |        AS INT) + 1.0) / 65537.0)), 6) AS gkey
       |  FROM wts)
       |SELECT doc_id, dsir_logw, gkey FROM ky
       |ORDER BY gkey DESC NULLS LAST, doc_id ASC NULLS FIRST,
       |  dsir_logw ASC NULLS FIRST
       |LIMIT 25""".stripMargin

  /** DuckDB oracle for Q90j: the q98b cluster assignment joined to the
    * documents' n_chars, rank-1 per cluster (n_chars DESC, doc_id ASC). */
  private def keepBestOracleSql: String =
    s"""$simhashClusterCtes,
       |jn AS (SELECT asg.cluster_id, asg.doc_id, d.n_chars
       |  FROM asg JOIN documents d ON asg.doc_id = d.doc_id),
       |rk AS (SELECT cluster_id, doc_id, n_chars, row_number() OVER (
       |    PARTITION BY cluster_id
       |    ORDER BY n_chars DESC, doc_id ASC) AS rn FROM jn)
       |SELECT cluster_id, doc_id AS kept,
       |  CAST(n_chars AS BIGINT) AS score
       |FROM rk WHERE rn = 1
       |ORDER BY cluster_id NULLS FIRST, kept NULLS FIRST,
       |  score NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q92k: the q99b assignment CTE (argmax rounded
    * cosine, centroid-id tiebreak) + per-cell md5-rank cap at 40. */
  private def clusterCapOracleSql: String = {
    val ids = ivfCentroidIds.mkString(", ")
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id IN ($ids)),
       |assign AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(${Similarity.cosineSql("e.embedding", "c.ce")}, 6)
       |        DESC, c.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |cells AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
       |rk AS (SELECT cell, vec_id, row_number() OVER (PARTITION BY cell
       |    ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) ASC,
       |      vec_id ASC) AS rn
       |  FROM cells)
       |SELECT cell, vec_id, CAST(rn AS INT) AS rnk FROM rk
       |WHERE rn <= 40
       |ORDER BY cell NULLS FIRST, vec_id NULLS FIRST,
       |  rnk NULLS FIRST""".stripMargin
  }

  /** DuckDB oracle for Q98b. */
  private def simhashClustersOracleSql: String =
    s"""$simhashClusterCtes
       |SELECT doc_id, cluster_id FROM asg
       |ORDER BY doc_id NULLS FIRST, cluster_id NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q98c: the simhash-deduped corpus — rows whose
    * cluster representative is themselves (docs with no signature row
    * would be kept by applyDedup's left join, hence the LEFT JOIN). */
  private def applySimhashOracleSql: String =
    s"""$simhashClusterCtes
       |SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source
       |FROM documents d
       |LEFT JOIN asg ON d.doc_id = asg.doc_id
       |WHERE asg.cluster_id IS NULL OR asg.cluster_id = d.doc_id
       |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  /** The banded-MinHash verified near-dup pairs (doc_a, doc_b, jaccard ≥
    * 0.8) shared by Q91 (pair listing) and Q91b (clustering) — the
    * library operator [[graft.Engine.minHashNearDups]] applied to the
    * documents table with default parameters. */
  private def neardupPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.Engine.minHashNearDups(
      Tables.t(s, dir, "documents"), "doc_id", "text")

  /** Shared CTE prefix for Q91b/Q91e: exact all-pairs near-dup edges +
    * recursive transitive closure, ending in `clu(doc_id, cluster_id)`
    * with cluster id = min reachable doc_id. */
  private def neardupClusterCtes: String =
    s"""WITH RECURSIVE
       |sh AS (SELECT doc_id, $shinglesSql AS sv FROM documents),
       |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
       |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (SELECT doc_a, doc_b FROM inter
       |  JOIN sz sa ON sa.doc_id = doc_a
       |  JOIN sz sb ON sb.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
       |  UNION SELECT doc_b, doc_a FROM p),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |clu AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |  FROM reach GROUP BY a)""".stripMargin

  /** DuckDB oracle for Q91b. */
  private def neardupClustersOracleSql: String =
    s"""$neardupClusterCtes
       |SELECT doc_id, cluster_id FROM clu
       |ORDER BY doc_id NULLS FIRST, cluster_id NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q91e: the deduped corpus — rows in no cluster or
    * canonical (minimum-id) in theirs. */
  private def applyDedupOracleSql: String =
    s"""$neardupClusterCtes
       |SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source
       |FROM documents d
       |LEFT JOIN clu ON d.doc_id = clu.doc_id
       |WHERE clu.cluster_id IS NULL OR d.doc_id = clu.cluster_id
       |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q92b: identical bucketing + cosine ≥ 0.3 pairs. */
  private def cosineNeardupOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, $bucketCodeSql AS bucket
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 6)
       |      AS cos_sim
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
       |ORDER BY vec_a NULLS FIRST, vec_b NULLS FIRST, cos_sim NULLS FIRST""".stripMargin

  /** DuckDB oracle shared by Q90b and Q90g (bloom prefilter + exact
    * verify ≡ the exact join — Bloom filters have no false negatives). */
  private def decontaminateOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8 THEN
      |    list_distinct(list_transform(generate_series(1, len(w) - 7),
      |      i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
      |        w[i+4], w[i+5], w[i+6], w[i+7])))
      |    ELSE [] END) AS g FROM w),
      |bench AS (SELECT DISTINCT g FROM g
      |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      |    AS INT) * 100 < 5 * 65536)
      |SELECT doc_id, CAST(count(*) AS INT) AS n_shared_grams
      |FROM g JOIN bench USING (g)
      |WHERE NOT (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      |    AS INT) * 100 < 5 * 65536)
      |GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST, n_shared_grams NULLS FIRST""".stripMargin

  /** Shared CTE chain for Q90e/Q90f: positional 8-grams → corpus-
    * duplicated grams → per-doc island merge (gap ≤ 8), ending in
    * `spans(doc_id, span_start, span_end)`; `t(doc_id, w)` stays in
    * scope for the scrub rewrite. */
  private def dupSpanCtes: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |g AS (SELECT doc_id, CAST(i AS INT) AS i,
      |    array_to_string(list_slice(w, i, i + 7), ' ') AS gram
      |  FROM t CROSS JOIN unnest(generate_series(1, len(w) - 7))
      |    AS u(i)),
      |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
      |p AS (SELECT doc_id, i FROM g JOIN d USING (gram)),
      |k AS (SELECT doc_id, i, CASE WHEN i - lag(i) OVER (
      |    PARTITION BY doc_id ORDER BY i) <= 8 THEN 0 ELSE 1 END
      |    AS brk FROM p),
      |isl AS (SELECT doc_id, i, sum(brk) OVER (
      |    PARTITION BY doc_id ORDER BY i
      |    ROWS UNBOUNDED PRECEDING) AS island FROM k),
      |spans AS (SELECT doc_id, min(i) AS span_start,
      |    max(i) + 7 AS span_end
      |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** DuckDB oracle for Q92f: identical centroid assignment (argmax
    * rounded cosine, centroid-id tiebreak) and within-cell pair drop. */
  private def semanticDedupOracleSql: String = {
    val cents = ivfCentroidIds.mkString("(", ", ", ")")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |cent AS (SELECT vec_id AS cid, embedding AS ce FROM e
       |  WHERE vec_id IN $cents),
       |asg AS (SELECT vec_id, embedding, cid, row_number() OVER (
       |    PARTITION BY vec_id
       |    ORDER BY round(${Similarity.cosineSql("embedding", "ce")}, 6)
       |      DESC, cid ASC) AS rn
       |  FROM e CROSS JOIN cent),
       |cells AS (SELECT vec_id, embedding, cid AS cell FROM asg
       |  WHERE rn = 1),
       |dropped AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(${Similarity.cosineSql("a.embedding", "b.embedding")},
       |    6) >= 0.35)
       |SELECT c.vec_id AS vec_id, c.cell AS cell FROM cells c
       |LEFT JOIN dropped d ON c.vec_id = d.vec_id
       |WHERE d.vec_id IS NULL
       |ORDER BY c.vec_id NULLS FIRST, c.cell NULLS FIRST""".stripMargin
  }

  /** DuckDB oracle for Q92g: both Lloyd rounds unrolled as CTE chains —
    * per round an argmax assignment (rounded cosine, cell-id tiebreak)
    * and a DECIMAL(38,6) per-cell per-dim mean, reassembled into an
    * ordered centroid list for the next round's cosine. */
  private def kmeansOracleSql: String = {
    val cents = ivfCentroidIds.mkString("(", ", ", ")")
    def round(i: Int, prev: String): String =
      s"""a$i AS (SELECT vec_id, embedding, cell, row_number() OVER (
         |    PARTITION BY vec_id
         |    ORDER BY round(${Similarity.cosineSql("embedding", "ce")}, 6)
         |      DESC, cell ASC) AS rn
         |  FROM e CROSS JOIN $prev),
         |m$i AS (SELECT vec_id, embedding, cell FROM a$i WHERE rn = 1),
         |p$i AS (SELECT cell, CAST(dim AS INT) AS dim,
         |    ${graft.Canon.avgDecSql("CAST(embedding[dim] AS DOUBLE)")} AS c
         |  FROM m$i CROSS JOIN unnest(generate_series(1, len(embedding)))
         |    AS t$i(dim)
         |  GROUP BY cell, dim),
         |c$i AS (SELECT cell, list(c ORDER BY dim) AS ce FROM p$i
         |  GROUP BY cell)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS cell, embedding AS ce FROM e
       |  WHERE vec_id IN $cents),
       |${round(1, "c0")},
       |${round(2, "c1")}
       |SELECT cell, dim, c AS centroid FROM p2
       |ORDER BY cell NULLS FIRST, dim NULLS FIRST,
       |  centroid NULLS FIRST""".stripMargin
  }

  /** The Q99b coarse-quantizer seed set: 8 fixed vec_ids, all present at
    * every scale factor (embeddings carry vec_id 0–499 at minimum). */
  private def ivfCentroidIds: Seq[Long] =
    Seq(3L, 67L, 131L, 195L, 259L, 323L, 387L, 451L)

  /** The Q99e residual-codebook seed set: 8 fixed vec_ids DISJOINT from
    * [[ivfCentroidIds]] (a centroid vector's own residual is ~0 — a
    * useless codebook entry), all present at every scale factor. */
  private def pqResidualSeedIds: Seq[Long] =
    Seq(7L, 71L, 135L, 199L, 263L, 327L, 391L, 455L)

  /** Shared CTE prefix for the PQ oracles: per-(vector, code, block)
    * squared L2 with the identical per-term DECIMAL(38,6) rounding the
    * Spark kernel applies, plus the argmin code assignment. */
  private def pqDistCtes: String = {
    val ids = ivfCentroidIds.mkString(", ")
    s"""cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id IN ($ids)),
       |u AS (SELECT e.vec_id, c.cid, CAST((j - 1) // 8 AS INT) AS blk,
       |    CAST(e.embedding[j] AS DOUBLE) - CAST(c.ce[j] AS DOUBLE) AS d
       |  FROM embeddings e CROSS JOIN cent c
       |  CROSS JOIN unnest(generate_series(1, len(e.embedding))) AS g(j)),
       |dist AS (SELECT vec_id, cid, blk,
       |    CAST(sum(CAST(d * d AS DECIMAL(38,6))) AS DOUBLE) AS dd
       |  FROM u GROUP BY vec_id, cid, blk),
       |codes AS (SELECT vec_id, blk, cid AS code FROM (
       |    SELECT vec_id, blk, cid, row_number() OVER (
       |      PARTITION BY vec_id, blk ORDER BY dd ASC, cid ASC) AS rn
       |    FROM dist) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB oracle for Q92i: the argmin code per (vector, block). */
  private def pqCodesOracleSql: String =
    s"""WITH ${pqDistCtes}
       |SELECT vec_id, blk AS block, code FROM codes
       |ORDER BY vec_id NULLS FIRST, block NULLS FIRST,
       |  code NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q99c: the same distance table sliced as the
    * query LUT (vec_id < 5), summed over each corpus vector's codes,
    * ranked (adist ASC, vec_id ASC), top-3. */
  private def pqAnnOracleSql: String =
    s"""WITH ${pqDistCtes},
       |lut AS (SELECT vec_id AS query_id, blk, cid, dd FROM dist
       |  WHERE vec_id < 5),
       |sc AS (SELECT l.query_id, c.vec_id,
       |    CAST(sum(CAST(l.dd AS DECIMAL(38,6))) AS DOUBLE) AS adist
       |  FROM codes c JOIN lut l ON l.blk = c.blk AND l.cid = c.code
       |  GROUP BY l.query_id, c.vec_id),
       |r AS (SELECT query_id, vec_id, adist, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rn
       |  FROM sc)
       |SELECT query_id, CAST(rn AS INT) AS rnk, vec_id, adist
       |FROM r WHERE rn <= 3
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST,
       |  vec_id NULLS FIRST, adist NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q99b: identical centroid set, assignment argmax,
    * nprobe=2 probing and in-cell top-3 — over the same rounded cosines.
    * `corpusFilter` (an AND-able predicate on the indexed side, e.g.
    * q99j's tombstone exclusion) narrows the CELLS the way a fresh
    * build over the filtered corpus would — which is exactly the
    * equivalence the tombstoned serve path must satisfy. */
  private def ivfAnnOracleSql: String = ivfAnnOracleSqlWhere("TRUE")

  private def ivfAnnOracleSqlWhere(corpusFilter: String): String = {
    val ids = ivfCentroidIds.mkString(", ")
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id IN ($ids)),
       |assign AS (
       |  SELECT e.vec_id, e.embedding, e.label, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(${Similarity.cosineSql("e.embedding", "c.ce")}, 6) DESC,
       |      c.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |cells AS (SELECT vec_id, embedding, cid AS cell FROM assign
       |  WHERE rn = 1 AND ($corpusFilter)),
       |qassign AS (
       |  SELECT e.vec_id AS query_id, e.embedding AS qe, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(${Similarity.cosineSql("e.embedding", "c.ce")}, 6) DESC,
       |      c.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 20),
       |probes AS (SELECT query_id, qe, cid AS cell FROM qassign
       |  WHERE rn <= 2),
       |scored AS (
       |  SELECT p.query_id, c.vec_id,
       |    round(${Similarity.cosineSql("p.qe", "c.embedding")}, 6)
       |      AS cos_sim
       |  FROM probes p JOIN cells c ON p.cell = c.cell),
       |ranked AS (SELECT query_id, vec_id, cos_sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST, vec_id NULLS FIRST,
       |  cos_sim NULLS FIRST""".stripMargin
  }

  /** DuckDB oracle for Q99: same 4-table bucketing, same Hamming-1
    * multi-probe family, same candidate dedup + cosine top-3. */
  /** DuckDB oracle for Q99d: identical table/probe family with the
    * bit-width derived from count(*) by the same integer rule as
    * [[graft.Engine.annBits]] (smallest b ≤ 8 with 2^b·32 ≥ N). Unused
    * high bits are gated per-term, masks come from a lateral unnest over
    * the sized width. */
  private def sizedAnnOracleSql: String = {
    val code = (0 until 8).map(i =>
      s"(CASE WHEN $i < bb.bits AND embedding[16*t.tbl + ${2 * i + 1}] > " +
        s"embedding[16*t.tbl + ${2 * i + 2}] THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
       |bb AS (SELECT coalesce((SELECT min(g.b)
       |    FROM generate_series(1, 8) g(b), nn
       |    WHERE (CAST(1 AS BIGINT) << g.b) * 32 >= nn.n), 8) AS bits
       |  FROM nn),
       |tabs AS (SELECT vec_id, embedding, t.tbl AS tbl, $code AS bucket
       |  FROM embeddings, bb, (VALUES (0), (1), (2), (3)) t(tbl)),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, tbl, bucket
       |  FROM tabs WHERE vec_id < 20),
       |probes AS (SELECT query_id, qe, tbl, xor(bucket, mm.m) AS bucket
       |  FROM q, bb, unnest([0] || list_transform(
       |    generate_series(0, bb.bits - 1), j -> 1 << j)) AS mm(m)),
       |cand AS (SELECT DISTINCT p.query_id, p.qe, e.vec_id, e.embedding
       |  FROM probes p JOIN tabs e
       |    ON p.tbl = e.tbl AND p.bucket = e.bucket),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    round(${Similarity.cosineSql("qe", "embedding")}, 6)
       |      AS cos_sim
       |  FROM cand),
       |ranked AS (SELECT query_id, vec_id, cos_sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST, vec_id NULLS FIRST,
       |  cos_sim NULLS FIRST""".stripMargin
  }

  /** DuckDB oracle for Q99f: replays the md5 ±1/0 hyperplane matrix
    * (the q92h sign rule keyed (input dim j : hyperplane h)), the
    * annBits sizing rule (maxBits 16), per-table bucket assembly
    * (table (h−1) div bits, bit (h−1) mod bits), Hamming-1 probing and
    * the cosine ranking — from scratch in SQL. */
  /** Shared CTE chain for the q99f/q99i_b/q99n oracles: the full
    * hyperplane pipeline — sizing rule, ±1/0 sparse sign matrix, 8
    * tables of sign-bit buckets, Hamming-≤1 probes, candidate union,
    * exact rounded-cosine re-rank — through the `ranked` CTE, over any
    * (vec_id, `vcol`) vector table `src` (q99f/q99i_b read the raw
    * `embeddings`; q99n reads the q92t-standardized `zl`). One builder
    * so the raw and whitened registrations can never drift. */
  private def hyperRankedCtes(src: String = "embeddings",
      vcol: String = "embedding"): String = {
    val signCase = "(CASE (CAST('0x' || substr(md5(" +
      "CAST(j AS VARCHAR) || ':' || CAST(hh.h AS VARCHAR)), 1, 4) " +
      "AS BIGINT) % 6) WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END)"
    s"""nn AS (SELECT count(*) AS n FROM $src),
       |bb AS (SELECT coalesce((SELECT min(g.b)
       |    FROM generate_series(1, 16) g(b), nn
       |    WHERE (CAST(1 AS BIGINT) << g.b) * 32 >= nn.n), 16) AS bits
       |  FROM nn),
       |t AS (SELECT vec_id, CAST($vcol[j] AS DOUBLE) AS x, j
       |  FROM $src
       |  CROSS JOIN unnest(generate_series(1, len($vcol))) AS g(j)),
       |ys AS (SELECT t.vec_id, hh.h AS h, bb.bits AS bits,
       |    CAST(sum(CAST(x * $signCase AS DECIMAL(38,6))) AS DOUBLE) AS y
       |  FROM t, bb
       |  CROSS JOIN unnest(generate_series(1, 8 * bb.bits)) AS hh(h)
       |  GROUP BY t.vec_id, hh.h, bb.bits),
       |tabs AS (SELECT vec_id, CAST((h - 1) // bits AS INT) AS tbl,
       |    CAST(sum(CASE WHEN y > 0 THEN
       |      (CAST(1 AS BIGINT) << CAST((h - 1) % bits AS INT))
       |      ELSE 0 END) AS BIGINT) AS bucket
       |  FROM ys GROUP BY vec_id, (h - 1) // bits),
       |masks AS (SELECT mm.m AS m FROM bb, unnest([0] || list_transform(
       |    generate_series(0, bb.bits - 1), j -> 1 << j)) AS mm(m)),
       |probes AS (SELECT q.vec_id AS query_id, q.tbl,
       |    xor(q.bucket, CAST(ms.m AS BIGINT)) AS bucket
       |  FROM tabs q, masks ms
       |  WHERE q.vec_id < 20),
       |cand AS (SELECT DISTINCT p.query_id, e.vec_id
       |  FROM probes p JOIN tabs e
       |    ON p.tbl = e.tbl AND p.bucket = e.bucket),
       |scored AS (SELECT c.query_id, c.vec_id,
       |    round(${Similarity.cosineSql(s"qv.$vcol", s"cv.$vcol")}, 6)
       |      AS cos_sim
       |  FROM cand c
       |  JOIN $src qv ON qv.vec_id = c.query_id
       |  JOIN $src cv ON cv.vec_id = c.vec_id),
       |ranked AS (SELECT query_id, vec_id, cos_sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM scored)""".stripMargin
  }

  private def hyperAnnOracleSql: String =
    s"""WITH ${hyperRankedCtes()}
       |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST, vec_id NULLS FIRST,
       |  cos_sim NULLS FIRST""".stripMargin

  /** Q99n oracle: the q92u standardization CTEs feeding the SAME
    * hyperplane chain as q99f, over the z lists — whitened index +
    * whitened ranking, replayed end-to-end in SQL. */
  private def whitenedHyperAnnOracleSql: String =
    s"""WITH $zListCtes,
       |${hyperRankedCtes("zl", "z")}
       |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST, vec_id NULLS FIRST,
       |  cos_sim NULLS FIRST""".stripMargin

  /** Q99o oracle: the FROZEN-stats replay — moments from the HISTORY
    * slice only (the index's `stats/` contract), z for history AND
    * query vectors through those frozen moments, the hyperplane chain
    * over the history z (the persisted `buckets/`), query buckets from
    * the same deterministic hyperplanes, Hamming-≤1 probes, exact
    * whitened-cosine re-rank. An engine that derived stats from
    * anything but the indexed corpus cannot match this hash. */
  private def whitenedIndexOracleSql: String = {
    val signCase = "(CASE (CAST('0x' || substr(md5(" +
      "CAST(j AS VARCHAR) || ':' || CAST(hh.h AS VARCHAR)), 1, 4) " +
      "AS BIGINT) % 6) WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END)"
    def bucketChain(src: String, pfx: String): String =
      s"""${pfx}t AS (SELECT vec_id, CAST(z[j] AS DOUBLE) AS x, j
         |  FROM $src CROSS JOIN
         |    unnest(generate_series(1, len(z))) AS g(j)),
         |${pfx}ys AS (SELECT ${pfx}t.vec_id, hh.h AS h, bb.bits AS bits,
         |    CAST(sum(CAST(x * $signCase AS DECIMAL(38,6))) AS DOUBLE)
         |      AS y
         |  FROM ${pfx}t, bb
         |  CROSS JOIN unnest(generate_series(1, 8 * bb.bits)) AS hh(h)
         |  GROUP BY ${pfx}t.vec_id, hh.h, bb.bits),
         |${pfx}tabs AS (SELECT vec_id, CAST((h - 1) // bits AS INT)
         |      AS tbl,
         |    CAST(sum(CASE WHEN y > 0 THEN
         |      (CAST(1 AS BIGINT) << CAST((h - 1) % bits AS INT))
         |      ELSE 0 END) AS BIGINT) AS bucket
         |  FROM ${pfx}ys GROUP BY vec_id, (h - 1) // bits)""".stripMargin
    s"""WITH exa AS (SELECT vec_id, CAST(dim - 1 AS INT) AS d,
       |    CAST(embedding[dim] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN
       |    unnest(generate_series(1, len(embedding))) AS t(dim)),
       |st AS (SELECT d, count(*) AS n,
       |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
       |  FROM exa WHERE vec_id % 5 <> 0 GROUP BY 1),
       |m AS (SELECT d, sx / n AS mean,
       |    sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)) AS sd
       |  FROM st),
       |zr AS (SELECT vec_id, exa.d AS d,
       |    CASE WHEN sd > 0 THEN round((x - mean) / sd, 6)
       |      ELSE 0.0 END AS zx
       |  FROM exa JOIN m ON exa.d = m.d),
       |zl AS (SELECT vec_id, list(zx ORDER BY d ASC) AS z
       |  FROM zr GROUP BY 1),
       |zh AS (SELECT vec_id, z FROM zl WHERE vec_id % 5 <> 0),
       |zq AS (SELECT vec_id, z FROM zl WHERE vec_id < 20),
       |nn AS (SELECT count(*) AS n FROM zh),
       |bb AS (SELECT coalesce((SELECT min(g.b)
       |    FROM generate_series(1, 16) g(b), nn
       |    WHERE (CAST(1 AS BIGINT) << g.b) * 32 >= nn.n), 16) AS bits
       |  FROM nn),
       |${bucketChain("zh", "")},
       |${bucketChain("zq", "q")},
       |masks AS (SELECT mm.m AS m FROM bb, unnest([0] || list_transform(
       |    generate_series(0, bb.bits - 1), j -> 1 << j)) AS mm(m)),
       |probes AS (SELECT q.vec_id AS query_id, q.tbl,
       |    xor(q.bucket, CAST(ms.m AS BIGINT)) AS bucket
       |  FROM qtabs q, masks ms),
       |cand AS (SELECT DISTINCT p.query_id, e.vec_id
       |  FROM probes p JOIN tabs e
       |    ON p.tbl = e.tbl AND p.bucket = e.bucket),
       |scored AS (SELECT c.query_id, c.vec_id,
       |    round(${Similarity.cosineSql("qv.z", "cv.z")}, 6) AS cos_sim
       |  FROM cand c
       |  JOIN zq qv ON qv.vec_id = c.query_id
       |  JOIN zh cv ON cv.vec_id = c.vec_id),
       |ranked AS (SELECT query_id, vec_id, cos_sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC)
       |      AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST, vec_id NULLS FIRST,
       |  cos_sim NULLS FIRST""".stripMargin
  }

  /** Shared oracle for q90n/q90y — the greedy earliest-wins ingest
    * chain replayed EXACTLY (brute-force pair set, slot-by-slot
    * acceptance): a doc drops iff it near-matches a doc that itself
    * survived an earlier slot. One text for both registrations — the
    * path-based and bucketed loops are result-identical by the shared
    * probe body, and this is what pins that claim per round. */
  private def dedupIngestOracleSql: String =
    s"""WITH sh AS (SELECT doc_id, $bigramsSql AS sv
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents)),
       |ex AS (SELECT doc_id, unnest(sv) AS s FROM sh),
       |sz AS (SELECT doc_id, len(sv) AS n FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS xid, b.doc_id AS yid, count(*) AS i
       |  FROM ex a JOIN ex b ON a.s = b.s
       |  WHERE (a.doc_id % 4) < (b.doc_id % 4)
       |  GROUP BY 1, 2),
       |pr AS (
       |  SELECT xid, yid FROM inter
       |  JOIN sz sa ON sa.doc_id = xid
       |  JOIN sz sb ON sb.doc_id = yid
       |  WHERE i * 100 >= (sa.n + sb.n - i) * 60),
       |s0 AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
       |s1 AS (SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 1
       |  AND NOT EXISTS (SELECT 1 FROM pr, s0
       |    WHERE pr.xid = s0.doc_id AND pr.yid = d.doc_id)),
       |s2 AS (SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 2
       |  AND NOT EXISTS (SELECT 1 FROM pr
       |    WHERE pr.xid IN (SELECT doc_id FROM s0
       |      UNION ALL SELECT doc_id FROM s1)
       |      AND pr.yid = d.doc_id)),
       |s3 AS (SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 3
       |  AND NOT EXISTS (SELECT 1 FROM pr
       |    WHERE pr.xid IN (SELECT doc_id FROM s0
       |      UNION ALL SELECT doc_id FROM s1
       |      UNION ALL SELECT doc_id FROM s2)
       |      AND pr.yid = d.doc_id))
       |SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS batch FROM (
       |  SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1
       |  UNION ALL SELECT doc_id FROM s2 UNION ALL SELECT doc_id FROM s3)
       |ORDER BY doc_id NULLS FIRST, batch NULLS FIRST""".stripMargin

  /** Q99p oracle: the DRIFTED corpus (append slice x → x·1.5 + 0.3
    * after the double cast), standardized TWICE — through the frozen
    * history-slice moments and through fresh full-corpus moments (the
    * identical q92t moment/z op order both times) — each feeding the
    * exact whitened cosine top-10, then the per-query overlap of the
    * two rankings. Engine-side determinism never crosses rankings: the
    * hash gate compares each engine's own frozen/fresh pair. */
  private def whitenedStalenessOracleSql: String = {
    // one standardization chain (moments → z lists) over the drifted
    // coordinates `exd`, parameterized by the moment slice
    def zChain(pfx: String, where: String): String =
      s"""st$pfx AS (SELECT d, count(*) AS n,
         |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
         |  FROM exd $where GROUP BY 1),
         |m$pfx AS (SELECT d, sx / n AS mean,
         |    sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)) AS sd
         |  FROM st$pfx),
         |zr$pfx AS (SELECT vec_id, exd.d AS d,
         |    CASE WHEN sd > 0 THEN round((x - mean) / sd, 6)
         |      ELSE 0.0 END AS zx
         |  FROM exd JOIN m$pfx mm ON exd.d = mm.d),
         |zl$pfx AS (SELECT vec_id, list(zx ORDER BY d ASC) AS z
         |  FROM zr$pfx GROUP BY 1),
         |s$pfx AS (SELECT q.vec_id AS query_id, c.vec_id,
         |    round(${Similarity.cosineSql("q.z", "c.z")}, 6) AS cs
         |  FROM zl$pfx q CROSS JOIN zl$pfx c WHERE q.vec_id < 20),
         |r$pfx AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cs DESC, vec_id ASC)
         |      AS rn
         |    FROM s$pfx) WHERE rn <= 10)""".stripMargin
    s"""WITH exd AS (SELECT vec_id, CAST(dim - 1 AS INT) AS d,
       |    CASE WHEN vec_id % 5 = 0
       |      THEN CAST(embedding[dim] AS DOUBLE) * 1.5 + 0.3
       |      ELSE CAST(embedding[dim] AS DOUBLE) END AS x
       |  FROM embeddings CROSS JOIN
       |    unnest(generate_series(1, len(embedding))) AS t(dim)),
       |${zChain("h", "WHERE vec_id % 5 <> 0")},
       |${zChain("f", "")},
       |cm AS (SELECT rh.query_id, count(*) AS n
       |  FROM rh JOIN rf ON rh.query_id = rf.query_id
       |    AND rh.vec_id = rf.vec_id
       |  GROUP BY 1)
       |SELECT q.query_id,
       |  CAST(coalesce(cm.n, 0) AS BIGINT) AS n_common,
       |  round(CAST(coalesce(cm.n, 0) AS DOUBLE) / 10.0, 6)
       |    AS overlap_ratio
       |FROM (SELECT DISTINCT vec_id AS query_id FROM zlh
       |  WHERE vec_id < 20) q
       |LEFT JOIN cm ON cm.query_id = q.query_id
       |ORDER BY q.query_id NULLS FIRST, n_common NULLS FIRST,
       |  overlap_ratio NULLS FIRST""".stripMargin
  }

  /** The q92t/q92u standardization pipeline as CTEs — per-dim
    * DECIMAL(38,6) moments, the one pinned mean/σ/z op order, 6-dp z
    * grid — ending in `zl (vec_id, z)`: each full-dim vector's
    * standardized coordinates as an ordered list. Shared by the q92u
    * and q99n oracles (one text, no drift). */
  private def zListCtes: String =
    """ex AS (SELECT vec_id, CAST(dim - 1 AS INT) AS d,
      |    CAST(embedding[dim] AS DOUBLE) AS x
      |  FROM embeddings CROSS JOIN
      |    unnest(generate_series(1, len(embedding))) AS t(dim)),
      |st AS (SELECT d, count(*) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      |  FROM ex GROUP BY 1),
      |m AS (SELECT d, sx / n AS mean,
      |    sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)) AS sd
      |  FROM st),
      |zr AS (SELECT vec_id, ex.d AS d,
      |    CASE WHEN sd > 0 THEN round((x - mean) / sd, 6)
      |      ELSE 0.0 END AS zx
      |  FROM ex JOIN m ON ex.d = m.d),
      |zl AS (SELECT vec_id, list(zx ORDER BY d ASC) AS z
      |  FROM zr GROUP BY 1)""".stripMargin

  /** Q99i_b oracle: the q99f hyperplane pipeline and the q92 exact
    * pipeline as CTEs of ONE query, joined into per-query recall@3 —
    * the q99i discipline extended to the hyperplane family (r10 verdict
    * item 5), so the headline hyperplane recall claim is continuously
    * hash-gated rather than living only in the RECALL.json ledger. */
  private def hyperRecallOracleSql: String =
    s"""WITH ${hyperRankedCtes()},
       |ap AS (SELECT query_id, vec_id FROM ranked WHERE rnk <= 3),
       |eq AS (SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id < 20),
       |escored AS (
       |  SELECT query_id, vec_id,
       |    round(${Similarity.cosineSql("qe", "embedding")}, 6)
       |      AS cos_sim
       |  FROM eq CROSS JOIN embeddings),
       |eranked AS (SELECT query_id, vec_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM escored),
       |gt AS (SELECT query_id, vec_id FROM eranked WHERE rnk <= 3),
       |rec AS (
       |  SELECT gt.query_id AS query_id, CAST(count(*) AS BIGINT) AS n_true,
       |    CAST(count(ap.vec_id) AS BIGINT) AS n_hit,
       |    round(CAST(count(ap.vec_id) AS DOUBLE) / count(*), 6) AS recall
       |  FROM gt LEFT JOIN ap
       |    ON gt.query_id = ap.query_id AND gt.vec_id = ap.vec_id
       |  GROUP BY gt.query_id)
       |SELECT query_id, n_true, n_hit, recall FROM rec
       |ORDER BY query_id NULLS FIRST, n_true NULLS FIRST,
       |  n_hit NULLS FIRST, recall NULLS FIRST""".stripMargin

  private def bucketedAnnOracleSql: String = {
    val masks = probeXors.map(x => s"($x)").mkString(", ")
    val tabs = (0 until annTables).map(t =>
      s"SELECT vec_id, embedding, $t AS tbl, " +
        s"${bucketCodeSqlAt(16 * t)} AS bucket FROM embeddings")
      .mkString(" UNION ALL ")
    s"""WITH tabs AS ($tabs),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, tbl, bucket
       |  FROM tabs WHERE vec_id < 20),
       |probes AS (SELECT query_id, qe, tbl, xor(bucket, m.x) AS bucket
       |  FROM q CROSS JOIN (VALUES $masks) m(x)),
       |cand AS (SELECT DISTINCT p.query_id, p.qe, e.vec_id, e.embedding
       |  FROM probes p JOIN tabs e
       |    ON p.tbl = e.tbl AND p.bucket = e.bucket),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    round(${Similarity.cosineSql("qe", "embedding")}, 6)
       |      AS cos_sim
       |  FROM cand),
       |ranked AS (SELECT query_id, vec_id, cos_sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST, vec_id NULLS FIRST,
       |  cos_sim NULLS FIRST""".stripMargin
  }

  /** Q99i oracle: the q99 LSH pipeline and the q92 exact pipeline as
    * CTEs of ONE query, joined into per-query recall@3 — both sides
    * replay the same rounded-cosine/id-tiebreak ranking as their
    * standalone oracles, so the measured recall is itself hash-gated. */
  private def annRecallOracleSql: String = {
    val masks = probeXors.map(x => s"($x)").mkString(", ")
    val tabs = (0 until annTables).map(t =>
      s"SELECT vec_id, embedding, $t AS tbl, " +
        s"${bucketCodeSqlAt(16 * t)} AS bucket FROM embeddings")
      .mkString(" UNION ALL ")
    s"""WITH tabs AS ($tabs),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, tbl, bucket
       |  FROM tabs WHERE vec_id < 20),
       |probes AS (SELECT query_id, qe, tbl, xor(bucket, m.x) AS bucket
       |  FROM q CROSS JOIN (VALUES $masks) m(x)),
       |cand AS (SELECT DISTINCT p.query_id, p.qe, e.vec_id, e.embedding
       |  FROM probes p JOIN tabs e
       |    ON p.tbl = e.tbl AND p.bucket = e.bucket),
       |ascored AS (
       |  SELECT query_id, vec_id,
       |    round(${Similarity.cosineSql("qe", "embedding")}, 6)
       |      AS cos_sim
       |  FROM cand),
       |aranked AS (SELECT query_id, vec_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM ascored),
       |ap AS (SELECT query_id, vec_id FROM aranked WHERE rnk <= 3),
       |eq AS (SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id < 20),
       |escored AS (
       |  SELECT query_id, vec_id,
       |    round(${Similarity.cosineSql("qe", "embedding")}, 6)
       |      AS cos_sim
       |  FROM eq CROSS JOIN embeddings),
       |eranked AS (SELECT query_id, vec_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM escored),
       |gt AS (SELECT query_id, vec_id FROM eranked WHERE rnk <= 3),
       |rec AS (
       |  SELECT gt.query_id AS query_id, CAST(count(*) AS BIGINT) AS n_true,
       |    CAST(count(ap.vec_id) AS BIGINT) AS n_hit,
       |    round(CAST(count(ap.vec_id) AS DOUBLE) / count(*), 6) AS recall
       |  FROM gt LEFT JOIN ap
       |    ON gt.query_id = ap.query_id AND gt.vec_id = ap.vec_id
       |  GROUP BY gt.query_id)
       |SELECT query_id, n_true, n_hit, recall FROM rec
       |ORDER BY query_id NULLS FIRST, n_true NULLS FIRST,
       |  n_hit NULLS FIRST, recall NULLS FIRST""".stripMargin
  }

  /** DuckDB oracle for Q99e — the RESIDUAL IVF-PQ construction: q99b's
    * cell assignment (argmax rounded cosine, cid tiebreak; corpus
    * nprobe=1, queries nprobe=2) feeding residuals r = x − μ_cell,
    * codes as the argmin over the seed-residual codebook (seed ids'
    * own residuals), a per-(query, probed-cell) LUT over the query's
    * cell-relative residual, and the DECIMAL-routed ADC sum. Every
    * subtraction parenthesizes exactly as the engine computes it:
    * (x[j] − μ[j]) − (s[j] − μs[j]), all double, so d is bit-identical
    * before the per-term DECIMAL(38,6) rounding.
    *
    * `rerank` > 0 (Q99m) appends the refine stage: the top-`rerank`
    * ADC shortlist per query (adist ASC, id ASC — the engine's
    * shortlist order) re-scored with the exact rounded cosine against
    * raw vectors, final k ranked (cos DESC, id ASC). */
  private def ivfPqOracleSql(rerank: Int = 0): String = {
    val ids = ivfCentroidIds.mkString(", ")
    val seeds = pqResidualSeedIds.mkString(", ")
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id IN ($ids)),
       |asg AS (
       |  SELECT e.vec_id, e.embedding, c.cid, c.ce,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(${Similarity.cosineSql("e.embedding", "c.ce")}, 6) DESC,
       |      c.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |rv AS (SELECT vec_id, cid AS cell, embedding, ce FROM asg
       |  WHERE rn = 1),
       |rcb AS (SELECT vec_id AS cb_id, embedding AS se, ce AS sce
       |  FROM rv WHERE vec_id IN ($seeds)),
       |ru AS (SELECT v.vec_id, v.cell, b.cb_id,
       |    CAST((j - 1) // 8 AS INT) AS blk,
       |    (CAST(v.embedding[j] AS DOUBLE) - CAST(v.ce[j] AS DOUBLE))
       |      - (CAST(b.se[j] AS DOUBLE) - CAST(b.sce[j] AS DOUBLE)) AS d
       |  FROM rv v CROSS JOIN rcb b
       |  CROSS JOIN unnest(generate_series(1, len(v.embedding))) AS g(j)),
       |rdist AS (SELECT vec_id, cell, cb_id, blk,
       |    CAST(sum(CAST(d * d AS DECIMAL(38,6))) AS DOUBLE) AS dd
       |  FROM ru GROUP BY vec_id, cell, cb_id, blk),
       |codes AS (SELECT vec_id, cell, blk, cb_id AS code FROM (
       |    SELECT vec_id, cell, cb_id, blk, row_number() OVER (
       |      PARTITION BY vec_id, blk ORDER BY dd ASC, cb_id ASC) AS rn
       |    FROM rdist) WHERE rn = 1),
       |qasg AS (
       |  SELECT e.vec_id AS query_id, e.embedding AS qe, c.cid, c.ce,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(${Similarity.cosineSql("e.embedding", "c.ce")}, 6) DESC,
       |      c.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 5),
       |qp AS (SELECT query_id, cid AS cell, qe, ce FROM qasg
       |  WHERE rn <= 2),
       |qu AS (SELECT q.query_id, q.cell, b.cb_id,
       |    CAST((j - 1) // 8 AS INT) AS blk,
       |    (CAST(q.qe[j] AS DOUBLE) - CAST(q.ce[j] AS DOUBLE))
       |      - (CAST(b.se[j] AS DOUBLE) - CAST(b.sce[j] AS DOUBLE)) AS d
       |  FROM qp q CROSS JOIN rcb b
       |  CROSS JOIN unnest(generate_series(1, len(q.qe))) AS g(j)),
       |lut AS (SELECT query_id, cell, cb_id, blk,
       |    CAST(sum(CAST(d * d AS DECIMAL(38,6))) AS DOUBLE) AS dd
       |  FROM qu GROUP BY query_id, cell, cb_id, blk),
       |sc AS (SELECT l.query_id, c.vec_id,
       |    CAST(sum(CAST(l.dd AS DECIMAL(38,6))) AS DOUBLE) AS adist
       |  FROM codes c JOIN lut l ON l.cell = c.cell AND l.blk = c.blk
       |    AND l.cb_id = c.code
       |  GROUP BY l.query_id, c.vec_id),
       |r AS (SELECT query_id, vec_id, adist, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rn
       |  FROM sc)""".stripMargin + (if (rerank == 0)
      """
       |SELECT query_id, CAST(rn AS INT) AS rnk, vec_id, adist
       |FROM r WHERE rn <= 3
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST,
       |  vec_id NULLS FIRST, adist NULLS FIRST""".stripMargin
    else
      s""",
       |short AS (SELECT query_id, vec_id FROM r WHERE rn <= $rerank),
       |ex AS (SELECT s.query_id, s.vec_id,
       |    round(${Similarity.cosineSql("q.qe", "v.embedding")}, 6)
       |      AS cos_sim
       |  FROM short s JOIN embeddings v ON v.vec_id = s.vec_id
       |  JOIN (SELECT vec_id AS query_id, embedding AS qe
       |        FROM embeddings WHERE vec_id < 5) q
       |    ON q.query_id = s.query_id),
       |rr AS (SELECT query_id, vec_id, cos_sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC)
       |      AS rn
       |  FROM ex)
       |SELECT query_id, CAST(rn AS INT) AS rnk, vec_id, cos_sim
       |FROM rr WHERE rn <= 3
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST,
       |  vec_id NULLS FIRST, cos_sim NULLS FIRST""".stripMargin)
  }

  /** DuckDB oracle for Q93j: q93h's BM25 arithmetic with the term set
    * drawn per-query from the query docs' own distinct tokens (df
    * computed only for query terms), self-match excluded, top-5 ranked
    * (score DESC, doc_id ASC) over the decimal-routed sums. */
  private def bm25SearchOracleSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |dl AS (SELECT doc_id, len(w) AS dl, w FROM d),
      |st AS (SELECT count(*) AS n,
      |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM dl),
      |tok AS (SELECT doc_id, dl, unnest(w) AS t FROM dl),
      |qt AS (SELECT DISTINCT doc_id AS qid, t FROM tok WHERE doc_id < 5),
      |dfq AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok
      |  WHERE t IN (SELECT t FROM qt) GROUP BY t),
      |ft AS (SELECT doc_id, dl, t, count(*) AS tf FROM tok
      |  WHERE t IN (SELECT t FROM qt) GROUP BY doc_id, dl, t),
      |s AS (SELECT q.qid, f.doc_id,
      |    (CAST(n + 1 AS DOUBLE) / (CAST(df AS DOUBLE) + 0.5e0))
      |      * (CAST(tf AS DOUBLE) * 2.2e0)
      |      / (CAST(tf AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0 *
      |          (CAST(dl AS DOUBLE) / avgdl))) AS sc
      |  FROM ft f JOIN qt q ON f.t = q.t AND f.doc_id != q.qid
      |  JOIN dfq ON dfq.t = f.t CROSS JOIN st),
      |sc2 AS (SELECT qid AS query_id, doc_id,
      |    CAST(sum(CAST(sc AS DECIMAL(38,6))) AS DOUBLE) AS score
      |  FROM s GROUP BY qid, doc_id),
      |r AS (SELECT query_id, doc_id, score, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
      |  FROM sc2)
      |SELECT query_id, CAST(rn AS INT) AS rnk, doc_id, score
      |FROM r WHERE rn <= 5
      |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST,
      |  doc_id NULLS FIRST, score NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q93r: q93j's BM25 CTEs at k=20 and q92's cosine
    * ranking at k=20 (self excluded), fused per (query, item) with
    * Σ 1/(60+rank) and re-ranked top-5 — both reciprocal terms added
    * in the operator's exact IEEE order. */
  private def hybridRrfOracleSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents),
       |dl AS (SELECT doc_id, len(w) AS dl, w FROM d),
       |st AS (SELECT count(*) AS n,
       |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM dl),
       |tok AS (SELECT doc_id, dl, unnest(w) AS t FROM dl),
       |qt AS (SELECT DISTINCT doc_id AS qid, t FROM tok WHERE doc_id < 5),
       |dfq AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok
       |  WHERE t IN (SELECT t FROM qt) GROUP BY t),
       |ft AS (SELECT doc_id, dl, t, count(*) AS tf FROM tok
       |  WHERE t IN (SELECT t FROM qt) GROUP BY doc_id, dl, t),
       |s AS (SELECT q.qid, f.doc_id,
       |    (CAST(n + 1 AS DOUBLE) / (CAST(df AS DOUBLE) + 0.5e0))
       |      * (CAST(tf AS DOUBLE) * 2.2e0)
       |      / (CAST(tf AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0 *
       |          (CAST(dl AS DOUBLE) / avgdl))) AS sc
       |  FROM ft f JOIN qt q ON f.t = q.t AND f.doc_id != q.qid
       |  JOIN dfq ON dfq.t = f.t CROSS JOIN st),
       |sc2 AS (SELECT qid AS query_id, doc_id,
       |    CAST(sum(CAST(sc AS DECIMAL(38,6))) AS DOUBLE) AS score
       |  FROM s GROUP BY qid, doc_id),
       |ta AS (SELECT query_id, doc_id AS item, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM sc2 QUALIFY rnk <= 20),
       |qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < 5),
       |cs AS (SELECT query_id, e.vec_id AS item,
       |    round(${Similarity.cosineSql("qe", "e.embedding")}, 6)
       |      AS cos_sim
       |  FROM qv CROSS JOIN embeddings e WHERE e.vec_id != query_id),
       |tb AS (SELECT query_id, item, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, item ASC) AS rnk
       |  FROM cs QUALIFY rnk <= 20),
       |f2 AS (SELECT query_id, item,
       |    round(COALESCE(1.0e0 / CAST(60 + ta.rnk AS DOUBLE), 0.0e0)
       |      + COALESCE(1.0e0 / CAST(60 + tb.rnk AS DOUBLE), 0.0e0), 6)
       |      AS score
       |  FROM ta FULL OUTER JOIN tb USING (query_id, item)),
       |r AS (SELECT query_id, item, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, item ASC) AS rn
       |  FROM f2)
       |SELECT query_id, CAST(rn AS INT) AS rnk, item, score
       |FROM r WHERE rn <= 5
       |ORDER BY query_id NULLS FIRST, rnk NULLS FIRST, item NULLS FIRST,
       |  score NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q93u: the synchronous k-core peel unrolled as
    * `rounds` (degree-filter, edge-filter) CTE pairs over the q93s
    * co-occurrence edges — identical round count to the operator, so
    * converged-early rounds are hash-verified as idempotent. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      s""",
         |d$i AS (SELECT x, count(*) AS d FROM (SELECT u AS x FROM $prev
         |    UNION ALL SELECT v AS x FROM $prev) GROUP BY 1
         |  HAVING count(*) >= $k),
         |e$i AS (SELECT u, v FROM $prev
         |  WHERE u IN (SELECT x FROM d$i)
         |    AND v IN (SELECT x FROM d$i))""".stripMargin
    }.mkString
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents),
       |t AS (SELECT doc_id, unnest(ws) AS w,
       |    generate_subscripts(ws, 1) AS pos FROM w),
       |pairs AS (SELECT least(a.w, b.w) AS u, greatest(a.w, b.w) AS v,
       |    count(*) AS cnt
       |  FROM t a JOIN t b
       |    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
       |  WHERE a.w <> b.w GROUP BY 1, 2),
       |e0 AS (SELECT DISTINCT u, v FROM pairs WHERE cnt >= 3)$steps
       |SELECT x AS node, CAST(d AS BIGINT) AS degree FROM d$rounds
       |ORDER BY node NULLS FIRST, degree NULLS FIRST""".stripMargin
  }

  /** DuckDB oracle for Q93v: synchronous LPA unrolled as `rounds`
    * argmax CTEs over the q93s co-occurrence edges — identical round
    * count and tie rule (count desc, label asc) to the operator. */
  private def lpaOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prev = if (r == 1) "l0" else s"l${r - 1}"
      s""",
         |l$r AS (SELECT n, nl AS l FROM (
         |  SELECT e.n, p.l AS nl, count(*) AS c,
         |    row_number() OVER (PARTITION BY e.n
         |      ORDER BY count(*) DESC, p.l ASC) AS rn
         |  FROM nbrs e JOIN $prev p ON p.n = e.m
         |  GROUP BY e.n, p.l) WHERE rn = 1)""".stripMargin
    }.mkString
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents),
       |t AS (SELECT doc_id, unnest(ws) AS w,
       |    generate_subscripts(ws, 1) AS pos FROM w),
       |pairs AS (SELECT least(a.w, b.w) AS u, greatest(a.w, b.w) AS v,
       |    count(*) AS cnt
       |  FROM t a JOIN t b
       |    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
       |  WHERE a.w <> b.w GROUP BY 1, 2),
       |edges AS (SELECT DISTINCT u, v FROM pairs WHERE cnt >= 3),
       |nbrs AS (SELECT u AS n, v AS m FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |l0 AS (SELECT DISTINCT n, n AS l FROM nbrs)$steps
       |SELECT n AS node, l AS label FROM l$rounds
       |ORDER BY node NULLS FIRST, label NULLS FIRST""".stripMargin
  }

  /** DuckDB oracle for Q99l: both rankings (full-dim truth, 16-dim
    * truncated pred) replayed as CTEs, graded rel = 11 − true rank,
    * DCG terms 6-dp-rounded onto DECIMAL(38,6) before the order-free
    * sum — the operator's exact value path. */
  private def rankingMetricsOracleSql: String =
    s"""WITH qv AS (SELECT vec_id AS q, embedding AS qe FROM embeddings
       |  WHERE vec_id < 8),
       |truth AS (SELECT q, i, tr FROM (SELECT qv.q, e.vec_id AS i,
       |    row_number() OVER (PARTITION BY qv.q
       |      ORDER BY round(${Similarity.cosineSql("qe", "e.embedding")},
       |        6) DESC, e.vec_id ASC) AS tr
       |  FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> qv.q)
       |  WHERE tr <= 10),
       |pred AS (SELECT q, i, pr FROM (SELECT qv.q, e.vec_id AS i,
       |    row_number() OVER (PARTITION BY qv.q
       |      ORDER BY round(${Similarity.cosineSql("list_slice(qe, 1, 16)",
                "list_slice(e.embedding, 1, 16)")}, 6) DESC,
       |        e.vec_id ASC) AS pr
       |  FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> qv.q)
       |  WHERE pr <= 10),
       |rel AS (SELECT q, i, tr, 10 - tr + 1 AS rel FROM truth),
       |j AS (SELECT p.q, p.pr, coalesce(r.rel, 0) AS rel FROM pred p
       |  LEFT JOIN rel r ON r.q = p.q AND r.i = p.i),
       |dcg AS (SELECT q,
       |    sum(CAST(round(CAST(rel AS DOUBLE)
       |      / log2(CAST(pr + 1 AS DOUBLE)), 6) AS DECIMAL(38,6))) AS dcg,
       |    min(CASE WHEN rel > 0 THEN pr END) AS fp,
       |    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits
       |  FROM j GROUP BY q),
       |idcg AS (SELECT q,
       |    sum(CAST(round(CAST(rel AS DOUBLE)
       |      / log2(CAST(tr + 1 AS DOUBLE)), 6) AS DECIMAL(38,6))) AS idcg
       |  FROM rel GROUP BY q)
       |SELECT d.q AS query_id,
       |  round(CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE), 6) AS ndcg,
       |  coalesce(round(1.0e0 / fp, 6), 0.0e0) AS mrr,
       |  CAST(hits AS INT) AS n_hits
       |FROM dcg d JOIN idcg i USING (q)
       |ORDER BY query_id NULLS FIRST, ndcg NULLS FIRST, mrr NULLS FIRST,
       |  n_hits NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q92n: the MMR greedy unrolled as chained CTEs —
    * step 1 is the argmax of 70·rel; each later step t anti-joins the
    * selected set, takes max pair-sim to it, and picks the argmax of
    * s100 = 70·rel − 30·msim with id tiebreak. All score arithmetic
    * is ×100 on DECIMAL(38,6) (λ of a 6-dp sim lands on 7th-decimal
    * halfway points where engines round apart); the emitted score is
    * round(CAST(s100 AS DOUBLE), 6) / 100 — the operator's exact
    * value path. */
  private def mmrOracleSql: String = {
    val steps = (2 to 5).map { t =>
      s""",
         |rem$t AS (SELECT c.* FROM cand c WHERE NOT EXISTS (
         |  SELECT 1 FROM sel${t - 1} s WHERE s.q = c.q AND s.i = c.i)),
         |ms$t AS (SELECT r.q, r.i, any_value(r.rel) AS rel,
         |    max(p.sim) AS msim
         |  FROM rem$t r JOIN ps p ON p.q = r.q AND p.i = r.i
         |  WHERE EXISTS (SELECT 1 FROM sel${t - 1} s
         |    WHERE s.q = p.q AND s.i = p.j)
         |  GROUP BY r.q, r.i),
         |pick$t AS (SELECT q, i, s100, $t AS step FROM (
         |    SELECT q, i, 70 * CAST(rel AS DECIMAL(38,6))
         |        - 30 * CAST(msim AS DECIMAL(38,6)) AS s100,
         |      row_number() OVER (PARTITION BY q ORDER BY
         |        70 * CAST(rel AS DECIMAL(38,6))
         |          - 30 * CAST(msim AS DECIMAL(38,6)) DESC, i ASC) AS rn
         |    FROM ms$t) WHERE rn = 1),
         |sel$t AS (SELECT q, i, s100, step FROM sel${t - 1}
         |  UNION ALL SELECT q, i, s100, step FROM pick$t)""".stripMargin
    }.mkString
    s"""WITH qv AS (SELECT vec_id AS q, embedding AS qe FROM embeddings
       |  WHERE vec_id < 5),
       |sc AS (SELECT qv.q, e.vec_id AS i,
       |    round(${Similarity.cosineSql("qe", "e.embedding")}, 6) AS rel
       |  FROM qv CROSS JOIN embeddings e WHERE e.vec_id <> qv.q),
       |cand AS (SELECT q, i, rel FROM (SELECT *, row_number() OVER (
       |    PARTITION BY q ORDER BY rel DESC, i ASC) AS rn FROM sc)
       |  WHERE rn <= 10),
       |cv AS (SELECT c.q, c.i, e.embedding AS ce FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.i),
       |ps AS (SELECT a.q, a.i, b.i AS j,
       |    round(${Similarity.cosineSql("a.ce", "b.ce")}, 6) AS sim
       |  FROM cv a JOIN cv b ON a.q = b.q AND a.i <> b.i),
       |sel1 AS (SELECT q, i, CAST(70 * CAST(rel AS DECIMAL(38,6))
       |      AS DECIMAL(38,6)) AS s100, 1 AS step
       |  FROM (SELECT q, i, rel, row_number() OVER (PARTITION BY q
       |      ORDER BY 70 * CAST(rel AS DECIMAL(38,6)) DESC, i ASC) AS rn
       |    FROM cand)
       |  WHERE rn = 1)$steps
       |SELECT q AS query_id, CAST(step AS INT) AS step, i AS item,
       |  round(CAST(s100 AS DOUBLE), 6) / 100.0e0 AS score
       |FROM sel5
       |ORDER BY query_id NULLS FIRST, step NULLS FIRST, item NULLS FIRST,
       |  score NULLS FIRST""".stripMargin
  }

  /** DuckDB oracle for Q93k: identical md5('42:'||id) hash, mod-8 shard,
    * (hash, id)-ranked position within the shard. */
  private def shardShuffleOracleSql: String =
    """WITH h AS (SELECT doc_id,
      |    CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)),
      |      1, 8) AS BIGINT) AS h
      |  FROM documents)
      |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
      |  CAST(row_number() OVER (PARTITION BY h % 8
      |    ORDER BY h ASC, doc_id ASC) AS INT) AS pos
      |FROM h
      |ORDER BY doc_id NULLS FIRST, shard NULLS FIRST,
      |  pos NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q92j: identical md5 benchmark split, rounded
    * cosine threshold, per-vector hit count + max. */
  private def semanticDecontaminateOracleSql: String =
    s"""WITH b AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id < 25),
       |c AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE NOT (vec_id < 25)),
       |s AS (SELECT c.vec_id,
       |    round(${Similarity.cosineSql("c.embedding", "b.embedding")}, 6)
       |      AS cs
       |  FROM c CROSS JOIN b)
       |SELECT vec_id, CAST(count(*) AS INT) AS n_bench_hits,
       |  max(cs) AS max_cos
       |FROM s WHERE cs >= 0.3
       |GROUP BY vec_id
       |ORDER BY vec_id NULLS FIRST, n_bench_hits NULLS FIRST,
       |  max_cos NULLS FIRST""".stripMargin

  /** DuckDB oracle for Q90i: q90b's gram-overlap chain with the q09e
    * hash-split predicates — val rows excluded, test grams the bench
    * set, train docs reported. */
  private def splitLeakageOracleSql: String =
    """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      |      AS INT) AS h
      |  FROM documents),
      |f AS (SELECT * FROM w0
      |  WHERE h * 100 < 80 * 65536 OR h * 100 >= 90 * 65536),
      |g AS (SELECT doc_id, h, unnest(CASE WHEN len(w) >= 8 THEN
      |    list_distinct(list_transform(generate_series(1, len(w) - 7),
      |      i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
      |        w[i+4], w[i+5], w[i+6], w[i+7])))
      |    ELSE [] END) AS g FROM f),
      |bench AS (SELECT DISTINCT g FROM g WHERE h * 100 >= 90 * 65536)
      |SELECT doc_id, CAST(count(*) AS INT) AS n_shared_grams
      |FROM g JOIN bench USING (g)
      |WHERE h * 100 < 80 * 65536
      |GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST, n_shared_grams NULLS FIRST""".stripMargin
}
