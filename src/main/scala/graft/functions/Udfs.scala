package graft.functions

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.Canon.orderAll

/** UDF / UDAF / UDTF surface (SURVEY.md §2 Q80–Q83).
  *
  * Design stance: UDFs are opaque to Catalyst — no codegen, no pushdown —
  * so the engine prefers built-ins everywhere (see Scalars/Similarity).
  * These QIDs exist to cover the extension surface itself: a scalar Scala
  * UDF in both registered and column form, the typed Aggregator registered
  * for SQL-expression use, the generator family, and the cosine
  * fast path built from higher-order functions instead of a UDF.
  */
object Udfs {

  /** The reference's slot bucketing (`sources/meteosat.py:88-93`) as a
    * scalar function: floor epoch seconds to the 15-min grid. */
  private val slotFloor: Long => Long =
    s => s - Math.floorMod(s, 900L)

  val all: Seq[Q] = Seq(

    // Q80 — scalar Scala UDF, used BOTH as a registered SQL function and in
    // column form; the two must agree with the built-in floor expression.
    Q("q80_scalar_udf",
      """SELECT event_id,
        |  (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 AS slot_col,
        |  (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 AS slot_sql
        |FROM events
        |ORDER BY event_id NULLS FIRST, slot_col NULLS FIRST,
        |  slot_sql NULLS FIRST""".stripMargin) { (s, dir) =>
      val f = udf(slotFloor)
      s.udf.register("slot_floor", f)
      orderAll(Tables.t(s, dir, "events")
        .select(col("event_id"),
          f(unix_timestamp(col("ts"))).as("slot_col"),
          expr("slot_floor(unix_timestamp(ts))").as("slot_sql")))
    },

    // Q81 — the typed Aggregator (same artifact as Q37) registered as a
    // SQL-callable UDAF, exercised through expr() with a different
    // grouping than q37 so both call paths are covered.
    Q("q81_registered_udaf",
      s"""SELECT l_linestatus,
         |  ${WeightedMeanCents.oracleSql("l_extendedprice", "l_quantity")} AS wmean_price
         |FROM lineitem GROUP BY l_linestatus
         |ORDER BY l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      s.udf.register("wmean_cents",
        udaf(WeightedMeanCents, Encoders.product[WeightedIn]))
      orderAll(Tables.t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(expr("wmean_cents(l_extendedprice, l_quantity)")
          .as("wmean_price")))
    },

    // Q82 — table-generating functions: posexplode over the tokenized part
    // name (built-in Generator; SURVEY §7 found no gap needing a custom
    // one). The ordinal column pins intra-array order for the oracle.
    Q("q82_generator",
      """WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS words
        |  FROM part)
        |SELECT p_partkey,
        |  CAST(unnest(generate_series(1, len(words))) AS INT) AS idx,
        |  unnest(words) AS word
        |FROM w
        |ORDER BY p_partkey NULLS FIRST, idx NULLS FIRST, word NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Tables.t(s, dir, "part")
          .select(col("p_partkey"),
            posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
          .select(col("p_partkey"), (col("pos") + 1).as("idx"), col("word")))
    },

    // Q83 — cosine similarity between consecutive embeddings, via the
    // custom codegen Catalyst Expression (graft.plans.CosineSimilarity —
    // registered per session; bit-identical to the zip_with/aggregate HOF
    // form, asserted in ExpressionSpec). Rounded to 6dp on both sides
    // (the quotient's last bits are the one place the engines' compilers
    // may differ).
    Q("q83_cosine_hof",
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         |ORDER BY vec_a NULLS FIRST, vec_b NULLS FIRST, cos_sim NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val e = Tables.t(s, dir, "embeddings")
        val a = e.select(col("vec_id").as("vec_a"),
          col("embedding").as("ea"))
        val b = e.select(col("vec_id").as("vec_b"),
          col("embedding").as("eb"))
        orderAll(a.join(b, col("vec_b") === col("vec_a") + 1)
          .select(col("vec_a"), col("vec_b"),
            graft.Engine.cosine(col("ea"), col("eb")).as("cos_sim")))
    })
}
