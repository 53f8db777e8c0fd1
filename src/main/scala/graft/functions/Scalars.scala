package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.{Q, Tables}
import graft.Canon.orderAll

/** Scalar-function surface (SURVEY.md §2 Q60–Q65): string, date/time, math,
  * array, map/struct, JSON — all `org.apache.spark.sql.functions._`
  * (codegen'd), no UDFs.
  *
  * Reference analogs: filename regex (`utils/eumdacapi.py:70-71`), timestamp
  * truncation/formatting (`sources/meteosat.py:74,161`), slot arithmetic
  * (`sources/meteosat.py:88-93`), band arrays (`sources/meteosat.py:21`),
  * state/catalog JSON (`sources/meteosat.py:64-78`).
  */
object Scalars {

  val all: Seq[Q] = Seq(

    // Q60 — string functions.
    Q("q60_string",
      """SELECT p_partkey,
        |  substring(p_name, 1, 8) AS sub,
        |  upper(p_brand) AS up, lower(p_type) AS lo,
        |  trim(concat(' ', p_brand, ' ')) AS tr,
        |  concat_ws('#', p_brand, p_type) AS cc,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  length(p_name) AS len,
        |  regexp_extract(p_type, '([A-Z]+)$', 1) AS last_up,
        |  printf('%s-%03d', p_brand, p_size) AS fmt
        |FROM part
        |ORDER BY p_partkey NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.t(s, dir, "part").select(
        col("p_partkey"),
        substring(col("p_name"), 1, 8).as("sub"),
        upper(col("p_brand")).as("up"), lower(col("p_type")).as("lo"),
        trim(concat(lit(" "), col("p_brand"), lit(" "))).as("tr"),
        concat_ws("#", col("p_brand"), col("p_type")).as("cc"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        length(col("p_name")).as("len"),
        regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("last_up"),
        format_string("%s-%03d", col("p_brand"), col("p_size")).as("fmt"))
        .orderBy(col("p_partkey").asc_nulls_first)
    },

    // Q66 (beyond-survey) — string distance + padding/translation: the
    // fuzzy-matching toolbox (levenshtein is the classic dirty-identifier
    // matcher) plus the fixed-width formatting family.
    Q("q66_string_distance",
      """SELECT p_partkey,
        |  levenshtein(substr(p_name, 1, 10), p_brand) AS lev,
        |  lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '#') AS rp,
        |  translate(p_type, 'AEO', 'aeo') AS tr,
        |  reverse(p_brand) AS rev,
        |  repeat('-', p_size % 5) AS gauge
        |FROM part
        |ORDER BY p_partkey NULLS FIRST, lev NULLS FIRST, lp NULLS FIRST,
        |  rp NULLS FIRST, tr NULLS FIRST, rev NULLS FIRST, gauge NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Tables.t(s, dir, "part").select(
          col("p_partkey"),
          levenshtein(substring(col("p_name"), 1, 10), col("p_brand"))
            .as("lev"),
          lpad(col("p_brand"), 12, "*").as("lp"),
          rpad(col("p_brand"), 12, "#").as("rp"),
          translate(col("p_type"), "AEO", "aeo").as("tr"),
          reverse(col("p_brand")).as("rev"),
          expr("repeat('-', CAST(p_size % 5 AS INT))").as("gauge")))
    },

    // Q66b (beyond-survey) — JARO–WINKLER similarity
    // ([[graft.plans.JaroWinkler]] codegen kernel): the standard
    // record-linkage / name-matching comparator — transposition-
    // tolerant where q66's levenshtein counts raw edits — with the
    // Winkler prefix boost above the 0.7 Jaro threshold. A PURE MAP
    // (per-row kernel in whole-stage codegen). The oracle calls
    // DuckDB's OWN jaro_winkler_similarity, so this hash match is a
    // cross-engine, cross-IMPLEMENTATION equality: two independent
    // ports of Winkler's comparator agreeing on every fixture row,
    // every probed branch (window-0, odd transposition floor, boost
    // threshold, prefix cap 4) — the q93s two-routes argument applied
    // to a scalar kernel. The match flag compares the ROUNDED score,
    // so a last-ulp cross-port difference cannot flip it.
    Q("q66b_jaro_winkler",
      """SELECT p_partkey,
        |  round(jaro_winkler_similarity(substr(p_name, 1, 10),
        |    p_brand), 6) AS jw,
        |  (round(jaro_winkler_similarity(substr(p_name, 1, 10),
        |    p_brand), 6) >= 0.5) AS strong
        |FROM part
        |ORDER BY p_partkey NULLS FIRST, jw NULLS FIRST,
        |  strong NULLS FIRST""".stripMargin) { (s, dir) =>
      val jw = round(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.JaroWinkler(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            substring(col("p_name"), 1, 10)),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            col("p_brand")))), 6)
      orderAll(Tables.t(s, dir, "part").select(
        col("p_partkey"), jw.as("jw"), (jw >= 0.5).as("strong")))
    },

    // Q61 — date/time functions. The `slot` column is the reference's 15-min
    // slot bucketing (`sources/meteosat.py:88-93`); epoch seconds use
    // floor() on both sides (DuckDB CAST(double AS BIGINT) rounds, so the
    // oracle floors explicitly).
    Q("q61_datetime",
      """SELECT event_id,
        |  date_trunc('hour', ts) AS hr,
        |  CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mo,
        |  CAST(dayofmonth(ts) AS INT) AS dom,
        |  strftime(ts, '%Y-%m-%d %H:%M') AS fmt,
        |  ts + INTERVAL '15 minutes' AS plus15,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |  make_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) * 1000000) AS slot
        |FROM events
        |ORDER BY event_id NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.t(s, dir, "events").select(
        col("event_id"),
        date_trunc("hour", col("ts")).as("hr"),
        year(col("ts")).as("yr"), month(col("ts")).as("mo"),
        dayofmonth(col("ts")).as("dom"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm").as("fmt"),
        (col("ts") + expr("INTERVAL 15 MINUTES")).as("plus15"),
        unix_timestamp(col("ts")).as("epoch_s"),
        timestamp_seconds(floor(unix_timestamp(col("ts")) / 900) * 900)
          .as("slot"))
        .orderBy(col("event_id").asc_nulls_first)
    },

    // Q62 — math functions. sqrt is IEEE-correctly-rounded (safe to compare
    // exactly); ln is not mandated so it is rounded to 6dp on both sides.
    // ceil/floor are BIGINT in Spark but DOUBLE in DuckDB, so the oracle
    // casts them — values are equal either way, serialization is not.
    Q("q62_math",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_extendedprice - 10000) AS ab,
        |  CAST(ceil(l_discount * 100) AS BIGINT) AS ce,
        |  CAST(floor(l_tax * 100) AS BIGINT) AS fl,
        |  round(l_quantity) AS rq,
        |  l_quantity * l_quantity AS sq,
        |  sqrt(l_quantity) AS sr,
        |  round(ln(l_extendedprice), 6) AS lnp,
        |  l_orderkey % 7 AS md,
        |  greatest(l_discount, l_tax) AS gr, least(l_discount, l_tax) AS le
        |FROM lineitem
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST
        |LIMIT 5000""".stripMargin) { (s, dir) =>
      Tables.t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_extendedprice") - 10000).as("ab"),
        ceil(col("l_discount") * 100).as("ce"),
        floor(col("l_tax") * 100).as("fl"),
        round(col("l_quantity")).as("rq"),
        (col("l_quantity") * col("l_quantity")).as("sq"),
        sqrt(col("l_quantity")).as("sr"),
        round(log(col("l_extendedprice")), 6).as("lnp"),
        pmod(col("l_orderkey"), lit(7)).as("md"),
        greatest(col("l_discount"), col("l_tax")).as("gr"),
        least(col("l_discount"), col("l_tax")).as("le"))
        .orderBy(col("l_orderkey").asc_nulls_first,
          col("l_linenumber").asc_nulls_first)
        .limit(5000)
    },

    // Q63 — array / higher-order functions over the 64-dim embeddings.
    // Sums run left-to-right sequentially in both engines (Spark `aggregate`
    // HOF vs DuckDB list_reduce), in double — deterministic. Array-valued
    // intermediates (slice, array_sort) are surfaced as element_at scalars
    // because the driver's canonicalizer cannot sort/hash list columns.
    Q("q63_array",
      """SELECT vec_id,
        |  len(embedding) AS dim,
        |  embedding[1] AS h1, embedding[2] AS h2, embedding[3] AS h3,
        |  list_sort(embedding)[1] AS lo1, list_sort(embedding)[2] AS lo2,
        |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
        |  list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |              (a, x) -> a + x) AS total
        |FROM embeddings
        |ORDER BY vec_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val sorted = array_sort(col("embedding"))
      Tables.t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("h1"),
        element_at(col("embedding"), 2).as("h2"),
        element_at(col("embedding"), 3).as("h3"),
        element_at(sorted, 1).as("lo1"),
        element_at(sorted, 2).as("lo2"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"),
        aggregate(
          transform(col("embedding"), x => x.cast(DoubleType)),
          lit(0.0), (acc, x) => acc + x).as("total"))
        .orderBy(col("vec_id").asc_nulls_first)
    },

    // Q67 (beyond-survey) — array SET operations (union/intersect/except/
    // overlap/position/flatten). Outputs are sizes and scalars: the set
    // results themselves are order-ambiguous across engines. DuckDB's
    // list_position matches Spark's array_position 0-for-missing.
    Q("q67_array_setops",
      """WITH t AS (SELECT p_partkey,
        |    string_split(lower(p_name), ' ') AS a,
        |    string_split(lower(p_type), ' ') AS b
        |  FROM part)
        |SELECT p_partkey,
        |  CAST(len(list_distinct(list_concat(a, b))) AS INT) AS n_union,
        |  CAST(len(list_intersect(a, b)) AS INT) AS n_inter,
        |  CAST(len(list_filter(list_distinct(a),
        |    x -> NOT list_contains(b, x))) AS INT) AS n_except,
        |  list_has_any(a, b) AS has_common,
        |  CAST(list_position(a, 'green') AS BIGINT) AS pos_green,
        |  CAST(len(flatten([a, b])) AS INT) AS n_flat
        |FROM t
        |ORDER BY p_partkey NULLS FIRST, n_union NULLS FIRST,
        |  n_inter NULLS FIRST, n_except NULLS FIRST, has_common NULLS FIRST,
        |  pos_green NULLS FIRST, n_flat NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Tables.t(s, dir, "part")
          .withColumn("a", split(lower(col("p_name")), " "))
          .withColumn("b", split(lower(col("p_type")), " "))
          .select(col("p_partkey"),
            size(array_union(col("a"), col("b"))).as("n_union"),
            size(array_intersect(col("a"), col("b"))).as("n_inter"),
            size(array_except(col("a"), col("b"))).as("n_except"),
            arrays_overlap(col("a"), col("b")).as("has_common"),
            array_position(col("a"), "green").as("pos_green"),
            size(flatten(array(col("a"), col("b")))).as("n_flat")))
    },

    // Q68 (beyond-survey) — regexp family: extract-all, global replace,
    // match counting. Array output is reduced to size + guarded first
    // element (ANSI element_at throws on out-of-bounds).
    Q("q68_regexp",
      """SELECT p_partkey,
        |  CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INT) AS n_words,
        |  CASE WHEN len(regexp_extract_all(p_name, '[a-z]+')) >= 1
        |    THEN regexp_extract_all(p_name, '[a-z]+')[1] END AS first_word,
        |  regexp_replace(p_type, '[AEIOU]', '*', 'g') AS starred,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels
        |FROM part
        |ORDER BY p_partkey NULLS FIRST, n_words NULLS FIRST,
        |  first_word NULLS FIRST, starred NULLS FIRST, n_vowels NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val words = regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0))
        orderAll(Tables.t(s, dir, "part")
          .withColumn("w", words)
          .select(col("p_partkey"),
            size(col("w")).as("n_words"),
            when(size(col("w")) >= 1, element_at(col("w"), 1))
              .as("first_word"),
            regexp_replace(col("p_type"), "[AEIOU]", "*").as("starred"),
            size(regexp_extract_all(col("p_name"), lit("[aeiou]"), lit(0)))
              .as("n_vowels")))
    },

    // Q64 — map/struct construction + field access (composites-dict analog,
    // meteosat.py:18-24). Output is scalar so the oracle can compute the
    // same values without engine-specific map serialization.
    Q("q64_map_struct",
      """SELECT n_nationkey, n_name AS mapped_name, n_regionkey AS struct_rk,
        |  2 AS n_keys
        |FROM nation
        |ORDER BY n_nationkey NULLS FIRST""".stripMargin) { (s, dir) =>
      val m = map(lit("name"), col("n_name"),
        lit("key"), col("n_nationkey").cast("string"))
      Tables.t(s, dir, "nation").select(
        col("n_nationkey"),
        element_at(m, "name").as("mapped_name"),
        struct(col("n_regionkey").as("rk"), col("n_name").as("nm"))
          .getField("rk").as("struct_rk"),
        size(map_keys(m)).as("n_keys"))
        .orderBy(col("n_nationkey").asc_nulls_first)
    },

    // Q65 — JSON functions over events.props (state/catalog JSON analog).
    // to_json output is rebuilt by concatenation in the oracle to avoid
    // engine-specific spacing.
    Q("q65_json",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS INT) * 2 AS k2,
        |  '{"k":' || json_extract_string(props, '$.k') || '}' AS js
        |FROM events
        |ORDER BY event_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("int")
      // three per-row JSON parses otherwise run inside the single-row-
      // group scan task (Spread scaladoc; guide §2.5)
      graft.Spread(Tables.t(s, dir, "events"), col("event_id"))
        .select(
        col("event_id"),
        k.as("k"),
        (from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k") * 2).as("k2"),
        to_json(struct(k.as("k"))).as("js"))
        .orderBy(col("event_id").asc_nulls_first)
    },

    // Q65b (beyond-survey) — the VARIANT type (Spark 4): semi-structured
    // ingestion without a declared schema. parse_json builds the binary
    // variant encoding ONCE per row at ingest; typed paths are then
    // extracted with variant_get (shredded access, no per-query JSON
    // re-parse — at 100 TB the difference between parsing strings on
    // every read and walking a binary tree), with try_variant_get as the
    // corrupt-path null-safe form. The oracle reads the same paths with
    // DuckDB's JSON extraction — typed results must agree exactly.
    Q("q65b_variant",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) + 1 AS k1,
        |  CAST(NULL AS DOUBLE) AS missing
        |FROM events
        |ORDER BY event_id NULLS FIRST, k NULLS FIRST, k1 NULLS FIRST,
        |  missing NULLS FIRST""".stripMargin) { (s, dir) =>
      val v = parse_json(col("props"))
      orderAll(Tables.t(s, dir, "events").select(
        col("event_id"),
        variant_get(v, "$.k", "int").as("k"),
        (variant_get(v, "$.k", "bigint") + 1).as("k1"),
        try_variant_get(v, "$.absent", "double").as("missing")))
    })
}
