package graft.operators

import org.apache.spark.sql.functions._
import graft.{Canon, Q, Spread, Tables}
import graft.Canon.{avgDec, avgDecSql, orderAll, sumDec, sumDecSql}
import graft.functions.WeightedMeanCents

/** Aggregation surface (SURVEY.md §2 Q30–Q37).
  *
  * Generalizes the reference's per-pixel band math + re-grid reductions
  * (`utils/conversion.py:15-17`, `sources/meteosat.py:177-185`) into the full
  * hash-aggregate family. All double measures go through [[Canon.sumDec]] for
  * cross-engine determinism; Catalyst plans these as partial+final hash
  * aggregates (map-side combine), which is the scale-out shape we want: the
  * shuffle carries one row per (partition, group), not per input row.
  */
object Aggregates {

  val all: Seq[Q] = Seq(

    // Q30 — TPC-H Q1 shape: multi-measure hash agg with low-cardinality keys.
    Q("q30_hash_agg",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sumDecSql("l_quantity")} AS sum_qty,
         |  ${sumDecSql("l_extendedprice")} AS sum_base_price,
         |  ${sumDecSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${sumDecSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${avgDecSql("l_quantity")} AS avg_qty,
         |  ${avgDecSql("l_extendedprice")} AS avg_price,
         |  ${avgDecSql("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val li = Tables.t(s, dir, "lineitem")
        // spread the single-row-group scan before the 7-measure decimal
        // partial aggregate (Spread scaladoc; guide §2.5)
        orderAll(Spread(li
          .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp")),
            col("l_orderkey"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sumDec(col("l_quantity")).as("sum_qty"),
            sumDec(col("l_extendedprice")).as("sum_base_price"),
            sumDec(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
            sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
            avgDec(col("l_quantity")).as("avg_qty"),
            avgDec(col("l_extendedprice")).as("avg_price"),
            avgDec(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order")))
    },

    // Q30b (beyond-survey) — INCREMENTAL aggregate maintenance: a
    // stored partial-state table (the 95% "history") merged with a new
    // batch's partials (the q09 5% sample) — the mergeable-rollup
    // discipline that makes metric maintenance possible at 100 TB,
    // where recomputing history per batch is off the table: history is
    // reduced ONCE to |groups| rows of (count, DECIMAL(38,6) sum)
    // state, and each batch costs its own scan plus a |groups|-row
    // merge. Counts merge by addition and decimal sums are exactly
    // associative, so merged state ≡ the from-scratch aggregate — and
    // the ORACLE IS the from-scratch aggregate, making mergeability a
    // hash-gated theorem here, not a design note.
    Q("q30b_incremental_agg",
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${sumDecSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag NULLS FIRST, n NULLS FIRST,
         |  sum_qty NULLS FIRST""".stripMargin) { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 6)
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(dec)).as("s"))
      val li = Tables.t(s, dir, "lineitem")
      // coalesce makes the split TOTAL: for a NULL l_orderkey the raw
      // md5 predicate is NULL, so both !p and p filters would drop the
      // row — silently losing it from both partials while the oracle's
      // plain GROUP BY counts it. Null keys land in the history side.
      val isBatch = coalesce(
        graft.Engine.stableSample(col("l_orderkey"), 5), lit(false))
      orderAll(partials(li.filter(!isBatch))
        .unionByName(partials(li.filter(isBatch)))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("n")).as("n"),
          sum(col("s")).cast(org.apache.spark.sql.types.DoubleType)
            .as("sum_qty")))
    },

    // Q31 — global (grand) aggregate, no grouping key.
    Q("q31_global_agg",
      s"""SELECT count(*) AS n_rows,
         |  ${sumDecSql("l_extendedprice")} AS total_price,
         |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
         |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables.t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sumDec(col("l_extendedprice")).as("total_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))
    },

    // Q32 — exact distinct counts (expand + two-phase agg under the hood).
    Q("q32_count_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(Tables.t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows")))
    },

    // Q33 — HLL approximate distinct. Sketch internals differ across engines,
    // so the query is self-validating: it computes both the HLL estimate and
    // the exact count and emits whether the estimate lands within the ±5%
    // SURVEY §2 tolerance. The oracle then hash-matches on the boolean.
    // AggregatesSpec asserts the same bound on raw values.
    Q("q33_approx_distinct",
      """SELECT l_returnflag, true AS within_tol
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(Tables.t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact"))
        .select(col("l_returnflag"),
          col("approx").between(col("exact") * 0.95, col("exact") * 1.05)
            .as("within_tol")))
    },

    // Q34 — ROLLUP with grouping_id (Spark) == GROUPING(a, b) (DuckDB): both
    // are MSB-first bitmasks over the grouping columns.
    Q("q34_rollup",
      s"""SELECT l_returnflag, l_linestatus,
         |  GROUPING(l_returnflag, l_linestatus) AS gid,
         |  count(*) AS n, ${sumDecSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Spread(Tables.t(s, dir, "lineitem"),
            col("l_orderkey"))
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n"),
            sumDec(col("l_quantity")).as("sum_qty"))
          .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty"))
    },

    // Q34c (beyond-survey) — CUBE: all four margins of the
    // (flag, status) pair in one pass, completing the multi-aggregate
    // trio (q34 rollup, q34b grouping sets). Same Expand + single hash
    // aggregate physical shape — 2^k grouping sets still cost ONE
    // shuffle, which is the only affordable form of an OLAP margin
    // sweep at 100 TB.
    Q("q34c_cube",
      s"""SELECT l_returnflag, l_linestatus,
         |  GROUPING(l_returnflag, l_linestatus) AS gid,
         |  count(*) AS n, ${sumDecSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
         |  gid NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Spread(Tables.t(s, dir, "lineitem"),
            col("l_orderkey"))
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n"),
            sumDec(col("l_quantity")).as("sum_qty"))
          .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty"))
    },

    // Q34b (beyond-survey) — GROUPING SETS that neither ROLLUP nor CUBE
    // express: ((flag,status),(status),()) — the per-cell detail, the
    // status margin WITHOUT the flag margin, and the grand total. Spark 4's
    // Dataset.groupingSets plans this as a single Expand + one hash
    // aggregate (one scan, no self-union) — the same physical shape DuckDB
    // uses, and the right one at 100 TB: k grouping sets cost one shuffle,
    // not k.
    Q("q34b_grouping_sets",
      s"""SELECT l_returnflag, l_linestatus,
         |  GROUPING(l_returnflag, l_linestatus) AS gid,
         |  count(*) AS n, ${sumDecSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
         |  (l_linestatus), ())
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Spread(Tables.t(s, dir, "lineitem"),
            col("l_orderkey"))
          .groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_linestatus")), Seq.empty),
            col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n"),
            sumDec(col("l_quantity")).as("sum_qty"))
          .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty"))
    },

    // Q35 — min_by/max_by. The ordering value embeds the unique l_orderkey
    // so ties on l_shipdate cannot make the winner engine-dependent. The key
    // is a zero-padded string "(epoch)(orderkey)": byte-wise comparison is
    // then numeric comparison, it can never overflow at any scale factor
    // (an integer-packed key would), and both engines compare it
    // identically. (DuckDB's arg_min has no wide-integer key overload — a
    // DECIMAL key silently degrades to DOUBLE and loses the tie-break.)
    Q("q35_min_by",
      """SELECT l_returnflag,
        |  arg_min(l_orderkey, printf('%019d%019d', CAST(floor(epoch(l_shipdate)) AS BIGINT), l_orderkey)) AS first_order,
        |  arg_max(l_orderkey, printf('%019d%019d', CAST(floor(epoch(l_shipdate)) AS BIGINT), l_orderkey)) AS last_order
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin) { (s, dir) =>
      // STRUCT ordering key, not the oracle's zero-padded string (r17,
      // guide §1.2 per-task work): struct comparison is field-by-field
      // (epoch, then orderkey) — the identical total order the printf
      // key encodes byte-wise — without materializing two 38-char
      // strings per row inside the aggregate (format_string was
      // evaluated once per min_by AND once per max_by). DuckDB keeps
      // the printf form because its arg_min has no struct-key overload;
      // the WINNER (the emitted l_orderkey) is unchanged, which is what
      // the oracle hashes.
      val ord = struct(unix_timestamp(col("l_shipdate")).as("e"),
        col("l_orderkey").as("k"))
      orderAll(Spread(Tables.t(s, dir, "lineitem"),
          col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          min_by(col("l_orderkey"), ord).as("first_order"),
          max_by(col("l_orderkey"), ord).as("last_order")))
    },

    // Q36 — collect_list, sorted post-hoc since collection order is
    // partition-dependent (SURVEY §2 canonicalization). The sorted list is
    // then posexploded back into (group, idx, value) scalar rows: the driver
    // cannot hash array columns, and the ordinal index proves the in-array
    // order matched, which a bare explode would not.
    Q("q36_collect_list",
      """WITH agg AS (
        |  SELECT o_orderpriority, list_sort(list(o_totalprice)) AS prices
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority,
        |  CAST(unnest(generate_series(1, len(prices))) AS INT) AS idx,
        |  unnest(prices) AS price
        |FROM agg
        |ORDER BY o_orderpriority NULLS FIRST, idx NULLS FIRST, price NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Tables.t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(array_sort(collect_list(col("o_totalprice"))).as("prices"))
          .select(col("o_orderpriority"),
            posexplode(col("prices")).as(Seq("pos", "price")))
          .select(col("o_orderpriority"), (col("pos") + 1).as("idx"),
            col("price")))
    },

    // Q38 (beyond-survey) — exact interpolated percentiles. Both engines
    // interpolate linearly at rank (n−1)·p over the sorted values; the
    // result is rounded to 6dp on both sides and posexploded to scalar
    // rows (arrays don't canonicalize).
    Q("q38_percentile",
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS qs
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  CAST(unnest(generate_series(1, 3)) AS INT) AS idx,
        |  round(unnest(qs), 6) AS q
        |FROM agg
        |ORDER BY l_returnflag NULLS FIRST, idx NULLS FIRST, q NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(Tables.t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
            .as("qs"))
          .select(col("l_returnflag"),
            posexplode(col("qs")).as(Seq("pos", "qraw")))
          .select(col("l_returnflag"), (col("pos") + 1).as("idx"),
            round(col("qraw"), 6).as("q")))
    },

    // Q39 (beyond-survey) — approximate percentile sketch, self-validating
    // like Q33: the estimate must land within ±5% of the exact median
    // (t-digest/GK internals differ per engine, so only the tolerance
    // booleans are hash-matched).
    Q("q39_approx_percentile",
      """SELECT l_returnflag, true AS within_tol
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(Spread(Tables.t(s, dir, "lineitem"),
          col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, 0.5D)").as("ap"),
          expr("percentile(l_extendedprice, 0.5D)").as("ex"))
        .select(col("l_returnflag"),
          col("ap").between(col("ex") * 0.95, col("ex") * 1.05)
            .as("within_tol")))
    },

    // Q37 — custom typed Aggregator (weighted mean, exact integer buffer).
    Q("q37_weighted_mean",
      s"""SELECT l_returnflag,
         |  ${WeightedMeanCents.oracleSql("l_extendedprice", "l_quantity")} AS wmean_price
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(Tables.t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(WeightedMeanCents.column(
          col("l_extendedprice"), col("l_quantity")).as("wmean_price")))
    },

    // Q33b (beyond-survey) — MERGEABLE distinct sketches, the two-level
    // shape 100 TB demands: per-shard HLL sketches (Apache DataSketches
    // via hll_sketch_agg — map-side, fixed-size state) are UNIONED into a
    // global estimate (hll_union_agg) without ever re-reading the data.
    // This is the property approx_count_distinct (q33) exercises only
    // implicitly; here the partial→merge hand-off is explicit, exactly
    // how a fleet of executors (or days of incremental runs) would
    // combine per-partition cardinality state. Sketch internals are
    // engine-specific, so like q33 the query is self-validating: the
    // merged estimate must land within ±5% of the exact distinct count
    // and only the boolean is hash-matched.
    Q("q33b_hll_union",
      """SELECT CAST(8 AS BIGINT) AS n_shards, true AS within_tol
        |ORDER BY n_shards NULLS FIRST, within_tol NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val shards = Tables.t(s, dir, "orders")
          .groupBy((col("o_orderkey") % 8).as("shard"))
          .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        val merged = shards.agg(
          count(lit(1)).as("n_shards"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = Tables.t(s, dir, "orders")
          .agg(countDistinct(col("o_custkey")).as("exact"))
        orderAll(merged.crossJoin(exact)
          .select(col("n_shards"),
            col("est").between(col("exact") * 0.95, col("exact") * 1.05)
              .as("within_tol")))
    },

    // Q33c (beyond-survey) — HLL SET-OVERLAP estimate: |A∩B| via
    // inclusion-exclusion over three sketches (est(A) + est(B) −
    // est(A∪B)) — the audience-overlap / cross-contamination question
    // ("how many high-value clickers also purchase big") answered
    // without ever shuffling the raw id sets together; at 100 TB each
    // side reduces to a kilobyte sketch and the union is sketch
    // algebra. Like q33/q33b the sketch internals are engine-specific,
    // so the oracle hash-gates tolerance BOOLEANS against the exact
    // answer (±5% each side, ±15% for the subtracted intersection —
    // inclusion-exclusion compounds the component errors).
    Q("q33c_overlap_estimate",
      """SELECT true AS a_ok, true AS b_ok, true AS inter_ok
        |ORDER BY a_ok NULLS FIRST, b_ok NULLS FIRST,
        |  inter_ok NULLS FIRST""".stripMargin) { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      def side(t: String) = ev
        .filter(col("event_type") === t && col("value") > 80)
        .select(col("user_id"))
      val sk = side("click").agg(hll_sketch_agg(col("user_id")).as("ska"))
        .crossJoin(side("purchase")
          .agg(hll_sketch_agg(col("user_id")).as("skb")))
        .select(hll_sketch_estimate(col("ska")).as("ea"),
          hll_sketch_estimate(col("skb")).as("eb"),
          hll_sketch_estimate(hll_union(col("ska"), col("skb")))
            .as("eu"))
      val exact = side("click").distinct()
        .agg(count(lit(1)).as("xa"))
        .crossJoin(side("purchase").distinct().agg(count(lit(1)).as("xb")))
        .crossJoin(side("click").intersect(side("purchase"))
          .agg(count(lit(1)).as("xi")))
      orderAll(sk.crossJoin(exact).select(
        col("ea").between(col("xa") * 0.95, col("xa") * 1.05).as("a_ok"),
        col("eb").between(col("xb") * 0.95, col("xb") * 1.05).as("b_ok"),
        (col("ea") + col("eb") - col("eu"))
          .between(col("xi") * 0.85, col("xi") * 1.15).as("inter_ok")))
    },

    // Q33d (beyond-survey) — COUNT-MIN sketch frequency estimation
    // ([[graft.Engine.countMinWords]], depth 4 × width 256): the
    // mergeable fixed-size frequency summary kept when exact per-token
    // counts would be corpus-sized state — h_j(t) = (poly257(t)·(2j+1)
    // + 97j) mod width increments one counter per row, a point query
    // reads the MIN across rows; always overestimates, error ≤ 2N/width
    // w.p. 1−2⁻ᵈ. Unlike the q33 HLL family the whole sketch is
    // integer-deterministic, so the oracle replays it EXACTLY (the
    // same poly-hash recurrence the q90o/q90r oracles fold). Scale
    // shape: the build aggregate map-side-combines every partition to
    // ≤ d·w cells — the shuffle is config-sized regardless of corpus;
    // the exact top-20 pass exists only to GRADE the estimate.
    Q("q33d_countmin",
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |tok AS (SELECT t, list_reduce(list_transform(
        |      range(1, len(t) + 1), i -> CAST(ascii(t[i]) AS BIGINT)),
        |    (a, b) -> (a * 257 + b) % 1000000007) AS h
        |  FROM tk WHERE len(t) > 0),
        |cells AS (SELECT g.j AS j, (h * (2 * g.j + 1) + 97 * g.j) % 256
        |      AS b, count(*) AS c
        |  FROM tok, generate_series(0, 3) g(j) GROUP BY 1, 2),
        |exact AS (SELECT t AS word, count(*) AS exact, min(h) AS h
        |  FROM tok GROUP BY 1),
        |top AS (SELECT word, exact, h FROM exact
        |  ORDER BY exact DESC, word ASC LIMIT 20),
        |probe AS (SELECT word, exact, g.j AS j,
        |    (h * (2 * g.j + 1) + 97 * g.j) % 256 AS b
        |  FROM top, generate_series(0, 3) g(j))
        |SELECT word, CAST(exact AS BIGINT) AS exact,
        |  CAST(min(c) AS BIGINT) AS est,
        |  CAST(min(c) - exact AS BIGINT) AS overest
        |FROM probe JOIN cells USING (j, b)
        |GROUP BY word, exact
        |ORDER BY word NULLS FIRST, exact NULLS FIRST, est NULLS FIRST,
        |  overest NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.countMinWords(
        Tables.t(s, dir, "documents"), col("text"),
        depth = 4, width = 256, topN = 20))
    },

    // Q46 (beyond-survey) — statistical aggregates (correlation, sample
    // covariance, sample stddev) made CROSS-ENGINE DETERMINISTIC: the
    // five moments (Σx, Σy, Σxy, Σx², Σy²) are computed as exact
    // order-free decimal sums (the Canon.sumDec discipline), and the
    // closed-form statistics are then derived in double from those exact
    // values — identical IEEE operations on identical inputs in both
    // engines, so the results are bit-identical with no tolerance needed.
    // A naive corr()/stddev() aggregate is order-dependent in its float
    // accumulation and can NOT hash-match across engines; Spark's builtin
    // corr is still exercised, validated against the deterministic form
    // (±1e-9, far wider than its real partition-order wobble).
    Q("q46_stats", {
      def m(e: String) = sumDecSql(e)
      s"""WITH mo AS (SELECT l_returnflag,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    ${m("l_quantity")} AS sx, ${m("l_extendedprice")} AS sy,
         |    ${m("l_quantity * l_extendedprice")} AS sxy,
         |    ${m("l_quantity * l_quantity")} AS sxx,
         |    ${m("l_extendedprice * l_extendedprice")} AS syy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag,
         |  round((n * sxy - sx * sy) /
         |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qp,
         |  round((sxy - sx * sy / n) / (n - 1), 6) AS covar_qp,
         |  round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6) AS stddev_q,
         |  true AS builtin_ok
         |FROM mo
         |ORDER BY l_returnflag NULLS FIRST, corr_qp NULLS FIRST,
         |  covar_qp NULLS FIRST, stddev_q NULLS FIRST, builtin_ok NULLS FIRST""".stripMargin
    }) { (s, dir) =>
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      val mo = Spread(Tables.t(s, dir, "lineitem"),
          col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sumDec(x).as("sx"), sumDec(y).as("sy"),
          sumDec(x * y).as("sxy"), sumDec(x * x).as("sxx"),
          sumDec(y * y).as("syy"),
          corr(x, y).as("corr_builtin"))
      val corrDet = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy")))
      orderAll(mo.select(col("l_returnflag"),
        round(corrDet, 6).as("corr_qp"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("n") - 1), 6).as("covar_qp"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))), 6).as("stddev_q"),
        (abs(col("corr_builtin") - corrDet) < 1e-9).as("builtin_ok")))
    },

    // Q46b (beyond-survey) — per-group ORDINARY LEAST SQUARES: the
    // closed-form slope/intercept of value-over-time per event type
    // (drift detection over a metric stream), by the q46 moment
    // discipline — one partial-aggregated pass collects (n, Σx, Σy,
    // Σxy) through DECIMAL(38,6) so partial-addition order cannot
    // perturb them, then the normal-equation arithmetic runs on the
    // single-row-per-group moments as an identical IEEE tree in both
    // engines. x is integer seconds from a fixed origin (small, so the
    // x² products stay exact); never a per-row ML pass, never collect —
    // at 100 TB this is exactly one scan plus a |groups|-row reduce.
    Q("q46b_ols", {
      def m(e: String) = sumDecSql(e)
      s"""WITH mo AS (SELECT event_type,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    ${m("epoch_ms(ts) // 1000 - 1704067200")} AS sx,
         |    ${m("value")} AS sy,
         |    ${m("(epoch_ms(ts) // 1000 - 1704067200) * value")} AS sxy,
         |    ${m("(epoch_ms(ts) // 1000 - 1704067200) * " +
                 "(epoch_ms(ts) // 1000 - 1704067200)")} AS sxx
         |  FROM events GROUP BY event_type)
         |SELECT event_type, CAST(n AS INT) AS n_events,
         |  round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0),
         |    6) AS slope,
         |  round(sy / n
         |    - ((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0))
         |    * (sx / n), 6) AS intercept
         |FROM mo
         |ORDER BY event_type NULLS FIRST, n_events NULLS FIRST,
         |  slope NULLS FIRST, intercept NULLS FIRST""".stripMargin
    }) { (s, dir) =>
      val x = (unix_timestamp(col("ts")) - lit(1704067200L)).cast("double")
      val y = col("value")
      val mo = Tables.t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("n"),
          sumDec(x).as("sx"), sumDec(y).as("sy"),
          sumDec(x * y).as("sxy"), sumDec(x * x).as("sxx"))
      // nullif-guard the normal-equation denominator: a single-event
      // group (or constant timestamps) makes it 0, and NaN/Infinity
      // round()/format behavior is NOT part of the cross-engine
      // determinism contract — degenerate groups yield NULL slope and
      // intercept identically in both engines instead.
      val denom = col("n") * col("sxx") - col("sx") * col("sx")
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        when(denom === 0, lit(null)).otherwise(denom)
      orderAll(mo.select(col("event_type"),
        col("n").cast("int").as("n_events"),
        round(slope, 6).as("slope"),
        round(col("sy") / col("n") - slope * (col("sx") / col("n")), 6)
          .as("intercept")))
    },

    // Q46c (beyond-survey) — distribution DRIFT between two corpus
    // slices ([[graft.Engine.tvdDrift]]): per-length-bucket
    // total-variation terms comparing even-numbered sources (reference)
    // against odd (candidate) — the monitoring pass that catches a
    // source mix shifting under a training pipeline. Deliberately TVD,
    // not PSI/KL: shares are exact integer counts through one IEEE
    // divide and subtract, bit-deterministic in any engine, where a
    // log() would tie the contract to libm rounding. One filtered scan
    // into one conditional-sum aggregate on the bucket key — both
    // slices in the same pass, no self-join — plus a 1-row totals
    // broadcast.
    Q("q46c_tvd_drift",
      """WITH d AS (SELECT
        |    least(5, CAST(n_chars // 100 AS INT)) AS bucket,
        |    CAST(substr(source, 4) AS INT) % 2 = 0 AS r
        |  FROM documents),
        |b AS (SELECT bucket,
        |    sum(CASE WHEN r THEN 1 ELSE 0 END) AS n_ref,
        |    sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS n_cand
        |  FROM d WHERE r IS NOT NULL GROUP BY bucket),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |    CAST(sum(n_cand) AS BIGINT) AS tc FROM b),
        |s AS (SELECT bucket, n_ref, n_cand,
        |    CASE WHEN tr = 0 THEN 0.0
        |         ELSE CAST(n_ref AS DOUBLE) / tr END AS sr,
        |    CASE WHEN tc = 0 THEN 0.0
        |         ELSE CAST(n_cand AS DOUBLE) / tc END AS sc
        |  FROM b CROSS JOIN t)
        |SELECT bucket, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cand AS BIGINT) AS n_cand,
        |  round(sr, 6) AS share_ref,
        |  round(sc, 6) AS share_cand,
        |  round(abs(sr - sc), 6) AS gap
        |FROM s
        |ORDER BY bucket NULLS FIRST, n_ref NULLS FIRST, n_cand NULLS FIRST,
        |  share_ref NULLS FIRST, share_cand NULLS FIRST,
        |  gap NULLS FIRST""".stripMargin) { (s, dir) =>
      val srcNum = substring(col("source"), 4, 10).cast("int")
      orderAll(graft.Engine.tvdDrift(
        Tables.t(s, dir, "documents"),
        isRef = srcNum % 2 === 0,
        isCand = srcNum % 2 =!= 0,
        bucket = least(lit(5), floor(col("n_chars") / lit(100)).cast("int"))))
    },

    // Q46d (beyond-survey) — ROBUST outlier detection via median/MAD
    // (Engine.madOutliers): the anomaly gate a telemetry-driven curation
    // pipeline runs per segment. Deliberately NOT mean/stddev — one
    // corrupted batch drags a z-score's own yardstick toward the garbage
    // (breakdown 0), while MAD tolerates up to half the data being bad.
    // Both medians round to 6 dp BEFORE any comparison (exact
    // interpolation agrees across engines only to ~1 ulp; an unrounded
    // threshold would flip boundary rows — the q99b rounded-cosine
    // discipline applied to quantiles). Two sequential grouped
    // aggregates on the same key (irreducible: the second median's
    // input is defined by the first) + the flagging pass; per-key
    // scalar tables join back unhinted (q29 discipline). At 100 TB the
    // exact percentile swaps for approx_percentile per the q39 note.
    // Q46e (beyond-survey) — CHI-SQUARE independence between source and
    // lang (Engine.chiSquareIndependence): the global drift statistic
    // complementing q46c's per-bucket TVD gaps — TVD localizes WHERE two
    // slices differ; χ² answers whether two attributes are ASSOCIATED at
    // all ("did lang stay independent of source after this ingest?").
    // All counts integer; expected counts and cell terms are IEEE ops in
    // one pinned order; the cell-term sum routes through the sumDec
    // decimal grid (the one place FP sum order could diverge engines).
    // One corpus pass for the cell counts; marginals re-derive from the
    // bounded cell table, never a second scan.
    Q("q46e_chi2_independence",
      """WITH c AS (SELECT source, lang, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT source, sum(o) AS r FROM c GROUP BY 1),
        |ct AS (SELECT lang, sum(o) AS cc FROM c GROUP BY 1),
        |n AS (SELECT sum(o) AS n FROM c),
        |t AS (SELECT c.source, c.lang, c.o,
        |    CAST(rt.r AS DOUBLE) * ct.cc / n.n AS e
        |  FROM c JOIN rt USING (source) JOIN ct USING (lang)
        |  CROSS JOIN n)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST((count(DISTINCT source) - 1) * (count(DISTINCT lang) - 1)
        |    AS BIGINT) AS dof,
        |  round(CAST(sum(CAST(((o - e) * (o - e) / e) AS DECIMAL(38,6)))
        |    AS DOUBLE), 6) AS chi2
        |FROM t
        |ORDER BY n_cells NULLS FIRST, dof NULLS FIRST,
        |  chi2 NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.chiSquareIndependence(
        Tables.t(s, dir, "documents"), "source", "lang"))
    },

    Q("q46d_mad_outliers",
      """WITH med AS (SELECT event_type,
        |    round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY event_type),
        |d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
        |  FROM events e JOIN med m USING (event_type)),
        |md AS (SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, d.med, md.mad,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN d.ad > md.mad * 3 THEN 1 END) AS BIGINT)
        |    AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type, d.med, md.mad
        |ORDER BY event_type NULLS FIRST, med NULLS FIRST, mad NULLS FIRST,
        |  n NULLS FIRST, n_outliers NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.madOutliers(
          Tables.t(s, dir, "events"), "event_type", "value", k = 3))
    },

    // Q46f (beyond-survey) — two-sample Kolmogorov–Smirnov drift test
    // ([[graft.Engine.ksTwoSample]]): the CONTINUOUS-measure member of
    // the drift family — q46c's TVD needs a binning choice and χ² (q46e)
    // is categorical; KS compares the two slices' full empirical CDFs
    // with no parameter at all. The ECDF prefix sums are computed by a
    // range-partition + broadcast-offset two-pass (per-partition totals
    // are a driver list bounded by the shuffle-partition COUNT, never
    // data) — no single-partition global window anywhere in the plan.
    // All gaps are integer-ratio IEEE arithmetic; the α=0.05 rejection
    // threshold 1.358·√((n1+n2)/(n1·n2)) is evaluated with the same op
    // sequence in both engines, so even the boolean must agree.
    Q("q46f_ks_test",
      """WITH f AS (SELECT event_type AS g, value AS v FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |pv AS (SELECT v, count(CASE WHEN g = 'click' THEN 1 END) AS c1,
        |    count(CASE WHEN g = 'view' THEN 1 END) AS c2
        |  FROM f GROUP BY v),
        |n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM pv),
        |cum AS (SELECT v,
        |    sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS s1,
        |    sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS s2
        |  FROM pv),
        |g AS (SELECT abs(CAST(s1 AS DOUBLE) / n.n1
        |    - CAST(s2 AS DOUBLE) / n.n2) AS gap
        |  FROM cum CROSS JOIN n)
        |SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
        |  round(max(g.gap), 6) AS d_stat,
        |  (max(g.gap) > 1.358 * sqrt(CAST(n.n1 + n.n2 AS DOUBLE)
        |    / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)))) AS reject
        |FROM g CROSS JOIN n GROUP BY n.n1, n.n2
        |ORDER BY n1 NULLS FIRST, n2 NULLS FIRST, d_stat NULLS FIRST,
        |  reject NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.ksTwoSample(
        Tables.t(s, dir, "events"), col("event_type"), col("value"),
        "click", "view"))
    },

    // Q46g (beyond-survey) — Mann–Whitney U (Wilcoxon rank-sum) with
    // midranks + tie correction ([[graft.Engine.mannWhitneyU]]): the
    // rank-based member of the drift family — KS (q46f) keys on the
    // single largest CDF gap, the rank-sum on a consistent stochastic
    // shift, so the pair disagrees exactly when drift is local vs
    // global. Same scale skeleton as q46f (per-distinct-value counts +
    // the range-partitioned prefix sum); midranks are exact
    // half-integers so the rank-sum routes through the decimal grid,
    // the tie term is pure integer, and the z expression is one pinned
    // IEEE op sequence in both engines — even the reject boolean must
    // hash-match.
    Q("q46g_mann_whitney",
      """WITH f AS (SELECT event_type AS g, value AS v FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |pv AS (SELECT v, count(CASE WHEN g = 'click' THEN 1 END) AS c1,
        |    count(CASE WHEN g = 'view' THEN 1 END) AS c2 FROM f
        |  GROUP BY v),
        |n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM pv),
        |cum AS (SELECT v, c1, c2, c1 + c2 AS t,
        |    coalesce(sum(c1 + c2) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM pv),
        |r AS (SELECT CAST(sum(CAST(CAST(c1 AS DOUBLE) *
        |      (CAST(before AS DOUBLE) + CAST(t + 1 AS DOUBLE) / 2.0)
        |      AS DECIMAL(38,6))) AS DOUBLE) AS r1,
        |    sum(t * t * t - t) AS ties FROM cum),
        |z AS (SELECT n.n1, n.n2, r.r1,
        |    r.r1 - CAST(n.n1 AS DOUBLE) * CAST(n.n1 + 1 AS DOUBLE) / 2.0
        |      AS u,
        |    (r.r1 - CAST(n.n1 AS DOUBLE) * CAST(n.n1 + 1 AS DOUBLE) / 2.0
        |      - CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE) / 2.0)
        |    / sqrt(CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE) / 12.0
        |      * (CAST(n.n1 + n.n2 + 1 AS DOUBLE)
        |        - CAST(r.ties AS DOUBLE)
        |          / (CAST(n.n1 + n.n2 AS DOUBLE)
        |            * CAST(n.n1 + n.n2 - 1 AS DOUBLE)))) AS zs
        |  FROM r CROSS JOIN n)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  round(u, 6) AS u_stat, round(zs, 6) AS z,
        |  (abs(zs) > 1.959964) AS reject
        |FROM z
        |ORDER BY n1 NULLS FIRST, n2 NULLS FIRST, u_stat NULLS FIRST,
        |  z NULLS FIRST, reject NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.mannWhitneyU(
        Tables.t(s, dir, "events"), col("event_type"), col("value"),
        "click", "view"))
    },

    // Q46h (beyond-survey) — POPULATION STABILITY INDEX
    // ([[graft.Engine.psiDrift]]): the binned member of the drift
    // family (TVD q46c categorical, KS q46f largest CDF gap, rank-sum
    // q46g stochastic shift) and what model-monitoring dashboards
    // actually alarm on, with the industry 0.2 threshold. 10
    // equal-width bins over the BASELINE group's [min, max] (outliers
    // clamp into edge cells — the baseline defines the reference
    // frame), 1e-4 floor keeps empty-side logs finite. The 1-row
    // bounds/totals aggregates ride broadcast cross joins (no driver
    // collect in the data path); per-bin terms round to 9 dp onto the
    // exact decimal grid, so even the drift boolean hash-matches.
    Q("q46h_psi_drift",
      """WITH f AS (SELECT event_type AS g, value AS v FROM events
        |    WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |bounds AS (SELECT min(v) AS mn, max(v) AS mx FROM f
        |  WHERE g = 'click'),
        |binned AS (SELECT CASE WHEN mx = mn THEN 0 ELSE
        |      CAST(least(greatest(
        |        floor((v - mn) / ((mx - mn) / 10.0)), 0), 9) AS INT)
        |    END AS bin, g FROM f CROSS JOIN bounds),
        |c AS (SELECT bin,
        |    count(CASE WHEN g = 'click' THEN 1 END) AS ca,
        |    count(CASE WHEN g = 'view' THEN 1 END) AS cb
        |  FROM binned GROUP BY 1),
        |n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c),
        |terms AS (SELECT
        |    CASE WHEN ca = 0 THEN 0.0001
        |      ELSE CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) END AS pa,
        |    CASE WHEN cb = 0 THEN 0.0001
        |      ELSE CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) END AS pb,
        |    na, nb FROM c CROSS JOIN n),
        |s AS (SELECT CAST(max(na) AS BIGINT) AS n_base,
        |    CAST(max(nb) AS BIGINT) AS n_cur,
        |    round(CAST(sum(CAST(round((pa - pb) * ln(pa / pb), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE), 6) AS psi
        |  FROM terms)
        |SELECT n_base, n_cur, psi, (psi > 0.2) AS drift FROM s
        |ORDER BY n_base NULLS FIRST, n_cur NULLS FIRST,
        |  psi NULLS FIRST, drift NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.psiDrift(
        Tables.t(s, dir, "events"), col("event_type"), col("value"),
        "click", "view"))
    },

    // Q46i (beyond-survey) — distributed CUSUM change-point trace
    // ([[graft.Engine.cusumChangePoints]], Page 1954): sequential
    // drift detection per event type over the daily-mean series —
    // the family member the static two-sample tests (q46c/f/g/h)
    // can't cover. THE SCALE TRICK: the recurrence
    // S_d = max(0, S_{d-1} + x_d − μ − k) is computed as
    // P_d − min(0, min_{j≤d} P_j) over the prefix sums — two ordinary
    // partitioned window aggregates, no sequential loop — and because
    // every input is 6-dp-rounded the whole trace runs on
    // DECIMAL(38,6): exact, order-free, bit-identical across engines
    // (a floating CUSUM drifts an ulp per step). μ from the pre-Jan-15
    // reference days; slack 10% and threshold 50% of μ.
    Q("q46i_cusum",
      """WITH daily AS (SELECT event_type AS k,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(count(value) AS DOUBLE), 6) AS daily_mean
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |ref AS (SELECT k,
        |    round(CAST(sum(CAST(daily_mean AS DECIMAL(38,6)))
        |      AS DOUBLE) / CAST(count(daily_mean) AS DOUBLE), 6)
        |      AS mu_ref
        |  FROM daily WHERE day < TIMESTAMP '2024-01-15' GROUP BY 1),
        |r2 AS (SELECT k, mu_ref, round(mu_ref * 0.1e0, 6) AS kk,
        |    round(mu_ref * 0.5e0, 6) AS h FROM ref),
        |j AS (SELECT d.k, d.day, d.daily_mean, mu_ref, kk, h,
        |    CAST(d.daily_mean AS DECIMAL(38,6))
        |      - CAST(mu_ref AS DECIMAL(38,6))
        |      - CAST(kk AS DECIMAL(38,6)) AS dd
        |  FROM daily d JOIN r2 USING (k)),
        |p AS (SELECT *, sum(dd) OVER (PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
        |  FROM j),
        |m AS (SELECT *, least(CAST(0 AS DECIMAL(38,6)), min(pp) OVER (
        |    PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS minp
        |  FROM p)
        |SELECT k AS key, day, daily_mean, mu_ref,
        |  round(CAST(pp - minp AS DOUBLE), 6) AS cusum,
        |  ((pp - minp) > CAST(h AS DECIMAL(38,6))) AS detected
        |FROM m
        |ORDER BY key NULLS FIRST, day NULLS FIRST,
        |  daily_mean NULLS FIRST, mu_ref NULLS FIRST,
        |  cusum NULLS FIRST, detected NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.cusumChangePoints(
          Tables.t(s, dir, "events"), col("event_type"), col("ts"),
          col("value"), lit("2024-01-15").cast("timestamp")))
    },

    // Q46j (beyond-survey) — lag-k AUTOCORRELATION of the daily-mean
    // series ([[graft.Engine.autocorrDaily]]): the seasonality /
    // persistence diagnostic completing the drift family — CUSUM (q46i)
    // asks "did the level shift", ACF asks "does the series remember
    // itself". ALL lag columns come from ONE window pass per key (one
    // sort, not one per lag), stacked row-locally into (key, lag, x, y)
    // pairs and reduced with the q46b OLS moment discipline: exact
    // DECIMAL(38,6) sums over 6-dp inputs, one IEEE-deterministic
    // double expression at the end, round 6; constant series yield
    // NULL acf identically in both engines via the nullif guard.
    Q("q46j_autocorr",
      s"""WITH daily AS (SELECT event_type AS k,
         |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |    round(${sumDecSql("value")}
         |      / CAST(count(value) AS DOUBLE), 6) AS daily_mean
         |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
         |    AND value IS NOT NULL
         |  GROUP BY 1, 2),
         |lg AS (SELECT k, daily_mean AS x,
         |    lag(daily_mean, 1) OVER (PARTITION BY k ORDER BY day) AS y1,
         |    lag(daily_mean, 2) OVER (PARTITION BY k ORDER BY day) AS y2,
         |    lag(daily_mean, 3) OVER (PARTITION BY k ORDER BY day) AS y3
         |  FROM daily),
         |p AS (SELECT k, 1 AS lg_n, x, y1 AS y FROM lg WHERE y1 IS NOT NULL
         |  UNION ALL SELECT k, 2, x, y2 FROM lg WHERE y2 IS NOT NULL
         |  UNION ALL SELECT k, 3, x, y3 FROM lg WHERE y3 IS NOT NULL),
         |mo AS (SELECT k, lg_n, CAST(count(*) AS DOUBLE) AS n,
         |    ${sumDecSql("x")} AS sx, ${sumDecSql("y")} AS sy,
         |    ${sumDecSql("x * y")} AS sxy, ${sumDecSql("x * x")} AS sxx,
         |    ${sumDecSql("y * y")} AS syy
         |  FROM p GROUP BY k, lg_n)
         |SELECT k AS key, CAST(lg_n AS INT) AS lag,
         |  CAST(n AS INT) AS n_pairs,
         |  round((n * sxy - sx * sy)
         |    / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
         |      0), 6) AS acf
         |FROM mo
         |ORDER BY key NULLS FIRST, lag NULLS FIRST, n_pairs NULLS FIRST,
         |  acf NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.autocorrDaily(Tables.t(s, dir, "events"),
        col("event_type"), col("ts"), col("value"), maxLag = 3))
    },

    // Q46k (beyond-survey) — WINSORIZED per-group statistics
    // ([[graft.Engine.winsorizedStats]]): clip every value into its
    // group's exact [p05, p95] percentile band and report the band,
    // the wall counts, and the clipped mean — the outlier-robust
    // aggregate a quality gate wants when a handful of corrupt
    // magnitudes would otherwise own the mean. Two passes by
    // necessity (the band must exist before clipping), both shuffling
    // on the same group key; band edges round to 6 dp BEFORE clipping
    // so every comparison and the clipped decimal sum run on
    // engine-identical values (q38's percentile discipline).
    Q("q46k_winsorize",
      s"""WITH b AS (SELECT event_type AS k,
         |    round(quantile_cont(value, 0.05), 6) AS p_lo,
         |    round(quantile_cont(value, 0.95), 6) AS p_hi
         |  FROM events WHERE event_type IS NOT NULL
         |    AND value IS NOT NULL GROUP BY 1),
         |j AS (SELECT e.event_type AS k, e.value AS v, p_lo, p_hi
         |  FROM events e JOIN b ON b.k = e.event_type
         |  WHERE e.value IS NOT NULL)
         |SELECT k AS key, p_lo, p_hi, count(*) AS n,
         |  CAST(sum(CASE WHEN v < p_lo THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clipped_lo,
         |  CAST(sum(CASE WHEN v > p_hi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clipped_hi,
         |  round(${sumDecSql("least(greatest(v, p_lo), p_hi)")}
         |    / CAST(count(*) AS DOUBLE), 6) AS winsorized_mean
         |FROM j GROUP BY k, p_lo, p_hi
         |ORDER BY key NULLS FIRST, p_lo NULLS FIRST, p_hi NULLS FIRST,
         |  n NULLS FIRST, n_clipped_lo NULLS FIRST,
         |  n_clipped_hi NULLS FIRST,
         |  winsorized_mean NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.winsorizedStats(Tables.t(s, dir, "events"),
        col("event_type"), col("value"), pLo = 0.05, pHi = 0.95))
    },

    // Q46l (beyond-survey) — DAY-OF-WEEK SEASONAL INDEX
    // ([[graft.Engine.seasonalIndexDow]]): mean(value | ISO weekday) /
    // mean(value) per key — the multiplicative profile that turns
    // "traffic looks low today" into "traffic is low FOR A SATURDAY",
    // the normalization step before the daily drift gates (q46i
    // CUSUM, q46h PSI) run on weekday-shaped data. One keyed
    // aggregate to ≤7 cells per key; the per-key overall mean comes
    // from window sums of the cells' EXACT decimal sums (the data is
    // never re-read and doubles are never summed); ISO weekday
    // (Mon=1) is the cross-engine-stable numbering.
    Q("q46l_seasonal",
      """WITH cells AS (SELECT event_type AS k, isodow(ts) AS isodow,
        |    sum(CAST(value AS DECIMAL(38,6))) AS s, count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (SELECT *, sum(s) OVER (PARTITION BY k) AS st,
        |    sum(n) OVER (PARTITION BY k) AS nt FROM cells)
        |SELECT k AS key, CAST(isodow AS INT) AS isodow,
        |  CAST(n AS BIGINT) AS n_events,
        |  round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(nullif(st, 0) AS DOUBLE) / CAST(nt AS DOUBLE)), 6)
        |    AS seasonal_index
        |FROM w
        |ORDER BY key NULLS FIRST, isodow NULLS FIRST,
        |  n_events NULLS FIRST, seasonal_index NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(graft.Engine.seasonalIndexDow(Tables.t(s, dir, "events"),
          col("event_type"), col("ts"), col("value")))
    },

    // Q30c (beyond-survey) — ASSOCIATION RULES
    // ([[graft.Engine.associationRules]]): support / confidence / lift
    // for every part-bucket pair co-present in an order (min support
    // 30 baskets — prunes 4950 candidate pairs to 435 on this
    // fixture). Lift divides out each item's base rate so ubiquitous
    // pairs stop looking interesting; both rule directions emit since
    // confidence is asymmetric. One within-basket self-join keyed on
    // the order id (candidates are Σ|basket|²/2, never corpus²), then
    // dimension-sized broadcast lookups of the item counts.
    Q("q30c_assoc_rules",
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 100
        |    AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
        |ic AS (SELECT i, count(*) AS ci FROM bi GROUP BY 1),
        |p AS (SELECT a.i, b.i AS j, count(*) AS cab FROM bi a
        |  JOIN bi b ON a.b = b.b AND a.i < b.i GROUP BY 1, 2
        |  HAVING count(*) >= 30),
        |r AS (SELECT i AS a, j AS b2, cab FROM p
        |  UNION ALL SELECT j, i, cab FROM p)
        |SELECT r.a AS antecedent, r.b2 AS consequent,
        |  CAST(cab AS BIGINT) AS n_both, CAST(ca.ci AS BIGINT) AS n_ante,
        |  CAST(cb.ci AS BIGINT) AS n_cons,
        |  round(CAST(cab AS DOUBLE) / CAST(nb.n AS DOUBLE), 6)
        |    AS support,
        |  round(CAST(cab AS DOUBLE) / CAST(ca.ci AS DOUBLE), 6)
        |    AS confidence,
        |  round((CAST(cab AS DOUBLE) / CAST(ca.ci AS DOUBLE))
        |    / (CAST(cb.ci AS DOUBLE) / CAST(nb.n AS DOUBLE)), 6) AS lift
        |FROM r JOIN ic ca ON ca.i = r.a JOIN ic cb ON cb.i = r.b2, nb
        |ORDER BY antecedent NULLS FIRST, consequent NULLS FIRST,
        |  n_both NULLS FIRST, n_ante NULLS FIRST, n_cons NULLS FIRST,
        |  support NULLS FIRST, confidence NULLS FIRST,
        |  lift NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.associationRules(
        Tables.t(s, dir, "lineitem"), col("l_orderkey"),
        col("l_partkey") % 100, minSupport = 30))
    },

    // Q46m (beyond-survey) — THEIL-SEN ROBUST SLOPE
    // ([[graft.Engine.theilSen]]): the median of all pairwise slopes
    // of the daily-mean series — the trend line that shrugs off the
    // corrupt days that drag q46b's least-squares fit around
    // (breakdown point 29% vs 0%). The pair join is per-key quadratic
    // ON THE DAILY AGGREGATE only (a year of dailies = 66k pairs; raw
    // events never pair); slopes are exact IEEE divides, medians are
    // q38's exact interpolated percentile, and the intercept median
    // uses the ROUNDED slope so both engines multiply identical
    // doubles.
    Q("q46m_theil_sen",
      """WITH daily AS (SELECT event_type AS k,
        |    date_diff('day', DATE '1970-01-01',
        |      CAST(date_trunc('day', ts) AS DATE)) AS x,
        |    round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(count(value) AS DOUBLE), 6) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |p AS (SELECT a.k, b.x - a.x AS dx, b.y - a.y AS dy
        |  FROM daily a JOIN daily b ON a.k = b.k AND a.x < b.x),
        |s AS (SELECT k, count(*) AS n_pairs,
        |    round(quantile_cont(dy / dx, 0.5), 6) AS slope
        |  FROM p GROUP BY 1)
        |SELECT k AS key, count(*) AS n_days,
        |  CAST(n_pairs AS BIGINT) AS n_pairs, slope,
        |  round(quantile_cont(y - slope * x, 0.5), 6) AS intercept
        |FROM daily JOIN s USING (k)
        |GROUP BY k, n_pairs, slope
        |ORDER BY key NULLS FIRST, n_days NULLS FIRST,
        |  n_pairs NULLS FIRST, slope NULLS FIRST,
        |  intercept NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.theilSen(Tables.t(s, dir, "events"),
        col("event_type"), col("ts"), col("value")))
    },

    // Q46n (beyond-survey) — per-group drift screen with
    // BENJAMINI–HOCHBERG FDR control ([[graft.Engine.bhFdrDrift]]):
    // the multiple-testing layer the pairwise drift family
    // (q46c/f/g/h) lacks — screening every segment vs the rest at
    // α=0.05 each false-alarms ~1 in 20 segments on pure noise; BH
    // bounds the expected false-discovery FRACTION instead. Per group:
    // a 256-bucket-grid two-sample KS vs the complement, p from the
    // large-sample tail bound 2·exp(−2D²·n_g·n_rest/(n_g+n_rest)),
    // then the BH step-up (order p, adj_i = min_{j≥i} p_j·m/j, cap 1).
    // Corpus-sized work is ONE partial-aggregated (group, bucket)
    // histogram; the ECDF windows, dense-grid broadcast, and BH sort
    // all run on domain-sized tables — never a per-row rank (the
    // ECDF-by-global-sort shape dies on a corpus-sized partition).
    Q("q46n_bh_fdr",
      """WITH f AS (SELECT event_type AS g, value AS v FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM f),
        |hist AS (SELECT g,
        |    CAST(CASE WHEN hi > lo THEN least(255, greatest(0,
        |      floor((v - lo) / (hi - lo) * 256))) ELSE 0 END AS INT)
        |      AS b,
        |    count(*) AS c
        |  FROM f CROSS JOIN mm GROUP BY 1, 2),
        |grid AS (SELECT g, b FROM (SELECT DISTINCT g FROM hist)
        |  CROSS JOIN (SELECT DISTINCT b FROM hist)),
        |dense AS (SELECT grid.g, grid.b, coalesce(c, 0) AS c
        |  FROM grid LEFT JOIN hist ON grid.g = hist.g
        |    AND grid.b = hist.b),
        |cum AS (SELECT g, b, c, sum(c) OVER (PARTITION BY g
        |    ORDER BY b ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS cg FROM dense),
        |tot AS (SELECT b, sum(cb) OVER (ORDER BY b ASC ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
        |  FROM (SELECT b, sum(c) AS cb FROM cum GROUP BY 1)),
        |ns AS (SELECT g, sum(c) AS ng FROM hist GROUP BY 1),
        |ntot AS (SELECT sum(c) AS n FROM hist),
        |gaps AS (SELECT cum.g, ng, n,
        |    abs(CAST(cg AS DOUBLE) / ng
        |      - CAST(ca - cg AS DOUBLE) / (n - ng)) AS gap
        |  FROM cum JOIN tot USING (b) JOIN ns ON cum.g = ns.g
        |  CROSS JOIN ntot WHERE n > ng),
        |d AS (SELECT g, ng, n, max(gap) AS d FROM gaps
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT g, ng, d,
        |    least(1.0, 2.0 * exp(-2.0 * d * d * (CAST(ng AS DOUBLE)
        |      * CAST(n - ng AS DOUBLE) / CAST(n AS DOUBLE)))) AS p
        |  FROM d),
        |adj AS (SELECT g, ng, d, p, count(*) OVER () AS m,
        |    row_number() OVER (ORDER BY p ASC, g ASC) AS rk FROM sc),
        |bh AS (SELECT g, ng, d, p,
        |    least(1.0, min(p * m / rk) OVER (ORDER BY p ASC, g ASC
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |      AS padj
        |  FROM adj)
        |SELECT g AS group_key, CAST(ng AS BIGINT) AS n,
        |  round(d, 6) AS d_stat, round(p, 6) AS p_raw,
        |  round(padj, 6) AS p_adj, (padj <= 0.05) AS reject
        |FROM bh
        |ORDER BY group_key NULLS FIRST, n NULLS FIRST,
        |  d_stat NULLS FIRST, p_raw NULLS FIRST, p_adj NULLS FIRST,
        |  reject NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(graft.Engine.bhFdrDrift(Tables.t(s, dir, "events"),
        col("event_type"), col("value")))
    })
}
