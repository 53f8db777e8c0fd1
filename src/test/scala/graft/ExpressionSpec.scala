package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.plans.CosineSimilarity

/** The custom codegen CosineSimilarity expression must be a drop-in for
  * the HOF formulation: same values to the last bit, correct null
  * handling, and it must actually code-generate.
  */
class ExpressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cosine_sim is bit-identical to the zip_with/aggregate HOF form") {
    CosineSimilarity.register(spark)
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val diffs = a.join(b, col("vb") === col("va") + 1)
      .select(expr("cosine_sim(ea, eb)").as("custom"),
        Similarity.cosine(col("ea"), col("eb")).as("hof"))
      .filter(col("custom") =!= col("hof")) // bitwise: any ULP diff survives
      .count()
    assert(diffs == 0)
  }

  test("cosine_sim on ARRAY<DOUBLE> (and mixed float/double) is " +
      "bit-identical to the HOF form — the kmeansRefine centroid case") {
    CosineSimilarity.register(spark)
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("da"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("db"))
    val diffs = a.join(b, col("vb") === col("va") + 1)
      .select(expr("cosine_sim(da, db)").as("dd"),
        expr("cosine_sim(ea, db)").as("fd"),
        expr("cosine_sim(da, eb)").as("df"),
        Similarity.cosine(col("ea"), col("eb")).as("hof"))
      .filter(col("dd") =!= col("hof") || col("fd") =!= col("hof") ||
        col("df") =!= col("hof"))
      .count()
    assert(diffs == 0)
  }

  test("cosine_sim of a vector with itself is 1.0 (exact)") {
    CosineSimilarity.register(spark)
    val bad = Tables.t(spark, TestSpark.sfDir, "embeddings")
      .select(expr("cosine_sim(embedding, embedding)").as("c"))
      .filter(abs(col("c") - 1.0) > 1e-12).count()
    assert(bad == 0)
  }

  test("null input propagates to null output") {
    CosineSimilarity.register(spark)
    import spark.implicits._
    val df = Seq((Some(Seq(1.0f, 2.0f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
    val r = df.select(expr("cosine_sim(a, b)")).collect()
    assert(r(0).isNullAt(0))
  }

  test("the expression participates in whole-stage codegen") {
    CosineSimilarity.register(spark)
    val df = Tables.t(spark, TestSpark.sfDir, "embeddings")
      .select(expr("cosine_sim(embedding, embedding)").as("c"))
    // the projection must sit inside a codegen stage ("*(n)" marker) ...
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("cosine_sim")), plan)
    // ... and the generated code must actually compile: with fallback off,
    // a Janino error in doGenCode would throw here.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.write.format("noop").mode("overwrite").save()
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted sets") {
    graft.plans.SortedIntersectCount.register(spark)
    // Build sorted distinct n-gram arrays the same way jaccardJoin does,
    // pair adjacent docs, and demand exact agreement with the builtin.
    val d = Tables.t(spark, TestSpark.sfDir, "documents")
      .withColumn("sv",
        sort_array(graft.Engine.wordNgrams(split(col("text"), " "), 2)))
      .select(col("doc_id"), col("sv"))
    val a = d.select(col("doc_id").as("ia"), col("sv").as("sa"))
    val b = d.select(col("doc_id").as("ib"), col("sv").as("sb"))
    val diffs = a.join(b, col("ib") === col("ia") + 1)
      .select(expr("sorted_intersect_count(sa, sb)").as("merge"),
        size(array_intersect(col("sa"), col("sb"))).as("builtin"))
      .filter(col("merge") =!= col("builtin")).count()
    assert(diffs == 0)
  }

  test("sorted_intersect_count: empty, disjoint, identical, null cases") {
    graft.plans.SortedIntersectCount.register(spark)
    import spark.implicits._
    val df = Seq(
      (Some(Seq[String]()), Some(Seq("a b")), Some(0)),
      (Some(Seq("a b", "c d")), Some(Seq("e f")), Some(0)),
      (Some(Seq("a b", "c d")), Some(Seq("a b", "c d")), Some(2)),
      (Some(Seq("a b", "c d", "x y")), Some(Seq("c d", "x y", "z z")), Some(2)),
      (Option.empty[Seq[String]], Some(Seq("a b")), Option.empty[Int]))
      .toDF("a", "b", "want")
    val bad = df.select(expr("sorted_intersect_count(a, b)").as("got"),
      col("want"))
      .filter(!(col("got") <=> col("want"))).count()
    assert(bad == 0)
  }

  test("sorted_intersect_count 3-arg: exact at/above the bound, early-exit below") {
    graft.plans.SortedIntersectCount.register(spark)
    import spark.implicits._
    // Contract of the early-terminating form: true intersection ≥ min ⇒
    // EXACT count (the abort bound never fires); true intersection < min
    // ⇒ some partial count that is still < min (callers filter on
    // count ≥ min, so survivors and surviving values are identical to
    // the 2-arg kernel).
    val d = Tables.t(spark, TestSpark.sfDir, "documents")
      .withColumn("sv",
        sort_array(graft.Engine.wordNgrams(split(col("text"), " "), 2)))
      .select(col("doc_id"), col("sv"))
    val a = d.select(col("doc_id").as("ia"), col("sv").as("sa"))
    val b = d.select(col("doc_id").as("ib"), col("sv").as("sb"))
    val pairs = a.join(b, col("ib") === col("ia") + 1)
      .withColumn("exact", expr("sorted_intersect_count(sa, sb)"))
    (1 to 20 by 7).foreach { m =>
      val bad = pairs
        .withColumn("fast", expr(s"sorted_intersect_count(sa, sb, $m)"))
        .filter(
          (col("exact") >= m && col("fast") =!= col("exact")) ||
          (col("exact") < m && col("fast") >= m)).count()
      assert(bad == 0, s"contract violated at min=$m")
    }
    // long-typed third argument works too (the operators pass div results)
    val longMin = pairs
      .withColumn("fast",
        expr("sorted_intersect_count(sa, sb, CAST(3 AS BIGINT))"))
      .filter(col("exact") >= 3 && col("fast") =!= col("exact")).count()
    assert(longMin == 0)
  }

  test("sorted_intersect_count participates in whole-stage codegen") {
    graft.plans.SortedIntersectCount.register(spark)
    val df = Tables.t(spark, TestSpark.sfDir, "documents")
      .withColumn("sv",
        sort_array(graft.Engine.wordNgrams(split(col("text"), " "), 2)))
      .select(expr("sorted_intersect_count(sv, sv)").as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("sorted_intersect_count")), plan)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.write.format("noop").mode("overwrite").save()
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("interpreted eval agrees with codegen") {
    // nullSafeEval path (used by constant folding / fallback) must match.
    import org.apache.spark.sql.catalyst.expressions.Literal
    val mk = (xs: Seq[Float]) => Literal.create(xs,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    val e = CosineSimilarity(mk(Seq(1f, 0f, 2f)), mk(Seq(0.5f, 1f, -2f)))
    val got = e.eval(null).asInstanceOf[Double]
    val exp = {
      val (a, b) = (Seq(1f, 0f, 2f), Seq(0.5f, 1f, -2f))
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    assert(got == exp)
  }

  test("pq_block_dists is bit-identical to the decimal HOF form over the corpus") {
    graft.plans.PqBlockDists.register(spark)
    // The expression replaced the per-block slice→zip_with→DECIMAL(38,6)
    // aggregate chain in Engine.pqBlockDistances; this rebuilds that
    // EXACT predecessor and demands bitwise equality on every
    // (vector, codebook) pair over the real corpus — including the
    // half-up rounding at every term, which the long fixed-point path
    // must reproduce through its tie-boundary fallback.
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val (blocks, subDim) = (8, 8)
    def hofBlock(b: Int) = aggregate(
      zip_with(
        slice(col("ea"), lit(b * subDim + 1), lit(subDim)),
        slice(col("eb"), lit(b * subDim + 1), lit(subDim)),
        (x, c) => {
          val d = x.cast(org.apache.spark.sql.types.DoubleType) -
            c.cast(org.apache.spark.sql.types.DoubleType)
          (d * d).cast(dec)
        }),
      lit(0).cast(dec),
      (acc, t) => acc + t).cast(org.apache.spark.sql.types.DoubleType)
    val e = Tables.t(spark, TestSpark.sfDir, "embeddings")
    val cents = e.filter(col("vec_id") % 61 === 0)
      .select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val diffs = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
      .crossJoin(broadcast(cents))
      .select(expr(s"pq_block_dists(ea, eb, $blocks)").as("fast"),
        array((0 until blocks).map(hofBlock): _*).as("hof"))
      .filter(col("fast") =!= col("hof")) // bitwise: any ULP diff survives
      .count()
    assert(diffs == 0)
  }

  test("pq_block_dists: interpreted eval agrees with the dataframe path; tie rounds half-up") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val mk = (xs: Seq[Float]) => Literal.create(xs,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    // 4 dims, 2 blocks: diffs (1.5, 0.5 | 0.25, 0) → blocks (2.5, 0.0625)
    val e = graft.plans.PqBlockDists(
      mk(Seq(2f, 1f, 0.5f, 1f)), mk(Seq(0.5f, 0.5f, 0.25f, 1f)), 2)
    val got = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray().toSeq
    assert(got == Seq(2.25 + 0.25, 0.0625))
    // the tie 5e-7 (half of the last kept digit) must round UP like the
    // decimal cast: 5e-7 is not exactly representable, but
    // BigDecimal.valueOf sees its shortest decimal "5.0E-7" — an exact
    // tie — and HALF_UP gives 1; the fast path must defer to that
    assert(graft.plans.PqBlockDists.round6(5e-7) == 1L)
    assert(graft.plans.PqBlockDists.round6(4.999e-7) == 0L)
    assert(graft.plans.PqBlockDists.round6(0.0) == 0L)
  }

  test("pq_block_dists: float vector x double codebook (the kmeansRefine seam)") {
    // Production feeds kmeansRefine output as the codebook — ARRAY<DOUBLE>
    // against the corpus's ARRAY<FLOAT>. The expression must take the
    // double getter on that side and still match the decimal HOF chain.
    graft.plans.PqBlockDists.register(spark)
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val v = Seq((1L, Array(1.5f, -2.25f, 0.5f, 3f))).toDF("id", "x")
    val c = Seq((1L, Array(0.25, 1.0, -0.5, 2.125))).toDF("id", "c")
    def hofBlock(b: Int) = aggregate(
      zip_with(
        slice(col("x"), lit(b * 2 + 1), lit(2)),
        slice(col("c"), lit(b * 2 + 1), lit(2)),
        (x, y) => {
          val d = x.cast(org.apache.spark.sql.types.DoubleType) -
            y.cast(org.apache.spark.sql.types.DoubleType)
          (d * d).cast(dec)
        }),
      lit(0).cast(dec),
      (acc, t) => acc + t).cast(org.apache.spark.sql.types.DoubleType)
    val row = v.join(c, "id")
      .select(expr("pq_block_dists(x, c, 2)").as("fast"),
        array(hofBlock(0), hofBlock(1)).as("hof"))
      .head()
    assert(row.getSeq[Double](0) == row.getSeq[Double](1))
  }

  test("sign_project is bit-identical to the per-dim decimal HOF form") {
    graft.plans.SignProject.register(spark)
    // Rebuild Engine.signProjection's HOF predecessor (one decimal
    // aggregate per output dim over the SAME md5 sign matrix) and
    // demand bitwise equality of every y over the real corpus —
    // including the ±round(x) symmetry the fixed-point path relies on
    // for negative inputs.
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val (outDims, dims) = (8, 64)
    def sign(j: Int, i: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4)
      java.lang.Long.parseLong(hex, 16) % 6 match {
        case 0 => 1; case 1 => -1; case _ => 0
      }
    }
    val matrix =
      typedLit((1 to outDims).map(i => (1 to dims).map(j => sign(j, i))))
    def hofY(i: Int) = aggregate(
      zip_with(col("embedding"),
        typedLit((1 to dims).map(j => sign(j, i))),
        (x, r) => (x.cast(org.apache.spark.sql.types.DoubleType) * r)
          .cast(dec)),
      lit(0).cast(dec),
      (acc, t) => acc + t).cast(org.apache.spark.sql.types.DoubleType)
    val diffs = Tables.t(spark, TestSpark.sfDir, "embeddings")
      .select(
        call_function("sign_project", col("embedding"), matrix).as("fast"),
        array((1 to outDims).map(hofY): _*).as("hof"))
      .filter(col("fast") =!= col("hof")) // bitwise
      .count()
    assert(diffs == 0)
  }

  // driver-side per-position reference for cdc_boundaries: the NAIVE
  // fold the rolling recurrence must equal (and the shape the DuckDB
  // oracle computes)
  private def cdcRef(t: String, w: Int): Seq[Int] = {
    def h(sub: String): Long =
      sub.foldLeft(0L)((a, c) => (a * 257L + c) % 1000000007L)
    1 +: (2 to t.length - w + 1)
      .filter(i => h(t.substring(i - 1, i - 1 + w)) % 16 == 0)
  }

  test("cdc_boundaries: the rolling recurrence equals the per-position " +
      "fold on randomized ASCII text, at several window sizes") {
    graft.plans.CdcBoundaries.register(spark)
    import spark.implicits._
    // deterministic pseudo-random corpus (seeded — no Date.now)
    val rnd = new scala.util.Random(421)
    val texts = (1 to 200).map { i =>
      val len = rnd.nextInt(400) // includes len < window edge cases
      (i.toLong, (0 until len).map(_ => (32 + rnd.nextInt(95)).toChar)
        .mkString)
    }
    for (w <- Seq(4, 16, 48)) {
      val got = texts.toDF("id", "t")
        .select(col("id"),
          call_function("cdc_boundaries", col("t"), lit(w)).as("b"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      texts.foreach { case (id, t) =>
        val want = if (t.length < w + 1) Seq(1) else cdcRef(t, w)
        assert(got(id) == want,
          s"window $w, len ${t.length}: ${got(id)} != $want")
      }
    }
  }

  test("cdc_boundaries: content-defined locality — boundaries strictly " +
      "after an inserted prefix are the original's, shifted") {
    graft.plans.CdcBoundaries.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val t = (0 until 600).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val p = "INSERTED/" * 3
    val w = 16
    val rows = Seq((1L, t), (2L, p + t)).toDF("id", "t")
      .select(col("id"),
        call_function("cdc_boundaries", col("t"), lit(w)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // every boundary of t whose window lies fully inside t reappears in
    // p+t shifted by |p| — the property that makes chunk dedup survive
    // edits (fixed-offset chunking re-keys everything instead)
    val shifted = rows(1L).filter(_ >= 2).map(_ + p.length).toSet
    val after = rows(2L).filter(_ >= p.length + 2).toSet
    assert(shifted == after, s"$shifted != $after")
  }

  test("classifier_score: kernel equals the HOF formulation bit-for-bit " +
      "on randomized texts with blank-token edge cases") {
    graft.plans.ClassifierScore.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(1217)
    def word() = (0 until 1 + rnd.nextInt(8))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val texts = (1 to 200).map { i =>
      // random words joined by 1-3 spaces; some leading/trailing blanks
      val body = (0 until rnd.nextInt(30))
        .map(_ => word()).mkString(" " * (1 + rnd.nextInt(3)))
      (i.toLong, if (i % 7 == 0) s"  $body " else body)
    } ++ Seq(
      // non-BMP: surrogate pairs must fold as ONE code point (the
      // ascii()/code-point contract), not two UTF-16 units
      (201L, "😀"),                   // 😀 alone
      (202L, "a😀b c𝕊"),   // mixed in-token
      (203L, " 😀 😀😀 "),
      (204L, "café naïve"))           // BMP multi-byte
    val hof = expr(
      """aggregate(
        |  transform(filter(split(t, ' '), w -> length(w) > 0),
        |    w -> aggregate(transform(sequence(1, length(w)),
        |           i -> CAST(ascii(substring(w, i, 1)) AS BIGINT)),
        |         0L, (a, x) -> (a * 257 + x) % 1000000007) % 4096),
        |  CAST(0.0 AS DOUBLE),
        |  (acc, b) -> acc +
        |    (CAST((b * 2654435761 + 12345) % 1048576 AS DOUBLE)
        |       / 1048576.0 - 0.5))""".stripMargin)
    val got = texts.toDF("id", "t")
      .select(col("id"),
        call_function("classifier_score", col("t"), lit(4096)).as("r"),
        size(filter(split(col("t"), " "), w => length(w) > 0))
          .cast("long").as("nref"),
        hof.as("sref"))
      .collect()
    got.foreach { r =>
      val (n, s) = (r.getStruct(1).getLong(0), r.getStruct(1).getDouble(1))
      assert(n == r.getLong(2), s"token count drift on id ${r.getLong(0)}")
      assert(s == r.getDouble(3), s"score drift on id ${r.getLong(0)}")
    }
  }

  test("word_ngrams_pos: kernel equals the zip-slice HOF formulation " +
      "on randomized inputs incl. null-token/short/null-array edges") {
    import spark.implicits._
    // the HOF predecessor, verbatim (the r12 kernel) — the reference
    // semantics the codegen expression must reproduce bit-for-bit
    def hof(words: org.apache.spark.sql.Column, n: Int) = {
      val span = size(words) - (n - 1)
      val shifted = (1 to n).map(k => slice(words, lit(k), span))
      when(size(words) >= n,
        transform(arrays_zip(shifted: _*),
          t => concat_ws(" ", (0 until n).map(k =>
            t.getField(k.toString)): _*)))
        .otherwise(array().cast("array<string>"))
    }
    val rnd = new scala.util.Random(1319)
    def word() = (0 until 1 + rnd.nextInt(6))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val rows: Seq[(Long, Seq[String])] = (1 to 150).map { i =>
      val ws = (0 until rnd.nextInt(15)).map { _ =>
        if (rnd.nextInt(20) == 0) null else word()
      }
      (i.toLong, ws)
    } ++ Seq((151L, null), (152L, Seq.empty[String]), (153L, Seq("one")))
    val df = rows.toDF("id", "ws")
    for (n <- Seq(2, 3, 8)) {
      val got = df.select(col("id"),
          graft.Engine.positionalNgrams(col("ws"), n).as("a"),
          hof(col("ws"), n).as("b"))
        .collect()
      got.foreach { r =>
        assert(!r.isNullAt(1), s"n=$n id ${r.getLong(0)}: null output")
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n id ${r.getLong(0)}")
      }
    }
  }

  test("word_ngrams_pos participates in whole-stage codegen") {
    val df = Tables.t(spark, TestSpark.sfDir, "documents")
      .select(graft.Engine.positionalNgrams(split(col("text"), " "), 8)
        .as("g"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("word_ngrams_pos")), plan)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.write.format("noop").mode("overwrite").save()
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("char_entropy: kernel equals the decimal-grid HOF formulation " +
      "bit-for-bit on randomized + degenerate + non-BMP texts") {
    import spark.implicits._
    val rnd = new scala.util.Random(1499)
    val alphabet = "abcdefgh XYZ.,!"
    val texts: Seq[(Long, String)] = (1 to 150).map { i =>
      (i.toLong, (0 until rnd.nextInt(80))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } ++ Seq(
      (201L, ""),              // empty → (0, 0, 0.0) by contract
      (202L, "aaaaaaa"),       // single-char alphabet → entropy 0
      (203L, "😀😀a😀"),       // surrogate pairs count ONCE
      (204L, "café naïve"),   // BMP multi-byte
      (205L, null))
    // reference: per-distinct-char counts via HOFs, terms rounded onto
    // the 9-dp grid, summed in DECIMAL(38,9) — the oracle's arithmetic
    val cs = filter(split(col("t"), ""), c => c =!= "")
    val dist = array_distinct(cs)
    val n = size(cs).cast("double")
    // DECIMAL(20,9), not (38,9): adding two (38,9)s overflows precision
    // and Spark REDUCES THE SCALE to 8 — the accumulator would round at
    // 1e-8 every step (measured 4.5e-8 drift before the fix)
    val dec9 = org.apache.spark.sql.types.DecimalType(20, 9)
    val refEnt = aggregate(dist, lit(0).cast(dec9), (acc, c) =>
      (acc + round(-(size(filter(cs, x => x === c)).cast("double") / n) *
        log(size(filter(cs, x => x === c)).cast("double") / n), 9)
        .cast(dec9)).cast(dec9)).cast("double")
    val ce = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CharEntropy(
        org.apache.spark.sql.graftbridge.ColumnBridge
          .expression(col("t"))))
    val got = texts.toDF("id", "t")
      .select(col("id"), ce.as("r"), size(cs).cast("long").as("nref"),
        size(dist).as("dref"), coalesce(refEnt, lit(0.0)).as("eref"),
        col("t").isNull.as("tnull"))
      .collect()
    got.foreach { r =>
      if (r.getBoolean(5)) assert(r.isNullAt(1), "null text must be null")
      else {
        val s = r.getStruct(1)
        assert(s.getLong(0) == r.getLong(2),
          s"n_chars drift on id ${r.getLong(0)}")
        assert(s.getInt(1) == r.getInt(3),
          s"n_distinct drift on id ${r.getLong(0)}")
        assert(s.getDouble(2) == r.getDouble(4),
          s"entropy drift on id ${r.getLong(0)}: " +
            s"${s.getDouble(2)} != ${r.getDouble(4)}")
      }
    }
  }

  test("char_entropy participates in whole-stage codegen") {
    val ce = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CharEntropy(
        org.apache.spark.sql.graftbridge.ColumnBridge
          .expression(col("text"))))
    val df = Tables.t(spark, TestSpark.sfDir, "documents").select(ce.as("r"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("char_entropy")), plan)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.write.format("noop").mode("overwrite").save()
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("jaro_winkler: every probed branch pins to the independently " +
      "verified values (window-0, odd-transposition floor, boost " +
      "threshold, prefix cap)") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    def jw(a: String, b: String) =
      graft.plans.JaroWinkler.compute(u8(a), u8(b))
    def close(x: Double, y: Double) = math.abs(x - y) < 1e-9
    assert(close(jw("MARTHA", "MARHTA"), 0.9611111111111111))
    assert(close(jw("DIXON", "DICKSONX"), 0.8133333333333332))
    assert(close(jw("JELLYFISH", "SMELLYFISH"), 0.8962962962962964))
    // jaro 0.6 with a 4-char common prefix: boost must NOT fire
    assert(close(jw("abcdxxxxxx", "abcdyyyyyy"), 0.6))
    // odd mismatch count floors the half-transposition (t = 1, not 1.5)
    assert(close(jw("abcxyz", "bcaxyz"), 0.9444444444444445))
    // prefix boost capped at 4 even with 5 common chars
    assert(close(jw("aaaaab", "aaaaac"), 0.9333333333333333))
    // window 0: adjacent transposition out of reach -> 0
    assert(jw("ab", "ba") == 0.0)
    assert(jw("", "") == 0.0 && jw("", "a") == 0.0)
    assert(jw("a", "a") == 1.0)
    // surrogate pairs compare as single code points
    assert(jw("😀😀", "😀😀") == 1.0)
  }

  test("jaro_winkler participates in whole-stage codegen") {
    val jw = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.JaroWinkler(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          col("source")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          col("lang"))))
    val df = Tables.t(spark, TestSpark.sfDir, "documents").select(jw.as("r"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("jaro_winkler")), plan)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.write.format("noop").mode("overwrite").save()
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("classifier_score participates in whole-stage codegen") {
    graft.plans.ClassifierScore.register(spark)
    val df = Tables.t(spark, TestSpark.sfDir, "documents")
      .select(call_function("classifier_score", col("text"), lit(4096))
        .as("r"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("classifier_score")), plan)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.write.format("noop").mode("overwrite").save()
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("cdc_boundaries participates in whole-stage codegen") {
    graft.plans.CdcBoundaries.register(spark)
    val df = Tables.t(spark, TestSpark.sfDir, "documents")
      .select(call_function("cdc_boundaries", col("text"), lit(16))
        .as("b"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("cdc_boundaries")), plan)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.write.format("noop").mode("overwrite").save()
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  /** The explode → xxhash64 → per-j `min` groupBy → band-hash pipeline
    * `minhash_bands` replaced, verbatim: the reference the kernel must
    * reproduce bit for bit. Input (__id, __sv); output (__id, __band,
    * __bh). */
  private def aggregateBands(d: org.apache.spark.sql.DataFrame,
      numHashes: Int, bands: Int): org.apache.spark.sql.DataFrame = {
    val rowsPerBand = numHashes / bands
    val sig = d.select(col("__id"), explode(col("__sv")).as("__sh"))
      .select(col("__id"), xxhash64(col("__sh")).as("__h"))
      .groupBy("__id").agg(
        min(xxhash64(lit(0), col("__h"))).as("m0"),
        (1 until numHashes).map(j =>
          min(xxhash64(lit(j), col("__h"))).as(s"m$j")): _*)
    val bandCols = (0 until bands).map { j =>
      xxhash64((0 until rowsPerBand)
        .map(r => col(s"m${rowsPerBand * j + r}")): _*)
    }
    sig.select(col("__id"),
      posexplode(array(bandCols: _*)).as(Seq("__band", "__bh")))
  }

  private def kernelBands(d: org.apache.spark.sql.DataFrame,
      numHashes: Int, bands: Int): org.apache.spark.sql.DataFrame =
    d.select(col("__id"), posexplode(graft.Engine.minHashBands(
      col("__sv"), numHashes, bands)).as(Seq("__band", "__bh")))

  private def bandRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("minhash_bands equals the explode/min-aggregate form bit for bit " +
      "over the fixture corpus (2- and 3-grams, 16x4 and 32x2 banding)") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
    for (n <- Seq(2, 3); (numHashes, bands) <- Seq((64, 16), (64, 32))) {
      val d = docs.select(col("doc_id").as("__id"), sort_array(
        graft.Engine.wordNgrams(split(col("text"), " "), n)).as("__sv"))
      val want = bandRows(aggregateBands(d, numHashes, bands))
      assert(want.nonEmpty)
      assert(bandRows(kernelBands(d, numHashes, bands)) == want,
        s"n=$n ${numHashes}x$bands")
    }
  }

  test("minhash_bands: repeated and NULL shingles hash as the aggregate " +
      "form does; empty and NULL arrays yield no band rows") {
    import spark.implicits._
    val d = Seq[(Long, Seq[String])](
      (1L, Seq("a b", "b c", "a b")), (2L, Seq("x y", null, "y z")),
      (3L, Seq(null)), (4L, Seq.empty), (5L, null)).toDF("__id", "__sv")
    val want = bandRows(aggregateBands(d, 64, 16))
    assert(want.map(_._1) == Set(1L, 2L, 3L) && want.size == 3 * 16)
    assert(bandRows(kernelBands(d, 64, 16)) == want)
  }

  test("minhash_bands participates in whole-stage codegen") {
    val df = Tables.t(spark, TestSpark.sfDir, "documents")
      .select(graft.Engine.minHashBands(
        graft.Engine.wordNgrams(split(col("text"), " "), 2), 64, 16)
        .as("b"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("minhash_bands")), plan)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try df.write.format("noop").mode("overwrite").save()
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("minhash_bands: interpreted eval agrees with codegen") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val inputs = Seq[Seq[String]](Seq("a b", "b c"), Seq("x", null, "x"),
      Seq.empty, null)
    val generated = inputs.toDF("g")
      .select(graft.Engine.minHashBands(col("g"), 64, 32))
      .collect().map(_.getSeq[Long](0))
    val interpreted = inputs.map { g =>
      graft.plans.MinHashBands(Literal.create(g, ArrayType(StringType)),
        64, 32).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
    }
    assert(generated.toSeq == interpreted)
    assert(interpreted.map(_.size) == Seq(32, 32, 0, 0))
  }
}
