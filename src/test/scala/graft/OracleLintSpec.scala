package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Executable lint for the ORACLE side of the registry (the q47j lesson
  * as a test, like PlanSpec's nested-output lint is the q92t lesson):
  * DuckDB sorts NULLS LAST by default while the Spark builders order
  * with `asc_nulls_first`, so ANY sort key in an oracle's final ORDER BY
  * that omits an explicit NULLS directive is a latent hash mismatch
  * waiting for the first null in that column — invisible on fixtures
  * where the column happens to be non-null (exactly how q47j's e1/e2/e3
  * shipped in r13 and was only caught by the judge's read). Every
  * registered oracle's final ORDER BY must spell NULLS FIRST/LAST on
  * every key.
  */
class OracleLintSpec extends AnyFunSuite {

  /** Sort keys of `sql`'s FINAL (top-level) ORDER BY that lack an
    * explicit NULLS directive. Returns Nil when the statement has no
    * final ORDER BY — including when the last textual "ORDER BY" sits
    * inside parentheses (a window or ordered-aggregate clause), which
    * the paren-depth scan detects as the tail closing more parens than
    * it opens. */
  private def unNulledSortKeys(sql: String): Seq[String] = {
    val idx = sql.toUpperCase.lastIndexOf("ORDER BY")
    if (idx < 0) return Nil
    var tail = sql.substring(idx + "ORDER BY".length)
    var depth = 0
    if (tail.exists { c =>
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      depth < 0
    }) return Nil
    val lim = tail.toUpperCase.indexOf("LIMIT")
    if (lim >= 0) tail = tail.substring(0, lim)
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    depth = 0
    tail.foreach { c =>
      if (c == ',' && depth == 0) { keys += cur.toString; cur.clear() }
      else {
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur += c
      }
    }
    keys += cur.toString
    keys.toSeq.map(_.trim).filter(_.nonEmpty).filterNot(k =>
      "(?is).*\\bNULLS\\s+(FIRST|LAST)\\b.*".r.matches(k))
  }

  test("oracle lint: every final ORDER BY key in every registered " +
      "oracle carries an explicit NULLS directive") {
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        val keys = unNulledSortKeys(sql)
        if (keys.nonEmpty) Some(s"$name → ${keys.mkString(" | ")}")
        else None
    }
    assert(bad.isEmpty,
      "oracle ORDER BY keys without a NULLS directive (DuckDB defaults " +
        "NULLS LAST, Spark builders sort asc_nulls_first — spell it " +
        "out):\n" + bad.mkString("\n"))
  }

  test("oracle lint: the detector fires on a missing directive and " +
      "stays quiet on window/aggregate-internal ORDER BYs") {
    // one un-directed key among directed ones → exactly that key
    assert(unNulledSortKeys(
      "SELECT a, b FROM t ORDER BY a, b NULLS FIRST") == Seq("a"))
    assert(unNulledSortKeys(
      "SELECT a FROM t ORDER BY round(x / 2, 6) DESC, a NULLS FIRST")
      == Seq("round(x / 2, 6) DESC"))
    // a LIMIT after the keys is not a key
    assert(unNulledSortKeys(
      "SELECT a FROM t ORDER BY a NULLS FIRST LIMIT 5").isEmpty)
    // ORDER BY inside an ordered aggregate / window is NOT a final sort
    assert(unNulledSortKeys(
      "SELECT string_agg(x, ',' ORDER BY p) FROM t").isEmpty)
    assert(unNulledSortKeys(
      "SELECT row_number() OVER (PARTITION BY k ORDER BY v) FROM t")
      .isEmpty)
    // function args with commas stay one key
    assert(unNulledSortKeys(
      "SELECT a FROM t ORDER BY coalesce(a, b), c NULLS FIRST")
      == Seq("coalesce(a, b)"))
    // no ORDER BY at all
    assert(unNulledSortKeys("SELECT 1").isEmpty)
  }

  test("README: the generated query map lists every registered query") {
    // tools/gen_readme_map.py writes the map from a Verify dump; this
    // pins it so a new registration cannot leave it silently stale
    val readme = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("README.md")), "UTF-8")
      .split("<!-- (BEGIN|END) GENERATED QUERY MAP -->")(1)
    val count = "All (\\d+) registered".r.findFirstMatchIn(readme)
      .map(_.group(1).toInt)
    val listed = "(?m)^\\| `(q\\w+)` \\|".r.findAllMatchIn(readme)
      .map(_.group(1)).toSet
    val registered = SparkEntry.oracleSql.keySet
    assert(count.contains(registered.size),
      s"README says $count registered, the registry has ${registered.size}" +
        " — rerun tools/gen_readme_map.py")
    assert(listed == registered, s"missing: ${registered -- listed}, " +
      s"stale: ${listed -- registered}")
  }

  test("dev mains: only Bench, Verify and Explain define `def main(`") {
    // each extra main builds its own SparkSession (and usually its own
    // listener); a new measurement belongs in Bench's listener or a
    // ledger, not in another one-shot probe
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(
      "src/main/scala"))
    val mains = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8").contains("def main("))
      .map(_.getFileName.toString).toSet
    finally files.close()
    assert(mains == Set("Bench.scala", "Verify.scala", "Explain.scala"),
      s"files defining a main: ${mains.toSeq.sorted.mkString(", ")}")
  }

  /** `file:line: text` of every line of every Scala file under `roots`
    * that `hit(file name, line)` accepts. */
  private def scalaLines(roots: String*)(
      hit: (String, String) => Boolean): List[String] =
    roots.toList.flatMap { root =>
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try files.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val name = p.getFileName.toString
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if hit(name, line) =>
              s"$name:${i + 1}: ${line.trim}"
          }
        }.toList
      finally files.close()
    }

  test("system properties: no file under src/main/scala or src/test/scala writes one") {
    // a JVM-global write outlives the session that made it and leaks into
    // every later query in the JVM (and, in a test, into every later
    // suite in the forked JVM); Spark settings belong on the session
    // builder, program settings in constructor arguments or parameters
    val write = """sys\.props\s*(\([^)]*\)\s*=[^=]|[+-]=)|System\.setProperty""".r
    val writes = Seq("""sys.props("graft.x") = "1"""", "sys.props += k -> v",
      """sys.props -= "graft.x"""", """System.setProperty("a", "b")""")
    // this spec's own self-check literals below are the one exemption
    val found = scalaLines("src/main/scala", "src/test/scala") { (f, line) =>
      val own =
        if (f == "OracleLintSpec.scala") writes.foldLeft(line)(_.replace(_, ""))
        else line
      write.findFirstIn(own).isDefined
    }
    assert(found.isEmpty, found.mkString("\n"))
    // the detector fires on each write form and passes reads
    writes.foreach(l => assert(write.findFirstIn(l).isDefined, l))
    Seq("""sys.props.get("graft.x")""", """sys.props("a") == "b"""",
      """sys.props.getOrElse("graft.io.dir", "x")""")
      .foreach(l => assert(write.findFirstIn(l).isEmpty, l))
  }

  test("similarity verify: sorted_intersect_count( is spelled in exactly one place under src/main/scala") {
    // the n-gram similarity family shares one exact verify
    // (Engine.keepQualifying); a second spelling of the kernel call is
    // a copied verify whose bound or threshold arithmetic can drift
    val kernel = """\bsorted_intersect_count\s*\(""".r
    val found = scalaLines("src/main/scala") { (f, line) =>
      f != "SortedIntersectCount.scala" && kernel.findFirstIn(line).isDefined
    }
    assert(found.size == 1, found.mkString("\n"))
    // the detector fires on the call spellings and passes the name alone
    Seq("""expr(s"sorted_intersect_count(__sa, __sb, $b)")""",
      "sorted_intersect_count (a, b)", """expr("sorted_intersect_count(sa, sb)")""")
      .foreach(l => assert(kernel.findFirstIn(l).isDefined, l))
    Seq("val name = \"sorted_intersect_count\"", "SortedIntersectCount.register(s)",
      "my_sorted_intersect_count(a)")
      .foreach(l => assert(kernel.findFirstIn(l).isEmpty, l))
  }

  test("input spread: getNumPartitions is spelled in exactly one place under src/main/scala") {
    // one guard decides whether an input spreads (Spread), and it and the
    // ingest write width read the input's width through Spread.width; a
    // second read is a copied guard whose threshold can drift
    val read = """\bgetNumPartitions\b""".r
    val found = scalaLines("src/main/scala")((_, line) =>
      read.findFirstIn(line).isDefined)
    assert(found.size == 1, found.mkString("\n"))
    // the detector fires on the read spellings and passes the helper
    Seq("ds.rdd.getNumPartitions", "batch.rdd.getNumPartitions * 2 < want",
      "df.rdd.getNumPartitions()", "scan.inputRDD.getNumPartitions == 1")
      .foreach(l => assert(read.findFirstIn(l).isDefined, l))
    Seq("val width = Spread.width(batch)", "Spread(df, col(\"k\"))",
      "rdd.partitions.length", "my_getNumPartitions(x)")
      .foreach(l => assert(read.findFirstIn(l).isEmpty, l))
  }

  test("catalog tables: a table's location is resolved in exactly one place under src/main/scala") {
    // the bucketed dedup index resolves its tables' directories in one
    // place (BucketedIndex.location), which its drop, its compaction
    // cadence and its compaction rewrite all read; a second lookup is a
    // copy that can drift from it
    val default = """\bdefaultTablePath\s*\(""".r
    val metadata = """\bgetTableMetadata\s*\(""".r
    def lookups(pattern: scala.util.matching.Regex) =
      scalaLines("src/main/scala")((_, line) =>
        pattern.findFirstIn(line).isDefined)
    val found = lookups(default)
    assert(found.size == 1, found.mkString("\n"))
    val read = lookups(metadata)
    assert(read.isEmpty, read.mkString("\n"))
    // the detectors fire on the call spellings and pass the name alone
    Seq("spark.sessionState.catalog.defaultTablePath(",
      "catalog.defaultTablePath (TableIdentifier(t))")
      .foreach(l => assert(default.findFirstIn(l).isDefined, l))
    Seq("catalog.getTableMetadata(TableIdentifier(from)).location",
      "getTableMetadata (id)")
      .foreach(l => assert(metadata.findFirstIn(l).isDefined, l))
    Seq("def location(name: String): Path", "the defaultTablePath rule",
      "my_defaultTablePath(x)", "getTableMetadataOption(id)")
      .foreach(l => assert(default.findFirstIn(l).isEmpty &&
        metadata.findFirstIn(l).isEmpty, l))
  }

  test("vector scoring: the cosine kernel is invoked in exactly one place under src/main/scala") {
    // the vector family shares one rounded scorer (Engine.cosine); a
    // second invocation is a copied scorer whose rounding can drift from
    // the ranks, thresholds and argmaxes the oracles replay. The kernel is
    // built directly, so no operator registers it on a session either
    val kernel =
      """\bcosine_sim\s*\(|\bCosineSimilarity\s*\(|\bCosineSimilarity\.name\b""".r
    val register = """\bCosineSimilarity\.register\s*\(""".r
    def outsideKernel(pattern: scala.util.matching.Regex) =
      scalaLines("src/main/scala") { (f, line) =>
        f != "CosineSimilarity.scala" && pattern.findFirstIn(line).isDefined
      }
    val found = outsideKernel(kernel)
    assert(found.size == 1, found.mkString("\n"))
    val registered = outsideKernel(register)
    assert(registered.isEmpty, registered.mkString("\n"))
    // the detectors fire on every invocation spelling and pass the
    // shared helper, the bare name and prose
    Seq("""round(expr("cosine_sim(ea, eb)"), 6)""",
      """expr(s"cosine_sim($vecAs, ce)")""", "cosine_sim (a, b)",
      "call_function(CosineSimilarity.name, a, b)",
      "graft.plans.CosineSimilarity(a.expr, b.expr)")
      .foreach(l => assert(kernel.findFirstIn(l).isDefined, l))
    Seq("val name = \"cosine_sim\"", """Engine.cosine(col("ea"), col("eb"))""",
      "my_cosine_sim(a)", "the codegen CosineSimilarity expression",
      "[[graft.plans.CosineSimilarity]] kernel")
      .foreach(l => assert(kernel.findFirstIn(l).isEmpty, l))
    Seq("graft.plans.CosineSimilarity.register(s)",
      "CosineSimilarity.register (spark)")
      .foreach(l => assert(register.findFirstIn(l).isDefined, l))
    Seq("graft.plans.SignProject.register(df.sparkSession)",
      "the [[CosineSimilarity.register]] pattern")
      .foreach(l => assert(register.findFirstIn(l).isEmpty, l))
  }

  test("concurrency: no file under src/main/scala names a Scala Future or the global pool") {
    // a pool thread carries the Spark local properties it inherited when
    // it was created, so an action submitted there can be filed under a
    // stale root execution; concurrent actions go through Overlap.both,
    // which runs each side with the caller's thread-locals captured
    val named = Seq("""ExecutionContext\s*\.\s*(Implicits\s*\.\s*)?global""",
      """scala\.concurrent\.(\{[^}]*)?\bFuture\b""",
      """(?<![\w.])Future\s*[({.\[]""").mkString("|").r
    val uses = scalaLines("src/main/scala")((_, line) =>
      named.findFirstIn(line).isDefined)
    assert(uses.isEmpty, uses.mkString("\n"))
    // the detector fires on each spelling and passes the JDK futures the
    // helper itself uses
    Seq("implicit val ec = scala.concurrent.ExecutionContext.global",
      "import scala.concurrent.ExecutionContext.Implicits.global",
      "import scala.concurrent.{Await, Future}",
      "import scala.concurrent.Future", "val f = Future(write())",
      "Future { a }", "Future.sequence(fs)")
      .foreach(l => assert(named.findFirstIn(l).isDefined, l))
    Seq("import java.util.concurrent.{CompletableFuture, Executors}",
      "def await[T](f: CompletableFuture[T]) = f.get()",
      "java.util.concurrent.Future[_]", "val futureRows = 3")
      .foreach(l => assert(named.findFirstIn(l).isEmpty, l))
  }
}
