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
}
