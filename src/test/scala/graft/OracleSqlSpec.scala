package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static checks on the DuckDB oracle text. Oracles are assembled from
  * shared CTE builders interpolated into `stripMargin` literals, so a
  * builder fragment with a stray `|` margin only shows up as a DuckDB
  * parse error in the full oracle sweep; these checks catch it without
  * running any query. */
class OracleSqlSpec extends AnyFunSuite {

  test("no oracle line starts with a stripMargin margin") {
    // a line opening with one `|` is a margin that was stripped twice
    // or not at all; SQL's `||` concatenation may open a line
    val margin = """^\s*\|(?!\|)""".r
    val bad = for {
      (name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      line <- sql.split("\n")
      if margin.findFirstIn(line).isDefined
    } yield s"$name: $line"
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
  }
}
