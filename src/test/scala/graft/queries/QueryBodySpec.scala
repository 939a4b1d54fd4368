package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Query bodies build plans, not answers. A DataFrame action in a query
  * body runs its jobs while the plan is being built, where Catalyst never
  * sees them and `explain` does not show them. The one exception is the
  * reader of the IVF literals (`SimilarityQueries.ivfLiterals` and its
  * `IvfLiterals` result), a planning input whose values are inlined into
  * the plans of the IVF queries.
  *
  * The spec scans the sources in `graft/queries`, skipping whole-line
  * comments, and reports each offending site with the query (or def)
  * that encloses it.
  */
class QueryBodySpec extends AnyFunSuite {

  private val Action =
    """\.(collect\(|collectAsList\b|count\(\)|head\(|take\(|first\(|show\(|toLocalIterator\b)""".r
  private val QueryName = """^\s*"(q\d+\w*)",\s*$""".r
  private val DefName = """^\s*(?:(?:private|final|override|lazy)\s+)*def\s+(\w+).*""".r
  private val Dir = java.nio.file.Paths.get("src/main/scala/graft/queries")

  private def sources: Seq[(String, IndexedSeq[String])] =
    java.nio.file.Files.list(Dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(p => p.getFileName.toString ->
        java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq)

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Line range of the helper: from `case class IvfLiterals` to the end
    * of `def ivfLiterals` (its body ends at the next blank line).
    */
  private def helperLines(lines: IndexedSeq[String]): Range = {
    val from = lines.indexWhere(_.contains("case class IvfLiterals("))
    val defAt = lines.indexWhere(_.contains("def ivfLiterals("))
    if (from < 0 || defAt < from) 0 until 0
    else {
      val end = lines.indexWhere(_.trim.isEmpty, defAt)
      from until (if (end < 0) lines.length else end)
    }
  }

  private def owner(lines: IndexedSeq[String], at: Int): String =
    (at to 0 by -1).iterator.map(lines).collectFirst {
      case QueryName(q) => q
      case DefName(d) => d
    }.getOrElse("?")

  private def sites: Seq[(String, Int, String, Boolean)] =
    for {
      (file, lines) <- sources
      helper = helperLines(lines)
      (line, i) <- lines.zipWithIndex
      if !isComment(line) && Action.findFirstIn(line).isDefined
    } yield (s"$file:${i + 1} (${owner(lines, i)})", i, line.trim,
      file == "SimilarityQueries.scala" && helper.contains(i))

  test("no DataFrame action in graft.queries outside the IVF-literals reader") {
    val outside = sites.filterNot(_._4)
      .map { case (where, _, code, _) => s"$where: $code" }
    if (outside.nonEmpty)
      fail(outside.mkString("actions in query bodies:\n", "\n", ""))
  }

  test("the IVF-literals reader is the one action site, with one collect") {
    val inside = sites.filter(_._4)
    assert(inside.map(_._3).count(_.contains(".collect(")) == 1,
      s"expected one collect in the helper, got:\n${inside.mkString("\n")}")
  }
}
