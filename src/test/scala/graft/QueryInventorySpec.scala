package graft

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The harness's query inventory: how many queries and oracles there
  * are, which queries have no oracle and why, and how many queries
  * Spark and DuckDB run as one declared statement (`QueryModule.shared`).
  * A query added, removed or moved between these classes fails a pin
  * here until the pin is updated. The source guards keep every shared
  * statement written once: no oracle repeats its query's text, and no
  * statement is listed in both of a module's maps. */
class QueryInventorySpec extends AnyFunSuite {

  // the queries with no DuckDB oracle, each with the reason none exists
  private val withoutOracle: Map[String, String] = Map(
    "agg_percentile_approx" ->
      "a sketch with engine-specific numerics; ScalaTest bounds-checks it",
    "sample_bernoulli" ->
      "TABLESAMPLE's sampling algorithm differs across engines",
    "multimodal_decode" ->
      "a codec stub with custom hashing; MultimodalSpec pins it",
    "multimodal_resize" ->
      "image codecs; PipelineSpec pins its invariants",
    "multimodal_frames" ->
      "frame sampling through codecs; PipelineSpec pins its invariants",
    "text_compression_quality" ->
      "JDK-zlib DEFLATE lengths are not engine-portable; ExpressionsSpec pins them")

  private val root = Paths.get("src/main/scala/graft")

  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: JPath) => (root.relativize(p).toString, Files.readString(p)))
    finally walk.close()
  }

  /** The names a `QueryModule.shared(Map(` declares: the string keys
    * of its top-level `->` entries, skipping SQL literals and comments. */
  private def sharedNames(text: String): Seq[String] = {
    val decl = "QueryModule.shared(Map("
    val names = Seq.newBuilder[String]
    var at = text.indexOf(decl)
    while (at >= 0) {
      var i = at + decl.length
      var depth = 1
      while (depth > 0) {
        if (text.startsWith("\"\"\"", i)) i = text.indexOf("\"\"\"", i + 3) + 3
        else if (text.startsWith("//", i)) i = text.indexOf('\n', i)
        else text.charAt(i) match {
          case '"' =>
            val end = text.indexOf('"', i + 1)
            if (depth == 1 && text.substring(end + 1).trim.startsWith("->"))
              names += text.substring(i + 1, end)
            i = end + 1
          case '(' => depth += 1; i += 1
          case ')' => depth -= 1; i += 1
          case _ => i += 1
        }
      }
      at = text.indexOf(decl, i)
    }
    names.result()
  }

  /** SQL as both engines read it: comments (a Spark hint is one)
    * dropped and whitespace collapsed. */
  private def normalized(sql: String): String =
    sql.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("--[^\n]*", " ")
      .split("\\s+").filter(_.nonEmpty).mkString(" ")

  // a module's maps: its queries before `val oracle`, its oracles after
  private def split(text: String): (String, String) = {
    val at = text.indexOf("val oracle")
    if (at < 0) (text, "") else text.splitAt(at)
  }

  test("350 queries and 344 oracles, each oracle a query's") {
    assert(SparkEntry.queries.size == 350)
    assert(SparkEntry.oracleSql.size == 344)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles of no query: $orphans")
  }

  test("a name that two modules define fails loudly, not with one of them dropped") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.unique(Seq("a" -> 1, "b" -> 2, "a" -> 3)))
    assert(e.getMessage.contains("defined by two modules: a"))
    assert(SparkEntry.unique(Seq("a" -> 1, "b" -> 2)) == Map("a" -> 1, "b" -> 2))
  }

  test("the 6 queries without an oracle are the reviewed ones") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == withoutOracle.keySet)
    for ((name, reason) <- withoutOracle) assert(reason.nonEmpty, name)
  }

  test("129 queries are declared once as the statement both engines run") {
    val shared = sources.flatMap { case (_, text) => sharedNames(text) }
    assert(shared.size == 129, s"shared declarations: ${shared.sorted}")
    assert(shared.distinct.size == shared.size,
      s"declared twice: ${shared.diff(shared.distinct)}")
    val unknown = shared.filterNot(SparkEntry.oracleSql.contains)
    assert(unknown.isEmpty, s"shared declarations with no oracle: $unknown")
  }

  test("source guard: no oracle text is a copy of a Tables.sql statement") {
    val statement = "(?s)Tables\\.sql\\(s?\"\"\"(.*?)\"\"\"".r
    val oracleText = "(?s)\"(\\w+)\"\\s*->\\s*s?\"\"\"(.*?)\"\"\"".r
    val copies = for {
      (file, text) <- sources
      (queries, oracles) = split(text)
      statements = statement.findAllMatchIn(queries).map(m => normalized(m.group(1))).toSet
      m <- oracleText.findAllMatchIn(oracles)
      if statements(normalized(m.group(2)))
    } yield s"$file: ${m.group(1)}"
    assert(copies.isEmpty, s"${copies.size} oracle texts repeat a query's statement; " +
      s"declare each once in QueryModule.shared: ${copies.mkString(", ")}")
  }

  test("source guard: no statement is listed in both a queries and an oracle map") {
    val statement = "\"(\\w+)\"\\s*->\\s*Tables\\.sql\\((\\w+)\\)".r
    val oracleVal = "\"(\\w+)\"\\s*->\\s*(\\w+)\\s*[,)\n]".r
    val twice = for {
      (file, text) <- sources
      (queries, oracles) = split(text)
      listed = statement.findAllMatchIn(queries).map(m => m.group(1) -> m.group(2)).toSet
      m <- oracleVal.findAllMatchIn(oracles)
      if listed(m.group(1) -> m.group(2))
    } yield s"$file: ${m.group(1)}"
    assert(twice.isEmpty, s"${twice.size} statements listed in both maps; " +
      s"declare each once in QueryModule.shared: ${twice.mkString(", ")}")
  }
}
