package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions

/** The query registry itself: no Spark session, so it runs in seconds
  * and can precede a full Verify. */
class RegistrySpec extends AnyFunSuite {

  private val rowsOnly = SparkEntry.registry.values.collect {
    case Query(name, _, RowsOnly(spec)) => name -> spec
  }.toMap

  test("313 queries, 305 of them with a DuckDB oracle") {
    assert(SparkEntry.queries.size == 313)
    assert(SparkEntry.oracleSql.size == 305)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("exactly the eight spec-gated queries are rows-only") {
    assert(rowsOnly.keySet == Set("q_approx_quantiles", "q_approx_distinct",
      "q_profile_approx", "q_media_pipeline", "q_media_batched", "q_phash_dedup",
      "q_shot_detect", "q_media_e2e"))
    assert(rowsOnly.keySet == SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
  }

  test("every rows-only query names a spec that exists") {
    rowsOnly.values.toSet.foreach { (spec: String) =>
      val cls = Class.forName("graft." + spec)
      assert(classOf[AnyFunSuite].isAssignableFrom(cls), s"$spec is not a suite")
    }
  }

  test("a name declared twice is rejected, naming the duplicate") {
    val build = SparkEntry.queries("q1_agg")
    val e = intercept[IllegalArgumentException] {
      Query.index(Seq(Query("q_a", build, RowsOnly("OperatorsSpec")),
        Query("q_b", build, Oracle("SELECT 1")), Query("q_a", build, Oracle("SELECT 2"))))
    }
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
  }

  test("selecting an unknown name throws, listing every unknown one") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some(Set("q1_agg", "q1_aggg", "q_nope")))
    }
    assert(e.getMessage.contains("q1_aggg, q_nope"))
    assert(SparkEntry.select(Some(Set("q1_agg"))).keySet == Set("q1_agg"))
    assert(SparkEntry.select(None).keySet == SparkEntry.queries.keySet)
  }

  test("graft functions are declared once and registered only at the two front doors") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: no ${root.toAbsolutePath}")
    val sources: Map[String, String] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p)).toMap
    // Tables.registerViews and SparkEntry.queries retrofit a session
    // built without the extension; anything else relies on the contract
    val callers = sources.collect { case (f, src) if src.contains("GraftFunctions.register(") => f }
    assert(callers.toSet -- Set("functions/GraftFunctions.scala") ==
      Set("Tables.scala", "SparkEntry.scala"))
    // every graft function the code calls is in the table
    val declared = GraftFunctions.functions.map(_.name).toSet
    val used = sources.values.flatMap(raw"\bgraft_[a-z0-9_]+(?=\()".r.findAllIn(_)).toSet
    assert(used.nonEmpty && (used -- declared).isEmpty,
      s"used but not declared: ${(used -- declared).toSeq.sorted.mkString(", ")}")
  }

  /** Lines of code in a window that may occur at one place only. */
  private val CopyWindow = 6

  /** The code lines of a Scala source, numbered: comments, blank
    * lines, `import`/`package` lines, bracket-only lines and the
    * contents of triple-quoted strings (oracle SQL, generated Java)
    * are dropped; the rest is trimmed. */
  private def codeLines(src: String): Seq[(Int, String)] = {
    var inBlock = false
    var inTriple = false
    src.split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, n) =>
      val out = new StringBuilder
      var j = 0
      while (j < line.length) {
        if (inBlock) {
          val k = line.indexOf("*/", j)
          if (k < 0) j = line.length else { inBlock = false; j = k + 2 }
        } else if (inTriple) {
          val k = line.indexOf("\"\"\"", j)
          if (k < 0) j = line.length
          else {
            inTriple = false
            j = k + 3
            while (j < line.length && line.charAt(j) == '"') j += 1
          }
        } else if (line.startsWith("\"\"\"", j)) { inTriple = true; j += 3 }
        else if (line.startsWith("//", j)) j = line.length
        else if (line.startsWith("/*", j)) { inBlock = true; j += 2 }
        else if (line.charAt(j) == '"') {
          // a one-line string literal is code: keep it whole, so a
          // comment marker inside it is not taken for a comment
          var k = j + 1
          while (k < line.length && line.charAt(k) != '"') {
            if (line.charAt(k) == '\\') k += 1
            k += 1
          }
          out.append(line.substring(j, math.min(k + 1, line.length)))
          j = k + 1
        } else { out.append(line.charAt(j)); j += 1 }
      }
      val t = out.toString.trim
      if (t.isEmpty || t.startsWith("import ") || t.startsWith("package ") ||
          t.forall("(){}[] \t".contains(_))) None
      else Some((n + 1, t))
    }
  }

  test(s"no $CopyWindow-line code window of src/main occurs at two places") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val sites = files.flatMap { p =>
      val lines = codeLines(Files.readString(p))
      lines.sliding(CopyWindow).filter(_.size == CopyWindow).map { w =>
        w.map(_._2) -> s"${root.relativize(p)}:${w.head._1}"
      }
    }.groupBy(_._1).values.map(_.map(_._2)).filter(_.size > 1).toSeq
    if (sites.nonEmpty)
      fail(s"${sites.size} code windows are written more than once; " +
        "move each into one helper and call it:\n" +
        sites.map(_.mkString(" = ")).sorted.mkString("\n"))
  }

  test("storage commits go through the two publish protocols") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: no ${root.toAbsolutePath}")
    val code: Map[String, Seq[String]] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> codeLines(Files.readString(p)).map(_._2))
      .toMap
    def count(needle: String): Map[String, Int] = code.collect {
      case (f, lines) if lines.exists(_.contains(needle)) => f -> lines.count(_.contains(needle))
    }
    // VersionedTable: land, publish and the sidecar swap; DatasetsSink:
    // swapDir (aside, promote, rollback) and recoverDir
    val renames = count(".rename(").filterNot(_._1.startsWith("dev/"))
    assert(renames.keySet.subsetOf(Set("sources/VersionedTable.scala",
      "sources/DatasetsSink.scala")), s"renames outside the publish protocols: $renames")
    assert(renames.getOrElse("sources/VersionedTable.scala", 0) <= 3, renames)
    assert(renames.getOrElse("sources/DatasetsSink.scala", 0) <= 4, renames)
    assert(!renames.contains("operators/Serving.scala"))
    // publish and commitTxn are the only holders of the commit lock
    assert(count("commitLock.synchronized").values.sum <= 2)
  }
}
