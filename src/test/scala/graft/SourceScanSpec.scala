package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-level guards on the engine's single primitives: one function
  * builds a pin (GraftBridge.pin), one helper starts pool work
  * (graft.exec.Par) and one builds one-row result frames
  * (QueryEngine.oneRow). A new pin variant or a hand-rolled thread fails
  * here instead of quietly growing a second copy of either. Comment
  * lines are ignored, so docs may name what the code must not do. */
class SourceScanSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path under src/main/scala, code lines) of every main source. */
  private lazy val sources: Seq[(String, Seq[String])] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.map { (p: Path) =>
      val code = Files.readAllLines(p).asScala.toSeq.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
      root.relativize(p).toString -> code
    }
  }

  /** file -> number of code lines containing `pattern`, for the files
    * that contain it at all. */
  private def occurrences(pattern: String): Map[String, Int] =
    sources.map { case (f, code) => f -> code.count(_.contains(pattern)) }
      .filter(_._2 > 0).toMap

  test("the source tree is where the scan looks") {
    assert(sources.exists(_._1 == "graft/exec/Par.scala"), sources.map(_._1))
  }

  test("only GraftBridge.pin builds a pin") {
    val bridge = "org/apache/spark/sql/GraftBridge.scala"
    for (p <- Seq("toRdd.map(_.copy())", "LogicalRDD.fromDataset"))
      assert(occurrences(p) == Map(bridge -> 1), p)
  }

  test("one-row result frames come from QueryEngine.oneRow, not a range job") {
    // a spark.range(1) frame runs a job (and compiles code) when read;
    // oneRow's LocalRelation does neither
    assert(occurrences("spark.range(1).select(").isEmpty)
    assert(occurrences("private def oneRow(") ==
      Map("graft/exec/QueryEngine.scala" -> 1))
  }

  test("only Par starts pool work; PgServer keeps its own threads") {
    assert(occurrences("FutureTask").keySet.subsetOf(Set("graft/exec/Par.scala")))
    assert(occurrences("Executors.new") == Map("graft/exec/Par.scala" -> 1))
    // Par's pool thread factory; PgServer's reaper, acceptor and
    // per-connection threads
    assert(occurrences("new Thread(") == Map("graft/exec/Par.scala" -> 1,
      "graft/server/PgServer.scala" -> 3))
  }
}
