package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-level guards on the engine's single primitives: one function
  * builds a pin (GraftBridge.pin), one helper starts pool work
  * (graft.exec.Par), one builds one-row result frames
  * (QueryEngine.oneRow) and one shape describes an incrementally
  * maintained view (IncrementalView.Shape, read through MatViews.shapeOf,
  * and only MatViews reads it), one function reads parquet on the
  * driver (GraftBridge.readLocalParquet), one site installs optimizer
  * rules (PointReads.install) and one module builds DML guard probes,
  * owns the inline-key cap and reaches the guard verdict (Guards). One
  * module owns the commit path (Commit): the write lock, staging, the
  * manifest and the driver tails are named nowhere else, one function
  * builds event frames (Commit.eventFrame), and every writer (COMMIT,
  * the statement write, the stream publish, replication) ends in one
  * publish (Commit.publish, the only caller of publishAtomic). One
  * function swaps the engine's session (QueryEngine.asSession) and one
  * envelope wraps every write that is not a SQL statement
  * (Commit.writeBatch, the only replay-skip check), while the dedup
  * stream bodies live in StreamingDedup; statements bind engine names
  * into their own plan, so only attachExternal registers a session temp
  * view in the engine; one driver-side event fold
  * (StateView.foldTail) serves the driver tail and the point reads, and
  * only the snapshot read and the engine's log read tag a scan for them
  * (Snapshots.PkOption). A new pin variant, a hand-rolled thread, a
  * second event-frame builder or publish, a lock or staging dir outside
  * Commit, a second view shape, a second driver parquet reader, a guard
  * probe outside Guards, a hand-rolled session swap or batch envelope, a
  * second event fold or another tagged scan fails here instead of
  * quietly growing a second copy. Comment lines are ignored, so docs may
  * name what the code must not do. */
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
    // the one cache call outside it: a refresh's lazy pins
    // (MatViews.RefreshPins), which fill inside their first reader's job
    assert(occurrences(".persist(") ==
      Map(bridge -> 1, "graft/exec/MatViews.scala" -> 1))
  }

  test("engine pins go through GraftBridge.pin, not localCheckpoint") {
    assert(occurrences(".localCheckpoint(").keySet.filter(_.startsWith("graft/exec/"))
      .isEmpty)
  }

  private val qe = "graft/exec/QueryEngine.scala"
  private val commit = "graft/exec/Commit.scala"

  /** The member (declared two spaces in) enclosing each code line of
    * `file` (QueryEngine by default) that satisfies `hit`. */
  private def enclosingMembers(hit: String => Boolean, file: String = qe): Seq[String] = {
    val code = sources.collectFirst { case (`file`, c) => c }.get.toIndexedSeq
    val Member = """^  (?:private\S* )?def (\w+)""".r.unanchored
    code.indices.filter(i => hit(code(i))).map { i =>
      (i to 0 by -1).iterator.map(code(_))
        .collectFirst { case Member(name) => name }.getOrElse("?")
    }
  }

  test("one event-frame builder, one publish per writer kind") {
    val pkCast = occurrences(""".cast("string").as("pk")""")
    assert(pkCast.getOrElse(commit, 0) == 1 && !pkCast.contains(qe), pkCast)
    // publishAtomic has one caller, the publish; the publish has one
    // caller per writer kind: COMMIT, the statement write, the stream
    // publish and replication
    def calls(name: String) = enclosingMembers(l =>
      l.contains(s"$name(") && !l.contains(s"def $name("), commit)
    assert(calls("publishAtomic") == Seq("publish"))
    assert(calls("publish").toSet == Set("commitTxn", "write", "publishStream",
      "applyReplicated"), calls("publish"))
    assert(calls("publish").size == 4, calls("publish"))
  }

  test("the write lock, staging, the manifest and the driver tails live in Commit") {
    val WriteLock = """\bwriteLock\b""".r
    for ((f, code) <- sources if f != commit) {
      val hits = code.filter(l => WriteLock.findFirstIn(l).isDefined ||
        Seq("publishAtomic(", "completePublish(", "new DriverTails(",
          ".txn-staging-").exists(l.contains))
      assert(hits.isEmpty, s"$f: ${hits.map(_.trim)}")
    }
    for (p <- Seq("publishAtomic(", "completePublish(", "new DriverTails("))
      assert(occurrences(p).keySet == Set(commit), p)
  }

  test("one session swap (asSession) and one batch envelope (writeBatch)") {
    // an assignment to the engine's `current` session: not a named
    // argument (TableCatalog's `copy(current = ...)`), not a `val` or
    // `var` declaration, not a comparison
    val CurrentEq = """\bcurrent\s*=(?![=>])""".r
    def assignsCurrent(l: String): Boolean = CurrentEq.findAllMatchIn(l).exists { m =>
      val before = l.substring(0, m.start).trim
      !before.endsWith("(") && !before.endsWith(",") &&
        !before.endsWith("val") && !before.endsWith("var")
    }
    val swaps = sources.collect { case (f, code) if code.exists(assignsCurrent) => f }
    assert(swaps.toSet == Set(qe), swaps)
    assert(enclosingMembers(assignsCurrent).toSet == Set("asSession"))
    // the replay skip is decided in one place
    assert(occurrences("catalog.lastStreamBatch(").keySet == Set(commit))
    assert(enclosingMembers(_.contains("catalog.lastStreamBatch("), commit) ==
      Seq("writeBatch"))
    // the dedup stream bodies live in StreamingDedup
    val DedupDef = """def ingestStream\w*Dedup""".r
    assert(!sources.collectFirst { case (`qe`, c) => c }.get
      .exists(DedupDef.findFirstIn(_).isDefined))
  }

  test("statements bind engine names into their plan, not the session namespace") {
    // a session temp view is one namespace shared by every engine and
    // session on the SparkSession; in the engine only attachExternal (an
    // explicitly attached fixture) registers one, and nothing drops one
    val tempViews = sources.collect {
      case (f, code) if f.startsWith("graft/exec/") =>
        f -> code.count(l => l.contains("createOrReplaceTempView") ||
          l.contains("dropTempView"))
    }.filter(_._2 > 0)
    assert(tempViews == Seq(qe -> 1), tempViews)
    assert(enclosingMembers(l => l.contains("createOrReplaceTempView") ||
      l.contains("dropTempView")) == Seq("attachExternal"))
    // the text-level binding helpers are gone for good
    for ((f, code) <- sources; n <- Seq("referencesWord", "rewriteDotted", "tempName"))
      assert(!code.exists(_.contains(n)), s"$f names $n")
  }

  test("one-row result frames come from QueryEngine.oneRow, not a range job") {
    // a spark.range(1) frame runs a job (and compiles code) when read;
    // oneRow's LocalRelation does neither
    assert(occurrences("spark.range(1).select(").isEmpty)
    assert(occurrences("private def oneRow(") ==
      Map("graft/exec/QueryEngine.scala" -> 1))
  }

  test("one incremental-view shape, one parser, parsed only by shapeOf") {
    val ivm = sources.collectFirst {
      case ("graft/sql/IncrementalView.scala", code) => code }.get
    def count(re: String): Int = ivm.count(re.r.findFirstIn(_).isDefined)
    assert(count("""case class \w*Shape\(""") == 1)
    assert(count("""def parse\w*\(""") == 1)
    val views = sources.collectFirst {
      case ("graft/exec/MatViews.scala", code) => code }.get.toIndexedSeq
    val calls = views.indices.filter(views(_).contains("IncrementalView.parse"))
    val shapeOf = views.indexWhere(_.contains("private def shapeOf("))
    assert(shapeOf >= 0, "MatViews.shapeOf is gone")
    // the one call sits in shapeOf's body, right under its signature
    assert(calls.size == 1 && calls.head > shapeOf && calls.head - shapeOf <= 3,
      calls.map(i => views(i).trim))
    assert(occurrences("IncrementalView.parse").keySet ==
      Set("graft/exec/MatViews.scala"))
  }

  test("materialized views live in MatViews, not QueryEngine") {
    assert(!occurrences("IncrementalView.").contains("graft/exec/QueryEngine.scala"))
  }

  test("driver parquet reads live only in GraftBridge") {
    val bridge = "org/apache/spark/sql/GraftBridge.scala"
    for (p <- Seq("ParquetFooterReader", "ParquetFileReader",
        "buildReaderWithPartitionValues"))
      assert(occurrences(p).keySet.subsetOf(Set(bridge)), p)
  }

  test("one optimizer-rule install site: PointReads.install") {
    assert(occurrences("extraOptimizations =") ==
      Map("graft/exec/PointReads.scala" -> 1))
  }

  test("one event fold (StateView.foldTail); only the snapshot and log reads tag a scan") {
    val sv = "graft/state/StateView.scala"
    // the driver reads reach event semantics only through StateView
    for (f <- Seq("graft/exec/PointReads.scala", "org/apache/spark/sql/GraftBridge.scala"))
      assert(!sources.collectFirst { case (`f`, c) => c }.get.exists(_.contains("EventLog.")), f)
    // a test of an event's type on the driver is an event fold, and
    // foldTail holds the only one
    // (Scala `==`/`!=`, not a Column's `===`/`=!=`)
    val DriverTest =
      """(?<![=!])(==|!=)(?!=)\s*([\w.]*\.)?EventLog\.SOFT_DELETE|case\s+([\w.]*\.)?EventLog\.SOFT_DELETE|"SOFT_DELETE"""".r
    def tests(l: String) = DriverTest.findFirstIn(l).isDefined
    assert(sources.collect { case (f, c) if c.exists(tests) => f }.toSet ==
      Set(sv, "graft/log/EventLog.scala"))
    assert(enclosingMembers(tests, sv).toSet == Set("foldTail"))
    assert(occurrences("def foldTail") == Map(sv -> 1))
    // the pk tag (Snapshots.PkOption) is set by Snapshots.read and by the
    // engine's one log read
    val SetsTag = """PkOption\s*(,|->)""".r
    def sets(l: String) = SetsTag.findFirstIn(l).isDefined
    assert(sources.collect { case (f, c) if c.exists(sets) => f }.toSet ==
      Set("graft/state/Snapshots.scala", qe))
    assert(enclosingMembers(sets, "graft/state/Snapshots.scala") == Seq("read"))
    assert(enclosingMembers(sets) == Seq("baseEvents"))
  }

  test("DML guard probes and the inline-key cap live in Guards") {
    val guards = "graft/exec/Guards.scala"
    // the probes' message column and the cap's overflow probe are each
    // spelled once
    assert(occurrences("\"_err\"") == Map(guards -> 1))
    assert(occurrences("InlineKeyCap + 1") == Map(guards -> 1))
    val ProbeDef = """def \w*Probes\(""".r
    val builders = sources.collect {
      case (f, code) if code.exists(ProbeDef.findFirstIn(_).isDefined) => f
    }
    assert(builders.toSet == Set(guards), builders)
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
