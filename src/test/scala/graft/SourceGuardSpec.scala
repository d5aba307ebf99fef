package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-scan guards for the engine's single-owner decisions: how a session
  * is configured (GraftSession), how vertex values get dense ids
  * (VertexDictionary), and where a route decision lives (the return value of
  * the call that made it). A second copy of any of them drifts from the first.
  */
class SourceGuardSpec extends SparkSpec {

  /** The repository's `src` directory, found from the working directory. */
  private lazy val srcRoot: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src"))
      .find(p => Files.isDirectory(p.resolve("main/scala/graft")))
      .getOrElse(fail("no src/main/scala/graft above the working directory"))

  private def scalaFiles(under: Path): Seq[Path] = {
    val s = Files.walk(under)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  /** Source text with comments removed, so prose may name the methods. */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test("exactly one session builder under src/, in GraftSession") {
    val hits = scalaFiles(srcRoot).flatMap { p =>
      "SparkSession\\.builder".r.findAllIn(code(p)).map(_ => srcRoot.relativize(p).toString)
    }
    assert(hits == Seq("main/scala/graft/GraftSession.scala"), hits)
  }

  test("no dense-id assignment outside VertexDictionary in graph/, chain/, ChainOps") {
    val main = srcRoot.resolve("main/scala/graft")
    val files = scalaFiles(main.resolve("graph")) ++ scalaFiles(main.resolve("chain")) :+
      main.resolve("operators/ChainOps.scala")
    // RDD id assignment: zipWithUniqueId anywhere, or an RDD's zipWithIndex
    // (a `.rdd` chain reaching it within one statement); a Scala
    // collection's zipWithIndex is not an id assignment
    val assign = "zipWithUniqueId|\\.rdd\\b(?:(?!\\b(?:val|var|def)\\b)[^;{}])*\\.zipWithIndex".r
    val offenders = files.filter(p => assign.findFirstIn(code(p)).isDefined)
      .map(p => main.relativize(p).toString)
    assert(offenders.isEmpty, offenders)
    assert(assign.findFirstIn(code(main.resolve("operators/VertexDictionary.scala"))).isDefined)
  }

  test("no @volatile register in graph/, chain/, streaming/, operators/") {
    // a route or verdict belongs in the result of the call that made it: a
    // shared mutable field is overwritten by the next call, on any thread
    val main = srcRoot.resolve("main/scala/graft")
    val offenders = Seq("graph", "chain", "streaming", "operators")
      .flatMap(d => scalaFiles(main.resolve(d)))
      .filter(p => code(p).contains("@volatile"))
      .map(p => main.relativize(p).toString)
    assert(offenders.isEmpty, offenders)
  }

  test("no AtomicReference, LinkedHashMap or ConcurrentHashMap field in chain/, graph/, operators/, queries/, sources/") {
    // how long a materialized result stays cached is the caller's Scope: a
    // "last result" register or an index memo held in an object is shared by
    // every caller, on any thread, and each call decides for all of them
    val main = srcRoot.resolve("main/scala/graft")
    val cache = "\\b(?:AtomicReference|LinkedHashMap|ConcurrentHashMap)\\b".r
    val offenders = Seq("chain", "graph", "operators", "queries", "sources")
      .flatMap(d => scalaFiles(main.resolve(d)))
      .filter(p => cache.findFirstIn(code(p)).isDefined)
      .map(p => main.relativize(p).toString)
    assert(offenders.isEmpty, offenders)
  }

  /** Whether a match of `what` in `src` sits directly in an `object` body:
    * the innermost braces around it were opened by an `object` header, not
    * by a class, a method or a block.
    */
  private def atObjectLevel(src: String, what: scala.util.matching.Regex): Boolean = {
    val opener = "\\b(?:object|class|trait|new|def|val|var)\\b".r
    what.findAllMatchIn(src).exists { m =>
      var stack = List.empty[Boolean] // per open brace: an object body?
      var from = 0 // start of the statement the next brace belongs to
      (0 until m.start).foreach { i =>
        src(i) match {
          case '{' =>
            stack ::= opener.findAllIn(src.substring(from, i)).toSeq.lastOption.contains("object")
            from = i + 1
          case '}' => stack = stack.drop(1); from = i + 1
          case ';' => from = i + 1
          case _ =>
        }
      }
      stack.headOption.contains(true)
    }
  }

  test("no object-level ConcurrentLinkedQueue, AtomicReference, ConcurrentHashMap or LinkedHashMap in streaming/") {
    // a batch record belongs to whoever asked for it (the call's return
    // value, a telemetry sink): a queue held in an object is shared by every
    // query on every thread and grows for the life of the JVM. A field of a
    // class instance, such as Graceful's set of managed queries, is the
    // owner's own state.
    val main = srcRoot.resolve("main/scala/graft")
    val register =
      "\\b(?:ConcurrentLinkedQueue|AtomicReference|ConcurrentHashMap|LinkedHashMap)\\b".r
    assert(atObjectLevel(
      "object A { private val q = new java.util.concurrent.ConcurrentLinkedQueue[Int] }", register))
    val graceful = code(main.resolve("streaming/Graceful.scala"))
    assert(register.findFirstIn(graceful).isDefined && !atObjectLevel(graceful, register))
    val offenders = scalaFiles(main.resolve("streaming"))
      .filter(p => atObjectLevel(code(p), register))
      .map(p => main.relativize(p).toString)
    assert(offenders.isEmpty, offenders)
  }

  test("only Bench, Verify and the Rehearsal runner define main, and no leg or telemetry knob is read") {
    // a probe or rehearsal main of its own grows its own filters, knobs and
    // emit code; a timing belongs to a Rehearsal leg or a telemetry phase, a
    // check to a spec
    val main = srcRoot.resolve("main")
    val mains = scalaFiles(main).filter(p => "\\bdef main\\(".r.findFirstIn(code(p)).isDefined)
      .map(_.getFileName.toString).sorted
    assert(mains == Seq("Bench.scala", "Rehearsal.scala", "Verify.scala"), mains)
    val knobs = scalaFiles(main).flatMap(p => ("SPARK_GRAFT_[A-Z0-9_]*_LEGS|" +
      "SPARK_GRAFT_(?:TRACE|PROFILE|BENCH_VERBOSE|BENCH_DEBUG)\\b").r.findAllIn(code(p)))
    assert(knobs.isEmpty, knobs)
  }

  test("a GraftSession session has the engine's SQL functions") {
    assert(spark.sql("SELECT block_subsidy(0)").head().getLong(0) == 5000000000L)
  }
}
