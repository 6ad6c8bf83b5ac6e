package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Build-time lint: no program code pins a stateful stream's state
  * store count to anything but the sizing rule.
  *
  * A stream's store count is fixed at its first checkpoint and every
  * micro-batch pays a commit per store, so the count must follow the
  * stream's backlog: every drain in `src/main` passes
  * `EventStream.stateStores(stream)` to `withStatePartitions`. Anything
  * else there — a literal (`withStatePartitions(s, 8)`) or a named
  * constant holding one — brings back a count sized for nothing, which
  * is how q191 came to pay 16 store commits per micro-batch over ~27k
  * rows. The check reads each file whole, so a call split over lines is
  * checked like one on a single line. Specs may still pin a count.
  */
class StateStoreCountLintSpec extends AnyFunSuite {

  // a call, not the definition (`withStatePartitions[T](...)`)
  private val call = """withStatePartitions\s*\(""".r
  // withStatePartitions(s, EventStream.stateStores(agg)), any qualifier
  private val sized = """withStatePartitions\s*\(\s*\w+\s*,\s*(n\s*=\s*)?([\w.]*\.)?stateStores\s*\(""".r

  /** 1-based line and text of each call whose count is not `stateStores(...)`. */
  private def violations(path: Path): Seq[(Int, String)] = {
    val text = new String(Files.readAllBytes(path), "UTF-8")
    call.findAllMatchIn(text).toVector.collect {
      case m if sized.findPrefixOf(text.substring(m.start)).isEmpty =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        (line, text.linesIterator.drop(line - 1).next().trim)
    }
  }

  test("every withStatePartitions call under src/main passes EventStream.stateStores") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), "run from the repository root")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    assert(files.exists(_.endsWith("streaming/EventStream.scala")))
    val bad = files.flatMap(f => violations(f).map { case (ln, l) => s"$f:$ln  $l" })
    assert(bad.isEmpty,
      "State store count(s) not from the sizing rule — pass EventStream.stateStores(<stream>) instead:\n" +
        bad.mkString("\n"))
  }

  test("the lint detects literal, split-line and named-constant counts") {
    val tmp = Files.createTempFile("graft_lint", ".scala")
    Files.write(tmp, java.util.Arrays.asList(
      """EventStream.withStatePartitions(s, 8)(EventStream.runToCompletion(s, agg))""",
      """EventStream.withStatePartitions(s, EventStream.stateStores(agg)) {""",
      """streaming.EventStream.withStatePartitions(spark, n = 4) {""",
      """def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T =""",
      """EventStream.withStatePartitions(""",
      """  s, 8) {""",
      """val N = 8; EventStream.withStatePartitions(s, N) {""",
      """streaming.EventStream.withStatePartitions(spark,""",
      """  streaming.EventStream.stateStores(src)) {"""))
    val got = violations(tmp).map(_._1)
    assert(got === Seq(1, 3, 5, 7), s"expected lines 1, 3, 5 and 7 flagged, got $got")
  }
}
