package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Mechanical staleness gate for the COVERAGE.md correctness claim:
  * the claim paragraph (round number, green/total counts, artifact
  * name) must match the newest CITABLE `CORRECTNESS_r*.json` driver
  * artifact in the repo root — citable meaning committed no later
  * than the claim file's own last commit (a file with uncommitted
  * changes counts as committed now), because a round's driver
  * artifacts land AFTER the builder's final commit and can only be
  * cited by the next round's header regeneration (VERDICT r19 item
  * 3). The claim is machine-written by `tools/coverage_report.py`;
  * this spec makes forgetting to run it a test failure rather than a
  * third consecutive stale header.
  *
  * Deliberately dumb parsing: the claim format is owned by
  * coverage_report.py — if the format changes there, change it here.
  */
class CoverageClaimSpec extends AnyFunSuite {

  private val root = {
    // sbt runs tests with cwd = project root; fall back to walking up
    // from user.dir until COVERAGE.md appears (IDE runners).
    var d = new File(System.getProperty("user.dir")).getAbsoluteFile
    while (d != null && !new File(d, "COVERAGE.md").isFile) d = d.getParentFile
    assert(d != null, "COVERAGE.md not found above user.dir")
    d
  }

  private def git(args: String*): Option[String] =
    try Some(new String(
      new ProcessBuilder(("git" +: "-C" +: root.getPath +: args): _*)
        .redirectErrorStream(false).start().getInputStream.readAllBytes(),
      "UTF-8").trim)
    catch { case _: Throwable => None }

  // one instant per run, so paths "committed now" compare equal
  private lazy val now = System.currentTimeMillis() / 1000

  /** Last-commit epoch (committer time) of a repo-relative path; a
    * path with uncommitted changes (untracked included) counts as
    * committed now, so a run before its commit decides as a run after
    * it does. None when git is unavailable. */
  private def commitEpoch(rel: String): Option[Long] =
    git("status", "--porcelain", "--", rel) match {
      case Some(dirty) if dirty.nonEmpty => Some(now)
      case Some(_) => git("log", "-1", "--format=%ct", "--", rel).filter(_.nonEmpty).map(_.toLong)
      case None => None
    }

  /** The newest artifact the claim file could have CITED: a round's
    * driver artifacts land in a commit AFTER the builder's last header
    * regeneration, so the post-round tree always carries artifacts
    * newer than the headers — by construction, not by staleness
    * (VERDICT r19 item 3: the old plain-newest rule failed three tests
    * on every post-round judge run, forever). Artifacts committed
    * after the claim file's last commit (or never committed) are
    * therefore excluded; plain newest when git is unavailable (fresh
    * export, no history — the strict rule still applies in the repo).
    */
  private def citableNewest(prefix: String, claimRel: String): (Int, File) = {
    val artRe = (prefix + "_r(\\d+)\\.json").r
    val arts = root.listFiles().toSeq.flatMap(f => f.getName match {
      case artRe(n) => Some((n.toInt, f))
      case _        => None
    })
    assert(arts.nonEmpty, s"no ${prefix}_r*.json artifact in repo root")
    commitEpoch(claimRel) match {
      case None => arts.maxBy(_._1)
      case Some(claimT) =>
        val citable = arts.filter { case (_, f) =>
          commitEpoch(f.getName).exists(_ <= claimT) }
        if (citable.isEmpty)
          cancel(s"every ${prefix}_r*.json artifact postdates $claimRel's " +
            "last commit — run `python3 tools/coverage_report.py` to cite them")
        citable.maxBy(_._1)
    }
  }

  test("COVERAGE.md claim matches the newest citable CORRECTNESS_r*.json artifact") {
    val (round, newest) = citableNewest("CORRECTNESS", "COVERAGE.md")

    // count green rows exactly like tools/coverage_report.py: a row is
    // green iff rows_match, schema_match and hash_match are all true
    val body = new String(Files.readAllBytes(newest.toPath), "UTF-8")
    val rowRe = ("\"(q[0-9]+[a-z0-9_]*)\"\\s*:\\s*\\{([^}]*)\\}").r
    val rows = rowRe.findAllMatchIn(body).map { m =>
      val fields = m.group(2)
      def flag(k: String) = s""""$k"\\s*:\\s*true""".r.findFirstIn(fields).isDefined
      (m.group(1), flag("rows_match") && flag("schema_match") && flag("hash_match"))
    }.toSeq
    assert(rows.nonEmpty, s"no query rows parsed from ${newest.getName}")
    val total = rows.size
    val green = rows.count(_._2)

    val cov = new String(
      Files.readAllBytes(Paths.get(root.getPath, "COVERAGE.md")), "UTF-8")
    val claimRe =
      ("""Driver artifact \(round (\d+)\):\s*\n\*\*(\d+)/(\d+) green\*\* """ +
        """\(`(CORRECTNESS_r\d+\.json)`""").r
    val m = claimRe.findFirstMatchIn(cov).getOrElse(
      fail("COVERAGE.md claim paragraph not found — run tools/coverage_report.py"))
    assert(m.group(1).toInt == round && m.group(4) == newest.getName,
      s"COVERAGE.md claims round ${m.group(1)} (${m.group(4)}) but the newest " +
        s"artifact is round $round (${newest.getName}) — " +
        "run `python3 tools/coverage_report.py`")
    assert(m.group(2).toInt == green && m.group(3).toInt == total,
      s"COVERAGE.md claims ${m.group(2)}/${m.group(3)} green but " +
        s"${newest.getName} holds $green/$total — " +
        "run `python3 tools/coverage_report.py`")
  }

  test("COVERAGE.md bench claim matches the newest citable BENCH_r*.json artifact") {
    // the r16 verdict's drift class: commits/docs quoting a LOCAL
    // sweep while the landed driver artifact says otherwise. The bench
    // headline is machine-written from the newest citable
    // BENCH_r*.json; forgetting to regenerate it is a test failure.
    val (round, newest) = citableNewest("BENCH", "COVERAGE.md")
    val body = new String(Files.readAllBytes(newest.toPath), "UTF-8")
    // `total` is the bench line's FINAL key, so it survives the
    // driver's tail truncation; take the last occurrence (the escaped
    // JSON inside "tail"/"parsed" both end with it)
    val totalRe = "\\\\?\"total\\\\?\":([0-9.]+)".r
    val totals = totalRe.findAllMatchIn(body).map(_.group(1).toDouble).toSeq
    assert(totals.nonEmpty, s"no total parseable from ${newest.getName}")
    val total = totals.last

    val cov = new String(
      Files.readAllBytes(Paths.get(root.getPath, "COVERAGE.md")), "UTF-8")
    val claimRe =
      ("""Bench headline — driver artifact \(round (\d+)\): total\s*\n""" +
        """\*\*([0-9.]+) s\*\*""").r
    val m = claimRe.findFirstMatchIn(cov).getOrElse(
      fail("COVERAGE.md bench claim paragraph not found — run tools/coverage_report.py"))
    assert(m.group(1).toInt == round,
      s"COVERAGE.md bench claim cites round ${m.group(1)} but the newest " +
        s"artifact is round $round (${newest.getName}) — " +
        "run `python3 tools/coverage_report.py`")
    assert(math.abs(m.group(2).toDouble - total) < 0.05 + 1e-9,
      s"COVERAGE.md bench claim says ${m.group(2)} s but ${newest.getName} " +
        s"holds $total s — run `python3 tools/coverage_report.py`")
  }

  test("README driver-claims block cites the newest artifacts (round + counts + gate)") {
    // VERDICT r17 item 7: the README round summary said "gate clean"
    // about a LOCAL sweep while the landed artifact was gate-red. The
    // delimited block is machine-written from the newest artifacts;
    // this pins it against going stale (older round, wrong counts, or
    // a missing gate verdict).
    def newestRound(prefix: String): Int =
      citableNewest(prefix, "README.md")._1
    val md = new String(
      Files.readAllBytes(Paths.get(root.getPath, "README.md")), "UTF-8")
    val blockRe =
      ("""<!-- driver-claims:begin[\s\S]*?round (\d+)\): correctness \*\*(\d+)/(\d+) green\*\*\s*\n""" +
        """\(`CORRECTNESS_r(\d+)\.json`\);[\s\S]*?\*\*gate rc (\d+)\*\*\s*\n""" +
        """\(`BENCH_r(\d+)\.json`\)\.[\s\S]*?driver-claims:end -->""").r
    val m = blockRe.findFirstMatchIn(md).getOrElse(
      fail("README.md driver-claims block not found/parsable — run tools/coverage_report.py"))
    val cRound = newestRound("CORRECTNESS")
    val bRound = newestRound("BENCH")
    assert(m.group(4).toInt == cRound && m.group(6).toInt == bRound,
      s"README driver-claims cites rounds ${m.group(4)}/${m.group(6)} but the newest " +
        s"artifacts are $cRound/$bRound — run `python3 tools/coverage_report.py`")
    // counts must match the cited correctness artifact (same green rule
    // as the COVERAGE.md test above)
    val body = new String(Files.readAllBytes(
      Paths.get(root.getPath, s"CORRECTNESS_r$cRound.json")), "UTF-8")
    val rowRe = ("\"(q[0-9]+[a-z0-9_]*)\"\\s*:\\s*\\{([^}]*)\\}").r
    val rows = rowRe.findAllMatchIn(body).map { mm =>
      val fields = mm.group(2)
      def flag(k: String) = s""""$k"\\s*:\\s*true""".r.findFirstIn(fields).isDefined
      flag("rows_match") && flag("schema_match") && flag("hash_match")
    }.toSeq
    assert(m.group(2).toInt == rows.count(identity) && m.group(3).toInt == rows.size,
      s"README driver-claims says ${m.group(2)}/${m.group(3)} but the artifact holds " +
        s"${rows.count(identity)}/${rows.size} — run `python3 tools/coverage_report.py`")
  }
}
