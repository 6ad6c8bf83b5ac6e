package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** One persisted state root: its layout and its whole lifecycle, shared
  * by every state tier (signatures, IVF, PQ, encoded corpus, DSIR).
  *
  * Layout. The root holds named member dirs (the constants on the
  * companion) and one `tombstones` dir. Each member's CURRENT
  * generation is resolved through the newest `_manifest/v<N>.manifest`,
  * one `member relative-path` line per entry; a member the manifest
  * does not name — every member of a root that was never committed —
  * resolves to `<root>/<member>`, so roots built by plain writes read
  * unchanged. Paths are relative, so a deep copy of a root
  * ([[graft.Scratch.stageInto]]) stays valid.
  *
  * Operations. [[live]] is the merge-on-read view (the member minus
  * its tombstones, anti-joined on the columns both share, so a tier
  * whose tombstones carry only a key and a fingerprint shadows exactly
  * what its reader shadows); [[append]] and [[appendTombstones]] write
  * into the current generation; [[stats]] / [[statsFast]] / [[due]] are
  * the cadence gate's inputs; [[commit]] publishes a new generation.
  *
  * Commit protocol (single writer per root): write the new generation
  * of the named members under `_gen/v<N+1>/` — the old generation stays
  * fully readable meanwhile, which matters because the rewrite usually
  * reads the very table it replaces; then atomically rename
  * `_manifest/v<N+1>.manifest` into place, naming the new members and an
  * empty tombstones dir; then garbage-collect every dir and manifest the
  * new one does not reference. A crash before the rename leaves the
  * pre-commit state (the unreferenced generation is overwritten by the
  * next commit); a crash after it leaves the post-commit state plus
  * debris that the next write to the root collects. Appends racing a
  * commit are the caller's lock to take.
  */
final class StateTable(spark: SparkSession, val root: String) {
  import StateTable._

  private val rootPath = new Path(root)
  private val fs: FileSystem = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val manifestDir = new Path(rootPath, "_manifest")

  /** (version, member -> relative path) of the current generation;
    * version 0 with no entries for a root that was never committed. */
  private def generation(): (Long, Map[String, String]) =
    readManifest(fs, manifestDir) match {
      case Some((v, lines)) => (v, lines.map { l =>
        val Array(m, rel) = l.split(" ", 2)
        m -> rel
      }.toMap)
      case None => (0L, Map.empty)
    }

  private def resolve(entries: Map[String, String], member: String): String =
    s"$root/${entries.getOrElse(member, member)}"

  /** The current directory of `member`. */
  def path(member: String): String = resolve(generation()._2, member)

  def exists(member: String): Boolean = fs.exists(new Path(path(member)))

  /** `member` minus its outstanding tombstones. `broadcastTombstones`
    * pins the anti-join's build side for tiers whose tombstones are
    * scalar-only (bounded and narrow whatever the planner estimates). */
  def live(member: String, broadcastTombstones: Boolean = false): DataFrame = {
    val entries = generation()._2
    val raw = spark.read.parquet(resolve(entries, member))
    val t = new Path(resolve(entries, Tombstones))
    if (!fs.exists(t)) raw
    else {
      val tombs = spark.read.parquet(t.toString)
      raw.join(if (broadcastTombstones) broadcast(tombs) else tombs,
        raw.columns.filter(tombs.columns.toSet).toSeq, "left_anti")
    }
  }

  def append(member: String, df: DataFrame, partitionBy: String*): Unit = {
    finishGc()
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path(member))
  }

  def appendTombstones(df: DataFrame): Unit = append(Tombstones, df)

  def hasTombstones: Boolean = exists(Tombstones)

  /** Visible rows of `member`, outstanding tombstone rows, and their
    * ratio — the number a cadence threshold is compared against, because
    * the tombstone tier's read tax and its anti-join's broadcastability
    * are both bounded by how many tombstones accumulate between commits.
    * The live count is the exact merge-on-read count (a tombstone can
    * shadow several duplicate stored rows, and a spent one shadows none).
    * live == 0 with outstanding tombstones is the worst case, not a
    * clean one, so the fraction is infinite there. */
  def stats(member: String): (Long, Long, Double) =
    if (!hasTombstones) (spark.read.parquet(path(member)).count(), 0L, 0.0)
    else {
      val tombs = spark.read.parquet(path(Tombstones)).count()
      withFrac(live(member).count(), tombs)
    }

  /** The gate-grade form of [[stats]]: two raw row counts (parquet
    * footer statistics, no anti-join job) and the conservative fraction
    * `tombs / max(raw - tombs, 0)`. `raw - tombs` lower-bounds the true
    * live count, so a gate reading this fraction can only fire early,
    * and an early commit is semantically free. */
  def statsFast(member: String): (Long, Long, Double) = {
    val raw = spark.read.parquet(path(member)).count()
    if (!hasTombstones) (raw, 0L, 0.0)
    else {
      val tombs = spark.read.parquet(path(Tombstones)).count()
      withFrac(math.max(raw - tombs, 0L), tombs)
    }
  }

  /** The cadence gate: whether outstanding tombstones exceed
    * `maxTombstoneFrac` of `member`'s live view ([[statsFast]]). A root
    * without tombstones answers without any Spark job. */
  def due(member: String, maxTombstoneFrac: Double): Boolean = {
    require(maxTombstoneFrac >= 0, s"maxTombstoneFrac must be >= 0 (got $maxTombstoneFrac)")
    hasTombstones && statsFast(member)._3 > maxTombstoneFrac
  }

  /** Publish a new generation of `members`: `write` receives each
    * member's new (not yet existing) directory and must fill them all;
    * the new generation's tombstones are empty. Protocol and crash
    * windows as in the class doc. */
  def commit(members: String*)(write: Map[String, String] => Unit): Unit = {
    val (version, entries) = generation()
    // a first commit pins the plain-named layout as v0, so that more than
    // one manifest marks an unfinished GC on every root
    if (version == 0 && !fs.exists(new Path(manifestDir, "v0.manifest")))
      writeManifest(fs, manifestDir, 0, Nil)
    val next = version + 1
    val gen = new Path(rootPath, s"$GenDir/v$next")
    fs.delete(gen, true) // a crashed earlier attempt's leftover
    val rel = (members :+ Tombstones).map(m => m -> s"$GenDir/v$next/$m").toMap
    write(members.map(m => m -> s"$root/${rel(m)}").toMap)
    killPoint("rename")
    writeManifest(fs, manifestDir, next,
      (entries ++ rel).toSeq.sorted.map { case (m, p) => s"$m $p" })
    killPoint("gc")
    gc()
  }

  /** Delete what the current manifest does not reference: superseded
    * member dirs at their default names, superseded generation dirs,
    * and — last, so that more than one manifest marks an unfinished GC —
    * older manifests. Idempotent. */
  private def gc(): Unit = {
    val (version, entries) = generation()
    val referenced = entries.values.toSet
    for ((m, p) <- entries if p != m) fs.delete(new Path(rootPath, m), true)
    val genRoot = new Path(rootPath, GenDir)
    if (fs.exists(genRoot))
      for (g <- fs.listStatus(genRoot)) {
        val name = s"$GenDir/${g.getPath.getName}"
        if (!referenced.exists(_.startsWith(s"$name/"))) fs.delete(g.getPath, true)
        else for (d <- fs.listStatus(g.getPath) if !referenced(s"$name/${d.getPath.getName}"))
          fs.delete(d.getPath, true)
      }
    gcManifests(fs, manifestDir, version)
  }

  /** A commit that crashed between its manifest rename and the end of
    * its GC left more than one manifest: the next write to the root
    * finishes that GC, so a one-shot commit's debris does not wait for
    * another commit. */
  private def finishGc(): Unit =
    if (fs.exists(manifestDir) &&
        fs.listStatus(manifestDir).count(f => ManifestName.matches(f.getPath.getName)) > 1)
      gc()

  private def killPoint(point: String): Unit =
    if (killPoints.get(root) == point)
      throw new IllegalStateException(s"injected crash at $point for $root")

  private def withFrac(live: Long, tombs: Long): (Long, Long, Double) =
    (live, tombs,
      if (live > 0) tombs.toDouble / live
      else if (tombs > 0) Double.PositiveInfinity
      else 0.0)
}

object StateTable {
  def apply(spark: SparkSession, root: String): StateTable = new StateTable(spark, root)

  // member dirs, per tier
  val Sigs = "sigs"
  val Centroids = "centroids"
  val Assignments = "assignments"
  val Codebooks = "codebooks"
  val Codes = "codes"
  val Ids = "ids"
  val Buckets = "buckets"
  val Tombstones = "tombstones"

  private val GenDir = "_gen"

  /** Fault injection for crash-window specs: a root mapped to "rename"
    * or "gc" makes its next [[StateTable.commit]] throw just before that
    * step. */
  private[graft] val killPoints =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // ---- versioned manifest files, shared with the pairs sink
  // (graft.streaming.TurnStream.compactPairs): readers take the newest
  // `v<N>.manifest` in a dir, so publishing one is a single atomic
  // rename.

  private val ManifestName = "v(\\d+)\\.manifest".r

  /** The newest `v<N>.manifest` under `dir`: (N, its lines), if any. */
  private[graft] def readManifest(fs: FileSystem, dir: Path): Option[(Long, Seq[String])] = {
    if (!fs.exists(dir)) return None
    val versions = fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toLong }
    if (versions.isEmpty) None
    else {
      val v = versions.max
      val in = fs.open(new Path(dir, s"v$v.manifest"))
      try Some(v -> new String(in.readAllBytes(), "UTF-8").split("\n").toSeq.filter(_.nonEmpty))
      finally in.close()
    }
  }

  /** Publish `v<version>.manifest` under `dir`: a temp file renamed into
    * place (Hadoop reports a failed rename as `false`, so it is checked). */
  private[graft] def writeManifest(fs: FileSystem, dir: Path, version: Long,
                                   lines: Seq[String]): Unit = {
    fs.mkdirs(dir)
    val tmp = new Path(dir, s"v$version.manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, new Path(dir, s"v$version.manifest")),
      s"manifest rename failed for $dir v$version")
  }

  /** Delete every entry of `dir` except `v<keep>.manifest`. */
  private[graft] def gcManifests(fs: FileSystem, dir: Path, keep: Long): Unit =
    if (fs.exists(dir))
      for (f <- fs.listStatus(dir) if f.getPath.getName != s"v$keep.manifest")
        fs.delete(f.getPath, true)
}
