package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Content-derived micro-batch identities for the streaming ingest
  * fronts. foreachBatch's positional batch id is CHECKPOINT-LOCAL
  * (every fresh checkpoint restarts at 0), so any replay guard or
  * exactly-once sink keyed on the position confuses "same position"
  * with "same content" the moment a state path outlives its checkpoint
  * or serves a second feed. These digests identify the batch by its
  * ROWS — the same order-independent two-lane hash
  * [[graft.Pipelines.dailyIncremental]] uses for its derived run
  * identity: same rows → same id (replays skip), different rows →
  * different id (second feeds append) — regardless of which checkpoint
  * delivered them. One tiny agg job per micro-batch.
  */
object StreamIds {

  /** Two independent hash lanes summed over the given row-fingerprint
    * columns, plus the row count. Order-free (sums), so stable across
    * shuffle layouts and arrival orders of the same rows.
    */
  private def lanes(fpCols: Seq[Column]): Seq[Column] = {
    def lane(seed: String) = coalesce(sum(graft.functions.PortableHash.hash32(
      concat_ws(" ", (lit(seed) +: fpCols): _*))), lit(0L))
    Seq(lane("l1"), lane("l2"), count(lit(1)))
  }

  private def render(r: Row, at: Int): String =
    f"${r.getLong(at)}%x-${r.getLong(at + 1)}%x-${r.getLong(at + 2)}%x"

  def contentBid(batch: DataFrame, fpCols: Seq[Column]): String = {
    val ls = lanes(fpCols)
    render(batch.agg(ls.head, ls.tail: _*).head(), 0)
  }

  /** The column [[withFile]] adds: each row's source file path. */
  val FileCol = "_file"

  /** `df` (a file scan, streaming or not) with each row's source file
    * path in [[FileCol]]. A micro-batch handed to foreachBatch has lost
    * its scan's hidden `_metadata` column, so a stream adds it at the
    * source. */
  def withFile(df: DataFrame): DataFrame = df.withColumn(FileCol, col("_metadata.file_path"))

  /** [[contentBid]] of each source file of a [[withFile]] micro-batch,
    * keyed by the file's path, in ONE aggregate job. A file's digest is
    * the digest a micro-batch holding that file alone gets. A file with
    * no rows carries no content and is absent from the map.
    */
  def fileBids(batch: DataFrame, fpCols: Seq[Column]): Map[String, String] = {
    val ls = lanes(fpCols)
    batch.groupBy(col(FileCol)).agg(ls.head, ls.tail: _*)
      .collect().map(r => r.getString(0) -> render(r, 1)).toMap
  }

  /** The fingerprint of a documents row: (doc_id, source, text). */
  val docFp: Seq[Column] = Seq(col("doc_id").cast("string"),
    coalesce(col("source").cast("string"), lit("")),
    md5(coalesce(col("text"), lit(""))))

  /** The fingerprint of an embeddings row: (vec_id, vector bytes via the
    * canonical array string form — the same fingerprint the daily turn's
    * embedding diff uses). */
  val embFp: Seq[Column] = Seq(col("vec_id").cast("string"),
    md5(coalesce(col("embedding").cast("string"), lit(""))))

  /** Digest of a documents micro-batch. */
  def docBid(batch: DataFrame): String = contentBid(batch, docFp)

  /** The id of a group of files ingested as one unit: the file's own
    * digest for one file (so a one-file group and a one-file
    * micro-batch share every marker), else a digest over the sorted
    * member digests.
    */
  def groupBid(members: Set[String]): String =
    if (members.size == 1) members.head
    else "g" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(members.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      .take(16).map(b => f"$b%02x").mkString
}
