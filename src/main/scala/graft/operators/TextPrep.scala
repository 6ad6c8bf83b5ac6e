package graft.operators

import graft.functions.PortableHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-preparation operators: context-window chunking, PII-style
  * redaction, and per-source mixture sampling — the steps between "raw
  * documents" and "training batches".
  *
  * North-star extension (BASELINE.json): no reference counterpart;
  * semantics pinned by the DuckDB oracle + ScalaTest. All pure column
  * expressions; chunking fans out via posexplode, so a 100 TB corpus
  * chunks in one narrow pass with no shuffle at all.
  */
object TextPrep {

  /** Split each document into token chunks of `size` with `overlap`
    * tokens shared between neighbours (stride = size - overlap).
    * A chunk is emitted only if it contributes at least one NEW token
    * beyond the shared overlap (start + overlap < size(w)); without
    * that bound, any document whose tail length is <= overlap got a
    * final chunk fully contained in its predecessor — duplicated
    * training content that also inflated n_tokens sums and packing
    * budgets. The first chunk always exists (empty docs chunk to one
    * empty chunk).
    * Output: (doc_id, chunk_idx, n_tokens, chunk) ordered.
    */
  def chunk(docs: DataFrame, size: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val stride = size - overlap
    docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .select(col("doc_id"), posexplode(expr(
        // starts at 0, stride, 2*stride, ... while start + overlap < size(w)
        s"transform(sequence(0, greatest(0, (size(w) - $overlap - 1) div $stride)), " +
          s"i -> slice(w, i*$stride + 1, $size))"
      )).as(Seq("chunk_idx", "cw")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        org.apache.spark.sql.functions.size(col("cw")).cast("long").as("n_tokens"),
        array_join(col("cw"), " ").as("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Redact digit runs and email-shaped tokens — the pattern layer of
    * a PII scrub (real deployments chain more patterns; each is one
    * more codegen'd regexp_replace). RE2-safe patterns, so the oracle
    * applies the identical regexes. The email class includes
    * `._%+-` in the local part and `.-` in the domain — without them
    * "jane_doe@my-site.com" matched only "doe@my", leaving the
    * identifying fragments "jane_" and "-site.com" in output that
    * LOOKS sanitized (worse than no match at all).
    */
  def redact(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "[0-9]+", "<NUM>").as("redacted"))
      .orderBy(col("doc_id"))

  /** Deterministic mixture sampling: keep each source at its weight
    * (percent in [0,100]) by portable-hash bucket — the "data mixing"
    * step of corpus assembly, reproducible across engines and retries.
    * Unlisted sources keep `defaultPct`.
    */
  def sourceMixture(docs: DataFrame, weights: Map[String, Int], defaultPct: Int): DataFrame = {
    // the one split primitive (Sampling.hashBucket) — mixture sampling
    // and train/test splitting must bucket identically or drift apart
    val bucket = Sampling.hashBucket(col("doc_id"))
    val pct = weights.foldLeft(lit(defaultPct)) { case (acc, (src, p)) =>
      when(col("source") === src, lit(p)).otherwise(acc)
    }
    docs.filter(bucket < pct)
  }

  /** Greedy sequence packing: assign each document's chunks (in
    * chunk_idx order) to training sequences of at most `budget`
    * tokens — a new sequence starts when the next chunk would
    * overflow the current one. An overlong single chunk still gets a
    * sequence of its own.
    *
    * Packing never crosses documents (the standard contamination-free
    * choice), so the computation is embarrassingly parallel keyed by
    * doc_id: one shuffle via `groupByKey`, then a linear per-doc scan
    * in `flatMapGroups` — the typed-Dataset shape for genuinely
    * sequential per-group logic (a running sum with reset is not
    * expressible as a window frame). Chunks of one document fit in
    * memory by construction (a document's own size bounds them);
    * cross-document bin packing would instead pack within partitions
    * after a size-descending sort.
    * Output: (doc_id, chunk_idx, n_tokens, seq_idx) ordered.
    */
  def packSequences(chunks: DataFrame, budget: Int): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.select(col("doc_id"), col("chunk_idx"), col("n_tokens"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (doc: Long, it: Iterator[(Long, Long, Long)]) =>
        val sorted = it.toArray.sortBy(_._2)
        var seq = 0L
        var acc = 0L
        sorted.iterator.map { case (_, idx, n) =>
          if (acc > 0 && acc + n > budget) { seq += 1; acc = 0L }
          acc += n
          (doc, idx, n, seq)
        }
      }
      .toDF("doc_id", "chunk_idx", "n_tokens", "seq_idx")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Fixed-size token-ID chunking + greedy packing over a
    * `(doc_id, ids)` frame from
    * [[graft.operators.TextAnalysis.bpeEncodeIds]]: each document's
    * id array splits into `size`-token chunks (no overlap — these are
    * training tokens, not sliding-window features), the chunks pack
    * greedily into sequences of at most `budget` tokens via
    * [[packSequences]], and each chunk carries its token OFFSET
    * within its packed sequence — the chunk/document-boundary table a
    * trainer reads next to the flat token stream. The id content is
    * pinned by checksum columns (`first_id`, `last_id`,
    * `ids_wsum = Σ id_i · (i+1)` over the chunk) so the oracle
    * verifies the actual ids, not just their count.
    *
    * Scale shape: one narrow per-row explode (chunking), the one
    * [[packSequences]] groupByKey shuffle, one per-doc equi-join back,
    * and a window PARTITIONED by (doc_id, seq_idx) for the offsets —
    * nothing global, nothing all-pairs.
    * Output: (doc_id, chunk_idx, seq_idx, seq_offset, n_tokens,
    * first_id, last_id, ids_wsum) ordered by (doc_id, chunk_idx).
    */
  def packTokenIds(encoded: DataFrame, size: Int, budget: Int): DataFrame = {
    require(size >= 1, s"size must be >= 1 (got $size)")
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    val chunks = encoded
      // an empty ids array would otherwise emit a degenerate chunk row
      // (n_tokens = 0, null first/last) — same guard as packConcatCut
      .filter(org.apache.spark.sql.functions.size(col("ids")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, greatest(0, (size(ids) - 1) div $size)), " +
          s"i -> slice(ids, i*$size + 1, $size))")).as(Seq("chunk_idx", "cw")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        org.apache.spark.sql.functions.size(col("cw")).cast("long").as("n_tokens"),
        element_at(col("cw"), 1).cast("long").as("first_id"),
        element_at(col("cw"), -1).cast("long").as("last_id"),
        expr("aggregate(zip_with(cw, sequence(1, size(cw)), " +
          "(x, i) -> cast(x as bigint) * i), 0L, (a, x) -> a + x)").as("ids_wsum"))
    val packed = packSequences(chunks, budget).select("doc_id", "chunk_idx", "seq_idx")
    val bySeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("seq_idx")).orderBy(col("chunk_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    chunks.join(packed, Seq("doc_id", "chunk_idx"))
      .withColumn("seq_offset", coalesce(sum(col("n_tokens")).over(bySeq), lit(0L)))
      .select(col("doc_id"), col("chunk_idx"), col("seq_idx"), col("seq_offset"),
        col("n_tokens"), col("first_id"), col("last_id"), col("ids_wsum"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** CROSS-document concat-and-cut packing — the shape most LLM
    * training runs actually use: conceptually concatenate every
    * document's token ids in doc_id order and cut the stream every
    * `budget` tokens, so every sequence is EXACTLY full (no padding
    * waste, unlike the per-doc greedy [[packSequences]]) and a
    * document may span sequences. The deliverable is the BOUNDARY
    * TABLE: one row per (sequence, document-fragment) telling the
    * trainer where each document's tokens sit — without it, cut
    * documents can't mask cross-document attention or recover
    * provenance.
    *
    * Scale shape — the global prefix sum WITHOUT a global window:
    * [[graft.plans.GlobalRank]] range-partitions the frame on doc_id
    * and stamps each row's global start from per-partition carries
    * (one job when there is more than one partition, none when AQE
    * coalesced the input to one). No stage ever sees more than its
    * partition; the only driver data is one summary per partition.
    * Fragment arithmetic is then pure per-row column math + a bounded
    * explode (a doc emits one row per sequence it touches).
    *
    * Output: (seq_idx, seq_off, doc_id, doc_off, frag_len, first_id,
    * last_id, ids_wsum) ordered by (seq_idx, seq_off); `ids_wsum` is
    * the Σ id·(pos+1) checksum over the fragment's ids, pinning the
    * actual tokens. Every sequence except the last sums frag_len to
    * exactly `budget`.
    */
  /** [[packConcatCut]] with each document TERMINATED by a separator
    * token (the EOS id trainers reserve) before the stream is cut —
    * the boundary-table rows then carry the separator inside its
    * document's final fragment (last_id = sepId on the fragment that
    * closes a document), so the trainer's attention mask and the
    * provenance table stay consistent with the actual token stream.
    * A document with an empty ids array still contributes its
    * separator (one token). Same machinery, same scale shape: the
    * append is a per-row column op before the prefix sum.
    */
  def packConcatCutSep(encoded: DataFrame, budget: Int, sepId: Int): DataFrame =
    packConcatCut(withSeparator(encoded, sepId), budget)

  /** Append the reserved separator id to every document's ids — the
    * per-row column op [[packConcatCutSep]] and the sep-terminated
    * shard writer share. */
  private def withSeparator(encoded: DataFrame, sepId: Int): DataFrame = {
    val elemT = encoded.schema("ids").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    encoded.withColumn("ids", concat(col("ids"), array(lit(sepId).cast(elemT))))
  }

  def packConcatCut(encoded: DataFrame, budget: Int): DataFrame =
    boundaryTable(concatCutFragments(encoded, budget))

  /** The boundary-table projection over a fragment frame — split from
    * [[concatCutFragments]] so the shard writer can derive BOTH
    * deliverables from one fragment computation. */
  private def boundaryTable(frags: DataFrame): DataFrame =
    frags.select(
      col("seq_idx"), col("seq_off"), col("doc_id"), col("doc_off"), col("frag_len"),
      element_at(col("frag"), 1).cast("long").as("first_id"),
      element_at(col("frag"), -1).cast("long").as("last_id"),
      expr("aggregate(zip_with(frag, sequence(1, size(frag)), " +
        "(x, i) -> cast(x as bigint) * i), 0L, (a, x) -> a + x)").as("ids_wsum"))
      .orderBy(col("seq_idx"), col("seq_off"))

  /** The MATERIALIZED training sequences: one row per `seq_idx` with
    * the full `array<bigint>` of its `budget` token ids, assembled by
    * concatenating the concat-cut fragments in `seq_off` order — the
    * table a trainer actually reads (the boundary table tells it where
    * documents sit INSIDE these rows; this is the rows themselves).
    * Every sequence except the last carries exactly `budget` ids.
    *
    * Scale shape: the fragment machinery is [[packConcatCut]]'s
    * (range-partitioned prefix sum, no global window); the assembly is
    * one groupBy(seq_idx) whose groups are bounded at `budget` tokens
    * BY CONSTRUCTION — no key can exceed the cut size, so the shuffle
    * is skew-free regardless of document length distribution (a 10M-
    * token document arrives as 10M/budget distinct keys, not one hot
    * one).
    */
  def packShards(encoded: DataFrame, budget: Int): DataFrame =
    shardTable(concatCutFragments(encoded, budget)).orderBy(col("seq_idx"))

  /** Shard assembly, SINGLE payload exchange: the fragments are
    * range-partitioned on seq_idx BEFORE the groupBy, so the
    * aggregate reuses that partitioning (RangePartitioning satisfies
    * the agg's ClusteredDistribution) and every downstream consumer
    * of the seq_idx order — [[packShards]]' orderBy (RangePartitioning
    * also satisfies its OrderedDistribution: the sort runs
    * partition-local, no exchange) and [[writeTrainingShards]]' range
    * layout — plans ZERO further exchanges. The pre-change shape
    * (hash-agg then range re-exchange) shipped the token payload
    * TWICE; at ×500/budget=4096 that second shuffle was ~half the
    * assembly cost (`tools/scaleprobe_r16_shards.jsonl`). */
  /** The one fragment-ordering rule both shard shapes aggregate with:
    * array_sort on array<struct> orders by the first field (seq_off,
    * unique within a sequence) — fragment order without a window. A
    * single definition so q183's shards and q187's self-contained
    * shards can never diverge on the same cut. Expects columns
    * (seq_off, fr) in scope. */
  private def shardIdsAgg: org.apache.spark.sql.Column =
    expr("flatten(transform(array_sort(collect_list(struct(seq_off, fr)))," +
      " s -> s.fr))")

  private def shardTable(frags: DataFrame): DataFrame =
    frags
      .select(col("seq_idx"), col("seq_off"),
        expr("transform(frag, x -> cast(x as bigint))").as("fr"))
      .repartitionByRange(col("seq_idx"))
      .groupBy(col("seq_idx"))
      .agg(shardIdsAgg.as("ids"))
    .select(col("seq_idx"), size(col("ids")).cast("long").as("n_tokens"), col("ids"))

  /** SELF-CONTAINED shards: [[packShards]]' token rows with the
    * per-sequence document spans INLINE — `doc_spans` is the sequence's
    * slice of the boundary table as an ordered `array<struct<off,
    * doc_id, len>>`, so a trainer builds its cross-document attention
    * mask from the shard row alone, no boundary-table join at read
    * time. Same cut, same skew-free groupBy — the spans ride the same
    * shuffle as the token fragments.
    * Output: (seq_idx, n_tokens, ids, doc_spans) ordered by seq_idx.
    */
  def packShardsWithSpans(encoded: DataFrame, budget: Int): DataFrame = {
    val frags = concatCutFragments(encoded, budget)
    frags
      .select(col("seq_idx"), col("seq_off"),
        expr("transform(frag, x -> cast(x as bigint))").as("fr"),
        struct(col("seq_off").as("off"), col("doc_id"),
          col("frag_len").as("len")).as("sp"))
      // single payload exchange — see [[shardTable]]'s note; the
      // orderBy below then sorts partition-local
      .repartitionByRange(col("seq_idx"))
      .groupBy(col("seq_idx"))
      .agg(
        shardIdsAgg.as("ids"),
        array_sort(collect_list(col("sp"))).as("doc_spans"))
      .select(col("seq_idx"), size(col("ids")).cast("long").as("n_tokens"),
        col("ids"), col("doc_spans"))
      .orderBy(col("seq_idx"))
  }

  /** Write the trainer-facing pair — `basePath/shards` (the full
    * per-sequence token arrays, range-sharded by `seq_idx` so a
    * trainer's sequential read is a file-order scan and any seq range
    * prunes to its shard files) and `basePath/boundaries` (the
    * provenance/attention-mask table) — from ONE fragment computation.
    * `sepId` opts into separator-terminated packing
    * ([[packConcatCutSep]]'s stream shape). Both tables observe the
    * same cut by construction: they project the same fragment frame,
    * whose offsets [[concatCutFragments]] materializes once for both
    * writes.
    */
  def writeTrainingShards(encoded: DataFrame, budget: Int, basePath: String,
                          sepId: Option[Int] = None): Unit = {
    val enc = sepId.map(withSeparator(encoded, _)).getOrElse(encoded)
    val frags = concatCutFragments(enc, budget, pinned = true)
    boundaryTable(frags).write.mode("overwrite")
      .parquet(s"$basePath/boundaries")
    // shardTable is already range-partitioned on seq_idx (its single
    // payload exchange); only the partition-local write order is added
    shardTable(frags)
      .sortWithinPartitions(col("seq_idx"))
      .write.mode("overwrite").parquet(s"$basePath/shards")
  }

  /** Read back a [[writeTrainingShards]] shard table in training
    * order. */
  def readTrainingShards(spark: org.apache.spark.sql.SparkSession,
                         basePath: String): DataFrame =
    spark.read.parquet(s"$basePath/shards").orderBy(col("seq_idx"))

  /** Every document's fragments under the `budget` cut, from its
    * global token offset `gs`: the exclusive running sum of token
    * counts in doc_id order, stamped by [[graft.plans.GlobalRank]].
    * doc_id alone is a total order here: it is the encoded corpus's
    * key (`bpeEncodeIds*` assemble one ids row per doc_id, the
    * persisted corpus merges on it, and documents.doc_id is the
    * primary key its producers read). `pinned` materializes the
    * offsets once, for a caller that reads the cut twice. */
  private def concatCutFragments(encoded: DataFrame, budget: Int,
                                 pinned: Boolean = false): DataFrame = {
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    val pre = encoded.select(col("doc_id"), col("ids"),
        org.apache.spark.sql.functions.size(col("ids")).cast("long").as("n"))
      .filter(col("n") >= 1)
    val offsets = graft.plans.GlobalRank(pre, Seq(col("doc_id")), sumOf = Some(col("n")))
      .withColumnRenamed("cum_before", "gs")
    (if (pinned) Dedup.materialize(offsets) else offsets)
      .withColumn("seq_idx", explode(sequence(
        expr(s"gs div $budget"), expr(s"(gs + n - 1) div $budget"))))
      .withColumn("fs", greatest(col("gs"), col("seq_idx") * budget))
      .withColumn("fe", least(col("gs") + col("n"), (col("seq_idx") + 1) * budget))
      .withColumn("doc_off", col("fs") - col("gs"))
      .withColumn("seq_off", col("fs") - col("seq_idx") * budget)
      .withColumn("frag_len", col("fe") - col("fs"))
      .withColumn("frag", expr("slice(ids, cast(doc_off as int) + 1, cast(frag_len as int))"))
  }
}
