package graft

import java.nio.file.Files

import graft.operators.Similarity
import graft.sources.StateTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted PQ index: build-once/query-many must equal the inline
  * path exactly, appends must be frozen-codebook encodes (codebooks
  * untouched, any split order = one-shot encode of the union), and
  * the code table must actually be the compressed artifact (m
  * smallint codes per vector).
  */
class PqIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def member(root: String, m: String): String = StateTable(spark, root).path(m)

  private val sf = "/root/testdata/sf0.001"
  private def embs = Tables.load(spark, sf, "embeddings")

  test("persisted PQ index query equals the inline PQ query bit-for-bit") {
    val dir = Files.createTempDirectory("graft_pq_idx").toString + "/idx"
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = dir)

    val inline = Similarity.pqTopK(embs, m = 8, ks = 16, nQueries = 5, k = 10, rerank = 40)
    val indexed = Similarity.pqTopKIndexed(embs, spark, dir, nQueries = 5, k = 10, rerank = 40)
    assert(indexed.collect().toSeq === inline.collect().toSeq)

    // query-many: different query params against the SAME build
    val inline2 = Similarity.pqTopK(embs, m = 8, ks = 16, nQueries = 3, k = 4, rerank = 16)
    val indexed2 = Similarity.pqTopKIndexed(embs, spark, dir, nQueries = 3, k = 4, rerank = 16)
    assert(indexed2.collect().toSeq === inline2.collect().toSeq)
  }

  test("append equals one-shot encoding of the union against the same frozen codebooks") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pq_inc").toString + "/idx"
    val oneShot = Files.createTempDirectory("graft_pq_ref").toString + "/idx"
    val ids = embs.select($"vec_id").as[Long].collect().sorted
    val cut = ids(ids.length * 3 / 5)
    // day 0: build on the first 60% (contains the ks codebook seeds)
    Similarity.buildPqIndex(embs.filter($"vec_id" <= cut), m = 8, ks = 16, path = dir)
    val cbBefore = spark.read.parquet(member(dir, StateTable.Codebooks)).collect().toSet
    // day 1: append the rest — only the new batch is encoded (m is
    // read from the index itself, so it cannot disagree with it)
    Similarity.appendToPqIndex(embs.filter($"vec_id" > cut), spark, path = dir)
    assert(spark.read.parquet(member(dir, StateTable.Codebooks)).collect().toSet === cbBefore,
      "append must not touch the codebooks")
    // reference: the SAME frozen codebooks, the whole corpus encoded in one shot
    spark.read.parquet(member(dir, StateTable.Codebooks)).write.parquet(member(oneShot, StateTable.Codebooks))
    Similarity.appendToPqIndex(embs, spark, path = oneShot)
    val incremental = spark.read.parquet(member(dir, StateTable.Codes)).orderBy("vec_id").collect().toSeq
    val reference = spark.read.parquet(member(oneShot, StateTable.Codes)).orderBy("vec_id").collect().toSeq
    assert(incremental === reference)
    // every corpus vector encoded exactly once
    assert(spark.read.parquet(member(dir, StateTable.Codes)).count() === ids.length.toLong)
    assert(spark.read.parquet(member(dir, StateTable.Codes))
      .groupBy($"vec_id").count().filter($"count" > 1).count() === 0)
  }

  test("code table stores m smallint codes per vector (the compression artifact)") {
    import org.apache.spark.sql.types.{ArrayType, ShortType}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pq_codes").toString + "/idx"
    Similarity.buildPqIndex(embs, m = 8, ks = 16, path = dir)
    val codes = spark.read.parquet(member(dir, StateTable.Codes))
    val el = codes.schema("codes").dataType.asInstanceOf[ArrayType].elementType
    assert(el === ShortType, s"codes must be smallint-typed, got $el")
    assert(codes.select(size($"codes")).as[Int].collect().forall(_ == 8))
  }
}
