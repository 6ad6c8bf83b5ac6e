package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based fuzzing of the native kernels against their
  * composed-HOF reference forms. Each property instance packs MANY
  * random groups into ONE DataFrame so a check run costs a handful of
  * Spark jobs, not hundreds; generators keep magnitudes below 2^40 so
  * i64 sums/dots cannot overflow under ANSI (overflow semantics have
  * their own directed specs in VectorSumAggSpec/QuantLmSkewSpec).
  * Seeded by ScalaCheck's default deterministic-per-run derivation;
  * any falsified case prints its shrunken input for replay.
  */
class PropertyFuzzSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def registered() = { graft.functions.VectorExprs.register(spark); spark }

  private val lane = Gen.chooseNum(-(1L << 40), 1L << 40)

  private def check(p: Prop, n: Int = 8): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("graft_vsum equals the posexplode lane-sum rebuild on random corpora") {
    registered()
    val corpus = for {
      dim <- Gen.chooseNum(1, 8)
      nGroups <- Gen.chooseNum(1, 12)
      rows <- Gen.listOfN(nGroups * 6, for {
        g <- Gen.chooseNum(0, nGroups - 1)
        nullRow <- Gen.frequency(9 -> false, 1 -> true)
        v <- Gen.listOfN(dim, lane)
      } yield (g.toLong, if (nullRow) None else Some(v)))
    } yield rows
    check(Prop.forAll(corpus) { rows =>
      val df = rows.toDF("g", "qa")
      val vsum = df.groupBy($"g").agg(expr("graft_vsum(qa)").as("s"))
      val exploded = df.select($"g", posexplode($"qa").as(Seq("pos", "x")))
        .groupBy($"g", $"pos").agg(sum($"x").as("sx"))
        .groupBy($"g")
        .agg(expr("transform(array_sort(collect_list(struct(pos, sx))), p -> p.sx)").as("s"))
      // explode drops all-null groups entirely; vsum emits them as
      // NULL — normalize to the common non-null core plus group sets
      val a = vsum.filter($"s".isNotNull)
      vsum.count() >= exploded.count() &&
        a.exceptAll(exploded).isEmpty && exploded.exceptAll(a).isEmpty
    })
  }

  test("graft_dotl equals the zip_with/aggregate HOF fold on random vector pairs") {
    registered()
    val pairs = for {
      dim <- Gen.chooseNum(1, 8)
      n <- Gen.chooseNum(1, 20)
      // exclusive 2^30 bound: chooseNum over-weights its endpoints, and
      // 16 aligned lanes at exactly +/-2^30 would sum to 2^63 — one
      // past Long.MaxValue, aborting the property as ANSI overflow
      rows <- Gen.listOfN(n, for {
        a <- Gen.listOfN(dim, Gen.chooseNum(-(1L << 30) + 1, (1L << 30) - 1))
        b <- Gen.listOfN(dim, Gen.chooseNum(-(1L << 30) + 1, (1L << 30) - 1))
      } yield (a, b))
    } yield rows
    check(Prop.forAll(pairs) { rows =>
      val df = rows.toDF("a", "b")
      df.select(
          expr("graft_dotl(a, b)").as("native"),
          expr("aggregate(zip_with(a, b, (p, q) -> p * q), CAST(0 AS BIGINT), (acc, z) -> acc + z)").as("hof"))
        .filter($"native" =!= $"hof").isEmpty
    })
  }

  test("graft_dot equals the double HOF fold bit-for-bit on random unit-scale vectors") {
    registered()
    val pairs = for {
      dim <- Gen.chooseNum(1, 8)
      n <- Gen.chooseNum(1, 20)
      rows <- Gen.listOfN(n, for {
        a <- Gen.listOfN(dim, Gen.chooseNum(-1000, 1000))
        b <- Gen.listOfN(dim, Gen.chooseNum(-1000, 1000))
      } yield (a.map(_ / 1000.0), b.map(_ / 1000.0)))
    } yield rows
    check(Prop.forAll(pairs) { rows =>
      val df = rows.toDF("a", "b")
      // bit-for-bit: the native kernel documents sequential-fold order,
      // so even float results must be EXACTLY the HOF fold's
      df.select(
          expr("graft_dot(a, b)").as("native"),
          expr("aggregate(zip_with(a, b, (p, q) -> p * q), CAST(0 AS DOUBLE), (acc, z) -> acc + z)").as("hof"))
        .filter($"native" =!= $"hof").isEmpty
    })
  }

  test("dsir retraction cancels any random superseded batch exactly") {
    // random corpora + a random superseded batch, random (buckets,
    // ngram): persist(kept ∪ superseded) then retract(superseded) must
    // score kept EXACTLY like the inline weights over kept — the
    // integer-invertibility claim behind the no-compaction contract,
    // fuzzed instead of staged. Degenerate draws (no target docs,
    // sub-ngram texts) are part of the property: both paths must agree
    // on them too.
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "theta", "iota")
    def docsGen = for {
      n <- Gen.chooseNum(2, 14)
      rows <- Gen.listOfN(n, for {
        k <- Gen.chooseNum(1, 10)
        ws <- Gen.listOfN(k, word)
        src <- Gen.oneOf("src0", "src1")
      } yield (src, ws.mkString(" ")))
    } yield rows
    val staged = for {
      kept <- docsGen
      sup <- docsGen
      ngram <- Gen.chooseNum(1, 2)
      buckets <- Gen.oneOf(16, 64)
    } yield (kept, sup, ngram, buckets)
    check(Prop.forAll(staged) { case (kept, sup, ngram, buckets) =>
      val st = java.nio.file.Files.createTempDirectory("graft_dsir_fuzz").toString
      val keptDf = kept.zipWithIndex
        .map { case ((s, t), i) => (i.toLong, s, t) }.toDF("doc_id", "source", "text")
      val supDf = sup.zipWithIndex
        .map { case ((s, t), i) => (1000000L + i, s, t) }.toDF("doc_id", "source", "text")
      graft.operators.TextAnalysis.persistDsirState(
        keptDf.unionByName(supDf), "src0", st, buckets, ngram)
      graft.operators.TextAnalysis.retractDsirState(supDf, "src0", st, buckets, ngram)
      val a = graft.operators.TextAnalysis.dsirWeightsFromState(
        keptDf, spark, st, "src0", buckets, ngram)
      val b = graft.operators.TextAnalysis.dsirWeights(keptDf, "src0", buckets, ngram)
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    }, n = 5)
  }

  test("tombstone healing matches a fresh build for any random edit/removal mix") {
    // random corpora with random CHANGED (replaced text), REMOVED, and
    // NO-OP-"changed" (identical text — the diff would not flag these,
    // but a sloppy caller might; the content-addressed cancel must
    // make them harmless) subsets: after one heal, the merge-on-read
    // view must equal a fresh full build over the current corpus.
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "theta", "iota", "kappa")
    val corpus = for {
      n <- Gen.chooseNum(6, 20)
      texts <- Gen.listOfN(n, for {
        k <- Gen.chooseNum(3, 12)
        ws <- Gen.listOfN(k, word)
      } yield ws.mkString(" "))
      roles <- Gen.listOfN(n, Gen.frequency(
        5 -> "keep", 2 -> "changed", 1 -> "removed", 1 -> "noop"))
    } yield texts.zip(roles).zipWithIndex
      .map { case ((t, r), i) => (i.toLong, t, r) }
    check(Prop.forAll(corpus) { rows =>
      val st = java.nio.file.Files.createTempDirectory("graft_tomb_fuzz").toString
      val all = rows.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
      def role(r: String) = rows.filter(_._3 == r).map { case (id, t, _) => (id, t) }
        .toDF("doc_id", "text")
      val changedNew = role("changed")
        .withColumn("text", concat(lit("rewritten entirely "), $"doc_id".cast("string")))
      val day0 = all // yesterday: every doc at its original text
      graft.operators.Dedup.persistMinhashSignatures(day0, 3, 16, 4, st)
      graft.operators.Dedup.tombstoneSignatures(
        changedNew.unionByName(role("noop")), 3, 16, 4, st,
        role("removed").select("doc_id"))
      val current = role("keep").unionByName(role("noop")).unionByName(changedNew)
      val fresh = java.nio.file.Files.createTempDirectory("graft_tomb_fuzz_ref").toString
      graft.operators.Dedup.persistMinhashSignatures(current, 3, 16, 4, fresh)
      def rowsOf(p: String) = graft.operators.Dedup.loadSignatures(spark, p)
        .collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
      rowsOf(st) == rowsOf(fresh)
    }, n = 5)
  }

  test("budget selection's stitched prefix sums equal the window reference on random corpora") {
    import org.apache.spark.sql.expressions.Window
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val corpus = for {
      nSrc <- Gen.chooseNum(2, 4) // s1..sN selectable, t0 the target
      nDocs <- Gen.chooseNum(6, 40)
      docs <- Gen.listOfN(nDocs, for {
        srcIdx <- Gen.chooseNum(0, nSrc) // 0 = target
        nWords <- Gen.chooseNum(1, 8)
        ws <- Gen.listOfN(nWords, word)
      } yield (if (srcIdx == 0) "t0" else s"s$srcIdx", ws.mkString(" ")))
      budgets <- Gen.listOfN(nSrc, Gen.chooseNum(1L, 30L))
    } yield (docs, budgets.zipWithIndex.map { case (b, i) => s"s${i + 1}" -> b }.toMap)
    check(Prop.forAll(corpus) { case (rows, budgets) =>
      val docs = rows.zipWithIndex
        .map { case ((src, text), i) => (i.toLong, src, text) }
        .toDF("doc_id", "source", "text")
      // the corpus must have at least one target doc and one
      // selectable doc for weights to exist at all
      val hasTarget = rows.exists(_._1 == "t0")
      val hasOther = rows.exists(_._1 != "t0")
      !hasTarget || !hasOther || {
        val out = graft.operators.TextAnalysis
          .dsirMixtureBudget(docs.repartition(5), "t0", budgets)
          .collect().map(_.toSeq).toSeq
        val w = Window.partitionBy($"source")
          .orderBy($"avg_log_ratio".desc, $"doc_id")
        val ref = graft.operators.TextAnalysis.dsirWeights(docs, "t0")
          .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
          .filter($"source".isin(budgets.keys.toSeq: _*))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .withColumn("cum_tokens", sum($"n_tokens").over(
            Window.partitionBy($"source").orderBy($"rnk")))
          .withColumn("budget", element_at(typedLit(budgets), $"source"))
          .filter($"cum_tokens" - $"n_tokens" < $"budget")
          .select($"source", $"rnk", $"doc_id", $"n_tokens",
            $"cum_tokens", $"avg_log_ratio")
          .orderBy($"source", $"rnk")
          .collect().map(_.toSeq).toSeq
        out == ref
      }
    }, n = 6)
  }

  // GlobalRank against the Window reference: ties on `o` broken by the
  // unique `id`, null summands, groups spanning partitions, empty
  // partitions (few distinct keys over 4 range partitions) and empty
  // input, with and without a leading group key
  private def globalRankMatchesWindow(): Unit = {
    import org.apache.spark.sql.expressions.Window
    val corpus = for {
      n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.chooseNum(1, 60))
      nGroups <- Gen.chooseNum(1, 4)
      nKeys <- Gen.chooseNum(1, 12)
      rows <- Gen.listOfN(n, for {
        g <- Gen.chooseNum(0, nGroups - 1)
        o <- Gen.chooseNum(0, nKeys - 1)
        v <- Gen.frequency(9 -> Gen.chooseNum(0L, 1000L).map(Option(_)), 1 -> Gen.const(None))
      } yield (s"g$g", o.toLong, v))
    } yield rows.zipWithIndex.map { case ((g, o, v), id) => (g, o, id.toLong, v) }
    check(Prop.forAll(corpus) { rows =>
      val df = rows.toDF("g", "o", "id", "v").repartition(3)
      def ranked(groups: Seq[org.apache.spark.sql.Column]) =
        graft.plans.GlobalRank(df, Seq($"o".desc, $"id"), groups, Some($"v"))
          .select($"id", $"rnk", $"cum_before").as[(Long, Long, Long)].collect().toSet
      def reference(w: org.apache.spark.sql.expressions.WindowSpec) =
        df.select($"id", row_number().over(w).cast("long"),
            coalesce(sum($"v").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .as[(Long, Long, Long)].collect().toSet
      val byOrder = Window.orderBy($"o".desc, $"id")
      ranked(Nil) == reference(byOrder) &&
        ranked(Seq($"g")) == reference(byOrder.partitionBy($"g"))
    }, n = 8)
  }

  test("GlobalRank equals the window reference on random corpora (coalesced)") {
    globalRankMatchesWindow()
  }

  test("GlobalRank equals the window reference on random corpora (stitched partitions)") {
    SparkTestSession.withoutCoalescing(globalRankMatchesWindow())
  }

  test("packShards: concatenation equals the id stream, all but the last full, on random corpora") {
    val corpora = for {
      n <- Gen.chooseNum(1, 16)
      budget <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, for {
        len <- Gen.chooseNum(0, 25)
        ids <- Gen.listOfN(len, Gen.chooseNum(0, 999))
      } yield ids)
    } yield (budget, rows.zipWithIndex.map { case (ids, i) => (i.toLong, ids) })
    check(Prop.forAll(corpora) { case (budget, rows) =>
      val enc = rows.toDF("doc_id", "ids")
      // empty docs contribute no tokens on either side
      val stream = rows.sortBy(_._1).flatMap(_._2.map(_.toLong))
      val shards = graft.operators.TextPrep.packShards(enc.repartition(5), budget)
        .as[(Long, Long, Seq[Long])].collect().toSeq.sortBy(_._1)
      shards.flatMap(_._3) == stream &&
        shards.dropRight(1).forall(_._2 == budget.toLong) &&
        shards.forall(s => s._2 == s._3.length.toLong && s._2 <= budget.toLong)
    }, n = 6)
  }

  test("batched BPE at batch=1 equals classic BPE on random corpora") {
    val word = Gen.chooseNum(1, 5).flatMap(l =>
      Gen.listOfN(l, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val corpora = for {
      n <- Gen.chooseNum(1, 6)
      docs <- Gen.listOfN(n, Gen.chooseNum(1, 8).flatMap(w =>
        Gen.listOfN(w, word).map(_.mkString(" "))))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    check(Prop.forAll(corpora) { rows =>
      val docs = rows.toDF("doc_id", "text")
      val classic = graft.operators.TextAnalysis.bpeTrainMerges(docs, merges = 4)
        .collect().map(_.toSeq).toSeq
      val batched = graft.operators.TextAnalysis
        .bpeTrainMergesBatched(docs, rounds = 4, batch = 1)
        .collect().map(_.toSeq).toSeq
      batched == classic
    }, n = 5)
  }

  test("hash32 is deterministic and always lands in [0, 2^32)") {
    val strs = Gen.listOfN(200, Gen.asciiPrintableStr)
    check(Prop.forAll(strs) { ss =>
      val df = ss.toDF("s")
        .select(graft.functions.PortableHash.hash32($"s").as("h1"),
          graft.functions.PortableHash.hash32($"s").as("h2"))
      df.filter($"h1" =!= $"h2" || $"h1" < 0L || $"h1" >= (1L << 32)).isEmpty
    }, n = 4)
  }
}
