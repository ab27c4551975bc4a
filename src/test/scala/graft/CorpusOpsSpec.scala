package graft

import org.apache.spark.sql.functions._
import graft.ops.CorpusOps

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("wordGrams emits all n-grams in order; short docs yield empty") {
    val df = Seq("a b c d", "a b", "a").toDF("text")
      .select(CorpusOps.wordGrams(split(col("text"), " "), 3).as("g"))
    val out = out3(df)
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty && out(2).isEmpty)
  }
  private def out3(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.getSeq[String](0).toSeq).toSeq

  test("contamination flags only docs sharing an n-gram with the eval set") {
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x alpha beta gamma delta y"),         // shares "alpha beta gamma delta"
      (2L, "delta gamma beta alpha"),             // same words, scrambled: clean
      (3L, "completely different tokens here now"), // clean
      (4L, "alpha beta gamma delta epsilon"),     // exact copy: shares all
    ).toDF("doc_id", "text")
    val out = CorpusOps.contamination(train, evalSet, "doc_id", "text", 4)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (4L, 2L)))
  }

  test("packSequences: contiguous offsets per group, exact chunk spans") {
    val df = Seq(
      ("s1", 1L, 100L), ("s1", 2L, 50L), ("s1", 3L, 200L), ("s1", 4L, 0L),
      ("s2", 1L, 300L),
    ).toDF("src", "id", "n_tok")
    val out = CorpusOps.packSequences(df, "src", "id", "n_tok", 128L)
      .orderBy("src", "id")
      .select("src", "id", "tok_start", "chunk_first", "n_chunks")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      ("s1", 1L, 0L, 0L, 1L),    // tokens [0,100) in chunk 0
      ("s1", 2L, 100L, 0L, 2L),  // [100,150) spans chunks 0-1
      ("s1", 3L, 150L, 1L, 2L),  // [150,350) spans chunks 1-2
      ("s1", 4L, 350L, 2L, 0L),  // empty doc spans nothing
      ("s2", 1L, 0L, 0L, 3L),    // independent group: [0,300) chunks 0-2
    ))
  }

  test("repetitionStats: dup ratio and top bigram with lexicographic ties") {
    val docs = Seq(
      (1L, "a a a a"),          // dup 0.75; "a a" x3, frac 1.5 (overlapping)
      (2L, "b c b c"),          // "b c" x2 beats "c b" x1
      (3L, "z y"),              // all bigrams unique: tie -> smallest "y"... "y z"? no: "z y"
      (4L, "solo"),             // <2 tokens: null bigram
    ).toDF("doc_id", "text")
    val out = CorpusOps.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Long]("top_bigram_cnt") == 3L &&
      r1.getAs[String]("top_bigram") == "a a" &&
      r1.getAs[Double]("dup_token_ratio") == 0.75 &&
      r1.getAs[Double]("top_bigram_frac") == 1.5)
    assert(out(1).getAs[String]("top_bigram") == "b c")
    assert(out(2).getAs[String]("top_bigram") == "z y" &&
      out(2).getAs[Long]("top_bigram_cnt") == 1L)
    assert(out(3).isNullAt(out(3).fieldIndex("top_bigram")))
  }

  test("mixtureSample: rate 1 keeps all, 0 keeps none, membership is monotone in rate") {
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val all = CorpusOps.mixtureSample(df, "id", "src", Map("a" -> 1.0), 0.0)
    assert(all.count() == 100 && all.filter(col("src") === "b").count() == 0)
    val half = CorpusOps.mixtureSample(df, "id", "src", Map("a" -> 0.5), 0.0)
      .select("id").as[Long].collect().toSet
    val most = CorpusOps.mixtureSample(df, "id", "src", Map("a" -> 0.8), 0.0)
      .select("id").as[Long].collect().toSet
    assert(half.subsetOf(most), "raising a rate must only add rows")
    assert(half.nonEmpty && half.size < most.size && most.size < 100)
    // deterministic across runs
    val again = CorpusOps.mixtureSample(df, "id", "src", Map("a" -> 0.5), 0.0)
      .select("id").as[Long].collect().toSet
    assert(again == half)
  }

  test("temperatureSample upweights small sources and tracks the target size") {
    // 1600 "big" rows vs 100 "small": with alpha=0.5 the small source's
    // keep-rate must be sqrt(1600/100) = 4x the big one's
    val df = ((0L until 1600L).map(i => (i, "big")) ++
      (10000L until 10100L).map(i => (i, "small"))).toDF("id", "src")
    val out = CorpusOps.temperatureSample(df, "id", "src", targetFraction = 0.3)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (rBig, rSmall) = (out("big") / 1600.0, out("small") / 100.0)
    assert(rSmall > rBig * 2.5 && rSmall < rBig * 6.0,
      s"alpha=0.5 should upweight small ~4x: big=$rBig small=$rSmall")
    val total = out.values.sum
    assert(math.abs(total - 0.3 * 1700) < 0.1 * 1700,
      s"expected ~${0.3 * 1700} rows, got $total")
    // deterministic
    val again = CorpusOps.temperatureSample(df, "id", "src", 0.3)
      .count()
    assert(again == total)
    // a tiny source clamps at rate 1 (kept whole), never above
    val clamped = CorpusOps.temperatureSample(
      (df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq :+
        (20000L, "rare")).toDF("id", "src"), "id", "src", 0.9)
    assert(clamped.filter(col("src") === "rare").count() == 1)
  }

  test("hashed-gram contamination flags the same docs as string grams") {
    import graft.ops.CorpusOps
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 50 === 0)
    def run(hashed: Boolean) =
      CorpusOps.contamination(train, evalSet, "doc_id", "text", 4, hashGrams = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(hashed = true) == run(hashed = false))
  }

  test("decontaminate returns exactly the train docs with no shared n-gram") {
    import graft.ops.CorpusOps
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x alpha beta gamma delta y"),            // contaminated
      (2L, "delta gamma beta alpha"),                // scrambled: clean
      (3L, "completely different tokens here now"),  // clean
    ).toDF("doc_id", "text")
    val clean = CorpusOps.decontaminate(train, evalSet, "doc_id", "text", 4)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L))
  }

  test("connectedComponents fails loudly instead of returning unconverged labels") {
    import graft.ops.Components
    val n = 64
    val nodes = (1L to n.toLong).toDF("id")
    val chain = (2L to n.toLong).map(i => (i - 1, i)).toDF("src", "dst")
    // localEdgeLimit = 0: non-convergence is a distributed-loop property —
    // the driver union-find shortcut has no iteration to run out of
    val e = intercept[IllegalStateException] {
      Components.connectedComponents(nodes, chain, maxIterations = 1,
        localEdgeLimit = 0L)
    }
    assert(e.getMessage.contains("did not converge"))
    // and with enough rounds the same chain is one component
    val ok = Components.connectedComponents(nodes, chain)
      .agg(countDistinct(col("cluster_rep"))).collect()(0).getLong(0)
    assert(ok == 1L)
  }

  test("corpus prep ops run unchanged on a stream (quality filter + mixture)") {
    val docs = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)](
      spark, 1)
    docs.addData((0L until 100L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", ("tok " * (if (i < 50) 40 else 3)).trim)))
    val toks = split(trim(col("text")), "\\s+")
    def prep(df: org.apache.spark.sql.DataFrame) =
      CorpusOps.mixtureSample(
        CorpusOps.qualityFilter(df.withColumn("n_tokens", size(toks)),
          Seq("too_short" -> (col("n_tokens") >= 30))).filter(col("keep")),
        "id", "src", Map("a" -> 1.0), defaultRate = 0.0)
    val q = prep(docs.toDF().toDF("id", "src", "text"))
      .writeStream.format("memory").queryName("corpus_prep")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming batch did not finish in time")
    val got = spark.sql("SELECT id FROM corpus_prep").as[Long].collect().toSet
    // batch semantics == stream semantics: stateless ops, identical output
    val batch = prep(spark.createDataFrame((0L until 100L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", ("tok " * (if (i < 50) 40 else 3)).trim)))
      .toDF("id", "src", "text"))
      .select("id").as[Long].collect().toSet
    assert(got == batch && got.nonEmpty && got.forall(i => i % 2 == 0 && i < 50))
  }

  test("connectedComponents: chains merge, isolated nodes self-label") {
    import graft.ops.Components
    val nodes = (1L to 8L).toDF("id")
    // component {1,2,3,4} as a chain, {6,7} as a pair, 5 and 8 isolated
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (7L, 6L)).toDF("src", "dst")
    val out = Components.connectedComponents(nodes, edges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 8L))
  }

  test("embedding clusters are consistent with the near-dup pairs that built them") {
    import graft.ops.{Components, VectorSim}
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.embeddings(spark, dir)
    val pairs = VectorSim.cosineNearDups(emb, "vec_id", "embedding",
      threshold = 0.35, probeBits = 1)
    val labels = Components.connectedComponents(
      emb.select(col("vec_id").as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    assert(labels.count() == emb.count(), "one label per vector")
    // every pair that generated an edge must land in the same cluster
    val split = pairs
      .join(labels.select(col("id").as("id_a"), col("cluster_rep").as("ca")), "id_a")
      .join(labels.select(col("id").as("id_b"), col("cluster_rep").as("cb")), "id_b")
      .filter(col("ca") =!= col("cb"))
    assert(split.count() == 0, "near-dup pair split across clusters")
  }

  test("stratifiedExact keeps n per stratum, deterministic, short strata whole") {
    import graft.ops.Sampling
    val df = ((0L until 40L).map(i => (i, "big")) ++ Seq((100L, "tiny"), (101L, "tiny")))
      .toDF("id", "src")
    val out = Sampling.stratifiedExact(df, "src", "id", 5)
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("big" -> 5L, "tiny" -> 2L))
    val again = Sampling.stratifiedExact(df, "src", "id", 5)
      .select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
  }

  test("weightedSampleExact: matches the in-memory ES reference; excludes non-positive weights") {
    import graft.ops.Sampling
    val rows = (0L until 60L).map(i => (i, (i % 7 + 1) * 10.0)) ++
      Seq((100L, 0.0), (101L, -3.0)) // zero selection mass, must be excluded
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedSampleExact(df, "id", "w", k = 10, seed = 42L)
      .select("id").as[Long].collect().toSet
    // independent mirror of the key chain (same hash, same rounding)
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ref = rows.filter(_._2 > 0).map { case (id, w) =>
      val hv = ((id % 100000007L + 42L) * 2654435761L) % 4294967296L
      (id, round6(StrictMath.log((hv + 0.5) / 4294967296.0)) / w)
    }.sortBy { case (id, k) => (-k, id) }.take(10).map(_._1).toSet
    assert(got == ref)
    assert(!got.contains(100L) && !got.contains(101L))
    // per-stratum variant keeps k per stratum
    val strat = (rows.map { case (id, w) => (id, w, s"s${id % 2}") })
      .toDF("id", "w", "src")
    val out = Sampling.weightedSampleExact(strat, "id", "w", k = 8,
      strataCol = Some("src"))
    assert(out.groupBy("src").count().collect()
      .forall(_.getLong(1) == 8L))
  }

  test("weightedSampleExact: selection frequency tracks weight across seeds") {
    import graft.ops.Sampling
    // one heavy item (w=500) among 50 light (w=1): with k=5 the heavy
    // item's ES inclusion probability is >0.99 — across 15 seeds it must
    // almost always appear; any light item must not always appear
    val df = ((0L until 50L).map(i => (i, 1.0)) :+ (99L, 500.0)).toDF("id", "w")
    val picks = (1L to 15L).map { seed =>
      Sampling.weightedSampleExact(df, "id", "w", k = 5, seed = seed)
        .select("id").as[Long].collect().toSet
    }
    assert(picks.count(_.contains(99L)) >= 13,
      s"heavy item picked only ${picks.count(_.contains(99L))}/15 times")
    val lightAlways = (0L until 50L).filter(i => picks.forall(_.contains(i)))
    assert(lightAlways.isEmpty, s"light items $lightAlways picked every time")
  }

  test("reserved output columns on the input are rejected, not clobbered") {
    import graft.ops.CorpusOps
    val withKeep = Seq((1L, "x", true)).toDF("id", "text", "keep")
    assertThrows[IllegalArgumentException] {
      CorpusOps.qualityFilter(withKeep, Seq("r" -> lit(true)))
    }
    val withChunk = Seq(("s", 1L, 10L, 0L)).toDF("src", "id", "n", "chunk_first")
    assertThrows[IllegalArgumentException] {
      CorpusOps.packSequences(withChunk, "src", "id", "n", 128L)
    }
  }

  test("incremental near-dups against a persisted index match the direct LSH pairs") {
    import graft.ops.TextDedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    // ground truth from signatures directly: cross pairs where SOME band
    // hash matches positionally (an independent formulation of the LSH
    // collision predicate)
    val so = TextDedup.minhashSignatures(old, "text", "doc_id")
      .select(col("id").as("id_old"), col("bhs").as("bo"))
    val sn = TextDedup.minhashSignatures(fresh, "text", "doc_id")
      .select(col("id").as("id_new"), col("bhs").as("bn"))
    val want = sn.crossJoin(so)
      .filter(exists(zip_with(col("bn"), col("bo"), (x, y) => x === y), b => b))
      .select("id_new", "id_old")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "corpus should produce cross-slice collisions")

    // in-memory index
    val direct = TextDedup.incrementalNearDups(fresh,
      TextDedup.minhashSignatures(old, "text", "doc_id"), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(direct.length == direct.distinct.length, "pairs must be exactly-once")
    assert(direct.toSet == want)

    // persisted index round trip
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString
    TextDedup.writeMinhashIndex(old, "text", "doc_id", s"$dir/idx")
    val viaDisk = TextDedup.incrementalNearDups(fresh,
      TextDedup.readMinhashIndex(spark, s"$dir/idx"), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDisk == want)
  }

  test("minhash index compaction: one batch=base partition, probes identically, rejects dups") {
    import graft.ops.TextDedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_compact").toString
    val idx = s"$dir/idx"
    TextDedup.appendMinhashIndexBatch(old.filter(col("doc_id") < 250),
      "text", "doc_id", idx, batchId = 0)
    TextDedup.appendMinhashIndexBatch(old.filter(col("doc_id") >= 250),
      "text", "doc_id", idx, batchId = 1)
    def probe() = TextDedup.incrementalNearDups(fresh,
      TextDedup.readMinhashIndex(spark, idx), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(before.nonEmpty, "trivially-empty probe proves nothing")
    TextDedup.compactMinhashIndex(spark, idx)
    val parts = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=base"), s"not compacted: $parts")
    assert(!new java.io.File(idx + "_compacting").exists(), "stage dir left behind")
    assert(probe() == before, "compaction changed probe results")
    assert(TextDedup.readMinhashIndex(spark, idx).count() == old.count())
    // appends continue after compaction under fresh keys
    TextDedup.appendMinhashIndexBatch(fresh, "text", "doc_id", idx, batchId = 2)
    assert(TextDedup.readMinhashIndex(spark, idx).count() == docs.count())
    // a duplicated id is rejected, never folded into a clean layout
    TextDedup.appendMinhashIndexBatchKeyed(old.limit(1), "text", "doc_id",
      idx, "dup")
    val ex = intercept[IllegalArgumentException] {
      TextDedup.compactMinhashIndex(spark, idx)
    }
    assert(ex.getMessage.contains("duplicate id"), ex.getMessage)

    // the reserved compaction key is rejected: an append under "base"
    // would overwrite the whole compacted corpus partition
    assertThrows[IllegalArgumentException] {
      TextDedup.appendMinhashIndexBatchKeyed(old.limit(1), "text", "doc_id",
        idx, "base")
    }

    // crash recovery: a crash BETWEEN the swap's delete and rename
    // leaves the only copy in the stage dir. Fabricate exactly that
    // state (live -> stage) on a fresh index and re-run compaction: it
    // must promote the stage, not wipe it, and the index must probe.
    val crash = s"$dir/crash"
    TextDedup.appendMinhashIndexBatch(old, "text", "doc_id", crash, batchId = 0)
    val crashProbe = TextDedup.incrementalNearDups(fresh,
      TextDedup.readMinhashIndex(spark, crash), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    TextDedup.compactMinhashIndex(spark, crash)
    assert(java.nio.file.Files.move(
      java.nio.file.Paths.get(crash),
      java.nio.file.Paths.get(crash + "_compacting")) != null)
    TextDedup.compactMinhashIndex(spark, crash) // the retry
    assert(new java.io.File(crash).exists(), "recovery must restore the live dir")
    val recovered = TextDedup.incrementalNearDups(fresh,
      TextDedup.readMinhashIndex(spark, crash), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recovered == crashProbe, "recovered index must probe identically")

    // compaction is also the flat->batched migration path: a
    // writeMinhashIndex-shaped index (which the streaming loop rejects)
    // compacts into the batch layout it requires, probing identically
    val flat = s"$dir/flat"
    TextDedup.writeMinhashIndex(old, "text", "doc_id", flat)
    assert(!TextDedup.readMinhashIndex(spark, flat).columns.contains("batch"))
    TextDedup.compactMinhashIndex(spark, flat)
    val migrated = TextDedup.readMinhashIndex(spark, flat)
    assert(migrated.columns.contains("batch"), "flat index not migrated")
    val viaMigrated = TextDedup.incrementalNearDups(fresh, migrated,
      "text", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaMigrated == before, "migrated index must probe identically")
  }

  test("incremental dedup: params-mismatched index is rejected; capped path agrees") {
    import graft.ops.TextDedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx2").toString
    TextDedup.writeMinhashIndex(old, "text", "doc_id", s"$dir/idx", bands = 32)
    val idx = TextDedup.readMinhashIndex(spark, s"$dir/idx")
    val e = intercept[IllegalArgumentException] {
      TextDedup.incrementalNearDups(fresh, idx, "text", "doc_id", bands = 16)
    }
    assert(e.getMessage.contains("bands=32"))
    // forced cap: every pair the capped path emits must be a real LSH
    // collision pair (subset), and pairs stay exactly-once
    val all = TextDedup.incrementalNearDups(fresh, idx, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = TextDedup.incrementalNearDups(fresh, idx, "text", "doc_id",
      maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.length == capped.distinct.length, "capped pairs must be exactly-once")
    assert(capped.toSet.subsetOf(all), "capping may drop pairs, never invent them")
  }

  test("incremental dedup rejects a duplicated index id and keeps a caller's cache") {
    import graft.ops.TextDedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    // a retried append: the whole old slice appears twice in the index —
    // a corrupted index must fail loudly and IDENTICALLY on both the
    // capped and uncapped paths (multiplicity must not depend on the
    // skew gate)
    val dupIndex = TextDedup.minhashSignatures(old, "text", "doc_id")
    val doubled = dupIndex.union(dupIndex)
    val eUncapped = intercept[IllegalArgumentException] {
      TextDedup.incrementalNearDups(fresh, doubled, "text", "doc_id").count()
    }
    assert(eUncapped.getMessage.contains("duplicate id"))
    val eCapped = intercept[IllegalArgumentException] {
      TextDedup.incrementalNearDups(fresh, doubled, "text", "doc_id",
        maxBucket = 2).count()
    }
    assert(eCapped.getMessage.contains("duplicate id"))
    // a caller-cached index must stay cached across a probe
    val cached = dupIndex.persist()
    cached.count()
    TextDedup.incrementalNearDups(fresh, cached, "text", "doc_id").count()
    assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "probe must not evict the caller's index cache")
    cached.unpersist()
  }

  test("exactDedupBest keeps the highest-scoring copy per fingerprint group") {
    import graft.ops.TextDedup
    val df = Seq(
      (1L, "alpha  beta", 11L), // whitespace variant of 2, shorter
      (2L, "alpha beta", 20L),  // best copy of the group
      (3L, "gamma", 5L),        // singleton
      (4L, "alpha beta", 20L),  // score tie with 2: lower id wins
    ).toDF("doc_id", "text", "score")
    val got = TextDedup.exactDedupBest(df, "text", "doc_id", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L))
  }

  test("scrubPii counts raw matches and redacts in rule order") {
    import graft.ops.CorpusOps
    val df = Seq(
      (1L, "mail me at a.b+c@example.org or visit https://ex.com/x?y=1 now"),
      (2L, "server 10.0.0.1 logged id 123456789012 twice: 987654321000"),
      (3L, "http://u@host.com/path"), // email-shaped span inside a URL
      (4L, "nothing to scrub here"),
    ).toDF("doc_id", "text")
    val out = CorpusOps.scrubPii(df, "text").orderBy("doc_id").collect()
    def counts(i: Int) = (out(i).getAs[Int]("n_url"), out(i).getAs[Int]("n_email"),
      out(i).getAs[Int]("n_ipv4"), out(i).getAs[Int]("n_idnum"))
    assert(counts(0) == ((1, 1, 0, 0)))
    assert(counts(1) == ((0, 0, 1, 2)))
    assert(counts(2) == ((1, 1, 0, 0)), "raw counts see the email inside the URL")
    assert(counts(3) == ((0, 0, 0, 0)))
    assert(out(0).getAs[String]("text_redacted") ==
      "mail me at <EMAIL> or visit <URL> now")
    assert(out(1).getAs[String]("text_redacted") ==
      "server <IP> logged id <NUM> twice: <NUM>")
    assert(out(2).getAs[String]("text_redacted") == "<URL>",
      "URL rule redacts first, leaving no email span behind")
    assert(out(3).getAs[String]("text_redacted") == "nothing to scrub here")
  }

  test("qualityFilter: keep iff all rules hold; reasons list the failures in order") {
    val df = Seq((1L, 10, 2), (2L, 50, 50), (3L, 200, 10)).toDF("id", "n", "d")
    val out = CorpusOps.qualityFilter(df, Seq(
      "too_short" -> (col("n") >= 30),
      "too_long" -> (col("n") <= 100),
      "low_div" -> (col("d") * 2 >= col("n")),
    )).orderBy("id").select("keep", "drop_reasons").collect()
    assert(out.map(r => (r.getBoolean(0), r.getString(1))).toSeq == Seq(
      (false, "too_short,low_div"),
      (true, ""),
      (false, "too_long,low_div"),
    ))
  }

  test("qualityFilter: a null predicate counts as failed and is named in the audit trail") {
    val df = Seq((1L, Some(50)), (2L, None)).toDF("id", "n")
    val out = CorpusOps.qualityFilter(df, Seq(
      "too_short" -> (col("n") >= 30),
      "nonneg" -> (col("n") >= 0),
    )).orderBy("id").select("keep", "drop_reasons").collect()
    assert(out.map(r => (r.getBoolean(0), r.getString(1))).toSeq == Seq(
      (true, ""),
      (false, "too_short,nonneg"), // null stat -> dropped AND blamed, not silently dropped
    ))
  }

  test("contaminationAuto picks the gram path by eval size and both paths agree") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
    // generous threshold: readable string grams
    val (flagStr, usedHashA) = CorpusOps.contaminationAuto(
      train, evalSet, "doc_id", "text", 4)
    assert(!usedHashA, "a tiny eval set must stay on the broadcast string path")
    // 1-byte threshold: the 8-byte hashed-gram scale path must kick in
    val (flagHash, usedHashB) = CorpusOps.contaminationAuto(
      train, evalSet, "doc_id", "text", 4, maxBroadcastBytes = 1L)
    assert(usedHashB, "an over-threshold eval set must switch to hashed grams")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(flagStr) == ids(flagHash),
      "both representations must flag identical documents")
    assert(ids(flagStr).nonEmpty, "the synthetic corpus must contain contamination")
  }

  test("repetitionStats rejects an idCol that collides with an internal temp name") {
    val df = Seq((1L, "a b a")).toDF("g", "text")
    val e = intercept[IllegalArgumentException] {
      CorpusOps.repetitionStats(df, "g", "text")
    }
    assert(e.getMessage.contains("collides"))
  }

  private lazy val evalDocs = Seq(
    (100L, "the quick brown fox jumps"),
    (101L, "pack my box with five dozen jugs"),
  ).toDF("doc_id", "text")
  private lazy val batchDocs = Seq(
    (1L, "the quick brown fox jumps high"),    // shares grams with 100
    (2L, "a completely different sentence here"),
    (3L, "pack my box with nothing at all"),   // shares "pack my box with"
    (4L, "short doc"),
  ).toDF("doc_id", "text")

  test("incremental contamination vs persisted index == direct contamination, both gram modes") {
    for (hashed <- Seq(true, false)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-eg").toString
      CorpusOps.writeEvalGramIndex(evalDocs, "text", n = 3, dir, hashGrams = hashed)
      val inc = CorpusOps.incrementalContamination(batchDocs, "doc_id", "text", dir)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val direct = CorpusOps.contamination(batchDocs, evalDocs, "doc_id", "text",
          n = 3, hashGrams = hashed)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(inc == direct, s"hashed=$hashed: $inc vs $direct")
      assert(inc.map(_._1) == Seq(1L, 3L))
      // decontaminate tail keeps exactly the unflagged batch docs
      val clean = CorpusOps.incrementalDecontaminate(batchDocs, "doc_id", "text", dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(clean == Set(2L, 4L))
    }
  }

  test("eval-gram index: appends are idempotent, compaction folds to base, params gate is loud") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eg2").toString
    CorpusOps.writeEvalGramIndex(evalDocs, "text", n = 3, dir)
    val newSuite = Seq((200L, "never gonna give you up")).toDF("doc_id", "text")
    CorpusOps.appendEvalGramBatch(newSuite, "text", n = 3, dir, "suite2")
    CorpusOps.appendEvalGramBatch(newSuite, "text", n = 3, dir, "suite2") // retry
    val bigEval = evalDocs.union(newSuite)
    val expect = CorpusOps.contamination(
        batchDocs.union(Seq((9L, "never gonna give you hope")).toDF("doc_id", "text")),
        bigEval, "doc_id", "text", n = 3, hashGrams = true)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def probe() = CorpusOps.incrementalContamination(
        batchDocs.union(Seq((9L, "never gonna give you hope")).toDF("doc_id", "text")),
        "doc_id", "text", dir)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probe() == expect)
    CorpusOps.compactEvalGramIndex(spark, dir)
    // one batch=base partition, identical probe results
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(parts == Set("batch=base"), parts.toString)
    assert(probe() == expect)
    // param-mismatched append fails loudly
    val e = intercept[IllegalArgumentException] {
      CorpusOps.appendEvalGramBatch(newSuite, "text", n = 5, dir, "suite3")
    }
    assert(e.getMessage.contains("built with"))
    // reserved base key rejected
    intercept[IllegalArgumentException] {
      CorpusOps.appendEvalGramBatch(newSuite, "text", n = 3, dir, "base")
    }
  }

  test("budgetSample: greedy fill respects budgets, keeps the crossing doc, deterministic") {
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b", 10L))
      .toDF("k", "src", "w")
    val budgets = Seq(("a", 35L), ("b", 5L)).toDF("src", "budget")
    val out = CorpusOps.budgetSample(df, "k", "src", "w", budgets)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(4), r.getLong(5)))
    val bySrc = out.groupBy(_._1)
    // budget 35 over weight-10 docs: cum_before < 35 keeps pos 1..4
    // (cum_before 0,10,20,30) — the 4th doc CROSSES the line and is kept
    assert(bySrc("a").length == 4, bySrc("a").toSeq.toString)
    // budget 5 < first weight: the first doc is still kept (cum_before=0)
    assert(bySrc("b").length == 1)
    // fill order is the hash order: pos dense from 1, cum_before = 10*(pos-1)
    out.foreach { case (_, _, pos, cb) => assert(cb == 10L * (pos - 1)) }
    // deterministic under re-evaluation
    val again = CorpusOps.budgetSample(df, "k", "src", "w", budgets)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(4), r.getLong(5)))
    assert(out.toSet == again.toSet)
    // malformed budget frame is rejected
    intercept[IllegalArgumentException] {
      CorpusOps.budgetSample(df, "k", "src", "w",
        Seq(("a", 1L, 2L)).toDF("src", "budget", "extra"))
    }
  }

  test("importance weights upweight target-like docs, stats are exact") {
    // target vocabulary {alpha beta} vs raw vocabulary {zeta eta}; probe
    // docs: one pure-target-vocab, one pure-raw-vocab, one mixed
    val df = Seq(
      (1L, "alpha beta alpha", true), (2L, "alpha beta", true),
      (3L, "zeta eta zeta", false), (4L, "eta zeta", false),
      (10L, "alpha beta", false), (11L, "zeta eta", false),
      (12L, "alpha zeta", false),
    ).toDF("doc_id", "text", "is_en")
    val w = CorpusOps.importanceWeights(df, "text", "doc_id",
      isTarget = col("is_en"), numBuckets = 1 << 20)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // n_grams = tokens + bigrams: "alpha beta alpha" -> 3 + 2
    assert(w(1L)._2 == 5L)
    assert(w(10L)._2 == 3L) // 2 tokens + 1 bigram
    // the target-vocab probe outscores the mixed probe outscores raw-vocab
    val score = (id: Long) => w(id)._5
    assert(score(10L) > score(12L) && score(12L) > score(11L),
      s"scores: target=${score(10L)} mixed=${score(12L)} raw=${score(11L)}")
    // exact stats for the pure-target probe with huge bucket space (no
    // collisions): doc10's grams are alpha/beta/"alpha beta"; target
    // occurrences alpha 3, beta 2, "alpha beta" 2 -> sum_t = 4+3+3 = 10;
    // raw occurrences alpha 2 (docs 10, 12), beta 1, "alpha beta" 1 ->
    // sum_r = 3+2+2 = 7
    assert(w(10L)._3 == 10L && w(10L)._4 == 7L, w(10L).toString)
    assert(score(10L) == 1000000L * 10 / 7)
    // is_target flags pass through
    assert(w(1L)._1 && !w(10L)._1)
  }

  test("indexed importance scoring: segments sum to whole-corpus counts; gates loud") {
    val docs = Seq(
      (1L, "alpha beta", true), (2L, "alpha gamma", false),
      (3L, "beta beta", true), (4L, "delta", false),
      (10L, "alpha beta", false), (11L, "unseen words", false),
    ).toDF("doc_id", "text", "t")
    val old = docs.filter(col("doc_id") < 10)
    val fresh = docs.filter(col("doc_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_imp").toString
    // two segments + a retried overwrite of the second
    CorpusOps.appendImportanceSegment(old.filter(col("doc_id") <= 2), "text",
      col("t"), dir, "s0", numBuckets = 1 << 20)
    CorpusOps.appendImportanceSegment(old.filter(col("doc_id") > 2), "text",
      col("t"), dir, "s1", numBuckets = 1 << 20)
    CorpusOps.appendImportanceSegment(old.filter(col("doc_id") > 2), "text",
      col("t"), dir, "s1", numBuckets = 1 << 20) // retry
    val idx = CorpusOps.readImportanceIndex(spark, dir)
    // segment-summed counts == single-pass counts over the whole corpus
    val whole = java.nio.file.Files.createTempDirectory("graft_impw").toString
    CorpusOps.appendImportanceSegment(old, "text", col("t"), whole, "all",
      numBuckets = 1 << 20)
    val a = idx.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = CorpusOps.readImportanceIndex(spark, whole)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b, "segments must sum to the single-pass index")

    val w = CorpusOps.importanceWeightsIndexed(fresh, "text", "doc_id", idx,
      numBuckets = 1 << 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 10 grams: alpha(t1+r1), beta(t3), "alpha beta"(t1) ->
    // sum_t = (2+1)+(3+1)+(1+1) = 8; raw: alpha r1 -> (1+1)+(0+1)+(0+1) = 4
    assert(w(10L) == ((3L, 8L, 4L)), w(10L).toString)
    // fully unseen doc: every bucket counts 0 -> sums = n_grams each
    assert(w(11L) == ((3L, 3L, 3L)))
    // probe-side bucket-count mismatch rejected loudly: an index built
    // at 2^20 scored with the default 4096 would silently never probe
    // high buckets — it must fail instead
    val e2 = intercept[IllegalArgumentException] {
      CorpusOps.importanceWeightsIndexed(fresh, "text", "doc_id", idx)
    }
    assert(e2.getMessage.contains("numBuckets"), e2.getMessage)
    // mixed numBuckets rejected loudly
    CorpusOps.appendImportanceSegment(old, "text", col("t"), dir, "bad",
      numBuckets = 128)
    val e = intercept[IllegalArgumentException] {
      CorpusOps.readImportanceIndex(spark, dir).collect()
    }
    assert(e.getMessage.contains("mixed numBuckets"))
  }

  test("hashed TF: exact counts, densify round-trips, feeds cosine kNN") {
    val docs = Seq(
      (1L, "alpha beta alpha"), (2L, "alpha beta alpha"), // identical
      (3L, "gamma delta"), (4L, "totally different words here"),
    ).toDF("doc_id", "text")
    val dim = 32
    val sparse = CorpusOps.hashedTf(docs, "text", "doc_id", dim)
    // per-doc tf mass equals token count
    val mass = sparse.groupBy("doc_id").agg(sum("tf").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mass == Map(1L -> 3L, 2L -> 3L, 3L -> 2L, 4L -> 4L))
    // buckets within range
    assert(sparse.filter(col("bucket") < 0 || col("bucket") >= dim).count() == 0)
    val dense = CorpusOps.densifyHashedTf(sparse, "doc_id", dim)
    val vecs = dense.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(vecs.values.forall(_.length == dim))
    // densify preserves mass and identical docs get identical vectors
    assert(vecs(1L).map(_.toDouble).sum == 3.0 && vecs(1L) == vecs(2L))
    assert(vecs(1L) != vecs(3L))
    // composition: the dense vectors feed cosine kNN; the identical twin
    // is every doc's own top-1 at cosine 1.0
    val knn = graft.ops.VectorSim.cosineTopK(
        dense.filter(col("doc_id") === 1L).withColumnRenamed("vec", "embedding"),
        dense.withColumnRenamed("vec", "embedding"), "doc_id", "embedding", k = 1)
      .collect()
    assert(knn.length == 1 && knn(0).getLong(1) == 2L &&
      math.abs(knn(0).getDouble(2) - 1.0) < 1e-9,
      s"twin must be the top neighbor: ${knn.toSeq}")
  }

  test("chunking covers every char, overlaps exactly, reconstructs the doc") {
    val docs = Seq(
      (1L, "a" * 9),              // shorter than chunkLen: one whole chunk
      (2L, (0 until 25).map(i => ('a' + i % 26).toChar).mkString), // 25 chars
      (3L, "x" * 10),             // exactly chunkLen
      (4L, "y" * 11),             // one char past: second chunk
    ).toDF("doc_id", "text")
    val out = CorpusOps.chunkDocs(docs, "text", "doc_id", chunkLen = 10, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(out(1L).map(_._4).toSeq == Seq("a" * 9))
    assert(out(3L).map(_._4).toSeq == Seq("x" * 10))
    assert(out(4L).length == 2 && out(4L)(1)._3 == 7L && out(4L)(1)._5 == 5L)
    // doc 2: starts 1, 7, 13, 19 (stride 6); reconstruct by dropping the
    // 4-char overlap from every chunk after the first
    val c2 = out(2L)
    assert(c2.map(_._3).toSeq == Seq(1L, 7L, 13L, 19L))
    val rebuilt = c2.head._4 + c2.tail.map(_._4.drop(4)).mkString
    assert(rebuilt == (0 until 25).map(i => ('a' + i % 26).toChar).mkString)
    // rejects degenerate params
    intercept[IllegalArgumentException] {
      CorpusOps.chunkDocs(docs, "text", "doc_id", chunkLen = 5, overlap = 5)
    }
  }

  test("importance selection takes exactly ceil(fraction * n_raw), ordered") {
    val df = Seq.tabulate(20) { i =>
      // even ids share target vocab, odd ids don't
      (i.toLong, if (i % 2 == 0) "common target words" else s"rare$i stuff$i", i < 4)
    }.toDF("doc_id", "text", "t")
    val w = CorpusOps.importanceWeights(df, "text", "doc_id", col("t"))
    val sel = CorpusOps.importanceSelect(w, "doc_id", fraction = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(sel.size == math.ceil(16 * 0.3).toInt) // 16 raw docs -> 5
    // selected docs are exactly the top-5 raw by (score desc, id)
    val ranked = w.filter(!col("is_target"))
      .orderBy(col("score").desc, col("doc_id"))
      .select("doc_id").as[Long].collect().take(5).toSet
    assert(sel == ranked)
    // no target doc selected
    assert(sel.forall(_ >= 4))
  }

  test("novel gram rate: copies score 0, fresh text scores 1e6, mixes exact") {
    val ref = Seq((10L, "r1 r2 r3 r4 r5")).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "r1 r2 r3 r4 r5"),      // verbatim copy: 0 novel of 2 4-grams
      (2L, "n1 n2 n3 n4 n5"),      // fully novel: 2 of 2
      (3L, "r1 r2 r3 r4 x"),       // 1 of 2 grams novel -> 500000 ppm
      (4L, "a b c"),               // shorter than n=4: no row
    ).toDF("doc_id", "text")
    val got = CorpusOps.novelGramRate(fresh, ref, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((2L, 0L, 0L)))
    assert(got(2L) == ((2L, 2L, 1000000L)))
    assert(got(3L) == ((2L, 1L, 500000L)))
  }

  test("collocations: exact counts, PMI surrogate ranks the glued pair first") {
    val docs = Seq(
      // "new york" always adjacent (a true collocation); "a"/"b" frequent
      // but independently paired
      (1L, "new york a b a"),
      (2L, "b a new york b"),
      (3L, "a b new york a b"),
      (4L, "b a b a"),
    ).toDF("doc_id", "text")
    val got = CorpusOps.collocations(docs, "text", minCount = 2L, topK = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // corpus: 20 tokens, 16 bigrams; new=3, york=3, "new york"=3
    val ny = got.find(t => t._1 == "new" && t._2 == "york").get
    assert(ny == (("new", "york", 3L, 3L, 3L, 1000000L * 3 * 16 / 9)), ny.toString)
    // the glued pair outranks every frequent-but-independent pair
    assert(got.head._1 == "new" && got.head._2 == "york", got.head.toString)
    // counts are exact for an independent pair too: "a b" appears 4x
    val ab = got.find(t => t._1 == "a" && t._2 == "b").get
    assert(ab._3 == 4L && ab._4 == 7L && ab._5 == 7L, ab.toString)
    // ordering is total: score desc, then pair asc
    val scores = got.map(_._6)
    assert(scores.sameElements(scores.sortBy(-_)))
  }

  test("chunkDedup: first occurrence survives, untouched docs reassemble exactly") {
    val a = "x" * 100 + "y" * 100            // doc 1: two unique chunks
    val b = "x" * 100 + "z" * 100            // doc 2: first chunk dups doc 1's
    val c = "x" * 100 + "y" * 100            // doc 3: exact dup of doc 1
    val d = "q" * 37                          // doc 4: one short unique chunk
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    val got = CorpusOps.chunkDedup(df, "text", "doc_id", chunkLen = 100)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) == ((1L, 2L, 2L, a)))       // untouched: exact round-trip
    assert(got(1) == ((2L, 2L, 1L, "z" * 100))) // shared chunk removed
    assert(got(2) == ((3L, 2L, 0L, "")))      // exact dup fully scrubbed
    assert(got(3) == ((4L, 1L, 1L, d)))       // short doc intact
  }

  test("registrableDomain: PSL fold — multi-label suffixes, wildcards, exceptions, quarantines") {
    val fixtures = Seq(
      // normalization: case + port + subdomain folds (the old contract)
      "WWW.Example.COM:8080" -> "example.com",
      "sub12.shop4.com" -> "shop4.com",
      "cdn.ads3.net" -> "ads3.net",
      "www.ref.org" -> "ref.org",
      "wwwx.ref.org" -> "ref.org",
      "EXAMPLE.com" -> "example.com",
      "a.b.c.d.co" -> "d.co",
      "example.com:443" -> "example.com",
      // multi-label public suffixes — the r14-verdict class the
      // two-label fold broke (a.co.uk used to fold to co.uk)
      "a.co.uk" -> "a.co.uk",
      "Sub.Site9.co.uk:8443" -> "site9.co.uk",
      "x.y.com.au" -> "y.com.au",
      "news.co.jp" -> "news.co.jp",
      "loja.com.br" -> "loja.com.br",
      "co.uk" -> "",                    // a public suffix itself: quarantine
      // private-section suffixes: two hosting users are two domains
      "user.github.io" -> "user.github.io",
      "cdn.user.github.io" -> "user.github.io",
      "github.io" -> "",
      "bucket.s3.amazonaws.com" -> "bucket.s3.amazonaws.com",
      // wildcard rule *.ck and its exception !www.ck
      "a.b.ck" -> "a.b.ck",             // b.ck is a public suffix under *.ck
      "b.ck" -> "",
      "www.ck" -> "www.ck",             // the exception makes www.ck registrable
      "sub.www.ck" -> "www.ck",
      // wildcard *.kawasaki.jp with exception !city.kawasaki.jp
      "a.kawasaki.jp" -> "",
      "x.a.kawasaki.jp" -> "x.a.kawasaki.jp",
      "city.kawasaki.jp" -> "city.kawasaki.jp",
      "sub.city.kawasaki.jp" -> "city.kawasaki.jp",
      // full-list registries the curated r15 subset DEGRADED to the
      // two-label fold (the r15-verdict task-1 fixture: these folding
      // to co.ke/com.ng/com.pk would nuke a country's corpus under a
      // blocklist entry and collapse its per-domain cap)
      "shop.co.ke" -> "shop.co.ke",
      "cdn.shop.co.ke" -> "shop.co.ke",
      "news.com.ng" -> "news.com.ng",
      "x.y.com.pk" -> "y.com.pk",
      // full-list private wildcard *.compute.amazonaws.com: each VM
      // hostname is its own registrable domain
      "x.ec2-1-2-3-4.compute.amazonaws.com" ->
        "x.ec2-1-2-3-4.compute.amazonaws.com",
      // punycode rule (unicode 公司.cn converted at generation time):
      // IDN registries fold at the right boundary in ASCII form
      "foo.xn--55qx5d.cn" -> "foo.xn--55qx5d.cn",
      "bar.foo.xn--55qx5d.cn" -> "foo.xn--55qx5d.cn",
      // unknown TLD: the default `*` rule degrades to the two-label fold
      "a.unknowntld" -> "a.unknowntld",
      "x.y.unknowntld" -> "y.unknowntld",
      // quarantines: bare host, trailing dot, IPv4, junk
      "localhost" -> "",
      "example.com." -> "",
      "10.0.0.1" -> "",
      "a..com" -> "",
      "a.com:x" -> "")
    val df = fixtures.map(_._1).toDF("host")
      .select(col("host"), CorpusOps.registrableDomain(col("host")).as("dom"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    fixtures.foreach { case (h, want) =>
      assert(got(h) == want, s"host $h: got '${got(h)}', want '$want'")
    }
    // interpreted eval agrees with codegen (the Expression's two paths)
    fixtures.foreach { case (h, want) =>
      assert(graft.ops.PublicSuffixList.registrable(h) == want,
        s"JVM fold of $h")
    }
  }

  test("gopher rules: each flag trips on its planted violation, clean doc keeps") {
    val sixty = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      // clean: 60 alpha words, sane lengths, stopwords present, no noise
      (1L, s"the be $sixty"),
      (2L, "the be only ten words live here now done ok"), // < 50 words
      (3L, s"the be $sixty # # # # # # # # # #"),          // symbol flood
      (4L, s"- the be bullets\n- $sixty\n- every line"),   // > 90% bullets
      (5L, ("a " * 62).trim + " the be"),                  // mean len < 3
      (6L, s"the be trail ...\nalso ...\nmore ...\n$sixty ..."), // ellipsis
      (7L, s"the be $sixty " + (1 to 20).map(_.toString).mkString(" ")), // digits
      (8L, sixty),                                          // no stopwords
    ).toDF("doc_id", "text")
    val got = CorpusOps.gopherQuality(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, name: String) = got(id).getAs[Long](name)
    assert(f(1L, "keep") == 1L, got(1L).toString)
    assert(f(2L, "f_word_count") == 0L && f(2L, "keep") == 0L)
    assert(f(3L, "f_symbol_ratio") == 0L)
    assert(f(4L, "f_bullet_lines") == 0L)
    assert(f(5L, "f_mean_word_len") == 0L)
    assert(f(6L, "f_ellipsis_lines") == 0L)
    assert(f(7L, "f_alpha_words") == 0L)
    assert(f(8L, "f_stop_words") == 0L)
  }

  test("gopher repetition: duplicate-line and n-gram counters match hand computation") {
    val docs = Seq(
      // two identical 10-token lines: every duplicate rule trips
      (1L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10\nx1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
      // all-distinct 10-token doc: top-2-gram sits EXACTLY on the 0.20
      // boundary (100·4 == 20·20, a pass — ≤), while top-3/4 rules
      // legitimately reject so short a doc (one 3-gram is 30% of its
      // chars) — the short-doc behavior Gopher's thresholds encode
      (2L, "a1 b2 c3 d4 e5 f6 g7 h8 i9 j0"),
      // long all-distinct doc: every rule passes
      (3L, (1 to 60).map(i => f"t$i%02d").mkString(" ")),
      // duplicated PARAGRAPH (blank-line separated) with distinct lines:
      // the paragraph rules trip while the line rules stay clean only if
      // lines differ — here the paragraph repeats verbatim so both trip,
      // but the PARA counters must see 1 dup of 2 paragraphs
      (4L, "p1 p2 p3 p4 p5\np6 p7 p8 p9 p0\n\np1 p2 p3 p4 p5\np6 p7 p8 p9 p0"),
    ).toDF("doc_id", "text")
    val got = CorpusOps.gopherRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def g(id: Long, c: String) = got(id).getAs[Long](c)
    assert(g(1L, "n_lines") == 2L && g(1L, "n_dup_line_occ") == 1L)
    assert(g(1L, "chars_lines") == 60L && g(1L, "chars_dup_lines") == 30L)
    assert(g(1L, "chars_words") == 42L)
    // max-count 2-gram is 'x1 x2' (lex-smallest of the cnt-2 set):
    // 2 occurrences x 4 token chars
    assert(g(1L, "chars_top2gram") == 8L, got(1L).toString)
    // the 10-token period repeats, so 5-gram coverage is the whole doc
    assert(g(1L, "chars_dup5gram") == 42L)
    assert(g(1L, "f_dup_line_frac") == 0L)      // 1/2 > 0.30
    assert(g(1L, "f_dup_line_char_frac") == 0L) // 30/60 > 0.20
    assert(g(1L, "f_dup5gram_char_frac") == 0L) // 42/42 > 0.15
    assert(g(1L, "f_top2gram_char_frac") == 1L) // 8/42 <= 0.20
    assert(g(1L, "keep") == 0L)
    assert(g(2L, "n_dup_line_occ") == 0L && g(2L, "chars_dup5gram") == 0L)
    assert(g(2L, "chars_top2gram") == 4L)
    assert(g(2L, "f_top2gram_char_frac") == 1L,
      "the exact-boundary case must pass (<=)")
    assert(g(2L, "f_top3gram_char_frac") == 0L,
      "a 10-word doc fails the 3-gram mass rule by construction")
    assert(g(2L, "keep") == 0L)
    assert(g(3L, "chars_words") == 180L)
    assert(g(3L, "keep") == 1L, got(3L).toString)
    // CRLF page with a duplicated paragraph: the separator must match
    // '\r\n\r\n' blank lines too, or the CRLF share of a crawl passes
    // the paragraph rules unfiltered (review-r15 class, second pass)
    val crlfGot = CorpusOps.gopherRepetition(Seq((9L,
      "pa pb pc pd pe\r\n\r\npa pb pc pd pe\r\n")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head
    assert(crlfGot.getAs[Long]("n_paras") == 2L &&
      crlfGot.getAs[Long]("n_dup_para_occ") == 1L,
      s"CRLF paragraphs must split and dedupe: $crlfGot")
    // doc 4: 2 paragraphs, 1 duplicate occurrence, half the para chars
    assert(g(4L, "n_paras") == 2L && g(4L, "n_dup_para_occ") == 1L)
    assert(g(4L, "chars_dup_paras") * 2 == g(4L, "chars_paras"))
    assert(g(4L, "f_dup_para_frac") == 0L)      // 1/2 > 0.30
    assert(g(4L, "f_dup_para_char_frac") == 0L) // 1/2 > 0.20
    assert(g(4L, "keep") == 0L)
  }

  test("c4 line filter: word-count + terminal-punct line rule, page-level drops") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta.\nshort one.\nno punct on this line here\nmore than five words again here!\nand a third keeper line here?"),
      (2L, "curly brace code follows right here.\nif (x) { return }\nanother good line with words.\nthird keeper sentence is right here."),
      (3L, "Lorem Ipsum dolor sit amet text.\nsecond fine line with five words.\nthird fine line with six words."),
      (4L, "only two keeper lines in here.\nthis is the second keeper line.\nshort."),
    ).toDF("doc_id", "text")
    val got = CorpusOps.c4LineFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc 1: 5 lines, 3 kept ('short one.' < 5 words; bare line no punct)
    assert(got(1L)._1 == 5L && got(1L)._2 == 3L && got(1L)._3 == 0L,
      got(1L).toString)
    assert(got(1L)._4 ==
      "alpha beta gamma delta epsilon zeta.\n" +
      "more than five words again here!\nand a third keeper line here?")
    assert(got(2L)._3 == 1L, "a '{' page must be dropped")
    assert(got(3L)._3 == 1L, "a lorem-ipsum page must be dropped")
    assert(got(4L)._2 == 2L && got(4L)._3 == 1L,
      "fewer than 3 kept lines must drop the page")
    // CRLF page: '\r' must not blind the terminal-punctuation rule —
    // lines are whitespace-trimmed before judging (the review-r15 class)
    val crlf = Seq((9L,
      "first keeper line has five words.\r\nsecond keeper line has five words!\r\nthird keeper line has five words?\r")
    ).toDF("doc_id", "text")
    val g9 = CorpusOps.c4LineFilter(crlf, "doc_id", "text").collect().head
    assert(g9.getLong(2) == 3L && g9.getLong(3) == 0L,
      s"CRLF page must keep its lines: $g9")
    val gq = CorpusOps.gopherQuality(Seq((9L,
      "the be end ...\r\nthe be trail ...\r\nthe be more ...\r")
    ).toDF("doc_id", "text"), "doc_id", "text").collect().head
    assert(gq.getAs[Long]("n_ellipsis_lines") == 3L,
      s"CRLF must not blind the ellipsis rule: $gq")
  }

  test("c4 page clean: javascript line rule, bad-word page drop, sentence-not-line counting") {
    val docs = Seq(
      // 3 keeper lines but the middle one contains 'Javascript' (token,
      // case-insensitive, punctuation-adjacent) -> excluded; the 2
      // surviving '.'-lines are 2 sentences -> page dropped by the
      // SENTENCE rule
      (1L, "first keeper line has five words.\nplease enable JavaScript, then reload now.\nsecond keeper line has six words."),
      // 3 quote-terminated keeper lines: kept-lines rule would PASS the
      // page (the old approximation), the sentence rule drops it
      (2L, "alpha beta gamma delta epsilon one\"\nalpha beta gamma delta epsilon two\"\nalpha beta gamma delta epsilon three\""),
      // bad word as a token ('xxx' punctuation-wrapped): page dropped
      // even though all lines keep
      (3L, "first keeper line has five words.\nmore (xxx) rated content right here.\nthird keeper line has six words."),
      // 'scunthorpe' CONTAINS a listed word as a substring but is not a
      // token hit -> clean; 3 '.'-sentences -> kept
      (4L, "scunthorpe council met again on tuesday.\nsecond keeper line has five words.\nthird keeper line has six words."),
      // one long kept line holding three '.'-sentences: kept-lines rule
      // would DROP (1 < 3), the sentence rule keeps -> divergent in the
      // other direction
      (5L, "alpha beta gamma delta one. epsilon zeta eta theta two. iota kappa lambda mu three."),
    ).toDF("doc_id", "text")
    val got = CorpusOps.c4PageClean(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = got(id).getAs[Long](c)
    assert(f(1L, "n_kept_lines") == 2L, "javascript line must be excluded")
    assert(f(1L, "n_sentences") == 2L && f(1L, "doc_dropped") == 1L)
    assert(!got(1L).getAs[String]("cleaned_text").toLowerCase
      .contains("javascript"))
    assert(f(2L, "n_kept_lines") == 3L && f(2L, "n_sentences") == 1L &&
      f(2L, "doc_dropped") == 1L,
      "quote-terminated pages keep lines but one punctless segment " +
        "is a single sentence — under the 3-sentence bar")
    assert(f(3L, "f_badword") == 1L && f(3L, "doc_dropped") == 1L,
      "a punctuation-wrapped bad token must hit")
    assert(f(4L, "f_badword") == 0L && f(4L, "doc_dropped") == 0L,
      "substring containment must NOT hit (token equality only)")
    assert(f(5L, "n_kept_lines") == 1L && f(5L, "n_sentences") == 3L &&
      f(5L, "doc_dropped") == 0L,
      "sentences are counted across one kept line")
  }

  test("domain ledger: fold-version stamped; mixed-version reads fail loudly") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_ledgerver").toString
    val host = concat(lit("sub"), (col("doc_id") % 7).cast("string"),
      lit(".site"), (col("doc_id") % 13).cast("string"), lit(".org"))
    val toks = size(graft.core.Cols.wsTokens(col("text")))
    CorpusOps.appendDomainLedgerBatch(
      docs.filter(col("doc_id") % 2 === 0), host, toks, dir, "b0")
    // same-version segments sum fine
    CorpusOps.appendDomainLedgerBatch(
      docs.filter(col("doc_id") % 2 === 1), host, toks, dir, "b1")
    val served = CorpusOps.domainLedger(spark, dir)
    assert(served.count() > 0)
    assert(spark.read.parquet(dir).select("fold_version").distinct()
      .collect().map(_.getString(0)).toSeq ==
      Seq(graft.ops.PublicSuffixList.version))
    // a segment folded under ANOTHER list version (simulated) wedges
    // the read: the fold defines the grouping key, so cross-version
    // sums would silently split one site's counts across two keys
    spark.read.parquet(s"$dir/seg=b1")
      .withColumn("fold_version", lit("psl-other-version"))
      .write.mode("overwrite").parquet(s"$dir/seg=b2")
    val e = intercept[IllegalArgumentException] {
      CorpusOps.domainLedger(spark, dir).collect()
    }
    assert(e.getMessage.contains("mixes fold versions"))
    // ...and so does a PRE-VERSION segment (no fold_version column)
    spark.read.parquet(s"$dir/seg=b1").drop("fold_version")
      .write.mode("overwrite").parquet(s"$dir/seg=b2")
    val e2 = intercept[IllegalArgumentException] {
      CorpusOps.domainLedger(spark, dir).collect()
    }
    assert(e2.getMessage.contains("mixes fold versions"))
  }

  test("q236 domain split: leakage-safe (no domain straddles splits), both sides populated") {
    val out = graft.analytics.TextQueries.defs
      .find(_.name == "q236_domain_split").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    // the leakage invariant the operator EXISTS for: every doc of a
    // domain lands on exactly one side
    val byDom = out.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getString(2)).distinct).toMap
    assert(byDom.values.forall(_.size == 1),
      "a domain appears in both train and val: leakage")
    val splits = out.map(_.getString(2)).distinct.toSet
    assert(splits == Set("train", "val"),
      s"expected both splits populated at this SF, got $splits")
    // ~10% of DOMAINS in val (hash buckets are over domains, not docs)
    val valDoms = byDom.count(_._2.head == "val")
    assert(valDoms > 0 && valDoms < byDom.size / 3,
      s"val domain share implausible: $valDoms of ${byDom.size}")
  }

  test("q237 mixture reweight: binding domain rate 1, rates in (0,1], exact replay") {
    val rows = graft.analytics.TextQueries.defs
      .find(_.name == "q237_mixture_reweight").get
      .fn(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.forall { case (_, _, _, _, rate, _) => rate > 0 && rate <= 1.0 },
      "a sampling rate left (0, 1]: the pass must never upsample")
    assert(rows.count(_._5 == 1.0) >= 1, "no binding domain at rate exactly 1")
    // driver-side replay of the integer cross-product rule
    val (wm, nm) = rows.map { case (d, _, n, w, _, _) => (w.toDouble / n, d, w, n) }
      .maxBy { case (r, d, _, _) => (r, d) } match { case (_, _, w, n) => (w, n) }
    rows.foreach { case (d, _, n, w, rate, exp) =>
      assert(rate == (w * nm).toDouble / (wm * n), s"rate mismatch for $d")
      assert(exp == n.toDouble * ((w * nm).toDouble / (wm * n)),
        s"expected_tokens mismatch for $d")
    }
    // expected tokens never exceed actual
    rows.foreach { case (d, _, n, _, _, exp) =>
      assert(exp <= n.toDouble, s"$d upsampled: $exp > $n")
    }
  }

  test("canonicalizeUrl: rule fixtures, idempotence, variant collapse") {
    val fixtures = Seq(
      // case folds + default https port + fragment drop
      "HTTPS://Example.COM:443/A#frag" -> "https://example.com/A",
      // http default port; path case PRESERVED (paths are case-sensitive)
      "http://h.org:80/Path" -> "http://h.org/Path",
      // non-default port kept
      "https://h.org:8443/x" -> "https://h.org:8443/x",
      // trailing-slash fold, except root
      "https://h.org/a/b/" -> "https://h.org/a/b",
      "https://h.org/" -> "https://h.org/",
      "https://h.org" -> "https://h.org/",
      // query params sorted; empty-query '?' treated as none
      "https://h.org/p?b=2&a=1" -> "https://h.org/p?a=1&b=2",
      "https://h.org/p?z=1#s" -> "https://h.org/p?z=1",
      // a '?' INSIDE the fragment is fragment content, not a query —
      // the fragment strips FIRST (review r13)
      "https://h.org/p#a?x=1" -> "https://h.org/p")
    val df = fixtures.map(_._1).toDF("u")
      .select(col("u"), CorpusOps.canonicalizeUrl(col("u")).as("c"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    fixtures.foreach { case (u, want) =>
      assert(got(u) == want, s"url $u: got '${got(u)}', want '$want'")
    }
    // idempotence: canonicalizing a canonical URL is a fixed point
    val twice = fixtures.map(_._2).toDF("u")
      .select(col("u"), CorpusOps.canonicalizeUrl(col("u")).as("c"))
      .collect()
    twice.foreach(r => assert(r.getString(1) == r.getString(0),
      s"not idempotent: ${r.getString(0)} -> ${r.getString(1)}"))
    // variant collapse: the same resource under different surface forms
    val variants = Seq("HTTPS://H.ORG:443/p/?b=2&a=1#x", "https://h.org/p?a=1&b=2",
      "https://h.org/p/?a=1&b=2#other")
    val canons = variants.toDF("u")
      .select(CorpusOps.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    assert(canons.distinct.length == 1, s"variants did not collapse: ${canons.mkString(", ")}")
  }

  test("q239 canonical select: per-cluster max-nd argmax, sizes partition the corpus") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.analytics.DedupQueries.defs
      .find(_.name == "q239_canonical_select").get.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent replay: clusters + vocabulary argmax driver-side
    val clusters = graft.ops.TextDedup.minhashDedupClusters(
        graft.core.Tables.documents(spark, dir), "text", "doc_id",
        numHashes = 128, bands = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val nd = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(array_distinct(graft.core.Cols.wsTokens(col("text")))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = clusters.groupBy(_._2).map { case (rep, members) =>
      val ids = members.map(_._1)
      val canon = ids.map(id => (nd(id), id)).maxBy { case (q, id) => (q, -id) }
      (rep, ids.size.toLong, canon._2, canon._1)
    }.toSet
    assert(out.toSet == expect)
    assert(out.map(_._2).sum == 500L, "cluster sizes must partition the corpus")
  }

  test("q240 budget select: maximal prefix under the half-token budget, exact cumsum") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.analytics.TextQueries.defs
      .find(_.name == "q240_budget_select").get.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // driver replay of the ordering + prefix sum + cut
    val stats = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), size(graft.core.Cols.wsTokens(col("text"))).cast("long"),
        size(array_distinct(graft.core.Cols.wsTokens(col("text")))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ordered = stats.sortBy { case (id, _, ndv) => (-ndv, id) }
    val total = stats.map(_._2).sum
    val budget = total / 2
    var cum = 0L
    val expect = ordered.iterator.map { case (id, nt, ndv) =>
      cum += nt; (id, ndv, nt, cum)
    }.takeWhile(_._4 <= budget).toSeq
    assert(out.toSeq == expect, "selection must be the exact maximal prefix")
    assert(out.nonEmpty && out.last._4 <= budget)
    // maximality: the next doc in the ordering would burst the budget
    if (expect.size < ordered.size) {
      val next = ordered(expect.size)
      assert(out.last._4 + next._2 > budget, "prefix not maximal")
    }
  }

  test("q245 ccnet buckets: per-language terciles match the SQL NTILE rule") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.analytics.CorpusQueries.defs
      .find(_.name == "q245_ccnet_buckets").get.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getString(4)))
    assert(out.nonEmpty)
    // replay NTILE(3) per language from the emitted scores (scores are
    // independently gated by q92's oracle; this pins the grouped-rank →
    // bucket assembly against the SQL-standard NTILE rule)
    out.groupBy(_._2).foreach { case (lang, docs) =>
      val ordered = docs.sortBy { case (id, _, sc, _, _) => (-sc, id) }
      val n = ordered.length; val q = n / 3; val rem = n % 3
      ordered.zipWithIndex.foreach { case ((id, _, _, bucket, name), idx) =>
        val rn = idx + 1
        val expect = if (rn <= rem * (q + 1)) (rn - 1) / (q + 1) + 1
        else rem + (rn - 1 - rem * (q + 1)) / q + 1
        assert(bucket == expect, s"lang=$lang doc=$id")
        assert(name == Seq("head", "middle", "tail")(expect.toInt - 1))
      }
    }
    // every language's bucket sizes differ by at most one
    out.groupBy(_._2).foreach { case (lang, docs) =>
      val sizes = docs.groupBy(_._4).view.mapValues(_.size).values.toSeq
      assert(sizes.max - sizes.min <= 1, s"lang=$lang sizes=$sizes")
    }
  }

  test("incremental overlap matrix == batch recompute, incl. a brand-new source") {
    import spark.implicits._
    // planted: src_new exists ONLY in the batch; src_a gains grams that
    // overlap src_b's existing ones; duplicate grams inside the batch
    // must not double-count (the index is distinct pairs)
    val old = Seq(
      ("src_a", "w x y z p q"),
      ("src_b", "w x y z r s"),
      ("src_c", "m n o p q r"),
    ).toDF("source", "text")
    val batch = Seq(
      ("src_a", "m n o p q r"), // src_a picks up src_c's grams
      ("src_new", "w x y z j k"), // new source overlapping a and b
      ("src_new", "w x y z j k"), // exact dup doc: no extra index rows
    ).toDF("source", "text")
    val index = graft.ops.CorpusOps.sourceGrams(old, "source", "text", 4)
    val prior = graft.ops.CorpusOps.overlapMatrix(index)
    val inc = graft.ops.CorpusOps.incrementalOverlapMatrix(
      index, prior, batch, "source", "text", 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val full = graft.ops.CorpusOps.overlapMatrix(
      graft.ops.CorpusOps.sourceGrams(old.unionByName(batch),
        "source", "text", 4))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(inc == full)
    // the new source got complete rows against every prior source
    assert(inc.count { case (a, b, _, _, _, _) =>
      a == "src_new" || b == "src_new" } == 3)
  }

  test("q246 source overlap: matrix matches brute-force gram-set Jaccard") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.analytics.CorpusQueries.defs
      .find(_.name == "q246_source_overlap").get.fn(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    val bySource = graft.core.Tables.documents(spark, dir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues { docs =>
        docs.flatMap { case (_, text) =>
          val t = text.trim.split("\\s+").toSeq
          if (t.length < 4) Seq.empty
          else t.sliding(4).map(_.mkString(" ")).toSeq
        }.toSet
      }.toMap
    val srcs = bySource.keys.toSeq.sorted
    val expectPairs = for (a <- srcs; b <- srcs if a < b) yield (a, b)
    assert(out.keySet == expectPairs.toSet, "complete pair matrix required")
    expectPairs.foreach { case (a, b) =>
      val (shared, ga, gb, jac) = out((a, b))
      val inter = bySource(a).intersect(bySource(b)).size.toLong
      assert(shared == inter, s"pair ($a,$b)")
      assert(ga == bySource(a).size.toLong && gb == bySource(b).size.toLong)
      assert(jac == inter.toDouble / (ga + gb - inter))
    }
  }

  test("a _temporary-only partition makes no fold-version claim and no stamp claim") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.ops.TextDedup
    // a crashed write: the data files of a finished write, moved under
    // `part/_temporary/0` as a killed task would have left them
    def crashedCopy(df: org.apache.spark.sql.DataFrame, part: String): Unit = {
      val done = Files.createTempDirectory("graft_crashed").resolve("t").toString
      df.write.parquet(done)
      val staged = Paths.get(part, "_temporary", "0")
      Files.createDirectories(staged)
      Files.list(Paths.get(done)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.copy(f, staged.resolve(f.getFileName)))
    }
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")

    val ledger = Files.createTempDirectory("graft_ledgertmp").toString
    val host = concat(lit("site"), (col("doc_id") % 13).cast("string"), lit(".org"))
    CorpusOps.appendDomainLedgerBatch(docs, host, size(graft.core.Cols.wsTokens(col("text"))),
      ledger, "b0")
    val committed = CorpusOps.domainLedger(spark, ledger).collect().toSet
    crashedCopy(spark.read.parquet(s"$ledger/seg=b0")
      .withColumn("fold_version", lit("psl-other-version")), s"$ledger/seg=b1")
    assert(CorpusOps.domainLedger(spark, ledger).collect().toSet == committed,
      "a crashed segment's other fold version must not count as a claim")

    val idx = Files.createTempDirectory("graft_gramtmp").toString
    TextDedup.writeGramCountIndex(docs, "text", "doc_id", 8, idx)
    val other = Files.createTempDirectory("graft_gramother").toString
    TextDedup.writeGramCountIndex(docs, "text", "doc_id", 5, other)
    crashedCopy(spark.read.parquet(s"$other/batch=base"), s"$idx/batch=b1")
    assert(TextDedup.gramCountIndexParams(spark, idx) == ((8, false)),
      "a crashed partition's other stamp must not count as a claim")
  }
}
