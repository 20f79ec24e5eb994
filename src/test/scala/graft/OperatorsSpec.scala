package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Fnv1a64, VectorFunctions}
import graft.operators.{AsOfJoin, Dedup, Sampling, TextAnalysis}

class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fnv64 matches the published FNV-1a test vectors") {
    assert(Fnv1a64.hashBytes(Array.empty) == 0xcbf29ce484222325L)
    assert(Fnv1a64.hashBytes("a".getBytes("UTF-8")) == 0xaf63dc4c8601ec8cL)
    // and through the engine (codegen path)
    val got = Seq("a").toDF("s")
      .select(Fnv1a64.fnv64($"s").as("h")).head().getLong(0)
    assert(got == 0xaf63dc4c8601ec8cL)
  }

  test("cosine: self-similarity 1, symmetry, |cos|<=1") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 5.0f, 0.0f)),
      (3L, Array(1.0f, 1.0f, 0.0f), Array(-1.0f, -1.0f, 0.0f))
    ).toDF("id", "a", "b")
    val rows = df.select($"id",
      VectorFunctions.cosine($"a", $"b").as("ab"),
      VectorFunctions.cosine($"b", $"a").as("ba")).collect()
    val m = rows.map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(m(1L)._1 - 1.0) < 1e-12)
    assert(math.abs(m(2L)._1) < 1e-12)
    assert(math.abs(m(3L)._1 + 1.0) < 1e-12)
    m.values.foreach { case (ab, ba) =>
      assert(math.abs(ab - ba) < 1e-12); assert(math.abs(ab) <= 1.0 + 1e-12)
    }
  }

  test("native cosine is bit-identical to the higher-order-function fold") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val a = e.select($"vec_id", $"embedding".as("ea"))
    val b = e.select($"vec_id".as("vb"), $"embedding".as("eb"))
    val diffs = a.join(b, $"vb" === $"vec_id" + 1)
      .select(
        graft.functions.CosineSimilarity.cosine($"ea", $"eb").as("native"),
        VectorFunctions.cosine($"ea", $"eb").as("hof"))
      .filter($"native" =!= $"hof") // exact double comparison
      .count()
    assert(diffs == 0)
  }

  test("as-of join picks latest right row <= left time, max payload on ties") {
    val trades = Seq(
      (1L, 100L, "t1"), (1L, 200L, "t2"),
      (2L, 150L, "t3")
    ).toDF("k", "t", "name")
    val quotes = Seq(
      (1L, 50L, 10L), (1L, 100L, 11L), (1L, 100L, 12L), (1L, 300L, 13L),
      (3L, 10L, 99L)
    ).toDF("k", "qt", "qid")
    val out = AsOfJoin.asOf(trades, "k", "t", quotes, "k", "qt", Seq("qid"))
      .select($"name", $"qid").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("t1").contains(12L)) // tie at qt=100 → max qid
    assert(out("t2").contains(12L)) // still the latest <= 200
    assert(out("t3").isEmpty)       // key 2 has no quotes → null
  }

  test("salted as-of == plain as-of on a pathologically hot key, any bucket width") {
    // one key holds 90% of both sides (the straggler shape the salt
    // exists for), with cross-bucket gaps: left rows whose bucket has
    // no right rows must still see older history via the carry-in
    // negative times included: bucket assignment truncates toward zero
    // (monotone, not floor) — results must not care
    val left = ((1 to 450).map(i => (7L, i * 10L - 800L, i.toLong)) ++
      (1 to 50).map(i => (i.toLong % 5 + 100, i * 97L - 2000L, 1000L + i)))
      .toDF("k", "t", "lid")
    val right = ((1 to 90).map(i => (7L, i * 49L - 800L, i.toLong)) ++
      (1 to 10).map(i => (i.toLong % 5 + 100, i * 31L - 2000L, 500L + i)))
      .toDF("k", "rt", "rid")
    val plain = AsOfJoin.asOf(left, "k", "t", right, "k", "rt", Seq("rid"))
      .select($"lid", $"rt", $"rid")
    // widths spanning sub-row-gap to whole-timeline: result must be
    // bit-identical regardless of how the salt slices the time line
    for (width <- Seq(1L, 7L, 100L, 1000000L)) {
      val salted = AsOfJoin.asOfSalted(left, "k", "t", right, "k", "rt",
        Seq("rid"), bucketWidth = width)
        .select($"lid", $"rt", $"rid")
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        s"salted as-of diverged at bucketWidth=$width")
    }
  }

  test("exact dedup keeps the row with the smallest tie-break") {
    val df = Seq((1L, "x", "a"), (2L, "x", "b"), (3L, "y", "c"))
      .toDF("id", "key", "payload")
    val out = Dedup.exact(df, Seq("key"), "id").orderBy("key")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(("x", 1L, "a"), ("y", 3L, "c")))
  }

  test("dedup idempotence: dedup(dedup(x)) == dedup(x)") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "key")
    val once = Dedup.exact(df, Seq("key"), "id")
    val twice = Dedup.exact(once, Seq("key"), "id")
    assert(once.orderBy("key").collect().toSeq == twice.orderBy("key").collect().toSeq)
  }

  test("ngram jaccard: identical docs score 1.0, disjoint docs absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet == Set((1L, 2L)))
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("simhash: identical docs → identical signature; pairs found at hamming 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different words entirely unrelated stuff here now")
    ).toDF("doc_id", "text")
    val sigs = docs.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val pairs = Dedup.simhashPairs(spark, docs, "doc_id", "text", maxHamming = 3)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("dropNearDuplicates keeps one representative per connected component") {
    val docs = (1L to 7L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // components: {1,2,3} (chain), {5,6}; 4 and 7 are singletons
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (5L, 6L, 1.0))
      .toDF("ida", "idb", "jaccard")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 7L))
  }

  test("dropNearDuplicates reliable-checkpoint path (checkpoint dir set) matches local path") {
    val docs = (1L to 7L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (5L, 6L, 1.0))
      .toDF("ida", "idb", "jaccard")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_reliable")
    // a set checkpoint dir flips the operator onto reliable checkpoint()
    // (the 100 TB fault-tolerant branch) — results must be identical
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(1L, 4L, 5L, 7L))
    } finally {
      // restore the shared session to the local-checkpoint default and
      // drop the checkpoint files so later suites see a clean state
      org.apache.spark.GraftTestSparkAccess.clearCheckpointDir(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("native minhash: exact dup pair estimated at 1.0, random docs excluded") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "uno dos tres cuatro cinco seis siete ocho nueve diez")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet == Set((1L, 2L)))
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("fingerprint is whitespace/case normalized, content sensitive") {
    val df = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "hello worlds")
    ).toDF("id", "text")
    val fp = df.select($"id", TextAnalysis.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("langId votes by stopword lexicon with deterministic ties") {
    val docs = Seq(
      (1L, "the cat and the dog of the house"),  // en
      (2L, "der hund und das haus ist nicht"),   // de
      (3L, "qqq zzz www")                        // no hits → und
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(spark, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("approx_count_distinct within its error bound on orders keys") {
    val o = graft.core.Tables.load(spark, "/root/testdata/sf0.01", "orders")
    val row = o.agg(
      countDistinct($"o_custkey").as("exact"),
      approx_count_distinct($"o_custkey", 0.05).as("approx")).head()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.15,
      s"approx=$approx exact=$exact") // 3x the configured rsd as a safe bound
  }

  test("approx_percentile within its rank-error bound vs the exact percentile") {
    // the sketch path an exact `percentile` swaps to at 100 TB (exact
    // needs the whole group's values; the sketch merges in partials).
    // accuracy=100 bounds rank error by n/100 — assert the approx p50's
    // true rank lands within 3x that of the target rank.
    val o = graft.core.Tables.load(spark, "/root/testdata/sf0.01", "orders")
    val n = o.count()
    val approxP50 = o.agg(
      expr("approx_percentile(o_totalprice, 0.5, 100)").as("p")).head().getDouble(0)
    val rank = o.filter($"o_totalprice" <= approxP50).count()
    val tolerance = 3.0 * n / 100
    assert(math.abs(rank - n / 2.0) <= tolerance,
      s"approx p50=$approxP50 rank=$rank of $n (tolerance $tolerance)")
  }

  test("IVF top-k equals brute force when probing all centroids") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = e.groupBy($"label")
      .agg(first($"embedding").as("cvec")) // crude but deterministic-enough centroids
    val query = e.filter($"vec_id" === 0)
    val corpus = e.filter($"vec_id" =!= 0)
    val brute = graft.operators.Similarity
      .bruteForceTopK(corpus, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSeq
    val ivfAll = graft.operators.Similarity
      .ivfTopK(corpus, "vec_id", "embedding",
        centroids.withColumnRenamed("cvec", "embedding"), "label", "embedding",
        query, 10, nprobe = 10) // nprobe = all centroids → exhaustive
      .collect().map(_.getLong(0)).toSeq
    assert(ivfAll == brute)
  }

  test("LSH near-pairs finds the exact-duplicate vector pairs") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // duplicate a vector under a new id to create a guaranteed near pair
    val dup = e.filter($"vec_id" === 3)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding", $"label")
    val pairs = graft.operators.Similarity
      .lshNearPairs(e.unionByName(dup), "vec_id", "embedding", minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((3L, 100003L)))
  }

  test("ml MinHashLSH variant returns the duplicate pair too") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "uno dos tres cuatro cinco seis siete ocho nueve diez")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsML(docs, "doc_id", "text", jaccardDistanceThreshold = 0.5)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("hyperplane signature is deterministic and discriminates opposites") {
    val df = Seq(
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(1.0f)),
      (3L, Array.fill(8)(-1.0f))
    ).toDF("id", "v")
    val sig = df.select($"id",
      VectorFunctions.hyperplaneSignature($"v", planes = 12, seed = 42L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    // -v flips the sign of every projection → every one of the 12 bits
    // flips (this fails under the old [-1,3)-biased weights, which put
    // almost every vector on the positive side of almost every plane)
    assert((sig(1L) ^ sig(3L)) == ((1L << 12) - 1))
  }

  test("random projection matches the weight-table fold and the signature's signs") {
    import graft.functions.{HyperplaneSignature, RandomProjection}
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(8)(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("id", "v")
    val got = df.select($"id",
      RandomProjection.project($"v", planes = 12, seed = 42L).as("p"),
      VectorFunctions.hyperplaneSignature($"v", planes = 12, seed = 42L).as("s"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2))).toList
    got.foreach { case (id, proj, sig) =>
      assert(proj.length == 12)
      val v = vecs(id.toInt)._2
      proj.zipWithIndex.foreach { case (x, p) =>
        // exact replay of the ascending-dim fold over the same weights
        var acc = 0.0
        var d = 0
        while (d < 16) {
          acc += v(d).toDouble * HyperplaneSignature.weight(42L, p, d); d += 1
        }
        assert(x == acc, s"id=$id plane=$p")
        // LSH/JL cross-consistency: the signature bit IS this
        // projection's sign (same hyperplanes, same fold)
        assert(((sig >> p) & 1L) == (if (x >= 0) 1L else 0L))
      }
    }
  }

  test("hyperplane signature spreads random vectors across buckets (unbiased planes)") {
    // 64 deterministic pseudo-random vectors; with unbiased weights the
    // 12-bit signatures should spread widely — the pre-fix biased
    // weights collapsed nearly all vectors into the all-ones bucket
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(64)(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val sigs = vecs.toDF("id", "v")
      .select(VectorFunctions.hyperplaneSignature($"v", planes = 12, seed = 42L))
      .collect().map(_.getLong(0))
    assert(sigs.distinct.length >= 32, s"only ${sigs.distinct.length} distinct buckets")
  }

  test("hyperplane signature handles dim 768 in one codegen'd call") {
    // the old literal-tree formulation was dim × planes expression nodes
    // (would blow the 64 KB codegen method limit here); the native
    // expression is one static call regardless of width
    val rnd = new scala.util.Random(11)
    val wide = Seq.tabulate(8)(i => (i.toLong, Array.fill(768)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "v")
      .repartition(2) // keep the projection out of ConvertToLocalRelation
    val q = wide.select($"id",
      VectorFunctions.hyperplaneSignature($"v", planes = 24, seed = 1L).as("s"))
    val out = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // inspect the final (post-AQE) plan: the signature must sit inside a
    // whole-stage-codegen span, not an interpreted fallback
    val planStr = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // AQE's formatted explain marks whole-stage spans as "[codegen id : N]"
    // on the member nodes; the projection carrying the signature must be one
    assert(planStr.linesIterator.exists(l =>
      l.contains("Project") && l.contains("codegen id")), planStr)
    assert(planStr.contains("hyperplane_signature"), planStr)
    assert(out.size == 8 && out.values.toSet.size > 1)
    // deterministic across plans/runs
    val again = wide.repartition(4).select($"id",
      VectorFunctions.hyperplaneSignature($"v", planes = 24, seed = 1L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
  }

  test("incremental near-dup: new batch band-joins a precomputed index, history not rescanned") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different text about spark query engines and shuffles here"))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup.minhashSignatures(corpus, "doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-copy of 1
      (101L, "entirely novel document with words shared by nothing in the corpus"))
      .toDF("doc_id", "text")
    val dups = graft.operators.Dedup
      .incrementalNearDups(batch, "doc_id", "text", index, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((100L, 1L)), dups.toString)
    // the index side is reusable across batches: a second batch of pure
    // originals reports no duplicates against the same index
    val clean = Seq((200L, "another fresh document sharing no trigrams with anything above"))
      .toDF("doc_id", "text")
    assert(graft.operators.Dedup
      .incrementalNearDups(clean, "doc_id", "text", index, minJaccard = 0.5).isEmpty)
  }

  test("packBins: sharded packing equals a per-shard replay of the running-total rule") {
    // the scale form: a shard key makes the window a parallel keyed
    // window (no single-partition sort). Semantics per shard must be
    // identical to the global rule applied shard-by-shard.
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
    val packed = Sampling.packBins(docs, "doc_id", "toks", budget = 200,
        shardCols = Seq("lang"))
      .select("lang", "doc_id", "toks", "bin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(packed.nonEmpty)
    val expected = packed.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      var cum = 0L
      rows.sortBy(_._2).toSeq.map { case (_, id, toks, _) =>
        val bin = cum / 200
        cum += toks
        (lang, id) -> bin
      }
    }.toMap
    packed.foreach { case (lang, id, _, bin) =>
      assert(bin == expected((lang, id)), s"($lang, $id)")
    }
    // at least one language needs more than one bin at this budget
    assert(packed.exists(_._4 > 0))
  }

  test("repetitionStats: ratios from exact counts; pathological repeat detected") {
    val docs = Seq(
      (1L, "spam spam spam spam"),                    // 4 tokens, 1 type
      (2L, "all words here are unique tokens")        // 6 tokens, 6 types
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(m(1L) == ((4L, 1L, 0.75, 1.0)))
    assert(m(2L) == ((6L, 6L, 0.0, round4(1.0 / 6))))
  }

  test("stratifiedKeep: per-stratum rates hold exactly under the md5 rule") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("id", "lang")
    val kept = Sampling.stratifiedKeep(df, "id", "lang", Map("zh" -> 16), 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // zh (16/16) keeps every odd id; en keeps exactly the bucket<'4' ids
    assert(kept.count(_._2 == "zh") == 1000)
    val enKept = kept.filter(_._2 == "en").map(_._1).toSet
    val expected = (0L until 2000L by 2).filter { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      f"${h(0) & 0xff}%02x".charAt(0) < '4'
    }.toSet
    assert(enKept == expected)
  }

  test("contaminationReport: planted overlap counted, clean test doc at rate 0") {
    // ids chosen so the md5 split puts 6/19 in 'test' and 10/23 in
    // 'train' (first md5 hex char < '2' → test) — asserted below so a
    // hash change fails loudly instead of silently testing nothing
    val docs = Seq(
      (6L, "alpha beta gamma delta epsilon"),    // test: shares all trigrams with 23
      (19L, "uno dos tres cuatro cinco seis"),   // test: disjoint from train
      (23L, "alpha beta gamma delta epsilon"),   // train
      (10L, "other unrelated train words here")  // train
    ).toDF("doc_id", "text")
    val split = Sampling.splitColumn(col("doc_id"), testBuckets = 2)
    val splits = docs.select($"doc_id", split.as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(splits == Map(6L -> "test", 19L -> "test", 23L -> "train", 10L -> "train"))
    val m = Dedup.contaminationReport(docs, "doc_id", "text", split)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m(6L) == ((3L, 3L, 1.0)))    // 3 trigrams, all in train doc 23
    assert(m(19L)._2 == 0L && m(19L)._3 == 0.0)
  }

  test("blocklistSubtract equals the plain anti-join, bloom probe in the plan") {
    val df = (0L until 500L).map(i => (i, s"p$i")).toDF("id", "payload")
    val bl = (0L until 500L by 7).toDF("blocked")
    val out = Dedup.blocklistSubtract(df, "id", bl, "blocked",
      expectedItems = 100L, fpp = 0.01)
    val plain = df.join(bl, $"id" === $"blocked", "left_anti")
    assert(out.orderBy("id").collect().toSeq == plain.orderBy("id").collect().toSeq)
    // analyzed plan: over a LocalRelation the optimizer constant-folds
    // the probe away entirely (parquet-backed plans keep it — PlanSpec)
    assert(out.queryExecution.analyzed.toString.contains("might_contain"))
  }

  test("kmeansAssign: duplicate vectors co-cluster; rerun is identical") {
    // two tight groups around orthogonal directions + exact duplicates
    val vecs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) Array(10.0f, 0.1f, 0.0f) else Array(0.1f, 10.0f, 0.0f)
      (i, base.map(v => v + (i / 2 % 5) * 0.01f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val run1 = graft.operators.Clustering.kmeansAssign(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val run2 = graft.operators.Clustering.kmeansAssign(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run1 == run2)
    assert(run1.values.toSet.size == 2)
    val evens = vecs.map(_._1).filter(_ % 2 == 0).map(run1).toSet
    val odds = vecs.map(_._1).filter(_ % 2 == 1).map(run1).toSet
    assert(evens.size == 1 && odds.size == 1 && evens != odds)
  }

  test("semanticDedup: greedy earliest survivor per within-cluster near-group") {
    // ids 0 and 1 seed the two centroids (init = k smallest ids), so
    // they must point apart. Cluster A: id0, exact dup id2, and a
    // distinct-enough id3 (cos(id0,id3) ≈ 0.914); cluster B: id1 and
    // near-dup id4 (cos ≈ 0.99875). At minCosine=0.99 exactly id2 and
    // id4 drop.
    val df = Seq(
      (0L, Array(10.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 10.0f, 0.0f)),
      (2L, Array(10.0f, 0.0f, 0.0f)),
      (3L, Array(9.0f, 4.0f, 0.0f)),
      (4L, Array(0.0f, 10.0f, 0.5f))).toDF("vec_id", "embedding")
    val out = graft.operators.Dedup.semanticDedup(
      df, "vec_id", "embedding", k = 2, iters = 2, minCosine = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(0L, 1L, 3L))
    // survivors carry their cluster: A-side ids share one, B-side the other
    assert(out(0L) == out(3L) && out(0L) != out(1L))
    // idempotence on the survivor set: no survivor pair is near
    val again = graft.operators.Dedup.semanticDedup(
      df.filter(col("vec_id").isin(0L, 1L, 3L)),
      "vec_id", "embedding", k = 2, iters = 2, minCosine = 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(again == Set(0L, 1L, 3L))
  }

  test("semanticDedupGreedy keeps the chain tail the one-join rule over-drops") {
    // planted chain a~b, b~c, a≁c: unit directions at 0°, 25°, 50° with
    // minCosine = 0.866 (= cos 30°) — adjacent pairs are near
    // (cos 25° ≈ 0.906), the endpoints are not (cos 50° ≈ 0.643)
    def dir(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val chain = Seq((0L, dir(0)), (1L, dir(25)), (2L, dir(50)))
      .toDF("vec_id", "embedding")
    val strict = graft.operators.Dedup.semanticDedup(
      chain, "vec_id", "embedding", k = 1, iters = 1, minCosine = 0.866)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set(0L)) // the documented over-drop: b AND c gone
    val greedy = graft.operators.Dedup.semanticDedupGreedy(
      chain, "vec_id", "embedding", k = 1, iters = 1, minCosine = 0.866)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(greedy.keySet == Set(0L, 2L)) // c survives: its only near neighbor was dropped
    assert(greedy(0L) == greedy(2L))     // same cluster carried through
    // general contract: greedy survivors ⊇ one-join survivors
    val df = Seq(
      (0L, Array(10.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 10.0f, 0.0f)),
      (2L, Array(10.0f, 0.0f, 0.0f)),
      (3L, Array(9.0f, 4.0f, 0.0f)),
      (4L, Array(0.0f, 10.0f, 0.5f))).toDF("vec_id", "embedding")
    val s5 = graft.operators.Dedup.semanticDedup(
      df, "vec_id", "embedding", k = 2, iters = 2, minCosine = 0.99)
      .collect().map(_.getLong(0)).toSet
    val g5 = graft.operators.Dedup.semanticDedupGreedy(
      df, "vec_id", "embedding", k = 2, iters = 2, minCosine = 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(s5.subsetOf(g5))
    assert(g5 == Set(0L, 1L, 3L)) // no chains here: identical survivor sets
  }

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("bpe tokens match the RE2 (DuckDB) golden output on edge strings") {
    // goldens produced by DuckDB 1.x regexp_extract_all with the same
    // pattern — pins Java-regex/RE2 agreement on the oracle-checked path
    val cases = Seq(
      "Hello, world!  It's 42 degrees..." ->
        Seq("Hello", ",", " world", "!", " It", "'", "s", " 42", " degrees", "..."),
      "tab\tsep\nnewline  double  space" ->
        Seq("tab", "sep", "newline", " double", " space"),
      "" -> Seq.empty,
      "...!!!  abc123def 7e7" ->
        Seq("...!!!", " abc", "123", "def", " 7", "e", "7"))
    val out = cases.map(_._1).toDF("text")
      .select(graft.operators.TextAnalysis.bpeTokens($"text").as("toks"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(out.toSeq == cases.map(_._2))
  }

  test("bpe merge application: rank order, greedy self-pairs, chains, guards") {
    import graft.operators.TextAnalysis
    def enc(merges: Seq[(String, String)], toks: String*): Seq[Seq[String]] = {
      val df = toks.toDF("t")
      df.select(TextAnalysis.bpeMergeTokens($"t", merges).as("o"))
        .collect().map(_.getSeq[String](0).toSeq).toSeq
    }
    // greedy left-to-right on a self-pair run: aaa -> [aa, a], never [a, aa]
    assert(enc(Seq(("a", "a")), "aaa") == Seq(Seq("aa", "a")))
    assert(enc(Seq(("a", "a")), "aaaa") == Seq(Seq("aa", "aa")))
    // rank order decides: (t,h) before (h,e) tokenizes "the" as [th, e];
    // inverted ranks give [t, he] on the SAME table members
    assert(enc(Seq(("t", "h"), ("h", "e")), "the") == Seq(Seq("th", "e")))
    assert(enc(Seq(("h", "e"), ("t", "h")), "the") == Seq(Seq("t", "he")))
    // three-deep chain builds the full word; leading space is a symbol
    val chain = Seq(("t", "h"), (" ", "th"), (" th", "e"))
    assert(enc(chain, " the") == Seq(Seq(" the")))
    assert(enc(chain, "the") == Seq(Seq("th", "e"))) // no space, chain stalls
    // one pass per rank: an earlier rank does NOT re-fire after a later
    // one creates its pair again — (a,b) ran at rank 1, rank 2 merges
    // (b,a); the fresh [ab, ba] adjacency stays un-merged
    assert(enc(Seq(("a", "b"), ("b", "a")), "abba") == Seq(Seq("ab", "ba")))
    // untouched text: no merges apply -> single chars
    assert(enc(chain, "xyz") == Seq(Seq("x", "y", "z")))
    // guards: empty symbols and sentinel collisions fail loud
    intercept[IllegalArgumentException](enc(Seq(("", "a")), "a"))
    intercept[IllegalArgumentException](enc(Seq(("a", "\u0001")), "a"))
    // doc-level encode: pre-split + merges, flattened in order; exact
    // token counts under the vocab
    val doc = Seq("the thermal the").toDF("text")
      .select(TextAnalysis.bpeEncode($"text",
        Seq(("t", "h"), (" ", "th"), (" th", "e"), ("th", "e"))).as("toks"))
      .head().getSeq[String](0).toSeq
    // "the" -> th+e -> the (rank 4); " thermal" -> " the"+r,m,a,l
    // (ranks 1-3 chain through the leading space before rank 4 could
    // see a bare th)
    assert(doc == Seq("the", " the", "r", "m", "a", "l", " the"))
  }

  test("bpe merge application: randomized tables equal the plain-JVM reference") {
    // 300 random (merge table, pre-token) cases over a 3-letter
    // alphabet vs an independent java.lang.String.replace reference of
    // the pinned semantics (one greedy left-to-right pass per rank,
    // ranks ascending) — Catalyst's StringReplace and the JVM's
    // literal replace must agree on every adjacency/overlap shape the
    // generator finds, not just the hand-picked goldens
    import graft.operators.TextAnalysis
    val L = "\u0001"; val R = "\u0002"
    def ref(tok: String, merges: Seq[(String, String)]): Seq[String] = {
      var s = tok.map(c => s"$L$c$R").mkString
      for ((x, y) <- merges)
        s = s.replace(L + x + R + L + y + R, L + x + y + R)
      s.split(java.util.regex.Pattern.quote(R + L))
        .map(_.replace(L, "").replace(R, "")).filter(_.nonEmpty).toSeq
    }
    val rnd = new scala.util.Random(0xB9E5EEDL)
    def rs(n: Int) = (1 to n).map(_ => "abc"(rnd.nextInt(3))).mkString
    (1 to 10).foreach { round =>
      val merges = (1 to (1 + rnd.nextInt(6)))
        .map(_ => (rs(1 + rnd.nextInt(2)), rs(1 + rnd.nextInt(2))))
      val toks = (1 to 30).map(_ => rs(1 + rnd.nextInt(10)))
      val got = toks.toDF("t")
        .select(TextAnalysis.bpeMergeTokens($"t", merges).as("o"))
        .collect().map(_.getSeq[String](0).toSeq).toSeq
      val want = toks.map(ref(_, merges))
      assert(got == want, s"round $round merges=$merges")
    }
  }

  test("production-vocab bpe: classic loop equals the pass schedule on learned-like tables") {
    // round-17 verdict item 2: BpeEncodeVocab (classic lowest-rank-
    // first merge loop, vocab as expression state) must agree with
    // bpeMergeTokens (one greedy pass per rank, ascending) wherever the
    // table is LEARNED-LIKE — the 13-rank hand table and the ~2.2k-rank
    // x_bpe_merges_vocab table both are. Doc-level comparison so the
    // pre-split + flatten plumbing is covered too.
    import graft.operators.TextAnalysis
    val texts = Seq(
      "the fast key order sort table scan merge part window",
      "spark group query row data slow small filter customer line",
      " the sort  batch the", "thermal  sorting", "", "a", "  ",
      "xyz unseen!! 42 bat bit bot")
    val docs = texts.toDF("text")
    // the 13-rank table: both engine paths side-by-side in one plan
    val small = graft.queries.TextDocs.bpeMergeTable
    docs.select(
        TextAnalysis.bpeEncodeVocab($"text", small).as("a"),
        TextAnalysis.bpeEncode($"text", small).as("b"))
      .collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"classic=${r.getSeq[String](0)} pass=${r.getSeq[String](1)}")
      }
    // the ~2.2k-rank x_bpe_merges_vocab table: the replace-chain
    // sibling cannot plan at this depth (each rank is a nested Column
    // node — the column converter overflows around 2k, which is WHY
    // BpeEncodeVocab exists), so the pass schedule runs as a plain-JVM
    // reference (the randomized-table test's ref, verbatim semantics)
    // against the expression's classic loop
    val big = graft.queries.TextDocs.bpeVocabTable
    val L = "\u0001"; val R = "\u0002"
    def passRef(tok: String): Seq[String] = {
      var s = tok.map(c => s"$L$c$R").mkString
      for ((x, y) <- big)
        s = s.replace(L + x + R + L + y + R, L + x + y + R)
      s.split(java.util.regex.Pattern.quote(R + L))
        .map(_.replace(L, "").replace(R, "")).filter(_.nonEmpty).toSeq
    }
    val rows = docs.select(
        TextAnalysis.bpeTokens($"text").as("pre"),
        TextAnalysis.bpeEncodeVocab($"text", big).as("a"))
      .collect()
    rows.foreach { r =>
      val want = r.getSeq[String](0).flatMap(passRef)
      assert(r.getSeq[String](1) == want,
        s"classic=${r.getSeq[String](1)} pass=$want")
    }
    // the semantics DIFFER on a non-learned-like table (the scaladoc's
    // divergence case, pinned): rank 0 (ab,c) names a constituent only
    // rank 1 (a,b) manufactures — the classic loop re-checks earlier
    // ranks after every merge, the pass schedule never revisits
    val t = Seq(("ab", "c"), ("a", "b"))
    val one = Seq("abc").toDF("text")
    assert(one.select(TextAnalysis.bpeEncodeVocab($"text", t))
      .head().getSeq[String](0) == Seq("abc"))
    assert(one.select(TextAnalysis.bpeEncode($"text", t))
      .head().getSeq[String](0) == Seq("ab", "c"))
  }

  test("production-vocab bpe: classic-loop goldens, guards, null array") {
    import graft.functions.BpeEncodeVocab
    def enc(merges: Seq[(String, String)], pres: Seq[String]): Seq[String] = {
      Seq(Tuple1(pres)).toDF("pre")
        .select(BpeEncodeVocab.encode($"pre", merges).as("o"))
        .head().getSeq[String](0).toSeq
    }
    // classic: ALL occurrences of the lowest-rank pair merge before any
    // higher rank is considered; self-pair runs stay greedy left-to-right
    assert(enc(Seq(("a", "a")), Seq("aaaa")) == Seq("aa", "aa"))
    assert(enc(Seq(("a", "a")), Seq("aaa")) == Seq("aa", "a"))
    // revisit: after (h,e) fires, (t,he) becomes adjacent and fires even
    // though its rank is EARLIER in text order but later numerically —
    // classic picks lowest rank present each iteration
    assert(enc(Seq(("h", "e"), ("t", "he")), Seq("the")) == Seq("the"))
    // pre-token boundaries never merge across: two pre-tokens stay apart
    assert(enc(Seq(("a", "b")), Seq("a", "b")) == Seq("a", "b"))
    // flatten preserves document order
    assert(enc(Seq(("t", "h")), Seq("th", " th")) == Seq("th", " ", "th"))
    // guards: empty table / empty symbols / length mismatch fail loud
    // at PLAN time (eager construction checks; the analyzer may wrap
    // the builder's exception, so assert on the message)
    def guard(f: => Any): Unit = {
      val e = intercept[Exception](f)
      val all = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(all.contains("graft_bpe_encode"), all)
    }
    guard(enc(Seq.empty, Seq("a")))
    guard(enc(Seq(("", "a")), Seq("a")))
    guard(graft.functions.BpeEncodeVocab(
      org.apache.spark.sql.catalyst.expressions.Literal(null), Seq("a"), Seq.empty))
    // NULL pre-token array -> NULL out (UnaryExpression null contract)
    val n = Seq(Tuple1(null: Seq[String])).toDF("pre")
      .select(BpeEncodeVocab.encode($"pre", Seq(("a", "b"))))
      .head()
    assert(n.isNullAt(0))
  }

  test("bpeTrain: hand-golden ranks + tie-breaks, early stop, loud bounds, feeds the classic loop") {
    import graft.operators.TextAnalysis
    val docs = Seq("aa aa ab").toDF("text")
    // wf: "aa"->1, " aa"->1, " ab"->1
    // r1: (a,a)=2 (overlap counts BOTH "aa" positions? no — "aa" has
    //     one adjacency; " aa" contributes the second), (" ",a)=2,
    //     (a,b)=1 -> count tie broken left-symbol ASC: (" ","a")
    // r2: state aa=[a,a], " aa"=[" a",a], " ab"=[" a",b]:
    //     (a,a)=1, (" a",a)=1, (" a",b)=1 -> (" a","a")
    // r3: state aa=[a,a], " aa"=[" aa"], " ab"=[" a",b]:
    //     (a,a)=1, (" a",b)=1 -> (" a","b")
    // r4: only (a,a)=1 -> ("a","a"); r5: no pairs -> early stop
    val t3 = TextAnalysis.bpeTrain(docs, "text", 3)
    assert(t3 == Seq((" ", "a"), (" a", "a"), (" a", "b")), t3)
    val tAll = TextAnalysis.bpeTrain(docs, "text", 50)
    assert(tAll == t3 :+ (("a", "a")), tAll)
    // the trained table is learned-like by construction -> the classic
    // loop (BpeEncodeVocab) equals the pass schedule (bpeMergeTokens)
    // on it, and the full table tokenizes the corpus to whole words
    val enc = Seq("aa aa ab").toDF("text").select(
        TextAnalysis.bpeEncodeVocab($"text", tAll).as("a"),
        TextAnalysis.bpeEncode($"text", tAll).as("b"))
      .head()
    assert(enc.getSeq[String](0) == enc.getSeq[String](1))
    assert(enc.getSeq[String](0) == Seq("aa", " aa", " ab"))
    // loud bounds: vocab cap and empty corpus
    val exCap = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrain(docs, "text", 2, maxWords = 2)
    }
    assert(exCap.getMessage.contains("maxWords"))
    val exEmpty = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrain(Seq.empty[String].toDF("text"), "text", 2)
    }
    assert(exEmpty.getMessage.contains("empty corpus"))
  }

  test("Curation.curate: gate drops junk, dedup keeps the longer copy, funnel is monotone and token-preserving") {
    import graft.operators.Curation
    val good = (1 to 60).map(i => s"word$i").mkString(" ")        // quality 1.0
    val nearA = good + " extra tail alpha"
    val nearB = good + " extra tail beta bonus"                    // longer twin
    val docs = Seq(
      (1L, nearA, nearA.length, "src1"),
      (2L, nearB, nearB.length, "src2"),
      (3L, "hi", 2, "src3"),                                       // fails the gate
      (4L, (100 to 170).map(i => s"tok$i").mkString(" "), 500, "src4"))
      .toDF("doc_id", "text", "n_chars", "source")
    val st = Curation.curate(docs, "doc_id", "text",
      priorityCol = "n_chars", groupCol = "source")
    // gate: doc 3 out; dedup: docs 1/2 are near-dups, the LONGER (2) survives
    assert(st.quality.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    assert(st.deduped.select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    // train is exactly the deduped rows groupSplit itself assigns to train
    val expectTrain = graft.operators.Sampling
      .groupSplit(st.deduped, "source", 10, Set(0), Set(1))
      .filter($"split" === "train").select("doc_id").as[Long].collect().sorted.toSeq
    assert(st.train.select("doc_id").as[Long].collect().sorted.toSeq == expectTrain)
    // packing preserves every train doc and its token count
    val packed = st.packed.collect()
    assert(packed.map(_.getAs[Long]("doc_id")).sorted.toSeq == expectTrain)
    // funnel: monotone docs column, packed row preserves the train token total
    val f = Curation.funnelReport(docs, "text", st).collect()
    val byStage = f.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(f.map(_.getString(0)).toSeq == Seq("a_all", "b_quality", "c_dedup", "d_train", "e_packed"))
    assert(byStage("a_all")._1 >= byStage("b_quality")._1)
    assert(byStage("b_quality")._1 >= byStage("c_dedup")._1)
    assert(byStage("c_dedup")._1 >= byStage("d_train")._1)
    assert(byStage("e_packed")._2 == byStage("d_train")._2)
    val exQ = intercept[IllegalArgumentException] {
      Curation.curate(docs, "doc_id", "text", "n_chars", "source", minQuality = 1.5)
    }
    assert(exQ.getMessage.contains("minQuality"))
  }

  test("bpeTrain at depth: exhaustive train on the real corpus fully merges every pre-token") {
    import graft.operators.TextAnalysis
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // ask for far more merges than the corpus supports: training runs
    // to pair exhaustion and stops early; the invariants that matter at
    // ANY depth: (a) no pair is ever learned twice, (b) the exhaustive
    // table reduces every pre-token to ONE symbol (n_tokens == n_pre),
    // (c) ids under the exhaustive vocab are a bijection per pre-token
    val table = TextAnalysis.bpeTrain(docs, "text", 8192)
    assert(table.nonEmpty && table.size < 8192, s"expected early stop, got ${table.size}")
    assert(table.distinct.size == table.size, "a pair was learned twice")
    val vocab = TextAnalysis.bpeVocabIds(docs, "text", table)
    val r = docs.select(
        org.apache.spark.sql.functions.size(
          TextAnalysis.bpeTokens(org.apache.spark.sql.functions.col("text"))).as("n_pre"),
        org.apache.spark.sql.functions.size(
          TextAnalysis.bpeEncodeVocab(org.apache.spark.sql.functions.col("text"), table)).as("n_tok"),
        org.apache.spark.sql.functions.array_min(
          TextAnalysis.bpeEncodeIds(org.apache.spark.sql.functions.col("text"), table, vocab)).as("min_id"))
      .agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("n_pre")).as("p"),
        org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("n_tok")).as("t"),
        org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("min_id")).as("m"))
      .head()
    assert(r.getLong(0) == r.getLong(1), s"exhaustive train left unmerged pairs: pre=${r.getLong(0)} tok=${r.getLong(1)}")
    assert(r.getInt(2) >= 0, "an exhaustively-trained vocab produced an unk id")
  }

  test("bpeVocabIds/bpeEncodeIds: golden ids, unk sentinel, collision keeps first id") {
    import graft.operators.TextAnalysis
    val docs = Seq("aa aa ab").toDF("text")
    val table = TextAnalysis.bpeTrain(docs, "text", 50)
    // alphabet " "(0) "a"(1) "b"(2); productions " a"->3, " aa"->4,
    // " ab"->5, "aa"->6 (table rank order from the trainer golden)
    val vocab = TextAnalysis.bpeVocabIds(docs, "text", table)
    assert(vocab == Seq((" ", 0), ("a", 1), ("b", 2),
      (" a", 3), (" aa", 4), (" ab", 5), ("aa", 6)), vocab)
    val ids = Seq("aa aa ab").toDF("text")
      .select(TextAnalysis.bpeEncodeIds($"text", table, vocab).as("i"))
      .head().getSeq[Int](0)
    assert(ids == Seq(6, 4, 5), ids)
    // foreign text: "c" is no alphabet/production token -> -1 sentinel
    val unk = Seq("ac").toDF("text")
      .select(TextAnalysis.bpeEncodeIds($"text", table, vocab).as("i"))
      .head().getSeq[Int](0)
    assert(unk == Seq(1, -1), unk)
    // hand-written collision: rank-4 (a,bc) reproduces rank-3 (ab,c)'s
    // "abc" -> the FIRST id (5) wins and slot 6 goes unused
    val hand = Seq(("a", "b"), ("b", "c"), ("ab", "c"), ("a", "bc"))
    val v2 = TextAnalysis.bpeVocabIds(Seq("abc").toDF("text"), "text", hand)
    assert(v2 == Seq(("a", 0), ("b", 1), ("c", 2),
      ("ab", 3), ("bc", 4), ("abc", 5)), v2)
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncodeIds($"text", table,
        Seq(("a", 0), ("a", 1)))
    }
    assert(ex.getMessage.contains("duplicate tokens"))
  }

  test("production-vocab bpe: a 50k-merge table compiles, plans once and runs") {
    // the r17 'what's missing #1' smoke: a GPT-class merge-table SIZE
    // must be applicable — the replace-chain sibling refuses above
    // 4096 because each rank is a plan node; here the vocab is ONE
    // reference object. Counts-only assertions (no oracle at this
    // size); the leading real ranks prove merges still fire through
    // the 50k-entry lookup.
    import graft.operators.TextAnalysis
    val syl = for (c1 <- "bcdfghjklmnpqrstvwz"; v <- "aeiou"; c2 <- "bcdfghjklmnpqrstvwz")
      yield s"$c1$v$c2"
    val filler = for (i <- 0 until 50_000)
      yield (syl(i % syl.length), syl((i / syl.length) % syl.length))
    val merges = Seq(("t", "h"), ("th", "e"), (" ", "the")) ++ filler
    assert(merges.size >= 50_000)
    val out = Seq("the batch the", "unseen words stay chars")
      .toDF("text")
      .select(org.apache.spark.sql.functions.size(
        TextAnalysis.bpeEncodeVocab($"text", merges)).as("n"))
      .orderBy($"n").collect().map(_.getInt(0)).toSeq
    // "the batch the": [the, " batch" unmerged(6), " the"] = 8 tokens;
    // second doc: 23 non-space chars + 3 space-prefixed = every char a
    // token, spaces glued: "unseen"(6) + " words"(6) + " stay"(5) +
    // " chars"(6) = 23 tokens
    assert(out == Seq(8, 23), out)
  }

  test("chunk dedup: shared chunk reported, scrubbed docs rebuilt in order") {
    // 4-token chunks; A = the shared (boilerplate) chunk
    val A = "a b c d"
    val docs = Seq(
      (1L, s"$A e f g h"),      // A + unique tail
      (2L, s"$A i j k"),        // A + short unique tail (ragged last chunk)
      (3L, A),                  // pure boilerplate
      (4L, "x y z w v u")       // no duplicate chunks at all
    ).toDF("doc_id", "text")
    val dup = Dedup.duplicateChunks(docs, "doc_id", "text", width = 4, minDocs = 2)
      .collect()
    assert(dup.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((A, 3L, 3L))) // in docs 1, 2, 3; once each
    val out = Dedup.scrubDuplicateChunks(docs, "doc_id", "text", width = 4, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "e f g h", 1L, 1L),
      (2L, "i j k", 1L, 1L),
      (3L, "", 0L, 1L),        // fully-boilerplate doc kept, emptied
      (4L, "x y z w v u", 2L, 0L)))
  }

  test("chunk/span dedup: shuffle fallback (broadcastDupSet=false) matches the broadcast path") {
    // the broadcast of the dup-hash set is a fast path, not a bound —
    // the fallback must be row-identical on a real corpus
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(
      Dedup.scrubDuplicateChunks(docs, "doc_id", "text", width = 4, minDocs = 2),
      Dedup.scrubDuplicateChunks(docs, "doc_id", "text", width = 4, minDocs = 2,
        broadcastDupSet = false)))
    assert(same(
      Dedup.scrubDuplicateSpans(docs, "doc_id", "text", width = 8, minDocs = 2),
      Dedup.scrubDuplicateSpans(docs, "doc_id", "text", width = 8, minDocs = 2,
        broadcastDupSet = false)))
    assert(same(
      Dedup.duplicateChunks(docs, "doc_id", "text", width = 4, minDocs = 2),
      Dedup.duplicateChunks(docs, "doc_id", "text", width = 4, minDocs = 2,
        broadcastDupSet = false)))
  }

  test("chunk width boundaries: width=1 is per-token scrub; huge width is doc-grain exact dedup") {
    // the two semantic corners the oracle's fixed width=8 never
    // reaches (round-4 verdict item 7)
    val docs = Seq(
      (1L, "a b c"),           // exact duplicate of 2 after ws-normalization
      (2L, "a  b\tc"),
      (3L, "c x y"),           // shares only token c with 1/2
      (4L, "z z z")            // repeats a token within ONE doc only
    ).toDF("doc_id", "text")

    // width ≥ token count: one chunk per doc ≡ exact (normalized) dedup
    val wBig = 1 << 20
    val dupBig = Dedup.duplicateChunks(docs, "doc_id", "text", width = wBig, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(dupBig.toSet == Set(("a b c", 2L, 2L)))
    val scrubBig = Dedup.scrubDuplicateChunks(docs, "doc_id", "text", width = wBig, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(scrubBig.toSeq == Seq(
      (1L, "", 0L, 1L), (2L, "", 0L, 1L),
      (3L, "c x y", 1L, 0L), (4L, "z z z", 1L, 0L)))

    // width=1: every token is a chunk. minDocs counts DISTINCT docs, so
    // doc 4's thrice-repeated z is NOT boilerplate (one doc), while c
    // spans three docs with one occurrence each
    val dup1 = Dedup.duplicateChunks(docs, "doc_id", "text", width = 1, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(dup1.toSet == Set(("a", 2L, 2L), ("b", 2L, 2L), ("c", 3L, 3L)))
    val scrub1 = Dedup.scrubDuplicateChunks(docs, "doc_id", "text", width = 1, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(scrub1.toSeq == Seq(
      (1L, "", 0L, 3L), (2L, "", 0L, 3L),
      (3L, "x y", 2L, 1L), (4L, "z z z", 3L, 0L)))
  }

  test("span scrub cuts offset-shifted duplicates the disjoint chunk grain misses") {
    // the same 8-token span embedded at DIFFERENT offsets: no disjoint
    // 8-chunk ever aligns across the two docs, but stride-1 windows do
    val span = "p q r s t u v w"
    val docs = Seq(
      (1L, s"a1 b1 $span c1 d1"), // span at token offset 2
      (2L, s"a2 $span c2"),       // span at token offset 1
      (3L, "x y z")               // shorter than the window: untouchable
    ).toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateSpans(docs, "doc_id", "text", width = 8, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "a1 b1 c1 d1", 4L, 8L),
      (2L, "a2 c2", 2L, 8L),
      (3L, "x y z", 3L, 0L)))
    val chunkDropped = Dedup.scrubDuplicateChunks(docs, "doc_id", "text",
      width = 8, minDocs = 2).agg(sum("n_dropped")).head().getLong(0)
    assert(chunkDropped == 0L) // chunk grain provably blind to the shift
  }

  test("span scrub merges overlapping and adjacent duplicate windows into one span") {
    // two docs sharing a 10-token run → three overlapping dup windows
    // (offsets 0,1,2 of the run) must merge into ONE [start, end) span
    val run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val docs = Seq((1L, s"$run tail1"), (2L, s"head2 $run")).toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateSpans(docs, "doc_id", "text", width = 8, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "tail1", 1L, 10L),
      (2L, "head2", 1L, 10L)))
  }

  test("dedup family survives forced spilling with identical results (100 TB spill proof)") {
    // the 100 TB story leans on graceful spill: re-run the two
    // heaviest dedup queries at sf0.01 with every hash aggregation
    // forced into its spilling sort-based fallback after 1000 keys and
    // the window/sort-merge buffers capped at 512 rows (the
    // runtime-settable memory-pressure knobs — executor heap itself is
    // fixed per JVM), assert completion AND identical results, and
    // require that spills actually happened (task metrics)
    val sf = "/root/testdata/sf0.01"
    val names = Seq("x_dedup_corpus", "x_span_scrub")
    def snap(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq
    val baseline = names.map(n => n -> snap(n)).toMap
    val confs = Seq(
      "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "1000,2000",
      "spark.sql.windowExec.buffer.spill.threshold" -> "512",
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "512",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "512",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "8")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val spilled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      names.foreach(n => assert(snap(n) == baseline(n), s"$n diverged under spill"))
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      // listener bus is async — give it a moment before detaching
      val deadline = System.nanoTime() + 10e9.toLong
      while (spilled.get() == 0 && System.nanoTime() < deadline) Thread.sleep(100)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(spilled.get() > 0, "forced-spill run recorded zero spilled bytes")
  }

  test("TopK aggregate: k largest per group, descending, bounded under shuffle") {
    import graft.functions.TopK
    // 64 partitions force partial buffers through serialize/merge
    val df = spark.range(0, 1000).toDF("v")
      .withColumn("g", col("v") % 3)
      .repartition(64)
    val got = df.groupBy("g").agg(TopK.topK(col("v"), 5).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got(0L) == Seq(999L, 996L, 993L, 990L, 987L))
    assert(got(1L) == Seq(997L, 994L, 991L, 988L, 985L))
    assert(got(2L) == Seq(998L, 995L, 992L, 989L, 986L))
    // groups smaller than k return everything; nulls are skipped
    val small = Seq(Some(1L), None, Some(3L)).toDF("v").withColumn("g", lit(0))
    val s = small.groupBy("g").agg(TopK.topK(col("v"), 5).as("top"))
      .head().getSeq[Long](1).toSeq
    assert(s == Seq(3L, 1L))
  }

  test("knnJoin equals the window-rank baseline on real embeddings") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = e.filter($"vec_id" >= 5).select($"vec_id".as("nid"), $"embedding")
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding")
    val fast = graft.operators.Similarity.knnJoin(
      corpus, "nid", "embedding", queries, "qid", "embedding", k = 7)
    // unbounded baseline: window rank over ALL candidates
    val cand = corpus.crossJoin(broadcast(queries.select($"qid", $"embedding".as("__qv"))))
      .select($"qid", $"nid",
        graft.functions.CosineSimilarity.cosine($"embedding", $"__qv")
          .cast("decimal(10,4)").cast("double").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy($"cos".desc, $"nid".desc)
    val slow = cand.withColumn("rank", row_number().over(w)).filter($"rank" <= 7)
      .select($"qid", $"rank", $"nid", $"cos")
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("knnJoinBatched slices the query set yet matches the single-broadcast join") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = e.filter($"vec_id" >= 40).select($"vec_id".as("nid"), $"embedding")
    val queries = e.filter($"vec_id" < 40).select($"vec_id".as("qid"), $"embedding")
    val whole = graft.operators.Similarity.knnJoin(
      corpus, "nid", "embedding", queries, "qid", "embedding", k = 5)
    // batchRows=7 over 40 queries forces 6 hash-sliced batches
    val batched = graft.operators.Similarity.knnJoinBatched(
      corpus, "nid", "embedding", queries, "qid", "embedding", k = 5, batchRows = 7)
    assert(batched.exceptAll(whole).isEmpty && whole.exceptAll(batched).isEmpty)
    // every query answered exactly once (the hash slices partition Q)
    assert(batched.groupBy("qid").count().filter($"count" =!= 5).isEmpty)
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnJoinBatched(
        corpus, "nid", "embedding", queries, "qid", "embedding", k = 5, batchRows = 0)
    }
    // the single-broadcast path refuses a query set over the documented
    // bound BEFORE any corpus work (the count runs on the query side only)
    val huge = spark.range(graft.operators.Similarity.MaxBroadcastQueries + 1)
      .select($"id".as("qid"), array(lit(1.0f)).as("embedding"))
    val err = intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnJoin(
        corpus, "nid", "embedding", huge, "qid", "embedding", k = 5)
    }
    assert(err.getMessage.contains("knnJoinBatched"))
  }

  test("keySkewReport: exact distribution stats on a known key histogram") {
    val df = Seq(1L, 1L, 1L, 1L, 2L, 3L).toDF("k")
    val r = graft.operators.ScaleJoins.keySkewReport(df, "k").head()
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Long]("max_cnt") == 4L)
    assert(math.abs(r.getAs[Double]("avg_cnt") - 2.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("med_cnt") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("top_share") - 0.6667) < 1e-12)
    assert(math.abs(r.getAs[Double]("skew_ratio") - 2.0) < 1e-12)
  }

  test("skewStrategy: the executable plain/aqe/salted/asof decision rule") {
    import graft.operators.ScaleJoins
    assert(ScaleJoins.skewStrategyFromReport(1.2, 0.05, windowed = false) == "plain")
    assert(ScaleJoins.skewStrategyFromReport(1.2, 0.05, windowed = true) == "plain")
    assert(ScaleJoins.skewStrategyFromReport(25.0, 0.10, windowed = false) == "aqe-skew-join")
    assert(ScaleJoins.skewStrategyFromReport(25.0, 0.45, windowed = false) == "salted-join")
    assert(ScaleJoins.skewStrategyFromReport(25.0, 0.10, windowed = true) == "asof-salted")
    // end-to-end over real histograms
    val uniform = spark.range(0, 1000).select((col("id") % 100).as("k"))
    assert(ScaleJoins.skewStrategy(uniform, "k", windowed = false) == "plain")
    val hot = spark.range(0, 1000)
      .select(when(col("id") < 900, 0L).otherwise(col("id")).as("k"))
    assert(ScaleJoins.skewStrategy(hot, "k", windowed = false) == "salted-join")
    assert(ScaleJoins.skewStrategy(hot, "k", windowed = true) == "asof-salted")
  }

  test("JSONL round trip preserves rows, schema, and values exactly") {
    val df = Seq(
      (1L, "plain text", "en", 10L),
      (2L, "quotes \" and \\ backslash and\ttab", "de", 33L),
      (3L, "unicode é中文", "zh", 11L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_spec").toFile
    try {
      graft.sources.JsonlCorpus.write(df, tmp.getAbsolutePath)
      val back = graft.sources.JsonlCorpus.read(spark, tmp.getAbsolutePath, df.schema)
      // json reads are always nullable — compare names and types (the
      // real corpus input is parquet-read and already nullable)
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.orderBy("doc_id").collect().toSeq ==
        df.orderBy("doc_id").collect().toSeq)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("mixtureKeep: derived per-stratum rates match the md5 rule exactly") {
    // big: 100 docs x weight 10 = 1000; small: 20 x 10 = 200.
    // total=1200, 2 strata → target 600/stratum: big rate 0.6 → 9
    // buckets of 16, small rate capped at 1.0 → keep all.
    val df = ((0L until 100L).map(i => (i, "big", 10L)) ++
      (100L until 120L).map(i => (i, "small", 10L)))
      .toDF("id", "source", "w")
    val kept = graft.operators.Sampling.mixtureKeep(df, "id", "source", "w")
      .collect().map(r => r.getAs[Long]("id")).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Char =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.head
    val expected = (0L until 100L).filter(bucket(_) < '9').toSet ++ (100L until 120L)
    assert(kept == expected)
  }

  test("mixtureKeep: NULL strata form their own stratum instead of vanishing") {
    // 100 'big' + 20 null-stratum docs: total=1200, 2 strata → target
    // 600 each — identical shares to the named-strata case above, so
    // nulls must downsample/keep by the same rule, not be dropped by
    // the inner join's null-never-matches semantics
    val df = ((0L until 100L).map(i => (i, Some("big"), 10L)) ++
      (100L until 120L).map(i => (i, Option.empty[String], 10L)))
      .toDF("id", "source", "w")
    val kept = graft.operators.Sampling.mixtureKeep(df, "id", "source", "w")
      .collect().map(r => r.getAs[Long]("id")).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Char =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.head
    val expected = (0L until 100L).filter(bucket(_) < '9').toSet ++ (100L until 120L)
    assert(kept == expected) // all 20 null-stratum docs kept (rare stratum)
  }

  test("snapshotDiff classifies insert/delete/update/same, null-safe on values") {
    val prev = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None), (4L, Some(40.0)))
      .toDF("k", "v")
    val cur = Seq((2L, Some(21.0)), (3L, None), (4L, Some(40.0)), (5L, Some(50.0)))
      .toDF("k", "v")
    val got = graft.operators.SnapshotDiff.diff(prev, cur, Seq("k"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "delete",   // only in prev
      2L -> "update",   // value changed
      3L -> "same",     // null == null under null-safe compare
      4L -> "same",     // unchanged
      5L -> "insert"))  // only in cur
  }

  test("snapshotDiff rejects key/compare overlap and internal-name collisions loudly") {
    val a = Seq((1L, 1.0)).toDF("k", "v")
    // a key in compareCols would reference the never-created __new_k —
    // must fail at the API boundary, not as an analysis error
    intercept[IllegalArgumentException] {
      graft.operators.SnapshotDiff.diff(a, a, Seq("k"), Seq("k", "v"))
    }
    val withReserved = Seq((1L, 1.0, true)).toDF("k", "v", "__in_old")
    intercept[IllegalArgumentException] {
      graft.operators.SnapshotDiff.diff(withReserved, withReserved, Seq("k"), Seq("v"))
    }
    val withNewName = Seq((1L, 1.0, 2.0)).toDF("k", "v", "__new_v")
    intercept[IllegalArgumentException] {
      graft.operators.SnapshotDiff.diff(withNewName, withNewName, Seq("k"), Seq("v"))
    }
  }

  test("shardId: matches an md5 replay, stable under repartition, covers all shards") {
    val df = spark.range(0, 512).toDF("id")
    val got = df.withColumn("shard", Sampling.shardId(col("id"), 8))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // independent JVM-side replay of the eight-nibble rule
    val md = java.security.MessageDigest.getInstance("MD5")
    def expected(id: Long): Int = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) % 8).toInt
    }
    got.foreach { case (id, s) => assert(s == expected(id), s"id $id") }
    assert(got.values.toSet == (0 until 8).toSet)
    val reshuffled = df.repartition(7)
      .withColumn("shard", Sampling.shardId(col("id"), 8))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(reshuffled == got)
  }

  test("ORC round trip preserves values through a lang-partitioned layout") {
    val df = Seq(
      (1L, "plain text", "en", 10L),
      (2L, "quotes \" and \\ backslash and\ttab", "de", 33L),
      (3L, "unicode é中文", "zh", 11L),
      (4L, "second english doc", "en", 18L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc_spec").toFile
    try {
      graft.sources.OrcCorpus.write(df, tmp.getAbsolutePath, partitionBy = Seq("lang"))
      val back = graft.sources.OrcCorpus.read(spark, tmp.getAbsolutePath)
      // partitionBy moves `lang` to the end of the schema — compare as sets
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSet ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSet)
      assert(back.select("doc_id", "text", "lang", "n_chars")
        .orderBy("doc_id").collect().toSeq ==
        df.orderBy("doc_id").collect().toSeq)
      // the hive layout really is partitioned by lang
      assert(tmp.listFiles().exists(_.getName == "lang=en"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("capPerGroup: heap path matches the window formulation, caps respected") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"source")
    val n = 2
    val heap = Sampling.capPerGroup(docs, "doc_id", "source", n)
    // the reference formulation: full window sort on the same rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source")
      .orderBy(substring(md5($"doc_id".cast("string")), 1, 15), $"doc_id")
    val win = docs.withColumn("__rn", row_number().over(w))
      .filter($"__rn" <= n).drop("__rn")
    assert(heap.exceptAll(win).isEmpty && win.exceptAll(heap).isEmpty)
    // cap respected, and groups smaller than n survive whole
    val sizes = heap.groupBy("source").count().collect()
    assert(sizes.forall(_.getLong(1) <= n))
    val small = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    assert(Sampling.capPerGroup(small, "id", "g", 5).count() == 3)
  }

  test("temperatureKeep: rarest stratum kept whole, bigger strata thinned, deterministic") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"lang")
    val kept = Sampling.temperatureKeep(docs, "doc_id", "lang")
    // subset of the input, and a pure function (re-run identical)
    assert(kept.exceptAll(docs).isEmpty)
    val again = Sampling.temperatureKeep(docs, "doc_id", "lang")
    assert(kept.exceptAll(again).isEmpty && again.exceptAll(kept).isEmpty)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minLang = before.minBy { case (l, n) => (n, l) }._1
    assert(after(minLang) == before(minLang)) // bucket 16 = keep-all
    // the largest stratum must actually be thinned (its rate < 1)
    val maxLang = before.maxBy { case (l, n) => (n, l) }._1
    assert(before(maxLang) > before(minLang)) // fixture sanity
    assert(after.getOrElse(maxLang, 0L) < before(maxLang))
  }

  test("vocabCoverage: OOV rate is exactly the out-of-top-V token fraction") {
    val docs = Seq(
      ("a", "the the the cat"),    // 'the' dominates the vocab
      ("b", "the zyx wvu")         // two tokens outside a size-2 vocab
    ).toDF("src", "text")
    val out = TextAnalysis.vocabCoverage(docs, "text", "src", vocabSize = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // vocab (by count desc, word asc) = {the(4), cat(1)}
    assert(out("a") == ((4L, 0L)))
    assert(out("b") == ((3L, 2L)))
  }

  test("PQ: vectors built from codewords encode to themselves; ADC equals exact L2²") {
    import graft.operators.Similarity
    // 4 training vectors, dim 4, 2 subspaces of width 2
    val train = Seq(
      (1L, Array(0f, 0f, 8f, 8f)), (2L, Array(1f, 1f, 4f, 4f)),
      (3L, Array(2f, 2f, 2f, 2f)), (4L, Array(3f, 3f, 1f, 1f))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(train, "vec_id", "embedding",
      numSubspaces = 2, codebookSize = 4)
    assert(cb.length == 2 && cb.forall(_.length == 4) &&
      cb.forall(_.forall(_.length == 2)))
    // corpus = the training vectors themselves → every subvector is ON
    // a codeword, so PQ distance degrades to EXACT L2² to the query
    val query = Seq((0L, Array(1f, 0f, 3f, 3f))).toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(train, "vec_id", "embedding", cb,
      query, "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val q = Array(1f, 0f, 3f, 3f)
    val want = Seq(
      1L -> Array(0f, 0f, 8f, 8f), 2L -> Array(1f, 1f, 4f, 4f),
      3L -> Array(2f, 2f, 2f, 2f), 4L -> Array(3f, 3f, 1f, 1f))
      .map { case (id, v) => (id, l2(v, q)) }
      .sortBy { case (id, d) => (d, id) }
    assert(got.toSeq == want)
    // codes are 1-based positions within the codebook
    val codes = Similarity.pqEncode(train, "vec_id", "embedding", cb)
      .collect().flatMap(_.getSeq[Int](1))
    assert(codes.forall(c => c >= 1 && c <= 4))
  }

  test("IVF-PQ: full probe equals plain PQ; reduced probe stays inside probed cells") {
    import graft.operators.Similarity
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = e.filter($"vec_id" =!= 0)
    val query = e.filter($"vec_id" === 0)
    val cb = Similarity.pqCodebook(e.filter($"vec_id".between(1, 16)),
      "vec_id", "embedding", numSubspaces = 8, codebookSize = 16)
    // coarse quantizer = a subspace-free codebook of 4 cells
    val coarse = Similarity.pqCodebook(e.filter($"vec_id".between(1, 4)),
      "vec_id", "embedding", numSubspaces = 1, codebookSize = 4)(0)
    val full = Similarity.ivfPqTopK(corpus, "vec_id", "embedding", coarse, cb,
      query, "embedding", k = 10, nprobe = 4).collect().toSeq
    val plain = Similarity.pqTopK(corpus, "vec_id", "embedding", cb,
      query, "embedding", k = 10).collect().toSeq
    assert(full == plain) // nprobe = |cells| → identical to unpartitioned PQ
    val reduced = Similarity.ivfPqTopK(corpus, "vec_id", "embedding", coarse, cb,
      query, "embedding", k = 10, nprobe = 1)
    val got = reduced.collect()
    assert(got.nonEmpty && got.length <= 10)
    // every returned id must really live in a probed cell: re-derive the
    // cell assignment and check membership for the single nearest cell
    val cellOf = Similarity.pqEncode(corpus, "vec_id", "embedding", Array(coarse))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).head).toMap
    val cells = got.map(r => cellOf(r.getLong(0))).distinct
    assert(cells.length == 1)
  }

  test("PQ on the real corpus: deterministic, k rows, nondecreasing distance") {
    import graft.operators.Similarity
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cb = Similarity.pqCodebook(e.filter($"vec_id".between(1, 16)),
      "vec_id", "embedding", numSubspaces = 8, codebookSize = 16)
    val top = Similarity.pqTopK(e.filter($"vec_id" =!= 0), "vec_id", "embedding",
      cb, e.filter($"vec_id" === 0), "embedding", k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 20)
    assert(top.sliding(2).forall(p => p(0)._2 <= p(1)._2))
    assert(top.map(_._1).distinct.length == 20)
  }

  test("Profiling.profile: nulls, distincts, numeric/string split") {
    import graft.operators.Profiling
    val df = Seq(
      (Some(1L), Some("aa"), Some(2.5)),
      (Some(2L), None, Some(-1.0)),
      (Some(2L), Some("bbbb"), None),
      (None, Some("aa"), Some(9.0))
    ).toDF("k", "s", "v")
    val p = Profiling.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val k = p("k"); val s = p("s"); val v = p("v")
    assert(k.getLong(1) == 4 && k.getLong(2) == 1 && k.getLong(3) == 2)
    assert(k.getDouble(4) == 1.0 && k.getDouble(5) == 2.0)
    assert(k.isNullAt(6) && k.isNullAt(8))
    assert(s.getLong(2) == 1 && s.getLong(3) == 2)
    assert(s.getString(6) == "aa" && s.getString(7) == "bbbb")
    // avg_len over non-null strings: (2 + 4 + 2) / 3
    assert(math.abs(s.getDouble(8) - 8.0 / 3.0) < 1e-3)
    assert(v.getDouble(4) == -1.0 && v.getDouble(5) == 9.0)
  }

  test("Profiling.profileApprox: Expand-free plan, counts near exact") {
    import graft.operators.Profiling
    val cust = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "customer")
    val exact = Profiling.profile(cust)
    val approx = Profiling.profileApprox(cust)
    // the exact path pays a k-way Expand for multi-column COUNT(DISTINCT);
    // the HLL++ path must not — that's its whole reason to exist at 100 TB
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"))
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
    val e = exact.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    approx.collect().foreach { r =>
      val (name, nd) = (r.getString(0), r.getLong(3))
      assert(math.abs(nd - e(name)) <= math.max(2L, (e(name) * 0.15).toLong),
        s"$name: approx $nd vs exact ${e(name)}")
    }
  }

  test("MergeUpsert.applyCdc: delete, latest-wins update, insert") {
    import graft.operators.MergeUpsert
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "val")
    val changes = Seq(
      (1L, "a", 10.0, "D", 1L),          // delete key 1
      (2L, "b1", 21.0, "U", 1L),         // superseded update
      (2L, "b2", 22.0, "U", 2L),         // winning update
      (4L, "d", 40.0, "I", 1L)           // insert new key
    ).toDF("k", "name", "val", "op", "seq")
    val got = MergeUpsert.applyCdc(base, changes, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((2L, "b2", 22.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("MergeUpsert.applyCdc: empty batch is identity; delete-all empties") {
    import graft.operators.MergeUpsert
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val none = Seq.empty[(Long, String, String, Long)].toDF("k", "v", "op", "seq")
    assert(MergeUpsert.applyCdc(base, none, Seq("k")).count() == 2)
    val delAll = Seq((1L, "a", "D", 1L), (2L, "b", "D", 1L))
      .toDF("k", "v", "op", "seq")
    assert(MergeUpsert.applyCdc(base, delAll, Seq("k")).count() == 0)
  }

  test("RangeJoin.pointInRange: equals the theta join; boundaries half-open; exactly-once") {
    import graft.operators.RangeJoin
    val points = Seq((1L, -5.0), (2L, 0.0), (3L, 7.5), (4L, 10.0), (5L, 23.0))
      .toDF("pid", "v")
    // overlapping ranges incl. one spanning many chunks at width 2
    val ranges = Seq((10L, 0.0, 10.0), (11L, 5.0, 8.0), (12L, -100.0, 100.0))
      .toDF("rid", "lo", "hi")
    val got = RangeJoin.pointInRange(points, "v", ranges, "lo", "hi", 2.0)
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val want = (for {
      (p, v) <- Seq((1L, -5.0), (2L, 0.0), (3L, 7.5), (4L, 10.0), (5L, 23.0))
      (r, lo, hi) <- Seq((10L, 0.0, 10.0), (11L, 5.0, 8.0), (12L, -100.0, 100.0))
      if v >= lo && v < hi
    } yield (p, r)).sorted
    assert(got == want)
    // v == lo in (pid 2 -> rid 10), v == hi excluded (pid 4 -> rid 10 absent)
    assert(got.contains((2L, 10L)) && !got.contains((4L, 10L)))
    // the wide range matched every point exactly once despite 100 chunk copies
    assert(got.count(_._2 == 12L) == 5)
  }

  test("ZOrder2: known interleaves, out-of-range rejected") {
    import graft.functions.ZOrder2
    assert(ZOrder2.interleave(0xffffL, 0L) == 0x55555555L)
    assert(ZOrder2.interleave(0L, 0xffffL) == 0xaaaaaaaaL)
    assert(ZOrder2.interleave(3L, 1L) == 7L)
    assert(ZOrder2.interleave(2L, 2L) == 12L)
    intercept[IllegalArgumentException] { ZOrder2.interleave(65536L, 0L) }
    intercept[IllegalArgumentException] { ZOrder2.interleave(0L, -1L) }
    // through the engine (codegen path)
    val z = Seq((3L, 1L)).toDF("a", "b")
      .select(ZOrder2.zorder($"a", $"b").as("z")).head().getLong(0)
    assert(z == 7L)
  }

  test("Z-order layout: per-file spans tighten on the second dimension") {
    import graft.functions.ZOrder2
    val cust = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .select($"c_custkey",
        $"c_nationkey".cast("long").as("a"),
        floor(($"c_acctbal" + lit(1000.0)) / 100.0).cast("long").as("b"))
    val zed = cust.withColumn("z", ZOrder2.zorder($"a", $"b"))
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    zed.repartitionByRange(4, $"z").sortWithinPartitions($"z")
      .write.parquet(s"$base/zsort")
    zed.repartitionByRange(4, $"a").sortWithinPartitions($"a")
      .write.parquet(s"$base/asort")
    def meanSpanB(path: String): Double = {
      val rows = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max($"b") - min($"b")).as("span"))
        .collect().map(_.getLong(1).toDouble)
      rows.sum / rows.length
    }
    val (zs, as) = (meanSpanB(s"$base/zsort"), meanSpanB(s"$base/asort"))
    // sorting by a alone leaves b unconstrained per file; z-order must
    // tighten it materially (footer min/max then prunes b-filters too)
    assert(zs < as * 0.8, s"z-layout b-span $zs vs a-layout $as")
  }

  test("PageRank: ring is uniform, dangling redistributes, mass conserved") {
    import graft.operators.PageRank
    // 3-cycle: every node keeps exactly the uniform rank at any depth
    val ring = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "d")
    PageRank.ranks(ring, "s", "d", iters = 4).collect().foreach { row =>
      assert(math.abs(row.getDouble(1) - 1.0 / 3) < 1e-12, row)
    }
    // hand-computed single edge a->b after 1 round (b is dangling):
    // D = r(b) = 1/2; r'(a) = .15/2 + .85*(0 + .25) = .2875
    //            r'(b) = .15/2 + .85*(.5 + .25)     = .7125
    val one = PageRank.ranks(Seq(("a", "b")).toDF("s", "d"), "s", "d", iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(one("a") - 0.2875) < 1e-12)
    assert(math.abs(one("b") - 0.7125) < 1e-12)
    // mass conservation on a real graph (dangling suppliers live)
    val edges = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .join(graft.core.Tables.load(spark, "/root/testdata/sf0.001", "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select(concat(lit("c"), $"o_custkey").as("src"),
        concat(lit("s"), $"l_suppkey").as("dst"))
      .distinct()
    val mass = PageRank.ranks(edges, "src", "dst", iters = 3)
      .agg(sum($"r")).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-9, s"mass=$mass")
  }

  test("PageRank: reliable-checkpoint path equals the local path") {
    import graft.operators.PageRank
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("d", "a")).toDF("s", "d")
    val local = PageRank.ranks(edges, "s", "d", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_pr_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val rel = PageRank.ranks(edges, "s", "d", iters = 3)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(rel == local)
    } finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    }
  }

  test("ZoneMaps: stats are per-file, pruning skips out-of-range files, scan lossless") {
    import graft.sources.ZoneMaps
    val dir = java.nio.file.Files.createTempDirectory("graft_zm").toString
    try {
      val d = spark.range(0, 1000).select($"id",
        ($"id" % 7).as("v"), floor($"id" / 100).cast("int").as("bucket"))
      d.write.mode("overwrite").partitionBy("bucket").parquet(dir)
      val clustered = spark.read.parquet(dir)
      val stats = ZoneMaps.fileStats(clustered, Seq("id")).collect()
      val nFiles = stats.length
      assert(nFiles >= 10, s"expected >=10 files, got $nFiles") // 10 buckets
      assert(stats.map(_.getAs[Long]("rows")).sum == 1000)
      // range [250, 449] touches buckets 2..4 only
      val statsDf = ZoneMaps.fileStats(clustered, Seq("id"))
      val pruned = ZoneMaps.pruneFiles(statsDf, "id", 250L, 449L)
      assert(pruned.length < nFiles, s"pruned ${pruned.length} of $nFiles")
      assert(pruned.forall { f =>
        val b = f.split("bucket=")(1).split("/")(0).toInt; b >= 2 && b <= 4
      }, pruned.mkString(","))
      // lossless: pruned scan == full-scan filter, partition col intact
      val got = ZoneMaps.skipScan(spark, dir, statsDf, "id", 250L, 449L)
        .select($"id", $"v", $"bucket")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = clustered.filter($"id".between(250, 449))
        .select($"id", $"v", $"bucket")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want && got.size == 200)
      // all-pruned range: empty result, schema anchored by basePath
      val none = ZoneMaps.skipScan(spark, dir, statsDf, "id", 5000L, 6000L)
      assert(none.count() == 0)
      assert(none.columns.toSet == clustered.columns.toSet)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    }
  }

  test("scd2History: echoes collapse (null-safe), intervals close, current flagged") {
    import graft.operators.MergeUpsert
    val log = Seq(
      ("A", 1L, Some("x")), ("A", 2L, Some("x")), // echo: collapses
      ("A", 3L, Some("y")), ("A", 4L, Some("y")), // echo
      ("A", 5L, Some("x")),                       // back to x = NEW version
      ("B", 1L, None), ("B", 2L, None),           // null state echo: null-safe collapse
      ("B", 3L, Some("z"))
    ).toDF("k", "seq", "st")
    val got = MergeUpsert.scd2History(log, Seq("k"), "seq", Seq("st"))
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))).toSet
    assert(got == Set(
      ("A", Some("x"), 1L, Some(3L), false),
      ("A", Some("y"), 3L, Some(5L), false),
      ("A", Some("x"), 5L, None, true),
      ("B", None, 1L, Some(3L), false),
      ("B", Some("z"), 3L, None, true)))
  }

  test("BM25: hand-computed score, term-set semantics, precomputed lengths") {
    import graft.operators.Retrieval
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "c c c")).toDF("doc_id", "text")
    val got = Retrieval.bm25(docs, "doc_id", "text", Seq("a"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, avgdl=8/3, df(a)=2, idf=ln(1.6); d1 tf=2 dl=3, d2 tf=1 dl=2
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / 2.5)
    def norm(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (8.0 / 3.0)))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(1L -> r4(idf * norm(2, 3)), 2L -> r4(idf * norm(1, 2))))
    // repeated query terms are set-semantics: no double counting
    val dup = Retrieval.bm25(docs, "doc_id", "text", Seq("a", "a"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dup == got)
    // precomputed docLengths path is plan-equivalent
    val pre = Retrieval.bm25(docs, "doc_id", "text", Seq("a"), k = 10,
      lengths = Some(Retrieval.docLengths(docs, "doc_id", "text")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pre == got)
  }

  test("invertedIndex: sorted postings, df = posting count, maxDf stop-cut") {
    import graft.operators.Retrieval
    val docs = Seq((3L, "x y"), (1L, "x y x"), (2L, "y")).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    // per-occurrence rows collapse to per-doc postings, ascending ids
    assert(idx == Map("x" -> ((2L, Seq(1L, 3L))), "y" -> ((3L, Seq(1L, 2L, 3L)))))
    // stop-list cut: df-2 term survives, df-3 term drops before its array builds
    val capped = Retrieval.invertedIndex(docs, "doc_id", "text", maxDf = 2)
      .collect().map(_.getString(0)).toSet
    assert(capped == Set("x"))
  }

  test("HllRegister: coords match the BigInt replay; bad type fails analysis") {
    import graft.functions.HllRegister
    import graft.queries.HashReplay
    for (h <- Seq(0L, 42L, -1L, Long.MinValue, 0xdeadbeefL)) {
      val arr = HllRegister.compute(h, 9)
      val (bucket, rho) = (arr.getInt(0), arr.getInt(1))
      val u = HashReplay.mixWithGamma(HashReplay.unsigned(h))
      assert(bucket == (u % 512).toInt, s"bucket h=$h")
      val w = u / 512
      val wantRho = if (w == 0) 56 else 56 - w.bitLength
      assert(rho == wantRho, s"rho h=$h")
      assert(rho >= 1 && rho <= 56 && bucket >= 0 && bucket < 512)
    }
    // engine path (codegen) agrees with compute()
    val viaEngine = Seq(42L).toDF("h")
      .select(HllRegister.registerCoords($"h", 9).as("c"))
      .head().getSeq[Int](0)
    val direct = HllRegister.compute(42L, 9)
    assert(viaEngine == Seq(direct.getInt(0), direct.getInt(1)))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq("x").toDF("s")
        .select(HllRegister.registerCoords($"s", 9)).collect()
    }
  }

  test("Hll: merge == whole-corpus registers; estimate inside the error bound") {
    import graft.operators.Hll
    val toks = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", explode(split($"text", "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .withColumn("g", lit("all"))
    val key = Fnv1a64.fnv64($"w")
    // sharding is arbitrary: registers of two halves merge to exactly
    // the whole-corpus register table (max is associative/commutative)
    val ra = Hll.registers(toks.filter($"doc_id" % 2 === 0), Seq("g"), key, 9)
    val rb = Hll.registers(toks.filter($"doc_id" % 2 === 1), Seq("g"), key, 9)
    val merged = Hll.merge(ra, rb, Seq("g"))
    val whole = Hll.registers(toks, Seq("g"), key, 9)
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty)
    // estimate vs exact: 3 sigma at p=9 is ~4.7%; allow slack
    val est = Hll.estimate(whole, Seq("g"), 9).head().getDouble(1)
    val exact = toks.select("w").distinct().count().toDouble
    assert(math.abs(est - exact) / exact < 0.15, s"est=$est exact=$exact")
    // duplicates never move a register: doubling the corpus is a no-op
    val doubled = Hll.estimateDistinct(toks.unionAll(toks), Seq("g"), key, 9)
      .head().getDouble(1)
    assert(doubled == est)
  }

  test("Hll small-range correction: linear counting on tiny cardinalities") {
    import graft.operators.Hll
    val ten = spark.range(10).select(lit("g").as("g"), $"id")
    val est = Hll.estimateDistinct(ten, Seq("g"), $"id", 9).head().getDouble(1)
    // raw HLL over-corrects tiny sets; linear counting lands close
    assert(est > 7.0 && est < 13.0, s"est=$est")
  }

  test("CountMinBuckets: range, determinism, power-of-two width enforced") {
    import graft.functions.CountMinBuckets
    val rows = Seq(1L, -7L, Long.MinValue, 42L).toDF("h")
      .select(CountMinBuckets.buckets($"h", 4, 512).as("b"))
      .collect().map(_.getSeq[Int](0))
    rows.foreach { b =>
      assert(b.length == 4)
      b.foreach(x => assert(x >= 0 && x < 512))
    }
    // same input twice -> same buckets (no RNG state)
    assert(rows(3) == Seq(1L, -7L, Long.MinValue, 42L).toDF("h")
      .select(CountMinBuckets.buckets($"h", 4, 512).as("b"))
      .collect().map(_.getSeq[Int](0)).apply(3))
    intercept[IllegalArgumentException] {
      graft.functions.CountMinBuckets(
        org.apache.spark.sql.catalyst.expressions.Literal(1L), 4, 500)
    }
  }

  test("count-min sketch: estimate is an upper bound; per-row mass conserved") {
    import graft.operators.Sketches
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val hh = Sketches.countMinHeavyHitters(docs, "text", d = 4, w = 512, k = 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(hh.length == 20)
    hh.foreach { case (w, t, e) => assert(e >= t, s"$w: est $e < true $t") }
    // each of the d sketch rows holds the whole token mass
    val wc = docs.select(explode(split($"text", "\\s+")).as("w"))
      .filter(length($"w") > 0).groupBy("w").agg(count(lit(1)).as("c"))
    val total = wc.agg(sum($"c")).head().getLong(0)
    val perRow = Sketches.countMinCounters(wc, "w", "c", d = 4, w = 512)
      .groupBy("j").agg(sum($"cnt").as("s")).collect()
    assert(perRow.length == 4)
    perRow.foreach(r => assert(r.getLong(1) == total))
  }

  test("IncrementalAgg.applyDelta: update, new group, zero-count drop") {
    import graft.operators.IncrementalAgg
    val base = Seq(("a", 2L, BigDecimal("10.00")), ("b", 1L, BigDecimal("5.00")))
      .toDF("g", "cnt", "s")
    val delta = Seq(
      ("a", BigDecimal("3.00"), 1),   // insert into existing group
      ("b", BigDecimal("5.00"), -1),  // retract b's only row -> group drops
      ("c", BigDecimal("7.00"), 1)    // brand-new group
    ).toDF("g", "s", "sign")
    val got = IncrementalAgg.applyDelta(base, delta, Seq("g"), "cnt", Seq("s"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq(("a", 3L), ("c", 1L)))
    assert(BigDecimal(got(0)._3) == BigDecimal("13.00"))
    assert(BigDecimal(got(1)._3) == BigDecimal("7.00"))
  }

  test("IncrementalAgg.applyDelta: empty delta is identity") {
    import graft.operators.IncrementalAgg
    val base = Seq(("a", 2L, BigDecimal("10.00"))).toDF("g", "cnt", "s")
    val none = Seq.empty[(String, BigDecimal, Int)].toDF("g", "s", "sign")
    val got = IncrementalAgg.applyDelta(base, none, Seq("g"), "cnt", Seq("s"))
      .collect()
    assert(got.length == 1 && got(0).getLong(1) == 2L)
  }

  test("UnicodeNormalize: NFC composes, NFKC folds compatibility forms") {
    import graft.functions.UnicodeNormalize
    // decomposed e + combining acute -> single composed code point
    val nfc = Seq("e\u0301").toDF("s")
      .select(UnicodeNormalize.nfc($"s").as("n")).head().getString(0)
    assert(nfc == "\u00e9" && nfc.length == 1)
    // NFKC folds the fi ligature and fullwidth digits; NFC must not
    val src = Seq("\ufb01 \uff11\uff12").toDF("s")
    val nfkc = src.select(UnicodeNormalize.normalized($"s", "NFKC").as("n"))
      .head().getString(0)
    assert(nfkc == "fi 12")
    val nfcOnly = src.select(UnicodeNormalize.nfc($"s").as("n"))
      .head().getString(0)
    assert(nfcOnly == "\ufb01 \uff11\uff12")
    // null passthrough + already-normalized ASCII unchanged
    val rows = Seq(Some("plain"), None).toDF("s")
      .select(UnicodeNormalize.nfc($"s").as("n")).collect()
    assert(rows.map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
      == Seq("plain", null))
  }

  test("UnicodeNormalize: non-string input fails analysis, bad form fails fast") {
    import graft.functions.UnicodeNormalize
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("i").select(UnicodeNormalize.nfc($"i")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("string"))
    intercept[IllegalArgumentException] {
      graft.functions.UnicodeNormalize(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), "NFX")
    }
  }

  test("weightedSample: weight-proportional inclusion, deterministic, k>=n = all") {
    import graft.operators.Sampling
    // 500 light rows (w=1) vs 500 heavy rows (w=50): a 200-row sample
    // must lean heavily toward the heavy half (E[heavy] ≈ 196)
    val df = (0L until 1000L).map(i => (i, if (i < 500) 1.0 else 50.0)).toDF("id", "w")
    val picked = Sampling.weightedSample(df, "id", "w", 200)
      .collect().map(_.getLong(0))
    assert(picked.length == 200)
    val heavy = picked.count(_ >= 500)
    assert(heavy > 150, s"heavy=$heavy of 200 — weighting not proportional")
    // deterministic under re-partitioning (no RNG state)
    val again = Sampling.weightedSample(df.repartition(7), "id", "w", 200)
      .collect().map(_.getLong(0))
    assert(picked.sorted.toSeq == again.sorted.toSeq)
    // k >= n keeps everything
    assert(Sampling.weightedSample(df, "id", "w", 5000).count() == 1000)
  }

  test("madOutliers: robust to a planted corrupt value; mean/stddev rule is not") {
    import graft.operators.Profiling
    // 9 values near 10 + one corrupt 1e6: median/MAD flag exactly the
    // corrupt row; a 3-sigma mean rule would flag nothing (the outlier
    // drags sigma past itself)
    val vals = Seq(9.0, 9.5, 10.0, 10.0, 10.5, 11.0, 9.8, 10.2, 9.9, 1e6)
    val df = vals.map(("g", _)).toDF("k", "v")
    val r = Profiling.madOutliers(df, "k", "v").head()
    assert(r.getDouble(1) == 10.0)              // median
    assert(r.getLong(3) == 1L && r.getLong(4) == 10L)
    assert(r.getDouble(5) == 0.1)               // outlier_rate
    val meanCut = {
      val m = vals.sum / vals.size
      val sd = math.sqrt(vals.map(v => (v - m) * (v - m)).sum / vals.size)
      vals.count(v => math.abs(v - m) > 3 * sd)
    }
    assert(meanCut == 0) // the non-robust rule misses it entirely
  }

  test("chiSquare: hand-computed 2x2 statistic and dof") {
    import graft.operators.Profiling
    // contingency: (x,a)=30 (x,b)=10 (y,a)=10 (y,b)=30
    // marginals 40/40, 40/40, total 80 -> every expected cell = 20
    // chi2 = 4 * (10^2/20) = 20, dof = 1
    val rows = Seq.fill(30)(("x", "a")) ++ Seq.fill(10)(("x", "b")) ++
      Seq.fill(10)(("y", "a")) ++ Seq.fill(30)(("y", "b"))
    val r = Profiling.chiSquare(rows.toDF("u", "w"), "u", "w").head()
    assert(r.getDouble(0) == 20.0 && r.getLong(1) == 1L)
  }

  test("funnelReach: ordered chain, gap window, same-instant tie, out-of-order steps") {
    import graft.operators.EventAnalytics
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // u1: clean a->b->c inside gaps
      (1L, "a", ts(0)), (1L, "b", ts(5)), (1L, "c", ts(10)),
      // u2: b BEFORE a — must not count for step 2; later b qualifies
      (2L, "b", ts(0)), (2L, "a", ts(1)), (2L, "b", ts(2)),
      // u3: b outside the 10-minute gap -> chain stops at a
      (3L, "a", ts(0)), (3L, "b", ts(20)),
      // u4: a and b at the SAME instant chain in step order; c next tick
      (4L, "a", ts(3)), (4L, "b", ts(3)), (4L, "c", ts(4)),
      // u5: never does step a at all (c alone counts nothing)
      (5L, "c", ts(0))
    ).toDF("u", "t", "ts")
    val got = EventAnalytics.funnelReach(ev, "u", "t", "ts",
        Seq("a", "b", "c"), maxGap = Some("10 minutes"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1, "a", 4L), (2, "b", 3L), (3, "c", 2L)))
    // ungapped: u3's late b now chains
    val open = EventAnalytics.funnelReach(ev, "u", "t", "ts", Seq("a", "b", "c"))
      .collect().map(r => r.getLong(2)).toSeq
    assert(open == Seq(4L, 4L, 2L))
  }

  test("retentionCohorts: cohort = first day, offsets count distinct active days") {
    import graft.operators.EventAnalytics
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d $h%02d:00:00")
    val ev = Seq(
      (1L, ts(1, 9)), (1L, ts(1, 17)), (1L, ts(3, 9)),  // cohort 3/1, days 0 and 2
      (2L, ts(1, 12)),                                  // cohort 3/1, day 0 only
      (3L, ts(2, 8)), (3L, ts(3, 8))                    // cohort 3/2, days 0 and 1
    ).toDF("u", "ts")
    val got = EventAnalytics.retentionCohorts(ev, "u", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("2024-03-01", 0, 2L), ("2024-03-01", 2, 1L),
      ("2024-03-02", 0, 1L), ("2024-03-02", 1, 1L)))
  }

  test("resampleFill: holes forward-fill per key, leading holes stay null") {
    import graft.operators.EventAnalytics
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      ("x", ts(0, 10), 1.0), ("x", ts(0, 40), 2.0), // hour 0: sum 3
      ("x", ts(3, 0), 5.0),                         // hours 1,2 are holes
      ("y", ts(2, 0), 7.0)                          // y starts at hour 2: 0,1 leading-null
    ).toDF("k", "ts", "value")
    val got = EventAnalytics.resampleFill(ev, "k", "ts",
        sum(col("value").cast("decimal(18,2)")).cast("double"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getHours,
        if (r.isNullAt(2)) null else r.getDouble(2), r.getBoolean(3))).toSeq
    assert(got == Seq(
      ("x", 0, 3.0, false), ("x", 1, 3.0, true), ("x", 2, 3.0, true), ("x", 3, 5.0, false),
      ("y", 0, null, true), ("y", 1, null, true), ("y", 2, 7.0, false), ("y", 3, 7.0, true)))
  }

  test("basketPairs: per-basket dedup, canonical u<v, cross-basket counts") {
    import graft.operators.CoOccurrence
    val df = Seq(
      (1L, 10L), (1L, 20L), (1L, 20L), (1L, 30L), // dup item collapses
      (2L, 20L), (2L, 10L),                       // order within basket irrelevant
      (3L, 30L)                                   // singleton: no pairs
    ).toDF("b", "i")
    val got = CoOccurrence.basketPairs(df, "b", "i")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L)))
  }

  test("triangleStats: K4 has 4 triangles; planted graph matches brute force") {
    import graft.operators.CoOccurrence
    val k4 = (for (u <- 1L to 4L; v <- (u + 1) to 4L) yield (u, v)).toDF("u", "v")
    val r1 = CoOccurrence.triangleStats(k4).head()
    assert((r1.getLong(0), r1.getLong(1), r1.getDouble(2)) == ((6L, 4L, 1.0)))
    // planted: one triangle + a pendant + a square (no triangle)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L)).toDF("u", "v")
    val r2 = CoOccurrence.triangleStats(g).head()
    assert(r2.getLong(0) == 8L && r2.getLong(1) == 1L)
  }

  test("localClustering: hand-computed lcc, degree<2 excluded, topK cut") {
    import graft.operators.CoOccurrence
    // two shared triangles + a pendant: 1-2-3 and 2-3-4 triangles,
    // 4-5 pendant edge. deg: 1→2, 2→3, 3→3, 4→3, 5→1.
    // tri/node: 1→1, 2→2, 3→2, 4→1. lcc: 1.0, 2/3, 2/3, 1/3; node 5 out.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val got = CoOccurrence.localClustering(g, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 1.0), (2L, 3L, 2L, 0.6667), (3L, 3L, 2L, 0.6667),
      (4L, 3L, 1L, 0.3333)))
    // K4: every node sits in 3 triangles of its 3-neighbour clique → all 1.0
    val k4 = (for (u <- 1L to 4L; v <- (u + 1) to 4L) yield (u, v)).toDF("u", "v")
    val all1 = CoOccurrence.localClustering(k4, topK = 10).collect()
    assert(all1.length == 4 && all1.forall(r => r.getDouble(3) == 1.0 &&
      r.getLong(2) == 3L))
    // topK cut is the (lcc DESC, node) prefix
    val cut = CoOccurrence.localClustering(g, topK = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(cut == Seq(1L, 2L))
    // square (no triangles): lcc = 0.0 rows, not dropped
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val zeros = CoOccurrence.localClustering(sq, topK = 10).collect()
    assert(zeros.length == 4 && zeros.forall(r => r.getDouble(3) == 0.0 &&
      r.getLong(2) == 0L))
  }

  test("editDistance1Join: equals brute-force levenshtein<=1 incl. ins/del/sub") {
    import graft.operators.StringSimJoin
    val strs = Seq("abcd", "abed", "abd", "abcde", "abcd", "zzzz", "ab",
      "ba", "a", "b", "", "xabcd", "abxcd").zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = strs.toDF("id", "s")
    val got = StringSimJoin.editDistance1Join(df, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    val brute = (for {
      (ia, a) <- strs; (ib, b) <- strs
      if ia < ib && a.nonEmpty && b.nonEmpty
      d = {
        val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to a.length; j <- 1 to b.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
            dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        dp(a.length)(b.length)
      }
      if d <= 1
    } yield (ia.toLong, ib.toLong, d)).toSet
    assert(got == brute)
    assert(brute.exists(_._3 == 0) && brute.exists(_._3 == 1)) // non-vacuous
  }

  test("olsByGroup recovers a planted line exactly (slope/intercept/r2)") {
    import graft.operators.Stats
    // y = 3x + 7 exactly in group a; group b has noise so r2 < 1
    // group b noise (+1,-1,-1,+1 per block of 4) is orthogonal to both
    // the constant and the linear term, so slope/intercept stay exact
    val rows = (1 to 20).map(i => ("a", i.toDouble, 3.0 * i + 7.0)) ++
      (1 to 20).map(i => ("b", i.toDouble,
        2.0 * i + (if (i % 4 == 1 || i % 4 == 0) 1.0 else -1.0)))
    val got = Stats.olsByGroup(rows.toDF("g", "x", "y"), "g", "y", "x")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (na, sa, ia, ra) = got("a")
    assert(na == 20L && math.abs(sa - 3.0) < 1e-9 && math.abs(ia - 7.0) < 1e-9)
    assert(math.abs(ra - 1.0) < 1e-9)
    val (_, sb, _, rb) = got("b")
    assert(math.abs(sb - 2.0) < 1e-9) // symmetric noise cancels in slope
    assert(rb < 1.0)                  // but costs fit quality
  }

  test("ksTest: identical samples give D=0, disjoint samples give D=1") {
    import graft.operators.Stats
    val same = ((1 to 50).map(i => (i.toDouble, "a")) ++
      (1 to 50).map(i => (i.toDouble, "b"))).toDF("v", "s")
    val d0 = Stats.ksTest(same, "v", col("s") === "a", buckets = 4)
      .head().getDouble(2)
    assert(d0 == 0.0)
    val disjoint = ((1 to 50).map(i => (i.toDouble, "a")) ++
      (1 to 50).map(i => (i.toDouble + 1000, "b"))).toDF("v", "s")
    val d1 = Stats.ksTest(disjoint, "v", col("s") === "a", buckets = 4)
      .head().getDouble(2)
    assert(d1 == 1.0)
    // and the bucketed CDF equals the naive global-window CDF on a
    // mixed sample, for every bucket count (bucket boundaries must
    // never change the result)
    val mixed = ((1 to 40).map(i => ((i * 7 % 23).toDouble, "a")) ++
      (1 to 60).map(i => ((i * 5 % 19).toDouble, "b"))).toDF("v", "s")
    val naive = {
      val c = mixed.groupBy($"v")
        .agg(sum(when($"s" === "a", 1L).otherwise(0L)).as("na"),
          sum(when($"s" === "a", 0L).otherwise(1L)).as("nb"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      c.select(sum($"na").over(w).as("ca"), sum($"nb").over(w).as("cb"))
        .agg(max(abs($"ca" / 40.0 - $"cb" / 60.0))).head().getDouble(0)
    }
    for (b <- Seq(1, 2, 8, 64)) {
      val d = Stats.ksTest(mixed, "v", col("s") === "a", buckets = b)
        .head().getDouble(2)
      assert(math.abs(d - naive) < 1e-12, s"buckets=$b: $d != $naive")
    }
  }

  test("equiDepthBins matches NTILE semantics incl. the uneven remainder") {
    import graft.operators.Stats
    // 23 rows into 5 bins: NTILE gives sizes 5,5,5,4,4
    val df = (1 to 23).map(i => (i.toLong, (i * 13 % 29).toDouble + i * 1e-3))
      .toDF("id", "v")
    val got = Stats.equiDepthBins(df, "v", "id", bins = 5, buckets = 3)
      .orderBy("bin").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(5L, 5L, 5L, 4L, 4L))
    // replay with Spark's own ntile for exact bin membership
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v", $"id")
    val want = df.withColumn("bin", ntile(5).over(w))
      .groupBy("bin").agg(count(lit(1)).as("cnt"), min("v").as("lo"), max("v").as("hi"))
      .orderBy("bin").collect()
    got.zip(want).foreach { case (g, w2) =>
      assert(g.getInt(0) == w2.getInt(0) && g.getLong(1) == w2.getLong(1))
      assert(g.getDouble(2) == w2.getDouble(2) && g.getDouble(3) == w2.getDouble(3))
    }
  }

  test("bfsHops: layered distances, undirected reach, maxHops bound") {
    import graft.operators.GraphTraversal
    // path graph 1-2-3-4-5 plus island 9; seed at 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 9L)).toDF("s", "d")
    val seeds = Seq(1L).toDF("n")
    val got = GraphTraversal.bfsHops(edges, "s", "d", seeds, "n", maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3)) // 5 is 4 hops: cut
    // directed: edges only go low→high, so seeding at 3 reaches {3,4,5}
    val dirGot = GraphTraversal.bfsHops(edges, "s", "d", Seq(3L).toDF("n"), "n",
      maxHops = 3, directed = true)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dirGot == Map(3L -> 0, 4L -> 1, 5L -> 2))
    // undirected from 3 also walks back to 1
    val undirGot = GraphTraversal.bfsHops(edges, "s", "d", Seq(3L).toDF("n"), "n",
      maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(undirGot == Map(3L -> 0, 2L -> 1, 4L -> 1, 1L -> 2, 5L -> 2))
  }

  test("dropNearDuplicatesBy: best copy survives per cluster, isolated rows kept") {
    import graft.operators.Dedup
    // clusters {1,2,3} (chain) and {10,11}; 20 isolated. priorities:
    // cluster 1: doc 2 is best; cluster 2: tie 10/11 → smaller id
    val d = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0), (10L, 4.0), (11L, 4.0),
      (20L, 1.0)).toDF("id", "pri")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("ida", "idb")
    val got = Dedup.dropNearDuplicatesBy(d, "id", "pri", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 10L, 20L))
    // min-id policy on the same input keeps {1, 10, 20} — the two
    // survivor policies share the component computation but differ
    // exactly on the quality choice
    val minIds = Dedup.dropNearDuplicates(d, "id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(minIds == Set(1L, 10L, 20L))
    // NULL-priority policy (round-8 advice): NULL ranks BELOW every
    // real priority (DESC NULLS LAST), so doc 31's null loses to 30's
    // 1.0; an all-NULL cluster falls back to the smallest id
    val withNulls = Seq((30L, Some(1.0)), (31L, None),
      (40L, Option.empty[Double]), (41L, Option.empty[Double]))
      .toDF("id", "pri")
    val np = Seq((30L, 31L), (40L, 41L)).toDF("ida", "idb")
    val gotN = Dedup.dropNearDuplicatesBy(withNulls, "id", "pri", np)
      .collect().map(_.getLong(0)).toSet
    assert(gotN == Set(30L, 40L), gotN.toString)
  }

  test("incrementalBest: admit / replace / drop against the index, null priority loses") {
    import graft.operators.Dedup
    val hist = Seq(
      (2L, "the quick brown fox jumps over the lazy dog near the river bank", Some(63.0)),
      (4L, "completely different text about spark query engines and shuffles here", Some(70.0)))
      .toDF("doc_id", "text", "pri")
    val index = Dedup.minhashSignatures(hist, "doc_id", "text")
    val batch = Seq(
      // near-copy of 2, HIGHER priority → replace
      (101L, "the quick brown fox jumps over the lazy dog near the river bend", Some(99.0)),
      // near-copy of 2, LOWER priority → drop
      (103L, "the quick brown fox jumps over the lazy dog near a river bank", Some(10.0)),
      // no match anywhere → admit
      (105L, "entirely novel document with words shared by nothing in the corpus", Some(50.0)),
      // near-copy of 2 with NULL priority → ranks below 63.0 → drop
      (107L, "the quick brown fox jumps over the lazy dog near the river bank", Option.empty[Double]))
      .toDF("doc_id", "text", "pri")
    val got = Dedup.incrementalBest(batch, "doc_id", "text", "pri",
        index, hist.select(col("doc_id"), col("pri")), minJaccard = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got(101L) == ("replace", 2L), got.toString)
    assert(got(103L) == ("drop", 2L), got.toString)
    assert(got(105L) == ("admit", -1L), got.toString)
    assert(got(107L) == ("drop", 2L), got.toString)
    // matched doc ABSENT from historyPriority (stale priority table):
    // the missing row must rank like a NULL priority (-Inf), so a new
    // doc with any real priority replaces — not silently drops
    // (review: the bare `__np > NULL` comparison fell through to drop)
    val gotStale = Dedup.incrementalBest(batch, "doc_id", "text", "pri",
        index, hist.filter(col("doc_id") =!= 2L).select(col("doc_id"), col("pri")),
        minJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotStale(101L) == "replace", gotStale.toString)
    assert(gotStale(103L) == "replace", gotStale.toString) // 10.0 > missing(-Inf)
    assert(gotStale(107L) == "drop", gotStale.toString) // NULL vs missing: tie keeps history
  }

  test("budgetSelect: greedy prefix, id tie-break, empty under tiny budget") {
    import graft.operators.Sampling
    val d = Seq(("a", 10L), ("c", 8L), ("b", 8L), ("d", 1L)).toDF("id", "cost")
    // order by (cost desc, id): a(10) b(18) c(26) d(27); budget 20 → {a, b}
    val got = Sampling.budgetSelect(d, "id", "cost", "cost", budget = 20L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("a" -> 10L, "b" -> 18L))
    // first row alone over budget → nothing selected (prefix rule)
    assert(Sampling.budgetSelect(d, "id", "cost", "cost", budget = 5L).count() == 0)
    // equals the global-sort definition across bucket counts
    val rnd = new scala.util.Random(9)
    val big = Seq.tabulate(2000)(i => (i.toLong, rnd.nextInt(100).toLong + 1))
      .toDF("id", "cost")
    val sorted = big.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, c) => (-c, id) }
    val budget = sorted.map(_._2).sum / 3
    var acc = 0L
    val expect = sorted.takeWhile { case (_, c) => acc += c; acc <= budget }
      .map(_._1).toSet
    for (buckets <- Seq(1, 16)) {
      val sel = Sampling.budgetSelect(big, "id", "cost", "cost", budget, buckets)
        .collect().map(_.getLong(0)).toSet
      assert(sel == expect, s"buckets=$buckets")
    }
  }

  test("bigramNll: hand-computed interpolated model, short docs absent") {
    import graft.operators.TextAnalysis
    // corpus: "a b a b" + "a a" + single-token "z"
    // N=7, uni: a=4 b=2 z=1; bigrams: (a,b)x2 (b,a)x1 (a,a)x1
    // ctx: a=3, b=1
    val docs = Seq((1L, "a b a b"), (2L, "a a"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramNll(docs, "doc_id", "text", lambda = 0.75)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def p(c2: Double, c1: Double, u: Double) =
      0.75 * (c2 / c1) + 0.25 * (u / 7.0)
    val pAB = p(2, 3, 2); val pBA = p(1, 1, 4); val pAA = p(1, 3, 4)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nll1 = r4(-(math.log(pAB) + math.log(pBA) + math.log(pAB)) / 3.0)
    val nll2 = r4(-math.log(pAA))
    assert(got.toSeq == Seq((1L, 3L, nll1), (2L, 1L, nll2))) // doc 3: no bigrams
    // split artifacts (double spaces) never break adjacency
    val messy = Seq((1L, "a  b"), (2L, "a b")).toDF("doc_id", "text")
    val two = TextAnalysis.bigramNll(messy, "doc_id", "text")
      .collect().map(r => r.getDouble(2)).distinct
    assert(two.length == 1) // both docs score identically
  }

  test("exactQuantiles: order statistics with ties, rank edges, null exclusion") {
    import graft.operators.Stats
    // ties: [1,1,1,2] — k(0.5)=2 → 1, k(0.76)=⌈3.04⌉=4 → 2, k(1.0)=4 → 2
    val tied = Seq(1.0, 1.0, 1.0, 2.0).toDF("x")
    val gotT = Stats.exactQuantiles(tied, "x", Seq(0.5, 0.76, 1.0))
      .orderBy("p").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(3)))
    assert(gotT.toSeq == Seq((0.5, 2L, 1.0), (0.76, 4L, 2.0), (1.0, 4L, 2.0)))
    // 1..10 with a NULL: n stays 10 (observed values only), p50 → 5
    val ten = ((1 to 10).map(i => Some(i.toDouble)) :+ None).toDF("x")
    val got10 = Stats.exactQuantiles(ten, "x", Seq(0.5, 0.9))
      .orderBy("p").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got10.toSeq == Seq((0.5, 5L, 10L, 5.0), (0.9, 9L, 10L, 9.0)))
    // agrees with a full sort at a larger size across bucket counts
    val rnd = new scala.util.Random(3)
    val big = Seq.fill(5000)(rnd.nextDouble() * 100).toDF("x")
    val sorted = big.orderBy("x").collect().map(_.getDouble(0))
    for (buckets <- Seq(1, 7, 32)) {
      val got = Stats.exactQuantiles(big, "x", Seq(0.25, 0.5, 0.99), buckets)
        .orderBy("p").collect()
      got.foreach { r =>
        val k = r.getLong(1).toInt
        assert(r.getDouble(3) == sorted(k - 1), s"p=${r.getDouble(0)} buckets=$buckets")
      }
    }
  }

  test("ntileLead: matches the single-window form across ties/buckets; nulls out, empty in") {
    import graft.operators.Stats
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (1L to 500L).map(i => (i, rnd.nextInt(40))) // heavy ties
    val df = rows.toDF("id", "v")
    // ground truth: the naive single-partition NTILE/LEAD window
    val w = Window.orderBy(col("v").desc, col("id"))
    val want = df.select(col("id"),
        ntile(7).over(w).cast("int").as("nt"), lead(col("v"), 1).over(w).as("nx"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    // bucket count never changes the result (balance only), including
    // the degenerate 1-bucket fallback
    for (b <- Seq(1, 5, 32)) {
      val got = Stats.ntileLead(df, "v", "id", bins = 7,
          descending = true, buckets = b)
        .select(col("id"), col("ntile"), col("next_value")).collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
      assert(got == want, s"buckets=$b")
    }
    // ascending order + NULL values excluded (observed-values policy)
    val withNull = (rows.map { case (i, v) => (i, Option(v)) } :+ ((0L, Option.empty[Int])))
      .toDF("id", "v")
    val wAsc = Window.orderBy(col("v"), col("id"))
    val wantAsc = df.select(col("id"), ntile(3).over(wAsc).cast("int").as("nt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gotAsc = Stats.ntileLead(withNull, "v", "id", bins = 3).collect()
    assert(!gotAsc.map(_.getLong(0)).contains(0L), "NULL row must be excluded")
    assert(gotAsc.map(r => r.getLong(0) -> r.getInt(2)).toMap == wantAsc)
    // empty input → empty output with the full schema
    val empty = Stats.ntileLead(df.filter(lit(false)), "v", "id", bins = 4)
    assert(empty.columns.toSeq == Seq("id", "v", "ntile", "next_value"))
    assert(empty.count() == 0L)
  }

  test("gini: known values, tie/bucket invariance, sorted replay, guards") {
    import graft.operators.Stats
    // textbook cases: [1,2,3,4] → 0.25; all-equal → 0;
    // [0,0,0,12] → (n−1)/n = 0.75
    def g(xs: Seq[Long], buckets: Int = 32): (Long, Long, Double) = {
      val r = Stats.gini(xs.toDF("x"), "x", buckets).head()
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    assert(g(Seq(1L, 2L, 3L, 4L)) == ((4L, 10L, 0.25)))
    assert(g(Seq(5L, 5L, 5L)) == ((3L, 15L, 0.0)))
    assert(g(Seq(0L, 0L, 0L, 12L)) == ((4L, 12L, 0.75)))
    // bucket count never changes the exact integer rank sums
    val rnd = new scala.util.Random(11)
    val big = Seq.fill(4000)(rnd.nextInt(1000).toLong + 1L)
    val ref = g(big, 32)
    for (b <- Seq(1, 7, 64)) assert(g(big, b) == ref, s"buckets=$b")
    // equals the brute-force sorted-rank formula
    val s = big.sorted
    val n = s.length.toDouble
    val brute = 2.0 * s.zipWithIndex.map { case (x, i) =>
      (i + 1).toDouble * x }.sum / (n * s.sum.toDouble) - (n + 1.0) / n
    assert(math.abs(ref._3 - brute) < 1e-6) // ref is round(6)
    // NULLs excluded; negatives and zero totals fail loud
    val withNull = (big.map(Some(_)) :+ None).toDF("x")
    assert(Stats.gini(withNull, "x").head().getLong(0) == 4000L)
    intercept[IllegalArgumentException] {
      Stats.gini(Seq(-1L, 2L).toDF("x"), "x").collect()
    }
    intercept[IllegalArgumentException] {
      Stats.gini(Seq(0L, 0L).toDF("x"), "x").collect()
    }
    assert(Stats.gini(Seq.empty[Long].toDF("x"), "x").count() == 0L)
    // fractional inputs fail LOUD (a price column would otherwise be
    // silently rounded per value to decimal(38,0) — wrong answer, no
    // error); the message routes to the rescale contract
    val fracErr = intercept[IllegalArgumentException] {
      Stats.gini(Seq(1.5, 2.0, 3.25).toDF("x"), "x").collect()
    }
    assert(fracErr.getMessage.contains("fractional"))
    assert(fracErr.getMessage.contains("rescale"))
    // integer-VALUED doubles still pass (the check is on values, not
    // on the column's declared type)
    assert(Stats.gini(Seq(1.0, 2.0, 3.0, 4.0).toDF("x"), "x")
      .head().getDouble(2) == 0.25)
    // the documented rescale contract: Gini is invariant under a
    // uniform integer rescale of the fractional column
    val frac = Seq(1.5, 2.0, 3.25, 0.75)
    val scaled = Stats.gini(frac.map(v => math.round(v * 100)).toDF("x"), "x").head()
    val bruteF = {
      val s = frac.sorted; val nn = s.length.toDouble
      2.0 * s.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum /
        (nn * s.sum) - (nn + 1.0) / nn
    }
    assert(math.abs(scaled.getDouble(2) - bruteF) < 1e-6)
  }

  test("groupedGini: per-group values match global gini, guards fail loud") {
    import graft.operators.Stats
    // two planted groups: each group's row must equal the global
    // gini of that group's values alone
    val df = (Seq(1L, 2L, 3L, 4L).map(("u", _)) ++
      Seq(0L, 0L, 0L, 12L).map(("v", _)) ++
      Seq(5L, 5L, 5L).map(("w", _))).toDF("g", "x")
    val got = Stats.groupedGini(df, "g", "x").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map("u" -> ((4L, 10L, 0.25)),
      "v" -> ((4L, 12L, 0.75)), "w" -> ((3L, 15L, 0.0))))
    // output is group-sorted (the literal-frame contract)
    assert(Stats.groupedGini(df, "g", "x").collect().map(_.getString(0)).toSeq
      == Seq("u", "v", "w"))
    // bucket count never changes the exact integer rank sums
    assert(Stats.groupedGini(df, "g", "x", buckets = 1).collect().toSeq ==
      Stats.groupedGini(df, "g", "x", buckets = 64).collect().toSeq)
    // NULL group keys and NULL values are excluded
    val withNulls = df.union(Seq((null.asInstanceOf[String], 9L)).toDF("g", "x"))
      .union(Seq(("u", null.asInstanceOf[java.lang.Long])).toDF("g", "x"))
    assert(Stats.groupedGini(withNulls, "g", "x").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("u" -> 4L, "v" -> 4L, "w" -> 3L))
    // a fractional value in ANY group fails loud with the group named
    val fracErr = intercept[IllegalArgumentException] {
      Stats.groupedGini(
        (Seq(("a", 1.0), ("a", 2.0), ("b", 1.5))).toDF("g", "x"), "g", "x")
    }
    assert(fracErr.getMessage.contains("fractional"))
    assert(fracErr.getMessage.contains("'b'"))
    // negatives and zero totals fail loud; empty input → empty frame
    intercept[IllegalArgumentException] {
      Stats.groupedGini(Seq(("a", -1L), ("a", 2L)).toDF("g", "x"), "g", "x")
    }
    intercept[IllegalArgumentException] {
      Stats.groupedGini(Seq(("a", 0L), ("a", 0L)).toDF("g", "x"), "g", "x")
    }
    assert(Stats.groupedGini(Seq.empty[(String, Long)].toDF("g", "x"),
      "g", "x").count() == 0L)
  }

  test("spearman: monotone, anti-monotone, ties as midranks, degenerate") {
    import graft.operators.Stats
    def rho(xs: Seq[(Double, Double)]): (Long, Double) = {
      val r = Stats.spearman(xs.toDF("a", "b"), "a", "b").head()
      (r.getLong(0), r.getDouble(1))
    }
    // any monotone map has rho exactly 1 regardless of Pearson-r
    val mono = (1 to 200).map(i => (i.toDouble, math.exp(i / 50.0)))
    assert(rho(mono) == ((200L, 1.0)))
    val anti = (1 to 200).map(i => (i.toDouble, -math.exp(i / 50.0)))
    assert(rho(anti)._2 == -1.0)
    // ties rank at midranks: matches a local midrank+Pearson replay
    val rnd = new scala.util.Random(7)
    val tied = Seq.fill(500)((rnd.nextInt(12).toDouble, rnd.nextInt(9).toDouble))
    def midranks(vs: Seq[Double]): Map[Double, Double] = {
      val sorted = vs.sorted.zipWithIndex.map { case (v, i) => (v, i + 1.0) }
      sorted.groupBy(_._1).view.mapValues(g => g.map(_._2).sum / g.size).toMap
    }
    val ra = midranks(tied.map(_._1)); val rb = midranks(tied.map(_._2))
    val pairs = tied.map { case (a, b) => (ra(a), rb(b)) }
    val n = pairs.length.toDouble
    val (mx, my) = (pairs.map(_._1).sum / n, pairs.map(_._2).sum / n)
    val cov = pairs.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(pairs.map(p => (p._1 - mx) * (p._1 - mx)).sum)
    val sy = math.sqrt(pairs.map(p => (p._2 - my) * (p._2 - my)).sum)
    val expect = cov / (sx * sy)
    val gotTied = rho(tied)
    assert(gotTied._1 == 500L)
    assert(math.abs(gotTied._2 - expect) < 1e-9)
    // bucket count never changes the result
    assert(Stats.spearman(tied.toDF("a", "b"), "a", "b", buckets = 3)
      .head().getDouble(1) == gotTied._2)
    // NULL in either column excludes the PAIR; constant column → NaN
    val withNull = tied.map { case (a, b) => (Some(a), Some(b)) } :+
      ((Some(1.0), Option.empty[Double])) :+ ((Option.empty[Double], Some(2.0)))
    assert(Stats.spearman(withNull.toDF("a", "b"), "a", "b")
      .head().getLong(0) == 500L)
    assert(Stats.spearman(Seq((1.0, 2.0), (2.0, 2.0)).toDF("a", "b"),
      "a", "b").head().getDouble(1).isNaN)
    assert(Stats.spearman(Seq.empty[(Double, Double)].toDF("a", "b"),
      "a", "b").count() == 0L)
  }

  test("cumeDist: equals the window form, ties share, no corpus window") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(13)
    val df = (1 to 3000).map(i => (i.toLong, rnd.nextInt(400).toDouble))
      .toDF("id", "v")
    val got = Stats.cumeDist(df, "v", "cd")
    // bit-equal to the textbook single-partition window on this size
    val want = df.withColumn("cd",
      cume_dist().over(org.apache.spark.sql.expressions.Window.orderBy(col("v"))))
    assert(got.select("id", "cd").except(want.select("id", "cd")).count() == 0L)
    assert(want.select("id", "cd").except(got.select("id", "cd")).count() == 0L)
    // schema: every input column + the out column; NULL values drop
    assert(got.columns.toSeq == Seq("id", "v", "cd"))
    val withNull = df.union(Seq((9999L, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "v"))
    assert(Stats.cumeDist(withNull, "v").count() == 3000L)
    // the engine plan has NO unpartitioned window over the corpus
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window [cume_dist()"))
    // empty input → empty frame with the out column present
    assert(Stats.cumeDist(df.filter(lit(false)), "v").columns.contains("cume_dist"))
    assert(Stats.cumeDist(df.filter(lit(false)), "v").count() == 0L)
  }

  test("anovaF: textbook decomposition, exact moments, guards") {
    import graft.operators.Stats
    // hand-computed: groups {1,2,3}, {2,3,4}, {4,5,6} → grand mean
    // 30/9; SSB = 3·((2-10/3)² + (3-10/3)² + (5-10/3)²) = 14,
    // SSW = 2+2+2 = 6, F = (14/2)/(6/6) = 7
    val df = (Seq(1, 2, 3).map(("a", _)) ++ Seq(2, 3, 4).map(("b", _)) ++
      Seq(4, 5, 6).map(("c", _))).toDF("g", "x")
    val r = Stats.anovaF(df, "g", "x").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 9L)
    assert(math.abs(r.getDouble(2) - 14.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 6.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 7.0) < 1e-9)
    // 6-dp-representable values are exact; deeper fractions fail loud
    assert(Stats.anovaF(Seq(("a", 1.25), ("a", 2.5), ("b", 3.75),
      ("b", 1.0)).toDF("g", "x"), "g", "x").head().getLong(1) == 4L)
    val fracErr = intercept[IllegalArgumentException] {
      Stats.anovaF(Seq(("a", 1.2345678), ("a", 2.0), ("b", 3.0),
        ("b", 1.0)).toDF("g", "x"), "g", "x")
    }
    assert(fracErr.getMessage.contains("6 decimal"))
    // k < 2 and n <= k fail loud; NULLs excluded
    intercept[IllegalArgumentException] {
      Stats.anovaF(Seq(("a", 1), ("a", 2)).toDF("g", "x"), "g", "x")
    }
    intercept[IllegalArgumentException] {
      Stats.anovaF(Seq(("a", 1), ("b", 2)).toDF("g", "x"), "g", "x")
    }
    val withNull = df.union(Seq((null.asInstanceOf[String], 9)).toDF("g", "x"))
    assert(Stats.anovaF(withNull, "g", "x").head().getLong(1) == 9L)
  }

  test("mutualInfo: independence is zero, determinism is full, NMI bounds") {
    import graft.operators.Stats
    // perfectly independent 2×2 (every cell 25): MI exactly 0
    val indep = (for { x <- Seq("a", "b"); y <- Seq("u", "v");
      _ <- 1 to 25 } yield (x, y)).toDF("x", "y")
    val ri = Stats.mutualInfo(indep, "x", "y").head()
    assert(ri.getLong(0) == 100L)
    assert(math.abs(ri.getDouble(1)) < 1e-12)
    assert(math.abs(ri.getDouble(2)) < 1e-12)
    // y a deterministic function of x with equal masses: MI = H(x) =
    // ln 2, NMI = 1
    val det = (Seq.fill(30)(("a", "u")) ++ Seq.fill(30)(("b", "v")))
      .toDF("x", "y")
    val rd = Stats.mutualInfo(det, "x", "y").head()
    assert(math.abs(rd.getDouble(1) - math.log(2.0)) < 1e-12)
    assert(math.abs(rd.getDouble(2) - 1.0) < 1e-12)
    // matches a local replay on a skewed table; NULL rows excluded
    val rnd = new scala.util.Random(23)
    val skew = Seq.fill(800)((s"s${rnd.nextInt(4)}", s"l${rnd.nextInt(3) * rnd.nextInt(2)}"))
    val cells = skew.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val nx = skew.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val ny = skew.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val n = skew.size.toDouble
    val miLocal = cells.map { case ((x, y), c) =>
      (c / n) * math.log(c * n / (nx(x) * ny(y))) }.sum
    val got = Stats.mutualInfo(skew.toDF("x", "y"), "x", "y").head()
    assert(math.abs(got.getDouble(1) - miLocal) < 1e-9)
    val withNull = skew.map { case (a, b) => (Option(a), Option(b)) } :+
      ((Option.empty[String], Option("l0")))
    assert(Stats.mutualInfo(withNull.toDF("x", "y"), "x", "y")
      .head().getLong(0) == 800L)
    // both columns constant → MI 0, NMI NaN; empty → empty frame
    val const = Stats.mutualInfo(Seq.fill(5)(("a", "u")).toDF("x", "y"), "x", "y").head()
    assert(const.getDouble(1) == 0.0 && const.getDouble(2).isNaN)
    assert(Stats.mutualInfo(Seq.empty[(String, String)].toDF("x", "y"),
      "x", "y").count() == 0L)
  }

  test("theilDecomposition: between+within = total, known values, guards") {
    import graft.operators.Stats
    // all-equal values → every component exactly 0 (ln(1) terms)
    val eq = Seq.fill(6)(("a", 5L)).zipWithIndex
      .map { case ((g, v), i) => (if (i < 3) "a" else "b", v) }.toDF("g", "x")
    val re = Stats.theilDecomposition(eq, "g", "x").head()
    assert(math.abs(re.getDouble(2)) < 1e-12)
    assert(math.abs(re.getDouble(3)) < 1e-12)
    assert(math.abs(re.getDouble(4)) < 1e-12)
    // random positive data: decomposition is additive and matches a
    // local replay of the defining sums
    val rnd = new scala.util.Random(31)
    val data = Seq.fill(2000)((s"g${rnd.nextInt(5)}", rnd.nextInt(900).toLong + 1L))
    val r = Stats.theilDecomposition(data.toDF("g", "x"), "g", "x").head()
    assert(r.getLong(0) == 2000L && r.getLong(1) == 5L)
    val xTot = data.map(_._2).sum.toDouble
    val nTot = data.size.toDouble
    val tLocal = data.map { case (_, v) =>
      (v / xTot) * math.log(v * nTot / xTot) }.sum
    assert(math.abs(r.getDouble(2) - tLocal) < 1e-9)
    assert(math.abs(r.getDouble(2) - (r.getDouble(3) + r.getDouble(4))) < 1e-9)
    // non-positive values fail loud (ln domain), group named
    val negErr = intercept[IllegalArgumentException] {
      Stats.theilDecomposition(Seq(("a", 1L), ("b", 0L)).toDF("g", "x"), "g", "x")
    }
    assert(negErr.getMessage.contains("positive"))
    // deeper-than-6-dp values fail loud (silent decimal rounding)
    intercept[IllegalArgumentException] {
      Stats.theilDecomposition(Seq(("a", 1.2345678), ("a", 2.0))
        .toDF("g", "x"), "g", "x")
    }
    assert(Stats.theilDecomposition(Seq.empty[(String, Long)].toDF("g", "x"),
      "g", "x").count() == 0L)
  }

  test("auc: perfect/random/reversed separation, ties count half, guards") {
    import graft.operators.Stats
    def a(xs: Seq[(Double, Boolean)]): Double =
      Stats.auc(xs.toDF("s", "y"), "s", col("y")).head().getDouble(2)
    // perfect separation → 1, reversed → 0
    val pos = (1 to 50).map(i => (100.0 + i, true))
    val neg = (1 to 70).map(i => (i.toDouble, false))
    assert(a(pos ++ neg) == 1.0)
    assert(a(pos.map { case (s, _) => (s, false) } ++
      neg.map { case (s, _) => (s, true) }) == 0.0)
    // all scores equal → every pair is a tie → exactly 0.5
    assert(a(Seq.fill(30)((7.0, true)) ++ Seq.fill(40)((7.0, false))) == 0.5)
    // matches the defining pair probability on random data with ties
    val rnd = new scala.util.Random(47)
    val data = Seq.fill(400)((rnd.nextInt(20).toDouble, rnd.nextBoolean()))
    val ps = data.filter(_._2).map(_._1); val ns = data.filterNot(_._2).map(_._1)
    val brute = ps.map(p => ns.map(n =>
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum).sum /
      (ps.size.toDouble * ns.size.toDouble)
    assert(math.abs(a(data) - brute) < 1e-9)
    // single-class input fails loud; empty → empty frame
    intercept[IllegalArgumentException] {
      Stats.auc(Seq((1.0, true), (2.0, true)).toDF("s", "y"), "s", col("y"))
    }
    assert(Stats.auc(Seq.empty[(Double, Boolean)].toDF("s", "y"), "s",
      col("y")).count() == 0L)
  }

  test("calibration: bin rule matches psi's, exact means, rates") {
    import graft.operators.Stats
    // scores 0..99, positive iff score >= 60: upper bins pure positive
    val data = (0 until 100).map(i => (i.toDouble, i >= 60))
    val got = Stats.calibration(data.toDF("s", "y"), "s", col("y"), bins = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 10 && got.map(_._2).sum == 100L)
    // bin 0 holds 0..9 (width 9.9, last bin clamps): mean 4.5, rate 0
    assert(got(0)._2 == 10L && got(0)._3 == 4.5 && got(0)._4 == 0.0)
    assert(got(9)._4 == 1.0) // top bin all positive
    // monotone rate for this planted labeler
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.toSeq)
    // degenerate single-value scores land in bin 0
    val const = Stats.calibration(Seq.fill(5)((3.0, true)).toDF("s", "y"),
      "s", col("y")).collect()
    assert(const.length == 1 && const(0).getInt(0) == 0)
    // >6-dp scores fail loud
    intercept[IllegalArgumentException] {
      Stats.calibration(Seq((0.12345678, true), (1.0, false)).toDF("s", "y"),
        "s", col("y"))
    }
  }

  test("chiSquare: zero on exact independence, n on perfect association, brute parity") {
    import graft.operators.Stats
    def run(xs: Seq[(String, String)]) =
      Stats.chiSquare(xs.toDF("x", "y"), "x", "y").head()
    // exactly independent 2x2 (all four cells 25) -> chi2 = 0, V = 0
    val ind = for (x <- Seq("a", "b"); y <- Seq("u", "v"); _ <- 1 to 25)
      yield (x, y)
    val ri = run(ind)
    assert(ri.getLong(0) == 100L && ri.getLong(3) == 1L)
    assert(math.abs(ri.getDouble(4)) < 1e-9 && math.abs(ri.getDouble(5)) < 1e-9)
    // perfect association (diagonal only) -> chi2 = n, V = 1
    val per = Seq.fill(30)(("a", "u")) ++ Seq.fill(20)(("b", "v"))
    val rp = run(per)
    assert(math.abs(rp.getDouble(4) - 50.0) < 1e-9)
    assert(math.abs(rp.getDouble(5) - 1.0) < 1e-9)
    // brute-force textbook sum over ALL cells (including a zero cell)
    val rnd = new scala.util.Random(53)
    val data = Seq.fill(500)((s"x${rnd.nextInt(3)}", s"y${rnd.nextInt(4)}"))
      .filterNot { case (x, y) => x == "x0" && y == "y0" } // plant a zero cell
    val cells = data.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val nx = data.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val ny = data.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val n = data.size.toDouble
    val brute = (for (x <- nx.keys; y <- ny.keys) yield {
      val e = nx(x) * ny(y) / n
      val o = cells.getOrElse((x, y), 0.0)
      (o - e) * (o - e) / e
    }).sum
    val rb = run(data)
    assert(math.abs(rb.getDouble(4) - brute) < 1e-8)
    assert(rb.getLong(1) == 3L && rb.getLong(2) == 4L && rb.getLong(3) == 6L)
    // single-category side fails loud; empty input -> empty frame
    intercept[IllegalArgumentException] { run(Seq.fill(5)(("a", "u")) :+ ("a", "v")) }
    assert(Stats.chiSquare(Seq.empty[(String, String)].toDF("x", "y"),
      "x", "y").count() == 0L)
  }

  test("cohenKappa: perfect 1, independence ~0, brute parity, guards") {
    import graft.operators.Stats
    def run(xs: Seq[(String, String)]) =
      Stats.cohenKappa(xs.toDF("a", "b"), "a", "b").head()
    // perfect agreement over >= 2 labels -> kappa 1
    val perf = Seq.fill(30)(("x", "x")) ++ Seq.fill(20)(("y", "y"))
    assert(math.abs(run(perf).getDouble(3) - 1.0) < 1e-12)
    // exactly independent raters -> po == pe -> kappa 0
    val ind = for (a <- Seq("x", "y"); b <- Seq("x", "y"); _ <- 1 to 10)
      yield (a, b)
    assert(math.abs(run(ind).getDouble(3)) < 1e-12)
    // brute parity on random labels incl. a rater-B-only label
    val rnd = new scala.util.Random(59)
    val labels = Array("p", "q", "r")
    val data = Seq.fill(300)((labels(rnd.nextInt(2)), labels(rnd.nextInt(3))))
    val n = data.size.toDouble
    val po = data.count { case (a, b) => a == b } / n
    val pe = labels.map { k =>
      (data.count(_._1 == k) / n) * (data.count(_._2 == k) / n)
    }.sum
    val got = run(data)
    assert(math.abs(got.getDouble(1) - po) < 1e-12)
    assert(math.abs(got.getDouble(2) - pe) < 1e-9)
    assert(math.abs(got.getDouble(3) - (po - pe) / (1.0 - pe)) < 1e-9)
    // both raters constant on the same label -> pe = 1 -> loud
    intercept[IllegalArgumentException] { run(Seq.fill(5)(("x", "x"))) }
    assert(Stats.cohenKappa(Seq.empty[(String, String)].toDF("a", "b"),
      "a", "b").count() == 0L)
  }

  test("jensenShannon: 0 on identical, ln2 on disjoint, brute parity, guards") {
    import graft.operators.Stats
    def run(xs: Seq[(String, Boolean)]) =
      Stats.jensenShannon(xs.toDF("c", "ina"), "c", col("ina"), !col("ina")).head()
    // identical distributions -> jsd 0
    val same = Seq("u", "u", "v").flatMap(c => Seq((c, true), (c, false)))
    assert(math.abs(run(same).getDouble(3)) < 1e-12)
    // disjoint supports -> jsd = ln 2 (the upper bound)
    val disj = Seq(("u", true), ("u", true), ("v", false))
    assert(math.abs(run(disj).getDouble(3) - math.log(2.0)) < 1e-12)
    // brute parity on random categorical cohorts
    val rnd = new scala.util.Random(61)
    val data = Seq.fill(400)((s"c${rnd.nextInt(6)}", rnd.nextBoolean()))
    val as = data.filter(_._2).map(_._1); val bs = data.filterNot(_._2).map(_._1)
    val cats = (as ++ bs).distinct
    val brute = cats.map { c =>
      val p = as.count(_ == c).toDouble / as.size
      val q = bs.count(_ == c).toDouble / bs.size
      val m = (p + q) / 2.0
      (if (p > 0) 0.5 * p * math.log(p / m) else 0.0) +
        (if (q > 0) 0.5 * q * math.log(q / m) else 0.0)
    }.sum
    val got = run(data)
    assert(got.getLong(0) == as.size.toLong && got.getLong(1) == bs.size.toLong)
    assert(got.getLong(2) == cats.size.toLong)
    assert(math.abs(got.getDouble(3) - brute) < 1e-9)
    // an empty cohort is undefined -> loud; empty input -> empty frame
    intercept[IllegalArgumentException] { run(Seq(("u", true), ("v", true))) }
    assert(Stats.jensenShannon(Seq.empty[(String, Boolean)].toDF("c", "ina"),
      "c", col("ina"), !col("ina")).count() == 0L)
  }

  test("ndcgAtK: perfect run 1, hand example, k cut, idcg-0 queries drop") {
    import graft.operators.Retrieval
    def run(rs: Seq[(String, Long, Int)], qs: Seq[(String, Long, Int)], k: Int) =
      Retrieval.ndcgAtK(rs.toDF("q", "d", "rank"), qs.toDF("q", "d", "rel"),
        "q", "d", "rank", "rel", k)
    // ideally-ordered run -> ndcg exactly 1
    val qrels = Seq(("a", 1L, 3), ("a", 2L, 2), ("a", 3L, 1), ("a", 4L, 0))
    val ideal = Seq(("a", 1L, 1), ("a", 2L, 2), ("a", 3L, 3))
    assert(math.abs(run(ideal, qrels, 10).head().getDouble(3) - 1.0) < 1e-12)
    // hand-computed: run [d3(rel1), d1(rel3), d9(unjudged)] at k=3
    //   dcg  = 1/log2(2) + 7/log2(3) + 0
    //   idcg = 7/log2(2) + 3/log2(3) + 1/log2(4)
    val rn = Seq(("a", 3L, 1), ("a", 1L, 2), ("a", 9L, 3))
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val dcg = 1.0 / lg2(2.0) + 7.0 / lg2(3.0)
    val idcg = 7.0 / lg2(2.0) + 3.0 / lg2(3.0) + 1.0 / lg2(4.0)
    val r = run(rn, qrels, 3).head()
    assert(math.abs(r.getDouble(1) - dcg) < 1e-12)
    assert(math.abs(r.getDouble(2) - idcg) < 1e-12)
    assert(math.abs(r.getDouble(3) - dcg / idcg) < 1e-12)
    // the k cut drops run rows AND ideal gains beyond k
    val r1 = run(rn, qrels, 1).head()
    assert(math.abs(r1.getDouble(1) - 1.0) < 1e-12) // only d3(rel1) at pos 1
    assert(math.abs(r1.getDouble(2) - 7.0) < 1e-12) // ideal top-1 is rel 3
    // a query with no positive judgments has no defined ndcg -> dropped
    val two = run(rn ++ Seq(("b", 5L, 1)), qrels :+ (("b", 5L, 0)), 3)
    assert(two.select("q").as[String].collect().toSeq == Seq("a"))
  }

  test("intervalOverlap: exactly-once pairs, equals theta join, half-open edges") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(41)
    // random intervals on [0, 1000) with spans up to 120 — many cross
    // several width-50 tiles, so the exactly-once rule is exercised
    val left = (1 to 300).map { i =>
      val lo = rnd.nextInt(1000).toDouble
      (i.toLong, lo, lo + 1 + rnd.nextInt(120))
    }.toDF("lid", "llo", "lhi")
    val right = (1 to 80).map { j =>
      val lo = rnd.nextInt(1000).toDouble
      (j.toLong, lo, lo + 1 + rnd.nextInt(200))
    }.toDF("rid", "rlo", "rhi")
    val got = RangeJoin.intervalOverlap(left, "llo", "lhi",
      right, "rlo", "rhi", tileWidth = 50.0)
      .select("lid", "rid")
    // the defining theta join is the oracle
    val want = left.join(right,
      col("llo") < col("rhi") && col("rlo") < col("lhi"))
      .select("lid", "rid")
    assert(got.count() == want.count(), "exactly-once: no tile duplicates")
    assert(got.except(want).count() == 0L && want.except(got).count() == 0L)
    // half-open semantics: touching endpoints do NOT overlap, 1-unit
    // overlap does — and across a tile boundary
    val a = Seq((1L, 0.0, 100.0)).toDF("lid", "llo", "lhi")
    def pairs(r: (Long, Double, Double)) =
      RangeJoin.intervalOverlap(a, "llo", "lhi",
        Seq(r).toDF("rid", "rlo", "rhi"), "rlo", "rhi", 30.0).count()
    assert(pairs((1L, 100.0, 200.0)) == 0L) // touch at hi
    assert(pairs((1L, -50.0, 0.0)) == 0L)   // touch at lo
    assert(pairs((1L, 99.0, 300.0)) == 1L)  // 1-unit overlap, once
    assert(pairs((1L, -500.0, 500.0)) == 1L) // containment, once
    // the plan is an EQUI join on the tile — never a nested loop
    val plan = RangeJoin.intervalOverlap(left, "llo", "lhi",
      right, "rlo", "rhi", 50.0).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"))
    // disjoint-columns and tile-width guards
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlap(left, "llo", "lhi",
        left, "llo", "lhi", 50.0)
    }
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlap(left, "llo", "lhi",
        right, "rlo", "rhi", 0.0)
    }
  }

  test("RangeJoin: extreme-span tile replication fails loud, not OOM") {
    import graft.operators.RangeJoin
    // one pathological interval spanning 10^9 units at tileWidth=1
    // would replicate to a billion-element array in ONE row — the
    // guard must fail with the span-vs-width diagnosis at run time
    val wide = Seq((1L, 0.0, 1.0e9)).toDF("lid", "llo", "lhi")
    val right = Seq((1L, 5.0, 6.0)).toDF("rid", "rlo", "rhi")
    val exL = intercept[Exception] {
      RangeJoin.intervalOverlap(wide, "llo", "lhi",
        right, "rlo", "rhi", tileWidth = 1.0).count()
    }
    val msgL = Option(exL.getMessage).getOrElse("") +
      Option(exL.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msgL.contains("maxTilesPerRow") && msgL.contains("tileWidth"),
      s"want the span-vs-width diagnosis, got: $msgL")
    val points = Seq((1L, 7.0)).toDF("pid", "v")
    val exP = intercept[Exception] {
      RangeJoin.pointInRange(points, "v",
        wide.toDF("rid", "rlo", "rhi"), "rlo", "rhi",
        bucketWidth = 1.0).count()
    }
    val msgP = Option(exP.getMessage).getOrElse("") +
      Option(exP.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msgP.contains("maxTilesPerRow"))
    // a raised cap admits the same interval (span 10 at width 1)
    val ok = Seq((1L, 0.0, 10.0)).toDF("lid", "llo", "lhi")
    assert(RangeJoin.intervalOverlap(ok, "llo", "lhi",
      right, "rlo", "rhi", tileWidth = 1.0, maxTilesPerRow = 11L)
      .count() == 1L)
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlap(ok, "llo", "lhi",
        right, "rlo", "rhi", 1.0, maxTilesPerRow = 0L)
    }
  }

  test("welchT: hand-computed statistic, NULL-cond rows are sample B, guards") {
    import graft.operators.Stats
    // A = {1,2,3} (mean 2, var 1), B = {2,4,6,8} (mean 5, var 20/3)
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0), ("b", 8.0)).toDF("g", "v")
    val r = Stats.welchT(df, "v", col("g") === "a").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 5.0)
    val (seA, seB) = (1.0 / 3.0, (20.0 / 3.0) / 4.0)
    val tWant = (2.0 - 5.0) / math.sqrt(seA + seB)
    val dfWant = (seA + seB) * (seA + seB) /
      (seA * seA / 2.0 + seB * seB / 3.0)
    val dWant = (2.0 - 5.0) / math.sqrt((2.0 * 1.0 + 3.0 * (20.0 / 3.0)) / 5.0)
    assert(math.abs(r.getDouble(4) - tWant) < 1e-12)
    assert(math.abs(r.getDouble(5) - dfWant) < 1e-12)
    assert(math.abs(r.getDouble(6) - dWant) < 1e-12)
    // a NULL condition row lands in sample B consistently (count AND moments)
    val withNull = Seq((Some("a"), 1.0), (Some("a"), 2.0),
      (None, 5.0), (Some("b"), 3.0)).toDF("g", "v")
    val r2 = Stats.welchT(withNull, "v", col("g") === "a").head()
    assert(r2.getLong(1) == 2L && r2.getDouble(3) == 4.0) // B = {5, 3}
    // guards: a one-row sample has no variance; 7-dp values fail loud
    intercept[IllegalArgumentException] {
      Stats.welchT(Seq(("a", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v"),
        "v", col("g") === "a").collect()
    }
    val ex = intercept[IllegalArgumentException] {
      Stats.welchT(Seq(("a", 0.1234567), ("a", 1.0), ("b", 2.0), ("b", 3.0))
        .toDF("g", "v"), "v", col("g") === "a").collect()
    }
    assert(ex.getMessage.contains("6 decimal"))
  }

  test("welchT family: NULL, NaN and ±Inf rows are ALL excluded — counts and moments over the same row set") {
    import graft.operators.Stats
    // non-finite doubles cast to decimal as NULL, so a bare isNotNull
    // filter would count these rows while the moment sums skipped them
    // — the finite() gate excludes them from BOTH (round-16)
    val clean = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0), ("b", 8.0)).toDF("g", "v")
    val dirty = (Seq(("a", Double.NaN), ("b", Double.PositiveInfinity),
      ("a", Double.NegativeInfinity)) ++ Seq(("a", 1.0), ("a", 2.0),
      ("a", 3.0), ("b", 2.0), ("b", 4.0), ("b", 6.0), ("b", 8.0)))
      .toDF("g", "v")
    val want = Stats.welchT(clean, "v", col("g") === "a").head()
    val got = Stats.welchT(dirty, "v", col("g") === "a").head()
    assert(got.getLong(0) == want.getLong(0) &&
      got.getLong(1) == want.getLong(1),
      s"counts must exclude non-finite rows: $got vs $want")
    assert(got.getDouble(4) == want.getDouble(4), "t must be bit-equal")
  }

  test("multiArm: k = 2 bit-equals welchT, BH step-up across arms, guards") {
    import graft.operators.Stats
    // (1) the k = 2 case IS welchT (ONE welchChain implementation):
    // every shared statistic bit-equal, treatment as sample A
    val two = Seq(("t", 1.0), ("t", 2.0), ("t", 3.0),
      ("c", 2.0), ("c", 4.0), ("c", 6.0), ("c", 8.0)).toDF("g", "v")
    val ma = Stats.multiArm(two, "v", "g", controlArm = "c").head()
    val wt = Stats.welchT(two, "v", col("g") === "t").head()
    assert(ma.getString(0) == "t")
    assert(ma.getLong(1) == wt.getLong(1) && ma.getLong(2) == wt.getLong(0))
    assert(ma.getDouble(3) == wt.getDouble(3), "mean_c ≡ welchT mean_b")
    assert(ma.getDouble(4) == wt.getDouble(2), "mean_t ≡ welchT mean_a")
    assert(ma.getDouble(6) == wt.getDouble(4), "t must be bit-equal")
    assert(ma.getDouble(7) == wt.getDouble(5), "df must be bit-equal")
    // (2) BH across 3 comparisons: one far-shifted arm rejects, a
    // clone of the control does not; p-values are ordered sanely
    def arm(g: String, shift: Double) =
      (1 to 30).map(i => (g, (i % 10).toDouble + shift))
    val multi = (arm("ctrl", 0.0) ++ arm("far", 50.0) ++ arm("same", 0.0) ++
      arm("near", 0.5)).toDF("g", "v")
    val rows = Stats.multiArm(multi, "v", "g", controlArm = "ctrl")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(8), r.getBoolean(9)))).toMap
    assert(rows.keySet == Set("far", "same", "near"))
    assert(rows("far")._1 < 1e-6 && rows("far")._2, s"far arm must reject: $rows")
    assert(rows("same")._1 > 0.9 && !rows("same")._2,
      s"control clone must not reject: $rows")
    assert(rows.values.forall(p => p._1 >= 0.0 && p._1 <= 1.0))
    // the normal-p helper itself: p(z_{0.025}) = 0.05 on the A&S grid
    assert(math.abs(Stats.zPvalue2(1.959963984540054) - 0.05) < 1e-6)
    // (3) guards: absent control, arm-count bound, one-row arm
    intercept[IllegalArgumentException] {
      Stats.multiArm(two, "v", "g", controlArm = "nope").collect()
    }
    intercept[IllegalArgumentException] {
      Stats.multiArm(multi, "v", "g", "ctrl", maxArms = 3).collect()
    }
    intercept[IllegalArgumentException] {
      Stats.multiArm((Seq(("t", 1.0)) ++ arm("ctrl", 0.0)).toDF("g", "v"),
        "v", "g", "ctrl").collect()
    }
    // (4) the overridable minN guard (ADVICE r16): 30-row arms pass the
    // default but fail a raised normal-approximation floor, naming the
    // arm; minN < 2 is itself rejected (a variance needs two rows)
    val exMin = intercept[IllegalArgumentException] {
      Stats.multiArm(multi, "v", "g", "ctrl", minN = 31L).collect()
    }
    assert(exMin.getMessage.contains("31"))
    intercept[IllegalArgumentException] {
      Stats.multiArm(multi, "v", "g", "ctrl", minN = 1L).collect()
    }
    val exSeg = intercept[IllegalArgumentException] {
      Stats.welchTByGroup(multi.withColumn("seg", lit("s1")), "v", "seg",
        col("g") === "ctrl", minN = 31L).collect()
    }
    assert(exSeg.getMessage.contains("31"))
  }

  test("groupSequential: looks equal welchT prefixes, OBF shape, first-crossing stop, guards") {
    import graft.operators.Stats
    // look 1 (ts <= 10): arms overlap → no crossing; look 2 (ts <= 20):
    // arm A jumps far away → crossing. Beyond the last cutoff: excluded.
    def rows(g: String, ts0: Int, shift: Double) =
      (1 to 12).map(i => (g, ts0 + (i % 5), (i % 4).toDouble + shift))
    val df = (rows("a", 1, 0.0) ++ rows("b", 1, 0.25) ++
      rows("a", 11, 40.0) ++ rows("b", 11, 0.25) ++
      Seq(("a", 99, 1000.0))).toDF("g", "ts", "v")
    val gs = Stats.groupSequential(df, "v", col("g") === "a", "ts",
      cutoffs = Seq(lit(10), lit(20))).collect()
    assert(gs.length == 2)
    val l1 = gs(0); val l2 = gs(1)
    // the ts = 99 row is after the last cutoff: not observed at any look
    assert(l2.getLong(1) == 24L && l2.getLong(2) == 24L)
    // each look's z IS welchT on the prefix rows (one welchChain)
    val w1 = Stats.welchT(df.filter(col("ts") <= 10), "v",
      col("g") === "a").head()
    val w2 = Stats.welchT(df.filter(col("ts") <= 20), "v",
      col("g") === "a").head()
    assert(l1.getDouble(4) == w1.getDouble(4), "look-1 z ≡ welchT t")
    assert(l2.getDouble(4) == w2.getDouble(4), "look-2 z ≡ welchT t")
    // OBF boundary: z_alpha2 / sqrt(info_frac); final look = z_alpha2
    assert(math.abs(l1.getDouble(5) -
      1.959963984540054 / math.sqrt(l1.getDouble(3))) < 1e-12)
    assert(math.abs(l2.getDouble(5) - 1.959963984540054) < 1e-12)
    assert(!l1.getBoolean(6) && l2.getBoolean(6),
      s"only the far-shifted look may cross: ${gs.mkString(", ")}")
    // stop_look = first crossed look, repeated on EVERY row
    assert(l1.getInt(7) == 2 && l2.getInt(7) == 2)
    // pocock shape: flat caller-supplied boundary
    val pk = Stats.groupSequential(df, "v", col("g") === "a", "ts",
      Seq(lit(10), lit(20)), zAlpha2 = 2.178, shape = "pocock").collect()
    assert(pk.forall(_.getDouble(5) == 2.178))
    // guards: a look before the test exists fails LOUD; bad shape
    intercept[IllegalArgumentException] {
      Stats.groupSequential(df, "v", col("g") === "a", "ts",
        Seq(lit(0), lit(20))).collect()
    }
    intercept[IllegalArgumentException] {
      Stats.groupSequential(df, "v", col("g") === "a", "ts",
        Seq(lit(10)), shape = "wald").collect()
    }
    // ADVICE r16 guards: an EMPTY look (schedule outran the data) fails
    // loud — the default denominator would re-test unchanged data at a
    // lower OBF boundary
    val exEmpty = intercept[IllegalArgumentException] {
      Stats.groupSequential(df, "v", col("g") === "a", "ts",
        Seq(lit(10), lit(20), lit(30))).collect()
    }
    assert(exEmpty.getMessage.contains("added no rows"))
    // plannedTotal anchors info_frac for live monitoring: with a plan
    // of 2x the observed rows, every look's fraction halves and the
    // OBF boundary stiffens by sqrt(2); the final look is no longer
    // read at the full-information boundary
    val planned = Stats.groupSequential(df, "v", col("g") === "a", "ts",
      Seq(lit(10), lit(20)), plannedTotal = Some(96L)).collect()
    assert(planned(1).getDouble(3) == l2.getDouble(3) / 2.0)
    assert(math.abs(planned(1).getDouble(5) -
      1.959963984540054 * math.sqrt(2.0)) < 1e-12)
    // a plan the data has outrun fails loud
    val exPlan = intercept[IllegalArgumentException] {
      Stats.groupSequential(df, "v", col("g") === "a", "ts",
        Seq(lit(10), lit(20)), plannedTotal = Some(10L)).collect()
    }
    assert(exPlan.getMessage.contains("outrun"))
  }

  test("welchTByGroup: each segment bit-equals welchT on its slice, BH across segments, thin slice loud") {
    import graft.operators.Stats
    // three segments: one with a planted shift, one identical-arms,
    // one mild — BH should reject exactly the planted one
    def seg(g: String, shift: Double) = (1 to 30).map(i =>
      (g, if (i % 2 == 0) "a" else "b",
        (i % 9).toDouble + (if (i % 2 == 0) shift else 0.0)))
    val df = (seg("big", 40.0) ++ seg("flat", 0.0) ++ seg("mild", 0.5))
      .toDF("g", "arm", "v")
    val rows = Stats.welchTByGroup(df, "v", "g", col("arm") === "a")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("big", "flat", "mild"),
      "sorted segments")
    // every segment's statistics ARE welchT on that slice (one
    // welchChain implementation) — bit-equal
    for (r <- rows) {
      val w = Stats.welchT(df.filter(col("g") === r.getString(0)), "v",
        col("arm") === "a").head()
      assert(r.getLong(1) == w.getLong(0) && r.getLong(2) == w.getLong(1))
      assert(r.getDouble(3) == w.getDouble(2) && r.getDouble(4) == w.getDouble(3))
      assert(r.getDouble(6) == w.getDouble(4), s"${r.getString(0)} t")
      assert(r.getDouble(7) == w.getDouble(5), s"${r.getString(0)} df")
    }
    val byG = rows.map(r => r.getString(0) -> r.getBoolean(9)).toMap
    assert(byG("big") && !byG("flat") && !byG("mild"),
      s"BH must reject exactly the planted segment: ${rows.mkString(",")}")
    // a thin slice fails LOUD naming it
    val exT = intercept[IllegalArgumentException] {
      Stats.welchTByGroup(
        df.union(Seq(("thin", "a", 1.0), ("thin", "b", 2.0), ("thin", "b", 3.0))
          .toDF("g", "arm", "v")), "v", "g", col("arm") === "a").collect()
    }
    assert(exT.getMessage.contains("'thin'") &&
      exT.getMessage.contains("EACH arm"))
    // segment-count bound fires before the fold
    intercept[IllegalArgumentException] {
      Stats.welchTByGroup(df, "v", "g", col("arm") === "a", maxGroups = 1)
        .collect()
    }
  }

  test("msprtCI: radius matches the closed form, p ≡ msprt bit-for-bit, guards") {
    import graft.operators.Stats
    val df = (1 to 40).map(i =>
      (if (i % 2 == 0) "a" else "b",
        (i % 7).toDouble + (if (i % 2 == 0) 3.0 else 0.0))).toDF("g", "v")
    val ci = Stats.msprtCI(df, "v", col("g") === "a", tau2 = 4.0).head()
    val ms = Stats.msprt(df, "v", col("g") === "a", tau2 = 4.0).head()
    // same moment pass, same chain: diff/v/p/significant bit-equal
    assert(ci.getLong(0) == ms.getLong(0) && ci.getLong(1) == ms.getLong(1))
    assert(ci.getDouble(2) == ms.getDouble(2), "diff must be bit-equal")
    assert(ci.getDouble(3) == ms.getDouble(3), "v must be bit-equal")
    assert(ci.getDouble(7) == ms.getDouble(5), "p must be bit-equal")
    assert(ci.getBoolean(8) == ms.getBoolean(6))
    // the closed-form radius, recomputed by hand in the same order
    val vn = ci.getDouble(3)
    val want = math.sqrt(vn * (vn + 4.0) / 4.0 *
      math.log((vn + 4.0) / (0.05 * 0.05 * vn)))
    assert(ci.getDouble(4) == want, "radius must match the closed form")
    assert(ci.getDouble(5) == ci.getDouble(2) - ci.getDouble(4))
    assert(ci.getDouble(6) == ci.getDouble(2) + ci.getDouble(4))
    // a +3 shift over 40 rows: the interval sits strictly above zero
    // exactly when the always-valid p rejects (same test family)
    assert(ci.getBoolean(8) == (ci.getDouble(5) > 0.0 || ci.getDouble(6) < 0.0),
      s"CI/p must agree: $ci")
    intercept[IllegalArgumentException] {
      Stats.msprtCI(df, "v", col("g") === "a", tau2 = 0.0).collect()
    }
    intercept[IllegalArgumentException] {
      Stats.msprtCI(df, "v", col("g") === "a", alpha = 1.0).collect()
    }
  }

  test("srmCheckMulti: hand chi2, absent designed arm alarms, unknown arm fails loud, guards") {
    import graft.operators.Stats
    // observed a=6, b=3, c=1 vs design 0.5/0.3/0.2 of n=10:
    // e = 5/3/2, terms = 0.2/0/0.5, chi2 = 0.7
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("arm")
    val design = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    val rows = Stats.srmCheckMulti(df, "arm", design, threshold = 6.0)
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b", "c"), "sorted arms")
    assert(rows.map(_.getLong(1)).toSeq == Seq(6L, 3L, 1L))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(5.0, 3.0, 2.0))
    assert(math.abs(rows(0).getDouble(3) - 0.2) < 1e-12)
    assert(rows(1).getDouble(3) == 0.0)
    assert(math.abs(rows(2).getDouble(3) - 0.5) < 1e-12)
    assert(math.abs(rows(0).getDouble(4) - 0.7) < 1e-12 &&
      rows.forall(r => r.getDouble(4) == rows(0).getDouble(4)),
      "chi2 repeats on every row")
    assert(rows.forall(!_.getBoolean(5)), "0.7 < 6.0: no alarm")
    // a designed arm with ZERO rows contributes its full expected
    // count — exactly the broken-routing alarm
    val missing = Stats.srmCheckMulti(
      (Seq.fill(5)("a") ++ Seq.fill(5)("b")).toDF("arm"), "arm",
      design, threshold = 1.0).collect()
    val cRow = missing.find(_.getString(0) == "c").get
    assert(cRow.getLong(1) == 0L && cRow.getDouble(2) == 2.0 &&
      cRow.getDouble(3) == 2.0)
    assert(missing.forall(_.getBoolean(5)), s"chi2 must alarm: ${missing.mkString(",")}")
    // an arm in the data but not the design is a routing bug: loud
    val exU = intercept[IllegalArgumentException] {
      Stats.srmCheckMulti(df.union(Seq("zz").toDF("arm")), "arm",
        design, threshold = 6.0).collect()
    }
    assert(exU.getMessage.contains("zz"))
    intercept[IllegalArgumentException] {
      Stats.srmCheckMulti(df, "arm", Map("a" -> 0.5, "b" -> 0.4),
        threshold = 6.0).collect()
    }
  }

  test("propZTest: hand rates, domain sentinel, degenerate-pool guards") {
    import graft.operators.Stats
    // A: 3/4 success; B: 1/4 — z from the textbook pooled form
    val df = Seq(("a", 1L), ("a", 1L), ("a", 1L), ("a", 0L),
      ("b", 1L), ("b", 0L), ("b", 0L), ("b", 0L)).toDF("g", "s")
    val r = Stats.propZTest(df, "s", col("g") === "a").head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 0.75 && r.getDouble(3) == 0.25)
    val zWant = (0.75 - 0.25) / math.sqrt(0.5 * 0.5 * (0.25 + 0.25))
    assert(math.abs(r.getDouble(4) - zWant) < 1e-12)
    // non-0/1 indicator fails loud
    val ex = intercept[IllegalArgumentException] {
      Stats.propZTest(Seq(("a", 2L), ("b", 0L)).toDF("g", "s"),
        "s", col("g") === "a").collect()
    }
    assert(ex.getMessage.contains("not 0/1"))
    // FRACTIONAL indicator (0.7 in a double column) fails loud too —
    // a long-cast sentinel would truncate it to 0 and silently count
    // it as a failure, exactly the bias the sentinel exists to stop
    val exF = intercept[IllegalArgumentException] {
      Stats.propZTest(Seq(("a", 0.7), ("a", 1.0), ("b", 0.0))
        .toDF("g", "s"), "s", col("g") === "a").collect()
    }
    assert(exF.getMessage.contains("not 0/1"))
    // all-success pool: zero null variance — loud, not NaN
    intercept[IllegalArgumentException] {
      Stats.propZTest(Seq(("a", 1L), ("b", 1L)).toDF("g", "s"),
        "s", col("g") === "a").collect()
    }
  }

  test("graft_kll_merge grouping edges: empty-after-filter group vanishes, global empty is loud by name") {
    import graft.functions.KllQuantiles
    val shards = Seq(("a", 1.0), ("a", 2.0), ("b", 9.0)).toDF("g", "v")
      .groupBy(col("g"))
      .agg(KllQuantiles.kllSketch(col("v"), 64).as("sk"))
    // a group filtered to zero sketch rows never reaches eval — it
    // simply has no output row (hash-agg semantics), no wrapper trace
    val kept = shards.filter(col("g") === "a")
      .groupBy(col("g"))
      .agg(KllQuantiles.kllMerge(col("sk")).as("m"))
      .select(col("g"),
        KllQuantiles.kllValues(col("m"), Seq(1.0)).as("q"))
      .collect()
    assert(kept.map(_.getString(0)).toSeq == Seq("a"))
    assert(kept(0).getSeq[Double](1) == Seq(2.0))
    // a GLOBAL merge over an empty input does evaluate — the failure
    // must surface the aggregate's own message, not an opaque trace
    val ex = intercept[Exception] {
      shards.filter(lit(false))
        .agg(KllQuantiles.kllMerge(col("sk"))).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("no sketches to merge"), msg)
  }

  test("bootstrapMeanCI: deterministic, identity resample exact, CI brackets; weights Poisson(1)-ish") {
    import graft.operators.Stats
    val df = (1L to 500L).map(i => (i, (i % 100).toDouble)).toDF("k", "v")
    val r1 = Stats.bootstrapMeanCI(df, "v", "k", b = 100).head()
    val r2 = Stats.bootstrapMeanCI(df, "v", "k", b = 100).head()
    assert(r1 == r2, "hash-derived weights must make the bootstrap deterministic")
    assert(r1.getLong(1) == 500L)
    val exact = (1L to 500L).map(i => (i % 100).toDouble).sum / 500.0
    assert(math.abs(r1.getDouble(2) - exact) < 1e-9,
      "identity resample must yield the exact full-sample mean")
    assert(r1.getDouble(3) <= r1.getDouble(2) && r1.getDouble(2) <= r1.getDouble(4))
    assert(r1.getDouble(3) < r1.getDouble(4), "CI must have positive width")
    // the weights kernel directly: in range, empirically Poisson(1)
    val seeds = graft.functions.BootstrapWeights.seedsFor(50)
    val ws = (1 to 2000).flatMap { k =>
      val a = graft.functions.BootstrapWeights.compute(k.toLong, seeds)
      (1 until a.numElements()).map(a.getInt)
    }
    assert(ws.forall(w => w >= 0 && w <= 17))
    val mw = ws.sum.toDouble / ws.size
    assert(math.abs(mw - 1.0) < 0.02, s"weight mean $mw drifted from 1")
    // zero-total-weight resamples drop and b_eff reports it: with 2
    // rows ~e^-2 of resamples are empty
    val tiny = Stats.bootstrapMeanCI(
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), "v", "k", b = 200).head()
    assert(tiny.getLong(0) < 200L && tiny.getLong(0) >= 100L, tiny.toString)
  }

  test("bootstrapDiffCI: identity diff exact, CI brackets, NULL cond is sample B, deterministic") {
    import graft.operators.Stats
    val df = (1L to 400L).map { i =>
      val g = if (i % 4 == 0L) "a" else "b"
      // A runs ~10 higher than B on the same base signal
      val v = (i % 50).toDouble + (if (g == "a") 10.0 else 0.0)
      (i, g, v)
    }.toDF("k", "g", "v")
    val r1 = Stats.bootstrapDiffCI(df, "v", "k", col("g") === "a", b = 100).head()
    val r2 = Stats.bootstrapDiffCI(df, "v", "k", col("g") === "a", b = 100).head()
    assert(r1 == r2, "hash-derived weights must make the bootstrap deterministic")
    assert(r1.getLong(1) == 100L && r1.getLong(2) == 300L)
    val as = (1L to 400L).filter(_ % 4 == 0L).map(i => (i % 50).toDouble + 10.0)
    val bs = (1L to 400L).filterNot(_ % 4 == 0L).map(i => (i % 50).toDouble)
    val exact = as.sum / as.size - bs.sum / bs.size
    assert(math.abs(r1.getDouble(3) - exact) < 1e-9,
      "identity resample must yield the exact full-sample diff")
    assert(r1.getDouble(4) <= r1.getDouble(3) && r1.getDouble(3) <= r1.getDouble(5))
    assert(r1.getDouble(4) > 0.0,
      "a planted +10 shift must have a CI excluding zero")
    // NULL condition rows land in sample B
    val withNull = df.union(Seq((500L, null.asInstanceOf[String], 1.0))
      .toDF("k", "g", "v"))
    val rn = Stats.bootstrapDiffCI(withNull, "v", "k", col("g") === "a",
      b = 100).head()
    assert(rn.getLong(1) == 100L && rn.getLong(2) == 301L)
  }

  test("cuped: hand-computed theta/rho2/adjusted diff, guards loud") {
    import graft.operators.Stats
    val aRows = Seq((10.0, 1.0), (20.0, 3.0), (12.0, 2.0))
    val bRows = Seq((5.0, 1.0), (15.0, 3.0))
    val df = (aRows.map { case (y, x) => ("a", y, x) } ++
      bRows.map { case (y, x) => ("b", y, x) }).toDF("g", "y", "x")
    val r = Stats.cuped(df, "y", "x", col("g") === "a").head()
    // independent plain-Scala replication of the definition
    val ys = (aRows ++ bRows).map(_._1)
    val xs = (aRows ++ bRows).map(_._2)
    val n = ys.length
    def mean(v: Seq[Double]) = v.sum / n
    val (my, mx) = (mean(ys), mean(xs))
    val cov = ys.zip(xs).map { case (y, x) => (y - my) * (x - mx) }.sum / (n - 1)
    val varx = xs.map(x => (x - mx) * (x - mx)).sum / (n - 1)
    val vary = ys.map(y => (y - my) * (y - my)).sum / (n - 1)
    val theta = cov / varx
    val rho2 = cov * cov / (varx * vary)
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - theta) < 1e-9, s"theta ${r.getDouble(2)} != $theta")
    assert(math.abs(r.getDouble(3) - rho2) < 1e-9)
    val diffRaw = aRows.map(_._1).sum / 3 - bRows.map(_._1).sum / 2
    val diffAdj = diffRaw - theta * (aRows.map(_._2).sum / 3 - bRows.map(_._2).sum / 2)
    assert(math.abs(r.getDouble(4) - diffRaw) < 1e-9)
    assert(math.abs(r.getDouble(5) - diffAdj) < 1e-9)
    // a NULL condition row is sample B (the welchT convention)
    val withNull = df.union(Seq((null.asInstanceOf[String], 9.0, 2.0)).toDF("g", "y", "x"))
    val rn = Stats.cuped(withNull, "y", "x", col("g") === "a").head()
    assert(rn.getLong(0) == 3L && rn.getLong(1) == 3L)
    // constant covariate: theta undefined — loud
    val exC = intercept[IllegalArgumentException] {
      Stats.cuped(Seq(("a", 1.0, 5.0), ("a", 2.0, 5.0), ("b", 3.0, 5.0),
        ("b", 4.0, 5.0)).toDF("g", "y", "x"), "y", "x", col("g") === "a")
    }
    assert(exC.getMessage.contains("zero pooled variance"))
    // finer-than-6dp values fail loud, never silently rounded
    val exF = intercept[IllegalArgumentException] {
      Stats.cuped(Seq(("a", 1.0000001, 1.0), ("a", 2.0, 2.0), ("b", 3.0, 1.0),
        ("b", 4.0, 2.0)).toDF("g", "y", "x"), "y", "x", col("g") === "a")
    }
    assert(exF.getMessage.contains("6 decimal"))
  }

  test("cupedMulti: k=1 reduces BIT-FOR-BIT to cuped; k=2 matches an independent solve; guards loud") {
    import graft.operators.Stats
    val df = (1L to 60L).map { i =>
      val g = if (i % 3 == 0L) "a" else "b"
      val x1 = (i % 7).toDouble
      val x2 = (i % 5).toDouble
      // y correlated with both covariates + an arm shift
      val y = 2.0 * x1 + 3.0 * x2 + (i % 4).toDouble +
        (if (g == "a") 5.0 else 0.0)
      (g, y, x1, x2)
    }.toDF("g", "y", "x1", "x2")
    // k=1: the whole double chain must reduce to cuped EXACTLY — same
    // divisions, same accumulation order (the scaladoc contract)
    val one = Stats.cuped(df, "y", "x1", col("g") === "a").head()
    val m1 = Stats.cupedMulti(df, "y", Seq("x1"), col("g") === "a").head()
    assert(m1.getString(0) == "x1")
    assert(m1.getLong(2) == one.getLong(0) && m1.getLong(3) == one.getLong(1))
    assert(m1.getDouble(1) == one.getDouble(2), "theta must be bit-equal")
    assert(m1.getDouble(4) == one.getDouble(3), "rho2 must be bit-equal")
    assert(m1.getDouble(5) == one.getDouble(4), "diff_raw must be bit-equal")
    assert(m1.getDouble(6) == one.getDouble(5), "diff_adj must be bit-equal")
    assert(m1.getDouble(7) == one.getDouble(6), "t_adj must be bit-equal")
    // k=2: independent plain-Scala closed-form 2x2 solve (Cramer's
    // rule — NOT the engine's elimination) agrees to 1e-9
    val rows2 = Stats.cupedMulti(df, "y", Seq("x1", "x2"), col("g") === "a")
      .collect().map(r => r.getString(0) -> r).toMap
    val data = (1L to 60L).map { i =>
      val g = if (i % 3 == 0L) "a" else "b"
      val x1 = (i % 7).toDouble
      val x2 = (i % 5).toDouble
      (g, 2.0 * x1 + 3.0 * x2 + (i % 4).toDouble + (if (g == "a") 5.0 else 0.0),
        x1, x2)
    }
    val n = data.size
    val ys = data.map(_._2); val x1s = data.map(_._3); val x2s = data.map(_._4)
    def mean(v: Seq[Double]) = v.sum / n
    val (my, mx1, mx2) = (mean(ys), mean(x1s), mean(x2s))
    def cov(a: Seq[Double], ma: Double, b: Seq[Double], mb: Double) =
      a.zip(b).map { case (u, w) => (u - ma) * (w - mb) }.sum / (n - 1)
    val c1 = cov(x1s, mx1, ys, my); val c2 = cov(x2s, mx2, ys, my)
    val v11 = cov(x1s, mx1, x1s, mx1); val v12 = cov(x1s, mx1, x2s, mx2)
    val v22 = cov(x2s, mx2, x2s, mx2); val vy = cov(ys, my, ys, my)
    val det = v11 * v22 - v12 * v12
    val th1 = (c1 * v22 - c2 * v12) / det
    val th2 = (v11 * c2 - v12 * c1) / det
    assert(math.abs(rows2("x1").getDouble(1) - th1) < 1e-9,
      s"theta1 ${rows2("x1").getDouble(1)} != $th1")
    assert(math.abs(rows2("x2").getDouble(1) - th2) < 1e-9)
    val rho2 = (th1 * c1 + th2 * c2) / vy
    assert(math.abs(rows2("x1").getDouble(4) - rho2) < 1e-9)
    assert(rho2 > 0.5, s"two strong covariates should remove most variance, rho2=$rho2")
    // scalars identical across the two output rows
    assert(rows2("x1").getDouble(5) == rows2("x2").getDouble(5))
    assert(rows2("x1").getDouble(7) == rows2("x2").getDouble(7))
    // adjusting by BOTH covariates must not explain less than by one
    assert(rho2 >= m1.getDouble(4) - 1e-12)
    // collinear covariate: the elimination pivot dies — loud, NAMING it
    val exS = intercept[IllegalArgumentException] {
      Stats.cupedMulti(df.withColumn("x3", col("x1") * 2),
        "y", Seq("x1", "x3"), col("g") === "a")
    }
    assert(exS.getMessage.contains("pivot") && exS.getMessage.contains("x3"))
    // duplicate covariate list is rejected before any job runs
    val exD = intercept[IllegalArgumentException] {
      Stats.cupedMulti(df, "y", Seq("x1", "x1"), col("g") === "a")
    }
    assert(exD.getMessage.contains("duplicate"))
    // planning-size cap on k
    val exK = intercept[IllegalArgumentException] {
      Stats.cupedMulti(df, "y", (1 to 9).map(_ => "x1"), col("g") === "a")
    }
    assert(exK.getMessage.contains("1..8") || exK.getMessage.contains("duplicate"))
  }

  test("cupedRatio: per-unit linearization replication, guards loud") {
    import graft.operators.Stats
    val units = Seq(
      ("a", 100.0, 4.0, 90.0, 3.0), ("a", 50.0, 2.0, 60.0, 2.0),
      ("a", 80.0, 3.0, 70.0, 3.0), ("a", 30.0, 1.0, 20.0, 1.0),
      ("b", 90.0, 4.0, 85.0, 3.0), ("b", 40.0, 2.0, 55.0, 2.0),
      ("b", 70.0, 3.0, 65.0, 3.0), ("b", 20.0, 1.0, 25.0, 1.0))
    val df = units.toDF("g", "y", "x", "yc", "xc")
    val r = Stats.cupedRatio(df, "y", "x", "yc", "xc", col("g") === "a").head()
    // INDEPENDENT replication: explicit per-unit linearization arrays
    // (the engine never materializes them — it runs on cross moments)
    val n = units.size
    val rp = units.map(_._2).sum / units.map(_._3).sum
    val rcp = units.map(_._4).sum / units.map(_._5).sum
    val mxp = units.map(_._3).sum / n
    val mxcp = units.map(_._5).sum / n
    val ls = units.map(u => (u._2 - rp * u._3) / mxp)
    val cs = units.map(u => (u._4 - rcp * u._5) / mxcp)
    def cov(u: Seq[Double], v: Seq[Double]) = {
      val mu = u.sum / u.size; val mv = v.sum / v.size
      u.zip(v).map { case (p, q) => (p - mu) * (q - mv) }.sum / (u.size - 1)
    }
    val theta = cov(ls, cs) / cov(cs, cs)
    val rho2 = theta * cov(ls, cs) / cov(ls, ls)
    assert(math.abs(r.getAs[Double]("theta") - theta) < 1e-9,
      s"theta ${r.getAs[Double]("theta")} != $theta")
    assert(math.abs(r.getAs[Double]("rho2") - rho2) < 1e-9)
    val aU = units.filter(_._1 == "a"); val bU = units.filter(_._1 == "b")
    val ra = aU.map(_._2).sum / aU.map(_._3).sum
    val rb = bU.map(_._2).sum / bU.map(_._3).sum
    assert(math.abs(r.getAs[Double]("ratio_a") - ra) < 1e-9)
    assert(math.abs(r.getAs[Double]("diff") - (ra - rb)) < 1e-9)
    val csByArm = units.zip(cs).groupBy(_._1._1).view
      .mapValues(_.map(_._2)).toMap
    val diffAdj = (ra - rb) - theta *
      (csByArm("a").sum / 4 - csByArm("b").sum / 4)
    assert(math.abs(r.getAs[Double]("diff_adj") - diffAdj) < 1e-9,
      s"diff_adj ${r.getAs[Double]("diff_adj")} != $diffAdj")
    // per-arm variance: the arm's OWN ratio/denominator-mean linearize
    // the metric; the covariate keeps the pooled constants
    def armVar(arm: Seq[(String, Double, Double, Double, Double)]): Double = {
      val rS = arm.map(_._2).sum / arm.map(_._3).sum
      val mxS = arm.map(_._3).sum / arm.size
      val lS = arm.map(u => (u._2 - rS * u._3) / mxS)
      val cS = arm.map(u => (u._4 - rcp * u._5) / mxcp)
      (cov(lS, lS) - 2 * theta * cov(lS, cS) + theta * theta * cov(cS, cS)) /
        arm.size
    }
    val se = math.sqrt(armVar(aU) + armVar(bU))
    assert(math.abs(r.getAs[Double]("se_adj") - se) < 1e-9,
      s"se ${r.getAs[Double]("se_adj")} != $se")
    assert(r.getAs[Double]("ci_lo") < diffAdj && diffAdj < r.getAs[Double]("ci_hi"))
    // a covariate pair that is exactly proportional (C ≡ 0) is loud
    val exC = intercept[IllegalArgumentException] {
      Stats.cupedRatio(df.withColumn("yc", col("xc") * 2),
        "y", "x", "yc", "xc", col("g") === "a")
    }
    assert(exC.getMessage.contains("covariate linearization has zero"))
    // finer-than-6dp values fail loud
    val exF = intercept[IllegalArgumentException] {
      Stats.cupedRatio(
        df.union(Seq(("a", 1.0000001, 1.0, 1.0, 1.0)).toDF("g", "y", "x", "yc", "xc")),
        "y", "x", "yc", "xc", col("g") === "a")
    }
    assert(exF.getMessage.contains("6 decimal"))
  }

  test("postStratifiedDiff: ONE stratum degenerates to welchT bit-for-bit") {
    import graft.operators.Stats
    // with a single stratum w = 1, the stratified mean IS the arm mean
    // and Var = s²/n per arm — the identical double shapes as
    // welchChain, so diff/se/t must be BIT-equal, not just close (the
    // family's internal-consistency pin, like cupedMulti k=1 ≡ cuped)
    val df = Seq(("only", "a", 1.0), ("only", "a", 2.0), ("only", "a", 4.0),
      ("only", "b", 2.0), ("only", "b", 5.0), ("only", "b", 9.0))
      .toDF("s", "g", "v")
    val ps = Stats.postStratifiedDiff(df, "v", "s", col("g") === "a").head()
    val wt = Stats.welchT(df, "v", col("g") === "a").head()
    assert(ps.getLong(2) == 1L)
    assert(ps.getDouble(3) == wt.getDouble(2) - wt.getDouble(3),
      "one-stratum diff_raw ≡ mean_a − mean_b")
    assert(ps.getDouble(4) == ps.getDouble(3),
      "one-stratum diff_strat ≡ diff_raw (w = 1)")
    // t_strat = diff/√(varA/nA + varB/nB) — the exact welch-t double
    // shapes (w = 1.0 multiplies exactly), so bit-equality holds
    assert(ps.getDouble(6) == wt.getDouble(4),
      s"one-stratum t_strat ${ps.getDouble(6)} vs welch t ${wt.getDouble(4)}")
  }

  test("postStratifiedDiff: composition bias removed, hand-computed variance, guards loud") {
    import graft.operators.Stats
    // arm A over-samples the HIGH stratum, so the raw diff is inflated
    // by composition; both arms have the same within-stratum means, so
    // the post-stratified diff must be ~0 while raw is clearly > 0
    val rows = Seq(
      ("h", "a", 10.0), ("h", "a", 12.0), ("h", "a", 14.0), ("h", "a", 16.0),
      ("h", "b", 11.0), ("h", "b", 15.0),
      ("l", "a", 1.0), ("l", "a", 3.0),
      ("l", "b", 1.0), ("l", "b", 3.0), ("l", "b", 1.0), ("l", "b", 3.0))
    val df = rows.toDF("s", "g", "v")
    val r = Stats.postStratifiedDiff(df, "v", "s", col("g") === "a").head()
    assert(r.getLong(0) == 6L && r.getLong(1) == 6L && r.getLong(2) == 2L)
    // independent plain-Scala replication
    def stats(vs: Seq[Double]) = {
      val n = vs.size; val m = vs.sum / n
      (n, m, vs.map(x => (x - m) * (x - m)).sum / (n - 1))
    }
    val byCell = rows.groupBy(t => (t._1, t._2)).view
      .mapValues(ts => stats(ts.map(_._3))).toMap
    val nTot = 12.0
    var yA = 0.0; var yB = 0.0; var vA = 0.0; var vB = 0.0
    for (s <- Seq("h", "l")) {
      val (na, ma, va) = byCell((s, "a"))
      val (nb, mb, vb) = byCell((s, "b"))
      val w = (na + nb) / nTot
      yA += w * ma; yB += w * mb
      vA += w * w * va / na; vB += w * w * vb / nb
    }
    val rawA = rows.filter(_._2 == "a").map(_._3)
    val rawB = rows.filter(_._2 == "b").map(_._3)
    val diffRaw = rawA.sum / rawA.size - rawB.sum / rawB.size
    assert(math.abs(r.getDouble(3) - diffRaw) < 1e-9)
    assert(diffRaw > 3.0, "composition bias must inflate the raw diff")
    assert(math.abs(r.getDouble(4) - (yA - yB)) < 1e-9,
      s"diff_strat ${r.getDouble(4)} != ${yA - yB}")
    assert(math.abs(r.getDouble(4)) < 1.0,
      "equal within-stratum means must post-stratify to ~0")
    assert(math.abs(r.getDouble(5) - math.sqrt(vA + vB)) < 1e-9)
    assert(math.abs(r.getDouble(6) - r.getDouble(4) / r.getDouble(5)) < 1e-9)
    // a stratum with a one-armed (or <2-row) arm fails loud naming it
    val exA = intercept[IllegalArgumentException] {
      Stats.postStratifiedDiff(
        df.union(Seq(("x", "a", 5.0), ("x", "a", 6.0)).toDF("s", "g", "v")),
        "v", "s", col("g") === "a")
    }
    assert(exA.getMessage.contains("'x'") &&
      exA.getMessage.contains("EACH arm"))
    // planning-size guard fires BEFORE the fold
    val exK = intercept[IllegalArgumentException] {
      Stats.postStratifiedDiff(df, "v", "s", col("g") === "a", maxStrata = 1L)
    }
    assert(exK.getMessage.contains("more than 1 strata"))
    // finer-than-6dp values fail loud
    val exF = intercept[IllegalArgumentException] {
      Stats.postStratifiedDiff(
        df.union(Seq(("h", "a", 1.0000001), ("h", "b", 1.0)).toDF("s", "g", "v")),
        "v", "s", col("g") === "a")
    }
    assert(exF.getMessage.contains("6 decimal"))
  }

  test("powerMde: hand-computed MDE and per-arm n, guards loud") {
    import graft.operators.Stats
    val aRows = Seq(10.0, 20.0, 12.0, 18.0)
    val bRows = Seq(5.0, 15.0, 9.0)
    val df = (aRows.map(("a", _)) ++ bRows.map(("b", _))).toDF("g", "v")
    val r = Stats.powerMde(df, "v", col("g") === "a",
      targetRel = 0.1, zAlpha = 1.96, zPower = 0.84).head()
    // independent plain-Scala replication of the definitions
    def meanOf(v: Seq[Double]) = v.sum / v.size
    def varOf(v: Seq[Double]) = {
      val m = meanOf(v); v.map(x => (x - m) * (x - m)).sum / (v.size - 1)
    }
    val (na, nb) = (aRows.size, bRows.size)
    val (va, vb) = (varOf(aRows), varOf(bRows))
    val mb = meanOf(bRows)
    val varP = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2).toDouble
    val zSum = 1.96 + 0.84
    val mdeAbs = zSum * math.sqrt(va / na + vb / nb)
    assert(r.getLong(0) == na && r.getLong(1) == nb)
    assert(math.abs(r.getDouble(2) - mb) < 1e-9)
    assert(math.abs(r.getDouble(3) - mdeAbs) < 1e-9, s"mde ${r.getDouble(3)} != $mdeAbs")
    assert(math.abs(r.getDouble(4) - mdeAbs / mb) < 1e-9)
    val nPer = math.ceil(2.0 * varP * zSum * zSum / (0.1 * mb * 0.1 * mb)).toLong
    assert(r.getLong(5) == nPer, s"n_per_arm ${r.getLong(5)} != $nPer")
    // a bigger target needs fewer units; MDE itself is target-free
    val r2 = Stats.powerMde(df, "v", col("g") === "a",
      targetRel = 0.2, zAlpha = 1.96, zPower = 0.84).head()
    assert(r2.getLong(5) < r.getLong(5) && r2.getDouble(3) == r.getDouble(3))
    // zero control mean: relative plan undefined — loud
    val exM = intercept[IllegalArgumentException] {
      Stats.powerMde(Seq(("a", 1.0), ("a", 2.0), ("b", -1.0), ("b", 1.0))
        .toDF("g", "v"), "v", col("g") === "a")
    }
    assert(exM.getMessage.contains("control mean is zero"))
    // constant metric: zero pooled variance — loud
    val exV = intercept[IllegalArgumentException] {
      Stats.powerMde(Seq(("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0))
        .toDF("g", "v"), "v", col("g") === "a")
    }
    assert(exV.getMessage.contains("zero pooled variance"))
  }

  test("bootstrapQuantileDiffCI: deterministic, identity diff exact in the exact regime, CI brackets, NULL cond is sample B") {
    import graft.operators.Stats
    val df = (1L to 400L).map { i =>
      val g = if (i % 4 == 0L) "a" else "b"
      // A runs ~10 higher than B on the same base signal
      val v = (i % 50).toDouble + (if (g == "a") 10.0 else 0.0)
      (i, g, v)
    }.toDF("k", "g", "v")
    val r1 = Stats.bootstrapQuantileDiffCI(df, "v", "k", col("g") === "a",
      ps = Seq(0.5), b = 100, k = 65536).head()
    val r2 = Stats.bootstrapQuantileDiffCI(df, "v", "k", col("g") === "a",
      ps = Seq(0.5), b = 100, k = 65536).head()
    assert(r1 == r2, "hash-derived weights must make the bootstrap deterministic")
    assert(r1.getLong(2) == 100L && r1.getLong(3) == 300L)
    // identity resample: exact ceil(p*n)-rank order statistics per arm
    // (k = 65536 >> 400 rows — the no-compaction exact regime)
    def q(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      s(math.max(1L, math.ceil(p * s.size).toLong).toInt - 1)
    }
    val as = (1L to 400L).filter(_ % 4 == 0L).map(i => (i % 50).toDouble + 10.0)
    val bs = (1L to 400L).filterNot(_ % 4 == 0L).map(i => (i % 50).toDouble)
    assert(r1.getDouble(4) == q(as, 0.5) - q(bs, 0.5),
      "identity resample must yield the exact arm-quantile difference")
    assert(r1.getDouble(5) <= r1.getDouble(4) && r1.getDouble(4) <= r1.getDouble(6))
    assert(r1.getDouble(5) > 0.0,
      "a planted +10 shift must have a p50-diff CI excluding zero")
    // NULL condition rows land in sample B
    val withNull = df.union(Seq((500L, null.asInstanceOf[String], 1.0))
      .toDF("k", "g", "v"))
    val rn = Stats.bootstrapQuantileDiffCI(withNull, "v", "k",
      col("g") === "a", ps = Seq(0.5), b = 100, k = 65536).head()
    assert(rn.getLong(2) == 100L && rn.getLong(3) == 301L)
    // duplicate keys fail loud (shared weight vectors correlate draws;
    // the sentinel is an in-plan raise_error on the fan-out shuffle, so
    // the message sits in the task-failure cause chain)
    def chainMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chainMessages(x.getCause))
    val exDup = intercept[Exception] {
      Stats.bootstrapQuantileDiffCI(
        df.withColumn("k", col("k") % 10), "v", "k", col("g") === "a",
        ps = Seq(0.5), b = 100, k = 65536)
    }
    assert(chainMessages(exDup).exists(_.contains("uniquely identify")),
      exDup.toString)
  }

  test("bootstrapQuantileDiffBySegment: each segment row bit-equal to the single-segment operator on that slice; sign p + BH; thin slices loud") {
    import graft.operators.Stats
    // two segments with opposite planted shifts: x gets +10 for arm A,
    // y gets none — the per-segment read should separate them
    val df = (1L to 600L).map { i =>
      val seg = if (i % 2 == 0L) "x" else "y"
      val arm = if (i % 4 < 2L) "a" else "b"
      val v = (i % 50).toDouble +
        (if (seg == "x" && arm == "a") 10.0 else 0.0)
      (i, seg, arm, v)
    }.toDF("k", "seg", "arm", "v")
    val got = Stats.bootstrapQuantileDiffBySegment(df, "v", "k", "seg",
        col("arm") === "a", ps = Seq(0.5, 0.9), b = 100, k = 65536)
      .orderBy("grp", "p").collect()
    assert(got.length == 4) // 2 segments x 2 quantile levels
    // bit-equality: the per-segment rows equal bootstrapQuantileDiffCI
    // run on the filtered slice — same weights (key-derived), same
    // sketch groups, same rank picks
    Seq("x", "y").foreach { g =>
      val solo = Stats.bootstrapQuantileDiffCI(df.filter(col("seg") === g),
          "v", "k", col("arm") === "a", ps = Seq(0.5, 0.9), b = 100,
          k = 65536)
        .orderBy("p").collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      val seg = got.filter(_.getString(0) == g)
        .map(r => (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      assert(seg.toSeq == solo.toSeq, s"segment '$g' diverged from the slice")
    }
    // the planted segment is significant at p50, the flat one is not;
    // p_boot is a valid probability and BH kept the x rejections
    val byKey = got.map(r => (r.getString(0), r.getDouble(1)) ->
      (r.getDouble(8), r.getBoolean(9))).toMap
    assert(byKey(("x", 0.5))._2, "planted +10 shift must reject at p50")
    assert(!byKey(("y", 0.5))._2, "flat segment must not reject at p50")
    got.foreach(r => assert(r.getDouble(8) >= 0.0 && r.getDouble(8) <= 1.0))
    // determinism
    val again = Stats.bootstrapQuantileDiffBySegment(df, "v", "k", "seg",
        col("arm") === "a", ps = Seq(0.5, 0.9), b = 100, k = 65536)
      .orderBy("grp", "p").collect()
    assert(got.toSeq == again.toSeq)
    // a segment with a one-armed slice fails loud naming it
    val oneArm = df.filter(col("seg") === "x" || col("arm") === "b")
    val ex = intercept[IllegalArgumentException] {
      Stats.bootstrapQuantileDiffBySegment(oneArm, "v", "k", "seg",
        col("arm") === "a", ps = Seq(0.5), b = 100, k = 65536)
    }
    assert(ex.getMessage.contains("'y'") || ex.getMessage.contains("segment"))
  }

  test("bhFdr: step-up threshold, tie blocks, nothing-rejected, domain guards") {
    import graft.operators.Stats
    // m=5, q=0.25: cutoffs 0.05/0.10/0.15/0.20/0.25 — only i=1,2 pass
    val ps = Seq(0.01, 0.02, 0.2, 0.5, 0.9).toDF("p")
    val r = Stats.bhFdr(ps, "p", q = 0.25).head()
    assert(r.getLong(0) == 5L && r.getDouble(2) == 0.02 && r.getLong(3) == 2L)
    // tie block: its LARGEST index is the operative BH candidate
    val tied = Seq(0.1, 0.1, 0.1, 0.9).toDF("p")
    val rt = Stats.bhFdr(tied, "p", q = 0.4).head()
    assert(rt.getDouble(2) == 0.1 && rt.getLong(3) == 3L)
    // nothing rejects: NULL threshold, zero rejected
    val none = Stats.bhFdr(Seq(0.8, 0.9).toDF("p"), "p", q = 0.05).head()
    assert(none.isNullAt(2) && none.getLong(3) == 0L)
    // guards: non-p-values fail loud; q domain checked
    val ex = intercept[IllegalArgumentException] {
      Stats.bhFdr(Seq(0.5, 1.5).toDF("p"), "p").collect()
    }
    assert(ex.getMessage.contains("p-value"))
    intercept[IllegalArgumentException] {
      Stats.bhFdr(Seq(0.5).toDF("p"), "p", q = 1.0)
    }
  }

  test("groupedExactQuantiles: per-group ranks, hot group bounded, fold guard") {
    import graft.operators.Stats
    // group A = 1..10, group B = [5,5,5] (tied), NULL group dropped
    val rows = (1 to 10).map(i => (Some("A"), i.toDouble)) ++
      Seq((Some("B"), 5.0), (Some("B"), 5.0), (Some("B"), 5.0),
        (Option.empty[String], 99.0))
    val df = rows.toDF("g", "x")
    val got = Stats.groupedExactQuantiles(df, "g", "x", Seq(0.5, 1.0))
      .orderBy("g", "p").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("A", 0.5, 5L, 10L, 5.0), ("A", 1.0, 10L, 10L, 10.0),
      ("B", 0.5, 2L, 3L, 5.0), ("B", 1.0, 3L, 3L, 5.0)))
    // agrees with per-group sorts across bucket counts
    val rnd = new scala.util.Random(5)
    val big = Seq.tabulate(3000)(i => (s"g${i % 3}", rnd.nextDouble() * 10))
      .toDF("g", "x")
    val sortedBy = big.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (g, a) => g -> a.map(_._2).sorted }
    for (buckets <- Seq(1, 16)) {
      Stats.groupedExactQuantiles(big, "g", "x", Seq(0.25, 0.9), buckets)
        .collect().foreach { r =>
          val (g, k) = (r.getString(0), r.getLong(2).toInt)
          assert(r.getDouble(4) == sortedBy(g)(k - 1), s"g=$g buckets=$buckets")
        }
    }
    // the driver-fold guard fails loud when the key is too fine
    val e = intercept[IllegalArgumentException] {
      Stats.groupedExactQuantiles(big, "g", "x", Seq(0.5), maxFoldRows = 2L)
    }
    assert(e.getMessage.contains("maxFoldRows"))
  }

  test("interpolatedQuantiles: bit-identical to Spark percentile, edges, nulls") {
    import graft.operators.Stats
    // random doubles → every probe genuinely interpolates (distinct
    // values, fractional positions); equality is EXACT, no tolerance —
    // the lerp replicates the aggregate's operand order
    val rnd = new scala.util.Random(11)
    val big = Seq.fill(3001)(rnd.nextDouble() * 1000).toDF("x")
    val ps = Seq(0.05, 0.31, 0.5, 0.77, 0.9)
    val want = big.agg(expr(s"percentile(x, array(${ps.mkString(",")}))"))
      .head.getSeq[Double](0)
    for (buckets <- Seq(1, 7, 32)) {
      val got = Stats.interpolatedQuantiles(big, "x", ps, buckets)
        .orderBy("p").collect().map(_.getDouble(2))
      assert(got.toSeq == want.toSeq, s"buckets=$buckets")
    }
    // p=0 → min, p=1 → max, integral positions hit the raw value;
    // NULL excluded from both the CDF and n
    val tied = Seq(Some(1.0), Some(1.0), Some(2.0), None).toDF("x")
    val t = Stats.interpolatedQuantiles(tied, "x", Seq(0.0, 0.5, 1.0))
      .orderBy("p").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
    assert(t.toSeq == Seq((0.0, 3L, 1.0), (0.5, 3L, 1.0), (1.0, 3L, 2.0)))
  }

  test("groupedInterpolatedQuantiles: percentile parity per group, hot group, guard") {
    import graft.operators.Stats
    // one HOT group (100k values) — the exact shape where the
    // `percentile` aggregate buffers everything in one buffer and the
    // CDF probe stays bounded; parity must still be bit-exact
    val rnd = new scala.util.Random(13)
    val rows = Seq.tabulate(100000)(_ => ("hot", rnd.nextDouble() * 50)) ++
      Seq.tabulate(7)(i => ("cold", i.toDouble))
    val df = rows.toDF("g", "x")
    val ps = Seq(0.05, 0.5, 0.95)
    val want = df.groupBy("g")
      .agg(expr(s"percentile(x, array(${ps.mkString(",")}))").as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val got = Stats.groupedInterpolatedQuantiles(df, "g", "x", ps).collect()
    assert(got.length == 6)
    got.foreach { r =>
      val (g, p, v) = (r.getString(0), r.getDouble(1), r.getDouble(3))
      assert(v == want(g)(ps.indexOf(p)), s"g=$g p=$p") // EXACT doubles
    }
    // fold guard fails loud on a too-fine key (every value its own group)
    val e = intercept[IllegalArgumentException] {
      Stats.groupedInterpolatedQuantiles(df, "x", "x", Seq(0.5), maxFoldRows = 3L)
    }
    assert(e.getMessage.contains("maxFoldRows"))
  }

  test("labelPropagation: bridged cliques converge, sink keeps label, ties go low") {
    import graft.operators.LabelPropagation
    // two triangles {1,2,3} and {10,11,12} joined by bridge 3-10; the
    // 3-round synchronous trace (min-label tie-break) lands {1,2,3}→1
    // and {10,11,12}→3 — computed by hand, exercised end-to-end
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("s", "d")
    val got = LabelPropagation.communities(edges, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
    // directed: 1→2 only; node 1 has no in-edges so the coalesce path
    // keeps its own label, node 2 adopts 1's
    val dirGot = LabelPropagation
      .communities(Seq((1L, 2L)).toDF("s", "d"), "s", "d",
        iters = 2, directed = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dirGot == Map(1L -> 1L, 2L -> 1L))
    // single undirected edge: synchronous LPA label-swaps each round
    // (the classic bipartite oscillation) — each endpoint's only vote
    // is the other's label, so odd iters swap, even iters restore.
    // Pinning it documents the determinism contract: the result is a
    // pure function of (graph, iters), oscillation included.
    val odd = LabelPropagation
      .communities(Seq((7L, 4L)).toDF("s", "d"), "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(odd == Map(4L -> 7L, 7L -> 4L))
    val even = LabelPropagation
      .communities(Seq((7L, 4L)).toDF("s", "d"), "s", "d", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(even == Map(4L -> 4L, 7L -> 7L))
  }

  test("labelPropagation earlyStop: convergence certificate, fixpoint proven") {
    import graft.operators.LabelPropagation
    // a triangle reaches all-min-label after round 2; later rounds are
    // no-ops — earlyStop must certify that at the first zero-flip
    // round (round 3, the one that OBSERVES the fixpoint), not run 10
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    val (labs, rounds, converged) = LabelPropagation
      .communitiesConverged(tri, "s", "d", iters = 10, earlyStop = true)
    assert(converged)
    assert(rounds < 10, s"ran all $rounds rounds despite convergence")
    assert(labs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // fixpoint reached EXACTLY at the iters cap must still certify:
    // the flip check runs on the final round too (review: the old
    // `rounds < iters` guard returned converged=false here while the
    // same graph at iters=10 returned true)
    val (_, capRounds, capConv) = LabelPropagation
      .communitiesConverged(tri, "s", "d", iters = 3, earlyStop = true)
    assert(capConv && capRounds == 3,
      s"cap-boundary certificate: rounds=$capRounds converged=$capConv")
    // the single-edge oscillator NEVER converges: all iters run and
    // the certificate stays false
    val (_, oscRounds, oscConv) = LabelPropagation
      .communitiesConverged(Seq((7L, 4L)).toDF("s", "d"), "s", "d",
        iters = 4, earlyStop = true)
    assert(!oscConv && oscRounds == 4)
    // earlyStop result == fixed-iters result on the bridged-clique
    // graph (x_label_prop's oracle contract is iters-pinned, so the
    // default stays earlyStop = false; this pins value equality)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("s", "d")
    val fixed = LabelPropagation.communities(edges, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val es = LabelPropagation.communities(edges, "s", "d", iters = 3,
        earlyStop = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(es == fixed)
  }

  test("spectral topComponent: planted direction, exact variance share, loud overflow") {
    import graft.operators.Spectral
    // four zero-mean points on the (1,1,0,0) diagonal: covariance is
    // the rank-1 block [[2.5,2.5],[2.5,2.5]]⊕0 — top eigenvector
    // (1/√2, 1/√2, 0, 0), eigenvalue 5 = the whole trace
    val pts = Seq(
      Seq(1f, 1f, 0f, 0f), Seq(-1f, -1f, 0f, 0f),
      Seq(2f, 2f, 0f, 0f), Seq(-2f, -2f, 0f, 0f)).toDF("v")
    val got = Spectral.topComponent(pts, "v", dims = 4)
      .orderBy("dim").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    assert(math.abs(got(0).getDouble(1) - 0.70711) < 1e-5)
    assert(math.abs(got(1).getDouble(1) - 0.70711) < 1e-5)
    assert(got(2).getDouble(1) == 0.0 && got(3).getDouble(1) == 0.0)
    assert(math.abs(got(0).getDouble(2) - 5.0) < 1e-6)     // eigval
    assert(math.abs(got(0).getDouble(3) - 1.0) < 1e-6)     // explained
    // sign canonicalization: the mirrored cloud must yield the SAME
    // (positive-majority) component
    val flipped = Seq(
      Seq(-1f, -1f, 0f, 0f), Seq(1f, 1f, 0f, 0f),
      Seq(-2f, -2f, 0f, 0f), Seq(2f, 2f, 0f, 0f)).toDF("v")
    val got2 = Spectral.topComponent(flipped, "v", dims = 4)
      .orderBy("dim").collect()
    assert(got2(0).getDouble(1) == got(0).getDouble(1))
    // two planted orthogonal directions → top-2 with deflation:
    // comp1 = (1,1,0,0)/√2 with λ=10/3, comp2 = (0,0,1,-1)/√2 with
    // λ=1/6 (sign flipped so the tie-winning dim 3 is positive);
    // explained shares are against the ORIGINAL trace 3.5
    val two = Seq(
      Seq(1f, 1f, 0f, 0f), Seq(-1f, -1f, 0f, 0f),
      Seq(2f, 2f, 0f, 0f), Seq(-2f, -2f, 0f, 0f),
      Seq(0f, 0f, 0.5f, -0.5f), Seq(0f, 0f, -0.5f, 0.5f)).toDF("v")
    val g2 = Spectral.topComponents(two, "v", dims = 4, k = 2)
      .orderBy("component", "dim").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(g2.length == 8)
    val c1 = g2.filter(_._1 == 1)
    val c2 = g2.filter(_._1 == 2)
    assert(c1.map(_._3).toSeq == Seq(0.70711, 0.70711, 0.0, 0.0))
    assert(c2.map(_._3).toSeq == Seq(0.0, 0.0, 0.70711, -0.70711))
    assert(math.abs(c1.head._4 - 10.0 / 3) < 1e-5)
    assert(math.abs(c2.head._4 - 1.0 / 6) < 1e-5)
    assert(math.abs(c1.head._5 - 0.952381) < 1e-6)
    assert(math.abs(c2.head._5 - 0.047619) < 1e-6)
    // subspace outliers: a row orthogonal to BOTH planted components
    // ((0.3,-0.3,0.3,0.3) ⊥ (1,1,0,0) and ⊥ (0,0,1,-1)) must surface
    // with residual ≈ its own norm 0.6, while in-subspace rows score
    // near zero (small tolerance: the outlier itself perturbs the
    // covariance, tilting the estimated components slightly)
    val withOutlier = Seq(
      (1L, Seq(1f, 1f, 0f, 0f)), (2L, Seq(-1f, -1f, 0f, 0f)),
      (3L, Seq(2f, 2f, 0f, 0f)), (4L, Seq(-2f, -2f, 0f, 0f)),
      (5L, Seq(0f, 0f, 0.5f, -0.5f)), (6L, Seq(0f, 0f, -0.5f, 0.5f)),
      (7L, Seq(0.3f, -0.3f, 0.3f, 0.3f))).toDF("id", "v")
    val outs = Spectral.subspaceOutliers(withOutlier, "id", "v",
        dims = 4, k = 2, topN = 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(outs.head._1 == 7L, outs.mkString(","))
    assert(math.abs(outs.head._2 - 0.6) < 0.05, outs.head.toString)
    assert(outs.tail.forall(_._2 < 0.1), outs.mkString(","))
    // a vector magnitude that would overflow the Long moment fold
    // fails LOUD (multiplyExact), never wraps into a wrong covariance
    val hot = Seq(Seq(1e9f, 0f), Seq(0f, 1e9f), Seq(1f, 1f)).toDF("v")
    val e = intercept[Exception] {
      Spectral.topComponent(hot, "v", dims = 2).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[ArithmeticException]))
    // wrong-length vector fails loud too
    val ragged = Seq(Seq(1f, 2f), Seq(1f, 2f, 3f)).toDF("v")
    val e2 = intercept[Exception] {
      Spectral.topComponent(ragged, "v", dims = 2).collect()
    }
    assert(causes(e2).exists(t =>
      t.getMessage != null && t.getMessage.contains("expected 2")))
  }

  test("spectral: variance-explained early stop, non-finite input fails loud") {
    import graft.operators.Spectral
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    // rank-1 fixture: component 1 explains ~100% of variance → a 0.99
    // target stops after ONE component despite k = 3, and the emitted
    // rows are bit-identical to the uncapped run's component-1 prefix
    val pts = Seq(
      Seq(1f, 1f, 0f, 0f), Seq(-1f, -1f, 0f, 0f),
      Seq(2f, 2f, 0f, 0f), Seq(-2f, -2f, 0f, 0f)).toDF("v")
    val capped = Spectral.topComponents(pts, "v", dims = 4, k = 3,
        explainedTarget = 0.99)
      .orderBy("component", "dim").collect()
    assert(capped.map(_.getInt(0)).distinct.toSeq == Seq(1))
    assert(capped.length == 4)
    val full = Spectral.topComponents(pts, "v", dims = 4, k = 3)
      .orderBy("component", "dim").collect()
    assert(full.map(_.getInt(0)).distinct.length == 3)
    assert(capped.map(_.toSeq).toSeq ==
      full.filter(_.getInt(0) == 1).map(_.toSeq).toSeq)
    // NaN / Infinity fail LOUD instead of quantizing to 0 / saturating
    // (round-8 advice: match the addExact overflow discipline)
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      val df = Seq(Seq(1f, bad), Seq(0f, 1f), Seq(1f, 0f)).toDF("v")
      val e = intercept[Exception] {
        Spectral.topComponent(df, "v", dims = 2).collect()
      }
      assert(causes(e).exists(t => t.getMessage != null &&
        t.getMessage.contains("non-finite")), bad.toString)
    }
  }

  test("sortedNeighborhood: pairs within window, blocked, gap exact") {
    import graft.operators.StringSimJoin
    val df = Seq((1L, "apple"), (2L, "apricot"), (3L, "avocado"), (4L, "almond"),
      (5L, "banana"), (6L, "blueberry")).toDF("id", "s")
    val got = StringSimJoin.sortedNeighborhood(df, "id", "s", window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    // block A sorted: almond(4) apple(1) apricot(2) avocado(3)
    // block B sorted: banana(5) blueberry(6)
    assert(got == Set((4L, 1L, 1), (4L, 2L, 2), (1L, 2L, 1), (1L, 3L, 2),
      (2L, 3L, 1), (5L, 6L, 1)))
  }

  test("transitionMatrix: counts and conditional probabilities") {
    import graft.operators.EventAnalytics
    // user 1: a→b→a→b ; user 2: a→a→b — ordered by ts
    val rows = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "a"), (2L, 3L, "b"))
      .map { case (u, t, ty) => (u, t, ty, u * 10 + t) }
      .toDF("u", "t", "ty", "eid")
    val got = EventAnalytics.transitionMatrix(rows, "u", "ty", "t", "eid")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // from a: a→b ×3, a→a ×1; from b: b→a ×1
    assert(got(("a", "b")) == (3L, 0.75))
    assert(got(("a", "a")) == (1L, 0.25))
    assert(got(("b", "a")) == (1L, 1.0))
    assert(got.size == 3)
  }

  test("groupSplit: a group never straddles splits; bad buckets rejected") {
    import graft.operators.Sampling
    val df = (1 to 200).map(i => (i.toLong, s"src${i % 20}")).toDF("id", "g")
    val split = Sampling.groupSplit(df, "g", nBuckets = 10,
      valBuckets = Set(0), testBuckets = Set(1))
    // every group maps to exactly one split (the no-leakage property)
    val straddlers = split.groupBy("g")
      .agg(countDistinct($"split").as("n")).filter($"n" > 1).count()
    assert(straddlers == 0)
    // split of a group == split of its bucket, replayed via shardId
    val byHash = df.select($"g").distinct()
      .withColumn("b", Sampling.shardId($"g", 10))
      .withColumn("want",
        when($"b" === 0, "val").when($"b" === 1, "test").otherwise("train"))
    val joined = split.select("g", "split").distinct()
      .join(byHash, Seq("g"))
      .filter($"split" =!= $"want").count()
    assert(joined == 0)
    intercept[IllegalArgumentException] {
      Sampling.groupSplit(df, "g", 10, Set(0, 1), Set(1, 2))
    }
    intercept[IllegalArgumentException] {
      Sampling.groupSplit(df, "g", 10, Set(0), Set(10))
    }
  }

  test("lshCalibration: exact duplicates read est=exact=1, err=0; exact matches brute force") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val variant = "the quick brown fox jumps over the lazy cat again and again"
    val docs = Seq((1L, base), (2L, base), (3L, variant),
      (4L, "completely unrelated text about distributed query engines"))
      .toDF("doc_id", "text")
    val got = Dedup.lshCalibration(docs, "doc_id", "text", minEst = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (e12, x12, er12) = got((1L, 2L))
    assert(e12 == 1.0 && x12 == 1.0 && er12 == 0.0)
    // brute-force 3-gram shingle jaccard for the (base, variant) pair
    def shingles(s: String) = s.split("\\s+").filter(_.nonEmpty)
      .sliding(3).map(_.mkString(" ")).toSet
    val a = shingles(base); val b = shingles(variant)
    val brute = a.intersect(b).size.toDouble / a.union(b).size
    got.get((1L, 3L)).foreach { case (_, x13, _) =>
      assert(math.abs(x13 - math.rint(brute * 1e4) / 1e4) < 1e-9)
    }
    // the unrelated doc never becomes a candidate
    assert(!got.keySet.exists { case (p, q) => p == 4L || q == 4L })
  }

  test("prefix-sum machinery: randomized equivalence with the global-window forms") {
    // seeded pseudo-property sweep: for random datasets (with heavy
    // ties) and random bin/bucket counts, the windowless operators
    // must equal their single-partition global-window replays exactly
    import graft.operators.Stats
    val rng = new scala.util.Random(0xC0FFEE)
    for (trial <- 1 to 3) {
      val n = 50 + rng.nextInt(150)
      val mod = 5 + rng.nextInt(40) // small mod → many exact ties
      val rows = (1 to n).map(i => (i.toLong, (rng.nextInt(mod) * 2).toDouble,
        if (rng.nextBoolean()) "a" else "b"))
      val df = rows.toDF("id", "v", "s")
      val bins = 2 + rng.nextInt(9)
      val buckets = 1 + rng.nextInt(6)
      // equi-depth vs Spark's own global ntile
      val got = Stats.equiDepthBins(df, "v", "id", bins, buckets)
        .orderBy("bin").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      val w = org.apache.spark.sql.expressions.Window.orderBy($"v", $"id")
      val want = df.withColumn("bin", ntile(bins).over(w))
        .groupBy("bin")
        .agg(count(lit(1)).as("cnt"), min($"v").as("lo"), max($"v").as("hi"))
        .orderBy("bin").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      assert(got == want, s"trial $trial (n=$n bins=$bins buckets=$buckets)")
      // KS vs the naive global-window CDF
      val d = Stats.ksTest(df, "v", col("s") === "a", buckets).head().getDouble(2)
      val na = rows.count(_._3 == "a").toDouble
      val nb = n - na
      val naive =
        if (na == 0 || nb == 0) Double.NaN
        else {
          val byV = rows.groupBy(_._2).toSeq.sortBy(_._1)
          var ca = 0.0; var cb = 0.0
          byV.map { case (_, g) =>
            ca += g.count(_._3 == "a"); cb += g.count(_._3 == "b")
            math.abs(ca / na - cb / nb)
          }.max
        }
      if (!naive.isNaN)
        assert(math.abs(d - naive) < 1e-12, s"trial $trial KS: $d != $naive")
    }
  }

  test("psi: identical distributions score ~0, disjoint score large; empty bins finite") {
    import graft.operators.Stats
    val same = ((1 to 100).map(i => (i % 10 * 1.0, "a")) ++
      (1 to 100).map(i => (i % 10 * 1.0, "b"))).toDF("v", "s")
    val p0 = Stats.psi(same, "v", col("s") === "a").head().getDouble(2)
    assert(math.abs(p0) < 1e-12) // equal counts in every bin
    val shifted = ((1 to 100).map(i => (i % 10 * 1.0, "a")) ++
      (1 to 100).map(i => (90.0 + i % 10, "b"))).toDF("v", "s")
    val p1 = Stats.psi(shifted, "v", col("s") === "a").head().getDouble(2)
    assert(p1 > 1.0, s"disjoint ranges must score large, got $p1") // far past 0.25
    assert(!p1.isInfinite && !p1.isNaN) // Laplace smoothing keeps empty bins finite
  }

  test("paretoCurve matches the global-window NTILE replay; shares end at 1") {
    import graft.operators.Stats
    val df = (1 to 97).map(i => (i.toLong, ((i * 37) % 50 + 1) * 10.0))
      .toDF("k", "v")
    val got = Stats.paretoCurve(df, "k", "v", bins = 5, buckets = 3)
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // replay with actual global windows
    val byRev = df.groupBy($"k")
      .agg(sum($"v".cast("decimal(18,2)")).as("rev"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"rev".desc, $"k")
    val want = byRev
      .withColumn("bin", ntile(5).over(w))
      .withColumn("cum", sum($"rev").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), max($"cum").as("cum"))
      .crossJoin(byRev.agg(sum($"rev").as("tot")))
      .select($"bin", $"n",
        ($"cum".cast("double") / $"tot".cast("double")).as("share"))
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
    assert(math.abs(got.last._3 - 1.0) < 1e-12)
    assert(got.map(_._3).sliding(2).forall(p => p(0) <= p(1))) // monotone
  }

  test("cusumChangePoint finds the planted level shift at the right bucket") {
    import graft.operators.EventAnalytics
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    // key a: level 10 for hours 0-9, level 30 for hours 10-19 → the
    // |S| peak sits at the last pre-shift bucket (hour 9):
    // S_9 = 10·(10-20) = -100, drifting back to 0 afterwards
    val rows = (0 until 20).map(h => ("a", ts(h), if (h < 10) 10.0 else 30.0)) ++
      (0 until 20).map(h => ("b", ts(h), 7.0)) // flat: S ≡ 0
    val got = EventAnalytics.cusumChangePoint(rows.toDF("k", "t", "v"), "k", "t", "v")
      .collect().map(r => r.getString(0) ->
        (r.getTimestamp(1), r.getDouble(2), r.getLong(3))).toMap
    val (at, peak, n) = got("a")
    assert(n == 20L && at == Timestamp.valueOf("2024-01-01 09:00:00"))
    assert(math.abs(peak - 100.0) < 1e-9)
    assert(got("b")._2 == 0.0) // flat series: no signal
  }

  test("holtSmoothing: hand-computed level/trend recurrence, single point = (x, 0)") {
    import graft.operators.EventAnalytics
    // series 1, 5, 9 with α=β=0.5:
    //   l1=1 b1=0 → l2=0.5·5+0.5·1=3, b2=0.5·2=1
    //   → l3=0.5·9+0.5·4=6.5, b3=0.5·3.5+0.5·1=2.25, forecast 8.75
    val df = Seq((1L, 1L, 1L, 1.0), (1L, 2L, 1L, 5.0), (1L, 3L, 1L, 9.0),
      (2L, 1L, 1L, 42.0)).toDF("k", "t", "tie", "v")
    val got = EventAnalytics.holtSmoothing(df, "k", "t", "tie", "v", 0.5, 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) == (3, 6.5, 2.25, 8.75))
    assert(got(2L) == (1, 42.0, 0.0, 42.0))
  }

  test("timeWeightedAvg: hand-computed weights, last point dropped, singles excluded") {
    import graft.operators.EventAnalytics
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:${s / 60}%02d:${s % 60}%02d")
    // key a: v=10 for 60s, v=20 for 30s → (600+600)/90 = 13.333…
    val df = Seq(("a", ts(0), 1L, 10.0), ("a", ts(60), 2L, 20.0),
      ("a", ts(90), 3L, 99.0), // last point: no interval
      ("b", ts(0), 1L, 5.0))   // single point: excluded
      .toDF("k", "t", "tie", "v")
    val got = EventAnalytics.timeWeightedAvg(df, "k", "t", "tie", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set("a"))
    val (n, tw) = got("a")
    assert(n == 2L)
    assert(math.abs(tw - (10.0 * 60 + 20.0 * 30) / 90.0) < 1e-9)
  }

  test("mannWhitneyU: textbook example with ties matches hand computation") {
    import graft.operators.Stats
    // A = {1, 2, 2, 5}, B = {2, 3, 4}: pooled midranks
    // 1→1, 2,2,2→(2+3+4)/3=3, 3→5, 4→6, 5→7
    // R_A = 1 + 3 + 3 + 7 = 14; U_A = 14 - 4·5/2 = 4
    val df = (Seq(1.0, 2.0, 2.0, 5.0).map(("a", _)) ++
      Seq(2.0, 3.0, 4.0).map(("b", _))).toDF("s", "v")
    val r = Stats.mannWhitneyU(df, "v", col("s") === "a", buckets = 2).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 14.0) // rank sum
    assert(r.getDouble(3) == 4.0)  // U
    // z: mu = 6, tie3 = 3³-3 = 24, n = 7
    // sigma = sqrt(4·3·8/12 · (1 - 24/(7·6·8))) = sqrt(8 · 13/14)
    val sigma = math.sqrt(8.0 * (1.0 - 24.0 / 336.0))
    assert(math.abs(r.getDouble(4) - (4.0 - 6.0) / sigma) < 1e-12)
  }

  test("benford: digits from decimal rendering, shares sum to 1, v<1 excluded") {
    import graft.operators.Profiling
    // powers of ten land EXACTLY on digit 1 (the libm log10 trap);
    // 0.5 is excluded
    val df = Seq(1.0, 10.0, 100.0, 1000.0, 9999.0, 2.5, 0.5).toDF("v")
    val rows = Profiling.benford(df, "v").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows(1)._1 == 4L) // 1, 10, 100, 1000
    assert(rows(9)._1 == 1L && rows(2)._1 == 1L)
    assert(rows.values.map(_._1).sum == 6L) // 0.5 excluded
    assert(math.abs(rows.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("scd2AsOf: interval read equals latest-change-at-or-before, keys born later absent") {
    import graft.operators.MergeUpsert
    val changes = Seq(
      (1L, 10L, "A"), (1L, 20L, "B"), (1L, 30L, "C"), // key 1 evolves
      (2L, 25L, "X"),                                 // key 2 born at 25
      (3L, 5L, "P"), (3L, 6L, "P")                    // key 3: no-op collapse
    ).toDF("k", "seq", "st")
    val hist = MergeUpsert.scd2History(changes, Seq("k"), "seq", Seq("st"))
    def at(t: Long) = MergeUpsert.scd2AsOf(hist, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(at(22L) == Map(1L -> "B", 3L -> "P")) // 2 not born yet
    assert(at(30L) == Map(1L -> "C", 2L -> "X", 3L -> "P"))
    assert(at(4L) == Map.empty[Long, String])
    // schema: interval/bookkeeping columns dropped
    assert(MergeUpsert.scd2AsOf(hist, 30L).columns.toSeq == Seq("k", "st"))
  }

  test("targetedDelete rewrites only zone-map-hit files; others keep their bytes") {
    import graft.sources.ZoneMaps
    val dir = java.nio.file.Files.createTempDirectory("graft_erase").toString
    // 4 range-clustered files over id 1..400 → tight zone maps
    (1 to 400).map(i => (i.toLong, s"payload$i")).toDF("id", "payload")
      .repartitionByRange(4, $"id")
      .write.mode("overwrite").parquet(dir)
    val statsBefore = ZoneMaps.fileStats(spark.read.parquet(dir), Seq("id")).cache()
    val fileOf = statsBefore.collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("min_id"), r.getAs[Long]("max_id"))).toMap
    val untouched = fileOf.filter { case (_, (lo, hi)) => !(lo <= 250L && 250L <= hi) }.keys
    val sizesBefore = untouched.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      f -> p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.toMap
    val report = ZoneMaps.targetedDelete(spark, statsBefore, "id", 250L).head()
    statsBefore.unpersist()
    assert(report.getLong(0) == 4L)                      // files_total
    assert(report.getLong(1) + report.getLong(2) == 1L)  // exactly one file touched
    assert(report.getLong(3) == 1L)                      // one row deleted
    // survivors: identical byte lengths (same files, untouched)
    sizesBefore.foreach { case (f, len) =>
      val p = new org.apache.hadoop.fs.Path(f)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(p) && fs.getFileStatus(p).getLen == len, s"$f changed")
    }
    // data: everything except id 250
    val ids = spark.read.parquet(dir).select($"id").collect().map(_.getLong(0)).toSet
    assert(ids == (1 to 400).map(_.toLong).toSet - 250L)
  }

  test("joinProfile: exact fanout and join-size math on a planted N:M overlap") {
    import graft.operators.ScaleJoins
    val l = Seq(1L, 1L, 2L, 3L).toDF("k")   // key 1 ×2, key 2, key 3
    val r = Seq(1L, 1L, 1L, 2L, 9L).toDF("k") // key 1 ×3, key 2, key 9
    val p = ScaleJoins.joinProfile(l, "k", r, "k").head()
    assert(p.getLong(0) == 4L && p.getLong(1) == 5L)   // rows
    assert(p.getLong(2) == 3L && p.getLong(3) == 3L)   // keys
    assert(p.getLong(4) == 2L)                         // matched: 1, 2
    assert(p.getLong(5) == 1L && p.getLong(6) == 1L)   // only: 3 / 9
    assert(p.getLong(7) == 2L && p.getLong(8) == 3L)   // max fanouts
    assert(p.getLong(9) == 2L * 3L + 1L * 1L)          // exact join size 7
    // cross-check against the actual join
    assert(l.join(r, Seq("k")).count() == 7L)
  }

  test("scd2Audit: built history is clean; planted overlap and double-current caught") {
    import graft.operators.MergeUpsert
    val changes = Seq((1L, 10L, "A"), (1L, 20L, "B"), (2L, 5L, "X")).toDF("k", "seq", "st")
    val hist = MergeUpsert.scd2History(changes, Seq("k"), "seq", Seq("st"))
    val clean = MergeUpsert.scd2Audit(hist, Seq("k")).head()
    assert(clean.getLong(0) == 2L && clean.getLong(1) == 0L && clean.getLong(2) == 0L)
    // corrupt copy: key 1's first row closes at 15 (gap to next open at
    // 20) and both rows claim is_current
    val bad = Seq(
      (1L, "A", 10L, Some(15L), true), (1L, "B", 20L, None, true),
      (2L, "X", 5L, None, true)
    ).toDF("k", "st", "valid_from_seq", "valid_to_seq", "is_current")
    val r = MergeUpsert.scd2Audit(bad, Seq("k")).head()
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 1L) // key 1 has two current rows
    assert(r.getLong(2) == 1L) // the 15-vs-20 chain break
  }

  test("native session_window equals the manual gap-sessionize off gap boundaries") {
    // cross-API lock: Spark's built-in session_window and the
    // lag/break/running-sum sessionize (x_sessionize's shape) must
    // agree whenever no gap is EXACTLY the threshold (at exactly-gap
    // the two differ by contract: the manual break is `> gap`, the
    // native merge is `< window end`)
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val df = Seq((1L, ts(0)), (1L, ts(29)), (1L, ts(61)), // 29 joins, 32-min gap splits
      (2L, ts(10)), (2L, ts(100))) // both solo sessions
      .toDF("u", "t")
    val native = df.groupBy(session_window(col("t"), "30 minutes"), col("u"))
      .agg(count(lit(1)).as("n"), min(col("t")).as("start"))
      .select(col("u"), col("n"), col("start"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
    val byU = org.apache.spark.sql.expressions.Window.partitionBy(col("u")).orderBy(col("t"))
    val manual = df
      .withColumn("prev", lag(col("t"), 1).over(byU))
      .withColumn("brk", when(col("prev").isNull ||
        (unix_micros(col("t")) - unix_micros(col("prev"))) > 30L * 60 * 1000000, 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        byU.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("u"), col("sid"))
      .agg(count(lit(1)).as("n"), min(col("t")).as("start"))
      .select(col("u"), col("n"), col("start"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
    assert(native == manual, s"native=$native manual=$manual")
  }

  test("ewma: hand-computed recurrence, order by (ts, tie), single-point identity") {
    import graft.operators.EventAnalytics
    // user 1 out-of-order input: sorted series is 10, 20, 40
    // y = 10; 0.5·20+0.5·10 = 15; 0.5·40+0.5·15 = 27.5
    val df = Seq((1L, 3L, 1L, 40.0), (1L, 1L, 1L, 10.0), (1L, 2L, 1L, 20.0),
      (2L, 1L, 1L, 7.0), // single point: ewma == the value
      (3L, 1L, 1L, 1.0), (3L, 1L, 2L, 2.0)) // equal ts: tie column orders
      .toDF("u", "t", "tie", "v")
    val got = EventAnalytics.ewma(df, "u", "t", "tie", "v", alpha = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(got(1L) == (3, 27.5))
    assert(got(2L) == (1, 7.0))
    assert(got(3L) == (2, 0.5 * 2.0 + 0.5 * 1.0))
  }

  test("sequence-fold width guard: over-length key fails loud, at-bound passes") {
    import graft.operators.EventAnalytics
    // 4-event hot key + a 1-event key; bound of 3 must name key and fix
    val df = Seq((1L, 1L, 1L, 1.0), (1L, 2L, 1L, 2.0), (1L, 3L, 1L, 3.0),
      (1L, 4L, 1L, 4.0), (2L, 1L, 1L, 7.0)).toDF("u", "t", "tie", "v")
    val ex = intercept[Exception] {
      EventAnalytics.ewma(df, "u", "t", "tie", "v", 0.5, maxSeriesLength = 3)
        .collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("exceeding maxSeriesLength=3"), s"msg was: $msg")
    assert(msg.contains("ewma"), s"msg was: $msg")
    val ex2 = intercept[Exception] {
      EventAnalytics.holtSmoothing(df, "u", "t", "tie", "v", 0.5, 0.5,
        maxSeriesLength = 3).collect()
    }
    val msg2 = Option(ex2.getMessage).getOrElse("") +
      Option(ex2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("holtSmoothing"), s"msg was: $msg2")
    // at the bound exactly: identical result to unguarded
    val ok = EventAnalytics.ewma(df, "u", "t", "tie", "v", 0.5,
      maxSeriesLength = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ok(2L) == 7.0)
    // funnel guard: ts must be a timestamp for the gap arithmetic
    val fv = Seq((1L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
      (1L, "b", java.sql.Timestamp.valueOf("2024-01-01 00:00:02")),
      (1L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:03")),
      (1L, "b", java.sql.Timestamp.valueOf("2024-01-01 00:00:04")))
      .toDF("u", "ty", "ts")
    val ex3 = intercept[Exception] {
      EventAnalytics.funnelReach(fv, "u", "ty", "ts", Seq("a", "b"),
        maxSeriesLength = 2).collect()
    }
    val msg3 = Option(ex3.getMessage).getOrElse("") +
      Option(ex3.getCause).map(_.getMessage).getOrElse("")
    assert(msg3.contains("funnelReach"), s"msg was: $msg3")
    // and at-bound the funnel still reaches both steps
    val reach = EventAnalytics.funnelReach(fv, "u", "ty", "ts", Seq("a", "b"),
      maxSeriesLength = 4).collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(reach == Map(1 -> 1L, 2 -> 1L))
  }

  test("SetSimJoin: prefix filter finds exactly the brute-force pairs, guard fails loud") {
    import graft.operators.SetSimJoin
    // sets: A={a,b,c,d}, B={a,b,c,e} (J=3/5=0.6), C={a,b} (J(A,C)=2/4=0.5,
    // J(B,C)=0.5), D={x,y,z} (disjoint), E={a,b,c,d} (J(A,E)=1.0)
    val rows = Seq(
      1 -> "a", 1 -> "b", 1 -> "c", 1 -> "d",
      2 -> "a", 2 -> "b", 2 -> "c", 2 -> "e",
      3 -> "a", 3 -> "b",
      4 -> "x", 4 -> "y", 4 -> "z",
      5 -> "a", 5 -> "b", 5 -> "c", 5 -> "d",
      5 -> "d" // duplicate item must collapse
    ).toDF("id", "item")
    def got(t: Double): Set[(Int, Int, Double)] =
      SetSimJoin.jaccardJoin(rows, "id", "item", t)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(5))).toSet
    assert(got(0.6) == Set((1, 2, 0.6), (1, 5, 1.0), (2, 5, 0.6)))
    assert(got(0.5) == Set((1, 2, 0.6), (1, 5, 1.0), (2, 5, 0.6),
      (1, 3, 0.5), (2, 3, 0.5), (3, 5, 0.5)))
    assert(got(0.95) == Set((1, 5, 1.0)))
    // n_a/n_b/inter carried correctly
    val full = SetSimJoin.jaccardJoin(rows, "id", "item", 0.6)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(full((1, 2)) == (4L, 4L, 3L))
    assert(full((1, 5)) == (4L, 4L, 4L))
    // float-boundary losslessness (review): 0.28*25 = 7.000000000000001
    // in doubles, so an unguarded size filter rejects |A|=7 vs |B|=25
    // even though the verify ratio 7.0/25.0 == 0.28 passes — the pair
    // MUST appear (prune stages never stricter than the verify)
    val boundary = (
      (1 to 7).map(i => 10 -> s"w$i") ++           // A = 7 items, all shared
      (1 to 25).map(i => 20 -> s"w$i")             // B = 25 items ⊇ A
    ).toDF("id", "item")
    val bj = SetSimJoin.jaccardJoin(boundary, "id", "item", 0.28)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(5))).toMap
    assert(bj.contains((10, 20)), s"boundary pair missing: $bj")
    assert(bj((10, 20)) == 0.28)
    // hot-set width guard (same protocol as the sequence folds)
    val ex = intercept[Exception] {
      SetSimJoin.jaccardJoin(rows, "id", "item", 0.5, maxSetSize = 3).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("maxSetSize=3"), s"msg was: $msg")
  }

  test("containmentJoin: catches subset dups Jaccard misses, directed, probe-prefix exact") {
    import graft.operators.SetSimJoin
    // T={a,b} fully inside D={a,b,c,...,j} (10 items): c(T,D)=1 while
    // J(T,D)=0.2 — the asymmetric case the Jaccard join structurally
    // misses; reverse direction c(D,T)=0.2 must NOT qualify
    val rows = (Seq(1 -> "a", 1 -> "b") ++
      ('a' to 'j').map(ch => 2 -> ch.toString) ++
      Seq(3 -> "a", 3 -> "b", 3 -> "z")).toDF("id", "item")
    // self-join form: same frame on both sides
    val got = SetSimJoin.containmentJoin(rows, rows, "id", "item", 0.9)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got.keySet == Set((1, 2), (1, 3)), s"got ${got.keySet}")
    assert(got((1, 2)) == (2L, 10L, 2L, 1.0))
    assert(got((1, 3)) == (2L, 3L, 2L, 1.0)) // T inside {a,b,z} too
    // Jaccard at the same threshold finds nothing — the gap this
    // operator exists for
    assert(SetSimJoin.jaccardJoin(rows, "id", "item", 0.9).count() == 0)
    // at 2/3 both T-in-D and T-in-{a,b,z} qualify; brute-force equality
    val got23 = SetSimJoin.containmentJoin(rows, rows, "id", "item", 0.66)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got23 == Set((1, 2), (1, 3), (3, 1), (3, 2)),
      s"got $got23") // c(3,·)=2/3 qualifies both ways; c(2,·)=0.2 must not
    // probe/index split: only probe->index direction is searched, and a
    // probe-only item (w, absent from the index) still counts in |A|
    // but sorts last in the prefix
    val probe = Seq(4 -> "a", 4 -> "b", 4 -> "w").toDF("id", "item")
    val split = SetSimJoin.containmentJoin(probe, rows, "id", "item", 0.66)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(5))).toMap
    assert(split.keySet == Set((4, 2), (4, 3), (4, 1)), s"got ${split.keySet}")
    assert(split((4, 1)) == BigDecimal(2.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // float-boundary losslessness (review): at t=0.28 the size filter's
    // double product 0.28*25 = 7.000000000000001 would reject an
    // |A|=25 probe with exactly 7 items inside a 7-item index doc,
    // though the verify ratio 7.0/25.0 == 0.28 passes
    val probeB = (1 to 25).map(i => 30 -> s"w$i").toDF("id", "item")
    val indexB = (1 to 7).map(i => 40 -> s"w$i").toDF("id", "item")
    val cb = SetSimJoin.containmentJoin(probeB, indexB, "id", "item", 0.28)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(5))).toMap
    assert(cb.contains((30, 40)), s"boundary pair missing: $cb")
    assert(cb((30, 40)) == 0.28)
  }

  test("associationRules: hand-computed support/confidence/lift, both directions") {
    import graft.operators.CoOccurrence
    // baskets: {m,b}, {m,b}, {m}, {b,d} — N=4; |m|=3, |b|=3, |d|=1
    // pair (b,m): cnt=2 → support .5; conf(m→b)=2/3; conf(b→m)=2/3;
    // lift both ways = (2*4)/(3*3)
    val rows = Seq(1 -> "m", 1 -> "b", 2 -> "m", 2 -> "b", 3 -> "m",
      4 -> "b", 4 -> "d").toDF("b", "i")
    val got = CoOccurrence.associationRules(rows, "b", "i")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got(("m", "b")) == (2L, 0.5, 0.666667, 0.888889))
    assert(got(("b", "m")) == (2L, 0.5, 0.666667, 0.888889))
    assert(got(("b", "d")) == (1L, 0.25, 0.333333, 1.333333))
    assert(got(("d", "b")) == (1L, 0.25, 1.0, 1.333333))
    assert(!got.contains(("m", "d"))) // never co-occur
    // minPairCount prunes before the metric math
    val pruned = CoOccurrence.associationRules(rows, "b", "i", minPairCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pruned == Set(("m", "b"), ("b", "m")))
  }

  test("rollingAnomaly: planted spike is the peak, partial windows unscored") {
    import graft.operators.EventAnalytics
    // one key, hourly buckets 0..29 alternating 9/11 (sd ≈ 1), except
    // bucket 26 = 100. lookback 24: rn>24 scored; z peaks at the spike.
    // (A CONSTANT history has sd = 0 and is unscored by design — z is
    // undefined there — hence the varying baseline.)
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 30).map { h =>
      ("k1", new java.sql.Timestamp(ts0 + h * 3600L * 1000L),
        if (h == 26) 100.0 else if (h % 2 == 0) 9.0 else 11.0)
    }.toDF("k", "ts", "v")
    val got = EventAnalytics.rollingAnomaly(rows, "k", "ts", "v", lookback = 24)
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "k1")
    assert(r.getTimestamp(1) == new java.sql.Timestamp(ts0 + 26 * 3600L * 1000L))
    assert(r.getDouble(2) > 4.0, s"spike z was ${r.getDouble(2)}")
    // constant series (zero variance) yields no scored rows at all
    val flat = (0 until 30).map(h =>
      ("k2", new java.sql.Timestamp(ts0 + h * 3600L * 1000L), 5.0)).toDF("k", "ts", "v")
    assert(EventAnalytics.rollingAnomaly(flat, "k", "ts", "v", lookback = 24)
      .collect().isEmpty)
  }

  test("winsorizedStats: clip and trim against hand percentiles") {
    import graft.operators.Stats
    // group g: values 1..10 — p05 (interpolated) = 1.45, p95 = 9.55;
    // winsorized sum = 1.45 + 2..9 + 9.55 = 55.0 → mean 5.5 (symmetric);
    // trimmed keeps 2..9 → mean 5.5
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = Stats.winsorizedStats(df, "grp", "v").collect().head
    assert(r.getLong(1) == 10L)
    assert(math.abs(r.getDouble(2) - 1.45) < 1e-9)
    assert(math.abs(r.getDouble(3) - 9.55) < 1e-9)
    assert(math.abs(r.getDouble(4) - 5.5) < 1e-9)
    assert(math.abs(r.getDouble(5) - 5.5) < 1e-9)
    // asymmetric clip: an extreme outlier moves the plain mean, not the
    // winsorized one much
    val out = ((1 to 9).map(i => ("h", i.toDouble)) :+ ("h", 1000.0)).toDF("grp", "v")
    val h = Stats.winsorizedStats(out, "grp", "v").collect().head
    assert(h.getDouble(4) < 60.0, s"winsorized mean ${h.getDouble(4)} should tame the outlier")
  }

  test("QualityRules: planted violations counted exactly, null predicates fail") {
    import graft.operators.QualityRules._
    val child = Seq(
      (1L, Some(10.0), 100L), (2L, Some(-5.0), 100L), (3L, None, 200L),
      (4L, Some(7.0), 999L), (4L, Some(8.0), 100L) // dup id 4; 999 missing parent
    ).toDF("id", "amt", "fk")
    val parent = Seq(100L, 200L).toDF("pk")
    val rep = report(
      rowRules(child, Seq(
        "amt_positive" -> (col("amt") > 0),      // -5 fails, NULL fails
        "id_not_null" -> col("id").isNotNull)),  // passes
      uniqueRule(child, "id_unique", Seq("id")), // both id-4 rows fail
      fkRule(child, "fk_valid", Seq("fk"), parent, Seq("pk")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(rep("amt_positive") == (5L, 2L, false))
    assert(rep("id_not_null") == (5L, 0L, true))
    assert(rep("id_unique") == (5L, 2L, false))
    assert(rep("fk_valid") == (5L, 1L, false))
  }

  test("Tables.load normalizes events.ts to TimestampType at every SF") {
    // regression lock for the round-6 outage: the data generator
    // switched events.ts from TIMESTAMP(NANOS) to a no-timezone
    // timestamp[us] (read as TIMESTAMP_NTZ), and every query doing
    // epoch arithmetic on ts (x_sessionize, x_interval_join,
    // x_asof_salted) threw DATATYPE_MISMATCH. The loader must present
    // one type regardless of the physical encoding.
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = graft.core.Tables.load(spark, s"/root/testdata/$sf", "events")
      assert(e.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"$sf events.ts must normalize to TimestampType")
    }
    // and the three formerly-broken queries analyze + execute
    for (q <- Seq("x_sessionize", "x_interval_join", "x_asof_salted"))
      assert(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count() > 0,
        s"$q must run on the current testdata")
  }

  test("asOfSalted accepts a TIMESTAMP_NTZ time column directly") {
    // the operator itself (not just the Tables path) must handle NTZ:
    // a user handing it raw no-timezone parquet gets the same answer
    // as the plain as-of.
    val l = Seq((1L, "2024-01-01T10:00:00"), (1L, "2024-01-03T10:00:00"))
      .toDF("k", "t")
      .select($"k", $"t".cast("timestamp_ntz").as("t"))
    val r = Seq((1L, "2024-01-01T09:00:00", 100L), (1L, "2024-01-02T09:00:00", 200L))
      .toDF("k", "t", "p")
      .select($"k", $"t".cast("timestamp_ntz").as("t"), $"p")
    val got = AsOfJoin.asOfSalted(l, "k", "t", r, "k", "t", Seq("p"),
        bucketWidth = 86400L)
      .select($"p").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(100L, 200L))
  }

  test("knBigramNll: Kneser-Ney factors match the hand model on a tiny corpus") {
    // corpus: d1 = "a b a b", d2 = "a c". bigrams: d1 -> (a,b),(b,a),(a,b);
    // d2 -> (a,c). c(a,.)=3, c(b,.)=1; N1+(a,.)=2 (b,c), N1+(b,.)=1 (a);
    // N1+(.,b)=1 (a), N1+(.,a)=1 (b), N1+(.,c)=1 (a); |types|=3.
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.knBigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val d = 0.75
    def pKn(c2: Long, c1: Long, n1fwd: Long, n1bwd: Long, types: Long) =
      math.max(c2 - d, 0.0) / c1 + (d * n1fwd / c1) * (n1bwd.toDouble / types)
    val pAB = pKn(2, 3, 2, 1, 3) // (a,b): c2=2
    val pBA = pKn(1, 1, 1, 1, 3) // (b,a)
    val pAC = pKn(1, 3, 2, 1, 3) // (a,c)
    val nll1 = BigDecimal((-math.log(pAB) - math.log(pBA) - math.log(pAB)) / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nll2 = BigDecimal(-math.log(pAC))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._1 == 3L && math.abs(got(1L)._2 - nll1) < 1e-9)
    assert(got(2L)._1 == 1L && math.abs(got(2L)._2 - nll2) < 1e-9)
    // Kneser-Ney really differs from raw-unigram back-off: the
    // continuation distribution is uniform here (every word follows
    // exactly one distinct context) where unigram frequency is not
    assert(pAB != pAC)
  }

  test("hardNegatives: same-label look-alikes excluded, ranks dense") {
    import graft.operators.Similarity
    // v1 and v2 share label 0 and are nearly identical — the classic
    // easy-positive pair; the mined negative for v1 must be v3 (label
    // 1, close) and never v2, however similar
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.999f, 0.01f), 0),
      (3L, Array(0.9f, 0.43f), 1),
      (4L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(e, "vec_id", "embedding", "label", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got((1L, 1)) == 3L && got((1L, 2)) == 4L)
    assert(got((3L, 1)) == 2L) // v3's hardest negative: v2 (cos .9066 > v1's .9023)
    // every mined pair crosses labels (the broadcast bound itself is
    // knnJoin's guard, identical require — not reproducible at fixture
    // size)
    val labels = Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1)
    got.foreach { case ((q, _), n) => assert(labels(q) != labels(n), s"$q->$n") }
  }

  test("hardNegativesIvf: full probe equals hardNegatives; works past the broadcast bound; fewer probes trade recall") {
    import graft.operators.Similarity
    // 60 labeled vectors on a ring — multiple natural clusters so the
    // coarse cells are non-trivial; coarse table = 4 axis-ish centroids
    val e = (0 until 60).map { i =>
      val a = i * 2.0 * math.Pi / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val coarse = Array(Array(1.0, 0.0), Array(0.0, 1.0),
      Array(-1.0, 0.0), Array(0.0, -1.0))
    // the boundary: hardNegatives refuses above its (overridable)
    // broadcast bound — the round-16 refusal — while the IVF path runs
    val err = intercept[IllegalArgumentException] {
      Similarity.hardNegatives(e, "vec_id", "embedding", "label", k = 3,
        maxBroadcast = 50L)
    }
    assert(err.getMessage.contains("hardNegativesIvf"))
    // full probe == the exact broadcast form, row for row
    val exact = Similarity.hardNegatives(e, "vec_id", "embedding", "label", k = 3)
      .orderBy("vec_id", "rank").collect().toSeq
    val full = Similarity.hardNegativesIvf(e, "vec_id", "embedding", "label",
        k = 3, coarse, nprobe = 4)
      .orderBy("vec_id", "rank").collect().toSeq
    assert(full == exact)
    // nprobe = 1 only sees same-cell candidates: still label-crossing,
    // never MORE rows than exact, and recall@1 stays high on a ring
    // (a vector's hardest cross-label negative is its angular
    // neighbour, almost always in its own cell)
    val p1 = Similarity.hardNegativesIvf(e, "vec_id", "embedding", "label",
        k = 3, coarse, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(p1.nonEmpty && p1.size <= exact.size)
    p1.foreach { case ((q, _), n) =>
      assert(q % 3 != n % 3, s"same-label pair $q->$n under nprobe=1") }
    val exactTop1 = exact.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hit = p1.collect { case ((q, 1), n) if exactTop1.get(q).contains(n) => q }
    assert(hit.size >= (exactTop1.size * 6) / 10,
      s"nprobe=1 recall@1 collapsed: ${hit.size}/${exactTop1.size}")
  }

  test("hardNegativesIvfPartitioned: partitioned layout equals the flat operator on the query batch") {
    import graft.operators.Similarity
    // the ingest-layout mode (r17 verdict item 5): cell id persisted as
    // a hive partition column at write, mining restricted to a query
    // batch — rows must equal hardNegativesIvf's for those queries,
    // under full AND reduced probe budgets (same write-time assignment,
    // same in-plan probe ranking, same TopK tail)
    val e = (0 until 60).map { i =>
      val a = i * 2.0 * math.Pi / 60.0
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val coarse = Array(Array(1.0, 0.0), Array(0.0, 1.0),
      Array(-1.0, 0.0), Array(0.0, -1.0))
    val part = Similarity.cellPartitionedCorpus(spark, "spec_ring", e,
      "vec_id", "embedding", "label", coarse)
    // the partition column round-trips the write-time assignment
    assert(part.columns.contains("cell") && part.count() == 60L)
    for (np <- Seq(4, 2)) {
      val flat = Similarity.hardNegativesIvf(e, "vec_id", "embedding",
          "label", k = 3, coarse, nprobe = np)
        .filter($"vec_id" % 5 === 0)
        .orderBy("vec_id", "rank").collect().toSeq
      val got = Similarity.hardNegativesIvfPartitioned(part, "vec_id",
          "embedding", "label", "cell", k = 3, coarse, nprobe = np,
          col("vec_id") % 5 === 0)
        .orderBy("vec_id", "rank").collect().toSeq
      assert(got == flat, s"nprobe=$np diverged from the flat operator")
    }
  }

  test("hits: hand-computed mutual reinforcement, roles stay split, empty loud") {
    import graft.operators.Hits
    // u1->{v1,v2}, u2->{v1}: u1 is the better hub (covers both
    // authorities), v1 the better authority (pointed at by both hubs).
    // All sums have <= 2 terms, so the hand model is bit-exact.
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("s", "d")
    val got = Hits.scores(e, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // round 1: a = (v1: 2/2=1, v2: 1/2); h = (u1: 1.5/1.5=1, u2: 1/1.5)
    val a1v2 = 1.0 / 2
    val h1u2 = 1.0 / 1.5
    // round 2
    val a2v1raw = 1.0 + h1u2; val a2v2 = 1.0 / a2v1raw
    val h2u1raw = 1.0 + a2v2; val h2u2 = 1.0 / h2u1raw
    // round 3
    val a3v1raw = 1.0 + h2u2; val a3v2 = 1.0 / a3v1raw
    val h3u1raw = 1.0 + a3v2; val h3u2 = 1.0 / h3u1raw
    assert(got(1L) == (1.0, 0.0))        // top hub pinned at 1, no authority role
    assert(got(10L) == (0.0, 1.0))       // top authority pinned at 1
    assert(got(2L) == (h3u2, 0.0))
    assert(got(20L) == (0.0, a3v2))
    assert(got(1L)._1 > got(2L)._1 && got(10L)._2 > got(20L)._2)
    intercept[IllegalArgumentException] {
      Hits.scores(e.filter($"s" === 99L), "s", "d", iters = 1)
    }
  }

  test("hits: bounded raw-frame caching and exact-fixpoint early stop") {
    import graft.operators.Hits
    // (1) release discipline: at any job boundary during the run, the
    // EXPLICIT persists alive are e + nodes + at most the CURRENT
    // round's two raw half-round frames — never the 2·iters buffer the
    // round-9 form held to the end. Round-cut frames are
    // localCheckpoints (not CacheManager persists), so they are
    // excluded from the count; sampling at every job start covers each
    // round's certificate action and broadcast jobs.
    val sc = spark.sparkContext
    def explicitPersists(): Int =
      org.apache.spark.GraftTestSparkAccess.explicitPersistCount(sc)
    org.apache.spark.GraftTestSparkAccess.waitListenerBus(sc)
    val baseline = explicitPersists()
    @volatile var maxSeen = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val n = explicitPersists()
        if (n > maxSeen) maxSeen = n
      }
    }
    sc.addSparkListener(listener)
    try {
      // u1->{v1,v2}, u2->{v1} never reaches an exact fixpoint (scores
      // asymptote), so all 6 rounds run — 12 raws under the old buffer
      val e = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("s", "d")
      Hits.scores(e, "s", "d", iters = 6).collect()
      org.apache.spark.GraftTestSparkAccess.waitListenerBus(sc)
      assert(maxSeen > baseline, "listener sampled no jobs — test is vacuous")
      assert(maxSeen - baseline <= 4,
        s"more than e+nodes+2 raws cached at once: ${maxSeen - baseline}")
      // nothing leaks past the return
      assert(explicitPersists() == baseline)
    } finally sc.removeSparkListener(listener)
    // (2) convergence certificate: a star graph reaches its exact
    // fixpoint after round 1, round 2's max|Δh| = 0 proves it, rounds
    // 3..5 are skipped — and the output is identical to running them
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val (df5, r5, c5) =
      Hits.scoresConverged(star, "s", "d", iters = 5, earlyStop = true)
    assert(r5 == 2 && c5)
    val full = Hits.scores(star, "s", "d", iters = 5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val early = df5.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(early == full)
    // without earlyStop the cap is honored AND the certificate still
    // reports the fixpoint was reached (the check runs every round,
    // earlyStop only controls whether a passing round ends the loop)
    val (_, rAll, cAll) =
      Hits.scoresConverged(star, "s", "d", iters = 4, earlyStop = false)
    assert(rAll == 4 && cAll)
  }

  test("adamicAdar: rare shared neighbour beats popular one, existing edges excluded") {
    import graft.operators.GraphStats
    // hub h connects {1,2,3,4} (deg 4); rare r connects {1,2} (deg 2).
    // pair (1,2) shares BOTH -> aa = 1/ln4 + 1/ln2; (3,4) shares only
    // the hub -> aa = 1/ln4; edge 1-2 does NOT exist so the pair stays
    val e = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L), (8L, 1L), (8L, 2L))
      .toDF("s", "d")
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = GraphStats.adamicAdar(e, "s", "d", topK = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got((1L, 2L)) == (2L, r4(1.0 / math.log(4) + 1.0 / math.log(2))))
    assert(got((3L, 4L)) == (1L, r4(1.0 / math.log(4))))
    assert(got((1L, 2L))._2 > got((3L, 4L))._2, "rare neighbour must weigh more")
    // hub-center pairs like (8,9) via shared leaf 1 (deg 2): present;
    // but an EXISTING edge never appears as a prediction
    assert(!got.contains((1L, 9L)) && !got.contains((9L, 1L)))
    // degree cap: skipping the hub removes its wedges — (3,4) vanishes
    val capped = GraphStats.adamicAdar(e, "s", "d", topK = 50,
        maxWedgeDegree = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)) && !capped.contains((3L, 4L)))
    // the DEFAULT cap is a real bound: a planted hub one over it is
    // skipped without an explicit parameter (its leaves are degree-1,
    // so the hub was the only wedge center — output is empty instead
    // of 10⁸ wedges)
    val hub = (1L to 10001L).map(i => (0L, i)).toDF("s", "d")
    assert(GraphStats.adamicAdar(hub, "s", "d", topK = 5).count() == 0L)
  }

  test("degreeAssortativity: star is maximally disassortative, path r computed by hand") {
    import graft.operators.GraphStats
    // star 0-{1,2,3}: every edge joins deg 3 to deg 1 -> both endpoint
    // degree series are constant per orientation... over the SYMMETRIC
    // list the pairs are (3,1)x3 and (1,3)x3 -> r = -1 exactly
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val rs = GraphStats.degreeAssortativity(star, "s", "d").head()
    assert(rs.getLong(0) == 4L && rs.getLong(1) == 3L)
    assert(rs.getDouble(2) == -1.0)
    // path 1-2-3: symmetric pairs (1,2),(2,1),(2,3),(3,2) ->
    // da = [1,2,2,1], db = [2,1,1,2] -> r = -1 (ends vs middle)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val rp = GraphStats.degreeAssortativity(path, "s", "d").head()
    assert(rp.getLong(0) == 3L && rp.getLong(1) == 2L && rp.getDouble(2) == -1.0)
    // 4-cycle is degree-regular: corr undefined (zero variance) -> NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val rc = GraphStats.degreeAssortativity(cyc, "s", "d").head()
    assert(rc.getLong(1) == 4L && rc.isNullAt(2))
  }

  test("kCore: peeling cascades, certificate at the cap, self-loops dropped") {
    import graft.operators.KCore
    // path 1-2-3-4 plus triangle 4-5-6-4 (+ a self-loop on 5 that must
    // NOT save anything): 2-core peeling cascades down the path —
    // round 1 peels 1 (deg 1), round 2 peels 2, round 3 peels 3; the
    // triangle survives as the 2-core
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L),
      (5L, 5L)).toDF("s", "d")
    val (core, rounds, conv) = KCore.kCoreConverged(e, "s", "d", k = 2,
      rounds = 10, earlyStop = true)
    val m = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(4L -> 2L, 5L -> 2L, 6L -> 2L), m.toString)
    assert(conv && rounds == 4, s"rounds=$rounds") // 3 peel rounds + the observing round
    // fixpoint reached exactly at the cap still certifies (the LPA
    // cap-boundary contract)
    val (_, r4, c4) = KCore.kCoreConverged(e, "s", "d", k = 2, rounds = 4,
      earlyStop = true)
    assert(c4 && r4 == 4)
    // under-capped run returns the residual mid-peel state, uncertified
    val (mid, r1, c1) = KCore.kCoreConverged(e, "s", "d", k = 2, rounds = 1,
      earlyStop = true)
    assert(!c1 && r1 == 1)
    assert(mid.collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L, 5L, 6L))
    // k above the max degree empties the graph
    assert(KCore.kCore(e, "s", "d", k = 10, rounds = 3).count() == 0)
  }

  test("trustRanks: hand-computed seed restart, unreachable scores 0, empty seeds loud") {
    import graft.operators.PageRank
    // seed {a}, edge a->b (b dangling): r0=(1,0);
    // round 1: c(b)=1, dm=0      -> r=(0.15, 0.85)
    // round 2: c(b)=0.15, dm=0.85 -> a: 0.15+0.85*0.85=0.8725, b: 0.85*0.15
    val e1 = Seq(("a", "b")).toDF("s", "d")
    val seedsA = Seq("a").toDF("n")
    val r2 = PageRank.trustRanks(e1, "s", "d", seedsA, "n", iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(r2("a") - 0.8725) < 1e-12)
    assert(math.abs(r2("b") - 0.1275) < 1e-12)
    // c->b cannot be reached FROM the seed: its score is exactly 0 at
    // any depth (r0(c)=0, nothing contributes to c, restart mass 0)
    val e2 = Seq(("a", "b"), ("c", "b")).toDF("s", "d")
    val r3 = PageRank.trustRanks(e2, "s", "d", seedsA, "n", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r3("c") == 0.0)
    assert(math.abs(r3.values.sum - 1.0) < 1e-9, "mass conserved")
    // seeds that never touch the graph must fail loud
    intercept[IllegalArgumentException] {
      PageRank.trustRanks(e1, "s", "d", Seq("zzz").toDF("n"), "n", iters = 1)
    }
  }

  test("sq: int8 codes, quantized cosine, zero-scale dims, recall") {
    import graft.operators.Similarity
    // dim 3 is all-zero -> scale 0 -> codes 0 (no NaN path); all values
    // float-exact (halves/quarters) so the hand model needs no tolerance
    val e = Seq(
      (0L, Array(0.75f, 0.5f, 0.0f)), // query
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.5f, 0.75f, 0.0f))
    ).toDF("vec_id", "embedding")
    val scales = Similarity.sqScales(e, "embedding")
    assert(scales.toSeq == Seq(1.0, 0.75, 0.0))
    // hand codes: q=(95,85,0), v1=(127,0,0), v2=(64,127,0)
    def cosQ(a: Seq[Int], b: Seq[Int]) = {
      val dot = a.zip(b).map { case (x, y) => x.toLong * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x.toLong * x).sum.toDouble) *
        math.sqrt(b.map(x => x.toLong * x).sum.toDouble))
    }
    val q = Seq(95, 85, 0)
    val got = Similarity.sqTopK(e.filter($"vec_id" =!= 0), "vec_id", "embedding",
        scales, e.filter($"vec_id" === 0), "embedding", k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.map(_._1).toSeq == Seq(2L, 1L)) // v2 closer, as in exact cosine
    assert(got.toMap.apply(2L) == cosQ(Seq(64, 127, 0), q)) // bit-exact, no tolerance
    assert(got.toMap.apply(1L) == cosQ(Seq(127, 0, 0), q))
    val rec = Similarity.sqRecall(e.filter($"vec_id" =!= 0), "vec_id", "embedding",
        scales, e.filter($"vec_id" === 0), "embedding", k = 2)
      .head()
    assert(rec.getInt(0) == 2 && rec.getLong(1) == 2L && rec.getDouble(2) == 1.0)
    // ragged corpora fail loud (review: an id-based check could never
    // fire — exploded dims are always contiguous; the guard compares
    // vector LENGTHS)
    val ragged = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.sqScales(ragged, "embedding")
    }
    assert(ex.getMessage.contains("ragged"), ex.getMessage)
  }

  test("ivfSqTopK: full probe == sqTopK exactly; pruning trades recall, guards loud") {
    import graft.operators.Similarity
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = e.filter($"vec_id" =!= 0)
    val query = e.filter($"vec_id" === 0)
    val coarse = Similarity.pqCodebook(
      e.filter($"vec_id".between(1, 16)), "vec_id", "embedding",
      numSubspaces = 1, codebookSize = 16)(0)
    val scales = Similarity.sqScales(e, "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // full probe: the cell filter passes every row → EXACTLY the sqTopK
    // ranking, ids AND bit-deterministic scores
    val full = rows(Similarity.ivfSqTopK(corpus, "vec_id", "embedding",
      coarse, scales, query, "embedding", k = 20, nprobe = 16))
    val sq = rows(Similarity.sqTopK(corpus, "vec_id", "embedding",
      scales, query, "embedding", k = 20))
    assert(full == sq)
    // pruning: fewer cells → a subset of the corpus is scanned; the
    // recall report vs the EXACT cosine baseline must never improve on
    // the full probe's (the memory/recall trade the operator sells)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        query.select($"embedding"), k = 20)
      .collect().map(_.getLong(0)).toSet
    val prunedIds = Similarity.ivfSqTopK(corpus, "vec_id", "embedding",
        coarse, scales, query, "embedding", k = 20, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val recallFull = full.map(_._1).count(exact) / 20.0
    val recallPruned = prunedIds.count(exact) / 20.0
    assert(recallFull > 0.0, "quantized ranking must overlap the exact top-20")
    assert(recallPruned <= recallFull + 1e-12,
      s"pruned recall $recallPruned beats full-probe $recallFull")
    intercept[IllegalArgumentException] {
      Similarity.ivfSqTopK(corpus, "vec_id", "embedding", coarse, scales,
        query, "embedding", k = 20, nprobe = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfSqTopK(corpus, "vec_id", "embedding", coarse, scales,
        query, "embedding", k = 20, nprobe = 17)
    }
  }

  test("dsirWeights: hand model on a two-domain corpus, NULL target cond is false") {
    // target doc repeats "a b", off-domain doc repeats "c d"; the probe
    // doc mixes both. Its weight must sit between the two extremes and
    // match the closed form exactly.
    val docs = Seq(
      (1L, "a b a b a b", "t"),   // target: bigrams (a,b)x3, (b,a)x2
      (2L, "c d c d", null),      // raw-only: (c,d)x2, (d,c)x1
      (3L, "a b c d", "x")        // probe: (a,b), (b,c), (c,d)
    ).toDF("doc_id", "text", "dom")
    val got = Sampling.dsirWeights(docs, "doc_id", "text",
        col("dom") === "t", buckets = 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // model counts per bigram (collision-free at 16 buckets would not
    // be guaranteed — recompute via the same hash to stay exact)
    def bucket(s: String): Long =
      java.lang.Math.floorMod(
        graft.functions.Fnv1a64.hashBytes(s.getBytes("UTF-8")), 16L)
    val all = Seq("a b" -> 4L, "b a" -> 2L, "c d" -> 3L, "d c" -> 1L,
      "b c" -> 1L) // raw = all three docs, including the probe's bigrams
    val tgt = Seq("a b" -> 3L, "b a" -> 2L)
    val cr: Map[Long, Long] = all.groupBy(p => bucket(p._1))
      .map { case (b, g) => b -> g.map(_._2).sum }
    val ct: Map[Long, Long] = tgt.groupBy(p => bucket(p._1))
      .map { case (b, g) => b -> g.map(_._2).sum }
    val (nt, nr) = (5L, 11L)
    def llr(b: Long) = math.log(
      ((ct.getOrElse(b, 0L).toDouble + 1.0) / (nt + 16)) /
        ((cr(b).toDouble + 1.0) / (nr + 16)))
    def w(bigrams: Seq[String]): Double = BigDecimal(
        bigrams.groupBy(bucket).toSeq
          .map { case (b, g) => g.size * llr(b) }.sum)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._1 == 5L && math.abs(got(1L)._2 - w(Seq.fill(3)("a b") ++ Seq.fill(2)("b a"))) < 1e-9)
    assert(got(2L)._1 == 3L && math.abs(got(2L)._2 - w(Seq.fill(2)("c d") :+ "d c")) < 1e-9)
    assert(got(3L)._1 == 3L && math.abs(got(3L)._2 - w(Seq("a b", "b c", "c d"))) < 1e-9)
    // target doc scores highest, off-domain lowest, probe between
    assert(got(1L)._2 > got(3L)._2 && got(3L)._2 > got(2L)._2)
  }

  test("rrfFuse: full-outer rank fusion with fixed tie-break") {
    import graft.operators.Retrieval
    val lex = Seq((10L, 3.0), (20L, 2.0), (30L, 1.0)).toDF("id", "score")
    val sem = Seq((20L, 0.9), (40L, 0.8)).toDF("id", "cos")
    val got = Retrieval.rrfFuse(lex, sem, "id", k = 10)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getDouble(3)))
    // 20 is rank 2 lexically and rank 1 densely -> highest fused score
    assert(got.head._1 == 20L && got.head._2 == Some(2) && got.head._3 == Some(1))
    val exp20 = BigDecimal(1.0 / 62 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got.head._4 - exp20) < 1e-12)
    // misses contribute 0, not null
    val m = got.map(t => t._1 -> t).toMap
    assert(m(30L)._2 == Some(3) && m(30L)._3 == None)
    val exp30 = BigDecimal(1.0 / 63)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(m(30L)._4 - exp30) < 1e-12)
    assert(got.map(_._1).toSet == Set(10L, 20L, 30L, 40L))
  }

  test("Layout: z-value interleave, cell edges, and zone-map spans") {
    import graft.operators.Layout
    // 2 dims, 2 bits each: x,y in [0,3] quantize to themselves
    // (min=0, max=3 -> cell = least(floor(v/3*4), 3) = v for 0..3)
    val grid = (for { x <- 0 to 3; y <- 0 to 3 } yield (x, y))
      .toDF("x", "y")
    val z = Layout.withZValue(grid, Seq("x", "y"), bits = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
    // bit layout must agree with the native 2-dim kernel
    for { x <- 0 to 3; y <- 0 to 3 }
      assert(z((x, y)) == graft.functions.ZOrder2.interleave(x.toLong, y.toLong),
        s"z($x,$y)")
    // zone map at filesLog2=2 over the full 4-bit z space: each of the
    // 4 files is one 2x2 quadrant -> every file spans HALF of each
    // dimension (the multi-dim pruning property)
    val zm = Layout.zoneMap(grid, Seq("x", "y"), bits = 2, filesLog2 = 2)
      .collect()
    assert(zm.length == 4)
    zm.foreach { r =>
      assert(r.getLong(1) == 4L) // 4 rows per quadrant
      assert(r.getInt(3) - r.getInt(2) == 1, "x span is half the range")
      assert(r.getInt(5) - r.getInt(4) == 1, "y span is half the range")
    }
    // zorderBy returns the same rows, laid out, metadata dropped
    val laid = Layout.zorderBy(grid, Seq("x", "y"), bits = 2, numPartitions = 2)
    assert(laid.columns.toSeq == Seq("x", "y"))
    assert(laid.count() == 16)
  }
}
