package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftExtensions, Sessions}
import graft.functions._

/** The native SQL function table ([[SqlFunctions]]) against the Column
  * helpers: one SQL call and one helper Column per table row must give
  * the same value; extended sessions get exactly the table; helpers
  * never touch a session's function registry. */
class FunctionTableSpec extends AnyFunSuite {

  private lazy val extended: SparkSession = {
    // create() installs the new session as default and active; put the
    // shared one back so the other suites are unaffected
    val prev = SparkSession.getDefaultSession
    val s = Sessions.configure(
      SparkSession.builder().master("local[2]").withExtensions(new GraftExtensions)
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_fn_wh").toString),
      shufflePartitions = 2, appName = "graft-fn-table-test").create()
    prev match {
      case Some(p) =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      case None =>
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
    }
    s
  }

  /** A plain session with a registry nothing else has touched. */
  private def freshPlain(): SparkSession = TestSpark.spark.newSession()

  private def graftNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet

  private val bloomHex: String = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100)
    bf.putLong(7L)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray.map("%02X".format(_)).mkString
  }

  private def input(s: SparkSession): DataFrame = s.sql(
    """SELECT 'a b c d e' AS text, 7L AS key, 2.5D AS v, 3L AS w,
      |       array(1.0D, 0.0D) AS vec,
      |       array(named_struct('cid', 1L, 'cv', array(0.6D, 0.8D))) AS cents,
      |       array('ab', 'c') AS pre""".stripMargin)
    .crossJoin(s.range(1, 3).select(KllQuantiles.kllSketch(s, col("id"), 64).as("sk")))

  /** name → (SQL call over [[input]]'s columns, the helper's Column). */
  private def cases(s: SparkSession): Map[String, (String, Column)] = Map(
    "graft_bloom_might_contain" -> (s"graft_bloom_might_contain(X'$bloomHex', key)",
      BloomMightContain.mightContain(s,
        lit(bloomHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray), col("key"))),
    "graft_bootstrap_weights" -> ("graft_bootstrap_weights(key, 10)",
      BootstrapWeights.weights(s, col("key"), 10)),
    "graft_bpe_encode" -> ("graft_bpe_encode(pre, array('a'), array('b'))",
      BpeEncodeVocab.encode(s, col("pre"), Seq(("a", "b")))),
    "graft_cell_bucket" -> ("graft_cell_bucket(key, array(5L, 10L))",
      CellBucket.bucket(s, col("key"), Array(5L, 10L))),
    "graft_chunk_hashes" -> ("graft_chunk_hashes(text, 2)",
      ChunkHashes.chunkHashes(s, col("text"), 2)),
    "graft_chunk_strings" -> ("graft_chunk_strings(text, 2)",
      ChunkStrings.chunkStrings(s, col("text"), 2)),
    "graft_cosine" -> ("graft_cosine(vec, array(0.6D, 0.8D))",
      CosineSimilarity.cosine(s, col("vec"), lit(Array(0.6, 0.8)))),
    "graft_countmin_buckets" -> ("graft_countmin_buckets(key, 4, 64)",
      CountMinBuckets.buckets(s, col("key"), 4, 64)),
    "graft_fnv64" -> ("graft_fnv64(text)", Fnv1a64.fnv64(s, col("text"))),
    "graft_hll_register" -> ("graft_hll_register(key, 9)",
      HllRegister.registerCoords(s, col("key"), 9)),
    "graft_hyperplane_sig" -> ("graft_hyperplane_sig(vec, 8, 42L)",
      HyperplaneSignature.signature(s, col("vec"), 8, 42L)),
    "graft_kll_merge" -> ("graft_kll_merge(sk)", KllQuantiles.kllMerge(s, col("sk"))),
    "graft_kll_quantiles" -> ("graft_kll_quantiles(v, array(0.5D), 64)",
      KllQuantiles.kllQuantiles(s, col("v"), Seq(0.5), 64)),
    "graft_kll_quantiles_w" -> ("graft_kll_quantiles_w(v, w, array(0.5D), 64)",
      KllQuantiles.kllQuantilesWeighted(s, col("v"), col("w"), Seq(0.5), 64)),
    "graft_kll_sketch" -> ("graft_kll_sketch(v, 64)", KllQuantiles.kllSketch(s, col("v"), 64)),
    "graft_kll_sketch_w" -> ("graft_kll_sketch_w(v, w, 64)",
      KllQuantiles.kllSketchWeighted(s, col("v"), col("w"), 64)),
    "graft_kll_values" -> ("graft_kll_values(sk, array(0.5D))",
      KllQuantiles.kllValues(s, col("sk"), Seq(0.5))),
    "graft_kll_values_interp" -> ("graft_kll_values_interp(sk, array(0.5D))",
      KllQuantiles.kllValuesInterp(s, col("sk"), Seq(0.5))),
    "graft_minhash_sig" -> ("graft_minhash_sig(graft_shingle_hashes(text, 2), 4)",
      MinHashSignature.signature(s, ShingleHashes.shingleHashes(s, col("text"), 2), 4)),
    "graft_nearest_centroid" -> ("graft_nearest_centroid(vec, cents)",
      NearestCentroid.nearest(s, col("vec"), col("cents"))),
    "graft_nfc" -> ("graft_nfc(text)", UnicodeNormalize.nfc(s, col("text"))),
    "graft_overlap_chunks" -> ("graft_overlap_chunks(text, 3, 2)",
      OverlapChunkStrings.overlapChunks(s, col("text"), 3, 2)),
    "graft_quant_stats" -> ("graft_quant_stats(vec)", QuantStats.stats(s, col("vec"))),
    "graft_quantize_vec" -> ("graft_quantize_vec(vec, 100)",
      QuantizeVec.quantize(s, col("vec"), 100)),
    "graft_random_projection" -> ("graft_random_projection(vec, 4, 7L)",
      RandomProjection.project(s, col("vec"), 4, 7L)),
    "graft_rolling_hashes" -> ("graft_rolling_hashes(text, 2)",
      RollingHashes.rollingHashes(s, col("text"), 2)),
    "graft_shingle_hashes" -> ("graft_shingle_hashes(text, 2)",
      ShingleHashes.shingleHashes(s, col("text"), 2)),
    "graft_shingle_strings" -> ("graft_shingle_strings(text, 2)",
      ShingleStrings.shingleStrings(s, col("text"), 2)),
    "graft_simhash64" -> ("graft_simhash64(graft_shingle_hashes(text, 2))",
      SimHash64.simhash64(s, ShingleHashes.shingleHashes(s, col("text"), 2))),
    "graft_sortable_double_bits" -> ("graft_sortable_double_bits(v)",
      SortableDoubleBits.sortable(s, col("v"))),
    "graft_top_k" -> ("graft_top_k(key, 1)", TopK.topK(s, col("key"), 1)),
    "graft_zorder2" -> ("graft_zorder2(key, w)", ZOrder2.zorder(s, col("key"), col("w"))))

  private def values(df: DataFrame): Seq[Any] = {
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case r: Row => r.toSeq.map(norm)
      case xs: scala.collection.Seq[_] => xs.map(norm)
      case other => other
    }
    df.collect().toSeq.map(r => norm(r.get(0)))
  }

  test("the table has 32 distinct names and an extended session gets exactly them") {
    val names = SqlFunctions.all.map(_.name)
    assert(names.size == 32 && names.distinct.size == names.size, names)
    assert(graftNames(extended) == names.toSet)
    assert(cases(freshPlain()).keySet == names.toSet)
  }

  test("every table function resolves from SQL and agrees with its Column helper") {
    val in = input(extended)
    in.createOrReplaceTempView("fn_table_in")
    // all SQL calls run before any helper Column is built on this session
    val bySql = cases(freshPlain()).map { case (name, (sql, _)) =>
      name -> values(extended.sql(s"SELECT $sql FROM fn_table_in"))
    }
    for ((name, (_, helper)) <- cases(extended)) {
      assert(bySql(name).size == 1 && bySql(name).head != null, s"$name: ${bySql(name)}")
      assert(values(in.select(helper)) == bySql(name), name)
    }
  }

  test("a call with the wrong number of arguments names the signature") {
    val e = intercept[Exception](extended.sql("SELECT graft_top_k(1)").collect())
    val all = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(all.contains("graft_top_k(value, k)"), all)
  }

  test("helper Columns leave a plain session's function registry untouched") {
    val s = freshPlain()
    val in = input(s)
    for ((name, (_, helper)) <- cases(s))
      assert(values(in.select(helper)).size == 1, name)
    assert(graftNames(s).isEmpty, graftNames(s))
  }

  test("a helper Column built on one session resolves on another") {
    val builder = freshPlain()
    val h = Fnv1a64.fnv64(builder, col("text"))
    val top = TopK.topK(builder, col("key"), 1)
    val other = builder.newSession()
    assert(input(other).select(h).head().getLong(0) ==
      Fnv1a64.hashBytes("a b c d e".getBytes("UTF-8")))
    assert(input(other).select(top).head().getSeq[Long](0) == Seq(7L))
  }

  test("an unknown normalization form fails at the call; earlier Columns keep their form") {
    val s = freshPlain()
    val nfkc = UnicodeNormalize.normalized(s, col("t"), "NFKC")
    val e = intercept[IllegalArgumentException](
      UnicodeNormalize.normalized(s, col("t"), "nfkc"))
    assert(e.getMessage.contains("unknown form"), e.getMessage)
    // U+FB01 (the fi ligature) decomposes under compatibility forms only
    val r = s.sql("SELECT 'ﬁ' AS t").select(nfkc, UnicodeNormalize.nfc(s, col("t"))).head()
    assert(r.getString(0) == "fi" && r.getString(1) == "ﬁ", r)
  }

  test("SqlFunctions.register installs the table once and replaces nothing") {
    val s = freshPlain()
    def infos(x: SparkSession) = SqlFunctions.all.map(f =>
      x.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(f.name)))
    SqlFunctions.register(s)
    assert(graftNames(s) == SqlFunctions.all.map(_.name).toSet)
    val first = infos(s)
    SqlFunctions.register(s)
    assert(infos(s).zip(first).forall { case (a, b) => a.get eq b.get })
    assert(s.sql("SELECT graft_fnv64('a')").head().getLong(0) == 0xaf63dc4c8601ec8cL)
    // on an extended session it is a no-op: the injected entries stay
    val injected = infos(extended)
    SqlFunctions.register(extended)
    assert(infos(extended).zip(injected).forall { case (a, b) => a.get eq b.get })
  }
}
