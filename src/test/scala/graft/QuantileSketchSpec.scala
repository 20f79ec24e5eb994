package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{KllBuffer, KllQuantiles, SqlFunctions}
import graft.operators.Stats

/** The mergeable-sketch scale path of the grouped-quantile family:
  * exact below the sketch's compaction threshold, ε-bounded rank error
  * above it (measured against the exact-rank operator on sf0.1), and
  * the aggregate invariants a shuffle relies on (merge associativity,
  * serialization round-trip). */
class QuantileSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sketch with k > n never compacts — exactly the exact-rank quantiles") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i => (s"g${i % 3}", rnd.nextDouble() * 100))
    val df = rows.toDF("g", "v")
    val ps = Seq(0.1, 0.5, 0.9, 1.0)
    val exact = Stats.groupedExactQuantiles(df, "g", "v", ps)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(4)).toMap
    val sk = Stats.groupedQuantilesSketch(df, "g", "v", ps, k = 1024)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    assert(sk.keySet == exact.keySet)
    sk.foreach { case (key, v) =>
      assert(v == exact(key), s"$key: sketch $v != exact ${exact(key)}")
    }
  }

  test("NULL values and NULL groups excluded; all-NULL input -> empty") {
    val df = Seq(("a", Some(1.0)), ("a", None), (null, Some(9.0)))
      .toDF("g", "v")
    val out = Stats.groupedQuantilesSketch(df, "g", "v", Seq(0.5), k = 64)
      .collect()
    assert(out.length == 1 && out(0).getString(0) == "a"
      && out(0).getLong(2) == 1L && out(0).getDouble(3) == 1.0)
    val empty = Stats.groupedQuantilesSketch(
      Seq((null.asInstanceOf[String], 1.0)).toDF("g", "v"), "g", "v", Seq(0.5))
    assert(empty.count() == 0L)
  }

  test("wire format is pinned byte-for-byte (persisted rollup artifacts rely on it)") {
    // The exact byte layout (k int, count long, levels int, then per
    // level: parity boolean, size int, doubles in INSERTION order) is a
    // persistence contract: x_sketch_rollup writes these bytes to
    // parquet and streaming state stores them across checkpoints, so an
    // internal buffer change must not move a byte. Expected bytes are
    // spelled out literally, independent of the implementation.
    def expected(build: java.io.DataOutputStream => Unit): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      build(out); out.flush(); bos.toByteArray
    }
    val b = new KllBuffer(4)
    Seq(5.0, 1.0, 3.0).foreach(b.add)
    // no compaction yet: one level, parity false, insertion order kept
    assert(java.util.Arrays.equals(KllBuffer.toBytes(b), expected { o =>
      o.writeInt(4); o.writeLong(3L); o.writeInt(1)
      o.writeBoolean(false); o.writeInt(3)
      Seq(5.0, 1.0, 3.0).foreach(o.writeDouble)
    }))
    b.add(2.0) // level 0 reaches k=4: sort [1,2,3,5], parity-0 start,
    // survivors 1.0 and 3.0 move up at weight 2, parity flips
    assert(java.util.Arrays.equals(KllBuffer.toBytes(b), expected { o =>
      o.writeInt(4); o.writeLong(4L); o.writeInt(2)
      o.writeBoolean(true); o.writeInt(0)
      o.writeBoolean(false); o.writeInt(2)
      Seq(1.0, 3.0).foreach(o.writeDouble)
    }))
    // round trip preserves the bytes exactly
    assert(java.util.Arrays.equals(
      KllBuffer.toBytes(KllBuffer.fromBytes(KllBuffer.toBytes(b))),
      KllBuffer.toBytes(b)))
  }

  test("buffer merge preserves count and stays rank-accurate; serde round-trips") {
    // two disjoint halves of 1..20000, forced through compaction (k=64)
    val b1 = new KllBuffer(64)
    val b2 = new KllBuffer(64)
    (1 to 10000).foreach(i => b1.add(i.toDouble))
    (10001 to 20000).foreach(i => b2.add(i.toDouble))
    // round-trip b2 through the aggregate's wire format first
    val agg = KllQuantiles(org.apache.spark.sql.catalyst.expressions.Literal(1.0),
      Seq(0.5), 64)
    val b2rt = agg.deserialize(agg.serialize(b2))
    assert(b2rt.count == b2.count)
    val merged = b1.merge(b2rt)
    assert(merged.count == 20000L)
    val qs = merged.quantiles(Seq(0.25, 0.5, 0.75))
    // true quantiles 5000/10000/15000; k=64 -> generous 5% rank band
    Seq(5000.0, 10000.0, 15000.0).zip(qs).foreach { case (want, got) =>
      assert(math.abs(got - want) <= 1000.0, s"want ~$want got $got")
    }
  }

  test("sf0.1: sketch rank error vs exact stays under eps = 2/k") {
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val li = graft.core.Tables.load(spark, dir, "lineitem")
    val ps = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val k = 256
    val sk = Stats.groupedQuantilesSketch(
      li, "l_returnflag", "l_extendedprice", ps, k)
    // measured rank of each sketched value inside its own group: the
    // sketch returns an actual data value, so the error METRIC is rank
    // displacement |rank(value) - ceil(p*n)| / n, the bound KLL states
    val vals = li.select(col("l_returnflag").cast("string").as("g"),
      col("l_extendedprice").cast("double").as("v"))
    val errs = broadcast(sk).join(vals,
        col("l_returnflag") === col("g") && col("v") <= col("value"), "left")
      .groupBy(col("l_returnflag"), col("p"), col("n"))
      .agg(count(col("v")).as("rk"))
      .select((abs(col("rk") - ceil(col("p") * col("n"))) /
        col("n")).as("eps"))
      .collect().map(_.getDouble(0))
    assert(errs.nonEmpty)
    val worst = errs.max
    // stated ε: 2/k rank error (KLL-in-practice with deterministic
    // alternation; 2x headroom over the 1/k design point)
    assert(worst <= 2.0 / k,
      f"worst rank error $worst%.5f exceeds eps=${2.0 / k}%.5f at k=$k")
  }

  test("roll-up trio: sketch state persists, merge is lossless/loud, values read back") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // exact regime: two shard sketches of disjoint halves merge into
    // exactly the single-pass result
    val rows = (1 to 2000).map(i => (i % 2, i.toDouble)).toDF("shard", "v")
    val shards = rows.groupBy(col("shard"))
      .agg(KllQuantiles.kllSketch(col("v"), 4096).as("sk"),
        count(lit(1)).as("n"))
    val merged = shards.agg(KllQuantiles.kllMerge(col("sk")).as("m"))
      .select(KllQuantiles.kllValues(col("m"), Seq(0.25, 0.5, 1.0)).as("qs"))
      .head().getSeq[Double](0)
    assert(merged == Seq(500.0, 1000.0, 2000.0), merged.toString)
    // compacted sketches still merge within the rank-error contract:
    // k=64 forces compaction on both sides; p50 of 1..20000 ≈ 10000
    val big = (1 to 20000).map(i => (i % 2, i.toDouble)).toDF("shard", "v")
    val mBig = big.groupBy(col("shard"))
      .agg(KllQuantiles.kllSketch(col("v"), 64).as("sk"))
      .agg(KllQuantiles.kllMerge(col("sk")).as("m"))
      .select(KllQuantiles.kllValues(col("m"), Seq(0.5)).as("qs"))
      .head().getSeq[Double](0).head
    assert(math.abs(mBig - 10000.0) <= 20000.0 * (4.0 / 64.0),
      s"merged p50 $mBig drifted past the doubled rank-error band")
    // mixed sketch widths fail LOUD (silent precision loss otherwise)
    val mixed = rows.limit(100)
      .groupBy(col("shard"))
      .agg(KllQuantiles.kllSketch(col("v"),
        // width depends on the shard: 64 vs 128
        64).as("sk"))
      .union(rows.limit(100).groupBy(col("shard"))
        .agg(KllQuantiles.kllSketch(col("v"), 128).as("sk")))
    val ex = intercept[Exception] {
      mixed.agg(KllQuantiles.kllMerge(col("sk"))).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("mixed sketch widths"), msg)
    // empty merge input fails loud, not a garbage sketch
    val exEmpty = intercept[Exception] {
      shards.filter(lit(false))
        .agg(KllQuantiles.kllMerge(col("sk"))).collect()
    }
    val msgE = Option(exEmpty.getMessage).getOrElse("") +
      Option(exEmpty.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msgE.contains("no sketches"), msgE)
  }

  test("weighted sketch with no compaction = exact expanded-multiset rank quantiles") {
    // weights small enough that no level fills at k=1024: the weighted
    // insert is the binary decomposition, so the sketch IS the exact
    // multiset — compare against a literal Scala expansion
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map(i =>
      (s"g${i % 2}", rnd.nextDouble() * 100, (rnd.nextInt(9) + 1).toLong))
    val df = rows.toDF("g", "v", "w")
    val ps = Seq(0.1, 0.5, 0.9, 1.0)
    val sk = Stats.groupedQuantilesSketchWeighted(df, "g", "v", "w", ps, k = 1024)
      .collect().map(r =>
        (r.getString(0), r.getDouble(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val expanded = rs.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
      val bigW = expanded.length.toLong
      ps.foreach { p =>
        val want = expanded((math.max(1L,
          math.ceil(p * bigW).toLong) - 1L).toInt)
        val (n, got) = sk((g, p))
        assert(n == bigW, s"$g n: $n != $bigW")
        assert(got == want, s"($g, $p): sketch $got != exact $want")
      }
    }
  }

  test("weighted sketch: NULL/zero weights drop rows, negative weight fails loud") {
    val df = Seq(("a", 1.0, Some(2L)), ("a", 9.0, None), ("a", 5.0, Some(0L)))
      .toDF("g", "v", "w")
    val out = Stats.groupedQuantilesSketchWeighted(df, "g", "v", "w", Seq(1.0))
      .collect()
    assert(out.length == 1 && out(0).getLong(2) == 2L
      && out(0).getDouble(3) == 1.0, out.mkString(","))
    val ex = intercept[Exception] {
      Stats.groupedQuantilesSketchWeighted(
        Seq(("a", 1.0, -3L)).toDF("g", "v", "w"), "g", "v", "w", Seq(0.5))
        .collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("negative weight"), msg)
  }

  test("sf0.1: WEIGHTED sketch rank error in weight vs expansion stays under eps = 2/k") {
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val li = graft.core.Tables.load(spark, dir, "lineitem")
    val ps = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val k = 256
    val sk = Stats.groupedQuantilesSketchWeighted(
      li, "l_returnflag", "l_extendedprice", "l_quantity", ps, k)
    // rank displacement measured in WEIGHT: rank(value) = sum of
    // weights at or below the sketched value, target = ceil(p * W)
    val vals = li.select(col("l_returnflag").cast("string").as("g"),
      col("l_extendedprice").cast("double").as("v"),
      col("l_quantity").cast("long").as("w"))
    val errs = broadcast(sk).join(vals,
        col("l_returnflag") === col("g") && col("v") <= col("value"), "left")
      .groupBy(col("l_returnflag"), col("p"), col("n"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("rk"))
      .select((abs(col("rk") - ceil(col("p") * col("n"))) /
        col("n")).as("eps"))
      .collect().map(_.getDouble(0))
    assert(errs.nonEmpty)
    val worst = errs.max
    assert(worst <= 2.0 / k,
      f"worst weighted rank error $worst%.5f exceeds eps=${2.0 / k}%.5f at k=$k")
  }

  test("KllValues reads an EMPTY sketch (all-NULL group) as NULL, not an index error") {
    import org.apache.spark.sql.functions.{col, lit}
    val df = Seq(("a", Some(1.0)), ("b", None), ("b", None)).toDF("g", "v")
    val out = df.groupBy(col("g"))
      .agg(KllQuantiles.kllSketch(col("v"), 64).as("sk"))
      .select(col("g"),
        KllQuantiles.kllValues(col("sk"), Seq(0.5)).as("q"))
      .orderBy("g").collect()
    assert(out(0).getSeq[Double](1) == Seq(1.0))
    assert(out(1).isNullAt(1), "empty sketch must read as NULL")
    // direct buffer read stays loud for programmatic callers
    val exB = intercept[IllegalArgumentException] {
      new KllBuffer(64).quantiles(Seq(0.5))
    }
    assert(exB.getMessage.contains("empty"))
  }

  test("interpolated sketch read: percentile lerp in the exact regime; weighted state merges with raw state") {
    import org.apache.spark.sql.functions.col
    // unweighted 1..5: pos = (5−1)·p — exact-index and fractional lerp
    val df = (1 to 5).map(i => ("a", i.toDouble, 1L)).toDF("g", "v", "w")
    val sk = df.groupBy(col("g"))
      .agg(KllQuantiles.kllSketchWeighted(col("v"), col("w"), 64).as("sk"))
    val qs = sk.select(KllQuantiles.kllValuesInterp(col("sk"),
      Seq(0.0, 0.25, 0.5, 1.0)).as("q")).head().getSeq[Double](0)
    assert(qs == Seq(1.0, 2.0, 3.0, 5.0), qs.toString)
    val q2 = sk.select(KllQuantiles.kllValuesInterp(col("sk"),
      Seq(0.3)).as("q")).head().getSeq[Double](0)
    assert(math.abs(q2.head - 2.2) < 1e-12, q2.toString) // 2 + 0.2·(3−2)
    // parity with Spark's own percentile on the EXPANDED multiset:
    // values 1..4 with weight = value → expansion (1,2,2,3,3,3,4,4,4,4)
    val wdf = (1 to 4).map(i => ("a", i.toDouble, i.toLong)).toDF("g", "v", "w")
    val exp = wdf.selectExpr("g", "explode(sequence(1, w)) AS i", "v")
    val want = exp.selectExpr("percentile(v, array(0.1D, 0.5D, 0.77D)) AS p")
      .head().getSeq[Double](0)
    val got = wdf.groupBy(col("g"))
      .agg(KllQuantiles.kllSketchWeighted(col("v"), col("w"), 64).as("sk"))
      .select(KllQuantiles.kllValuesInterp(col("sk"),
        Seq(0.1, 0.5, 0.77)).as("q")).head().getSeq[Double](0)
    assert(got == want, s"sketch $got != percentile $want")
    // weighted + unweighted state at the same k merge freely (same
    // wire format): two copies of each value ≡ weight-2 inserts
    val raw = (1 to 5).map(i => ("a", i.toDouble)).toDF("g", "v")
      .groupBy(col("g"))
      .agg(KllQuantiles.kllSketch(col("v"), 64).as("sk"))
    val merged = sk.select(col("sk")).union(raw.select(col("sk")))
      .agg(KllQuantiles.kllMerge(col("sk")).as("m"))
      .select(KllQuantiles.kllValues(col("m"), Seq(0.5, 1.0)).as("q"))
      .head().getSeq[Double](0)
    assert(merged == Seq(3.0, 5.0), merged.toString) // 1,1,2,2,...,5,5
  }

  test("SQL surface type checks: int value column fails analysis, not executors") {
    SqlFunctions.register(spark)
    spark.range(5).selectExpr("id AS g", "CAST(id AS INT) AS iv",
      "CAST(id AS DOUBLE) AS dv", "id AS w").createOrReplaceTempView("kll_ty")
    val ex = intercept[Exception] {
      spark.sql(
        "SELECT graft_kll_quantiles(iv, array(0.5D), 64) FROM kll_ty GROUP BY g")
        .collect()
    }
    assert(ex.getMessage.contains("double"), ex.getMessage)
    val exW = intercept[Exception] {
      spark.sql(
        "SELECT graft_kll_quantiles_w(dv, CAST(w AS INT), array(0.5D), 64) " +
          "FROM kll_ty GROUP BY g").collect()
    }
    assert(exW.getMessage.contains("bigint"), exW.getMessage)
    // the happy path through SQL: weighted quantiles over one group
    val ok = spark.sql(
      "SELECT graft_kll_quantiles_w(dv, w, array(1.0D), 4096) AS q FROM kll_ty")
      .head().getSeq[Double](0)
    assert(ok == Seq(4.0), ok.toString)
  }

  test("SQL registration: graft_kll_quantiles over groups, literal guards") {
    SqlFunctions.register(spark)
    Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0))
      .toDF("g", "v").createOrReplaceTempView("kll_in")
    val out = spark.sql(
      "SELECT g, graft_kll_quantiles(v, array(0.5D, 1.0D), 64) AS q " +
        "FROM kll_in GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1))
    assert(out(0) == ("a" -> Seq(2.0, 3.0)))
    assert(out(1) == ("b" -> Seq(5.0, 5.0)))
    // non-literal ps / k fail with the LitArgs-style message
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_kll_quantiles(v, array(v), 64) FROM kll_in")
        .collect()
    }
    assert(ex.getMessage.contains("literal"))
    intercept[Exception] {
      Stats.groupedQuantilesSketch(Seq(("a", 1.0)).toDF("g", "v"),
        "g", "v", Seq(1.5))
    }
    intercept[Exception] {
      Stats.groupedQuantilesSketch(Seq(("a", 1.0)).toDF("g", "v"),
        "g", "v", Seq(0.5), k = 4)
    }
  }
}
