package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.{ChunkHashes, ChunkStrings, CosineSimilarity, Fnv1a64, MinHashSignature, ShingleHashes, SimHash64}
import graft.model.{ColumnMetadata, TableMetadata}
import graft.sources.SqsPublisher

/** Property-based invariants (SURVEY §5.3) over the pure-JVM kernels —
  * no SparkSession needed, so these run in milliseconds and explore
  * the space ScalaCheck-style.
  */
object GraftProperties extends Properties("graft") {

  private val genIdent: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).map(_.take(12))

  private val genColumn: Gen[ColumnMetadata] = for {
    name <- genIdent
    desc <- Gen.option(genIdent)
    typ <- Gen.oneOf("bigint", "varchar", "double")
    ord <- Gen.choose(1, 50)
  } yield ColumnMetadata(name, desc, typ, ord)

  private val genTable: Gen[TableMetadata] = for {
    db <- genIdent; cluster <- genIdent; schema <- genIdent; name <- genIdent
    desc <- Gen.option(genIdent)
    isView <- Gen.oneOf(true, false)
    cols <- Gen.nonEmptyListOf(genColumn).map(_.take(8))
  } yield TableMetadata(db, cluster, schema, name, desc, isView, cols)

  property("sortable double bits: signed-long order == double order") = {
    val genD: Gen[Double] = Gen.oneOf(
      Gen.choose(-1e300, 1e300),
      Gen.choose(-1.0, 1.0),
      Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
        Double.MaxValue, Double.MinValue, 1e-310, -1e-310, // subnormals
        Double.PositiveInfinity, Double.NegativeInfinity))
    forAll(genD, genD) { (a, b) =>
      val (sa, sb) = (graft.functions.SortableDoubleBits.compute(a),
        graft.functions.SortableDoubleBits.compute(b))
      (java.lang.Double.compare(a, b).sign == java.lang.Long.compare(sa, sb).sign) &&
        // NaN sorts ABOVE +Infinity — Spark's NaN-greatest convention
        (graft.functions.SortableDoubleBits.compute(Double.NaN) >
          graft.functions.SortableDoubleBits.compute(Double.PositiveInfinity))
    }
  }

  property("graph expansion: every relation endpoint is an emitted node") =
    forAll(genTable) { tm =>
      val keys = tm.toNodes.map(_.key).toSet
      tm.toRelations.forall(r => keys.contains(r.startKey) && keys.contains(r.endKey))
    }

  property("graph expansion: node count arithmetic") = forAll(genTable) { tm =>
    val expected = 4 + tm.description.size +
      tm.columns.size + tm.columns.count(_.description.nonEmpty)
    tm.toNodes.size == expected
  }

  property("fnv64 is deterministic; equal strings agree, sampled distinct strings differ") =
    forAll(genIdent, genIdent) { (a, b) =>
      val ha = Fnv1a64.hashBytes(a.getBytes("UTF-8"))
      val hb = Fnv1a64.hashBytes(b.getBytes("UTF-8"))
      val deterministic = ha == Fnv1a64.hashBytes(a.getBytes("UTF-8"))
      deterministic && (if (a == b) ha == hb else ha != hb)
    }

  private val genTokens: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(8)))
      .map(_.take(30))

  property("ShingleHashes == FNV of the string shingles") = forAll(genTokens) { toks =>
    val text = toks.mkString(" ")
    val native = ShingleHashes.compute(UTF8String.fromString(text), 3)
      .toLongArray().toSeq
    val expected = {
      val raw =
        if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq
        else Seq(toks.mkString(" "))
      raw.map(s => Fnv1a64.hashBytes(s.getBytes("UTF-8"))).distinct
    }
    native == expected
  }

  private val genHashes: Gen[Array[Long]] =
    Gen.nonEmptyListOf(Gen.long).map(_.take(64).toArray)

  property("minhash signature: identical arrays → identical signatures; subsets only raise minima") =
    forAll(genHashes) { hs =>
      val sig = MinHashSignature.compute(new GenericArrayData(hs), 16).toLongArray().toSeq
      val sig2 = MinHashSignature.compute(new GenericArrayData(hs), 16).toLongArray().toSeq
      val subset = MinHashSignature.compute(new GenericArrayData(hs.drop(1)), 16).toLongArray().toSeq
      sig == sig2 && sig.zip(subset).forall { case (full, sub) => full <= sub || hs.length == 1 }
    }

  property("simhash: deterministic and equal inputs agree") = forAll(genHashes) { hs =>
    SimHash64.compute(new GenericArrayData(hs)) == SimHash64.compute(new GenericArrayData(hs))
  }

  private val genVec: Gen[Array[Double]] =
    Gen.listOfN(16, Gen.choose(-10.0, 10.0)).map(_.toArray)
      .suchThat(v => v.exists(x => math.abs(x) > 1e-6))

  property("cosine: |cos| <= 1+eps, self-cosine == 1, symmetry") =
    forAll(genVec, genVec) { (a, b) =>
      val ad = new GenericArrayData(a)
      val bd = new GenericArrayData(b)
      val ab = CosineSimilarity.compute(ad, false, bd, false)
      val ba = CosineSimilarity.compute(bd, false, ad, false)
      val self = CosineSimilarity.compute(ad, false, ad, false)
      math.abs(ab) <= 1.0 + 1e-9 && math.abs(ab - ba) < 1e-12 && math.abs(self - 1.0) < 1e-12
    }

  private val genFloatVec: Gen[Array[Float]] =
    Gen.nonEmptyListOf(Gen.chooseNum(-10.0f, 10.0f)).map(_.take(64).toArray)

  property("quantize_vec == floor model; outputs exact integers the oracle can resum") =
    forAll(genFloatVec) { v =>
      val out = graft.functions.QuantizeVec
        .compute(new GenericArrayData(v.map(x => x: Any)), true, 10000)
      (0 until out.numElements()).forall { i =>
        val q = out.getDouble(i)
        q == math.floor(v(i).toDouble * 10000) && q == math.rint(q) &&
          math.abs(q) < (1L << 52).toDouble // exact-in-double territory
      }
    }

  property("random projection: signs == signature bits; negation is bit-exact") =
    forAll(genVec, Gen.choose(1, 32), Gen.choose(Long.MinValue, Long.MaxValue)) {
      (v, planes, seed) =>
        import graft.functions.HyperplaneSignature
        val vd = new GenericArrayData(v)
        val proj = HyperplaneSignature.projectVec(vd, false, planes, seed)
        val sig = HyperplaneSignature.compute(vd, false, planes, seed)
        val signsMatch = (0 until planes).forall { p =>
          ((sig >> p) & 1L) == (if (proj.getDouble(p) >= 0) 1L else 0L)
        }
        // IEEE negation is exact and distributes over the sequential
        // fold, so projecting -v must give exactly -projections
        val neg = HyperplaneSignature.projectVec(
          new GenericArrayData(v.map(x => -x: Any)), false, planes, seed)
        val negExact = (0 until planes).forall { p =>
          neg.getDouble(p) == -proj.getDouble(p)
        }
        signsMatch && negExact
    }

  property("nearest-centroid argmax: ties keep the FIRST (lowest-index) centroid") =
    forAll(genVec) { v =>
      val vd = new GenericArrayData(v)
      // centroid array = the SAME vector twice: equal cosines, index 0 must win
      val row = org.apache.spark.sql.catalyst.InternalRow(0L, vd)
      val row2 = org.apache.spark.sql.catalyst.InternalRow(1L, vd)
      val cents = new GenericArrayData(Array[Any](row, row2))
      graft.functions.NearestCentroid.bestIndex(vd, false, cents, false) == 0
    }

  private val genCell: Gen[String] = Gen.listOf(
    Gen.frequency(8 -> Gen.alphaNumChar, 1 -> Gen.oneOf('"', '\\', '\n', '\t', '')))
    .map(_.mkString)

  property("rowJson always produces parseable JSON preserving values") =
    forAll(Gen.listOfN(3, genCell)) { cells =>
      val cols = Seq("a", "b", "c")
      val json = s"""{"row": ${SqsPublisher.rowJson(cols, cells)}}"""
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(json).get("row")
      cols.zip(cells).forall { case (c, v) => node.get(c).asText() == v }
    }

  // any UTF-16 text: ASCII, 2- and 3-byte chars, surrogate pairs, and
  // unpaired high and low surrogates
  private val genUtf16: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.choose(' ', '~'),
    2 -> Gen.choose('\u0080', '\u07ff'),
    2 -> Gen.choose('\u0800', '\ud7ff'),
    2 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))),
    1 -> Gen.choose('\ud800', '\udfff'),
    1 -> Gen.choose('\ue000', '\uffff'))
    .map(_.toString)).map(_.mkString)

  property("utf8Length == getBytes(UTF_8).length, on any range, lone surrogates = 1 byte") =
    forAll(genUtf16, Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (s, a, b) =>
      val (from, to) = ((s.length * math.min(a, b)).toInt, (s.length * math.max(a, b)).toInt)
      SqsPublisher.utf8Length(s) == s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length &&
        SqsPublisher.utf8Length(s, from, to) ==
          s.substring(from, to).getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    }

  // ---- HashReplay: the oracle's HUGEINT-mod-2^64 replay machinery ----
  //
  // These pin the SQL-side hash replay (queries/HashReplay, used by the
  // x_minhash_pairs / x_simhash_pairs oracles) to the JVM kernels it
  // claims to reproduce: the BigInt model here IS the 32-bit-split
  // decomposition the generated SQL uses, built from the same constants,
  // so drift in either the SQL formula or the JVM hash breaks a
  // property instead of silently corrupting an oracle (round-2 verdict
  // item 8).
  import graft.queries.HashReplay

  property("hash replay: mulmod split == JVM wrap-around multiply, any operands") =
    forAll(Gen.long, Gen.long) { (a, b) =>
      HashReplay.mulmod(HashReplay.unsigned(a), HashReplay.unsigned(b)) ==
        HashReplay.unsigned(a * b)
    }

  property("hash replay: splitmix64 chain == MinHashSignature.mix64") =
    forAll(Gen.long) { z =>
      HashReplay.mixWithGamma(HashReplay.unsigned(z)) ==
        HashReplay.unsigned(MinHashSignature.mix64(z))
    }

  private val genAscii: Gen[String] =
    Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString.take(40))

  property("hash replay: FNV-1a reduce == Fnv1a64.hashBytes on ASCII") =
    forAll(genAscii) { s =>
      HashReplay.fnv(s.getBytes("UTF-8")) ==
        HashReplay.unsigned(Fnv1a64.hashBytes(s.getBytes("UTF-8")))
    }

  property("hash replay: xor-2^63 key preserves signed order and equality") =
    forAll(Gen.long, Gen.long) { (a, b) =>
      val (ka, kb) = (HashReplay.signedOrderKey(HashReplay.unsigned(a)),
        HashReplay.signedOrderKey(HashReplay.unsigned(b)))
      ((a < b) == (ka < kb)) && ((a == b) == (ka == kb))
    }

  property("hash replay: full minhash permutation value == JVM kernel") =
    forAll(Gen.long, Gen.choose(0, 15)) { (h, j) =>
      // value_j(h) = mix64(h ^ mix64(j)) on the JVM; replay both levels
      val seedJvm = MinHashSignature.mix64(j.toLong)
      val vJvm = MinHashSignature.mix64(h ^ seedJvm)
      val seedSql = HashReplay.mixWithGamma(HashReplay.unsigned(j.toLong))
      val vSql = HashReplay.mixWithGamma(HashReplay.unsigned(h) ^ seedSql)
      vSql == HashReplay.unsigned(vJvm)
    }

  private val genDocText: Gen[String] = for {
    toks <- Gen.listOf(Gen.nonEmptyListOf(
      Gen.frequency(8 -> Gen.alphaNumChar, 1 -> Gen.oneOf('é', '中', '.', '!')))
      .map(_.mkString.take(10)))
    seps <- Gen.listOfN(toks.length + 1, Gen.oneOf(" ", "  ", "\t", "\n", ""))
  } yield seps.head + toks.zip(seps.tail).map { case (t, s) => t + s }.mkString

  property("chunk kernels: chunks tile the tokens; hashes == fnv64 of each chunk") =
    forAll(genDocText, Gen.choose(1, 12)) { (text, w) =>
      val u = UTF8String.fromString(text)
      val cs = ChunkStrings.compute(u, w)
      val hs = ChunkHashes.compute(u, w)
      val chunks = (0 until cs.numElements()).map(cs.getUTF8String(_).toString)
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val tiling = chunks.flatMap(_.split(" ").toSeq) == toks
      val widths = chunks.dropRight(1).forall(_.split(" ").length == w) &&
        chunks.lastOption.forall(_.split(" ").length <= w)
      val hashes = hs.numElements() == chunks.size && chunks.indices.forall(i =>
        hs.getLong(i) == Fnv1a64.hashBytes(
          chunks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      // rolling sibling: one hash per FULL stride-1 window, same FNV
      val rh = graft.functions.RollingHashes.compute(u, w)
      val wins = if (toks.size >= w) toks.sliding(w).toSeq else Seq.empty
      val rolling = rh.numElements() == wins.size && wins.zipWithIndex.forall {
        case (ts, i) => rh.getLong(i) == Fnv1a64.hashBytes(
          ts.mkString(" ").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      tiling && widths && hashes && rolling
    }

  property("overlap chunks: every token covered, k·stride starts, tail clipped") =
    forAll(genDocText, Gen.choose(1, 12), Gen.choose(1, 12)) { (text, a, b) =>
      val w = math.max(a, b)
      val s = math.min(a, b) // stride ≤ width by construction
      val cs = graft.functions.OverlapChunkStrings.compute(
        UTF8String.fromString(text), w, s)
      val chunks = (0 until cs.numElements()).map(cs.getUTF8String(_).toString)
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val expected =
        if (toks.isEmpty) Seq.empty
        else if (toks.size <= w) Seq(toks.mkString(" "))
        else (0 to ((toks.size - w + s - 1) / s)).map(k =>
          toks.slice(k * s, math.min(k * s + w, toks.size)).mkString(" "))
      chunks == expected
    }
}

/** Property invariants over the experimentation-family driver chains
  * (pure JVM — no SparkSession): the algebra the oracles replay must
  * satisfy the textbook symmetries EXACTLY, not just approximately,
  * because the streaming twins and the k=2/one-stratum degenerations
  * are pinned bit-for-bit on top of them. */
object StatsChainProperties extends Properties("graft.statschains") {
  import graft.operators.Stats

  private val genMoments = for {
    n <- Gen.choose(2L, 10000L)
    mean <- Gen.choose(-1000.0, 1000.0)
    spread <- Gen.choose(0.1, 100.0)
  } yield {
    // integral 6-dp-grid decimals with guaranteed positive variance
    val s = BigDecimal(java.math.BigDecimal.valueOf(mean * n).setScale(6,
      java.math.RoundingMode.HALF_UP))
    val q = BigDecimal(java.math.BigDecimal.valueOf(
      (mean * mean + spread) * n).setScale(6,
      java.math.RoundingMode.HALF_UP))
    (n, s, q)
  }

  property("welchChain: swapping the arms negates t and d, preserves df, swaps means — bit-for-bit") =
    forAll(genMoments, genMoments) { case ((na, sa, qa), (nb, sb, qb)) =>
      // scalacheck shrinking ignores generator bounds — re-gate them
      if (na < 2 || nb < 2) true else {
      val (mA, mB, t, df, d) = Stats.welchChain(na, sa, qa, nb, sb, qb)
      val (mB2, mA2, t2, df2, d2) = Stats.welchChain(nb, sb, qb, na, sa, qa)
      // IEEE negation is exact and +/x are commutative, so these hold
      // to the BIT, not within an epsilon
      mA == mA2 && mB == mB2 &&
        (t2 == -t || (t.isNaN && t2.isNaN)) &&
        (df == df2 || (df.isNaN && df2.isNaN)) &&
        (d2 == -d || (d.isNaN && d2.isNaN))
      }
    }

  property("zPvalue2: a valid two-sided p — in [0,1], sign-symmetric, non-increasing in |z|, anchored at z=0") =
    forAll(Gen.choose(-50.0, 50.0), Gen.choose(-50.0, 50.0)) { (z1, z2) =>
      val p1 = Stats.zPvalue2(z1); val p2 = Stats.zPvalue2(z2)
      p1 >= 0.0 && p1 <= 1.0 &&
        Stats.zPvalue2(-z1) == p1 &&
        (math.abs(z1) <= math.abs(z2) || p1 <= p2) &&
        math.abs(Stats.zPvalue2(0.0) - 1.0) < 2e-7
    }

  property("msprtChain: always-valid p never exceeds 1 and shrinks as the shift grows") =
    forAll(genMoments, genMoments, Gen.choose(0.1, 100.0)) {
      case ((na, sa, qa), (nb, sb, qb), tau2) =>
        // scalacheck shrinking ignores generator bounds — re-gate them
        if (na < 2 || nb < 2 || tau2 <= 0.0) true else {
          val (_, vn, lambda, p) = Stats.msprtChain(na, sa, qa, nb, sb, qb, tau2)
          // p = 0.0 is legitimate: an overwhelming shift overflows the
          // mixture LR to +Inf and the always-valid p underflows — the
          // strongest possible rejection, not an error
          vn <= 0.0 || (lambda > 0.0 && p >= 0.0 && p <= 1.0)
        }
    }
}

/** Properties of the exact-moment kernel (`graft.operators.Moments`).
  * Unlike the objects above these run Spark jobs on the shared test
  * session, so each property checks fewer (but multi-row) samples. */
object MomentsProperties extends Properties("graft.moments") {
  import graft.operators.Moments
  import org.apache.spark.sql.functions.col

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(20)

  private lazy val spark = TestSpark.spark

  /** A 6-dp grid value, |v| < 1e6: l·10⁻⁶ with |l| < 1e12 has at most 15
    * significant digits, so the double round-trips to that decimal. */
  private val genGrid: Gen[BigDecimal] =
    Gen.choose(-999999999999L, 999999999999L).map(l => BigDecimal(l, 6))

  property("pass == a driver-side BigDecimal fold, on any partitioning") = {
    // (key or NULL, v or a non-finite marker, x)
    val genRow = for {
      k <- Gen.frequency(8 -> Gen.choose(0, 4).map(i => Option(s"k$i")), 1 -> Gen.const(None))
      v <- Gen.frequency(8 -> genGrid.map(d => Option(d.toDouble)),
        1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
          .map(Option(_)), 1 -> Gen.const(None))
      x <- genGrid.map(_.toDouble)
    } yield (k, v, x)
    forAll(Gen.listOf(genRow).map(_.take(60)), Gen.choose(1, 6)) { (rows, parts) =>
      val session = spark
      import session.implicits._
      val df = rows.toDF("k", "v", "x").repartition(parts)
      val got = Moments.pass(df, Seq(col("k")), Seq(col("v"), col("x")),
        Seq((0, 0), (1, 1), (1, 0)), "prop", Moments.Cap(10, "10 keys"))(_.getString(0))
      val kept = rows.collect { case (Some(k), Some(v), x) if !v.isNaN && !v.isInfinite =>
        (k, BigDecimal(v), BigDecimal(x)) }
      val want = kept.groupBy(_._1).map { case (k, rs) =>
        k -> ((rs.size.toLong, rs.map(_._2).sum, rs.map(_._3).sum,
          rs.map(r => r._2 * r._2).sum, rs.map(r => r._3 * r._3).sum,
          rs.map(r => r._3 * r._2).sum))
      }
      got.map { case (k, m) =>
        k -> ((m.n, m.s(0), m.s(1), m.q(0, 0), m.q(1, 1), m.q(0, 1)))
      } == want
    }
  }

  property("onGrid accepts exactly the values the batch offGrid accepts, as the same decimal") = {
    // 6-dp values, 7-dp values, and doubles one ulp either side of a
    // 6-dp half step (where HALF_UP decides)
    val genValue: Gen[Double] = Gen.oneOf(
      genGrid.map(_.toDouble),
      Gen.choose(-99999999999L, 99999999999L).map(l => BigDecimal(l, 7).toDouble),
      for {
        d <- genGrid
        step <- Gen.oneOf(-1, 0, 1)
      } yield {
        val half = (d + BigDecimal(5, 7)).toDouble
        if (step < 0) math.nextDown(half) else if (step > 0) math.nextUp(half) else half
      })
    forAll(Gen.listOfN(40, genValue)) { vs =>
      val session = spark
      import session.implicits._
      val batch = vs.toDF("v")
        .select(col("v"), Moments.offGrid(col("v")), Moments.exact(col("v")))
        .collect().map(r => r.getDouble(0) -> ((r.getBoolean(1), BigDecimal(r.getDecimal(2)))))
        .toMap
      vs.forall { v =>
        val (off, exact) = batch(v)
        scala.util.Try(Moments.onGrid(v, "prop", "v")).toOption match {
          case Some(d) => !off && d == exact
          case None => off
        }
      }
    }
  }
}
