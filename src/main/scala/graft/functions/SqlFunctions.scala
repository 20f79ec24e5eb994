package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo}

import LitArgs.{litDoubles, litInt, litLong, litLongs, litStrings}

/** The one table of graft's native SQL functions: each SQL name, its
  * usage line, and the builder that turns the call's argument
  * expressions into the native expression. Non-column arguments must
  * be literals ([[LitArgs]]); a call with the wrong number of arguments
  * fails with the expected signature.
  *
  * [[graft.core.GraftExtensions]] injects the table into extended
  * sessions; [[register]] installs it on a plain one. Column helpers
  * (`Fnv1a64.fnv64`, …) build their expressions directly and need
  * neither, so a helper's Column resolves on any session.
  */
object SqlFunctions {

  final case class Fn(name: String, args: String, doc: String)(
      build: PartialFunction[Seq[Expression], Expression]) {
    def info: ExpressionInfo =
      new ExpressionInfo("graft", null, name, s"$name($args) - $doc", "")
    val builder: Seq[Expression] => Expression = exprs =>
      build.applyOrElse(exprs, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name($args): wrong number of arguments, got ${exprs.length}"))
  }

  val all: Seq[Fn] = Seq(
    Fn("graft_bloom_might_contain", "bloom, value",
      "membership probe of a serialized BloomFilter literal for a bigint value") {
      case Seq(bloom, v) => BloomFilterMightContain(bloom, v)
    },
    Fn("graft_bootstrap_weights", "key, b",
      "b+1 Poisson(1) resample multiplicities of a bigint row key (index 0 = identity)") {
      case Seq(key, b) => BootstrapWeights(key, litInt(b, "b"))
    },
    Fn("graft_bpe_encode", "pre_tokens, array(lefts...), array(rights...)",
      "classic lowest-rank-first BPE merges over a literal merge table") {
      case Seq(pre, xs, ys) => BpeEncodeVocab(pre,
        litStrings(xs, "merge left symbols"), litStrings(ys, "merge right symbols"))
    },
    Fn("graft_cell_bucket", "cell, array(bounds...)",
      "count of ascending bigint bounds <= cell") {
      case Seq(cell, bounds) => CellBucket(cell, litLongs(bounds, "bounds"))
    },
    Fn("graft_chunk_hashes", "text, width",
      "FNV hashes of consecutive width-token chunks") {
      case Seq(text, width) => ChunkHashes(text, litInt(width, "width"))
    },
    Fn("graft_chunk_strings", "text, width", "consecutive width-token chunks") {
      case Seq(text, width) => ChunkStrings(text, litInt(width, "width"))
    },
    Fn("graft_cosine", "a, b", "cosine similarity in double precision") {
      case Seq(a, b) => CosineSimilarity(a, b)
    },
    Fn("graft_countmin_buckets", "key, d, w",
      "the d count-min bucket indices of a bigint key, width w a power of two") {
      case Seq(key, d, w) => CountMinBuckets(key, litInt(d, "d"), litInt(w, "w"))
    },
    Fn("graft_fnv64", "str", "FNV-1a 64-bit hash") {
      case Seq(s) => Fnv1a64(s)
    },
    Fn("graft_hll_register", "hash, p",
      "HyperLogLog register coords [bucket, rho] of a bigint key") {
      case Seq(h, p) => HllRegister(h, litInt(p, "p"))
    },
    Fn("graft_hyperplane_sig", "vec, planes, seed", "random-hyperplane LSH bucket") {
      case Seq(vec, planes, seed) =>
        HyperplaneSignature(vec, litInt(planes, "planes"), litLong(seed, "seed"))
    },
    Fn("graft_kll_merge", "sketch",
      "aggregate: fold serialized sketches (shards/days) into one; mixed k fails loud") {
      case Seq(sketch) => KllMerge(sketch)
    },
    Fn("graft_kll_quantiles", "value, array(ps...), k",
      "aggregate: KLL-sketched quantile values, ~1/k rank error") {
      case Seq(v, ps, k) => KllQuantiles(v, litDoubles(ps, "ps"), litInt(k, "k"))
    },
    Fn("graft_kll_quantiles_w", "value, weight, array(ps...), k",
      "aggregate: weighted (pre-counted) sketch quantiles") {
      case Seq(v, w, ps, k) =>
        KllQuantilesWeighted(v, w, litDoubles(ps, "ps"), litInt(k, "k"))
    },
    Fn("graft_kll_sketch", "value, k",
      "aggregate: persistable serialized sketch state (binary)") {
      case Seq(v, k) => KllSketchAgg(v, litInt(k, "k"))
    },
    Fn("graft_kll_sketch_w", "value, weight, k",
      "aggregate: weighted persistable sketch state (binary)") {
      case Seq(v, w, k) => KllSketchAggWeighted(v, w, litInt(k, "k"))
    },
    Fn("graft_kll_values", "sketch, array(ps...)",
      "exact-rank quantile read of a serialized sketch") {
      case Seq(sketch, ps) => KllValues(sketch, litDoubles(ps, "ps"))
    },
    Fn("graft_kll_values_interp", "sketch, array(ps...)",
      "percentile/quantile_cont lerp read of a serialized sketch") {
      case Seq(sketch, ps) => KllValues(sketch, litDoubles(ps, "ps"), interp = true)
    },
    Fn("graft_minhash_sig", "hashes, k", "k minhash permutation minima") {
      case Seq(hashes, k) => MinHashSignature(hashes, litInt(k, "k"))
    },
    Fn("graft_nearest_centroid", "vec, centroids",
      "argmax-cosine centroid id over array<struct<cid,cv>>") {
      case Seq(vec, cents) => NearestCentroid(vec, cents)
    },
    Fn("graft_nfc", "str", "Unicode NFC normalization") {
      case Seq(s) => UnicodeNormalize(s, "NFC")
    },
    Fn("graft_overlap_chunks", "text, width, stride",
      "overlapping width-token chunks stepping by stride, tail clipped") {
      case Seq(text, width, stride) =>
        OverlapChunkStrings(text, litInt(width, "width"), litInt(stride, "stride"))
    },
    Fn("graft_quant_stats", "vec",
      "int8 quantization stats struct(scale, qsum, qmin, qmax)") {
      case Seq(vec) => QuantStats(vec)
    },
    Fn("graft_quantize_vec", "vec, scale",
      "floor(v[i] * scale) per element, as exact-integer doubles") {
      case Seq(vec, scale) => QuantizeVec(vec, litInt(scale, "scale"))
    },
    Fn("graft_random_projection", "vec, planes, seed",
      "Johnson-Lindenstrauss projection onto the hyperplane_sig weight family") {
      case Seq(vec, planes, seed) =>
        RandomProjection(vec, litInt(planes, "planes"), litLong(seed, "seed"))
    },
    Fn("graft_rolling_hashes", "text, width",
      "FNV hashes of every stride-1 width-token window") {
      case Seq(text, width) => RollingHashes(text, litInt(width, "width"))
    },
    Fn("graft_shingle_hashes", "text, n", "distinct word n-gram FNV hashes") {
      case Seq(text, n) => ShingleHashes(text, litInt(n, "n"))
    },
    Fn("graft_shingle_strings", "text, n", "distinct word n-gram shingle strings") {
      case Seq(text, n) => ShingleStrings(text, litInt(n, "n"))
    },
    Fn("graft_simhash64", "hashes", "64-bit simhash") {
      case Seq(hashes) => SimHash64(hashes)
    },
    Fn("graft_sortable_double_bits", "v",
      "order-preserving bigint rendering of a double") {
      case Seq(v) => SortableDoubleBits(v)
    },
    Fn("graft_top_k", "value, k",
      "aggregate: the k largest values, sorted descending (bounded partial buffers)") {
      case Seq(v, k) => TopK(v, litInt(k, "k"))
    },
    Fn("graft_zorder2", "a, b", "Morton interleave of two bigint bucket ordinals") {
      case Seq(a, b) => ZOrder2(a, b)
    })

  /** Installs every function on a session built without
    * [[graft.core.GraftExtensions]]. Names the session already has are
    * left alone, so a second call, or a call on an extended session,
    * changes nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for (f <- all if !registry.functionExists(FunctionIdentifier(f.name)))
      registry.createOrReplaceTempFunction(f.name, f.builder, "built-in")
  }
}
