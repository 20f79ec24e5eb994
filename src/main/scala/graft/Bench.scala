package graft

import org.apache.spark.sql.SparkSession

import graft.core.{Sessions, Tables}

/** Benchmark main (driver contract): runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Timing uses a `noop`-format write so the whole plan executes —
  * `count()` would let Catalyst prune projections and skip sorts.
  * Tables are touched once first so parquet footers and the OS page
  * cache are warm (the driver measures engine time, not disk cold
  * start); the touch also fills `Tables.load`'s schema cache, so no
  * timed query pays a schema-inference job.
  *
  * Stability: queries slower than their re-measure threshold —
  * 2× the query's anchor from `bench_anchors.json` (the per-query min
  * over recent builder sweeps; 1.0 s flat for a query with no anchor
  * yet — anchored queries get NO absolute floor, round-15 verdict
  * item 2) — are re-measured twice AT THE END of the run
  * and report the MIN of the three samples. The old fixed 2.0 s
  * threshold had a blind spot just under it: a one-off context spike
  * at 1.67 s on a 0.21 s query stuck as the number of record
  * (round-13 q01_scan/q06/x_anova). Immediate reruns are not enough:
  * the round-3 driver
  * recording showed q06/q07 at 11/18 s (median of three back-to-back
  * runs) while the identical code measured 1.5 s on re-run — a
  * transient machine-wide load spike covers back-to-back reruns but
  * not a re-measure a minute later, and the min is the standard
  * engine-time estimator under external noise (the plan is identical
  * across runs; only the interference varies). A query that throws is
  * reported as -1 and listed under "failed" so a broken query can't
  * masquerade as a fast one.
  *
  * Interference hardening (round 6): the round-5 driver artifact
  * recorded two alphabetically-adjacent queries at 10× their measured
  * cost because the old design re-measured slow queries in the same
  * sorted order back-to-back — one sustained machine-load window
  * covered all three samples of both. Three changes close that blind
  * spot:
  *   1. the two re-measure rounds each visit the slow set in an
  *      independently SHUFFLED order (fixed seed, so runs are
  *      reproducible), so no two queries share adjacency in every
  *      sample;
  *   2. a known-fast SENTINEL query (q05_sort_limit, ~0.1 s) runs
  *      between every pair of re-measures; its times are recorded as
  *      `noise_floor` in the artifact — a sentinel spike timestamps
  *      machine interference without re-running anything;
  *   3. the artifact carries PER-SAMPLE arrays (`samples`) for every
  *      re-measured query, not just the min, so a judge can
  *      adjudicate noise from the artifact alone.
  *
  * Contention defense (round 15): the round-14 driver ran under a
  * sustained machine-load window that covered one query's first pass
  * AND both re-measures (x_setsim_join 148/109/44 s vs a 3.7 s
  * anchor; the sentinel spiked to 51.7 s) — min-of-3 has no defense
  * when every sample is contaminated. Now each re-measured sample
  * records its ADJACENT sentinel reading (max of the readings
  * immediately before/after it, `sample_floors` in the artifact); if
  * a query's best sample is still above its threshold and that
  * sample's context exceeded 3× the run's sentinel median, the bench
  * backs off 60 s and takes ONE more sample — and if the number of
  * record still looks contaminated afterwards, the query is listed
  * under `contended` so the artifact carries its own discount
  * evidence. Round 18 adds the PER-ENTRY rule (r17 verdict item 1):
  * an anchored query whose every valid sample exceeds 2x its anchor
  * joins the backoff round and, failing that, the `contended` list —
  * even when the sentinel never spiked (the r17 driver shipped
  * x_bootstrap at 4.8x its anchor with n_contended = 0 because the
  * whole-run drift gate and the sentinel were both quiet). No anchored
  * entry can ship above 2x its anchor untagged. Every recorded number
  * is also tagged `mode`
  * ("single" = first-pass sample, "min3" = min over re-measures) so
  * cross-round totals can condition on the measurement regime.
  */
object Bench {
  private val fallbackThreshold = 1.0 // seconds, for queries with no anchor

  /** Per-query anchors (seconds) from bench_anchors.json — the
    * per-query MIN over recent builder sweeps, regenerated by
    * `scripts/update_anchors.py` after each round's definitive sweep.
    * The flat format (`"name":seconds` pairs under "anchors", no nested
    * objects, sources quoted) makes the regex extraction total; a
    * missing or malformed file just means every query falls back to
    * the 1.0 s threshold — a slower but never-wrong bench.
    */
  private def loadAnchors(): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_ANCHORS", "bench_anchors.json")
    try {
      val full = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      // scan ONLY inside the "anchors" object (from its opening brace to
      // the next closing brace — the object is flat by construction), so
      // a future numeric field elsewhere in the file can never be
      // mis-picked as an anchor (ADVICE r14)
      val start = full.indexOf("\"anchors\"")
      require(start >= 0, "no \"anchors\" object in the file")
      val open = full.indexOf('{', start)
      val close = full.indexOf('}', open)
      require(open >= 0 && close > open, "malformed \"anchors\" object")
      val txt = full.substring(open, close)
      val pair = """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
      pair.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] no anchors ($path): ${e.getMessage} — " +
          s"using the flat $fallbackThreshold s re-measure threshold")
        Map.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus, appName = "graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // warm the page cache and Tables.load's schema cache
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    // one throwaway query to amortize first-plan codegen/JIT so the
    // first timed query isn't charged for JVM warmup
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    // warm the iterative dedup path (shingle/minhash codegen, the
    // checkpoint machinery, the per-round scheduler round-trips) at the
    // smallest SF: the round-2 driver recorded a 19.3 s tail for
    // x_dedup_corpus whose re-runs measured 1-8 s — first-execution
    // JVM/codegen warmup on an 8-stage iterative job is exactly the
    // kind of cost a single-plan warmup query doesn't amortize.
    val warmDir = new java.io.File(sfDir).getParentFile
    val sf001 = new java.io.File(warmDir, "sf0.001")
    if (sf001.isDirectory) {
      try SparkEntry.queries("x_dedup_corpus")(spark, sf001.getAbsolutePath)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup skipped: ${e.getMessage}") }
    }
    // the full timed set: every oracled query PLUS the bench-only
    // registry (production-configuration entries Verify deliberately
    // excludes — round-16 verdict item 1; the bench still times them)
    val timedSet = SparkEntry.queries ++ SparkEntry.benchOnly
    // the first TIMED query still paid residual first-plan costs the
    // generic warmups don't cover (round-13 recorded q01_scan at 1.67 s
    // vs its 0.21 s anchor) — run the alphabetically-first query's OWN
    // plan once, untimed, so position in the sweep stops being a tax
    timedSet.toSeq.sortBy(_._1).headOption.foreach { case (n, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $n warmup skipped: ${e.getMessage}") }
    }

    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          -1.0
      }
    }

    val anchors = loadAnchors()
    // an ANCHORED query's re-measure threshold is a bare 2x its anchor
    // — no absolute floor. The old max(1.0 s, 2x) floor left every
    // sub-0.5 s-anchor query ungated: a single contaminated sample up
    // to 2-4x its anchor became the number of record with no
    // re-measure (round-15 driver: x_theta_join 0.579 s = 2.24x its
    // 0.258 s anchor, mode "single"). Re-measuring a sub-second query
    // costs well under a second per sample, so the floor bought
    // nothing; only UNanchored queries use the 1.0 s fallback.
    def rerunThreshold(name: String): Double =
      anchors.get(name).map(a => 2.0 * a).getOrElse(fallbackThreshold)

    val firstPass = timedSet.toSeq.sortBy(_._1).map { case (name, fn) =>
      val first = timeOnce(name, fn)
      if (first >= 0 && first <= rerunThreshold(name))
        System.err.println(f"[bench] $name%-22s $first%8.2f s")
      (name, fn, first)
    }

    // slow queries re-measured now, AFTER the full sweep — see scaladoc.
    // Two rounds, each over an independently shuffled order, with the
    // sentinel between every re-measure.
    val sentinelName = "q05_sort_limit"
    val noiseFloor = scala.collection.mutable.ArrayBuffer[Double]()
    def sentinel(): Double = SparkEntry.queries.get(sentinelName).map { fn =>
      val t = timeOnce(sentinelName, fn)
      if (t >= 0) noiseFloor += t
      t
    }.getOrElse(-1.0)
    // failed (-1) queries join the re-measure set: a deterministic
    // break stays -1 under the any-sample-failed rule below, but the
    // artifact then carries [-1, t2, t3] evidence distinguishing a
    // transient crash (e.g. load-induced OOM) from a broken query —
    // round 6 recorded three -1s with no second sample to adjudicate.
    val slow = firstPass.filter { case (name, _, t) => t > rerunThreshold(name) || t < 0 }
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]() ++
      firstPass.map { case (name, _, t) => name -> Vector(t) }
    // per re-measured sample: the MAX of the sentinel readings taken
    // immediately before and after it — a per-sample contention
    // timestamp (the round-14 driver artifact had a 51.7 s sentinel
    // spike but no way to tell WHICH samples it covered). Aligned with
    // samples(name).tail (the first-pass sample has no adjacent
    // sentinel — the sentinel only runs in the re-measure block).
    val sampleFloors = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val rng = new scala.util.Random(0x9E3779B97F4A7C15L)
    def remeasureRound(set: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame, Double)]): Unit =
      rng.shuffle(set).foreach { case (name, fn, _) =>
        val before = noiseFloor.lastOption.getOrElse(-1.0)
        val t = timeOnce(name, fn)
        samples(name) = samples(name) :+ t
        val after = sentinel()
        sampleFloors(name) =
          sampleFloors.getOrElse(name, Vector()) :+ math.max(before, after)
      }
    if (slow.nonEmpty) {
      sentinel() // baseline floor before any re-measure
      // two rounds, each over an independently shuffled order (see
      // scaladoc interference-hardening note)
      remeasureRound(slow)
      remeasureRound(slow)
    }
    // contention defense (round 15): a load window that covers the
    // first pass AND both end-of-run re-measures leaves a contaminated
    // min as the number of record (round-14 driver: x_setsim_join
    // 148/109/44 s vs a 3.7 s anchor, sentinel spiked to 51.7 s). The
    // per-sample sentinel readings make that state DETECTABLE: when a
    // query's best sample is still above its threshold AND that
    // sample's adjacent sentinel exceeded 3x the run's sentinel median,
    // back off and take one more sample after the load window has had
    // time to pass. A best FIRST-PASS sample (no adjacent sentinel)
    // uses the quietest re-measure context as its proxy — if even that
    // was spiked, the whole re-measure block ran under load.
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(s.length / 2)
    }
    def bestIdx(ss: Vector[Double]): Int = {
      val valid = ss.zipWithIndex.filter(_._1 >= 0)
      if (valid.isEmpty) -1 else valid.minBy(_._1)._2
    }
    def bestSampleFloor(name: String): Double = {
      val fs = sampleFloors.getOrElse(name, Vector())
      bestIdx(samples(name)) match {
        case -1 => Double.PositiveInfinity
        case 0 => if (fs.isEmpty) Double.PositiveInfinity else fs.min
        case i => fs(i - 1)
      }
    }
    def contendedNow(name: String): Boolean = {
      val sentMed = medianOf(noiseFloor.toSeq)
      val ss = samples(name).filter(_ >= 0)
      sentMed > 0.0 && ss.nonEmpty && ss.min > rerunThreshold(name) &&
        bestSampleFloor(name) > 3.0 * sentMed
    }
    // per-entry contention rule (round-17 verdict item 1): the sentinel
    // gate above is blind to PER-ENTRY multiplicative spikes — the r17
    // driver shipped x_bootstrap at 4.8x its anchor with n_contended=0
    // because the sentinel never spiked (bursty load between sentinel
    // reads, or load that bites a shuffle-heavy plan but not the tiny
    // sentinel). An ANCHORED query whose EVERY valid sample exceeds 2x
    // its anchor gets the same treatment: one more deferred sample,
    // and a `contended` tag if the extra sample doesn't clear it.
    // Unanchored queries are exempt — their 1.0 s fallback threshold
    // says nothing about their true cost, so "every sample above it"
    // is the normal state of a genuinely-slow new query, not evidence.
    def overAnchorNow(name: String): Boolean = {
      val ss = samples(name).filter(_ >= 0)
      anchors.contains(name) && ss.nonEmpty && ss.min > rerunThreshold(name)
    }
    val needExtra = slow.filter { case (name, _, _) =>
      contendedNow(name) || overAnchorNow(name) }
    if (needExtra.nonEmpty) {
      System.err.println(s"[bench] ${needExtra.size} quer" +
        s"${if (needExtra.size == 1) "y's" else "ies'"} best sample taken " +
        s"under load (adjacent sentinel > 3x median " +
        f"${medianOf(noiseFloor.toSeq)}%.3f s) — 60 s backoff, one more round")
      Thread.sleep(60000)
      // fresh sentinel AFTER the backoff: the extra round's first
      // 'before' floor must reflect the post-backoff machine state — a
      // spiked reading from before the sleep would inflate
      // max(before, after) and keep a genuinely clean sample tagged
      // contended, defeating the backoff (ADVICE r15)
      sentinel()
      remeasureRound(needExtra)
    }
    // queries whose recorded number REMAINS contaminated-looking after
    // the backoff round carry a contention tag in the artifact — the
    // judge can discount them with the sentinel evidence attached.
    // The over-anchor rule feeds the same tag: after the extra round,
    // no anchored entry can ship above 2x its anchor untagged (r17
    // verdict item 1 done-condition). A REAL regression would tag too
    // — but its samples ride in the artifact, the builder sweeps
    // re-measure it, and next round's regenerated anchor absorbs it,
    // so the tag self-corrects within one round.
    val contendedFinal = slow.collect {
      case (name, _, _) if contendedNow(name) || overAnchorNow(name) => name
    }.sorted
    val results = samples.toSeq.map { case (name, ss) =>
      // a failure on ANY sample marks the query failed — dropping it
      // from the sample set would let a flaky query masquerade as the
      // min of its healthy runs
      val v = if (ss.exists(_ < 0)) -1.0 else ss.min
      if (ss.size > 1)
        System.err.println(f"[bench] $name%-22s $v%8.2f s (samples ${ss.map(s => f"$s%.2f").mkString("/")})")
      name -> v
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val failedJson = if (failed.isEmpty) "" else failed.mkString(""","failed":[""", ",", "]")
    val multiSample = samples.collect { case (k, ss) if ss.size > 1 =>
      "\"" + k + "\":" + ss.map(s => f"$s%.3f").mkString("[", ",", "]")
    }
    val sampleJson =
      if (multiSample.isEmpty) "" else multiSample.mkString(""","samples":{""", ",", "}")
    // per-query provenance: "single" = the first-pass sample is the
    // number of record; "min3" = min over the re-measure samples (the
    // r13→r14 threshold change made cross-round totals conditional on
    // this — now the artifact says which regime each number came from)
    val modeJson = samples.map { case (k, ss) =>
      "\"" + k + "\":\"" + (if (ss.size > 1) "min3" else "single") + "\""
    }.mkString(""","mode":{""", ",", "}")
    // each re-measured sample's adjacent sentinel reading (aligned with
    // samples[k][1..]) — the per-sample contention evidence
    val floorSamples = sampleFloors.collect { case (k, fs) if fs.nonEmpty =>
      "\"" + k + "\":" + fs.map(s => f"$s%.3f").mkString("[", ",", "]")
    }
    val floorSampleJson =
      if (floorSamples.isEmpty) ""
      else floorSamples.mkString(""","sample_floors":{""", ",", "}")
    val contendedJson =
      if (contendedFinal.isEmpty) ""
      else contendedFinal.map("\"" + _ + "\"")
        .mkString(""","contended":[""", ",", "]")
    val floorJson =
      if (noiseFloor.isEmpty) ""
      else noiseFloor.map(s => f"$s%.3f").mkString(""","noise_floor":[""", ",", "]")
    // cross-run drift instrument (INCIDENTS R15-1, automated): the
    // common-query total vs the newest BENCH_r*_builder.json in the
    // working directory, so a uniformly-slowed run self-identifies in
    // the artifact — the rule of thumb (BASELINE.md): a FLAT sentinel
    // plus a >10% common-total delta is host contention, not a code
    // regression (identical-code sweeps read 254-326 s across the
    // round-15 contention window). Per-query drift still needs the
    // anchors; this field catches the uniform-slowdown mode the
    // per-query 2x thresholds are too loose to see.
    val driftJson = {
      val prev = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .map(_.getName)
        .flatMap { n =>
          """BENCH_r(\d+)_builder\.json""".r.unapplySeq(n)
            .flatMap(_.headOption).map(v => (v.toInt, n))
        }
        .sortBy(-_._1).headOption
      prev.flatMap { case (_, prevName) =>
        try {
          val full = new String(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(prevName)),
            java.nio.charset.StandardCharsets.UTF_8)
          val start = full.indexOf("\"queries\"")
          val open = full.indexOf('{', start)
          val close = full.indexOf('}', open) // flat object by construction
          require(start >= 0 && open >= 0 && close > open)
          val pair = """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9]+(?:\.[0-9]+)?)""".r
          val prevQ = pair.findAllMatchIn(full.substring(open, close))
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filter(_._2 >= 0).toMap
          val common = results.filter { case (k, v) => v >= 0 && prevQ.contains(k) }
          if (common.isEmpty) None
          else {
            val prevT = common.map(c => prevQ(c._1)).sum
            val nowT = common.map(_._2).sum
            val delta = if (prevT > 0) (nowT - prevT) / prevT * 100.0 else 0.0
            Some(f""","drift":{"prev":"$prevName","common_n":${common.size},""" +
              f""""common_total_prev":$prevT%.3f,"common_total_now":$nowT%.3f,""" +
              f""""delta_pct":$delta%.1f}""")
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] drift baseline unreadable: ${e.getMessage}")
          None
        }
      }.getOrElse("")
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs$failedJson$sampleJson$modeJson$floorSampleJson$contendedJson$floorJson$driftJson,"sf":"$sfDir"}"""
    // file artifact first: the driver's stdout capture has twice
    // truncated the head of this line (BENCH_r03/r04 arrived with
    // parsed=null), so the file is authoritative
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    // the final stdout line must be COMPACT: the driver keeps only a
    // 2000-char tail of stdout, and the full per-query JSON for 215
    // queries is ~13 KB — a tail that starts mid-line can never parse
    // (the 13-round parsed=null root cause; the r13 showSuccess fix
    // removed sbt's epilogue but could not shrink the line). Summary
    // here, full per-query detail in the file artifact above.
    val summary =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size},"n_contended":${contendedFinal.size},"detail":"$outPath"}"""
    // the second-to-last stdout line: the 20 heaviest queries in at most
    // 600 chars (the lightest dropped first if names run long), so a
    // 2000-char tail of stdout still carries per-query figures
    val heaviest = Iterator.iterate(results.filter(_._2 >= 0).sortBy(-_._2).take(20))(_.init)
      .map(_.map { case (k, v) => "\"" + k + f"\":$v%.2f" }
        .mkString("""{"heaviest_s":{""", ",", "}}"))
      .find(_.length <= 600).get
    // stop Spark BEFORE printing: anything Spark writes to stdout
    // during shutdown would land AFTER the JSON and break the driver's
    // tail-parse (BENCH_r10/r11 both arrived with parsed=null) — the
    // contract is that the summary is the LAST stdout line of the run
    spark.stop()
    println(heaviest)
    println(summary)
    System.out.flush()
  }
}
