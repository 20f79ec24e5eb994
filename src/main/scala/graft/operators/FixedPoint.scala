package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The round loop of every iterative graph operator here (HITS, k-core,
  * label propagation, PageRank / TrustRank, BFS, Dedup's connected
  * components). An operator supplies its round body and, where it has
  * one, its convergence certificate; the driver owns the round policy:
  *
  *  - Lineage cut ([[Round.cut]]): a round's state re-enters the next
  *    round's plan, so uncut lineage doubles per round (2^n plan
  *    blowup). With a checkpoint dir set the cut is an eager reliable
  *    `checkpoint` (executor-loss safe). Its write job is the frame's
  *    only computation, so the frame is not persisted first: under AQE
  *    a persisted frame costs one more job per cut (cache
  *    materialization) and saves none. Otherwise the cut is a lazy
  *    `localCheckpoint` that the next action materializes, so a round
  *    runs only the jobs its body needs.
  *  - Round-scoped caches ([[Round.cache]]) are released once the frames
  *    built from them are materialized: after the round's certificate,
  *    or else after the next round's body, whose action read them.
  *  - Round cap and certificate: the certificate is an action over the
  *    previous and the new (cut) state, run after every round including
  *    the last, so a fixpoint reached exactly at the cap still
  *    certifies; `earlyStop` only decides whether a passing round ends
  *    the loop.
  *  - Final frame: `finish(state)`, materialized with an eager
  *    `localCheckpoint` unless a certificate or a reliable cut already
  *    stored the state; then every cache and the caller's `inputs` are
  *    released.
  */
private[operators] object FixedPoint {

  /** One round's lineage cut and caches, handed to its body. */
  final class Round private[FixedPoint] (reliable: Boolean) {
    private var caches = List.empty[DataFrame]
    private[FixedPoint] var lazyCut = false

    def cut(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true)
      else { lazyCut = true; df.localCheckpoint(false) }

    /** Persist a frame the round reads more than once. It is released
      * after the round's certificate, or else after the next round's
      * body, which must read this round's state with an action. */
    def cache(df: DataFrame): DataFrame = {
      caches ::= df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** The frames this round built are stored: drop its caches. */
    private[FixedPoint] def materialized(): Unit = {
      caches.foreach(_.unpersist())
      caches = Nil
      lazyCut = false
    }
  }

  /** A frame and its row count, counted at most once. */
  final class Counted(val df: DataFrame) { lazy val rows: Long = df.count() }

  /** Run up to `maxRounds` rounds of `step` from `init` and return
    * `(finish(state), roundsRun, converged)`. Without a certificate
    * `converged` is false, uninspected. */
  def run[S](session: SparkSession, maxRounds: Int, earlyStop: Boolean,
             init: Round => S, step: (Round, S) => S,
             certificate: Option[(S, S) => Boolean] = None,
             finish: S => DataFrame,
             inputs: Seq[DataFrame] = Nil): (DataFrame, Int, Boolean) = {
    val reliable = session.sparkContext.getCheckpointDir.isDefined
    var last = new Round(reliable)
    var state = init(last)
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !(earlyStop && converged)) {
      val round = new Round(reliable)
      val next = step(round, state)
      last.materialized()
      certificate.foreach { c =>
        converged = c(state, next)
        round.materialized()
      }
      last = round
      state = next
      rounds += 1
    }
    val out = if (last.lazyCut) finish(state).localCheckpoint(true) else finish(state)
    last.materialized()
    inputs.foreach(_.unpersist())
    (out, rounds, converged)
  }
}
