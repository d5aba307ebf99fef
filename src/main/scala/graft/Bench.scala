package graft

import scala.collection.immutable.ListMap

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Benchmark main: runs the headline queries against SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}. Results are forced
  * with a noop-format write so Catalyst cannot prune work under a count().
  */
object Bench {

  /** Headline subset: scan-heavy, join-heavy, window, dedup and text ops —
    * the queries whose plans dominate a 100 TB run. The full registry runs in
    * Verify; keeping the bench focused keeps the signal per-operator.
    */
  val headline: Seq[String] = Seq(
    "a1_count_group", "a3_sum_group", "a7_count_distinct",
    "j1_fk_join", "j5_big_join_agg", "j6_multihop_agg", "j8_range_join",
    "w1_rank", "w3_running_sum", "w4_sessionize",
    "o1_topk", "e1_tumbling_counts", "e3_session_window", "e4_funnel",
    "d1_exact_dedup", "d2_fingerprint_dedup", "d3b_ngram_jaccard_capped",
    "d4_minhash_pairs", "d7_neardup_clusters", "d8_span_dedup",
    "d11_neardup_against_release", "d12_band_agreement",
    "t13_decontaminate_bloom",
    "t1_token_stats", "t5_tfidf", "t6_winnow_fingerprint", "t7_decontamination",
    "t9_pii_metrics", "t11_chunk_documents",
    "t14_classifier_score", "t15_bigram_surprisal", "t16_sequence_packing",
    "ds3_temperature_resample", "ds7_domain_mixture",
    "p0_curation_pipeline", "p2_corpus_freeze",
    "sim1_cosine_topk", "sim2_lsh_topk", "sim5_ivf_topk", "sim7_ivfpq_topk",
    "bc5_block_stats",
    // bk5 (corpus-scale clustering), not bc7: the 7-row fixture's time is
    // pure GraphX stage latency and measures nothing about the engine.
    "bk0_e2e_pipeline", "bk2_tx_stats", "bk4_address_stats", "bk5_wallet_clusters",
    "bk7_utxo_set")

  private implicit val formats: Formats = DefaultFormats

  private[graft] def median(ss: Seq[Double]): Double = {
    val s = ss.sorted; s(s.length / 2)
  }

  /** Symmetrically trimmed range, ⌊n/6⌋ dropped from each side. max−min is
    * monotone in sample count, so under adaptive resampling one transient
    * host hiccup flagged a query permanently no matter how many clean
    * samples followed — the flag could trip and never untrip. At the default
    * 3 runs nothing is trimmed (spread IS max−min); each adaptive batch of
    * extras earns one trimmed outlier per side, so a single hiccup is
    * outvoted by clean resamples while sustained drift (half the samples
    * slow) survives trimming and still flags.
    */
  private[graft] def trimmedSpread(ss: Seq[Double]): Double = {
    val s = ss.sorted
    val k = s.length / 6
    s(s.length - 1 - k) - s(k)
  }

  /** Instability criterion shared by the per-query protocol and the run-level
    * validity flag: a (trimmed) spread comparable to the median means the
    * samples measure session state, not the query.
    */
  private[graft] def unstable(ss: Seq[Double]): Boolean =
    trimmedSpread(ss) > math.max(median(ss) * 0.5, 0.5)

  /** Outcome of [[measure]]: the sample set the medians are computed over
    * (the fresh post-recovery set when recovery succeeded, the ORIGINAL set
    * otherwise — never a mix), plus enough protocol state for diagnostics.
    * `discarded` counts timed samples (or pre-sample windows) the sentinel
    * gate rejected as contended for THIS query.
    */
  private[graft] final case class Measurement[S](
      samples: Seq[S], warms: Int, recovered: Boolean,
      recoveryRejected: Boolean, recoverySamples: Seq[S],
      discarded: Int = 0,
      probes: Seq[(Double, Double)] = Seq.empty,
      pprobes: Seq[(Double, Double)] = Seq.empty)

  /** Fixed-work single-thread CPU probe, seconds. The work is constant, so
    * probe time moves ONLY with how much CPU the scheduler grants this
    * thread — the direct observable of host contention, the failure mode
    * that invalidated two of the last three official benches (r15, r17:
    * one query sampled through a sustained contended window read as a 3–6×
    * regression while same-HEAD quiet-window bands sat normal). ~8–12 ms
    * quiet on this host: long enough that a timeshared window inflates it
    * proportionally, short enough to bracket every timed sample for <1 s
    * of total overhead per query.
    */
  @volatile private var sentinelSink: Long = 0L
  private[graft] def sentinelProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L ^ sentinelSink
    var i = 0
    while (i < 4000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sentinelSink = x // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work FULL-WIDTH probe, seconds: the [[sentinelProbe]] work run
    * once on EVERY hardware thread concurrently; wall time of the slowest.
    * A quiet host reads ≈ the 1-thread probe (every thread gets a core);
    * steady external load L on C cpus inflates it ≈ 1 + L/C even while each
    * single thread still gets a full core — the documented gate-boundary
    * case the 1-thread probe under-sees (mild multi-tenant load that
    * inflates a 32-thread Spark job but not a 1-thread probe). TELEMETRY
    * ONLY, never a discard criterion: gating on it would leave a mildly
    * shared host unable to produce any band at all — reporting that window
    * is the validity flag's job, not the gate's to wait out.
    */
  private[graft] def parallelProbe(
      threads: Int = Runtime.getRuntime.availableProcessors()): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L ^ (sentinelSink + k)
        var i = 0
        while (i < 4000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        sentinelSink ^= x // racy on purpose — only defeats dead-code elim
      })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Contention gate over timed samples: every sample is bracketed by two
    * [[sentinelProbe]]-style probes, and a sample whose EITHER bracket probe
    * exceeds `factor`× the running-min floor is discarded as "taken inside a
    * contended host window" — the gate then sleeps (escalating, capped) and
    * retries, i.e. it WAITS OUT the window instead of averaging it in.
    *
    * Why this and not round-robin interleaving of queries (the other r17
    * proposal): one sample per query per pass would close every query's
    * cache scope and evict the codegen cache between a query's samples —
    * measured 70 s vs 7.5 s on bk0 when queries' caches coexisted (round 7)
    * — so interleaving trades a contention artifact for a permanent cache
    * -thrash artifact. The sentinel measures the host directly and leaves
    * the per-query steady-state protocol intact.
    *
    * The floor is the RUNNING MIN across the whole run: calibration inside
    * a contended window yields an inflated floor (gate too lax — behaves
    * like the old protocol), but the first quiet probe anywhere in the run
    * lowers it and the gate is exact from then on. Budgets bound the wait:
    * `maxDiscardsPerQuery` per query (then that query samples ungated and
    * the spread/validity flag owns it) and `maxDiscardsTotal` per run (then
    * the gate disarms — a permanently-contended host must not turn a 30 s
    * bench into a 20-minute one).
    */
  private[graft] final class SentinelGate(
      probe: () => Double,
      val factor: Double,
      val maxDiscardsPerQuery: Int,
      maxDiscardsTotal: Int,
      sleepMsForDiscard: Int => Long,
      sleeper: Long => Unit,
      val enabled: Boolean,
      pprobe: () => Double = () => -1.0) {
    private var floorSec = Double.PositiveInfinity
    private var pfloorSec = Double.PositiveInfinity
    private var total = 0
    private var lastProbe = -1.0
    private var lastPProbe = -1.0
    def discards: Int = total
    def floorMs: Double = if (floorSec.isInfinity) -1 else floorSec * 1e3
    /** Full-width probe floor, ms (−1 when the pprobe never ran). */
    def pfloorMs: Double = if (pfloorSec.isInfinity) -1 else pfloorSec * 1e3
    /** Most recent probe value, seconds — the raw observable [[measure]]
      * archives per accepted sample so cross-round window-matching is
      * mechanical (r18 ask #6) instead of narrated.
      */
    def lastProbeSec: Double = lastProbe
    /** Most recent full-width probe, seconds (−1 = pprobe disabled). Runs
      * piggybacked on every [[observe]] but NEVER influences [[quiet]] —
      * see [[Bench.parallelProbe]] for why it must stay telemetry.
      */
    def lastPProbeSec: Double = lastPProbe
    private def observe(): Double = {
      val p = probe(); lastProbe = p; if (p < floorSec) floorSec = p
      val pp = pprobe(); lastPProbe = pp
      if (pp >= 0 && pp < pfloorSec) pfloorSec = pp
      p
    }
    def calibrate(n: Int): Double = {
      var i = 0; while (i < n) { observe(); i += 1 }; floorSec
    }
    /** Seed the floor with an externally-measured quiet probe (tests that
      * must calibrate BEFORE entering a synthetic contention window).
      */
    def floorSeed(sec: Double): Unit = if (sec < floorSec) floorSec = sec
    def active: Boolean = enabled && total < maxDiscardsTotal
    /** One probe; true = quiet window. +2 ms absolute slack so timer jitter
      * on a ~10 ms probe cannot flap the gate.
      */
    def quiet(): Boolean = observe() <= floorSec * factor + 0.002
    /** Record a discard and wait out the window (escalating backoff). */
    def discardAndWait(kThisQuery: Int): Unit = {
      total += 1
      sleeper(sleepMsForDiscard(kThisQuery))
    }
  }

  private[graft] object SentinelGate {
    /** Production schedule: 250 ms · 2^k capped at 4 s — ~30 s worst-case
      * wait per query at the 10-discard budget.
      */
    def production(): SentinelGate = new SentinelGate(
      () => sentinelProbe(), factor = 1.6,
      maxDiscardsPerQuery = 10, maxDiscardsTotal = 120,
      sleepMsForDiscard = k => math.min(250L << math.min(k, 4), 4000L),
      sleeper = Thread.sleep, enabled = true,
      pprobe = () => parallelProbe())
    val off: SentinelGate = new SentinelGate(
      () => 0.0, factor = Double.MaxValue, maxDiscardsPerQuery = 0,
      maxDiscardsTotal = 0, sleepMsForDiscard = _ => 0L, sleeper = _ => (),
      enabled = false)
  }

  /** The per-query measurement protocol, parameterized on the sampler so the
    * specs can drive it with synthetic sample streams (BenchProtocolSpec):
    *
    *  1. WARM to steady state: sample until two consecutive warm runs agree
    *     within 12%+50ms, cap-bounded (8 for heavy queries, else 5) — the
    *     JIT/codegen transition must not bleed into the timed set.
    *  2. TIME `runs` samples.
    *  3. ADAPTIVE RESAMPLE: while the set is [[unstable]], up to `runs`
    *     extra samples — a transient hiccup is outvoted, real drift keeps
    *     flagging.
    *  4. CONTAMINATION RECOVERY (once): if still unstable, call
    *     `recoveryPrep` (reopen the query scope + GC in production), re-warm
    *     to the settle criterion, and take ONE fresh sample set. A fresh set that is
    *     STABLE replaces the poisoned one; a fresh set that is ALSO unstable
    *     is rejected — flagging stays on the ORIGINAL set (the two sets come
    *     from differently-warmed protocol states, so a concatenated median
    *     would be computed over a heterogeneous mix that is neither
    *     protocol), and the fresh samples ship as diag-only evidence.
    *     The recovery cannot mask a regression, only a contaminated session:
    *     real drift re-flags on the fresh set.
    *
    *  Every TIMED sample (steps 2–4; warms are untimed and stay ungated) is
    *  bracketed by the sentinel `gate`: a sample whose pre- or post-probe
    *  shows a contended host window is discarded and the gate waits the
    *  window out, budget-bounded — the r15/r17 failure mode (one query's
    *  whole sample set falling inside a sustained contended window) becomes
    *  "wait, then measure" instead of "measure garbage, flag, invalidate".
    */
  private[graft] def measure[S](
      once: () => S, secOf: S => Double, runs: Int,
      recoveryPrep: () => Unit = () => (),
      diag: String => Unit = _ => (),
      gate: SentinelGate = SentinelGate.off): Measurement[S] = {
    var qDiscards = 0 // this query's share of the gate budget
    // Bracket-probe values per ACCEPTED sample (pre, post), seconds; (-1,-1)
    // when the sample ran ungated (gate off or budget exhausted). Archived in
    // the full bench artifact so a loaded-vs-quiet window is a recorded fact.
    val probeLog = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    // Full-width probe pairs, aligned 1:1 with probeLog: the telemetry that
    // records the MILD-steady-load boundary the 1-thread probe under-sees.
    val pprobeLog = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def gated(): S = {
      while (gate.active && qDiscards < gate.maxDiscardsPerQuery) {
        if (!gate.quiet()) { // contended BEFORE the sample: wait it out
          gate.discardAndWait(qDiscards); qDiscards += 1
        } else {
          val pre = gate.lastProbeSec
          val ppre = gate.lastPProbeSec
          val s = once()
          if (gate.quiet()) { // quiet on both sides: accept
            probeLog += ((pre, gate.lastProbeSec))
            pprobeLog += ((ppre, gate.lastPProbeSec))
            return s
          }
          // window OPENED mid-sample: the sample straddles it — discard
          diag(f"sentinel: window opened mid-sample (${secOf(s)}%.2fs discarded)")
          gate.discardAndWait(qDiscards); qDiscards += 1
        }
      }
      probeLog += ((-1.0, -1.0))
      pprobeLog += ((-1.0, -1.0))
      once() // gate off / budget exhausted: the spread flag owns this case
    }
    def warmToSettle(): (Int, Int) = { // (warms taken, cap used)
      var wPrev = secOf(once())
      val warmCap = if (wPrev > 5.0) 8 else 5
      var warms = 1
      var settled = false
      while (warms < warmCap && !settled) {
        val w = secOf(once())
        settled = math.abs(w - wPrev) <= 0.12 * math.min(w, wPrev) + 0.05
        wPrev = w
        warms += 1
      }
      (warms, warmCap)
    }
    val (warms, _) = warmToSettle()
    var ordered = Seq.fill(runs)(gated())
    var extra = 0
    while (unstable(ordered.map(secOf)) && extra < runs) {
      ordered :+= gated(); extra += 1
    }
    if (!unstable(ordered.map(secOf)))
      return Measurement(ordered, warms, recovered = false,
        recoveryRejected = false, Seq.empty, qDiscards, probeLog.toSeq,
        pprobeLog.toSeq)
    diag("unstable after resample — recovery: release caches, GC, re-warm")
    recoveryPrep()
    val (rWarms, _) = warmToSettle()
    val freshFrom = probeLog.length // probes align with whichever set ships
    val fresh = Seq.fill(runs)(gated())
    diag(s"recovery samples (after $rWarms warms): " +
      fresh.map(s => f"${secOf(s)}%.2f").mkString(", "))
    if (!unstable(fresh.map(secOf)))
      Measurement(fresh, warms, recovered = true,
        recoveryRejected = false, Seq.empty, qDiscards,
        probeLog.drop(freshFrom).toSeq, pprobeLog.drop(freshFrom).toSeq)
    else
      Measurement(ordered, warms, recovered = false,
        recoveryRejected = true, fresh, qDiscards,
        probeLog.take(freshFrom).toSeq, pprobeLog.take(freshFrom).toSeq)
  }

  def main(args: Array[String]): Unit = {
    // The driver parses the LAST line of the captured run log as the result
    // JSON. sbt relays forked stderr as one buffered [error]-prefixed block
    // AFTER all forked stdout, so ANY stderr write (ours, Spark's, a JVM
    // shutdown hook's) lands after the final JSON println and kills the
    // parse — 12 rounds of "parsed": null. Merge stderr into stdout at the
    // JVM level (log4j2.properties does the same for the logging path with
    // target=SYSTEM_OUT follow=true) so ordering with our printlns holds.
    System.setErr(System.out)
    // Codegen tripwire (r18 judge finding): a janino compile error means a
    // stage silently runs interpreted — correct but slow, and previously
    // invisible to every gate. Counted into the result JSON + validity flag.
    CodegenTripwire.install()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val all = SparkEntry.queries
    val names = headline.filter(all.contains)
    // Steady-state protocol: warm each query immediately before timing it
    // (cold-vs-warm codegen/JIT is 6x on the heaviest query, and a single
    // up-front warm pass gets evicted from the codegen cache by the other
    // queries' plans before the timed run), then time `runs` executions and
    // report the per-query MEDIAN plus spread (max−min): one sample cannot
    // distinguish a real regression from JIT/GC variance.
    // A failed query must be LOUD: a swallowed exception reads as a
    // suspiciously fast time and poisons the round's numbers.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    var failures = List.empty[String]
    // Per-sample diagnostics are buffered and printed AFTER the result JSON:
    // the driver stores a truncated tail of the run log and has cut up to 10
    // query timings from every BENCH artifact so far — the one line that must
    // survive is the JSON, so nothing may print between it and EOF except
    // what we choose.
    val diag = scala.collection.mutable.ListBuffer.empty[String]
    // Sentinel gate (SPARK_GRAFT_BENCH_SENTINEL=0 disables): JIT-warm the
    // probe loop first so calibration measures the host, not the compiler;
    // the floor keeps improving as a running min, so calibrating inside a
    // contended window only makes the gate lax, never wrong.
    val gate =
      if (sys.env.get("SPARK_GRAFT_BENCH_SENTINEL").contains("0")) SentinelGate.off
      else SentinelGate.production()
    if (gate.enabled) {
      (0 until 3).foreach(_ => sentinelProbe())
      gate.calibrate(9)
      diag += f"[bench] sentinel floor ${gate.floorMs}%.1fms (9 probes, running min; gate at ${gate.factor}x)"
    }
    // window quality: worst gated bracket probe over `floorMs` (−1 = none)
    def worstX(probes: Seq[(Double, Double)], floorMs: Double): Double = {
      val gated = probes.filter(_._1 >= 0)
      if (gated.isEmpty || floorMs <= 0) -1.0
      else gated.iterator.flatMap(p => Iterator(p._1, p._2)).max * 1e3 / floorMs
    }
    val results = names.filter(n => only.forall(_.contains(n))).map { name => Scope {
      // Cold-cache boundary: one scope per query, one nested scope per
      // sample. A sample's results are dropped when it ends; the query's
      // index memos live in the query scope, so its warm and timed samples
      // share one built index (that is the steady state being measured).
      // ACROSS queries nothing is retained: cached state coexisting in the
      // deliberately small bench heap thrashes and poisons the medians (bk0
      // measured 70s in-suite vs 7.5s isolated before this boundary existed).
      // One sample = the phase `name` under a telemetry sink: every job lands
      // on it or an engine phase nested in it, and its GC delta separates
      // "the query got slower" from "the session was collecting garbage".
      def once(): Telemetry.Timed[Unit] = Telemetry.timed(spark.sparkContext) {
        try Telemetry.phase(name)(
          Scope(all(name)(spark, sfDir).write.format("noop").mode("overwrite").save()))
        catch { case e: Throwable =>
          if (!failures.contains(name)) {
            failures ::= name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage.linesIterator.next()}")
          }
        }
      }
      // Warm to STEADY STATE, not a fixed count: the first execution pays
      // codegen + JIT + page cache (6–11x steady state), and the next 1–3
      // still ride the JIT transition when the session is cold — measured:
      // the first query of a session declines 1.96, 2.67, 1.42, … to a
      // 1.0s plateau over ~4 runs, while the SECOND query of the same
      // session is stable from its first timed sample. One fixed warm run
      // let that transition bleed into the timed samples, which was the
      // whole of r10/r11's reproducible "bk4 instability" (per-job
      // breakdown + flat GC deltas exonerated the query's own DAG).
      // The 12%-agreement tolerance is the band-width knob: at 25% a cold
      // session's bk0 could "settle" mid-decline (11→9.5s is within 25%)
      // and park the whole run's median anywhere on the JIT curve — the
      // measured 5.8–11.3s cross-run band of r12. Sustained slowness (host
      // contention) burns the warm cap and moves on — the recovery protocol
      // and the validity flag own that case. The full protocol (warm /
      // resample / recovery) lives in [[measure]], spec-pinned by
      // BenchProtocolSpec; production recovery = close and reopen the query
      // scope, ask the JVM to collect, settle, one fresh sample set (r15:
      // the round's official bench was invalidated by ONE query measured
      // through a sustained contended window resampling could not outvote).
      val m = measure[Telemetry.Timed[Unit]](
        once _, _.sec, runs,
        recoveryPrep = () => {
          Scope.reopen()
          System.gc()
          Thread.sleep(2000)
        },
        diag = line => diag += f"[bench]   $name $line",
        gate = gate)
      if (m.recoveryRejected)
        diag += f"[bench]   $name recovery set ALSO unstable — flag stays on the original samples"
      if (m.discarded > 0)
        diag += f"[bench]   $name sentinel discarded ${m.discarded} contended window(s) before accepting samples"
      // Execution-order samples are the drift diagnostic: monotone growth
      // means within-session accumulation (heap aging, lineage, shuffle
      // files), not noise — the sorted median alone cannot distinguish them.
      diag += f"[bench] $name samples (after ${m.warms} warms): " +
        m.samples.map(s => f"${s.sec}%.2f(gc ${s.phases.filter(_.path == name).map(_.work.gcMs).sum}ms)")
          .mkString(", ")
      // Window quality per query (r18 ask #6): worst accepted bracket probe
      // relative to the run's floor. ≤ the gate factor by construction when
      // gated; "ungated" marks samples the budget let through unprobed.
      if (gate.enabled) {
        val gated = m.probes.count(_._1 >= 0)
        val pworst = worstX(m.pprobes, gate.pfloorMs)
        diag += f"[bench] $name window-quality: worst-probe/floor ${worstX(m.probes, gate.floorMs)}%.2fx over $gated gated sample(s)" +
          (if (pworst > 0) f", full-width ${pworst}%.2fx" else "") +
          (if (m.probes.length > gated) s", ${m.probes.length - gated} ungated" else "") +
          (if (m.discarded > 0) s", ${m.discarded} discarded" else "")
      }
      name -> m
    }}
    def secs(m: Measurement[Telemetry.Timed[Unit]]): Seq[Double] = m.samples.map(_.sec)
    failures.foreach(n => diag += s"[bench] WARNING: $n time is a failure, not a run")
    // Recall audit folded into the round's bench run: the ANN queries are
    // rows-only in the oracle gate, so without this a recall drift would
    // surface only when someone re-ran Verify by hand. Written to
    // target/recall.json (same format as Verify's) and summarized as one
    // boolean on the bench line.
    val recallOk =
      try {
        val recalls = RecallAudit.checks.toSeq.sortBy(_._1).map {
          case (n, fn) => n -> Scope(fn(spark, sfDir))
        }
        val recallJson = recalls.map { case (n, r) =>
          f""""$n": {"recall_vs_bruteforce": $r%.4f, "floor": ${RecallAudit.floors(n)}%.2f, "pass": ${r >= RecallAudit.floors(n)}}"""
        }.mkString("{", ", ", "}")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("target/recall.json"), recallJson)
        // Tracked copy beside the bench bands: recall history stays diffable
        // round-over-round without anyone re-running Verify by hand.
        val recallTracked = java.nio.file.Paths.get("bench/RECALL_latest.json")
        if (only.isEmpty && java.nio.file.Files.isDirectory(recallTracked.getParent))
          java.nio.file.Files.writeString(recallTracked, recallJson + "\n")
        diag += s"[bench] recall: $recallJson"
        recalls.forall { case (n, r) => r >= RecallAudit.floors(n) }
      } catch { case e: Throwable =>
        // e.getMessage can be null (bare NPE) or empty — the handler must
        // never itself throw after all query timing succeeded
        val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
          .getOrElse(e.getClass.getName)
        diag += s"[bench] WARNING: recall audit failed: $msg"
        false
      }
    // Self-diagnose protocol problems: a spread comparable to the median
    // means the samples measure session state (cache eviction, GC pressure),
    // not the query — exactly how round 7's retained-cache contamination
    // showed up (bk0 spread 42.9s on a 70.3s median) before anyone read the
    // numbers. The flag is MACHINE-READABLE ("valid"/"unstable" below):
    // round 11's driver run was poisoned by host contention and its medians
    // read as a 6x regression until a human re-ran it — a contaminated run
    // must never be distinguishable from a regression only by re-running.
    val unstableNames = results.collect { case (n, m) if unstable(secs(m)) =>
      diag += f"[bench] WARNING: $n spread ${trimmedSpread(secs(m))}%.2fs vs median ${median(secs(m))}%.2fs — samples unstable"
      n
    }
    def r3(d: Double): String = f"$d%.3f"
    val qs = results.map { case (k, m) => "\"" + k + "\":" + r3(median(secs(m))) }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, m) => "\"" + k + "\":" + r3(trimmedSpread(secs(m))) }
      .mkString("{", ",", "}")
    // Per-sample bracket-probe pairs, ms (−1 = ungated): the raw host-window
    // evidence per accepted sample; the full-width (all-cores) pairs are the
    // steady-mild-load observable (quiet ≈1×, load L on C cpus ≈1+L/C).
    def probesJson(of: Measurement[_] => Seq[(Double, Double)]): String =
      Serialization.write(ListMap.from(results.map { case (k, m) =>
        k -> of(m).map { case (a, b) => Seq(Telemetry.round(a * 1e3, 1), Telemetry.round(b * 1e3, 1)) }
      }))
    // Per query, its samples' phases (Telemetry.summary) and its last
    // sample's route decisions — full artifact only.
    val phasesJson = Serialization.write(ListMap.from(results.map { case (k, m) =>
      k -> Telemetry.summary(m.samples.map(_.phases)) }))
    val routesJson = Serialization.write(ListMap.from(results.map { case (k, m) =>
      k -> m.samples.last.routes.map(_.fields) }))
    val total = results.map(r => median(secs(r._2))).sum
    // A codegen compile error anywhere in the run means some stage's timing
    // is interpreted-eval, not the engine — the run cannot stand as official.
    val codegenErrors = CodegenTripwire.hits
    if (codegenErrors > 0)
      diag += s"[bench] WARNING: $codegenErrors codegen compile error(s) — " +
        s"stage(s) ran interpreted. First: ${CodegenTripwire.firstHit.getOrElse("?")}"
    val valid = failures.isEmpty && unstableNames.isEmpty && codegenErrors == 0
    // Name lists on the COMPACT line are capped: the line must stay under the
    // driver's ~2,000-char tail window even in the pathological all-unstable
    // case. The full artifact carries the uncapped lists.
    def strArr(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def cappedArr(xs: Seq[String]): String = {
      val shown = if (xs.length > 8) xs.take(8) :+ s"+${xs.length - 8} more" else xs
      strArr(shown)
    }
    // One-number window quality for the whole run: worst accepted bracket
    // probe over the floor, across every gated sample of every query. A
    // quiet run reads ~1.0–1.2×; the documented gate boundary (steady
    // multi-tenant load a 1-thread probe under-sees) reads 1.5–1.9×. Makes
    // cross-round band matching a one-glance comparison on the compact line.
    val worstProbeX = if (!gate.enabled) -1.0 else worstX(results.flatMap(_._2.probes), gate.floorMs)
    // Same one-number summary over the full-width probe: ≈1.0–1.3× quiet;
    // a steady external load the 1-thread probe cannot see reads 1+L/C here.
    val worstPProbeX = if (!gate.enabled) -1.0 else worstX(results.flatMap(_._2.pprobes), gate.pfloorMs)
    val sentinelJson =
      f""""sentinel":{"enabled":${gate.enabled},"floor_ms":${gate.floorMs}%.2f,"discards":${gate.discards},"worst_probe_x":$worstProbeX%.2f,"pfloor_ms":${gate.pfloorMs}%.2f,"worst_pprobe_x":$worstPProbeX%.2f,"probes_ms":${probesJson(_.probes)},"pprobes_ms":${probesJson(_.pprobes)}}"""
    val fullJson = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"spread":$spread,"runs":$runs,"sf":"$sfDir","valid":$valid,"recall_ok":$recallOk,"codegen_compile_errors":$codegenErrors,$sentinelJson,"phases":$phasesJson,"routes":$routesJson,"unstable":${strArr(unstableNames)},"failures":${strArr(failures.reverse)}}"""
    // The driver's tail window is ~2,000 chars and it parses the LAST line of
    // the captured log as JSON — a 3.5 KB line survives complete at EOF but
    // arrives front-truncated in the window (the r13 failure mode: a full
    // line of 3,523 chars). The final line is therefore a COMPACT summary:
    // the per-query medians stay (the documented contract, ~1,450 chars at
    // 45 queries) but spreads, phases and routes live only in
    // target/bench.json / bench/BENCH_FULL_latest.json — and a hard guard
    // drops "queries" too if the line would ever approach the window.
    // The heaviest query's spread decides validity in practice (r15: bk0 was
    // the sole unstable entry and its spread lived only in the full
    // artifact) — ship it on the compact line too, one entry, ~40 chars.
    val heavySpread = results.sortBy(r => -median(secs(r._2))).headOption.map {
      case (k, m) => s""","heavy_spread":{"$k":${r3(trimmedSpread(secs(m)))}}"""
    }.getOrElse("")
    def compactLine(withQueries: Boolean): String = {
      val q = if (withQueries) s""","queries":$qs""" else ""
      f"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"sf":"$sfDir","valid":$valid,"recall_ok":$recallOk,"codegen_compile_errors":$codegenErrors,"sentinel_discards":${gate.discards},"worst_probe_x":$worstProbeX%.2f,"worst_pprobe_x":$worstPProbeX%.2f,"unstable":${cappedArr(unstableNames)},"failures":${cappedArr(failures.reverse)}$heavySpread$q,"detail":"bench/BENCH_FULL_latest.json"}"""
    }
    val withQ = compactLine(withQueries = true)
    val compactJson = if (withQ.length <= 1800) withQ else compactLine(withQueries = false)
    // Full JSON first, diagnostics after, compact JSON LAST: whichever end of
    // the log the driver's truncation keeps, a parseable copy survives — and
    // the final line is what the driver parses, so it must be both last and
    // small. Everything below is ordered for that: diagnostics on stdout,
    // spark.stop() BEFORE the final println (its WARN chatter goes to stdout
    // via log4j2.properties), logging forced OFF so shutdown hooks that fire
    // after main() cannot print, and build.sbt's showSuccess := false so sbt
    // appends no "[success] Total time" trailer.
    println(fullJson)
    diag.foreach(println)
    // The driver stores only a truncated tail of the run log, which has cut
    // up to 10 of the per-query timings from every BENCH artifact so far —
    // the file is the lossless channel (committed as bench/ each round).
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(out, fullJson + "\n")
    // Second copy into the TRACKED bench/ dir (when run from the repo root):
    // the driver's end-of-round snapshot commits uncommitted files, so its
    // own bench run self-archives losslessly without driver cooperation.
    // Filtered runs (SPARK_GRAFT_BENCH_ONLY) are local measurements, not
    // the round artifact — they must not clobber the full archive.
    val tracked = java.nio.file.Paths.get("bench/BENCH_FULL_latest.json")
    if (only.isEmpty && java.nio.file.Files.isDirectory(tracked.getParent))
      java.nio.file.Files.writeString(tracked, fullJson + "\n")
    // Validity as an rc, without parsing any JSON: 0 = ran and valid,
    // 3 = ran but the samples are flagged (unstable/failed). It lives in a
    // FILE, not the process exit status, because a nonzero forked exit makes
    // sbt append "[error] Nonzero exit code" AFTER the final println — the
    // driver parses the LAST line of the log as the result JSON, so a
    // nonzero exit would destroy the very artifact that records why the run
    // was invalid (measured; contract in bench/README.md).
    val rc = if (valid) "0" else "3"
    // Non-fatal by contract: the rc file is best-effort telemetry — a missing
    // target/ dir (or any IO error here) must never throw AFTER the final
    // JSON println and break the last-line-of-log parse (the r13 failure
    // mode the surrounding ordering defends against).
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.rc"), rc + "\n")
      if (only.isEmpty && java.nio.file.Files.isDirectory(tracked.getParent))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("bench/BENCH_RC_latest"), rc + "\n")
    } catch { case e: Throwable =>
      // diag already flushed; direct println is safe anywhere BEFORE the
      // final compact line
      println(s"[bench] WARNING: rc file write failed (non-fatal): ${e.getMessage}")
    }
    spark.stop()
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    println(compactJson)
    Console.flush()
  }
}
