package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every registered query and prints ONE
  * compact JSON line (the driver's contract).
  *
  * Instrument hardening (round-5, after two rounds of phantom
  * regressions): each query runs `SPARK_GRAFT_BENCH_REPS` times
  * (default 2) and reports the MIN — steady state, immune to a single
  * host-steal spike. Per-query progress goes to stderr as each query
  * finishes (incremental, so a truncated capture still shows every
  * completed query), values are rounded to ms so the final stdout line
  * stays well inside tail-capture buffers, and the same JSON is also
  * written to target/bench_last.json as a local artifact. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(2))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen, parquet footer cache, shuffle machinery)
    // so the first measured query doesn't absorb startup cost
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    def ms3(v: Double): String = f"$v%.3f".replace(",", ".") // locale-proof
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // noop sink, not count(): count() lets the optimizer prune
        // every projection and eliminate unique-key outer joins whose
        // columns go unread — the instrument would then time a smaller
        // query than the one users run. The noop DSv2 sink computes
        // every output column of every row and discards them.
        val failure = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None
        } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        // no cross-query or cross-rep cache leaks: every rep pays its
        // own cache build, min still strips host-steal noise
        finally spark.sqlContext.clearCache()
        ((System.nanoTime() - t0) / 1e9, failure)
      }
      // a FAILED rep must never win the min — a fast crash would
      // otherwise report as a phantom speedup; a query with zero
      // successful reps reports -1 (unambiguous failure marker)
      val good = times.filter(_._2.isEmpty).map(_._1)
      val best = if (good.nonEmpty) good.min else -1.0
      val errors = times.flatMap(_._2).distinct
      val errorsJson =
        if (errors.isEmpty) ""
        else errors.map(e => "\"" + pipeline.EtlLog.escape(e) + "\"")
          .mkString(""","errors":[""", ",", "]")
      System.err.println(s"""[bench] {"query":"$name","sec":${ms3(best)},"reps":${times.map(t => if (t._2.isEmpty) ms3(t._1) else "-1").mkString("[", ",", "]")}$errorsJson}""")
      name -> best
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val total = ms3(results.map(_._2).sum)
    // Self-flagging control: fn_epoch_millis is a fixed-work scalar
    // projection whose steady state is recorded in BASELINE.md — if
    // this run's control exceeds it by >25% the HOST was stolen/noisy
    // and apparent per-query regressions in this run are suspect
    // (round-8's driver bench read the control at 4× steady and
    // "regressed" half the registry). The flag rides in the JSON so an
    // inflated run announces itself instead of requiring forensics.
    val controlSteady = sys.env.get("SPARK_GRAFT_CONTROL_STEADY")
      .flatMap(_.toDoubleOption).getOrElse(0.95)
    val controlSec = results.toMap.getOrElse("fn_epoch_millis", -1.0)
    val cpuOk = controlSec > 0 && controlSec <= controlSteady * 1.25
    // SECOND control (round-13, verdict ask): the round-12 windows
    // proved the single-stage CPU control cannot see the host's
    // dominant noise mode — fn_epoch_millis read 1.05× steady while
    // fixture-free MULTI-STAGE queries (agg_percentile 2.09×,
    // project_locked 2.03×) inflated with the rest of the registry, so
    // the mode taxes per-stage/shuffle overhead (scheduler latency,
    // page-cache-pressure on shuffle spill paths), not single-pass
    // CPU. agg_percentile is the sentinel: fixed work, zero fixtures,
    // 11 MB input, shuffle+sort-heavy — it moves with the mode and
    // cannot be confounded by fixture builds. Its bar is 1.40× (wider
    // than the CPU control's 1.25×: multi-stage walls jitter more at
    // the ~1 s scale) — in the round-12 bad window it read 2.09× its
    // ledger minimum, far past the bar.
    // Steady RE-RECORDED round 14 (1.10 → 1.53): every round-13 window
    // plus round-14's first failed control2 at 1.48–2.02× the old
    // steady while the CPU control sat at ITS steady, and a dedicated
    // 6-rep idle-machine Profile (no concurrent load, warmed session)
    // read min 1.528 / median 1.62 — the multi-stage tax is the host's
    // persistent state, not transient steal, and a permanently-failing
    // control freezes the ledger (BASELINE.md round-14 note). Minima
    // merged under the new bar stay sound: min-merge only moves down.
    val control2Steady = sys.env.get("SPARK_GRAFT_CONTROL2_STEADY")
      .flatMap(_.toDoubleOption).getOrElse(1.53)
    val control2Sec = results.toMap.getOrElse("agg_percentile", -1.0)
    val shuffleOk = control2Sec > 0 && control2Sec <= control2Steady * 1.40
    val controlOk = cpuOk && shuffleOk
    // drift check BOTH ways: a control far BELOW steady means the host
    // got faster than the recorded baseline — the flag threshold above
    // is then miscalibrated (too lenient) and steady needs re-recording
    // (BASELINE.md). Warn, don't flag: a fast host never fabricates
    // regressions.
    if (controlSec > 0 && controlSec < controlSteady * 0.75)
      System.err.println(f"[bench] WARNING control $controlSec%.3f s is >25%% " +
        f"below the recorded steady $controlSteady%.3f s — steady is stale, " +
        "re-record SPARK_GRAFT_CONTROL_STEADY / BASELINE.md")
    if (control2Sec > 0 && control2Sec < control2Steady * 0.60)
      System.err.println(f"[bench] WARNING shuffle control $control2Sec%.3f s " +
        f"is far below the recorded steady $control2Steady%.3f s — steady " +
        "is stale, re-record SPARK_GRAFT_CONTROL2_STEADY / BASELINE.md")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""control_query":"fn_epoch_millis","control_sec":${ms3(controlSec)},""" +
      s""""control_steady_sec":${ms3(controlSteady)},"control_cpu_ok":$cpuOk,""" +
      s""""control2_query":"agg_percentile","control2_sec":${ms3(control2Sec)},""" +
      s""""control2_steady_sec":${ms3(control2Steady)},"control2_ok":$shuffleOk,""" +
      s""""control_ok":$controlOk,"sf":"$sfDir"}"""
    try {
      val p = java.nio.file.Paths.get("target/bench_last.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, line + "\n")
      // in-repo (non-gitignored) mirror: the driver's tail capture is
      // smaller than the full per-query line, so the committed record
      // of BENCH_r05 lost its map mid-JSON. The round-end auto-commit
      // picks this file up, making the full per-query record durable.
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_last_full.json"), line + "\n")
      // the CLEAN-ANCHOR record: a PER-QUERY MINIMA LEDGER across
      // control-ok runs. The old semantics replaced the whole file
      // when a run posted a lower control, which (a) lost the
      // superseded run's per-query records (round-11's committed
      // anchor held a 147 s run over a recorded 138.5 s one) and
      // (b) let one noisy query in an otherwise-clean run set the
      // cross-round reference — ten phantom-uptick triages across
      // r5-r11 trace to exactly that. Minima make the anchor
      // MONOTONE per query: a value only moves down, so any uptick
      // against it is a real code change, never host noise. The
      // ledger's query SET is the current registry (this run names
      // every registered query, -1 on failure): renamed/removed
      // queries drop out, new ones enter at this run's value, a
      // failed rep keeps the prior minimum. Deliberate slowdowns
      // (accepted costs of a semantics change) need a keyed entry:
      // rename the query or reset the ledger — BASELINE.md records
      // this contract.
      // ONE read of the prior ledger serves the sf guard and both
      // parses. SPARK_GRAFT_BENCH_LEDGER=reset discards the prior
      // ledger and starts fresh from this run — the recovery path for
      // a poisoned minimum (a bogus-fast value merged from e.g. a
      // partially-regenerated source table would otherwise be
      // unbeatable forever, inverting the phantom-uptick problem the
      // minima exist to fix) and for deliberate slowdowns accepted as
      // the cost of a semantics change.
      val bestPath = java.nio.file.Paths.get("BENCH_best_full.json")
      val prevLedger: Option[String] =
        if (sys.env.get("SPARK_GRAFT_BENCH_LEDGER").contains("reset")) None
        else if (java.nio.file.Files.exists(bestPath))
          Some(java.nio.file.Files.readString(bestPath))
        else None
      // SF guard: minima are only comparable within one scale factor —
      // a local sf0.001 smoke run merging into (or replacing) the
      // committed sf0.1 anchor would corrupt every cross-round
      // comparison. A mismatched-sf control-ok run leaves the ledger
      // untouched (loudly — a silent skip reads as an update).
      val prevSfMatches = prevLedger.forall(s =>
        """"sf":"([^"]*)"""".r.findFirstMatchIn(s)
          .forall(_.group(1) == sfDir))
      if (controlOk && !prevSfMatches)
        System.err.println(s"[bench] NOTE control-ok run at $sfDir does " +
          "NOT update BENCH_best_full.json — the ledger anchors a " +
          "different sf; delete the file (or SPARK_GRAFT_BENCH_LEDGER=" +
          "reset) to re-anchor")
      val prevQ: Map[String, Double] = prevLedger
        .flatMap(s => """"queries":\{([^}]*)\}""".r
          .findFirstMatchIn(s).map(_.group(1)))
        .map(body => """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap)
        .getOrElse(Map.empty)
      val prevRuns = prevLedger
        .flatMap(""""n_runs":([0-9]+)""".r.findFirstMatchIn(_)
          .map(_.group(1).toInt))
        .getOrElse(if (prevQ.nonEmpty) 1 else 0)
      val prevSeeded: Set[String] = prevLedger
        .flatMap(""""seeded_dirty":\[([^\]]*)\]""".r.findFirstMatchIn(_)
          .map(_.group(1)))
        .map(""""([^"]+)"""".r.findAllMatchIn(_).map(_.group(1)).toSet)
        .getOrElse(Set.empty)
      // SEED-ONLY write on a FLAGGED run: registry ADDITIONS (no
      // ledger entry yet) enter at this run's value instead of
      // staying unanchored until the host offers a clean window —
      // round 13 saw three consecutive flagged windows, which would
      // have left seven new queries with no cross-round reference at
      // all. Sound because min-merge is monotone: a flagged window
      // only INFLATES, so a dirty first entry can only move DOWN on
      // the next clean run — the poisoned-minimum failure mode
      // (bogus-LOW entries) cannot enter this way. Existing minima,
      // n_runs, and the removed-query pruning are untouched (pruning
      // stays a clean-run action so a flagged run can never shrink
      // the anchor); the seeded names ride in "seeded_dirty" until a
      // control-ok run re-observes everything and clears the list.
      if (!controlOk && prevSfMatches && prevQ.nonEmpty) {
        val newNames = results.filter { case (n, v) =>
          v > 0 && !prevQ.contains(n) }
        if (newNames.nonEmpty) {
          val seededQ = prevQ ++ newNames
          val seededNames = (prevSeeded ++ newNames.map(_._1)).toSeq.sorted
          val qsJson = seededQ.toSeq.sortBy(_._1)
            .map { case (k, v) => s"\"" + k + "\":" + ms3(v) }
            .mkString("{", ",", "}")
          val totalJson = ms3(seededQ.values.filter(_ > 0).sum)
          val ledger = s"""{"metric":"total","value":$totalJson,"unit":"sec",""" +
            s""""anchor":"per-query minima across control-ok runs",""" +
            s""""n_runs":$prevRuns,"queries":$qsJson,""" +
            s""""seeded_dirty":${seededNames.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""control_query":"fn_epoch_millis","control_sec":${ms3(controlSec)},""" +
            s""""control_steady_sec":${ms3(controlSteady)},""" +
            s""""control2_query":"agg_percentile","control2_sec":${ms3(control2Sec)},""" +
            s""""control2_steady_sec":${ms3(control2Steady)},"control_ok":false,""" +
            s""""sf":"$sfDir"}"""
          java.nio.file.Files.writeString(bestPath, ledger + "\n")
          System.err.println(s"[bench] NOTE flagged run seeded " +
            s"${newNames.size} new registry entries into the ledger " +
            s"(values inflated, will only improve): " +
            newNames.map(_._1).mkString(", "))
        }
      }
      if (controlOk && prevSfMatches) {
        // self-flagging upticks: on a control-ok run, a query >25% AND
        // >0.3 s above its ledger minimum is printed. ONE flag is a
        // HYPOTHESIS, not a verdict — the control certifies the run's
        // average host state, not every second of it, and the ledger
        // min tightens with every contributing run, so bursty steal
        // lands a handful of flags on a perfectly clean diff (observed:
        // 5 flags at +26-28% on an untouched registry). The reading:
        // a flag that REPEATS across control-ok runs is a code-change
        // signal (the ledger only ever moves down, so noise cannot
        // sustain it); a one-off clears itself on the next run.
        // the control queries are excluded: their pass bars are 1.25×/
        // 1.40× steady, so a barely-passing run would flag its own
        // controls every time — a structurally recurring false flag
        for ((name, cur) <- results; prev <- prevQ.get(name)
             if name != "fn_epoch_millis" && name != "agg_percentile" &&
               prev > 0 && cur > prev * 1.25 && cur - prev > 0.3)
          System.err.println(f"[bench] UPTICK $name%s: $cur%.3f s vs " +
            f"ledger min $prev%.3f s (+${(cur / prev - 1) * 100}%.0f%% — " +
            "hypothesis; re-run to confirm, see ledger comment)")
        val merged = results.map { case (name, cur) =>
          val prev = prevQ.get(name).filter(_ > 0)
          val best = (Seq(cur).filter(_ > 0) ++ prev)
            .minOption.getOrElse(-1.0)
          name -> best
        }
        val mergedQs = merged.map { case (k, v) => s"\"" + k + "\":" + ms3(v) }
          .mkString("{", ",", "}")
        val mergedTotal = ms3(merged.map(_._2).filter(_ > 0).sum)
        val ledger = s"""{"metric":"total","value":$mergedTotal,"unit":"sec",""" +
          s""""anchor":"per-query minima across control-ok runs",""" +
          s""""n_runs":${prevRuns + 1},"queries":$mergedQs,""" +
          s""""control_query":"fn_epoch_millis","control_sec":${ms3(controlSec)},""" +
          s""""control_steady_sec":${ms3(controlSteady)},""" +
          s""""control2_query":"agg_percentile","control2_sec":${ms3(control2Sec)},""" +
          s""""control2_steady_sec":${ms3(control2Steady)},"control_ok":true,""" +
          s""""sf":"$sfDir"}"""
        java.nio.file.Files.writeString(bestPath, ledger + "\n")
      }
    } catch { // artifact is best-effort, but a failed write says why
      case e: Exception => System.err.println(
        s"[bench] WARN artifact write failed: ${e.getClass.getName}: ${e.getMessage}")
    }
    println(line)
    spark.stop()
  }
}
