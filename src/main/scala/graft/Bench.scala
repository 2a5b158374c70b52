package graft

/** Benchmark main: runs every registered query once to warm the
  * JVM/codegen, then `measuredPasses` (default 3) measured passes, and
  * prints ONE JSON line with the per-query MIN across measured passes.
  *
  * Min-of-N, not a single pass: a one-shot measurement cannot distinguish
  * a real plan regression from a GC pause or sandbox CPU contention —
  * round 4's driver artifact showed five phantom >2x "regressions" on
  * unchanged code paths that a same-binary re-run measured at 0.9-1.0x
  * (VERDICT r4 "What's wrong" #1). The minimum is the noise-robust
  * estimator for a deterministic workload: noise only ever adds time.
  *
  * Queries execute into the `noop` sink (not `.count()`): a count-only plan
  * lets Catalyst prune every projection, so per-row expression work
  * (derived columns, text stats, cosines) would be optimized out of the
  * measurement; the noop write evaluates every output column and discards
  * the rows (VERDICT r1 "What's wrong" #4).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional subset (comma-separated) for targeted scale spot-benches
    // (the SCALE.md exponent table's >=5x follow-ups); unset → full suite.
    // An unknown name fails the run before any query executes.
    val selected = graft.queries.Queries.select(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val build = selected.map(q => q.name -> q.build).toMap
    val names = selected.map(_.name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }

    // One scope per exec: the blocks a query pins or caches are freed as
    // its scope exits, outside the timed region, so ~600 executions'
    // worth never accumulates to tax later passes (ContextCleaner acts
    // only on GC). The memoized IVF assignment is no scope's and survives.
    def exec(n: String): Double = graft.core.Materialize.scope(time(
      build(n)(spark, sfDir).write.format("noop").mode("overwrite").save()))

    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // pass 0: warmup (codegen, file-index, broadcast caches)
    val warmup = names.map { n =>
      n -> (try exec(n)
      catch { case e: Throwable => errors += s"$n: ${e.getMessage}"; -1.0 })
    }.toMap
    // passes 1..N measured; report min — noise only ever adds time.
    // Pass-major order (all queries, then repeat) so a transient system
    // stall inflates at most one pass of each query, not all N of one.
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (p <- 1 to passes; n <- names if warmup(n) >= 0) {
      val t = try exec(n)
      catch { case e: Throwable => errors += s"$n (pass $p): ${e.getMessage}"; -1.0 }
      if (t >= 0) samples(n) = t :: samples(n)
    }
    val results = names.map { n =>
      n -> (if (samples(n).nonEmpty) samples(n).min else -1.0)
    }
    // Console contract vs the driver's 2000-char tail capture (r17): the
    // driver parses the bench JSON from a console TAIL of exactly 2000
    // characters (every committed BENCH_rNN.json carries a 2000-char
    // `tail`), and the full 157-query line is ~4-6 KB — its HEAD gets cut
    // and `parsed` has been null since the suite outgrew the window
    // (BENCH_r06/r08, then r15/r16; VERDICT r16 "What's wrong" #1). Per
    // that verdict's prescription, BOTH redundant copies are emitted:
    //  1. the canonical full per-query line FIRST (the round contract:
    //     one JSON line with `queries` — intact in the full console log,
    //     and the copy tail-truncation eats),
    //  2. a SHORT summary line LAST (total, n_queries, errors, sf —
    //     ~250 chars, so it ALWAYS survives inside the tail window
    //     together with sbt's trailing "[success]" line),
    // and the full-precision per-query map is ALWAYS written to a file
    // (SPARK_GRAFT_BENCH_OUT, default BENCH_full.json in cwd — the short
    // line names it so the per-query data is recoverable from the tail).
    def f3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val nPasses = names.map { n => "\"" + n + "\":" + samples(n).size }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val total = ok.map(_._2).sum
    val warm = warmup.values.filter(_ >= 0).sum
    val err = errors.map(e => "\"" + e.replace("\"", "'").replace("\n", " ") + "\"")
      .mkString("[", ",", "]")
    // errors for the SHORT line: bounded so a cascade of long exception
    // messages cannot push the line back over the tail window
    val errShort = errors.take(3)
      .map(e => "\"" + e.replace("\"", "'").replace("\n", " ").take(120) + "\"")
      .mkString("[", ",", "]")
    val mtimes = Provenance.fixtureMtimesJson(sfDir)
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,""" +
      s""""passes":$passes,""" +
      s""""warmup_total":${f3(warm)},"n_queries":${results.size},"errors":$err,""" +
      s""""fixture_mtimes":$mtimes,"sf":"$sfDir"}"""
    // Full-precision artifact (with per-query pass counts) ALWAYS lands in
    // a file — a file survives independent of console buffering.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json"))
      .toAbsolutePath
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":""" +
      results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}") +
      s""","passes":$passes,"pass_counts":$nPasses,""" +
      s""""warmup_total":$warm,"n_queries":${results.size},"errors":$err,""" +
      s""""fixture_mtimes":$mtimes,"sf":"$sfDir"}"""
    // a failed write must not cost the console lines: log it, and the
    // short line names no file
    val queriesFile =
      try {
        java.nio.file.Files.writeString(outPath, full + "\n")
        "\"" + outPath.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"Bench: could not write $outPath: $e")
          "null"
      }
    val shortLine = s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"passes":$passes,""" +
      s""""warmup_total":${f3(warm)},"n_errors":${errors.size},"errors":$errShort,""" +
      s""""queries_file":$queriesFile,"sf":"$sfDir"}"""
    println(line)
    println(shortLine)
    spark.stop()
  }
}
