package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Queries are executed
  * through the noop sink — unlike count(), that materializes every
  * output column, so projection-heavy operators (mercator math,
  * minhash signatures, cosine folds) are actually measured instead of
  * being pruned away by Catalyst.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated filter for fast single-query iteration
    // (SPARK_GRAFT_BENCH_ONLY=q_asof_native,q_asof_join); the full run
    // is the default
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.select(only).toSeq.sortBy(_._1)
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/FS warmup so the alphabetically-first query doesn't
    // absorb session init cost (~5s) into its measurement; deterministic
    // picks covering the two big fact tables (lineitem + documents)
    Seq("q1_agg", "q_token_count").foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }
    // min of 2 runs per query: the first run pays janino compilation
    // of that query's generated code (up to several seconds for wide
    // projections) — the min reflects steady-state throughput, which
    // is what a long-running cluster job actually sees. If the two
    // runs disagree by more than 2× the machine was stalling (shared
    // hosts hiccup for seconds at a time); one extra run keeps a
    // transient stall from defining the query's number.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        // a throwing query MUST NOT masquerade as a fast one: its
        // time-to-failure is not a throughput number (observed: a
        // crashed 100x dedup run reporting 0.04s). Record the name;
        // the JSON carries it and the history fold skips it.
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // regression tracking: bench_history.json (committed to the repo)
    // carries the element-wise BEST-OBSERVED per-query seconds across
    // full runs; the detail file reports prior + delta per query so a
    // regression is visible without digging through old round
    // artifacts. The history only updates on full (unfiltered) runs so
    // partial iteration runs can't clobber it, and it is folded as
    // min(new, prior) so one stall-poisoned run can never erase the
    // calm baseline (the host freezes for minutes at a time; see
    // bench_history commit d450e2c vs the poisoned BENCH_r06). The
    // history records the sf dir it was measured at: a run at another
    // scale reports no prior or delta, runs no stall guard and does not
    // fold into it, since its times are not comparable.
    val histPath = java.nio.file.Paths.get("bench_history.json")
    val histTxt = Option.when(java.nio.file.Files.exists(histPath))(
      java.nio.file.Files.readString(histPath))
    val histSf = histTxt.flatMap("\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(_))
      .map(_.group(1))
    val sameSf = histTxt.isEmpty || histSf.contains(sfDir)
    if (!sameSf)
      System.err.println(s"[bench] history is for ${histSf.getOrElse("?")}, not $sfDir: " +
        "no prior, delta or stall guard")
    val prior: Map[String, Double] = histTxt match {
      case Some(txt) if sameSf =>
        "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.Ee+-]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      case _ => Map.empty
    }
    val firstPass = selected.map { case (name, fn) =>
      val times = Seq(run(name, fn), run(name, fn))
      val best =
        if (times.max > 2 * times.min) math.min(times.min, run(name, fn))
        else times.min
      name -> best
    }
    // Total-level stall guard: the per-query min-of-2-or-3 defends
    // against a stall WITHIN one query, but a multi-minute host freeze
    // inflates every attempt of the queries it spans. If the run total
    // is more than 2x what the history says these queries cost, rerun
    // each >3x-inflated query once more and keep the better time.
    val byName = selected.toMap
    val priorSum = firstPass.collect { case (k, _) if prior.contains(k) => prior(k) }.sum
    val curSumOnPrior = firstPass.collect { case (k, v) if prior.contains(k) => v }.sum
    val results =
      if (priorSum > 0 && curSumOnPrior > 2 * priorSum) {
        System.err.println(f"[bench] stall guard: run total $curSumOnPrior%.1fs > 2x history $priorSum%.1fs; rerunning outliers")
        firstPass.map { case (k, v) =>
          if (prior.get(k).exists(p => v > 3 * p)) k -> math.min(v, run(k, byName(k)))
          else k -> v
        }
      } else firstPass
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // per-run detail file name defaults to the core count so a scaling
    // run (c8) no longer clobbers the main (c32) run's detail — the r16
    // adjudication traced the driver's empty PERF per_query to exactly
    // that overwrite
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench_out_c$cpus.json")
    val priorJson = results.flatMap { case (k, _) =>
      prior.get(k).map(p => "\"" + k + "\":" + p)
    }.mkString("{", ",", "}")
    // fixed-point numbers in Locale.ROOT: `f"%.3f"` follows the JVM
    // locale and writes "1,234" under e.g. de_DE, which is not JSON
    def num(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val deltaJson = results.flatMap { case (k, v) =>
      prior.get(k).map(p => s""""$k":${num(v - p)}""")
    }.mkString("{", ",", "}")
    if (only.isEmpty && sameSf) {
      // failed queries keep their prior history entry (a crash's
      // elapsed time is not a best-observed number); a failed query
      // with NO prior entry is dropped entirely — recording its
      // time-to-failure would seed the min-fold with a bogus fast
      // number that survives forever
      val folded = results.flatMap { case (k, v) =>
        if (failed.contains(k)) prior.get(k).map(k -> _)
        else Some(k -> math.min(v, prior.getOrElse(k, v)))
      }
      val foldedJson = (s""""sf":"$sfDir"""" +: folded.map { case (k, v) => "\"" + k + "\":" + v })
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(histPath, foldedJson + "\n")
    }
    // full per-query detail (plus prior/delta vs history) goes to the
    // file; stdout carries the contract JSON INCLUDING the per-query
    // map, millisecond-rounded to stay compact (~6 KB) and printed as
    // the LAST line after Spark fully stops — the driver keeps the
    // tail of the output, so a final-line map survives where the r13-
    // era mid-stream print was truncated from the front. Restoring the
    // map is what lets the driver compute per-query speedups and
    // core-count scaling (PERF r16 had per_query empty for this exact
    // reason). Timing methodology unchanged.
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qsMs = results.map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""prior":$priorJson,"delta":$deltaJson,"failed":$failedJson,"sf":"$sfDir"}"""
    val short = s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qsMs,""" +
      s""""n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"sf":"$sfDir","detail":"$benchOut"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(benchOut), full + "\n")
    // silence shutdown-path logging (EventLoop interrupt stacks at
    // stop() previously corrupted the output tail), stop Spark FIRST,
    // then emit the metric as the final stdout line
    spark.sparkContext.setLogLevel("OFF")
    org.apache.logging.log4j.LogManager.shutdown()
    spark.stop()
    println(short)
    System.out.flush()
  }
}
