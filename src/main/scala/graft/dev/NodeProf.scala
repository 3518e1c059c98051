package graft.dev

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import graft.SparkEntry

/** dev tool (r16 optimization round): execute named queries through the
  * noop sink and print the FINAL adaptive plan tree with each node's
  * runtime SQL metrics (rows out, timing, shuffle/spill bytes) — the
  * per-operator breakdown the Spark UI's SQL tab would show, for a
  * headless session. Static `explain` can't tell which repeated
  * subtrees AQE actually deduplicated (ReusedExchange / reused query
  * stages appear only in the executed plan), so optimization decisions
  * are taken from THIS view, not from the pre-execution plan. */
object NodeProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    def fmt(v: Long, unit: String): String = unit match {
      case "size" =>
        if (v >= 1048576L) f"${v / 1048576.0}%.1fMB"
        else if (v >= 1024) f"${v / 1024.0}%.1fKB" else s"${v}B"
      case "timing" | "nsTiming" => if (v >= 1000) f"${v / 1000.0}%.1fs" else s"${v}ms"
      case _ => if (v >= 1000000) f"${v / 1e6}%.1fM" else if (v >= 1000) f"${v / 1e3}%.1fk" else v.toString
    }

    def walk(p: SparkPlan, depth: Int, seen: java.util.IdentityHashMap[SparkPlan, Boolean]): Unit = {
      if (seen.containsKey(p)) {
        println("  " * depth + s"(reused) ${p.nodeName}")
        return
      }
      seen.put(p, true)
      val ms = p.metrics.toSeq
        .filter { case (_, m) => m.value > 0 }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${fmt(m.value, m.metricType)}" }
        .mkString(" ")
      println("  " * depth + s"${p.nodeName} $ms")
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1, seen)
        case q: QueryStageExec => walk(q.plan, depth + 1, seen)
        case r: ReusedExchangeExec => walk(r.child, depth + 1, seen)
        case _ => p.children.foreach(walk(_, depth + 1, seen))
      }
    }

    // df.write spawns its OWN QueryExecution (the V2 write command), so
    // walking df.queryExecution after the write would show a never-run
    // twin with zero metrics — capture the executed QE via the listener.
    // only record the noop WRITE's QueryExecution: eager
    // localCheckpoints inside the query builders (kmeans pe, e2e memos)
    // also fire onSuccess, and without the funcName filter the spin
    // loop could exit holding a construction-time checkpoint QE while
    // the save's event was still on the async listener bus — printing
    // metrics for the wrong plan (r16 advisor finding).
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "save") lastQe = qe
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    args.foreach { n =>
      lastQe = null
      // t0 BEFORE construction: eager localCheckpoints (memo builds,
      // chained-leg materializations) run inside the builder call, and
      // Bench times them — excluding them here misread pagerank as
      // 0.2 s when its descent runs in construction-time jobs.
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val el = (System.nanoTime() - t0) / 1e9
      // QueryExecutionListener fires asynchronously on the listener bus
      var spins = 0
      while (lastQe == null && spins < 100) { Thread.sleep(50); spins += 1 }
      println(f"\n===== $n%s elapsed=$el%.2fs =====")
      if (lastQe == null)
        sys.error(s"no save-QueryExecution event captured for $n after 5s")
      walk(lastQe.executedPlan, 0, new java.util.IdentityHashMap)
    }
    spark.stop()
  }
}
