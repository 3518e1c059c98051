package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics

/** GraftExtensions' session defaults: a pipeline run again in a fresh
  * session reuses every generated class instead of recompiling it. */
class CodegenReuseSpec extends SparkTestBase {

  test("a second fresh session compiles none of q_geo_e2e's generated classes") {
    // q_geo_e2e compiles well under 100 classes, so the assertion holds
    // whatever size the JVM-wide class cache was built with (a suite
    // without the extension may have compiled first)
    def run(): Unit = SparkEntry.queries("q_geo_e2e")(spark.newSession(), sfDir)
      .write.format("noop").mode("overwrite").save()
    GraftExtensions.sessionDefaults.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k not installed")
    }
    run()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(compiles > 0)
    run()
    val again = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    assert(again == 0, s"session B recompiled $again generated classes")
  }

  test("sessionDefaults leave a key the user already set unchanged") {
    val conf = new SparkConf(false).set("spark.sql.artifact.isolation.enabled", "true")
    GraftExtensions.installDefaults(conf)
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
    assert(conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }
}
