package graft.dev

import org.apache.spark.sql.functions._

/** dev tool: synthesize a `documents.parquet` corpus with the driver
  * testdata's shape (doc_id, text over a small word vocab, lang,
  * source, n_chars) at an arbitrary row count — used ONCE to produce
  * the sf1-scale dedup measurement corpus (SURVEY §5): the driver only
  * ships sf ≤ 0.1, and the dedup family's linearity claim needs a
  * measured 10× point. Dup profile mirrors the testdata: ~5% of docs
  * are near-copies of an earlier doc (dup GROUPS scale in count, not
  * size — the property that keeps candidate generation linear).
  * Deterministic (seeded md5 arithmetic, no RNG object).
  *
  *   runMain graft.dev.GenDocs 50000 /tmp/gen_sf1
  */
object GenDocs {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(50000)
    val out = args.lift(1).getOrElse("/tmp/gen_docs")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val vocab = Seq("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "hash", "slow", "group",
      "join", "query", "table", "index", "merge", "shard", "page",
      "cache", "plan", "stage", "task", "node", "disk", "read", "write",
      "key")
    val vArr = s"array(${vocab.map(w => s"'$w'").mkString(",")})"
    // base text: 30-220 words picked by a per-(doc, position) hash
    val base = spark.range(rows.toLong).select(col("id").as("doc_id"))
      .withColumn("n_words",
        expr("30 + pmod(conv(substr(md5(concat('len', doc_id)), 1, 6), 16, 10), 191)"))
      .withColumn("text", expr(
        s"""array_join(transform(sequence(1, n_words), i ->
            element_at($vArr, 1 + cast(pmod(conv(substr(md5(concat(doc_id, '_', i)), 1, 6), 16, 10), ${vocab.size}) as int))), ' ')"""))
    // ~5% near-dups: doc_id % 20 == 7 copies doc_id - 7 with one word
    // appended (Jaccard stays ≈ 1 on shingles — a true near-dup)
    val withDups = base.alias("b")
      .withColumn("src_id", when(pmod(col("doc_id"), lit(20)) === 7 && col("doc_id") >= 7,
        col("doc_id") - 7).otherwise(col("doc_id")))
    val srcText = base.select(col("doc_id").as("src_id"), col("text").as("src_text"))
    val docs = withDups.join(srcText, "src_id")
      .withColumn("final_text",
        when(col("src_id") === col("doc_id"), col("text"))
          .otherwise(concat(col("src_text"), lit(" extra"))))
      .select(col("doc_id"),
        col("final_text").as("text"),
        expr("element_at(array('en','en','en','de','fr','zh'), 1 + cast(pmod(doc_id, 6) as int))").as("lang"),
        expr("concat('src', pmod(doc_id, 7))").as("source"),
        length(col("final_text")).as("n_chars"))
      .orderBy("doc_id")
    docs.coalesce(4).write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[gendocs] wrote $rows docs to $out/documents.parquet")
    spark.stop()
  }
}
