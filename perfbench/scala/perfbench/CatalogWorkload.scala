package perfbench

import graft.{Q, Queries}
import graft.plans.Exprs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Catalog entries as workload operations: each runs the entry's plan to a
  * `noop` sink (every projection is evaluated, nothing is written); the
  * set-up pass writes the results as parquet for the oracle check.
  */
class CatalogWorkload(o: Opts) extends Workload {
  import CatalogWorkload.entries

  private val byName: Map[String, Q] = Queries.all.map(q => q.name -> q).toMap
  private def entry(name: String): Q =
    byName.getOrElse(name, sys.error(s"catalog entry $name not found"))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  val nominalRoundS = 8.0

  val ops: Seq[Op] = entries.map { case (name, family) =>
    val q = entry(name)
    Op(name, family, spark => noop(q.fn(spark, o.data)))
  }

  override def dumpOps: Seq[Op] = entries.map { case (name, family) =>
    val q = entry(name)
    Op(name, family, spark =>
      q.fn(spark, o.data).write.mode("overwrite").parquet(s"${o.work}/outputs/$name"))
  }

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  override def probes(spark: SparkSession, t: Tracer): Unit = {
    // io: full parquet scans of every input table
    t.span(spark, "io.parquet_scan")(tables.foreach(n =>
      noop(spark.read.parquet(s"${o.data}/$n.parquet"))))
    // operators: the funnel's public constituents, alone
    Seq("q47_dedup_keep_first", "q179_dup_span_trim").foreach { n =>
      t.span(spark, s"operators.$n")(noop(entry(n).fn(spark, o.data)))
    }
    // plans: map-only kernel passes over the document text, replicated
    // 32 times and held in memory so the pass is kernel work, not scan
    val text = spark.read.parquet(s"${o.data}/documents.parquet")
      .select(col("text"), explode(sequence(lit(1), lit(CatalogWorkload.textCopies))).as("copy"))
      .select(col("text")).repartition(o.slots).persist(StorageLevel.MEMORY_ONLY)
    text.count()
    val kernels: Seq[(String, Column)] = Seq(
      "ws_tokens" -> Exprs.wsTokens(col("text")),
      "term_counts" -> Exprs.termCounts(col("text")),
      "pair_counts" -> Exprs.pairCounts(col("text")),
      "shingle_hashes" -> Exprs.shingleHashes(col("text"), 3),
      "minhash_sig" -> Exprs.minhashSig(col("text"), 3, 64),
      "token_count" -> Exprs.tokenCount(col("text")),
      "lang_id" -> Exprs.langId(col("text")),
      "builtin_split" -> size(split(col("text"), "[\\t\\n\\f\\r ]+")))
    kernels.foreach { case (n, c) => t.span(spark, s"plans.$n")(noop(text.select(c.as("k")))) }
    text.unpersist(blocking = true)
  }
}

object CatalogWorkload {
  /** Copies of the document text in the kernel passes. */
  val textCopies = 32

  /** Text families first (n-gram Jaccard, MinHash, TF-IDF, Gopher rules),
    * then about one entry per other family, then the three reference-data
    * scans, which fail while their inputs are absent. */
  val entries: Seq[(String, String)] = Seq(
    "q36_ngram_jaccard" -> "text", "q34_dedup_minhash" -> "text",
    "q69_tfidf_topterms" -> "text", "q181_gopher_rules" -> "text",
    "q03_join_chain" -> "relational", "q31_sessionize" -> "events",
    "q53_percentiles" -> "stats", "q38_ann_topk" -> "embeddings",
    "q191_audio_vad" -> "multimodal", "q44_csv_scan_survey" -> "io",
    "q45_tsv_scan" -> "io", "q46_csv_scan_links" -> "io")
}
