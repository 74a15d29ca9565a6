package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** A seeded slice of the `SparkEntry.queries` suite: one query of every
  * `graft.ops` family whose queries keep their files inside the given
  * directories. (The `cdcq` queries stage their lake tables under `/dev/shm`
  * when it is writable, so they are left out.) The inputs are the tables
  * those queries read — `documents`, `events`, `embeddings` — generated from
  * the seed in the shape of the suite's sf data, with exact and case-folded
  * duplicate documents so the dedup queries find groups.
  *
  * Each query runs once, as a pipeline job runs it: the timed run plans,
  * compiles and executes the query and writes its result to `<out>/<query>/`.
  * The queries' `oracleSql` goes to `<out>/oracle_sql.json`; `opscheck.py`
  * runs that SQL through DuckDB over the same inputs and compares, outside
  * the timed region.
  */
object Ops {
  /** (family, query name) in run order. */
  val suite: Seq[(String, String)] = Seq(
    "relational" -> "q12_latest_per_key",
    "text" -> "q20_token_stats",
    "dedup" -> "q24_dedup_exact",
    "similarity" -> "q29_ann_topk",
    "multimodal" -> "q33_media_meta")

  val families: Seq[String] = suite.map(_._1).distinct

  final case class Sizes(documents: Long, events: Long, embeddings: Long)
  val full: Sizes = Sizes(documents = 400L, events = 2000L, embeddings = 400L)

  private val Vocab = Seq("the", "a", "data", "table", "row", "scan", "join", "merge", "key",
    "value", "batch", "stream", "window", "sort", "hash", "part", "line", "order", "query",
    "column", "agg", "group", "filter", "spark", "fast", "slow", "big", "small", "v2", "x86",
    "e.g.", "utf-8", "3.14", "it's", "hello,", "end.")

  /** Writes `documents`, `events` and `embeddings` as `<dir>/<table>.parquet`. */
  def generate(spark: SparkSession, seed: Long, dir: Path, n: Sizes): Unit = {
    val s = lit(seed)
    def h(c: String, salt: Long) = xxhash64(col(c), s, lit(salt))
    val vocab = array(Vocab.map(lit): _*)
    // every fifth-ish document repeats the words of the one before it; half
    // of those repeats are upper-cased, which exact dedup folds back together
    val dup = pmod(h("doc_id", 1), lit(5L)) === 0 && col("doc_id") > 0
    val src = when(dup, col("doc_id") - 1).otherwise(col("doc_id"))
    val words = expr(s"transform(sequence(0, 19 + cast(pmod(xxhash64(src, ${seed}L, 2L), 40) as int)), " +
      s"i -> element_at(vocab, 1 + cast(pmod(xxhash64(src, i, ${seed}L, 3L), ${Vocab.size}) as int)))")
    val docs = spark.range(0L, n.documents, 1L, 1).toDF("doc_id")
      .withColumn("src", src).withColumn("vocab", vocab)
      .withColumn("text0", array_join(words, " "))
      .select(col("doc_id"),
        when(dup && pmod(h("doc_id", 4), lit(2L)) === 0, upper(col("text0")))
          .otherwise(col("text0")).as("text"),
        element_at(array(Seq("de", "en", "es", "fr", "zh").map(lit): _*),
          pmod(h("doc_id", 5), lit(5L)).cast("int") + 1).as("lang"),
        concat(lit("src"), pmod(h("doc_id", 6), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val events = spark.range(0L, n.events, 1L, 1).toDF("event_id").select(
      col("event_id"),
      timestamp_seconds(lit(1704067200L) + col("event_id") * 30 + pmod(h("event_id", 1), lit(30L)))
        .as("ts"),
      pmod(h("event_id", 2), lit(150L)).as("user_id"),
      element_at(array(Seq("click", "signup", "error", "view", "purchase").map(lit): _*),
        pmod(h("event_id", 3), lit(5L)).cast("int") + 1).as("event_type"),
      (pmod(h("event_id", 4), lit(10000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h("event_id", 5), lit(100L)), lit("}")).as("props"))
    val emb = spark.range(0L, n.embeddings, 1L, 1).toDF("vec_id").select(
      col("vec_id"),
      expr(s"transform(sequence(0, 63), i -> cast(pmod(xxhash64(vec_id, i, ${seed}L, 7L), 2001) " +
        "/ 1000.0 - 1.0 as float))").as("embedding"),
      pmod(h("vec_id", 8), lit(10L)).cast("int").as("label"))
    Seq("documents" -> docs, "events" -> events, "embeddings" -> emb).foreach { case (t, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$t.parquet").toString)
    }
  }

  /** Runs `name`, writes its result to `<out>/<name>/` and returns the wall
    * in seconds. */
  def run(spark: SparkSession, dir: Path, out: Path, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir.toString).write.mode("overwrite")
      .parquet(out.resolve(name).toString)
    Main.secs(t0)
  }

  /** Writes the oracle SQL of every query to `<out>/oracle_sql.json`. */
  def writeOracle(out: Path): Unit = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"), suite.map { case (_, q) =>
      s""""$q": "${esc(SparkEntry.oracleSql(q))}"""" }.mkString("{", ",\n", "}"))
  }
}
