package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded change-event generator for the benchmark.
  *
  * Keeps the distributions of `graft.cdc.gen.GenConfig` (Zipf keys, quadratic
  * repo sizes, 10% deletes, `contentReps = 12` ≈ 550 B events) but the seed
  * enters every hash, so each seed draws a different key sequence. Events are
  * a pure function of (seed, lsn): the same seed gives the same input at any
  * parallelism. Epochs are tagged with the integer `(lsn - from) div perEpoch`
  * (exact for every 64-bit lsn) and written one parquet directory per epoch
  * (`_ep=<e>/`) with small row groups, so an epoch's scan splits evenly.
  */
object Gen {
  final case class Spec(events: Long, perEpoch: Long, keys: Long, seed: Long)

  private val Zipf = 3.0
  private val DeletePct = 10L
  private val ContentReps = 12

  def events(spark: SparkSession, s: Spec, from: Long = 0L): DataFrame = {
    val lsn = col("lsn")
    val seed = lit(s.seed)
    val h1 = xxhash64(lsn, seed)
    val h2 = xxhash64(lsn, seed, lit(1L))
    val h3 = xxhash64(lsn, seed, lit(2L))
    val u = shiftrightunsigned(h1, 11).cast("double") / lit(9007199254740992.0) // 2^53
    val keyIdx = floor(lit(s.keys.toDouble) * pow(u, lit(Zipf))).cast("long")
    val repoIdx = floor(sqrt(keyIdx.cast("double"))).cast("long")
    val opMod = pmod(h2, lit(100L))
    val langs = array(lit("scala"), lit("py"), lit("java"), lit("go"), lit("md"))
    val lang = element_at(langs, pmod(keyIdx, lit(5L)).cast("int") + lit(1))
    val repo = concat(lit("org"), pmod(repoIdx, lit(1000L)), lit("/repo"), repoIdx)
    val path = concat(lit("src/d"), pmod(keyIdx, lit(20L)), lit("/f_"), keyIdx, lit("."), lang)
    // one range slice per epoch: the write below then needs no shuffle
    val slices = math.max(1L, (s.events + s.perEpoch - 1) / s.perEpoch).toInt
    spark.range(from, from + s.events, 1L, slices).toDF("lsn").select(
      lsn,
      when(opMod < lit(DeletePct), lit("D"))
        .when(opMod < lit(55L), lit("U")).otherwise(lit("I")).as("op"),
      repo.as("repo"),
      path.as("path"),
      lower(concat(lpad(hex(h3), 16, "0"), lpad(hex(h2), 16, "0"),
        substring(lpad(hex(h1), 16, "0"), 1, 8))).as("commit"),
      lang.as("lang"),
      concat(lit("// "), repo, lit("/"), path, lit(" @"), lsn, lit("\n"),
        repeat(concat(lit("val x"), pmod(h2, lit(97L)), lit(" = "), pmod(h3, lit(9973L)),
          lit("; ")), ContentReps)).as("content"),
      expr(s"(lsn - $from) div ${s.perEpoch}").as("_ep"))
  }

  /** Writes events [from, from + s.events) as `<dir>/_ep=<e>/` parquet. */
  def write(spark: SparkSession, s: Spec, dir: String, from: Long = 0L): Unit =
    events(spark, s, from)
      .write.option("parquet.block.size", (1024 * 1024).toString)
      .partitionBy("_ep").mode("overwrite").parquet(dir)
}
