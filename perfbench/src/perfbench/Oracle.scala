package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The benchmark's correctness reference: a plain-Spark fold of the raw
  * generated events, sharing no code with `graft.cdc`. The winner of a key is
  * its largest-LSN event (`max` over a struct led by the unique lsn); a delete
  * winner drops the key. Rows are compared by `sha256(content)`.
  */
object Oracle {
  val keys: Seq[Column] = Seq(col("repo"), col("path"))

  private def sum128(c: Column): Column = sum(c.cast("decimal(38,0)"))

  /** The events with content replaced by its sha256 and payload size, so the
    * folds below shuffle a few dozen bytes per event. */
  def hashed(ev: DataFrame): DataFrame =
    ev.select(col("lsn"), col("op"), col("repo"), col("path"),
      sha2(col("content"), 256).as("h"),
      (octet_length(col("repo")) + octet_length(col("path")) +
        coalesce(octet_length(col("commit")), lit(0)) + coalesce(octet_length(col("lang")), lit(0)) +
        coalesce(octet_length(col("content")), lit(0))).as("bytes"))

  /** (rows, digest) of change rows: key, lsn, op and, for upserts, content. */
  def feedDigest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum128(xxhash64(col("repo"), col("path"), col("lsn"), col("op"),
        when(col("op") =!= "D", sha2(col("content"), 256)))),
        lit(0).cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** For each bound b, (rows, digest of (repo, path, sha256(content)),
    * payload bytes) of the live state after every [[hashed]] event with
    * `lsn < b`, in one job. */
  def statesAt(ev: DataFrame, bounds: Seq[Long]): Map[Long, (Long, BigDecimal, Long)] = {
    val bs = ev.sparkSession.createDataFrame(bounds.distinct.map(Tuple1(_))).toDF("bound")
    val got = ev.crossJoin(broadcast(bs)).where(col("lsn") < col("bound"))
      .groupBy(col("bound") +: keys: _*)
      .agg(max(struct(col("lsn"), col("op"), col("repo"), col("path"), col("h"), col("bytes")))
        .as("w"))
      .where(col("w.op") =!= "D")
      .groupBy("bound")
      .agg(count(lit(1)), sum128(xxhash64(col("w.repo"), col("w.path"), col("w.h"))),
        sum(col("w.bytes")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2)), r.getLong(3))))
      .toMap
    bounds.distinct.map(b => b -> got.getOrElse(b, (0L, BigDecimal(0), 0L))).toMap
  }

  /** For each LSN range [lo, hi), (rows, digest as [[feedDigest]]) of the
    * per-key winners among [[hashed]] events, deletes kept, in one job. */
  def feedsAt(ev: DataFrame, ranges: Seq[(Long, Long)]): Map[(Long, Long), (Long, BigDecimal)] = {
    val rs = ev.sparkSession.createDataFrame(ranges.distinct).toDF("lo", "hi")
    val got = ev.crossJoin(broadcast(rs)).where(col("lsn") >= col("lo") && col("lsn") < col("hi"))
      .groupBy(Seq(col("lo"), col("hi")) ++ keys: _*)
      .agg(max(struct(col("lsn"), col("op"), col("repo"), col("path"), col("h"))).as("w"))
      .groupBy("lo", "hi")
      .agg(count(lit(1)), sum128(xxhash64(col("w.repo"), col("w.path"), col("w.lsn"), col("w.op"),
        when(col("w.op") =!= "D", col("w.h")))))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), BigDecimal(r.getDecimal(3)))))
      .toMap
    ranges.distinct.map(k => k -> got.getOrElse(k, (0L, BigDecimal(0)))).toMap
  }

  /** Lookup answers that disagree with the fold of [[hashed]] events `ev`.
    * `lookups` has bound, repo, path, got (sha256 of the returned content,
    * null when no row came back) and n (rows returned). */
  def lookupMismatches(ev: DataFrame, lookups: DataFrame): Long = {
    val expected = lookups.select("bound", "repo", "path").distinct()
      .join(ev, Seq("repo", "path"), "left")
      .where(col("lsn").isNull || col("lsn") < col("bound"))
      .groupBy(col("bound"), col("repo"), col("path"))
      .agg(max(when(col("lsn").isNotNull, struct(col("lsn"), col("op"), col("h")))).as("w"))
      .select(col("bound"), col("repo"), col("path"),
        when(col("w.op") =!= "D", col("w.h")).as("want"))
    lookups.join(expected, Seq("bound", "repo", "path"), "left")
      .where(col("n") > 1 || !(col("got") <=> col("want"))).count()
  }
}
