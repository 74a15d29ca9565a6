package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.cdc.SchemaRegistry
import graft.cdc.ingest.ReplayEngine
import graft.cdc.lake.LakeTable
import graft.cdc.model.RepoRow

/** The benchmark's smoke test at toy sizes: every workload runs its whole
  * life cycle (both traced and untraced) and must come out correct, and one
  * negative case: a copied lake table with one tampered row must fail the
  * same oracle check that the original passes. Each run's ops results are
  * left in the directory printed on its `smoke: ops` line for `smoke.py` to
  * check.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    Main.deleteTree(work)
    val toy = Main.workloads.map(w => w.copy(keys = 400L,
      preload = if (w.preload > 0) 600L else 0L, perEpoch = 300L, lookups = 2,
      ops = Ops.Sizes(documents = 60L, events = 300L, embeddings = 40L)))
    for (w <- toy; trace <- Seq(false, true)) {
      val ops = work.resolve(s"ops-${w.name}-$trace")
      val (result, _) = Main.run(w, seed = 7L, seconds = 1.0, trace, work.resolve(w.name), ops)
      require(result.startsWith("""{"correct": true"""), s"${w.name} (trace=$trace): $result")
      println(s"smoke: ${w.name} trace=$trace ok: $result")
      println(s"smoke: ops $ops")
    }
    tamperIsCaught(work.resolve("tamper"))
    Main.deleteTree(work.resolve("tamper"))
    println("smoke: ok")
  }

  /** Replays a toy input into a table, then checks the check on a copy whose
    * one row was rewritten behind the engine's back. */
  def tamperIsCaught(dir: Path): Unit = {
    val wh = dir.resolve("wh")
    val spark = Main.session(2, dir, wh)
    try {
      val spec = Gen.Spec(events = 2000L, perEpoch = 1000L, keys = 300L, seed = 3L)
      val in = dir.resolve("in").toString
      Gen.write(spark, spec, in)
      spark.sql("CREATE NAMESPACE bench.db")
      spark.sql(s"CREATE TABLE bench.db.t (${Main.tableDdl}) TBLPROPERTIES " +
        "('primary_key'='repo,path', 'buckets'='4')")
      val table = LakeTable.load(spark, wh.resolve("db/t").toString, "t")
      val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
      val ev = spark.read.parquet(in)
      (0 until 2).foreach { e =>
        require(engine.applyEpoch(ev.where(col("_ep") === e).drop("_ep"), e).committed)
      }
      val want = Oracle.statesAt(Oracle.hashed(ev), Seq(spec.events))(spec.events)
      def ok(t: String) = {
        val (n, d) = Main.scanQuery(spark, s"bench.db.$t")
        n == want._1 && d == want._2
      }
      require(ok("t"), "smoke: the untouched table fails the oracle check")

      Main.copyTree(wh.resolve("db/t"), wh.resolve("db/copy"))
      val copy = LakeTable.load(spark, wh.resolve("db/copy").toString, "copy")
      val victim = wh.resolve("db/copy").resolve(
        copy.filesOf(copy.snapshot).filter(_.rows > 0).head.path)
      val tmp = dir.resolve("tampered")
      spark.read.parquet(victim.toString)
        .withColumn("content", when(monotonically_increasing_id() === 0,
          concat(col("content"), lit("!"))).otherwise(col("content")))
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, victim, StandardCopyOption.REPLACE_EXISTING)
      require(!ok("copy"), "smoke: a tampered row passed the oracle check")
      println(s"smoke: tampered row in ${dir.relativize(victim)} caught by the oracle check")
    } finally spark.stop()
  }
}
