package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.cdc.{quality, skipping, SchemaRegistry}
import graft.cdc.ingest.{CheckpointLedger, EpochMetrics, MergeMode, ReplayEngine}
import graft.cdc.lake.{CommitConflictException, LakeTable, LineageEntry}
import graft.cdc.model.{Criticality, RepoRow}

/** The repository benchmark: one workload per invocation, driven only through
  * the engine's public calls (`ReplayEngine.applyEpoch`, `LakeTable.snapshot`,
  * `filesOf`, `compactDeltas`, `changesSince`, SQL on `GraftCatalog`).
  *
  * A run is closed-loop: one caller waits for each epoch, lookup, scan, feed
  * read or compaction before it issues the next, as `foreachBatch` drives the
  * engine. Phases:
  *  1. set-up, three times (session start, input generation, preload); the
  *     median is `setup_s`. The last set-up is kept and warmed up.
  *  2. local[4] for two thirds of `--seconds`: passes over the same input,
  *     each on a fresh copy of the preloaded seed table, so every pass does
  *     identical work.
  *     Then the ops slice of the query suite (`Ops.scala`), each query once.
  *  3. local[1]: on a fresh copy of the seed, epoch 0 untimed (the new
  *     session's warm-up, as the warm-up pass is at local[4]), then epochs 1
  *     and 2 timed, for `events_per_s_n1` and `scaling_efficiency`.
  *  4. the oracle check of every answer and every final table state; the ops
  *     results are checked by `opscheck.py` after the run.
  *
  * Why each workload exists is written once, in BENCHMARK.json.
  */
object Main {

  /** A pass applies `modeEpochs` epochs in the workload's mode; in CoW mode
    * one more epoch goes in as MoR deltas so the change feed and compaction
    * have work. Reads follow every MoR epoch: `lookups` point lookups of keys
    * the epoch touched, then `scans` full scans and `feeds` feed reads of
    * that epoch. The pass ends with `compactDeltas`. An epoch is dense when
    * `perEpoch >= 32 * buckets` (at up to 32 buckets its per-bucket stats then
    * ride the merge job); below that the engine runs the per-key stats
    * pre-pass first. */
  final case class Workload(name: String, mode: MergeMode, buckets: Int, keys: Long,
      preload: Long, perEpoch: Long, modeEpochs: Int, lookups: Int, scans: Int, feeds: Int,
      ops: Ops.Sizes = Ops.full) {
    def cow: Boolean = mode == MergeMode.CoW
    def epochs: Int = modeEpochs + (if (cow) 1 else 0)
  }

  val workloads: Seq[Workload] = Seq(
    Workload("replay_dense", MergeMode.CoW, buckets = 32, keys = 60000L, preload = 0L,
      perEpoch = 12000L, modeEpochs = 3, lookups = 16, scans = 3, feeds = 6),
    Workload("mor_serve", MergeMode.MoR, buckets = 32, keys = 6000L, preload = 6000L,
      perEpoch = 1000L, modeEpochs = 3, lookups = 5, scans = 2, feeds = 3))

  // ---- small helpers ------------------------------------------------------

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Linear-interpolated percentile (q in 0..1), as numpy's default. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally w.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally w.close()
  }

  def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def loadAvg(): String =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim).getOrElse("n/a")

  def session(cores: Int, work: Path, warehouse: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.catalog.bench", classOf[graft.sql.GraftCatalog].getName)
      .config("spark.sql.catalog.bench.warehouse", warehouse.toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Pure-CPU codegen'd hashing: the host's 1->4-thread ceiling is the ratio
    * of this job's wall at local[1] and local[4] (BASELINE.md protocol). */
  def cpuProbe(spark: SparkSession): Seq[Double] = (0 until 2).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 600000L, 1L, 8)
      .select(sum(crc32(sha2(col("id").cast("string"), 256)))).collect()
    secs(t0)
  }

  // ---- the run --------------------------------------------------------------

  final case class Lookup(bound: Long, repo: String, path: String, got: String, n: Int)

  final class Samples {
    val replay = mutable.ArrayBuffer.empty[(Int, Double, Long, Boolean)] // (index, wall, events, traced)
    val serve = mutable.ArrayBuffer.empty[Double]
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    val scanS = mutable.ArrayBuffer.empty[Double]
    val feedS = mutable.ArrayBuffer.empty[Double]
    val compactS = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[Lookup]
    val scans = mutable.ArrayBuffer.empty[(Long, Long, BigDecimal)] // (bound, rows, digest)
    val feeds = mutable.ArrayBuffer.empty[(Long, Long, Long, BigDecimal)] // (lo, hi, rows, digest)
    val ampFiles = mutable.ArrayBuffer.empty[(Long, Long)] // (bound, file bytes)
    val opsS = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L
    var fenced = 0L
    val errors = mutable.ArrayBuffer.empty[String]
  }

  final class Input(val dir: Path, val w: Workload) {
    val preloadDir: Path = dir.resolve("preload")
    val streamDir: Path = dir.resolve("stream")
    val opsDir: Path = dir.resolve("ops")
    def epochDir(i: Int): Path = streamDir.resolve(s"_ep=$i")
    def lo(i: Int): Long = w.preload + i * w.perEpoch
    def hi(i: Int): Long = lo(i) + w.perEpoch
    var schema: StructType = _
    var lookupKeys: Map[Int, Seq[(String, String)]] = Map.empty
    var payload: Map[Int, Long] = Map.empty
  }

  /** Everything a pass needs: the lake table and its side set. */
  final class Pass(spark: SparkSession, val root: Path, val name: String, side: Path,
      w: Workload) {
    val table: LakeTable = LakeTable.load(spark, root.toString, name)
    private val registry = SchemaRegistry.single(RepoRow.schemaV1)
    val lineage: LakeTable = LakeTable.createIfNotExists(spark, side.resolve("lineage").toString,
      "lineage", org.apache.spark.sql.Encoders.product[LineageEntry].schema,
      Seq("table", "snapshot_version", "partition"), numBuckets = 4)
    val metrics: LakeTable = LakeTable.createIfNotExists(spark, side.resolve("metrics").toString,
      "metrics", org.apache.spark.sql.Encoders.product[EpochMetrics].schema, Seq("epoch"),
      numBuckets = 2)
    private val ledger = new CheckpointLedger(side.resolve("ledger").toString)
    def engine(mode: MergeMode) = new ReplayEngine(table, registry, gate = Some(warnGate()),
      lineageTable = Some(lineage), metricsTable = Some(metrics), ledger = Some(ledger), mode = mode)
    val main: ReplayEngine = engine(w.mode)
    val mor: ReplayEngine = if (w.cow) engine(MergeMode.MoR) else main
  }

  /** Warn-level gate on the payload, like a production side set. */
  def warnGate(): quality.QualityGate = new quality.QualityGate(Seq(
    quality.Check("content_not_null", "content", Criticality.Warn, col("content").isNull),
    quality.Check("lang_in_list", "lang", Criticality.Warn,
      !col("lang").isin("scala", "py", "java", "go", "md"))))

  val tableDdl = "repo STRING, path STRING, commit STRING, lang STRING, content STRING"

  /** Progress on standard error, seconds since the JVM loaded this object. */
  val T0 = System.nanoTime()
  def phase(x: String): Unit = System.err.println(f"[perfbench] ${secs(T0)}%.2f $x")

  /** One set-up: generate the input and preload the seed table. */
  def setUp(spark: SparkSession, w: Workload, seed: Long, dir: Path, wh: Path,
      trace: Boolean): Input = {
    phase("setup start")
    val in = new Input(dir.resolve("in"), w)
    if (w.preload > 0)
      Gen.write(spark, Gen.Spec(w.preload, w.preload, w.keys, seed), in.preloadDir.toString)
    Gen.write(spark, Gen.Spec(w.epochs * w.perEpoch, w.perEpoch, w.keys, seed),
      in.streamDir.toString, from = w.preload)
    Ops.generate(spark, seed, in.opsDir, w.ops)
    phase("gen done")
    in.schema = spark.read.parquet(in.epochDir(0).toString).schema
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.db")
    spark.sql(s"CREATE TABLE bench.db.seed ($tableDdl) TBLPROPERTIES " +
      s"('primary_key'='repo,path', 'buckets'='${w.buckets}')")
    val p = new Pass(spark, wh.resolve("db").resolve("seed"), "seed", dir.resolve("side-seed"),
      w.copy(mode = MergeMode.CoW))
    if (w.preload > 0) {
      val r = p.main.applyEpoch(read(spark, in, in.preloadDir.resolve("_ep=0")), 0L,
        Some(w.preload))
      require(r.committed, "preload epoch did not commit")
      p.table.compactDeltas()
    }
    phase("preload done")
    // per-epoch lookup keys (keys the epoch touched) and payload bytes
    val ev = spark.read.schema(in.schema).parquet(in.streamDir.toString)
    val every = math.max(1L, w.perEpoch / (w.lookups * 4))
    in.lookupKeys = ev.where(pmod(xxhash64(col("lsn"), lit(seed + 1)), lit(every)) === 0)
      .select(col("_ep"), col("lsn"), col("repo"), col("path")).collect()
      .groupBy(r => r.getAs[Number](0).intValue)
      .map { case (i, rs) => i -> rs.sortBy(_.getLong(1)).take(w.lookups)
        .map(r => (r.getString(2), r.getString(3))).toSeq }
    if (trace) in.payload = ev.groupBy("_ep")
      .agg(sum(octet_length(col("repo")) + octet_length(col("path")) +
        octet_length(col("commit")) + octet_length(col("lang")) + octet_length(col("content"))))
      .collect().map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
    in
  }

  def read(spark: SparkSession, in: Input, dir: Path): DataFrame =
    spark.read.schema(in.schema).parquet(dir.toString).drop("_ep")

  def q(s: String): String = s.replace("'", "''")

  /** Runs `f` as one op: a throw counts as a failure and yields None. */
  def op[T](s: Samples, what: String)(f: => T): Option[T] = {
    s.attempted += 1
    Try(f) match {
      case Success(v) => Some(v)
      case Failure(e) =>
        s.failed += 1
        s.errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** Point lookups, a full aggregate scan and the feed read of epoch `i`. */
  def reads(spark: SparkSession, in: Input, p: Pass, i: Int, vBefore: Long, s: Samples,
      tr: Option[Tracer], lt: LayerTrace, maxLookups: Int, scans: Int, feeds: Int): Unit = {
    val bound = in.hi(i)
    val t = s"bench.db.${p.name}"
    if (tr.exists(_.active))
      lt.deltaFiles += p.table.filesOf(p.table.snapshot).count(_.kind == "delta").toDouble
    in.lookupKeys.getOrElse(i, Nil).take(maxLookups).foreach { case (repo, path) =>
      op(s, s"lookup $repo/$path") {
        val sql = s"SELECT repo, path, commit, lang, content FROM $t " +
          s"WHERE repo = '${q(repo)}' AND path = '${q(path)}'"
        val t0 = System.nanoTime()
        val rows = tr.filter(_.active) match {
          case Some(x) =>
            x.span("sql.lookup", i) {
              val df = spark.sql(sql)
              df.queryExecution.executedPlan
              val planned = System.nanoTime()
              val rs = df.collect()
              lt.lookupPlanMs += (planned - t0) / 1e6
              lt.lookupExecMs += (System.nanoTime() - planned) / 1e6
              skipping.ScanStats.last.get().foreach(st => lt.lookupFiles += st._3.toDouble)
              rs
            }
          case None => spark.sql(sql).collect()
        }
        s.lookupMs += (System.nanoTime() - t0) / 1e6
        s.lookups += Lookup(bound, repo, path,
          rows.headOption.map(r => sha256(r.getString(4))).orNull, rows.length)
      }
    }
    (0 until scans).foreach { _ => op(s, s"scan after epoch $i") {
      val t0 = System.nanoTime()
      val r = tr.fold(scanQuery(spark, t))(_.span("sql.scan", i)(scanQuery(spark, t)))
      s.scanS += secs(t0)
      s.scans += ((bound, r._1, r._2))
    } }
    (0 until feeds).foreach { _ => op(s, s"feed of epoch $i") {
      val t0 = System.nanoTime()
      val (n, d) = tr.fold(Oracle.feedDigest(p.table.changesSince(vBefore)))(
        _.span("changefeed.read", i)(Oracle.feedDigest(p.table.changesSince(vBefore))))
      s.feedS += secs(t0)
      s.feeds += ((in.lo(i), bound, n, d))
      if (tr.exists(_.active)) {
        lt.feedRows += n.toDouble
        skipping.ScanStats.lastFeed.get().foreach(f => lt.feedFiles += f._1.toDouble)
      }
    } }
  }

  def scanQuery(spark: SparkSession, t: String): (Long, BigDecimal) = {
    val r = spark.sql(s"SELECT count(*), coalesce(sum(CAST(xxhash64(repo, path, " +
      s"sha2(content, 256)) AS DECIMAL(38,0))), 0) FROM $t").collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Per-layer observations the traced passes collect from outside the engine. */
  final class LayerTrace {
    val epochSpans = mutable.ArrayBuffer.empty[Int]
    val epochFiles = mutable.ArrayBuffer.empty[Double]
    val epochPayload = mutable.ArrayBuffer.empty[Double]
    val snapshotMs = mutable.ArrayBuffer.empty[Double]
    val metaKb = mutable.ArrayBuffer.empty[Double]
    val gateSpans = mutable.ArrayBuffer.empty[Int]
    val conformSpans = mutable.ArrayBuffer.empty[Int]
    val lookupPlanMs = mutable.ArrayBuffer.empty[Double]
    val lookupExecMs = mutable.ArrayBuffer.empty[Double]
    val lookupFiles = mutable.ArrayBuffer.empty[Double]
    val deltaFiles = mutable.ArrayBuffer.empty[Double]
    val feedRows = mutable.ArrayBuffer.empty[Double]
    val feedFiles = mutable.ArrayBuffer.empty[Double]
    var tracedPasses = 0
    var breakdown = "null"
  }

  /** Applies epoch `i` through the engine and times it. */
  def epoch(spark: SparkSession, in: Input, p: Pass, i: Int, replay: Boolean, s: Samples,
      tr: Option[Tracer], lt: LayerTrace): Unit = {
    val traced = tr.exists(_.active)
    val metaBefore = if (traced) treeBytes(p.root.resolve("meta")) else 0L
    val engine = if (replay) p.main else p.mor
    val df = read(spark, in, in.epochDir(i))
    val name = if (replay) "ingest.epoch" else "ingest.serve_epoch"
    op(s, s"epoch $i") {
      val t0 = System.nanoTime()
      val r = try tr.fold(engine.applyEpoch(df, i + 1L, Some(in.w.perEpoch)))(
          _.span(name, i)(engine.applyEpoch(df, i + 1L, Some(in.w.perEpoch))))
        catch { case e: CommitConflictException => s.fenced += 1; throw e }
      val wall = secs(t0)
      if (!r.committed) { s.fenced += 1; throw new IllegalStateException(s"epoch $i not committed") }
      if (replay) s.replay += ((i, wall, in.w.perEpoch, traced)) else s.serve += wall
      if (traced && replay) {
        lt.epochSpans += tr.get.spans.last.id
        lt.epochFiles += r.lineage.map(_.files_added).sum.toDouble
        lt.epochPayload += in.payload.getOrElse(i, 0L).toDouble
        val t1 = System.nanoTime()
        tr.get.span("lake.snapshot", i)(p.table.filesOf(p.table.snapshot))
        lt.snapshotMs += (System.nanoTime() - t1) / 1e6
        lt.metaKb += (treeBytes(p.root.resolve("meta")) - metaBefore) / 1024.0
        // the gate and conform run fused inside the engine's stages, so
        // their cost is probed with standalone jobs over the same batch
        val gate = warnGate()
        tr.get.span("quality.gate_probe", i)(gate.evaluate(df))
        lt.gateSpans += tr.get.spans.last.id
        tr.get.span("registry.conform_probe", i)(
          SchemaRegistry.single(RepoRow.schemaV1).conform(df, 1).write.format("noop")
            .mode("overwrite").save())
        lt.conformSpans += tr.get.spans.last.id
      }
    }
  }

  /** One pass on a fresh copy of the seed: the epochs with their reads, then
    * `compactDeltas`. */
  def runPass(spark: SparkSession, in: Input, p: Pass, s: Samples, tr: Option[Tracer],
      lt: LayerTrace): Unit = {
    val w = in.w
    (0 until w.epochs).foreach { i =>
      val replay = !(w.cow && i == w.epochs - 1)
      val vBefore = p.table.snapshot.version
      epoch(spark, in, p, i, replay, s, tr, lt)
      if (!replay || !w.cow) reads(spark, in, p, i, vBefore, s, tr, lt, w.lookups, w.scans, w.feeds)
    }
    s.ampFiles += ((in.hi(w.epochs - 1), p.table.filesOf(p.table.snapshot).map(_.bytes).sum))
    op(s, s"compaction of ${p.name}") {
      val t0 = System.nanoTime()
      tr.fold(p.table.compactDeltas())(_.span("lake.compact")(p.table.compactDeltas()))
      s.compactS += secs(t0)
    }
  }

  def newPass(spark: SparkSession, work: Path, wh: Path, w: Workload, name: String): Pass = {
    copyTree(wh.resolve("db").resolve("seed"), wh.resolve("db").resolve(name))
    new Pass(spark, wh.resolve("db").resolve(name), name, work.resolve(s"side-$name"), w)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val r = run(w, seed, seconds, trace, work, Paths.get(opts("ops")).toAbsolutePath)
    Files.createDirectories(out.getParent)
    Files.writeString(out, r._2)
    println(r._1)
  }

  /** Returns (result line, full record). The ops inputs and results are left
    * in `opsOut` (`in/`, `out/`) for `opscheck.py`. */
  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path,
      opsOut: Path): (String, String) = {
    val load0 = loadAvg()
    deleteTree(work)
    deleteTree(opsOut)
    Files.createDirectories(work)

    // 1. set-up, three times; keep the last
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var in: Input = null
    var wh: Path = null
    var dir: Path = null
    (0 until 3).foreach { k =>
      if (spark != null) { spark.stop(); deleteTree(dir) }
      dir = work.resolve(s"setup$k")
      wh = dir.resolve("wh")
      val t0 = System.nanoTime()
      spark = session(4, dir, wh)
      in = setUp(spark, w, seed, dir, wh, trace)
      setups += secs(t0)
    }
    val s4 = new Samples
    val lt = new LayerTrace
    val tr = if (trace) Some(new Tracer(spark.sparkContext)) else None
    // warm-up on a scratch copy, outside every measurement: an epoch in the
    // workload's mode, in CoW mode a delta epoch, the reads and a compaction
    val tw = System.nanoTime()
    val warm = newPass(spark, dir, wh, w, "warm")
    val ws = new Samples
    val v0 = warm.table.snapshot.version
    epoch(spark, in, warm, 0, replay = true, ws, None, lt)
    val v1 = warm.table.snapshot.version
    if (w.cow) epoch(spark, in, warm, 1, replay = false, ws, None, lt)
    phase("warm-up epochs")
    reads(spark, in, warm, if (w.cow) 1 else 0, if (w.cow) v1 else v0, ws, None, lt,
      maxLookups = 1, scans = 1, feeds = 1)
    phase("warm-up reads")
    warm.table.compactDeltas()
    phase("warm-up compaction")
    require(ws.failed == 0, s"warm-up failed: ${ws.errors.mkString("; ")}")
    val warmup = secs(tw)
    phase("warmup")
    val cpu4 = cpuProbe(spark)
    phase("cpu4")

    // 2. local[4]: passes over the same input until two thirds of the budget
    val start4 = System.nanoTime()
    val deadline4 = start4 + (seconds * 2 / 3 * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[String]
    // start a pass only when it is expected to end by the deadline; a traced
    // run makes at least two and traces every other one, so the untraced
    // passes give the tracing overhead
    while (passes.size < (if (trace) 2 else 1) ||
        System.nanoTime() + (System.nanoTime() - start4) / passes.size < deadline4) {
      val name = s"p${passes.size}"
      tr.foreach { t => t.active = passes.size % 2 == 0; if (t.active) lt.tracedPasses += 1 }
      runPass(spark, in, newPass(spark, dir, wh, w, name), s4, tr, lt)
      tr.foreach(_.active = false)
      passes += name
    }
    val wall4 = secs(start4)
    phase("wall4")
    // the ops slice, each query once (traced in a traced run); the results
    // and inputs stay in `opsOut` for the DuckDB check
    val opsRes = opsOut.resolve("out")
    tr.foreach(_.active = true)
    Ops.suite.foreach { case (_, q) =>
      op(s4, s"query $q") {
        s4.opsS(q) = tr.fold(Ops.run(spark, in.opsDir, opsRes, q))(
          _.span(s"ops.$q")(Ops.run(spark, in.opsDir, opsRes, q)))
      }
    }
    tr.foreach(_.active = false)
    Ops.writeOracle(opsRes)
    copyTree(in.opsDir, opsOut.resolve("in"))
    phase("ops")

    // 4a. oracle check of the local[4] phase
    val tOracle = System.nanoTime()
    tr.foreach(_.drain())
    val ev = Oracle.hashed(((if (w.preload > 0) Seq(in.preloadDir) else Nil) :+ in.streamDir)
      .map(d => spark.read.schema(in.schema).parquet(d.toString).drop("_ep"))
      .reduce(_ unionByName _)).cache()
    val check = mutable.ArrayBuffer.empty[String]
    def bad(what: String, n: Long): Unit = if (n > 0) {
      s4.failed += n; check += s"$what: $n mismatched"
    }
    val end = in.hi(w.epochs - 1)
    bad("lookups", Oracle.lookupMismatches(ev, spark.createDataFrame(s4.lookups.toSeq)))
    val state = Oracle.statesAt(ev, s4.scans.map(_._1).toSeq ++ s4.ampFiles.map(_._1) :+
      in.hi(2) :+ end)
    // final state of every pass, after its compaction
    passes.foreach { name =>
      s4.attempted += 1
      val (n, d) = scanQuery(spark, s"bench.db.$name")
      bad(s"final state of $name", if (state(end)._1 == n && state(end)._2 == d) 0 else 1)
    }
    bad("scans", s4.scans.count(x => state(x._1)._1 != x._2 || state(x._1)._2 != x._3).toLong)
    val feed = Oracle.feedsAt(ev, s4.feeds.map(f => (f._1, f._2)).toSeq)
    bad("feeds", s4.feeds.count(f => feed((f._1, f._2)) != ((f._3, f._4))).toLong)
    val amp = s4.ampFiles.map { case (b, bytes) => bytes.toDouble / state(b)._3 }
    ev.unpersist()
    val oracle4 = secs(tOracle)
    phase("oracle4")

    val layers = tr.map(t => layerMetrics(t, lt, s4, dir, wh, passes.toSeq))
    tr.foreach(_.detach())
    spark.stop()

    // 3. local[1] on a fresh copy of the seed: epoch 0 untimed, so the new
    //    session's first-use cost stays out, then epochs 1 and 2 timed. They
    //    are compared with the same epochs at local[4], which also follow an
    //    epoch 0 in their session; epoch 0 itself is the noisiest of a pass
    val s1 = new Samples
    spark = session(1, dir, wh)
    val cpu1 = cpuProbe(spark)
    val n1 = newPass(spark, dir, wh, w, "n1")
    val warm1 = new Samples
    val tw1 = System.nanoTime()
    epoch(spark, in, n1, 0, replay = true, warm1, None, lt)
    val warmup1 = secs(tw1)
    s1.attempted += warm1.attempted; s1.failed += warm1.failed; s1.errors ++= warm1.errors
    val start1 = System.nanoTime()
    (1 until 3).foreach(i => epoch(spark, in, n1, i, replay = true, s1, None, lt))
    val wall1 = secs(start1)
    phase("wall1")
    // 4b. the local[1] table against the fold at the same bound
    s1.attempted += 1
    val (rows1, digest1) = scanQuery(spark, "bench.db.n1")
    if (state(in.hi(2))._1 != rows1 || state(in.hi(2))._2 != digest1) {
      s1.failed += 1; check += "final state of n1: digest mismatch"
    }
    spark.stop()
    deleteTree(work)
    val load1 = loadAvg()
    phase("load1")

    // ---- metrics ----
    val rep4 = s4.replay.toSeq
    val untraced4 = rep4.filterNot(_._4)
    val base4 = if (untraced4.nonEmpty) untraced4 else rep4
    val eps4 = base4.map(_._3).sum / base4.map(_._2).sum
    val eps1 = s1.replay.map(_._3).sum / s1.replay.map(_._2).sum
    // local[4] wall of the same epochs, median over passes
    val wall4Same = s1.replay.map(x => median(rep4.filter(_._1 == x._1).map(_._2))).sum
    val eps4Same = s1.replay.map(_._3).sum / wall4Same
    val attempted = s4.attempted + s1.attempted
    val failed = s4.failed + s1.failed
    val queryS = Ops.suite.map { case (f, q) => (f, q, s4.opsS.getOrElse(q, Double.NaN)) }
    val e2e = Seq(
      ("setup_s", median(setups.toSeq), "s"),
      ("events_per_s", eps4, "events/s"),
      ("events_per_s_n1", eps1, "events/s"),
      ("scaling_efficiency", eps4Same / (4 * eps1), "ratio"),
      ("epoch_p50_s", median(base4.map(_._2)), "s"),
      ("lookup_p50_ms", median(s4.lookupMs.toSeq), "ms"),
      ("lookup_p90_ms", pct(s4.lookupMs.toSeq, 0.9), "ms"),
      ("scan_p50_s", median(s4.scanS.toSeq), "s"),
      ("feed_p50_s", median(s4.feedS.toSeq), "s"),
      ("compact_s", median(s4.compactS.toSeq), "s"),
      ("storage_amp", median(amp.toSeq), "ratio"),
      ("suite_s", queryS.map(_._3).sum, "s"))
    val metrics = layers.map(_ ++ queryS.map { case (_, q, v) => (s"ops.${q}_s", v, "s") } ++
      Ops.families.map(f => (s"ops.${f}_s", queryS.filter(_._1 == f).map(_._3).sum, "s")))
      .getOrElse(e2e)
    val correct = failed == 0
    val metricJson = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": $metricJson}"""

    def arr(xs: Iterable[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    def dist(xs: Seq[Double]) = {
      // median plus the highest percentile with at least ten samples beyond it
      val n = xs.size
      val tail = if (n >= 20) Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(q => (1 - q) * n >= 10) else None
      s"""{"n": $n, "p50": ${median(xs)}""" +
        tail.map(q => s""", "p${(q * 100).round}": ${pct(xs, q)}""").getOrElse("") + "}"
    }
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    val record =
      s"""{"workload": "${w.name}", "seed": $seed, "seconds": $seconds,
         | "trace": $trace,
         | "host": {"nproc": ${Runtime.getRuntime.availableProcessors}, "loadavg_before": "$load0",
         |   "loadavg_after": "$load1", "java": "${System.getProperty("java.version")}",
         |   "spark": "${org.apache.spark.SPARK_VERSION}",
         |   "cpu_probe_local4_s": ${arr(cpu4)}, "cpu_probe_local1_s": ${arr(cpu1)},
         |   "cpu_speedup_ceiling": ${cpu1.last / cpu4.last / 4}},
         | "shape": {"buckets": ${w.buckets}, "keys": ${w.keys}, "preload": ${w.preload},
         |   "per_epoch": ${w.perEpoch}, "epochs_per_pass": ${w.epochs}, "mode": "${w.mode}"},
         | "setup_s": ${arr(setups)}, "warmup_s": $warmup,
         | "local4": {"wall_s": $wall4, "passes": ${passes.size},
         |   "replay_epochs": [${rep4.map(x => f"""[${x._1},${x._2}%.6f,${x._3},${x._4}]""").mkString(",")}],
         |   "serve_epoch_s": ${arr(s4.serve)}, "lookup_ms": ${arr(s4.lookupMs)},
         |   "lookup_dist": ${dist(s4.lookupMs.toSeq)},
         |   "scan_s": ${arr(s4.scanS)}, "feed_s": ${arr(s4.feedS)}, "compact_s": ${arr(s4.compactS)},
         |   "storage_amp": ${arr(amp)}, "oracle_s": $oracle4,
         |   "query_s": {${s4.opsS.map { case (q, x) => s""""$q": $x""" }.mkString(", ")}}},
         | "local1": {"warmup_s": $warmup1, "wall_s": $wall1,
         |   "replay_epochs": [${s1.replay.map(x => f"""[${x._1},${x._2}%.6f,${x._3}]""").mkString(",")}]},
         | "fenced_or_conflicted": ${s4.fenced + s1.fenced},
         | "errors": [${(s4.errors ++ s1.errors ++ check).map(e => "\"" + esc(e) + "\"").mkString(",")}],
         | "epoch_breakdown": ${lt.breakdown},
         | "trace_spans": ${tr.map(_.json).getOrElse("null")},
         | "trace_jobs": ${tr.map(_.stagesJson).getOrElse("null")},
         | "result": $result}""".stripMargin
    (result, record)
  }

  /** Per-layer metrics of the traced passes (see BENCHMARK.json). */
  def layerMetrics(t: Tracer, lt: LayerTrace, s: Samples, dir: Path, wh: Path,
      passes: Seq[String]): Seq[(String, Double, String)] = {
    val roots = passes.map(p => wh.resolve("db").resolve(p).toString + "/")
    val sides = passes.map(p => dir.resolve(s"side-$p").toString + "/")
    def cls(j: t.Job): String = {
      val pl = t.planOf(j)
      if (sides.exists(pl.contains)) "side"
      else if (roots.exists(pl.contains)) "merge"
      else "prepass"
    }
    val spans = lt.epochSpans.map(t.spans(_)).toSeq
    val n = math.max(1, spans.size).toDouble
    val parts = spans.map(sp => t.partition(sp, j => cls(j)))
    val epochJobs = spans.flatMap(sp => t.jobsUnder(sp.id))
    val mergeJobs = epochJobs.filter(cls(_) == "merge")
    val mergeStages = t.stagesOf(mergeJobs)
    val lastStage = mergeJobs.map(_.stages.max).toSet
    val writeStages = mergeStages.filter(st => lastStage(st.id))
    val mapStages = mergeStages.filter(st => st.shuffleWriteB > 0 && !lastStage(st.id))
    val reduceStages = mergeStages.filter(st => st.shuffleReadB > 0)
    def sumOf(xs: Seq[t.Stage])(f: t.Stage => Double) = xs.map(f).sum
    def spanTask(ids: Seq[Int]) = ids.map(id => sumOf(t.stagesOf(t.jobsUnder(id)))(_.runMs / 1e3)).sum
    val byName = (n: String) => t.spans.filter(_.name == n).toSeq
    val lookupSpans = byName("sql.lookup")
    val scanSpans = byName("sql.scan")
    val compactSpans = byName("lake.compact")
    val allStages = t.allStages
    val cores = 4.0
    val passes1 = math.max(1, lt.tracedPasses).toDouble
    val traced = s.replay.filter(_._4)
    val untraced = s.replay.filterNot(_._4)
    def eps(xs: Seq[(Int, Double, Long, Boolean)]) = xs.map(_._3).sum / xs.map(_._2).sum
    // each epoch's wall = its job classes' time + driver time, exactly
    lt.breakdown = spans.zip(parts).map { case (sp, (by, drv)) =>
      val layers = by.map { case (k, v) => s""""$k": ${v / 1e3}""" }.mkString(", ")
      val jobs = t.jobsUnder(sp.id).groupBy(cls).map { case (k, v) => s""""$k": ${v.size}""" }
      s"""{"span": ${sp.id}, "epoch": ${sp.op}, "wall_s": ${(sp.end - sp.start) / 1e3}, """ +
        s""""jobs": {${jobs.mkString(", ")}}, """ +
        s""""layers_s": {$layers}, "driver_s": ${drv / 1e3}, """ +
        s""""residual_s": ${((sp.end - sp.start) - by.values.sum - drv) / 1e3}}"""
    }.mkString("[", ",\n  ", "]")
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Seq(
      ("ingest.driver_s", parts.map(_._2).sum / 1e3 / n, "s"),
      ("ingest.jobs_per_epoch", epochJobs.size / n, "count"),
      ("ingest.side_s", parts.map(_._1.getOrElse("side", 0.0)).sum / 1e3 / n, "s"),
      ("lake.merge.map_task_s", sumOf(mapStages)(_.runMs / 1e3) / n, "s"),
      ("lake.merge.reduce_task_s", sumOf(reduceStages)(_.runMs / 1e3) / n, "s"),
      ("lake.merge.shuffle_mb", sumOf(mergeStages)(_.shuffleWriteB / 1e6) / n, "MB"),
      ("lake.merge.spill_mb", sumOf(mergeStages)(_.spillB / 1e6) / n, "MB"),
      ("lake.merge.gc_s", sumOf(mergeStages)(_.gcMs / 1e3) / n, "s"),
      ("lake.merge.slot_idle_frac", 1 - sumOf(mergeStages)(_.runMs.toDouble) /
        math.max(1.0, sumOf(mergeStages)(_.wallMs * cores)), "ratio"),
      ("lake.write.tasks", sumOf(writeStages)(_.tasks.toDouble) / n, "count"),
      ("lake.write.empty_task_frac", sumOf(writeStages)(_.emptyWriteTasks.toDouble) /
        math.max(1.0, sumOf(writeStages)(_.tasks.toDouble)), "ratio"),
      ("lake.write.files", lt.epochFiles.sum / n, "count"),
      ("lake.write.mb", sumOf(writeStages)(_.outputB / 1e6) / n, "MB"),
      ("lake.write.amp", sumOf(writeStages)(_.outputB.toDouble) /
        math.max(1.0, lt.epochPayload.sum), "ratio"),
      ("lake.snapshot_ms", mean(lt.snapshotMs), "ms"),
      ("lake.meta_kb_per_commit", mean(lt.metaKb), "KB"),
      ("lake.fenced_or_conflicted", s.fenced.toDouble, "count"),
      ("quality.gate_s", spanTask(lt.gateSpans.toSeq) / n, "s"),
      ("registry.conform_s", spanTask(lt.conformSpans.toSeq) / n, "s"),
      ("sql.lookup_plan_ms", median(lt.lookupPlanMs.toSeq), "ms"),
      ("sql.lookup_exec_ms", median(lt.lookupExecMs.toSeq), "ms"),
      ("skipping.files_per_lookup", mean(lt.lookupFiles), "count"),
      ("skipping.bytes_per_lookup", lookupSpans.map(sp =>
        sumOf(t.stagesOf(t.jobsUnder(sp.id)))(_.inputB.toDouble)).sum /
        math.max(1, lookupSpans.size), "bytes"),
      ("lake.mor.delta_files", mean(lt.deltaFiles), "count"),
      ("lake.mor.read_merge_task_s", spanTask(scanSpans.map(_.id)) / math.max(1, scanSpans.size), "s"),
      ("lake.compact.mb_rewritten", compactSpans.map(sp =>
        sumOf(t.stagesOf(t.jobsUnder(sp.id)))(_.outputB / 1e6)).sum /
        math.max(1, compactSpans.size), "MB"),
      ("lake.compact.task_s", spanTask(compactSpans.map(_.id)) / math.max(1, compactSpans.size), "s"),
      ("changefeed.rows", mean(lt.feedRows), "count"),
      ("changefeed.files_opened", mean(lt.feedFiles), "count"),
      ("spark.jobs", t.allJobs.size / passes1, "count"),
      ("spark.tasks", allStages.map(_.tasks).sum / passes1, "count"),
      ("spark.task_s", allStages.map(_.runMs).sum / 1e3 / passes1, "s"),
      ("spark.gc_s", allStages.map(_.gcMs).sum / 1e3 / passes1, "s"),
      ("trace.overhead_frac", if (traced.isEmpty || untraced.isEmpty) 0.0
        else 1 - eps(traced.toSeq) / eps(untraced.toSeq), "ratio"))
  }
}
