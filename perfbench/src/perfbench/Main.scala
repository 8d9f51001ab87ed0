package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.model.{EngineConfig, Share}
import graft.sources.{InReachSource, KmlParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The feed bodies served to the pipeline, held process-wide so the
  * fetcher closure that Spark ships to every task captures nothing. */
object BodyStore {
  private val bodies = new ConcurrentHashMap[String, String]
  @volatile private var expectedD1: String = ""

  def load(xs: Seq[(String, String)], now: Instant): Unit = {
    bodies.clear()
    xs.foreach { case (id, b) => bodies.put(id, b) }
    expectedD1 = DateTimeFormatter.ISO_INSTANT.format(now.minusSeconds(30 * 60))
  }

  /** Serves a share's body for its feed URL; a URL whose lookback is
    * not the expected one fails the share. No network I/O. */
  def serve(url: String): String = {
    val shareId = url.substring(url.indexOf("/Feed/Share/") + 12).takeWhile(_ != '?')
    val d1 = url.substring(url.indexOf("d1=") + 3)
    if (d1 != expectedD1) throw new IllegalStateException(s"unexpected lookback in $url")
    Option(bodies.get(shareId)).getOrElse(throw new IllegalStateException(s"no feed $shareId"))
  }

  val fetcher: InReachSource.Fetcher = (url, _) => BodyStore.serve(url)
}

sealed trait Workload {
  def name: String
  def opsPerPass: Int
  def warmupPasses: Int
  def nominalOps: Int
}
final case class EtlWorkload(name: String, shape: FeedShape, opsPerPass: Int,
                             warmupPasses: Int, nominalOps: Int) extends Workload
final case class SuiteWorkload(name: String, opsPerPass: Int, warmupPasses: Int,
                               nominalOps: Int) extends Workload

/** One timed operation. */
final case class Op(id: Int, pass: Int, traced: Boolean, name: String, startMs: Long,
                    endMs: Long, seconds: Double, buildMs: Double, ok: Boolean,
                    error: String, postMs: Long, features: Long, fcBytes: Long)

object Main {

  val Cores = 4
  /** Fixed scheduled-run time: the lookback URL is deterministic. */
  val Now: Instant = Instant.parse("2026-08-12T06:00:00Z")

  /** Warm-up is a fixed amount of work: operation times keep falling
    * for about a hundred operations (JIT compilation), more than a run
    * can afford, and a rule that stops once two passes agree stops
    * early on a noisy pass and leaves that run less warm than the
    * others. The warm-up covers the steep part of the curve: 6 passes
    * of 4 runs for etl_tracks, whose later passes differ by a few
    * percent, and 5 passes of 11 queries for suite_floor, whose third
    * and fourth passes were still 10-30% slower than the sixth. */
  def workloads(suiteSize: Int): Seq[Workload] = Seq(
    EtlWorkload("etl_tracks", FeedShape(8, 20, 40, 2, 1),
      opsPerPass = 4, warmupPasses = 6, nominalOps = 40),
    SuiteWorkload("suite_floor", opsPerPass = suiteSize, warmupPasses = 5,
      nominalOps = 4 * suiteSize))

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  def parseArgs(a: Array[String]): Args =
    Args(a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    args.get("mode").getOrElse("run") match {
      case "run" => run(args)
      case "record" => record(args)
      case "corpus" =>
        val spark = session(Paths.get(args("work")))
        Corpus.write(spark, args("corpus"))
        spark.stop()
      case m => sys.error(s"unknown mode $m")
    }
  }

  // ---------------------------------------------------------------- suite

  final case class Expect(name: String, rows: Long, hash: String)

  def readSuite(path: String): Seq[Expect] =
    mapper.readTree(new java.io.File(path)).get("queries").elements().asScala.map { n =>
      Expect(n.get("name").asText, n.get("rows").asLong, n.get("hash").asText)
    }.toSeq

  /** Row count and an order-independent row hash; floating-point
    * columns are rounded to 4 decimals, nested values hashed as JSON. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 4)
        case _: MapType | _: ArrayType | _: StructType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Records each listed query's digest over three shuffled passes on
    * the suite corpus; a query is stable when every pass agrees. */
  def record(args: Args): Unit = {
    val work = Paths.get(args("work"))
    val spark = session(work)
    val corpus = args("corpus")
    val names = args("queries").split(",").toSeq.filter(_.nonEmpty)
    val repeats = 3
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[(Long, String, Double)]]
    val errors = scala.collection.mutable.Map.empty[String, String]
    for (r <- 0 until repeats; name <- new scala.util.Random(r).shuffle(names)) {
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(name)(spark, corpus)
        val n = df.count()
        val s = (System.nanoTime() - t0) / 1e9
        val (dn, h) = digest(df)
        seen.getOrElseUpdate(name, ArrayBuffer.empty) += ((n, s"$dn:$h", s))
      } catch {
        case e: Throwable => errors(name) = String.valueOf(e.getMessage).take(200)
      }
      cleanup(spark)
    }
    val out = names.map { n =>
      val xs = seen.getOrElse(n, ArrayBuffer.empty)
      val stable = errors.get(n).isEmpty && xs.size == repeats &&
        xs.map(x => (x._1, x._2)).distinct.size == 1
      Map("name" -> n, "rows" -> xs.headOption.map(_._1).getOrElse(-1L),
        "hash" -> xs.headOption.map(_._2).getOrElse(""),
        "stable" -> stable, "seconds" -> xs.map(_._3),
        "error" -> errors.get(n))
    }
    Files.writeString(Paths.get(args("out")), mapper.writeValueAsString(Map("queries" -> out)))
    spark.stop()
  }

  // ---------------------------------------------------------------- run

  def run(args: Args): Unit = {
    val work = Paths.get(args("work"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traceOn = args("trace") == "1"
    val launchMs = args("launch-ms").toLong
    val suite = args.get("suite").map(readSuite).getOrElse(Nil)
    val wl = workloads(suite.size).find(_.name == args("workload"))
      .getOrElse(sys.error(s"unknown workload ${args("workload")}"))

    val spark = session(work)
    val sc = spark.sparkContext
    val sessionMs = System.currentTimeMillis()

    // ---- inputs: ETL feeds from the seed; the suite reads the fixed
    // corpus that run.py generates once per build
    val (etlBodies, expected, config) = wl match {
      case e: EtlWorkload =>
        val b = KmlGen.bodies(e.shape, seed, Now)
        BodyStore.load(b, Now)
        (b, Expected.latestPerId(b.map(_._2)), EngineConfig(b.map { case (id, _) => Share(id) }))
      case _: SuiteWorkload => (IndexedSeq.empty[(String, String)], Map.empty[String, ExpectedFix],
        EngineConfig(Nil))
    }
    val corpus = args.get("corpus").getOrElse("")
    val queries = graft.SparkEntry.queries
    val inputsMs = System.currentTimeMillis()

    // ---- one operation. Warm-up operations are not checked; measured
    // ones are: an ETL run's whole FeatureCollection every time, a
    // query's row count every time and its row hash (a second
    // execution) the first time it runs in the measured passes.
    var nextOp = 0
    var warm = true
    val hashed = scala.collection.mutable.HashSet.empty[String]
    def etlOp(pass: Int, traced: Boolean): Op = {
      val id = nextOp; nextOp += 1
      if (traced) sc.setLocalProperty(Trace.OpProperty, id.toString)
      var posted: String = null
      var postNs = 0L
      var postMs = 0L
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err = try {
        graft.Pipeline.run(spark, config, BodyStore.fetcher,
          post = fc => { postNs = System.nanoTime(); postMs = System.currentTimeMillis(); posted = fc },
          now = Now)
        None
      } catch { case e: Throwable => Some(String.valueOf(e)) }
      val t1 = if (postNs > 0) postNs else System.nanoTime()
      val w1 = if (postMs > 0) postMs else System.currentTimeMillis()
      sc.setLocalProperty(Trace.OpProperty, null)
      val checkErr = err.orElse(
        if (posted == null) Some("nothing posted") else if (warm) None else checkFc(posted, expected))
      // a passing check means the collection holds exactly the expected features
      Op(id, pass, traced, wl.name, w0, w1, (t1 - t0) / 1e9, 0.0, checkErr.isEmpty,
        checkErr.getOrElse(""), postMs, if (checkErr.isEmpty) expected.size else 0,
        if (posted == null) 0 else posted.getBytes(UTF_8).length.toLong)
    }
    def suiteOp(pass: Int, traced: Boolean, q: Expect): Op = {
      val id = nextOp; nextOp += 1
      if (traced) sc.setLocalProperty(Trace.OpProperty, id.toString)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var df: DataFrame = null
      val res = try {
        df = queries(q.name)(spark, corpus)
        t1 = System.nanoTime()
        Right(df.count())
      } catch { case e: Throwable => Left(String.valueOf(e)) }
      val t2 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      sc.setLocalProperty(Trace.OpProperty, null)
      val err = res match {
        case Left(e) => Some(e)
        case Right(n) if n != q.rows => Some(s"${q.name}: $n rows, expected ${q.rows}")
        case Right(_) if warm || !hashed.add(q.name) => None
        case Right(_) =>
          try {
            val (dn, h) = digest(df)
            if (s"$dn:$h" != q.hash) Some(s"${q.name}: digest $dn:$h, expected ${q.hash}") else None
          } catch { case e: Throwable => Some(String.valueOf(e)) }
      }
      cleanup(spark)
      Op(id, pass, traced, q.name, w0, w1, (t2 - t0) / 1e9, (t1 - t0) / 1e6, err.isEmpty,
        err.getOrElse(""), 0L, 0L, 0L)
    }
    def runPass(pass: Int, traced: Boolean): Seq[Op] = wl match {
      case _: EtlWorkload => (0 until wl.opsPerPass).map(_ => etlOp(pass, traced))
      case _: SuiteWorkload =>
        new scala.util.Random(seed * 1000003L + pass).shuffle(suite)
          .map(q => suiteOp(pass, traced, q))
    }

    // ---- warm-up: the workload's fixed number of whole passes
    val warmPasses = ArrayBuffer.empty[Double]
    var pass = 0
    while (pass < wl.warmupPasses) {
      val ops = runPass(pass, traced = false)
      warmPasses += ops.map(_.seconds).sum
      pass += 1
    }
    warm = false
    val firstOpMs = System.currentTimeMillis()

    // ---- measurement: whole passes for `seconds` (and until the
    // nominal operation count is reached); traced runs interleave
    // untraced (U) and traced (T) passes as U T T U U T T U ..., so a
    // trend in pass times cancels out of the tracing overhead
    val jobRec = new JobRecorder
    val planRec = new PlanRecorder
    val graftRec = new graft.plans.GraftMetricsListener
    val streamRec = new StreamRecorder
    val ops = ArrayBuffer.empty[Op]
    val passWall = ArrayBuffer.empty[(Boolean, Double)]
    val parseMs = ArrayBuffer.empty[Double]
    def drain(): Unit = {
      // a sentinel job behind every traced event on the listener bus
      val mark = System.currentTimeMillis()
      spark.range(1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (jobRec.lastJobEndMs < mark && System.nanoTime() < deadline) Thread.sleep(5)
      Thread.sleep(200)
    }
    val m0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - m0) / 1e9
    def untracedOps: Int = ops.count(!_.traced)
    def enough: Boolean =
      if (traceOn) elapsed >= seconds && passWall.count(_._1) >= 2 && passWall.count(!_._1) >= 2
      else elapsed >= seconds && untracedOps >= wl.nominalOps
    val measure0 = pass
    while (!enough && elapsed < 4 * seconds) {
      val traced = traceOn && ((pass - measure0 + 1) / 2) % 2 == 1
      if (traced) {
        sc.addSparkListener(jobRec)
        spark.listenerManager.register(planRec)
        spark.listenerManager.register(graftRec)
        spark.streams.addListener(streamRec)
      }
      val p = runPass(pass, traced)
      ops ++= p
      passWall += (traced -> p.map(_.seconds).sum)
      if (traced) {
        drain()
        sc.removeSparkListener(jobRec)
        spark.listenerManager.unregister(planRec)
        spark.listenerManager.unregister(graftRec)
        spark.streams.removeListener(streamRec)
        if (etlBodies.nonEmpty) {
          val t = System.nanoTime()
          etlBodies.foreach { case (id, b) =>
            try KmlParser.parse(b, id, id) catch { case _: Throwable => Nil }
          }
          parseMs += (System.nanoTime() - t) / 1e6
        }
      }
      pass += 1
    }

    // ---- end-of-run probes
    val scratchBytes = treeBytes(Paths.get(System.getProperty("java.io.tmpdir")))
    val vmHwmMb = vmHwmKb() / 1024.0
    // the heap the program retains after its passes: a full collection,
    // then the heap in use
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val canary = (1 to 2).map(_ => canaryPass()).min

    val layers: Map[String, Any] =
      if (!traceOn) Map.empty
      else layerMetrics(wl, ops.filter(_.traced).toSeq, etlBodies, parseMs.toSeq,
        jobRec, planRec, graftRec, streamRec)

    if (traceOn) writeSpans(work.resolve("spans.jsonl"), ops.filter(_.traced).toSeq,
      jobRec, planRec, streamRec)

    val raw = Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> traceOn,
      "launch_ms" -> launchMs, "session_ms" -> sessionMs, "inputs_ms" -> inputsMs,
      "first_op_ms" -> firstOpMs,
      "setup_s" -> (firstOpMs - launchMs) / 1000.0,
      "warmup_passes" -> warmPasses.toSeq, "nominal_ops" -> wl.nominalOps,
      "ops_per_pass" -> wl.opsPerPass,
      "passes" -> passWall.map { case (t, s) => Map("traced" -> t, "seconds" -> s) }.toSeq,
      "ops" -> ops.map(o => Map("pass" -> o.pass, "traced" -> o.traced, "name" -> o.name,
        "seconds" -> o.seconds, "ok" -> o.ok, "error" -> o.error)).toSeq,
      "vm_hwm_mb" -> vmHwmMb, "heap_committed_mb" -> heap.getCommitted / 1048576.0,
      "heap_live_mb" -> heap.getUsed / 1048576.0,
      "scratch_bytes" -> scratchBytes, "canary_s" -> canary,
      "layers" -> layers)
    Files.writeString(Paths.get(args("out")), mapper.writeValueAsString(raw))

    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }

  /** None when the posted FeatureCollection holds exactly the expected
    * latest fix per device; otherwise the first difference. */
  def checkFc(fc: String, expected: Map[String, ExpectedFix]): Option[String] = {
    val root = mapper.readTree(fc)
    if (root.path("type").asText != "FeatureCollection") return Some("not a FeatureCollection")
    val feats = root.path("features")
    if (feats.size != expected.size) return Some(s"${feats.size} features, expected ${expected.size}")
    val seen = scala.collection.mutable.HashSet.empty[String]
    for (f <- feats.elements().asScala) {
      val id = f.path("id").asText
      val e = expected.getOrElse(id, return Some(s"unexpected feature $id"))
      if (!seen.add(id)) return Some(s"duplicate feature $id")
      val time = Instant.parse(f.at("/properties/time").asText).toEpochMilli
      if (time != e.timeMs) return Some(s"$id: time $time, expected ${e.timeMs}")
      val coords = f.at("/geometry/coordinates").elements().asScala.map(_.asDouble).toSeq
      if (coords != e.coordinates) return Some(s"$id: coordinates $coords, expected ${e.coordinates}")
      val sp: JsonNode = f.at("/properties/speed")
      val speed = if (sp.isMissingNode || sp.isNull) None else Some(sp.asDouble)
      val speedOk = (speed, e.speed) match {
        case (Some(a), Some(b)) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        case (a, b) => a == b
      }
      if (!speedOk) return Some(s"$id: speed $speed, expected ${e.speed}")
    }
    None
  }

  // ---------------------------------------------------------------- layers

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    for ((a, b) <- iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
           .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  /** Per-layer values of the traced operations. A value is a number,
    * or the list of samples that run.py reduces to the metric; the
    * metrics derived from pass times are computed there too. */
  def layerMetrics(wl: Workload, traced: Seq[Op], bodies: Seq[(String, String)],
                   parseMs: Seq[Double], jobRec: JobRecorder, planRec: PlanRecorder,
                   graftRec: graft.plans.GraftMetricsListener,
                   streamRec: StreamRecorder): Map[String, Any] = {
    val n = math.max(traced.size, 1).toDouble
    val ids = traced.map(_.id).toSet
    val jobs = jobRec.jobs.asScala.toSeq.filter(j => ids(j.op))
    val stages = jobRec.stages.asScala.toSeq.filter(s => ids(s.op))
    val windows = traced.map(o => (o.id, o.startMs, o.endMs))
    def opAt(t: Long): Option[Int] =
      windows.find { case (_, a, b) => t >= a && t <= b }.map(_._1)
    // both query-execution listeners see the same events in the same order
    val qeAll = planRec.qes.asScala.toSeq
    val graftAll = graftRec.drain()
    val paired = qeAll.zip(graftAll.map(Some(_)).padTo(qeAll.size, None))
      .filter { case (q, _) => opAt(q.startMs).isDefined }
    val batches = streamRec.batches.asScala.toSeq.filter(b => opAt(b.startMs).isDefined)

    val byOpStages = stages.groupBy(_.op)
    val runMs = stages.map(_.runMs).sum.toDouble
    val opWallMs = traced.map(_.seconds * 1000).sum
    val longestStageTasks = traced.flatMap { o =>
      byOpStages.getOrElse(o.id, Nil).sortBy(-_.runMs).headOption.map(_.taskMs)
    }
    val gaps = traced.map { o =>
      val iv = jobs.filter(_.op == o.id).map(j => (j.startMs, j.endMs))
      (o.endMs - o.startMs) - covered(iv, o.startMs, o.endMs)
    }
    val etl = wl.isInstanceOf[EtlWorkload]
    val parsed = bodies.map { case (id, b) =>
      scala.util.Try(KmlParser.parse(b, id, id)).toOption }
    val placemarks = parsed.flatten.map(_.size).sum.toDouble
    val dedupIn = parsed.flatten.map(_.count(_.coordinatesRaw.isDefined)).sum.toDouble
    val features = traced.map(_.features).sum / n
    val scanStages = stages.filter(_.numTasks == bodies.size)
    val assemble = traced.flatMap { o =>
      val ends = jobs.filter(_.op == o.id).map(_.endMs)
      if (o.postMs > 0 && ends.nonEmpty) Some((o.postMs - ends.max).toDouble) else None
    }
    val perOp = (x: Double) => x / n
    Map(
      "SparkEntry.build_ms" -> perOp(traced.map(_.buildMs).sum),
      "sources.shares" -> (if (etl) bodies.size.toDouble else 0.0),
      "sources.bytes_in" -> (if (etl) bodies.map(_._2.getBytes(UTF_8).length.toLong).sum.toDouble else 0.0),
      "sources.placemarks" -> placemarks,
      "sources.failed_shares" -> parsed.count(_.isEmpty).toDouble,
      "sources.parse_ms" -> parseMs,
      "sources.stage_ms" -> (if (etl) perOp(scanStages.map(_.runMs).sum.toDouble) else 0.0),
      "operators.dedup_in_rows" -> dedupIn,
      "operators.dedup_out_rows" -> features,
      "operators.dedup_keep_ratio" -> (if (dedupIn > 0) features / dedupIn else 0.0),
      "operators.jobs" -> perOp(jobs.size),
      "operators.stages" -> perOp(stages.size),
      "operators.tasks" -> perOp(stages.map(_.numTasks).sum),
      "operators.run_ms" -> perOp(runMs),
      "operators.cpu_ms" -> perOp(stages.map(_.cpuMs).sum),
      "operators.gc_ms" -> perOp(stages.map(_.gcMs).sum.toDouble),
      "operators.shuffle_read_bytes" -> perOp(stages.map(_.shuffleRead).sum.toDouble),
      "operators.shuffle_write_bytes" -> perOp(stages.map(_.shuffleWrite).sum.toDouble),
      "operators.spill_bytes" -> perOp(stages.map(_.spill).sum.toDouble),
      "operators.task_skew" -> longestStageTasks,
      "operators.slot_busy_ratio" -> (if (opWallMs > 0) runMs / (opWallMs * Cores) else 0.0),
      "operators.driver_gap_ms" -> perOp(gaps.sum.toDouble),
      "plans.analysis_ms" -> perOp(paired.map(_._1.analysisMs).sum.toDouble),
      "plans.optimization_ms" -> perOp(paired.map(_._1.optimizationMs).sum.toDouble),
      "plans.physical_ms" -> perOp(paired.map(_._1.physicalMs).sum.toDouble),
      "plans.actions" -> perOp(paired.size),
      "plans.shuffles" -> perOp(paired.flatMap(_._2).map(_.shuffles).sum),
      "plans.codegen_spans" -> perOp(paired.flatMap(_._2).map(_.codegenSpans).sum),
      "sinks.features" -> features,
      "sinks.fc_bytes" -> perOp(traced.map(_.fcBytes).sum.toDouble),
      "sinks.result_bytes" -> perOp(stages.map(_.resultBytes).sum.toDouble),
      "sinks.assemble_ms" -> assemble,
      "streaming.batches" -> perOp(batches.size),
      "streaming.trigger_ms" -> perOp(batches.map(_.triggerMs).sum.toDouble),
      "streaming.add_batch_ms" -> perOp(batches.map(_.addBatchMs).sum.toDouble),
      "streaming.planning_ms" -> perOp(batches.map(_.planningMs).sum.toDouble),
      "streaming.wal_commit_ms" -> perOp(batches.map(_.walCommitMs).sum.toDouble),
      "streaming.state_rows" -> perOp(batches.groupBy(_.queryName).values
        .map(_.maxBy(_.batchId).stateRows).sum.toDouble),
      "streaming.state_bytes" -> perOp(batches.groupBy(_.queryName).values
        .map(_.maxBy(_.batchId).stateBytes).sum.toDouble),
      "streaming.state_commit_ms" -> perOp(batches.map(_.stateCommitMs).sum.toDouble))
  }

  /** One span per operation, with child spans for its query
    * executions, jobs, stages and streaming batches (same op id). */
  def writeSpans(path: Path, traced: Seq[Op], jobRec: JobRecorder, planRec: PlanRecorder,
                 streamRec: StreamRecorder): Unit = {
    val windows = traced.map(o => (o.id, o.startMs, o.endMs))
    def opAt(t: Long): Option[Int] =
      windows.find { case (_, a, b) => t >= a && t <= b }.map(_._1)
    val lines = ArrayBuffer.empty[String]
    def span(op: Int, kind: String, name: String, a: Long, b: Long, attrs: Map[String, Any]): Unit =
      lines += mapper.writeValueAsString(Map("op" -> op, "kind" -> kind, "name" -> name,
        "start_ms" -> a, "end_ms" -> b) ++ attrs)
    traced.foreach(o => span(o.id, "op", o.name, o.startMs, o.endMs,
      Map("ok" -> o.ok, "build_ms" -> o.buildMs)))
    planRec.qes.asScala.foreach(q => opAt(q.startMs).foreach(op =>
      span(op, "query", "", q.startMs, q.endMs, Map("analysis_ms" -> q.analysisMs,
        "optimization_ms" -> q.optimizationMs, "physical_ms" -> q.physicalMs))))
    jobRec.jobs.asScala.foreach(j => span(j.op, "job", j.jobId.toString, j.startMs, j.endMs, Map()))
    jobRec.stages.asScala.foreach(s => span(s.op, "stage", s.stageId.toString, s.startMs, s.endMs,
      Map("tasks" -> s.numTasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite)))
    streamRec.batches.asScala.foreach(b => opAt(b.startMs).foreach(op =>
      span(op, "batch", s"${b.queryName}#${b.batchId}", b.startMs, b.startMs + b.triggerMs,
        Map("add_batch_ms" -> b.addBatchMs, "state_rows" -> b.stateRows))))
    Files.write(path, lines.asJava)
  }

  // ---------------------------------------------------------------- probes

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => scala.util.Try(Files.size(p)).getOrElse(0L)).sum
      finally s.close()
    }

  def vmHwmKb(): Long =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)).getOrElse(0L)

  @volatile private var canarySink = 0L
  /** Fixed single-thread CPU probe: 100M xorshift steps, in seconds. */
  def canaryPass(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    canarySink = x
    (System.nanoTime() - t0) / 1e9
  }
}
