package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, to_json, xxhash64}
import org.apache.spark.sql.types.MapType

/** Closed-loop benchmark harness: one client runs a workload's keys back
  * to back, each key's call being `SparkEntry.queries(k)(spark, dir)`
  * plus `count()`, the call `graft.Bench` times.
  *
  * A run sets up the session once, timed from JVM start, runs
  * `WarmupPasses` unmeasured passes (the first is the cold pass), then
  * measured passes until `--seconds` have elapsed (at least `MinPasses`).
  * The workloads are sized so that a run, set-up included, takes about
  * 40 s at 4 cores.
  * Every pass visits the keys in an order drawn from `--seed`. After a
  * timed call the output's row count and order-insensitive hash are
  * checked against the golden file, untimed, for a rotating third of the
  * keys, so that every key is checked once in the first three passes.
  *
  * `--trace 1` interleaves untraced and traced measured passes: untraced ones
  * give `total_s` for the trace-overhead ratio, traced ones carry job
  * tags and the listeners of [[Trace]] and feed the per-layer metrics
  * and the span file.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --base DIR --x10 DIR --golden FILE --out DIR [--record]
  * Prints the result JSON as its last stdout line; exits 1 when any
  * output was wrong or any key failed, 2 on a usage error. */
object Main {
  /** Unmeasured passes before the window; the first is the cold pass. */
  val WarmupPasses = 1
  val MinPasses = 3

  final case class KeyRun(idx: Int, pass: Int, key: String, traced: Boolean,
      start: Double, buildS: Double, actionS: Double, rows: Long, error: Option[String]) {
    def wallS: Double = buildS + actionS
    def end: Double = start + wallS * 1000
  }
  final case class PassRec(pass: Int, traced: Boolean, start: Double, end: Double,
      cpuS: Double, gcS: Double, io: Map[String, Long], cgN: Long, cgMs: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val record = args.contains("--record")
    def opt(k: String): String = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val wl = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceRun = opt("trace") == "1"
    val dataDir = new File(opt(wl.data)).getAbsolutePath
    val goldenFile = new File(opt("golden"))
    val outDir = new File(opt("out")); outDir.mkdirs()
    val golden: Map[String, (Long, Option[String])] =
      if (record || !goldenFile.exists) Map.empty else Json.readGolden(goldenFile)
    if (!record && !wl.keys.forall(golden.contains)) {
      System.err.println(s"golden file ${goldenFile.getPath} lacks keys of ${wl.name}"); sys.exit(2)
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val loadStart = os.getSystemLoadAverage
    val stealStart = Jvm.stealS()

    // ---- set-up, timed from JVM start
    val (spark, setupS) = Session.setUp(dataDir)
    val queries = graft.SparkEntry.queries
    val sc = spark.sparkContext

    // wall-clock epoch ms with nanosecond resolution, comparable to listener times
    val epoch0 = System.currentTimeMillis.toDouble; val nano0 = System.nanoTime()
    def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    val trace = if (traceRun) Some(new Trace(spark)) else None
    val runs = mutable.ArrayBuffer.empty[KeyRun]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val probes = mutable.ArrayBuffer.empty[Sources.Probe]
    var mismatches = 0
    var drainedAll = true
    val recorded = mutable.LinkedHashMap.empty[String, (Long, String)]

    def runKey(pass: Int, key: String, traced: Boolean, check: Boolean): KeyRun = {
      val idx = runs.size
      if (traced) sc.addJobTag(Trace.tag(idx))
      val start = nowMs()
      val t0 = System.nanoTime()
      var t1 = -1L
      var df: DataFrame = null
      var rows = -1L
      val err = try {
        df = queries(key)(spark, dataDir); t1 = System.nanoTime()
        rows = df.count(); None
      } catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      } finally if (traced) sc.removeJobTag(Trace.tag(idx))
      val t2 = System.nanoTime()
      if (t1 < 0) t1 = t2 // the query function threw: all of it was build time
      var kr = KeyRun(idx, pass, key, traced, start, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, err)
      if (err.isEmpty && check) {
        val verdict = try {
          val h = digest(df)
          if (record) { recorded(key) = (rows, h); None }
          else golden.get(key) match {
            case Some((gRows, gHash)) if gRows == rows && gHash.forall(_ == h) => None
            case Some((gRows, gHash)) =>
              Some(s"output mismatch: rows $rows hash $h, golden rows $gRows hash ${gHash.getOrElse("-")}")
            case None => Some("no golden entry")
          }
        } catch { case e: Throwable => Some("check failed: " + e.getMessage) }
        if (verdict.isDefined) { mismatches += 1; kr = kr.copy(error = verdict) }
      }
      // like graft.Bench: drop what the key persisted (after the check, which may read it)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      kr.error.foreach(m => System.err.println(s"[perfbench] $key (pass $pass): $m"))
      if (traced) probes ++= Sources.probe(idx)
      runs += kr
      kr
    }

    def runPass(pass: Int, traced: Boolean): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(wl.keys)
      System.gc() // start every pass from the same collected heap, untimed
      trace.filter(_ => traced).foreach(_.attach())
      val cpu0 = os.getProcessCpuTime; val gc0 = Jvm.gcMs(); val io0 = Jvm.procIo()
      val cg0 = Jvm.codegen()
      val start = nowMs()
      order.foreach(k => runKey(pass, k, traced, check = record || (wl.keys.indexOf(k) + pass) % 3 == 0))
      val end = nowMs()
      val cg1 = Jvm.codegen(); val io1 = Jvm.procIo()
      passes += PassRec(pass, traced, start, end, (os.getProcessCpuTime - cpu0) / 1e9,
        (Jvm.gcMs() - gc0) / 1e3, io1.map { case (k, v) => k -> (v - io0.getOrElse(k, 0L)) },
        cg1._1 - cg0._1, math.max(0L, cg1._2 - cg0._2))
      // the buses are asynchronous: collect this pass's events before detaching
      trace.filter(_ => traced).foreach { t => if (!t.drain()) drainedAll = false; t.detach() }
      System.err.println(f"[perfbench] pass $pass%d${if (traced) " traced" else ""}: ${(end - start) / 1e3}%.3f s")
    }

    // ---- warm-up passes (the first is the cold pass), then measured passes.
    // Traced runs interleave untraced, traced, traced, untraced, ... so
    // that a warming trend favours neither side.
    for (p <- 0 until WarmupPasses if !record || p == 0) runPass(p, traced = false)
    Jvm.resetPeaks()
    val windowStart = System.nanoTime()
    var pass = WarmupPasses
    val lastMin = WarmupPasses + (if (traceRun) 4 else MinPasses) - 1
    while (!record && (pass <= lastMin || (System.nanoTime() - windowStart) / 1e9 < seconds)) {
      runPass(pass, traced = traceRun && Set(1, 2)((pass - WarmupPasses) % 4))
      pass += 1
    }
    val heapPeakMb = Jvm.heapPeakMb()
    val control = Jvm.control(spark)
    val loadEnd = os.getSystemLoadAverage

    if (record) {
      Json.writeGolden(goldenFile, recorded.toSeq)
      System.err.println(s"[perfbench] recorded ${recorded.size} keys into $goldenFile")
    }

    // ---- metrics
    def median(v: Seq[Double]): Double =
      if (v.isEmpty) 0.0 else { val s = v.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
    def quantile(v: Seq[Double], q: Double): Double =
      if (v.isEmpty) 0.0 else { val s = v.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }
    val warm = runs.toSeq.filter(_.pass >= WarmupPasses)
    def passTotal(rs: Seq[KeyRun]): Double =
      wl.keys.map(k => median(rs.filter(_.key == k).map(_.wallS))).sum
    val totalS = passTotal(warm.filterNot(_.traced))
    val attempted = runs.size
    val failed = runs.count(_.error.isDefined)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traceRun) {
      metrics("setup_s") = (setupS, "s")
      metrics("total_s") = (totalS, "s")
      metrics("ok_frac") = (1.0 - failed.toDouble / attempted, "ratio")
    } else {
      val t = trace.get
      val layer = new Layers(runs.toSeq, passes.toSeq, probes.toSeq, t, median, quantile)
      metrics ++= layer.metrics
      metrics("jvm.heap_peak_mb") = (heapPeakMb.toDouble, "MB")
      metrics("bench.first_pass_s") = (runs.filter(_.pass == 0).map(_.wallS).sum, "s")
      metrics("bench.trace_overhead") = (passTotal(warm.filter(_.traced)) / totalS, "ratio")
      metrics("bench.datagen_s") = (opts.get("datagen-s").map(_.toDouble).getOrElse(0.0), "s")
      metrics("bench.control_cpu_s") = (control("cpu"), "s")
      metrics("bench.control_shuffle_s") = (control("shuffle"), "s")
      metrics("bench.control_sort_s") = (control("sort"), "s")
      val spanFile = new File(outDir, s"spans-${wl.name}-seed$seed.jsonl")
      val maxSkew = Spans.write(spanFile, wl.name, runs.toSeq.filter(_.traced), passes.toSeq, t)
      System.err.println(f"[perfbench] spans: ${spanFile.getPath} (max |self sum - wall| / wall = $maxSkew%.4f, listeners drained: $drainedAll)")
    }
    val correct = mismatches == 0 && failed == 0
    val result = Json.result(correct, attempted, failed, metrics.toSeq)
    val host = Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> seed.toString, "trace" -> (if (traceRun) "1" else "0"),
      "seconds" -> Json.num(seconds), "nproc" -> cpus.toString,
      "cgroup_cpu_max" -> Json.str(Jvm.cgroupQuota()), "load_start" -> Json.num(loadStart),
      "load_end" -> Json.num(loadEnd), "steal_s" -> Json.num(Jvm.stealS() - stealStart),
      "commit" -> Json.str(opts.getOrElse("commit", "unknown")),
      "setup_s" -> Json.num(setupS),
      "control_s" -> Json.obj(control.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(Seq("pass" -> p.pass.toString,
        "traced" -> p.traced.toString, "wall_s" -> Json.num((p.end - p.start) / 1e3))))),
      "key_wall_s" -> Json.obj(wl.keys.map(k =>
        k -> Json.arr(runs.toSeq.filter(_.key == k).map(r => Json.num(r.wallS))))),
      "errors" -> Json.arr(runs.toSeq.flatMap(r => r.error.map(m => Json.str(s"${r.key}@${r.pass}: $m")))),
      "fail_frac" -> Json.num(failed.toDouble / attempted),
      "result" -> result))
    val rec = new PrintWriter(new File(outDir, s"run-${wl.name}-seed$seed-trace${if (traceRun) 1 else 0}.json"))
    try rec.println(host) finally rec.close()
    spark.stop()
    println(result)
    System.out.flush()
    sys.exit(if (correct || record) 0 else 1)
  }

  /** Order-insensitive content hash: the exact sum over rows of xxhash64
    * of every column (map columns via their JSON text). */
  def digest(df: DataFrame): String = {
    val n = df.columns.length
    if (n == 0) "0" else {
      val d = df.toDF((0 until n).map(i => s"c$i"): _*)
      val cols = d.schema.fields.toSeq.map(f => f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      })
      String.valueOf(d.select(sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head().get(0))
    }
  }
}

/** Session construction as `graft.Bench` does it, and a warm-up of the
  * paths every key shares (codegen'd aggregation, parquet scan). */
object Session {
  /** The set-up every run does: loads the engine's key table, builds the
    * session, registers the graft SQL functions and the `graftcat`
    * catalog, and warms up. Returns the session and the seconds from JVM
    * start to the end of the warm-up. */
  def setUp(dataDir: String): (SparkSession, Double) = {
    graft.SparkEntry.queries
    val spark = build(Runtime.getRuntime.availableProcessors())
    warmUp(spark, dataDir)
    (spark, (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
  }
  def build(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(s)
    graft.ops.Graftcat.register(s)
    s
  }
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dataDir/region.parquet").groupBy("r_name").count().collect()
  }
}

/** Process-level meters: GC, heap, /proc/self/io, codegen, control probes. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Long = heapPools.map(_.getPeakUsage.getUsed).sum >> 20
  /** (compiles, compile ms) from Spark's CodegenMetrics histogram. */
  def codegen(): (Long, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }
  def procIo(): Map[String, Long] = try {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().flatMap(_.split(":\\s*") match {
      case Array(k, v) => v.trim.toLongOption.map(k -> _)
      case _ => None
    }).toMap finally src.close()
  } catch { case _: Exception => Map.empty }
  /** CPU time the hypervisor gave to other guests (/proc/stat "steal"),
    * all CPUs, in seconds; 0 where unavailable. */
  def stealS(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    finally src.close()
  } catch { case _: Exception => 0.0 }
  def cgroupQuota(): String = try {
    val src = scala.io.Source.fromFile("/sys/fs/cgroup/cpu.max")
    try src.mkString.trim finally src.close()
  } catch { case _: Exception => "none" }

  /** graft.Bench's box-drift probes (codegen CPU, shuffle, sort); pure
    * Spark, independent of the engine's code. One run each, where
    * graft.Bench takes the median of three: the benchmark's many runs
    * give the distribution. */
  def control(spark: SparkSession): Map[String, Double] = {
    def probe(f: () => Unit): Double = { val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9 }
    Map(
      "cpu" -> probe(() => { spark.range(1L << 24)
        .selectExpr("sum(pmod(xxhash64(id), 1000000))").collect(); () }),
      "shuffle" -> probe(() => { spark.range(1L << 22).selectExpr("id % 100000 AS k")
        .groupBy("k").count().selectExpr("sum(count)").collect(); () }),
      "sort" -> probe(() => { spark.range(1L << 21).selectExpr("xxhash64(id) AS h")
        .orderBy("h").limit(5).collect(); () }))
  }
}
