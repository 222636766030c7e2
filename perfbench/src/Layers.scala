package perfbench

import java.io.File
import scala.collection.mutable

import graft.sources.AvroSnapshots

/** The `sources` layer measured from outside: after each traced key the
  * harness times direct calls to `AvroSnapshots.latest` and `versions` on
  * every table left in the catalog warehouse. */
object Sources {
  final case class Probe(run: Int, table: String, headMs: Double, versions: Int,
      files: Long, bytes: Long)

  def tables(root: File): Seq[File] =
    if (!root.isDirectory) Nil
    else if (new File(root, "_versions").isDirectory) Seq(root)
    else Option(root.listFiles).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName).flatMap(tables)

  private def usage(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(usage)
      .foldLeft((0L, 0L)) { case ((n, b), (n2, b2)) => (n + n2, b + b2) }
    else (1L, f.length)

  def probe(run: Int): Seq[Probe] = {
    val wh = new File(graft.ops.GraftTmp.dir("graftcat_wh"))
    tables(wh).map { t =>
      val p = t.getAbsolutePath
      val t0 = System.nanoTime()
      AvroSnapshots.latest(p)
      val headMs = (System.nanoTime() - t0) / 1e6
      val (files, bytes) = usage(t)
      Probe(run, wh.toPath.relativize(t.toPath).toString, headMs, AvroSnapshots.versions(p).size,
        files, bytes)
    }
  }
}

/** Per-layer metrics of a traced run. Sums and counts are means per traced
  * warm pass; percentiles pool every sample of the traced passes. */
final class Layers(runs: Seq[Main.KeyRun], passes: Seq[Main.PassRec],
    probes: Seq[Sources.Probe], t: Trace, median: Seq[Double] => Double,
    quantile: (Seq[Double], Double) => Double) {
  private val traced = runs.filter(_.traced)
  private val ids = traced.map(_.idx).toSet
  private val tPasses = passes.filter(_.traced)
  private val np = math.max(1, tPasses.size).toDouble
  private val MB = 1024.0 * 1024.0

  def metrics: Seq[(String, (Double, String))] = t.synchronized {
    val roots = t.execs.values.filter(x => x.root && ids(x.run)).toSeq
    val stmtMs = roots.filter(_.end >= 0).map(x => (x.end - x.start).toDouble)
    val planned = t.planned.filter(p => traced.exists(r => r.start <= p.start && p.start <= r.end)).toSeq
    def phase(p: String): Double = planned.map(_.phases.getOrElse(p, 0L)).sum / np
    val jobs = t.jobs.values.count(j => ids(j.run))
    val aggs = t.tasks.filter { case (r, _) => ids(r) }.values.toSeq
    def agg(f: TaskAgg => Long): Double = aggs.map(f).sum.toDouble
    val wallS = traced.map(_.wallS).sum
    val batches = t.batches.filter(b => ids(b.run)).toSeq
    def dur(k: String): Double = batches.map(_.durations.getOrElse(k, 0L)).sum / np
    val streamRuns = t.queryStarts.keySet.filter(ids)
    val triggerS = batches.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
    val lastPass = tPasses.lastOption.map(_.pass).getOrElse(-1)
    val lastProbeRun = traced.filter(_.pass == lastPass).map(_.idx).maxOption.getOrElse(-1)
    val finalProbes = probes.filter(_.run == lastProbeRun)
    def io(k: String): Double = tPasses.map(_.io.getOrElse(k, 0L)).sum / np
    Seq(
      "ops.build_s" -> (traced.map(_.buildS).sum / np, "s"),
      "ops.action_s" -> (traced.map(_.actionS).sum / np, "s"),
      "spark.statements" -> (roots.size / np, "count"),
      "spark.stmt_p50_ms" -> (median(stmtMs), "ms"),
      "spark.stmt_p90_ms" -> (quantile(stmtMs, 0.9), "ms"),
      "spark.parse_ms" -> (phase("parsing"), "ms"),
      "spark.analyze_ms" -> (phase("analysis"), "ms"),
      "spark.optimize_ms" -> (phase("optimization"), "ms"),
      "spark.plan_ms" -> (phase("planning"), "ms"),
      "spark.jobs" -> (jobs / np, "count"),
      "spark.stages" -> (agg(_.stages) / np, "count"),
      "spark.tasks" -> (agg(_.tasks) / np, "count"),
      "spark.task_sum_s" -> (agg(_.sumMs) / 1e3 / np, "s"),
      "spark.task_max_s" -> (aggs.map(_.maxMs).maxOption.getOrElse(0L) / 1e3, "s"),
      "spark.parallelism" -> (if (wallS > 0) agg(_.sumMs) / 1e3 / wallS else 0.0, "ratio"),
      "spark.task_wait_s" -> (agg(_.waitMs) / 1e3 / np, "s"),
      "spark.shuffle_write_mb" -> (agg(_.shuffleWriteB) / MB / np, "MB"),
      "spark.spill_mb" -> (agg(_.spillB) / MB / np, "MB"),
      "spark.records_read" -> (agg(_.recordsRead) / np, "count"),
      "spark.failed_tasks" -> (agg(_.failed) / np, "count"),
      "spark.codegen_n" -> (tPasses.map(_.cgN).sum / np, "count"),
      "spark.codegen_ms" -> (tPasses.map(_.cgMs).sum / np, "ms"),
      "sources.head_ms" -> (median(probes.map(_.headMs)), "ms"),
      "sources.versions" -> (if (finalProbes.isEmpty) 0.0
        else finalProbes.map(_.versions).sum.toDouble / finalProbes.size, "count"),
      "sources.table_files" -> (finalProbes.map(_.files).sum.toDouble, "count"),
      "sources.table_mb" -> (finalProbes.map(_.bytes).sum / MB, "MB"),
      "io.write_mb" -> (io("write_bytes") / MB, "MB"),
      "io.read_mb" -> (io("read_bytes") / MB, "MB"),
      "io.write_calls" -> (io("syscw"), "count"),
      "streaming.queries" -> (t.queryStarts.filter { case (r, _) => ids(r) }.values.sum / np, "count"),
      "streaming.batches" -> (batches.size / np, "count"),
      "streaming.batch_p50_ms" -> (median(batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)), "ms"),
      "streaming.add_batch_ms" -> (dur("addBatch"), "ms"),
      "streaming.wal_commit_ms" -> (dur("walCommit"), "ms"),
      "streaming.commit_offsets_ms" -> (dur("commitOffsets"), "ms"),
      "streaming.query_planning_ms" -> (dur("queryPlanning"), "ms"),
      "streaming.state_commit_ms" -> (batches.map(_.stateCommitMs).sum / np, "ms"),
      "streaming.input_rows" -> (batches.map(_.inputRows).sum / np, "count"),
      "streaming.lifecycle_s" -> (if (streamRuns.isEmpty) 0.0
        else (traced.filter(r => streamRuns(r.idx)).map(_.buildS).sum - triggerS) / np, "s"),
      "plans.graft_nodes" -> (planned.map(_.graftNodes).sum / np, "count"),
      "jvm.cpu_s" -> (tPasses.map(_.cpuS).sum / np, "s"),
      "jvm.gc_s" -> (tPasses.map(_.gcS).sum / np, "s"))
  }
}

/** Span tree of the traced passes, written as JSON lines:
  * workload → pass → key → build/action → statement or micro-batch → job.
  * All spans of one key run share `key_id`. A key's self times come from a
  * sweep over its interval that gives each instant to the deepest open
  * span (the latest-started on a tie), so they sum to the key's wall. */
object Spans {
  final case class Span(id: String, parent: String, kind: String, name: String,
      start: Double, end: Double, var depth: Int = 0, var self: Double = 0.0)

  def write(file: File, workload: String, runs: Seq[Main.KeyRun], passes: Seq[Main.PassRec],
      t: Trace): Double = t.synchronized {
    val out = mutable.ArrayBuffer.empty[(String, Span)]
    var maxSkew = 0.0
    val tPasses = passes.filter(_.traced)
    val wlStart = tPasses.map(_.start).minOption.getOrElse(0.0)
    val wlEnd = tPasses.map(_.end).maxOption.getOrElse(0.0)
    out += (("" , Span("w", "", "workload", workload, wlStart, wlEnd, 0,
      (wlEnd - wlStart) - tPasses.map(p => p.end - p.start).sum)))
    for (p <- tPasses) {
      val inPass = runs.filter(_.pass == p.pass)
      out += (("", Span(s"p${p.pass}", "w", "pass", s"pass ${p.pass}", p.start, p.end, 0,
        (p.end - p.start) - inPass.map(_.wallS * 1000).sum)))
      for (r <- inPass) {
        val kid = s"k${r.idx}"
        val key = Span(kid, s"p${p.pass}", "key", r.key, r.start, r.end)
        val mid = r.start + r.buildS * 1000
        val build = Span(s"$kid.build", kid, "build", "SparkEntry.queries", r.start, mid)
        val action = Span(s"$kid.action", kid, "action", "count", mid, r.end)
        def clip(s: Double) = math.max(r.start, math.min(r.end, s))
        def within(a: Seq[Span], at: Double) =
          a.filter(s => s.start <= at && at <= s.end).sortBy(s => -s.start).headOption
        val top = Seq(build, action)
        val batches = t.batches.filter(_.run == r.idx).zipWithIndex.map { case (b, i) =>
          val s = b.start.toDouble; val e = s + b.durations.getOrElse("triggerExecution", 0L)
          Span(s"$kid.m$i", within(top, s).getOrElse(key).id, "micro-batch",
            s"${b.query} batch", clip(s), clip(e))
        }.toSeq
        val execMap = t.execs.values.filter(_.run == r.idx).toSeq
        val stmts = execMap.map { x =>
          val s = x.start.toDouble; val e = if (x.end >= 0) x.end.toDouble else s
          Span(s"$kid.x${x.id}", within(batches, s).orElse(within(top, s)).getOrElse(key).id,
            if (x.root) "statement" else "sub-statement", s"execution ${x.id}", clip(s), clip(e))
        }
        val stmtById = execMap.map(_.id).zip(stmts).toMap
        val jobs = t.jobs.values.filter(_.run == r.idx).toSeq.map { j =>
          val s = j.start.toDouble; val e = if (j.end >= 0) j.end.toDouble else s
          val parent = stmtById.get(j.exec).orElse(within(batches, s)).orElse(within(top, s))
            .getOrElse(key)
          Span(s"$kid.j${j.id}", parent.id, "job", s"job ${j.id}", clip(s), clip(e))
        }
        val all = Seq(key) ++ top ++ batches ++ stmts ++ jobs
        val byId = all.map(s => s.id -> s).toMap
        def depth(s: Span): Int = if (s eq key) 0 else byId.get(s.parent).map(depth).getOrElse(0) + 1
        all.foreach(s => s.depth = depth(s))
        val cuts = all.flatMap(s => Seq(s.start, s.end)).distinct.sorted
        cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
          val open = all.filter(s => s.start <= a && b <= s.end)
          if (open.nonEmpty) open.maxBy(s => (s.depth, s.start)).self += b - a
        }
        val wall = r.wallS * 1000
        if (wall > 0) maxSkew = math.max(maxSkew, math.abs(all.map(_.self).sum - wall) / wall)
        all.foreach(s => out += ((kid, s)))
      }
    }
    val w = new java.io.PrintWriter(file)
    try out.foreach { case (kid, s) =>
      w.println(Json.obj(Seq("id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "key_id" -> Json.str(kid), "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "dur_ms" -> Json.num(s.end - s.start), "self_ms" -> Json.num(s.self))))
    } finally w.close()
    maxSkew
  }
}

/** Minimal JSON writing, and the golden file's one-entry-per-line format
  * (`"hash": null` marks a key checked on its row count only). */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(v: Seq[String]): String = v.mkString("[", ",", "]")
  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, (Double, String))]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })))

  private val Entry = """\s*"([^"]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*(null|"[-0-9]+")\s*\}\s*,?\s*""".r
  def readGolden(f: File): Map[String, (Long, Option[String])] = {
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collect { case Entry(k, rows, h) =>
      k -> (rows.toLong, if (h == "null") None else Some(h.stripPrefix("\"").stripSuffix("\"")))
    }.toMap finally src.close()
  }
  /** Merges `entries` into the golden file, keeping entries of other keys. */
  def writeGolden(f: File, entries: Seq[(String, (Long, String))]): Unit = {
    val old = if (f.exists) readGolden(f) else Map.empty[String, (Long, Option[String])]
    val merged = old ++ entries.map { case (k, (rows, h)) => k -> (rows, Some(h)) }
    val lines = merged.toSeq.sortBy(_._1).map { case (k, (rows, h)) =>
      s"  ${str(k)}: {\"rows\": $rows, \"hash\": ${h.map(str).getOrElse("null")}}" }
    val w = new java.io.PrintWriter(f)
    try w.println(lines.mkString("{\n", ",\n", "\n}")) finally w.close()
  }
}
