package wovedbench

import java.io.{File, FileWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftConfig

/** Benchmark entry point: one workload, one seed, one closed-loop client
  * thread driving the public `Graft` facade, then the result line.
  *
  * {{{
  * Main --workload ingest|serve --seed N --seconds S --trace 0|1
  *      --workdir DIR --results DIR
  * }}}
  * The last stdout line is the JSON result; the lines above it print
  * every metric by name with its unit, and the full record (geometry,
  * noise bracket, named metrics, checks) is appended to
  * `<results>/<workload>.jsonl`.
  */
object Main {
  /** The geometry every workload runs at: small enough that a cold JVM
    * builds a store in seconds on a few cores, with a Gaussian mixture of
    * twice as many centres as lists so the trained layout is balanced.
    */
  object Geometry {
    val dim = 64
    val nlist = 32
    val pqM = 8
    val centres = 2 * nlist
    val sigma = 1.0
    val batch = 2000 // limits.max_upsert_batch: every upsert call sends this many rows
    val queryBatch = 16 // limits.max_query_batch: searchPqBatch queries per call
    val serveCorpus = 2000 // one upsert call
    val serveGroups = 8 // serve's query stream: this many groups of max_query_batch queries
    val k = 10
  }

  def config: GraftConfig = {
    val c = GraftConfig.default
    c.copy(
      collection = c.collection.copy(dim = Geometry.dim, metric = "l2"),
      delta = c.delta.copy(nlist = Geometry.nlist),
      stable = c.stable.copy(nlist = Geometry.nlist, pqM = Geometry.pqM),
      // the ingest window's closing maintain() compacts once two cycles
      // have flushed (the set-up batch is the first delta segment)
      segment = c.segment.copy(maxSegmentsPerLeaf = 2),
      limits = c.limits.copy(maxUpsertBatch = Geometry.batch,
        maxQueryBatch = Geometry.queryBatch)).validate()
  }

  def geometryJson(cores: Int): String = {
    import Geometry._
    val c = config
    s"""{"dim":$dim,"metric":"${c.collection.metric}","nlist":$nlist,"pq_m":$pqM,""" +
      s""""rerank_factor":${c.stable.rerankFactor},"mixture_centres":$centres,"sigma":$sigma,""" +
      s""""max_upsert_batch":$batch,"ingest_new_overwrite_delete":"10:2:1",""" +
      s""""ingest_warmup_cycles":${Ingest.warmupCycles},"ingest_cycles":${Ingest.cycles},""" +
      s""""max_query_batch":$queryBatch,""" +
      s""""serve_corpus":$serveCorpus,"serve_queries":${serveGroups * queryBatch},""" +
      s""""k":$k,"max_segments_per_leaf":${c.segment.maxSegmentsPerLeaf},"clients":1,"spark_cores":$cores}"""
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workdir: File, results: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.names.contains(w), s"unknown workload '$w' (${Workload.names.mkString(", ")})")
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be >= 1")
    val tr = need("trace")
    require(tr == "0" || tr == "1", "--trace must be 0 or 1")
    Args(w, need("seed").toLong, secs, tr == "1", new File(need("workdir")), new File(need("results")))
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[wovedbench] ${e.getMessage}"); sys.exit(2)
    }
    val work = new File(a.workdir, s"run-${ProcessHandle.current().pid()}")
    Disk.delete(work)
    work.mkdirs()
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, config, a, work, cores)
    val exit =
      try ctx.run()
      finally {
        spark.stop()
        Disk.delete(work)
      }
    sys.exit(exit)
  }
}

/** One run's shared state: the session, the config, the tracer, the
  * operation counters and every sample the workload records.
  */
final class Ctx(val spark: SparkSession, val cfg: GraftConfig, val args: Main.Args,
    val work: File, val cores: Int) {
  val tracer = new Tracer(args.trace)
  val recorder: Option[JobRecorder] = if (args.trace) Some(new JobRecorder) else None
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Per-call latencies (ms) by facade operation. */
  val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** One timed facade call: counted as an attempted operation, failed
    * (and rethrown) when it throws.
    */
  def call[T](op: String)(f: => T): T = {
    attempted += 1
    val t = System.nanoTime()
    val r =
      try tracer.span("op:" + op)(f)
      catch { case e: Throwable => fail(s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}"); throw e }
    calls.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e6
    r
  }

  /** One correctness check: an attempted operation that fails loudly. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 50) failures += what
    System.err.println(s"[wovedbench] CHECK FAILED: $what")
  }

  /** Wall clock at the window's start: Spark work is attributed from here. */
  var windowStartMs = Long.MaxValue

  def run(): Int = {
    val w = Workload(args.workload, this)
    val before = mutable.LinkedHashMap.empty[String, Double]
    val after = mutable.LinkedHashMap.empty[String, Double]
    var e2e = Map.empty[String, Double]
    val named = mutable.LinkedHashMap.empty[String, (Double, String)]
    var layers = Map.empty[String, Double]
    var dominant = ""
    try {
      w.setup()
      val setupS = Jvm.uptimeS
      before("dispatch_floor_ms") = Noise.dispatchFloorMs(spark.sparkContext)
      before("cpu_fold_ms") = Noise.cpuFoldMs()
      recorder.foreach(spark.sparkContext.addSparkListener)
      windowStartMs = System.currentTimeMillis()
      val gc0 = Jvm.gcMs
      w.window(args.seconds)
      val gcMs = (Jvm.gcMs - gc0).toDouble
      val heapMb = Jvm.heapAfterGcMb
      val (wAmp, sAmp) = w.amplification()
      after("dispatch_floor_ms") = Noise.dispatchFloorMs(spark.sparkContext)
      after("cpu_fold_ms") = Noise.cpuFoldMs()
      w.checks()
      val (unitP50, thr, recall) = w.headline()
      e2e = Map("setup_s" -> setupS, "op_p50_ms" -> unitP50, "throughput_per_s" -> thr,
        "recall_at_10" -> recall, "write_amp" -> wAmp, "space_amp" -> sAmp, "heap_mb" -> heapMb)
      named ++= w.named()
      w.setupPhases.foreach { case (k, v) => named(k) = (v, "s") }
      if (args.trace) {
        val l = mutable.LinkedHashMap.empty[String, Double]
        l ++= w.layers()
        recorder.foreach { rec =>
          org.apache.spark.wovedbench.ListenerDrain.drain(spark.sparkContext)
          val spans = tracer.spans
          Workload.sparkOps.foreach { op =>
            val mine = spans.filter(s => s.name == "op:" + op && s.startMs >= windowStartMs)
              .map(rec.attribute)
            val n = math.max(1, mine.length).toDouble
            l(s"spark.jobs.$op") = mine.map(_._1).sum / n
            l(s"spark.tasks.$op") = mine.map(_._2).sum / n
            l(s"spark.task_ms.$op") = mine.map(_._3).sum / n
            l(s"spark.driver_ms.$op") = mine.map(_._4).sum / n
          }
        }
        l("spark.dispatch_floor_ms") = Stats.median(Seq(before("dispatch_floor_ms"), after("dispatch_floor_ms")))
        l("calib.cpu_fold_ms") = Stats.median(Seq(before("cpu_fold_ms"), after("cpu_fold_ms")))
        l("jvm.gc_ms") = gcMs
        l("jvm.heap_used_mb") = heapMb
        l("trace.op_p50_ms") = unitP50
        layers = l.toMap
        dominant = w.dominantLayer(layers)
      }
    } catch {
      case e: Throwable =>
        if (failed == 0) fail(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    } finally w.close()
    report(w, e2e, named.toSeq, layers, dominant, before.toMap, after.toMap)
  }

  /** Median `op_p50_ms` over this workload's recorded untraced runs. */
  private def untracedP50(): Option[(Double, Int)] = {
    val f = new File(args.results, s"${args.workload}.jsonl")
    if (!f.exists()) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val src = scala.io.Source.fromFile(f)
    val xs = try src.getLines().toList.flatMap { l =>
      scala.util.Try(mapper.readTree(l)).toOption
        .filter(r => !r.path("trace").asBoolean(true))
        .map(_.path("result").path("metrics").path("op_p50_ms").path("value"))
        .filter(_.isNumber).map(_.asDouble())
    } finally src.close()
    if (xs.isEmpty) None else Some((Stats.median(xs), xs.length))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def report(w: Workload, e2e: Map[String, Double], named: Seq[(String, (Double, String))],
      layers: Map[String, Double], dominant: String,
      before: Map[String, Double], after: Map[String, Double]): Int = {
    val correct = failed == 0 && e2e.nonEmpty
    val out = System.out
    out.println(s"workload ${args.workload} seed ${args.seed} seconds ${args.seconds} trace ${if (args.trace) 1 else 0}")
    out.println(s"geometry ${Main.geometryJson(cores)}")
    out.println("end-to-end:")
    Workload.e2eNames.filter(e2e.contains).foreach { k =>
      out.println(f"  $k%-28s ${num(e2e(k))}%s ${Workload.e2eUnits(k)}") }
    out.println("detail:")
    named.foreach { case (k, (v, u)) => out.println(f"  $k%-28s ${num(v)}%s $u") }
    out.println(s"noise before ${before.map { case (k, v) => s"$k=${num(v)}" }.mkString(" ")}" +
      s"; after ${after.map { case (k, v) => s"$k=${num(v)}" }.mkString(" ")}")
    if (layers.nonEmpty) {
      layers.toSeq.sortBy(_._1).foreach { case (k, v) => out.println(f"  layer $k%-30s ${num(v)}") }
      out.println(s"dominant layer: $dominant")
      untracedP50().foreach { case (p50, n) =>
        out.println(f"tracing overhead: op_p50_ms ${layers("trace.op_p50_ms")}%.1f traced vs $p50%.1f " +
          f"untraced (median of $n recorded runs), ${100 * (layers("trace.op_p50_ms") / p50 - 1)}%+.1f%%")
      }
    }
    out.println(s"operations attempted $attempted failed $failed")
    failures.foreach(f => out.println(s"  failed: $f"))

    val units = Workload.e2eUnits
    val metrics =
      if (args.trace) layers.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${quote(k)}:{\"value\":${num(v)},\"unit\":${quote(Workload.layerUnit(k))}}" }
      else Workload.e2eNames.filter(e2e.contains).map { k =>
        s"${quote(k)}:{\"value\":${num(e2e(k))},\"unit\":${quote(units(k))}}" }
    val line = s"""{"correct":$correct,"attempted":${math.max(1L, attempted)},"failed":$failed,""" +
      s""""metrics":{${metrics.mkString(",")}}}"""

    args.results.mkdirs()
    val rec = s"""{"workload":${quote(args.workload)},"seed":${args.seed},"seconds":${args.seconds},""" +
      s""""trace":${args.trace},"geometry":${Main.geometryJson(cores)},"result":$line,""" +
      s""""named":{${named.map { case (k, (v, u)) => s"${quote(k)}:{\"value\":${num(v)},\"unit\":${quote(u)}}" }.mkString(",")}},""" +
      s""""noise_before":{${before.map { case (k, v) => s"${quote(k)}:${num(v)}" }.mkString(",")}},""" +
      s""""noise_after":{${after.map { case (k, v) => s"${quote(k)}:${num(v)}" }.mkString(",")}},""" +
      s""""dominant_layer":${quote(dominant)},"failures":[${failures.map(quote).mkString(",")}]}"""
    val fw = new FileWriter(new File(args.results, s"${args.workload}.jsonl"), true)
    try fw.write(rec + "\n") finally fw.close()
    if (args.trace) {
      val tw = new FileWriter(new File(args.results, s"trace-${args.workload}-seed${args.seed}.json"))
      try tw.write(tracer.toJson) finally tw.close()
    }
    out.println(line)
    out.flush()
    if (correct) 0 else 1
  }
}
