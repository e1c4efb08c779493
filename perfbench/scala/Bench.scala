package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The benchmark's measured run loop. One process runs one workload:
  *
  *   set-up (session start, inputs made from the seed, the workload's
  *   warm-up iterations) → iterations until `--seconds` have passed →
  *   result file.
  *
  * Load is one client in a closed loop: the next operation starts when the
  * previous one returned. With `--trace 1` a [[Tracer]] listens, spans are
  * recorded around every call into a layer on alternate iterations, and
  * the iterations in between measure what the recording costs.
  *
  * Usage (normally through `run.py`):
  *   Bench --workload W --seed N --seconds S --trace 0|1 --bench-dir D
  *         --work DIR --out FILE --python EXE [--record DIR] [--etl-shape K,K,K:N,N,N]
  *   Bench --selftest --bench-dir D --work DIR --out FILE --python EXE
  */
object Bench {
  val Workloads = Seq("etl_inventory", "queries", "index_maintenance")

  def session(work: String, threads: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val selftest = argv.contains("--selftest")
    val args = argv.filterNot(_ == "--selftest").grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val work = arg("work")
    val benchDir = arg("bench-dir")
    val out = arg("out")
    val python = arg("python")
    val threads = Host.nproc
    val code =
      try {
        if (selftest) SelfTest.run(benchDir, work, out, python, threads)
        else {
          val workload = arg("workload")
          require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
          run(workload, arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1", benchDir, work, out,
            python, threads, args.get("record"), args.get("etl-shape"))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
      }
    sys.exit(code)
  }

  /** Recorded digests: `expected/<name>.json`, a flat object of strings. */
  def digests(benchDir: String, name: String): Map[String, String] = {
    val f = new java.io.File(s"$benchDir/expected/$name.json")
    if (!f.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }

  def workload(name: String, ctx: Ctx, record: Option[String], etlShape: Option[String]): Workload = name match {
    case "etl_inventory" => new EtlInventory(ctx, etlShape.map(Inventory.parseShape).getOrElse(Inventory.benchShape))
    case "queries" => QueryWorkload(ctx, digests(ctx.benchDir, "query_digests"), record)
    case "index_maintenance" => new IndexLifecycle(ctx, digests(ctx.benchDir, "index_digests"), record)
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean, benchDir: String, work: String,
                  out: String, python: String, threads: Int, record: Option[String],
                  etlShape: Option[String]): Int = {
    val setupStart = Host.jvmStartMs
    val spark = session(work, threads)
    val sessionMs = System.currentTimeMillis()
    val tracer = if (trace) { val t = new Tracer; spark.sparkContext.addSparkListener(t); t } else null
    val ctx = new Ctx(spark, seed, work, benchDir, python, tracer)
    val w = workload(name, ctx, record, etlShape)
    val inputs = w.setup()
    val inputsMs = System.currentTimeMillis()
    val failures = mutable.ArrayBuffer.empty[String]
    // a traced run warms up once more, so its recording-on and
    // recording-off iterations both run warm and its overhead compares like
    // with like
    val warm = Seq.fill(w.warmUps + (if (trace) 1 else 0))(w.iteration(0))
    warm.foreach(it => failures ++= it.failures.map("warm-up: " + _))
    val setupS = (System.currentTimeMillis() - setupStart) / 1000.0

    // measured iterations; traced runs alternate recording on and off
    val iters = mutable.ArrayBuffer.empty[(Iteration, Boolean, Double, Double)]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val minIters = if (trace) 2 else 1
    val t0 = System.nanoTime()
    var i = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds || iters.size < minIters) {
      val recording = trace && iters.size % 2 == 0
      if (tracer != null) { tracer.drain(); tracer.rollover(); tracer.recording = recording }
      System.gc() // the previous iteration's garbage is not this one's cost
      Host.resetHeapPeak()
      val gc0 = Host.gcSeconds
      val it = ctx.span(s"iteration $i", "workload")(_ => w.iteration(i))
      val gc = Host.gcSeconds - gc0
      if (tracer != null) {
        tracer.recording = false
        if (recording) {
          tracer.drain()
          layerRows += w.layers(it) ++ Map("spark.gc_s" -> gc, "driver.heap_peak_mb" -> Host.heapPeakMb) ++
            Trace.selfSeconds(tracer.allSpans).map { case (l, s) => s"self_s.$l" -> s }
        }
      }
      iters += ((it, recording, gc, Host.heapPeakMb))
      failures ++= it.failures.map(f => s"iteration $i: $f")
      i += 1
    }
    if (tracer != null) tracer.drain()
    w match { case q: QueryWorkload => q.writeRecord() case _ => }

    val measured = iters.filterNot(_._2).map(_._1)
    val ops = measured.flatMap(_.ops)
    val okOps = ops.filter(_.ok)
    val lat = if (okOps.isEmpty) Seq(Double.NaN) else okOps.map(_.seconds).toSeq
    val (pctlV, pctlP, pctlN) = Stats.tail(lat)
    // each operation's median latency over the measured iterations: their
    // sum is the iteration time, their median the typical latency and their
    // maximum the tail, which keeps all three independent of how many
    // iterations fitted in the run and of one slow sample. (The highest
    // percentile with ten samples beyond it is reported beside them; with
    // the few dozen operations of a run it falls below the median.)
    val perOp = okOps.groupBy(_.name).map { case (_, xs) => Stats.median(xs.map(_.seconds).toSeq) }
    val iterS = if (perOp.isEmpty) Double.NaN else perOp.sum
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "iteration_s" -> iterS,
      "latency_p50_s" -> (if (perOp.isEmpty) Double.NaN else Stats.median(perOp.toSeq)),
      "latency_tail_s" -> (if (perOp.isEmpty) Double.NaN else perOp.max),
      "latency_p_10_beyond_s" -> pctlV,
      "latency_p_10_beyond_percentile" -> pctlP,
      "latency_samples" -> pctlN,
      "at_rest_bytes_per_row" ->
        Stats.median(measured.map(m => m.quantities("at_rest_bytes") / m.quantities("rows")).toSeq),
      "failed_share" -> (ops.size - okOps.size).toDouble / ops.size)
    name match {
      case "etl_inventory" =>
        e2e("snapshot_s") = iterS
        e2e("snapshot_rows_per_s") = measured.head.quantities("rows") / iterS
      case "index_maintenance" => e2e("cycle_s") = iterS
      case "queries" => e2e("pass_s") = iterS
    }

    val layers: Map[String, Double] =
      if (layerRows.isEmpty) Map.empty
      else {
        val keys = layerRows.flatMap(_.keys).distinct
        val med = keys.map(k => k -> Stats.median(layerRows.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val on = iters.filter(_._2).map(_._1.seconds).toSeq
        val off = iters.filterNot(_._2).map(_._1.seconds).toSeq
        med + ("trace.overhead_share" -> (Stats.median(on) / Stats.median(off) - 1.0))
      }

    val result = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "host" -> Json.obj("nproc" -> Host.nproc, "spark_threads" -> threads,
        "driver_threads" -> (1 + graft.engine.Runner.SourceParallelism), "heap_max_mb" -> Host.heapMaxMb,
        "jdk" -> Host.jdk, "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString),
      "load" -> "one client, closed loop",
      "inputs" -> inputs,
      "setup_s" -> setupS,
      "setup_phases" -> Json.obj("jvm_and_session_s" -> (sessionMs - setupStart) / 1000.0,
        "inputs_s" -> (inputsMs - sessionMs) / 1000.0, "warmup_s" -> warm.map(_.seconds).sum),
      "iterations" -> iters.map { case (it, rec, gc, heap) =>
        Json.obj("seconds" -> it.seconds, "traced" -> rec, "operations" -> it.ops.size,
          "failed" -> it.ops.count(!_.ok), "gc_s" -> gc, "heap_peak_mb" -> heap)
      },
      "operations" -> measured.flatMap(_.ops).map(o => Json.obj("name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok)),
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "attempted" -> ops.size,
      "failed" -> (ops.size - okOps.size),
      "failures" -> failures,
      "correct" -> failures.isEmpty)
    Files2.write(out, Json(result))
    if (tracer != null) writeSpans(out.stripSuffix(".json") + ".spans.jsonl", tracer)
    spark.stop()
    0
  }

  private def writeSpans(path: String, t: Tracer): Unit = {
    val (spans, jobs) = t.history
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(Json(Json.obj("span" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "thread" -> s.thread, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds))).append('\n')
    }
    jobs.foreach { j =>
      sb.append(Json(Json.obj("job" -> j.id, "group" -> j.group, "site" -> j.site, "execution" -> j.execution,
        "action_site" -> t.siteOf(j).linesIterator.take(3).mkString(" | "), "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stages, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes, "input_bytes" -> j.inputBytes,
        "output_bytes" -> j.outputBytes))).append('\n')
    }
    Files2.write(path, sb.toString)
  }
}
