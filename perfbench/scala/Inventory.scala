package graft.perfbench

import graft.config.{GraftConfig, SqliteDest, SqliteDestination}
import graft.engine.{ProgressListener, Runner, Source}
import graft.graph.{Graph, GraphNormalizer}
import org.apache.spark.sql.SparkSession

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** A synthetic multi-cloud inventory, generated from the seed: per source a
  * tree of kinds (kind i's parent kind is (i−1)/2), every node linked from
  * a node of its parent kind, plus one cross relation from the last kind to
  * kind 1. Counts are fixed by the shape; the seed picks the parents, the
  * cross edges and the property values.
  */
object Inventory {
  final case class SourceShape(name: String, kinds: Seq[String], nodes: Int)

  private val aws = Seq("account", "region", "vpc", "subnet", "security_group", "instance",
    "volume", "snapshot", "s3_bucket", "iam_role", "iam_user", "lambda", "rds_instance",
    "elb", "route53_zone", "cloudwatch_alarm", "eks_cluster", "ecs_service", "sqs_queue",
    "sns_topic", "dynamodb_table", "kms_key", "nat_gateway", "internet_gateway")
  private val gcp = Seq("project", "region", "zone", "network", "subnetwork", "instance",
    "disk", "bucket", "service_account", "cloud_function", "sql_instance", "firewall")
  private val azure = Seq("subscription", "resource_group", "virtual_network", "subnet",
    "virtual_machine", "disk")

  /** Three sources of unequal size, as "aws,gcp,azure kinds:aws,gcp,azure
    * nodes" — e.g. "24,12,6:60000,20000,10000" for the full kind lists.
    */
  def parseShape(spec: String): Seq[SourceShape] = {
    val Array(k, n) = spec.split(':').map(_.split(',').map(_.trim.toInt))
    require(k.length == 3 && n.length == 3, s"an inventory shape has three sources: $spec")
    Seq(("aws", aws), ("gcp", gcp), ("azure", azure)).zipWithIndex.map { case ((src, kinds), i) =>
      require(k(i) >= 2 && k(i) <= kinds.size, s"$src takes 2 to ${kinds.size} kinds")
      SourceShape(src, kinds.take(k(i)).map(s"${src}_" + _), n(i))
    }
  }

  /** The benchmark's inventory: 14 tables, about 12.6k rows. */
  val benchShape: Seq[SourceShape] = parseShape("3,2,2:3000,1500,750")

  /** The generated graph of one source, as the tables a correct snapshot
    * must hold: kind table → ids, link table → (from_id, to_id) pairs.
    */
  final case class Expected(ids: Map[String, Seq[String]], links: Map[String, Seq[(String, String)]]) {
    def rows: Long = ids.values.map(_.size.toLong).sum + links.values.map(_.size.toLong).sum
  }

  private def parentKind(i: Int): Int = (i - 1) / 2

  /** Write the JSON-lines export of `s` to `path`; returns what it holds. */
  def writeExport(s: SourceShape, seed: Long, path: String): Expected = {
    val rnd = new scala.util.Random(seed * 1000003L + s.name.hashCode)
    val k = s.kinds.size
    require(k >= 2, s"source ${s.name} needs at least two kinds")
    // root kind: two nodes; the rest share the remaining count evenly
    val perKind = (0 until k).map(i => if (i == 0) 2 else math.max(1, (s.nodes - 2) / (k - 1)))
    val ids = s.kinds.zip(perKind).map { case (kind, n) =>
      kind -> (0 until n).map(j => s"${s.name}:$kind:$j")
    }
    val idsOf = ids.toMap
    val links = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, String)]]
    def link(from: String, to: String) = links.getOrElseUpdate(s"link_${from}_$to", mutable.ArrayBuffer.empty)
    (1 until k).foreach { i =>
      val parents = idsOf(s.kinds(parentKind(i)))
      val l = link(s.kinds(parentKind(i)), s.kinds(i))
      idsOf(s.kinds(i)).foreach(c => l += (parents(rnd.nextInt(parents.size)) -> c))
    }
    // one cross relation, about 0.4 edges per node, no duplicate pairs
    val (cf, ct) = (s.kinds(k - 1), s.kinds(1))
    val cross = link(cf, ct)
    val seen = mutable.HashSet.empty[(String, String)] ++ cross
    val want = cross.size + (0.4 * s.nodes).toInt
    val (fs, ts) = (idsOf(cf), idsOf(ct))
    var guard = 0
    while (cross.size < want && guard < want * 20) {
      val e = fs(rnd.nextInt(fs.size)) -> ts(rnd.nextInt(ts.size))
      if (seen.add(e)) cross += e
      guard += 1
    }

    val states = Array("running", "stopped", "pending", "terminated")
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try {
      s.kinds.foreach { kind =>
        out.write(s"""{"type":"kind","fqn":"$kind","bases":[],"aggregate_root":true,"properties":[""" +
          """{"name":"id","kind":"string","required":true},{"name":"name","kind":"string","required":false},""" +
          """{"name":"kind","kind":"string","required":true},{"name":"tags","kind":"dictionary[string, string]","required":false},""" +
          """{"name":"ctime","kind":"datetime","required":false},{"name":"size","kind":"int64","required":false},""" +
          """{"name":"state","kind":"string","required":false}]}""")
        out.write('\n')
      }
      ids.foreach { case (kind, xs) =>
        xs.foreach { id =>
          val day = 1 + rnd.nextInt(28)
          out.write(s"""{"type":"node","id":"$id","kind":"$kind","reported":{"id":"$id",""" +
            s""""name":"${kind}-${rnd.nextInt(1000000)}","kind":"$kind","tags":{"owner":"team-${rnd.nextInt(16)}",""" +
            s""""env":"${if (rnd.nextBoolean()) "prod" else "dev"}"},"ctime":"2024-03-${"%02d".format(day)}T""" +
            s"""${"%02d".format(rnd.nextInt(24))}:00:00Z","size":${rnd.nextInt(1 << 20)},""" +
            s""""state":"${states(rnd.nextInt(states.length))}"}}""")
          out.write('\n')
        }
      }
      links.values.foreach(_.foreach { case (f, t) =>
        out.write(s"""{"type":"edge","from":"$f","to":"$t"}""")
        out.write('\n')
      })
    } finally out.close()
    Expected(ids.toMap, links.map { case (n, xs) => n -> xs.toSeq }.toMap)
  }

  def expectedJson(all: Seq[Expected]): String = Json(Json.obj(
    "kinds" -> all.flatMap(_.ids).toMap,
    "links" -> all.flatMap(_.links.map { case (n, ps) => n -> ps.map { case (f, t) => Seq(f, t) } }).toMap))
}

/** `etl_inventory`: each iteration ingests the three exports through
  * `Runner.run` into the default SQLite destination, under a fresh root.
  */
final class EtlInventory(ctx: Ctx, sources: Seq[Inventory.SourceShape]) extends Workload {
  import Inventory._

  // the first snapshot in a fresh JVM is cold (about 2.5x a warm one) and
  // the second still runs slow, so both are set-up
  override def warmUps: Int = 2

  private var inputs: String = _
  private var expected: Seq[Expected] = Nil
  private var exportBytes = 0L
  private def exportPath(src: String) = s"$inputs/$src.jsonl"
  private def expectedPath = s"$inputs/expected.json"

  def setup(): Map[String, Any] = {
    inputs = ctx.freshRoot("inputs")
    expected = sources.map(s => writeExport(s, ctx.seed, exportPath(s.name)))
    Files2.write(expectedPath, expectedJson(expected))
    exportBytes = sources.map(s => new java.io.File(exportPath(s.name)).length).sum
    require(Runner.SourceParallelism <= Host.nproc,
      s"Runner runs ${Runner.SourceParallelism} sources at once but only ${Host.nproc} CPUs are available")
    Map(
      "sources" -> sources.zip(expected).map { case (s, e) =>
        Json.obj("name" -> s.name, "kinds" -> s.kinds.size, "nodes" -> e.ids.values.map(_.size).sum,
          "edges" -> e.links.values.map(_.size).sum, "tables" -> (e.ids.size + e.links.size),
          "export_bytes" -> new java.io.File(exportPath(s.name)).length)
      },
      "tables" -> expected.map(e => e.ids.size + e.links.size).sum,
      "rows" -> expected.map(_.rows).sum,
      "export_bytes" -> exportBytes,
      "destination" -> "sqlite")
  }

  // per-iteration trace bookkeeping, filled by the engine's callbacks
  private final class Phases {
    val sourceSpan = new java.util.concurrent.ConcurrentHashMap[String, Span]()
    val collectSpan = new java.util.concurrent.ConcurrentHashMap[String, Span]()
    val doneMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile var commit: Span = _
    @volatile var run: Span = _
  }
  private var phases = new Phases

  private def registry(ph: Phases): Map[String, Source] = sources.map { s =>
    s.name -> (new Source {
      val name: String = s.name
      def collect(spark: SparkSession): Graph = {
        val sp = if (ctx.tracing) ctx.tracer.open("collect", "sources", ph.sourceSpan.get(name)) else null
        try GraphNormalizer.fromJsonExport(spark, exportPath(name))
        finally if (sp != null) { ctx.tracer.close(sp); ph.collectSpan.put(name, sp) }
      }
    }: Source)
  }.toMap

  private def listener(ph: Phases): ProgressListener = new ProgressListener {
    def progress(source: String, message: String): Unit =
      if (ctx.tracing) {
        if (message == "collect started")
          ph.sourceSpan.put(source, ctx.tracer.open(s"source:$source", "engine", ph.run))
        else if (message.startsWith("collect done")) {
          ph.doneMs.put(source, System.currentTimeMillis())
          Option(ph.sourceSpan.get(source)).foreach(ctx.tracer.close)
        }
      }
    override def progressDone(task: String, current: Int, total: Int): Unit =
      if (ctx.tracing) {
        if (current == 0) ph.commit = ctx.tracer.open("commit", "sink", ph.run)
        else if (current == total && ph.commit != null) ctx.tracer.close(ph.commit)
      }
  }

  /** Ingest the exports into a SQLite snapshot at `db` through the engine. */
  def ingest(db: String): (Op, graft.engine.RunReport) = {
    val ph = new Phases
    phases = ph
    val config = GraftConfig(sources.map(_.name -> Map.empty[String, String]).toMap,
      SqliteDest(SqliteDestination(db)))
    val reg = registry(ph)
    val lis = listener(ph)
    var report: graft.engine.RunReport = null
    val op = ctx.op("Runner.run", "engine") { sp =>
      ph.run = sp
      report = Runner.run(ctx.spark, config, reg, lis)
    }
    (op, report)
  }

  /** Problems of a committed snapshot: empty when it holds exactly the
    * generated graph.
    */
  def verify(db: String, report: graft.engine.RunReport): Seq[String] = {
    val want = expectedRows
    val fromReport =
      if (report == null) Seq("Runner.run returned no report")
      else if (report.totalNodes + report.totalEdges != want)
        Seq(s"run report counts ${report.totalNodes + report.totalEdges} rows, the generated graph has $want")
      else Nil
    fromReport ++ SqliteCheck.run(ctx.python, ctx.benchDir, db, expectedPath)
  }

  private def expectedRows: Long = expected.map(_.rows).sum

  def iteration(i: Int): Iteration = {
    val root = ctx.freshRoot("etl")
    val db = s"$root/inventory.db"
    val (op, report) = ingest(db)
    val failures = if (op.ok) verify(db, report) else Seq("Runner.run failed")
    val dbBytes = new java.io.File(db).length.toDouble
    Files2.deleteTree(root)
    Iteration(Seq(op), failures, Map("rows" -> expectedRows.toDouble, "at_rest_bytes" -> dbBytes))
  }

  def layers(it: Iteration): Map[String, Double] = {
    val t = ctx.tracer
    val ph = phases
    val groupPrefix = "graft-run-"
    def sourceOf(group: String): Option[String] =
      if (!group.startsWith(groupPrefix)) None
      else sources.map(_.name).find(n => group.endsWith("-" + n))
    val owner = t.attribute(Thread.currentThread().getId, g => sourceOf(g).flatMap(s => Option(ph.sourceSpan.get(s))))
    val jobs = t.allJobs.filter(j => owner.contains(j.id))
    val inRun = jobs.filter(j => ph.run != null && (sourceOf(j.group).nonEmpty ||
      (j.startMs >= ph.run.startMs && j.startMs <= ph.run.endMs)))
    val sourceJobs = inRun.filter(j => sourceOf(j.group).nonEmpty)
    def collectEnd(j: JobRec): Long =
      sourceOf(j.group).flatMap(s => Option(ph.collectSpan.get(s))).map(_.endMs).getOrElse(Long.MaxValue)
    val (collectJobs, afterCollect) = sourceJobs.partition(j => j.startMs <= collectEnd(j))
    // a staging write is a job whose action was called in SnapshotSink;
    // the rest after collect is normalization
    val (stageJobs, graphJobs) = afterCollect.partition(j => t.siteOf(j).contains("SnapshotSink"))
    val commitJobs = inRun.filter(j => ph.commit != null && owner.get(j.id).exists(_.id == ph.commit.id))
    val commitS = if (ph.commit == null || ph.commit.endNs < 0) 0.0 else ph.commit.seconds
    val rows = it.quantities("rows")
    val tables = expected.map(e => e.ids.size + e.links.size).sum.toDouble
    val done = sources.flatMap(s => Option(ph.doneMs.get(s.name)).map(_.longValue))
    val last = if (done.isEmpty) 0L else done.max
    val perSource = sources.map { s =>
      s"engine.source_s.${s.name}" -> Option(ph.sourceSpan.get(s.name)).filter(_.endNs >= 0).map(_.seconds).getOrElse(0.0)
    }
    Map(
      "sources.collect_s" -> sources.flatMap(s => Option(ph.collectSpan.get(s.name))).map(_.seconds).sum,
      "sources.jobs" -> collectJobs.size.toDouble,
      "graph.export_read_amplification" -> sourceJobs.map(_.inputBytes).sum.toDouble / exportBytes,
      "graph.jobs" -> graphJobs.size.toDouble,
      "sink.stage_jobs" -> stageJobs.size.toDouble,
      "sink.stage_task_s" -> stageJobs.map(_.taskMs).sum / 1000.0,
      "engine.barrier_wait_s" -> done.map(d => (last - d) / 1000.0).sum,
      "engine.jobs_per_snapshot" -> inRun.size.toDouble,
      "engine.jobs_per_table" -> inRun.size / tables,
      "sink.commit_s" -> commitS,
      "sink.commit_jobs" -> commitJobs.size.toDouble,
      "sink.commit_driver_s" ->
        (if (ph.commit == null) 0.0 else Trace.driverSeconds(ph.commit.startMs, ph.commit.endMs, commitJobs)),
      "sink.commit_rows_per_s" -> (if (commitS > 0) rows / commitS else 0.0),
      "sink.db_bytes_per_row" -> it.quantities("at_rest_bytes") / rows
    ) ++ perSource
  }
}

/** The independent check of a committed SQLite snapshot: Python's sqlite3
  * reads the file, so the engine's own reader is not judging its writer.
  */
object SqliteCheck {
  def run(python: String, benchDir: String, db: String, expected: String): Seq[String] = {
    val pb = new ProcessBuilder(python, s"$benchDir/check_sqlite.py", db, expected)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8).trim
    val code = p.waitFor()
    if (code == 0) Nil else Seq(s"sqlite check: ${if (out.isEmpty) s"exit $code" else out}")
  }
}
