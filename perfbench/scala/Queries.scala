package graft.perfbench

import graft.CacheTracker
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** The `queries` workload's list: a fixed sample of the query surface,
  * sized so a pass takes a few seconds (README.md, "Scale"), with the
  * layer each query belongs to.
  */
object QueryLists {
  val queries: Seq[(String, String)] = Seq(
    "q_join_shipping_priority" -> "operators", // Relational: 3-way join, aggregate, top-k
    "q_window_rank" -> "operators",            // Relational: window function
    "q_events_session" -> "operators",         // Events: sessionization
    "q_date_funcs" -> "functions",             // Scalars: date functions
    // read-side curation; neither memoizes an at-rest artifact, so every
    // run builds its whole plan
    "q_dedup_clusters" -> "ext",               // connected components, a checkpoint per round
    "q_text_bloom_decontam" -> "ext")          // bloom-filter decontamination
}

/** `queries`: one iteration is one pass over the list in a seed-permuted
  * order; each query is one operation, built and
  * collected to the client under a `CacheTracker.scope` (how the product's
  * runners execute queries). Every result is checked against the digest
  * recorded from a run whose outputs `scripts/check.py` matched against
  * the DuckDB oracle.
  */
final class QueryWorkload(ctx: Ctx, queries: Seq[(String, String, (SparkSession, String) => DataFrame)],
                          digests: Map[String, String], recordDir: Option[String]) extends Workload {
  private val rnd = new scala.util.Random(ctx.seed)
  // the first pass runs cold and the second still compiles hot code
  // (about 30 % slower than the passes after it)
  override def warmUps: Int = 2
  private val recorded = mutable.LinkedHashMap.empty[String, String]
  // the committed tables the queries read: this workload's data at rest
  private var dataAtRest = Map.empty[String, Double]

  def setup(): Map[String, Any] = {
    val missing = queries.map(_._1).filterNot(digests.contains)
    require(recordDir.nonEmpty || missing.isEmpty,
      s"no recorded result digest for ${missing.mkString(", ")}")
    val tables = new java.io.File(ctx.dataDir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    // row counts from the parquet footers: no Spark job before the warm-up
    def rows(f: java.io.File): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getRecordCount finally r.close()
    }
    val counts = tables.map(f => (f, rows(f)))
    dataAtRest = Map("rows" -> counts.map(_._2).sum.toDouble, "at_rest_bytes" -> tables.map(_.length).sum.toDouble)
    Map(
      "queries" -> queries.map(_._1),
      "data_tables" -> counts.map { case (f, n) => Json.obj("name" -> f.getName.stripSuffix(".parquet"),
        "rows" -> n, "bytes" -> f.length) }.toSeq)
  }

  def iteration(i: Int): Iteration = {
    val order = rnd.shuffle(queries)
    val failures = mutable.ArrayBuffer.empty[String]
    val ops = order.map { case (name, layer, build) =>
      var cols: Seq[String] = Nil
      var rows: Array[Row] = null
      val op = ctx.op(name, layer) { _ =>
        CacheTracker.scope {
          val df = build(ctx.spark, ctx.dataDir)
          rows = df.collect()
          cols = df.columns.toSeq
        }
      }
      // drop what the query cached and collect its garbage now, rather than
      // while the next query runs
      ctx.spark.catalog.clearCache()
      System.gc()
      if (op.ok) {
        val d = Digest.ofResult(cols, rows)
        recordDir match {
          case Some(dir) if !recorded.contains(name) =>
            recorded(name) = d
            val schema = build(ctx.spark, ctx.dataDir).schema
            ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          case Some(_) if recorded(name) != d => failures += s"$name: result digest changed between passes"
          case Some(_) =>
          case None => if (digests(name) != d) failures += s"$name: result digest $d, recorded ${digests(name)}"
        }
      } else failures += s"$name failed"
      op
    }
    Iteration(ops, failures.toSeq, dataAtRest)
  }

  /** Write the digests and the oracle SQL of the recorded queries, for
    * `scripts/check.py <dir> <data>`.
    */
  def writeRecord(): Unit = recordDir.foreach { dir =>
    Files2.write(s"$dir/digests.json", Json(recorded))
    val oracles = graft.SparkEntry.oracleSql.filter(kv => recorded.contains(kv._1))
    Files2.write(s"$dir/oracle_sql.json", Json(oracles))
  }

  def layers(it: Iteration): Map[String, Double] = {
    val t = ctx.tracer
    val opSpans = t.allSpans.filter(s => s.endNs >= 0 && queries.exists(_._1 == s.name))
    val owner = t.attribute(Thread.currentThread().getId, _ => None)
    val jobsBySpan = t.allJobs.filter(j => owner.contains(j.id)).groupBy(j => owner(j.id).id)
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Seq("operators", "functions", "ext")) {
      val ss = opSpans.filter(_.layer == layer)
      val js = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      out(s"$layer.wall_s") = ss.map(_.seconds).sum
      out(s"$layer.jobs") = js.size.toDouble
      out(s"$layer.stages") = js.map(_.stages).sum.toDouble
      out(s"$layer.task_s") = js.map(_.taskMs).sum / 1000.0
      out(s"$layer.driver_s") = ss.map(s => Trace.driverSeconds(s.startMs, s.endMs, jobsBySpan.getOrElse(s.id, Nil))).sum
      out(s"$layer.shuffle_bytes") = js.map(_.shuffleBytes).sum.toDouble
      out(s"$layer.spill_bytes") = js.map(_.spillBytes).sum.toDouble
      out(s"$layer.gc_s") = js.map(_.gcMs).sum / 1000.0
      if (layer == "ext") out("ext.jobs_per_query") = if (ss.isEmpty) 0.0 else js.size.toDouble / ss.size
    }
    out.toMap
  }
}

object QueryWorkload {
  def apply(ctx: Ctx, digests: Map[String, String], record: Option[String]): QueryWorkload =
    new QueryWorkload(ctx, QueryLists.queries.map { case (n, layer) => (n, layer, graft.SparkEntry.queries(n)) },
      digests, record)
}
