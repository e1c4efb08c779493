package graft.perfbench

import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

/** Shows that every correctness check of the benchmark bites: each check
  * passes on a real output and fails on a deliberately corrupted copy of
  * it. Runs at small size; exits non-zero if any check does not bite.
  */
object SelfTest {
  private final case class Case(check: String, corruption: String, caught: Boolean, detail: String)

  def run(benchDir: String, work: String, out: String, python: String, threads: Int): Int = {
    val spark = Bench.session(work, threads)
    val ctx = new Ctx(spark, 7L, work, benchDir, python, null)
    val cases = mutable.ArrayBuffer.empty[Case]
    def record(check: String, corruption: String, problems: Seq[String], shouldFail: Boolean): Unit = {
      val c = Case(check, corruption, problems.nonEmpty == shouldFail, problems.headOption.getOrElse("no problem found"))
      System.err.println(s"[selftest] ${if (c.caught) "ok  " else "FAIL"} $check / $corruption: ${c.detail}")
      cases += c
    }

    // etl_inventory: the SQLite snapshot check
    val etl = new EtlInventory(ctx, Inventory.parseShape("3,2,2:120,60,30"))
    etl.setup()
    val root = ctx.freshRoot("selftest-etl")
    val db = s"$root/inventory.db"
    val (op, report) = etl.ingest(db)
    require(op.ok, "the self-test snapshot failed")
    record("etl_inventory snapshot", "none", etl.verify(db, report), shouldFail = false)
    for (mode <- Seq("drop_link_row", "change_kind_id", "drop_table", "corrupt_page")) {
      val copy = s"$root/$mode.db"
      Files.copy(Paths.get(db), Paths.get(copy), StandardCopyOption.REPLACE_EXISTING)
      val p = new ProcessBuilder(python, s"$benchDir/check_sqlite.py", "--corrupt", mode, copy).inheritIO().start()
      require(p.waitFor() == 0, s"could not corrupt the snapshot ($mode)")
      record("etl_inventory snapshot", mode, etl.verify(copy, report), shouldFail = true)
    }
    Files2.deleteTree(root)

    // query workloads: the recorded result digest
    val expected = Bench.digests(benchDir, "query_digests")
    for (name <- Seq(QueryLists.queries.head._1, QueryLists.queries.last._1)) {
      val q = graft.SparkEntry.queries(name)
      val df = graft.CacheTracker.scope { q(spark, ctx.dataDir) }
      val rows = graft.CacheTracker.scope { df.collect() }.toSeq
      val cols = df.columns.toSeq
      def check(rs: Seq[org.apache.spark.sql.Row]): Seq[String] = {
        val d = Digest.ofResult(cols, rs)
        if (expected.get(name).contains(d)) Nil else Seq(s"$name digest $d, recorded ${expected.getOrElse(name, "none")}")
      }
      record(s"queries $name digest", "none", check(rows), shouldFail = false)
      record(s"queries $name digest", "drop_row", check(rows.dropRight(1)), shouldFail = true)
      val changed = org.apache.spark.sql.Row.fromSeq(rows.head.toSeq.updated(0, rows.head.get(0) match {
        case s: String => s + "x"
        case n: java.lang.Long => n + 1
        case n: java.lang.Integer => n + 1
        case d: java.lang.Double => d + 1e-9
        case other => String.valueOf(other) + "x"
      }))
      record(s"queries $name digest", "change_value", check(changed +: rows.tail), shouldFail = true)
    }

    // index_maintenance: fsck, stored rows and probe results
    val idx = new IndexLifecycle(ctx, Bench.digests(benchDir, "index_digests"), None)
    idx.setup()
    val iroot = ctx.freshRoot("selftest-index")
    for (f <- idx.families) {
      val tree = s"$iroot/$f"
      val (ops, rows, issues) = idx.lifecycle(f, tree)
      require(ops.forall(_.ok), s"the self-test lifecycle of $f failed")
      record(s"index_maintenance $f", "none", idx.verify(f, tree, rows, issues), shouldFail = false)
      val data = Files2.listing(tree).keys.filter(_.endsWith(".parquet")).toSeq.sorted
      val victim = data.find(p => f != "Bm25Index" || p.startsWith("postings.parquet/")).get
      if (f != "Bm25Index") {
        // a partition directory outside the tree's layout, holding a copy
        // of a real data file: rows probes can never see
        val foreign = f match {
          case "DedupIndex" => s"$tree/band=0/bucket=999"
          case "SubstringIndex" => s"$tree/bucket=999"
          case "AnnIndex" => s"$tree/cid=999999"
        }
        Files.createDirectories(Paths.get(foreign))
        Files.copy(Paths.get(s"$tree/$victim"), Paths.get(s"$foreign/part-99999-foreign.parquet"))
        record(s"index_maintenance $f fsck", "foreign_partition", idx.fsckNow(f, tree), shouldFail = true)
        Files2.deleteTree(foreign)
      }
      // a lost data file: the stored rows no longer equal the reference
      Files.delete(Paths.get(s"$tree/$victim"))
      record(s"index_maintenance $f rows", "lost_file", idx.verify(f, tree, rows, Nil), shouldFail = true)
      // a wrong probe answer
      record(s"index_maintenance $f probe", "drop_probe_row",
        idx.verify(f, tree, rows.dropRight(1), Nil).filter(_.contains("probe")), shouldFail = true)
      if (f == "Bm25Index") {
        // BM25's fsck checks the corpus scalars against the postings: an
        // append whose postings landed but whose meta fold was lost
        val newDocs = graft.Tables.documents(spark, ctx.dataDir)
          .filter(col("doc_id") < 5).withColumn("doc_id", col("doc_id") + 1000000)
        graft.ext.Bm25Index.appendPostings(newDocs, tree)
        record(s"index_maintenance $f fsck", "meta_fold_lost", idx.fsckNow(f, tree), shouldFail = true)
      }
    }
    Files2.deleteTree(iroot)
    spark.stop()

    val bad = cases.filterNot(_.caught)
    Files2.write(out, Json(Json.obj(
      "selftest" -> cases.map(c => Json.obj("check" -> c.check, "corruption" -> c.corruption,
        "as_expected" -> c.caught, "detail" -> c.detail)),
      "all_bite" -> bad.isEmpty)))
    if (bad.isEmpty) 0 else 1
  }
}
