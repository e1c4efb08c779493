package graft.perfbench

import graft.ext.{AnnIndex, Bm25Index, Dedup, DedupIndex, Similarity, SubstringIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `index_maintenance`: per iteration, one full at-rest lifecycle of each
  * index family on a fresh root — write → append (and, for `AnnIndex`,
  * `appendSwapped`) → compact → fsck → load + probe. The seed decides which
  * rows form the base and which the appended batches.
  *
  * No warm-up iteration: maintenance runs as a job in a fresh process, so
  * the first lifecycle after set-up (which has already run Spark jobs over
  * the inputs) is the one a user pays for.
  *
  * Correctness: fsck is clean, and the maintained tree's rows and probe
  * results equal those of a one-shot `write` over the same rows. Those do
  * not depend on the seed (every row ends up indexed), so their digests are
  * recorded once (`--record`) in expected/index_digests.json.
  */
final class IndexLifecycle(ctx: Ctx, expected: Map[String, String], recordDir: Option[String]) extends Workload {
  private val spark = ctx.spark
  override def warmUps: Int = 0
  val families = Seq("DedupIndex", "SubstringIndex", "Bm25Index", "AnnIndex")
  private val terms = Seq("vector", "stream", "window", "merge")

  private var docs: DataFrame = _
  private var banded: DataFrame = _
  private var vecs: DataFrame = _
  private var cents: Seq[(Long, Seq[Double], Double)] = _
  private var cb: Seq[Seq[Seq[Double]]] = _
  private var rowsIndexed = 0L

  /** Part 0, 1 or 2 of a row, drawn from the seed. */
  private def part(idCol: String) = pmod(xxhash64(lit(ctx.seed), col(idCol)), lit(3))

  private def collectDigest(df: DataFrame): String = Digest.ofResult(df.columns.toSeq, df.collect().toSeq)

  /** Rows of a stored tree, as a digest: what `load` serves. */
  private def loadDigest(family: String, root: String): String = family match {
    case "DedupIndex" => collectDigest(DedupIndex.load(spark, root).select("band", "k1", "k2", "bucket"))
    case "SubstringIndex" => collectDigest(SubstringIndex.load(spark, root).select("h1", "h2", "bucket"))
    case "Bm25Index" =>
      val idx = Bm25Index.load(spark, root)
      collectDigest(idx.postings) + s"|n=${idx.n}|avgdl=${idx.avgdl}"
    case "AnnIndex" => collectDigest(AnnIndex.load(spark, root, cents, cb).select("vec_id", "cid", "pq_code"))
  }

  /** The probe each family serves, run against the stored tree. */
  private def probe(family: String, root: String): Array[Row] = family match {
    case "DedupIndex" =>
      DedupIndex.probe(DedupIndex.load(spark, root), banded.filter(col("doc_id") % 7 === 0)).collect()
    case "SubstringIndex" =>
      SubstringIndex.probe(SubstringIndex.load(spark, root), docs.filter(col("doc_id") % 7 === 0)).collect()
    case "Bm25Index" => Bm25Index.search(Bm25Index.load(spark, root), terms, 20).collect()
    case "AnnIndex" =>
      AnnIndex.probe(AnnIndex.load(spark, root, cents, cb), vecs.filter(col("vec_id") < 10), cents, cb,
        nprobe = 3, k = 3).collect()
  }
  private def probeDigest(rows: Array[Row]): String =
    Digest.ofResult(rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil), rows.toSeq)

  private def write(family: String, rows: Column3, root: String): Unit = family match {
    case "DedupIndex" => DedupIndex.write(rows.banded, root)
    case "SubstringIndex" => SubstringIndex.write(rows.docs, root)
    case "Bm25Index" => Bm25Index.write(rows.docs, root)
    case "AnnIndex" => AnnIndex.write(rows.vecs, cents, cb, root)
  }
  private def append(family: String, rows: Column3, root: String): Unit = family match {
    case "DedupIndex" => DedupIndex.append(rows.banded, root)
    case "SubstringIndex" => SubstringIndex.append(rows.docs, root)
    case "Bm25Index" => Bm25Index.append(rows.docs, root)
    case "AnnIndex" => AnnIndex.append(rows.vecs, cents, cb, root)
  }
  private def compact(family: String, root: String): Unit = family match {
    case "DedupIndex" => DedupIndex.compact(spark, root)
    case "SubstringIndex" => SubstringIndex.compact(spark, root)
    case "Bm25Index" => Bm25Index.compact(spark, root)
    case "AnnIndex" => AnnIndex.compact(spark, root, cents, cb)
  }
  /** fsck problems of a tree; empty when clean. */
  private def fsck(family: String, root: String): Seq[String] = family match {
    case "DedupIndex" => DedupIndex.fsck(spark, root).issues
    case "SubstringIndex" => SubstringIndex.fsck(spark, root).issues
    case "Bm25Index" =>
      val r = Bm25Index.fsck(spark, root)
      if (r.consistent) Nil else Seq(s"bm25 meta inconsistent: $r")
    case "AnnIndex" => AnnIndex.fsck(spark, root, cents, cb).issues
  }

  /** One slice of the inputs, in each family's input shape. */
  private final case class Column3(docs: DataFrame, banded: DataFrame, vecs: DataFrame)
  private def slice(parts: Int*): Column3 = Column3(
    docs.filter(part("doc_id").isin(parts: _*)),
    banded.filter(part("doc_id").isin(parts: _*)),
    vecs.filter(part("vec_id").isin(parts: _*)))
  private def all = Column3(docs, banded, vecs)

  def setup(): Map[String, Any] = {
    // the inputs, held in memory as an ingest pipeline would hand them over
    docs = graft.Tables.documents(spark, ctx.dataDir).cache()
    banded = Dedup.mhBandedDf(spark, ctx.dataDir).cache()
    vecs = graft.Tables.embeddings(spark, ctx.dataDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")).cache()
    val counts = Map("documents" -> docs.count(), "banded_keys" -> banded.count(), "vectors" -> vecs.count())
    rowsIndexed = counts.values.sum + counts("documents")
    cents = Similarity.centroidSet(vecs, 25)
    cb = Similarity.pqCodebook(vecs)
    recordDir.foreach { dir =>
      // the one-shot reference trees the maintained ones must equal
      val refRoot = ctx.freshRoot("index-reference")
      val ref = families.flatMap { f =>
        val root = s"$refRoot/$f"
        write(f, all, root)
        Seq(s"$f.load" -> loadDigest(f, root), s"$f.probe" -> probeDigest(probe(f, root)))
      }
      Files2.deleteTree(refRoot)
      Files2.write(s"$dir/index_digests.json", Json(ref.toMap))
    }
    val missing = families.flatMap(f => Seq(s"$f.load", s"$f.probe")).filterNot(expected.contains)
    require(recordDir.nonEmpty || missing.isEmpty, s"no recorded index digest for ${missing.mkString(", ")}")
    Map("inputs" -> counts, "rows_indexed" -> rowsIndexed, "centroids" -> cents.size,
      "families" -> families, "operations_per_iteration" -> (5 * families.size + 1))
  }

  // per family: bytes and files the operations left in the tree, and the
  // final tree's bytes — their ratio is the write amplification
  private val written = mutable.HashMap.empty[String, (Long, Long)]
  private val finalBytes = mutable.HashMap.empty[String, Long]

  /** Run `f`'s lifecycle on `tree`; returns its operations and the final
    * probe's rows and fsck problems.
    */
  def lifecycle(f: String, tree: String): (Seq[Op], Array[Row], Seq[String]) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    def timed(name: String)(body: => Unit): Unit = {
      val before = Files2.listing(tree)
      ops += ctx.op(s"$f.$name", f)(_ => body)
      val fresh = Files2.listing(tree).filter { case (p, v) => !before.get(p).contains(v) }
      val (b, n) = written.getOrElse(f, (0L, 0L))
      written(f) = (b + fresh.values.map(_._1).sum, n + fresh.size)
    }
    if (f == "AnnIndex") {
      timed("write")(write(f, slice(0), tree))
      timed("appendSwapped")(AnnIndex.appendSwapped(slice(1).vecs, cents, cb, tree))
      timed("append")(append(f, slice(2), tree))
    } else {
      timed("write")(write(f, slice(0, 1), tree))
      timed("append")(append(f, slice(2), tree))
    }
    timed("compact")(compact(f, tree))
    var issues: Seq[String] = Nil
    timed("fsck") { issues = fsck(f, tree) }
    var rows: Array[Row] = Array.empty
    timed("probe") { rows = probe(f, tree) }
    (ops.toSeq, rows, issues)
  }

  /** Problems of a maintained tree: fsck's, and any difference from the
    * one-shot reference in stored rows or probe results.
    */
  def verify(f: String, tree: String, probeRows: Array[Row], fsckIssues: Seq[String]): Seq[String] = {
    if (recordDir.nonEmpty) return fsckIssues
    (if (fsckIssues.nonEmpty) Seq(s"$f fsck: ${fsckIssues.take(2).mkString("; ")}") else Nil) ++
      (if (loadDigest(f, tree) != expected(s"$f.load")) Seq(s"$f: maintained tree differs from a one-shot write") else Nil) ++
      (if (probeDigest(probeRows) != expected(s"$f.probe")) Seq(s"$f: probe results differ from a one-shot write's") else Nil)
  }

  /** A fresh fsck of a tree, outside any timing. */
  def fsckNow(f: String, tree: String): Seq[String] = fsck(f, tree)

  def iteration(i: Int): Iteration = {
    val root = ctx.freshRoot("index")
    val failures = mutable.ArrayBuffer.empty[String]
    val ops = mutable.ArrayBuffer.empty[Op]
    written.clear()
    for (f <- families) {
      val tree = s"$root/$f"
      val (fOps, rows, issues) = lifecycle(f, tree)
      ops ++= fOps
      failures ++= fOps.filterNot(_.ok).map(o => s"${o.name} failed")
      if (fOps.forall(_.ok)) failures ++= verify(f, tree, rows, issues)
      finalBytes(f) = Files2.bytesUnder(tree)
    }
    Files2.deleteTree(root)
    Iteration(ops.toSeq, failures.toSeq,
      Map("rows" -> rowsIndexed.toDouble, "at_rest_bytes" -> finalBytes.values.sum.toDouble))
  }

  def layers(it: Iteration): Map[String, Double] = {
    val byOp = it.ops.groupBy(_.name)
    def secs(name: String): Double = byOp.getOrElse(name, Nil).map(_.seconds).sum
    families.flatMap { f =>
      val (bytes, files) = written.getOrElse(f, (0L, 0L))
      Seq(
        s"$f.write_s" -> secs(s"$f.write"),
        s"$f.append_s" -> (secs(s"$f.append") + secs(s"$f.appendSwapped")),
        s"$f.compact_s" -> secs(s"$f.compact"),
        s"$f.fsck_s" -> secs(s"$f.fsck"),
        s"$f.probe_s" -> secs(s"$f.probe"),
        s"$f.files_written" -> files.toDouble,
        s"$f.write_amplification" -> bytes.toDouble / math.max(1L, finalBytes.getOrElse(f, 0L)))
    }.toMap + ("index.tree_bytes_per_row" -> it.quantities("at_rest_bytes") / it.quantities("rows"))
  }
}
