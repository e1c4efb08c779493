package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n−10)-th smallest of n samples, reported with its percentile and the
    * sample count. With ten or fewer samples no such percentile exists and
    * the maximum is reported at percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** A minimal JSON writer for maps, [[Json.Obj]] (keys in the order
  * given), sequences, strings, numbers, booleans and null.
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** An object whose keys keep the order they were given in. */
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Files2 {
  def write(p: String, s: String): Unit = {
    val path = Paths.get(p)
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.write(path, s.getBytes(StandardCharsets.UTF_8))
  }

  def deleteTree(p: String): Unit = {
    val root = new File(p)
    if (root.exists()) {
      def rm(f: File): Unit = {
        if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(root)
    }
  }

  /** Every regular file under `p` with its size and modification time,
    * keyed by path relative to `p`.
    */
  def listing(p: String): Map[String, (Long, Long)] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .toMap
      finally st.close()
    }
  }

  def bytesUnder(p: String): Long = listing(p).values.map(_._1).sum
}

object Digest {
  /** First eight bytes of MD5 as a signed long — the per-row hash that
    * order-independent digests sum.
    */
  def h64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** Order-independent digest of a multiset of canonical row strings:
    * row count plus the wrapping sum of the row hashes.
    */
  def ofRows(rows: Iterator[String]): String = {
    var n = 0L; var sum = 0L
    rows.foreach { r => n += 1; sum += h64(r) }
    f"$n:${sum}%016x"
  }

  /** Canonical text of one value: stable across runs and JVMs (no
    * identity hashes, no locale, UTC timestamps).
    */
  def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("map(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString
  }

  /** Digest of a collected result: columns in name order, rows in any
    * order.
    */
  def ofResult(columns: Seq[String], rows: Seq[org.apache.spark.sql.Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    ofRows(rows.iterator.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")))
  }
}

object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def heapMaxMb: Long = Runtime.getRuntime.maxMemory() / (1024 * 1024)
  def jdk: String = System.getProperty("java.runtime.version", System.getProperty("java.version"))

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** JVM start as epoch milliseconds: set-up is timed from here. */
  def jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}
