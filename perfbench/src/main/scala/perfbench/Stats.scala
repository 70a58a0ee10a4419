package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** One timed operation. A failed or wrong-result operation keeps its
  * place in the percentiles as an infinite latency. */
final case class Op(kind: String, name: String, seconds: Double, ok: Boolean)

object Stats {

  /** Linear-interpolation quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      if (s(hi).isInfinite || s(lo).isInfinite) s(if (pos > lo) hi else lo)
      else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean; infinite when any sample is. */
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Latencies with failed operations as +infinity. */
  def latencies(ops: Seq[Op]): Seq[Double] =
    ops.map(o => if (o.ok) o.seconds else Double.PositiveInfinity)

  /** Row count and an order-insensitive 64-bit hash of every result row
    * (sum of the xxhash64 of each row's UnsafeRow bytes), computed in the
    * one action that runs the query's full output plan. */
  def countAndHash(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      while (it.hasNext) {
        val r = proj(it.next())
        n += 1
        h += XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset,
          r.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  def deleteRecursively(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Every regular file under `f` with its size. */
  def files(f: File): Map[String, Long] =
    if (f.isFile) Map(f.getPath -> f.length())
    else Option(f.listFiles()).toSeq.flatten.flatMap(files(_)).toMap

  /** VmHWM (peak resident set) of this JVM in MB. */
  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    if (!status.exists()) Double.NaN
    else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)
      finally src.close()
    }
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  }

  def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "1.0e9" else java.lang.Double.toString(v)

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
