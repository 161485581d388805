package perfbench

import java.io.{File, PrintWriter}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

/** Output helpers: JSON records, result rows for the oracle check, and
  * process facts read outside Spark's public API. */
object Results {
  private val json = new ObjectMapper()
  private val stamp =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Cypher parameters: integral JSON numbers become Long, others Double. */
  def params(n: JsonNode): Map[String, Any] =
    if (n == null) Map.empty else n.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isIntegralNumber) v.asLong()
        else if (v.isNumber) v.asDouble() else v.asText())
    }.toMap

  /** Order-insensitive digest: the sum of the rows' string hashes. */
  def digest(rows: Array[Row]): Long =
    rows.foldLeft(0L)((acc, r) =>
      acc + scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong)

  private def plain(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case t: java.sql.Timestamp => t.toLocalDateTime.format(stamp)
    case t: java.time.LocalDateTime => t.format(stamp)
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(plain).asJava
    case r: Row => r.toSeq.map(plain).asJava
    case i: java.lang.Integer => i.longValue
    case s: java.lang.Short => s.longValue
    case b: java.lang.Byte => b.longValue
    case f: java.lang.Float => f.doubleValue
    case o => o
  }

  def write(f: File, cols: Seq[String], rows: Array[Row]): Unit = {
    val m = Map("columns" -> cols.asJava,
      "rows" -> rows.map(r => r.toSeq.map(plain).asJava).toSeq.asJava)
    json.writeValue(f, m.asJava)
  }

  def writeLines(f: File, recs: Iterable[Map[String, Any]]): Unit = {
    val pw = new PrintWriter(f)
    try recs.foreach(r => pw.println(json.writeValueAsString(r.asJava)))
    finally pw.close()
  }

  /** Entries registered in Spark's CacheManager (materialized or not);
    * falls back to materialized RDD caches if the field is not found. */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")) match {
      case Some(f) =>
        f.setAccessible(true)
        f.get(cm) match {
          case s: scala.collection.Iterable[_] => s.size
          case _ => spark.sparkContext.getRDDStorageInfo.length
        }
      case None => spark.sparkContext.getRDDStorageInfo.length
    }
  }

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
