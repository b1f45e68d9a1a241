package perfbench

import java.io.ByteArrayInputStream

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.Row

/** Result checks shared by the workloads. Rows are compared through a
  * canonical string per value, so a result decoded from the Arrow bytes a
  * client received and the same result collected in-process hash alike:
  * timestamps become epoch microseconds, lists and structs their elements,
  * floats and doubles their shortest exact decimal form. */
object Check {
  def canon(v: Any): String = v match {
    case null => "∅"
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case i: java.time.Instant =>
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case f: java.lang.Float => java.lang.Float.toString(f)
    case d: java.lang.Double => java.lang.Double.toString(d)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case l: java.util.List[_] => l.asScala.map(canon).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: java.util.Map[_, _] =>
      m.asScala.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }
        .sorted.mkString("<", ",", ">")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }
        .sorted.mkString("<", ",", ">")
    case other => other.toString
  }

  def rowKey(values: Seq[Any]): String = values.map(canon).mkString("|")

  def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) | (b & 0xffffffffL)
  }

  /** Order-insensitive multiset digest: row count plus the wrapping sum of
    * the 64-bit row hashes. */
  final case class Digest(rows: Long, sum: Long) {
    def +(h: Long): Digest = Digest(rows + 1, sum + h)
  }
  val Empty = Digest(0, 0)

  def digestRows(rows: Iterator[Seq[Any]]): Digest =
    rows.foldLeft(Empty)((d, r) => d + hash64(rowKey(r)))

  /** Decode an Arrow IPC stream into row value sequences with the Arrow
    * Java reader (independent of the program's own decoder). */
  def arrowRows(bytes: Array[Byte]): Vector[Seq[Any]] = {
    val out = Vector.newBuilder[Seq[Any]]
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        while (reader.loadNextBatch()) {
          val vecs = root.getFieldVectors.asScala.toVector
          out ++= Vector.tabulate(root.getRowCount)(i => vecs.map(_.getObject(i)))
        }
      } finally reader.close()
    } finally alloc.close()
    out.result()
  }
}
