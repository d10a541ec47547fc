package graft

import java.io.{ByteArrayInputStream => BIn, ByteArrayOutputStream => BOut}
import java.io.{DataInputStream, DataOutputStream}
import java.util.Base64

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Deletion vectors (Iceberg v3, Delta Lake): the rows a merge-on-read
  * commit deletes, as one 64-bit roaring bitmap of row ordinals
  * (`_metadata.row_index`) per data file, keyed by the scan-reported file
  * path verbatim (the percent-encoded URI commit and read both observe).
  * A commit's vectors live in one `dv-*` file: one line per data file, its
  * path, a TAB and the bitmap's portable serialization in base64. */
private[graft] object DeletionVectors {
  type Vectors = Map[String, Roaring64NavigableMap]

  def render(dvs: Vectors): String = dvs.toSeq.sortBy(_._1).map { case (p, b) =>
    s"$p\t${Base64.getEncoder.encodeToString(bytes(b))}" }.mkString("\n")

  def parse(text: String): Vectors = text.split("\n").iterator
    .filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf('\t')
      l.substring(0, i) -> bitmap(Base64.getDecoder.decode(l.substring(i + 1)))
    }.toMap

  private def bytes(b: Roaring64NavigableMap): Array[Byte] = {
    val buf = new BOut()
    b.runOptimize()
    b.serializePortable(new DataOutputStream(buf))
    buf.toByteArray
  }

  private def bitmap(a: Array[Byte]): Roaring64NavigableMap = {
    val b = new Roaring64NavigableMap()
    b.deserializePortable(new DataInputStream(new BIn(a)))
    b
  }

  /** The per-file OR of `sets`, in fresh bitmaps (the inputs, which a log
    * view memoizes, are left as they are). */
  def union(sets: Seq[Vectors]): Vectors = {
    val acc = mutable.HashMap.empty[String, Roaring64NavigableMap]
    for (s <- sets; (p, b) <- s)
      acc.getOrElseUpdate(p, new Roaring64NavigableMap()).or(b)
    acc.toMap
  }

  def cardinality(dvs: Vectors): Long = dvs.values.map(_.getLongCardinality).sum

  /** The vectors of `positions` (file path, row ordinal): each task builds
    * its partition's bitmaps and ships them serialized, and the driver ORs
    * them per file. One action over `positions`. */
  def collect(positions: DataFrame): Vectors =
    union(positions.mapPartitions { (rows: Iterator[Row]) =>
      val m = mutable.HashMap.empty[String, Roaring64NavigableMap]
      rows.foreach(r => m.getOrElseUpdate(r.getString(0),
        new Roaring64NavigableMap()).addLong(r.getLong(1)))
      m.iterator.map { case (p, b) => (p, bytes(b)) }
    }(Encoders.tuple(Encoders.STRING, Encoders.BINARY)).collect().toSeq
      .map { case (p, a) => Map(p -> bitmap(a)) })

  /** True for the rows of `dvs` at (`path`, `pos`): one broadcast of the
    * bitmaps, read by a filter expression that looks each file's bitmap up
    * once per file, not once per row. Never NULL. */
  def deleted(spark: SparkSession, dvs: Vectors, path: Column,
      pos: Column): Column =
    Bridge.column(DeletedRow(Bridge.expression(path), Bridge.expression(pos),
      spark.sparkContext.broadcast(dvs)))
}

/** A task's cursor over the broadcast vectors: the bitmap of the file the
  * scan is in, swapped when the path changes. */
private[graft] final class DeletionVectorProbe(dvs: DeletionVectors.Vectors) {
  private var path: UTF8String = _
  private var bits: Roaring64NavigableMap = _
  def apply(p: UTF8String, pos: Long): Boolean = {
    if (path == null || !path.equals(p)) {
      path = p.clone()
      bits = dvs.getOrElse(p.toString, null)
    }
    bits != null && bits.contains(pos)
  }
}

/** [[DeletionVectors.deleted]]'s expression. Each generated class holds
  * its own probe, so tasks share no cursor. (`CodegenFallback` would take
  * the filter and its scan out of whole-stage codegen.) */
private[graft] final case class DeletedRow(left: Expression,
    right: Expression, vectors: Broadcast[DeletionVectors.Vectors])
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  def newProbe(): DeletionVectorProbe = new DeletionVectorProbe(vectors.value)
  @transient private lazy val probe = newProbe()
  override def eval(row: InternalRow): Any = (left.eval(row), right.eval(row)) match {
    case (p: UTF8String, q: Long) => probe(p, q)
    case _ => false
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("deletedRow", this)
    val probe = ctx.addMutableState(classOf[DeletionVectorProbe].getName,
      "dvProbe", v => s"$v = $self.newProbe();")
    val (p, q) = (left.genCode(ctx), right.genCode(ctx))
    ev.copy(code = code"""${p.code}
      |${q.code}
      |boolean ${ev.value} = !${p.isNull} && !${q.isNull} &&
      |  $probe.apply(${p.value}, ${q.value});""".stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}
