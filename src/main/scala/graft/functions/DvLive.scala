package graft.functions

import java.util.concurrent.atomic.AtomicLong

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String

/** Deletion-vector liveness of a scanned row: false exactly when `pos`
  * (`_metadata.row_index`, per file however the scan splits it) is a dead
  * position in the DV that `dvs` maps its data `file` (a [[CanonicalPath]]
  * of `_metadata.file_path`) to. Applied as a `Filter` over the file scan
  * itself — no join, no broadcast, no second scan. A task loads each DV'd
  * file's sorted dead positions once, on its first row of that file; rows
  * of a split arrive consecutively, so the per-row cost is one UTF8String
  * equality check plus a binary search.
  */
case class DvLive(file: Expression, pos: Expression, dvs: Map[String, String])
    extends BinaryExpression with Predicate {

  override def left: Expression = file
  override def right: Expression = pos
  override def prettyName: String = "dv_live"
  // the map is per-snapshot metadata: plans print its size, not its paths
  override def toString: String = s"$prettyName($file, $pos, ${dvs.size} DVs)"

  @transient private lazy val loaded = new java.util.HashMap[UTF8String, Array[Long]]()
  @transient private var lastFile: UTF8String = _
  @transient private var lastDead: Array[Long] = _

  def live(f: UTF8String, p: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(f)) {
      // clone: the scanner may reuse the input buffer across rows
      lastFile = f.clone()
      lastDead = loaded.computeIfAbsent(lastFile, k =>
        dvs.get(k.toString).map(DvLive.deadPositions).getOrElse(Array.emptyLongArray))
    }
    lastDead.length == 0 || java.util.Arrays.binarySearch(lastDead, p) < 0
  }

  override protected def nullSafeEval(f: Any, p: Any): Any =
    live(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dvLive", this)
    defineCodeGen(ctx, ev, (f, p) => s"$self.live($f, $p)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(file = newLeft, pos = newRight)
}

object DvLive {

  /** DV parquets read so far in this JVM — one per (task, DV'd file). */
  private[graft] val loads = new AtomicLong

  /** The sorted dead positions one DV parquet records. */
  def deadPositions(dvFile: String): Array[Long] = {
    loads.incrementAndGet()
    val out = Array.newBuilder[Long]
    Using.resource(ParquetReader.builder(new GroupReadSupport, new Path(dvFile))
        .withConf(new Configuration).build()) { r =>
      var g = r.read()
      while (g != null) { out += g.getLong("pos", 0); g = r.read() }
    }
    val dead = out.result()
    java.util.Arrays.sort(dead)
    dead
  }
}
