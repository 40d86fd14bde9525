package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Row count plus two order-independent 64-bit digests of a result:
  * over every column, and over the columns that hold no floating-point
  * value (for results whose float bits vary between runs). */
final case class Digest(rows: Long, all: Long, stable: Long) {
  def json: String = f"""{"rows":$rows,"all":"$all%016x","stable":"$stable%016x"}"""
}

object Digest {
  private def hasFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _)        => hasFloat(e)
    case MapType(k, v, _)       => hasFloat(k) || hasFloat(v)
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case _                      => false
  }

  /** Executes the DataFrame's physical plan as it stands (final sort
    * included; nothing is pruned as `count()` would) and hashes every
    * row in the same pass. */
  def of(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val fields = df.schema.fields.toSeq
    val allRefs = fields.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) }
    val stableRefs = fields.zipWithIndex.collect {
      case (f, i) if !hasFloat(f.dataType) => BoundReference(i, f.dataType, f.nullable) }
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        val pAll = UnsafeProjection.create(allRefs)
        val pStable = UnsafeProjection.create(stableRefs)
        var n, a, s = 0L
        it.foreach { r =>
          val u = pAll(r)
          a += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          val v = pStable(r)
          s += XXH64.hashUnsafeBytes(v.getBaseObject, v.getBaseOffset, v.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, a, s))
      }.collect()
    }
    Digest(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }
}
