package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native coarse-quantizer probe: the `nProbe` centroid cells nearest
  * to an `array<float>` vector by cosine, best-first (ties -> lower
  * cell id). One pass over the vector accumulates every centroid dot
  * product; centroid norms are precomputed once per task.
  *
  * This turns IVF cell assignment (nProbe=1) and query probe
  * selection into pure per-row map expressions — the
  * corpus-x-centroid join + vector-keyed argmax aggregation they
  * replace shuffled every embedding once and hashed 64-float arrays
  * as grouping keys; at 100 TB the assignment pass must be map-only.
  *
  * The centroid matrix rides in the expression (closure-serialized,
  * shipped once per task): nCentroids ~ sqrt(corpus) stays in the
  * low MBs even at large scale.
  *
  * Each cell is scored with the exact op sequence of
  * [[CosineSimilarity]] — dot / (sqrt(|v|^2) * sqrt(|c|^2)), all
  * double accumulation in index order — so an external engine's
  * cosine function (e.g. DuckDB list_cosine_similarity, already
  * bit-matched against CosineSimilarity) reproduces the cell ranking.
  */
case class NearestCells(child: Expression, centroids: Array[Array[Float]],
                        nProbe: Int)
    extends UnaryExpression with SelfComputeCodegen {

  require(nProbe >= 1 && nProbe <= centroids.length,
    s"nProbe must be in [1, ${centroids.length}]")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cells"

  @transient private lazy val normsSq: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
    s
  }

  def compute(arr: ArrayData): ArrayData = {
    val nc = centroids.length
    val proj = new Array[Double](nc)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val x = arr.getFloat(i).toDouble
      var c = 0
      while (c < nc) {
        val cv = centroids(c)
        if (i < cv.length) proj(c) += x * cv(i)
        c += 1
      }
      i += 1
    }
    // cosine = dot / (sqrt(nv) * sqrt(nc)), CosineSimilarity's op order
    var nv = 0.0
    var i2 = 0
    while (i2 < n) { val x = arr.getFloat(i2).toDouble; nv += x * x; i2 += 1 }
    val sv = math.sqrt(nv)
    var c = 0
    while (c < nc) {
      val denom = sv * math.sqrt(normsSq(c))
      proj(c) = if (denom == 0.0) 0.0 else proj(c) / denom
      c += 1
    }
    val out = new Array[Int](nProbe)
    val taken = new Array[Boolean](nc)
    var p = 0
    while (p < nProbe) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var j = 0
      while (j < nc) {
        if (!taken(j) && proj(j) > bestScore) { best = j; bestScore = proj(j) }
        j += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
