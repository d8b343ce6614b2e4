package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Reference implementations and fixture bytes that only specs use: each
  * checks or feeds an engine operator, and none is on a query's path. */
object SpecOracles {

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Brute-force cosine top-k of `vectors` against the single row of
    * `queryVec` (a 1-row DataFrame with column `qe`). The query side is
    * broadcast; ranking uses a unique tiebreak on id. */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queryVec: DataFrame, k: Int): DataFrame =
    vectors.crossJoin(broadcast(queryVec))
      .select(col(idCol), Similarity.cosine(col(vecCol), col("qe")).as("sim"))
      .orderBy(col("sim").desc, col(idCol)).limit(k)

  /** Driver-side lattice hyperplane signature of one vector, the reference
    * for [[Similarity.hyperplaneSignatureLatticeAt]]: bit i is set when
    * Σ_j v_j · (((p·31 + j·17) mod 7) − 3) ≥ 0 for plane p = table·bits + i,
    * summed in doubles in index order like the engine's fold. */
  def latticeSignature(v: Array[Float], bits: Int, table: Int): Long =
    (0 until bits).map { i =>
      val p = table * bits + i
      val proj = v.indices.foldLeft(0.0) { (acc, j) =>
        acc + v(j).toDouble * (((p * 31 + j * 17) % 7) - 3).toDouble }
      if (proj >= 0) 1L << i else 0L
    }.sum

  /** Exact cosine of two float vectors, summed in doubles. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { j =>
      dp += a(j).toDouble * b(j); na += a(j).toDouble * a(j)
      nb += b(j).toDouble * b(j)
    }
    dp / math.sqrt(na * nb)
  }

  /** Inverse Hilbert walk (d → cell) on the 16-bit × 16-bit grid, the
    * round-trip partner of [[graft.functions.HilbertOps.xy2d16]]. */
  def d2xy16(d: Long): (Long, Long) = {
    var x = 0L; var y = 0L
    var t = d
    var s = 1L
    while (s < 65536L) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }

  /** An EBML element holding a 4-byte big-endian float. */
  def ebmlFloat4(id: Long, v: Float): Array[Byte] =
    Fixtures.ebmlEl(id, java.nio.ByteBuffer.allocate(4).putFloat(v).array())
}
