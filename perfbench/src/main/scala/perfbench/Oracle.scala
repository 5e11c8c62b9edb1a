package perfbench

import scala.collection.mutable

/** The benchmark's own record of which vectors are live: every insert and
  * delete the client issues is applied here too, so oracles never ask the
  * engine what it holds. */
final class LiveSet(dim: Int) {
  private val ids = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val pos = mutable.HashMap.empty[Long, Int]

  def size: Int = ids.length
  def contains(id: Long): Boolean = pos.contains(id)
  def vec(id: Long): Array[Float] = vecs(pos(id))
  def idSet: Set[Long] = ids.toSet

  def add(id: Long, v: Array[Float]): Unit = {
    require(!pos.contains(id), s"id $id already live")
    pos(id) = ids.length
    ids += id
    vecs += v
  }

  def remove(id: Long): Unit = pos.remove(id).foreach { p =>
    val last = ids.length - 1
    if (p != last) {
      ids(p) = ids(last); vecs(p) = vecs(last); pos(ids(p)) = p
    }
    ids.remove(last); vecs.remove(last)
  }

  /** Brute-force exact top-k of every query over the live set: (vec_id,
    * dist2) ascending by (dist2, vec_id), queries scored in parallel. */
  def topK(queries: IndexedSeq[Array[Float]], k: Int): IndexedSeq[Array[(Long, Double)]] = {
    val n = ids.length
    val idArr = ids.toArray
    val vArr = vecs.toArray
    val out = new Array[Array[(Long, Double)]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = queries(qi)
      val bd = Array.fill(k)(Double.MaxValue)
      val bi = Array.fill(k)(Long.MaxValue)
      var r = 0
      while (r < n) {
        val v = vArr(r)
        var s = 0.0
        var d = 0
        while (d < dim) { val x = q(d).toDouble - v(d); s += x * x; d += 1 }
        val id = idArr(r)
        if (s < bd(k - 1) || (s == bd(k - 1) && id < bi(k - 1))) {
          var j = k - 1
          while (j > 0 && (s < bd(j - 1) || (s == bd(j - 1) && id < bi(j - 1)))) {
            bd(j) = bd(j - 1); bi(j) = bi(j - 1); j -= 1
          }
          bd(j) = s; bi(j) = id
        }
        r += 1
      }
      out(qi) = bi.zip(bd).filter(_._1 != Long.MaxValue)
    }
    out.toIndexedSeq
  }
}

/** Result checks shared by the workloads. A failed check is a failed op. */
object Oracle {
  def dist2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val x = a(i).toDouble - b(i); s += x * x; i += 1 }
    s
  }

  /** One query's search result against the live set and the brute-force
    * top-k: returns (recall, ok). `ok` fails when the engine returned a
    * dead id, a duplicate, a wrong distance, or fewer than min(k, live)
    * rows. */
  def checkQuery(
      live: LiveSet,
      q: Array[Float],
      got: Seq[(Long, Double)],
      exact: Array[(Long, Double)],
      k: Int): (Double, Boolean) = {
    val ids = got.map(_._1)
    val distOk = got.forall { case (id, d) =>
      live.contains(id) && math.abs(dist2(q, live.vec(id)) - d) <= 1e-3 * math.max(1.0, d)
    }
    val ok = distOk && ids.distinct.length == ids.length && ids.length == math.min(k, live.size)
    val want = exact.map(_._1).toSet
    val recall = ids.count(want.contains).toDouble / math.max(1, math.min(k, want.size))
    (recall, ok)
  }

  /** F1 of the removed-document set against the planted truth. */
  def f1(removed: Set[Long], truth: Set[Long]): Double = {
    val tp = (removed & truth).size.toDouble
    if (removed.isEmpty && truth.isEmpty) 1.0
    else if (tp == 0) 0.0
    else {
      val p = tp / removed.size
      val r = tp / truth.size
      2 * p * r / (p + r)
    }
  }
}
