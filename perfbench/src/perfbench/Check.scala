package perfbench

/** Driver-side reference answers the benchmark checks engine output
  * against. */
object Check {

  /** L2 distance with the engine kernel's exact operation order: each
    * float pair widened to double, squared differences summed left to
    * right, then sqrt. Equal inputs therefore give bit-equal distances. */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Brute-force top-k over (id, vector) pairs, ties broken by (dist, id)
    * ascending — the order the engine's exact search promises. */
  def topK(rows: Iterable[(Long, Array[Float])], q: Array[Float],
           k: Int): Seq[(Long, Double)] =
    rows.iterator.map { case (id, v) => (id, l2(v, q)) }.toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** Fraction of the exact top-k ids the approximate answer returned. */
  def recall(exact: Seq[Long], approx: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else exact.toSet.intersect(approx.toSet).size.toDouble / exact.size

  /** The reference's recall gate: at least `share` of the queries reach
    * recall `min`. */
  def gate(recalls: Seq[Double], min: Double, share: Double): Boolean =
    recalls.isEmpty || recalls.count(_ >= min) >= share * recalls.size

  /** Order-independent digest of a result: rows rendered, sorted and
    * hashed, so two runs of one query compare by content. */
  def digest(rows: Seq[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
