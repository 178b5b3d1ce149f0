package perfbench

/** End-to-end metrics of an untraced run. */
object Report {
  /** Linear-interpolated percentile (numpy's default) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = (s.length - 1) * p
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString

  def endToEnd(r: Run): Seq[(String, (Double, String))] = {
    val ok = r.ops.filter(_.ok).map(_.seconds).toSeq
    val first = r.ops.headOption.map(_.startNs).getOrElse(System.nanoTime())
    val wall = r.ops.lastOption.map(o => (o.endNs - first) / 1e9)
      .getOrElse(0.0)
    val storeBytes = r.walkStores().totalBytes
    r.segments.foreach { case (name, a, b) =>
      r.log(f"set-up $name ${(b - a) / 1e9}%.3f s") }
    r.log(f"${r.ops.length} ops (${ok.length} ok), op seconds: " +
      r.ops.map(o => f"${o.name}=${o.seconds}%.3f").mkString(" "))
    Seq(
      "setup_s" -> ((first - r.processStartNs) / 1e9, "s"),
      "wall_s" -> (wall, "s"),
      "op_p50_s" -> (percentile(ok, 0.5), "s"),
      "bootstrap_s" -> (r.bootstrapNs / 1e9, "s"),
      "rows_per_s" -> (r.inputRows / wall, "rows/s"),
      "store_bytes_per_input_byte" ->
        (storeBytes.toDouble / r.inputBytes, "ratio"),
      "written_bytes_per_input_byte" ->
        (r.ops.map(_.newBytes).sum.toDouble / r.inputBytes, "ratio"),
      "peak_heap_mb" -> (r.liveHeapMb, "MiB"))
  }
}
