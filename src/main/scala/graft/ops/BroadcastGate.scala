package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The engine's one broadcast-size policy: a join side broadcasts iff
  * its estimated bytes fit one budget, the way Databricks SQL decides
  * broadcasts engine-wide instead of per model. Each call site states
  * its row count and row width, by one rule for the UnsafeRow a
  * broadcast build holds: 8 B per field, 8 B of null bitset, plus
  * each array's payload (8 + 8·n) and each string's bytes.
  *
  * The gated sides (batch key sets, band and signature rows, per-doc
  * sizes and shingle arrays, descent vectors) are bounded by data,
  * not by any design constant: a forced broadcast of a ~10⁹-row side
  * (~16–32 GB) aborts the job, while under the budget the broadcast
  * keeps the big side hash-probed in place, never exchanged. Both
  * arms emit identical results (specs force every gate both ways). */
object BroadcastGate {

  /** Byte budget per broadcast side: 1 GiB, comfortably inside a
    * large-executor heap and far under Spark's 8 GB broadcast limit.
    * The one budget with a measurement behind it: at the 2M-vector
    * decade (round 10) a shuffled descent vector lookup reshuffled
    * every candidate row with its ~520 B quantized vector — ~150 GB of
    * shuffle write, more than the node's disk — while broadcasting the
    * ~1 GB vector table kept scoring map-side with zero wide shuffles. */
  val MaxBytes: Long = 1L << 30

  /** Broadcast iff `0 <= rows <= cap / bytesPerRow` — a division, so
    * `Long.MaxValue` rows cannot overflow into a broadcast; a negative
    * count means unknown. Above the cap a `uniform` build side (a
    * fixed number of rows per key) gets `shuffle_hash`, keeping the
    * big side the probe side of that one join; any other side is left
    * to AQE, free to sort-merge when it is skewed or wide. */
  def apply(rows: Long, bytesPerRow: Long, cap: Long = MaxBytes,
      uniform: Boolean = false): DataFrame => DataFrame =
    if (rows >= 0 && rows <= cap / bytesPerRow) df => broadcast(df)
    else if (uniform) df => df.hint("shuffle_hash")
    else identity
}
