package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST,
  ResolvedHint, SHUFFLE_HASH}

import graft.TestSpark
import graft.analytics.NearDupIndex

/** The one broadcast policy: a side broadcasts iff its bytes fit the
  * cap, so at one row count a narrow side broadcasts where a wide one
  * does not; unknown and overflow-sized counts never broadcast; only
  * a uniform side gets the shuffle-hash fallback. */
class BroadcastGateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val side = Seq(1L, 2L, 3L).toDF("doc_id")

  /** The join-strategy hints on the gated side's analyzed plan. */
  private def hints(gate: DataFrame => DataFrame) =
    gate(side).queryExecution.analyzed.collect {
      case h: ResolvedHint => h.hints.strategy
    }.flatten

  test("one row count: a narrow side broadcasts, a sig-carrying one " +
      "does not") {
    val n = 1000L
    val cap = n * NearDupIndex.IdRowBytes
    assert(cap < n * NearDupIndex.SigRowBytes)
    assert(hints(BroadcastGate(n, NearDupIndex.IdRowBytes, cap)) ===
      Seq(BROADCAST))
    assert(hints(BroadcastGate(n, NearDupIndex.SigRowBytes, cap)) ===
      Nil)
    // one row more than the narrow side's cap closes its gate too
    assert(hints(BroadcastGate(n + 1, NearDupIndex.IdRowBytes, cap)) ===
      Nil)
  }

  test("Long.MaxValue rows and unknown (negative) rows never broadcast") {
    // a product compare (rows * bytesPerRow) would overflow here
    assert(hints(BroadcastGate(Long.MaxValue, 32L)) === Nil)
    assert(hints(BroadcastGate(Long.MaxValue, 32L, Long.MaxValue)) ===
      Nil)
    assert(hints(BroadcastGate(-1L, 32L)) === Nil)
    assert(hints(BroadcastGate(-1L, 32L, uniform = true)) ===
      Seq(SHUFFLE_HASH))
  }

  test("above the cap only a uniform side carries a shuffle_hash hint") {
    assert(hints(BroadcastGate(10L, 32L, cap = 0L, uniform = true)) ===
      Seq(SHUFFLE_HASH))
    assert(hints(BroadcastGate(10L, 32L, cap = 0L)) === Nil)
    // under the cap both broadcast
    assert(hints(BroadcastGate(10L, 32L, uniform = true)) ===
      Seq(BROADCAST))
  }
}
