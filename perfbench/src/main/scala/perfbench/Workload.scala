package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One named workload: set-up, timed ops and output checks, all
  * recorded on the [[Run]]. */
trait Workload {
  def run(r: Run): Unit

  /** Parquet bytes of the input tables under `dir`. */
  def inputBytes(dir: String, tables: Seq[String]): Long =
    tables.map { t =>
      val f = new java.io.File(s"$dir/$t.parquet")
      require(f.isFile, s"missing input $f")
      f.length
    }.sum

  /** Multiset equality of two frames; on a mismatch a few
    * differing rows of each side go to stderr. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val (na, nb) = (a.count(), b.count())
    val onlyA = a.exceptAll(b).limit(3).collect()
    val onlyB = b.exceptAll(a).limit(3).collect()
    val same = na == nb && onlyA.isEmpty && onlyB.isEmpty
    if (!same) System.err.println(s"[perfbench] rows $na vs $nb; only " +
      s"left: ${onlyA.mkString(" | ")}; only right: ${onlyB.mkString(" | ")}")
    same
  }

  /** Equality of two tables keyed by the unique column `key`, with
    * floating columns equal within 1e-9 relative: the two sides sum
    * doubles in different orders. */
  def sameByKey(a: DataFrame, b: DataFrame, key: String): Boolean = {
    require(a.columns.sorted.sameElements(b.columns.sorted),
      "column sets differ")
    val differs = a.schema.fields.filter(_.name != key).map { f =>
      val (x, y) = (col(s"a.`${f.name}`"), col(s"b.`${f.name}`"))
      f.dataType match {
        case DoubleType | FloatType =>
          !(x.isNull && y.isNull) && (x.isNull || y.isNull ||
            abs(x - y) > greatest(abs(x), lit(1.0)) * 1e-9)
        case _ => !x.eqNullSafe(y)
      }
    }.foldLeft(col(s"a.`$key`").isNull || col(s"b.`$key`").isNull)(_ || _)
    val bad = a.as("a").join(b.as("b"),
        col(s"a.`$key`") === col(s"b.`$key`"), "full_outer")
      .filter(differs)
    val sample = bad.limit(3).collect()
    if (sample.nonEmpty)
      System.err.println(s"[perfbench] differing rows: ${sample.mkString(" | ")}")
    val (na, nb) = (a.count(), b.count())
    sample.isEmpty && na == nb &&
      a.select(key).distinct().count() == na
  }
}
