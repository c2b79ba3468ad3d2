package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one action the benchmark times: a row count plus an
  * order-independent hash of every output column, in a single job.
  *
  * Why not `count()`: a bare count lets Catalyst prune every computed
  * output column and eliminate cardinality-preserving joins, so the
  * kernels a query exists for never run (the join-elimination and
  * column-pruning trap in the repo notes; the semdedup "1.5 s" that
  * skipped all pair scoring). Measured on a 4-core machine at sf0.1,
  * warm: `cwt_morlet` 0.24 s under `count()` against 7.54 s reading every
  * column, `fir_hann_bp` 0.17 against 3.00 s, `text_repetition_full`
  * 0.59 against 6.78 s, `text_unigram_tok` 0.96 against 3.39 s. Hashing
  * every column makes each one an input of the aggregate, so nothing can
  * be pruned.
  *
  * Canon (as in `scripts/check.py`): columns in name order, floats
  * rounded to 6 dp with -0.0 folded into 0.0, so last-ulp noise from a
  * different summation order does not flip the checksum. Row hashes are
  * summed as exact decimals, so the result does not depend on row order
  * or partitioning.
  */
object Checksum {

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _)       => transform(c, x => canon(x, et))
    case StructType(fs) =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(canon(e.getField("key"), kt), canon(e.getField("value"), vt))))
    case _ => c
  }

  /** One-row frame `(rows: bigint, checksum: decimal)` over every column of `df`. */
  def of(df: DataFrame): DataFrame = {
    // positional renames: output names may repeat or contain dots
    val byName = df.schema.fields.toIndexedSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val plain = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = byName.map { case (f, i) => canon(plain.col(s"c$i"), f.dataType) }
    // xxhash64 skips nulls, so a null mask keeps (null, 1) apart from (1, null)
    val nullMask = concat(byName.map { case (_, i) => when(plain.col(s"c$i").isNull, "1").otherwise("0") }: _*)
    val h = xxhash64((cols :+ nullMask): _*)
    plain.select(h.as("h")).agg(count(lit(1)).as("rows"), sum(col("h").cast(DecimalType(38, 0))).as("checksum"))
  }

  /** `(rows, checksum)` of a collected [[of]] frame. */
  def read(df: DataFrame): (Long, String) = {
    val r = df.collect().head
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}
