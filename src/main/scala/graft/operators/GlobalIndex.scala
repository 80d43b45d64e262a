package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Contiguous 0-based global row numbering in a given order — the
  * "assign every training sample a dense id" step — WITHOUT the
  * single-reducer global sort.
  *
  * `row_number() OVER (ORDER BY k)` (no PARTITION BY) plans a window
  * over ONE partition: every row of a 100-TB table funnels through a
  * single task. The distributed form is the classic zipWithIndex
  * recipe: range-partition by the order key (so partition i's keys all
  * precede partition i+1's), sort within each partition, then shift
  * each partition's local positions by the total row count of the
  * partitions before it. The per-partition counts are a
  * |partitions|-long array on the driver — control plane — and the
  * prefix-sum shift is embarrassingly parallel.
  *
  * Cost: one extra scan of the (already partitioned) data to count —
  * the same trade `RDD.zipWithIndex` makes. The count pass reads the
  * exchanged output, not the source table, and carries no sort.
  *
  * `orderCol` must be UNIQUE per row (a key): range partition
  * boundaries can split equal values across partitions, which would
  * make the assignment order — and with it the ids — nondeterministic.
  * With a unique key the result is bit-stable and equals the window
  * form, which is exactly what the DuckDB oracle checks.
  */
object GlobalIndex {

  def assign(
      df: DataFrame,
      orderCol: String,
      idCol: String,
      partitions: Int): DataFrame = {
    require(partitions > 0, s"partitions must be positive, got $partitions")
    val spark = df.sparkSession
    // count + number are two jobs over this exchange's output; the
    // barrier makes the source scanned once and the arrangement
    // identical in both (it also severs the nondeterministic
    // sample-based range boundaries from re-computation)
    val arranged = Barrier.materialize(df
      .repartitionByRange(partitions, col(orderCol))
      .sortWithinPartitions(orderCol))._1
    // count on the INTERNAL row iterator (queryExecution.toRdd): no
    // Catalyst->Row deserialization just to count — the numbering pass
    // below pays that conversion once, where it's genuinely needed to
    // emit the widened rows through the public createDataFrame API
    val counts = arranged.queryExecution.toRdd
      .mapPartitionsWithIndex { case (i, it) =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 } // long-safe, no Int size
        Iterator((i, n))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _) // offsets(i) = rows before partition i
    val schema = StructType(df.schema.fields :+ StructField(idCol, LongType, nullable = false))
    val indexed = arranged.rdd.mapPartitionsWithIndex { case (i, it) =>
      var next = offsets(i)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ next)
        next += 1
        out
      }
    }
    spark.createDataFrame(indexed, schema)
  }
}
