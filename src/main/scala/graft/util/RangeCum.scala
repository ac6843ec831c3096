package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalRows
import org.apache.spark.sql.types._

/** Distributed cumulative sums over a value-ordered frame WITHOUT an
  * unpartitioned window — the range-sort + partition-offset scaffold
  * (the BinaryMetrics.cumScaffold / ksTestMulti shape) generalized to
  * arbitrary (keys…, order, sum-columns) frames so the distinct-value
  * cumulative family (Mann-Whitney mid-ranks, conformal order
  * statistics, ECDF sweeps) stops funneling through one partition when
  * the value column is continuous (distinct ≈ n).
  *
  * Shape: range-partition by (keys…, order), sort within partitions
  * (Tungsten radix sort, compact UnsafeRow shuffle), fold ONE
  * per-(partition, key) subtotal pass to the driver (O(#partitions +
  * #keys) rows — the guard refuses beyond `maxDriverEntries`), scan the
  * running offsets driver-side, then a second pass over the SAME sort
  * shuffle. Wall-clock is two passes over shuffle files written once;
  * memory is one row plus the offset map everywhere.
  *
  * The sort, pass 1 and the offset scan are ONE private helper (`scan`)
  * with two consumers that differ only in pass 2:
  *   - [[cumSumWithTotalsN]] (and its `cumSum` / `cumSumWithTotals`
  *     shims) emits every row with its running sums — the rank, ECDF
  *     and conformal callers;
  *   - [[coveringValues]] emits only the cells covering driver-computed
  *     positions and collects them — the exact-quantile pick of
  *     [[graft.agg.SortedQuantiles]].
  *
  * Both passes stay on `queryExecution.toRdd` (InternalRow): the `.rdd`
  * formulation deserialized every sorted row into a boxed GenericRow on
  * BOTH passes and re-encoded pass 2's output through the interpreted
  * `createDataFrame(RDD[Row])` converter — measured ~1.4× slower for a
  * doubles projection (see corrSpearman's decode note). The sorted
  * iterator reuses its UnsafeRow buffer, so key values are copied
  * (`InternalRow.copyValue`) before they outlive one `next()`: map
  * inserts in pass 1, the current-group key in pass 2. Pass 2 emits one
  * mutated JoinedRow per partition — safe because the planned
  * RDDScanExec unsafe-projects every row before anything downstream
  * can buffer it.
  *
  * Determinism contract: each emitted cum equals the sequential
  * in-order sum ONLY when the summed columns are integer-valued
  * (counts) — integer doubles add exactly in any association, so the
  * offset+scan chain is bit-identical to a single sequential window.
  * For non-integer columns the association differs across partition
  * boundaries; callers comparing such sums against a sequential oracle
  * replay must keep the sequential form (see kaplanMeier's bounded
  * windows) or accept ulp drift.
  */
object RangeCum {

  /** Key-count ceiling for broadcast-joining the totals frame back onto
    * the cum stream: past ~1M keys a per-executor hash relation (on top
    * of the offsets broadcast of the same magnitude) stops being "tiny" —
    * callers should fall back to a shuffle join, which is slower but
    * memory-safe. Well under maxDriverEntries on purpose: the driver can
    * HOLD 4M subtotals transiently; pinning them in every executor for a
    * query's lifetime is a different budget. */
  val MaxBroadcastKeys: Long = 1L << 20

  /** Append `__cum_<c>` (running inclusive sum, double) for each c in
    * `sumCols`, ordered by `orderCol` (asc/desc) within `keys` (empty =
    * one global ordering). Exclusive prefixes derive as
    * `__cum_<c> − <c>`. Input column set is preserved. */
  def cumSum(df: DataFrame, keys: Seq[String], orderCol: String,
             sumCols: Seq[String], ascending: Boolean = true,
             maxDriverEntries: Int = 4000000): DataFrame =
    cumSumWithTotals(df, keys, orderCol, sumCols, ascending,
      maxDriverEntries)._1

  /** [[cumSumWithTotals]] minus the key count (source-compat shim for
    * callers that don't need a broadcast-size decision). */
  def cumSumWithTotals(df: DataFrame, keys: Seq[String], orderCol: String,
                       sumCols: Seq[String], ascending: Boolean,
                       maxDriverEntries: Int): (DataFrame, DataFrame) = {
    val (cum, totals, _) = cumSumWithTotalsN(df, keys, orderCol, sumCols,
      ascending, maxDriverEntries)
    (cum, totals)
  }
  def cumSumWithTotals(df: DataFrame, keys: Seq[String], orderCol: String,
                       sumCols: Seq[String]): (DataFrame, DataFrame) =
    cumSumWithTotals(df, keys, orderCol, sumCols, true, 4000000)

  /** Null-safe double read of sum column `i` (null counts as 0). */
  private def numGetter(dt: DataType, i: Int): InternalRow => Double = {
    val get: InternalRow => Double = dt match {
      case DoubleType    => r => r.getDouble(i)
      case FloatType     => r => r.getFloat(i).toDouble
      case IntegerType   => r => r.getInt(i).toDouble
      case LongType      => r => r.getLong(i).toDouble
      case ShortType     => r => r.getShort(i).toDouble
      case ByteType      => r => r.getByte(i).toDouble
      case BooleanType   => r => if (r.getBoolean(i)) 1.0 else 0.0
      case d: DecimalType =>
        r => r.getDecimal(i, d.precision, d.scale).toDouble
      case other => throw new IllegalArgumentException(
        s"RangeCum: non-numeric type $other in sum column")
    }
    r => if (r.isNullAt(i)) 0.0 else get(r)
  }

  /** [[cumSum]] plus the PER-KEY GRAND TOTALS as a second (tiny, driver-
    * built) DataFrame — schema (keys…, `__tot_<c>` double per sum
    * column). The totals fall out of pass 1's per-(partition, key)
    * subtotal fold for free, so callers that need "running sum AND group
    * total" (ECDF normalization, rank statistics) get both without a
    * second cluster pass or a persist; the totals frame is O(#keys) rows
    * and broadcast-join material by construction.
    *
    * NOTE this method (like cumSum) is EAGER: pass 1 runs Spark jobs at
    * call time (sort + subtotal collect), not at first action on the
    * returned frames.
    *
    * The third element is the DISTINCT KEY COUNT (== totals row count),
    * known for free from the driver fold — callers broadcast-joining the
    * totals frame use it to fall back to a shuffle join when the key
    * cardinality makes a per-executor hash relation unreasonable. */
  def cumSumWithTotalsN(df: DataFrame, keys: Seq[String], orderCol: String,
                        sumCols: Seq[String], ascending: Boolean = true,
                        maxDriverEntries: Int = 4000000)
      : (DataFrame, DataFrame, Long) = {
    val s = scan(df, keys, orderCol, sumCols, ascending, maxDriverEntries)
    val spark = df.sparkSession
    val nSum = sumCols.length
    val (key, num) = (s.key, s.num)
    val bc = spark.sparkContext.broadcast(s.offsets)
    val outSchema = StructType(s.schema.fields ++
      sumCols.map(c => StructField(s"__cum_$c", DoubleType, nullable = false)))
    // pass 2: seed each key's running sums from its offset, emit per row
    val out = s.rdd.mapPartitionsWithIndex { (pi, it) =>
      val partOffsets = bc.value.getOrElse(pi, Map.empty[Seq[Any], Array[Double]])
      var curKey: Seq[Any] = null
      var run: Array[Double] = null
      val joined = new JoinedRow
      it.map { r =>
        val kRaw = key.raw(r)
        if (curKey == null || kRaw != curKey) {
          curKey = key.copy(kRaw)
          run = partOffsets.getOrElse(curKey,
            new Array[Double](nSum)).clone()
        }
        val cums = new GenericInternalRow(nSum)
        var i = 0
        while (i < nSum) {
          run(i) += num(i)(r)
          cums.update(i, run(i))
          i += 1
        }
        joined(r, cums): InternalRow
      }
    }
    val cum = InternalRows.toDF(spark, out, outSchema)
    // grand totals per key come from the driver scan — no cluster work
    // (keys are already internal-typed copies, so the totals frame goes
    // through the InternalRow path too)
    val totSchema = StructType(s.keyIdx.map(s.schema.fields(_)) ++
      sumCols.map(c => StructField(s"__tot_$c", DoubleType, nullable = false)))
    val totRows: Seq[InternalRow] = s.totals.map { case (k, tot) =>
      val vals = new Array[Any](k.length + nSum)
      k.copyToArray(vals)
      tot.copyToArray(vals, k.length)
      new GenericInternalRow(vals): InternalRow
    }.toSeq
    val totals = InternalRows.toDF(spark,
      spark.sparkContext.parallelize(totRows, 1), totSchema)
    (cum, totals, totRows.size.toLong)
  }

  /** The covering-cell pick behind [[graft.agg.SortedQuantiles]]. `df`
    * holds cells (keys…, double `orderCol` value, integer-valued
    * `countCol` count); for each key group of total count n, the driver
    * asks `positions(key, n)` for 1-based positions, and the result maps
    * the group's key to (n, position → value of the cell covering it —
    * the one whose running-count interval (cum − count, cum] contains
    * the position). Keys are internal-typed (UTF8String for strings).
    *
    * Pass 2 walks the same sorted shuffle as [[cumSumWithTotalsN]] but
    * emits only covering cells, at most Σ|positions| rows, which are
    * collected. That count is known from pass 1, so the
    * `maxDriverEntries` guard refuses before pass 2 launches. EAGER: both
    * passes run at call time. */
  private[graft] def coveringValues(df: DataFrame, keys: Seq[String],
      orderCol: String, countCol: String,
      positions: (Seq[Any], Double) => Array[Long],
      maxDriverEntries: Int = 4000000)
      : Map[Seq[Any], (Double, Map[Long, Double])] = {
    val s = scan(df, keys, orderCol, Seq(countCol), ascending = true,
      maxDriverEntries)
    val oi = s.schema.fieldIndex(orderCol)
    require(s.schema.fields(oi).dataType == DoubleType,
      s"RangeCum.coveringValues: order column '$orderCol' must be double")
    val targets: Map[Seq[Any], Array[Long]] = s.totals.map { case (k, t) =>
      k -> positions(k, t(0)).distinct.sorted
    }.toMap
    val nTargets = targets.valuesIterator.map(_.length.toLong).sum
    require(nTargets <= maxDriverEntries,
      s"RangeCum.coveringValues: $nTargets covering cells exceed " +
        s"maxDriverEntries=$maxDriverEntries — too many groups × " +
        "positions to collect; aggregate keys first or raise the cap")
    val (key, count) = (s.key, s.num(0))
    val bc = df.sparkSession.sparkContext.broadcast((s.offsets, targets))
    // pass 2: per key, skip the positions earlier partitions cover, then
    // emit (key, position, value) each time the running count reaches one
    val picked = s.rdd.mapPartitionsWithIndex { (pi, it) =>
      val (offsets, tg) = bc.value
      val partOffsets = offsets.getOrElse(pi, Map.empty[Seq[Any], Array[Double]])
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Any], Long, Double)]
      var curKey: Seq[Any] = null
      var run = 0.0
      var ts: Array[Long] = null
      var j = 0
      it.foreach { r =>
        val kRaw = key.raw(r)
        if (curKey == null || kRaw != curKey) {
          curKey = key.copy(kRaw)
          run = partOffsets.get(curKey).fold(0.0)(_(0))
          ts = tg.getOrElse(curKey, Array.emptyLongArray)
          j = 0
          while (j < ts.length && ts(j) <= run) j += 1
        }
        run += count(r)
        while (j < ts.length && ts(j) <= run) {
          out += ((curKey, ts(j), r.getDouble(oi)))
          j += 1
        }
      }
      out.iterator
    }.collect()
    val at = picked.groupBy(_._1).map { case (k, xs) =>
      k -> xs.map(x => x._2 -> x._3).toMap
    }
    s.totals.map { case (k, t) =>
      k -> (t(0), at.getOrElse(k, Map.empty[Long, Double]))
    }
  }

  /** Reads a sorted row's key columns. `raw` does NOT copy: its values
    * are valid only until the iterator's next(). `copy` deep-copies a key
    * so it can be held across rows or shipped to the driver. */
  private final class KeyReader(idx: Array[Int], types: Array[DataType])
      extends Serializable {
    def raw(r: InternalRow): Seq[Any] = {
      val a = new Array[Any](idx.length)
      var i = 0
      while (i < idx.length) {
        a(i) = if (r.isNullAt(idx(i))) null else r.get(idx(i), types(i))
        i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    }
    def copy(k: Seq[Any]): Seq[Any] =
      k.map(v => if (v == null) null else InternalRow.copyValue(v))
  }

  /** Pass 1's outcome: the range-sorted rows (both passes read this
    * sort's shuffle files), each partition's running sums per key before
    * its first row, and each key's grand totals. */
  private final case class Scan(
      rdd: RDD[InternalRow], schema: StructType, keyIdx: Array[Int],
      key: KeyReader, num: Array[InternalRow => Double],
      offsets: Map[Int, Map[Seq[Any], Array[Double]]],
      totals: Map[Seq[Any], Array[Double]])

  /** Range sort, pass 1 and the driver offset scan — the one scaffold
    * both consumers share. */
  private def scan(df: DataFrame, keys: Seq[String], orderCol: String,
                   sumCols: Seq[String], ascending: Boolean,
                   maxDriverEntries: Int): Scan = {
    require(sumCols.nonEmpty, "RangeCum.cumSum needs at least one sum column")
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    val ocol = if (ascending) col(orderCol).asc else col(orderCol).desc
    val sortCols = keys.map(col) :+ ocol
    val sorted = df.repartitionByRange(np, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema
    val keyIdx = keys.map(schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(schema.fields(_).dataType)
    // key equality runs through Seq[Any].equals in the driver offset map:
    // Array[Byte] (BinaryType) and unordered MapData compare by identity
    // there, which would silently fragment key groups — refuse up front
    keys.zip(keyTypes).foreach { case (k, dt) => dt match {
      case BinaryType | _: MapType => throw new IllegalArgumentException(
        s"RangeCum: key column '$k' has type ${dt.simpleString} — binary/" +
          "map keys have identity-based equality in the driver offset " +
          "map and would fragment groups; cast to a value-comparable type")
      case _ => ()
    } }
    val key = new KeyReader(keyIdx, keyTypes)
    val nSum = sumCols.length
    val num: Array[InternalRow => Double] = sumCols.map(schema.fieldIndex)
      .map(i => numGetter(schema.fields(i).dataType, i)).toArray
    val rdd = sorted.queryExecution.toRdd
    // pass 1: per-(partition, key) subtotals, in in-partition key order
    val subtotals = rdd.mapPartitionsWithIndex { (pi, it) =>
      val m = scala.collection.mutable.LinkedHashMap
        .empty[Seq[Any], Array[Double]]
      it.foreach { r =>
        val kRaw = key.raw(r)
        var t = m.getOrElse(kRaw, null)
        if (t == null) {
          t = new Array[Double](nSum)
          m.update(key.copy(kRaw), t)
        }
        var i = 0
        while (i < nSum) { t(i) += num(i)(r); i += 1 }
      }
      m.iterator.map { case (k, t) => (pi, k, t) }
    }.collect()
    require(subtotals.length <= maxDriverEntries,
      s"RangeCum.cumSum: ${subtotals.length} (partition, key) subtotals " +
        s"exceed maxDriverEntries=$maxDriverEntries — too many keys for " +
        s"the driver offset scan; aggregate keys first or raise the cap")
    // driver scan: running offset per key across partitions in range
    // order; the final running sum is the key's grand total
    val byPart = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.Map[Seq[Any], Array[Double]]]
    val totals = subtotals.groupBy(_._2).map { case (k, entries) =>
      var acc = new Array[Double](nSum)
      entries.sortBy(_._1).foreach { case (pi, _, tot) =>
        byPart.getOrElseUpdate(pi,
          scala.collection.mutable.Map.empty)(k) = acc
        val next = new Array[Double](nSum)
        var i = 0
        while (i < nSum) { next(i) = acc(i) + tot(i); i += 1 }
        acc = next
      }
      k -> acc
    }
    Scan(rdd, schema, keyIdx, key, num,
      byPart.map { case (pi, m) => pi -> m.toMap }.toMap, totals)
  }
}
