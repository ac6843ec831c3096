package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalRows
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** Shared sort-based EXACT multi-quantile — the 100-TB replacement for
  * funneling whole groups through [[graft.expr.ExactPercentile]]'s
  * buffer-and-sort TypedImperativeAggregate (per-group state O(group
  * values): fine at gate SFs, an executor-memory wall at 60M-row groups
  * — the r12 campaign measured a single 8.5 GB hash-aggregate page).
  *
  * Plan shape (the [[graft.util.RangeCum]] scaffold, proven by
  * quantilesByCounts / q_quantile_bands):
  *
  *   1. MELT one scan of the input into a (keys…, request-id, value)
  *      stream — every requested (column, ps) list rides the same pass;
  *   2. fold to the distinct (keys…, request, value) CELL frame with
  *      counts (map-side combine: low-cardinality columns — most of a
  *      TPC-H-ish schema — collapse to tiny cell sets; genuinely
  *      continuous columns degrade to one range-sort of n rows, the
  *      q_corr_spearman cost bound);
  *   3. RangeCum range-sorts the cells by value within (keys, request);
  *      its pass 1 yields each group's total n on the driver, which turns
  *      every requested p into the two covering positions
  *      ⌊p·(n−1)⌋+1 and min(⌊p·(n−1)⌋+2, n);
  *   4. RangeCum's pass 2 emits only the cells covering those positions
  *      (at most 2·|ps| per group) and collects them; the driver
  *      interpolates exactly like ExactPercentile:
  *      pos = p·(n−1); frac = pos − ⌊pos⌋; frac == 0 → lo, else
  *      lo + (hi − lo)·frac — BIT-IDENTICAL (SortedQuantilesSpec pins
  *      doubleToLongBits parity against the buffering aggregate).
  *
  * Memory everywhere is one row + the offset map; no per-group buffers.
  *
  * Output: one row per key group, one `array<double>` column per
  * request (ps order preserved) — the same shape ExactPercentile.of
  * yields inside a groupBy agg, so call sites keep their element_at
  * unpacking. Parity caveats, all spec-pinned:
  *   - a group where a request's values are ALL null gets a null array
  *     (same as ExactPercentile);
  *   - a group where EVERY request is all-null is omitted entirely
  *     (a groupBy+agg would emit it with null arrays) — in-engine
  *     callers that need the full group universe left-join from it
  *     (see Clean.calcFences);
  *   - null KEY values form groups, as in groupBy.
  *
  * EAGER: both passes run at call time and the result is a driver-local
  * relation (one row per group), so reading, collecting or broadcast-
  * joining it launches no further job. The driver holds O(#groups ×
  * #requests × |ps|) entries, refused past `maxDriverEntries` before
  * pass 2 runs — group cardinality must be driver-sized (true for every
  * in-engine caller: global or low-cardinality strata).
  */
object SortedQuantiles {

  /** One request: exact quantiles of `value` at `ps`, emitted as an
    * `array<double>` column named `name`. `value` may be any numeric
    * expression (it is cast to double, the ExactPercentile contract). */
  final case class Req(name: String, value: Column, ps: Seq[Double])

  def of(df: DataFrame, keys: Seq[String], reqs: Seq[Req]): DataFrame =
    ofCounts(cellsOf(df, keys, reqs), keys, reqs)

  /** The melt + cell fold alone — rows (keys…, `__qc` request index,
    * `__v` double, `__c` double count), ONE corpus scan for every
    * request. Exposed so callers that post-process cells (derive a
    * second request's cells, count ranks against a threshold) can share
    * the scan; feed the result (or a derivation) to [[ofCounts]]. */
  private[graft] def cellsOf(df: DataFrame, keys: Seq[String],
                             reqs: Seq[Req]): DataFrame = {
    require(reqs.nonEmpty, "SortedQuantiles: no requests")
    val kcols = keys.map(col)
    // 1. melt — one scan, one struct per request, explode + null filter
    val projected = df.select(kcols ++ reqs.zipWithIndex.map {
      case (r, j) => r.value.cast("double").as(s"__v_$j")
    }: _*)
    val melted = projected
      .select(kcols :+ explode(array(reqs.indices.map(j =>
        struct(lit(j).as("__qc"), col(s"__v_$j").as("__v"))): _*)).as("__s"): _*)
      .select(kcols ++ Seq(col("__s.__qc").as("__qc"), col("__s.__v").as("__v")): _*)
      .where(col("__v").isNotNull)
    // 2. distinct-cell counts (double counts: RangeCum's integer-double
    // determinism contract)
    melted.groupBy((kcols :+ col("__qc") :+ col("__v")): _*)
      .agg(count(lit(1)).cast("double").as("__c"))
  }

  /** The pick machinery over a PRE-AGGREGATED cell frame — rows
    * (keys…, `__qc` int request index into `reqs`, `__v` double value,
    * `__c` double integer-valued count). Callers that can derive one
    * request's cells from another's (calcMadFences: |x − median| cell
    * counts fold straight off the value cell counts) skip re-scanning
    * the corpus entirely. Same output/parity contract as [[of]]. */
  private[graft] def ofCounts(cells: DataFrame, keys: Seq[String],
                              reqs: Seq[Req],
                              maxDriverEntries: Int = 4000000): DataFrame = {
    require(reqs.nonEmpty, "SortedQuantiles: no requests")
    reqs.foreach { r =>
      require(r.ps.nonEmpty, s"SortedQuantiles: request ${r.name} has no ps")
      r.ps.foreach(p => require(p >= 0 && p <= 1,
        s"SortedQuantiles: p must be in [0,1], got $p (${r.name})"))
    }
    require(reqs.map(_.name).distinct.size == reqs.size,
      "SortedQuantiles: request names must be distinct")
    val nk = keys.length
    // NOTE the cell frame is executed twice here (the range exchange's
    // boundary sampling runs its child once more than the shuffle
    // write) — a caller whose cells are expensive or reused downstream
    // should persist them BEFORE calling (calcMadFences and the
    // CacheRegistry users do); an unconditional persist here measured
    // NET-NEGATIVE for one-shot callers with near-continuous columns
    // (q_fence_cap 3.4 → 9.1 s at 100×: materializing a ~10M-cell cache
    // costs more than re-running the codegen melt+fold).
    // Covering positions (1-based) of every p come from n on the driver,
    // in the double/long arithmetic Spark's floor/least use.
    val picked = graft.util.RangeCum.coveringValues(cells, keys :+ "__qc",
      "__v", "__c", (k, n) => reqs(k(nk).asInstanceOf[Int]).ps.toArray
        .flatMap { p =>
          val lo = math.floor(p * (n - 1)).toLong + 1
          Array(lo, math.min(lo + 1, n.toLong))
        }, maxDriverEntries)

    // interpolate exactly as ExactPercentile.eval: integral rank short-
    // circuits to the lower statistic, else linear
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], Array[Any]]
    picked.foreach { case (k, (n, at)) =>
      val vals = reqs(k(nk).asInstanceOf[Int]).ps.map { p =>
        val r = p * (n - 1)
        val fl = math.floor(r).toLong
        val frac = r - fl
        val lo = at(fl + 1)
        if (frac == 0.0) lo else lo + (at(fl + 2) - lo) * frac
      }
      groups.getOrElseUpdate(k.take(nk), new Array[Any](reqs.size))(
        k(nk).asInstanceOf[Int]) = new GenericArrayData(vals.toArray[Any])
    }
    // a global request over no values still yields one (all-null) row,
    // as a global aggregate does
    if (keys.isEmpty && groups.isEmpty)
      groups(Nil) = new Array[Any](reqs.size)
    val schema = StructType(keys.map(cells.schema(_)) ++ reqs.map(r =>
      StructField(r.name, ArrayType(DoubleType, containsNull = true))))
    InternalRows.localDF(cells.sparkSession, groups.map { case (k, arrs) =>
      new GenericInternalRow((k ++ arrs).toArray): InternalRow
    }.toSeq, schema)
  }

  /** Convenience: single global (no keys) request → the quantile array
    * (null when the column is entirely null/empty), driver-side. */
  def globalArray(df: DataFrame, value: Column, ps: Seq[Double]): Option[Seq[Double]] = {
    val row = of(df, Nil, Seq(Req("__q", value, ps))).head()
    if (row.isNullAt(0)) None else Some(row.getSeq[Double](0))
  }
}
