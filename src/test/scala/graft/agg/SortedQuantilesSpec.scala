package graft.agg

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** BIT-parity of the shared sort-based exact multi-quantile
  * ([[SortedQuantiles]], the 100-TB path) against the buffering
  * TypedImperativeAggregate (graft.expr.ExactPercentile via
  * Stats.percentileExactBuffered, the small-frame twin): every cell is
  * compared via doubleToLongBits, so even one ulp of interpolation
  * drift fails. Data is seeded-random with the nasty shapes: heavy
  * ties, integer-valued columns, nulls, an all-null column for one
  * stratum, a NULL stratum key, n=1 groups, and ps hitting exact ranks
  * (0, 1, 0.5 on odd n) and irrational fractions (2/3). */
class SortedQuantilesSpec extends SparkSpec {

  private lazy val sc2 = spark

  private def bits(v: Any): Any = v match {
    case null      => null
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case other     => other
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, sortCols: Seq[String]): Unit = {
    val ra = a.orderBy(sortCols.map(col): _*).collect()
      .map(r => r.toSeq.map(bits))
    val rb = b.orderBy(sortCols.map(col): _*).collect()
      .map(r => r.toSeq.map(bits))
    assert(a.columns.toSeq == b.columns.toSeq, "column names/order differ")
    assert(ra.length == rb.length, s"row counts differ: ${ra.length} vs ${rb.length}")
    ra.zip(rb).foreach { case (x, y) => assert(x == y, s"row differs: $x vs $y") }
  }

  private lazy val messy: DataFrame = {
    import sc2.implicits._
    val rnd = new scala.util.Random(42)
    val strata = Array("a", "b", "c", null)
    val rows = (1 to 4000).map { i =>
      val s = strata(rnd.nextInt(strata.length))
      val cont = if (rnd.nextInt(10) == 0) None else Some(rnd.nextGaussian() * 100)
      val tied = Some(rnd.nextInt(7).toDouble) // heavy ties, integer-valued
      val onlyA = if (s == "a") None else Some(rnd.nextDouble()) // all-null for stratum a
      (s, cont, tied, onlyA)
    } :+ (("lonely", Some(3.25), Some(1.0), Some(0.5))) // n=1 group
    rows.toDF("s", "cont", "tied", "only_a")
  }

  private val ps = Seq(0.0, 0.01, 0.25, 0.5, 2.0 / 3.0, 0.75, 0.99, 1.0)

  test("stratified multi-column multi-p: bit-identical to the buffering aggregate") {
    val a = Stats.percentileExact(messy, Seq("cont", "tied", "only_a"), ps, Seq("s"))
    val b = Stats.percentileExactBuffered(messy, Seq("cont", "tied", "only_a"), ps, Seq("s"))
    assertSameRows(a, b, Seq("s"))
  }

  test("global (no keys): bit-identical, including a single-element column") {
    val a = Stats.percentileExact(messy, Seq("cont", "tied"), ps)
    val b = Stats.percentileExactBuffered(messy, Seq("cont", "tied"), ps)
    assertSameRows(a, b, Nil)
  }

  test("expression values and distinct ps per request (calcMadFences shape)") {
    val med = SortedQuantiles.globalArray(messy, col("cont"), Seq(0.5)).get.head
    val a = SortedQuantiles.of(messy, Nil, Seq(
        SortedQuantiles.Req("__d", abs(col("cont") - lit(med)), Seq(0.5)),
        SortedQuantiles.Req("__q", col("tied"), Seq(0.25, 0.75))))
      .select(element_at(col("__d"), 1).as("d"),
        element_at(col("__q"), 1).as("q1"), element_at(col("__q"), 2).as("q3"))
    val b = messy.agg(
      element_at(graft.expr.ExactPercentile.of(abs(col("cont") - lit(med)), Seq(0.5)), 1).as("d"),
      element_at(graft.expr.ExactPercentile.of(col("tied"), Seq(0.25, 0.75)), 1).as("q1"),
      element_at(graft.expr.ExactPercentile.of(col("tied"), Seq(0.25, 0.75)), 2).as("q3"))
    assertSameRows(a, b, Nil)
  }

  test("calcMadFences cell-derived MAD: bit-identical to brute two-pass ExactPercentile") {
    // the r14 rework folds |x − median| cells off the VALUE cells (no
    // second corpus scan); pin it against the buffering aggregate's
    // direct two-pass form on ties + nulls + a near-continuous column
    val out = graft.clean.Clean.calcMadFences(messy, Seq("cont", "tied"), k = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("cont", "tied").foreach { c =>
      val med = messy.agg(element_at(
        graft.expr.ExactPercentile.of(col(c), Seq(0.5)), 1)).head().getDouble(0)
      val mad = messy.agg(element_at(
        graft.expr.ExactPercentile.of(abs(col(c) - lit(med)), Seq(0.5)), 1))
        .head().getDouble(0)
      val r = out(c)
      assert(bits(r.getDouble(1)) == bits(med), s"$c median")
      assert(bits(r.getDouble(2)) == bits(mad), s"$c mad")
      assert(bits(r.getDouble(3)) == bits(med - 2.0 * 1.4826 * mad), s"$c lfence")
      assert(bits(r.getDouble(4)) == bits(med + 2.0 * 1.4826 * mad), s"$c ufence")
    }
  }

  test("all-null column in one group yields a null array for that request only") {
    val out = SortedQuantiles.of(messy, Seq("s"), Seq(
      SortedQuantiles.Req("__qa", col("only_a"), Seq(0.5)),
      SortedQuantiles.Req("__qc", col("cont"), Seq(0.5))))
    val byS = out.collect().map(r => Option(r.getString(0)) -> r).toMap
    val aRow = byS(Some("a"))
    assert(aRow.isNullAt(1), "all-null request must yield a null array")
    assert(!aRow.isNullAt(2), "sibling request with values must survive")
    assert(byS.contains(None), "NULL stratum key must form a group")
  }

  test("empty input: global emits one all-null row; keyed emits no rows") {
    val empty = messy.where(lit(false))
    val g = SortedQuantiles.of(empty, Nil,
      Seq(SortedQuantiles.Req("__q", col("cont"), Seq(0.5)))).collect()
    assert(g.length == 1 && g(0).isNullAt(0))
    val k = SortedQuantiles.of(empty, Seq("s"),
      Seq(SortedQuantiles.Req("__q", col("cont"), Seq(0.5)))).collect()
    assert(k.isEmpty)
  }

  test("calcFences sorted path matches the buffered grouped-agg form (with n)") {
    val a = graft.clean.Clean.calcFences(messy, Seq("cont", "tied"), k = 1.5, strata = Seq("s"))
    val b = {
      val aggs = Seq("cont", "tied").map(c =>
        graft.expr.ExactPercentile.of(col(c), Seq(0.25, 0.75)).as(s"__q_$c"))
      messy.groupBy(col("s")).agg(count(lit(1)).as("n"), aggs: _*)
        .select((Seq(col("s")) :+ col("n")) ++ Seq("cont", "tied").flatMap { c =>
          val q1 = element_at(col(s"__q_$c"), 1)
          val q3 = element_at(col(s"__q_$c"), 2)
          val iqr = q3 - q1
          Seq(q1.as(s"${c}_q1"), q3.as(s"${c}_q3"),
            (q1 - lit(1.5) * iqr).as(s"${c}_lfence"),
            (q3 + lit(1.5) * iqr).as(s"${c}_ufence"))
        }: _*)
    }
    assertSameRows(a, b, Seq("s"))
  }

  // the covering pick: pass 2 emits only the cells covering each group's
  // target positions, so the shapes below aim targets at partition
  // boundaries, shared cells and null keys

  /** Range partitions `cells`' (keys, request) groups land in, per group. */
  private def partitionsPerGroup(df: DataFrame, keys: Seq[String]): Long = {
    val cells = SortedQuantiles.cellsOf(df, keys,
      Seq(SortedQuantiles.Req("__q", col("v"), Seq(0.5))))
    graft.util.RangeCum.cumSum(cells, keys :+ "__qc", "__v", Seq("__c"))
      .withColumn("__pid", spark_partition_id())
      .groupBy((keys :+ "__qc").map(col): _*)
      .agg(countDistinct("__pid").as("np"))
      .agg(min("np")).head().getLong(0)
  }

  test("groups spanning several range partitions: bit-identical") {
    import sc2.implicits._
    val rnd = new scala.util.Random(7)
    val df = (for (k <- Seq("a", "b"); _ <- 1 to 1500)
      yield (k, rnd.nextGaussian())).toDF("k", "v")
    assert(partitionsPerGroup(df, Seq("k")) > 1,
      "every group must span range partitions")
    val many = (0 to 40).map(_ / 40.0) :+ (1.0 / 3.0)
    assertSameRows(Stats.percentileExact(df, Seq("v"), many, Seq("k")),
      Stats.percentileExactBuffered(df, Seq("v"), many, Seq("k")), Seq("k"))
  }

  test("every position a target, so each partition's first cell is one") {
    import sc2.implicits._
    // n distinct values and ps = i/(n−1): every 1-based position is a
    // covering target, including the first cell of every range partition
    val n = 301
    val df = (1 to n).map(i => (i * 7919 % 1000).toDouble).toDF("v")
    assert(partitionsPerGroup(df, Nil) > 1)
    val every = (0 until n).map(_.toDouble / (n - 1))
    assertSameRows(Stats.percentileExact(df, Seq("v"), every),
      Stats.percentileExactBuffered(df, Seq("v"), every), Nil)
  }

  test("heavy ties: one cell covering both lo and hi positions") {
    import sc2.implicits._
    // 997 copies of 5.0 between two singletons: every interior p has a
    // fractional rank whose lo and hi positions fall in the same cell
    val df = ((Seq(-1.0) ++ Seq.fill(997)(5.0) :+ 9.0).map(v => ("x", v)) ++
      Seq(("y", 2.0), ("y", 2.0))).toDF("k", "v")
    val tiePs = Seq(0.0, 0.001, 0.3, 2.0 / 3.0, 0.999, 1.0)
    assertSameRows(Stats.percentileExact(df, Seq("v"), tiePs, Seq("k")),
      Stats.percentileExactBuffered(df, Seq("v"), tiePs, Seq("k")), Seq("k"))
  }

  test("null key groups, alone and beside non-null keys: bit-identical") {
    import sc2.implicits._
    val rnd = new scala.util.Random(11)
    val ks = Array[String]("p", "q", null)
    val df = (1 to 3000).map { _ =>
      (ks(rnd.nextInt(3)), ks(rnd.nextInt(3)),
        if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(50).toDouble))
    }.toDF("k1", "k2", "v")
    assertSameRows(Stats.percentileExact(df, Seq("v"), ps, Seq("k1", "k2")),
      Stats.percentileExactBuffered(df, Seq("v"), ps, Seq("k1", "k2")),
      Seq("k1", "k2"))
  }

  test("globalArray runs at most 6 jobs") {
    val (got, jobs) = graft.JobCount(spark) {
      SortedQuantiles.globalArray(messy, col("cont"), Seq(0.1, 0.25, 0.5, 0.75, 0.9))
    }
    assert(got.isDefined)
    assert(jobs <= 6, s"globalArray ran $jobs jobs")
  }

  test("the covering-cell budget refuses before pass 2 collects") {
    val reqs = Seq(SortedQuantiles.Req("__q", col("cont"), Seq(0.1, 0.3, 0.7, 0.9)))
    val cells = SortedQuantiles.cellsOf(messy, Nil, reqs)
    // pass 1 holds at most one subtotal per range partition (4 here);
    // the 4 fractional ps need 8 covering cells
    val (_, okJobs) = graft.JobCount(spark) {
      SortedQuantiles.ofCounts(cells, Nil, reqs, maxDriverEntries = 8)
    }
    val (e, refusedJobs) = graft.JobCount(spark) {
      intercept[IllegalArgumentException] {
        SortedQuantiles.ofCounts(cells, Nil, reqs, maxDriverEntries = 7)
      }
    }
    assert(e.getMessage.contains("covering cells"), e.getMessage)
    assert(refusedJobs == okJobs - 1,
      s"the refused call ran $refusedJobs jobs, the accepted one $okJobs: " +
        "exactly the pass-2 collect must be skipped")
  }
}
