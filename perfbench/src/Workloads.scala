package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.clean.Clean
import graft.ml.{FeatureEncode, HandyFencer, HandyImputer}
import graft.strata.{ColStratum, StratifiedFrame}

/** One call into graft. `build` makes the call and returns its DataFrame
  * (driver-side eager work happens here); `sink` executes the result.
  * `check` is true in the untimed warm pass, whose sink also keeps the
  * output for the oracle comparison. `fit` marks the learn step. The warm
  * pass runs its stages in order; within a stage, ops of one `chain` run
  * in order and chains run concurrently. */
final case class Op(name: String, layer: String, rows: Long,
                    build: SparkSession => DataFrame,
                    sink: (DataFrame, Boolean) => Unit,
                    fit: Boolean = false, stage: Int = 0, chain: String = "")

/** The three workloads, each a list of ops that makes up one pass. */
final class Workloads(dataDir: String, outDir: String, rows: Map[String, Long]) {

  private def table(s: SparkSession, t: String): DataFrame =
    s.read.parquet(s"$dataDir/$t.parquet")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A registered query row of graft.Queries, run as graft.Bench runs it. */
  private def query(name: String, layer: String, tbl: String): Op = {
    val fn = Queries.queries(name)
    Op(name, layer, rows(tbl), s => fn(s, dataDir), (df, check) =>
      if (check) df.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/check/$name")
      else noop(df))
  }

  /** Learn the stratified fill value and Tukey fences of one column; the
    * learned state is what a replay would apply. */
  private def fitOp(name: String, tbl: String, column: String,
                    stratum: String): Op =
    Op(name, "clean", rows(tbl), s => {
      val df = table(s, tbl)
      val learned = Clean.fill(df.toHandy, Clean.Mean, Seq(column),
        Seq(ColStratum(stratum))).state.statistics
      val fences = Clean.calcFences(df, Seq(column), strata = Seq(stratum))
        .collect()
      import s.implicits._
      Seq(learned.values.map(_.size).sum + fences.length).toDF("n")
    }, (df, _) => noop(df), fit = true)

  // The handyspark surface of an interactive notebook, one op per kind of
  // call, over the star schema. Layer = the graft module the row calls
  // into. The stratified fill and the fence cap are the learn step.
  def edaNotebook: Seq[Op] = Seq(
    query("q_assign", "core", "lineitem"),
    query("q_describe", "agg", "lineitem"),
    query("q_percentiles", "agg", "lineitem"),
    query("q_value_counts", "agg", "lineitem"),
    query("q_corr", "agg", "lineitem"),
    query("q_stratify_bucket", "strata", "lineitem"),
    query("q_stratify_quantile", "strata", "lineitem"),
    query("q_stratify_rewritten", "strata", "orders"),
    query("q_mode_stratified", "strata", "orders"),
    query("q_fill_median_strat", "clean", "lineitem").copy(fit = true),
    query("q_fence_cap", "clean", "lineitem").copy(fit = true),
    query("q_histogram", "plotdata", "lineitem"),
    query("q_string_suite", "funcs", "part"),
    query("q_datetime_suite", "funcs", "orders"),
    query("q_mahalanobis", "outlier", "lineitem"),
    query("q_roc", "eval", "lineitem"))

  // One pass of an LLM-curation pipeline over the grown corpus: learn the
  // per-language length fences, then filter, dedup, sample, pack, index
  // and search.
  def curationCorpus: Seq[Op] = Seq(
    fitOp("fit_length_fences", "documents", "n_chars", "lang"),
    query("q_quality_filters", "pipeline_text", "documents"),
    query("q_minhash_dedup", "pipeline_dedup", "documents"),
    query("q_substr_dedup", "pipeline_dedup", "documents"),
    query("q_dedup_cc", "pipeline_dedup", "documents"),
    query("q_dsir_sample", "pipeline_text", "documents"),
    query("q_pack_greedy", "pipeline_text", "documents"),
    query("q_vec_index", "pipeline_embed", "embeddings"),
    query("q_sim_topk", "pipeline_embed", "embeddings"))

  /** Learn once, then replay over the batch stream: the fit op hands its
    * transformers to the batch ops of the same pass. */
  def replayScore(batches: Seq[String], batchRows: Seq[Long]): Seq[Op] = {
    var imputer = new HandyImputer()
    var fencer = new HandyFencer()
    val fit = Op("fit_fill_fence", "clean", rows("lineitem"), s => {
      val li = table(s, "lineitem")
      val strata = Seq(ColStratum("l_returnflag"))
      val filled = Clean.fill(li.toHandy, Clean.Mean, Seq("l_quantity"), strata)
      val sf = StratifiedFrame(li, strata)
      val fences = Clean.calcFences(li, Seq("l_extendedprice"),
          strata = Seq("l_returnflag")).collect()
        .map { r =>
          sf.clauseOf(Seq("l_returnflag" -> r.getString(0))) ->
            ((r.getAs[Double]("l_extendedprice_lfence"),
              r.getAs[Double]("l_extendedprice_ufence")))
        }.toMap
      imputer = new HandyImputer().setFillDict(filled.state.statistics)
      fencer = new HandyFencer().setFenceDict(Map("l_extendedprice" -> fences))
      import s.implicits._
      Seq(fences.size).toDF("n")
    }, (df, _) => noop(df), fit = true)
    val write: String => (DataFrame, Boolean) => Unit = path => (df, _) =>
      df.write.mode("overwrite").parquet(path)
    fit +: batches.zip(batchRows).zipWithIndex.flatMap { case ((b, n), i) =>
      val mlOut = f"$outDir/replay/b$i%03d_ml"
      Seq(
        Op(f"replay_ml_$i%03d", "ml", n, s => FeatureEncode.oneHot(
            fencer.transform(imputer.transform(s.read.parquet(b))),
            "l_returnflag", Seq("A", "N", "R"), "flag"),
          write(mlOut), stage = 1, chain = b),
        Op(f"replay_funcs_$i%03d", "funcs", n, s => {
          import graft.funcs.implicits._
          val key = concat_ws("-", col("l_returnflag"), col("l_linestatus"),
            col("l_linenumber"))
          val t = col("l_shipdate")
          s.read.parquet(mlOut).select(col("*"),
            key.str.upper.as("key_up"), key.str.len.as("key_len"),
            key.str.slice(0, 3).as("key_head"),
            key.str.replace("-", "").as("key_flat"),
            t.dt.year.as("ship_year"), t.dt.month.as("ship_month"),
            t.dt.quarter.as("ship_qtr"), t.dt.dayofweek.as("ship_dow"),
            t.dt.strftime("%Y-%m").as("ship_ym"))
        }, write(f"$outDir/replay/b$i%03d"), stage = 1, chain = b))
    }
  }

  /** A call that must fail: fencing a column the frame does not have. */
  def injectedFailure(tbl: String): Op =
    Op("inject_failure", "clean", rows(tbl),
      s => Clean.fence(table(s, tbl).toHandy, Seq("__no_such_column")).df,
      (df, _) => noop(df))
}
