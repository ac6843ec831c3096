package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over a pair graph — the step between
  * near-dup PAIR generation (minhash / simhash / embedding LSH) and an
  * actual dedup decision. Pairwise keep-min is wrong under transitivity:
  * with A~B and B~C but A!~C, dropping "the larger id of each pair"
  * removes B and C even though keeping {A, C} (or {A, B}) may be wanted,
  * and chains of length k collapse inconsistently depending on pair
  * order. Components give each document a canonical cluster id (the min
  * doc id reachable through the near-dup graph) so exactly one
  * representative per cluster survives.
  *
  * Two tiers behind one entry point:
  *
  *  - **small graphs** (≤ `localThreshold` distinct edges): driver-local
  *    union-find with min-root linking. A near-dup pair graph is small by
  *    construction — its victim set must fit a broadcast anyway — and the
  *    iterative dataflow algorithm pays ~1 s of scheduling per round for
  *    a graph the driver folds in milliseconds. The bound is explicit
  *    (2 longs × 1M edges ≈ tens of MB collected). The result is
  *    parallelized driver data: recompute-free, NOTHING persisted, so
  *    repeated calls (a bench harness, an iterative pipeline) leave zero
  *    block-manager residue — the round-4 q_dedup_cc regression was this
  *    tier paying four eager actions and a persist/unpersist cycle per
  *    invocation.
  *  - **large graphs**: alternating large-star / small-star (Kiveris,
  *    Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components
  *    in MapReduce and Beyond", SoCC 2014) — the standard O(log n)-round
  *    dataflow CC. Each round is two groupBy-min shuffles + joins; no
  *    per-node posting list is ever materialized in executor memory (a
  *    star center's neighborhood reaches component size; the DataFrame
  *    formulation keeps it as rows). Each round materializes through ONE
  *    action that simultaneously persists the round's edges, counts
  *    them, and folds an order-insensitive xor fingerprint for the
  *    convergence test; the previous round's blocks are released
  *    explicitly. Lineage is cut by re-wrapping the persisted RDD, so
  *    plans never grow with the iteration count.
  */
object Components {

  /** SplitMix64-style mix of an ORIENTED edge for the xor fingerprint —
    * asymmetric in (u, v), order-insensitive across rows under xor. */
  private def mixEdge(u: Long, v: Long): Long = {
    var x = u * 0x9E3779B97F4A7C15L + java.lang.Long.rotateLeft(v, 31)
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Persist the edge set and, in the SAME action, count it and fold the
    * xor fingerprint (one pass, no separate count/checksum jobs). */
  private def materialize(edges: DataFrame): (RDD[(Long, Long)], Long, Long) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rdd = edges.as[(Long, Long)].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (n, sig) = rdd.mapPartitions { it =>
      var n = 0L; var x = 0L
      it.foreach { case (u, v) => n += 1; x ^= mixEdge(u, v) }
      Iterator.single((n, x))
    }.fold((0L, 0L)) { case ((n1, x1), (n2, x2)) => (n1 + n2, x1 ^ x2) }
    (rdd, n, sig)
  }

  /** Driver-local union-find with min-root linking (the root of every
    * class is its minimum id, so find() IS the component label).
    * Self-loops register their node but link nothing. */
  private[pipeline] def localCC(edges: Array[(Long, Long)]): java.util.HashMap[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new java.util.HashMap[Long, Long]()
    edges.foreach { case (a, b) =>
      out.put(a, find(a)); out.put(b, find(b))
    }
    out
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** (id, component) for every node appearing in `pairs`, where
    * `component` is the minimum node id in the node's connected
    * component. Self-loops are ignored (their nodes still get a singleton
    * row); `pairs` need not be deduplicated or ordered. Nodes in no pair
    * at all are absent — callers wanting full-corpus coverage union
    * untouched rows in (see [[Dedup.nearDedupByComponent]]).
    *
    * Caching contract: the pair generator runs EXACTLY once in both
    * tiers. The small-graph tier returns parallelized driver data —
    * unpersisted, free to recompute, zero blocks left behind. The
    * large-graph tier returns an EAGER persisted frame (one row per
    * node) with every internal block released before returning; release
    * the result with `.unpersist()` when done (iterative callers that
    * skip this accumulate block-manager pressure — the round-3
    * leaked-blocks lesson). */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 50,
                          localThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // The generator behind `pairs` (an LSH or inverted-index pipeline) is
    // the expensive part — persist it so it runs once, then fold it to
    // the DISTINCT ORIENTED edge set and persist THAT (far smaller, and
    // the only thing every later step needs). Self-loops are kept here so
    // their nodes appear in the output; the star rounds filter them.
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val edges0 = p.select(
        greatest(col(aCol), col(bCol)).cast("long").as("u"),
        least(col(aCol), col(bCol)).cast("long").as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges0.count() // ONE action: fills p, folds + fills edges0
    p.unpersist(blocking = false)

    if (nEdges <= localThreshold) {
      // ---- driver tier: collect the (bounded) edge set, union-find it,
      // hand back parallelized local data. One more action against the
      // cached edge set, then nothing stays persisted.
      val comp = localCC(edges0.as[(Long, Long)].collect())
      edges0.unpersist(blocking = false)
      import scala.jdk.CollectionConverters._
      val rows = comp.asScala.toSeq.map { case (k, v) => (k, v) }
      spark.createDataset(spark.sparkContext.parallelize(rows))
        .toDF("id", "component")
    } else {
      // ---- dataflow tier ----
      val nodes = edges0.select(col("u").as("id"))
        .unionAll(edges0.select(col("v").as("id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      var (rdd, n, sig) = materialize(edges0.filter(col("u") =!= col("v")))
      nodes.count() // force from the cached edge blocks, then drop them
      edges0.unpersist(blocking = false)

      var edges = rewrap(spark, rdd)
      var converged = false
      var it = 0
      while (!converged && it < maxIter) {
        // ---- large-star: symmetric neighborhoods; m(u) = min(N(u) ∪ {u});
        // every neighbor v > u connects to m(u). Output stays oriented
        // u' > v' because m(u) <= u < v.
        val sym = edges.unionAll(
          edges.select(col("v").as("u"), col("u").as("v")))
        val mins = sym.groupBy("u").agg(min("v").as("mv"))
          .select(col("u"), least(col("u"), col("mv")).as("m"))
        val ls = sym.join(mins, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
        // ---- small-star: on oriented edges every neighbor is smaller;
        // m = min(N(u)); non-min neighbors and u itself connect to m.
        val mins2 = ls.groupBy("u").agg(min("v").as("m"))
        val ss = ls.join(mins2, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .unionAll(mins2.select(col("u"), col("m").as("v")))
          .distinct()

        val (rdd2, n2, sig2) = materialize(ss)
        converged = n2 == n && sig2 == sig
        rdd.unpersist(blocking = false)
        rdd = rdd2; n = n2; sig = sig2
        edges = rewrap(spark, rdd)
        it += 1
      }
      if (!converged)
        log.warn(s"connectedComponents exhausted maxIter=$maxIter without " +
          s"converging ($n edges remain) — labels are an upper bound on the " +
          "true min-id components (some clusters may stay split); raise " +
          "maxIter for a guaranteed fixpoint")
      // Converged edges are stars (node → root): distinct oriented edges
      // with exactly one row per non-root node, so the join is direct. On
      // maxIter exhaustion (or the ~2^-64 fingerprint collision) a node
      // can still carry several candidate labels — only THEN pay the
      // min-agg shuffle to keep one-row-per-node an invariant (emitting
      // multiple rows would silently corrupt downstream anti-joins).
      val starEdges = edges.select(col("u").as("id"), col("v").as("__root"))
      val perNode = if (converged) starEdges
        else starEdges.groupBy("id").agg(min("__root").as("__root"))
      val labeled = nodes.join(perNode, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("__root"), col("id")).as("component"))
      // Materialize the result, then release every internal block: the
      // final round's edges and the node set are only reachable through
      // the (now cached) result.
      val res = labeled.persist(StorageLevel.MEMORY_AND_DISK)
      res.count()
      rdd.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      res
    }
  }

  /** Incremental connected components: fold a BATCH of new pairs into an
    * existing labeling without recomputing the standing corpus — the CC
    * companion of the incremental dedup screens (bloomNewRows /
    * minhashDedupAgainst feed pairs here as batches arrive).
    *
    * `labels` must be a [[connectedComponents]]-shaped frame (one row per
    * node, `component` = min reachable id — which is exactly what this
    * method returns, so outputs chain). The result equals
    * `connectedComponents(labels-as-star-edges ∪ newPairs)` — hash-
    * identical to a full recompute (q_cc_update) — but only the AFFECTED
    * components pay: components none of whose members touch a new pair
    * pass through untouched.
    *
    * Scale shape: the standing `labels` frame never shuffles — it is
    * read by exactly TWO broadcast-joined passes (the affected-id fold
    * and the final anti-join pass-through), and every broadcast side is
    * a DRIVER-LOCAL relation so its broadcast build launches no job.
    * The batch itself is collected once (it is batch-bounded by
    * contract: the touched/affected sets it feeds had to fit a driver
    * broadcast at the same magnitude anyway — the collect stops at
    * `maxDriverBatch` + 1 pairs, and a batch past the cap fails loudly
    * before the driver holds more), the touched-id set folds on the
    * driver, and the affected component ids come back from ONE
    * semi-join job over `labels`. The previous formulation re-derived `touched` and
    * `affected` as lazy broadcast subtrees, so every action re-ran
    * their broadcast-build jobs and re-scanned `labels` (~8 sequential
    * small jobs per fold — pure fixed overhead at any scale). The
    * star-edge reconstruction (member → old component) is exact old
    * connectivity, and the CC rerun sees only affected-member + batch
    * edges. A batch of b pairs touching components of total size m
    * costs O(m + b) CC work regardless of corpus size. */
  def updateComponents(labels: DataFrame, newPairs: DataFrame,
                       aCol: String = "id_a", bCol: String = "id_b",
                       maxIter: Int = 50,
                       localThreshold: Long = 1L << 20,
                       maxDriverBatch: Int = 4000000): DataFrame =
      graft.util.Errors.context("updateComponents", Seq(aCol, bCol)) {
    val spark = labels.sparkSession
    import spark.implicits._
    // at most maxDriverBatch + 1 pairs land on the driver, so an
    // oversized batch fails at the cap instead of materializing first
    // (same null/NPE semantics as the local CC tier's as[(Long, Long)]
    // collect)
    val batch = newPairs.select(col(aCol).cast("long"),
      col(bCol).cast("long")).as[(Long, Long)]
      .limit(math.min(maxDriverBatch.toLong + 1, Int.MaxValue).toInt)
      .collect()
    require(batch.length <= maxDriverBatch,
      s"updateComponents: batch has more than maxDriverBatch=" +
        s"$maxDriverBatch pairs — fold smaller batches, or raise " +
        "the cap if the driver really has the memory")
    // driver fold: distinct touched ids (no distinct shuffle, no job)
    val touchedIds = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      batch.foreach { case (a, b) => s += a; s += b }
      s.toSeq
    }
    // LocalRelation broadcast sides: BroadcastExchange over a
    // LocalTableScan collects driver-side — no job per build
    val touchedDf = spark.createDataset(touchedIds).toDF("id")
    // ONE job over labels: the affected component ids (<= touched size)
    val affectedIds = labels.join(broadcast(touchedDf), Seq("id"), "left_semi")
      .select(col("component").cast("long")).distinct().as[Long].collect()
    val affectedDf = spark.createDataset(affectedIds.toSeq).toDF("component")
    // old connectivity of the affected components as star edges
    // (member -> old min id); reps contribute self-loops, keeping
    // pair-less members present in the rerun
    val affectedRows = labels.join(broadcast(affectedDf), Seq("component"),
      "left_semi")
    val subEdges = affectedRows
      .select(col("id").as("id_a"), col("component").as("id_b"))
      .unionAll(spark.createDataset(batch.toSeq).toDF("id_a", "id_b"))
    val relabeled = connectedComponents(subEdges, maxIter = maxIter,
      localThreshold = localThreshold)
    val untouched = labels.join(broadcast(affectedDf), Seq("component"),
      "left_anti")
    untouched.select(col("id"), col("component")).unionAll(relabeled)
  }

  /** Wrap a persisted edge RDD as a fresh DataFrame: the logical plan
    * becomes an opaque scan of the cached blocks, cutting the iterative
    * lineage (plans would otherwise double in size every round). */
  private def rewrap(spark: SparkSession, rdd: RDD[(Long, Long)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rdd).toDF("u", "v")
  }
}
