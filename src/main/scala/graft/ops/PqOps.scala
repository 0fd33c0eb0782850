package graft.ops

import graft.Tables
import graft.Tables.ResultOrdering
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2E product quantization (PQ) — the compression leg of the ANN story
  * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011). The similarity family already covers pruning
  * (sign-bucket LSH, IVF posting lists, trained coarse quantizer); PQ is
  * the orthogonal axis a 100 TB embedding corpus actually needs: each
  * 64-dim vector compresses to [[SubM]] one-byte codes (64 floats → 8
  * bytes), and queries rank candidates in the COMPRESSED domain through a
  * [[SubM]]×[[PqK]] lookup table without touching raw vectors.
  *
  * Train: the 64-dim space splits into [[SubM]] subspaces of [[SubDim]]
  * dims; each gets its own [[PqK]]-centroid Lloyd codebook. All eight
  * codebooks train together — ONE distributed job per iteration: per-row
  * in-row assignment against all eight literal centroid matrices
  * (`nearest_centroid` on array slices — zero corpus shuffle), then one
  * map-side-combined (sub, cluster, d) partial-sum aggregate whose wire
  * volume is ≤ SubM·PqK·SubDim rows per partition (1024 here) regardless
  * of corpus size. Codebooks are metadata on the driver, exactly like
  * [[ClusterOps]]' single-codebook model.
  *
  * Serve ([[simTopKPq]]): the query's 8 sub-vectors expand into an
  * 8×16 integer table of exact squared-L2 distances to every codebook
  * centroid (the ADC lookup table — driver-computed metadata, folded into
  * the plan as a literal); each corpus row's asymmetric distance is then
  * eight in-row array lookups and seven adds. One scan, zero exchanges,
  * TakeOrderedAndProject top-k. No exact-rescore stage here by design —
  * the IVF operators already demonstrate exact rescoring; this query IS
  * the compressed-domain ranking.
  *
  * Evaluate ([[pqStats]]): per (subspace, centroid) population and
  * mean/max quantization distortion under the final codebooks — the PQ
  * analog of [[ClusterOps.clusterStats]]'s dispersion diagnostic.
  *
  * Determinism / oracle exactness: the [[ClusterOps]] conventions
  * verbatim — integer-quantized vectors, exact integer squared-L2 (sub
  * distances ≤ ~1.2e11, double-exact), argmin ties to the lowest cluster
  * id via the min(dist·PqK + cluster) encode, centroid update
  * floor(sum/count) as the same IEEE division, empty clusters keep their
  * previous centroid. The DuckDB oracle unrolls all eight codebooks'
  * training CTE chains from the same seed rule, so both engines provably
  * run the SAME training.
  */
object PqOps {

  /** Number of subspaces (codes per vector). */
  val SubM = 8

  /** Dimensions per subspace (64 / SubM). */
  val SubDim = 8

  /** Centroids per sub-codebook (codes are 4 bits here; 256 in a
    * byte-code deployment — a constant, not a plan change). */
  val PqK = 16

  /** Lloyd iterations per codebook. */
  val PqIters = 2

  /** Top-k for the serving query. */
  val PqTopK = 10

  /** Trained product quantizer: per subspace, the cluster ids (ascending,
    * = centroid-matrix order) and centroid sub-vectors. Metadata-scale
    * (SubM·PqK·SubDim longs).
    */
  private[graft] case class PqModel(clusters: Array[Int], books: Array[Array[Array[Long]]]) {
    /** Driver-side twin of the in-plan sub-assignment (same tie-break). */
    def assign(sub: Int, sq: Array[Long]): Int = {
      var best = 0L
      var bestI = -1
      var i = 0
      while (i < books(sub).length) {
        val cen = books(sub)(i)
        var dist = 0L
        var d = 0
        while (d < cen.length) { val df = sq(d) - cen(d); dist += df * df; d += 1 }
        if (bestI < 0 || dist < best) { best = dist; bestI = i }
        i += 1
      }
      bestI
    }
  }

  private[graft] def trainedPq(s: SparkSession, dir: String): PqModel =
    trainPqOn(ClusterOps.quantizedPoints(s, dir))

  private[ops] def subSlice(m: Int): Column = slice(col("q"), m * SubDim + 1, SubDim)

  /** ADC lookup table for one query: lut(sub)(i) = exact integer
    * ||q_sub − cen_{sub,i}||² — driver-computed metadata (SubM·PqK longs),
    * folded into serving plans as a literal. */
  private[ops] def adcLut(model: PqModel, qVec: Array[Long]): Seq[Seq[Long]] =
    (0 until SubM).map { m =>
      val qs = qVec.slice(m * SubDim, (m + 1) * SubDim)
      model.books(m).toSeq.map { cen =>
        var dist = 0L
        var d = 0
        while (d < SubDim) { val df = qs(d) - cen(d); dist += df * df; d += 1 }
        dist
      }
    }

  /** In-row asymmetric PQ distance over a quantized-vector column `q`:
    * eight codegen'd sub-assignments (`nearest_centroid` on array slices)
    * reading the literal LUT — zero exchanges, pure projection. */
  private[ops] def adcExpr(model: PqModel, lut: Seq[Seq[Long]]): Column = {
    val lutCol = typedLit(lut)
    (0 until SubM).map { m =>
      val censCol = typedLit(model.books(m).map(_.toSeq).toSeq)
      element_at(element_at(lutCol, m + 1),
        ClusterOps.nearestCentroid(subSlice(m), censCol) + 1)
    }.reduce(_ + _)
  }

  /** The quantized query vector (metadata collect of ≤1 row); None when
    * the anchor is absent or NaN — every arm degrades to empty. */
  private[ops] def quantizedQuery(s: SparkSession, dir: String, qid: Long): Option[Array[Long]] =
    ClusterOps.quantizedPoints(s, dir)
      .filter(col("vec_id") === qid).select("q")
      .collect().headOption.map(_.getSeq[Long](0).toArray)

  /** One training iteration's distributed stats for ALL subspaces: in-row
    * assignment per subspace, then one map-side-combined aggregate —
    * ≤ SubM·PqK·SubDim rows per partition reach the wire. Exposed for the
    * PlanSpec exchange guard.
    */
  private[graft] def pqIterationStats(pts: DataFrame, m: PqModel): DataFrame = {
    val idsCol = typedLit(m.clusters.toSeq)
    val subStructs = (0 until SubM).map { sub =>
      val censCol = typedLit(m.books(sub).map(_.toSeq).toSeq)
      struct(lit(sub).as("sub"),
        element_at(idsCol, ClusterOps.nearestCentroid(subSlice(sub), censCol) + 1)
          .as("cluster"),
        subSlice(sub).as("sq"))
    }
    pts.select(explode(array(subStructs: _*)).as("s"))
      .select(col("s.sub"), col("s.cluster"), posexplode(col("s.sq")).as(Seq("d", "x")))
      .groupBy(col("sub"), col("cluster"), col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
  }

  private[graft] def trainPqOn(ptsIn: DataFrame): PqModel = {
    // fan the corpus out first: the fixture parquet is ONE split, and
    // without this every Lloyd assignment job runs its 8 × 16-centroid
    // in-row scans single-threaded while the other cores idle (at real
    // scale parquet splits provide the parallelism and fanOut no-ops
    // past its size gate)
    val pts = Tables.fanOut(ptsIn).localCheckpoint(eager = false)
    // Seed: sub-slices of the first PqK NaN-free vec_ids (the ClusterOps
    // seed rule) — PqK rows of metadata to the driver
    val seed = pts.filter(col("vec_id") < PqK)
      .select(col("vec_id").cast("int"), col("q"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(seed.nonEmpty, "pq: no seed vectors (vec_id < PqK all NaN or absent)")
    val clusters = seed.map(_._1)
    var model = PqModel(clusters,
      Array.tabulate(SubM)(m => seed.map(_._2.slice(m * SubDim, (m + 1) * SubDim))))
    for (_ <- 1 to PqIters) {
      val stats = pqIterationStats(pts, model).collect() // ≤ SubM·PqK·SubDim rows
      val bySub = stats.groupBy(r => (r.getInt(0), r.getInt(1)))
      val books = Array.tabulate(SubM) { m =>
        clusters.zip(model.books(m)).map { case (cid, old) =>
          bySub.get((m, cid)).fold(old) { rows =>
            val next = old.clone()
            rows.foreach { r =>
              next(r.getInt(2)) = math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong
            }
            next
          }
        }
      }
      model = PqModel(clusters, books)
    }
    model
  }

  private def emptyServe(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("adc_dist", org.apache.spark.sql.types.LongType))))

  /** Compressed-domain top-k: rank every corpus vector (except the query,
    * vec_id 0) by asymmetric PQ distance to the query through the 8×16
    * integer lookup table. Missing/NaN query degrades to an empty result —
    * the sibling similarity operators' contract.
    */
  def simTopKPq(s: SparkSession, dir: String): DataFrame =
    simTopKPqWith(s, dir, trainedPq(s, dir))

  /** [[simTopKPq]] against a caller-supplied codebook — shared body of the
    * recompute and serve-from-artifacts ([[graft.pipeline.AnnIndexJob]])
    * arms. */
  private[graft] def simTopKPqWith(s: SparkSession, dir: String, model: PqModel): DataFrame = {
    val qVec = quantizedQuery(s, dir, 0)
    if (qVec.isEmpty) return emptyServe(s)
    val adc = adcExpr(model, adcLut(model, qVec.get))
    SimilarityOps.nanFreeEmbeddings(s, dir)
      .select(col("vec_id"), col("label"), expr(ClusterOps.QuantizeExpr).as("q"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(PqTopK)
  }

  /** Probes for the composed IVF-PQ serving query. */
  val IvfPqProbes = 2

  /** IVF-PQ composed serving — the canonical billion-vector index shape
    * (Jégou et al. 2011 §V: IVFADC): the TRAINED coarse quantizer
    * ([[ClusterOps]] k-means) selects the [[IvfPqProbes]] nearest probe
    * clusters, and the PQ asymmetric-distance lookup table ranks ONLY the
    * vectors assigned to probed clusters — the two pruning axes
    * (`q_sim_topk_ivf_trained`: probe selection with exact rescore;
    * `q_sim_topk_pq`: full-corpus ADC) composed the way production serves.
    * PQ codes here quantize the RAW vectors, not IVF residuals — the
    * residual refinement changes the codebook input, not the plan shape —
    * and there is no exact-rescore tail (the IVF operators demonstrate
    * that; this query IS the compressed-domain ranking behind a probe
    * filter).
    *
    * Plan shape at 100 TB: both trained models are driver metadata folded
    * in as literals, so serving is ONE scan — in-row coarse assignment
    * (`nearest_centroid` codegen), the probe `isin` filter drops
    * (1 − probes/k) of the corpus BEFORE the 8 sub-assignments run, ADC
    * is eight in-row LUT reads + seven adds, and the top-k plans as
    * TakeOrderedAndProject. Zero data-dependent exchanges. In production
    * the coarse assignment is precomputed at write time (partition by
    * cluster id), so probing prunes whole partitions at the scan.
    *
    * Determinism: probe selection, coarse + sub assignment, and ADC all
    * run in the exact quantized-integer domain with the shared argmin
    * tie-break; the oracle embeds BOTH training CTE chains (k-means and
    * all eight sub-codebooks), so an engine/oracle divergence in either
    * training fails the hash.
    */
  def simTopKIvfPq(s: SparkSession, dir: String): DataFrame =
    simTopKIvfPqWith(s, dir, ClusterOps.trainedModel(s, dir), trainedPq(s, dir))

  private[graft] def simTopKIvfPqWith(s: SparkSession, dir: String,
      km: ClusterOps.KmeansModel, pq: PqModel): DataFrame = {
    val qVec = quantizedQuery(s, dir, 0)
    if (qVec.isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("adc_dist", org.apache.spark.sql.types.LongType))))
    val probed = km.nearest(qVec.get, IvfPqProbes)
    val adc = adcExpr(pq, adcLut(pq, qVec.get))
    val kmCens = typedLit(km.cens.map(_.toSeq).toSeq)
    val kmIds = typedLit(km.clusters.toSeq)
    ClusterOps.quantizedPoints(s, dir)
      .filter(col("vec_id") =!= 0)
      .withColumn("cluster",
        element_at(kmIds, ClusterOps.nearestCentroid(col("q"), kmCens) + 1))
      .filter(col("cluster").isin(probed.map(Int.box): _*))
      .select(col("vec_id"), col("cluster"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(PqTopK)
  }

  /** ADC shortlist size for the exact-re-rank serving arms (Jégou et al.
    * 2011 §V-D: ADC ranks, exact distances re-rank the C survivors). A
    * CONSTANT, independent of corpus size — at 100 TB the shortlist is a
    * vanishing fraction; on the 2000-vector sf0.1 fixture it is 26%, the
    * honest price of 4-bit codebooks over near-isotropic random vectors
    * (the hardest case for PQ: measured full-corpus ADC ranks of the
    * exact top-10 reach ~1240 there). Measured recall@10 over the 5-query
    * batch set at sf0.1: pq 0.26 → pq_rr 0.92, ivfpq 0.32 → ivfpq_rr 0.98
    * (ivfpq_rr's miss is a true neighbor outside the 2 probed clusters —
    * a probe-count property no re-rank can recover).
    */
  val RerankC = 512

  private def emptyRrServe(s: SparkSession, mid: org.apache.spark.sql.types.StructField): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        mid,
        org.apache.spark.sql.types.StructField("cos_sim", org.apache.spark.sql.types.DoubleType))))

  /** PQ serving with exact re-rank — the production IVFADC tail
    * (Jégou et al. 2011 §V-D): the compressed-domain ADC ranking keeps a
    * [[RerankC]]-row shortlist (TakeOrderedAndProject: per-partition heap
    * + driver merge — ONE scan, zero exchanges, the raw embedding carried
    * alongside the codes exactly as a serving tier stores it), then the
    * exact cosine ([[SimilarityOps.cosineSim]], bitwise-reproducible)
    * re-ranks the C survivors and emits top-k. The rank window the plain
    * `q_sim_topk_pq` measures recall@10 ≈ 0 on ([[RecallOps]]) closes to
    * 0.92 here at sf0.1 — the re-rank is what makes the compressed index
    * USABLE, at the cost of C exact distances per query (driver-side
    * metadata work: C rows, not a second corpus scan).
    *
    * Determinism: the shortlist boundary ties break on (adc_dist, vec_id)
    * in exact integers; the re-rank ties break on (rounded cos_sim,
    * vec_id) — both totally ordered in both engines.
    */
  def simTopKPqRr(s: SparkSession, dir: String): DataFrame =
    simTopKPqRrWith(s, dir, trainedPq(s, dir))

  private[graft] def simTopKPqRrWith(s: SparkSession, dir: String, model: PqModel): DataFrame = {
    val qVec = quantizedQuery(s, dir, 0)
    if (qVec.isEmpty)
      return emptyRrServe(s, org.apache.spark.sql.types.StructField(
        "label", org.apache.spark.sql.types.IntegerType))
    val adc = adcExpr(model, adcLut(model, qVec.get))
    val shortlist = SimilarityOps.nanFreeEmbeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        expr(ClusterOps.QuantizeExpr).as("q"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"), col("embedding"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(RerankC)
    val query = SimilarityOps.nanFreeEmbeddings(s, dir)
      .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    shortlist.crossJoin(broadcast(query))
      .withColumn("cos_sim",
        graft.model.Model.roundN(SimilarityOps.cosineSim(col("embedding"), col("qv")), 4))
      .select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(PqTopK)
  }

  /** IVFPQ serving with exact re-rank — [[simTopKIvfPq]]'s probe filter +
    * ADC shortlist, then the exact-cosine tail re-ranks the C survivors
    * INSIDE the probed clusters (the composed arm's recall ceiling is the
    * probe coverage — 0.98 measured at sf0.1 with 2 probes). Same single
    * scan: coarse assignment, probe `isin`, ADC, TakeOrderedAndProject C,
    * then C-row metadata re-rank.
    */
  def simTopKIvfPqRr(s: SparkSession, dir: String): DataFrame =
    simTopKIvfPqRrWith(s, dir, ClusterOps.trainedModel(s, dir), trainedPq(s, dir))

  private[graft] def simTopKIvfPqRrWith(s: SparkSession, dir: String,
      km: ClusterOps.KmeansModel, pq: PqModel): DataFrame = {
    val qVec = quantizedQuery(s, dir, 0)
    if (qVec.isEmpty)
      return emptyRrServe(s, org.apache.spark.sql.types.StructField(
        "cluster", org.apache.spark.sql.types.IntegerType))
    val probed = km.nearest(qVec.get, IvfPqProbes)
    val adc = adcExpr(pq, adcLut(pq, qVec.get))
    val kmCens = typedLit(km.cens.map(_.toSeq).toSeq)
    val kmIds = typedLit(km.clusters.toSeq)
    val shortlist = SimilarityOps.nanFreeEmbeddings(s, dir)
      .select(col("vec_id"), col("embedding"), expr(ClusterOps.QuantizeExpr).as("q"))
      .filter(col("vec_id") =!= 0)
      .withColumn("cluster",
        element_at(kmIds, ClusterOps.nearestCentroid(col("q"), kmCens) + 1))
      .filter(col("cluster").isin(probed.map(Int.box): _*))
      .select(col("vec_id"), col("cluster"), col("embedding"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(RerankC)
    val query = SimilarityOps.nanFreeEmbeddings(s, dir)
      .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    shortlist.crossJoin(broadcast(query))
      .withColumn("cos_sim",
        graft.model.Model.roundN(SimilarityOps.cosineSim(col("embedding"), col("qv")), 4))
      .select(col("vec_id"), col("cluster"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(PqTopK)
  }

  /** The PQ codebook BUILD as its own registered artifact — the offline
    * index-construction leg, priced separately from the serving/evaluate
    * legs exactly as a deployment prices them (index build amortized,
    * serving measured alone). The result is the full trained model as
    * rows: one (sub, cluster, d, c_val) per codebook coordinate,
    * SubM·PqK·SubDim = 1024 rows of driver metadata after the
    * distributed Lloyd iterations ([[trainPqOn]]: one in-row assignment
    * job + one ≤1024-rows-per-partition combine per iteration).
    * [[pqStats]] and [[simTopKPq]] train the same model ([[trainedPq]])
    * on every call, so their timings include this build.
    */
  def pqTrain(s: SparkSession, dir: String): DataFrame =
    pqModelDf(s, trainedPq(s, dir))

  /** The trained codebooks as (sub, cluster, d, c_val) rows —
    * SubM·PqK·SubDim driver-metadata rows, the q_pq_train result shape
    * AND the at-rest artifact layout ([[graft.pipeline.AnnIndexJob]]). */
  private[graft] def pqModelDf(s: SparkSession, model: PqModel): DataFrame = {
    val rows = for {
      sub <- 0 until SubM
      (cid, cen) <- model.clusters.zip(model.books(sub)).toSeq
      d <- 0 until SubDim
    } yield (sub, cid, d, cen(d))
    import s.implicits._
    rows.toDF("sub", "cluster", "d", "c_val")
      .resultOrder(col("sub"), col("cluster"), col("d"))
  }

  /** Inverse of [[pqModelDf]]: reconstruct the product quantizer from its
    * row form (the artifact read side). Cluster ids ascend — the
    * centroid-matrix order the in-plan argmin indexes by. */
  private[graft] def pqModelFromDf(df: DataFrame): PqModel = {
    val rows = df.select(col("sub"), col("cluster"), col("d"), col("c_val")).collect()
    require(rows.nonEmpty, "pq artifact is empty")
    val clusters = rows.map(_.getInt(1)).distinct.sorted
    val books = Array.tabulate(SubM) { m =>
      val sub = rows.filter(_.getInt(0) == m).groupBy(_.getInt(1))
      clusters.map(cid => sub(cid).sortBy(_.getInt(2)).map(_.getLong(3)))
    }
    PqModel(clusters, books)
  }

  /** Per-(subspace, centroid) quantization diagnostics under the final
    * codebooks: population, floor-of-double mean and exact max squared
    * distortion. One scan, in-row assignment + distance, one
    * ≤ SubM·PqK-row aggregate.
    */
  def pqStats(s: SparkSession, dir: String): DataFrame = {
    val model = trainedPq(s, dir)
    val idsCol = typedLit(model.clusters.toSeq)
    def censCol(sub: Int) = typedLit(model.books(sub).map(_.toSeq).toSeq)
    // project each sub-assignment ONCE: inlining `ci` into both the
    // cluster lookup and the distance lookup duplicates the 16-centroid
    // argmin per sub (Generate's input expressions get no subexpression
    // elimination — the executed plan showed every nearest_centroid
    // twice), doubling the per-row work
    val cis = (0 until SubM).map(m =>
      ClusterOps.nearestCentroid(subSlice(m), censCol(m)).as(s"ci$m"))
    val subStructs = (0 until SubM).map { sub =>
      val ci = col(s"ci$sub")
      struct(lit(sub).as("sub"),
        element_at(idsCol, ci + 1).as("cluster"),
        ClusterOps.squaredL2(subSlice(sub), element_at(censCol(sub), ci + 1)).as("dist"))
    }
    // fanOut before the in-row assignment: the single-split fixture scan
    // would otherwise evaluate all eight sub-assignments on one task
    val assigned = Tables.fanOut(ClusterOps.quantizedPoints(s, dir))
      .select(col("q") +: cis: _*)
      .select(explode(array(subStructs: _*)).as("s"))
      .select(col("s.sub"), col("s.cluster"), col("s.dist"))
    // No pre-aggregate fuse (round 12 removed it): the old size-gated
    // repartition(1, (sub, cluster)) sat BELOW the aggregate, and an
    // explicit repartition is a barrier partial aggregation cannot be
    // pushed under — the exchange carried the ENTIRE SubM-exploded
    // stream (8 rows/vector) into one task. planningSize never saw it
    // because Generate's size estimate ignores row multiplication, so
    // the gate stayed "small" at every scale while the measured cost
    // grew linearly with the corpus (0.40 s sf3 → 1.02 s sf10). The
    // plain shape exchanges ≤ SubM·PqK rows per map (partial combine)
    // plus a SubM·PqK-row presentation sort — both corpus-independent.
    assigned
      .groupBy(col("sub"), col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        floor(sum(col("dist")).cast("double") / count(lit(1))).cast("long").as("mean_dist"),
        max(col("dist")).as("max_dist"))
      .resultOrder(col("sub"), col("cluster"))
  }

  /** Int8 SCALAR quantization (SQ8) of the embedding corpus — the
    * per-dimension affine quantizer a serving tier uses when PQ's
    * codebook granularity isn't warranted: per dimension,
    * code = round((x − vmin)·255 / (vmax − vmin)), 64 floats → 64 bytes.
    * The registered artifact is the quantizer itself plus its measured
    * distortion: one row per dimension with the grid-domain (vmin, vmax)
    * range and the exact max / floor-mean / Σ² reconstruction error.
    *
    * Two distributed jobs by construction — the quantizer must exist
    * before coding (the counter-rate carry shape, not the q_pq_stats
    * training-in-query mistake: pass 1 IS part of this key's registered
    * meaning, a single min/max aggregate, not an iterative build):
    *   1. per-dim min/max: posexplode + map-side-combined aggregate —
    *      ≤ dim rows per partition reach the wire, dim rows reach the
    *      driver (the ClusterOps/PQ driver-metadata pattern);
    *   2. the quantizer folds back as LITERAL arrays (never a join: a
    *      (dim)-keyed join after the explode would shuffle the
    *      dim×corpus stream on a 64-value key — the low-cardinality
    *      hazard q_uptime's gate exists for), codes and errors computed
    *      in exact BIGINT, then the same ≤ dim-row combine.
    * The corpus is scanned twice and never shuffled (both exchanges
    * carry ≤ dim·partitions rows).
    *
    * Determinism: ClusterOps conventions — the 1e5 integer grid, code
    * round-half-up as ((v·510 + span) div (2·span)) and dequantization
    * as vmin + ((2·code·span + 255) div 510), all BIGINT floor division
    * on non-negative numerators (identical to DuckDB `//`), so the
    * oracle hash-matches exactly, no tolerance.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame =
    embedQuantizeOn(ClusterOps.quantizedPoints(s, dir))

  private[graft] def embedQuantizeOn(ptsIn: DataFrame): DataFrame = {
    // NO fanOut, unlike the Lloyd trainers: per element this is three
    // integer ops, so a single row-group-bound task still finishes in
    // milliseconds at fixture scale and parquet splits provide the
    // parallelism at corpus scale — the rebalance exchange spreads
    // nothing worth spreading (measured: dropping it + fusing the
    // presentation sort left the isolated sf0.1 run FLAT at 0.58 s —
    // the absolute is the two-job scheduling floor, not stage count —
    // but both cuts remove real exchanges, which is what survives scale)
    val pts = ptsIn.select(col("q"))
    val dims = pts.select(posexplode(col("q")).as(Seq("d", "x")))
    val mm = dims.groupBy(col("d"))
      .agg(min(col("x")).as("vmin"), max(col("x")).as("vmax"))
      .collect().sortBy(_.getInt(0))
    val vmins = mm.map(_.getLong(1)).toSeq
    val spans = mm.map(r => r.getLong(2) - r.getLong(1)).toSeq
    val coded = dims
      .withColumn("vmin", element_at(typedLit(vmins), col("d") + 1))
      .withColumn("span", element_at(typedLit(spans), col("d") + 1))
      .withColumn("code", expr(
        "CASE WHEN span = 0 THEN CAST(0 AS BIGINT) ELSE ((x - vmin) * 510 + span) div (2 * span) END"))
      .withColumn("err", abs(col("x") - col("vmin") - expr("(2 * code * span + 255) div 510")))
    // No pre-aggregate fuse (round 12, same defect as pqStats): the old
    // size-gated repartition(1, d) below the aggregate exchanged the
    // FULL dim-exploded stream (64 rows/vector) into one task — an
    // explicit repartition is a barrier partial aggregation cannot be
    // pushed under, and Generate's planning-size estimate ignores row
    // multiplication so the 64 MB gate never opened. Measured: the
    // "flat two-job floor" story broke linearly past toy scale
    // (0.66 s sf1 → 1.47 s sf3 → 4.55 s sf10 vs DuckDB's 0.5 s).
    // The plain shape exchanges ≤ dim rows per map twice — both
    // corpus-independent — and a dim-row presentation sort.
    coded.groupBy(col("d"))
      .agg(
        min(col("vmin")).as("vmin"),
        (min(col("vmin")) + min(col("span"))).as("vmax"),
        count(lit(1)).as("n_vecs"),
        max(col("err")).as("max_abs_err"),
        floor(sum(col("err")).cast("double") / count(lit(1))).cast("long").as("mean_abs_err"),
        sum(col("err") * col("err")).as("sum_sq_err"))
      .resultOrder(col("d"))
  }

  // ---------------------------------------------------------------- oracle

  private[ops] def dotSql(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  private[ops] def sqL2Sql(a: String, b: String): String =
    s"${dotSql(a, a)} + ${dotSql(b, b)} - 2 * ${dotSql(a, b)}"

  /** One subspace's sliced points + seed + unrolled Lloyd chain; the final
    * codebook CTE is s{m}c{PqIters}. Mirrors ClusterOps.iterSql with
    * per-subspace naming. */
  private[ops] def subTrainSql(m: Int): String = {
    val lo = m * SubDim + 1
    val hi = (m + 1) * SubDim
    val iters = (1 to PqIters).map { i =>
      s"""s${m}a$i AS (
         |  SELECT p.vec_id, p.sq,
         |    CAST(min(CAST(${sqL2Sql("p.sq", "c.cen")} AS BIGINT) * $PqK + c.cluster)
         |         % $PqK AS INTEGER) AS cluster
         |  FROM s${m}p p CROSS JOIN s${m}c${i - 1} c GROUP BY p.vec_id, p.sq),
         |s${m}m$i AS (
         |  SELECT cluster, CAST(i - 1 AS INTEGER) AS d,
         |    CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS cm
         |  FROM (SELECT cluster, unnest(sq) AS x, generate_subscripts(sq, 1) AS i FROM s${m}a$i)
         |  GROUP BY cluster, i),
         |s${m}c$i AS (
         |  SELECT c.cluster, coalesce(mm.cen_new, c.cen) AS cen
         |  FROM s${m}c${i - 1} c
         |  LEFT JOIN (SELECT cluster, list(cm ORDER BY d) AS cen_new FROM s${m}m$i GROUP BY cluster) mm
         |    USING (cluster))""".stripMargin
    }
    s"""s${m}p AS (SELECT vec_id, q[$lo:$hi] AS sq FROM pts),
       |s${m}c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, sq AS cen FROM s${m}p WHERE vec_id < $PqK),
       |${iters.mkString(",\n")}""".stripMargin
  }

  /** Per-sub ADC distance of every encoded point against the query's
    * sub-vector: ||q_sub − assigned centroid||² — the LUT read, unrolled.
    * Shared by the full-corpus PQ oracle and the IVF-PQ composition. */
  private def subAdcSql(m: Int): String =
    s"""s${m}d AS (
       |  SELECT e.vec_id,
       |    CAST(${sqL2Sql("qq.sq", "c.cen")} AS BIGINT) AS dist
       |  FROM s${m}e e JOIN s${m}c$PqIters c USING (cluster)
       |  CROSS JOIN (SELECT sq FROM s${m}p WHERE vec_id = 0) qq)""".stripMargin

  /** Final per-point sub-assignment: min(dist·PqK + cluster) encodes both
    * the assigned cluster (% PqK) and its distortion (// PqK). */
  private[ops] def subEncodeSql(m: Int): String =
    s"""s${m}e AS (
       |  SELECT p.vec_id,
       |    CAST(min(CAST(${sqL2Sql("p.sq", "c.cen")} AS BIGINT) * $PqK + c.cluster) % $PqK AS INTEGER) AS cluster,
       |    min(CAST(${sqL2Sql("p.sq", "c.cen")} AS BIGINT) * $PqK + c.cluster) // $PqK AS dist
       |  FROM s${m}p p CROSS JOIN s${m}c$PqIters c GROUP BY p.vec_id)""".stripMargin

  private[ops] val PtsSql =
    s"""pts AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * ${ClusterOps.Scale}.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings
       |  WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0)""".stripMargin

  /** The compressed-domain ADC rankings as LIMIT-parameterized fragments:
    * with limit = PqTopK they ARE the registered q_sim_topk_pq /
    * q_sim_topk_ivfpq oracles; with limit = RerankC they are the
    * shortlist stage the _rr oracles re-rank — one text, so the re-ranked
    * arm provably shortlists through the identical ADC pipeline. */
  private def pqAdcRankSql(limit: Int): String =
    s"""WITH $PtsSql,
         |${(0 until SubM).map(subTrainSql).mkString(",\n")},
         |${(0 until SubM).map(subEncodeSql).mkString(",\n")},
         |${(0 until SubM).map(subAdcSql).mkString(",\n")},
         |alld AS (${(0 until SubM).map(m => s"SELECT * FROM s${m}d").mkString(" UNION ALL ")})
         |SELECT p.vec_id, any_value(p.label) AS label,
         |  CAST(sum(d.dist) AS BIGINT) AS adc_dist
         |FROM pts p JOIN alld d USING (vec_id)
         |WHERE p.vec_id <> 0
         |GROUP BY p.vec_id
         |ORDER BY adc_dist, vec_id LIMIT $limit""".stripMargin

  private def ivfPqAdcRankSql(limit: Int): String = {
      val k = ClusterOps.K
      s"""WITH ${ClusterOps.kmeansCtesSql},
         |${(0 until SubM).map(subTrainSql).mkString(",\n")},
         |${(0 until SubM).map(subEncodeSql).mkString(",\n")},
         |${(0 until SubM).map(subAdcSql).mkString(",\n")},
         |alld AS (${(0 until SubM).map(m => s"SELECT * FROM s${m}d").mkString(" UNION ALL ")}),
         |qq AS (SELECT q FROM pts WHERE vec_id = 0),
         |probe AS (
         |  SELECT c.cluster
         |  FROM ${ClusterOps.FinalCenCte} c, qq
         |  ORDER BY CAST(${sqL2Sql("qq.q", "c.cen")} AS BIGINT), c.cluster
         |  LIMIT $IvfPqProbes),
         |assigned AS (
         |  SELECT p.vec_id,
         |    CAST(min(CAST(${sqL2Sql("p.q", "c.cen")} AS BIGINT) * $k + c.cluster)
         |         % $k AS INTEGER) AS cluster
         |  FROM pts p CROSS JOIN ${ClusterOps.FinalCenCte} c GROUP BY p.vec_id)
         |SELECT a.vec_id, a.cluster, CAST(sum(d.dist) AS BIGINT) AS adc_dist
         |FROM assigned a
         |JOIN alld d USING (vec_id)
         |JOIN probe USING (cluster)
         |WHERE a.vec_id <> 0
         |GROUP BY a.vec_id, a.cluster
         |ORDER BY adc_dist, vec_id LIMIT $limit""".stripMargin
  }

  private val SimTopKPqSql: String = pqAdcRankSql(PqTopK)
  private val SimTopKIvfPqSql: String = ivfPqAdcRankSql(PqTopK)

  /** Rounded exact cosine — the SimilarityOps oracle formula verbatim. */
  private[ops] def roundCosSql(v: String, qe: String): String =
    s"""floor(list_dot_product(CAST($v AS DOUBLE[]), $qe)
       |    / (sqrt(list_dot_product(CAST($v AS DOUBLE[]), CAST($v AS DOUBLE[])))
       |       * sqrt(list_dot_product($qe, $qe))) * 10000.0 + 0.5) / 10000.0""".stripMargin

  /** Exact-re-rank tail over a (vec_id, <mid>) ADC shortlist subquery. */
  private def rerankSql(shortlistSql: String, midCol: String): String =
    s"""WITH sl AS (SELECT vec_id, $midCol FROM (
       |$shortlistSql
       |)),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
       |       FROM ${SimilarityOps.EmbSql} WHERE vec_id = 0)
       |SELECT s.vec_id, s.$midCol,
       |  ${roundCosSql("e.embedding", "qv.qe")} AS cos_sim
       |FROM sl s JOIN ${SimilarityOps.EmbSql} e ON e.vec_id = s.vec_id, qv
       |ORDER BY cos_sim DESC, s.vec_id LIMIT $PqTopK""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_pq_train" -> {
      val books = (0 until SubM).map { m =>
        s"""SELECT $m AS sub, cluster,
           |  CAST(generate_subscripts(cen, 1) - 1 AS INTEGER) AS d,
           |  CAST(unnest(cen) AS BIGINT) AS c_val
           |FROM s${m}c$PqIters""".stripMargin
      }
      s"""WITH $PtsSql,
         |${(0 until SubM).map(subTrainSql).mkString(",\n")}
         |${books.mkString("\nUNION ALL\n")}
         |ORDER BY sub, cluster, d""".stripMargin
    },
    "q_sim_topk_pq" -> SimTopKPqSql,
    "q_sim_topk_ivfpq" -> SimTopKIvfPqSql,
    "q_sim_topk_pq_rr" -> rerankSql(pqAdcRankSql(RerankC), "label"),
    "q_sim_topk_ivfpq_rr" -> rerankSql(ivfPqAdcRankSql(RerankC), "cluster"),
    "q_pq_stats" -> {
      val stats = (0 until SubM).map { m =>
        s"""SELECT $m AS sub, cluster, count(*) AS n,
           |  CAST(floor(CAST(sum(dist) AS DOUBLE) / count(*)) AS BIGINT) AS mean_dist,
           |  CAST(max(dist) AS BIGINT) AS max_dist
           |FROM s${m}e GROUP BY 1, 2""".stripMargin
      }
      s"""WITH $PtsSql,
         |${(0 until SubM).map(subTrainSql).mkString(",\n")},
         |${(0 until SubM).map(subEncodeSql).mkString(",\n")}
         |${stats.mkString("\nUNION ALL\n")}
         |ORDER BY sub, cluster""".stripMargin
    },
    "q_embed_quantize" ->
      s"""WITH pts AS (
         |  SELECT list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * ${ClusterOps.Scale}.0 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings
         |  WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0),
         |e AS (SELECT CAST(generate_subscripts(q, 1) - 1 AS INTEGER) AS d, unnest(q) AS x FROM pts),
         |mm AS (SELECT d, min(x) AS vmin, max(x) AS vmax, max(x) - min(x) AS span FROM e GROUP BY d),
         |c AS (
         |  SELECT e.d, e.x, mm.vmin, mm.vmax, mm.span,
         |         CASE WHEN mm.span = 0 THEN CAST(0 AS BIGINT)
         |              ELSE ((e.x - mm.vmin) * 510 + mm.span) // (2 * mm.span) END AS code
         |  FROM e JOIN mm USING (d)),
         |r AS (SELECT d, x, vmin, vmax, abs(x - vmin - (2 * code * span + 255) // 510) AS err FROM c)
         |SELECT d, min(vmin) AS vmin, min(vmax) AS vmax,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(max(err) AS BIGINT) AS max_abs_err,
         |       CAST(floor(CAST(sum(err) AS DOUBLE) / count(*)) AS BIGINT) AS mean_abs_err,
         |       CAST(sum(err * err) AS BIGINT) AS sum_sq_err
         |FROM r GROUP BY d ORDER BY d""".stripMargin
  )
}
