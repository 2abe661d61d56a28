package graft.llm

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.cosine_similarity

/** Similarity search over an embedding column (north star).
  *
  * Three tiers, trading recall for cost:
  *  - [[bruteForceTopK]]: exact cosine top-k, O(|queries|·n). The
  *    baseline and the re-rank stage of the approximate tiers. The
  *    inner product is the codegen'd [[graft.expr.CosineSimilarity]];
  *    per-query top-k is a window `row_number`, so no global sort and
  *    the shuffle carries only (query, candidate, score).
  *  - [[cosineLshBucketsMulti]] + [[lshTopK]]: random-hyperplane sign
  *    LSH. One projection pass per row; candidates restricted to the
  *    query's buckets. Tunable recall via `planes` (fewer planes =
  *    bigger buckets = higher recall, more work) and `tables`.
  *  - [[ivfTopK]]: IVF — KMeans-partitioned index probing the
  *    `nprobe` nearest centroids. The 100 TB path: index build is one
  *    ML fit + one assignment pass; queries touch nprobe/nlist of the
  *    corpus.
  *
  * Each step of the retrieval grid ({top-k, range} × {unfiltered,
  * filtered} × {brute, LSH, IVF, PQ}) is written once: `topK` is the
  * per-query rank cut, `probeCandidates` the IVF probe router,
  * `rangeCut` the micro-quantized threshold, `adcLut` + `adcScores`
  * the ADC kernel and `refineExact` the PQ refine.
  */
object Similarity {

  /** Exact cosine top-k of `queries` against `candidates`
    * (self-matches excluded when ids collide). */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    requireK(k)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = candidates.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    topK(c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("n_vec"))),
      "cosine", k)
  }

  /** The per-query top-k cut every ranked operator ends with: number
    * each query's rows by (`score` desc, n_id) — a window, so no
    * global sort — and keep rank ≤ k. Returns (q_id, n_id, score,
    * rankCol); the rank is INT unless `asLong`. */
  private def topK(scored: DataFrame, score: String, k: Int,
      rankCol: String = "rn", asLong: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col(score).desc, col("n_id"))
    val rank = row_number().over(w)
    scored.withColumn(rankCol, if (asLong) rank.cast("long") else rank)
      .filter(col(rankCol) <= k)
      .select(col("q_id"), col("n_id"), col(score), col(rankCol))
  }

  private def requireK(k: Int): Unit =
    require(k >= 1, s"k must be >= 1 (got $k)")

  private def requireNprobe(nprobe: Int): Unit =
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")

  /** FILTERED vector search — the production shape [[bruteForceTopK]]
    * skips: "nearest neighbors among rows my predicate matches"
    * (same tenant, same language, same category), where post-filtering
    * a plain top-k silently under-fills k whenever the filter is
    * selective. Here the equality predicate on `filterCols` joins
    * BEFORE scoring, so every query gets its true top-k within its
    * slice; NULL filter values match null-safely (a NULL tenant is
    * its own slice, not a wildcard). Self-matches excluded. Returns
    * (q_id, n_id, cosine, rn ≤ k).
    *
    * Scale: queries broadcast (the probe set is small by contract);
    * the candidate side is scanned once with the filter columns
    * riding as join keys. At corpus scale use the SLICED IVF path —
    * [[ivfBuildSliced]] + [[ivfSavePartitioned]] + [[ivfProbeFiltered]]
    * — so the scan prunes to the slice's parquet directories instead
    * of reading everything (this exact form stays the within-slice
    * ground truth the gate grades against). */
  def filteredTopK(candidates: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, filterCols: Seq[String],
      k: Int): DataFrame = {
    require(filterCols.nonEmpty, "filterCols must be non-empty")
    requireK(k)
    val q = queries.select(col(idCol).as("q_id") +:
      col(vecCol).as("q_vec") +:
      filterCols.map(f => col(f).as(s"__q_$f")): _*)
    val c = candidates.select(col(idCol).as("n_id") +:
      col(vecCol).as("n_vec") +: filterCols.map(col): _*)
    val cond = filterCols.map(f => col(f) <=> col(s"__q_$f"))
      .reduce(_ && _) && col("q_id") =!= col("n_id")
    topK(c.join(broadcast(q), cond)
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("n_vec"))),
      "cosine", k)
  }

  /** Symmetric per-vector int8 quantization: `q_vec[i] = round(v[i] *
    * 127 / max|v|)` as TINYINT, plus the per-row `q_scale` — a 4x
    * storage and scan-IO cut for a 100 TB float32 embedding table.
    * Cosine similarity is scale-invariant, so quantized cosine
    * differs from exact only by rounding noise (O(1/127) per
    * coordinate, averaging out over dims); `sim_quantized_recall`
    * gates top-k agreement end-to-end. Zero vectors quantize to
    * zeros. Dequantize with `transform(q_vec, b -> b / q_scale)`. */
  def quantizeInt8(emb: DataFrame, vecCol: String): DataFrame = {
    val absMax = greatest(
      array_max(transform(col(vecCol), x => abs(x.cast("double")))),
      lit(1e-30))
    emb.withColumn("q_scale", lit(127.0) / absMax)
      .withColumn("q_vec", transform(col(vecCol),
        x => round(x.cast("double") * col("q_scale")).cast("tinyint")))
  }

  /** Multi-table sign-LSH buckets: `tables` independent hash tables of
    * `planes` hyperplanes each (the standard OR-of-ANDs construction —
    * per-table precision from `planes`, recall from `tables`; a single
    * table's recall@k collapses for isotropic embeddings). One pass
    * computes all tables×planes projections; output one row per
    * (id, table) with that table's bucket. */
  def cosineLshBucketsMulti(emb: DataFrame, vecCol: String, idCol: String,
      planes: Int, tables: Int, seed: Long = 42L): DataFrame = {
    val dims = sequence(lit(0), size(col(vecCol)) - 1)
    val tableBuckets = (0 until tables).map { t =>
      val bits = (0 until planes).map { p =>
        val coef = (i: org.apache.spark.sql.Column) =>
          (pmod(xxhash64(lit(seed), lit(t), lit(p), i), lit(2000001L)).cast("double")
            / lit(1000000.0)) - lit(1.0)
        val dot = aggregate(
          zip_with(col(vecCol), transform(dims, coef), (v, c) => v * c),
          lit(0.0), (acc, x) => acc + x)
        when(dot >= 0, lit(1)).otherwise(lit(0)).cast("string")
      }
      struct(lit(t).as("table"), concat(bits: _*).as("bucket"))
    }
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(array(tableBuckets: _*)).as("tb"))
      .select(col("id"), col("vec"), col("tb.table"), col("tb.bucket"))
  }

  /** Approximate top-k: candidates = pairs sharing a bucket in ANY of
    * the `tables` hash tables, exact cosine re-rank over the distinct
    * candidate set. Shuffle payload after scoring is only
    * (q_id, n_id, cosine). */
  def lshTopK(emb: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, planes: Int = 6, tables: Int = 8,
      seed: Long = 42L): DataFrame = {
    requireK(k)
    val cb = cosineLshBucketsMulti(emb, vecCol, idCol, planes, tables, seed)
    val qb = cosineLshBucketsMulti(queries, vecCol, idCol, planes, tables, seed)
      .select(col("id").as("q_id"), col("vec").as("q_vec"),
        col("table"), col("bucket"))
    topK(qb.join(cb, Seq("table", "bucket"))
      .filter(col("q_id") =!= col("id"))
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("vec")))
      // a pair colliding in several tables is scored per collision
      // (row-local, codegen'd); dedup on the scored triple
      .select(col("q_id"), col("id").as("n_id"), col("cosine"))
      .distinct(), "cosine", k)
  }

  /** IVF index: KMeans cluster assignment per row. Returns
    * (centroids model output) DataFrame with `cluster` column added. */
  def ivfAssign(emb: DataFrame, vecCol: String, nlist: Int = 16,
      seed: Long = 42L): (DataFrame, org.apache.spark.ml.clustering.KMeansModel) = {
    val withVec = emb.withColumn("__mlvec", array_to_vector(col(vecCol)))
    val km = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("__mlvec").setPredictionCol("cluster")
    val model = km.fit(withVec)
    (model.transform(withVec).drop("__mlvec"), model)
  }

  /** A built IVF index: the per-row inverted-list assignment
    * (`n_id`, `n_vec`, `cluster`) and the tiny centroid table. Build
    * ONCE with [[ivfBuild]] (one KMeans fit + one assignment pass over
    * the corpus — [[ivfSave]]/[[ivfLoad]] persist it for reuse), then
    * serve any number of query batches with [[ivfProbe]]. At 100 TB
    * the build is a batch job and the probe touches ~nprobe/nlist of
    * the corpus; re-fitting per query would re-read the corpus every
    * call. */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame, nlist: Int)

  /** Standard IVF sizing, nlist ≈ √n: balances inverted-list length
    * (n/nlist rows scanned per probed list) against centroid fan-out
    * (nlist distances per query), with a floor for tiny corpora.
    * Measured on the sf0.1 fixture (2000×64d): recall@5 0.69 at
    * nlist=45/nprobe=12 vs 1.0 brute force. */
  def ivfAutoNlist(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** nprobe companion to [[ivfAutoNlist]]: ~nlist/4 holds recall@5 at
    * ~0.7 on near-isotropic embeddings (the fixture's worst case — a
    * fixed nprobe=4 drops to 0.39 recall once nlist scales to √n).
    * Real, clusterable corpora sustain much smaller fractions; treat
    * this as the conservative default, not the floor. */
  def ivfAutoNprobe(nlist: Int): Int =
    math.max(4, math.ceil(nlist / 4.0).toInt)

  /** Persist a built index as two parquet tables (the build-once
    * artifact a production deployment writes next to the corpus). */
  def ivfSave(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite").parquet(s"$path/assigned")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Reload a persisted index; the centroid table is tiny (nlist
    * rows), the assigned lists load lazily like any parquet scan.
    * A [[ivfSavePartitioned]] layout carries a schema sidecar — pinned
    * on the read so partition-column type inference can never re-type
    * (and thereby merge) slice values. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val fs = new org.apache.hadoop.fs.Path(s"$path/assigned__schema")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val assigned =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/assigned__schema"))) {
        val pinned = spark.read.parquet(s"$path/assigned__schema").schema
        spark.read.schema(pinned).parquet(s"$path/assigned")
      } else spark.read.parquet(s"$path/assigned")
    IvfIndex(assigned, centroids, centroids.count().toInt)
  }

  /** Build the IVF index (the expensive, do-once half). */
  def ivfBuild(emb: DataFrame, vecCol: String, idCol: String,
      nlist: Int = 16, seed: Long = 42L): IvfIndex =
    buildIndex(emb, vecCol, idCol, Nil, nlist, seed)

  /** Build an IVF index whose inverted lists CARRY the slice (filter)
    * columns — the corpus-scale form of [[filteredTopK]]: ONE shared
    * KMeans fit (centroids span the corpus — a per-slice re-fit is a
    * recall upgrade, not a correctness requirement), with `sliceCols`
    * riding next to (n_id, n_vec, cluster) so [[ivfProbeFiltered]]
    * joins on (slice, cluster) and touches only the query's slice
    * lists. Persist with [[ivfSavePartitioned]] and the parquet
    * layout prunes whole slice DIRECTORIES before any list is read —
    * a tenant-scoped search stops scanning the other tenants at the
    * file listing, not per row. */
  def ivfBuildSliced(emb: DataFrame, vecCol: String, idCol: String,
      sliceCols: Seq[String], nlist: Int = 16,
      seed: Long = 42L): IvfIndex = {
    require(sliceCols.nonEmpty, "sliceCols must be non-empty")
    buildIndex(emb, vecCol, idCol, sliceCols, nlist, seed)
  }

  /** the KMeans fit + centroid table + assigned projection shared by
    * [[ivfBuild]] and [[ivfBuildSliced]] — one definition so the
    * sliced index can never drift from the plain one it is documented
    * to extend. */
  private def buildIndex(emb: DataFrame, vecCol: String, idCol: String,
      sliceCols: Seq[String], nlist: Int, seed: Long): IvfIndex = {
    val spark = emb.sparkSession
    val (assigned, model) = ivfAssign(emb, vecCol, nlist, seed)
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i, v.toArray.map(_.toFloat))
    }.toSeq.toDF("cluster", "centroid")
    IvfIndex(
      assigned.select(col(idCol).as("n_id") +: col(vecCol).as("n_vec") +:
        col("cluster") +: sliceCols.map(col): _*),
      cents, nlist)
  }

  /** Persist a sliced index PARTITIONED by the slice columns: the
    * filtered probe's scan then prunes to the slice's directory, so
    * at 100 TB a selective filter reads ~(|slice|·nprobe/nlist) of
    * the corpus instead of everything. Reload with [[ivfLoad]].
    *
    * Slice FIDELITY across the roundtrip: directory-encoded partition
    * values would re-enter through Spark's partition-column TYPE
    * INFERENCE ("01" and "1" both parse to integer 1 — two tenants
    * silently merged), so the assigned schema is persisted as a
    * zero-row sidecar and [[ivfLoad]] pins it on the read. The ONE
    * value the Hive directory encoding cannot round-trip is the empty
    * string (written as the default partition, read back as NULL —
    * merged into the NULL slice), so empty-string slice values refuse
    * loudly here instead of corrupting tenants at read time. */
  def ivfSavePartitioned(index: IvfIndex, path: String,
      sliceCols: Seq[String]): Unit = {
    require(sliceCols.nonEmpty, "sliceCols must be non-empty")
    requireNoEmptySlices(index.assigned, sliceCols, "ivfSavePartitioned")
    index.assigned.limit(0).coalesce(1).write.mode("overwrite")
      .parquet(s"$path/assigned__schema")
    index.assigned.write.mode("overwrite")
      .partitionBy(sliceCols: _*).parquet(s"$path/assigned")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Refuses an empty-string value in any STRING slice column of
    * `rows` (one limit-1 job): the Hive directory encoding writes it
    * as the default partition, which reads back as NULL and merges
    * into the NULL slice. Shared by the save and the on-disk append. */
  private def requireNoEmptySlices(rows: DataFrame, sliceCols: Seq[String],
      op: String): Unit = {
    val stringSlices = rows.schema.fields
      .filter(f => sliceCols.contains(f.name))
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name)
    if (stringSlices.nonEmpty) {
      val nEmpty = rows
        .filter(stringSlices.map(col(_) === "").reduce(_ || _))
        .limit(1).count()
      require(nEmpty == 0L,
        s"$op: an empty-string slice value cannot " +
          "round-trip through the Hive directory encoding (it reads " +
          "back as NULL and merges into the NULL slice) — map it to " +
          "a sentinel first")
    }
  }

  /** FILTERED probe of a [[ivfBuildSliced]] index — the corpus-scale
    * member [[filteredTopK]]'s scaladoc promises: route each query to
    * its `nprobe` nearest centroids, then join the inverted lists on
    * (slice, cluster) with the equality predicate NULL-SAFE (a NULL
    * tenant is its own slice), so candidates come only from the
    * query's slice lists and k never under-fills the way
    * post-filtering would. Self-matches excluded. With
    * `nprobe = nlist` the probe is EXHAUSTIVE within the slice and
    * agrees with [[filteredTopK]] value-for-value (the hash-graded
    * device); at production sizing recall is the
    * `sim_filtered_ivf_recall` gate's contract. Returns
    * (q_id, n_id, cosine, rn ≤ k). */
  def ivfProbeFiltered(index: IvfIndex, queries: DataFrame,
      vecCol: String, idCol: String, filterCols: Seq[String], k: Int,
      nprobe: Int = 4): DataFrame = {
    requireK(k)
    require(filterCols.nonEmpty, "filterCols must be non-empty")
    requireNprobe(nprobe)
    topK(probeCandidates(index, queries, vecCol, idCol, filterCols, nprobe)
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("n_vec"))),
      "cosine", k)
  }

  /** FILTERED threshold (range) search through a sliced index —
    * completing the {top-k, range} × {unfiltered, filtered}
    * retrieval grid: every WITHIN-SLICE neighbor at
    * `cosine_micros ≥ minCosineMicros` (the tenant-scoped dedup /
    * near-dup audit shape, where top-k truncates or pads). Candidates
    * join on (slice, cluster) null-safely like [[ivfProbeFiltered]];
    * cosines quantize to integer micros AT the comparison like
    * [[ivfRangeSearch]], so no boundary pair can flicker on an IEEE
    * tiebreak. One-sided error by construction (probed cells can
    * only miss, never fabricate); `nprobe = nlist` is exhaustive
    * within the slice and agrees with the brute filtered range set
    * value-for-value. Returns (q_id, n_id, cosine_micros). */
  def ivfRangeSearchFiltered(index: IvfIndex, queries: DataFrame,
      vecCol: String, idCol: String, filterCols: Seq[String],
      minCosineMicros: Long, nprobe: Int = 4): DataFrame = {
    require(filterCols.nonEmpty, "filterCols must be non-empty")
    requireNprobe(nprobe)
    rangeCut(probeCandidates(index, queries, vecCol, idCol, filterCols,
      nprobe), minCosineMicros)
  }

  /** The IVF probe router every probe form shares: route each query to
    * its `nprobe` nearest centroids (cosine desc, ties to the lower
    * cluster; the nlist-row centroid table is broadcast), then join
    * the probed inverted lists. Non-empty `filterCols` join on
    * (slice, cluster) with the slice equality NULL-SAFE (a NULL tenant
    * is its own slice); empty `filterCols` is the unfiltered probe, a
    * join on cluster alone. Emits one row per (query, candidate from a
    * probed cell), self-matches excluded, with q_vec/n_vec riding for
    * the caller's scoring. */
  private def probeCandidates(index: IvfIndex, queries: DataFrame,
      vecCol: String, idCol: String, filterCols: Seq[String],
      nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id") +:
      col(vecCol).as("q_vec") +:
      filterCols.map(f => col(f).as(s"__q_$f")): _*)
    val qCents = q.crossJoin(broadcast(index.centroids))
      .withColumn("cdist", cosine_similarity(col("q_vec"), col("centroid")))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist").desc, col("cluster"))
    val probes = qCents.withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("q_id") +: col("q_vec") +: col("cluster") +:
        filterCols.map(f => col(s"__q_$f")): _*)
    val asg = index.assigned
    val lists =
      if (filterCols.isEmpty) probes.join(asg, "cluster")
      else probes.join(asg, (probes("cluster") === asg("cluster")) &&
        filterCols.map(f => asg(f) <=> probes(s"__q_$f")).reduce(_ && _))
    lists.filter(col("q_id") =!= col("n_id"))
  }

  /** The threshold both range forms end with: cosines quantize to
    * integer micros AT the comparison, so no boundary pair can flicker
    * on an IEEE tiebreak. Returns (q_id, n_id, cosine_micros). */
  private def rangeCut(candidates: DataFrame,
      minCosineMicros: Long): DataFrame = {
    require(minCosineMicros >= -1000000L && minCosineMicros <= 1000000L,
      s"minCosineMicros must be in [-1e6, 1e6] (got $minCosineMicros)")
    candidates
      .withColumn("cosine_micros",
        round(cosine_similarity(col("q_vec"), col("n_vec")) * 1e6)
          .cast("long"))
      .filter(col("cosine_micros") >= minCosineMicros)
      .select(col("q_id"), col("n_id"), col("cosine_micros"))
  }

  /** Incremental index maintenance: assign NEW vectors to the nearest
    * EXISTING centroid and union them into the inverted lists — no
    * KMeans re-fit, no touch of the already-assigned corpus. This is
    * the warehouse append path: a daily ingest adds rows with one
    * broadcast-join pass over the new rows only, and the index stays
    * probe-identical in shape. The quantization error for appended
    * rows is bounded by the existing centroid geometry (they route to
    * their true nearest list, same rule the builder applied), so
    * recall degrades only as far as the corpus DRIFTS from the
    * centroids' training distribution — `sim_ivf_append_recall` gates
    * parity against a full rebuild. Re-fit on schedule when drift
    * accumulates; that is a policy knob, not a per-batch cost. */
  def ivfAppend(index: IvfIndex, newRows: DataFrame, vecCol: String,
      idCol: String): IvfIndex =
    IvfIndex(index.assigned.unionByName(
        assignToCentroids(index.centroids, newRows, vecCol, idCol, Nil)),
      index.centroids, index.nlist)

  /** [[ivfAppend]] for a SLICED index ([[ivfBuildSliced]]): new
    * vectors route to their nearest existing centroid AND keep their
    * slice columns riding next to (n_id, n_vec, cluster), so the
    * appended index serves [[ivfProbeFiltered]] /
    * [[ivfRangeSearchFiltered]] exactly like a rebuilt one — the
    * daily-crawl contract the tenant-partitioned index was missing.
    * Same no-re-fit semantics and recall posture as the plain append
    * (`sim_ivf_sliced_append` gates probe parity + the recall
    * floor). */
  def ivfAppendSliced(index: IvfIndex, newRows: DataFrame,
      vecCol: String, idCol: String, sliceCols: Seq[String]): IvfIndex = {
    require(sliceCols.nonEmpty, "sliceCols must be non-empty")
    IvfIndex(index.assigned.unionByName(
        assignToCentroids(index.centroids, newRows, vecCol, idCol,
          sliceCols)),
      index.centroids, index.nlist)
  }

  /** nearest-existing-centroid assignment shared by [[ivfAppend]] /
    * [[ivfAppendSliced]] / [[ivfAppendPartitioned]] — one definition
    * so the three append paths can never drift on the distance rule.
    * KMeans assigned the original corpus by EUCLIDEAN distance; the
    * append must apply the identical rule or identical vectors could
    * land in different lists than their build-time twins. */
  private def assignToCentroids(centroids: DataFrame, newRows: DataFrame,
      vecCol: String, idCol: String, sliceCols: Seq[String]): DataFrame = {
    val euclid2 = aggregate(
      zip_with(col("n_vec"), col("centroid"),
        (v, c) => (v.cast("double") - c.cast("double"))
          * (v.cast("double") - c.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val scored = newRows
      .select(col(idCol).as("n_id") +: col(vecCol).as("n_vec") +:
        sliceCols.map(col): _*)
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", euclid2)
    val w = Window.partitionBy(col("n_id"))
      .orderBy(col("cdist").asc, col("cluster"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("n_id") +: col("n_vec") +: col("cluster") +:
        sliceCols.map(col): _*)
  }

  /** Incremental append AGAINST THE PERSISTED sliced layout — the
    * on-disk half of the daily-crawl loop: load the centroid table
    * and the pinned assigned schema from a [[ivfSavePartitioned]]
    * directory, route the new batch to its nearest existing centroids
    * (slice columns riding), and APPEND only the new rows under the
    * partitioned layout — new slice directories/files appear, nothing
    * already indexed is rewritten or re-read (beyond the nlist-row
    * centroid table and the zero-row schema sidecar).
    *
    * Guards, all loud: the batch's (n_id, n_vec, cluster, slices)
    * schema must EQUAL the sidecar's (a drifted slice type would
    * corrupt the directory encoding — the "01"/"1" tenant merge the
    * sidecar exists to prevent); empty-string slice values refuse
    * exactly as at save time. [[ivfLoad]] reads the appended index
    * unchanged. */
  def ivfAppendPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, newRows: DataFrame, vecCol: String,
      idCol: String): Unit = {
    val pinned = spark.read.parquet(s"$path/assigned__schema").schema
    val baseCols = Set("n_id", "n_vec", "cluster")
    val sliceCols = pinned.fields.map(_.name).filterNot(baseCols).toSeq
    require(sliceCols.nonEmpty,
      s"index at $path is not sliced (no slice columns in the schema " +
        "sidecar) — use ivfSave/ivfAppend for plain indexes")
    val centroids = spark.read.parquet(s"$path/centroids")
    val assignedNew = assignToCentroids(centroids, newRows, vecCol,
      idCol, sliceCols)
      // align field order to the sidecar so the schema comparison is
      // order-insensitive on the caller side but exact on disk
      .select(pinned.fields.map(f => col(f.name)): _*)
    // names + dataTypes, NOT nullability (parquet round-trips flip
    // nullable flags AND nested containsNull; only a TYPE drift
    // merges tenants — normalize the whole type tree to nullable)
    def norm(dt: org.apache.spark.sql.types.DataType):
        org.apache.spark.sql.types.DataType = {
      import org.apache.spark.sql.types._
      dt match {
        case ArrayType(e, _) => ArrayType(norm(e), containsNull = true)
        case MapType(kT, v, _) =>
          MapType(norm(kT), norm(v), valueContainsNull = true)
        case StructType(fs) => StructType(fs.map(f =>
          f.copy(dataType = norm(f.dataType), nullable = true)))
        case other => other
      }
    }
    val gotTypes = assignedNew.schema.fields
      .map(f => (f.name, norm(f.dataType))).toSeq
    val wantTypes = pinned.fields
      .map(f => (f.name, norm(f.dataType))).toSeq
    require(gotTypes == wantTypes,
      s"ivfAppendPartitioned: batch schema ${assignedNew.schema.sql} " +
        s"does not match the index's pinned schema ${pinned.sql} — a " +
        "re-typed slice column would silently merge tenants in the " +
        "directory encoding; cast the batch to the index's types")
    requireNoEmptySlices(assignedNew, sliceCols, "ivfAppendPartitioned")
    assignedNew.write.mode("append")
      .partitionBy(sliceCols: _*).parquet(s"$path/assigned")
  }

  /** Probe a built index: route each query to its `nprobe` nearest
    * centroids (broadcast — nlist rows), exact cosine re-rank within
    * those inverted lists. The cheap, repeatable half. */
  def ivfProbe(index: IvfIndex, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    requireK(k)
    requireNprobe(nprobe)
    topK(probeCandidates(index, queries, vecCol, idCol, Nil, nprobe)
      .withColumn("cosine", cosine_similarity(col("q_vec"), col("n_vec"))),
      "cosine", k)
  }

  /** Build + probe in one call (small/one-shot use; for anything
    * repeated, hold the [[IvfIndex]] and call [[ivfProbe]]). */
  def ivfTopK(emb: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    requireK(k) // before the build's KMeans fit
    requireNprobe(nprobe)
    ivfProbe(ivfBuild(emb, vecCol, idCol, nlist, seed), queries, vecCol, idCol, k, nprobe)
  }

  /** RANGE (threshold) search through the IVF index — every neighbor
    * with cosine ≥ τ, the retrieval shape dedup and
    * near-duplicate audits need where top-k is wrong (a query can
    * have 0 or 10 000 true matches; k silently truncates or pads):
    * probe the nprobe nearest cells exactly like [[ivfProbe]], keep
    * every candidate at or above the threshold instead of a rank
    * cut. Cosines quantize to integer micros AT THE COMPARISON
    * (`round(cos·10⁶) ≥ minCosineMicros`) so the emitted pair set is
    * a deterministic function of the probe — no boundary pair can
    * flicker on an IEEE tiebreak. Returns (q_id, n_id,
    * cosine_micros).
    *
    * One-sided error by construction: every emitted pair truly
    * passes the threshold (cosines are exact over the probed cells —
    * the index can only MISS pairs whose cell was not probed, never
    * fabricate); the recall side is what a gate measures against
    * brute force. Output size is data-dependent — the caller bounds
    * it with the threshold, not a k.
    *
    * Scale: identical dataflow to [[ivfProbe]] minus the rank
    * window — candidates never re-sort, the threshold filter is
    * row-local, so the only shuffles are the probe join's. */
  def ivfRangeSearch(index: IvfIndex, queries: DataFrame,
      vecCol: String, idCol: String, minCosineMicros: Long,
      nprobe: Int = 4): DataFrame = {
    requireNprobe(nprobe)
    rangeCut(probeCandidates(index, queries, vecCol, idCol, Nil, nprobe),
      minCosineMicros)
  }

  /** kNN GRAPH construction: the corpus probed against its own index —
    * every vector gets its top-k nearest neighbors as directed
    * (q_id, n_id, cosine, rn) edges. This is the input shape for
    * graph-side corpus analytics (SemDeDup-style cluster election,
    * mutual-kNN density clustering, connectivity audits); built
    * through the IVF path so the cost is n·(nprobe/nlist)·n exact
    * cosines instead of the n² brute-force — the only shape that
    * survives a corpus-sized self-join.
    *
    * `mutual = true` keeps only RECIPROCATED edges (each endpoint in
    * the other's top-k) — the mutual-kNN graph, whose components are
    * the standard density-based clusters (hubs can be in many top-k
    * lists; mutuality prunes the asymmetric hub edges). Implemented
    * as one left-semi self-join on the swapped key pair — the edge
    * table (4 fixed-width columns) is the only thing that shuffles;
    * vectors never re-enter. */
  def knnGraph(emb: DataFrame, vecCol: String, idCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      mutual: Boolean = false): DataFrame = {
    val directed = ivfTopK(emb, emb, vecCol, idCol, k, nlist, nprobe, seed)
    if (!mutual) directed
    else directed.join(
      directed.select(col("n_id").as("q_id"), col("q_id").as("n_id")),
      Seq("q_id", "n_id"), "left_semi")
  }

  /** Hard-negative mining for contrastive training — per anchor
    * vector, the top-k most-similar vectors with a DIFFERENT label
    * (the "hard" negatives: near the anchor in embedding space yet
    * labeled apart — the pairs that actually move a contrastive loss;
    * random negatives are trivially separated and teach nothing).
    *
    * Built through the IVF self-probe (the [[knnGraph]] posture — the
    * only shape that survives a corpus-sized self-join): overfetch
    * `k·overfetch + 1` candidates per anchor (+1 absorbs the
    * self-match, the factor covers same-label neighbors the filter
    * discards — label-clustered corpora are exactly where hard
    * negatives live, so overfetch generously), drop self and
    * same-label. NULL-labeled rows are excluded UP FRONT, on both
    * sides: an unknown label is not a known-different label, so an
    * unlabeled row can neither anchor a mining query nor be emitted
    * as a confirmed negative (emitting it would feed a contrastive
    * loss pairs that might share a class). Re-rank the survivors
    * by (cosine desc, id) and cut at k. Anchors whose neighborhood is
    * entirely same-label return fewer than k rows — mine deeper with
    * a larger overfetch, don't silently pad with random vectors.
    *
    * Scale: candidates are n·(k·overfetch) fixed-width rows; the two
    * label joins are id→label lookups (broadcast-sized next to the
    * pair table); the re-rank window partitions by anchor. Vectors
    * never re-enter after the probe. */
  def hardNegatives(emb: DataFrame, vecCol: String, idCol: String,
      labelCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      overfetch: Int = 4, seed: Long = 42L): DataFrame = {
    requireK(k)
    require(overfetch >= 1, s"overfetch must be >= 1 (got $overfetch)")
    val labeled = emb.filter(col(labelCol).isNotNull)
    val qLabels = labeled.select(col(idCol).cast("long").as("q_id"),
      col(labelCol).as("__ql"))
    val nLabels = labeled.select(col(idCol).cast("long").as("n_id"),
      col(labelCol).as("__nl"))
    val cand = ivfTopK(labeled, labeled, vecCol, idCol,
      k * overfetch + 1, nlist, nprobe, seed)
    topK(cand.filter(col("q_id") =!= col("n_id"))
      .join(qLabels, Seq("q_id")).join(nLabels, Seq("n_id"))
      .filter(!(col("__ql") <=> col("__nl"))),
      "cosine", k, rankCol = "rank", asLong = true)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09) —
    * the standard hybrid-retrieval combiner: fuse N ranked lists into
    * one by `score(d) = Σ_lists 1/(k + rank_d)`, which needs NO score
    * calibration between lists (BM25 micro-units and cosine live on
    * incomparable scales; ranks don't). The classic use is lexical ⊕
    * vector (BM25 + ANN) hybrid search; any ranked DataFrames with
    * (idCol, rankCol) fuse.
    *
    * Contributions quantize to integer micro-units (`1e6 div
    * (k + rank)`) so the fused score is an exact integer sum — order-
    * independent, engine-replayable — and the output rank is a
    * deterministic (score desc, n_lists desc, id) ordering. Returns
    * (idCol, rrf_micros, n_lists, fused_rank).
    *
    * Scale: each input is already a top-k list (k rows, not corpus
    * rows); the fuse is a union + one tiny hash-agg + a window over
    * result-size data. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 0, s"k must be >= 0 (got $k)")
    val scored = rankings.map(_.select(col(idCol),
      expr(s"1000000L div (${k}L + CAST($rankCol AS BIGINT))").as("__c")))
    val fused = scored.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf_micros"),
        count(lit(1)).cast("bigint").as("n_lists"))
    val w = Window.orderBy(col("rrf_micros").desc, col("n_lists").desc,
      col(idCol))
    fused.withColumn("fused_rank", row_number().over(w))
  }

  // ====================== Product quantization ======================

  /** Trained PQ codebooks: `m` sub-quantizers of `k` centroids over
    * `dsub`-dim slices (Jégou et al. 2011, *Product Quantization for
    * Nearest Neighbor Search* — the FAISS storage path). The whole
    * model is m·k·dsub floats (8×64×8 ≈ 16 KB at the defaults) — a
    * broadcast-sized object; the ENCODED corpus is m small ints per
    * vector vs d floats, a ~16-32× scan-IO cut below even
    * [[quantizeInt8]]'s 4×. */
  final case class PqCodebooks(m: Int, dsub: Int, k: Int,
      centroids: Array[Array[Array[Float]]]) {
    require(centroids.length == m && centroids.forall(_.length == k))

    /** Row-local encode: nearest centroid per subspace (L2). */
    def encode(v: Array[Double]): Array[Short] = {
      val out = new Array[Short](m)
      var j = 0
      while (j < m) {
        val cs = centroids(j); val off = j * dsub
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var t = 0
          while (t < dsub) {
            val diff = v(off + t) - cs(c)(t); d += diff * diff; t += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(j) = best.toShort; j += 1
      }
      out
    }

    /** Per-subspace squared centroid norms (for ADC cosine). */
    lazy val norm2: Array[Array[Double]] = centroids.map(_.map { c =>
      var s = 0.0; var t = 0
      while (t < c.length) { s += c(t).toDouble * c(t); t += 1 }; s
    })
  }

  /** Train PQ codebooks on a BOUNDED sample (`sampleCap` rows — the
    * FAISS convention; PQ training never needs the full corpus). The
    * single collect here is sampleCap × d floats (default ~2.5 MB at
    * d=64) — a documented model-scale driver site, same class as the
    * KMeans fit inside [[ivfBuild]]. Training is driver-local
    * deterministic Lloyd's with k-means++-style farthest-point
    * seeding from a seeded RNG: m independent fits over d/m-dim
    * slices, each a few ms at these sizes. Empty clusters re-seed to
    * the farthest point so all k codes stay live. */
  def pqTrain(emb: DataFrame, vecCol: String, m: Int = 8, k: Int = 64,
      iters: Int = 12, sampleCap: Int = 10000, seed: Long = 42L): PqCodebooks = {
    val sample: Array[Array[Double]] = emb.select(col(vecCol))
      .limit(sampleCap).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val d = sample.head.length
    require(d % m == 0, s"pqTrain: dim $d not divisible by m=$m")
    val dsub = d / m
    val rng = new scala.util.Random(seed)
    val books = Array.tabulate(m) { j =>
      val pts = sample.map(_.slice(j * dsub, (j + 1) * dsub))
      kmeansLloyd(pts, math.min(k, pts.length), iters, rng)
    }
    // pad sub-books trained with fewer centroids than k (tiny corpus)
    // by repeating the last one so code values stay in [0, k)
    val padded = books.map { b =>
      if (b.length == k) b else b ++ Array.fill(k - b.length)(b.last)
    }
    PqCodebooks(m, dsub, k, padded)
  }

  /** Deterministic Lloyd's: farthest-point init from rng-chosen start,
    * fixed iteration count, empty clusters re-seeded to the globally
    * farthest point from its centroid. */
  private def kmeansLloyd(pts: Array[Array[Double]], k: Int, iters: Int,
      rng: scala.util.Random): Array[Array[Float]] = {
    val n = pts.length; val d = pts.head.length
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var t = 0
      while (t < d) { val x = a(t) - b(t); s += x * x; t += 1 }; s
    }
    // farthest-point ("maxmin") seeding — deterministic given rng
    val cents = new Array[Array[Double]](k)
    cents(0) = pts(rng.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var far = 0; var farD = -1.0; var i = 0
      while (i < n) {
        val dd = math.min(minD(i), dist2(pts(i), cents(c - 1)))
        minD(i) = dd
        if (dd > farD) { farD = dd; far = i }
        i += 1
      }
      cents(c) = pts(far).clone(); c += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue; var cc = 0
        while (cc < k) {
          val dd = dist2(pts(i), cents(cc))
          if (dd < bestD) { bestD = dd; best = cc }
          cc += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.ofDim[Double](k, d); val counts = new Array[Int](k)
      i = 0
      while (i < n) {
        val a = assign(i); counts(a) += 1; var t = 0
        while (t < d) { sums(a)(t) += pts(i)(t); t += 1 }
        i += 1
      }
      var cc = 0
      while (cc < k) {
        if (counts(cc) > 0) {
          var t = 0
          while (t < d) { cents(cc)(t) = sums(cc)(t) / counts(cc); t += 1 }
        } else {
          // re-seed dead centroid to the point farthest from its own
          // assigned centroid (keeps all k codes live)
          var far = 0; var farD = -1.0; var i2 = 0
          while (i2 < n) {
            val dd = dist2(pts(i2), cents(assign(i2)))
            if (dd > farD) { farD = dd; far = i2 }
            i2 += 1
          }
          cents(cc) = pts(far).clone()
        }
        cc += 1
      }
      it += 1
    }
    cents.map(_.map(_.toFloat))
  }

  /** Encode the corpus to PQ codes: (idCol, codes array<smallint>) —
    * row-local mapPartitions over the broadcast codebooks, zero
    * shuffles. At 100 TB this is the one full pass that writes the
    * compressed index; everything after scans m-short rows. */
  def pqEncode(emb: DataFrame, vecCol: String, idCol: String,
      books: PqCodebooks): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it => val b = bc.value; it.map { case (id, v) =>
        (id, b.encode(v)) } }
      .toDF(idCol, "codes")
  }

  /** Asymmetric-distance (ADC) cosine top-k over PQ codes: per query,
    * ONE m×k lookup table of subspace dot products (and the static
    * centroid-norm table) turns each candidate's score into m table
    * adds — no float vector is ever read at query time. Approximate
    * cosine: dot(q, x̂) / (|q|·|x̂|) with x̂ the PQ reconstruction.
    *
    * The query batch collects to the driver (bounded — the serving
    * batch, the same contract as [[bruteForceTopK]]'s broadcast) and
    * rides a broadcast; the candidate side is one mapPartitions scan
    * of the code table emitting (q_id, n_id, cosine_adc), then the
    * usual per-query window top-k. Shuffle carries 24-byte score
    * rows only. */
  def pqAdcTopK(codes: DataFrame, books: PqCodebooks, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    requireK(k) // before the query-batch collect
    val spark = codes.sparkSession
    import spark.implicits._
    val qBatch: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val bc = spark.sparkContext.broadcast((books, qBatch))
    val scored = codes.select(col(idCol).cast("long"), col("codes"))
      .as[(Long, Array[Short])]
      .mapPartitions { it =>
        val (b, qs) = bc.value
        val luts = qs.map { case (qid, qv) => adcLut(b, qid, qv) }
        it.flatMap { case (nid, code) => adcScores(b, luts, nid, code) }
      }.toDF("q_id", "n_id", "cosine_adc")
    topK(scored, "cosine_adc", k)
  }

  /** One query's ADC lookup table — dot(q_j, c) for every (subspace j,
    * code c), m×k doubles — with the query id and |q|. Built per
    * partition for every query of the batch. */
  private def adcLut(b: PqCodebooks, qid: Long,
      qv: Array[Double]): (Long, Array[Array[Double]], Double) = {
    val m = b.m; val dsub = b.dsub; val kk = b.k
    val lut = Array.ofDim[Double](m, kk)
    var qn = 0.0
    var tq = 0
    while (tq < qv.length) { qn += qv(tq) * qv(tq); tq += 1 }
    var j = 0
    while (j < m) {
      val cs = b.centroids(j); val off = j * dsub
      var c = 0
      while (c < kk) {
        var s = 0.0; var t = 0
        while (t < dsub) { s += qv(off + t) * cs(c)(t); t += 1 }
        lut(j)(c) = s; c += 1
      }
      j += 1
    }
    (qid, lut, math.sqrt(qn))
  }

  /** ADC cosine of one code row against each query table in `luts`
    * (self-match skipped): m table adds per pair, no float vector
    * read. Emits (q_id, n_id, cosine_adc). */
  private def adcScores(b: PqCodebooks,
      luts: Array[(Long, Array[Array[Double]], Double)], nid: Long,
      code: Array[Short]): Iterator[(Long, Long, Double)] = {
    val m = b.m; val n2 = b.norm2
    var cn2 = 0.0
    var jc = 0
    while (jc < m) { cn2 += n2(jc)(code(jc)); jc += 1 }
    val cn = math.sqrt(cn2)
    luts.iterator.collect { case (qid, lut, qn) if qid != nid =>
      var dot = 0.0
      var j = 0
      while (j < m) { dot += lut(j)(code(j)); j += 1 }
      val denom = qn * cn
      (qid, nid, if (denom <= 0) 0.0 else dot / denom)
    }
  }

  /** PQ + exact refine — the production serving shape (FAISS's
    * IndexRefine): ADC scores the WHOLE code table (m table adds per
    * candidate, no float IO) to cut n candidates to a per-query
    * shortlist, then ONE 8-byte-keyed join fetches only
    * |q|·shortlist float vectors for exact cosine re-ranking. Raw ADC
    * ranks clusters, not members (inside a tight cluster all points
    * share codes and tie) — the refine stage restores member-level
    * ordering while still reading ~shortlist/n of the float data.
    * Default shortlist 8k: recall@3 goes 0.46 → 1.0 on the clustered
    * spec fixture. */
  def pqAdcTopKRefined(codes: DataFrame, books: PqCodebooks,
      queries: DataFrame, emb: DataFrame, vecCol: String, idCol: String,
      k: Int, shortlist: Int = -1): DataFrame =
    refineExact(queries, emb, vecCol, idCol, k, shortlist)(sl =>
      pqAdcTopK(codes, books, queries, vecCol, idCol, sl))

  /** The exact refine both PQ serving forms end with: `adcTopK(sl)` is
    * the ADC shortlist of `sl` per query (`shortlist`, or 8k when it
    * is ≤ 0); ONE 8-byte-keyed join fetches only the shortlist's float
    * vectors, exact cosine re-ranks and cuts at k. A shortlist in
    * [1, k) would return fewer than k rows, so it refuses. */
  private def refineExact(queries: DataFrame, emb: DataFrame,
      vecCol: String, idCol: String, k: Int, shortlist: Int)(
      adcTopK: Int => DataFrame): DataFrame = {
    requireK(k)
    require(shortlist <= 0 || shortlist >= k,
      s"shortlist must be >= k = $k, or <= 0 for the 8k default " +
        s"(got $shortlist)")
    val sl = if (shortlist <= 0) 8 * k else shortlist
    val short = adcTopK(sl).select(col("q_id"), col("n_id"))
    val qv = queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).as("__qv"))
    val nv = emb.select(col(idCol).cast("long").as("n_id"),
      col(vecCol).as("__nv"))
    topK(short
      .join(nv, "n_id") // shortlist-sized — tiny vs the corpus
      .join(broadcast(qv), "q_id")
      .withColumn("cosine", cosine_similarity(col("__qv"), col("__nv"))),
      "cosine", k)
  }

  /** Injective slice-key canonicalization shared by the filtered PQ
    * encode and probe: NULL is its own slice (`"n"`), every non-NULL
    * value renders type-tagged (`"<type>:v<string>"`). The tag means
    * a slice column whose TYPE drifts between encode and query time
    * can never MERGE tenants (an int 1 and a string "1" get different
    * keys) — drift shows up as empty results, the recoverable failure
    * mode, never as cross-tenant hits. Atomic types only (the string
    * cast is injective per type). */
  private def pqSliceKey(df: DataFrame,
      sliceCol: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val dt = df.schema(sliceCol).dataType
    require(!dt.isInstanceOf[ArrayType] && !dt.isInstanceOf[MapType] &&
      !dt.isInstanceOf[StructType],
      s"slice column $sliceCol must be an atomic type (got ${dt.sql})")
    when(col(sliceCol).isNull, lit("n"))
      .otherwise(concat(lit(dt.simpleString + ":v"),
        col(sliceCol).cast("string")))
  }

  /** [[pqEncode]] with the slice (filter) column riding next to the
    * codes — the storage-scale half of FILTERED ANN at PQ
    * compression: (idCol, codes, slice_key), still m small ints +
    * one short string per vector, encoded row-locally in one pass.
    * `slice_key` is the canonical [[pqSliceKey]] rendering (the codes
    * table is an internal index artifact, like the LSH bucket ids —
    * audit joins go back through idCol). */
  def pqEncodeSliced(emb: DataFrame, vecCol: String, idCol: String,
      books: PqCodebooks, sliceCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
        pqSliceKey(emb, sliceCol))
      .as[(Long, Array[Double], String)]
      .mapPartitions { it => val b = bc.value; it.map { case (id, v, s) =>
        (id, b.encode(v), s) } }
      .toDF(idCol, "codes", "slice_key")
  }

  /** FILTERED ADC top-k over sliced PQ codes — the {filtered} axis
    * for the 16-32× storage path ([[filteredTopK]] is the
    * full-precision form, [[ivfProbeFiltered]] the IVF form): each
    * query scores ONLY candidates in its own slice (NULL-safe — a
    * NULL tenant is its own slice), so k never under-fills the way
    * post-filtering a plain [[pqAdcTopK]] would. Same dataflow as the
    * unfiltered scan: the query batch (with slice keys) rides a
    * broadcast, per-partition LUTs group BY slice key, and each code
    * row looks up exactly its slice's queries — candidates from other
    * slices cost a hash probe, not m table adds. Returns (q_id, n_id,
    * cosine_adc, rn ≤ k). `codes` must come from [[pqEncodeSliced]];
    * pass the RAW slice column on the query side (canonicalized here
    * with the same rendering). */
  def pqAdcTopKFiltered(codes: DataFrame, books: PqCodebooks,
      queries: DataFrame, vecCol: String, idCol: String,
      sliceCol: String, k: Int): DataFrame = {
    requireK(k)
    val spark = codes.sparkSession
    import spark.implicits._
    val qBatch: Array[(Long, Array[Double], String)] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
        pqSliceKey(queries, sliceCol))
      .as[(Long, Array[Double], String)].collect()
    val bc = spark.sparkContext.broadcast((books, qBatch))
    val scored = codes
      .select(col(idCol).cast("long"), col("codes"), col("slice_key"))
      .as[(Long, Array[Short], String)]
      .mapPartitions { it =>
        val (b, qs) = bc.value
        val lutsBySlice = qs.groupBy(_._3).map { case (sk, grp) =>
          sk -> grp.map { case (qid, qv, _) => adcLut(b, qid, qv) }
        }
        it.flatMap { case (nid, code, ck) =>
          lutsBySlice.get(ck) match {
            case None => Iterator.empty
            case Some(luts) => adcScores(b, luts, nid, code)
          }
        }
      }.toDF("q_id", "n_id", "cosine_adc")
    topK(scored, "cosine_adc", k)
  }

  /** Filtered PQ + exact refine — [[pqAdcTopKRefined]] through the
    * sliced code table: the ADC scan shortlists WITHIN each query's
    * slice, then one 8-byte-keyed join fetches only the shortlist's
    * float vectors for exact cosine re-ranking. With `shortlist` at
    * least the largest slice the shortlist IS the whole slice and the
    * result equals [[filteredTopK]] value-for-value (the
    * hash-grading device — `sim_topk_filtered_pq`); at production
    * sizing (default 8k) recall is `sim_filtered_pq_recall`'s
    * contract. Returns (q_id, n_id, cosine, rn ≤ k). */
  def pqAdcTopKRefinedFiltered(codes: DataFrame, books: PqCodebooks,
      queries: DataFrame, emb: DataFrame, vecCol: String, idCol: String,
      sliceCol: String, k: Int, shortlist: Int = -1): DataFrame =
    refineExact(queries, emb, vecCol, idCol, k, shortlist)(sl =>
      pqAdcTopKFiltered(codes, books, queries, vecCol, idCol, sliceCol, sl))

  /** Persist / reload codebooks as one parquet table
    * (subspace, code, centroid) — the build-once artifact. */
  def pqSave(spark: org.apache.spark.sql.SparkSession, books: PqCodebooks,
      path: String): Unit = {
    import spark.implicits._
    val rows = for {
      j <- 0 until books.m; c <- 0 until books.k
    } yield (j, c, books.centroids(j)(c))
    rows.toDF("subspace", "code", "centroid")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def pqLoad(spark: org.apache.spark.sql.SparkSession, path: String): PqCodebooks = {
    val rows = spark.read.parquet(path)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val cents = Array.ofDim[Array[Float]](m, k)
    rows.foreach { case (j, c, v) => cents(j)(c) = v }
    PqCodebooks(m, cents(0)(0).length, k, cents)
  }

  // =============== Diversity: MMR re-rank, k-center =================

  private def toVec(v: Any): Array[Double] = v match {
    case s: scala.collection.Seq[_] => s.map {
      case f: Float => f.toDouble
      case d: Double => d
      case n: Number => n.doubleValue()
    }.toArray
    case _ => throw new IllegalArgumentException(
      s"expected an array vector column, got ${v.getClass}")
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Maximal-marginal-relevance re-rank (Carbonell-Goldstein 1998) —
    * the diversity stage between retrieval and the context window:
    * greedily pick the item maximizing
    * `λ·relevance − (1−λ)·max_cosine_to_already_picked`, so the k
    * survivors cover the query's facets instead of repeating the top
    * hit k times. λ in ppm (engine-portable config, the house
    * convention); λ = 10⁶ degenerates to the plain relevance order
    * EXACTLY (the gate pins it).
    *
    * Deliberately DRIVER-SIDE: the input is the OUTPUT of a top-N
    * retrieval stage (bruteForceTopK / ivfTopK / bm25 — human-scale
    * by contract), and the greedy argmax is sequential by definition;
    * `maxCandidates` fails loudly if someone points it at a corpus.
    * Deterministic: fixed scan order, (score desc, id asc)
    * tie-breaks. Returns (id, rank, mmr_micros). */
  def mmrRerank(candidates: DataFrame, idCol: String, scoreCol: String,
      vecCol: String, k: Int, lambdaPpm: Long = 700000L,
      maxCandidates: Int = 10000): DataFrame = {
    requireK(k)
    require(lambdaPpm >= 0L && lambdaPpm <= 1000000L,
      s"lambdaPpm must be in [0, 1000000] (got $lambdaPpm)")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rows = candidates
      .select(col(idCol).cast("long"), col(scoreCol).cast("double"),
        col(vecCol))
      .limit(maxCandidates + 1).collect()
    require(rows.length <= maxCandidates,
      s"mmrRerank got more than $maxCandidates candidates — this is a " +
        "RE-RANK stage for a retrieval's top-N, not a corpus operator; " +
        "cut with a top-k first")
    val ids = rows.map(_.getLong(0))
    val rel = rows.map(_.getDouble(1))
    val vecs = rows.map(r => toVec(r.get(2)))
    require(!rel.exists(_.isNaN),
      "mmrRerank: NaN relevance score — NaN never wins a comparison, " +
        "so an all-NaN pool would select nothing; filter or score " +
        "upstream")
    require(vecs.iterator.map(_.length).distinct.size <= 1,
      "mmrRerank: ragged embedding dimensions — cosine assumes " +
        "equal-length vectors")
    val lam = lambdaPpm.toDouble / 1e6
    val n = rows.length
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val maxSim = Array.fill(n)(0.0)
    val taken = Array.fill(n)(false)
    var step = 0
    while (step < math.min(k, n)) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val s = lam * rel(i) -
            (1.0 - lam) * (if (step == 0) 0.0 else maxSim(i))
          if (s > bestScore ||
            (s == bestScore && (best < 0 || ids(i) < ids(best)))) {
            best = i; bestScore = s
          }
        }
        i += 1
      }
      // defensive: the NaN pre-flight makes best >= 0 certain, but a
      // no-winner scan must exit the loop, never index with -1
      if (best < 0) return picked.toSeq.zipWithIndex
        .map { case ((id, s), r) => (id, (r + 1).toLong, s) }
        .toDF(idCol, "rank", "mmr_micros")
      taken(best) = true
      picked += ((ids(best), math.round(bestScore * 1e6)))
      var j = 0
      while (j < n) {
        if (!taken(j)) {
          val c = cos(vecs(j), vecs(best))
          if (c > maxSim(j)) maxSim(j) = c
        }
        j += 1
      }
      step += 1
    }
    picked.toSeq.zipWithIndex
      .map { case ((id, s), r) => (id, (r + 1).toLong, s) }
      .toDF(idCol, "rank", "mmr_micros")
  }

  /** k-center greedy coreset selection (farthest-point traversal) —
    * the diversity SAMPLER for training data: pick k rows such that
    * every corpus vector is close to some pick (2-approximation of
    * the optimal covering radius — Gonzalez 1985). Where [[mmrRerank]]
    * diversifies a retrieval's top-N on the driver, this walks the
    * WHOLE corpus distributed: per round one max-aggregate over the
    * corpus (argmax of cosine-distance-to-nearest-center, (dist desc,
    * id asc) tie-break) and one row-local min-update of the running
    * distance column — k rounds, no pairwise matrix, nothing
    * corpus-scale ever collects (one row per round). Seed = smallest
    * id (deterministic; re-runs pick identical centers). Lineage
    * truncates per round. Returns (center_id, round, dist_micros) —
    * dist_micros the picked row's distance to the previous centers
    * (0 for the seed); max over the LAST round's column is the
    * coverage radius, which the gate compares against an arbitrary
    * k-sample's. */
  def kCenterGreedy(emb: DataFrame, vecCol: String, idCol: String,
      k: Int): DataFrame = {
    requireK(k)
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
    val seedRow = base.orderBy(col("__id")).limit(1).collect()
    require(seedRow.nonEmpty, "kCenterGreedy: empty corpus")
    var centers = List((seedRow(0).getLong(0), 0, 0L))
    def vecLit(v: Array[Double]) =
      typedLit(v.map(_.toFloat).toSeq) // cosine expr wants array<float>
    var cur = base
      .withColumn("__d", lit(1.0) - cosine_similarity(col("__v"),
        vecLit(toVec(seedRow(0).get(1)))))
      .localCheckpoint(true)
    var round = 1
    while (round < k) {
      // argmax running distance, (dist desc, id asc) — one aggregate
      val next = cur.filter(!col("__id").isInCollection(centers.map(_._1)))
        .orderBy(col("__d").desc, col("__id")).limit(1).collect()
      if (next.isEmpty) { round = k } // corpus smaller than k
      else {
        val id = next(0).getLong(0)
        val d = next(0).getDouble(2)
        val vec = toVec(next(0).get(1))
        centers = (id, round, math.round(d * 1e6)) :: centers
        cur = cur.withColumn("__d", least(col("__d"),
            lit(1.0) - cosine_similarity(col("__v"), vecLit(vec))))
          .localCheckpoint(true)
        round += 1
      }
    }
    centers.reverse.map { case (id, r, d) => (id, r.toLong, d) }
      .toDF("center_id", "round", "dist_micros")
  }

  /** Coverage radius of a center set over the corpus: max over rows of
    * (1 − cosine) distance to the NEAREST center — the quantity
    * k-center greedy 2-approximates. One broadcast join + one
    * row-local min + one max-agg; micro-quantized. */
  def coverageRadius(emb: DataFrame, vecCol: String, idCol: String,
      centers: DataFrame): DataFrame = {
    val c = centers.select(col("center_id").cast("long"))
      .join(emb.select(col(idCol).cast("long").as("center_id"),
        col(vecCol).as("__cv")), Seq("center_id"))
    emb.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(c)) // center-count-sized broadcast
      .withColumn("__d", lit(1.0) - cosine_similarity(col("__v"), col("__cv")))
      .groupBy(col("__id")).agg(min(col("__d")).as("__dmin"))
      .agg(round(max(col("__dmin")) * 1e6).cast("long")
        .as("radius_micros"))
  }

  /** Deterministic centroid assignment — one exact Lloyd E-step with
    * the `numSeeds` LOWEST-id vectors as centroids: every vector
    * joins its most-cosine-similar seed. The HASH-GRADED member of
    * the similarity family (the ANN operators trade exactness for
    * scale and grade through recall gates; this one is small-k exact
    * by construction, so a second engine replays it value-for-value)
    * — the quick "is this embedding space clustered at all" read,
    * and the seeding step a real k-means would iterate from.
    *
    * Exactness: per-coordinate products are PICO-QUANTIZED then
    * integer-summed (`Σ round(aᵢbᵢ·10¹²)` — order-free, the
    * micro-quantization discipline; float→double widening is exact
    * on both engines), norms likewise; cosine is ONE mirrored IEEE
    * division `dot/(√nₐ·√n_b)` of exact integers, micro-quantized;
    * the argmax tie-breaks (cos desc, seed asc). Zero-norm vectors
    * and seeds are excluded (no direction exists). Returns one row
    * per seed: (seed_id, n_assigned, mean_cos_micros).
    *
    * Scale: n·numSeeds fixed-width comparison rows (numSeeds is a
    * small constant by contract), one per-vector argmax window keyed
    * by vector id (parallelizes), one seed-scale aggregate. */
  def centroidAssign(df: DataFrame, idCol: String, vecCol: String,
      numSeeds: Int = 8): DataFrame =
    assignToSeeds(df, idCol, vecCol, numSeeds)
      .groupBy(col("__sid"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(col("__cm")).as("__sum"))
      .select(col("__sid").cast("bigint").as("seed_id"),
        col("n_assigned").cast("bigint").as("n_assigned"),
        expr("CAST(__sum div n_assigned AS BIGINT)")
          .as("mean_cos_micros"))
      .orderBy(col("seed_id"))

  /** The exact E-step [[centroidAssign]] and [[kmeansStep]] share: the
    * `numSeeds` lowest-id non-zero vectors are the seeds, and every
    * vector keeps its pico-cosine argmax seed, (cos desc, seed asc).
    * Returns one row per assigned vector, with its id `__id`, vector
    * `__v`, seed `__sid` and micro cosine `__cm`. */
  private def assignToSeeds(df: DataFrame, idCol: String, vecCol: String,
      numSeeds: Int): DataFrame = {
    require(numSeeds >= 1 && numSeeds <= 1024,
      s"numSeeds must be in [1, 1024] (got $numSeeds)")
    val picoDot = (a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) =>
          round(x.cast("double") * y.cast("double") * lit(1e12))
            .cast("long")),
        lit(0L), (acc, t) => acc + t)
    val base = df.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"))
      .filter(col("__id").isNotNull && col("__v").isNotNull)
      .withColumn("__np", picoDot(col("__v"), col("__v")))
      .filter(col("__np") > 0L)
    val seeds = base.orderBy(col("__id")).limit(numSeeds)
      .select(col("__id").as("__sid"), col("__v").as("__sv"),
        col("__np").as("__snp"))
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__cm").desc, col("__sid"))
    base.crossJoin(broadcast(seeds)) // n x numSeeds fixed-width rows
      .withColumn("__cm",
        round(picoDot(col("__v"), col("__sv")).cast("double") /
          (sqrt(col("__np").cast("double")) *
            sqrt(col("__snp").cast("double"))) * 1e6).cast("long"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
  }

  /** ONE full Lloyd iteration, hash-gradable — [[centroidAssign]]'s
    * assignment followed by the centroid UPDATE (the half of k-means
    * the assignment query stops short of): every vector joins its
    * pico-cosine-argmax seed, then each (seed, dimension) cell
    * averages the micro-quantized coordinates. The float k-means in
    * [[graft.ml]] gates (seeded fits don't replay across engines);
    * this one does — per-coordinate `round(v·10⁶)` integer sums are
    * order-free and the mean is one truncating division (negative
    * sums truncate toward zero identically on both engines), so a
    * second engine lands on the same 8×64 centroid table bit for
    * bit. Returns one row per (seed_id, dim): (seed_id, dim [0-based],
    * n_assigned, centroid_micros).
    *
    * Scale: the assignment is [[centroidAssign]]'s n×numSeeds
    * broadcast shape; the update adds one explode (n·dims fixed-width
    * rows) + one (seed, dim)-keyed hash-agg — numSeeds·dims output
    * rows, nothing pairwise. */
  def kmeansStep(df: DataFrame, idCol: String, vecCol: String,
      numSeeds: Int = 8): DataFrame =
    assignToSeeds(df, idCol, vecCol, numSeeds)
      .select(col("__sid"), posexplode(col("__v")))
      .select(col("__sid"), col("pos").as("dim"),
        round(col("col").cast("double") * lit(1e6)).cast("long")
          .as("__q"))
      .groupBy(col("__sid"), col("dim"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__q").cast("decimal(38,0)")).as("__s"))
      .select(col("__sid").cast("bigint").as("seed_id"),
        col("dim").cast("bigint").as("dim"),
        col("__n").cast("bigint").as("n_assigned"),
        expr("CAST(__s div __n AS BIGINT)").as("centroid_micros"))
      .orderBy(col("seed_id"), col("dim"))

  /** MULTI-ROUND Lloyd k-means, hash-gradable — the actual clustering
    * loop [[kmeansStep]] grades one iteration of: `rounds` full
    * assign+update passes, all integer after a single up-front
    * quantization. Every vector quantizes ONCE to micro coordinates
    * `q_i = round(v_i·10⁶)`; from there each round is exact integer
    * arithmetic on both engines — assignment by argmax of
    * `round(⟨q,c⟩ / (√Σq²·√Σc²) · 10⁶)` (integer dot of micro
    * vectors; the doubles enter only through the mirrored
    * divide-and-round tree), tie-broken `(cos desc, seed_id)`, then
    * per-(seed, dim) centroid update `Σq div n` (truncating division,
    * negative sums truncate identically). Round-0 centroids are the
    * `numSeeds` lowest-id vectors' OWN micro coordinates, so every
    * round — not just the first — replays value-for-value in a SQL
    * oracle that unrolls the rounds kcore-style. Seeds that lose all
    * their points drop out of later rounds naturally (their group is
    * empty on both engines).
    *
    * This is spherical k-means (cosine assignment, mean update —
    * cosine is scale-invariant in the centroid, so the un-normalized
    * mean acts as the normalized one), hence the mean assigned cosine
    * is non-decreasing round over round up to quantization noise —
    * SimilaritySpec pins that monotonicity.
    *
    * Returns the FINAL round's centroid table: one row per
    * (seed_id, dim): (seed_id, dim [0-based], n_assigned,
    * centroid_micros).
    *
    * Scale: per round one n×numSeeds broadcast probe (fixed-width,
    * never pairwise) + one n·dims explode into a (seed, dim) hash-agg;
    * the centroid state is numSeeds rows, localCheckpointed per round
    * so the plan stays O(1) in `rounds`. */
  def kmeansRounds(df: DataFrame, idCol: String, vecCol: String,
      numSeeds: Int = 8, rounds: Int = 3): DataFrame = {
    require(numSeeds >= 1 && numSeeds <= 1024,
      s"numSeeds must be in [1, 1024] (got $numSeeds)")
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1, 50] (got $rounds)")
    val qv = df.select(col(idCol).cast("long").as("__id"),
        transform(col(vecCol), x =>
          round(x.cast("double") * lit(1e6)).cast("long")).as("__q"))
      .filter(col("__id").isNotNull && col("__q").isNotNull)
      .withColumn("__nq", aggregate(col("__q"), lit(0L),
        (acc, x) => acc + x * x))
      .filter(col("__nq") > 0L)
      .localCheckpoint(true)
    var cent = qv.orderBy(col("__id")).limit(numSeeds)
      .select(col("__id").as("__sid"), col("__q").as("__c"),
        col("__nq").as("__nc"))
      .localCheckpoint(true)
    var upd: DataFrame = null
    for (_ <- 1 to rounds) {
      val w = Window.partitionBy(col("__id"))
        .orderBy(col("__cm").desc, col("__sid"))
      val assigned = qv.crossJoin(broadcast(cent))
        .withColumn("__dot", aggregate(
          zip_with(col("__q"), col("__c"), (x, y) => x * y),
          lit(0L), (acc, t) => acc + t))
        .withColumn("__cm",
          round(col("__dot").cast("double") /
            (sqrt(col("__nq").cast("double")) *
              sqrt(col("__nc").cast("double"))) * 1e6).cast("long"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      upd = assigned.select(col("__sid"), posexplode(col("__q")))
        .groupBy(col("__sid"), col("pos"))
        .agg(count(lit(1)).as("__n"),
          sum(col("col").cast("decimal(38,0)")).as("__s"))
        .select(col("__sid"), col("pos"), col("__n"),
          expr("CAST(__s div __n AS BIGINT)").as("__cd"))
        .localCheckpoint(true)
      cent = upd.groupBy(col("__sid"))
        .agg(transform(array_sort(collect_list(
          struct(col("pos"), col("__cd")))), t => t("__cd")).as("__c"))
        .withColumn("__nc", aggregate(col("__c"), lit(0L),
          (acc, x) => acc + x * x))
        .localCheckpoint(true)
    }
    upd.select(col("__sid").cast("bigint").as("seed_id"),
        col("pos").cast("bigint").as("dim"),
        col("__n").cast("bigint").as("n_assigned"),
        col("__cd").as("centroid_micros"))
      .orderBy(col("seed_id"), col("dim"))
  }

  /** k-nearest-neighbor CLASSIFIER over an embedding column — the
    * supervised member of the similarity family ([[centroidAssign]]
    * clusters, this predicts): each probe vector takes the majority
    * label of its k nearest TRAIN vectors by cosine, the standard
    * zero-training-cost baseline every embedding space gets judged
    * by ("do my neighbors share my label?"). Returns the confusion
    * matrix (true_label, pred_label, n) — the per-class readout that
    * says WHICH classes bleed into which.
    *
    * Exactness: the [[kmeansRounds]] convention — every vector
    * quantizes ONCE to micro coordinates (`round(x·10⁶)`), so dot
    * products and norms are EXACT integer arithmetic (order-free by
    * construction, and the n²-scale hot loop is pure long
    * multiply-add — the per-pair-rounding pico convention costs a
    * double round per term, 400M of them on this brute shape);
    * cosine is ONE mirrored IEEE division per (probe, train) pair,
    * micro-rounded. Neighbor rank ties break (cos desc, train id
    * asc) and vote ties (votes desc, label asc), so a second engine
    * lands on the same matrix bit for bit. Zero-norm vectors (all
    * coordinates under 5·10⁻⁷) are excluded on both sides (no
    * direction exists); NULL labels are excluded by filter (a
    * labeled classifier cannot vote with an unlabeled neighbor).
    *
    * Scale: this is the EXACT baseline — probes × train fixed-width
    * comparison rows (never train × train); for corpus-scale probe
    * sets substitute the IVF probe ([[ivfProbe]]) for the cross join
    * and keep the vote/confusion tail unchanged. The vote is one
    * (probe, label)-keyed hash-agg plus two probe-keyed windows. The
    * pairwise cosine is the codegen'd [[graft.expr.QuantizedCosine]]
    * expression — column-algebra forms of the n²-scale inner loop
    * all lose (a 64-term unrolled tree blows the JIT method limits,
    * lambda higher-order functions allocate per pair, `round()`
    * allocates a BigDecimal per call); one tight integer loop is the
    * difference between 36 s and sub-second on the brute shape. */
  def knnClassify(train: DataFrame, probe: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int = 5): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000] (got $k)")
    // norms at ROW scale (for the zero-norm exclusion filter): the
    // lambda form is fine here — it runs once per vector, not per pair
    val intNorm = (a: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, a, (x, y) => x * y),
        lit(0L), (acc, t) => acc + t)
    def prep(df: DataFrame) = df
      .select(col(idCol).cast("long").as("__id"),
        transform(col(vecCol), x =>
          round(x.cast("double") * lit(1e6)).cast("long")).as("__v"),
        col(labelCol).cast("long").as("__l"))
      .filter(col("__id").isNotNull && col("__v").isNotNull &&
        col("__l").isNotNull)
      .withColumn("__np", intNorm(col("__v")))
      .filter(col("__np") > 0L)
    // localCheckpoint BEFORE the n² join: projection collapse would
    // otherwise inline the quantizing transform into every
    // element_at reference — re-quantizing the whole vector once per
    // unrolled term per pair (measured 3× slower than the lambda
    // path it was meant to beat). SIDE-EFFECTING by design.
    val tr = prep(train).select(col("__id").as("__tid"),
      col("__v").as("__tv"), col("__l").as("__tl"),
      col("__np").as("__tnp")).localCheckpoint(true)
    val pb = prep(probe).select(col("__id").as("__pid"),
      col("__v").as("__pv"), col("__l").as("__pl"),
      col("__np").as("__pnp")).localCheckpoint(true)
    val wRank = Window.partitionBy(col("__pid"))
      .orderBy(col("__cm").desc, col("__tid"))
    val wVote = Window.partitionBy(col("__pid"))
      .orderBy(col("__votes").desc, col("__tl"))
    // train is the bounded side by contract (a corpus-scale train
    // set goes through the IVF probe instead) — broadcast it
    // explicitly: the quantized long arrays inflate the size
    // estimate past the auto-broadcast threshold and the join
    // otherwise degrades to a CartesianProduct of tiny tasks
    pb.crossJoin(broadcast(tr)) // probes x train — the exact baseline
      .withColumn("__cm",
        graft.functions.micro_cosine(col("__pv"), col("__tv")))
      .withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") <= k)
      .groupBy(col("__pid"), col("__pl"), col("__tl"))
      .agg(count(lit(1)).as("__votes"))
      .withColumn("__wr", row_number().over(wVote))
      .filter(col("__wr") === 1)
      .groupBy(col("__pl").as("true_label"),
        col("__tl").as("pred_label"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      .orderBy(col("true_label"), col("pred_label"))
  }
}
