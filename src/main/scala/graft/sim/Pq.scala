package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Snapshot
import Similarity.{asDouble, dist2, lloydCentroids, nearestCell, topKPerQuery}

/** Product quantization (Jégou et al. 2011): split each `dim`-vector into
  * `m` subspaces of dim/m components, train an independent `ksub`-centroid
  * codebook per subspace (the SAME deterministic seeded Lloyd the IVF
  * quantizer uses — ids < ksub seed, round-6 float contract), and encode
  * every vector as m small codes. Storage drops from dim doubles to m
  * bytes-ish per vector, and asymmetric-distance (ADC) scoring costs m
  * table lookups per pair instead of dim multiplies — the canonical ANN
  * compression rung below [[Quantization]]'s int8/sign bits.
  *
  * Scale shape: codebooks live on the driver (m·ksub·(dim/m) = ksub·dim
  * doubles — bounded; at 100 TB they train on a sample, like the IVF
  * note). Encoding is a pure projection (nearest sub-centroid when-trees).
  * ADC: each query's m×ksub distance TABLE is computed once on the query
  * row and broadcast as (qid, cell, d2) rows; the corpus is scanned once
  * and scored by m broadcast-hash joins on its codes; per-query top-k is
  * the two-phase TopKAgg heap — no |Q|-partition window. Scale shape:
  * [[pqAdcTopK]] is still a FULL |Q|×|corpus| scan in row count (one
  * scored row per pair, each costing m map lookups instead of dim
  * multiplies) — PQ compresses the per-pair cost, not the candidate set;
  * the candidate-pruned path is [[ivfPqTopK]], whose coarse probe keeps
  * only ≈ nProbe/nLists of the corpus per query.
  *
  * Determinism: per-subspace squared-L2 rounds to 6 (assignment and ADC),
  * the ADC sum rounds to 6 — bit-replayable in any engine with list ops.
  */
object Pq {

  /** Per-subspace codebooks: m entries, each (cell, centroid) like
    * [[Similarity.lloydCentroids]] (which this calls per subspace slice —
    * m bounded corpus passes; empty corpus yields empty books). */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int): Seq[Seq[(Int, Seq[Double])]] = {
    require(m >= 1 && dim % m == 0, s"pq needs m | dim (got $m, $dim)")
    val sub = dim / m
    // r14: ONE stacked (subspace, subvector) frame trains all m codebooks
    // together — the per-subspace lloydCentroids loop paid m seed collects
    // + m refine collects + m persists PER ITERATION (q261 profiled 41
    // driver-bound jobs); stacked, each iteration is one corpus pass and
    // one bounded m·ksub-row collect. Trajectories are IDENTICAL to the
    // per-subspace runs: the seed set is the same id<ksub filter per
    // subspace, the assignment applies subspace j's when-tree to exactly
    // the rows with __j = j, and the per-(j, cell, pos) round-6 means
    // aggregate exactly the rows the per-j run aggregated (PqSpec pins the
    // codebooks; the q261-q263/q280/q295 oracles replay them CTE for CTE).
    val stacked = corpus.select(col(idCol).as("__sid"),
        posexplode(array((0 until m).map(j =>
          slice(asDouble(col(vecCol)), j * sub + 1, sub)): _*))
          .as(Seq("__j", "__cv")))
    def booksOf(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[(Int, Seq[Double])]] = {
      val byJ = rows.groupBy(_.getInt(0))
      (0 until m).map { j =>
        byJ.getOrElse(j, Array.empty[org.apache.spark.sql.Row])
          .map(r => (r.getInt(1),
            r.getSeq[Double](2).toIndexedSeq.asInstanceOf[Seq[Double]]))
          .sortBy(_._1).toSeq
      }
    }
    val init = booksOf(stacked.filter(col("__sid") < ksub)
      .select(col("__j"), col("__sid").cast("int").as("cell"), col("__cv"))
      .collect())
    // degenerate: no seed ids — empty per subspace, exactly as the per-j
    // lloydCentroids early-return produced
    if (init.head.isEmpty) return init
    val e = stacked.select(col("__j"), col("__cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (1 to iters).foldLeft(init) { (books, _) =>
        // per-subspace nearest-cell trees dispatched on __j; the lazy
        // localCheckpoint is the lloydRefine evaluation barrier (the
        // assignment must not inline into the Generate below)
        val assignExpr = (1 until m).foldLeft(
          when(col("__j") === 0, nearestCell(col("__cv"), books(0)))) {
          (acc, j) => acc.when(col("__j") === j, nearestCell(col("__cv"), books(j)))
        }
        val assigned = e.select(col("__j"), assignExpr.as("cell"), col("__cv"))
          .localCheckpoint(eager = false)
        booksOf(assigned
          .select(col("__j"), col("cell"), posexplode(col("__cv")))
          .groupBy("__j", "cell", "pos").agg(round(avg(col("col")), 6).as("val"))
          .groupBy("__j", "cell")
          .agg(transform(sort_array(collect_list(struct(col("pos"), col("val")))),
            p => p.getField("val")).as("centroid"))
          .collect())
      }
    } finally e.unpersist(blocking = false)
  }

  /** Encode the corpus: (idCol, code_0 … code_{m-1}) int codes.
    *
    * The subspace slices are hoisted into their OWN projection: inlined
    * into the ksub-way nearest-cell trees, each of the 3·ksub dot
    * products would carry its own `slice` child — hundreds of array
    * copies per row (measured ~60 s over 1M×64 vs seconds hoisted).
    * CollapseProject keeps the split because a multiply-referenced
    * non-trivial alias is not collapsible, and codegen then CSEs the
    * repeated dot(s, s) over the plain column reference. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      books: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val m = books.size
    val sub = dim / m
    corpus
      .select(col(idCol) +: (0 until m).map(j =>
        slice(asDouble(col(vecCol)), j * sub + 1, sub).as(s"__s$j")): _*)
      .select(col(idCol) +: (0 until m).map(j =>
        nearestCell(col(s"__s$j"), books(j)).as(s"code_$j")): _*)
  }

  /** ADC top-k: for each query, the k corpus vectors with the smallest
    * approximate squared L2 Σ_j d²(q_j, centroid_j[code_j]) (self-matches
    * on id excluded). Output (qid, rank, cid, adc_d2) ordered by rank
    * within qid, adc ascending with id tie-break. */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 4, ksub: Int = 8,
      iters: Int = 1): DataFrame = {
    val books = pqCodebooks(corpus, idCol, vecCol, dim, m, ksub, iters)
    val sub = dim / m
    val enc = pqEncode(corpus, idCol, vecCol, dim, books)
      .withColumnRenamed(idCol, "cid")
    val qside = queries.select(col(idCol).as("qid"),
      asDouble(col(vecCol)).as("__qv"))
    // per-query distance tables: |Q|·ksub rows per subspace, broadcast
    val dts = (0 until m).map { j =>
      val entries = books(j).map { case (cell, cv) =>
        struct(lit(cell).as("cell"),
          round(dist2(slice(col("__qv"), j * sub + 1, sub), typedlit(cv)), 6)
            .as("d2v"))
      }
      if (entries.isEmpty) null
      else qside.select(col("qid").as(s"__q$j"),
        explode(array(entries: _*)).as("e"))
        .select(col(s"__q$j"), col("e.cell").as(s"__cell$j"),
          col("e.d2v").as(s"__d2_$j"))
    }
    if (dts.exists(_ == null))
      // empty codebooks (empty/seedless corpus): empty result, scored schema
      return topKPerQuery(
        qside.select(col("qid"), lit(0L).as("cid"), lit(0.0).as("sim"))
          .limit(0), k)
        .select(col("qid"), col("rank"), col("cid"),
          round(-col("sim"), 6).as("adc_d2"))
    val scored = (1 until m).foldLeft(
        enc.join(broadcast(dts(0)), col("code_0") === col("__cell0"))
          .withColumnRenamed("__q0", "qid")) { (acc, j) =>
      acc.join(broadcast(dts(j)),
        col("qid") === col(s"__q$j") && col(s"code_$j") === col(s"__cell$j"))
    }
    val adc = round((0 until m).map(j => col(s"__d2_$j")).reduce(_ + _), 6)
    topKPerQuery(
      scored.filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), (-adc).as("sim")), k)
      .select(col("qid"), col("rank"), col("cid"),
        round(-col("sim"), 6).as("adc_d2"))
  }

  /** IVF-PQ with residual encoding — the production ANN architecture
    * (FAISS's workhorse): a coarse `nLists`-cell quantizer (the SAME
    * deterministic seeded Lloyd as q117) partitions the corpus; each
    * vector's RESIDUAL against its cell centroid is PQ-encoded (residuals
    * are smaller and better-conditioned than raw vectors — the standard
    * accuracy win); queries probe their `nProbe` nearest cells and score
    * only those cells' candidates by ADC over the per-(query, cell)
    * residual distance tables.
    *
    * Scale shape: candidate volume ≈ nProbe/nLists of the corpus reached
    * through ONE equi join on the coarse cell; the probe table (|Q|·nProbe
    * rows, each carrying m ksub-entry distance maps) broadcasts; coarse
    * centroids and sub-codebooks are bounded driver literals; per-query
    * top-k is the TopKAgg heap. A Lloyd step can empty a sub-cell, so
    * distance tables are MAPS keyed by surviving code, not dense arrays.
    * Output: (qid, rank, cid, adc_d2) — ADC ascending, id tie-break.
    *
    * `trainOn`: the 100 TB posture — train the coarse quantizer and the
    * sub-codebooks on a (deterministic) SAMPLE instead of the full corpus
    * (it must contain the seed ids < max(nLists, ksub)); assignment and
    * encoding stay single full-corpus projections, and the multi-pass
    * snapshot shrinks to the sample. None (default) trains on the corpus
    * itself — the exactly-oracled q263 path. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, nLists: Int = 8, nProbe: Int = 2,
      m: Int = 4, ksub: Int = 8, iters: Int = 1,
      trainOn: Option[DataFrame] = None): DataFrame =
    queryIvfPqIndex(
      buildIvfPqIndex(corpus, idCol, vecCol, dim, nLists, m, ksub, iters,
        trainOn),
      queries, idCol, vecCol, k, nProbe)

  /** A built IVF-PQ index — the persistable form of [[ivfPqTopK]]'s
    * training products, mirroring [[Similarity.IvfIndex]]:
    *  - `coarse`: the nLists (cell, centroid) coarse quantizer — bounded,
    *    driver-held;
    *  - `books`: m per-subspace ksub-centroid codebooks trained on cell
    *    RESIDUALS — bounded, driver-held (ksub·dim doubles total);
    *  - `codes`: the corpus as (cid, cell, code_0 … code_{m-1}) — the only
    *    corpus-sized piece, m small ints per vector instead of dim
    *    doubles (the PQ compression win: at 100 TB of raw vectors the
    *    index is ~the id column plus m bytes-ish per row).
    * Build once (multi-pass training, bounded by `trainOn` sampling),
    * query many; [[saveIvfPqIndex]] / [[loadIvfPqIndex]] persist it as
    * parquet with codes partitioned BY CELL, so a probed query's join
    * prunes unprobed cells at the file level — the index read scales with
    * nProbe/nLists, not corpus size.
    */
  final case class IvfPqIndex(coarse: Seq[(Int, Seq[Double])],
      books: Seq[Seq[(Int, Seq[Double])]], codes: DataFrame) {
    /** Vector dimensionality, recoverable from the coarse centroids (empty
      * index ⇒ 0; queries against it return empty). */
    def dim: Int = coarse.headOption.map(_._2.size).getOrElse(0)
  }

  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nLists: Int = 8, m: Int = 4, ksub: Int = 8, iters: Int = 1,
      trainOn: Option[DataFrame] = None): IvfPqIndex = {
    require(m >= 1 && dim % m == 0, s"ivfPq needs m | dim (got $m, $dim)")
    val sub = dim / m
    val trainDf = trainOn.getOrElse(corpus)
    val coarse = lloydCentroids(trainDf, idCol, vecCol, nLists, iters)
    if (coarse.isEmpty)
      return IvfPqIndex(Nil, Nil, corpus.sparkSession.emptyDataFrame)
    val centMap = typedlit(coarse.map { case (c, v) => c -> v }.toMap)
    def residualize(df: DataFrame): DataFrame = df
      .select(col(idCol).as("cid"), asDouble(col(vecCol)).as("__v"))
      .withColumn("cell", nearestCell(col("__v"), coarse))
      .withColumn("__r", Similarity.vecSub(col("__v"),
        element_at(centMap, col("cell"))))
    // snapshot the TRAINING residuals: codebook training is m bounded
    // passes over them (the full corpus is never multi-passed when a
    // training sample is given)
    val trainRes0 = residualize(trainDf)
    val trainRes = Snapshot.eager(trainRes0)
    val books = pqCodebooks(trainRes, "cid", "__r", dim, m, ksub, iters)
    if (books.exists(_.isEmpty))
      return IvfPqIndex(Nil, Nil, corpus.sparkSession.emptyDataFrame)
    // the residual is a zip_with (interpreted HOF, re-evaluated per
    // consumer) and the encoder consults it m·ksub times per row — it
    // must be MATERIALIZED before encoding or the projection goes
    // quadratic-ish in (m·ksub·dim) interpreted lambda calls. The
    // no-sample path already has it materialized in trainRes; the
    // sample path snapshots the corpus residuals once here.
    val encSrc =
      if (trainOn.isEmpty) trainRes
      else {
        val r0 = residualize(corpus).select("cid", "cell", "__r")
        Snapshot.eager(r0)
      }
    // slices hoisted before the nearest-cell trees — see [[pqEncode]]
    val codes = codesProjection(encSrc, books, sub)
    IvfPqIndex(coarse, books, codes)
  }

  /** (cid, cell, __r) → (cid, cell, code_0 … code_{m-1}): the residual
    * sub-encoding projection shared by the build and the add paths (ONE
    * definition, so build-then-add ≡ build-over-union for the codes
    * relation). Slices hoisted before the nearest-cell trees — see
    * [[pqEncode]]. */
  private def codesProjection(src: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]], sub: Int): DataFrame = {
    val m = books.size
    src
      .select(col("cid") +: col("cell") +: (0 until m).map(j =>
        slice(col("__r"), j * sub + 1, sub).as(s"__s$j")): _*)
      .select(col("cid") +: col("cell") +: (0 until m).map(j =>
        nearestCell(col(s"__s$j"), books(j)).as(s"code_$j")): _*)
  }

  /** Batch → codes rows under a FROZEN quantizer (shared by the add
    * paths): nearest EXISTING coarse cell, residual against that cell's
    * centroid, sub-encoding against the FROZEN books — the exact
    * projections the build's own assignment uses, so the appended rows
    * are indistinguishable from a full rebuild's under the same
    * quantizer. The residual zip_with is materialized before the m·ksub
    * encoder consultations (see the build-path note). */
  private def encodeUnder(coarse: Seq[(Int, Seq[Double])],
      books: Seq[Seq[(Int, Seq[Double])]], batch: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val dim = coarse.head._2.size
    val sub = dim / books.size
    val centMap = typedlit(coarse.map { case (c, v) => c -> v }.toMap)
    val r0 = batch
      .select(col(idCol).as("cid"), asDouble(col(vecCol)).as("__v"))
      .withColumn("cell", nearestCell(col("__v"), coarse))
      .withColumn("__r", Similarity.vecSub(col("__v"),
        element_at(centMap, col("cell"))))
      .select("cid", "cell", "__r")
    val rs = Snapshot.eager(r0)
    codesProjection(rs, books, sub)
  }

  /** Incremental IVF-PQ index ADD — parity with
    * [[Similarity.addToIvfIndex]] on the compressed rung: new vectors are
    * residual-encoded under the FROZEN coarse centroids + sub-codebooks
    * and appended to the codes relation; no training state changes.
    * Because the add uses the same assignment/encoding projections as the
    * build, build-then-add equals encoding the union corpus against the
    * same quantizer (the q280 oracle invariant). Quantizer drift under a
    * shifting distribution is the caller's maintenance trade, exactly as
    * in FAISS `IndexIVFPQ.add`.
    *
    * Scale shape: one narrow batch projection (coarse + books ride along
    * as bounded codegen literals), zero shuffles, existing codes
    * untouched.
    */
  def addToIvfPqIndex(index: IvfPqIndex, batch: DataFrame,
      idCol: String, vecCol: String): IvfPqIndex = {
    require(index.coarse.nonEmpty && index.books.nonEmpty,
      "addToIvfPqIndex: cannot add to an empty IVF-PQ index " +
        "(no coarse centroids/codebooks to encode against)")
    IvfPqIndex(index.coarse, index.books,
      index.codes.unionByName(
        encodeUnder(index.coarse, index.books, batch, idCol, vecCol)))
  }

  /** [[addToIvfPqIndex]] against a SAVED index: encodes the batch with
    * the stored quantizer and appends to the cell-partitioned codes
    * parquet (pure append, never dynamic partition overwrite — concurrent
    * readers keep a consistent view of existing cells). Returns the
    * appended row count. */
  def appendToSavedIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, vecCol: String): Long = {
    val idx = loadIvfPqIndex(spark, dir)
    require(idx.coarse.nonEmpty && idx.books.nonEmpty,
      s"appendToSavedIvfPqIndex: no usable index at $dir")
    val dim = idx.coarse.head._2.size
    // plan-embedded dimension guard (the blockedExactPairs raise pattern):
    // a batch vector of the wrong size would residual-encode garbage and
    // only surface at probe time; the raise rides the vector column so
    // column pruning cannot drop it, and matching rows are untouched
    val dimGuarded = batch.withColumn(vecCol,
      when(col(vecCol).isNotNull && size(col(vecCol)) === dim, col(vecCol))
        .otherwise(raise_error(concat(
          lit("appendToSavedIvfPqIndex: batch vector dimension must equal " +
            s"the saved index dim $dim (got "),
          coalesce(size(col(vecCol)).cast("string"), lit("null")),
          lit(")"))).cast(batch.schema(vecCol).dataType)))
    // align the batch id type with the saved codes relation — appending a
    // mismatched cid type writes parquet files whose schemas disagree and
    // fails (or silently coerces) only at load/query time
    val cidType = idx.codes.schema("cid").dataType
    val enc = encodeUnder(idx.coarse, idx.books, dimGuarded, idCol, vecCol)
      .withColumn("cid", col("cid").cast(cidType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = enc.count()
    enc.write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
    enc.unpersist(blocking = false)
    n
  }

  def saveIvfPqIndex(index: IvfPqIndex, dir: String): Unit = {
    // the degenerate index buildIvfPqIndex returns for an empty/failed
    // build (coarse=Nil, codes=emptyDataFrame) would otherwise die inside
    // partitionBy("cell") on a zero-column frame with an opaque
    // AnalysisException — fail at the API boundary with the real reason
    require(index.coarse.nonEmpty && index.books.nonEmpty,
      "saveIvfPqIndex: refusing to persist an empty IVF-PQ index " +
        "(build produced no coarse centroids/codebooks — empty or " +
        "degenerate training corpus?)")
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.coarse.toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$dir/coarse")
    index.books.zipWithIndex
      .flatMap { case (book, j) => book.map { case (c, v) => (j, c, v) } }
      .toDF("subspace", "cell", "centroid")
      .write.mode("overwrite").parquet(s"$dir/books")
    // partitioned BY CELL: queryIvfPqIndex joins codes on the probed cell,
    // so unprobed cells prune at the file level (dynamic partition pruning)
    index.codes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes")
  }

  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqIndex = {
    // coarse + books are bounded driver tables by construction
    // (nLists + m·ksub rows) — collect is the index's contract, not a
    // data-sized barrier
    val coarse = spark.read.parquet(s"$dir/coarse")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq
      .sortBy(_._1)
    val books0 = spark.read.parquet(s"$dir/books")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val books = books0.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => t._2 -> t._3).toSeq.sortBy(_._1))
    val m = books.size
    val codes = spark.read.parquet(s"$dir/codes")
      .select(col("cid") +: col("cell").cast("int").as("cell") +:
        (0 until m).map(j => col(s"code_$j")): _*)
    IvfPqIndex(coarse, books, codes)
  }

  /** Probe + ADC-score a built/loaded [[IvfPqIndex]]: each query probes
    * its `nProbe` nearest coarse cells, carries m per-(query, cell)
    * residual distance MAPS (keyed by surviving code — a Lloyd step can
    * empty a sub-cell), and scores only the probed cells' codes through
    * ONE broadcast equi join; per-query top-k is the TopKAgg heap.
    * Output: (qid, rank, cid, adc_d2) — ADC ascending, id tie-break. */
  def queryIvfPqIndex(index: IvfPqIndex, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    def emptyOut: DataFrame =
      topKPerQuery(
        queries.select(col(idCol).as("qid"), lit(0L).as("cid"),
          lit(0.0).as("sim")).limit(0), k)
        .select(col("qid"), col("rank"), col("cid"),
          round(-col("sim"), 6).as("adc_d2"))
    val coarse = index.coarse
    val books = index.books
    if (coarse.isEmpty || books.isEmpty || books.exists(_.isEmpty))
      return emptyOut
    val m = books.size
    val sub = index.dim / m
    val centMap = typedlit(coarse.map { case (c, v) => c -> v }.toMap)
    // probes: nProbe nearest coarse cells per query (round-6 d2 asc,
    // smaller cell on ties — the struct sort is lexicographic)
    val cellStructs = coarse.map { case (c, cvv) =>
      struct(round(dist2(col("__qv"), typedlit(cvv)), 6).as("d2"),
        lit(c).as("cell"))
    }
    val probes0 = queries
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("__pc", slice(sort_array(array(cellStructs: _*)), 1, nProbe))
      .select(col("qid"), col("__qv"), explode(col("__pc")).as("p"))
      .select(col("qid"), col("__qv"), col("p.cell").as("__pcell"))
    val qres = Similarity.vecSub(col("__qv"),
      element_at(centMap, col("__pcell")))
    val probes = probes0.withColumn("__qr", qres)
      .select(col("qid") +: col("__pcell") +: (0 until m).map { j =>
        map_from_arrays(
          typedlit(books(j).map(_._1)),
          array(books(j).map { case (_, cvv) =>
            round(dist2(slice(col("__qr"), j * sub + 1, sub), typedlit(cvv)), 6)
          }: _*)).as(s"__dt$j")
      }: _*)
    val adc = round((0 until m).map(j =>
      element_at(col(s"__dt$j"), col(s"code_$j"))).reduce(_ + _), 6)
    val scored = index.codes
      .join(broadcast(probes), col("cell") === col("__pcell"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), (-adc).as("sim"))
    topKPerQuery(scored, k)
      .select(col("qid"), col("rank"), col("cid"),
        round(-col("sim"), 6).as("adc_d2"))
  }
}
