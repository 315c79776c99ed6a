package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.encode.TargetEncoderModel
import graft.enrich.{CityProximity, Geocode, Province}
import graft.ops._

/** The reference's full preprocessing chain
  * (/root/reference/Preprocessing/preprocessing.py:429-595, traced in SURVEY
  * §3.2) re-expressed as a small number of lazy Catalyst plans.
  *
  * The reference materializes a pandas frame per step (~30 times); here
  * everything between the four unavoidable materialization barriers —
  * (1) data-dependent column prune, (2) geocode residual, (3) encode/mode
  * fits, (3') quantile clips — fuses into single whole-stage-codegen plans.
  * The barriers collect only TINY aggregates (null fractions, modes,
  * quantiles, the encoding map) to the driver; row data never leaves
  * executors, so the shape holds at 100 TB.
  */
object Preprocessing {

  /** preprocessing.py:506-511 — subtype grouping. */
  val SubtypeGroups: Map[String, Seq[String]] = Map(
    "House" -> Seq("House", "Town_house", "Bungalow", "Chalet", "Country_cottage",
      "Farmhouse", "Manor_house", "Mansion", "Villa"),
    "Apartment" -> Seq("Apartment", "Duplex", "Triplex", "Penthouse", "Flat_studio",
      "Loft", "Ground_floor", "Service_flat", "Kot"),
    "Mixed_use_building" -> Seq("Mixed_use_building", "Apartment_block", "Castle",
      "Exceptional_property", "Other_property"))

  /** preprocessing.py:526-537 — rare-category remaps with fallback (all THREE
    * State_of_building mappings, including 'Just renovated' -> 'Good').
    */
  val StateRemap: Map[String, String] = Map(
    "To_restore" -> "To_renovate", "To_be_done_up" -> "To_renovate",
    "Just_renovated" -> "Good")
  val EpcRemap: Map[String, String] = Map(
    "A+" -> "A", "A++" -> "A", "G" -> "F")

  /** Stage 1 (one fused plan): structural cleanup — drops, filters, dedup,
    * text cleanup. preprocessing.py:438-473.
    */
  def cleanStage(export: DataFrame): DataFrame = {
    val withOrd = Dedup.withIngestOrdinal(export)       // pandas "first" = file order
    val filtered = withOrd
      .drop("Url")                                      // :438 (no-op if absent)
      .transform(d => Filters.filterRows(d, "sale_annuity", "not_true"))   // :441
      .transform(d => Filters.filterRows(d, "Price", "not_null"))          // :441
      .withColumn("Furnished",
        if (withOrd.columns.contains("Furnished"))
          CastOps.nullToFalse(col("Furnished")) else lit(false))           // :444 intent
      .na.fill(Map("gardenSurface" -> 0))                                  // :459
    val deduped = Dedup.keepFirst(
      Dedup.keepFirst(filtered, Seq("id"), Seq("__ingest_ord")),           // :462
      Seq("street", "number", "Postal_code", "latitude", "longitude"),
      Seq("__ingest_ord"))                                                 // :463
    deduped
      .withColumn("Subtype", TextOps.cleanCategory(col("Subtype")))        // :466 / :58-60
      .withColumn("Kitchen_type", TextOps.cleanCategory(col("Kitchen_type")))
      .withColumn("State_of_building", TextOps.cleanCategory(col("State_of_building")))
      .withColumn("locality_name",
        TextOps.titleCase(TextOps.stripParenZip(col("locality_name"))))    // :62-67
      .withColumn("street", TextOps.titleCase(col("street")))
      .filter(Filters.lengthEquals(col("Postal_code"), 4))                 // :469
      .transform(d => Filters.dropAllNull(d,
        Seq("street", "number", "longitude", "latitude")))                 // :473
      .drop("__ingest_ord")
  }

  /** Barrier 1: data-dependent column prune (null fraction > threshold).
    * preprocessing.py:476, :520 → 79-85 — both reference calls use 0.3.
    */
  def pruneStage(df: DataFrame, threshold: Double = 0.3): (DataFrame, Seq[String]) =
    MissingData.cleanMissingData(df, threshold)

  /** Stage 2: casts + province (fused). preprocessing.py:480-483. */
  def typeStage(df: DataFrame): DataFrame =
    df.withColumn("Price", CastOps.toNumericCoerce(col("Price")))
      .withColumn("Living_area", CastOps.toNumericCoerce(col("Living_area")))
      .withColumn("latitude", CastOps.toNumericCoerce(col("latitude")))
      .withColumn("longitude", CastOps.toNumericCoerce(col("longitude")))
      .withColumn("Province", Province.fromPostalCode(col("Postal_code")))

  /** Barrier 2: geocode fill — cache join first, residual through the
    * rate-limited client, cache appended once. preprocessing.py:486.
    */
  def geocodeStage(df: DataFrame, cache: DataFrame,
      geocoder: Option[Geocode.Geocoder] = None): (DataFrame, DataFrame) = {
    val filled = Geocode.fillFromCache(df, cache,
      street = "street", number = "number",
      locality = "locality_name", postal = "Postal_code")
    geocoder match {
      case None => (filled, cache)
      case Some(g) =>
        val newEntries = Geocode.geocodeResidual(filled, g,
          street = "street", number = "number",
          locality = "locality_name", postal = "Postal_code")
        val grown = cache.unionByName(newEntries).dropDuplicates("norm_addr")
        (Geocode.fillFromCache(filled, grown,
          street = "street", number = "number",
          locality = "locality_name", postal = "Postal_code"), grown)
    }
  }

  /** Stage 3: city proximity flags ×3 radii + subtype regroup + House filter.
    * preprocessing.py:499-516.
    */
  def enrichStage(df: DataFrame, keepSubtype: String = "House"): DataFrame = {
    val withCities = CityProximity.withCityFlags(
      df.filter(col("latitude").isNotNull && col("longitude").isNotNull),
      "id", "latitude", "longitude")
    val grouped = SubtypeGroups.foldLeft(withCities) { case (acc, (to, from)) =>
      acc.withColumn("Subtype",
        TextOps.replaceValues(col("Subtype"),
          from.map(_.replace("_", " ")).map(s =>
            s.head.toUpper + s.tail.toLowerCase), to))
    }
    grouped.filter(col("Subtype") === keepSubtype)
  }

  /** preprocessing.py:556-580 — the reference's five per-column quantile clip
    * pairs (Price is the tightest at 5/95; counts the loosest at 1/99).
    */
  val ClipBounds: Seq[(String, Double, Double)] = Seq(
    ("Price", 0.05, 0.95),
    ("Living_area", 0.10, 0.90),
    ("gardenSurface", 0.10, 0.90),
    ("landSurface", 0.10, 0.90),
    ("Number_of_bedrooms", 0.01, 0.99))

  /** All driver-collected statistics of barrier 3 from ONE action. */
  private case class BarrierStats(
      modes: Map[String, Any],                     // col -> mode (String | Double)
      encodings: Map[String, Map[String, Double]], // cat col -> category -> mean
      medians: Map[String, Double])

  /** Compute, in a single job, everything barrier 3 needs from the data:
    * per-category (count, target-sum) histograms for the encoded
    * categoricals, the value histogram of the numeric mode columns, and the
    * exact medians — a union of grouped aggregates over the (persisted)
    * upstream frame, collected once.
    *
    * From that one tiny collect the driver derives the pandas-tie-break
    * modes AND the post-mode-fill target-encoding maps: filling nulls with
    * the mode before fitting is equivalent to folding the null group's
    * target mass into the mode category, so fit-after-fill never needs a
    * second pass. Replaces five sequential driver barriers (2 mode collects,
    * 2 encoder fits, 1 mode + 1 median collect) with one.
    */
  private def fusedBarrierStats(df: DataFrame, catCols: Seq[String],
      numModeCols: Seq[String], medianCols: Seq[String],
      target: String): BarrierStats = {
    val t = col(target).cast("double")
    val catBranches = catCols.map { c =>
      df.groupBy(lit(c).as("stat_col"), col(c).cast("string").as("cat_s"),
          lit(null).cast("double").as("cat_n"))
        .agg(count(lit(1)).as("n"), sum(t).as("p_sum"), count(t).as("p_cnt"))
        .withColumn("med", lit(null).cast("double"))
    }
    val numBranches = numModeCols.map { c =>
      df.groupBy(lit(c).as("stat_col"), lit(null).cast("string").as("cat_s"),
          col(c).cast("double").as("cat_n"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p_sum", lit(null).cast("double"))
        .withColumn("p_cnt", lit(null).cast("bigint"))
        .withColumn("med", lit(null).cast("double"))
    }
    val medBranch = if (medianCols.isEmpty) Nil else {
      val aggs = medianCols.map(c => percentile(col(c).cast("double"), lit(0.5)).as(c))
      val stacked = medianCols.map(c => s"'med:$c', `$c`").mkString(", ")
      Seq(df.agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${medianCols.size}, $stacked) as (stat_col, med)")
        .select(col("stat_col"), lit(null).cast("string").as("cat_s"),
          lit(null).cast("double").as("cat_n"), lit(0L).as("n"),
          lit(null).cast("double").as("p_sum"), lit(null).cast("bigint").as("p_cnt"),
          col("med")))
    }
    val branches = catBranches ++ numBranches ++ medBranch
    if (branches.isEmpty) return BarrierStats(Map.empty, Map.empty, Map.empty)
    val rows = branches.reduce(_.unionByName(_)).collect()
    val byCol = rows.groupBy(_.getString(0))

    val catModes = catCols.flatMap { c =>
      val nn = byCol.getOrElse(c, Array.empty[org.apache.spark.sql.Row]).filter(!_.isNullAt(1))
      if (nn.isEmpty) None
      else Some(c -> nn.minBy(r => (-r.getLong(3), r.getString(1))).getString(1))
    }.toMap
    val numModes = numModeCols.flatMap { c =>
      val nn = byCol.getOrElse(c, Array.empty[org.apache.spark.sql.Row]).filter(!_.isNullAt(2))
      if (nn.isEmpty) None
      else Some(c -> nn.minBy(r => (-r.getLong(3), r.getDouble(2))).getDouble(2))
    }.toMap
    val encodings = catCols.map { c =>
      val rs = byCol.getOrElse(c, Array.empty[org.apache.spark.sql.Row])
      val nullG = rs.find(_.isNullAt(1))
      def sumCnt(r: org.apache.spark.sql.Row): (Double, Long) =
        (if (r.isNullAt(4)) 0.0 else r.getDouble(4), if (r.isNullAt(5)) 0L else r.getLong(5))
      val m = rs.filter(!_.isNullAt(1)).flatMap { r =>
        val cat = r.getString(1)
        val (s0, c0) = sumCnt(r)
        val (s1, c1) = if (catModes.get(c).contains(cat))
          nullG.map(sumCnt).getOrElse((0.0, 0L)) else (0.0, 0L)
        if (c0 + c1 > 0) Some(cat -> (s0 + s1) / (c0 + c1)) else None
      }.toMap
      c -> m
    }.toMap
    val medians = medianCols.flatMap { c =>
      byCol.getOrElse(s"med:$c", Array.empty[org.apache.spark.sql.Row]).headOption
        .filter(!_.isNullAt(6)).map(c -> _.getDouble(6))
    }.toMap
    BarrierStats(catModes ++ numModes, encodings, medians)
  }

  /** Barrier 3: categorical fills + target encoding + stat fills + winsorize.
    * preprocessing.py:526-580, step for step:
    *   remaps (:526-537) → mode fill of State_of_building AND epc (:541) →
    *   target-encode BOTH against Price (:544) → mode fill Number_of_facades /
    *   median fill landSurface+Living_area (:546-547, method defaults to
    *   'mode' for the facades call) → per-column quantile clips (:556-580).
    *
    * All statistics those steps need come from `fusedBarrierStats` (one
    * action); the fills are column-disjoint from the encoded categoricals, so
    * applying them as one projection before the encoding joins is equivalent
    * to the reference's sequential order. Stage total: two driver barriers
    * (stats + clip bounds) instead of seven.
    */
  def encodeStage(df: DataFrame,
      clipCols: Seq[(String, Double, Double)] = ClipBounds): DataFrame = {
    val remapped = df
      .withColumn("State_of_building",
        TextOps.remapWithFallback(col("State_of_building"),
          StateRemap.map { case (k, v) => k.replace("_", " ").capitalize ->
            v.replace("_", " ").capitalize }))
      .withColumn("epc", TextOps.remapWithFallback(col("epc"), EpcRemap))
    val catCols = Seq("State_of_building", "epc").filter(remapped.columns.contains)
    val stats = fusedBarrierStats(remapped,
      catCols,
      Seq("Number_of_facades").filter(remapped.columns.contains),
      Seq("landSurface", "Living_area").filter(remapped.columns.contains),
      target = "Price")
    // every stat fill (modes :541,:546 + medians :547) as ONE projection
    val filled = if (stats.modes.isEmpty && stats.medians.isEmpty) remapped
      else remapped.na.fill(stats.modes ++ stats.medians)
    // target-encode both categoricals against Price (:544) — broadcast joins
    // against the driver-derived post-fill maps
    val encoded = catCols.foldLeft(filled) { (acc, c) =>
      new TargetEncoderModel(
        org.apache.spark.ml.util.Identifiable.randomUID("targetEncoder"),
        stats.encodings.getOrElse(c, Map.empty), c, s"${c}_encoded").transform(acc)
    }
    // winsorize numeric columns to learned quantile bounds                 :556-580
    // — ALL bounds in one aggregate pass, all clips in one projection
    val present = clipCols.filter(c => encoded.columns.contains(c._1))
    val casted = present.foldLeft(encoded) { case (acc, (c, _, _)) =>
      acc.withColumn(c, col(c).cast("double"))
    }
    CastOps.winsorizeMany(casted, present)
  }

  /** Final filter: coordinate sanity (preprocessing.py:583). */
  def finalStage(df: DataFrame): DataFrame =
    df.filter(Filters.validCoordinates(col("latitude"), col("longitude")))

  /** The whole chain with default parameters (geocoder absent — cache-only,
    * as in offline tests).
    *
    * The cleaned frame is persisted across the barriers: the prune, mode,
    * quantile, and encoding aggregates each re-traverse it, and without a
    * persist every one of those tiny collects re-runs the full clean plan
    * from the scan (at 100 TB that is 4+ extra table scans). It is released
    * once the enriched (House-only) frame, the only thing still built from
    * it, is an eager [[graft.ops.Snapshot]]; that snapshot feeds the second
    * prune and the barrier-3 aggregates, and is released in turn once the
    * output is snapshotted.
    *
    * The output is an eager snapshot too, so the chain runs exactly once
    * per call: every consumer of the returned frame (PreprocessJob's parquet
    * AND csv writes, q60's aggregate) reads the one stored result instead of
    * re-running the dedup shuffles, the geocode and city joins and the
    * encoding joins from the scan, and two writes of it cannot disagree.
    * Snapshotting, rather than persisting, the enriched frame keeps the
    * output's partitioning what adaptive execution would pick for the
    * uncached plan: a cached plan's output partitioning is never coalesced,
    * and ModelJob's seeded splits depend on clean.parquet's file layout.
    */
  def run(export: DataFrame, geocodeCache: DataFrame): DataFrame = {
    val cleaned = cleanStage(export)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val enriched = try {
      val (pruned, _) = pruneStage(cleaned)
      val typed = typeStage(pruned)
      val (geocoded, _) = geocodeStage(typed, geocodeCache)
      // Subtype is consumed by the House filter and then dropped (:517), and
      // the prune re-runs on the filtered frame (:520) — the House subset can
      // exceed the null threshold on columns the full data did not.
      Snapshot.eager(enrichStage(geocoded).drop("Subtype"))
    } finally cleaned.unpersist(blocking = false)
    try {
      val (pruned2, _) = pruneStage(enriched)
      Snapshot.eager(finalStage(encodeStage(pruned2)))
    } finally Snapshot.release(enriched)
  }
}
