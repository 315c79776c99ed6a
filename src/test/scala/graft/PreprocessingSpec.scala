package graft

import org.apache.spark.sql.functions._

class PreprocessingSpec extends SparkSpec {
  import spark.implicits._

  /** export.csv-shaped fixture (subset of columns the chain touches),
    * covering: dup ids, dup address tuples, bad postal codes, all-null
    * address rows, annuity sales, null prices, rare categories, subtype
    * grouping, clip-spanning prices (FIXTURES.md §3).
    */
  private def fixture = {
    val rows = Seq.tabulate(40) { i =>
      val id = if (i == 1) 0L else i.toLong           // dup id 0
      val price = if (i == 2) null else s"${100000 + i * 25000}"
      val annuity = if (i == 3) "true" else null
      val postal = i match {
        case 4 => "123"                                // bad length
        case 5 => "12345"
        case _ => s"9${"%03d".format(i)}"              // 9000-9039 East Flanders
      }
      val (street, number, lat, lon) =
        if (i == 6) (null, null, null, null)           // all-null address
        else (s"straat_$i", s"$i", s"51.0${i % 10}", s"3.7${i % 10}")
      val subtype = i % 4 match {
        case 0 => "VILLA"          // → House
        case 1 => "TOWN_HOUSE"     // → House
        case 2 => "DUPLEX"         // → Apartment
        case _ => "HOUSE"          // → House
      }
      val state = i % 7 match {
        case 0 => "TO_RESTORE"
        case 1 => "JUST_RENOVATED"
        case _ => "GOOD"
      }
      val epc = Seq("A", "B", "C", "D", "A+", "G")(i % 6)
      (id, s"City_$i (9${"%03d".format(i)})", postal, price, subtype, annuity,
        street, number, lat, lon, null.asInstanceOf[String], "INSTALLED", state, epc,
        s"${80 + i * 5}")
    }
    rows.toDF("id", "locality_name", "Postal_code", "Price", "Subtype",
      "sale_annuity", "street", "number", "latitude", "longitude",
      "gardenSurface", "Kitchen_type", "State_of_building", "epc", "Living_area")
      .withColumn("Furnished", lit(null).cast("boolean"))
  }

  private val emptyCache = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      graft.enrich.Geocode.cacheSchema)
  }

  test("cleanStage: dedup, filters, text cleanup") {
    val out = Preprocessing.cleanStage(fixture)
    // dup id dropped (keep first), annuity row dropped, null price dropped,
    // bad postal lengths dropped, all-null address dropped
    assert(out.count() == 34)
    // categorical cleanup: pandas capitalize semantics
    val subs = out.select("Subtype").distinct().as[String].collect().toSet
    assert(subs.subsetOf(Set("Villa", "Town house", "Duplex", "House")))
    // locality: paren-zip stripped + title case
    assert(!out.select("locality_name").as[String].collect().exists(_.contains("(")))
  }

  test("full chain: House-only, encoded, clipped, in-bounds") {
    val out = Preprocessing.run(fixture, emptyCache)
    assert(out.count() > 0)
    // Subtype is consumed by the House filter then dropped (preprocessing.py:517)
    assert(!out.columns.contains("Subtype"))
    assert(out.columns.contains("Province") && out.columns.contains("epc_encoded"))
    // both categoricals are target-encoded (preprocessing.py:544)
    assert(out.columns.contains("State_of_building_encoded"))
    assert(out.columns.contains("Assigned_City_5_flag"))
    // winsorize bounds hold
    val prices = out.select("Price").as[Double].collect()
    val (lo, hi) = (prices.min, prices.max)
    assert(out.filter($"Price" < lo || $"Price" > hi).count() == 0)
    // coordinates inside validity box
    assert(out.filter(!$"latitude".between(-90, 90)).count() == 0)
    // every row got a province from the 9xxx range (reference spells it
    // with a space, preprocessing.py:128)
    assert(out.select("Province").distinct().as[String].collect().toSeq ==
      Seq("East Flanders"))
  }

  test("run returns a materialized snapshot: no consumer can re-run the " +
      "chain from the file scan") {
    val path = java.nio.file.Files.createTempDirectory("export").toString + "/t"
    fixture.write.parquet(path)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = Preprocessing.run(spark.read.parquet(path), emptyCache)
    val leaves = out.queryExecution.optimizedPlan.collectLeaves()
    val snapshots = leaves.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(snapshots.nonEmpty && snapshots.size == leaves.size,
      s"returned plan still reads its inputs: ${leaves.map(_.nodeName)}")
    // the cleaned and enriched persists are released: the only blocks run
    // leaves behind are the snapshot's own
    assert(spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore ==
      snapshots.toSet)
  }

  test("state remap folds rare categories with fallback") {
    val out = Preprocessing.run(fixture, emptyCache)
    val states = out.select("State_of_building").distinct().as[String].collect().toSet
    assert(!states.contains("To restore"), s"got $states") // remapped to To renovate
    assert(!states.contains("Just renovated"), s"got $states") // remapped to Good
    assert(states.contains("Good"), s"got $states")
  }
}
