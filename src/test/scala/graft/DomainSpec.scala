package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.encode.TargetEncoder
import graft.enrich.Geocode
import graft.io.ExportCsv
import graft.schema.Schemas

class DomainSpec extends SparkSpec {
  import spark.implicits._

  test("target encoder reproduces the golden epc encoding map") {
    // engineered so each category's mean equals output/epc_encoding.pkl
    val golden = Map("A" -> 384303.31, "B" -> 452563.23, "C" -> 427758.93,
      "D" -> 359009.93, "E" -> 371628.37, "F" -> 357807.36)
    val rows = golden.toSeq.flatMap { case (k, m) =>
      Seq((k, m - 1000.0), (k, m + 1000.0))
    }
    val df = rows.toDF("epc", "Price")
    val model = new TargetEncoder()
      .setInputCol("epc").setTargetCol("Price").setOutputCol("epc_encoded")
      .fit(df)
    golden.foreach { case (k, v) =>
      assert(math.abs(model.encoding(k) - v) < 1e-6, s"epc $k")
    }
    // unseen category → null (pandas .map miss)
    val out = model.transform(Seq(("G", 1.0)).toDF("epc", "Price"))
    assert(out.select("epc_encoded").head().isNullAt(0))
  }

  test("target encoder encoding artifact is valid JSON") {
    val df = Seq(("A", 10.0), ("A", 20.0), ("B", 30.0)).toDF("epc", "Price")
    val m = new TargetEncoder().setInputCol("epc").setTargetCol("Price").fit(df)
    val p = java.nio.file.Files.createTempFile("enc", ".json")
    m.saveEncoding(p.toString)
    val txt = java.nio.file.Files.readString(p)
    assert(txt == """{"A": 15.0, "B": 30.0}""")
  }

  test("export projection: 26 headers in order, NULL literals") {
    val props = Seq((1L, "gent", "9000", "350000")).toDF("id", "locality_name", "postal_code", "price")
      .withColumn("property_subtype", lit("VILLA"))
    // add remaining source columns as nulls
    val sources = Schemas.exportHeader.flatMap(_._2).distinct
    val full = sources.foldLeft(props) { (acc, c) =>
      if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(null).cast("string"))
    }
    val out = ExportCsv.toExport(full)
    assert(out.columns.toSeq == Schemas.exportHeader.map(_._1))
    val r = out.head()
    assert(r.getAs[String]("Number_of_rooms") == "NULL")   // no-source column
    assert(r.getAs[String]("street") == "NULL")            // null source → "NULL"
    assert(r.getAs[String]("Postal_code") == "9000")
  }

  test("export csv roundtrip: NULL literal reads back as null") {
    val base = java.nio.file.Files.createTempDirectory("exp").toString
    val dir = s"$base/csv"
    val props = Seq((1L, "9000")).toDF("id", "postal_code")
    val sources = Schemas.exportHeader.flatMap(_._2).distinct
    val full = sources.foldLeft(props) { (acc, c) =>
      if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(null).cast("string"))
    }
    full.write.parquet(s"$base/properties")
    graft.jobs.ExportJob.run(spark, s"$base/properties", dir)
    val back = ExportCsv.read(spark, dir)
    assert(back.count() == 1)
    assert(back.select("Price").head().isNullAt(0))
    assert(back.select("Postal_code").head().get(0).toString == "9000")
  }

  private val cache = Seq(
    ("hoogstraat 12 gent 9000", 51.05, 3.72),
    ("gent 9000", 51.06, 3.73),
    ("9000", 51.07, 3.74)).toDF("norm_addr", "lat", "lon")

  test("geocode cache cascade: exact format first, then fallbacks") {
    val df = Seq(
      // exact street-level hit
      ("Hoogstraat", "12", "Gent", "9000", null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double]),
      // only locality-level hit
      ("Onbekend", "99", "Gent", "9000", null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double]),
      // already has coords — untouched
      ("X", "1", "Y", "1234", java.lang.Double.valueOf(50.0), java.lang.Double.valueOf(4.0)))
      .toDF("street", "number", "locality_name", "postal_code", "latitude", "longitude")
    val got = Geocode.fillFromCache(df, cache, postal = "postal_code")
      .select("street", "latitude", "longitude").as[(String, Double, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("Hoogstraat") == ((51.05, 3.72)))
    assert(got("Onbekend") == ((51.06, 3.73)))  // fell through to "gent 9000"
    assert(got("X") == ((50.0, 4.0)))
  }

  test("geocode residual: canned geocoder fills misses, returns cache rows") {
    val df = Seq(("Nergens", "1", "Nowhere", "1111",
      null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double]))
      .toDF("street", "number", "locality_name", "postal_code", "latitude", "longitude")
    val g = new Geocode.Geocoder {
      def lookup(a: String): Option[(Double, Double)] =
        if (a.contains("nowhere")) Some((50.5, 4.5)) else None
    }
    val newRows = Geocode.geocodeResidual(df, g, postal = "postal_code", rateLimitMs = 0)
      .as[(String, Double, Double)].collect()
    assert(newRows.length == 1 && newRows.head._2 == 50.5)
  }
}
