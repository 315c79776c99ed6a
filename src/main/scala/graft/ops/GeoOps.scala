package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial column math replacing the reference's geopandas layer.
  *
  * The reference reprojects EPSG:4326 → EPSG:3395 (World Mercator), buffers
  * city points by r km, and intersects (preprocessing.py:220-236). At Belgian
  * latitudes a Mercator "r km" buffer is ~1.59× larger than true ground
  * distance; we replicate the reference's literal math rather than "fixing" it
  * with haversine (SURVEY §7.4-2).
  */
object GeoOps {
  /** WGS84 semi-major axis used by EPSG:3395. */
  val EarthRadius: Double = 6378137.0

  /** EPSG:3395 easting. */
  def mercatorX(lon: Column): Column = radians(lon) * EarthRadius

  /** EPSG:3395 northing: R · ln(tan(π/4 + φ/2)). */
  def mercatorY(lat: Column): Column =
    log(tan(lit(math.Pi / 4) + radians(lat) / 2)) * EarthRadius

  /** Euclidean distance between two points in the EPSG:3395 plane (metres). */
  def dist3395(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    sqrt(
      pow(mercatorX(lon1) - mercatorX(lon2), 2) +
      pow(mercatorY(lat1) - mercatorY(lat2), 2))
}
