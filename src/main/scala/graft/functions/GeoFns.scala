package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial functions — Pinot ships a Geospatial index + ST_* function
  * family (reference: /root/reference/basics/indexing/README.md:22).
  * Spark-native: great-circle math as codegen'd column expressions; at
  * scale, radius queries ride on a bounding-box pre-filter (cheap lat/lon
  * range predicates that DO push down to parquet) before the exact
  * haversine.
  */
object GeoFns {

  private val EarthRadiusKm = 6371.0088

  /** Great-circle distance in km between two (lat, lon) degree pairs —
    * ST_Distance analog.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** Geohash-analog grid cell id for join-shaped geo queries: an integer
    * cell over a cellDeg° lat/lon grid. Two points within `radiusKm` share
    * one of the probe's 3×3 neighbor cells whenever
    * cellDeg ≥ radius-in-degrees at the working latitude — which turns a
    * radius join into an EQUI-join on the cell id (the geospatial-index
    * join shape; Pinot's geo index serves the same purpose —
    * /root/reference/basics/indexing/README.md:22).
    */
  /** Cell ids pack the lat index into the high 32 bits and the lon index
    * into the low 32 (both fit for any cellDeg ≥ 1e-7°), so distinct cells
    * never alias — a fixed decimal multiplier would wrap fine grids
    * (< 0.0036°) into other lat rows. No antimeridian/pole wrap: probes
    * within cellDeg of ±180° lon / ±90° lat must be handled by the caller
    * (e.g. probing both sides).
    */
  def gridCell(lat: Column, lon: Column, cellDeg: Double): Column = {
    require(cellDeg >= 1e-7, s"cellDeg $cellDeg too fine: lon index must fit 32 bits")
    shiftleft(floor((lat + 90) / cellDeg).cast("long"), 32) +
      floor((lon + 180) / cellDeg).cast("long")
  }

  /** The 3×3 cell neighborhood around a point — what a radius probe
    * explodes into before the equi-join on `gridCell`.
    */
  def neighborCells(lat: Column, lon: Column, cellDeg: Double): Column = {
    require(cellDeg >= 1e-7, s"cellDeg $cellDeg too fine: lon index must fit 32 bits")
    val cells = for (di <- -1 to 1; dj <- -1 to 1) yield
      shiftleft(floor((lat + 90) / cellDeg).cast("long") + di, 32) +
        (floor((lon + 180) / cellDeg).cast("long") + dj)
    array(cells: _*)
  }

  /** ST_Contains(polygon, point) analog — even-odd ray casting against a
    * CONSTANT polygon (the common "is this point in my geofence" shape).
    * The polygon folds into a fixed chain of codegen'd arithmetic
    * comparisons (one term per edge) — scan-local, no join, no UDF; a
    * bounding-box pre-filter from the vertex extremes is prepended so the
    * cheap sargable predicate prunes before the edge tests run.
    * Vertices are (lat, lon) pairs; points exactly ON an edge follow the
    * even-odd rule's half-open convention (callers needing closed-edge
    * semantics should buffer the polygon).
    */
  def pointInPolygon(lat: Column, lon: Column, vertices: Seq[(Double, Double)]): Column = {
    require(vertices.size >= 3, s"polygon needs >= 3 vertices, got ${vertices.size}")
    val edges = vertices.zip(vertices.tail :+ vertices.head)
    val crossings = edges.map { case ((latI, lonI), (latJ, lonJ)) =>
      // edge crosses the horizontal ray iff it spans the point's latitude;
      // guard latJ == latI by construction (a horizontal edge spans no ray)
      if (latJ == latI) lit(0)
      else
        when(
          (lit(latI) > lat) =!= (lit(latJ) > lat) &&
            lon < (lit(lonJ - lonI) * (lat - latI) / lit(latJ - latI) + lonI),
          1).otherwise(0)
    }.reduce(_ + _)
    val lats = vertices.map(_._1); val lons = vertices.map(_._2)
    lat.between(lats.min, lats.max) && lon.between(lons.min, lons.max) &&
      crossings % 2 === 1
  }
}
