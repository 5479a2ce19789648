package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** STAC-style catalog source — the analog of the reference's
  * `load_collection`/`load_stac` planning step (minibackend/
  * custom_processes.py:60: select items from a STAC catalog by extent,
  * then load only their assets).
  *
  * The catalog is an ItemCollection JSON: metadata, kilobytes. Item
  * selection happens on the DRIVER against item properties — this is
  * file-level partition pruning: at 100 TB a temporal extent turns into
  * "read 3 of 5000 asset files" before any Spark job starts, and the
  * residual row-level extent filter still pushes into each parquet scan.
  */
object StacCatalog {

  private val mapper = new ObjectMapper()

  /** One property predicate against item metadata: `op` ∈
    * lt | lte | gt | gte | eq (numeric), like the reference's
    * load_collection `properties` argument (custom_processes.py:60). */
  final case class PropertyFilter(name: String, op: String, value: Double) {
    def accepts(x: Double): Boolean = op match {
      case "lt" => x < value
      case "lte" => x <= value
      case "gt" => x > value
      case "gte" => x >= value
      case "eq" => x == value
      case other => throw new IllegalArgumentException(s"property op: $other")
    }
  }

  /** Spatial extent, openEO BoundingBox semantics (reference:
    * custom_processes.py:55): half-open [west, east) × [south, north) at
    * the row level; item-level pruning compares against the item's
    * (inclusive) `bbox` [w, s, e, n]. */
  final case class BBox(west: Double, south: Double,
                        east: Double, north: Double) {
    def overlaps(w: Double, s: Double, e: Double, n: Double): Boolean =
      w < east && e >= west && s < north && n >= south
  }

  /** Items overlapping the extents (ISO-8601 strings compare
    * lexicographically, so no datetime parsing is needed) and passing all
    * property filters. Items missing a filtered property are excluded,
    * the STAC convention; items missing a `bbox` cannot be spatially
    * pruned and are conservatively kept (the residual row filter still
    * applies). */
  def selectAssets(catalogPath: String,
                   temporalExtent: Option[(String, String)],
                   properties: Seq[PropertyFilter] = Nil,
                   spatialExtent: Option[BBox] = None,
                   conf: org.apache.hadoop.conf.Configuration =
                     new org.apache.hadoop.conf.Configuration()): Seq[String] =
    selectItems(catalogPath, temporalExtent, properties, spatialExtent, conf)
      .map(_.path("assets").path("data").path("href").asText())
      .filter(_.nonEmpty)

  /** The pruned item JSON nodes themselves (selectAssets keeps only the
    * data hrefs; CRS extraction needs the proj metadata too). */
  private def selectItems(catalogPath: String,
                          temporalExtent: Option[(String, String)],
                          properties: Seq[PropertyFilter],
                          spatialExtent: Option[BBox],
                          conf: org.apache.hadoop.conf.Configuration)
      : Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val root = mapper.readTree(Remote.readString(catalogPath, conf))
    val feats = root.path("features").elements().asScala.toSeq
    feats.filter { f =>
      val p = f.path("properties")
      val inExtent = temporalExtent.forall { case (from, to) =>
        val s = p.path("start_datetime").asText(p.path("datetime").asText(""))
        val e = p.path("end_datetime").asText(p.path("datetime").asText(""))
        s < to && e >= from
      }
      val inBbox = spatialExtent.forall { ext =>
        val bb = f.path("bbox")
        !bb.isArray || bb.size() < 4 || ext.overlaps(
          bb.get(0).asDouble(), bb.get(1).asDouble(),
          bb.get(2).asDouble(), bb.get(3).asDouble())
      }
      inExtent && inBbox && properties.forall { pf =>
        p.has(pf.name) && pf.accepts(p.path(pf.name).asDouble())
      }
    }
  }

  /** CRS of the selected items, from the STAC `proj` extension:
    * `proj:epsg` plus the optional rasterio-order `proj:transform`
    * [a, b, c, d, e, f, …] (worldX = a·col + b·row + c,
    * worldY = d·col + e·row + f). The reference reads exactly this cube
    * metadata before spatial operations (utils/epsg_utils.py:10); here it
    * rides the catalog. All selected items must agree — a mixed-CRS
    * selection is rejected with the offending codes (the same
    * never-silently-mix policy as merge_cubes), and rotation terms are
    * rejected because [[graft.cube.Crs]] is axis-aligned. None when no
    * selected item declares proj:epsg. */
  def catalogCrs(catalogPath: String,
                 temporalExtent: Option[(String, String)] = None,
                 properties: Seq[PropertyFilter] = Nil,
                 spatialExtent: Option[BBox] = None,
                 conf: org.apache.hadoop.conf.Configuration =
                   new org.apache.hadoop.conf.Configuration())
      : Option[graft.cube.Crs] = {
    val declared = selectItems(catalogPath, temporalExtent, properties,
        spatialExtent, conf)
      .map(_.path("properties"))
      .filter(_.hasNonNull("proj:epsg"))
      .map { p =>
        val t = p.path("proj:transform")
        if (t.isArray && t.size() >= 6) {
          require(t.get(1).asDouble() == 0.0 && t.get(3).asDouble() == 0.0,
            "load_stac: rotated proj:transform is not supported " +
              s"(b=${t.get(1).asDouble()}, d=${t.get(3).asDouble()})")
          graft.cube.Crs(p.path("proj:epsg").asInt(),
            a = t.get(0).asDouble(), c = t.get(2).asDouble(),
            e = t.get(4).asDouble(), f = t.get(5).asDouble())
        } else graft.cube.Crs(p.path("proj:epsg").asInt())
      }.distinct
    require(declared.length <= 1,
      "load_stac: selected items carry mixed CRS: " +
        declared.mkString(", "))
    declared.headOption
  }

  /** Load the collection: pruned asset files → one scan → residual
    * row-level extent filters (both reach PushedFilters). */
  def loadCollection(spark: SparkSession, catalogPath: String,
                     temporalExtent: Option[(String, String)] = None,
                     timeCol: String = "ts",
                     properties: Seq[PropertyFilter] = Nil,
                     spatialExtent: Option[BBox] = None,
                     xCol: String = "x", yCol: String = "y"): DataFrame = {
    val hrefs = selectAssets(catalogPath, temporalExtent, properties,
      spatialExtent, spark.sparkContext.hadoopConfiguration)
    require(hrefs.nonEmpty, "no catalog items overlap the requested extent")
    val df = Tables.parquet(spark, hrefs: _*)
    val t = temporalExtent.fold(df) { case (from, to) =>
      df.filter(col(timeCol) >= lit(from).cast("timestamp") &&
        col(timeCol) < lit(to).cast("timestamp"))
    }
    spatialExtent.fold(t) { ext =>
      t.filter(col(xCol) >= ext.west && col(xCol) < ext.east &&
        col(yCol) >= ext.south && col(yCol) < ext.north)
    }
  }

  /** [[loadCollection]] for long-format (dims + value) assets, returned as
    * a [[graft.cube.DataCube]] tagged with the catalog's CRS when the
    * items declare one — so `resample_spatial(projection=…)` and the
    * CRS-mismatch guards on merge/mask work straight off a catalog load. */
  def loadCube(spark: SparkSession, catalogPath: String,
               temporalExtent: Option[(String, String)] = None,
               timeCol: String = "ts",
               properties: Seq[PropertyFilter] = Nil,
               spatialExtent: Option[BBox] = None,
               xCol: String = "x", yCol: String = "y"): graft.cube.DataCube = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cube = graft.cube.DataCube(loadCollection(spark, catalogPath,
      temporalExtent, timeCol, properties, spatialExtent, xCol, yCol))
    catalogCrs(catalogPath, temporalExtent, properties, spatialExtent, conf)
      .fold(cube)(cube.withCrs)
  }
}
