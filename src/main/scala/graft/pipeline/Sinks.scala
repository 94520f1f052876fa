package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sink adapters (SURVEY.md §2.2). The engine's correctness surface is the
  * DataFrames; these adapters carry the reference's sink *contracts* without
  * its transports (GeoServer/SMTP/REST are environment services, K6/K8).
  */
object Sinks {

  /** K4/K5: the REST payload rows — `[{extId, mean (null-if-NaN), date}]`
    * (`BiomassAggregate.py:367-395`, `BiomassForecast.py:104-144`). Returns
    * JSON strings ready for any transport; rounding decimals differ between
    * the two endpoints (6 dp trends, 4 dp forecasts). */
  def restPayload(df: DataFrame, meanDecimals: Int): DataFrame =
    df.select(to_json(struct(
      col("extId"),
      when(isnan(col("mean")), lit(null)).otherwise(round(col("mean"), meanDecimals)).as("mean"),
      col("date"))).as("payload"))

  /** K7: the new-file manifest — which date partitions this run created. */
  def manifest(newCells: DataFrame): DataFrame =
    newCells.select(date_format(col("date"), "yyyyMMdd").as("d")).distinct()
      .select(concat(lit("biomass_"), col("d"), lit(".tif")).as("filename"))
      .orderBy("filename")

  /** K8: failure contract — on upstream failure the downstream input is
    * truncated so later stages no-op (`funcs.py:5-18`). Here: write an empty
    * frame with the same schema. */
  def truncateDownstream(df: DataFrame, path: String): Unit =
    df.limit(0).coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** K6: the GeoServer image-mosaic payload (`tools.py:70-103`) — a zip of
    * exactly one raster plus the two mosaic `.properties` descriptors. The
    * descriptors are the reference's committed ones verbatim
    * (`src/data/layers/biomass_properties/`): the filename-date regex IS
    * the mosaic's time index, which is why raster names are
    * `biomass_YYYYMMDD.tif` (K2/K7). Entries carry a fixed timestamp and
    * no compression metadata variance, so the payload bytes are
    * reproducible; the HTTP publish itself (`create_imagemosaic` /
    * `harvest_uploadgranule`) stays external like K4/K5/K8 transports. */
  def mosaicZip(tifName: String, tifBytes: Array[Byte]): Array[Byte] = {
    val timeregex = "regex=[0-9]{8},format=yyyyMMdd\n"
    val indexer =
      "TimeAttribute=ingestion\n" +
      "Schema=*the_geom:Polygon,location:String,ingestion:java.util.Date\n" +
      "PropertyCollectors=TimestampFileNameExtractorSPI[timeregex](ingestion)\n"
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, bytes: Array[Byte]): Unit = {
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(315532800000L) // fixed stamp: deterministic payload bytes
      zip.putNextEntry(e)
      zip.write(bytes)
      zip.closeEntry()
    }
    entry("timeregex.properties", timeregex.getBytes("UTF-8"))
    entry("indexer.properties", indexer.getBytes("UTF-8"))
    entry(tifName, tifBytes)
    zip.close()
    bos.toByteArray
  }

  /** K6: the publish loop's decision tree (`import_biomass.py:66-76`): for
    * each raster, probe the store — absent → create the image mosaic from
    * the zip payload and enable the time dimension; present → harvest the
    * granule zip into it. The transports are injected (same pattern as
    * S5's `Fetch.run`), so the contract — probe-per-raster, first raster
    * creates, the rest harvest — is testable without a GeoServer. */
  sealed trait PublishAction
  case object CreateMosaic extends PublishAction
  case object HarvestGranule extends PublishAction
  final case class PublishEntry(raster: String, action: PublishAction)

  def publishMosaics(storeName: String,
                     rasters: Seq[(String, Array[Byte])],
                     storeExists: String => Boolean,
                     create: (String, Array[Byte], String) => Unit,
                     harvest: (String, Array[Byte]) => Unit): Seq[PublishEntry] =
    rasters.map { case (tifName, tifBytes) =>
      val zip = mosaicZip(tifName, tifBytes)
      // re-probe per raster, like the reference's get_store inside the loop
      // (imp:67): the FIRST raster's create makes the rest harvests
      if (!storeExists(storeName)) {
        create(storeName, zip, mosaicTimeDimensionXml(storeName))
        PublishEntry(tifName, CreateMosaic)
      } else {
        harvest(storeName, zip)
        PublishEntry(tifName, HarvestGranule)
      }
    }

  /** K6: the coverage-update body enabling the time dimension
    * (`tools.py:123-132`: DimensionInfo name=time, LIST presentation,
    * ISO8601 units) — the other half of the publish contract. */
  def mosaicTimeDimensionXml(storeName: String): String =
    s"""<coverage>
       |  <name>$storeName</name>
       |  <supportedFormats><string>GEOTIFF</string></supportedFormats>
       |  <metadata>
       |    <entry key="dirName">${storeName}_$storeName</entry>
       |    <entry key="time">
       |      <dimensionInfo>
       |        <enabled>true</enabled>
       |        <presentation>LIST</presentation>
       |        <units>ISO8601</units>
       |      </dimensionInfo>
       |    </entry>
       |  </metadata>
       |</coverage>""".stripMargin
}
