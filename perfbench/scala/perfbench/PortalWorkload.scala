package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.{GeoFunctions, Identifier}
import graft.io.{GeoJsonSink, GeoNodeApi, JdbcBoundary, Shapefile, ShapefileWriter, Sources, Xlsx}
import graft.jobs.{EovToKeywords, ExportInObis, Fixtures, LoadPortal, SpatialExport}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The portal ETL (E1 load + spatial export + fixtures + reports, E3 OBIS
  * SQL, K5 metadata upsert, E2 EOV→keyword migration) as one round of
  * public calls, over generated inputs, writing into in-process Derby
  * databases and a fake GeoNode API.
  */
class PortalWorkload(o: Opts) extends Workload {
  private val data = o.data
  private val out = s"${o.work}/portal_out"
  private val derby = s"${o.work}/derby"
  // a territory is required: Derby cannot create a database under the
  // ROOT default locale that Main pins
  private def url(db: String, create: Boolean = false) =
    s"jdbc:derby:$derby/$db" + (if (create) ";create=true;territory=en_US" else "")
  private val props = {
    val p = new Properties
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }
  private val apiBase = "http://geonode.invalid"
  private def readFile(p: String) = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
  private lazy val api = new GeoNodeApi.FakeHttpJson(Map(
    "/api/v2/layers" -> readFile(s"$data/api_layers.json"),
    "/api/v2/tkeywords" -> readFile(s"$data/api_tkeywords.json")))

  // ---- round state: one LoadPortal per round, like one LoadPortalMain run
  private var job: LoadPortal = _
  private var spatial: SpatialExport.Result = _
  override def beginRound(spark: SparkSession): Unit = { job = null; spatial = null }

  private def spatialExport(spark: SparkSession): Unit = {
    job = new LoadPortal(spark, data)
    spatial = SpatialExport.run(spark, job.withIdentifiers, data, s"$out/output")
  }
  private def fixtures(spark: SparkSession): Unit = {
    Fixtures.writeEovs(spark, s"$out/output")
    Fixtures.writeUsers(job.users, s"$out/output")
  }
  private def reports(spark: SparkSession): Unit = {
    job.duplicates.count()
    spatial.missingSpatial.count()
    job.users.count()
    job.duplicates.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$out/reports/duplicates")
    spatial.missingSpatial.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$out/reports/missing_spatial")
  }
  private def obisSql(spark: SparkSession): Unit =
    ExportInObis.statements(spatial.withShapefileFlag).coalesce(1)
      .write.mode("overwrite").text(s"$out/obis_sql")
  private def metadataUpsert(spark: SparkSession, wrap: (() => Unit) => Unit,
                             executor: () => JdbcBoundary.SqlExecutor): Unit = {
    val layers = GeoNodeApi.layers(spark, api, apiBase)
    val rows = job.withLayerPks(job.withUserPks(spatial.withShapefileFlag), layers)
    wrap(() => JdbcBoundary.upsertMetadata(rows, executor))
  }
  private def eovKeywords(spark: SparkSession): Unit =
    EovToKeywords.run(spark, url("old"), props, url("new"), props, api, apiBase,
      s"$out/eov_links_backup")

  private val portalUrl = url("portal")
  /** Executor factories capture only the url and properties: the upsert
    * ships them to the executors inside its task closure. */
  private def executorFactory(counting: Boolean): () => JdbcBoundary.SqlExecutor = {
    val (u, p) = (portalUrl, props)
    if (counting) () => new PortalWorkload.Counting(new JdbcBoundary.JdbcExecutor(u, p))
    else () => new JdbcBoundary.JdbcExecutor(u, p)
  }

  val ops: Seq[Op] = Seq(
    Op("spatial_export", "jobs", spatialExport),
    Op("fixtures", "jobs", fixtures),
    Op("reports", "jobs", reports),
    Op("obis_sql", "jobs", obisSql),
    Op("metadata_upsert", "jobs", s => metadataUpsert(s, f => f(), executorFactory(counting = false))),
    Op("eov_keywords", "jobs", eovKeywords))

  override def tracedOps(t: Tracer): Seq[Op] = ops.map {
    case op if op.name == "metadata_upsert" =>
      op.copy(run = s => metadataUpsert(s, f => t.span(s, "io.jdbc_upsert")(f()),
        executorFactory(counting = true)))
    case op => op
  }
  override def roundCounts(): Map[String, Any] =
    Map("jdbc_statements" -> PortalWorkload.statements.getAndSet(0L))
  val nominalRoundS = 10.0

  // ---- databases: seeded once per run, before set-up
  override def prepareInputs(): Unit = {
    System.setProperty("derby.stream.error.file", s"${o.work}/derby.log")
    new File(derby).mkdirs()
    val mapper = new ObjectMapper
    val layerPks = mapper.readTree(new File(s"$data/api_layers.json")).get("layers")
      .elements().asScala.map(_.get("pk").asText.toInt).toSeq
    withConn(url("portal", create = true)) { c =>
      val st = c.createStatement()
      st.execute("create table base_resourcebase (id int primary key, title varchar(2000), " +
        "abstract varchar(8000), maintenance_frequency varchar(64), " +
        "temporal_extent_start date, temporal_extent_end date)")
      st.execute("create table layers_layer (resourcebase_ptr_id int primary key, " +
        "title_en varchar(2000), abstract_en varchar(8000), url varchar(1000))")
      st.execute("create table layers_layer_eovs (layer_id int, eov_id int)")
      st.execute("create index layers_layer_eovs_layer on layers_layer_eovs (layer_id)")
      st.execute("create table base_contactrole (resource_id int, contact_id int, role varchar(32))")
      st.execute("create index base_contactrole_resource on base_contactrole (resource_id)")
      val a = c.prepareStatement("insert into base_resourcebase (id) values (?)")
      val b = c.prepareStatement("insert into layers_layer (resourcebase_ptr_id) values (?)")
      layerPks.foreach { pk => a.setInt(1, pk); a.addBatch(); b.setInt(1, pk); b.addBatch() }
      a.executeBatch(); b.executeBatch()
    }
    withConn(url("old", create = true)) { c =>
      val st = c.createStatement()
      st.execute("create table goos_eov (id int primary key, short_name varchar(64))")
      st.execute("create table layers_layer_eovs (layer_id int, eov_id int)")
      val e = c.prepareStatement("insert into goos_eov values (?, ?)")
      graft.jobs.Recodes.eovs.foreach { v => e.setInt(1, v.pk); e.setString(2, v.shortName); e.addBatch() }
      e.executeBatch()
      val l = c.prepareStatement("insert into layers_layer_eovs values (?, ?)")
      scala.io.Source.fromFile(s"$data/layers_layer_eovs.csv", "UTF-8").getLines().drop(1)
        .map(_.split(",")).filter(_.length >= 2).foreach { f =>
          l.setInt(1, f(0).trim.toInt); l.setInt(2, f(1).trim.toInt); l.addBatch()
        }
      l.executeBatch()
    }
    withConn(url("new", create = true))(_ => ())
  }

  private def withConn[T](u: String)(f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(u, props)
    try f(c) finally c.close()
  }

  private def query(u: String, sql: String): Seq[Seq[Any]] = withConn(u) { c =>
    val rs = c.createStatement().executeQuery(sql)
    val n = rs.getMetaData.getColumnCount
    Iterator.continually(rs).takeWhile(_.next())
      .map(r => (1 to n).map(i => Option(r.getObject(i)).map(_.toString).orNull)).toSeq
  }

  /** Stage counts, (id, identifier) pairs and the database tables that
    * the checks compare with the generator's manifest. */
  override def dumpChecks(spark: SparkSession): Unit = {
    val j = new LoadPortal(spark, data)
    val counts = Map(
      "initial" -> j.initial.count(), "eurosea_raw" -> j.euroseaRaw.count(),
      "eurosea" -> j.eurosea.count(), "combined" -> j.combined.count(),
      "users" -> j.users.count(), "duplicates" -> j.duplicates.count())
    val ids = j.withIdentifiers.select(col("id"), col("identifier")).orderBy(col("id"))
      .collect().map(r => Seq(r.getInt(0), r.getString(1))).toSeq
    val users = j.users.select(col("pk"), col("email")).collect().map(r => Seq(r.getInt(0), r.getString(1))).toSeq
    val dump = Map(
      "counts" -> counts, "ids" -> ids, "users" -> users,
      "resourcebase" -> query(portalUrl, "select id, title from base_resourcebase where title is not null"),
      "layer_eovs" -> query(portalUrl, "select layer_id, eov_id from layers_layer_eovs"),
      "contacts" -> query(portalUrl, "select resource_id, contact_id, role from base_contactrole"),
      "tkeywords" -> query(url("new"), "select \"resourcebase_id\", \"thesauruskeyword_id\" from base_resourcebase_tkeywords"))
    Files.writeString(Paths.get(s"${o.work}/portal_check.json"), Json.write(dump))
  }

  // ---- layer probes (traced runs): each call alone, on this round's inputs
  private lazy val siteFiles = SpatialExport.siteCsvs.map(s => s"$data/largeCSVsites_final/${s.file}")
  private lazy val shapeInputs: Seq[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(new File(s"$data/eurosea_spatial")).map(_.getPath).filter(_.endsWith(".shp"))
  }

  override def probes(spark: SparkSession, t: Tracer): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val s4 = s"$data/4Updated_Spatial_Survey_420_8132020_FINAL_toshare.csv"
    val s2 = s"$data/2InfoDataProviderswoSpatialInfo_Final_420_7302020_FINAL_toshare.csv"
    t.span(spark, "io.survey_csv") { noop(Sources.surveyCsv(spark, s4)); noop(Sources.surveyCsv(spark, s2)) }
    t.span(spark, "io.xlsx") {
      noop(Xlsx.toDataFrame(spark, s"$data/EuroSea.xlsx", 1))
      Xlsx.readSheet(s"$data/${SpatialExport.wespasXlsx}", 1)
    }
    t.span(spark, "io.site_csv")(siteFiles.foreach(f => Sources.siteCsv(spark, f).collect()))
    t.span(spark, "io.tsv")(Sources.tsv(spark, s"$data/${SpatialExport.spainTsv}").collect())
    t.span(spark, "io.shapefile_read")(shapeInputs.foreach(Shapefile.read))
    // the export's own output, read back and written again through each sink
    val bundles = new File(s"$out/output").listFiles().filter(_.isDirectory).sortBy(_.getName).toSeq
    val feats = t.span(spark, "probe.readback")(bundles.map { d =>
      val (_, fs) = Shapefile.read(s"${d.getPath}/${d.getName}.shp")
      d.getName -> fs.map(f => (f.wkt, f.attrs.toSeq.sortBy(_._1)))
    })
    val probeOut = s"${o.work}/probe_out"
    t.span(spark, "io.shapefile_write")(feats.foreach { case (id, fs) =>
      val fields = fs.flatMap(_._2.map(_._1)).distinct
      ShapefileWriter.write(s"$probeOut/$id", id, fields,
        fs.map { case (w, p) => val m = p.toMap; (w, fields.map(m.get(_).orNull)) })
    })
    t.span(spark, "io.geojson_write")(feats.foreach { case (id, fs) =>
      GeoJsonSink.writeFeatureCollection(probeOut, id, fs)
    })
    t.span(spark, "io.jdbc_scan")(
      JdbcBoundary.queryScan(spark, url("old"), EovToKeywords.linksQuery, props).collect())
    t.span(spark, "io.jdbc_overwrite")(JdbcBoundary.overwriteTable(
      JdbcBoundary.queryScan(spark, url("old"), EovToKeywords.linksQuery, props),
      url("new"), "probe_links", props))
    // functions: the scalar geo and identifier paths over this round's inputs
    val geo = Sources.surveyCsv(spark, s2).select(col("ErinSpatialGeoJSON")).collect()
      .flatMap(r => Option(r.getString(0))).toSeq
    val utm = Sources.tsv(spark, s"$data/${SpatialExport.spainTsv}")
      .select(col("x").cast("double"), col("y").cast("double")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val names = new LoadPortal(spark, data).combined.select(col("name")).collect()
      .map(_.getString(0)).toSeq
    t.span(spark, "functions.geo") {
      geo.foreach(g => Option(GeoFunctions.geojsonToWktStr(g)).foreach(GeoFunctions.wktToGeoJsonStr))
      utm.foreach { case (x, y) => GeoFunctions.utm30nToLonLat(x, y) }
    }
    t.span(spark, "functions.identifier")(names.foreach(Identifier.makeIdentifier))
    // jobs: each E1 stage with its upstream already materialized, so a
    // span's time is that stage's own
    val p = new LoadPortal(spark, data)
    def keep(df: DataFrame): DataFrame = { df.persist(); noop(df); df }
    keep(p.euroseaRaw); keep(p.initial)
    t.span(spark, "jobs.eurosea")(keep(p.eurosea))
    t.span(spark, "jobs.identifiers")(keep(p.withIdentifiers))
    t.span(spark, "jobs.users")(keep(p.users))
    t.span(spark, "jobs.duplicates")(noop(p.duplicates))
    val res = t.span(spark, "jobs.spatial_export")(
      SpatialExport.run(spark, p.withIdentifiers, data, s"$probeOut/export"))
    t.span(spark, "jobs.fixtures") {
      Fixtures.writeEovs(spark, s"$probeOut/export")
      Fixtures.writeUsers(p.users, s"$probeOut/export")
    }
    t.span(spark, "jobs.obis")(noop(ExportInObis.statements(res.withShapefileFlag)))
    t.span(spark, "jobs.eov_keywords")(EovToKeywords.run(spark, url("old"), props, url("new"),
      props, api, apiBase, s"$probeOut/eov_links_backup"))
    spark.catalog.clearCache()
  }
}

object PortalWorkload {
  val statements = new AtomicLong

  /** Counts the statements the upsert sends, then delegates. */
  class Counting(inner: JdbcBoundary.SqlExecutor) extends JdbcBoundary.SqlExecutor with AutoCloseable {
    def execute(stmt: JdbcBoundary.Stmt): Unit = { statements.incrementAndGet(); inner.execute(stmt) }
    def close(): Unit = inner match { case c: AutoCloseable => c.close(); case _ => () }
  }
}
