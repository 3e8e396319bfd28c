package graft.sources

import java.net.InetSocketAddress
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The Iceberg REST-CATALOG wire protocol (the public REST OpenAPI the
  * reference's deployments default to — its Spark jobs configure a
  * service-backed catalog and name tables `catalog.database.table`,
  * spark_events_by_time.py:32,54) — twinned here as BOTH halves:
  *
  *   - [[GraftRestCatalogServer]]: an in-process catalog SERVICE over
  *     an IcebergLite warehouse (JDK HttpServer; the offline stand-in
  *     for Nessie/Polaris/Glue-REST): GET /v1/config, namespace +
  *     table listing, loadTable (metadata-location + metadata),
  *     create-table, drop, and the COMMIT endpoint (`add-snapshot`);
  *   - [[GraftRestCatalog]]: the Spark V2 CLIENT —
  *     `spark.sql.catalog.rcat = graft.sources.GraftRestCatalog` +
  *     `.uri = http://host:port` resolves `rcat.db.t` through the wire:
  *     existence/listing/schemas from the service, reads through the
  *     metadata location it returns, and APPENDS per the protocol's
  *     division of labor — the client writes data files, the manifest,
  *     and the manifest list on shared storage
  *     ([[IcebergLite.stageRestAppend]]), then POSTs the snapshot for
  *     the SERVICE to commit (the catalog owns the metadata pointer;
  *     that is the whole point of a REST catalog).
  *
  * 100 TB shape: the wire carries ONLY KB-scale metadata (locations,
  * schema JSON, snapshot descriptors); data and manifests never
  * transit the catalog. Scope (documented, refuse-with-message beyond
  * it): create/load/list/drop/exists, append, time travel via the wire
  * metadata's refs; row-level DML and replace go through the direct
  * catalog. */
class GraftRestCatalogServer(spark: SparkSession, warehouse: String) {

  private val om = new ObjectMapper()
  private var server: HttpServer = _

  def port: Int = server.getAddress.getPort
  def uri: String = s"http://127.0.0.1:$port"

  private def dirOf(ns: String, table: String) = s"$warehouse/$ns/$table"
  private def isTable(dir: String): Boolean = {
    val hint = new Path(dir, "metadata/version-hint.text")
    hint.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hint)
  }

  def start(): GraftRestCatalogServer = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1", (ex: HttpExchange) => handle(ex))
    server.start()
    this
  }
  def stop(): Unit = if (server != null) server.stop(0)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }
  private def err(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code,
      s"""{"error": {"message": ${om.writeValueAsString(msg)}, "code": $code}}""")

  private def loadTableJson(dir: String): String = {
    val loc = IcebergLite.metadataLocation(spark, dir)
    val fs = new Path(loc).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(loc))
    val bytes = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      out.toByteArray
    } finally in.close()
    val metadata = om.readTree(bytes)
    val root = om.createObjectNode()
    root.put("metadata-location", loc)
    root.set[JsonNode]("metadata", metadata)
    root.set[JsonNode]("config", om.createObjectNode())
    om.writeValueAsString(root)
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripPrefix("/v1").stripPrefix("/")
    val parts = path.split("/").filter(_.nonEmpty).toSeq
    val method = ex.getRequestMethod
    // the request stream reads ONCE
    lazy val body: JsonNode = om.readTree(ex.getRequestBody.readAllBytes())
    (method, parts) match {
      case ("GET", Seq("config")) =>
        respond(ex, 200, """{"defaults": {}, "overrides": {}}""")
      case ("GET", Seq("namespaces")) =>
        val root = new Path(warehouse)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val nss =
          if (!fs.exists(root)) Seq.empty
          else fs.listStatus(root).toSeq
            .filter(s => s.isDirectory && !isTable(s.getPath.toString))
            .map(_.getPath.getName)
        respond(ex, 200, om.writeValueAsString(
          Map("namespaces" -> nss.sorted.map(n => Seq(n).asJava).asJava)
            .asJava))
      case ("POST", Seq("namespaces")) =>
        val ns = body.get("namespace").elements().asScala
          .map(_.asText()).mkString("/")
        val p = new Path(s"$warehouse/$ns")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
        respond(ex, 200,
          s"""{"namespace": ${om.writeValueAsString(Seq(ns).asJava)},
               "properties": {}}""")
      case ("GET", Seq("namespaces", ns, "tables")) =>
        val nsDir = new Path(s"$warehouse/$ns")
        val fs = nsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(nsDir)) { err(ex, 404, s"namespace $ns not found") }
        else {
          val ids = fs.listStatus(nsDir).toSeq
            .filter(s => s.isDirectory && isTable(s.getPath.toString))
            .map(s => Map("namespace" -> Seq(ns).asJava,
              "name" -> s.getPath.getName).asJava)
          respond(ex, 200,
            om.writeValueAsString(Map("identifiers" -> ids.asJava).asJava))
        }
      case ("POST", Seq("namespaces", ns, "tables")) =>
        // create-table: {"name", "schema", "partition-spec": {fields},
        // "properties"} — the schema arrives as ICEBERG schema JSON
        val name = body.get("name").asText()
        val dir = dirOf(ns, name)
        if (isTable(dir)) { err(ex, 409, s"table $ns.$name exists") }
        else {
          val schema =
            IcebergLite.schemaFromIcebergJson(body.get("schema").toString)
          // spec source-ids resolve through the schema JSON's own field
          // `id` attributes — NOT positional arithmetic: a conformant
          // client's ids need not be 1..N in declaration order (nested
          // structs consume ids, evolved schemas renumber), and a silent
          // wrong binding would partition on the wrong column
          val idToName: Map[Int, String] =
            body.get("schema").get("fields").elements().asScala
              .map(f => f.get("id").asInt() -> f.get("name").asText())
              .toMap
          val specFields = Option(body.get("partition-spec")).toSeq
            .flatMap(_.get("fields").elements().asScala.toSeq)
          val badIds = specFields.map(_.get("source-id").asInt())
            .filterNot(idToName.contains)
          if (badIds.nonEmpty) {
            err(ex, 400, s"partition-spec source-id(s) ${badIds.mkString(",")}" +
              " do not resolve to a top-level schema field")
            return
          }
          val specItems = specFields.map { f =>
              val col = idToName(f.get("source-id").asInt())
              f.get("transform").asText() match {
                case "identity" => col
                case t => s"$t:$col"
              }
            }
          val props = Option(body.get("properties"))
            .map(p => p.properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap)
            .getOrElse(Map.empty[String, String])
          def cols(k: String) = props.get(k).toSeq
            .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
          IcebergLite.createEmptyTable(spark, schema, dir,
            partitionBy = specItems, sortBy = cols("sort-order"),
            bloomFor = cols("bloom-columns"))
          respond(ex, 200, loadTableJson(dir))
        }
      case ("HEAD", Seq("namespaces", ns, "tables", t)) =>
        if (isTable(dirOf(ns, t))) respond(ex, 204, "")
        else respond(ex, 404, "")
      case ("GET", Seq("namespaces", ns, "tables", t)) =>
        val dir = dirOf(ns, t)
        if (!isTable(dir)) err(ex, 404, s"table $ns.$t not found")
        else respond(ex, 200, loadTableJson(dir))
      case ("POST", Seq("namespaces", ns, "tables", t)) =>
        // commit: {"requirements": [...], "updates": [{"action":
        // "add-snapshot", "snapshot": {...}}, ...]} — the service owns
        // the metadata pointer; everything else is already on storage
        val dir = dirOf(ns, t)
        if (!isTable(dir)) { err(ex, 404, s"table $ns.$t not found") }
        else {
          val updates = body.get("updates").elements().asScala.toSeq
          val added = updates.find(
            _.get("action").asText() == "add-snapshot")
          added match {
            case None => err(ex, 400,
              "only add-snapshot commits are supported")
            case Some(u) =>
              val snap = u.get("snapshot")
              try {
                IcebergLite.adoptSnapshot(spark, dir,
                  snap.get("snapshot-id").asLong(),
                  snap.get("manifest-list").asText(),
                  snap.get("summary").toString)
                respond(ex, 200, loadTableJson(dir))
              } catch {
                case e: IllegalArgumentException =>
                  err(ex, 409, e.getMessage) // stale snapshot: conflict
              }
          }
        }
      case ("DELETE", Seq("namespaces", ns, "tables", t)) =>
        val dir = new Path(dirOf(ns, t))
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!isTable(dir.toString)) err(ex, 404, s"table $ns.$t not found")
        else { fs.delete(dir, true); respond(ex, 204, "") }
      case _ =>
        err(ex, 400, s"unsupported route $method /v1/$path")
    }
  } catch {
    case e: Exception => err(ex, 500, s"${e.getClass.getName}: ${e.getMessage}")
  }
}

/** The Spark V2 CLIENT of the REST catalog — see
  * [[GraftRestCatalogServer]] for the protocol split. */
class GraftRestCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = _
  private var baseUri: String = _
  private val om = new ObjectMapper()
  private lazy val http = HttpClient.newHttpClient()

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    baseUri = Option(options.get("uri")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.uri")).stripSuffix("/")
  }
  override def name(): String = catName

  private def spark = SparkSession.active

  private def request(method: String, route: String,
                      body: Option[String] = None)
      : (Int, String) = {
    val b = HttpRequest.newBuilder(java.net.URI.create(s"$baseUri$route"))
    val req = (body match {
      case Some(j) => b.method(method,
        HttpRequest.BodyPublishers.ofString(j))
        .header("Content-Type", "application/json")
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def nsOf(ident: Identifier): String = {
    require(ident.namespace().length == 1,
      s"$catName uses <catalog>.<database>.<table> naming, got " +
        ident.toString)
    ident.namespace()(0)
  }

  private def loadJson(ident: Identifier): JsonNode = {
    val (code, body) = request("GET",
      s"/v1/namespaces/${nsOf(ident)}/tables/${ident.name()}")
    if (code == 404) throw new NoSuchTableException(ident)
    require(code == 200, s"loadTable ${ident.toString}: HTTP $code $body")
    om.readTree(body)
  }

  private def tableDirOf(meta: JsonNode): String =
    new Path(meta.get("metadata-location").asText())
      .getParent.getParent.toString

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.length == 1, "one-level namespaces")
    val (code, body) = request("GET", s"/v1/namespaces/${namespace(0)}/tables")
    if (code == 404) throw new NoSuchNamespaceException(
      catName +: namespace.toSeq)
    om.readTree(body).get("identifiers").elements().asScala
      .map(n => Identifier.of(namespace, n.get("name").asText())).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    request("HEAD",
      s"/v1/namespaces/${nsOf(ident)}/tables/${ident.name()}")._1 == 204

  override def loadTable(ident: Identifier): Table = {
    val meta = loadJson(ident)
    new GraftRestTable(this, ident, tableDirOf(meta))
  }

  /** Time travel THROUGH THE WIRE METADATA: refs and snapshot ids
    * resolve from the loadTable response, then the read pins the
    * snapshot on shared storage. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val meta = loadJson(ident)
    val metadata = meta.get("metadata")
    val snap = version.toLongOption.getOrElse {
      Option(metadata.get("refs")).flatMap(r => Option(r.get(version)))
        .map(_.get("snapshot-id").asLong())
        .getOrElse(throw new IllegalArgumentException(
          s"VERSION AS OF on ${ident.name()}: '$version' is neither a " +
            "snapshot id nor a named ref in the wire metadata"))
    }
    new GraftIcebergTable(ident, tableDirOf(meta), Some(snap))
  }

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val meta = loadJson(ident)
    val dir = tableDirOf(meta)
    new GraftIcebergTable(ident, dir,
      Some(IcebergLite.snapshotIdAsOf(spark, dir, timestamp / 1000L)))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val specFields = partitions.toSeq.map(GraftTableCatalog.toSpecItem)
      .map(IcebergTransforms.parse)
    val fieldIdx = schema.fieldNames.zipWithIndex.toMap
    val root = om.createObjectNode()
    root.put("name", ident.name())
    root.set[JsonNode]("schema",
      om.readTree(IcebergLite.icebergSchemaJson(schema)))
    val spec = om.createObjectNode()
    val fields = om.createArrayNode()
    specFields.foreach { pf =>
      val f = om.createObjectNode()
      f.put("name", pf.name)
      f.put("transform", pf.transform)
      f.put("source-id", fieldIdx(pf.sourceCol) + 1)
      fields.add(f)
    }
    spec.set[JsonNode]("fields", fields)
    root.set[JsonNode]("partition-spec", spec)
    val props = om.createObjectNode()
    properties.asScala.foreach { case (k, v) => props.put(k, v) }
    root.set[JsonNode]("properties", props)
    val (code, body) = request("POST",
      s"/v1/namespaces/${nsOf(ident)}/tables",
      Some(om.writeValueAsString(root)))
    if (code == 409) throw new TableAlreadyExistsException(ident)
    require(code == 200, s"createTable ${ident.toString}: HTTP $code $body")
    new GraftRestTable(this, ident,
      tableDirOf(om.readTree(body)))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"ALTER TABLE over the REST catalog $catName is not supported — " +
        "use a direct GraftTableCatalog over the same warehouse")

  override def dropTable(ident: Identifier): Boolean =
    request("DELETE",
      s"/v1/namespaces/${nsOf(ident)}/tables/${ident.name()}")._1 == 204

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"RENAME over the REST catalog $catName is not supported")

  /** Commit a client-staged snapshot (the write path's second half). */
  private[sources] def commitSnapshot(ident: Identifier, snapshotId: Long,
                                      manifestList: String,
                                      summary: String): Unit = {
    val snap = om.createObjectNode()
    snap.put("snapshot-id", snapshotId)
    snap.put("manifest-list", manifestList)
    snap.set[JsonNode]("summary", om.readTree(summary))
    val upd = om.createObjectNode()
    upd.put("action", "add-snapshot")
    upd.set[JsonNode]("snapshot", snap)
    val root = om.createObjectNode()
    root.set[JsonNode]("requirements", om.createArrayNode())
    val updates = om.createArrayNode()
    updates.add(upd)
    root.set[JsonNode]("updates", updates)
    val (code, body) = request("POST",
      s"/v1/namespaces/${nsOf(ident)}/tables/${ident.name()}",
      Some(om.writeValueAsString(root)))
    require(code == 200,
      s"commit to ${ident.toString} refused: HTTP $code $body")
  }

  // ---- namespaces ----------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val (code, body) = request("GET", "/v1/namespaces")
    require(code == 200, s"listNamespaces: HTTP $code $body")
    om.readTree(body).get("namespaces").elements().asScala
      .map(n => n.elements().asScala.map(_.asText()).toArray).toArray
  }
  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      listNamespaces().exists(_.sameElements(namespace))
  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(catName +: namespace.toSeq)
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1, "one-level namespaces")
    val root = om.createObjectNode()
    val arr = om.createArrayNode()
    namespace.foreach(arr.add)
    root.set[JsonNode]("namespace", arr)
    val (code, body) = request("POST", "/v1/namespaces",
      Some(om.writeValueAsString(root)))
    require(code == 200, s"createNamespace: HTTP $code $body")
  }
  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE")
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "DROP NAMESPACE over the REST catalog")
}

/** One REST-registered table: READS delegate to the same scan machinery
  * the direct catalog uses (the metadata location the service returned
  * points into shared storage); APPENDS stage everything on storage and
  * commit THROUGH the service. */
class GraftRestTable(catalog: GraftRestCatalog, ident: Identifier,
                     val tableDir: String)
    extends Table with SupportsRead with SupportsWrite {

  private def spark = SparkSession.active
  private val inner = new GraftIcebergTable(ident, tableDir, None)

  override def name(): String = ident.toString
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = inner.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwrite: Boolean): Unit = {
              require(!overwrite,
                s"overwrite through the REST catalog is not supported — " +
                  "append, or use a direct GraftTableCatalog")
              // Spark's analyzer has aligned the rows to the table
              IcebergLite.stageRestAppend(data.sparkSession, tableDir,
                data).foreach { case (snapshotId, listPath, summary) =>
                catalog.commitSnapshot(ident, snapshotId, listPath, summary)
              }
            }
          }
      }
    }
}
