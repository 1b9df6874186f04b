package graft.catalog.rest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.json4s._

import graft.catalog._

/** CatalogStore backed by a Unity-Catalog-compatible REST server — the
  * Scala counterpart of the reference's entire catalog layer
  * (/root/reference/uchelper/uc_api_wrapper.py:77-590): same routes, same
  * `{error_code, message}` → typed-exception mapping (ALREADY_EXISTS /
  * NOT_FOUND, uc_api_wrapper.py:24-44), same client-side compositions
  * (update_table = get + overwrite, uc_api_wrapper.py:445-467;
  * overwrite_table = get + delete + create with rollback,
  * uc_api_wrapper.py:470-515), same page_token loop with the ""-token
  * server-bug tolerance (uc_api_wrapper.py:151-153).
  */
class RestCatalogStore(baseUrl: String) extends CatalogStore {

  private val ApiPath = "/api/2.1/unity-catalog"
  private val http = HttpClient.newHttpClient()

  private def request(method: String, path: String, body: Option[String] = None,
      params: Map[String, String] = Map.empty): HttpResponse[String] = {
    val qs =
      if (params.isEmpty) ""
      else "?" + params.map { case (k, v) =>
        s"${java.net.URLEncoder.encode(k, "UTF-8")}=${java.net.URLEncoder.encode(v, "UTF-8")}"
      }.mkString("&")
    val b = HttpRequest.newBuilder(URI.create(s"$baseUrl$ApiPath$path$qs"))
      .header("Content-Type", "application/json")
    val withMethod = body match {
      case Some(s) => b.method(method, HttpRequest.BodyPublishers.ofString(s, StandardCharsets.UTF_8))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    http.send(withMethod.build(), HttpResponse.BodyHandlers.ofString())
  }

  /** Reference error mapping (uc_api_wrapper.py:24-56). */
  private def check(r: HttpResponse[String]): HttpResponse[String] = {
    if (r.statusCode() / 100 == 2) return r
    val parsed = try UcJson.parse(r.body()) catch { case NonFatal(_) => JNothing }
    val code = (parsed \ "error_code") match { case JString(s) => s.toUpperCase; case _ => "" }
    val msg = (parsed \ "message") match { case JString(s) => s; case _ => r.body() }
    code match {
      case "ALREADY_EXISTS" => throw AlreadyExistsError(msg)
      case "NOT_FOUND" => throw DoesNotExistError(msg)
      case _ => throw UnsupportedOperationError(s"Something went wrong. Server response:\n$msg")
    }
  }

  /** page_token loop shared by the three list endpoints. */
  private def paged[A](path: String, listField: String, decode: JValue => A,
      baseParams: Map[String, String], maxResults: Option[Int],
      pageToken: Option[String]): (Seq[A], Option[String]) = {
    // with an explicit page, do ONE request and surface the next token;
    // with no pagination args, loop all pages like the reference
    def one(token: Option[String], max: Option[Int]): (Seq[A], Option[String]) = {
      val params = baseParams ++
        token.map("page_token" -> _) ++ max.map(m => "max_results" -> m.toString)
      val v = UcJson.parse(check(request("GET", path, params = params)).body())
      val items = (v \ listField) match {
        case JArray(xs) => xs.map(decode)
        case _ => Seq.empty
      }
      val next = (v \ "next_page_token") match {
        case JString(s) if s.nonEmpty => Some(s) // "" tolerated as end-of-pages
        case _ => None
      }
      (items, next)
    }
    if (maxResults.isDefined || pageToken.isDefined) one(pageToken, maxResults)
    else {
      val out = Seq.newBuilder[A]
      var token: Option[String] = None
      var done = false
      while (!done) {
        val (items, next) = one(token, None)
        out ++= items
        token = next
        done = next.isEmpty
      }
      (out.result(), None)
    }
  }

  // ---- catalogs ----

  override def createCatalog(c: CatalogInfo): CatalogInfo =
    UcJson.catalogFromJson(UcJson.parse(check(request("POST", "/catalogs",
      Some(UcJson.render(UcJson.catalogToJson(c))))).body()))

  override def getCatalog(name: String): CatalogInfo =
    UcJson.catalogFromJson(UcJson.parse(check(request("GET", s"/catalogs/$name")).body()))

  override def listCatalogs(maxResults: Option[Int], pageToken: Option[String]): (Seq[CatalogInfo], Option[String]) =
    paged("/catalogs", "catalogs", UcJson.catalogFromJson, Map.empty, maxResults, pageToken)

  override def updateCatalog(name: String, newName: Option[String], comment: Option[String],
      properties: Option[Map[String, String]]): CatalogInfo = {
    val body = UcJson.render(JObject(
      "new_name" -> newName.map(JString(_): JValue).getOrElse(JNull),
      "comment" -> comment.map(JString(_): JValue).getOrElse(JNull),
      "properties" -> properties.map(p =>
        JObject(p.toList.map { case (k, v) => k -> (JString(v): JValue) }): JValue).getOrElse(JNull)))
    UcJson.catalogFromJson(UcJson.parse(check(request("PATCH", s"/catalogs/$name", Some(body))).body()))
  }

  override def deleteCatalog(name: String, force: Boolean): Unit = {
    val r = request("DELETE", s"/catalogs/$name",
      params = Map("force" -> (if (force) "true" else "false")))
    if (r.statusCode() / 100 != 2 && r.body().contains("Cannot delete catalog with schemas"))
      throw UnsupportedOperationError(s"catalog $name is not empty; use force")
    check(r)
  }

  // ---- schemas ----

  override def createSchema(s: SchemaInfo): SchemaInfo =
    UcJson.schemaFromJson(UcJson.parse(check(request("POST", "/schemas",
      Some(UcJson.render(UcJson.schemaToJson(s))))).body()))

  override def getSchema(catalog: String, name: String): SchemaInfo =
    UcJson.schemaFromJson(UcJson.parse(check(request("GET", s"/schemas/$catalog.$name")).body()))

  override def listSchemas(catalog: String, maxResults: Option[Int], pageToken: Option[String]): (Seq[SchemaInfo], Option[String]) =
    paged("/schemas", "schemas", UcJson.schemaFromJson,
      Map("catalog_name" -> catalog), maxResults, pageToken)

  override def updateSchema(catalog: String, name: String, newName: Option[String],
      comment: Option[String], properties: Option[Map[String, String]]): SchemaInfo = {
    val body = UcJson.render(JObject(
      "new_name" -> newName.map(JString(_): JValue).getOrElse(JNull),
      "comment" -> comment.map(JString(_): JValue).getOrElse(JNull),
      "properties" -> properties.map(p =>
        JObject(p.toList.map { case (k, v) => k -> (JString(v): JValue) }): JValue).getOrElse(JNull)))
    UcJson.schemaFromJson(UcJson.parse(
      check(request("PATCH", s"/schemas/$catalog.$name", Some(body))).body()))
  }

  override def deleteSchema(catalog: String, name: String, force: Boolean): Unit = {
    val r = request("DELETE", s"/schemas/$catalog.$name",
      params = Map("force" -> (if (force) "true" else "false")))
    if (r.statusCode() / 100 != 2 && r.body().contains("Cannot delete schema with tables"))
      throw UnsupportedOperationError(s"schema $catalog.$name is not empty; use force")
    check(r)
  }

  // ---- tables ----

  override def createTable(t: TableInfo): TableInfo =
    UcJson.tableFromJson(UcJson.parse(check(request("POST", "/tables",
      Some(UcJson.render(UcJson.tableToJson(t))))).body()))

  override def getTable(catalog: String, schema: String, name: String): TableInfo =
    UcJson.tableFromJson(UcJson.parse(
      check(request("GET", s"/tables/$catalog.$schema.$name")).body()))

  override def listTables(catalog: String, schema: String, maxResults: Option[Int],
      pageToken: Option[String]): (Seq[TableInfo], Option[String]) =
    paged("/tables", "tables", UcJson.tableFromJson,
      Map("catalog_name" -> catalog, "schema_name" -> schema), maxResults, pageToken)

  /** Client-side composition, as the reference does (uc_api_wrapper.py:445-467). */
  override def updateTable(catalog: String, schema: String, name: String,
      comment: Option[String], properties: Option[Map[String, String]]): TableInfo = {
    val existing = getTable(catalog, schema, name)
    overwriteTable(existing.copy(
      comment = comment.orElse(existing.comment),
      properties = properties.getOrElse(existing.properties)))
  }

  override def deleteTable(catalog: String, schema: String, name: String): Unit =
    check(request("DELETE", s"/tables/$catalog.$schema.$name"))

  /** get + delete + create, restoring the original on failure
    * (uc_api_wrapper.py:470-515).
    */
  override def overwriteTable(t: TableInfo): TableInfo = {
    val original = getTable(t.catalogName, t.schemaName, t.name) // NOT_FOUND propagates
    deleteTable(t.catalogName, t.schemaName, t.name)
    try createTable(t)
    catch {
      case NonFatal(e) =>
        createTable(original)
        throw UnsupportedOperationError(s"Creating new table failed: ${e.getMessage}")
      case e: Throwable => // an interrupt or fatal error still restores, then propagates
        createTable(original)
        throw e
    }
  }

  override def healthCheck(): Boolean =
    try {
      val r = http.send(
        HttpRequest.newBuilder(URI.create(baseUrl)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      r.statusCode() / 100 == 2 && r.body().contains("Hello, Unity Catalog!")
    } catch { case NonFatal(_) => false }
}
