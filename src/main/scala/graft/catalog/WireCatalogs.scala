package graft.catalog

import java.util

import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** CatalogPlugin fronts for the wire connectors, so `CREATE CATALOG …
  * USING postgresql/clickhouse/elasticsearch WITH (host=…, port=…)`
  * yields real multi-part names (`pgcat.default.items`) over the wire
  * read paths — the way the reference's CREATE CATALOG is actually used
  * (a connector name + connection properties becomes a queryable
  * catalog, CatalogFactory → Connector).
  *
  * `loadTable` builds the connector's [[WireTable]] (schema from the
  * connector's own bounded metadata probe), so every pushdown the scan
  * implements (filters, pruning, limit, TopN, OFFSET, aggregates) rides
  * through catalog-qualified SQL names unchanged. These catalogs are
  * read-only fronts; writes go through the connectors' own surfaces. */
private[catalog] abstract class WireCatalogBase(connector: WireConnector,
    tableOption: String) extends TableCatalog with SupportsNamespaces {
  protected var catalogName: String = _
  protected var host: String = _
  protected var port: Int = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    host = Option(options.get("host")).getOrElse(
      throw new IllegalArgumentException(s"catalog $name requires option 'host'"))
    port = Option(options.get("port")).map(_.toInt).getOrElse(
      throw new IllegalArgumentException(s"catalog $name requires option 'port'"))
  }
  override def name(): String = catalogName

  // table ENUMERATION needs engine-specific system tables the loopback
  // subset does not serve; point lookups (what queries do) are complete
  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  override def loadTable(ident: Identifier): Table = {
    val m = new util.HashMap[String, String]()
    m.put("host", host); m.put("port", port.toString); m.put(tableOption, ident.name())
    val options = new CaseInsensitiveStringMap(m)
    new WireTable(connector.relation(connector.inferSchema(options), options))
  }

  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true } catch { case _: Exception => false }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("default"))
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    new util.HashMap[String, String]()
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
}

/** `CREATE CATALOG c USING postgresql WITH (host=…, port=…)`. */
class PgWireCatalog extends WireCatalogBase(PgCatalog, "table")

/** `CREATE CATALOG c USING clickhouse WITH (host=…, port=…)`. */
class ChWireCatalog extends WireCatalogBase(ChCatalog, "table")

/** `CREATE CATALOG c USING elasticsearch WITH (host=…, port=…)` —
  * tables are indices. */
class EsWireCatalog extends WireCatalogBase(EsCatalog, "index")
