package graft.catalog

/** Table metadata catalog: primary keys + foreign keys, resolved at build
  * time into join specs.
  *
  * The reference introspects a live database via SQLAlchemy reflection
  * (`pgsync/base.py:306-345`) and resolves join keys per node pair with an
  * explicit-hint-wins policy (`pgsync/querybuilder.py:161-296`: an explicit
  * `relationship.foreign_key` is honored, otherwise FK metadata is searched
  * in both directions; no key found raises ForeignKeyError). We reproduce the
  * *semantics* as a pure build-time resolver over a declarative catalog: no
  * runtime operator, no per-query introspection — the resolved
  * [[JoinSpec]] is baked into the DataFrame plan, so Catalyst sees plain
  * equi-join conditions it can push down / reorder / broadcast.
  */
final case class ForeignKey(
    childTable: String,
    childColumns: Seq[String],
    parentTable: String,
    parentColumns: Seq[String]
)

final case class TableMeta(
    name: String,
    primaryKeys: Seq[String],
    foreignKeys: Seq[ForeignKey] = Nil,
    /** Columns with case-insensitive comparison semantics — the citext
      * analogue (`pgsync/base.py:61-69` registers the citext type so
      * SQLAlchemy comparisons fold case). Joins and equality filters on
      * these columns lower() both sides; like Postgres citext, values that
      * differ only in case are the SAME key (a citext unique/PK index
      * would never admit both).
      */
    caseInsensitive: Seq[String] = Nil
)

/** Join keys between a parent node and a child node, as resolved from the
  * catalog or an explicit schema hint. `parentColumns(i)` joins
  * `childColumns(i)`.
  */
final case class JoinSpec(parentColumns: Seq[String], childColumns: Seq[String]) {
  require(
    parentColumns.length == childColumns.length && parentColumns.nonEmpty,
    s"join spec arity mismatch: $parentColumns vs $childColumns"
  )
}

final case class ForeignKeyNotFoundError(parent: String, child: String)
    extends RuntimeException(
      s"No foreign key relationship found between '$parent' and '$child'"
    )

final case class UnknownTableError(table: String)
    extends RuntimeException(s"Table '$table' not present in catalog")

final case class Catalog(tables: Map[String, TableMeta]) {

  def apply(name: String): TableMeta =
    tables.getOrElse(name, throw UnknownTableError(name))

  def primaryKeys(name: String): Seq[String] = apply(name).primaryKeys

  /** Resolve the join between `parent` and `child`.
    *
    * Mirrors `querybuilder.py:258-288`: look for a FK from child→parent
    * first (FK columns live on the child), then parent→child (FK columns
    * live on the parent, e.g. orders.o_custkey → customer.c_custkey when
    * customer is the child node). Explicit hints are applied by the caller
    * (schema layer) before falling back here.
    */
  def resolveJoin(parent: String, child: String): JoinSpec = {
    val childFk = apply(child).foreignKeys.find(_.parentTable == parent)
    val parentFk = apply(parent).foreignKeys.find(_.parentTable == child)
    (childFk, parentFk) match {
      case (Some(fk), _) => JoinSpec(fk.parentColumns, fk.childColumns)
      case (_, Some(fk)) => JoinSpec(fk.childColumns, fk.parentColumns)
      case _             => throw ForeignKeyNotFoundError(parent, child)
    }
  }
}

object Catalog {

  /** Parse a catalog from a JSON document:
    * `{"tables": {"t": {"primary_key": [...], "foreign_keys":
    * [{"columns": [...], "parent_table": "p", "parent_columns": [...]}]}}}`
    * — the declarative alternative to live introspection.
    */
  def fromJson(json: String): Catalog = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    import scala.jdk.CollectionConverters._
    def strings(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      Option(n).toSeq.flatMap(_.elements.asScala).map(_.asText)
    val tables = Option(root.get("tables")).toSeq
      .flatMap(_.properties.asScala)
      .map { e =>
        val name = e.getKey
        val t = e.getValue
        val fks = Option(t.get("foreign_keys")).toSeq
          .flatMap(_.elements.asScala)
          .map { fk =>
            ForeignKey(
              childTable = name,
              childColumns = strings(fk.get("columns")),
              parentTable = fk.get("parent_table").asText,
              parentColumns = strings(fk.get("parent_columns"))
            )
          }
        name -> TableMeta(
          name,
          strings(t.get("primary_key")),
          fks,
          caseInsensitive = strings(t.get("case_insensitive"))
        )
      }
      .toMap
    Catalog(tables)
  }

  /** Introspect PK/FK metadata over JDBC — the analogue of the reference's
    * SQLAlchemy reflection (`pgsync/base.py:306-345`) and `information_schema`
    * constraint queries (`pgsync/view.py:232-331`). Runs once at startup on
    * the driver; the result is a small broadcastable map.
    *
    * Databases fold unquoted identifiers (Derby and Oracle to upper case,
    * PostgreSQL to lower case) and the metadata calls match names exactly,
    * so each requested table is first resolved to its stored name (an exact
    * match wins, else the case-insensitive one). The catalog is keyed by the
    * caller's names, and an FK's parent table maps back to the caller's name
    * when it was requested too. Column names are returned as stored. A table
    * the database does not have raises [[UnknownTableError]].
    */
  def fromJdbc(url: String, tables: Seq[String]): Catalog = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val meta = conn.getMetaData
      val storedTables = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val rsT = meta.getTables(null, null, "%", Array("TABLE"))
      while (rsT.next()) storedTables += rsT.getString("TABLE_SCHEM") -> rsT.getString("TABLE_NAME")
      val resolved = tables.map { t =>
        t -> storedTables.find(_._2 == t)
          .orElse(storedTables.find(_._2.equalsIgnoreCase(t)))
          .getOrElse(throw UnknownTableError(t))
      }
      val callerName = resolved.map { case (t, (_, stored)) => stored -> t }.toMap
      val tableMetas = resolved.map { case (t, (schema, stored)) =>
        val pks = scala.collection.mutable.ArrayBuffer.empty[(Short, String)]
        val rsPk = meta.getPrimaryKeys(null, schema, stored)
        while (rsPk.next()) pks += rsPk.getShort("KEY_SEQ") -> rsPk.getString("COLUMN_NAME")
        val fkCols = scala.collection.mutable.ArrayBuffer.empty[(String, Short, String, String, String)]
        val rsFk = meta.getImportedKeys(null, schema, stored)
        while (rsFk.next())
          fkCols += ((rsFk.getString("FK_NAME"), rsFk.getShort("KEY_SEQ"),
            rsFk.getString("FKCOLUMN_NAME"), rsFk.getString("PKTABLE_NAME"),
            rsFk.getString("PKCOLUMN_NAME")))
        val fks = fkCols.groupBy(_._1).values.map { cols =>
          val sorted = cols.sortBy(_._2)
          val parentStored = sorted.head._4
          ForeignKey(
            childTable = t,
            childColumns = sorted.map(_._3).toSeq,
            parentTable = callerName.getOrElse(parentStored, parentStored),
            parentColumns = sorted.map(_._5).toSeq
          )
        }.toSeq
        t -> TableMeta(t, pks.sortBy(_._1).map(_._2).toSeq, fks)
      }.toMap
      Catalog(tableMetas)
    } finally conn.close()
  }

  /** Catalog for the driver's TPC-H-ish test data (`/root/testdata/sf*`).
    * In production this would be loaded from config or JDBC metadata; the
    * shape is identical.
    */
  val testData: Catalog = Catalog(
    Map(
      "region" -> TableMeta("region", Seq("r_regionkey")),
      "nation" -> TableMeta(
        "nation",
        Seq("n_nationkey"),
        Seq(ForeignKey("nation", Seq("n_regionkey"), "region", Seq("r_regionkey")))
      ),
      "customer" -> TableMeta(
        "customer",
        Seq("c_custkey"),
        Seq(ForeignKey("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey")))
      ),
      "supplier" -> TableMeta(
        "supplier",
        Seq("s_suppkey"),
        Seq(ForeignKey("supplier", Seq("s_nationkey"), "nation", Seq("n_nationkey")))
      ),
      "part" -> TableMeta("part", Seq("p_partkey")),
      "orders" -> TableMeta(
        "orders",
        Seq("o_orderkey"),
        Seq(ForeignKey("orders", Seq("o_custkey"), "customer", Seq("c_custkey")))
      ),
      "lineitem" -> TableMeta(
        "lineitem",
        Seq("l_orderkey", "l_linenumber"),
        Seq(
          ForeignKey("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey")),
          ForeignKey("lineitem", Seq("l_partkey"), "part", Seq("p_partkey")),
          ForeignKey("lineitem", Seq("l_suppkey"), "supplier", Seq("s_suppkey"))
        )
      ),
      "events" -> TableMeta("events", Seq("event_id")),
      "documents" -> TableMeta("documents", Seq("doc_id")),
      "embeddings" -> TableMeta("embeddings", Seq("vec_id"))
    )
  )
}
