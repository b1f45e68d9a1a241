package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftaccess.Internals

/** `information_schema.{tables,columns,views,df_settings}` parity — the
  * reference enables DataFusion's information_schema so clients introspect
  * via SQL (lib.rs:92; its catalog-metadata RPCs are unimplemented,
  * lib.rs:382-482, which makes SQL introspection the *only* metadata
  * path). Spark has no information_schema database, so the engine
  * refreshes snapshot temp views on demand and rewrites the qualified
  * names — metadata-only, driver-side, a few hundred rows at most.
  */
object InfoSchema {
  private val Marker = "information_schema."
  /** Name prefix of the engine's snapshot views; never listed. */
  private val ViewPrefix = "__infoschema_"

  /** `sql` with each `information_schema.` qualifier (any case, at a word
    * start, outside literals and comments) replaced by the snapshot
    * views' `__infoschema_` prefix; the same string when there is none. */
  def rewrite(sql: String): String =
    if (!sql.toLowerCase(java.util.Locale.ROOT).contains(Marker)) sql
    else Engine.rewriteOutsideQuotes(sql) { i =>
      if (sql.regionMatches(true, i, Marker, 0, Marker.length) &&
          (i == 0 || !Engine.isWordChar(sql.charAt(i - 1))))
        Some((ViewPrefix, i + Marker.length))
      else None
    }

  /** One row of information_schema.tables. */
  final case class TableRow(catalog: String, schema: String, name: String,
      tableType: String, isTemporary: Boolean)

  /** One row of information_schema.columns; `ordinal` counts from 1. */
  final case class ColumnRow(catalog: String, schema: String, table: String,
      column: String, ordinal: Int, dataType: String, nullable: Boolean)

  /** The session's tables and their columns as driver values, with no
    * Spark job: the session catalog's current database plus the
    * session's temp views ([[Internals.sessionTables]]), then every
    * table of every configured DSv2 catalog. information_schema's views
    * and the `get_*` verbs both read this one listing. */
  def list(spark: SparkSession): (Seq[TableRow], Seq[ColumnRow]) = {
    import scala.util.Try

    val session = Internals.sessionTables(spark).collect {
      case (db, name, tpe, schema) if !name.startsWith(ViewPrefix) =>
        (TableRow("spark_catalog", db, name, tpe, tpe == "TEMPORARY"), schema)
    }

    // Configured DSv2 catalogs (spark.sql.catalog.<name> = impl class):
    // walked through the connector catalog API, not SHOW/DESCRIBE SQL —
    // SHOW NAMESPACES is not recursive (nested namespaces would vanish)
    // and string interpolation would need identifier quoting. The API
    // yields namespaces as string arrays and real table schemas.
    val v2CatalogNames = spark.conf.getAll.keys.toSeq.collect {
      case k if k.matches("""spark\.sql\.catalog\.[^.]+""") =>
        k.stripPrefix("spark.sql.catalog.")
    }.distinct
    import org.apache.spark.sql.connector.catalog.{SupportsNamespaces, TableCatalog}
    val v2 = v2CatalogNames.flatMap { cat =>
      Try {
        Internals.catalogPlugin(spark, cat) match {
          case tc: TableCatalog with SupportsNamespaces =>
            // per-node Try: one unlistable namespace degrades to itself,
            // not to dropping the whole catalog from information_schema
            def descend(ns: Array[String]): Seq[Array[String]] =
              ns +: Try(tc.listNamespaces(ns).toSeq).getOrElse(Seq.empty)
                .flatMap(descend)
            val all = tc.listNamespaces().toSeq.flatMap(descend)
            all.flatMap { ns =>
              Try(tc.listTables(ns).toSeq).getOrElse(Seq.empty).flatMap { id =>
                Try((TableRow(cat, ns.mkString("."), id.name, "MANAGED", false),
                  tc.loadTable(id).schema())).toOption
              }
            }
          case _ => Seq.empty
        }
      }.getOrElse(Seq.empty)
    }

    // (catalog, schema) spellings match the tables row for row: the
    // standard introspection join is
    // tables JOIN columns USING (table_catalog, table_schema, table_name).
    // Nullability comes from the table schema, not DESCRIBE strings.
    val both = session ++ v2
    val columns = both.flatMap { case (t, schema) =>
      schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        ColumnRow(t.catalog, t.schema, t.name, f.name, i + 1,
          f.dataType.simpleString, f.nullable)
      }
    }
    (both.map(_._1), columns)
  }

  /** (Re-)register the snapshot views the rewritten SQL reads, from
    * [[list]]. */
  def refresh(spark: SparkSession): Unit = {
    import spark.implicits._
    val (tables, columns) = list(spark)
    val tableTuples = tables.map(t =>
      (t.catalog, t.schema, t.name, t.tableType, t.isTemporary))
    tableTuples
      .toDF("table_catalog", "table_schema", "table_name", "table_type",
        "is_temporary")
      .createOrReplaceTempView(ViewPrefix + "tables")

    tableTuples.filter(_._4 == "VIEW")
      .map { case (c, s, n, _, tmp) => (c, s, n, tmp) }
      .toDF("table_catalog", "table_schema", "table_name", "is_temporary")
      .createOrReplaceTempView(ViewPrefix + "views")

    columns.map(c => (c.catalog, c.schema, c.table, c.column, c.ordinal,
        c.dataType, c.nullable))
      .toDF("table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "data_type", "is_nullable")
      .createOrReplaceTempView(ViewPrefix + "columns")

    spark.conf.getAll.toSeq
      .toDF("name", "value")
      .createOrReplaceTempView(ViewPrefix + "df_settings")
  }
}
