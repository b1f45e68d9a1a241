package graft.engine

import org.apache.spark.sql.SparkSession

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

  /** `sql` with each `information_schema.` qualifier (any case, at a word
    * start, outside literals and comments) replaced by the snapshot
    * views' `__infoschema_` prefix; the same string when there is none. */
  def rewrite(sql: String): String =
    if (!sql.toLowerCase(java.util.Locale.ROOT).contains(Marker)) sql
    else Engine.rewriteOutsideQuotes(sql) { i =>
      if (sql.regionMatches(true, i, Marker, 0, Marker.length) &&
          (i == 0 || !Engine.isWordChar(sql.charAt(i - 1))))
        Some(("__infoschema_", i + Marker.length))
      else None
    }

  def refresh(spark: SparkSession): Unit = {
    import spark.implicits._
    import scala.util.Try

    val sessionTables = spark.catalog.listTables().collect().toSeq.map { t =>
      (Option(t.catalog).getOrElse("spark_catalog"),
        Option(t.database).getOrElse(""),
        t.name, t.tableType, t.isTemporary)
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
    import org.apache.spark.sql.connector.catalog.{SupportsNamespaces, TableCatalog, Table}
    val v2Loaded: Seq[(String, String, String, Table)] = v2CatalogNames.flatMap { cat =>
      Try {
        org.apache.spark.sql.graftaccess.Internals
          .catalogPlugin(spark, cat) match {
          case tc: TableCatalog with SupportsNamespaces =>
            // per-node Try: one unlistable namespace degrades to itself,
            // not to dropping the whole catalog from information_schema
            def descend(ns: Array[String]): Seq[Array[String]] =
              ns +: Try(tc.listNamespaces(ns).toSeq).getOrElse(Seq.empty)
                .flatMap(descend)
            val all = tc.listNamespaces().toSeq.flatMap(descend)
            all.flatMap { ns =>
              Try(tc.listTables(ns).toSeq).getOrElse(Seq.empty).flatMap { id =>
                Try((cat, ns.mkString("."), id.name,
                  tc.loadTable(id))).toOption
              }
            }
          case _ => Seq.empty
        }
      }.getOrElse(Seq.empty)
    }
    val v2Tables = v2Loaded.map { case (cat, ns, name, _) =>
      (cat, ns, name, "MANAGED", false)
    }
    val tables = sessionTables ++ v2Tables
    tables
      .toDF("table_catalog", "table_schema", "table_name", "table_type",
        "is_temporary")
      .createOrReplaceTempView("__infoschema_tables")

    tables.filter(_._4 == "VIEW")
      .map { case (c, s, n, _, tmp) => (c, s, n, tmp) }
      .toDF("table_catalog", "table_schema", "table_name", "is_temporary")
      .createOrReplaceTempView("__infoschema_views")

    // (table_catalog, table_schema) spellings MUST match the tables view
    // row for row — the standard introspection join is
    // tables JOIN columns USING (table_catalog, table_schema, table_name).
    val sessionCols = sessionTables.flatMap { case (cat, db, name, _, _) =>
      val ident = if (db.isEmpty) name else s"$db.$name"
      scala.util.Try(spark.catalog.listColumns(ident).collect()).toOption
        .getOrElse(Array.empty).zipWithIndex.map { case (c, i) =>
          (cat, db, name, c.name, i + 1, c.dataType, c.nullable)
        }
    }
    // v2 catalog tables: columns + nullability straight from the loaded
    // table's schema (DESCRIBE strings would hardcode nullability).
    val v2Cols = v2Loaded.flatMap { case (cat, ns, name, table) =>
      table.schema().fields.zipWithIndex.map { case (f, i) =>
        (cat, ns, name, f.name, i + 1, f.dataType.simpleString, f.nullable)
      }
    }
    val cols = sessionCols ++ v2Cols
    cols
      .toDF("table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "data_type", "is_nullable")
      .createOrReplaceTempView("__infoschema_columns")

    spark.conf.getAll.toSeq
      .toDF("name", "value")
      .createOrReplaceTempView("__infoschema_df_settings")
  }
}
