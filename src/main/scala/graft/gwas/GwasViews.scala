package graft.gwas

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's interactive query surface (gwasDB/app.R) as SQL
  * views: app.R serves dbplyr queries over the `combined` view and the
  * base tables; here the same names become Spark temp views, so every
  * app.R query is a `spark.sql` one-liner (and a Spark Connect / JDBC
  * client sees them the same way once a server wraps this session).
  *
  * Views are lazy logical plans — registering costs nothing, and a
  * region query through `combined` still pushes its chr/pos predicates
  * into the parquet scan exactly like the DataFrame form.
  */
object GwasViews {

  /** Register the gwasDB schema (gwas_ddl.sql) + the `combined` export
    * view (postgres_process.Rmd:137) under their reference names. */
  def register(spark: SparkSession, b37: DataFrame, marker: DataFrame,
               study: DataFrame, gwas: DataFrame,
               noGwasResult: Option[DataFrame] = None): Unit = {
    b37.createOrReplaceTempView("b37")
    marker.createOrReplaceTempView("marker")
    study.createOrReplaceTempView("study")
    gwas.createOrReplaceTempView("gwas")
    noGwasResult.foreach(_.createOrReplaceTempView("no_gwas_result"))
    GwasOps.combinedView(gwas, b37, study).createOrReplaceTempView("combined")
  }

  /** app.R's region query (app.R:82-87) over the registered views —
    * the SQL form of GwasOps.regionQuery ∘ combinedView. */
  def regionSql(chr: Int, start: Int, end: Int): String =
    s"SELECT * FROM combined WHERE chr = $chr AND pos BETWEEN $start AND $end"

  /** app.R's marker search (app.R:96-101). The pattern becomes a SQL
    * string literal, whose unescaping would eat its backslashes (`\d`
    * → `d`) and end at its first quote, so both are escaped. */
  def markerSearchSql(pattern: String): String = {
    val literal = pattern.replace("\\", "\\\\").replace("'", "\\'")
    s"SELECT kgp_id, chr, pos FROM b37 WHERE kgp_id RLIKE '$literal' ORDER BY chr, pos"
  }
}
