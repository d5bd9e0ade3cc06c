package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graft")` / `.write.format("graft")` —
  * DataSourceV2 TableProvider over LakeTable (see GraftTable for the
  * scan/write shapes). Options: `path` (required), `version`
  * (optional time travel on read).
  *
  * Save-mode semantics follow the V2 contract: `overwrite` replaces
  * the table (new version 0), `append` appends a file group (creates
  * at version 0 when absent); `errorifexists`/`ignore` are rejected
  * by Spark for path-based V2 writes, as for other lakehouse
  * connectors.
  */
class DefaultSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(options: util.Map[String, String]): String = {
    val p = options.get("path")
    if (p == null) throw new IllegalArgumentException("graft source requires a path")
    p
  }

  private def versionOf(options: util.Map[String, String]): Option[Long] =
    Option(options.get("version")).map(_.toLong)

  private def changeFeed(options: util.Map[String, String]): Boolean =
    "true".equalsIgnoreCase(String.valueOf(options.get("readChangeFeed")))

  /** Empty: each table reads its schema from the state `getTable`
    * resolves, so a path read resolves the head once.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val spark = org.apache.spark.sql.graftglue.Glue.activeSession
    val (path, version) = (pathOf(properties), versionOf(properties))
    // With authorization on, remote tenants may not sidestep the
    // catalog's grants via path-based access (no-op otherwise).
    graft.GraftAuthz.guardPathAccess(spark, path)
    if (changeFeed(properties)) new GraftCdcTable(path)
    else new GraftTable(path, version, Option(schema),
      LakeTable.head(spark, path).map(h => version.fold(h)(LakeTable.at(spark, path, h, _))))
  }
}
