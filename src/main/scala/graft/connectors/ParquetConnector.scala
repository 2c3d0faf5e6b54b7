package graft.connectors

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{LoadSpec, QuerySpec}
import graft.model.Canonical

/** Parquet-backed connector: the lakehouse source/sink and the hermetic
  * stand-in for the network DBs in tests. `connection.path` is the root
  * directory; a collection is `<path>/<name>.parquet` (matching the
  * driver's testdata layout).
  *
  * Scan pushdown is Catalyst-native: the projection/filter/limit declared
  * in the QuerySpec become `select`/`filter`/`limit` on a lazy scan, so
  * `PushedFilters`/`ReadSchema` reach the parquet reader — the Spark
  * upgrade of the reference's string-concat pushdown
  * (`adapters/pgvector.py:94-108`).
  */
class ParquetConnector extends VectorConnector {
  override def name: String = "parquet"
  override def takesDimension: Boolean = false

  private def path(connection: Map[String, String], collection: String): String = {
    val root = connection.getOrElse("path",
      throw new graft.config.ConfigException("parquet connector needs connection.path"))
    if (collection.endsWith(".parquet")) s"$root/$collection" else s"$root/$collection.parquet"
  }

  override def read(spark: SparkSession, connection: Map[String, String],
                    query: QuerySpec): DataFrame = {
    var df = spark.read.parquet(path(connection, query.collection))
    // filter BEFORE canonical projection so predicates reference source
    // columns and push down to the scan (reference pushes the raw WHERE
    // string the same way, adapters/pgvector.py:99-100)
    query.filter.foreach(f => df = df.filter(expr(f)))
    val vecCol = query.vectorColumn.filter(df.columns.contains)
    df = Canonical.from(df, query.idColumn, vecCol, query.metadataColumns)
    // offset only meaningful with a deterministic order — sort by id like
    // the reference's single-threaded OFFSET (SURVEY §7.4 documents the
    // divergence for partitioned scans)
    query.offset.filter(_ > 0).foreach(o => df = df.orderBy(Canonical.ID).offset(o.toInt))
    query.limit.foreach(l => df = df.limit(l.toInt))
    df
  }

  override def write(df: DataFrame, connection: Map[String, String],
                     load: LoadSpec): WriteReport = {
    val mode = if (load.recreate) SaveMode.Overwrite else SaveMode.Append
    val counter = new ObservedRowCount(df, "parquet")
    counter.observed.write.mode(mode).parquet(path(connection, load.collection))
    WriteReport(written = counter.rows)
  }

  override def exists(spark: SparkSession, connection: Map[String, String],
                      collection: String): Boolean =
    pathExists(spark, path(connection, collection))

  override def schemaInfo(spark: SparkSession, connection: Map[String, String],
                          collection: String): SchemaInfo = {
    val df = spark.read.parquet(path(connection, collection))
    val dim = if (df.columns.contains(Canonical.VECTOR)) Canonical.inferDim(
      df.select(col(Canonical.VECTOR))) else None
    SchemaInfo(collection, df.schema, dim, distance = None)
  }
}
