package graft.connectors

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{LoadSpec, QuerySpec}
import graft.model.Canonical

/** In-memory connector: collections are driver-held row lists. Test double
  * for the network backends — the Spark twin of the reference's
  * `MockAdapter` (`tests/test_core.py:15-41`). Not for production data
  * volumes (driver memory), which is exactly its job: hermetic specs.
  */
object MemoryStore {
  private val collections = new ConcurrentHashMap[String, (Seq[Row], Map[String, String])]()

  def put(name: String, rows: Seq[Row], props: Map[String, String] = Map.empty): Unit =
    collections.put(name, (rows, props))
  def get(name: String): Option[(Seq[Row], Map[String, String])] = Option(collections.get(name))
  def drop(name: String): Unit = collections.remove(name)
  def clear(): Unit = collections.clear()
}

class MemoryConnector extends VectorConnector {
  override def name: String = "memory"
  override def takesDimension: Boolean = false

  override def read(spark: SparkSession, connection: Map[String, String],
                    query: QuerySpec): DataFrame = {
    val (rows, _) = MemoryStore.get(query.collection)
      .getOrElse(throw new graft.config.ConfigException(
        s"memory collection not found: ${query.collection}"))
    var df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList), Canonical.schema)
    query.filter.foreach(f => df = df.filter(expr(f)))
    query.offset.filter(_ > 0).foreach(o => df = df.orderBy(Canonical.ID).offset(o.toInt))
    query.limit.foreach(l => df = df.limit(l.toInt))
    df
  }

  override def write(df: DataFrame, connection: Map[String, String],
                     load: LoadSpec): WriteReport = {
    val rows = df.collect().toSeq
    val existing = if (load.recreate) Nil else MemoryStore.get(load.collection).map(_._1).getOrElse(Nil)
    MemoryStore.put(load.collection, existing ++ rows,
      Map("distance" -> load.distance) ++ load.options)
    WriteReport(written = rows.length.toLong)
  }

  override def exists(spark: SparkSession, connection: Map[String, String],
                      collection: String): Boolean =
    MemoryStore.get(collection).isDefined

  override def schemaInfo(spark: SparkSession, connection: Map[String, String],
                          collection: String): SchemaInfo = {
    val (rows, props) = MemoryStore.get(collection)
      .getOrElse(throw new graft.config.ConfigException(s"memory collection not found: $collection"))
    // rows may be schemaless Rows — access the vector positionally
    val dim = rows.iterator.map(_.get(1).asInstanceOf[scala.collection.Seq[Float]])
      .collectFirst { case v if v != null && v.nonEmpty => v.length }
    SchemaInfo(collection, Canonical.schema, dim, props.get("distance"), props)
  }
}
