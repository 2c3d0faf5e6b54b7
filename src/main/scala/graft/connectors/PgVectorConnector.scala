package graft.connectors

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._
import graft.config.{LoadSpec, QuerySpec}
import graft.model.Canonical

/** pgvector text codec: `vector` columns travel as text `[x,y,z]`
  * (the same representation the reference round-trips:
  * `list(row[1])` on extract `adapters/pgvector.py:120`, `'[...]'::vector`
  * literals on load `adapters/pgvector.py:213-218`). Pure column
  * expressions — codegen'd, no UDF. */
object PgVectorCodec {
  /** `'[0.1,0.2]'` → array<float>; null/empty-safe. */
  def textToVector(c: Column): Column =
    when(c.isNull || length(trim(c)) === 0, lit(null).cast(ArrayType(FloatType)))
      .otherwise(transform(
        split(regexp_replace(trim(c), "^\\[|\\]$", ""), ","),
        x => trim(x).cast("float")))

  /** array<float|double> → `'[0.1,0.2]'` text literal. */
  def vectorToText(c: Column): Column =
    when(c.isNull, lit(null).cast(StringType))
      .otherwise(concat(lit("["), concat_ws(",", transform(c, _.cast("string"))), lit("]")))

  /** JVM-side twin of [[vectorToText]] for values decoded OFF-plan (the
    * wire client's binary result path): downstream always re-parses via
    * [[textToVector]], so only the float values must survive — Scala's
    * shortest-round-trip Float rendering guarantees exactly that. */
  def renderText(v: Array[Float]): String =
    if (v == null) null else v.mkString("[", ",", "]")
}

/** JDBC dialect for PostgreSQL+pgvector: maps the `vector` UDT to text on
  * read (decoded by [[PgVectorCodec]]) and emits `VECTOR(d)` DDL on write
  * — the Spark-native version of the reference's hand-built DDL
  * (`adapters/pgvector.py:180-196`). */
class PgVectorDialect(vectorDim: Int) extends JdbcDialect {
  override def canHandle(url: String): Boolean = url.startsWith("jdbc:postgresql")

  override def getCatalystType(sqlType: Int, typeName: String, size: Int,
                               md: org.apache.spark.sql.types.MetadataBuilder): Option[DataType] =
    if (typeName == "vector") Some(StringType) else None

  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      Some(JdbcType(s"VECTOR($vectorDim)", java.sql.Types.OTHER))
    case _ => None
  }
}

/** pgvector connector over Spark's built-in JDBC source.
  *
  * Reads are partitioned on the numeric id column when bounds are supplied
  * (`partitions`/`lower_bound`/`upper_bound` connection keys) — the scale
  * upgrade over the reference's single-connection fetch-all
  * (`adapters/pgvector.py:64-132`). Filter/projection/limit are embedded in
  * a pushdown `query`, exactly the SELECT the reference builds by string
  * concat (`adapters/pgvector.py:94-108`) — but parameterized per
  * partition by Spark.
  *
  * There is no live PostgreSQL in this environment; the SQL generation and
  * the codec are spec-tested, the JDBC wiring follows the stock
  * `spark.read.jdbc` path.
  */
object PgVectorConnector {
  private var installed: Option[PgVectorDialect] = None

  /** Register the dialect once per dim; re-registration with a new dim
    * replaces the old instance instead of accumulating dialects in
    * Spark's global registry. */
  def installDialect(dim: Int): Unit = synchronized {
    installed.foreach(JdbcDialects.unregisterDialect)
    val d = new PgVectorDialect(dim)
    JdbcDialects.registerDialect(d)
    installed = Some(d)
  }
}

class PgVectorConnector extends VectorConnector {
  override def name: String = "pgvector"

  /** The WIRE face upserts by id (each batch is one atomic
    * delete-then-insert statement — [[PgWireFace.write]]), so the
    * incremental migrator SHIPS changed records to it instead of
    * withholding them; the JDBC face stays insert-only (Spark's JDBC
    * sink appends — applying an update there would duplicate the id). */
  override def upsertsById(connection: Map[String, String]): Boolean =
    PgWireFace.enabled(connection)

  /** Identifier whitelist — the reference interpolates unvalidated strings
    * into SQL (`adapters/pgvector.py:96-108`, an injection hazard SURVEY §2
    * flags); we hard-reject non-identifier names instead. */
  private def ident(s: String): String = {
    require(s.matches("[A-Za-z_][A-Za-z0-9_.]*"), s"invalid SQL identifier: $s")
    s
  }

  private[connectors] def buildSelect(q: QuerySpec): String = buildSelect(q, rawVector = false)

  /** `rawVector = true` drops the `::text` cast on the vector column —
    * the wire face's BINARY read path wants the column in its own type
    * so a real `vector` column crosses as float4s (pgvector binary
    * `vector_send`), not as decimal text; on a TEXT-column fallback
    * table the no-cast projection is identical. The JDBC path always
    * casts (its reader has no vector decoder). */
  private[connectors] def buildSelect(q: QuerySpec, rawVector: Boolean): String = {
    val vecSel = (v: String) =>
      if (rawVector) ident(v) else s"${ident(v)}::text AS ${ident(v)}"
    val cols = (Seq(ident(q.idColumn)) ++ q.vectorColumn.map(vecSel).toSeq
      ++ q.metadataColumns.map(ident)).mkString(", ")
    val where = q.filter.map(f => s" WHERE $f").getOrElse("")
    val limit = q.limit.map(l => s" LIMIT $l").getOrElse("")
    val offset = q.offset.filter(_ > 0).map(o => s" OFFSET $o").getOrElse("")
    s"SELECT $cols FROM ${ident(q.collection)}$where$limit$offset"
  }

  private def jdbcUrl(connection: Map[String, String]): String =
    connection.getOrElse("url", {
      val host = connection.getOrElse("host", "localhost")
      val port = connection.getOrElse("port", "5432")
      val db = connection.getOrElse("database", "postgres")
      s"jdbc:postgresql://$host:$port/$db"
    })

  override def read(spark: SparkSession, connection: Map[String, String],
                    query: QuerySpec): DataFrame = {
    // `"protocol": "wire"` routes the data path through the engine's own
    // v3-protocol client ([[PgWireFace]]) — same SELECT builder, same
    // codec, no JDBC driver jar needed (and live-server-tested here,
    // which the JDBC path cannot be)
    if (PgWireFace.enabled(connection)) return PgWireFace.read(spark, connection, query)
    // dbtable-with-subquery (not the `query` option) so partitionColumn
    // range splitting stays available
    val reader = spark.read.format("jdbc")
      .option("url", jdbcUrl(connection))
      .option("dbtable", s"(${buildSelect(query)}) graft_scan")
      .option("user", connection.getOrElse("user", "postgres"))
      .option("password", connection.getOrElse("password", ""))
    // partitioned scan over the id range when declared
    val partitioned = (connection.get("partitions"), connection.get("lower_bound"),
      connection.get("upper_bound")) match {
      case (Some(n), Some(lo), Some(hi)) => reader
        .option("partitionColumn", query.idColumn)
        .option("numPartitions", n).option("lowerBound", lo).option("upperBound", hi)
      case _ => reader
    }
    val raw = partitioned.load()
    val decoded = query.vectorColumn.foldLeft(raw)((d, v) =>
      d.withColumn(v, PgVectorCodec.textToVector(col(v))))
    Canonical.from(decoded, query.idColumn, query.vectorColumn, query.metadataColumns)
  }

  /** The write codec's inverse: [[write]] renames id/vector to the load
    * spec's columns and flattens the canonical metadata map to a
    * `to_json` string column named `metadata` — a plain read would both
    * miss renamed columns and return an EMPTY map (hash-mismatching
    * every metadata-bearing row in the incremental migrator, which then
    * re-appends the whole collection per run). */
  override def readBack(spark: SparkSession, connection: Map[String, String],
                        load: LoadSpec): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    read(spark, connection, QuerySpec(collection = load.collection,
      idColumn = load.idColumn, vectorColumn = Some(load.vectorColumn),
      metadataColumns = Seq("metadata")))
      .withColumn(Canonical.METADATA, coalesce(
        from_json(element_at(col(Canonical.METADATA), "metadata"),
          MapType(StringType, StringType)),
        map().cast(MapType(StringType, StringType))))
  }

  override def write(df: DataFrame, connection: Map[String, String],
                     load: LoadSpec): WriteReport = {
    if (PgWireFace.enabled(connection)) return PgWireFace.write(df, connection, load)
    val dim = load.dimension.orElse(Canonical.inferDim(df)).getOrElse(0)
    PgVectorConnector.installDialect(dim)
    val out = df.select(
      col(Canonical.ID).as(load.idColumn),
      PgVectorCodec.vectorToText(col(Canonical.VECTOR)).as(load.vectorColumn),
      to_json(col(Canonical.METADATA)).as("metadata"))
    val counter = new ObservedRowCount(out, "pgv")
    counter.observed.write.format("jdbc")
      .option("url", jdbcUrl(connection))
      .option("dbtable", load.collection)
      .option("user", connection.getOrElse("user", "postgres"))
      .option("password", connection.getOrElse("password", ""))
      .option("createTableColumnTypes",
        s"${load.vectorColumn} VECTOR($dim)")
      .option("batchsize", load.batchSize.toString)
      .mode(if (load.recreate) SaveMode.Overwrite else SaveMode.Append)
      .save()
    WriteReport(written = counter.rows)
  }

  /** information_schema match for a table reference: Postgres stores
    * UNQUOTED identifiers case-folded to lowercase, and the JDBC write
    * path ships `dbtable` unquoted — so the probe must match the FOLDED
    * name or an existing 'MyTable' target reads as absent (and the
    * incremental migrator would full-copy re-append). The verbatim name
    * is matched too (a foreign tool may have created it quoted), and a
    * `schema.table` reference constrains `table_schema`. Both parts are
    * ident-whitelisted before interpolation. */
  private[connectors] def catalogPredicate(collection: String,
                                           mode: String = "either",
                                           firstVisibleOnly: Boolean = false): String = {
    val c = ident(collection)
    require(!c.endsWith("."), s"invalid table reference (trailing dot): $c")
    val parts = c.split('.')
    require(parts.length <= 2,
      s"cross-database references are unsupported (use schema.table): $c")
    val table = parts.last
    val schema = if (parts.length == 2) Some(parts.head) else None
    def matches(colName: String, v: String) = {
      // Locale.ROOT: a tr_TR default locale folds 'I' to dotless 'ı',
      // which matches neither Postgres's fold nor anything else
      val folded = v.toLowerCase(java.util.Locale.ROOT)
      val names = mode match {
        case "verbatim" => Seq(v)
        case "folded" => Seq(folded)
        case _ => Seq(v, folded)
      }
      s"$colName IN (${names.distinct.map(x => s"'$x'").mkString(", ")})"
    }
    // unqualified references resolve along the connection's search_path —
    // so the probe must too: without the constraint a same-named relation
    // in ANY schema (views included) reads as present, and the incremental
    // migrator's read-back of the invisible "existing" table then fails a
    // valid first migration. ANY(current_schemas(false)) is MEMBERSHIP
    // (existence: any visible match IS existence); column introspection
    // needs the FIRST schema in resolution order instead — with the same
    // table name in two visible schemas, a membership match would
    // interleave both schemas' columns into one garbled SchemaInfo while
    // the unqualified read resolves only the first. firstVisibleOnly
    // pins table_schema to the first search_path entry holding the table,
    // exactly Postgres's own resolution.
    val unqualified =
      if (firstVisibleOnly)
        " AND table_schema = (SELECT s.n FROM unnest(current_schemas(false))" +
          " WITH ORDINALITY AS s(n, ord) WHERE EXISTS (SELECT 1 FROM" +
          " information_schema.tables t2 WHERE t2.table_schema = s.n AND " +
          matches("t2.table_name", table) + ") ORDER BY s.ord LIMIT 1)"
      else " AND table_schema = ANY (current_schemas(false))"
    matches("table_name", table) +
      schema.map(s => " AND " + matches("table_schema", s)).getOrElse(unqualified)
  }

  /** Catalog-definitive: zero information_schema rows = absent (NOTE the
    * same query inside [[schemaInfo]] does NOT throw for a missing table —
    * it returns an empty schema — so a Try-around-schemaInfo probe would
    * misreport missing pg tables as present); JDBC faults propagate. */
  override def exists(spark: SparkSession, connection: Map[String, String],
                      collection: String): Boolean =
    if (PgWireFace.enabled(connection)) PgWireFace.exists(connection, collection)
    else spark.read.format("jdbc")
      .option("url", jdbcUrl(connection))
      .option("query",
        s"SELECT 1 FROM information_schema.tables WHERE ${catalogPredicate(collection)}")
      .option("user", connection.getOrElse("user", "postgres"))
      .option("password", connection.getOrElse("password", ""))
      .load().limit(1).count() > 0

  override def schemaInfo(spark: SparkSession, connection: Map[String, String],
                          collection: String): SchemaInfo = {
    if (PgWireFace.enabled(connection)) return PgWireFace.schemaInfo(connection, collection)
    // information_schema introspection (adapters/pgvector.py:244-289).
    // TWO-STEP name resolution, unlike exists(): a column query against
    // IN ('Name', 'name') could match a quoted-mixed-case table AND the
    // folded one at once and silently interleave their columns into one
    // garbled schema — so the verbatim name is tried first, then the
    // Postgres-folded name only if verbatim matched nothing. exists()
    // keeps the combined IN: either match IS existence.
    // firstVisibleOnly: an unqualified name present in TWO visible schemas
    // must introspect only the first in search_path order (what the
    // unqualified read resolves), not interleave both column sets
    def columnsOf(mode: String) = spark.read.format("jdbc")
      .option("url", jdbcUrl(connection))
      .option("query",
        s"SELECT column_name, data_type, udt_name FROM information_schema.columns " +
          s"WHERE ${catalogPredicate(collection, mode, firstVisibleOnly = true)} " +
          "ORDER BY ordinal_position")
      .option("user", connection.getOrElse("user", "postgres"))
      .option("password", connection.getOrElse("password", ""))
      .load().collect()
    val rows = {
      val verbatim = columnsOf("verbatim")
      if (verbatim.nonEmpty) verbatim else columnsOf("folded")
    }
    val fields = rows.map { r =>
      val dt = r.getString(2) match {
        case "vector" => ArrayType(FloatType)
        case "int4" | "int8" => LongType
        case "float4" | "float8" => DoubleType
        case _ => StringType
      }
      StructField(r.getString(0), dt)
    }
    SchemaInfo(collection, StructType(fields), vectorDim = None, distance = None)
  }
}
