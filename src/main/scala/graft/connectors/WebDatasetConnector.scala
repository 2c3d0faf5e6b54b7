package graft.connectors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{LoadSpec, QuerySpec}
import graft.model.Canonical
import graft.ops.WebDataset

/** WebDataset tar shards as a MIGRATION endpoint (`"type":
  * "webdataset"`): the layout multimodal training corpora ship in
  * becomes a config-addressable source AND sink, so "index this corpus
  * into a vector store" and "export this collection as a training
  * corpus" are both one reviewed JSON block.
  *
  * Canonical mapping (one sample per record):
  *  - id ⇄ the sample key;
  *  - metadata ⇄ the `json` member (flat string map, Jackson round
  *    trip). READING a foreign corpus also lifts a `txt` member into
  *    `metadata["text"]` when the json carries none — the common
  *    caption/document layout. Non-textual json values (numbers,
  *    booleans, nested objects/arrays) are carried as their JSON
  *    serialization in the string map, and the keys that were typed are
  *    recorded in `metadata["__typed"]` (a JSON string array) — WRITING
  *    re-parses exactly those keys back into typed JSON, so a
  *    read → write round trip preserves value kinds for downstream
  *    webdataset consumers instead of silently stringifying `42` into
  *    `"42"`;
  *  - vector ⇄ the `vec.json` member (JSON float array; absent member =
  *    null vector). Binary members (`png`/`jpg`/`wav`/…) are NOT
  *    silently dropped on read: their BYTES stay out of the canonical
  *    record (metadata is a string map, not a payload store) but their
  *    presence is recorded as `metadata["__members"]` so a pipeline can
  *    route samples by modality; process payload bytes with
  *    [[graft.ops.WebDataset.readShards]] + the codec ops directly.
  *
  * `connection.path` is the corpus root; a collection is the
  * subdirectory `<path>/<collection>/shard-*.tar`. `load.options`:
  * `num_shards` (default 16). */
class WebDatasetConnector extends VectorConnector {
  override def name: String = "webdataset"
  override def takesDimension: Boolean = false

  private def dir(connection: Map[String, String], collection: String): String = {
    val root = connection.getOrElse("path",
      throw new graft.config.ConfigException("webdataset connector needs connection.path"))
    s"$root/$collection"
  }

  override def read(spark: SparkSession, connection: Map[String, String],
                    query: QuerySpec): DataFrame = {
    import spark.implicits._
    val samples = WebDataset.groupSamples(
      WebDataset.readShards(spark, s"${dir(connection, query.collection)}/*.tar"))
    var df = samples.select(col("key"), col("files"))
      .as[(String, Map[String, Array[Byte]])]
      .map { case (key, files) =>
        def utf8(ext: String): Option[String] =
          files.get(ext).map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8))
        val mapper = WebDatasetConnector.mapper
        val (fromJsonAll, typedKeys) = utf8("json").map { j =>
          val n = mapper.readTree(j)
          import scala.jdk.CollectionConverters._
          val entries = n.properties().asScala.map(e => e.getKey ->
            (if (e.getValue.isNull) null // a written JSON null must not read back as "null"
            else if (e.getValue.isTextual) e.getValue.asText()
            else e.getValue.toString)).toMap
          // typed keys (number/boolean/object/array) are remembered so the
          // write side can restore their JSON kind instead of stringifying
          val typed = n.properties().asScala.collect {
            case e if !e.getValue.isNull && !e.getValue.isTextual &&
              e.getKey != "__members" && e.getKey != "__typed" => e.getKey
          }.toSeq.sorted
          (entries, typed)
        }.getOrElse((Map.empty[String, String], Seq.empty[String]))
        // ACTUAL members and ACTUAL value kinds are authoritative — never
        // a stale claim serialized by an earlier export
        val fromJson = fromJsonAll - "__members" - "__typed" ++
          (if (typedKeys.nonEmpty)
            Map("__typed" -> mapper.writeValueAsString(typedKeys.toArray))
          else Map.empty)
        val txtLifted = !fromJson.contains("text") && files.contains("txt")
        val withTxt =
          if (txtLifted) fromJson ++ utf8("txt").map("text" -> _)
          else fromJson
        // every member must leave a trace: an UNLIFTED txt (the json
        // already carries 'text') is still a real member — record it in
        // __members with the payload exts rather than vanish
        val binaryExts = (files.keys.filterNot(Set("json", "vec.json")).toSet --
          (if (txtLifted) Set("txt") else Set.empty[String])).toSeq.sorted
        val meta =
          if (binaryExts.isEmpty) withTxt
          else withTxt + ("__members" -> binaryExts.mkString(","))
        val vector: Seq[Float] = utf8("vec.json").map { v =>
          val a = mapper.readTree(v)
          (0 until a.size()).map(i => a.get(i).floatValue())
        }.getOrElse(null)
        (key, vector, meta)
      }
      .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
    query.filter.foreach(f => df = df.filter(expr(f)))
    query.offset.filter(_ > 0).foreach(o => df = df.orderBy(Canonical.ID).offset(o.toInt))
    query.limit.foreach(l => df = df.limit(l.toInt))
    df
  }

  override def write(df: DataFrame, connection: Map[String, String],
                     load: LoadSpec): WriteReport = {
    val spark = df.sparkSession
    import spark.implicits._
    val numShards = load.options.get("num_shards")
      .map(v => v.toIntOption.filter(_ > 0).getOrElse(
        throw new graft.config.ConfigException(
          s"webdataset load option 'num_shards' must be a positive integer, got '$v'")))
      .getOrElse(16)
    val out = dir(connection, load.collection)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(out), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(out)
    if (load.recreate) {
      if (fs.exists(p)) fs.delete(p, true)
    } else if (fs.exists(p)) {
      // a shard SET has no append semantics: a second write with a
      // different num_shards (or fewer populated ids) would leave the
      // old run's surviving shards interleaved with the new ones under
      // the same glob — neither append nor replace, just silent
      // corruption. Refuse; recreate=true is the whole-set replace.
      throw new graft.config.ConfigException(
        s"webdataset collection '$out' already exists and shard sets have " +
          "no append semantics - set recreate=true to replace the corpus")
    }
    val samples = df
      .select(col(Canonical.ID), col(Canonical.VECTOR), col(Canonical.METADATA))
      .as[(String, Seq[Float], Map[String, String])]
      .map { case (id, vec, meta) =>
        // readShards splits sample keys at the FIRST dot, so an id
        // containing '.' would silently corrupt on round trip ('a.1' ->
        // key 'a', ext '1.json'); refuse rather than mangle
        if (id.contains('.'))
          throw new IllegalArgumentException(
            s"webdataset sample keys cannot contain '.' (id '$id'): the " +
              "format splits member names at the first dot - rename ids " +
              "before export (e.g. replace '.' with '_')")
        val mapper = WebDatasetConnector.mapper
        val files = scala.collection.mutable.Map.empty[String, Array[Byte]]
        files("json") = mapper.writeValueAsBytes({
          // __members is a READ-side synthesis (presence of payload
          // members this canonical projection does not carry) — writing
          // it would make a re-exported corpus claim members it lacks.
          // __typed is consumed here: the keys it lists are re-parsed
          // back into their JSON kind, so a read → write round trip
          // emits 42, true, and nested objects — not their quoted forms
          val all = Option(meta).getOrElse(Map.empty[String, String])
          // defensive like the per-value parse below: a FOREIGN corpus
          // (another connector's metadata) may carry a user key named
          // __typed whose value is not our JSON key array — keep it as the
          // ordinary string field it is rather than failing the export
          // task OR silently dropping the user's data. "Parses as a JSON
          // array" alone is NOT enough evidence (a foreign "[1,2]" would
          // be eaten and its siblings JSON-reparsed): the tag is honored
          // only when every element is a STRING and at least one names a
          // key PRESENT in this record's metadata — the shape our own
          // read side constructs. The INTERSECTION of listed and present
          // keys is what gets reparsed: a transform/projection that
          // dropped a listed key must not void the round trip for the
          // keys that survived (nor leak the stale tag into the export).
          // DELIBERATE tradeoff: a foreign string-array __typed naming
          // one coincidentally-present key is consumed by this rule —
          // accepted because __typed is this engine's own reserved name
          // and the stale-our-tag shape arises from documented transforms,
          // while the foreign shape requires a field literally named
          // __typed holding a JSON string array naming sibling keys
          val typedParsed: Option[Set[String]] = all.get("__typed").flatMap { t =>
            try {
              val a = mapper.readTree(t)
              if (a != null && a.isArray) {
                val els = (0 until a.size()).map(a.get)
                // nonEmpty too: our read side never writes an empty tag
                if (els.nonEmpty && els.forall(_.isTextual)) {
                  val present = els.map(_.asText()).filter(all.contains).toSet
                  if (present.nonEmpty) Some(present) else None
                } else None
              } else None
            } catch { case _: Exception => None }
          }
          val typedKeys: Set[String] = typedParsed.getOrElse(Set.empty)
          // strip __typed only when it WAS our type tag (it parsed); a
          // foreign string survives the round trip verbatim
          val m = all - "__members" --
            (if (typedParsed.isDefined) Seq("__typed") else Nil)
          val o = mapper.createObjectNode()
          m.foreach { case (k, v) =>
            if (v == null) o.putNull(k)
            else if (typedKeys(k))
              // defensive: a hand-edited value that no longer parses
              // falls back to the string it actually is
              try o.set[com.fasterxml.jackson.databind.JsonNode](k, mapper.readTree(v))
              catch { case _: Exception => o.put(k, v) }
            else o.put(k, v)
          }
          o
        })
        if (vec != null) {
          val a = WebDatasetConnector.mapper.createArrayNode()
          vec.foreach(a.add)
          files("vec.json") = mapper.writeValueAsBytes(a)
        }
        (id, files.toMap)
      }
      .toDF("key", "files")
    val n = WebDataset.writeShards(samples, out, numShards)
    WriteReport(written = n)
  }

  override def exists(spark: SparkSession, connection: Map[String, String],
                      collection: String): Boolean =
    pathExists(spark, dir(connection, collection))

  override def schemaInfo(spark: SparkSession, connection: Map[String, String],
                          collection: String): SchemaInfo = {
    val df = read(spark, connection, QuerySpec(collection = collection))
    val dim = Canonical.inferDim(df.select(col(Canonical.VECTOR)))
    SchemaInfo(collection, Canonical.schema, dim, distance = None)
  }
}

object WebDatasetConnector {
  private[connectors] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
