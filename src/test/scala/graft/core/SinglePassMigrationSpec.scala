package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.SparkSpec
import graft.config.MigrationConfig
import graft.connectors.vectorstore._
import graft.model.Canonical

/** A migration reads its source once: the write is the only full pass.
  * The other actions of a run (empty-extract guard, dimension probe, scan
  * planning) stay bounded and carry no data nobody uses. */
class SinglePassMigrationSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  /** A pipeline step that counts every row it evaluates. */
  private def counting(acc: LongAccumulator): DataFrame => DataFrame = { df =>
    val seen = udf { (_: String) => acc.add(1L); true }.asNondeterministic()
    df.filter(seen(col(Canonical.ID)))
  }

  for (sink <- Seq("parquet", "csv", "json"))
    test(s"parallel migration into $sink evaluates each source row exactly once") {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-once-$sink").toString
      val cfg = MigrationConfig.fromJson(
        s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
           |            "query": {"table_name": "embeddings", "id_column": "vec_id",
           |                      "vector_column": "embedding",
           |                      "metadata_columns": ["label"]}},
           | "target": {"type": "$sink", "connection": {"path": "$tmp"},
           |            "load": {"collection": "once", "recreate": true,
           |                     "parallelism": 4}}}""".stripMargin)
      val acc = spark.sparkContext.longAccumulator(s"rows-evaluated-$sink")
      val report = new Migrator(spark).run(cfg, Some(counting(acc)))
      assert(report.success && report.written == 500, report)
      assert(acc.value == 500L, s"the pipeline evaluated ${acc.value} rows for 500 source rows")
    }

  test("qdrant -> pinecone wire migration: one full source walk, dimension from the pipeline") {
    val src = new QdrantWireServer(new InMemoryStore)
    val dst = new PineconeWireServer(new InMemoryStore)
    try {
      val n = 600
      val seed = new QdrantWireTransport(src.url)
      seed.createCollection("items", CollectionConfig(dim = 16), recreate = true)
      seed.upsert("items", (0 until n).map(i =>
        VSRecord(s"$i", Array.tabulate(16)(j => (i + j).toFloat), Map("k" -> s"${i % 3}"))))
      val cfg = MigrationConfig.fromJson(
        s"""{"source": {"type": "qdrant",
           |            "connection": {"url": "${src.url}", "page_size": "100",
           |                           "cursor_parallelism": "4"},
           |            "query": {"collection": "items"}},
           | "target": {"type": "pinecone", "connection": {"url": "${dst.url}"},
           |            "load": {"collection": "mig::t", "recreate": true,
           |                     "parallelism": 4}}}""".stripMargin)
      val truncate: DataFrame => DataFrame =
        _.withColumn(Canonical.VECTOR, slice(col(Canonical.VECTOR), 1, 8))
      val report = new Migrator(spark).run(cfg, Some(truncate))
      assert(report.success && report.written == n, report)
      assert(new PineconeWireTransport(dst.url).describe("mig::t").map(_.dim).contains(8))

      val bodies = src.bodiesOf("POST /collections/items/points/scroll").map(mapper.readTree)
      val (data, idsOnly) = bodies.partition(_.get("with_vector").asBoolean())
      // scan planning probes ids only
      assert(idsOnly.nonEmpty && idsOnly.forall(!_.get("with_payload").asBoolean()),
        bodies.mkString("\n"))
      assert(data.forall(_.get("with_payload").asBoolean()))
      // one full walk: every continuation page is fetched exactly once (a
      // second full read of the source would repeat each of them) ...
      val continuations = data.filter(_.has("offset")).map(_.toString)
      assert(continuations.nonEmpty && continuations.distinct.size == continuations.size,
        continuations.groupBy(identity).filter(_._2.size > 1).keys.mkString("\n"))
      // ... and besides the walk's own head page per slice (4 id slices +
      // the catch-all), only the guard (one record: its limit is pushed)
      // and the dimension probe read a head page
      val heads = data.filterNot(_.has("offset"))
      assert(heads.size <= 5 + 2, heads.mkString("\n"))
      assert(heads.count(_.get("limit").asInt() == 1) == 1, heads.mkString("\n"))
    } finally { src.stop(); dst.stop() }
  }

  test("the slice probe asks the qdrant wire for ids only, and the emulator omits the data") {
    val server = new QdrantWireServer(new InMemoryStore)
    try {
      val t = new QdrantWireTransport(server.url)
      t.createCollection("probe", CollectionConfig(dim = 2), recreate = true)
      t.upsert("probe", (0 until 300).map(i =>
        VSRecord(s"$i", Array(i.toFloat, 1f), Map("k" -> "v"))))
      val df = spark.read.format("graft-qdrant").option("url", server.url)
        .option("collection", "probe").option("page_size", "100")
        .option("cursor_parallelism", "4").load()
      assert(df.rdd.getNumPartitions == 5) // 4 id slices + the catch-all
      val probe = server.bodyOf("POST /collections/probe/points/scroll").get
      assert(probe.contains("\"with_vector\":false") &&
        probe.contains("\"with_payload\":false"), probe)
      // the same request, replayed raw: bare ids come back
      val client = java.net.http.HttpClient.newHttpClient()
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"${server.url}/collections/probe/points/scroll"))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(probe)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val pts: JsonNode = mapper.readTree(resp.body()).get("result").get("points")
      assert(pts.size() == 100, resp.body())
      assert((0 until pts.size()).forall { i =>
        val p = pts.get(i)
        p.has("id") && !p.has("vector") && !p.has("payload")
      }, resp.body())
    } finally server.stop()
  }
}
