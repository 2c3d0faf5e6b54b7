package perfbench

import java.io.File
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config.{LoadSpec, MigrationConfig, QuerySpec}
import graft.connectors.ConnectorRegistry
import graft.connectors.vectorstore.{CollectionConfig, PineconeWireServer, QdrantWireServer}
import graft.core.{Migrator, RunReport, Validator}
import graft.model.Canonical

/** An output check that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Shared state of one benchmark process. */
final class Ctx(val seed: Long, val root: File, val work: File, val tracer: Tracer) {
  /** Spark's local core count (`SPARK_GRAFT_CPUS`). */
  def cpus: Int = graft.GraftSession.cpus
  var spark: SparkSession = _
  var probe: EngineProbe = _
  var attempted = 0
  var failed = 0
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  /** One user job: `work` is timed, `verify` (untimed) checks its output.
    * A throw from either counts the job as failed and is rethrown. */
  def job[A](name: String)(work: => A)(verify: A => Unit): (A, Double) = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val a = tracer.span(s"job.$name")(work)
      val s = (System.nanoTime() - t0) / 1e9
      verify(a)
      (a, s)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        throw e
    }
  }

  def path(parts: String*): String = parts.foldLeft(work)(new File(_, _)).getAbsolutePath
}

/** One closed-loop cycle: each user job's wall time, which of the jobs
  * are `Migrator.run` calls, and the rows those wrote. */
final case class Cycle(jobs: Seq[(String, Double)], migrateJobs: Set[String],
                       migrateRows: Long) {
  def total: Double = jobs.map(_._2).sum
  def migrateSeconds: Double = jobs.filter(j => migrateJobs(j._1)).map(_._2).sum
  def ++(o: Cycle): Cycle =
    Cycle(jobs ++ o.jobs, migrateJobs ++ o.migrateJobs, migrateRows + o.migrateRows)
}

trait Workload {
  def ctx: Ctx
  /** Generate inputs, boot backends, load the source: phase -> seconds. */
  def setup(): Map[String, Double]
  def teardown(): Unit
  /** One closed-loop cycle of the user jobs. With the tracer active it
    * also routes connector traffic through byte-counting relays and
    * records per-layer counts into the tracer. */
  def cycle(): Cycle
  /** Per-layer probes: each layer's public entry point called alone. */
  def probes(): Map[String, Double]
  /** Untimed cycles before measuring: class loading, JIT, codegen caches. */
  def warmupCycles: Int = 1
  /** Timed cycles per run at least, however short `--seconds` is. */
  def minTimedCycles: Int = 1

  protected def spark: SparkSession = ctx.spark
  protected def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  /** Full evaluation of every column without I/O: Spark's noop sink. */
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  protected def checkReport(r: RunReport, expected: Long): Unit = {
    ctx.check(r.success, s"migration failed: ${r.error.getOrElse("?")}")
    ctx.check(r.written == expected, s"wrote ${r.written} rows, generated $expected")
  }

  protected def checkValidation(rows: Array[Row], expected: Long): Unit = {
    val bad = rows.filterNot(_.getAs[Boolean]("passed"))
    ctx.check(bad.isEmpty, "validation failed: " +
      bad.map(r => s"${r.getAs[String]("check")}=${r.getAs[Long]("value")}").mkString(", "))
    val target = rows.find(_.getAs[String]("check") == "rows_target").map(_.getAs[Long]("value"))
    ctx.check(target.contains(expected), s"target holds $target rows, expected $expected")
  }

  /** `Migrator.run` as a user job. Traced, it also splits the run: time
    * before the sink write starts, and Spark jobs per migration. */
  protected def migrate(job: String, cfg: MigrationConfig)(
      verify: RunReport => Unit): (RunReport, Double) = {
    val t = ctx.tracer
    if (!t.active) return ctx.job(job)(new Migrator(spark).run(cfg))(verify)
    val p = ctx.probe
    p.settle()
    val execsBefore = p.executions.size()
    val entry = System.currentTimeMillis()
    val res = ctx.job(job)(t.span("core.Migrator.run")(new Migrator(spark).run(cfg)))(verify)
    val exit = System.currentTimeMillis()
    p.settle()
    import scala.jdk.CollectionConverters._
    val execs = p.executions.asScala.drop(execsBefore)
      .filter { case (_, s, e) => s >= entry && e <= exit }
    // the sink write is the longest action of the run; everything before
    // its start (probes, dimension inference, observations) is pre-write
    val writeStart = if (execs.isEmpty) exit else execs.maxBy(x => x._3 - x._2)._2
    t.count("core.pre_write_s", (writeStart - entry) / 1e3)
    t.count("core.jobs_per_migrate", p.jobStarts.asScala.count(s => s >= entry && s <= exit))
    res
  }

  /** `Validator.validateMigration` plus consuming its report. */
  protected def validate(job: String, cfg: MigrationConfig, expected: Long): Double =
    ctx.job(job)(ctx.tracer.span("core.Validator.validateMigration")(
      Validator.validateMigration(spark, cfg).collect()))(checkValidation(_, expected))._2
}

object Workloads {
  val Dim = 256

  def apply(name: String, ctx: Ctx): Workload = name match {
    // one cycle alone varies by ~15% between runs under CPU steal; the
    // median (mean) of two damps that
    case "vector_migrate" =>
      new Combined(ctx, Seq(new WireMigrate(ctx, 1500), new PgLoad(ctx, 4000)), minTimedCycles = 2)
    case "corpus_curate" => new CorpusCurate(ctx, 300)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Several workloads run back to back as one: set-up phases add up, and a
  * cycle runs each part's jobs in turn. */
final class Combined(val ctx: Ctx, parts: Seq[Workload], override val minTimedCycles: Int)
    extends Workload {
  def setup(): Map[String, Double] = parts.map(_.setup()).reduce { (a, b) =>
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
  }
  def teardown(): Unit = parts.foreach(p => try p.teardown() catch { case NonFatal(_) => () })
  def cycle(): Cycle = parts.map(_.cycle()).reduce(_ ++ _)
  def probes(): Map[String, Double] = parts.map(_.probes()).reduce(_ ++ _)
  override def warmupCycles: Int = parts.map(_.warmupCycles).max
}

/** Qdrant-dialect source -> Pinecone-dialect sink over loopback HTTP. */
final class WireMigrate(val ctx: Ctx, n: Int) extends Workload {
  private var srcStore: CountingStore = _
  private var src: QdrantWireServer = _
  private var dst: PineconeWireServer = _
  private var dstStore: CountingStore = _

  def setup(): Map[String, Double] = {
    var recs: Array[graft.connectors.vectorstore.VSRecord] = null
    val gen = timed { recs = Gen.vectors(n, Workloads.Dim, ctx.seed) }
    val boot = timed { srcStore = new CountingStore; src = new QdrantWireServer(srcStore) }
    val load = timed {
      srcStore.createCollection("items", CollectionConfig("Cosine", Workloads.Dim), recreate = true)
      srcStore.upsert("items", recs.toSeq)
    }
    Map("generate_s" -> gen, "backend_boot_s" -> boot, "load_s" -> load)
  }

  def teardown(): Unit = {
    Option(src).foreach(_.stop()); Option(dst).foreach(_.stop())
    src = null; dst = null
  }

  /** A fresh target endpoint per migration: the loopback server keeps
    * every request body, and a long-lived one would grow without bound. */
  private def freshTarget(): Unit = {
    Option(dst).foreach(_.stop())
    dstStore = new CountingStore
    dst = new PineconeWireServer(dstStore)
  }

  private def config(srcUrl: String, dstUrl: String): MigrationConfig = MigrationConfig.fromJson(
    s"""{"source": {"type": "qdrant", "connection": {"url": "$srcUrl"},
       |            "query": {"collection": "items"}},
       | "pipeline": [{"transform": "normalize_vectors"},
       |              {"transform": "add_source_tracking", "source_db": "qdrant",
       |               "timestamp": "2024-01-01T00:00:00Z"}],
       | "target": {"type": "pinecone", "connection": {"url": "$dstUrl"},
       |            "load": {"collection": "items::bench", "recreate": true,
       |                     "parallelism": ${ctx.cpus}}}}""".stripMargin)

  def cycle(): Cycle = {
    freshTarget()
    val t = ctx.tracer
    if (!t.active) {
      val cfg = config(src.url, dst.url)
      val m = migrate("wire_migrate", cfg)(checkReport(_, n))._2
      return Cycle(Seq("wire_migrate" -> m, "wire_validate" -> validate("wire_validate", cfg, n)),
        Set("wire_migrate"), n)
    }
    val srcRelay = new ByteRelay(src.boundPort)
    val dstRelay = new ByteRelay(dst.boundPort)
    val seen = src.requestLines.size
    val (up0, sc0) = (dstStore.upsertNs.get(), srcStore.scrollNs.get())
    dst.resetInflight()
    val cfg = config(s"http://127.0.0.1:${srcRelay.port}", s"http://127.0.0.1:${dstRelay.port}")
    val (m, inflight, lines, upNs, scNs) =
      try {
        val m = migrate("wire_migrate", cfg)(checkReport(_, n))._2
        // counts of the migration alone, before validation reads the target
        (m, dst.maxInflight, src.requestLines.drop(seen) ++ dst.requestLines,
          dstStore.upsertNs.get() - up0, srcStore.scrollNs.get() - sc0)
      } catch { case e: Throwable => srcRelay.stop(); dstRelay.stop(); throw e }
    val v = try validate("wire_validate", cfg, n) finally { srcRelay.stop(); dstRelay.stop() }
    val upserts = lines.count(_.startsWith("POST /vectors/upsert"))
    val scrolls = lines.count(_.contains("/points/scroll"))
    Seq("vs.requests_scroll" -> scrolls.toDouble,
      "vs.requests_upsert" -> upserts.toDouble,
      "vs.requests_other" -> (lines.size - upserts - scrolls).toDouble,
      "vs.records_per_upsert" -> (if (upserts == 0) 0.0 else n.toDouble / upserts),
      "vs.server_max_inflight" -> inflight.toDouble,
      "vs.store_upsert_s" -> upNs / 1e9,
      "vs.store_scroll_s" -> scNs / 1e9,
      "wire.bytes_out_per_row" -> (srcRelay.bytesOut.get() + dstRelay.bytesOut.get()).toDouble / n,
      "wire.bytes_in_per_row" -> (srcRelay.bytesIn.get() + dstRelay.bytesIn.get()).toDouble / n)
      .foreach { case (k, x) => t.count(k, x) }
    Cycle(Seq("wire_migrate" -> m, "wire_validate" -> v), Set("wire_migrate"), n)
  }

  def probes(): Map[String, Double] = {
    val t = ctx.tracer
    val srcConn = Map("url" -> src.url)
    def read() = ConnectorRegistry("qdrant").read(spark, srcConn, QuerySpec(collection = "items"))
    val scan = timed(t.span("vs.scan")(noop(read())))
    val canonical = graft.core.TransformPipeline.compose(config(src.url, "").pipeline).get(read())
      .repartition(ctx.cpus).cache()
    noop(canonical)
    freshTarget()
    val write = timed(t.span("vs.write")(ConnectorRegistry("pinecone").write(canonical,
      Map("url" -> dst.url), LoadSpec(collection = "items::bench", recreate = true,
        dimension = Some(Workloads.Dim)))))
    canonical.unpersist(blocking = true)
    Map("vs.scan_s" -> scan, "vs.write_s" -> write)
  }
}

/** Parquet -> live PostgreSQL over the repository's pgwire client, binary
  * COPY, then validated by reading the table back through the same face. */
final class PgLoad(val ctx: Ctx, n: Int) extends Workload {
  @volatile private var pg: graft.connectors.pgwire.PgTestServer.Running = _
  private var stopOnExit = false
  private val srcDir = ctx.path("pg_src")

  def setup(): Map[String, Double] = {
    val gen = timed {
      val recs = Gen.vectors(n, Workloads.Dim, ctx.seed)
      val schema = StructType(Seq(StructField("id", LongType), StructField("embedding",
        ArrayType(FloatType, containsNull = false))) ++
        Seq("category", "source", "rank", "title").map(StructField(_, StringType)))
      val rows = recs.toSeq.map(r => Row(r.id.toLong, r.vector.toSeq, r.metadata("category"),
        r.metadata("source"), r.metadata("rank"), r.metadata("title")))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cpus), schema)
        .write.mode("overwrite").parquet(s"$srcDir/items.parquet")
    }
    val boot = timed {
      pg = graft.connectors.pgwire.PgTestServer.start().getOrElse(
        throw new CheckFailed("PostgreSQL could not start (initdb/pg_ctl as user postgres)"))
    }
    // the server is a separate process: stop it even when the run is killed
    if (!stopOnExit) { sys.addShutdownHook(teardown()); stopOnExit = true }
    Map("generate_s" -> gen, "backend_boot_s" -> boot, "load_s" -> 0.0)
  }

  def teardown(): Unit = synchronized { Option(pg).foreach(_.stop()); pg = null }

  private def conn(port: Int): Map[String, String] = Map("host" -> "127.0.0.1",
    "port" -> port.toString, "protocol" -> "wire", "database" -> "postgres",
    "user" -> "postgres", "query_protocol" -> "extended", "data_format" -> "binary")

  private def config(port: Int): MigrationConfig = {
    val c = conn(port).map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")
    MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "$srcDir"},
         |            "query": {"table_name": "items", "id_column": "id",
         |                      "vector_column": "embedding",
         |                      "metadata_columns": ["category", "source", "rank", "title"]}},
         | "target": {"type": "pgvector", "connection": {$c},
         |            "load": {"collection": "items", "recreate": true}}}""".stripMargin)
  }

  def cycle(): Cycle = {
    val t = ctx.tracer
    if (!t.active) {
      val cfg = config(pg.port)
      val m = migrate("pg_migrate", cfg)(checkReport(_, n))._2
      return Cycle(Seq("pg_migrate" -> m, "pg_validate" -> validate("pg_validate", cfg, n)),
        Set("pg_migrate"), n)
    }
    val server = new PgProbe(pg.port, new File(pg.root, "data"))
    val relay = new ByteRelay(pg.port)
    val cfg = config(relay.port)
    val cpu0 = server.cpuSeconds()
    val (ins0, xact0) = server.dbStats()
    val (m, v, cpu) = try {
      val m = migrate("pg_migrate", cfg)(checkReport(_, n))._2
      val cpu = server.cpuSeconds() - cpu0
      (m, validate("pg_validate", cfg, n), cpu)
    } finally relay.stop()
    Thread.sleep(1100) // backends flush their statistics at most once a second
    val (ins1, xact1) = server.dbStats()
    Seq("pgwire.bytes_out_per_row" -> relay.bytesOut.get().toDouble / n,
      "pgwire.bytes_in_per_row" -> relay.bytesIn.get().toDouble / n,
      "pg.server_cpu_s" -> cpu,
      "pg.tup_inserted" -> (ins1 - ins0), "pg.xact_commit" -> (xact1 - xact0))
      .foreach { case (k, x) => t.count(k, x) }
    Cycle(Seq("pg_migrate" -> m, "pg_validate" -> v), Set("pg_migrate"), n)
  }

  def probes(): Map[String, Double] = {
    val t = ctx.tracer
    val cfg = config(pg.port)
    val canonical = ConnectorRegistry("parquet").read(spark, cfg.source.connection,
      cfg.source.query.get).cache()
    noop(canonical)
    val load = cfg.target.load.get
    val write = timed(t.span("pg.write")(
      ConnectorRegistry("pgvector").write(canonical, conn(pg.port), load)))
    canonical.unpersist(blocking = true)
    val read = timed(t.span("pg.read")(
      noop(ConnectorRegistry("pgvector").readBack(spark, conn(pg.port), load))))
    Map("pg.write_s" -> write, "pg.read_s" -> read)
  }
}

/** Corpus curation: a quality report, near-duplicate removal and the
  * corpus-prep recipe as a config pipeline, each written to parquet. */
final class CorpusCurate(val ctx: Ctx, n: Int) extends Workload {
  import graft.ops.{Dedup, TextAnalysis, Transforms}
  private val docsDir = ctx.path("corpus")
  private val outDir = ctx.path("curated")
  private val evalPath = new File(ctx.root, "examples/data/benchmark_eval.parquet").getAbsolutePath
  private val evalVecPath =
    new File(ctx.root, "examples/data/benchmark_eval_vectors.parquet").getAbsolutePath
  private var corpus: Gen.Corpus = _
  /** ~100 Spark jobs per cycle: the second cycle is still ~20% slower. */
  override def warmupCycles: Int = 2
  /** Latency-bound (many small Spark jobs), so one cycle alone varies by
    * ~25% between runs; the median of two damps that. */
  override def minTimedCycles: Int = 2
  private val digests = scala.collection.mutable.Map.empty[String, Long]
  val MinWords = 20
  val MaxWords = 120

  private def docs: DataFrame = spark.read.parquet(s"$docsDir/documents.parquet")

  def setup(): Map[String, Double] = {
    val gen = timed {
      val evalTexts = spark.read.parquet(evalPath).select("text").collect().map(_.getString(0))
      corpus = Gen.corpus(n, MinWords, MaxWords, ctx.seed, evalTexts.toSeq)
      val s = spark
      import s.implicits._
      corpus.docs.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
        .repartition(ctx.cpus).write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
    }
    Map("generate_s" -> gen, "backend_boot_s" -> 0.0, "load_s" -> 0.0)
  }

  def teardown(): Unit = ()

  private val prepSteps =
    s"""[{"transform": "quality_gate", "min_score": 0.35},
       | {"transform": "exact_dedup"},
       | {"transform": "decontaminate", "eval_path": "$evalPath", "ngram": 8},
       | {"transform": "chunk_embed", "width": 64, "stride": 48, "dim": 64},
       | {"transform": "semantic_decontaminate", "eval_path": "$evalVecPath",
       |  "threshold": 0.95},
       | {"transform": "assign_split", "train": 0.9, "val": 0.05, "test": 0.05},
       | {"transform": "cluster_by_similarity", "bits": 8}]""".stripMargin

  private def prepConfig: MigrationConfig = MigrationConfig.fromJson(
    s"""{"source": {"type": "parquet", "connection": {"path": "$docsDir"},
       |            "query": {"table_name": "documents", "id_column": "doc_id",
       |                      "metadata_columns": ["text", "source"]}},
       | "pipeline": $prepSteps,
       | "target": {"type": "parquet", "connection": {"path": "$outDir"},
       |            "load": {"collection": "prep", "recreate": true}}}""".stripMargin)

  /** Order-independent digest of a written output; it must not change
    * between cycles of the same seed. */
  private def digest(name: String, path: String): Unit = {
    val d = spark.read.parquet(path)
    val cols = d.schema.fields.sortBy(_.name).map(f => f.dataType match {
      case _: MapType => to_json(array_sort(map_entries(col(f.name))))
      case _ => col(f.name)
    })
    val h = d.select(sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")))
      .head().getDecimal(0).longValue()
    digests.get(name) match {
      case Some(prev) => ctx.check(prev == h, s"$name output digest changed between cycles")
      case None => digests(name) = h
    }
  }

  private def longs(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  def cycle(): Cycle = {
    val all = corpus.docs.map(_.id).toSet
    def diff(what: String, got: Set[Long], want: Set[Long]) =
      ctx.check(got == want, s"$what: ${got.size} ids, expected ${want.size} " +
        s"(missing ${(want -- got).size}, extra ${(got -- want).size})")
    val qPath = s"$outDir/quality.parquet"
    val q = ctx.job("quality") {
      val d = docs
      TextAnalysis.documentStats(d)
        .join(TextAnalysis.qualityFilter(d, 0.35), "doc_id")
        .join(TextAnalysis.repetitionStats(d), "doc_id")
        .write.mode("overwrite").parquet(qPath)
    } { _ =>
      val r = spark.read.parquet(qPath)
      diff("quality report", longs(r.select("doc_id")), all)
      diff("quality gate drops", longs(r.filter(!col("keep")).select("doc_id")),
        corpus.junk.toSet)
      diff("repetitive docs", longs(r.filter(col("dup_bigram_ratio") >= 0.5).select("doc_id")),
        corpus.spam.toSet)
      digest("quality", qPath)
    }._2
    val dPath = s"$outDir/near_dedup.parquet"
    val nd = ctx.job("near_dedup") {
      Dedup.fuzzyDedupPipeline(docs, threshold = 0.5).write.mode("overwrite").parquet(dPath)
    } { _ =>
      diff("near-dedup survivors", longs(spark.read.parquet(dPath).select("doc_id")),
        all -- corpus.exactCopies -- corpus.nearCopies)
      digest("near_dedup", dPath)
    }._2
    val pPath = s"$outDir/prep.parquet"
    var rows = 0L
    val p = migrate("prep", prepConfig) { r =>
      ctx.check(r.success, s"prep failed: ${r.error.getOrElse("?")}")
      rows = r.written
      diff("prep survivors", longs(spark.read.parquet(pPath)
        .select(element_at(col(Canonical.METADATA), "parent_id").cast("long")).distinct()),
        all -- corpus.junk -- corpus.exactCopiesByStringId -- corpus.contaminated)
      digest("prep", pPath)
    }._2
    Cycle(Seq("quality" -> q, "near_dedup" -> nd, "prep" -> p), Set("prep"), rows)
  }

  def probes(): Map[String, Double] = {
    val t = ctx.tracer
    def probe(name: String)(df: => DataFrame): Double = timed(t.span(name)(noop(df)))
    val d = docs.cache()
    noop(d)
    val canon = ConnectorRegistry("parquet").read(spark, prepConfig.source.connection,
      prepConfig.source.query.get).cache()
    noop(canon)
    val quality = probe("ops.quality")(TextAnalysis.documentStats(d)) +
      probe("ops.quality")(TextAnalysis.qualityFilter(d, 0.35))
    val repetition = probe("ops.repetition")(TextAnalysis.repetitionStats(d))
    val ngrams = probe("fn.word_ngrams")(d.select(
      graft.functions.TextFunctions.wordNgrams(col("text"), 2),
      graft.functions.TextFunctions.wordNgrams(col("text"), 5)))
    val exact = probe("ops.exact_dedup")(Dedup.exactDuplicates(d))
    val sig = probe("fn.minhash_sig")(Dedup.withMinHashSignature(d))
    var pairs: Array[Row] = null
    val pairsS = timed(t.span("ops.minhash_pairs") {
      pairs = Dedup.minHashDuplicatePairs(d, threshold = 0.5).collect()
    })
    val candidates = Dedup.minHashDuplicatePairs(d, threshold = 0.0).collect().length
    // every verified pair is at or above the threshold and is a planted
    // duplicate (exact copies or a near-duplicate pair)
    val planted = (corpus.exactGroups ++ corpus.nearGroups).map(_.toSet)
    pairs.foreach { r =>
      val (a, b, j) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))
      ctx.check(j >= 0.5, s"verified pair ($a, $b) has Jaccard $j < 0.5")
      ctx.check(planted.exists(g => g(a) && g(b)), s"verified pair ($a, $b) was not planted")
    }
    val s = spark
    import s.implicits._
    val pairDf = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq
      .toDF("id_a", "id_b")
    val components = probe("ops.components")(Dedup.connectedComponents(pairDf))
    val chunkS = probe("ops.chunk_embed")(Transforms.chunkAndEmbed(64, 48, 64)(canon))
    val decon = probe("ops.decontaminate")(Transforms.decontaminate(evalPath)(canon))
    val chunks = Transforms.chunkAndEmbed(64, 48, 64)(canon).cache()
    noop(chunks)
    val cluster = probe("ops.cluster")(graft.ops.Layout.clusterBySimilarity(chunks, bits = 8))
    Seq(d, canon, chunks).foreach(_.unpersist(blocking = true))
    Map("ops.quality_s" -> quality, "ops.repetition_s" -> repetition,
      "fn.word_ngrams_s" -> ngrams, "ops.exact_dedup_s" -> exact,
      "fn.minhash_sig_s" -> sig, "ops.minhash_pairs_s" -> pairsS,
      "ops.components_s" -> components, "ops.candidate_pairs" -> candidates.toDouble,
      "ops.verified_pairs" -> pairs.length.toDouble,
      "ops.pair_yield" -> (if (candidates == 0) 0.0 else pairs.length.toDouble / candidates),
      "ops.chunk_embed_s" -> chunkS, "ops.decontaminate_s" -> decon, "ops.cluster_s" -> cluster)
  }
}
